"""Consumer API facade: the reference's WebCrawler/DataSource surface
(web_crawler.py:22-127, models/DatabaseWrapper.py:9-146) over the
snapshot catalog — registry semantics, typed get/put, JSON boundary
encoding of cons_selected_info, last-wins upserts."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from judyst_web_crawler_spark import api as A
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog


@pytest.fixture()
def source(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    headers = spark.createDataFrame(
        [
            (
                "УКРФ/РЕД-N1/СТ-1", "УКРФ", "УКРФ/СТ", "Статья 1. Основания",
                "01.01.2020", "f.htm#Par20", "02.01.2020", "УКРФ/РЕД-N1/СТ-1",
                "УКРФ/СТ-1", {"rd_doc_number": "111", "intext_label": "20"},
            ),
            (
                "УКРФ/РЕД-N1/СТ-2", "УКРФ", "УКРФ/СТ", "Статья 2. Части",
                "01.01.2020", "f.htm#Par30", "02.01.2020", "УКРФ/РЕД-N1/СТ-2",
                "УКРФ/СТ-2", {"rd_doc_number": "111", "intext_label": "30"},
            ),
        ],
        "doc_id string, supertype string, doc_type string, title string, "
        "release_date string, text_source_url string, effective_date string, "
        "absolute_path string, interredaction_id string, "
        "cons_selected_info map<string,string>",
    )
    texts = spark.createDataFrame(
        [("УКРФ/РЕД-N1/СТ-1", "Текст статьи 1."), ("УКРФ/РЕД-N1/СТ-2", "Текст статьи 2.")],
        "doc_id string, text string",
    )
    cat.overwrite(A.HEADERS_TABLE, headers)
    cat.overwrite(A.TEXTS_TABLE, texts)
    return A.CatalogSource("CatalogSource", cat)


def test_datasource_validation_and_identity():
    with pytest.raises(TypeError):
        A.DataSource(3, A.DataSourceType.DATABASE)
    with pytest.raises(ValueError):
        A.DataSource("", A.DataSourceType.DATABASE)
    with pytest.raises(TypeError):
        A.DataSource("x", 0)
    a = A.DataSource("x", A.DataSourceType.DATABASE)
    b = A.DataSource("x", A.DataSourceType.WEB_SOURCE)
    assert a == b  # equality is by name (web_crawler.py:65-68)
    assert hash(a) != hash(b)  # hash includes the type (:73-75)


def test_get_data_header_and_text(source):
    h = source.get_data("УКРФ/РЕД-N1/СТ-1", A.DataType.DOCUMENT_HEADER)
    assert h["title"] == "Статья 1. Основания"
    assert set(h) == set(A.DOCUMENT_FIELDS)
    # cons_selected_info is JSON at the boundary (DatabaseWrapper.py:39-41)
    assert json.loads(h["cons_selected_info"])["intext_label"] == "20"
    assert source.get_data("УКРФ/РЕД-N1/СТ-1", A.DataType.DOCUMENT_TEXT) == "Текст статьи 1."
    assert source.get_data("нет такого", A.DataType.DOCUMENT_HEADER) is None
    assert source.get_data("нет такого", A.DataType.DOCUMENT_TEXT) is None
    with pytest.raises(ValueError):
        source.get_data("x", A.DataType.ANALYZIS_RESULT)


def test_get_all_data_dataframe_and_dict(source):
    df = source.get_all_data(A.DataType.DOCUMENT_HEADER)
    assert df.count() == 2
    assert df.schema["cons_selected_info"].dataType.typeName() == "string"
    d = source.get_all_data_dict(A.DataType.DOCUMENT_TEXT)
    assert d == {
        "УКРФ/РЕД-N1/СТ-1": "Текст статьи 1.",
        "УКРФ/РЕД-N1/СТ-2": "Текст статьи 2.",
    }


def test_put_data_upserts_last_wins(source):
    source.put_data("УКРФ/РЕД-N1/СТ-1", "Новый текст.", A.DataType.DOCUMENT_TEXT)
    assert source.get_data("УКРФ/РЕД-N1/СТ-1", A.DataType.DOCUMENT_TEXT) == "Новый текст."
    # other rows untouched
    assert source.get_data("УКРФ/РЕД-N1/СТ-2", A.DataType.DOCUMENT_TEXT) == "Текст статьи 2."


def test_put_link_encodes_positions(source, spark):
    source.put_data(
        "",
        {
            "doc_id_from": "A", "doc_id_to": "B",
            "positions_list": [{"start": 1}, {"start": 9}],
        },
        A.DataType.LINK,
    )
    links = source.get_all_data(A.DataType.LINK).collect()
    assert len(links) == 1
    r = links[0]
    # citations_number = len(positions_list), positions JSON-encoded
    # (DatabaseWrapper.py:33-37)
    assert r["citations_number"] == 2
    assert json.loads(r["positions_list"][0]) == {"start": 1}


def test_put_header_partial_dict_and_typed_table(source):
    """Reference surface contract: partial header dicts (optional fields
    None) must upsert cleanly, and the write path must match the TABLE's
    cons_selected_info representation (typed map here, like engine-written
    tables) — not force a JSON string into it (round-2 review findings)."""
    source.put_data(
        "УКРФ/РЕД-N1/СТ-3",
        {
            "supertype": "УКРФ", "doc_type": "УКРФ/СТ",
            "title": "Статья 3. Новая",
            # release_date / effective_date / interredaction_id omitted → None
            "cons_selected_info": {"rd_doc_number": "112"},
        },
        A.DataType.DOCUMENT_HEADER,
    )
    h = source.get_data("УКРФ/РЕД-N1/СТ-3", A.DataType.DOCUMENT_HEADER)
    assert h["title"] == "Статья 3. Новая"
    assert h["effective_date"] is None
    assert json.loads(h["cons_selected_info"])["rd_doc_number"] == "112"
    # existing rows survived the merge
    assert source.get_data("УКРФ/РЕД-N1/СТ-1", A.DataType.DOCUMENT_HEADER) is not None


def test_put_link_with_none_positions(source):
    source.put_data(
        "", {"doc_id_from": "C", "doc_id_to": "D", "positions_list": None},
        A.DataType.LINK,
    )
    rows = source.get_all_data(A.DataType.LINK).collect()
    assert {(r["doc_id_from"], r["doc_id_to"]) for r in rows} == {("C", "D")}


def test_registry_prepare_and_lookup(source):
    class Failing(A.DataSource):
        def __init__(self):
            super().__init__("Broken", A.DataSourceType.WEB_SOURCE)

        def prepare(self):
            return False

    class NeedsDb(A.DataSource):
        def __init__(self):
            super().__init__("NeedsDb", A.DataSourceType.WEB_SOURCE)
            self.db = None

        def set_database(self, db):
            self.db = db

        def prepare(self):
            return self.db is not None

    needs = NeedsDb()
    crawler = A.WebCrawler([source, Failing(), needs])
    crawler.prepare_sources(database_source=source)
    assert crawler.get_data_source("CatalogSource") is source
    assert crawler.get_data_source("Broken") is None  # prepare() False
    assert crawler.get_data_source("NeedsDb") is needs and needs.db is source
    with pytest.raises(ValueError):
        A.WebCrawler([source, A.CatalogSource("CatalogSource", source.catalog)])
    with pytest.raises(TypeError):
        A.WebCrawler([object()])


def test_init_bootstrap(spark, tmp_path, source):
    crawler = A.init(spark, str(tmp_path / "cat2"))
    ds = crawler.get_data_source("CatalogSource")
    assert ds is not None
    # fresh catalog: put through the API then read back
    ds.put_data("D1", "текст", A.DataType.DOCUMENT_TEXT)
    assert ds.get_data("D1", A.DataType.DOCUMENT_TEXT) == "текст"


def test_fill_data_source_rejects_uri_directory(spark, tmp_path):
    """A directory handed as a file: URI must hit the single-file guard —
    os.path.isdir can't see through URIs, Hadoop's FileSystem can."""
    d = tmp_path / "headers_dir"
    d.mkdir()
    (d / "part1.jsonl").write_text('{"uid": "1-П/2020", "columns": {}}\n')
    crawler = A.init(spark, str(tmp_path / "db"))
    target = crawler.get_data_source("CatalogSource")
    with pytest.raises(ValueError, match="SINGLE"):
        A.fill_data_source_from_file(
            spark, "file://" + str(d), target, A.DataType.DOCUMENT_HEADER
        )
