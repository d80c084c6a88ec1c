"""S6/S7/S9/P8 JSON header protocols: single-object file, jsonlines,
'not unique' filter (also through the ETL facade's file intake), link
records with derived citations_number."""

from __future__ import annotations

import json

from judyst_web_crawler_spark import api as A
from judyst_web_crawler_spark.sources import jsonio
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

HEADERS = {
    "КСРФ/2483-О/2018": {
        "supertype": "КСРФ",
        "doc_type": "КСРФ/О",
        "title": "Определение № 2483-О",
        "release_date": "13.11.2018",
        "text_source_url": "http://doc.ksrf.ru/decision/KSRFDecision2483.pdf",
        "cons_selected_info": {"rd_doc_number": "1", "attached_titles": ["a", "b"]},
    },
    "КСРФ/33-П/2018": {
        "supertype": "КСРФ",
        "title": "Постановление № 33-П",
        "release_date": "01.02.2018",
        "not unique": True,
    },
}


def test_headers_object_roundtrip(spark, tmp_path):
    p = tmp_path / "DecisionHeaders.json"
    p.write_text(json.dumps(HEADERS, ensure_ascii=False), encoding="utf-8")
    df = jsonio.read_headers_object(spark, str(p))
    rows = {r["doc_id"]: r for r in df.collect()}
    assert set(rows) == set(HEADERS)
    assert rows["КСРФ/2483-О/2018"]["title"] == "Определение № 2483-О"
    # nested dict JSON-stringified like DatabaseWrapper.py:39-41
    nested = json.loads(rows["КСРФ/2483-О/2018"]["cons_selected_info"])
    assert nested["attached_titles"] == ["a", "b"]
    # missing fields are NULL (KSRF headers carry 5 of 9 fields)
    assert rows["КСРФ/33-П/2018"]["doc_type"] is None
    # P8 duplicate-marker filter
    kept = jsonio.filter_unique_headers(df).collect()
    assert [r["doc_id"] for r in kept] == ["КСРФ/2483-О/2018"]


def test_headers_jsonlines(spark, tmp_path):
    p = tmp_path / "headers.jsonl"
    lines = [json.dumps({k: v}, ensure_ascii=False) for k, v in HEADERS.items()]
    p.write_text("\n".join(lines), encoding="utf-8")
    df = jsonio.read_headers_jsonlines(spark, str(p))
    assert df.count() == 2
    assert {r["doc_id"] for r in df.collect()} == set(HEADERS)


def test_headers_jsonlines_sink_roundtrip(spark, tmp_path):
    p = tmp_path / "DecisionHeaders.json"
    p.write_text(json.dumps(HEADERS, ensure_ascii=False), encoding="utf-8")
    df = jsonio.read_headers_object(spark, str(p))
    out = tmp_path / "out"
    jsonio.write_headers_jsonlines(df, str(out))
    back = spark.read.json(str(out))
    assert back.count() == 2
    assert {r["doc_id"] for r in back.collect()} == set(HEADERS)


def test_links_jsonlines(spark, tmp_path):
    p = tmp_path / "links.jsonl"
    recs = [
        {"doc_id_from": "A", "doc_id_to": "B",
         "positions_list": ['{"p": 1}', '{"p": 2}', '{"p": 3}']},
        {"doc_id_from": "A", "doc_id_to": "C", "positions_list": []},
    ]
    p.write_text("\n".join(json.dumps(r) for r in recs), encoding="utf-8")
    df = jsonio.read_links_jsonlines(spark, str(p))
    got = {(r["doc_id_from"], r["doc_id_to"]): r["citations_number"] for r in df.collect()}
    # A2: citations_number always re-derived as len(positions_list)
    assert got == {("A", "B"): 3, ("A", "C"): 0}


def test_fill_data_source_from_file(spark, tmp_path):
    lines = [
        json.dumps({"D1": {"title": "t1", "supertype": "КСРФ"}}, ensure_ascii=False),
        json.dumps({"D2": {"title": "t2", "not unique": True}}, ensure_ascii=False),
        json.dumps({"D3": {"title": "t3"}}, ensure_ascii=False),
    ]
    f = tmp_path / "headers.jsonl"
    f.write_text("\n".join(lines), encoding="utf-8")
    db = A.CatalogSource("db", SnapshotCatalog(spark, str(tmp_path / "cat")))
    n = A.fill_data_source_from_file(spark, str(f), db)
    # the 'not unique' header is dropped (P8, ksrf.py:194)
    assert n == 2
    headers = db.get_all_data_dict(A.DataType.DOCUMENT_HEADER)
    assert set(headers) == {"D1", "D3"}
    assert headers["D1"]["title"] == "t1"
