"""Round-3 pins: deterministic arithmetic hyperplanes and the Arrow ANN
candidate path, the one-shot ETL facade, crawl-delay-derived budgets
enforced end-to-end in a frontier wave."""

from __future__ import annotations

import json

from helpers import seeds_of
from pyspark.sql import functions as F

from judyst_web_crawler_spark import api as A
from judyst_web_crawler_spark.datagen import pages_df
from judyst_web_crawler_spark.functions.canonical import url_host
from judyst_web_crawler_spark.operators import similarity as S
from judyst_web_crawler_spark.operators.frontier import DOCS_TABLE, FrontierEngine
from judyst_web_crawler_spark.operators.politeness import (
    budget_from_crawl_delay,
    parse_robots_txt,
)
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

SF_DIR = "/root/testdata/sf0.001"


def test_arith_hyperplanes_deterministic_rationals():
    p1 = S.arith_hyperplanes(8, 3, 4)
    p2 = S.arith_hyperplanes(8, 3, 4)
    assert p1 == p2
    flat = [x for t in p1 for row in t for x in row]
    assert all(-1.0 <= x <= 1.0 for x in flat)
    # exact rationals k/1001 — reconstructible, so a SQL oracle can embed
    # the repr'd doubles and get bit-identical values
    assert all(abs(x * 1001.0 - round(x * 1001.0)) < 1e-9 for x in flat)
    # not degenerate: both signs present
    assert min(flat) < 0 < max(flat)


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


def test_update_database_from_source_backfills_only_missing(spark, tmp_path):
    db = A.CatalogSource("db", SnapshotCatalog(spark, str(tmp_path / "db")))
    src = A.CatalogSource("src", SnapshotCatalog(spark, str(tmp_path / "src")))
    ids = [f"D{i}" for i in range(12)]
    src.put_data_df(
        spark.createDataFrame([(i, f"T{i}") for i in ids], "doc_id string, title string"),
        A.DataType.DOCUMENT_HEADER,
    )
    # source texts for even ids; db pre-seeded with ids divisible by 3
    src.put_data_df(
        spark.createDataFrame(
            [(f"D{i}", f"S{i}") for i in range(0, 12, 2)], "doc_id string, text string"
        ),
        A.DataType.DOCUMENT_TEXT,
    )
    db.put_data_df(
        spark.createDataFrame(
            [(f"D{i}", f"D{i}") for i in range(0, 12, 3)], "doc_id string, text string"
        ),
        A.DataType.DOCUMENT_TEXT,
    )
    fetched = []

    def fetch(missing):
        rows = missing.collect()
        fetched.extend(r["doc_id"] for r in rows)
        return spark.createDataFrame(
            [(r["doc_id"], "F" + r["doc_id"][1:]) for r in rows],
            "doc_id string, text string",
        )

    stats = A.update_database_from_source(db, src, fetch_fn=fetch)
    assert stats["headers"] == 12
    # pre-seeded ids (0,3,6,9) are NOT backfilled; 8 remain
    assert stats["texts_backfilled"] == 8
    # the fetch leg saw exactly the odd non-%3 ids (no source text, no db text)
    assert sorted(fetched) == ["D1", "D11", "D5", "D7"]
    texts = db.get_all_data_dict(A.DataType.DOCUMENT_TEXT)
    for i in range(12):
        if i % 3 == 0:
            assert texts[f"D{i}"] == f"D{i}"  # pre-existing wins (never refetched)
        elif i % 2 == 0:
            assert texts[f"D{i}"] == f"S{i}"  # source text
        else:
            assert texts[f"D{i}"] == f"F{i}"  # fetched


def test_engine_wave_respects_crawl_delay_budget(spark, tmp_path):
    pages = pages_df(spark, n_rows=120, n_hosts=4, seed=7).cache()
    hosts = [r["h"] for r in pages.select(url_host("url").alias("h")).distinct().collect()]
    # first host: Crawl-delay 5s over a 10s wave → budget floor(10/5)=2;
    # the rest have no delay line → default budget 4
    delay_host = sorted(hosts)[0]
    robots = spark.createDataFrame(
        [
            (h, "User-agent: *\nCrawl-delay: 5\nDisallow:\n" if h == delay_host
             else "User-agent: *\nDisallow:\n")
            for h in hosts
        ],
        "host string, robots_txt string",
    )
    pol = budget_from_crawl_delay(
        parse_robots_txt(robots), wave_seconds=10.0, default_budget=4
    )
    budgets = {r["host"]: r["budget"] for r in pol.collect()}
    assert budgets[delay_host] == 2
    assert all(b == 4 for h, b in budgets.items() if h != delay_host)

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = FrontierEngine(spark, cat, politeness=pol)
    eng.bootstrap(seeds_of(pages))
    stats = eng.run_wave(pages, budget=4, n_salts=2)
    assert stats["scheduled"] > 0
    per_host = {
        r["host"]: r["n"]
        for r in cat.read(DOCS_TABLE).groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    for h, n in per_host.items():
        assert n <= budgets[h], (h, n, budgets[h])
    pages.unpersist()


def test_ann_candidates_arrow_matches_jvm(spark):
    """The Arrow bucket pass must select the IDENTICAL candidate set as
    the Column-fold path — same sequential mul/add order, bit-identical
    sign decisions (the parity ann_recall's oracle relies on)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = [((i * 37) % 101 - 50) / 50.0 for i in range(64)]
    planes = S.arith_hyperplanes(64, 16, 5)
    arrow = {r["vec_id"] for r in S.ann_candidates(emb, q, planes).collect()}
    jvm = {
        r["vec_id"]
        for r in S.ann_candidates(emb, q, planes, engine="jvm").collect()
    }
    assert arrow == jvm and arrow  # identical and non-vacuous
