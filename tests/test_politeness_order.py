"""Crawl-ordering parity + budget enforcement (SURVEY §5.3).

budget=1, single host, n_salts=1 → engine emission order must equal the
reference's sequential order (page_seq, intra_page_seq) (ksrf.py:107-110).
budget=k, multi-host → per-host order preserved, budget never exceeded,
salted budgets never exceed the per-host total, a budget smaller than
the salt count still reaches every url. Crawl-delay-derived budgets are
enforced end-to-end in a frontier wave.
"""

from __future__ import annotations

from helpers import seeds_of
from pyspark.sql import Window
from pyspark.sql import functions as F

from judyst_web_crawler_spark.datagen import pages_df
from judyst_web_crawler_spark.functions.canonical import url_host
from judyst_web_crawler_spark.operators.frontier import DOCS_TABLE, FrontierEngine
from judyst_web_crawler_spark.operators.politeness import (
    apply_robots,
    budget_from_crawl_delay,
    budget_topk,
    parse_robots_txt,
)
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog


def _frontier(spark, n_hosts=3, pages=4, per_page=5):
    rows = []
    for h in range(n_hosts):
        for p in range(2, 2 + pages):
            for i in range(per_page):
                rows.append(
                    (f"http://host{h}.ru/ru/d/p{p}i{i}.pdf", f"host{h}.ru", 0, p, i)
                )
    return spark.createDataFrame(
        rows, "url string, host string, depth int, page_seq int, intra_page_seq int"
    )


def test_single_host_budget1_reproduces_reference_order(spark):
    schema = "url string, host string, depth int, page_seq int, intra_page_seq int"
    rows = [
        (f"http://host0.ru/ru/d/p{p}i{i}.pdf", "host0.ru", 0, p, i)
        for p in range(2, 5)
        for i in range(3)
    ]
    reference_order = [r[0] for r in sorted(rows, key=lambda r: (r[3], r[4]))]
    emitted = []
    remaining = list(rows)
    # wave loop with the frontier re-materialized per wave (keeps each
    # Spark plan flat; the engine's real loop snapshots between waves too)
    while remaining:
        wave = budget_topk(spark.createDataFrame(remaining, schema), default_budget=1, n_salts=1)
        picked = wave.collect()
        assert len(picked) == 1
        emitted.append(picked[0]["url"])
        remaining = [r for r in remaining if r[0] != picked[0]["url"]]
    assert emitted == reference_order


def test_engine_budget1_single_host_reference_order(spark, tmp_path):
    """Full engine loop at budget=1 on one host: the documents table's
    wave numbers must reproduce the reference's sequential fetch order
    (ksrf.py:107-110,188-199) exactly."""
    pages = pages_df(spark, n_rows=7, n_hosts=1, seed=13).cache()
    w = Window.orderBy("url")
    seeds = (
        pages.select("url")
        .withColumn("_rn", F.row_number().over(w) - 1)
        .select(
            "url",
            (F.floor(F.col("_rn") / 3) + 2).cast("int").alias("page_seq"),
            F.pmod(F.col("_rn"), 3).cast("int").alias("intra_page_seq"),
        )
    )
    reference_order = [
        r["url"]
        for r in seeds.orderBy("page_seq", "intra_page_seq").collect()
    ]
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = FrontierEngine(spark, cat)
    eng.bootstrap(seeds)
    eng.run(pages, budget=1, n_salts=1, max_waves=20)
    docs = cat.read(DOCS_TABLE).orderBy("wave").collect()
    assert [r["url"] for r in docs] == reference_order
    # one fetch per wave — the politeness cadence of the sequential loop
    assert [r["wave"] for r in docs] == list(range(len(reference_order)))
    pages.unpersist()


def test_multi_host_budget_k(spark):
    fr = _frontier(spark, n_hosts=3)
    wave = budget_topk(fr, default_budget=3, n_salts=1)
    got = wave.groupBy("host").count().collect()
    assert all(r["count"] <= 3 for r in got)
    # per-host picks are the best-priority 3
    for r in wave.collect():
        assert r["page_seq"] == 2 and r["intra_page_seq"] < 3


def test_salted_budget_never_exceeds_total(spark):
    fr = _frontier(spark, n_hosts=3, pages=6, per_page=10)
    for n_salts in (2, 4, 8):
        wave = budget_topk(fr, default_budget=5, n_salts=n_salts)
        counts = wave.groupBy("host").count().collect()
        assert all(r["count"] <= 5 for r in counts), (n_salts, counts)
        # and per-host order within each salt shard is priority order
        per_host = wave.groupBy("host").agg(F.min("page_seq").alias("m")).collect()
        assert all(r["m"] == 2 for r in per_host)


def test_robots_filter(spark):
    fr = spark.createDataFrame(
        [
            ("http://h0.ru/ru/x.pdf", "h0.ru", 0, 2, 0),
            ("http://h0.ru/private/y.pdf", "h0.ru", 0, 2, 1),
            ("http://h0.ru/en/z.pdf", "h0.ru", 0, 2, 2),
            ("http://h9.ru/anything.pdf", "h9.ru", 0, 2, 3),  # host not in table
        ],
        "url string, host string, depth int, page_seq int, intra_page_seq int",
    )
    pol = spark.createDataFrame(
        [("h0.ru", 2, ["/ru/"], ["/private/"], 1.0)],
        "host string, budget int, robots_allow array<string>, robots_deny array<string>, crawl_delay_s double",
    )
    got = {r["url"] for r in apply_robots(fr, pol).collect()}
    assert got == {"http://h0.ru/ru/x.pdf", "http://h9.ru/anything.pdf"}


def test_salted_budget_smaller_than_salts_never_starves(spark):
    """budget < n_salts: every URL must still be reachable across waves
    (the old split gave high salts share 0 forever)."""
    rows = [
        (f"http://h0.ru/d{i}.pdf", "h0.ru", 0, 2, i) for i in range(12)
    ]
    schema = "url string, host string, depth int, page_seq int, intra_page_seq int"
    remaining = list(rows)
    emitted = set()
    for _ in range(30):
        if not remaining:
            break
        wave = budget_topk(
            spark.createDataFrame(remaining, schema), default_budget=2, n_salts=4
        ).collect()
        assert 1 <= len(wave) <= 2  # budget respected, progress guaranteed
        for r in wave:
            emitted.add(r["url"])
        remaining = [r for r in remaining if r[0] not in {w["url"] for w in wave}]
    assert emitted == {r[0] for r in rows}


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
