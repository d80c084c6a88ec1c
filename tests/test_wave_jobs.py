"""A wave's fixed Spark jobs, and retirement when priorities tie.

One small politeness-bound crawl (module-scoped) serves both:

- the job count of a steady-state wave (seen and done tables exist, same
  engine) and of the empty final wave are pinned, one job group per
  wave. A selection chain evaluated twice, an inferring catalog read or
  a counter taken by an extra job shows up as a higher count;
- the fixture plants priority ties the documents and done commits must
  resolve the same way: two url variants of one canonical key with equal
  ``(depth, page_seq, intra_page_seq)``, and a host whose budget cuts
  through six equal-priority urls.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from judyst_web_crawler_spark.operators.frontier import (
    DOCS_TABLE,
    DONE_TABLE,
    FRONTIER_TABLE,
    FrontierEngine,
)
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

# the numbers this engine reaches on the fixture below
STEADY_WAVE_JOBS = 26
EMPTY_WAVE_JOBS = 2

A = "http://a.example.ru"
B = "http://b.example.ru"
TIED = [f"{A}/ru/a{i}.pdf" for i in range(6)]  # host a: budget 4
VARIANTS = [f"{B}/ru/x.pdf#one", f"{B}/ru/x.pdf#two"]  # one canonical key
DENIED = f"{B}/private/p.pdf"
MISSING = f"{B}/ru/missing.pdf"  # no pages row: a fetch miss
OTHERS = [f"{B}/ru/b{i}.pdf" for i in range(3)]
LATE = f"{B}/ru/b0.pdf#late"  # enqueued after wave 0: its key is seen


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory, jobs_of):
    fetchable = TIED + VARIANTS + [DENIED] + OTHERS + [LATE]
    pages = spark.createDataFrame(
        [(u, bytearray(f"<html><body><p>doc {u.split('#')[0]}</p></body></html>".encode())) for u in fetchable],
        "url string, html binary",
    ).cache()
    politeness = spark.createDataFrame(
        [("a.example.ru", 4, ["/ru/"], ["/private/"], None), ("b.example.ru", 10, ["/ru/"], ["/private/"], None)],
        "host string, budget int, robots_allow array<string>, robots_deny array<string>, crawl_delay_s double",
    )
    seeds = spark.createDataFrame(
        [(u, 2, 1) for u in TIED + VARIANTS]
        + [(u, 3, i) for i, u in enumerate([DENIED, MISSING] + OTHERS)],
        "url string, page_seq int, intra_page_seq int",
    )
    cat = SnapshotCatalog(spark, str(tmp_path_factory.mktemp("wave_jobs") / "cat"))
    eng = FrontierEngine(spark, cat, politeness=politeness)
    eng.bootstrap(seeds)
    stats, jobs = [], []
    for w in range(3):
        if w == 1:
            eng.enqueue(spark.createDataFrame([(LATE, 0, 0)], "url string, page_seq int, intra_page_seq int"), depth=1)
        m, n = jobs_of(lambda: eng.run_wave(pages, budget=1))
        stats.append(m)
        jobs.append(n)
    yield cat, stats, jobs
    pages.unpersist()


def test_crawl_drains_in_two_waves(crawl):
    _cat, stats, _jobs = crawl
    assert [s["frontier_pending"] for s in stats] == [13, 3, 0]
    # wave 0: 4 of the 6 tied urls, one x variant, 3 others; wave 1: the
    # last 2 tied urls (the late variant retires as a seen dup)
    assert [s["scheduled"] for s in stats[:2]] == [8, 2]
    assert [s["dedup_hits"] for s in stats[:2]] == [1, 1]
    assert [s["robots_denied"] for s in stats[:2]] == [1, 0]
    assert [s["fetch_misses"] for s in stats[:2]] == [1, 0]


def test_steady_wave_job_budget(crawl):
    _cat, _stats, jobs = crawl
    assert jobs[1] == STEADY_WAVE_JOBS


def test_empty_final_wave_job_budget(crawl):
    _cat, _stats, jobs = crawl
    assert jobs[2] == EMPTY_WAVE_JOBS


def test_every_url_retires_once_under_ties(crawl):
    cat, stats, _jobs = crawl
    frontier = {r["url"] for r in cat.read(FRONTIER_TABLE).select("url").collect()}
    done = [(r["url"], r["retire_status"]) for r in cat.read(DONE_TABLE).collect()]
    urls = [u for u, _s in done]
    assert len(urls) == len(set(urls)) == len(frontier)
    assert set(urls) == frontier
    by_status = {}
    for _u, s in done:
        by_status[s] = by_status.get(s, 0) + 1
    assert by_status == {
        k: sum(st[c] for st in stats[:2])
        for k, c in [("scheduled", "scheduled"), ("dup", "dedup_hits"), ("robots_denied", "robots_denied"), ("fetch_miss", "fetch_misses")]
    }


def test_one_scheduled_url_per_key_and_documents_match(crawl):
    cat, _stats, _jobs = crawl
    scheduled = (
        cat.read(DONE_TABLE).filter(F.col("retire_status") == "scheduled")
        .join(cat.read(FRONTIER_TABLE).select("url", "key_hash"), on="url")
    )
    keys = [r["key_hash"] for r in scheduled.collect()]
    assert len(keys) == len(set(keys)) == len(TIED) + 1 + len(OTHERS)
    docs = [r["url"] for r in cat.read(DOCS_TABLE).select("url").collect()]
    assert sorted(docs) == sorted(r["url"] for r in scheduled.collect())
    assert len([u for u in docs if u in VARIANTS]) == 1
