"""A wave's fixed Spark jobs, and retirement when priorities tie.

One small politeness-bound crawl (module-scoped) serves most tests:

- the job count of the first wave, of a steady-state wave (seen and
  done tables exist, same engine) and of the empty final wave are
  pinned, one job group per wave. A selection plan evaluated twice, an
  inferring catalog read or a counter taken by an extra job shows up as
  a higher count;
- the steady wave is run a second time by a fresh engine on a copy of
  the catalog taken before it (a restart): it launches no more jobs than
  the same-engine wave, so a restart costs no repair, reconcile or
  wave-id scan;
- the fixture plants priority ties the documents and done commits must
  resolve the same way: two url variants of one canonical key with equal
  ``(depth, page_seq, intra_page_seq)``, and a host whose budget cuts
  through six equal-priority urls;
- the wave's seen-filter counters are checked against a Bloom and a
  membership test rebuilt from outside, and the fate plan's shape (one
  Python stage, an ``ExistenceJoin``, one exchange per window key) is
  pinned on the fixture's catalog.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from judyst_web_crawler_spark.operators.frontier import (
    BLOOM_BITS,
    BLOOM_K,
    DOCS_TABLE,
    DONE_TABLE,
    FRONTIER_TABLE,
    SEEN_TABLE,
    FrontierEngine,
)
from judyst_web_crawler_spark.operators.seen import bloom_might_contain_udf, build_bloom
from judyst_web_crawler_spark.plans.inspect import python_eval_ops, simple_plan
from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

# the numbers this engine reaches on the fixture below
FIRST_WAVE_JOBS = 12
STEADY_WAVE_JOBS = 12
EMPTY_WAVE_JOBS = 0
RESTART_WAVE_JOBS = 12  # the steady wave, run by a fresh engine

A = "http://a.example.ru"
B = "http://b.example.ru"
TIED = [f"{A}/ru/a{i}.pdf" for i in range(6)]  # host a: budget 4
VARIANTS = [f"{B}/ru/x.pdf#one", f"{B}/ru/x.pdf#two"]  # one canonical key
DENIED = f"{B}/private/p.pdf"
MISSING = f"{B}/ru/missing.pdf"  # no pages row: a fetch miss
OTHERS = [f"{B}/ru/b{i}.pdf" for i in range(3)]
LATE = f"{B}/ru/b0.pdf#late"  # enqueued after wave 0: its key is seen


def _politeness(spark):
    return spark.createDataFrame(
        [("a.example.ru", 4, ["/ru/"], ["/private/"], None), ("b.example.ru", 10, ["/ru/"], ["/private/"], None)],
        "host string, budget int, robots_allow array<string>, robots_deny array<string>, crawl_delay_s double",
    )


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory, jobs_of):
    fetchable = TIED + VARIANTS + [DENIED] + OTHERS + [LATE]
    pages = spark.createDataFrame(
        [(u, bytearray(f"<html><body><p>doc {u.split('#')[0]}</p></body></html>".encode())) for u in fetchable],
        "url string, html binary",
    ).cache()
    politeness = _politeness(spark)
    seeds = spark.createDataFrame(
        [(u, 2, 1) for u in TIED + VARIANTS]
        + [(u, 3, i) for i, u in enumerate([DENIED, MISSING] + OTHERS)],
        "url string, page_seq int, intra_page_seq int",
    )
    base = tmp_path_factory.mktemp("wave_jobs")
    cat = SnapshotCatalog(spark, str(base / "cat"))
    eng = FrontierEngine(spark, cat, politeness=politeness)
    eng.bootstrap(seeds)
    stats, jobs = [], []
    for w in range(3):
        if w == 1:
            eng.enqueue(spark.createDataFrame([(LATE, 0, 0)], "url string, page_seq int, intra_page_seq int"), depth=1)
            shutil.copytree(cat.root, base / "restart")
        m, n = jobs_of(lambda: eng.run_wave(pages, budget=1))
        stats.append(m)
        jobs.append(n)
    # the restart: construction (the Bloom rebuild) outside the job group
    fresh = FrontierEngine(spark, SnapshotCatalog(spark, str(base / "restart")), politeness=politeness)
    restart = jobs_of(lambda: fresh.run_wave(pages, budget=1))
    yield cat, stats, jobs, restart
    pages.unpersist()


def test_crawl_drains_in_two_waves(crawl):
    _cat, stats, _jobs, _restart = crawl
    assert [s["frontier_pending"] for s in stats] == [13, 3, 0]
    # wave 0: 4 of the 6 tied urls, one x variant, 3 others; wave 1: the
    # last 2 tied urls (the late variant retires as a seen dup)
    assert [s["scheduled"] for s in stats[:2]] == [8, 2]
    assert [s["dedup_hits"] for s in stats[:2]] == [1, 1]
    assert [s["robots_denied"] for s in stats[:2]] == [1, 0]
    assert [s["fetch_misses"] for s in stats[:2]] == [1, 0]


def test_first_wave_job_budget(crawl):
    _cat, _stats, jobs, _restart = crawl
    assert jobs[0] == FIRST_WAVE_JOBS


def test_steady_wave_job_budget(crawl):
    _cat, _stats, jobs, _restart = crawl
    assert jobs[1] == STEADY_WAVE_JOBS


def test_empty_final_wave_job_budget(crawl):
    _cat, _stats, jobs, _restart = crawl
    assert jobs[2] == EMPTY_WAVE_JOBS


def test_restart_wave_job_budget(crawl):
    _cat, stats, jobs, (m, n) = crawl
    assert n == RESTART_WAVE_JOBS <= STEADY_WAVE_JOBS == jobs[1]
    keys = ("wave", "frontier_pending", "scheduled", "dedup_hits", "robots_denied", "fetch_misses", "retired")
    assert {k: m[k] for k in keys} == {k: stats[1][k] for k in keys}


def test_every_url_retires_once_under_ties(crawl):
    cat, stats, _jobs, _restart = crawl
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
    cat, _stats, _jobs, _restart = crawl
    scheduled = (
        cat.read(DONE_TABLE).filter(F.col("retire_status") == "scheduled")
        .join(cat.read(FRONTIER_TABLE).select("url", "key_hash"), on="url")
    )
    keys = [r["key_hash"] for r in scheduled.collect()]
    assert len(keys) == len(set(keys)) == len(TIED) + 1 + len(OTHERS)
    docs = [r["url"] for r in cat.read(DOCS_TABLE).select("url").collect()]
    assert sorted(docs) == sorted(r["url"] for r in scheduled.collect())
    assert len([u for u in docs if u in VARIANTS]) == 1


def test_seen_counters_match_outside_replay(spark, crawl):
    """``seen_maybe``/``seen_exact_hits`` equal a Bloom built from
    outside over the keys seen before the wave, and an exact membership
    check, over the wave's pending urls."""
    cat, stats, _jobs, _restart = crawl
    frontier = cat.read(FRONTIER_TABLE).select("url", "key_hash", "depth").collect()
    done = cat.read(DONE_TABLE).select("url", "wave").collect()
    seen = cat.read(SEEN_TABLE).select("key_hash", "first_seen_wave").collect()
    for w in (0, 1):
        retired = {r["url"] for r in done if r["wave"] < w}
        # the depth-1 url was enqueued after wave 0
        pending = {r["url"]: r["key_hash"] for r in frontier if r["depth"] <= w and r["url"] not in retired}
        before = {r["key_hash"] for r in seen if r["first_seen_wave"] < w}
        maybe = 0
        if before:
            keys = spark.createDataFrame([(k,) for k in before], "key_hash long")
            bc = spark.sparkContext.broadcast(build_bloom(keys, "key_hash", BLOOM_BITS, BLOOM_K))
            probe = bloom_might_contain_udf(bc, BLOOM_BITS, BLOOM_K)
            cands = spark.createDataFrame([(k,) for k in pending.values()], "key_hash long")
            maybe = cands.filter(probe(F.col("key_hash"))).count()
            bc.unpersist()
        exact = sum(k in before for k in pending.values())
        assert (stats[w]["seen_maybe"], stats[w]["seen_exact_hits"]) == (maybe, exact), w
    assert stats[1]["seen_exact_hits"] == 1  # the late variant of b0


def test_fate_plan_shape(spark, crawl, tmp_path):
    """The fate is one linear plan: with a seen table the Bloom probe is
    its only Python stage (a flag, not branches that re-run it) and the
    seen check a correlated ``ExistenceJoin``; one hash exchange on
    key_hash serves both rank windows and one on host the budget window.
    The fixture's frontier has two dirs (bootstrap + enqueue)."""
    cat, _stats, _jobs, _restart = crawl
    plan_of = FrontierEngine(spark, cat, politeness=_politeness(spark)).fate(budget=1)
    plan = simple_plan(plan_of)
    assert python_eval_ops(plan_of) == 1
    assert "ExistenceJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 2
    fresh = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = FrontierEngine(spark, fresh, politeness=_politeness(spark))
    eng.bootstrap(spark.createDataFrame([(TIED[0], 2, 1)], "url string, page_seq int, intra_page_seq int"))
    assert python_eval_ops(eng.fate(budget=1)) == 0


def test_drained_memo_never_skips_work(spark, tmp_path, jobs_of):
    """A wave that retired every url it saw lets the next wave at the
    same (frontier, done) versions return empty with no job. An enqueue
    or a compaction moves a version, so the next wave plans again: it
    finds the enqueued url, and after a compaction of ``done`` (a new
    version, no new work) it looks and finds nothing until a fresh
    enqueue."""
    schema = "url string, page_seq int, intra_page_seq int"
    urls = OTHERS[:2] + [f"{B}/ru/new.pdf", f"{B}/ru/new2.pdf"]
    pages = spark.createDataFrame(
        [(u, bytearray(f"<html><body><p>doc {u}</p></body></html>".encode())) for u in urls],
        "url string, html binary",
    )
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    eng = FrontierEngine(spark, cat)
    eng.bootstrap(spark.createDataFrame([(u, 2, i) for i, u in enumerate(urls[:2])], schema))
    wave = lambda: jobs_of(lambda: eng.run_wave(pages, budget=5))  # noqa: E731
    assert wave()[0]["scheduled"] == 2
    m, n = wave()
    assert (m["frontier_pending"], n) == (0, 0)
    eng.enqueue(spark.createDataFrame([(urls[2], 0, 0)], schema), depth=1)
    assert wave()[0]["scheduled"] == 1
    assert wave()[1] == 0
    cat.compact(DONE_TABLE)
    m, n = wave()
    assert m["frontier_pending"] == 0 and n > 0
    eng.enqueue(spark.createDataFrame([(urls[3], 0, 0)], schema), depth=2)
    assert wave()[0]["scheduled"] == 1
    assert wave()[1] == 0


def test_wave_that_fetches_nothing(spark, tmp_path):
    """The documents write's ``Observation`` reports an empty write: a
    wave whose selection is empty (every url robots-denied), and one
    whose selected urls are all fetch misses, retire every url."""
    schema = "url string, page_seq int, intra_page_seq int"
    pages = spark.createDataFrame([(OTHERS[0], bytearray(b"<html><body><p>x</p></body></html>"))], "url string, html binary")
    for name, urls, want in (
        ("denied", [f"{B}/private/{i}.pdf" for i in range(3)], (0, 3, 0)),
        ("missed", [f"{B}/ru/miss{i}.pdf" for i in range(3)], (0, 0, 3)),
    ):
        eng = FrontierEngine(spark, SnapshotCatalog(spark, str(tmp_path / name)), politeness=_politeness(spark))
        eng.bootstrap(spark.createDataFrame([(u, 2, i) for i, u in enumerate(urls)], schema))
        m = eng.run_wave(pages, budget=5)
        assert (m["scheduled"], m["robots_denied"], m["fetch_misses"]) == want, name
        assert m["retired"] == 3 and eng.run_wave(pages, budget=5)["frontier_pending"] == 0
