"""Benchmark entry point (driver-run, per-round).

Prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "frontier": {...}}

- headline queries run at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
  on local[<host cores>] ($SPARK_GRAFT_CPUS overrides; session.host_sizing);
- the frontier benchmark (the north-rule metric: URLs scheduled+deduped/sec)
  runs over a deterministic synthetic pages table of the BASELINE.json:15
  shape, sized by the sf of the input dir, written to parquet first so the
  engine benchmarks real scans;
- ``--scaling`` additionally re-runs the frontier job at two parallelism
  levels (default local[2] vs local[8] — the sandbox stand-in for N vs
  4N executors, see ``run_scaling``) in fresh subprocesses and reports
  throughput at both plus scaling efficiency.
- the full-bench path idles the box for $SPARK_BENCH_COOLDOWN_S (default
  600 s) BEFORE timing anything: a host that slows under sustained load
  would otherwise time its own thermal history, not the engine. Set
  SPARK_BENCH_COOLDOWN_S=0 for iterative local runs.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_region_revenue",
    "q7_nation_volume",
    "q8_market_share",
    "q2_min_cost_supplier",
    "part_supplier_stats",
    "events_hourly_rollup",
    "events_sessionize",
    "events_json_props",
    "dedup_first_wins",
    "budget_topk",
    "seen_anti_join",
    "text_stats",
    "quality_filters",
    "minhash_near_dup",
    "minhash_index_query",
    "simhash_near_dup",
    "similarity_topk",
    "ann_topk",
    "ivf_topk",
    "ann_recall",
    "token_jaccard",
    "embedding_near_dup",
    "lawcode_htm_split",
    "dsir_weights",
    "dup_clusters",
    "fingerprint_sigs",
    "dsir_select",
    "recrawl_priority",
    "crawl_delay_budget",
    "corpus_prep",
    "etl_update",
    "duplicate_ngram_spans",
    "dedup_spans_removed",
]
# round-2 → round-3 name mapping (queries consolidated so every oracled
# query fits the driver's 50-entry sweep window; see __spark_entry__.py):
#   text_quality + text_fingerprint (+token_count, lang_id) → text_stats
#   gopher_quality + c4_clean                               → quality_filters
#   minhash_sig + simhash_sig + rolling_sig                 → fingerprint_sigs
#   dup_clusters + dup_clusters_star                        → dup_clusters
#   embedding_norms                                         → similarity_topk (l2 col)
#   top_cited                                               → citation_degrees (top_rank col)
#   canonicalize_key + pdf_number_extract + text_location   → canonical_fields


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def _force(df) -> int:
    """Execute a plan end-to-end without driver-side row transfer."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def bench_frontier(spark, sf: float, n_salts: int = 4) -> dict:
    """North-rule metric: URLs scheduled+deduped per second, end-to-end
    (seen-filter + first-wins dedup + politeness top-k + extract UDF +
    snapshot commits), over a parquet pages table with skewed hosts and
    ~25% duplicate seeds.

    ``SPARK_BENCH_BODY_REPEATS`` scales page-body size (default 24 ≈ 4 KB
    pages; the scaling mode uses realistic tens-of-KB bodies so per-URL
    work, not driver overhead, is what the extra cores parallelize).
    ``SPARK_BENCH_URLS`` overrides the URL count.
    """
    from pyspark.sql import functions as F

    from judyst_web_crawler_spark import datagen
    from judyst_web_crawler_spark.operators.frontier import FrontierEngine
    from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

    n_urls = int(os.environ.get("SPARK_BENCH_URLS", max(2000, int(1_500_000 * sf))))
    body_repeats = int(os.environ.get("SPARK_BENCH_BODY_REPEATS", "24"))
    work = tempfile.mkdtemp(prefix="jwcs-bench-")
    try:
        pages_path = os.path.join(work, "pages")
        datagen.pages_df(
            spark, n_rows=n_urls, n_hosts=200, with_oracle_text=False,
            body_repeats=body_repeats,
        ).write.parquet(pages_path)
        pages = spark.read.parquet(pages_path)

        # seed stream = every page once + a 25% duplicate tail (dedup work)
        base = pages.select(
            "url",
            (F.xxhash64("url") % 50).cast("int").alias("page_seq"),
            (F.xxhash64("url", F.lit(1)) % 100).cast("int").alias("intra_page_seq"),
        )
        dups = base.filter(F.pmod(F.xxhash64("url", F.lit(2)), F.lit(4)) == 0).withColumn(
            "page_seq", F.col("page_seq") + 50
        )
        seeds = base.unionByName(dups)
        n_seeds = seeds.count()

        cat = SnapshotCatalog(spark, os.path.join(work, "cat"))
        # fingerprint_k=128: extract + MinHash128 + SimHash in one Arrow
        # pass per document — the full crawl + dedup-prep pipeline
        eng = FrontierEngine(spark, cat, fingerprint_k=128)
        t0 = time.monotonic()
        eng.bootstrap(seeds)
        # the skewed giant host holds ~17% of urls; budget n/10 drains it
        # in ~2 politeness waves without degenerating to one mega-wave
        # (the scaling mode overrides to a one-wave drain: its question is
        # how crawl+fingerprint work parallelizes, not wave cadence)
        budget = int(os.environ.get("SPARK_BENCH_BUDGET", max(1, n_urls // 10)))
        stats = eng.run(pages, budget=budget, n_salts=n_salts, max_waves=12)

        elapsed = time.monotonic() - t0
        scheduled = sum(s["scheduled"] for s in stats)
        retired = sum(s.get("retired", 0) for s in stats)
        drained = scheduled == n_urls
        # when max_waves truncates the drain, the honest rate divides by
        # the urls actually processed, not the full seed stream
        rate_base = n_seeds if drained else retired
        return {
            "n_seed_urls": n_seeds,
            "scheduled": scheduled,
            "waves": len(stats),
            "drained": drained,
            "elapsed_s": round(elapsed, 2),
            "urls_per_sec": round(rate_base / elapsed, 1),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_incremental_dedup(spark, sf: float) -> dict:
    """The per-wave incremental dedup loop a 100 TB crawl actually runs
    (VERDICT r4 next-steps #5): a multi-wave engine crawl with the
    MinHash band index committed per wave, then
    ``near_dups_of_wave(<last>)`` — new-wave docs vs everything crawled
    so far, zero re-fingerprinting — timed separately from the crawl.

    ``budget`` here is the PER-HOST politeness cap (politeness.py), not
    a global one: n/10 per bench_frontier's convention, so the skewed
    giant host (~21% of urls) genuinely takes 3 waves to drain and the
    timed query runs on a true incremental wave — a small new-docs side
    probing an index that already holds the rest of the corpus.

    5% of pages get a same-body mirror url (distinct url, identical
    html — the mirror-site scenario), so the query must surface real
    pairs, not just probe empty buckets."""
    from pyspark.sql import functions as F

    from judyst_web_crawler_spark import datagen
    from judyst_web_crawler_spark.operators.frontier import FrontierEngine
    from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

    n_urls = int(
        os.environ.get("SPARK_BENCH_DEDUP_URLS", max(2000, int(375_000 * sf)))
    )
    work = tempfile.mkdtemp(prefix="jwcs-bench-dedup-")
    try:
        pages_path = os.path.join(work, "pages")
        base = datagen.pages_df(
            spark, n_rows=n_urls, n_hosts=100, with_oracle_text=False,
            body_repeats=24,
        )
        mirrors = base.filter(F.pmod(F.xxhash64("url"), F.lit(20)) == 0).withColumn(
            "url", F.regexp_replace("url", "/ru/Decision/", "/mirror/Decision/")
        )
        base.unionByName(mirrors).write.parquet(pages_path)
        pages = spark.read.parquet(pages_path)
        seeds = pages.select(
            "url",
            (F.xxhash64("url") % 50).cast("int").alias("page_seq"),
            (F.xxhash64("url", F.lit(1)) % 100).cast("int").alias("intra_page_seq"),
        )
        n_seeds = seeds.count()
        cat = SnapshotCatalog(spark, os.path.join(work, "cat"))
        eng = FrontierEngine(
            spark, cat, fingerprint_k=128,
            minhash_index_path=os.path.join(work, "mhidx"),
        )
        t0 = time.monotonic()
        eng.bootstrap(seeds)
        budget = int(
            os.environ.get("SPARK_BENCH_DEDUP_BUDGET", max(1, n_seeds // 10))
        )
        stats = eng.run(pages, budget=budget, n_salts=4, max_waves=8)
        crawl_s = time.monotonic() - t0
        last_wave = stats[-1]["wave"]
        wave_docs = stats[-1].get("scheduled")
        t1 = time.monotonic()
        n_pairs = eng.near_dups_of_wave(last_wave, threshold=0.7).count()
        dedup_s = time.monotonic() - t1
        return {
            "n_urls": n_seeds,
            "waves": len(stats),
            "last_wave_docs": wave_docs,
            "crawl_s": round(crawl_s, 2),
            "near_dups_wave_s": round(dedup_s, 2),
            "near_dup_pairs": n_pairs,
            "pairs_per_sec": round(n_pairs / dedup_s, 1) if dedup_s else None,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_queries(spark) -> dict[str, float]:
    """Best-of-N per query (default N=2, $SPARK_BENCH_QUERY_SAMPLES).

    This host suffers multi-second EPISODIC slowdowns (BENCH_r04's
    official artifact overstated four queries 10-30× vs same-code minima
    — VERDICT r4 adjudicated the spikes as host episodes, not code, and
    prescribed best-of-N like the scaling legs). Whole-list passes, not
    back-to-back repeats of each query: an episode then hits DIFFERENT
    queries in each pass, so the per-query min dodges it."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # warm the Arrow python-worker pool once so its multi-second spawn
    # cost isn't attributed to whichever heavy query happens to run first
    from pyspark.sql import functions as _F

    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).agg(_F.count(_F.lit(1))).collect()

    samples = max(1, int(os.environ.get("SPARK_BENCH_QUERY_SAMPLES", "2")))
    out: dict[str, float] = {}
    for _ in range(samples):
        for name in HEADLINE:
            fn = qs[name]
            t0 = time.monotonic()
            _force(fn(spark, SF_DIR))
            got = round(time.monotonic() - t0, 3)
            if name not in out or got < out[name]:
                out[name] = got
    return out


def run_scaling() -> dict:
    """Same frontier job, same input size, at N vs 4N cores.

    Default pair: local[2] vs local[8]. Pick levels that stay within the
    host's PHYSICAL cores: past them a leg crosses into SMT siblings and
    the single-box memory-bandwidth ceiling, which a real 4N-EXECUTOR
    cluster (each node with its own memory bus) does not share. Override
    with SPARK_SCALING_LEVELS, e.g. "4,1". Fresh subprocess per level so
    JVM state is clean.

    Default ORDER is high leg first: the multi-core leg is the one most
    sensitive to host state, so it runs on the coldest box an invocation
    will ever see — its first leg. The efficiency ratio is
    order-independent (lo/hi by value)."""
    levels = os.environ.get("SPARK_SCALING_LEVELS", "8,2").split(",")
    samples = int(os.environ.get("SPARK_SCALING_SAMPLES", "2"))
    results: dict = {}

    def run_leg(cpus: str) -> dict:
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=cpus,
            SPARK_GRAFT_SF_DIR=SF_DIR,
            # production-shaped per-URL work: ~13 KB diverse prose pages
            # (realistic court-document size) through the fused
            # extract+MinHash128+SimHash pipeline — cores parallelize real
            # per-document compute, not driver overhead on 0.5 KB stubs
            # 150k × 13 KB (~2 GB of page payload): sized so per-document
            # compute dominates the ~15 s of per-job serial overhead —
            # at 50k the serial floor caps measurable speedup at ~3.1×
            # regardless of engine scalability (both sizes reported in
            # BASELINE.md)
            SPARK_BENCH_BODY_REPEATS=os.environ.get("SPARK_BENCH_BODY_REPEATS", "120"),
            SPARK_BENCH_URLS=os.environ.get("SPARK_BENCH_URLS", "150000"),
            SPARK_BENCH_BUDGET=os.environ.get("SPARK_BENCH_BUDGET", "150000"),
        )
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--frontier-only"],
            env=env, capture_output=True, text=True, timeout=3600,
        )
        lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            raise RuntimeError(
                f"scaling leg local[{cpus}] failed (exit {proc.returncode}); stderr above"
            )
        return json.loads(lines[-1])["frontier"]

    # INTERLEAVED sample rounds (2,8,2,8 — not 2,2,8,8), best-of-N per
    # level: this host's throughput drifts over tens of minutes
    # (BASELINE.md drift notes), so adjacent legs of DIFFERENT levels see
    # the most similar host state; interference only ever SLOWS a sample,
    # so the max is the least-interfered estimate of each leg's truth.
    # SPARK_SCALING_COOLDOWN_S idles the box before EACH leg: on a host
    # that slows under sustained load, whichever leg runs later in the
    # invocation would otherwise measure the degraded host, not the
    # engine.
    cooldown = int(os.environ.get("SPARK_SCALING_COOLDOWN_S", "0"))
    for _ in range(samples):
        for cpus in levels:
            if cooldown:
                time.sleep(cooldown)
            got = run_leg(cpus)
            prev = results.get(cpus)
            if prev is None or got["urls_per_sec"] > prev["urls_per_sec"]:
                results[cpus] = got
    # lo/hi by numeric value, not list position: SPARK_SCALING_LEVELS
    # also controls EXECUTION order (e.g. "8,2" measures the high leg
    # first, on the coldest box — the high-parallelism leg is the
    # thermally sensitive one; BASELINE.md round-4 table: low legs are
    # ±3% and high legs ±13% across the first-three same-day samples,
    # ±8% / ±16% across all five), while the efficiency ratio always
    # divides high by low.
    lo = min(levels, key=int)
    hi = max(levels, key=int)
    ratio = int(hi) / int(lo)
    tn = results[lo]["urls_per_sec"]
    t4n = results[hi]["urls_per_sec"]
    return {
        f"local{lo}_urls_per_sec": tn,
        f"local{hi}_urls_per_sec": t4n,
        "speedup": round(t4n / tn, 3),
        "efficiency": round((t4n / tn) / ratio, 3),
    }


def main() -> None:
    frontier_only = "--frontier-only" in sys.argv
    scaling = "--scaling" in sys.argv

    if scaling:
        res = run_scaling()
        print(json.dumps({"scaling": res, "sf": _sf_of(SF_DIR)}))
        return

    # Official-artifact methodology (BASELINE.md "Host-state drift"):
    # this host runs 2-6x slower after sustained load and recovers over
    # ~10 min of idleness, so a bench launched at the END of a long
    # session measures the session's thermal history, not the engine —
    # that is exactly how BENCH_r03's phantom 4.7x "regression" happened
    # (round-3 adjudication in VERDICT.md). The full-bench path therefore
    # idles the box FIRST, by default; SPARK_BENCH_COOLDOWN_S=0 skips it
    # for iterative local runs. The sleep happens before the SparkSession
    # exists, so it costs wall-clock only — nothing is running.
    # (--frontier-only legs skip this: run_scaling's own
    # SPARK_SCALING_COOLDOWN_S governs those, avoiding double cooldowns.)
    if not frontier_only:
        time.sleep(int(os.environ.get("SPARK_BENCH_COOLDOWN_S", "600")))

    from judyst_web_crawler_spark.session import get_spark

    spark = get_spark(
        "jwcs-bench",
        extra_conf={
            # pandas-UDF stages cost seconds per MB, so scan splits must
            # be sized for parallelism, not for 128MB scan efficiency —
            # otherwise a ~1GB documents table fans out to only 8 tasks
            "spark.sql.files.maxPartitionBytes": "16m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = _sf_of(SF_DIR)

    frontier = bench_frontier(spark, sf)
    if frontier_only:
        print(json.dumps({"frontier": frontier, "sf": sf}))
        return

    incremental = bench_incremental_dedup(spark, sf)
    queries = run_queries(spark)
    total = round(sum(queries.values()) + frontier["elapsed_s"], 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_plus_frontier_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": sf,
                "frontier": frontier,
                "incremental_dedup": incremental,
            }
        )
    )


if __name__ == "__main__":
    main()
