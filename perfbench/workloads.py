"""The benchmark's workloads.

Each workload has a set-up (input generation repeated ``SETUP_REPS``
times, median reported; then one warm-up unit of work, so the timed
loop measures a warm JVM), a timed loop that runs whole units of work
until ``--seconds`` is used up (at least one), and correctness checks
that run after the timed loop. The engine is driven only through its public
calls: ``FrontierEngine.bootstrap/enqueue/run/run_wave/near_dups_of_wave``,
``SnapshotCatalog``, ``extraction.extract_text``,
``dedup_fuzzy.fingerprint_text``, ``seen.build_bloom`` /
``seen.bloom_might_contain_udf`` and ``__spark_entry__.queries()``.

Unit of work ("op") per workload:

- ``crawl_extract``: one ``run_wave``;
- ``crawl_fingerprint``: one wave step, ``run_wave`` followed by
  ``near_dups_of_wave`` for the wave just crawled;
- ``operator_suite``: one pass over the headline queries, each collected
  to the driver.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from types import SimpleNamespace

import numpy as np

from perfbench import checks as CK
from perfbench import host
from perfbench import inputs as IN
from perfbench.metrics import SUITE_QUERIES as SUITE
from perfbench.stats import describe
from perfbench.trace import STAGES, CatalogCounters, Tracer, wrap_catalog

SETUP_REPS = 3
WARM_SCALE = 0.1  # the warm-up suite pass reads tables this size
N_SALTS = 2
FINGERPRINT_K = 128


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    nproc: int
    tracer: Tracer | None


@dataclass
class Outcome:
    """What a workload hands back to ``run.py``."""

    setup_s: float
    setup_parts: dict[str, float]
    op_samples: list[float]
    work_per_s: list[float]  # one sample per unit (crawl or suite pass)
    cpu_ms_per_work: list[float] = field(default_factory=list)  # one sample per unit
    attempted: int = 0
    failed: int = 0
    checks: list[CK.Check] = field(default_factory=list)
    named: dict[str, tuple[float, str, str]] = field(default_factory=dict)  # name -> (value, unit, note)
    layers: dict[str, float] = field(default_factory=dict)
    windows_ms: list[tuple[float, float]] = field(default_factory=list)  # wall-clock [from, to] per unit
    timed_s: float = 0.0


@contextmanager
def timed(ctx: Ctx, name: str, layer: str, group: str | None = None):
    """Time a block; in a traced run also record a span and tag the Spark
    jobs it starts with ``group``."""
    if ctx.tracer is None:
        t = SimpleNamespace(start=time.monotonic(), end=0.0)
        try:
            yield t
        finally:
            t.end = time.monotonic()
        return
    sc = ctx.spark.sparkContext
    if group:
        sc.setJobGroup(group, group)
    try:
        with ctx.tracer.span(name, layer) as s:
            yield s
    finally:
        if group:
            sc.setJobGroup("run", "run")


def _wall_ms() -> float:
    return time.time() * 1e3


def run_setup(ctx: Ctx, session_s: float, make_inputs, warm) -> tuple[object, float, dict]:
    """``make_inputs(rep_dir)`` SETUP_REPS times (the last repetition's
    inputs are used), then ``warm(inputs)``: one untimed unit of the
    workload, so the timed loop starts with the Python workers running
    and Spark's generated code compiled. Returns (inputs, setup_s, parts)."""
    reps = []
    inputs = None
    for r in range(SETUP_REPS):
        with timed(ctx, f"datagen-{r}", "datagen", "setup") as t:
            inputs = make_inputs(os.path.join(ctx.work, f"inputs-{r}"))
        reps.append(t.end - t.start)
    datagen_s = statistics.median(reps)
    with timed(ctx, "warm_up", "session", "setup") as t:
        warm(inputs)
    warm_s = t.end - t.start
    parts = {"session.start_s": session_s, "session.warm_up_s": warm_s, "datagen.s": datagen_s}
    return inputs, session_s + warm_s + datagen_s, parts


# -- crawls -----------------------------------------------------------------


@dataclass
class CrawlSpec:
    n_pages: int
    n_hosts: int
    body_repeats: int
    budget: int
    share: float
    mirror_share: float = 0.0
    restart_after: int | None = None  # waves before the engine is rebuilt
    fingerprint: bool = False


# datagen puts about half of the pages on the giant host (±3σ ≈ ±6%);
# each budget sits mid-way between wave-count boundaries, so every seed
# gives the same number of waves: 2 for crawl_extract (restart after the
# first); crawl_fingerprint's budget exceeds any host's page count, so it
# takes 1 wave
CRAWL_EXTRACT = CrawlSpec(
    n_pages=1200, n_hosts=8, body_repeats=3, budget=430, share=0.04, restart_after=1
)
CRAWL_FINGERPRINT = CrawlSpec(
    n_pages=600, n_hosts=8, body_repeats=24, budget=400, share=0.03, mirror_share=0.05,
    fingerprint=True,
)


@dataclass
class CrawlRecord:
    """One crawl of the timed loop (or the warm-up crawl)."""

    name: str
    cat_dir: str
    index_dir: str | None
    waves: list[dict] = field(default_factory=list)  # run_wave returns + "wall_s"
    queries: list[tuple[int, float, list]] = field(default_factory=list)  # (wave, s, pairs)
    resume_s: float = 0.0
    restart_wave: int | None = None
    wall_s: float = 0.0
    cpu_s: float = 0.0
    window_ms: tuple[float, float] = (0.0, 0.0)
    counters: CatalogCounters | None = None


def _make_crawl_inputs(ctx: Ctx, spec: CrawlSpec):
    def make(rep_dir: str):
        inp = IN.crawl_inputs(
            ctx.spark, rep_dir, ctx.seed, spec.n_pages, spec.n_hosts, spec.body_repeats,
            spec.budget, spec.share, spec.mirror_share, late_variants=spec.restart_after is not None,
        )
        spark = ctx.spark
        dfs = SimpleNamespace(
            pages=spark.read.parquet(inp.pages_path),
            seeds=spark.createDataFrame(inp.seeds, IN.SEEDS_SCHEMA),
            late=spark.createDataFrame(inp.late_seeds, IN.SEEDS_SCHEMA),
            politeness=spark.createDataFrame(inp.politeness, IN.POLITENESS_SCHEMA),
        )
        return inp, dfs

    return make


def _wrap_run_wave(ctx: Ctx, eng, rec: CrawlRecord) -> None:
    """Time every ``run_wave`` call, including the ones ``run()`` makes."""
    inner = eng.run_wave

    def call(*args, **kwargs):
        n = len(rec.waves)
        with timed(ctx, f"wave-{n}", "frontier.wave", f"wave-{rec.name}.{n}") as s:
            m = inner(*args, **kwargs)
        if ctx.tracer is not None:
            ctx.tracer.add_stages(s, m)
        rec.waves.append({**m, "wall_s": s.end - s.start})
        return m

    eng.run_wave = call


def _engine(ctx: Ctx, spec: CrawlSpec, cat, dfs, rec: CrawlRecord):
    from judyst_web_crawler_spark.operators.frontier import FrontierEngine

    kw = {}
    if spec.fingerprint:
        kw = {"fingerprint_k": FINGERPRINT_K, "minhash_index_path": rec.index_dir}
    eng = FrontierEngine(ctx.spark, cat, politeness=dfs.politeness, **kw)
    _wrap_run_wave(ctx, eng, rec)
    return eng


def crawl_once(ctx: Ctx, spec: CrawlSpec, inp, dfs, name: str) -> CrawlRecord:
    from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

    rec = CrawlRecord(
        name,
        os.path.join(ctx.work, f"crawl-{name}", "catalog"),
        os.path.join(ctx.work, f"crawl-{name}", "minhash") if spec.fingerprint else None,
    )
    cat = SnapshotCatalog(ctx.spark, rec.cat_dir)
    if ctx.tracer is not None:
        rec.counters = CatalogCounters()
        wrap_catalog(cat, ctx.tracer, rec.counters)
    t0, w0, c0 = time.monotonic(), _wall_ms(), host.tree_cpu_s()
    with timed(ctx, f"crawl-{name}", "phase"):
        eng = _engine(ctx, spec, cat, dfs, rec)
        eng.bootstrap(dfs.seeds)
        if spec.fingerprint:
            # the incremental dedup loop: every wave is followed by its
            # near-dup query against everything crawled so far
            while True:
                m = eng.run_wave(dfs.pages, budget=inp.budget, n_salts=N_SALTS)
                if m["frontier_pending"] == 0:
                    break
                w = m["wave"]
                with timed(ctx, f"query-{w}", "dedup_fuzzy.query", f"query-{name}.{w}") as q:
                    pairs = [(r["id_a"], r["id_b"]) for r in eng.near_dups_of_wave(w).select("id_a", "id_b").collect()]
                rec.queries.append((w, q.end - q.start, pairs))
        else:
            eng.run(dfs.pages, budget=inp.budget, n_salts=N_SALTS, max_waves=spec.restart_after)
            # a restarted crawl: a fresh engine on the same catalog, then
            # rediscovered #fragment variants of already-known urls
            with timed(ctx, "resume", "frontier.resume", "resume") as r:
                eng = _engine(ctx, spec, cat, dfs, rec)
            rec.resume_s = r.end - r.start
            rec.restart_wave = len(rec.waves)
            eng.enqueue(dfs.late, depth=1)
            eng.run(dfs.pages, budget=inp.budget, n_salts=N_SALTS)
    rec.wall_s = time.monotonic() - t0
    rec.cpu_s = host.tree_cpu_s() - c0
    rec.window_ms = (w0, _wall_ms())
    return rec


def _crawl_tables(spark, rec: CrawlRecord):
    from judyst_web_crawler_spark.operators.frontier import (
        DOCS_TABLE,
        DONE_TABLE,
        FRONTIER_TABLE,
        SEEN_TABLE,
    )
    from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, rec.cat_dir)
    return SimpleNamespace(
        docs=cat.read(DOCS_TABLE).select("url", "host", "wave", "key_hash", "text").toPandas(),
        done=cat.read(DONE_TABLE).select("url", "retire_status", "wave").toPandas(),
        seen=cat.read(SEEN_TABLE).select("key_hash", "first_seen_wave").toPandas(),
        frontier=cat.read(FRONTIER_TABLE).select("url", "key_hash", "depth").toPandas(),
    )


def _check_crawl(spec: CrawlSpec, inp, rec: CrawlRecord, t) -> tuple[list[CK.Check], dict]:
    seed_urls = set(inp.seeds["url"]) | set(inp.late_seeds["url"])
    out = [
        CK.text_identical(t.docs, inp.oracle),
        CK.docs_unique_per_url(t.docs),
        CK.seeds_retired_once(t.done, seed_urls),
        CK.status_counts(t.done, inp.expected),
        CK.seen_equals_scheduled(t.seen["key_hash"], t.docs["key_hash"]),
    ]
    budget_check, over = CK.host_budget(t.docs, inp.budget)
    out.append(budget_check)
    extra = {"politeness.budget_violations": over}
    if spec.mirror_share:
        kh = dict(zip(t.docs["url"], t.docs["key_hash"]))
        planted = {(kh.get(b), kh.get(m)) for b, m in inp.mirror_pairs}
        found = {p for _w, _s, pairs in rec.queries for p in pairs}
        out.append(CK.mirrors_differ(inp.mirror_pairs))
        mirror_check, recall = CK.mirror_pairs(found, planted)
        out.append(mirror_check)
        extra["mirror_pair_recall"] = recall
    return out, extra


def _seen_filter_replay(spark, rec: CrawlRecord, t) -> dict[str, float]:
    """Rebuild, from outside, the Bloom filter each wave probed (same bit
    count and k as the engine's default) and count what it let through."""
    from judyst_web_crawler_spark.operators.seen import (
        bloom_bits_for,
        bloom_might_contain_udf,
        build_bloom,
    )
    from pyspark.sql import functions as F

    n_bits, k = bloom_bits_for(1_000_000, 12), 5
    pending_rows = maybe = false_pos = 0
    for m in rec.waves:
        w = m["wave"]
        if not m.get("frontier_pending"):
            continue
        fr = t.frontier
        if rec.restart_wave is None or w < rec.restart_wave:
            fr = fr[fr["depth"] == 0]
        retired = set(t.done.loc[t.done["wave"] < w, "url"])
        pend = fr[~fr["url"].isin(retired)].drop_duplicates("url")
        before = t.seen.loc[t.seen["first_seen_wave"] < w, "key_hash"]
        pending_rows += len(pend)
        if before.empty:
            continue
        blob = build_bloom(spark.createDataFrame(before.to_frame(), "key_hash long"), "key_hash", n_bits, k)
        bc = spark.sparkContext.broadcast(blob)
        probe = bloom_might_contain_udf(bc, n_bits, k)
        keys = spark.createDataFrame(pend[["key_hash"]], "key_hash long")
        hits = keys.filter(probe(F.col("key_hash"))).toPandas()["key_hash"]
        bc.unpersist()
        truly = set(before)
        maybe += len(hits)
        false_pos += int((~hits.isin(truly)).sum())
    # the resume rebuild: one pass over the whole committed seen set
    bloom_t0 = time.monotonic()
    build_bloom(spark.createDataFrame(t.seen[["key_hash"]], "key_hash long"), "key_hash", n_bits, k)
    return {
        "seen.maybe_seen_rate": maybe / pending_rows if pending_rows else 0.0,
        "seen.false_positives": false_pos,
        "seen.exact_probe_rows": maybe,
        "seen.bloom_build_s": time.monotonic() - bloom_t0,
    }


def _dir_files(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _dirs, names in os.walk(root):
        if "/data" not in d:
            continue
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _frontier_layers(rec: CrawlRecord, t) -> dict[str, float]:
    waves = [m for m in rec.waves if m.get("frontier_pending")]
    wall = sum(m["wall_s"] for m in waves)
    pending = sum(m["frontier_pending"] for m in waves)
    out = {
        "frontier.waves": len(waves),
        "frontier.pending_rows": pending,
        "frontier.scheduled": sum(m["scheduled"] for m in waves),
        "frontier.dedup_hits": sum(m["dedup_hits"] for m in waves),
        "frontier.robots_denied": sum(m["robots_denied"] for m in waves),
        "frontier.fetch_misses": sum(m["fetch_misses"] for m in waves),
        "frontier.useful_ratio": sum(m["scheduled"] for m in waves) / pending if pending else 0.0,
        "frontier.stage_coverage": sum(m.get(f"t_{s}", 0.0) for m in waves for s in STAGES) / wall,
        "frontier.resume_s": rec.resume_s,
        "frontier.resume_share": rec.resume_s / rec.wall_s,
    }
    for s in STAGES[1:]:
        total = sum(m.get(f"t_{s}", 0.0) for m in waves)
        out[f"frontier.t_{s}_s"] = total
        out[f"frontier.{s}_share"] = total / wall
    c = rec.counters
    files, size = _dir_files(rec.cat_dir)
    text_bytes = sum(len(s.encode("utf-8")) for s in t.docs["text"])
    out.update(
        {
            "catalog.commits": c.commits,
            "catalog.commit_s": c.commit_s,
            "catalog.commit_share": c.commit_s / rec.wall_s,
            "catalog.compactions": c.compactions,
            "catalog.compact_s": c.compact_s,
            "catalog.compact_share": c.compact_s / rec.wall_s,
            "catalog.files_written": files,
            "catalog.bytes_written": size,
            "catalog.bytes_per_text_byte": size / text_bytes if text_bytes else 0.0,
            "catalog.read_dirs_max": c.read_dirs_max,
        }
    )
    if rec.queries:
        q = [s for _w, s, _p in rec.queries]
        out["dedup_fuzzy.query_p50_s"] = statistics.median(q)
        out["dedup_fuzzy.query_share"] = sum(q) / rec.wall_s
        out["dedup_fuzzy.query_pairs"] = sum(len(p) for _w, _s, p in rec.queries)
    return out


def _warm_crawl(ctx: Ctx, spec: CrawlSpec):
    """One crawl exactly like the timed ones, into its own catalog. A
    smaller one does not warm the same plans and Python workers: after a
    warm-up crawl of an eighth of the seeds (and one Python worker started
    per core), the first timed ``crawl_fingerprint`` crawl took 1.5-2x the
    time and CPU of one after a full-size warm-up."""

    def warm(inputs) -> None:
        inp, dfs = inputs
        crawl_once(ctx, spec, inp, dfs, "warm")

    return warm


def crawl_workload(ctx: Ctx, spec: CrawlSpec, session_s: float) -> Outcome:
    (inp, dfs), setup_s, parts = run_setup(ctx, session_s, _make_crawl_inputs(ctx, spec), _warm_crawl(ctx, spec))
    recs: list[CrawlRecord] = []
    t_timed = time.monotonic()
    with timed(ctx, "timed", "phase"):
        while True:
            recs.append(crawl_once(ctx, spec, inp, dfs, str(len(recs))))
            elapsed = time.monotonic() - t_timed
            if elapsed + recs[-1].wall_s > ctx.seconds:
                break
    out = Outcome(setup_s, parts, [], [], timed_s=time.monotonic() - t_timed)
    over_budget = 0
    with timed(ctx, "check", "phase", "check"):
        for rec in recs:
            t = _crawl_tables(ctx.spark, rec)
            cks, extra = _check_crawl(spec, inp, rec, t)
            out.checks += cks
            over_budget += extra["politeness.budget_violations"]
    n_seeds = len(inp.seeds) + len(inp.late_seeds)
    wave_s = []
    for rec in recs:
        waves = [m for m in rec.waves if m.get("frontier_pending")]
        wave_s += [m["wall_s"] for m in waves]
        out.attempted += len(waves) + len(rec.queries)
        query_s = {w: s for w, s, _p in rec.queries}
        out.op_samples += [m["wall_s"] + query_s.get(m["wave"], 0.0) for m in waves]
        out.work_per_s.append(n_seeds / rec.wall_s)
        out.cpu_ms_per_work.append(rec.cpu_s * 1e3 / n_seeds)
        out.windows_ms.append(rec.window_ms)
    out.attempted += len(out.checks)
    out.failed = sum(1 for c in out.checks if not c.ok)
    out.named = {
        "crawl_urls_per_s": (statistics.median(out.work_per_s), "URLs/s", f"{n_seeds} seed URLs, {len(recs)} crawl(s)"),
        "wave_s_p50": (statistics.median(wave_s), "s", f"{describe(wave_s)}, waves"),
    }
    if spec.fingerprint:
        q = [s for r in recs for _w, s, _p in r.queries]
        out.named["near_dup_query_s_p50"] = (statistics.median(q), "s", f"{describe(q)}, queries from one closed-loop caller")
        out.named["mirror_pair_recall"] = (extra["mirror_pair_recall"], "ratio", f"{len(inp.mirror_pairs)} planted pairs")
    out.layers["politeness.budget_violations"] = over_budget
    if ctx.tracer is not None:
        # t: the last crawl's tables, from the check loop
        with timed(ctx, "replay", "phase", "replay"):
            out.layers.update(_frontier_layers(recs[-1], t))
            out.layers.update(_seen_filter_replay(ctx.spark, recs[-1], t))
    return out


# -- operator suite ---------------------------------------------------------


def suite_workload(ctx: Ctx, session_s: float) -> Outcome:
    import __spark_entry__ as entry

    def make(rep_dir: str):
        IN.write_suite_tables(IN.suite_tables(ctx.seed), rep_dir)
        return rep_dir

    qs = entry.queries()

    def warm(_data_dir: str) -> None:
        # query plans, not table sizes, decide what Spark compiles
        warm_dir = os.path.join(ctx.work, "warm")
        IN.write_suite_tables(IN.suite_tables(ctx.seed, WARM_SCALE), warm_dir)
        for name in SUITE:
            qs[name](ctx.spark, warm_dir).toPandas()

    data_dir, setup_s, parts = run_setup(ctx, session_s, make, warm)
    results: dict = {}
    per_query: dict[str, list[float]] = {q: [] for q in SUITE}
    out = Outcome(setup_s, parts, [], [])
    t_timed = time.monotonic()
    with timed(ctx, "timed", "phase"):
        while True:
            w0, p0, c0 = _wall_ms(), time.monotonic(), host.tree_cpu_s()
            for name in SUITE:
                with timed(ctx, name, "suite.query", f"suite-{name}") as s:
                    results[name] = qs[name](ctx.spark, data_dir).toPandas()
                per_query[name].append(s.end - s.start)
            pass_s = time.monotonic() - p0
            out.op_samples.append(pass_s)
            out.work_per_s.append(len(SUITE) / pass_s)
            out.cpu_ms_per_work.append((host.tree_cpu_s() - c0) * 1e3 / len(SUITE))
            out.windows_ms.append((w0, _wall_ms()))
            if time.monotonic() - t_timed + pass_s > ctx.seconds:
                break
    out.timed_s = time.monotonic() - t_timed
    with timed(ctx, "check", "phase", "check"):
        out.checks = _check_suite(data_dir, results, entry.oracle_sql())
    out.attempted = len(SUITE) * len(out.op_samples) + len(out.checks)
    out.failed = sum(1 for c in out.checks if not c.ok)
    suite_s = statistics.median(out.op_samples)
    out.named = {"suite_s": (suite_s, "s", f"{describe(out.op_samples)}, passes of {len(SUITE)} queries")}
    for name, xs in per_query.items():
        out.layers[f"suite.{name}_s"] = statistics.median(xs)
        out.layers[f"suite.{name}_share"] = statistics.median(xs) / suite_s
    return out


def _check_suite(data_dir: str, results: dict, oracles: dict) -> list[CK.Check]:
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[: -len('.parquet')]} AS SELECT * FROM read_parquet('{os.path.join(data_dir, f)}')"
                )
        out = []
        for name, got in results.items():
            if name in oracles:
                out.append(CK.rows_match(name, got, con.execute(oracles[name]).df()))
            else:
                out.append(CK.Check(f"rows:{name}", len(got) > 0, "" if len(got) else "no rows"))
        return out
    finally:
        con.close()


# -- layer micro-benchmarks (traced runs) -------------------------------------


def micro_layers(spark, n_docs: int = 200, passes: int = 3) -> dict[str, float]:
    """Single-thread extraction and fingerprinting cost on a fixed payload
    sample (~4 KB pages, generator seed 0), independent of the workload."""
    from judyst_web_crawler_spark import datagen
    from judyst_web_crawler_spark.functions.extraction import extract_text
    from judyst_web_crawler_spark.operators.dedup_fuzzy import fingerprint_text

    rows = datagen.pages_df(spark, n_rows=n_docs, n_hosts=8, seed=0, body_repeats=24).select("html", "text").collect()
    payloads = [bytes(r["html"]) for r in rows]
    oracle = [r["text"] for r in rows]
    rng = np.random.default_rng(0)
    a = (rng.integers(1, (1 << 61) - 1, FINGERPRINT_K, dtype=np.uint64) | np.uint64(1))
    b = rng.integers(0, (1 << 61) - 1, FINGERPRINT_K, dtype=np.uint64)
    ext, fp = [], []
    texts: list[str] = []
    for _ in range(passes):
        t0 = time.perf_counter()
        texts = [extract_text(p) for p in payloads]
        ext.append((time.perf_counter() - t0) * 1e3 / n_docs)
        t0 = time.perf_counter()
        for s in texts:
            fingerprint_text(s, a, b, FINGERPRINT_K)
        fp.append((time.perf_counter() - t0) * 1e3 / n_docs)
    return {
        "extraction.ms_per_doc": statistics.median(ext),
        "extraction.text_mismatches": sum(1 for x, y in zip(texts, oracle) if x != y),
        "dedup_fuzzy.fingerprint_ms_per_doc": statistics.median(fp),
    }
