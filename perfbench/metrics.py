"""Metric definitions: the names, units, directions and bounds that
``BENCHMARK.json`` lists (``tests/test_metrics_stats.py`` keeps the two
in step).

Every workload reports every metric. End-to-end metrics mean the same
thing on every workload, measured on that workload's unit of work (see
``workloads.py``). Per-layer metrics a workload does not exercise read
0; per-layer *times* are therefore limited to layers every workload
runs, and the other layers report counts and shares of the wall time
(their absolute seconds go to the trace file and the printed report).
"""

from __future__ import annotations

from perfbench.trace import STAGES

# name -> (unit, better, bound). Wall-clock rates of the timed loop are
# per-layer metrics (``run.*``): on a shared host they do not repeat from
# run to run closely enough for any bound (README.md, "End-to-end metrics").
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "cpu_ms_per_work": ("ms", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

# the headline queries (bench.py's list) one operator_suite pass runs:
# each batch operator family once — joins and aggregations, windows,
# _fanout + textstats, dedup_fuzzy, similarity, dsir, graph, lawcodes_htm
SUITE_QUERIES = (
    "q1_pricing_summary",
    "q3_top_revenue",
    "events_sessionize",
    "dedup_first_wins",
    "budget_topk",
    "seen_anti_join",
    "text_stats",
    "minhash_near_dup",
    "similarity_topk",
    "token_jaccard",
    "lawcode_htm_split",
    "dsir_weights",
    "dup_clusters",
)

# name -> (unit, better)
PER_LAYER = {
    "run.op_s_p50": ("s", "lower"),
    "run.work_per_s": ("1/s", "higher"),
    "session.start_s": ("s", "lower"),
    "session.warm_up_s": ("s", "lower"),
    "datagen.s": ("s", "lower"),
    "trace.timed_s": ("s", "lower"),
    "frontier.waves": ("count", "lower"),
    "frontier.pending_rows": ("count", "lower"),
    "frontier.scheduled": ("count", "higher"),
    "frontier.dedup_hits": ("count", "higher"),
    "frontier.robots_denied": ("count", "higher"),
    "frontier.fetch_misses": ("count", "higher"),
    "frontier.useful_ratio": ("ratio", "higher"),
    "frontier.stage_coverage": ("ratio", "higher"),
    **{f"frontier.{s}_share": ("ratio", "lower") for s in STAGES[1:]},
    "frontier.resume_share": ("ratio", "lower"),
    "seen.maybe_seen_rate": ("ratio", "lower"),
    "seen.false_positives": ("count", "lower"),
    "seen.exact_probe_rows": ("count", "lower"),
    "catalog.commits": ("count", "lower"),
    "catalog.commit_share": ("ratio", "lower"),
    "catalog.compactions": ("count", "lower"),
    "catalog.compact_share": ("ratio", "lower"),
    "catalog.files_written": ("count", "lower"),
    "catalog.bytes_written": ("bytes", "lower"),
    "catalog.bytes_per_text_byte": ("ratio", "lower"),
    "catalog.read_dirs_max": ("count", "lower"),
    "extraction.ms_per_doc": ("ms", "lower"),
    "extraction.text_mismatches": ("count", "lower"),
    "dedup_fuzzy.fingerprint_ms_per_doc": ("ms", "lower"),
    "dedup_fuzzy.query_jobs": ("count", "lower"),
    "dedup_fuzzy.query_pairs": ("count", "higher"),
    "dedup_fuzzy.query_share": ("ratio", "lower"),
    "politeness.budget_violations": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.jobs_per_wave": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.core_busy_ratio": ("ratio", "higher"),
    "spark.driver_gap_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.python_run_s": ("s", "lower"),
    "spark.window_run_s": ("s", "lower"),
}


def metric_block(values: dict[str, float], spec: dict) -> dict:
    """``{"name": {"value": v, "unit": u}}`` for every metric in ``spec``;
    a per-layer metric the workload did not exercise reads 0."""
    return {name: {"value": values.get(name, 0), "unit": meta[0]} for name, meta in spec.items()}
