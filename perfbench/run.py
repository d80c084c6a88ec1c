"""Frontier benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository. Prints every metric
by name and unit, then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A run whose outputs fail a correctness check prints ``"correct": false``
and exits 1. Scratch data lives under ``.perfbench_work/`` in the
checkout; every run leaves its result there (``results/``), and a
traced run also its spans and Spark event log (``traces/``,
``eventlogs/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# BENCHMARK.json lists the two crawls; operator_suite runs on demand
# (three Spark workloads do not fit the benchmark's run-time budget)
WORKLOADS = ("crawl_extract", "crawl_fingerprint", "operator_suite")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="frontier benchmark (one workload per process)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _missing_sources() -> list[str]:
    need = ("judyst_web_crawler_spark/__init__.py", "__spark_entry__.py")
    return [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]


def _overhead(results_dir: str, workload: str, seed: int, traced_cpu_ms: float) -> float | None:
    """Tracing overhead: the traced ``cpu_ms_per_work`` of a workload over
    the untraced one, minus one. The untraced run of the same seed is used
    when its result is on disk, else the median over every untraced result
    of the workload; None when there is none."""
    costs = {}
    for name in os.listdir(results_dir):
        if name.startswith(f"{workload}-seed") and name.endswith("-trace0.json"):
            try:
                with open(os.path.join(results_dir, name), encoding="utf-8") as f:
                    costs[name] = json.load(f)["end_to_end"]["cpu_ms_per_work"]
            except (OSError, KeyError, ValueError):
                continue
    if not costs:
        return None
    base = costs.get(f"{workload}-seed{seed}-trace0.json") or statistics.median(costs.values())
    return traced_cpu_ms / base - 1.0


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = _missing_sources()
    if missing:
        print(f"perfbench: not a checkout of the frontier repository (missing {missing})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import eventlog, host
    from perfbench import metrics as M
    from perfbench import workloads as WL
    from perfbench.stats import describe
    from perfbench.trace import Tracer

    base = os.path.join(ROOT, ".perfbench_work")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(base, f"run-{args.workload}-{os.getpid()}")
    results_dir = os.path.join(base, "results")
    traces_dir = os.path.join(base, "traces")
    log_dir = os.path.join(base, "eventlogs", tag) if args.trace else None
    for d in (work, results_dir, traces_dir):
        os.makedirs(d, exist_ok=True)
    if log_dir:
        shutil.rmtree(log_dir, ignore_errors=True)  # keep one event log per workload and seed
    nproc = os.cpu_count() or 1
    facts = host.host_facts(ROOT)
    tracer = Tracer() if args.trace else None

    t0 = time.monotonic()
    spark = host.start_session(work, nproc, log_dir)
    session_s = time.monotonic() - t0
    try:
        ctx = WL.Ctx(spark, work, args.seed, args.seconds, nproc, tracer)
        with WL.timed(ctx, args.workload, "run"):
            if args.workload == "operator_suite":
                out = WL.suite_workload(ctx, session_s)
            else:
                spec = WL.CRAWL_EXTRACT if args.workload == "crawl_extract" else WL.CRAWL_FINGERPRINT
                out = WL.crawl_workload(ctx, spec, session_s)
        if tracer is not None:
            out.layers.update(WL.micro_layers(spark))
        rss_parts = (host.vm_hwm_bytes(host.jvm_pid(spark)), host.vm_hwm_bytes())
        rss = sum(rss_parts)
    finally:
        host.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = {
        "setup_s": out.setup_s,
        "cpu_ms_per_work": statistics.median(out.cpu_ms_per_work),
        "peak_rss_mb": rss / (1 << 20),
    }
    wall = {"run.op_s_p50": statistics.median(out.op_samples), "run.work_per_s": statistics.median(out.work_per_s)}
    layers = {**out.layers, **out.setup_parts, **wall, "trace.timed_s": out.timed_s}
    extra = {}
    if tracer is not None:
        log_path = os.path.join(log_dir, os.listdir(log_dir)[0])
        log = eventlog.read(log_path)
        lo, hi = out.windows_ms[-1]
        layers.update(eventlog.summary(log, lo, hi, nproc))
        qjobs = eventlog.jobs_per_group(log, "query-", lo, hi)
        if qjobs:
            layers["dedup_fuzzy.query_jobs"] = sum(qjobs.values()) / len(qjobs)
        layers.update({f"self.{k}_s": v for k, v in tracer.self_time_by_layer().items()})
        ov = _overhead(results_dir, args.workload, args.seed, e2e["cpu_ms_per_work"])
        if ov is not None:
            layers["trace.overhead_ratio"] = ov
        extra = {"event_log": log_path, "window_ms": [lo, hi]}

    correct = out.failed == 0
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  trace {args.trace}")
    print("host " + " ".join(f"{k}={v}" for k, v in facts.items()))
    for c in out.checks:
        if not c.ok:
            print(f"check FAILED {c.name}: {c.detail}")
    print(f"checks {sum(c.ok for c in out.checks)}/{len(out.checks)} passed")
    print(f"ops_failed_ratio {out.failed / max(out.attempted, 1):.4f} ratio ({out.failed} of {out.attempted} waves, queries and checks failed)")
    for name, (value, unit, note) in out.named.items():
        print(f"{name} {value:.6g} {unit} ({note})")
    print(f"run.op_s_p50 {wall['run.op_s_p50']:.6g} s ({describe(out.op_samples)}, ops)")
    print(f"run.work_per_s {wall['run.work_per_s']:.6g} 1/s")
    for name, value in e2e.items():
        note = f" ({describe(out.cpu_ms_per_work)}, units of work)" if name == "cpu_ms_per_work" else ""
        if name == "peak_rss_mb":
            note = f" (driver JVM {rss_parts[0] / (1 << 20):.0f} MB + benchmark process {rss_parts[1] / (1 << 20):.0f} MB)"
        print(f"{name} {value:.6g} {M.END_TO_END[name][0]}{note}")
    if tracer is not None:
        for name in sorted(layers):
            unit = M.PER_LAYER[name][0] if name in M.PER_LAYER else ("s" if name.endswith("_s") else "ratio")
            print(f"{name} {layers[name]:.6g} {unit}")

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": facts,
        "timed_s": out.timed_s,
        "op_samples": out.op_samples,
        "work_per_s_samples": out.work_per_s,
        "cpu_ms_per_work_samples": out.cpu_ms_per_work,
        "end_to_end": e2e,
        "named": {k: v[0] for k, v in out.named.items()},
        "layers": layers,
        "checks": [c.__dict__ for c in out.checks],
        **extra,
    }
    with open(os.path.join(results_dir, f"{tag}.json"), "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    if tracer is not None:
        tracer.dump(os.path.join(traces_dir, f"{tag}.json"), {"layers": layers})

    metrics = M.metric_block(layers, M.PER_LAYER) if args.trace else M.metric_block(e2e, M.END_TO_END)
    print(json.dumps({"correct": correct, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
