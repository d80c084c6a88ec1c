"""Spark event-log parser and stage report.

Reads the JSON-lines event log Spark writes with
``spark.eventLog.enabled=true`` and attributes every job, stage and task
to the job group it ran under (the benchmark names groups
``wave-<crawl>.<n>``, ``query-<crawl>.<wave>``, ``suite-<name>``,
``setup`` and ``check``).

Report for a traced run::

    python3 perfbench/eventlog.py <event log file> [--from-ms T0 --to-ms T1]

prints per-group and per-operator executor run time, CPU, GC, shuffle
bytes, spill, Python-UDF stage time and the driver gap (wall time in
which no job ran).
"""

from __future__ import annotations

import argparse
import json
from collections import defaultdict
from dataclasses import dataclass, field

# RDD-scope names of stages that run Python workers (Arrow/pandas UDFs)
PYTHON_SCOPES = (
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow",
    "AggregateInPandas",
    "WindowInPandas",
    "PythonRDD",
)


@dataclass
class Stage:
    stage_id: int
    job_id: int | None = None
    scopes: frozenset[str] = frozenset()
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0

    @property
    def python(self) -> bool:
        return any(s in PYTHON_SCOPES for s in self.scopes)

    @property
    def window(self) -> bool:
        return "Window" in self.scopes

    @property
    def operator(self) -> str:
        """The stage's operator signature: its distinctive scope names."""
        generic = {"WholeStageCodegen", "InputAdapter", "ColumnarToRow", "mapPartitionsInternal", "map", "mapPartitions", "DeserializeToObject", "SerializeFromObject"}
        names = sorted(s for s in self.scopes if s not in generic)
        return "+".join(names[:4]) or "other"


@dataclass
class Job:
    job_id: int
    group: str
    start_ms: float
    end_ms: float | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]

    def group_of(self, stage: Stage) -> str:
        job = self.jobs.get(stage.job_id) if stage.job_id is not None else None
        return job.group if job else ""


def _scope_name(raw: str | None) -> str | None:
    if not raw:
        return None
    try:
        name = json.loads(raw).get("name", "")
    except (ValueError, AttributeError):
        return None
    # "WholeStageCodegen (3)" -> "WholeStageCodegen"
    return name.split(" (")[0].strip() or None


def parse(lines) -> EventLog:
    """Parse an iterable of event-log lines."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = Job(jid, props.get("spark.jobGroup.id") or "", ev["Submission Time"], stage_ids=list(ev.get("Stage IDs", [])))
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            st = stages.setdefault(sid, Stage(sid))
            names = {_scope_name(r.get("Scope")) for r in info.get("RDD Info", [])}
            names |= {"PythonRDD" for r in info.get("RDD Info", []) if "PythonRDD" in (r.get("Name") or "")}
            st.scopes = frozenset(n for n in names if n)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sid = ev["Stage ID"]
            st = stages.setdefault(sid, Stage(sid))
            st.tasks += 1
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for sid, st in stages.items():
        st.job_id = stage_job.get(sid)
    return EventLog(jobs, stages)


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def busy_ms(jobs, from_ms: float, to_ms: float) -> float:
    """Length of the union of job intervals clipped to [from_ms, to_ms]."""
    spans = sorted(
        (max(j.start_ms, from_ms), min(j.end_ms, to_ms))
        for j in jobs
        if j.end_ms is not None and j.end_ms > from_ms and j.start_ms < to_ms
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _sum(stages, attr) -> float:
    return float(sum(getattr(s, attr) for s in stages))


def summary(log: EventLog, from_ms: float, to_ms: float, cores: int) -> dict[str, float]:
    """Whole-window totals for the jobs that started inside [from_ms, to_ms]."""
    jobs = [j for j in log.jobs.values() if from_ms <= j.start_ms <= to_ms]
    ids = {j.job_id for j in jobs}
    stages = [s for s in log.stages.values() if s.job_id in ids]
    wall_ms = max(to_ms - from_ms, 1e-9)
    run_ms = _sum(stages, "run_ms")
    waves = defaultdict(int)
    for j in jobs:
        if j.group.startswith("wave-"):
            waves[j.group] += 1
    return {
        "spark.jobs": len(jobs),
        "spark.jobs_per_wave": (sum(waves.values()) / len(waves)) if waves else 0.0,
        "spark.stages": len(stages),
        "spark.tasks": int(_sum(stages, "tasks")),
        "spark.executor_run_s": run_ms / 1e3,
        "spark.executor_cpu_s": _sum(stages, "cpu_ns") / 1e9,
        "spark.gc_s": _sum(stages, "gc_ms") / 1e3,
        "spark.core_busy_ratio": run_ms / (wall_ms * cores),
        "spark.driver_gap_s": (wall_ms - busy_ms(jobs, from_ms, to_ms)) / 1e3,
        "spark.shuffle_write_bytes": int(_sum(stages, "shuffle_write")),
        "spark.shuffle_read_bytes": int(_sum(stages, "shuffle_read")),
        "spark.spill_bytes": int(_sum(stages, "spill")),
        "spark.python_run_s": _sum([s for s in stages if s.python], "run_ms") / 1e3,
        "spark.window_run_s": _sum([s for s in stages if s.window], "run_ms") / 1e3,
    }


def jobs_per_group(log: EventLog, prefix: str, from_ms: float = float("-inf"), to_ms: float = float("inf")) -> dict[str, int]:
    """Jobs per group whose name starts with ``prefix``, counting the jobs
    that started inside [from_ms, to_ms]."""
    out: dict[str, int] = defaultdict(int)
    for j in log.jobs.values():
        if j.group.startswith(prefix) and from_ms <= j.start_ms <= to_ms:
            out[j.group] += 1
    return dict(out)


def _rows(stages, key) -> list[tuple]:
    agg: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0.0, 0.0, 0, 0, 0, 0.0])
    for s in stages:
        a = agg[key(s)]
        a[0] += 1
        a[1] += s.run_ms / 1e3
        a[2] += s.cpu_ns / 1e9
        a[3] += s.gc_ms / 1e3
        a[4] += s.shuffle_read
        a[5] += s.shuffle_write
        a[6] += s.spill
        a[7] += s.run_ms / 1e3 if s.python else 0.0
    return sorted(((k, *v) for k, v in agg.items()), key=lambda r: -r[2])


def report(log: EventLog, from_ms: float | None = None, to_ms: float | None = None) -> str:
    """Per-group and per-operator tables, plus the driver gap per group."""
    jobs = list(log.jobs.values())
    if from_ms is None:
        from_ms = min((j.start_ms for j in jobs), default=0.0)
    if to_ms is None:
        to_ms = max((j.end_ms or j.start_ms for j in jobs), default=0.0)
    ids = {j.job_id for j in jobs if from_ms <= j.start_ms <= to_ms}
    stages = [s for s in log.stages.values() if s.job_id in ids]
    head = f"{'':40s} {'stages':>6s} {'run_s':>8s} {'cpu_s':>8s} {'gc_s':>6s} {'shuf_rd':>10s} {'shuf_wr':>10s} {'spill':>8s} {'py_s':>7s}"
    out = []
    for title, key in (("per group", log.group_of), ("per operator", lambda s: s.operator)):
        out += [f"== {title} ==", head]
        for k, n, run, cpu, gc, rd, wr, sp, py in _rows(stages, key):
            out.append(f"{(k or '-')[:40]:40s} {n:6d} {run:8.2f} {cpu:8.2f} {gc:6.2f} {rd:10d} {wr:10d} {sp:8d} {py:7.2f}")
    out += ["== driver gap per group ==", f"{'':40s} {'jobs':>6s} {'wall_s':>8s} {'gap_s':>8s}"]
    by_group: dict[str, list[Job]] = defaultdict(list)
    for j in jobs:
        if j.job_id in ids and j.end_ms is not None:
            by_group[j.group].append(j)
    for g, js in sorted(by_group.items(), key=lambda kv: min(j.start_ms for j in kv[1])):
        lo = min(j.start_ms for j in js)
        hi = max(j.end_ms for j in js)
        gap = (hi - lo - busy_ms(js, lo, hi)) / 1e3
        out.append(f"{(g or '-')[:40]:40s} {len(js):6d} {(hi - lo) / 1e3:8.2f} {gap:8.2f}")
    total_gap = (to_ms - from_ms - busy_ms(jobs, from_ms, to_ms)) / 1e3
    out.append(f"window {(to_ms - from_ms) / 1e3:.2f} s, driver gap {total_gap:.2f} s")
    return "\n".join(out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log")
    ap.add_argument("--from-ms", type=float)
    ap.add_argument("--to-ms", type=float)
    args = ap.parse_args(argv)
    print(report(read(args.log), args.from_ms, args.to_ms))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
