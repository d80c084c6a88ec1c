"""In-memory spans for the traced run.

Spans nest run → phase → wave/query → stage → catalog call. Wave stages
are rebuilt after the fact from the ``t_*`` timings ``run_wave`` returns;
catalog calls come from wrapping one ``SnapshotCatalog`` instance's
methods. Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# run_wave's stage timings, in the order the wave runs them
STAGES = (
    "waveid",
    "pending",
    "seen_filter",
    "extract_commit",
    "index_commit",
    "seen_commit",
    "done_commit",
    "metrics_commit",
)
CATALOG_COMMITS = ("append", "overwrite", "merge_upsert")
CATALOG_READS = ("read", "read_last_append")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, layer, time.monotonic(), 0.0, parent, attrs)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.monotonic()

    def add_stages(self, wave: Span, timings: dict) -> None:
        """Lay the wave's ``t_*`` stages end to end from its start and move
        the catalog spans recorded during the wave under the stage that
        contains their midpoint."""
        t = wave.start
        stage_spans = []
        for st in STAGES:
            d = timings.get(f"t_{st}")
            if d is None:
                continue
            sp = Span(len(self.spans), st, "frontier.stage", t, t + d, wave.id)
            self.spans.append(sp)
            stage_spans.append(sp)
            t += d
        for s in self.spans:
            if s.parent == wave.id and s.layer == "catalog":
                mid = (s.start + s.end) / 2
                for sp in stage_spans:
                    if sp.start <= mid <= sp.end:
                        s.parent = sp.id
                        break

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the part of it its children cover, summed
        per layer."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    covered += (cur_e - cur_s) if cur_e is not None else 0.0
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            covered += (cur_e - cur_s) if cur_e is not None else 0.0
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, (s.end - s.start) - covered)
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **(extra or {})}, f)


class CatalogCounters:
    """Counts and times of one catalog's calls, kept by ``wrap_catalog``."""

    def __init__(self):
        self.commits = 0
        self.commit_s = 0.0
        self.compactions = 0
        self.compact_s = 0.0
        self.read_dirs_max = 0


def wrap_catalog(catalog, tracer: Tracer, counters: CatalogCounters) -> None:
    """Route this instance's commit/compact/read methods through spans."""

    def wrap(method_name: str):
        inner = getattr(catalog, method_name)

        def call(name, *args, **kwargs):
            if method_name in CATALOG_READS:
                counters.read_dirs_max = max(counters.read_dirs_max, catalog.n_dirs(name))
            with tracer.span(f"{method_name}:{name}", "catalog") as s:
                out = inner(name, *args, **kwargs)
            d = s.end - s.start
            if method_name in CATALOG_COMMITS:
                counters.commits += 1
                counters.commit_s += d
            elif method_name == "compact":
                counters.compactions += 1
                counters.compact_s += d
            return out

        setattr(catalog, method_name, call)

    for m in (*CATALOG_COMMITS, "compact", *CATALOG_READS):
        wrap(m)
