"""Correctness checks over a finished run's outputs.

Every check takes plain pandas frames / Python sets (collected from the
catalog after the timed region) and returns a ``Check``; none of them
starts Spark work, so the tests can plant faults in small frames.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd


@dataclass(frozen=True)
class Check:
    name: str
    ok: bool
    detail: str = ""


def text_identical(docs: pd.DataFrame, oracle: pd.DataFrame) -> Check:
    """Every document's text equals the generator's oracle text, byte for
    byte (``docs``/``oracle``: url, text)."""
    m = docs[["url", "text"]].merge(
        oracle[["url", "text"]], on="url", how="left", suffixes=("", "_oracle"), indicator=True
    )
    unknown = int((m["_merge"] == "left_only").sum())
    differ = m[(m["_merge"] == "both") & (m["text"] != m["text_oracle"])]
    ok = unknown == 0 and differ.empty
    detail = "" if ok else f"{len(differ)} texts differ, {unknown} urls not in the oracle"
    if len(differ):
        detail += f"; first: {differ['url'].iloc[0]}"
    return Check("text_identical", ok, detail)


def docs_unique_per_url(docs: pd.DataFrame) -> Check:
    dup = int(docs["url"].duplicated().sum())
    return Check("docs_unique_per_url", dup == 0, f"{dup} duplicate url rows" if dup else "")


def seeds_retired_once(done: pd.DataFrame, seed_urls: set[str]) -> Check:
    """``done`` holds each seed url exactly once and nothing else."""
    dup = int(done["url"].duplicated().sum())
    got = set(done["url"])
    missing = len(seed_urls - got)
    extra = len(got - seed_urls)
    ok = dup == 0 and missing == 0 and extra == 0
    detail = "" if ok else f"{dup} retired twice, {missing} never retired, {extra} not seeds"
    return Check("seeds_retired_once", ok, detail)


def status_counts(done: pd.DataFrame, expected: dict[str, int]) -> Check:
    """Retirement counts per status equal the generator's counts."""
    got = {k: int(v) for k, v in done["retire_status"].value_counts().items()}
    want = {k: v for k, v in expected.items() if v}
    ok = got == want
    return Check("status_counts", ok, "" if ok else f"got {got}, expected {want}")


def seen_equals_scheduled(seen_keys: pd.Series, doc_keys: pd.Series) -> Check:
    """``seen`` holds exactly the key hashes of the fetched documents,
    each once."""
    dup = int(seen_keys.duplicated().sum())
    s, d = set(seen_keys), set(doc_keys)
    ok = dup == 0 and s == d
    detail = "" if ok else f"{dup} duplicate keys, {len(s - d)} unscheduled, {len(d - s)} unseen"
    return Check("seen_equals_scheduled", ok, detail)


def host_budget(docs: pd.DataFrame, budget: int) -> tuple[Check, int]:
    """No host fetched more than ``budget`` pages in one wave. Returns the
    check and the number of (wave, host) groups over budget."""
    per = docs.groupby(["wave", "host"]).size()
    over = int((per > budget).sum())
    worst = int(per.max()) if len(per) else 0
    detail = "" if not over else f"{over} (wave, host) groups over {budget}; worst {worst}"
    return Check("host_budget", over == 0, detail), over


def mirror_pairs(found: set[tuple[int, int]], planted: set[tuple[int, int]]) -> tuple[Check, float]:
    """Near-dup queries return exactly the planted mirror pairs (pairs
    are unordered key-hash pairs). Returns the check and the recall."""
    norm = lambda pairs: {tuple(sorted(p)) for p in pairs}  # noqa: E731
    f, p = norm(found), norm(planted)
    recall = len(f & p) / len(p) if p else math.nan
    ok = bool(p) and f == p
    detail = "" if ok else f"{len(f & p)}/{len(p)} planted pairs found, {len(f - p)} unexpected"
    return Check("mirror_pairs", ok, detail), recall


def mirrors_differ(pairs: list[tuple[str, str]]) -> Check:
    """Every planted mirror url differs from its base url."""
    same = sum(1 for base, mirror in pairs if base == mirror)
    ok = bool(pairs) and same == 0
    return Check("mirrors_differ", ok, "" if ok else f"{same} of {len(pairs)} mirrors equal their base")


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0.0" if v == 0 else repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _norm_cell(v.item())
    return str(v)


def canonical_rows(pdf: pd.DataFrame) -> list[str]:
    """Order-insensitive row image: columns sorted by name, cells
    normalized (ints vs floats, -0.0, float noise below 1e-9), rows
    sorted."""
    cols = sorted(pdf.columns)
    return sorted(
        "|".join(_norm_cell(v) for v in row)
        for row in pdf[cols].astype(object).where(pdf[cols].notna(), None).itertuples(index=False, name=None)
    )


def rows_match(name: str, got: pd.DataFrame, oracle: pd.DataFrame) -> Check:
    """A query's rows equal its DuckDB oracle's rows."""
    if sorted(got.columns) != sorted(oracle.columns):
        return Check(f"oracle:{name}", False, f"columns {sorted(got.columns)} vs {sorted(oracle.columns)}")
    a, b = canonical_rows(got), canonical_rows(oracle)
    if a == b:
        return Check(f"oracle:{name}", True)
    only_a = sorted(set(a) - set(b))[:2]
    only_b = sorted(set(b) - set(a))[:2]
    return Check(f"oracle:{name}", False, f"{len(a)} vs {len(b)} rows; spark-only {only_a}; oracle-only {only_b}")
