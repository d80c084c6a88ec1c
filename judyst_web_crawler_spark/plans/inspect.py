"""Physical-plan inspection helpers: assert the plan you meant to build.

The engine keeps the Catalyst surface stock (SURVEY §4) — correctness of
the *physical* strategy is therefore asserted at the plan level instead of
custom rules: filters reach the scan, projections prune columns, small
sides broadcast, Python stays out of JVM-only pipelines. Used by
tests/test_plans.py and ad-hoc from tools/.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _explain(df: DataFrame, mode: str) -> str:
    jvm = df.sparkSession._jvm
    jmode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def formatted_plan(df: DataFrame) -> str:
    return _explain(df, "formatted")


def simple_plan(df: DataFrame) -> str:
    return _explain(df, "simple")


def _split_predicates(body: str) -> list[str]:
    """Split a bracket body on TOP-LEVEL commas only — `In(cell, [0,1])`
    is one predicate, not three fragments. Brackets and commas inside
    string literals (``EqualTo(text, "a[b,c")``) don't count."""
    out: list[str] = []
    depth = 0
    in_str = False
    cur: list[str] = []
    for ch in body:
        if ch == '"':
            in_str = not in_str
        elif not in_str:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
        if ch == "," and depth == 0 and not in_str:
            if "".join(cur).strip():
                out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        out.append("".join(cur).strip())
    return out


def _bracket_bodies(plan: str, label: str) -> list[str]:
    """Full bodies of ``label: [...]`` with BALANCED bracket matching —
    ``In(cell, [0,1,2])`` contains a nested ``]`` that a ``[^\\]]*`` regex
    would truncate at, handing _split_predicates a clipped body. Brackets
    inside string literals (``EqualTo(text, "a[b")``) are ignored, else an
    unmatched quoted ``[`` swallows the rest of the plan into the body."""
    bodies: list[str] = []
    for m in re.finditer(re.escape(label) + r":\s*\[", plan):
        depth = 1
        in_str = False
        i = m.end()
        while i < len(plan) and depth:
            ch = plan[i]
            if ch == '"':
                in_str = not in_str
            elif not in_str:
                if ch == "[":
                    depth += 1
                elif ch == "]":
                    depth -= 1
            i += 1
        bodies.append(plan[m.end():i - 1] if depth == 0 else plan[m.end():i])
    return bodies


def pushed_filters(df: DataFrame) -> list[str]:
    """Filter predicates the parquet scan accepted for pushdown."""
    plan = formatted_plan(df)
    out: list[str] = []
    for body in _bracket_bodies(plan, "PushedFilters"):
        out.extend(_split_predicates(body))
    return out


def read_schema_columns(df: DataFrame) -> set[str]:
    """Columns the scan actually reads (column pruning check)."""
    plan = formatted_plan(df)
    cols: set[str] = set()
    for m in re.finditer(r"ReadSchema:\s*struct<([^>]*)>", plan):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.add(name)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in simple_plan(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of exchange operators in the physical plan (pre-AQE)."""
    return simple_plan(df).count("Exchange")


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Distinct whole-stage-codegen stages: ``*(n)`` markers in the simple
    plan plus ``[codegen id : n]`` annotations in the formatted plan."""
    ids = set(re.findall(r"\*\((\d+)\)", simple_plan(df)))
    ids |= set(re.findall(r"\[codegen id : (\d+)\]", formatted_plan(df)))
    return len(ids)


def broadcast_hint_count(df: DataFrame) -> int:
    """Number of explicit broadcast HINTS in the analyzed logical plan.

    A forced ``F.broadcast`` on a fact-side relation is a scale killer:
    the hint bypasses the size threshold, so what fits at sf0.1 OOMs at
    100×. Plans should hint only true dims; auto-broadcast by stats is
    fine (it degrades to shuffle join when estimates grow)."""
    return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")


def exchange_input_columns(df: DataFrame) -> list[set[str]]:
    """Column names entering each shuffle, in plan order — one set per
    ``Exchange`` node's ``Input [n]: [...]`` line in the formatted plan
    (attribute ids like ``span#12`` are stripped to ``span``). Used to
    assert WHAT a shuffle carries, not just that one exists: e.g. the
    exact-substring aggregation must exchange span *hashes*, never the
    raw span strings (byte-amplification bound at 100 TB)."""
    plan = formatted_plan(df)
    out: list[set[str]] = []
    # Formatted plans list each node as "(id) NodeName ..." followed by
    # attribute lines; capture the Input line of Exchange blocks.
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    for block in blocks:
        header = block.split("\n", 1)[0]
        if not re.match(r"\(\d+\) Exchange\b", header.strip()):
            continue
        cols: set[str] = set()
        # attribute lists are flat ("Input [2]: [h1#5L, doc_id#0L]") —
        # top-level comma split still guards names containing brackets
        for m in re.finditer(r"Input \[\d+\]:\s*\[(.*)\]", block):
            for field in _split_predicates(m.group(1)):
                name = field.split("#")[0].strip()
                if name:
                    cols.add(name)
        out.append(cols)
    return out


def python_eval_ops(df: DataFrame) -> int:
    """Arrow/pandas-UDF evaluation operators in the plan — the hot path
    should have exactly as many as the operator intends (usually ≤1)."""
    plan = simple_plan(df)
    return len(re.findall(r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas", plan))
