"""The one laziness policy shared by every operator that returns a DataFrame.

An operator cuts each intermediate it consumes more than once with
:func:`cut` (an eager ``localCheckpoint``), so an expensive subplan —
above all an Arrow signature pass — runs exactly once per call, and
returns a LAZY plan over those cuts. It never checkpoints its result,
never hands out persisted handles and has no mode flag. The frontier's
wave loop follows the same rule.

Lifetime trade-off, stated once: a cut's blocks live on the executors
and are freed by Spark's ContextCleaner once the result that reads them
is garbage-collected on the driver — nothing reaches the Dataset cache,
so nothing accumulates until LRU pressure on a long-lived driver. A cut
truncates lineage: after executor loss the returned plan cannot
recompute the cut part, and the caller re-runs the operator.

Operators call ``cache.cut(...)`` through the module, so a test can
monkeypatch it to the identity and inspect the full lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cut(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and return a plan that reads it back."""
    return df.localCheckpoint(eager=True)
