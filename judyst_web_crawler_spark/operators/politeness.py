"""Per-host politeness budgets + robots rules inside salted host groups.

The reference is single-threaded, so its implicit politeness is "one
request in flight globally" (SURVEY §2.8). The engine makes the policy
explicit and distributed (north_star BASELINE.json:6):

- robots.txt rules live in a small per-host table — broadcast-joined
  (Catalyst picks BHJ; the table is tiny relative to the frontier);
- the fetch budget is per host per wave, enforced by rank-within-group;
- skewed giant hosts are split into ``n_salts`` deterministic shards
  (``pmod(xxhash64(url), n_salts)``), and the host budget is pre-split
  across shards (integer division + remainder to the low shards) so the
  global per-host budget holds EXACTLY even though no single task ever
  sees the whole host (SURVEY §7 "Politeness × salting").

Ordering parity: with n_salts=1 and budget=1 on a single host, emission
order degenerates to the reference's sequential order
(page_seq, intra_page_seq) — ksrf.py:107-110; tests/test_politeness_order.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from judyst_web_crawler_spark.functions.canonical import url_path

PRIORITY_COLS = ["depth", "page_seq", "intra_page_seq"]


def priority_order() -> list[Column]:
    """The reference crawl order as a deterministic sort key (O1)."""
    return [F.col(c).asc_nulls_last() for c in PRIORITY_COLS]


def parse_robots_txt(robots: DataFrame, host_col: str = "host", body_col: str = "robots_txt") -> DataFrame:
    """(host, robots.txt body) → the engine's rules table
    ``(host, robots_allow array, robots_deny array, crawl_delay_s)``.

    Understands the User-agent: * group, Allow/Disallow prefixes and
    Crawl-delay. The reference has no robots handling at all (SURVEY
    §2.8); this is the engine-added hook the north rule requires. Parsing
    is a pandas UDF (line-oriented, per host — robots files are tiny);
    enforcement stays the broadcast join in ``apply_robots``.
    """
    import pandas as pd

    def parse(pdf: "pd.DataFrame") -> "pd.DataFrame":
        rows = {"host": [], "robots_allow": [], "robots_deny": [], "crawl_delay_s": []}
        for host, body in zip(pdf[host_col], pdf[body_col]):
            allow: list[str] = []
            deny: list[str] = []
            delay = None
            in_star = False
            for raw in (body or "").splitlines():
                line = raw.split("#", 1)[0].strip()
                if not line or ":" not in line:
                    continue
                key, _, val = line.partition(":")
                key = key.strip().lower()
                val = val.strip()
                if key == "user-agent":
                    in_star = val == "*"
                elif in_star and key == "allow" and val:
                    allow.append(val)
                elif in_star and key == "disallow":
                    if val:
                        deny.append(val)
                elif in_star and key == "crawl-delay":
                    try:
                        delay = float(val)
                    except ValueError:
                        pass
            rows["host"].append(host)
            rows["robots_allow"].append(allow if allow else None)
            rows["robots_deny"].append(deny if deny else None)
            rows["crawl_delay_s"].append(delay)
        return pd.DataFrame(rows)

    schema = (
        "host string, robots_allow array<string>, robots_deny array<string>, "
        "crawl_delay_s double"
    )

    def run(batches):
        for pdf in batches:
            yield parse(pdf)

    return robots.select(host_col, body_col).mapInPandas(run, schema)


def robots_allowed(url: str = "url") -> Column:
    """The robots rule over the joined ``robots_allow``/``robots_deny``
    columns: an allow-prefix must match AND no deny-prefix may match.
    Null rules (host not in the table) allow — default-permit, like the
    reference, which has no robots handling (SURVEY §2.8)."""
    path = url_path(url)
    starts = lambda p: F.startswith(path, p)  # noqa: E731
    allowed = F.col("robots_allow").isNull() | F.exists("robots_allow", starts)
    denied = F.col("robots_deny").isNotNull() & F.exists("robots_deny", starts)
    return F.coalesce(allowed & ~denied, F.lit(False))


def apply_robots(frontier: DataFrame, politeness: DataFrame) -> DataFrame:
    """Keep URLs allowed by the host's robots rules (``robots_allowed``)."""
    rules = F.broadcast(politeness.select("host", "robots_allow", "robots_deny"))
    return (
        frontier.join(rules, on="host", how="left")
        .filter(robots_allowed())
        .drop("robots_allow", "robots_deny")
    )


def budget_from_crawl_delay(
    politeness: DataFrame, wave_seconds: float, default_budget: int = 1
) -> DataFrame:
    """Derive per-host wave budgets from robots Crawl-delay: a host
    allowing one request per ``d`` seconds gets ``floor(wave_seconds/d)``
    fetches per wave (≥1). Hosts without a delay keep their configured
    budget, else ``default_budget``. Output feeds ``budget_topk``."""
    configured = (
        F.coalesce(F.col("budget"), F.lit(default_budget))
        if "budget" in politeness.columns
        else F.lit(default_budget)
    )
    derived = F.when(
        F.col("crawl_delay_s").isNotNull() & (F.col("crawl_delay_s") > 0),
        F.greatest(F.floor(F.lit(float(wave_seconds)) / F.col("crawl_delay_s")), F.lit(1)),
    ).otherwise(configured)
    cols = [c for c in politeness.columns if c != "budget"]
    return politeness.select(*cols, derived.cast("int").alias("budget"))


def budget_rank(
    df: DataFrame, budget: Column, n_salts: int = 1, first: Column | None = None
) -> DataFrame:
    """Add ``_rank`` (best priority first within the url's (host, salt)
    shard; rows where ``first`` holds rank before all others) and
    ``_share`` (the shard's part of ``budget``: budget//eff, plus 1 below
    budget%eff). A row is within budget when ``_rank <= _share``."""
    # a host's effective salt count never exceeds its budget — otherwise
    # salts >= budget%n would get share 0 and their URLs (salt is a pure
    # function of url) would starve FOREVER
    eff = F.greatest(F.least(F.lit(n_salts), budget), F.lit(1))
    salt = F.pmod(F.xxhash64("url"), eff).cast("int") if n_salts > 1 else F.lit(0)
    share = (budget / eff).cast("int") + F.when(salt < budget % eff, 1).otherwise(0)
    order = ([] if first is None else [(~first).asc()]) + priority_order()
    w = Window.partitionBy("host", "_salt").orderBy(*order)
    return (
        df.withColumn("_salt", salt)
        .withColumn("_share", share)
        .withColumn("_rank", F.row_number().over(w))
        .drop("_salt")
    )


def budget_topk(
    frontier: DataFrame,
    politeness: DataFrame | None = None,
    default_budget: int = 1,
    n_salts: int = 1,
) -> DataFrame:
    """Select ≤budget URLs per host (``politeness.budget``, else
    ``default_budget``) for this wave, best-priority first; salted shards
    (n_salts>1) spread a giant host over tasks and never exceed it."""
    budget = F.lit(default_budget)
    if politeness is not None:
        frontier = frontier.join(F.broadcast(politeness.select("host", "budget")), on="host", how="left")
        budget = F.coalesce(F.col("budget"), budget)
    out = budget_rank(frontier, budget, n_salts).filter(F.col("_rank") <= F.col("_share"))
    out = out.drop("_rank", "_share")
    return out.drop("budget") if politeness is not None else out
