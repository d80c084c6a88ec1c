"""Seeded workload inputs and the counts a correct run must reproduce.

Pages come from the package's own ``datagen.pages_df`` (its ``text``
column is the extraction oracle). Everything else — the seed stream,
the robots/budget table, mirror urls and the operator-suite tables — is
built here from ``numpy.random.default_rng(seed)``, so one seed gives one
input and the expected retirement counts follow from the generator, not
from the engine's output.

The seed stream exercises every retirement branch of a wave:

- ``scheduled``: every page url once;
- ``dup``: canonical-key variants of page urls with worse priority —
  upper-case scheme/host at bootstrap (retire as intra-wave dups) and
  ``#fragment`` variants enqueued mid-crawl (retire as seen dups, or
  intra-wave dups when their base is still pending);
- ``robots_denied``: urls under a deny prefix on the hosts that have one;
- ``fetch_miss``: urls the pages table does not hold.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from urllib.parse import urlsplit

import numpy as np
import pandas as pd

DENY_PREFIX = "/ru/Decision/Pages/private/"
MIRROR_FROM, MIRROR_TO = "/ru/Decision/", "/ru/mirror/"


@dataclass
class CrawlInputs:
    pages_path: str
    seeds: pd.DataFrame  # url, page_seq, intra_page_seq (bootstrap)
    late_seeds: pd.DataFrame  # same columns, enqueued at depth 1 mid-crawl
    politeness: pd.DataFrame  # host, budget, robots_allow, robots_deny, crawl_delay_s
    oracle: pd.DataFrame  # url, text
    budget: int
    expected: dict[str, int]  # retire_status -> count
    mirror_pairs: list[tuple[str, str]] = field(default_factory=list)  # (base url, mirror url)


def _host(url: str) -> str:
    return urlsplit(url).netloc


def crawl_inputs(
    spark,
    work: str,
    seed: int,
    n_pages: int,
    n_hosts: int,
    body_repeats: int,
    budget: int,
    share: float,
    mirror_share: float = 0.0,
    late_variants: bool = False,
) -> CrawlInputs:
    """Write the pages table under ``work`` and derive the seed stream.

    ``share`` sizes each extra seed class (variants, denied, misses) as a
    fraction of ``n_pages``; ``mirror_share`` adds same-body mirror pages
    under ``MIRROR_TO``."""
    from pyspark.sql import functions as F

    from judyst_web_crawler_spark import datagen

    rng = np.random.default_rng(seed)
    pages = datagen.pages_df(
        spark, n_rows=n_pages, n_hosts=n_hosts, seed=seed, body_repeats=body_repeats
    )
    mirror_pairs: list[tuple[str, str]] = []
    if mirror_share:
        ids = rng.choice(n_pages, size=max(1, int(n_pages * mirror_share)), replace=False)
        mirrors = pages.filter(
            F.regexp_extract("url", r"doc(\d+)\.pdf$", 1).cast("long").isin([int(i) for i in ids])
        ).withColumn("url", F.regexp_replace("url", MIRROR_FROM, MIRROR_TO))
        pages = pages.unionByName(mirrors)
    pages_path = os.path.join(work, "pages")
    pages.write.mode("overwrite").parquet(pages_path)
    oracle = spark.read.parquet(pages_path).select("url", "text").toPandas()
    urls = sorted(oracle["url"])
    if mirror_share:
        mirror_urls = [u for u in urls if MIRROR_TO in u]
        mirror_pairs = [(u.replace(MIRROR_TO, MIRROR_FROM), u) for u in mirror_urls]
    hosts = sorted({_host(u) for u in urls})
    deny_hosts = hosts[::2]
    n_extra = max(1, int(n_pages * share))

    def seed_rows(url_list, worse=0):
        n = len(url_list)
        return pd.DataFrame(
            {
                "url": url_list,
                "page_seq": rng.integers(0, 50, n).astype("int32") + worse,
                "intra_page_seq": rng.integers(0, 100, n).astype("int32"),
            }
        )

    base = seed_rows(urls)
    order = rng.permutation(len(urls))
    early = [urls[i] for i in order[:n_extra]]
    late = [urls[i] for i in order[n_extra : 2 * n_extra]] if late_variants else []
    upper = []
    for u in early:
        parts = urlsplit(u)
        upper.append(f"{parts.scheme.upper()}://{parts.netloc.upper()}{u[len(parts.scheme) + 3 + len(parts.netloc):]}")
    denied = [
        f"http://{deny_hosts[i % len(deny_hosts)]}{DENY_PREFIX}doc{i}.pdf" for i in range(n_extra)
    ]
    missing = [
        f"http://{hosts[int(rng.integers(len(hosts)))]}/ru/Decision/Pages/missing/doc{i}.pdf"
        for i in range(n_extra)
    ]
    # worse priority than any base row: page_seq ranges don't overlap
    seeds = pd.concat(
        [base, seed_rows(upper, worse=100), seed_rows(denied), seed_rows(missing)],
        ignore_index=True,
    )
    late_seeds = seed_rows([u + "#p2" for u in late], worse=100)
    politeness = pd.DataFrame(
        {
            "host": hosts,
            "budget": budget,
            "robots_allow": [None] * len(hosts),
            "robots_deny": [[DENY_PREFIX] if h in deny_hosts else None for h in hosts],
            "crawl_delay_s": 1.0,
        }
    )
    expected = {
        "scheduled": len(urls),
        "dup": len(upper) + len(late_seeds),
        "robots_denied": len(denied),
        "fetch_miss": len(missing),
    }
    return CrawlInputs(
        pages_path, seeds, late_seeds, politeness, oracle, budget, expected, mirror_pairs
    )


POLITENESS_SCHEMA = (
    "host string, budget int, robots_allow array<string>, "
    "robots_deny array<string>, crawl_delay_s double"
)
SEEDS_SCHEMA = "url string, page_seq int, intra_page_seq int"


# -- operator-suite tables ---------------------------------------------------

VOCAB = (
    "a the data row column table key value join agg group sort order merge hash "
    "scan filter window batch stream spark query line part customer vector big "
    "small fast slow"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def _ts(base: str, seconds: np.ndarray) -> pd.Series:
    return pd.Timestamp(base) + pd.to_timedelta(seconds, unit="s")


def suite_tables(seed: int, scale: float = 1.0) -> dict[str, pd.DataFrame]:
    """The star-schema, events, documents and embeddings tables the
    headline queries read, at ``scale`` × (6k lineitem, 500 documents)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_orders, n_items, n_docs, n_events, n_users = (
        max(1, int(n * scale)) for n in (150, 10, 200, 1500, 6000, 500, 1000, 15)
    )
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS})
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }
    )
    adjectives, nouns = ["small", "red", "blue", "cold", "big"], ["ring", "widget", "bolt", "gear"]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
        }
    )
    order_days = rng.integers(0, 2400, n_orders)
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 300000, n_orders), 2),
            "o_orderdate": _ts("1995-01-01", order_days * 86400),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
        }
    )
    li_order = rng.integers(0, n_orders, n_items)
    qty = rng.integers(1, 51, n_items).astype("float64")
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": li_order.astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_items).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_items).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_items).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_items), 2),
            "l_discount": rng.integers(0, 11, n_items) / 100.0,
            "l_tax": rng.integers(0, 9, n_items) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_items),
            "l_linestatus": rng.choice(["F", "O"], n_items),
            "l_shipdate": _ts("1995-01-01", (order_days[li_order] + rng.integers(1, 120, n_items)) * 86400),
        }
    )
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, n_events))),
            "user_id": rng.integers(0, n_users, n_events).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.uniform(0, 330, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.06:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 90)))))
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype="int64"),
        }
    )
    emb = rng.normal(size=(n_docs, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_docs, dtype="int64"),
            "embedding": list(emb),
            "label": rng.integers(0, 10, n_docs).astype("int32"),
        }
    )
    return t


def write_suite_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table, as the queries expect."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        # Spark reads microsecond, not nanosecond, parquet timestamps
        df.to_parquet(
            os.path.join(out_dir, f"{name}.parquet"),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
