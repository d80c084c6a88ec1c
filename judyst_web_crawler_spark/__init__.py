"""judyst_web_crawler_spark — a from-scratch PySpark-native URL-frontier,
fetch-scheduler and extraction engine.

Re-expresses the capabilities of the reference crawler
(robot-lab/judyst-web-crawler, /root/reference) as idiomatic Spark:

- DataFrame-only frontier algebra (canonicalize → seen-filter → dedup →
  politeness top-k → extract → merge), SURVEY.md §2/§7.
- Exact URL-seen: a correlated EXISTS against the committed seen set.
- Per-host politeness budgets inside (optionally salted) host groups.
- Byte-identical text extraction (reference ksrf.py:154-159 regex) as
  Arrow pandas UDFs.
- Parquet-dir snapshot catalog emulating Iceberg append/resume semantics.

Everything here derives from public knowledge only: the Apache Spark API
and the reference repo's observable behavior.
"""

__version__ = "0.1.0"
