"""Consumer API facade — the reference's source-registry surface on Spark.

The reference exposes a ``WebCrawler`` wrapper over registered
``DataSource`` objects with a uniform typed surface (web_crawler.py:
22-127): ``get_data(dataId, DataType)``, ``get_all_data(DataType)``,
``prepare()``, plus a module-level ``Init`` bootstrap (__init__.py:19-26).
Downstream (the judyst analytics side) consumes documents through THIS
surface, not through crawler internals — so the Spark engine ships the
same one:

- ``DataType`` / ``DataSourceType`` — the reference enums verbatim
  (web_crawler.py:4-19).
- ``DataSource`` — abstract base with the same name/type validation and
  identity semantics (web_crawler.py:22-75).
- ``CatalogSource`` — the ``DatabaseWrapper`` analogue
  (models/DatabaseWrapper.py:9-146) over a :class:`SnapshotCatalog`:
  headers / texts / links tables, ``cons_selected_info`` JSON-encoded at
  the boundary exactly like ``_prepare_data`` (DatabaseWrapper.py:33-43),
  last-wins upserts for ``put_data`` (:95-134).
- ``WebCrawler`` + ``init`` — registry & bootstrap (web_crawler.py:78-127,
  __init__.py:19-26).

Scale notes (deviations from the reference, documented):
- ``get_all_data`` returns a **DataFrame**, not a dict — a dict of every
  header is a driver-side collect of the whole table, which cannot exist
  at 10^10 docs. ``get_all_data_dict`` keeps the reference's dict shape
  for small sets (tests, notebooks).
- single-document ``get_data`` is a pushed-down ``doc_id = X`` filter; on
  a real deployment the headers table is written bucketed/partitioned so
  this prunes to one file group instead of a scan.
"""

from __future__ import annotations

import json
from enum import Enum

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog


class DataType(Enum):
    """web_crawler.py:4-11."""

    DOCUMENT_HEADER = 0
    DOCUMENT_TEXT = 1
    ANALYZIS_RESULT = 2
    LINK = 3


class DataSourceType(Enum):
    """web_crawler.py:14-19."""

    DATABASE = 0
    WEB_SOURCE = 1


class DataSource:
    """Abstract data source (web_crawler.py:22-75): same constructor
    validation, equality-by-name, and abstract trio."""

    def __init__(self, name: str, source_type: DataSourceType) -> None:
        if not isinstance(name, str):
            raise TypeError("name should be a str")
        if name == "":
            raise ValueError("name shouldn't be empty")
        if not isinstance(source_type, DataSourceType):
            raise TypeError("sourceType should be selected from DataSourceType enum")
        self.source_name = name
        self.source_type = source_type

    def get_data(self, data_id: str, data_type: DataType):
        raise NotImplementedError("abstract method invoked")

    def get_all_data(self, data_type: DataType):
        raise NotImplementedError("abstract method invoked")

    def prepare(self) -> bool:
        raise NotImplementedError("abstract method invoked")

    def __eq__(self, other) -> bool:
        if not isinstance(other, DataSource):
            raise TypeError("other should be an instance of DataSource")
        return self.source_name == other.source_name

    def __ne__(self, other) -> bool:
        return not self.__eq__(other)

    def __hash__(self) -> int:
        return hash((hash(self.source_name), hash(self.source_type)))


# table names inside the catalog (DatabaseWrapper.py:11-12)
HEADERS_TABLE = "headers"
TEXTS_TABLE = "documents"
LINKS_TABLE = "links"

# DatabaseWrapper.py:13-17
DOCUMENT_FIELDS = [
    "supertype", "doc_type", "title", "release_date", "text_source_url",
    "effective_date", "absolute_path", "interredaction_id",
    "cons_selected_info",
]
LINK_FIELDS = ["doc_id_from", "doc_id_to", "positions_list", "citations_number"]


class CatalogSource(DataSource):
    """DatabaseWrapper analogue over SnapshotCatalog tables.

    Headers carry ``cons_selected_info`` as a typed struct/map column
    in-table (SURVEY §1.4: structs inside the engine); the consumer
    surface JSON-encodes it exactly where the reference does
    (``_prepare_data``, DatabaseWrapper.py:39-41)."""

    def __init__(self, name: str, catalog: SnapshotCatalog) -> None:
        super().__init__(name, DataSourceType.DATABASE)
        self.catalog = catalog

    # -- bootstrap ---------------------------------------------------------

    def prepare(self) -> bool:
        """True when the catalog root is usable (DatabaseWrapper.prepare
        :22-23 returns True unconditionally; here we also surface a broken
        catalog as False instead of raising later)."""
        try:
            self.catalog.versions(HEADERS_TABLE)
            return True
        except OSError:
            return False

    # -- reads -------------------------------------------------------------

    def _headers(self) -> DataFrame:
        return self.catalog.read(HEADERS_TABLE)

    def _row_to_header(self, row) -> dict:
        d = row.asDict(recursive=True)
        header = {k: d.get(k) for k in DOCUMENT_FIELDS}
        csi = header.get("cons_selected_info")
        if csi is not None and not isinstance(csi, str):
            # reference boundary encoding (DatabaseWrapper.py:39-41)
            header["cons_selected_info"] = json.dumps(csi, ensure_ascii=False)
        return header

    def get_data(self, data_id: str, data_type: DataType):
        """Single-document lookup (DatabaseWrapper.get_data :65-78):
        header dict / text string; None when absent; ValueError on
        unsupported type. The filter pushes to the parquet scan."""
        if data_type == DataType.DOCUMENT_HEADER:
            rows = self._headers().filter(F.col("doc_id") == data_id).take(1)
            return self._row_to_header(rows[0]) if rows else None
        if data_type == DataType.DOCUMENT_TEXT:
            rows = (
                self.catalog.read(TEXTS_TABLE)
                .filter(F.col("doc_id") == data_id)
                .select("text")
                .take(1)
            )
            return rows[0]["text"] if rows else None
        raise ValueError("Not supported data type")

    def get_all_data(self, data_type: DataType) -> DataFrame:
        """All data of a type, as a DataFrame (scale deviation — see
        module docstring; DatabaseWrapper.get_all_data :81-92 returns a
        dict keyed by doc_id)."""
        if data_type == DataType.DOCUMENT_HEADER:
            df = self._headers()
            cols = ["doc_id"] + [c for c in DOCUMENT_FIELDS if c in df.columns]
            out = df.select(*cols)
            if "cons_selected_info" in out.columns and out.schema[
                "cons_selected_info"
            ].dataType.typeName() != "string":
                out = out.withColumn(
                    "cons_selected_info", F.to_json("cons_selected_info")
                )
            return out
        if data_type == DataType.DOCUMENT_TEXT:
            return self.catalog.read(TEXTS_TABLE).select("doc_id", "text")
        if data_type == DataType.LINK:
            df = self.catalog.read(LINKS_TABLE)
            return df.select(*[c for c in LINK_FIELDS if c in df.columns])
        raise ValueError("Not supported data type")

    def get_all_data_dict(self, data_type: DataType) -> dict:
        """The reference's dict shape for SMALL sets (tests/notebooks) —
        collects; never use on the full corpus."""
        if data_type == DataType.DOCUMENT_HEADER:
            return {
                r["doc_id"]: self._row_to_header(r)
                for r in self._headers().collect()
            }
        if data_type == DataType.DOCUMENT_TEXT:
            return {
                r["doc_id"]: r["text"]
                for r in self.catalog.read(TEXTS_TABLE).select("doc_id", "text").collect()
            }
        raise ValueError("Not supported data type")

    # -- writes ------------------------------------------------------------

    def put_data_df(self, df: DataFrame, data_type: DataType) -> None:
        """Set-oriented ``put_data_collection`` (DatabaseWrapper.py:
        136-146): one MERGE per DataFrame instead of a per-row loop —
        the only shape that works at 10^10 rows. Last-wins on key, like
        the reference's edit-else-create per id (:95-134)."""
        if data_type == DataType.DOCUMENT_HEADER:
            self.catalog.merge_upsert(HEADERS_TABLE, df, keys=["doc_id"])
            return
        if data_type == DataType.DOCUMENT_TEXT:
            self.catalog.merge_upsert(TEXTS_TABLE, df, keys=["doc_id"])
            return
        if data_type == DataType.LINK:
            self.catalog.merge_upsert(
                LINKS_TABLE, df, keys=["doc_id_from", "doc_id_to"]
            )
            return
        raise ValueError("Not supported data type")

    def put_data(self, doc_id: str, data, data_type: DataType) -> None:
        """Single-item upsert (DatabaseWrapper.put_data :95-134) — dict
        header / text string / link dict, routed through the DataFrame
        merge.

        Explicit schemas throughout: the reference accepts partial dicts
        (``data.get`` per field → DB NULLs), and a schemaless
        ``createDataFrame`` cannot infer types from a single row with
        Nones. ``cons_selected_info`` is written in the TABLE's
        representation (typed struct/map when the engine created the
        table; JSON string only when the table stores strings or doesn't
        exist yet) — JSON belongs on the READ boundary
        (DatabaseWrapper.py:39-41), not inside the table."""
        spark = self.catalog.spark
        if data_type == DataType.DOCUMENT_HEADER:
            row = {"doc_id": doc_id, **{k: data.get(k) for k in DOCUMENT_FIELDS}}
            csi = row.pop("cons_selected_info", None)
            if csi is not None and not isinstance(csi, str):
                csi = json.dumps(csi, ensure_ascii=False)
            scalar_fields = [f for f in DOCUMENT_FIELDS if f != "cons_selected_info"]
            schema = ", ".join(["doc_id string"] + [f"{f} string" for f in scalar_fields])
            df = spark.createDataFrame(
                [tuple([row["doc_id"]] + [row.get(f) for f in scalar_fields])], schema
            )
            csi_col = F.lit(csi).cast("string")
            if self.catalog.exists(HEADERS_TABLE):
                target = self.catalog.read(HEADERS_TABLE).schema
                if "cons_selected_info" in target.names:
                    t = target["cons_selected_info"].dataType
                    if t.typeName() != "string":
                        csi_col = F.from_json(F.lit(csi), t)
            df = df.withColumn("cons_selected_info", csi_col)
            self.put_data_df(df, data_type)
            return
        if data_type == DataType.DOCUMENT_TEXT:
            df = spark.createDataFrame([(doc_id, data)], "doc_id string, text string")
            self.put_data_df(df, data_type)
            return
        if data_type == DataType.LINK:
            row = {k: data.get(k) for k in LINK_FIELDS}
            if row.get("positions_list") is not None:
                # citations_number = len(positions_list), each position
                # JSON-encoded (DatabaseWrapper.py:33-37)
                row["citations_number"] = len(row["positions_list"])
                row["positions_list"] = [
                    json.dumps(p, ensure_ascii=False) for p in row["positions_list"]
                ]
            df = spark.createDataFrame(
                [tuple(row.get(f) for f in LINK_FIELDS)],
                "doc_id_from string, doc_id_to string, "
                "positions_list array<string>, citations_number long",
            )
            self.put_data_df(df, data_type)
            return
        raise ValueError("Not supported data type")


class WebCrawler:
    """Source registry (web_crawler.py:78-127): collected vs prepared
    ("available") sources; ``prepare_sources`` moves a source to
    available only when its ``prepare()`` returns True, wiring an
    optional database via ``set_database`` first."""

    def __init__(self, data_sources: list[DataSource]) -> None:
        self.available_sources: dict[str, DataSource] = {}
        self.collected_sources: dict[str, DataSource] = {}
        for ds in data_sources:
            if not isinstance(ds, DataSource):
                raise TypeError(
                    "dataSources's elements should be instances of DataSource"
                )
            if ds.source_name in self.collected_sources:
                raise ValueError("names of the data sources should be unique.")
            self.collected_sources[ds.source_name] = ds

    def get_data_source(self, name: str) -> DataSource | None:
        return self.available_sources.get(name)

    def _prepare_source(self, ds: DataSource, database_source) -> None:
        if ds.source_name not in self.available_sources:
            if hasattr(ds, "set_database"):
                ds.set_database(database_source)
            if ds.prepare():
                self.available_sources[ds.source_name] = ds

    def prepare_sources(
        self, sources_name_list: list[str] | None = None, database_source=None
    ) -> None:
        for name, ds in self.collected_sources.items():
            if sources_name_list is None or name in sources_name_list:
                self._prepare_source(ds, database_source)


def init(
    spark: SparkSession,
    catalog_root: str,
    source_name: str = "CatalogSource",
    extra_sources: list[DataSource] | None = None,
) -> WebCrawler:
    """``Init`` analogue (__init__.py:19-26): build the default catalog
    source, register it (plus any extras), prepare, return the crawler."""
    cat = SnapshotCatalog(spark, catalog_root)
    sources: list[DataSource] = [CatalogSource(source_name, cat)]
    sources.extend(extra_sources or [])
    crawler = WebCrawler(sources)
    crawler.prepare_sources()
    return crawler


# ------------------------------------------------------------------ ETL
# One-shot batch pipelines matching the reference's tools.py surface.


def fill_data_source_from_file(
    spark: SparkSession,
    path: str,
    target: CatalogSource,
    data_type: DataType = DataType.DOCUMENT_HEADER,
) -> int:
    """Jsonlines file → catalog upsert, in one MERGE (reference
    ``fill_data_source_from_file``, tools.py:20-43, which loops
    ``put_data`` per record). Headers carrying a ``'not unique'`` marker
    are dropped (P8, ksrf.py:194); link records get ``citations_number``
    recomputed from the positions list (A2, DatabaseWrapper.py:33-37 —
    both already inside the jsonio readers). Returns rows ingested.

    SINGLE-FILE contract: the last-wins rule below relies on
    ``monotonically_increasing_id`` tracking byte offset, which holds for
    one uncompressed jsonlines file (splits are packed in offset order)
    but NOT for a directory/glob — multi-file partition order follows
    file-size order, so "max _seq" would no longer mean "last record".
    Directories/globs are rejected rather than silently mis-ordered;
    ingest multiple files by calling per file (the reference's surface is
    likewise one file per call, tools.py:20)."""
    from judyst_web_crawler_spark.sources import jsonio

    # directory detection goes through Hadoop's FileSystem, not
    # os.path.isdir: a directory handed as a file:/hdfs:/s3a: URI is
    # invisible to the local check but would silently get the
    # mis-ordered multi-file semantics this guard exists to reject
    def _is_dir(p: str) -> bool:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(p)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jpath)) and bool(fs.getFileStatus(jpath).isDirectory())

    if any(ch in path for ch in "*?[") or _is_dir(path):
        raise ValueError(
            "fill_data_source_from_file ingests a SINGLE jsonlines file "
            f"(got {path!r}): the last-record-wins ordering is only "
            "defined within one file — call once per file instead"
        )

    if data_type == DataType.DOCUMENT_HEADER:
        df = jsonio.filter_unique_headers(
            jsonio.read_headers_jsonlines(spark, path)
        ).drop("not_unique")
        keys = ["doc_id"]
    elif data_type == DataType.LINK:
        df = jsonio.read_links_jsonlines(spark, path)
        keys = ["doc_id_from", "doc_id_to"]
    else:
        raise ValueError("Not supported data type")
    # merge_upsert requires key-unique updates (catalog.py contract); a
    # jsonlines file may carry several records per key, and the reference
    # loops put_data per record so the LAST record wins (tools.py:20-43).
    # monotonically_increasing_id over a single-file text read increases
    # with byte offset (partition index in the high bits, partitions split
    # by offset), so "max _seq" = "last line in the file" — the same
    # last-wins rule, without handing duplicate keys to the merge.
    w = Window.partitionBy(*keys).orderBy(F.col("_seq").desc())
    df = (
        df.withColumn("_seq", F.monotonically_increasing_id())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_seq")
    )
    # materialize once: the merge and the returned count must not re-read
    # (and possibly re-parse) the input file twice
    df = df.localCheckpoint(eager=True)
    target.put_data_df(df, data_type)
    return df.count()


def update_database_from_source(
    database: CatalogSource,
    source: DataSource,
    fetch_fn=None,
    refresh: bool = False,
) -> dict:
    """One-shot "headers → store, then backfill texts" ETL (reference
    ``updatae_database_from_source`` [sic], tools.py:50-68).

    The reference upserts every header, then loops uid-by-uid calling the
    source's get-or-fetch ``get_data(uid, DOCUMENT_TEXT)`` (ksrf.py:
    258-274) and writing each text back. Set-oriented here: ONE header
    merge, ONE anti-join for ids whose text is missing from the database,
    ONE text merge — the only shape that survives 10^10 ids. ``fetch_fn
    (missing_ids_df) -> DataFrame(doc_id, text)`` plays the download leg
    for ids the source's own text table lacks (optional — without it the
    backfill uses source texts only, no network stand-in).

    ``refresh`` picks the text-propagation semantics:

    - ``False`` (default): backfill ONLY ids whose text is missing from
      the database. This is a DELIBERATE deviation from the reference,
      which re-puts the source's text for every header uid on every run
      (tools.py:58-67) — at corpus scale that is a full-corpus rewrite
      per invocation; the default touches only the delta.
    - ``True``: reference semantics — every header uid's text is re-read
      from the source (or fetched) and last-wins upserted, so a
      re-crawled/updated source text propagates over a stale database
      copy. Use for correction passes; cost is O(all texts).

    Returns ``{"headers": n, "texts_backfilled": n}``."""
    # consumed three times (count, header merge, missing-ids anti-join) —
    # materialize once, same one-materialization rule as
    # fill_data_source_from_file; headers are skinny, never the corpus
    headers = source.get_all_data(DataType.DOCUMENT_HEADER).localCheckpoint(eager=True)
    n_headers = headers.count()
    database.put_data_df(headers, DataType.DOCUMENT_HEADER)

    want = headers.select("doc_id")
    if refresh or not database.catalog.exists(TEXTS_TABLE):
        missing = want
    else:
        have = database.catalog.read(TEXTS_TABLE).select("doc_id")
        missing = want.join(have, "doc_id", "left_anti")
    # a headers-only source (the canonical flow: headers from a jsonl
    # fill, texts to arrive via fetch_fn) has no texts table at all —
    # the reference handles this by fetching per-uid (tools.py:58-66);
    # here the source leg degrades to empty and fetch_fn covers everything
    if isinstance(source, CatalogSource) and not source.catalog.exists(TEXTS_TABLE):
        src_texts = want.limit(0).withColumn("text", F.lit(None).cast("string"))
    else:
        src_texts = source.get_all_data(DataType.DOCUMENT_TEXT).select("doc_id", "text")
    # src_texts is scanned twice (left_semi below, left_anti in the fetch
    # leg) — deliberately NOT checkpointed: the anti side reads only the
    # column-pruned doc_id, far cheaper than materializing the text column
    texts = src_texts.join(missing, "doc_id", "left_semi")
    if fetch_fn is not None:
        unfetched = missing.join(src_texts.select("doc_id"), "doc_id", "left_anti")
        texts = texts.unionByName(fetch_fn(unfetched).select("doc_id", "text"))
    texts = texts.localCheckpoint(eager=True)
    n_texts = texts.count()
    if n_texts:
        database.put_data_df(texts, DataType.DOCUMENT_TEXT)
    return {"headers": n_headers, "texts_backfilled": n_texts}
