"""Snapshot table catalog — parquet dirs + one catalog-level log.

The engine's state tables (``seen``, ``frontier_state``, ``processed``,
``headers``, ``documents``, ``metrics`` — FIXTURES.md §6) need Iceberg
semantics: atomic commits, last-wins upsert, snapshot time travel for
resume (reference checkpoint protocol law_codes.py:752-776,:911-928).
This sandbox has no Iceberg runtime jar, so this module emulates the
same API over plain parquet directories and one JSON log:

- the log ``_log/v<N>.json`` is the only commit record: entry N lists
  every table's version, data dirs and schema, plus the last published
  ``wave``. Readers only see dirs a published entry names;
- every write goes to a fresh uuid-named ``<table>/data/<uuid>/`` dir,
  so no writer overwrites another's files. Dirs staged by a killed
  process stay on disk, unread (only a transaction's own abort deletes
  dirs: an unnamed dir may belong to another writer's open transaction);
- a publish ``os.link``s entry base+1 into place from a temp file. The
  link fails when the name exists, so of two writers on one base one
  wins and the other gets ``CommitConflict`` (a rename would silently
  replace the winner's entry);
- ``with catalog.transaction(wave=w):`` groups writes to any tables into
  one publish, all visible together or none (Iceberg's multi-table
  ``POST /v1/{prefix}/transactions/commit``). Reads inside see the entry
  it opened on; an exception deletes the dirs it staged. Outside a
  ``with`` block every write is a one-op transaction;
- a table's version grows by one per publish that touches it; time
  travel reads the dirs an older entry names;
- each table's schema is kept in the column order and all-nullable form
  a parquet footer read would infer. Every read passes it to
  ``spark.read.schema``, so reading a table launches no Spark job, and
  ``append`` refuses a frame whose columns differ from it;
- ``merge_upsert`` re-expresses ``MERGE INTO ... WHEN MATCHED UPDATE WHEN
  NOT MATCHED INSERT`` (SURVEY §2.1 S11-S13) as anti-join + union +
  overwrite-snapshot. On a real cluster this whole class is replaced by
  the Iceberg catalog (``CREATE TABLE``/``MERGE INTO``) — a config flip,
  not a redesign (SURVEY §7 "Iceberg availability").
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_NULLABILITY_KEYS = ("nullable", "containsNull", "valueContainsNull")
_EMPTY = {"version": 0, "wave": None, "tables": {}}


class CommitConflict(RuntimeError):
    """Another writer published the log entry this commit would have."""


def _as_read(schema: StructType, partition_by: list[str] | None) -> StructType:
    """The schema a footer read of a dir written from ``schema`` infers:
    every field, array element and map value nullable, partition columns
    last."""

    def nullable(t):
        if isinstance(t, dict):
            return {k: True if k in _NULLABILITY_KEYS else nullable(v) for k, v in t.items()}
        if isinstance(t, list):
            return [nullable(v) for v in t]
        return t

    fields = nullable(schema.jsonValue())["fields"]
    last = [f for p in partition_by or [] for f in fields if f["name"] == p]
    fields = [f for f in fields if f not in last] + last
    return StructType.fromJson({"type": "struct", "fields": fields})


class _Transaction:
    def __init__(self, base: dict, wave: int | None):
        # the entry it opened on; staged table states; staged data dirs
        # (deleted on abort)
        self.base, self.wave, self.tables, self.dirs = base, wave, {}, []


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._log = os.path.join(root, "_log")
        old = [] if os.path.isdir(self._log) else sorted(glob.glob(os.path.join(root, "*", "data")))
        if old:
            raise ValueError(
                f"catalog {root}: {old} hold table data but there is no _log/ (written by older code); rewrite the tables"
            )
        os.makedirs(self._log, exist_ok=True)
        names = (re.fullmatch(r"v(\d+)\.json", f) for f in os.listdir(self._log))
        self._head_v = max((int(m.group(1)) for m in names if m), default=0)
        self._head_entry = None
        self._txn: _Transaction | None = None

    # -- the log -----------------------------------------------------------

    def _entry_path(self, v: int) -> str:
        return os.path.join(self._log, f"v{v}.json")

    def _entry(self, v: int) -> dict:
        if v == 0:
            return _EMPTY
        with open(self._entry_path(v)) as f:
            return json.load(f)

    def _head(self) -> dict:
        """The latest published entry. Entries are numbered without gaps
        and never change, so only names past the last one seen can be
        new."""
        v = self._head_v
        while os.path.exists(self._entry_path(v + 1)):
            v += 1
        if self._head_entry is None or v != self._head_v:
            self._head_v, self._head_entry = v, self._entry(v)
        return self._head_entry

    def _visible(self) -> dict:
        """The entry reads see: the open transaction's base, else the head."""
        return self._txn.base if self._txn is not None else self._head()

    def _publish(self, txn: _Transaction) -> None:
        base = txn.base
        v = base["version"] + 1
        wave = base["wave"] if txn.wave is None else txn.wave
        entry = {"version": v, "wave": wave, "tables": {**base["tables"], **txn.tables}}
        tmp = os.path.join(self._log, f".v{v}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(entry, f)
        try:
            os.link(tmp, self._entry_path(v))  # the commit point
        except FileExistsError:
            raise CommitConflict(f"catalog {self.root}: another writer published log entry v{v}") from None
        finally:
            os.unlink(tmp)
        self._head_v, self._head_entry = v, entry

    @contextlib.contextmanager
    def transaction(self, wave: int | None = None):
        """Publish every write made inside the block as one log entry,
        which records ``wave`` (default: the base entry's). A block that
        writes nothing publishes nothing. Opening a transaction while one
        is open joins the open one."""
        if self._txn is not None:
            if wave is not None:
                self._txn.wave = wave
            yield
            return
        self._txn = txn = _Transaction(self._head(), wave)
        try:
            yield
            if txn.tables:
                self._publish(txn)
        except BaseException:
            for d in txn.dirs:
                shutil.rmtree(d, ignore_errors=True)
            raise
        finally:
            self._txn = None

    def last_wave(self) -> int | None:
        """The ``wave`` recorded by the last publish that named one."""
        return self._visible()["wave"]

    # -- table state -------------------------------------------------------

    def _table(self, name: str) -> dict | None:
        return self._visible()["tables"].get(name)

    def _state(self, name: str, version: int | None) -> dict:
        """The table state at ``version`` (default: current). A version
        staged by the open transaction resolves to its staged state."""
        txn = self._txn
        if txn is not None and version is not None and txn.tables.get(name, {}).get("version") == version:
            return txn.tables[name]
        entry = self._visible()
        v, t = entry["version"], entry["tables"].get(name)
        while t is not None and version is not None and t["version"] > version:
            v -= 1
            t = self._entry(v)["tables"].get(name)
        if t is None or version not in (None, t["version"]):
            raise FileNotFoundError(f"table {name} has no snapshot" + ("s" if version is None else f" {version}"))
        return t

    def versions(self, name: str) -> list[int]:
        t = self._table(name)
        return list(range(1, t["version"] + 1)) if t else []

    def current_version(self, name: str) -> int | None:
        t = self._table(name)
        return t["version"] if t else None

    def exists(self, name: str) -> bool:
        return self._table(name) is not None

    def n_dirs(self, name: str) -> int:
        t = self._table(name)
        return len(t["dirs"]) if t else 0

    # -- table ops ---------------------------------------------------------

    def _reader(self, t: dict):
        return self.spark.read.schema(StructType.fromJson(t["schema"]))

    def read(self, name: str, version: int | None = None) -> DataFrame:
        t = self._state(name, version)
        reader = self._reader(t)
        dirs = [os.path.join(self.root, d) for d in t["dirs"]]
        # multiple snapshot dirs may each carry hive partition subdirs;
        # per-dir reads + union keep partition discovery rooted correctly
        # (and a partitioned dir puts its partition columns last while an
        # unpartitioned one keeps the schema's order: union by name)
        out = reader.parquet(dirs[0])
        for d in dirs[1:]:
            out = out.unionByName(reader.parquet(d))
        return out

    def _write(self, name: str, df: DataFrame, partition_by=None, dirs=(), schema=None) -> int:
        """Write ``df`` to a fresh data dir and stage the table as
        ``dirs`` + that dir; returns the version the publish gives it."""
        with self.transaction():
            txn = self._txn
            rel = os.path.join(name, "data", uuid.uuid4().hex)
            txn.dirs.append(os.path.join(self.root, rel))
            writer = df.write
            if partition_by:
                # hive-style layout → partition pruning on read (e.g. the
                # frontier's priority bands: a wave reading band<=k scans
                # only those directories — SURVEY §4 custom-op 3)
                writer = writer.partitionBy(*partition_by)
            writer.parquet(txn.dirs[-1])
            base = txn.base["tables"].get(name)
            txn.tables[name] = {
                "version": (base["version"] if base else 0) + 1,
                "dirs": [*dirs, rel],
                "schema": (schema or _as_read(df.schema, partition_by)).jsonValue(),
            }
            return txn.tables[name]["version"]

    def append(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> int:
        with self.transaction():
            prev = self._txn.tables.get(name) or self._table(name)
            if prev is None:
                return self._write(name, df, partition_by)
            schema = StructType.fromJson(prev["schema"])
            have = {f.name: f.dataType for f in schema}
            got = {f.name: f.dataType for f in _as_read(df.schema, None)}
            differ = sorted(c for c in have.keys() | got.keys() if have.get(c) != got.get(c))
            if differ:
                raise ValueError(f"append to table {name}: columns {differ} differ from its schema")
            # the table keeps its first commit's column order
            return self._write(name, df, partition_by, prev["dirs"], schema)

    def overwrite(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> int:
        return self._write(name, df, partition_by)

    def merge_upsert(self, name: str, updates: DataFrame, keys: list[str]) -> int:
        """MERGE INTO <name> USING updates ON keys — last-wins update.

        Equivalent plan: current LEFT ANTI JOIN updates (drop matched)
        UNION updates. Requires updates to be key-unique (caller dedupes).
        """
        with self.transaction():
            if not self.exists(name):
                return self.overwrite(name, updates)
            current = self.read(name)
            kept = current.join(updates.select(*keys), on=keys, how="left_anti")
            return self._write(name, kept.unionByName(updates.select(*current.columns)))

    def read_last_append(self, name: str, version: int) -> DataFrame:
        """Read ONLY the data dir added by the ``append`` that committed
        (or, inside a transaction, staged) ``version``: the table state's
        last dir. The delta-read for write-then-reuse patterns: a wave
        that appends N rows and then derives follow-up commits from them
        must not re-scan the whole accumulated table (O(total) per wave —
        the crawl slows down as it progresses). Iceberg's analogue is an
        incremental read of one snapshot. Only valid straight after an
        append, before any compaction of this table."""
        t = self._state(name, version)
        return self._reader(t).parquet(os.path.join(self.root, t["dirs"][-1]))

    def compact(self, name: str) -> int:
        """Rewrite the current snapshot into ONE data dir. Long append
        chains otherwise make every read a union of N dirs (task counts
        grow linearly with commit count); Iceberg's analogue is manifest
        compaction / rewrite_data_files. Old snapshots stay readable."""
        with self.transaction():
            return self.overwrite(name, self.read(name))
