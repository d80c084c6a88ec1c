"""Snapshot table catalog — parquet dirs + manifest files.

The engine's state tables (``seen``, ``frontier_state``, ``processed``,
``headers``, ``documents``, ``metrics`` — FIXTURES.md §6) need Iceberg
semantics: atomic append, last-wins upsert, snapshot time travel for
resume (reference checkpoint protocol law_codes.py:752-776,:911-928).
This sandbox has no Iceberg runtime jar, so this module emulates the
same API over plain parquet directories with JSON manifests:

- every commit writes data files to a fresh ``data/snap-<v>/`` dir, then
  atomically renames ``_manifests/v<v>.json`` into place (os.rename is
  atomic on POSIX) — readers only ever see fully-committed snapshots;
- a manifest lists the data dirs that make up the snapshot, so append is
  O(1) metadata and time travel = read an older manifest;
- a manifest also holds the table's schema, in the column order and
  all-nullable form a parquet footer read would infer. Every read passes
  it to ``spark.read.schema``, so reading a table launches no Spark job
  (an inferring read runs one per data dir), and ``append`` refuses a
  frame whose columns differ from it;
- ``merge_upsert`` re-expresses ``MERGE INTO ... WHEN MATCHED UPDATE WHEN
  NOT MATCHED INSERT`` (SURVEY §2.1 S11-S13) as anti-join + union +
  overwrite-snapshot. On a real cluster this whole class is replaced by
  the Iceberg catalog (``CREATE TABLE``/``MERGE INTO``) — a config flip,
  not a redesign (SURVEY §7 "Iceberg availability").
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_NULLABILITY_KEYS = ("nullable", "containsNull", "valueContainsNull")


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


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest bookkeeping -------------------------------------------

    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_dir(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_manifests")

    def versions(self, name: str) -> list[int]:
        mdir = self._manifest_dir(name)
        if not os.path.isdir(mdir):
            return []
        out = []
        for f in os.listdir(mdir):
            m = re.fullmatch(r"v(\d+)\.json", f)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def current_version(self, name: str) -> int | None:
        vs = self.versions(name)
        return vs[-1] if vs else None

    def _read_manifest(self, name: str, version: int) -> dict:
        with open(os.path.join(self._manifest_dir(name), f"v{version}.json")) as f:
            return json.load(f)

    def _schema(self, name: str, manifest: dict) -> StructType:
        if "schema" not in manifest:
            raise ValueError(
                f"table {name}: manifest v{manifest['version']} records no "
                "schema (written before manifests held one); rewrite the table"
            )
        return StructType.fromJson(manifest["schema"])

    def _commit(self, name: str, dirs: list[str], op: str, schema: StructType) -> int:
        mdir = self._manifest_dir(name)
        os.makedirs(mdir, exist_ok=True)
        v = (self.current_version(name) or 0) + 1
        payload = {"version": v, "op": op, "dirs": dirs, "schema": schema.jsonValue()}
        tmp = os.path.join(mdir, f".v{v}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.rename(tmp, os.path.join(mdir, f"v{v}.json"))  # atomic commit point
        return v

    # -- table ops --------------------------------------------------------

    def exists(self, name: str) -> bool:
        return self.current_version(name) is not None

    def read(self, name: str, version: int | None = None) -> DataFrame:
        v = version if version is not None else self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"table {name} has no snapshots")
        m = self._read_manifest(name, v)
        reader = self.spark.read.schema(self._schema(name, m))
        dirs = m["dirs"]
        # multiple snapshot dirs may each carry hive partition subdirs;
        # per-dir reads + union keep partition discovery rooted correctly
        # (and a partitioned dir puts its partition columns last while an
        # unpartitioned one keeps the schema's order: union by name)
        out = reader.parquet(dirs[0])
        for d in dirs[1:]:
            out = out.unionByName(reader.parquet(d))
        return out

    def _write(
        self, name: str, df: DataFrame, v_next: int, partition_by: list[str] | None
    ) -> tuple[str, StructType]:
        """Write ``df`` to the next snapshot's data dir; returns the dir
        and the schema a read of it infers."""
        data_dir = os.path.join(self._tdir(name), "data", f"snap-{v_next}")
        writer = df.write.mode("overwrite")
        if partition_by:
            # hive-style layout → partition pruning on read (e.g. the
            # frontier's priority bands: a wave reading band<=k scans only
            # those directories — SURVEY §4 custom-op 3)
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        if partition_by and not any(
            f.endswith(".parquet") for _d, _s, files in os.walk(data_dir) for f in files
        ):
            # an empty partitioned write leaves no file to read the schema
            # back from: commit the empty frame unpartitioned instead
            df.write.mode("overwrite").parquet(data_dir)
            partition_by = None
        return data_dir, _as_read(df.schema, partition_by)

    def append(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> int:
        prev = self.current_version(name)
        dirs, schema = [], None
        if prev is not None:
            m = self._read_manifest(name, prev)
            dirs, schema = m["dirs"], self._schema(name, m)
            have = {f.name: f.dataType for f in schema}
            got = {f.name: f.dataType for f in _as_read(df.schema, None)}
            differ = sorted(c for c in have.keys() | got.keys() if have.get(c) != got.get(c))
            if differ:
                raise ValueError(f"append to table {name}: columns {differ} differ from its schema")
        data_dir, written = self._write(name, df, (prev or 0) + 1, partition_by)
        # the table keeps its first commit's column order
        return self._commit(name, dirs + [data_dir], "append", schema or written)

    def overwrite(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> int:
        v_next = (self.current_version(name) or 0) + 1
        data_dir, schema = self._write(name, df, v_next, partition_by)
        return self._commit(name, [data_dir], "overwrite", schema)

    def merge_upsert(self, name: str, updates: DataFrame, keys: list[str]) -> int:
        """MERGE INTO <name> USING updates ON keys — last-wins update.

        Equivalent plan: current LEFT ANTI JOIN updates (drop matched)
        UNION updates. Requires updates to be key-unique (caller dedupes).
        """
        if not self.exists(name):
            return self.overwrite(name, updates)
        current = self.read(name)
        kept = current.join(updates.select(*keys), on=keys, how="left_anti")
        merged = kept.unionByName(updates.select(*current.columns))
        # materialize BEFORE the overwrite commit so we never read a
        # snapshot we are replacing mid-write
        v_next = (self.current_version(name) or 0) + 1
        data_dir, schema = self._write(name, merged, v_next, None)
        return self._commit(name, [data_dir], "merge", schema)

    def read_last_append(self, name: str, version: int) -> DataFrame:
        """Read ONLY the data dir added by the ``append`` that committed
        ``version`` (the manifest's last dir). The delta-read for
        write-then-reuse patterns: a wave that appends N rows and then
        derives follow-up commits from them must not re-scan the whole
        accumulated table (O(total) per wave — the crawl slows down as
        it progresses). Iceberg's analogue is an incremental read of one
        snapshot. Only valid straight after an append, before any
        compaction of this table."""
        m = self._read_manifest(name, version)
        return self.spark.read.schema(self._schema(name, m)).parquet(m["dirs"][-1])

    def n_dirs(self, name: str) -> int:
        v = self.current_version(name)
        return len(self._read_manifest(name, v)["dirs"]) if v is not None else 0

    def compact(self, name: str) -> int:
        """Rewrite the current snapshot into ONE data dir. Long append
        chains otherwise make every read a union of N dirs (task counts
        grow linearly with commit count); Iceberg's analogue is manifest
        compaction / rewrite_data_files. Old snapshots stay readable."""
        return self.overwrite(name, self.read(name))

    def drop(self, name: str) -> None:
        shutil.rmtree(self._tdir(name), ignore_errors=True)
