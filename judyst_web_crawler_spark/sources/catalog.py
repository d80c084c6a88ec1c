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

    def _commit(self, name: str, dirs: list[str], op: str) -> int:
        mdir = self._manifest_dir(name)
        os.makedirs(mdir, exist_ok=True)
        v = (self.current_version(name) or 0) + 1
        payload = {"version": v, "op": op, "dirs": dirs}
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
        dirs = self._read_manifest(name, v)["dirs"]
        if len(dirs) == 1:
            return self.spark.read.parquet(dirs[0])
        # multiple snapshot dirs may each carry hive partition subdirs;
        # per-dir reads + union keep partition discovery rooted correctly
        out = self.spark.read.parquet(dirs[0])
        for d in dirs[1:]:
            out = out.unionByName(self.spark.read.parquet(d))
        return out

    def _write(self, name: str, df: DataFrame, v_next: int, partition_by: list[str] | None) -> str:
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
        return data_dir

    def append(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> int:
        v_next = (self.current_version(name) or 0) + 1
        data_dir = self._write(name, df, v_next, partition_by)
        prev = self.current_version(name)
        dirs = (self._read_manifest(name, prev)["dirs"] if prev else []) + [data_dir]
        return self._commit(name, dirs, "append")

    def overwrite(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> int:
        v_next = (self.current_version(name) or 0) + 1
        data_dir = self._write(name, df, v_next, partition_by)
        return self._commit(name, [data_dir], "overwrite")

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
        data_dir = self._write(name, merged, v_next, None)
        return self._commit(name, [data_dir], "merge")

    def read_last_append(self, name: str, version: int) -> DataFrame:
        """Read ONLY the data dir added by the ``append`` that committed
        ``version`` (the manifest's last dir). The delta-read for
        write-then-reuse patterns: a wave that appends N rows and then
        derives follow-up commits from them must not re-scan the whole
        accumulated table (O(total) per wave — the crawl slows down as
        it progresses). Iceberg's analogue is an incremental read of one
        snapshot. Only valid straight after an append, before any
        compaction of this table."""
        dirs = self._read_manifest(name, version)["dirs"]
        return self.spark.read.parquet(dirs[-1])

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
