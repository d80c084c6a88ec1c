"""SnapshotCatalog reads launch no Spark job, and appends keep a table's
schema.

The catalog log records each table's schema, so ``read`` and
``read_last_append`` pass it to the reader instead of inferring it from
parquet footers (one Spark job per data dir). The recorded schema must
equal what inference would give, including partition columns last and
all-nullable nested types; an empty partitioned write, which leaves no
parquet file, reads back through the recorded schema alone.
"""

from __future__ import annotations

import json
import os

import pytest

from judyst_web_crawler_spark.sources.catalog import SnapshotCatalog

FRONTIER_SCHEMA = (
    "url string, host string, depth int, page_seq int, intra_page_seq int, "
    "canonical_url string, key_hash long"
)


def _frontier_rows(depth: int, n: int = 3):
    return [
        (f"http://h{i % 2}.ru/ru/d{depth}-{i}.pdf", f"h{i % 2}.ru", depth, 2, i,
         f"http://h{i % 2}.ru/ru/d{depth}-{i}.pdf", depth * 100 + i)
        for i in range(n)
    ]


def _dirs(cat: SnapshotCatalog, name: str) -> list[str]:
    return [os.path.join(cat.root, d) for d in cat._table(name)["dirs"]]


def _assert_schema_as_inferred(spark, cat: SnapshotCatalog, name: str) -> None:
    got = cat.read(name).schema
    for d in _dirs(cat, name):
        assert got == spark.read.parquet(d).schema, d


@pytest.fixture
def frontier_cat(spark, tmp_path):
    """A 3-dir table partitioned by depth, as ``frontier_state`` is."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    for depth in range(3):
        df = spark.createDataFrame(_frontier_rows(depth), FRONTIER_SCHEMA)
        commit = cat.overwrite if depth == 0 else cat.append
        commit("frontier_state", df, partition_by=["depth"])
    assert cat.n_dirs("frontier_state") == 3
    return cat


def test_reads_launch_no_job(spark, frontier_cat, jobs_of):
    cat = frontier_cat
    df, n = jobs_of(lambda: cat.read("frontier_state"))
    assert n == 0
    last, n = jobs_of(lambda: cat.read_last_append("frontier_state", cat.current_version("frontier_state")))
    assert n == 0
    assert df.count() == 9
    assert sorted(r["depth"] for r in last.collect()) == [2, 2, 2]


def test_partitioned_read_schema_equals_inferred(spark, frontier_cat):
    _assert_schema_as_inferred(spark, frontier_cat, "frontier_state")
    assert frontier_cat.read("frontier_state").columns[-1] == "depth"


def test_array_column_schema_equals_inferred(spark, tmp_path, jobs_of):
    """``documents.signature`` is array<long>: the element nullability
    must match inference too."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    schema = "url string, key_hash long, text string, signature array<long>, wave int"
    for w in range(2):
        df = spark.createDataFrame([(f"u{w}", w, "t", [1, 2, 3], w)], schema)
        cat.append("documents", df)
    _assert_schema_as_inferred(spark, cat, "documents")
    df, n = jobs_of(lambda: cat.read("documents"))
    assert n == 0
    assert sorted(r["signature"][0] for r in df.collect()) == [1, 1]


def test_empty_partitioned_write_schema_equals_inferred(spark, tmp_path, jobs_of):
    """An empty partitioned write leaves no parquet file, only
    ``_SUCCESS``; it reads back as 0 rows with the recorded schema
    (partition column last, no job), and a later partitioned append
    unions with it."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    empty = spark.createDataFrame([], FRONTIER_SCHEMA)
    cat.overwrite("frontier_state", empty, partition_by=["depth"])
    (d,) = _dirs(cat, "frontier_state")
    assert not [f for _d, _s, files in os.walk(d) for f in files if f.endswith(".parquet")]
    df, n = jobs_of(lambda: cat.read("frontier_state"))
    assert n == 0
    assert df.count() == 0
    cat.append("frontier_state", spark.createDataFrame(_frontier_rows(1), FRONTIER_SCHEMA), partition_by=["depth"])
    inferred = spark.read.parquet(_dirs(cat, "frontier_state")[1]).schema
    assert df.schema == inferred
    got = cat.read("frontier_state")
    assert got.schema == inferred
    assert sorted((r["key_hash"], r["depth"]) for r in got.collect()) == [(100, 1), (101, 1), (102, 1)]


def test_append_accepts_reordered_columns(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    cat.append("done_urls", spark.createDataFrame([("u0", "dup", 0)], "url string, retire_status string, wave int"))
    cat.append("done_urls", spark.createDataFrame([(1, "u1", "scheduled")], "wave int not null, url string, retire_status string"))
    assert cat.read("done_urls").columns == ["url", "retire_status", "wave"]
    assert sorted(r["url"] for r in cat.read("done_urls").collect()) == ["u0", "u1"]


@pytest.mark.parametrize(
    "ddl, differ",
    [
        ("url string, retire_status string", "['wave']"),
        ("url string, retire_status string, wave int, extra long", "['extra']"),
        ("url string, retire_status string, wave long", "['wave']"),
    ],
)
def test_append_refuses_a_different_column_set(spark, tmp_path, ddl, differ):
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    cat.append("done_urls", spark.createDataFrame([("u0", "dup", 0)], "url string, retire_status string, wave int"))
    bad = spark.createDataFrame([], ddl)
    with pytest.raises(ValueError, match=rf"done_urls.*{differ}"):
        cat.append("done_urls", bad)
    assert cat.current_version("done_urls") == 1


def test_manifest_without_schema_is_an_error(spark, tmp_path):
    """A root written by older code — table data with per-table
    ``_manifests/``, whose entries may lack a schema, and no catalog log
    — is refused, not migrated."""
    root = tmp_path / "cat"
    (root / "seen" / "_manifests").mkdir(parents=True)
    (root / "seen" / "data" / "snap-1").mkdir(parents=True)
    (root / "seen" / "_manifests" / "v1.json").write_text(
        json.dumps({"version": 1, "op": "append", "dirs": [str(root / "seen" / "data" / "snap-1")]})
    )
    with pytest.raises(ValueError, match=r"seen/data.*no _log/"):
        SnapshotCatalog(spark, str(root))
    assert not (root / "_log").exists()
