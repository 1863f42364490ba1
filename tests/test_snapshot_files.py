"""The snapshot log's data files are plain local-filesystem I/O: one
landing function (`snapshots._land_files`) moves every Spark or
kernel write into the table, with its Hadoop `.crc` checksum sidecar,
and every delete removes a file together with its sidecar. No snapshot
operation on a local root opens a Hadoop FileSystem, and a MOR read
anchors its relpaths alike for an absolute, a `file:` and a relative
root."""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import hbase_compact_spark.compaction.snapshots as S
from hbase_compact_spark.compaction import executor
from hbase_compact_spark.compaction.snapshots import SnapshotLog, read_table_at
from hbase_compact_spark.sources.snapshot_table import register
from hbase_compact_spark.streaming.ingest import snapshot_sink_batch

ROW_SCHEMA = "id long, cat string, v double"
PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "hbase_compact_spark")


def _rows(ids, tag: float = 0.0) -> list[tuple]:
    return [(int(i), f"c{i % 3}", float(i) + tag) for i in ids]


def _read(spark, root: str) -> list[tuple]:
    return sorted(tuple(r) for r in read_table_at(spark, root).select("id", "cat", "v").collect())


def _sidecar(path: str) -> str:
    head, name = os.path.split(path)
    return os.path.join(head, f".{name}.crc")


def _spec_table(spark, root: str) -> None:
    """30 rows in 3 plain files, then a `cat` partition spec: later
    landing writes go through Spark's partitioned writer."""
    spark.createDataFrame(_rows(range(30)), ROW_SCHEMA).repartitionByRange(3, "id").write.parquet(root)
    SnapshotLog(spark, root).bootstrap()
    S.evolve_partitioning(spark, root, ["cat"])


def test_upsert_lands_no_zero_row_file(spark, tmp_path):
    """The landing drops a written file with no row instead of
    committing it."""
    root = str(tmp_path / "t")
    spark.createDataFrame(_rows(range(40)), ROW_SCHEMA).repartitionByRange(4, "id").write.parquet(root)
    SnapshotLog(spark, root).bootstrap()
    snapshot_sink_batch(spark.createDataFrame(_rows(range(100, 110)), ROW_SCHEMA).coalesce(1), root)
    # 5 rows in 8 slices leave the first task empty, and Spark's first
    # task writes a file even with no row (to carry the schema)
    rdd = spark.sparkContext.parallelize(_rows([1, 11, 21, 31, 105], 0.5), 8)
    source = spark.createDataFrame(rdd, ROW_SCHEMA)
    S.snapshot_upsert_mor(spark, root, source, ["id"])
    log = SnapshotLog(spark, root)
    rows = {p: pq.read_metadata(os.path.join(root, p)).num_rows for p, _ in log.files(log.latest())}
    assert all(rows.values()), rows
    want = {i: (i, f"c{i % 3}", float(i)) for i in list(range(40)) + list(range(100, 110))}
    for i in (1, 11, 21, 31, 105):
        want[i] = (i, f"c{i % 3}", i + 0.5)
    assert _read(spark, root) == sorted(want.values())


def test_sql_insert_keeps_underscore_kv_file_of_unlogged_root(spark, tmp_path):
    """`_k=v.parquet` is data to Spark's listing (executor._hidden) and
    so to SnapshotLog.bootstrap; an INSERT bootstrapping an unlogged
    root must carry its rows too."""
    root = str(tmp_path / "unlogged")
    spark.range(5).selectExpr("id AS k").write.parquet(root)
    pq.write_table(pa.table({"k": pa.array([50, 51], pa.int64())}), os.path.join(root, "_k=v.parquet"))
    register(spark)
    spark.range(5, 8).selectExpr("id AS k").write.format("snapshot_table").mode("append").option("path", root).save()
    got = sorted(r["k"] for r in read_table_at(spark, root).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6, 7, 50, 51]


def test_checksum_sidecars_land_and_leave_with_their_files(spark, tmp_path):
    root = str(tmp_path / "t")
    _spec_table(spark, root)
    log = SnapshotLog(spark, root)
    before = {p for p, _ in log.files(log.latest())}
    S.snapshot_upsert_mor(spark, root, spark.createDataFrame(_rows([3, 4, 40], 0.5), ROW_SCHEMA), ["id"])
    landed = [p for p, _ in log.files(log.latest()) if p not in before]
    assert landed and all(p.startswith("_hp_cat=") for p in landed)
    for p in landed:
        assert os.path.exists(_sidecar(os.path.join(root, p))), p

    # a rewrite retires every file of the table; expiring the old
    # versions deletes them, sidecars included
    S.snapshot_compact(spark, root)
    live = {p for p, _ in log.files(log.latest())}
    dead = (before | set(landed)) - live
    assert dead
    assert S.expire_snapshots(spark, root, keep_last=1)["deleted_files"] == len(dead)
    for p in dead:
        path = os.path.join(root, p)
        assert not os.path.exists(path) and not os.path.exists(_sidecar(path)), p

    # files no version references, written by Spark with sidecars
    spark.createDataFrame(_rows(range(200, 204)), ROW_SCHEMA).coalesce(2).write.parquet(os.path.join(root, "stray"))
    strays = [os.path.join(root, "stray", n) for n in os.listdir(os.path.join(root, "stray")) if n.endswith(".parquet")]
    assert strays and all(os.path.exists(_sidecar(p)) for p in strays)
    assert S.sweep_orphans(spark, root, grace_seconds=0)["deleted_files"] == len(strays)
    for p in strays:
        assert not os.path.exists(p) and not os.path.exists(_sidecar(p)), p
    assert _read(spark, root) == sorted(
        [r for r in _rows(range(30)) if r[0] not in (3, 4)] + _rows([3, 4, 40], 0.5)
    )


def test_snapshot_operations_open_no_hadoop_filesystem(spark, tmp_path, monkeypatch):
    def boom(*a, **k):
        raise AssertionError("Hadoop FileSystem opened over py4j")

    for mod in (executor, S):
        monkeypatch.setattr(mod, "_hadoop_fs", boom, raising=False)
        monkeypatch.setattr(mod, "_rm", boom, raising=False)
    # every rewrite through Spark
    monkeypatch.setattr(executor, "_ARROW_REWRITE_MAX_BYTES", 0)
    root = str(tmp_path / "t")
    spark.createDataFrame(_rows(range(30)), ROW_SCHEMA).repartitionByRange(3, "id").write.parquet(root)
    SnapshotLog(spark, root).bootstrap()
    model = {r[0]: r for r in _rows(range(30))}

    assert S.snapshot_delete(spark, root, {"id": (5, 6)})["deleted_rows"] == 2
    del model[5], model[6]
    assert S.snapshot_update(spark, root, {"v": "v + 100"}, condition="id = 7")["updated_rows"] == 1
    model[7] = (7, "c1", 107.0)
    S.snapshot_merge(spark, root, spark.createDataFrame(_rows([8, 60], 0.5), ROW_SCHEMA), ["id"])
    model.update({r[0]: r for r in _rows([8, 60], 0.5)})
    S.snapshot_merge_full(
        spark, root, spark.createDataFrame(_rows([9]), ROW_SCHEMA), ["id"], delete_condition="true"
    )
    del model[9]
    snapshot_sink_batch(spark.createDataFrame([(70, "c1", 70.0)], ROW_SCHEMA), root, "more")
    model[70] = (70, "c1", 70.0)
    assert _read(spark, root) == sorted(model.values())

    # a spec'd table: the upsert lands through Spark's partitioned
    # writer, the compaction migrates the plain files into the spec
    S.evolve_partitioning(spark, root, ["cat"])
    S.snapshot_upsert_mor(spark, root, spark.createDataFrame(_rows([1, 2, 50], 0.5), ROW_SCHEMA), ["id"])
    model.update({r[0]: r for r in _rows([1, 2, 50], 0.5)})
    assert S.snapshot_compact(spark, root, migrate_spec=True)["migrated"] > 0
    assert all(p.startswith("_hp_cat=") for p, _ in SnapshotLog(spark, root).files())
    assert _read(spark, root) == sorted(model.values())

    os.makedirs(os.path.join(root, "stray"))
    pq.write_table(pa.table({"id": [1]}), os.path.join(root, "stray", "x.parquet"))
    assert S.sweep_orphans(spark, root, grace_seconds=0)["deleted_files"] == 1
    assert S.expire_snapshots(spark, root, keep_last=1)["deleted_files"] > 0
    assert _read(spark, root) == sorted(model.values())


def test_mor_read_anchors_absolute_file_uri_and_relative_roots(spark, tmp_path, monkeypatch):
    """The Spark read's per-row relpath mapping (_relpath_expr) must
    anchor on the root however it is spelled, or a positional delete
    entry matches nothing and its rows come back."""
    root = str(tmp_path / "t")
    spark.createDataFrame(_rows(range(20)), ROW_SCHEMA).repartitionByRange(2, "id").write.parquet(root)
    SnapshotLog(spark, root).bootstrap()
    assert S.snapshot_delete(spark, root, {"id": (3, 4)}, mode="mor")["deleted_rows"] == 2
    # Spark reads with the per-row mapping, not literal tags or pyarrow
    monkeypatch.setattr(S, "_MOR_LIT_TAG_MAX", 0)
    monkeypatch.setattr(executor, "_ARROW_REWRITE_MAX_BYTES", 0)
    user_dir = spark.sparkContext._jvm.System.getProperty("user.dir")
    want = [r for r in _rows(range(20)) if r[0] not in (3, 4)]
    for form in (root, "file:" + root, os.path.relpath(root, user_dir)):
        assert _read(spark, form) == want, form


@pytest.mark.parametrize(
    "module", ["compaction/snapshots.py", "streaming/ingest.py", "sources/snapshot_table.py"]
)
def test_snapshot_modules_name_no_hadoop_filesystem(module):
    """Snapshot data files are os I/O; py4j file access must not creep
    back into these modules."""
    with open(os.path.join(PACKAGE, module)) as f:
        src = f.read()
    assert not re.findall(r"\b_hadoop_fs\b|\b_rm\b|org\.apache\.hadoop", src)
