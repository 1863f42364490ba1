"""Every non-empty snapshot version records the table schema
(SnapshotLog.commit): served reads plan with a declared schema and
launch no parquet footer-inference job, the schema survives every
commit path, and the batch helpers, the `snapshot_table` source and
the table tail present one schema."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import hbase_compact_spark.compaction.snapshots as S
from hbase_compact_spark.compaction.snapshots import (
    SnapshotLog,
    read_table_at,
    read_table_where,
)
from hbase_compact_spark.streaming.ingest import snapshot_sink_batch

ROW_SCHEMA = "key long, ts long, v string"


def _rows(keys, tag: str) -> list[tuple]:
    return [(int(k), int(k) * 10, f"{tag}-{k}") for k in keys]


def _write_seed(root: str, rows: list[tuple], n_files: int) -> None:
    os.makedirs(root, exist_ok=True)
    step = len(rows) // n_files
    for i in range(n_files):
        chunk = rows[i * step:(i + 1) * step]
        pq.write_table(
            pa.table(
                {
                    "key": pa.array([r[0] for r in chunk], pa.int64()),
                    "ts": pa.array([r[1] for r in chunk], pa.int64()),
                    "v": pa.array([r[2] for r in chunk], pa.string()),
                }
            ),
            os.path.join(root, f"seed-{i:03d}.parquet"),
        )


def _version_json(log: SnapshotLog, v: int) -> dict:
    with open(os.path.join(log._local_log, f"v{v:012d}.json")) as fh:
        return json.load(fh)


class _JobCounter:
    """Spark jobs launched between two points, from the scheduler's
    next job id (counts every job, whichever thread or group ran it)."""

    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def __enter__(self):
        self.start = int(self._dag.nextJobId())
        return self

    def __exit__(self, *exc):
        self.jobs = int(self._dag.nextJobId()) - self.start


def _plan_jobs(spark, build):
    """(frame, jobs launched while `build()` planned it)."""
    with _JobCounter(spark) as c:
        df = build()
    return df, c.jobs


def test_served_reads_plan_with_no_inference_job(spark, tmp_path):
    """A table that never evolved — bootstrap, z-order compact, stats,
    blooms, two sink appends — plans point, range, time-travel and
    MOR-pending reads without launching one Spark job; each read's
    rows equal the model."""
    root = str(tmp_path / "t")
    model = {r[0]: r for r in _rows(range(400), "seed")}
    _write_seed(root, sorted(model.values()), n_files=8)
    log = SnapshotLog(spark, root)
    log.bootstrap()
    S.snapshot_compact(spark, root, target_bytes=4096, cluster_by=["key", "ts"])
    S.annotate_stats(spark, root)
    S.annotate_blooms(spark, root, ["key"])
    v_old = log.latest()
    model_old = dict(model)
    for lo in (400, 500):
        batch = _rows(range(lo, lo + 50), "sink")
        snapshot_sink_batch(spark.createDataFrame(batch, ROW_SCHEMA), root)
        model.update({r[0]: r for r in batch})

    df, jobs = _plan_jobs(spark, lambda: read_table_where(spark, root, {"key": 123}))
    assert jobs == 0
    assert [tuple(r) for r in df.collect()] == [model[123]]

    df, jobs = _plan_jobs(
        spark, lambda: read_table_where(spark, root, {"ts": (1000, 4200)})
    )
    assert jobs == 0
    assert sorted(tuple(r) for r in df.collect()) == sorted(
        r for r in model.values() if 1000 <= r[1] <= 4200
    )

    df, jobs = _plan_jobs(spark, lambda: read_table_at(spark, root, v_old))
    assert jobs == 0
    assert sorted(tuple(r) for r in df.collect()) == sorted(model_old.values())

    upsert = [(123, 1230, "upserted"), (9000, 90000, "new")]
    S.snapshot_upsert_mor(
        spark, root, spark.createDataFrame(upsert, ROW_SCHEMA), ["key"]
    )
    model.update({r[0]: r for r in upsert})
    assert log.delete_files()  # the lookup below pays the MOR path
    df, jobs = _plan_jobs(spark, lambda: read_table_where(spark, root, {"key": 123}))
    assert jobs == 0
    assert [tuple(r) for r in df.collect()] == [model[123]]


def test_schema_survives_every_commit_path(spark, tmp_path):
    """bootstrap, sink append, SQL INSERT, commit_current, MOR upsert,
    maintain_mor, snapshot_delete, snapshot_rollback: every version
    JSON carries v1's schema; after evolve_schema, the evolved one."""
    from hbase_compact_spark.sources.snapshot_table import register

    root = str(tmp_path / "t")
    _write_seed(root, _rows(range(100), "seed"), n_files=4)
    log = SnapshotLog(spark, root)
    log.bootstrap()
    v1_schema = _version_json(log, 1)["schema"]
    assert [f["name"] for f in v1_schema["fields"]["fields"]] == ["key", "ts", "v"]
    assert v1_schema["partition_cols"] == []

    snapshot_sink_batch(
        spark.createDataFrame(_rows(range(100, 120), "sink"), ROW_SCHEMA), root
    )
    register(spark)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW rec_schema_w "
        f"USING snapshot_table OPTIONS (path '{root}')"
    )
    spark.sql(
        "INSERT INTO rec_schema_w SELECT id + 200 AS key, "
        "(id + 200) * 10 AS ts, 'sql' AS v FROM range(10)"
    )
    pq.write_table(
        pa.table(
            {
                "key": pa.array([300], pa.int64()),
                "ts": pa.array([3000], pa.int64()),
                "v": pa.array(["oob"], pa.string()),
            }
        ),
        os.path.join(root, "oob.parquet"),
    )
    log.commit_current(op="append")
    S.snapshot_upsert_mor(
        spark, root,
        spark.createDataFrame([(5, 50, "up")], ROW_SCHEMA), ["key"],
    )
    res = S.maintain_mor(spark, root, max_pending=0, target_bytes=1 << 20)
    assert res["triggered"]
    S.snapshot_delete(spark, root, {"key": (0, 9)})
    S.snapshot_rollback(spark, root, 3)
    before_evolve = log.versions()
    ops = {_version_json(log, v)["op"] for v in before_evolve}
    assert {"bootstrap", "append", "mor_upsert", "compact", "delete",
            "rollback"} <= ops
    for v in before_evolve:
        assert _version_json(log, v)["schema"] == v1_schema, v

    v_evolved = S.evolve_schema(spark, root, add_columns={"extra": "string"})
    evolved = _version_json(log, v_evolved)["schema"]
    assert [f["name"] for f in evolved["fields"]["fields"]] == [
        "key", "ts", "v", "extra",
    ]
    snapshot_sink_batch(
        spark.createDataFrame(_rows(range(400, 405), "late"), ROW_SCHEMA), root
    )
    for v in log.versions():
        if v >= v_evolved:
            assert _version_json(log, v)["schema"] == evolved, v
    got = read_table_at(spark, root)
    assert got.columns == ["key", "ts", "v", "extra"]
    assert got.filter(F.col("extra").isNotNull()).count() == 0


def test_hive_table_presents_one_schema_on_every_read_path(spark, tmp_path):
    """A hive-layout (region=…) table: read_table_at, the snapshot_table
    source and the table tail present the same column names and types
    — the bootstrap records the partition column once, as a string,
    the type the source and the tail have always surfaced."""
    from hbase_compact_spark.sources.snapshot_table import register
    from hbase_compact_spark.streaming.table_tail import (
        TAIL_VERSION_COL,
        tail_schema,
    )

    root = str(tmp_path / "hive")
    (
        spark.range(40)
        .selectExpr("id AS k", "CAST(id % 2 AS STRING) AS region")
        .write.partitionBy("region")
        .parquet(root)
    )
    SnapshotLog(spark, root).bootstrap()
    register(spark)

    def shape(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    helper = shape(read_table_at(spark, root).schema)
    source = shape(spark.read.format("snapshot_table").load(root).schema)
    tail = [c for c in shape(tail_schema(spark, root)) if c[0] != TAIL_VERSION_COL]
    assert helper == source == tail == [("k", "bigint"), ("region", "string")]
    assert sorted(
        r["region"] for r in read_table_at(spark, root).select("region").distinct().collect()
    ) == ["0", "1"]


def test_compact_rebases_onto_first_recorded_schema(spark, tmp_path, monkeypatch):
    """The first commit onto a log written without a schema records
    one; a rewrite derived from the schemaless base must rebase across
    that step (it is not concurrent schema evolution) and carry the
    recorded schema forward."""
    root = str(tmp_path / "t")
    _write_seed(root, _rows(range(200), "seed"), n_files=8)
    files = [
        (name, os.path.getsize(os.path.join(root, name)))
        for name in sorted(os.listdir(root))
    ]
    assert SnapshotLog(None, root).commit(files, op="bootstrap") == 1
    log = SnapshotLog(spark, root)
    assert log.schema(1) == (None, [])

    orig = SnapshotLog.commit
    fired = []

    def racing(self, *a, **k):
        if not fired:
            fired.append(True)
            snapshot_sink_batch(
                spark.createDataFrame(_rows(range(200, 210), "race"), ROW_SCHEMA),
                root,
            )
        return orig(self, *a, **k)

    monkeypatch.setattr(SnapshotLog, "commit", racing)
    res = S.snapshot_compact(spark, root, target_bytes=1 << 20)
    monkeypatch.undo()
    assert fired
    assert res["version"] == 3
    recorded = log.read(2)["schema"]
    assert recorded is not None
    assert log.read(3)["schema"] == recorded
    assert read_table_at(spark, root).count() == 210


@pytest.mark.parametrize("files", [[], [("missing.parquet", 10)]])
def test_unreadable_or_empty_versions_commit_schemaless(spark, tmp_path, files):
    """Inference needs files Spark can read: an empty manifest or a
    synthetic entry commits without a schema, as before."""
    root = str(tmp_path / "t")
    os.makedirs(root)
    log = SnapshotLog(spark, root)
    v = log.commit(files, op="synthetic")
    assert "schema" not in log.read(v)
