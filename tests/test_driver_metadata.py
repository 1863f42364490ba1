"""The snapshot log writes its bounded metadata on the driver: child
manifests (appends and rewrites) up to DISTRIBUTED_PRUNE_THRESHOLD
files, equality-delete keys up to MERGE_KEY_PROBE_CAP rows, and the
retirement of pending entries up to MOR_BROADCAST_ROWS rows. Past
each bound the distributed writers run. Both paths must write the
same metadata and give the same reads, the driver path must launch
no Spark job, and driver-written keys must round-trip every key
type."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import hbase_compact_spark.compaction.snapshots as S
from hbase_compact_spark.compaction.snapshots import (
    SnapshotLog,
    mor_pending_keys,
    read_table_at,
    read_table_where,
)
from hbase_compact_spark.streaming.ingest import snapshot_sink_batch

ROW_SCHEMA = "id long, cat string, v double"


class _JobCounter:
    """Spark jobs launched between two points, from the scheduler's
    next job id (counts every job, whichever thread or group ran it)."""

    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def __enter__(self):
        self._start = self._dag.nextJobId()
        return self

    def __exit__(self, *exc):
        self.jobs = self._dag.nextJobId() - self._start


def _rows(ids, tag: float = 0.0) -> list[tuple]:
    return [(int(i), f"c{i % 3}", float(i) + tag) for i in ids]


def _seed(spark, root: str) -> None:
    """40 rows in 4 files of disjoint id ranges, footer stats on every
    column and a bloom on `id`."""
    (
        spark.createDataFrame(_rows(range(40)), ROW_SCHEMA)
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
        .write.parquet(root)
    )
    S.annotate_stats(spark, root)
    S.annotate_blooms(spark, root, ["id"])


def _content_key(root: str, relpath: str) -> tuple:
    """A file's identity across two runs that name it differently:
    its directory and a hash of its rows in sorted order (rewrites
    order rows by uuid-named inputs, so bytes may differ; rows may
    not)."""
    rows = sorted(repr(r) for r in pq.read_table(os.path.join(root, relpath)).to_pylist())
    return (os.path.dirname(relpath), hashlib.md5("\n".join(rows).encode()).hexdigest())


def _state(spark, root: str) -> dict:
    """Everything the two paths must agree on at one version."""
    log = SnapshotLog(spark, root)
    v = log.latest()
    manifest = log.manifest_table(v).to_pylist()
    for row in manifest:
        # size is the file's own: checked against the disk per run
        assert row["size"] == os.path.getsize(os.path.join(root, row["relpath"]))
    pos_rows, eq_keys, scopes = set(), set(), []
    for name, _n in log.delete_files(v):
        entry = os.path.join(root, "_snapshots", "deletes", name)
        if name.startswith(S.EQ_DELETE_PREFIX):
            keys = pq.read_table(os.path.join(entry, "keys")).to_pylist()
            eq_keys |= {tuple(r.values()) for r in keys}
            scope = pq.read_table(os.path.join(entry, "scope")).column("relpath")
            scopes.append({_content_key(root, r) for r in scope.to_pylist()})
            continue
        for r in pq.read_table(entry).to_pylist():
            data = pq.read_table(os.path.join(root, r["relpath"])).to_pylist()
            pos_rows.add((_content_key(root, r["relpath"]), repr(data[r["pos"]])))
    return {
        "manifest": sorted(
            (_content_key(root, r["relpath"]), r["stats"], r["blooms"]) for r in manifest
        ),
        "pos_rows": pos_rows,
        "eq_keys": eq_keys,
        "scope": set().union(*scopes),
        "read_at": sorted(map(tuple, read_table_at(spark, root).collect())),
        "where": [
            sorted(map(tuple, read_table_where(spark, root, pred).collect()))
            for pred in ({"id": 11}, {"id": 6}, {"id": (0, 12)}, {"id": 105})
        ],
        "pending": sorted(r["id"] for r in mor_pending_keys(spark, root, ["id"]).collect()),
    }


def _run(spark, root: str) -> list[dict]:
    """append -> MOR upsert -> positional MOR delete -> COW delete
    (retires part of the pending entries) -> maintain_mor compaction,
    capturing the state after each step."""
    _seed(spark, root)
    states = []
    snapshot_sink_batch(spark.createDataFrame(_rows(range(100, 110)), ROW_SCHEMA).coalesce(1), root)
    states.append(_state(spark, root))
    S.snapshot_upsert_mor(
        spark, root, spark.createDataFrame(_rows([1, 11, 21, 31, 105], 0.5), ROW_SCHEMA), ["id"]
    )
    states.append(_state(spark, root))
    assert S.snapshot_delete(spark, root, {"id": (5, 7)}, mode="mor")["deleted_rows"] == 3
    states.append(_state(spark, root))
    assert S.snapshot_delete(spark, root, {"id": 33}, mode="cow")["deleted_rows"] == 1
    states.append(_state(spark, root))
    assert S.maintain_mor(spark, root, max_pending=0)["triggered"]
    states.append(_state(spark, root))
    return states


def test_driver_and_distributed_paths_write_the_same_metadata(spark, tmp_path, monkeypatch):
    driver = _run(spark, str(tmp_path / "driver"))
    monkeypatch.setattr(S, "DISTRIBUTED_PRUNE_THRESHOLD", 0)
    monkeypatch.setattr(S, "MERGE_KEY_PROBE_CAP", 0)
    monkeypatch.setattr(S, "MOR_BROADCAST_ROWS", 0)
    forced = _run(spark, str(tmp_path / "forced"))

    steps = ["append", "upsert", "mor_delete", "cow_delete", "maintain"]
    for step, d, f in zip(steps, driver, forced):
        for field in ("manifest", "pos_rows", "eq_keys", "read_at", "where", "pending"):
            assert d[field] == f[field], (step, field)
        # the forced run never probes the scope: it may only be wider
        assert d["scope"] <= f["scope"], step
    # appended files carry stats and blooms on both paths
    appended = [m for m in driver[0]["manifest"] if '"id": [100, 109]' in (m[1] or "")]
    assert len(appended) == 1 and appended[0][2] and '"id"' in appended[0][2]
    # the steps really exercised both entry kinds and their retirement
    assert driver[1]["eq_keys"] == {(1,), (11,), (21,), (31,), (105,)}
    assert driver[2]["pos_rows"] and driver[3]["pos_rows"] == driver[2]["pos_rows"]
    assert driver[3]["scope"] < driver[2]["scope"]
    assert not driver[4]["pos_rows"] and not driver[4]["eq_keys"]
    live = {r[0]: r for r in driver[4]["read_at"]}
    assert set(live) == (set(range(40)) | set(range(100, 110))) - {5, 6, 7, 33}
    assert live[11][2] == 11.5 and live[105][2] == 105.5


def test_metadata_half_launches_no_spark_job(spark, tmp_path):
    root = str(tmp_path / "t")
    _seed(spark, root)
    log = SnapshotLog(spark, root)

    # an append: manifest built, annotated and written on the driver
    pq.write_table(
        pa.table({"id": pa.array([200, 201], pa.int64()), "cat": ["a", "b"], "v": [1.0, 2.0]}),
        os.path.join(root, "late.parquet"),
    )
    with _JobCounter(spark) as c:
        v = log.commit_append(
            [("late.parquet", os.path.getsize(os.path.join(root, "late.parquet")))],
            op="append",
            parent=log.latest(),
        )
    assert c.jobs == 0
    late = {r["relpath"]: r for r in log.manifest_table(v).to_pylist()}["late.parquet"]
    assert '"id": [200, 201]' in late["stats"] and '"id"' in late["blooms"]

    # pending entries of both kinds, then a rewrite's metadata half
    upsert = spark.createDataFrame(_rows([3, 13, 23, 33]), ROW_SCHEMA)
    S.snapshot_upsert_mor(spark, root, upsert, ["id"])
    S.snapshot_delete(spark, root, {"id": (5, 6)}, mode="mor")
    v = log.latest()
    files = log.files(v)
    # drop the seed file holding id 33: in the equality scope, no
    # positional entry
    dropped = next(
        p
        for p, st in log.stats(v).items()
        if p.startswith("part-") and st["cols"]["id"][0] <= 33 <= st["cols"]["id"][1]
    )
    keep = [(p, s) for p, s in files if p != dropped]
    with _JobCounter(spark) as c:
        manifest = S._carried_manifest(spark, log, v, keep, [])
        extra = S._retire_delete_entries(spark, log, v, [p for p, _ in keep])
    assert c.jobs == 0
    assert S._load_manifest_files(log._manifest_local(manifest)) == sorted(keep)
    base = {n for n, _ in log.delete_files(v)}
    new = [n for n, _ in extra["delete_files"]]
    # positional survivors consolidated, the shrunk equality entry rewritten
    assert len(new) == 2 and not base & set(new)
    (eq,) = [n for n in new if n.startswith(S.EQ_DELETE_PREFIX)]
    scope = pq.read_table(os.path.join(root, "_snapshots", "deletes", eq, "scope"))
    assert dropped not in scope.column("relpath").to_pylist()

    # an equality entry from driver-held keys and a scope list
    keys = spark.createDataFrame([(3,), (13,)], "id long").toArrow()
    with _JobCounter(spark) as c:
        name, n = S._write_eq_delete_dir(spark, log, keys, [p for p, _ in keep])
    assert c.jobs == 0 and n == 2
    scope = pq.read_table(os.path.join(root, "_snapshots", "deletes", name, "scope"))
    assert sorted(scope.column("relpath").to_pylist()) == sorted(p for p, _ in keep)


def test_probe_keys_match_spark_collect(spark):
    """The scope probe's key values from the driver-held Arrow keys are
    the values, AND the types, Spark's collect gives: a bloom probe on
    a mistyped value is a false negative."""
    df = spark.createDataFrame(
        [
            (1, 10, "a", datetime.date(2024, 1, 2), datetime.datetime(2024, 1, 2, 3, 4, 5, 6)),
            (-2, 1 << 40, "ß", datetime.date(1970, 1, 1), datetime.datetime(1999, 12, 31, 23, 59)),
            (None, None, None, None, None),
        ],
        "i int, l long, s string, d date, t timestamp",
    )
    collected = [tuple(r) for r in df.collect()]
    probed = S._arrow_key_rows(df.toArrow())
    assert probed == collected
    assert [[type(v) for v in r] for r in probed] == [[type(v) for v in r] for r in collected]


KEY_TYPES = {
    "int": [1, 2, 3, 4, 5, 6],
    "long": [1 << 33, 2, 3, 4, 5, 6],
    "string": ["a", "b", "c", "d", "e", "f"],
    "date": [datetime.date(2024, 1, d) for d in range(1, 7)],
    "timestamp": [datetime.datetime(2024, 1, 1, h, 30, 0, 7) for h in range(1, 7)],
    "decimal(9,2)": [decimal.Decimal(f"{d}.25") for d in range(1, 7)],
}


@pytest.mark.parametrize("ktype", list(KEY_TYPES))
def test_upsert_keys_round_trip_every_key_type(spark, tmp_path, ktype):
    root = str(tmp_path / "t")
    keys = KEY_TYPES[ktype]
    schema = f"k {ktype}, v long"
    (
        spark.createDataFrame([(k, 0) for k in keys], schema)
        .repartitionByRange(3, "k")
        .write.parquet(root)
    )
    S.annotate_stats(spark, root)
    S.annotate_blooms(spark, root, ["k"])
    upsert = keys[1:4]
    src = spark.createDataFrame([(k, 1) for k in upsert], schema)
    S.snapshot_upsert_mor(spark, root, src, ["k"])

    log = SnapshotLog(spark, root)
    ((name, n),) = log.delete_files(log.latest())
    assert n == len(upsert)
    keys_dir = os.path.join(root, "_snapshots", "deletes", name, "keys")
    # physical types as Spark's own writer gives them (the pyarrow
    # entry readers merge keys against Spark-written data files)
    spark_keys = str(tmp_path / "spark_keys")
    src.select("k").write.parquet(spark_keys)
    assert pq.read_table(keys_dir).schema.types == pq.read_table(spark_keys).schema.types
    # a declared read schema: the keys read plans no inference job
    assert S._eq_keys_schema(keys_dir, read_table_at(spark, root)) is not None
    pending = sorted(r["k"] for r in mor_pending_keys(spark, root, ["k"]).collect())
    assert pending == sorted(upsert)
    got = sorted((r["k"], r["v"]) for r in read_table_at(spark, root).collect())
    assert got == sorted((k, int(k in upsert)) for k in keys)


def test_keys_one_pyarrow_write_cannot_encode_go_through_spark(spark, tmp_path):
    """A TIMESTAMP key beside a TIMESTAMP_NTZ key under Spark's INT96
    default: no single pyarrow write encodes both the way Spark does,
    so the entry writer hands the keys to Spark's writer."""
    root = str(tmp_path / "t")
    _seed(spark, root)
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    df = spark.createDataFrame([(ts, ts)], "t timestamp, n timestamp_ntz")
    keys = df.toArrow()
    assert S._spark_parquet_options(spark, keys.schema) is None
    name, n = S._write_eq_delete_dir(spark, SnapshotLog(spark, root), keys, ["x"])
    assert n == 1
    keys_dir = os.path.join(root, "_snapshots", "deletes", name, "keys")
    spark_keys = str(tmp_path / "spark_keys")
    df.write.parquet(spark_keys)
    assert pq.read_table(keys_dir).schema.types == pq.read_table(spark_keys).schema.types
    assert [tuple(r) for r in spark.read.parquet(keys_dir).collect()] == [(ts, ts)]


DUPLICATE_BATCHES = {
    "plain": ([(3, "a", 1.0), (3, "b", 2.0), (4, "c", 3.0)], ["id"]),
    "null": ([(None, "a", 1.0), (None, "a", 2.0)], ["id", "cat"]),
    # Spark's distinct folds -0.0 into 0.0; Arrow's grouping does not
    "zero": ([(1, "a", 0.0), (2, "b", -0.0)], ["v"]),
}


@pytest.mark.parametrize("cap", ["as_is", 0])
@pytest.mark.parametrize("batch", sorted(DUPLICATE_BATCHES))
def test_upsert_rejects_duplicate_keys(spark, tmp_path, monkeypatch, cap, batch):
    root = str(tmp_path / "t")
    _seed(spark, root)
    if cap == 0:
        monkeypatch.setattr(S, "MERGE_KEY_PROBE_CAP", 0)
    rows, key_cols = DUPLICATE_BATCHES[batch]
    before = SnapshotLog(spark, root).latest()
    with pytest.raises(ValueError, match="unique"):
        S.snapshot_upsert_mor(spark, root, spark.createDataFrame(rows, ROW_SCHEMA), key_cols)
    assert SnapshotLog(spark, root).latest() == before


def test_upsert_collects_its_keys_once(spark, tmp_path, monkeypatch):
    """Under MERGE_KEY_PROBE_CAP one collect of the keys gives the
    batch's size and its uniqueness check: no count jobs."""
    jobs, reads = {}, {}
    for cap in ("as_is", 0):
        root = str(tmp_path / f"cap_{cap}")
        _seed(spark, root)
        src = spark.createDataFrame(_rows([1, 11, 21, 105], 0.5), ROW_SCHEMA)
        with monkeypatch.context() as m:
            if cap == 0:
                m.setattr(S, "MERGE_KEY_PROBE_CAP", 0)
            with _JobCounter(spark) as c:
                res = S.snapshot_upsert_mor(spark, root, src, ["id"])
        assert res["upserted_keys"] == 4
        jobs[cap] = c.jobs
        reads[cap] = sorted(map(tuple, read_table_at(spark, root).collect()))
    assert reads["as_is"] == reads[0]
    # one job collects the keys, one lands the batch
    assert jobs["as_is"] <= 2 < jobs[0], jobs


def test_delete_by_key_collects_its_keys_once(spark, tmp_path, monkeypatch):
    """Under MERGE_KEY_PROBE_CAP the keys are collected once, for the
    scope probe and the entry's keys/ write alike; past it both stay
    distributed. Both write the same entry and give the same reads."""
    states, jobs = {}, {}
    for cap in ("as_is", 0):
        root = str(tmp_path / f"cap_{cap}")
        _seed(spark, root)
        keys = spark.createDataFrame([(3,), (13,), (3,)], "id long")
        with monkeypatch.context() as m:
            if cap == 0:
                m.setattr(S, "MERGE_KEY_PROBE_CAP", 0)
            with _JobCounter(spark) as c:
                res = S.snapshot_delete_by_key(spark, root, keys)
        assert res["deleted_keys"] == 2
        jobs[cap] = c.jobs
        states[cap] = _state(spark, root)
    for field in ("manifest", "pos_rows", "eq_keys", "read_at", "where", "pending"):
        assert states["as_is"][field] == states[0][field], field
    # the capped run never probes the scope: it may only be wider
    assert states["as_is"]["scope"] <= states[0]["scope"]
    assert states["as_is"]["eq_keys"] == {(3,), (13,)}
    assert jobs["as_is"] < jobs[0], jobs
