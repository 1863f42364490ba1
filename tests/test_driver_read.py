"""read_table_where serves a small pruned read of a local snapshot
table on the driver: the kept files are read with pyarrow into a local
relation (snapshots._read_on_driver), so a lookup launches no Spark
job.

Every read is run twice on the same table: as it runs by default, and
with the executor's _ARROW_REWRITE_MAX_BYTES at 0, where every read
scans its files with Spark. Both must give the same rows (NaN-aware)
and the same schema, nullability included, under the UTC and the
America/Los_Angeles session time zones. The table mixes Spark-written
files (INT96 TIMESTAMP, int32 decimal(9,2)) with pyarrow-written ones
(timestamp[us, UTC])."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import hbase_compact_spark.compaction.executor as ex
import hbase_compact_spark.compaction.snapshots as S
from hbase_compact_spark.compaction.snapshots import SnapshotLog, read_table_where
from hbase_compact_spark.streaming.ingest import snapshot_sink_batch

NAN = float("nan")
SCHEMA = (
    "id long, k int, ts timestamp, ntz timestamp_ntz, d date, "
    "dec decimal(9,2), s string, b binary, x double, l array<double>"
)
UTC = datetime.timezone.utc
# TIMESTAMP values run from before the epoch to 2015; TIMESTAMP_NTZ
# values start inside Los Angeles' spring DST gap
T0 = datetime.datetime(2024, 3, 10, 9, 30, tzinfo=UTC)
TZS = ("UTC", "America/Los_Angeles")


def _row(i: int, k: int | None = None) -> tuple:
    from decimal import Decimal

    return (
        i,
        k if k is not None else None if i % 7 == 0 else i % 13,
        None if i % 11 == 0 else T0 + datetime.timedelta(hours=i * 997 - 480_000),
        datetime.datetime(2024, 3, 10, 2, 30) + datetime.timedelta(minutes=i),
        datetime.date(1969, 12, 1) + datetime.timedelta(days=i),
        None if i % 9 == 0 else Decimal(i * 125 - 3000).scaleb(-2),
        None if i % 5 == 0 else f"s{i % 4}",
        bytes([i % 256, 7]),
        None if i % 8 == 0 else NAN if i % 6 == 0 else i / 3,
        None if i % 10 == 0 else [float(i), NAN][: 1 + i % 2],
    )


def _spark_files(spark, root: str, ids, n_files: int) -> None:
    """Spark-written files: TIMESTAMP as INT96, decimal(9,2) as int32."""
    spark.createDataFrame([_row(i) for i in ids], SCHEMA).repartition(
        n_files
    ).write.mode("append").parquet(root)


def _arrow_file(path: str, ids) -> None:
    """A pyarrow-written file of the same Spark schema, TIMESTAMP as
    timestamp[us, UTC]."""
    types = [
        pa.int64(), pa.int32(), pa.timestamp("us", tz="UTC"), pa.timestamp("us"),
        pa.date32(), pa.decimal128(9, 2), pa.string(), pa.binary(), pa.float64(),
        pa.list_(pa.float64()),
    ]
    cols = list(zip(*[_row(i) for i in ids])) or [[] for _ in types]
    names = [f.split()[0] for f in SCHEMA.split(", ")]
    pq.write_table(
        pa.table({n: pa.array(c, t) for n, c, t in zip(names, cols, types)}), path
    )


def _seed(spark, root: str) -> None:
    _spark_files(spark, root, range(0, 200), n_files=4)
    _arrow_file(os.path.join(root, "arrow-000.parquet"), range(200, 260))
    _arrow_file(os.path.join(root, "arrow-001.parquet"), range(260, 320))
    SnapshotLog(spark, root).bootstrap()
    S.annotate_stats(spark, root)


def _mor(spark, root: str) -> None:
    """Pending positional entries, then an equality entry with a NULL
    key and a later file holding a deleted key outside its scope."""
    S.snapshot_delete(spark, root, {"id": (5, 30)}, mode="mor")
    S.snapshot_delete(spark, root, {"id": (210, 215)}, mode="mor")
    keys = spark.createDataFrame([(3,), (None,), (8,)], "k int")
    S.snapshot_delete_by_key(spark, root, keys)
    late = spark.createDataFrame([_row(i, k=3) for i in range(400, 405)], SCHEMA)
    snapshot_sink_batch(late.coalesce(1), root)


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory) -> dict[str, str]:
    base = str(tmp_path_factory.mktemp("driver_read"))
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        roots = {name: os.path.join(base, name) for name in ("plain", "mor")}
        for name, root in roots.items():
            _seed(spark, root)
            if name == "mor":
                _mor(spark, root)
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert SnapshotLog(spark, roots["mor"]).delete_files()
    return roots


@pytest.fixture(params=TZS)
def session_tz(spark, request):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", request.param)
    yield request.param
    spark.conf.set("spark.sql.session.timeZone", old)


class _Paths:
    """Which read path each read_table_where call took; `spark=True`
    sends every read to Spark, the all-pruned one too."""

    def __init__(self, monkeypatch, spark: bool = False) -> None:
        self.taken: list[str] = []
        real = S._read_on_driver

        def spy(*a, **kw):
            df = None if spark else real(*a, **kw)
            self.taken.append("spark" if df is None else "driver")
            return df

        monkeypatch.setattr(S, "_read_on_driver", spy)


def _jobs(spark, fn):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    start = dag.nextJobId()
    out = fn()
    return out, dag.nextJobId() - start


def _canon(df) -> list[str]:
    """The rows in a canonical order; repr makes NaN equal NaN."""
    return sorted(repr(tuple(r)) for r in df.collect())


PREDICATES = {
    "lookup_spark_file": {"id": 123},
    "lookup_arrow_file": {"id": 251},
    "lookup_deleted_id": {"id": 20},
    "range": {"id": (150, 270)},
    "all_pruned": {"id": 10**9},
    "full": {"id": (0, 10**6)},
    "deleted_key": {"k": 3},
}
# rows each read returns on the merge-on-read table: ids 5-30 and
# 210-215 deleted by position, keys 3 and 8 by equality, except the
# later file's five rows of key 3
MOR_ROWS = {
    "lookup_spark_file": 1,
    "lookup_arrow_file": 1,
    "lookup_deleted_id": 0,
    "all_pruned": 0,
    "deleted_key": 5,
}


@pytest.mark.parametrize("table", ["plain", "mor"])
@pytest.mark.parametrize("pred", sorted(PREDICATES))
def test_driver_read_matches_spark_read(
    spark, staged, session_tz, monkeypatch, table, pred
):
    root = staged[table]
    out = {}
    for side, cap in (("driver", ex._ARROW_REWRITE_MAX_BYTES), ("spark", 0)):
        with monkeypatch.context() as m:
            m.setattr(ex, "_ARROW_REWRITE_MAX_BYTES", cap)
            # at the cap 0 an all-pruned read still builds its empty
            # frame on the driver; its Spark side scans one file
            paths = _Paths(m, spark=side == "spark" and pred == "all_pruned")
            df = read_table_where(spark, root, PREDICATES[pred])
            out[side] = (df.schema, _canon(df))
        assert paths.taken == [side]
    assert out["driver"][0] == out["spark"][0]
    assert out["driver"][1] == out["spark"][1]
    if table == "mor" and pred in MOR_ROWS:
        assert len(out["driver"][1]) == MOR_ROWS[pred]


def test_lookups_launch_no_job(spark, staged, monkeypatch):
    for table in ("plain", "mor"):
        paths = _Paths(monkeypatch)
        rows, jobs = _jobs(
            spark,
            lambda: read_table_where(spark, staged[table], {"id": 251}).collect(),
        )
        assert paths.taken == ["driver"]
        assert jobs == 0, table
        assert [r["id"] for r in rows] == [251]


def test_wide_range_read_builds_with_no_job(spark, tmp_path, monkeypatch):
    """40 kept files, past Spark's 32-path parallel listing threshold:
    the Spark scan would list them with a job; the driver reads them."""
    root = str(tmp_path / "t")
    os.makedirs(root)
    for i in range(40):
        _arrow_file(os.path.join(root, f"f-{i:03d}.parquet"), range(i * 5, i * 5 + 5))
    SnapshotLog(spark, root).bootstrap()
    paths = _Paths(monkeypatch)
    df, jobs = _jobs(spark, lambda: read_table_where(spark, root, {"id": (0, 10**6)}))
    assert paths.taken == ["driver"]
    assert jobs == 0
    assert df.count() == 200


def test_empty_file_between_kept_files(spark, tmp_path):
    """An empty kept file does not cut off the rows of later files:
    createDataFrame stops at an empty Arrow batch."""
    root = str(tmp_path / "t")
    os.makedirs(root)
    for i, ids in enumerate((range(0, 1), range(0), range(1, 3))):
        _arrow_file(os.path.join(root, f"f-{i}.parquet"), ids)
    SnapshotLog(spark, root).bootstrap()
    got = read_table_where(spark, root, {"id": (0, 10)})
    assert sorted(r["id"] for r in got.collect()) == [0, 1, 2]


def _hive(spark, root: str) -> None:
    _spark_files(spark, os.path.join(root, "p=a"), range(0, 50), n_files=2)
    SnapshotLog(spark, root).bootstrap()


def _evolved(spark, root: str) -> None:
    _spark_files(spark, root, range(0, 50), n_files=2)
    SnapshotLog(spark, root).bootstrap()
    S.evolve_schema(spark, root, add_columns={"extra": "string"})


def _schemaless(spark, root: str) -> None:
    _spark_files(spark, root, range(0, 50), n_files=2)
    files = [(f, os.path.getsize(os.path.join(root, f))) for f in sorted(os.listdir(root))
             if f.endswith(".parquet")]
    SnapshotLog(None, root).commit(files, op="bootstrap")
    assert SnapshotLog(spark, root).schema()[0] is None


def _over_cap(spark, root: str) -> None:
    _spark_files(spark, root, range(0, 50), n_files=2)
    SnapshotLog(spark, root).bootstrap()


@pytest.mark.parametrize(
    "stage", [_hive, _evolved, _schemaless, _over_cap], ids=lambda f: f.__name__[1:]
)
def test_spark_reads_what_the_driver_cannot(spark, tmp_path, monkeypatch, stage):
    root = str(tmp_path / "t")
    stage(spark, root)
    if stage is _over_cap:
        kept = sum(size for _p, size in SnapshotLog(spark, root).files())
        monkeypatch.setattr(ex, "_ARROW_REWRITE_MAX_BYTES", kept - 1)
    paths = _Paths(monkeypatch)
    got = read_table_where(spark, root, {"id": (10, 19)})
    assert paths.taken == ["spark"]
    assert sorted(r["id"] for r in got.collect()) == list(range(10, 20))


def test_cap_is_inclusive(spark, tmp_path, monkeypatch):
    """Kept bytes equal to the cap read on the driver."""
    root = str(tmp_path / "t")
    _over_cap(spark, root)
    kept = sum(size for _p, size in SnapshotLog(spark, root).files())
    monkeypatch.setattr(ex, "_ARROW_REWRITE_MAX_BYTES", kept)
    paths = _Paths(monkeypatch)
    got = read_table_where(spark, root, {"id": (10, 19)})
    assert paths.taken == ["driver"]
    assert sorted(r["id"] for r in got.collect()) == list(range(10, 20))
