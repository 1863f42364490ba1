"""snapshot_compact, and so maintain_mor, rewrites a small partition
with the executor's driver-side kernel (executor._arrow_kernel),
applying the pending merge-on-read deletes on the driver; every other
partition keeps the Spark rewrite.

Each staged table is compacted twice from identical hard-link copies:
once as it runs by default, and once with _ARROW_REWRITE_MAX_BYTES at
0, where every partition takes Spark. Both runs must read the same
rows as the table did before (an order-insensitive hash of
read_table_at) and leave the same file and pending-entry counts."""

from __future__ import annotations

import datetime
import hashlib
import os
import shutil

import pyarrow.parquet as pq
import pytest

import hbase_compact_spark.compaction.executor as ex
import hbase_compact_spark.compaction.snapshots as S
from hbase_compact_spark.compaction.snapshots import SnapshotLog, read_table_at
from hbase_compact_spark.streaming.ingest import snapshot_sink_batch

ROW_SCHEMA = "id long, k int, s string, ts timestamp, v double"
T0 = datetime.datetime(2024, 3, 1)


def _rows(ids, k=None) -> list[tuple]:
    return [
        (
            i,
            k if k is not None else None if i % 7 == 0 else i % 13,
            None if i % 5 == 0 else f"s{i % 4}",
            T0 + datetime.timedelta(seconds=i * 37 % 101),
            i / 3,
        )
        for i in ids
    ]


def _seed(spark, root: str, hive: bool = True) -> None:
    """Two hive partitions of three Spark-written files each, or the
    same six files in one unpartitioned directory."""
    for p, lo in (("a", 0), ("b", 100)):
        spark.createDataFrame(_rows(range(lo, lo + 60)), ROW_SCHEMA).repartition(
            3
        ).write.mode("append").parquet(f"{root}/p={p}" if hive else root)
    SnapshotLog(spark, root).bootstrap()


def _pos_delete(spark, root: str) -> None:
    S.snapshot_delete(spark, root, {"id": (5, 30)}, mode="mor")


def _eq_delete(spark, root: str) -> None:
    # a NULL key matches no row; rows of a deleted key appended later
    # lie outside the entry's scope and survive
    keys = spark.createDataFrame([(3,), (None,), (8,)], "k int")
    S.snapshot_delete_by_key(spark, root, keys)
    late = spark.createDataFrame(_rows(range(200, 205), k=3), ROW_SCHEMA)
    snapshot_sink_batch(late.coalesce(1), root, partition="p=a")


def _eq_multi_delete(spark, root: str) -> None:
    keys = spark.createDataFrame(
        [(1, "s1"), (None, "s2"), (4, None), (9, "s1"), (10, "s2")], "k int, s string"
    )
    S.snapshot_delete_by_key(spark, root, keys)


def _maintain(spark, root: str, **kw) -> dict:
    res = S.maintain_mor(spark, root, max_pending=0, **kw)
    assert res["triggered"]
    return res


def _half_bins(root: str) -> int:
    """A target that cuts partition p=a into two files."""
    d = os.path.join(root, "p=a")
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)) // 2 + 1


# table -> (stage, compact, whether the kernel takes every partition)
SCENARIOS = {
    "positional": (_pos_delete, _maintain, True),
    "equality": (_eq_delete, _maintain, True),
    "equality_multi": (_eq_multi_delete, _maintain, True),
    "sorted": (
        lambda spark, root: (S.set_sort_order(spark, root, ["ts"]), _pos_delete(spark, root)),
        lambda spark, root: _maintain(spark, root, target_bytes=_half_bins(root)),
        True,
    ),
    "zorder": (
        _pos_delete,
        lambda spark, root: S.snapshot_compact(spark, root, cluster_by=["k", "id"]),
        False,
    ),
    "evolved": (
        lambda spark, root: (
            S.evolve_schema(spark, root, add_columns={"extra": "string"}),
            _pos_delete(spark, root),
        ),
        _maintain,
        False,
    ),
    "migrate": (
        lambda spark, root: S.evolve_partitioning(spark, root, ["k"]),
        lambda spark, root: S.snapshot_compact(spark, root, migrate_spec=True),
        False,
    ),
}


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory) -> str:
    base = str(tmp_path_factory.mktemp("snapshot_kernel"))
    for name, (stage, _compact, _kernel) in SCENARIOS.items():
        root = os.path.join(base, name)
        # a spec evolves only on a table without hive path columns
        _seed(spark, root, hive=name != "migrate")
        stage(spark, root)
    return base


def _fingerprint(spark, root: str) -> tuple[int, str]:
    rows = sorted(repr(tuple(r)) for r in read_table_at(spark, root).collect())
    return len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()


def _state(spark, root: str) -> dict:
    log = SnapshotLog(spark, root)
    v = log.latest()
    return {
        "rows": _fingerprint(spark, root),
        "files": len(log.files(v)),
        "pending": len(log.delete_files(v)),
    }


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_snapshot_kernel_matches_spark_rewrite(spark, staged, tmp_path, monkeypatch, name):
    _stage, compact, kernel = SCENARIOS[name]
    src = os.path.join(staged, name)
    before = _fingerprint(spark, src)
    base = SnapshotLog(spark, src).latest()
    out = {}
    for side, cap in (("kernel", ex._ARROW_REWRITE_MAX_BYTES), ("spark", 0)):
        work = str(tmp_path / side)
        shutil.copytree(src, work, copy_function=os.link)
        paths: list[str] = []
        real_kernel, real_spark = S._arrow_kernel, S._spark_compact_partition
        real_migrate = S._migrate_spec

        def kernel_spy(*a, **kw):
            n = real_kernel(*a, **kw)
            paths.append("spark" if n is None else "kernel")
            return n

        def spark_spy(real):
            def run(*a, **kw):
                paths.append("spark")
                return real(*a, **kw)

            return run

        with monkeypatch.context() as m:
            m.setattr(ex, "_ARROW_REWRITE_MAX_BYTES", cap)
            m.setattr(S, "_arrow_kernel", kernel_spy)
            m.setattr(S, "_spark_compact_partition", spark_spy(real_spark))
            m.setattr(S, "_migrate_spec", spark_spy(real_migrate))
            res = compact(spark, work)
        assert res["version"] > base, side
        if side == "kernel" and kernel:
            assert paths and set(paths) == {"kernel"}, paths
        else:
            assert "spark" in paths and "kernel" not in paths, (side, paths)
        out[side] = _state(spark, work)
        assert out[side]["rows"] == before, side
        if name == "sorted":
            for rel, _size in SnapshotLog(spark, work).files():
                ts = pq.read_table(os.path.join(work, rel)).column("ts").to_pylist()
                assert ts == sorted(ts), (side, rel)
    assert out["kernel"] == out["spark"]
    if name.startswith("equality"):
        assert out["kernel"]["pending"] == 0
        if name == "equality":  # the later rows of a deleted key survive
            got = read_table_at(spark, str(tmp_path / "kernel")).filter("id >= 200").count()
            assert got == 5


def _jobs(spark, fn):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    start = dag.nextJobId()
    out = fn()
    return out, dag.nextJobId() - start


def test_maintain_mor_launches_no_spark_job(spark, tmp_path):
    root = str(tmp_path / "t")
    _seed(spark, root)
    S.snapshot_upsert_mor(
        spark, root, spark.createDataFrame(_rows([1, 2, 40, 41]), ROW_SCHEMA), ["id"]
    )
    _pos_delete(spark, root)
    want = _fingerprint(spark, root)
    res, jobs = _jobs(spark, lambda: _maintain(spark, root))
    assert jobs == 0
    assert res["pending_after"] == 0 and res["rewritten"] >= 1
    assert _fingerprint(spark, root) == want


def _leftovers(root: str) -> list[str]:
    out = []
    for d, dirs, files in os.walk(root):
        out += [n for n in dirs if n.startswith("_snapcompact_tmp_")]
        out += [n for n in files if n.startswith("compacted-")]
    return out


@pytest.mark.parametrize("side", ["kernel", "spark"])
def test_verification_failure_commits_nothing(spark, staged, tmp_path, monkeypatch, side):
    """A poisoned verification in the second partition raises, and
    leaves no new version, no landed file of the first partition and
    no tmp dir."""
    work = str(tmp_path / "w")
    shutil.copytree(os.path.join(staged, "positional"), work, copy_function=os.link)
    base = SnapshotLog(spark, work).latest()
    calls: list[int] = []
    if side == "kernel":
        real = ex._arrow_equal

        def poisoned(a, b):  # p=a verifies, p=b does not
            calls.append(1)
            return real(a, b) and len(calls) == 1

        monkeypatch.setattr(ex, "_arrow_equal", poisoned)
        match = "verification failed"
    else:
        monkeypatch.setattr(ex, "_ARROW_REWRITE_MAX_BYTES", 0)

        def poisoned(df):  # p=a's two sides agree, p=b's do not
            calls.append(1)
            return (0 if len(calls) <= 2 else len(calls),)

        monkeypatch.setattr(S, "_fingerprint", poisoned)
        match = "verification failed"
    with pytest.raises(RuntimeError, match=match):
        S.snapshot_compact(spark, work)
    assert len(calls) > 2 if side == "spark" else len(calls) == 2
    assert SnapshotLog(spark, work).latest() == base
    assert _leftovers(work) == []


def test_equality_delete_read_keeps_column_order(spark, tmp_path):
    """The equality-delete join on the key columns must not move them
    to the front of a read whose every file is in the entry's scope."""
    root = str(tmp_path / "t")
    _seed(spark, root, hive=False)
    want = read_table_at(spark, root).columns
    S.snapshot_delete_by_key(spark, root, spark.createDataFrame([(1, "s1")], "k int, s string"))
    assert read_table_at(spark, root).columns == want
