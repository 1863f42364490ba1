"""Parity of the driver-side rewrite kernel (executor._arrow_kernel,
run by compact_table's _rewrite_arrow) with the Spark rewrite it
stands in for.

Each staged table is compacted twice from identical hard-link copies:
once as compact_table runs by default, where every partition under
_ARROW_REWRITE_MAX_BYTES takes the kernel, and once with the cap at 0,
where every partition takes Spark (_compact_one or _compact_batch).
Both runs must leave every partition with the same rows (count plus an
order-insensitive hash, read with pyarrow) and the same file count.
The kernel's files must keep the source's footer schema, and a
partition the kernel cannot encode or whose files' schemas differ must
reach _compact_one."""

from __future__ import annotations

import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import hbase_compact_spark.compaction.executor as ex
from hbase_compact_spark.compaction.checkpoint import CompactionCheckpoint

NAN = float("nan")
BIG_TARGET = 64 << 20


def _data_files(d: str) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _rows(d: str) -> list[dict]:
    out = []
    for path in _data_files(d):
        out += pq.read_table(path, coerce_int96_timestamp_unit="us").to_pylist()
    return out


def _fingerprint(d: str) -> tuple[int, str]:
    """(rows, order-insensitive hash) of a partition dir, read with
    pyarrow so the check does not run on either engine it compares."""
    canon = sorted(repr(sorted(r.items())) for r in _rows(d))
    return len(canon), hashlib.md5("\n".join(canon).encode()).hexdigest()


def _strip_spark_markers(root: str) -> None:
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".parquet"):
                os.unlink(os.path.join(dirpath, f))


def _arrow_events(n: int, seed: int) -> pa.Table:
    """timestamp[us], a double and a list<double> holding NaN and NULL,
    binary."""
    d = [
        None if i % 7 == 0 else NAN if i % 5 == 0 else (i * 37 % 11) - 5.5
        for i in range(n)
    ]
    return pa.table(
        {
            "id": pa.array(range(seed * 1000, seed * 1000 + n), pa.int64()),
            "ts": pa.array(
                [1_700_000_000_000_000 + i * 1_000_003 for i in range(n)],
                pa.timestamp("us"),
            ),
            "d": pa.array(d, pa.float64()),
            "l": pa.array(
                [
                    None if i % 9 == 0 else [float(i), NAN][: 1 + i % 2]
                    for i in range(n)
                ],
                pa.list_(pa.float64()),
            ),
            "b": pa.array([bytes([i % 256, seed]) for i in range(n)], pa.binary()),
        }
    )


def _write_files(d: str, tables: list[pa.Table]) -> None:
    os.makedirs(d, exist_ok=True)
    for i, t in enumerate(tables):
        pq.write_table(t, os.path.join(d, f"part-{i:05d}.parquet"))


# table -> (sort_by, partitions the kernel must hand to _compact_one).
# Each table holds one schema: with the cap at 0, small partitions of
# one table share a batched Spark read, which takes a single schema.
TABLES = {
    "spark": (["k"], set()),
    "spark_dec": (["k"], {"region=dec"}),
    "arrow": (["d"], set()),
    "drift": (["d"], {"p=drift"}),
    "multi": (None, set()),
    "levels": (None, set()),
}


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory) -> str:
    base = str(tmp_path_factory.mktemp("arrow_parity"))
    # Spark-written: INT96 timestamps, strings and NULL sort keys; the
    # `dec` partition adds a decimal(9,2), which Spark stores as int32
    # and pyarrow 16 cannot write, so it must go to _compact_one
    rows = spark.range(400).select(
        "id",
        F.when(F.col("id") % 6 == 0, None).otherwise(F.col("id") % 50).alias("k"),
        (F.lit("2024-03-01 00:00:00").cast("timestamp") + F.make_interval(
            secs=F.col("id").cast("decimal(18,6)")
        )).alias("ts"),
        F.when(F.col("id") % 4 == 0, None).otherwise(
            F.concat(F.lit("s"), F.col("id").cast("string"))
        ).alias("s"),
        (F.col("id") / 3).alias("v"),
    )
    rows.repartition(5).write.parquet(f"{base}/spark/region=plain")
    rows.withColumn(
        "dec", (F.col("id") * 1.25).cast("decimal(9,2)")
    ).repartition(5).write.parquet(f"{base}/spark_dec/region=dec")
    _strip_spark_markers(base)

    _write_files(f"{base}/arrow/p=nan", [_arrow_events(60, s) for s in range(5)])
    # schema drift: the same column required in one file, optional in
    # the other, so their Parquet schemas differ
    drift = pa.table({"d": [1.5, NAN, -2.0], "s": ["a", "b", "c"]})
    required = drift.cast(
        pa.schema([pa.field("d", pa.float64(), nullable=False), ("s", pa.string())])
    )
    _write_files(f"{base}/drift/p=drift", [required, drift])

    _write_files(f"{base}/multi/p=multi", [_arrow_events(300, s) for s in range(8)])
    # two levels, a name with URI-special characters, and the root
    levels = (("a=1/b=2", range(4)), ("k=x y+2.2%f", range(7, 9)), ("", range(4, 7)))
    for rel, seeds in levels:
        _write_files(f"{base}/levels/{rel}", [_arrow_events(50, s) for s in seeds])
    return base


def _encoding(path: str) -> tuple:
    """A file's footer schema and metadata (_parquet_layout) and the
    columns it dictionary-encodes."""
    meta = pq.read_metadata(path)
    chunks = [meta.row_group(0).column(i) for i in range(meta.num_columns)]
    dictionary = {c.path_in_schema for c in chunks if c.has_dictionary_page}
    return ex._parquet_layout(meta), dictionary


def _copy(src: str, dest: str) -> None:
    shutil.copytree(src, dest, copy_function=os.link)


def _partitions(root: str) -> dict[str, str]:
    return {rel: os.path.join(root, rel) for rel in ex._walk_table(root)}


def _target(root: str, table: str) -> int:
    if table != "multi":
        return BIG_TARGET
    files = _data_files(os.path.join(root, "p=multi"))
    return sum(map(os.path.getsize, files)) // 3 + 1  # three bins


class _JobCounter:
    def __init__(self, spark) -> None:
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def __enter__(self):
        self._start = self._dag.nextJobId()
        return self

    def __exit__(self, *exc):
        self.jobs = self._dag.nextJobId() - self._start


@pytest.mark.parametrize("table", sorted(TABLES))
def test_kernel_matches_spark_rewrite(spark, staged, tmp_path, monkeypatch, table):
    sort_by, to_spark = TABLES[table]
    src = os.path.join(staged, table)
    source = {rel: _fingerprint(d) for rel, d in _partitions(src).items()}
    layouts = {
        rel: _encoding(_data_files(d)[0]) for rel, d in _partitions(src).items()
    }
    real = ex._compact_one
    handed: list[str] = []

    def spy(spark_, table_root, rel, *a, **kw):
        handed.append(rel)
        return real(spark_, table_root, rel, *a, **kw)

    out = {}
    for side, cap in (("kernel", ex._ARROW_REWRITE_MAX_BYTES), ("spark", 0)):
        work = str(tmp_path / side)
        _copy(src, work)
        with monkeypatch.context() as m, _JobCounter(spark) as jobs:
            m.setattr(ex, "_ARROW_REWRITE_MAX_BYTES", cap)
            m.setattr(ex, "_compact_one", spy)
            report = ex.compact_table(
                spark, work, target_bytes=_target(work, table), sort_by=sort_by,
                checkpoint=CompactionCheckpoint(str(tmp_path / f"{side}.json")),
            )
        assert {r.partition for r in report.compacted} == set(source), side
        out[side] = {
            rel: (d, _fingerprint(d), len(_data_files(d)))
            for rel, d in _partitions(work).items()
        }
        if side == "kernel":
            assert set(handed) == to_spark
            if not to_spark:
                assert jobs.jobs == 0
            for rel, (d, _fp, _n) in out[side].items():
                if rel not in to_spark:  # the kernel kept the encoding
                    for path in _data_files(d):
                        assert _encoding(path) == layouts[rel], (rel, path)
    for rel, fp in source.items():
        _dk, fp_k, n_k = out["kernel"][rel]
        _ds, fp_s, n_s = out["spark"][rel]
        assert fp_k == fp_s == fp, rel
        assert n_k == n_s, rel
    if table == "multi":
        assert out["kernel"]["p=multi"][2] == 3
    if sort_by:
        # one output file each: the same key sequence as Spark's
        # ascending NULLS FIRST, NaN after every number
        (key,) = sort_by
        for rel in source:
            keys = {
                side: [repr(r[key]) for r in _rows(out[side][rel][0])]
                for side in out
            }
            assert keys["kernel"] == keys["spark"], rel


def _tree(root: str) -> dict[str, list[str]]:
    return {
        d: sorted(f for f in files if not f.startswith("."))
        for d, _dirs, files in os.walk(root)
    }


@pytest.mark.parametrize("fault", ["swap", "verify"])
def test_kernel_failure_leaves_table_untouched(spark, staged, tmp_path, monkeypatch, fault):
    """A swap that fails before its manifest, or a poisoned
    verification, leaves every file where it was and no tmp dir."""
    work = str(tmp_path / "w")
    _copy(os.path.join(staged, "multi"), work)
    before = _tree(work)

    def no_spark(*a, **kw):
        raise AssertionError("the kernel handed the partition to Spark")

    def swap_fails(*a, **kw):
        raise RuntimeError("injected swap failure")

    monkeypatch.setattr(ex, "_compact_one", no_spark)
    if fault == "swap":
        monkeypatch.setattr(ex, "_swap_files", swap_fails)
        match = "injected"
    else:
        monkeypatch.setattr(ex, "_arrow_equal", lambda a, b: False)
        match = "verification failed"
    with pytest.raises(RuntimeError, match=match):
        ex.compact_table(spark, work, target_bytes=BIG_TARGET)
    assert not [d for d in os.listdir(work) if d.startswith("_compact_tmp_")]
    assert _tree(work) == before


def test_spark_swap_failure_leaves_no_tmp_dir(spark, staged, tmp_path, monkeypatch):
    """The same rule on the Spark path: a swap that fails before its
    manifest leaves every source file in place and no tmp dir."""
    work = str(tmp_path / "w")
    _copy(os.path.join(staged, "multi"), work)
    before = _tree(work)

    def swap_fails(*a, **kw):
        raise RuntimeError("injected swap failure")

    monkeypatch.setattr(ex, "_ARROW_REWRITE_MAX_BYTES", 0)
    monkeypatch.setattr(ex, "_swap_files", swap_fails)
    with pytest.raises(RuntimeError, match="injected"):
        ex.compact_table(spark, work, target_bytes=BIG_TARGET)
    assert not [d for d in os.listdir(work) if d.startswith("_compact_tmp_")]
    assert _tree(work) == before


def test_arrow_equal_is_nan_aware():
    """pa.Table.equals says NaN != NaN, even for a table and its own
    round trip; the kernel's comparison must not."""
    def table():
        nested = pa.array([[NAN], None], pa.list_(pa.float32()))
        return pa.table({"d": [1.0, NAN], "l": nested})

    t = table()
    assert not t.equals(table())
    assert ex._arrow_equal(t, table())
    assert not ex._arrow_equal(t, pa.table({"d": [1.0, 2.0], "l": t["l"]}))
    assert not ex._arrow_equal(pa.table({"d": [0.0]}), pa.table({"d": [-0.0]}))


def _drift_partition(d: str, wide_first: bool) -> None:
    """f0 and f1: 50 rows each, one file with column a only, the other
    with a and b; `wide_first` puts (a, b) in f0."""
    narrow = pa.table({"a": pa.array(range(50), pa.int64())})
    wide = pa.table(
        {"a": pa.array(range(50, 100), pa.int64()), "b": [f"b{i}" for i in range(50)]}
    )
    os.makedirs(d, exist_ok=True)
    first, second = (wide, narrow) if wide_first else (narrow, wide)
    pq.write_table(first, os.path.join(d, "f0.parquet"))
    pq.write_table(second, os.path.join(d, "f1.parquet"))


def _with_columns(rows: list[dict], cols: set[str]) -> list[str]:
    return sorted(repr(sorted({c: r.get(c) for c in cols}.items())) for r in rows)


@pytest.mark.parametrize("wide_first", [False, True], ids=["narrow_first", "wide_first"])
@pytest.mark.parametrize("layout", ["one", "batch", "across"])
def test_spark_rewrite_keeps_every_column(spark, tmp_path, monkeypatch, layout, wide_first):
    """A Spark rewrite writes every column its files hold, whichever
    file Spark would infer the schema from. `one`: a drifted partition
    the kernel hands to _compact_one. `batch`: two drifted partitions
    with the cap at 0, which the batch must leave to _compact_one.
    `across`: with the cap at 0, a partition of (a) files beside one of
    (a, b) files. Each partition keeps its own columns and rows; the
    batch may add a column other partitions hold, all NULL."""
    root = str(tmp_path / "t")
    if layout == "across":
        for rel, wide in (("p=0", wide_first), ("p=1", not wide_first)):
            t = pa.table({"a": pa.array(range(50), pa.int64())})
            if wide:
                t = t.append_column("b", pa.array([f"b{i}" for i in range(50)]))
            _write_files(os.path.join(root, rel), [t.slice(0, 25), t.slice(25)])
    else:
        for rel in ("p=0", "p=1") if layout == "batch" else ("p=0",):
            _drift_partition(os.path.join(root, rel), wide_first)
    if layout != "one":
        monkeypatch.setattr(ex, "_ARROW_REWRITE_MAX_BYTES", 0)
    before = {}
    for rel, d in _partitions(root).items():
        cols = {n for p in _data_files(d) for n in pq.read_schema(p).names}
        before[rel] = (cols, _with_columns(_rows(d), cols))
    report = ex.compact_table(spark, root, target_bytes=BIG_TARGET)
    assert {r.partition: r.rows for r in report.compacted} == {
        rel: len(rows) for rel, (_c, rows) in before.items()
    }
    for rel, d in _partitions(root).items():
        (path,) = _data_files(d)
        cols, rows = before[rel]
        written = set(pq.read_schema(path).names)
        assert written == cols or layout == "across" and written > cols, rel
        assert _with_columns(_rows(d), cols) == rows, rel
        assert all(r[c] is None for r in _rows(d) for c in written - cols), rel
