"""The driver-side table walk (executor._walk_table) behind every
listing of a local table: it lists exactly what the distributed
listing lists on every root spelling, its purity flag equals the
per-partition listStatus's, a file removed mid-walk drops only that
file, past its cap compaction takes the distributed path with the
same outcome, and under the cap the stats report and an idle pass
launch no Spark job."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import hbase_compact_spark.compaction.executor as ex
from hbase_compact_spark.compaction.checkpoint import CompactionCheckpoint
from hbase_compact_spark.compaction.daemon import stats_report
from tests.test_recorded_schema import _JobCounter


def _write(path: str, lo: int, n: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    keys = np.arange(lo, lo + n, dtype=np.int64)
    pq.write_table(
        pa.table({"key": keys, "v": pa.array([f"v{k}" for k in keys])}), path
    )


def _adversarial_tree(root: str) -> None:
    files = [
        "at_root.parquet",  # a file at the root: partition ""
        "p=1/a.parquet",
        "p=1/_k=v.parquet",  # `_` prefix with `=`: data to Spark
        "p=1/.hidden.parquet",
        "p=1/_tmp.parquet",
        "a=1/x.parquet",  # nested, with files at both levels
        "a=1/b=2/y.parquet",
        "sp ace/f one.parquet",
        "pct%25/f%.parquet",
        "plus+1/f+.parquet",
        "stray=1/s.parquet",
        "q=1/r.parquet",
        "q=1/_k=v/z.parquet",  # Spark reads it; no listing lists it
        "_k=v/w.parquet",
        "_hidden/h.parquet",
        ".dot/d.parquet",
        "_compact_tmp_abc123/t.parquet",
        "_trash/1700000000/p=1/old.parquet",
    ]
    for i, rel in enumerate(files):
        _write(os.path.join(root, rel), 10 * i, 3 + i)
    for rel, text in [
        ("stray=1/notes.txt", "a visible non-parquet file"),
        ("p=1/_swap_manifest.json", "{}"),
        ("p=1/x.parquet._COPYING_", ""),
    ]:
        with open(os.path.join(root, rel), "w") as fh:
            fh.write(text)
    os.makedirs(os.path.join(root, "empty"))


def _root_spellings(spark, root: str) -> list[str]:
    # Hadoop resolves a relative root against the JVM's directory
    jvm_cwd = spark.sparkContext._jvm.System.getProperty("user.dir")
    return [
        root,
        "file:" + root,
        "file://" + root,  # file:///abs
        os.path.relpath(root, jvm_cwd),
    ]


def test_walk_lists_what_the_distributed_listing_lists(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "adv")
    _adversarial_tree(root)
    expected_parts = {
        "", "p=1", "a=1", "a=1/b=2", "sp ace", "pct%25", "plus+1",
        "stray=1", "q=1",
    }
    for spelling in _root_spellings(spark, root):
        walk = ex._walk_table(spelling)
        assert walk is not None, spelling
        assert set(walk) == expected_parts, spelling
        # the purity flag is the per-partition listStatus's, file list too
        for rel, (files, pure) in walk.items():
            assert ex._list_one_partition(spark, spelling, rel) == (files, pure), (
                spelling, rel,
            )
        assert {rel for rel, (_f, pure) in walk.items() if not pure} == {
            "", "a=1", "stray=1", "q=1",
        }
        assert [os.path.basename(u) for u, _ in walk["p=1"][0]] == [
            "_k=v.parquet", "a.parquet",
        ]

        via_walk_df = {tuple(r) for r in ex.listing_df(spark, spelling).collect()}
        via_walk_files = ex.list_partition_files(spark, spelling)
        with monkeypatch.context() as m:
            m.setattr(ex, "_WALK_MAX_ENTRIES", 0)
            assert ex._walk_table(spelling) is None
            dist_df = {tuple(r) for r in ex.listing_df(spark, spelling).collect()}
            dist_files = ex.list_partition_files(spark, spelling)
        assert via_walk_df == dist_df, spelling
        assert {r[0] for r in dist_df} == expected_parts
        assert ("sp ace", "sp ace/f one.parquet", os.path.getsize(
            os.path.join(root, "sp ace", "f one.parquet"))) in dist_df
        # same partitions, same file URIs, same sizes
        assert via_walk_files == dist_files, spelling


def test_walk_declines_remote_roots_and_past_its_cap(tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    for i in range(3):
        _write(os.path.join(root, "p=0", f"f{i}.parquet"), i, 2)
    for remote in ("hdfs://nn:8020/t", "s3a://bucket/t", "file://host/t"):
        assert ex._walk_table(remote) is None
    assert ex._walk_table(str(tmp_path / "missing")) is None
    monkeypatch.setattr(ex, "_WALK_MAX_ENTRIES", 4)  # 1 dir + 3 files
    assert ex._walk_table(root) is not None
    monkeypatch.setattr(ex, "_WALK_MAX_ENTRIES", 3)
    assert ex._walk_table(root) is None


def test_walk_skips_only_a_file_removed_while_listing(tmp_path, monkeypatch):
    """A swap retires old files one at a time; a file that vanishes
    between scandir and its stat is left out alone, as Hadoop's
    listStatus does, and its directory's other files stay listed."""
    root = str(tmp_path / "t")
    for name in ("a", "b", "c"):
        _write(os.path.join(root, "p=0", f"{name}.parquet"), 0, 2)
    _write(os.path.join(root, "p=1", "d.parquet"), 0, 2)
    real_scandir = os.scandir

    class _RemovingScandir:
        def __init__(self, path):
            with real_scandir(path) as it:
                self.entries = list(it)
            if os.path.basename(path) == "p=0":
                os.remove(os.path.join(path, "b.parquet"))

        def __enter__(self):
            return iter(self.entries)

        def __exit__(self, *exc):
            return False

    monkeypatch.setattr(ex.os, "scandir", _RemovingScandir)
    walk = ex._walk_table(root)
    assert {rel: [os.path.basename(u) for u, _s in files] for rel, (files, _p) in walk.items()} == {
        "p=0": ["a.parquet", "c.parquet"],
        "p=1": ["d.parquet"],
    }


def _fragmented(root: str) -> int:
    """Four small partitions of 6 files (one bin each: the batched
    rewrite), one of 6 larger files (two bins: the concurrent rewrite)
    and a one-file partition the gate skips, pyarrow-written. Returns
    the rewrite target that gives those bin counts."""
    for p in range(4):
        for f in range(6):
            _write(os.path.join(root, f"region=b{p}", f"f{f}.parquet"), 1000 * p + 50 * f, 40)
    for f in range(6):
        _write(os.path.join(root, "region=big", f"f{f}.parquet"), 100_000 + 4000 * f, 4000)
    _write(os.path.join(root, "region=one", "only.parquet"), 9000, 10)
    big = sum(e.stat().st_size for e in os.scandir(os.path.join(root, "region=big")))
    return big // 2 + 1


def _pyarrow_fingerprints(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for rel in sorted(os.listdir(root)):
        d = os.path.join(root, rel)
        if rel.startswith(("_", ".")) or not os.path.isdir(d):
            continue
        rows = fp = 0
        for name in sorted(os.listdir(d)):
            if ex._hidden(name) or not name.endswith(".parquet"):
                continue
            h = pd.util.hash_pandas_object(
                pq.read_table(os.path.join(d, name)).to_pandas(), index=False
            ).to_numpy()
            rows += len(h)
            fp = (fp + int(h.sum(dtype=np.uint64))) % (1 << 64)
        out[rel] = (rows, fp)
    return out


def test_compaction_past_the_cap_matches_the_walk(spark, tmp_path, monkeypatch):
    """With the cap at 1 the walk declines, compact_table lists through
    partition_summary and _list_one_partition, and it compacts the
    same partitions to the same rows as the walk path."""
    calls = {"summary": 0, "one": 0}
    real_summary, real_one = ex.partition_summary, ex._list_one_partition

    def summary(*a):
        calls["summary"] += 1
        return real_summary(*a)

    def one(*a):
        calls["one"] += 1
        return real_one(*a)

    monkeypatch.setattr(ex, "partition_summary", summary)
    monkeypatch.setattr(ex, "_list_one_partition", one)
    roots = {}
    reports = {}
    for side, cap in (("walk", ex._WALK_MAX_ENTRIES), ("capped", 1)):
        root = roots[side] = str(tmp_path / side)
        target = _fragmented(root)
        before = _pyarrow_fingerprints(root)
        monkeypatch.setattr(ex, "_WALK_MAX_ENTRIES", cap)
        rep = ex.compact_table(
            spark, root, target_bytes=target,
            checkpoint=CompactionCheckpoint(str(tmp_path / f"{side}.json")),
        )
        reports[side] = sorted((r.partition, r.skipped, r.files_after) for r in rep.results)
        assert _pyarrow_fingerprints(root) == before
        if side == "walk":
            assert calls == {"summary": 0, "one": 0}
        else:
            assert calls["summary"] == 1 and calls["one"] == 5
    assert reports["walk"] == reports["capped"]
    compacted = [p for p, skipped, _n in reports["walk"] if skipped is None]
    assert compacted == ["region=b0", "region=b1", "region=b2", "region=b3", "region=big"]
    assert dict((p, n) for p, _s, n in reports["walk"])["region=big"] == 2
    assert _pyarrow_fingerprints(roots["walk"]) == _pyarrow_fingerprints(roots["capped"])


def test_stats_report_and_idle_pass_launch_no_jobs(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    target = _fragmented(root)
    ckpt = CompactionCheckpoint(str(tmp_path / "ck.json"))
    assert ex.compact_table(spark, root, target_bytes=target, checkpoint=ckpt).compacted

    with _JobCounter(spark) as c:
        report = stats_report(spark, root)
        report_rows = report.collect()
    assert c.jobs == 0
    with _JobCounter(spark) as c:
        idle = ex.compact_table(spark, root, target_bytes=target, checkpoint=ckpt)
    assert c.jobs == 0
    assert idle.compacted == []

    # the same results the distributed listing gives
    monkeypatch.setattr(ex, "_WALK_MAX_ENTRIES", 0)
    dist_report = stats_report(spark, root)
    assert sorted(map(tuple, report_rows)) == sorted(map(tuple, dist_report.collect()))
    assert report.schema.simpleString() == dist_report.schema.simpleString() == (
        "struct<partition:string,filenum:bigint,total_bytes:bigint,total_gb:double>"
    )
    parts = {r["partition"]: r for r in report_rows}
    assert parts["ALL"]["filenum"] == sum(
        r["filenum"] for p, r in parts.items() if p != "ALL"
    )
    dist_idle = ex.compact_table(spark, root, target_bytes=target, checkpoint=ckpt)
    assert sorted((r.partition, r.skipped) for r in idle.results) == sorted(
        (r.partition, r.skipped) for r in dist_idle.results
    )
