"""Streaming READ side of the snapshot log (streaming/table_tail.py,
VERDICT r11 task 1): version-offset micro-batch source.

Pins: per-version delivery and O(delta) planning, checkpoint restart
continuation with no replay, refusal to cross rewrite commits, the
expired-cursor guard, and the mirrored row-changing-op set staying in
lockstep with compaction.snapshots."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

import hbase_compact_spark.compaction.snapshots as S
import hbase_compact_spark.streaming.table_tail as T


def _staged_table(spark, tmp_path, n_appends=3) -> str:
    """v1 = 20-row bootstrap, then `n_appends` appends of 10 rows
    each, every version one file."""
    root = str(tmp_path / "t")
    spark.range(20).selectExpr("id", "id * 2 AS v").coalesce(
        1
    ).write.parquet(root)
    S.SnapshotLog(spark, root).bootstrap()
    for k in range(n_appends):
        lo = 20 + 10 * k
        S.append_partitioned(
            spark,
            root,
            spark.range(lo, lo + 10).selectExpr("id", "id * 2 AS v"),
        )
    return root


def _run_tail(spark, root, ckpt, out_dir, **kw):
    """One availableNow run of the tail into per-batch parquet dirs;
    returns the number of NEW batch dirs this run produced."""
    from hbase_compact_spark.streaming.table_tail import tail_stream

    before = set(os.listdir(out_dir)) if os.path.isdir(out_dir) else set()

    def sink(bdf, bid):
        bdf.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{bid:05d}")
        )

    q = (
        tail_stream(spark, root, **kw)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    assert q.awaitTermination(300), "tail run did not finish in 300 s"
    after = set(os.listdir(out_dir)) if os.path.isdir(out_dir) else set()
    return len(after - before)


def test_planning_is_per_version_file_delta(spark, tmp_path):
    """partitions(start, end) plans EXACTLY the files appended in the
    range, attributed to the version that added them — O(delta)
    planning straight off the manifest, no data file opened."""
    root = _staged_table(spark, tmp_path)
    log = S.SnapshotLog(spark, root)
    schema = T.tail_schema(spark, root)
    rdr = T.SnapshotTailStreamReader(schema, {"path": root})
    assert rdr.initialOffset() == {"version": 0}
    assert rdr.latestOffset() == {"version": 4}
    parts = rdr.partitions({"version": 1}, {"version": 3})
    want = {p for p, _ in log.files(3)} - {p for p, _ in log.files(1)}
    assert {p.relpath for p in parts} == want
    by_version = {p.relpath: p.version for p in parts}
    v2_added = {p for p, _ in log.files(2)} - {p for p, _ in log.files(1)}
    for rel, ver in by_version.items():
        assert ver == (2 if rel in v2_added else 3)
    # empty range plans the single no-op partition
    noop = rdr.partitions({"version": 4}, {"version": 4})
    assert len(noop) == 1 and noop[0].version == -1
    assert list(rdr.read(noop[0])) == []


def test_tail_serves_all_versions_and_attributes_rows(spark, tmp_path):
    """End-to-end availableNow run: every row served exactly once,
    stamped with the version that delivered it."""
    from hbase_compact_spark.streaming.table_tail import tail_stream
    from hbase_compact_spark.streaming.tumbling import run_bounded

    root = _staged_table(spark, tmp_path)
    got = run_bounded(tail_stream(spark, root), mode="append")
    rows = {(r["id"], r["_tail_version"]) for r in got.collect()}
    assert len(rows) == 50
    for i in range(50):
        want_v = 1 if i < 20 else 2 + (i - 20) // 10
        assert (i, want_v) in rows


def test_restart_continues_from_cursor_no_replay(spark, tmp_path):
    """The reference's resumability contract on the read side: run 1
    serves v1..v4 and checkpoints; two more appends land; run 2 from
    the SAME checkpoint serves ONLY the new versions — union exact,
    zero replay."""
    root = _staged_table(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _run_tail(spark, root, ckpt, out)
    run1 = spark.read.parquet(os.path.join(out, "b*"))
    assert run1.count() == 50
    for k in (3, 4):
        lo = 20 + 10 * k
        S.append_partitioned(
            spark,
            root,
            spark.range(lo, lo + 10).selectExpr("id", "id * 2 AS v"),
        )
    _run_tail(spark, root, ckpt, out)
    all_rows = spark.read.parquet(os.path.join(out, "b*"))
    assert all_rows.count() == 70  # no replay: 50 + 2x10
    assert all_rows.select("id").distinct().count() == 70
    new = all_rows.filter(F.col("_tail_version") > 4)
    assert new.count() == 20
    assert set(
        r["_tail_version"]
        for r in new.select("_tail_version").distinct().collect()
    ) == {5, 6}


def test_tail_refuses_to_cross_rewrites(spark, tmp_path):
    """A compact (or any row-changing commit) breaks file-level tail
    semantics: versions BEFORE it are served normally, then the next
    poll fails naming the commit — read_incremental's contract as a
    stream. Appends continue fine on a fresh tail past the rewrite."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    root = _staged_table(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    _run_tail(spark, root, ckpt, out)  # serves v1..v4
    S.snapshot_compact(spark, root, target_bytes=1 << 30)  # v5 rewrite
    S.append_partitioned(
        spark, root, spark.range(100, 110).selectExpr("id", "id * 2 AS v")
    )  # v6
    with pytest.raises(StreamingQueryException, match="cannot cross"):
        _run_tail(spark, root, ckpt, out)
    # resume past the rewrite with an explicit cursor: only v6 arrives
    ckpt2 = str(tmp_path / "ckpt2")
    out2 = str(tmp_path / "out2")
    os.makedirs(out2, exist_ok=True)
    _run_tail(spark, root, ckpt2, out2, from_version=5)
    got = spark.read.parquet(os.path.join(out2, "b*"))
    assert got.count() == 10
    assert {r["_tail_version"] for r in got.collect()} == {6}


def test_max_versions_per_batch_bounds_trigger_work(spark, tmp_path):
    """max_versions_per_batch=1 serves one commit per micro-batch —
    the rate-limiting knob a 100 TB tail uses to bound per-trigger
    file fan-out. Spark's availableNow falls back to single-batch for
    Python sources, so this drains on a processing-time trigger and
    stops once the cursor reaches the log's latest."""
    import re as _re
    import time

    from hbase_compact_spark.streaming.table_tail import tail_stream

    root = _staged_table(spark, tmp_path)  # 4 versions
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(out, exist_ok=True)

    def sink(bdf, bid):
        bdf.write.mode("overwrite").parquet(
            os.path.join(out, f"b{bid:05d}")
        )

    q = (
        tail_stream(spark, root, max_versions_per_batch=1)
        .writeStream.foreachBatch(sink)
        .trigger(processingTime="50 milliseconds")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.monotonic() + 300
        while time.monotonic() < deadline:
            p = q.lastProgress
            if p and p["sources"]:
                # the offset renders as a dict repr, not strict JSON
                m = _re.search(
                    r"version\D+(\d+)", p["sources"][0]["endOffset"] or ""
                )
                if m and int(m.group(1)) == 4:
                    break
            time.sleep(0.2)
        else:
            raise AssertionError("tail never reached v4")
    finally:
        q.stop()
    # one version per non-empty batch dir, four versions total
    served: dict[int, int] = {}
    for b in sorted(os.listdir(out)):
        rows = spark.read.parquet(os.path.join(out, b)).collect()
        vs = {r["_tail_version"] for r in rows}
        assert len(vs) <= 1  # never two commits in one trigger
        if vs:
            served[vs.pop()] = len(rows)
    assert served == {1: 20, 2: 10, 3: 10, 4: 10}


def test_expired_cursor_refuses_silent_replay(spark, tmp_path):
    """A cursor pointing at an expired (reclaimed) version must raise,
    never treat the missing version as an empty file set — that would
    re-emit the next version's ENTIRE table as one giant delta."""
    root = _staged_table(spark, tmp_path)
    schema = T.tail_schema(spark, root)
    rdr = T.SnapshotTailStreamReader(schema, {"path": root})
    with pytest.raises(ValueError, match="no longer a committed"):
        rdr.partitions({"version": 99}, {"version": 100})


def _run_cdc(spark, root, ckpt, out_dir, **kw):
    from hbase_compact_spark.streaming.table_tail import tail_stream

    def sink(bdf, bid):
        bdf.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b{bid:05d}")
        )

    q = (
        tail_stream(spark, root, mode="cdc", **kw)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    assert q.awaitTermination(300), "cdc run did not finish in 300 s"


def test_cdc_tail_lifecycle_and_restart(spark, tmp_path):
    """CDC mode end-to-end: appends emit inserts, MOR deletes emit
    their removed rows, upserts emit pre-image deletes + inserts,
    compaction emits NOTHING, and a checkpoint-resumed run serves
    only the versions after the cursor (continuation THROUGH the
    compaction a plain append tail refuses)."""
    root = _staged_table(spark, tmp_path, n_appends=1)  # v1, v2
    S.snapshot_delete(spark, root, {"id": (3, 5)}, mode="mor")  # v3
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    os.makedirs(out, exist_ok=True)
    _run_cdc(spark, root, ckpt, out)
    got1 = spark.read.parquet(os.path.join(out, "b*"))
    assert got1.filter("_change_type = 'insert'").count() == 30
    assert sorted(
        r["id"] for r in got1.filter("_change_type = 'delete'").collect()
    ) == [3, 4, 5]
    # compact + upsert + append land AFTER the cursor
    S.snapshot_compact(spark, root, target_bytes=1 << 30)  # v4: silent
    batch = spark.createDataFrame([(7, 777), (50, 500)], "id long, v long")
    S.snapshot_upsert_mor(spark, root, batch, ["id"])      # v5
    _run_cdc(spark, root, ckpt, out)
    got2 = spark.read.parquet(os.path.join(out, "b*"))
    new = got2.join(got1, ["id", "v", "_change_type", "_tail_version"], "left_anti")
    rows = {
        (r["id"], r["_change_type"], r["_tail_version"])
        for r in new.collect()
    }
    assert rows == {
        (7, "delete", 5),   # pre-image from the compacted file
        (7, "insert", 5),
        (50, "insert", 5),
    }
    # replaying inserts-minus-deletes reproduces the live table
    import collections

    net = collections.Counter()
    for r in got2.collect():
        net[(r["id"], r["v"])] += (
            1 if r["_change_type"] == "insert" else -1
        )
    live = {
        (r["id"], r["v"])
        for r in S.read_table_at(spark, root).collect()
    }
    assert {k for k, c in net.items() if c > 0} == live


def test_cdc_tail_matches_read_changes_on_overlapping_upserts(
    spark, tmp_path
):
    """Two upserts of the SAME key: the second's pre-image delete must
    be the FIRST upsert's row (the original is masked by the prior
    entry), exactly what batch read_changes emits for that version
    range — multiset equality between the streamed changelog slice
    and the batch changelog."""
    root = _staged_table(spark, tmp_path, n_appends=0)  # v1 only
    b1 = spark.createDataFrame([(2, 200)], "id long, v long")
    S.snapshot_upsert_mor(spark, root, b1, ["id"])  # v2
    b2 = spark.createDataFrame([(2, 2000)], "id long, v long")
    S.snapshot_upsert_mor(spark, root, b2, ["id"])  # v3
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    os.makedirs(out, exist_ok=True)
    _run_cdc(spark, root, ckpt, out)
    got = spark.read.parquet(os.path.join(out, "b*"))
    v3 = {
        (r["id"], r["v"], r["_change_type"])
        for r in got.filter("_tail_version = 3").collect()
    }
    assert v3 == {(2, 200, "delete"), (2, 2000, "insert")}
    batch_changes = {
        (r["id"], r["v"], r["_change_type"])
        for r in S.read_changes(spark, root, 2, 3).collect()
    }
    assert v3 == batch_changes
    # and version 2's pre-image is the ORIGINAL row
    v2 = {
        (r["id"], r["v"], r["_change_type"])
        for r in got.filter("_tail_version = 2").collect()
    }
    assert v2 == {(2, 4, "delete"), (2, 200, "insert")}


def test_cdc_tail_rides_cow_rewrites_via_changelog(spark, tmp_path):
    """r13: COW delete and COW merge commits carry their row-level
    diff as a commit artifact (_write_changelog) — the CDC tail
    serves those versions FROM the artifact instead of refusing, and
    each streamed version slice is multiset-equal to batch
    read_changes across the same range (the VERDICT r12 pin)."""
    root = _staged_table(spark, tmp_path, n_appends=1)  # v1, v2
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    os.makedirs(out, exist_ok=True)
    _run_cdc(spark, root, ckpt, out)                     # cursor at v2
    S.snapshot_delete(spark, root, {"id": (0, 2)})       # v3: COW delete
    src = spark.createDataFrame(
        [(10, -1), (99, 990)], "id long, v long"
    )
    S.snapshot_merge(spark, root, src, ["id"])           # v4: COW merge
    _run_cdc(spark, root, ckpt, out)
    got = spark.read.parquet(os.path.join(out, "b*"))
    for v in (3, 4):
        streamed = sorted(
            (r["id"], r["v"], r["_change_type"])
            for r in got.filter(f"_tail_version = {v}").collect()
        )
        batch = sorted(
            (r["id"], r["v"], r["_change_type"])
            for r in S.read_changes(spark, root, v - 1, v).collect()
        )
        assert streamed == batch, f"v{v} slice diverges from read_changes"
    # the v3 slice is pure deletes; v4 = update pre/post + insert
    assert sorted(
        (r["id"], r["_change_type"])
        for r in got.filter("_tail_version = 3").collect()
    ) == [(0, "delete"), (1, "delete"), (2, "delete")]
    assert sorted(
        (r["id"], r["v"], r["_change_type"])
        for r in got.filter("_tail_version = 4").collect()
    ) == [(10, -1, "insert"), (10, 20, "delete"), (99, 990, "insert")]
    # replaying inserts-minus-deletes reproduces the live table
    import collections

    net = collections.Counter()
    for r in got.collect():
        net[(r["id"], r["v"])] += 1 if r["_change_type"] == "insert" else -1
    live = {
        (r["id"], r["v"]) for r in S.read_table_at(spark, root).collect()
    }
    assert {k for k, c in net.items() if c > 0} == live
    # the APPEND tail still refuses the rewrite — file-level
    # semantics (cursor parked right before the COW delete)
    rdr = T.SnapshotTailStreamReader(
        T.tail_schema(spark, root), {"path": root, "from_version": "2"}
    )
    with pytest.raises(ValueError, match="cannot cross"):
        rdr.latestOffset()


def test_cdc_tail_rides_rollback_via_changelog(spark, tmp_path):
    """r14: snapshot_rollback writes its own change artifact (the
    revert's diff by read_changes' formula) — the CDC tail rides
    through the operational reset, and the streamed slice is
    multiset-equal to batch read_changes across it."""
    root = _staged_table(spark, tmp_path, n_appends=1)  # v1, v2
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    os.makedirs(out, exist_ok=True)
    _run_cdc(spark, root, ckpt, out)                     # cursor at v2
    S.snapshot_delete(spark, root, {"id": (0, 2)})       # v3: COW delete
    res = S.snapshot_rollback(spark, root, 2)            # v4: revert it
    assert not res["noop"]
    _run_cdc(spark, root, ckpt, out)
    got = spark.read.parquet(os.path.join(out, "b*"))
    for v in (3, 4):
        streamed = sorted(
            (r["id"], r["v"], r["_change_type"])
            for r in got.filter(f"_tail_version = {v}").collect()
        )
        batch = sorted(
            (r["id"], r["v"], r["_change_type"])
            for r in S.read_changes(spark, root, v - 1, v).collect()
        )
        assert streamed == batch, f"v{v} slice diverges from read_changes"
    # the rollback slice is the exact inverse of the delete slice
    assert sorted(
        (r["id"], r["_change_type"])
        for r in got.filter("_tail_version = 4").collect()
    ) == [(0, "insert"), (1, "insert"), (2, "insert")]
    # net replay of the full feed reproduces the reverted live table
    import collections

    net = collections.Counter()
    for r in got.collect():
        net[(r["id"], r["v"])] += 1 if r["_change_type"] == "insert" else -1
    live = {
        (r["id"], r["v"]) for r in S.read_table_at(spark, root).collect()
    }
    assert {k for k, c in net.items() if c > 0} == live


def test_rollback_across_compact_only_range_is_scan_free(spark, tmp_path):
    """r15 (ADVICE r14): a rollback whose crossed range holds only
    row-preserving commits (compact) writes the EMPTY changelog
    artifact without the two full-table exceptAll scans — the commit
    is metadata-only again. The CDC tail still rides (zero rows for
    the rollback version) and batch read_changes agrees."""
    root = _staged_table(spark, tmp_path, n_appends=1)  # v1, v2
    res_c = S.snapshot_compact(spark, root, target_bytes=1 << 30)  # v3
    assert res_c["rewritten"]
    lg = S.SnapshotLog(spark, root)
    v3 = lg.latest()
    assert lg.read(v3)["op"] == "compact"
    grp = "rollback_scanfree"
    spark.sparkContext.setJobGroup(grp, grp)
    res = S.snapshot_rollback(spark, root, v3 - 1)  # back across compact
    spark.sparkContext.setJobGroup(None, None)
    assert not res.get("noop")
    v4 = lg.latest()
    entry = lg.read(v4)["changelog"]
    assert entry[1] == 0 and entry[2] == 0, "diff must be empty"
    # scan-free: the rollback commit ran ZERO Spark jobs
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(grp)
    assert len(jobs) == 0, f"expected a metadata-only commit, ran {jobs}"
    # read_changes across the rollback is empty; the table still reads
    # as the pre-compact state
    assert S.read_changes(spark, root, v4 - 1, v4).count() == 0
    assert S.read_table_at(spark, root).count() == 30
    # a rollback across a ROW-CHANGING range still materializes
    S.snapshot_delete(spark, root, {"id": (0, 2)})
    res2 = S.snapshot_rollback(spark, root, v4)
    lg2 = S.SnapshotLog(spark, root)
    entry2 = lg2.read(lg2.latest())["changelog"]
    assert entry2[2] == 3, "revert of the delete must re-insert 3 rows"


def test_cdc_tail_refuses_artifactless_rewrites(spark, tmp_path):
    """A rewrite WITHOUT a change artifact (a legacy pre-artifact
    commit) still refuses with the read_changes resume pointer.
    Staged by stripping the changelog key from a rollback's version
    JSON — exactly what a pre-r14 commit looks like on disk."""
    import json

    from pyspark.errors.exceptions.captured import StreamingQueryException

    root = _staged_table(spark, tmp_path, n_appends=1)
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    os.makedirs(out, exist_ok=True)
    _run_cdc(spark, root, ckpt, out)
    S.snapshot_rollback(spark, root, 1)
    vpath = os.path.join(root, "_snapshots", "v000000000003.json")
    # version JSONs are plain files: no checksum sidecar to go stale
    assert not [
        n for n in os.listdir(os.path.join(root, "_snapshots"))
        if n.endswith(".crc")
    ]
    snap = json.loads(open(vpath).read())
    del snap["changelog"]
    with open(vpath, "w") as f:
        json.dump(snap, f)
    with pytest.raises(StreamingQueryException, match="cannot cross"):
        _run_cdc(spark, root, ckpt, out)


def test_expire_reclaims_changelog_artifacts(spark, tmp_path):
    """expire_snapshots drops a dead rewrite version's change
    artifact with its manifest — changelog dirs never accumulate."""
    import posixpath

    root = _staged_table(spark, tmp_path, n_appends=1)
    S.snapshot_delete(spark, root, {"id": (0, 2)})       # v3 + artifact
    S.append_partitioned(
        spark, root, spark.range(100, 105).selectExpr("id", "id*2 AS v")
    )                                                    # v4
    S.append_partitioned(
        spark, root, spark.range(105, 110).selectExpr("id", "id*2 AS v")
    )                                                    # v5
    changes = posixpath.join(root, "_snapshots", "changes")
    assert len(os.listdir(changes)) == 1
    S.expire_snapshots(spark, root, keep_last=2)
    assert not os.path.exists(changes) or os.listdir(changes) == []


def test_rollback_changelog_across_schema_evolution(spark, tmp_path):
    """Rollback across an ADD COLUMN: the revert's changelog projects
    both sides with the TARGET version's schema (read_changes'
    per-version contract), so the feed is exact even though the
    rolled-back generation's files carry the extra column. Batch
    read_changes and the version JSON's artifact counts agree."""
    root = _staged_table(spark, tmp_path, n_appends=0)       # v1: 20 rows
    S.evolve_schema(spark, root, add_columns={"note": "string"})  # v2
    S.append_partitioned(
        spark,
        root,
        spark.createDataFrame(
            [(100, 200, "x"), (101, 202, "y")],
            "id long, v long, note string",
        ),
    )                                                        # v3
    res = S.snapshot_rollback(spark, root, 2)                # v4 -> v2
    assert not res["noop"]
    log = S.SnapshotLog(spark, root)
    snap = log.read(4)
    name, n_del, n_ins = snap["changelog"]
    # the revert deletes the two appended rows, inserts nothing
    assert (n_del, n_ins) == (2, 0)
    feed = S.read_changes(spark, root, 3, 4).collect()
    assert sorted(
        (r["id"], r["v"], r["note"], r["_change_type"]) for r in feed
    ) == [(100, 200, "x", "delete"), (101, 202, "y", "delete")]
    # live table equals the rollback target exactly (note all NULL)
    live = S.read_table_at(spark, root)
    assert live.columns == ["id", "v", "note"]
    assert live.count() == 20
    assert live.filter("note IS NOT NULL").count() == 0
