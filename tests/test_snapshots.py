"""Snapshot log (compaction/snapshots.py): versioned atomic commits,
append-only compaction, time travel, and expiry — readers can never
observe a mixed file set, and old versions stay readable until
explicitly expired."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hbase_compact_spark.compaction.snapshots import (
    SnapshotLog,
    expire_snapshots,
    read_table_at,
    snapshot_compact,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def part_table(spark, tmp_path):
    from hbase_compact_spark.tables import load_table

    root = str(tmp_path / "table")
    ev = load_table(spark, SF_DIR, "events").drop("ts")
    for i, part in enumerate(["p0", "p1"]):
        (
            ev.filter(F.col("event_id") % 2 == i)
            .repartition(4)
            .write.mode("overwrite")
            .parquet(f"{root}/region={part}")
        )
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".parquet"):
                os.unlink(os.path.join(dirpath, f))
    return root


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_bootstrap_and_commit_sequence(spark, part_table):
    log = SnapshotLog(spark, part_table)
    assert log.latest() is None
    v1 = log.bootstrap()
    assert v1 == 1 and log.versions() == [1]
    assert log.bootstrap() == 1  # idempotent
    files = log.files()
    assert len(files) == 8  # 2 partitions x 4 files
    assert all(p.endswith(".parquet") and s > 0 for p, s in files)
    # a second commit claims the next number and records lineage
    v2 = log.commit(files[:4], op="test")
    assert v2 == 2 and log.read(2)["parent"] == 1
    assert len(log.files(2)) == 4 and len(log.files(1)) == 8


def test_snapshot_compact_time_travel_and_isolation(spark, part_table):
    before = _sorted_rows(spark.read.parquet(part_table))
    rep = snapshot_compact(spark, part_table, target_bytes=1 << 40)
    assert rep["rewritten"] == 2 and rep["version"] == 2
    # latest snapshot: same data, 1 file per partition
    log = SnapshotLog(spark, part_table)
    assert len(log.files(2)) == 2
    assert _sorted_rows(read_table_at(spark, part_table)) == before
    # time travel: v1 (pre-compaction files) still reads identically
    assert _sorted_rows(read_table_at(spark, part_table, version=1)) == before
    # old files remain physically present -> a PLAIN recursive read
    # sees duplicated rows; only snapshot resolution is safe
    plain = spark.read.option("recursiveFileLookup", "true").parquet(part_table)
    assert plain.count() == 2 * len(before)
    # nothing qualified -> no new version
    rep2 = snapshot_compact(spark, part_table, target_bytes=1 << 40)
    assert rep2 == {
        "version": 2, "rewritten": 0, "new_files": 0, "migrated": 0,
    }


def test_expire_reclaims_only_dead_files(spark, part_table):
    before = _sorted_rows(spark.read.parquet(part_table))
    snapshot_compact(spark, part_table, target_bytes=1 << 40)
    out = expire_snapshots(spark, part_table, keep_last=1)
    assert out == {"expired": 1, "deleted_files": 8}
    log = SnapshotLog(spark, part_table)
    assert log.versions() == [2]
    # the survivor still reads completely
    assert _sorted_rows(read_table_at(spark, part_table)) == before
    # and the physical tree now holds exactly the live set
    plain = spark.read.option("recursiveFileLookup", "true").parquet(part_table)
    assert plain.count() == len(before)
    # keep_last larger than history: no-op
    assert expire_snapshots(spark, part_table, keep_last=5) == {
        "expired": 0,
        "deleted_files": 0,
    }


def test_uncommitted_files_are_invisible_and_unharmed(spark, part_table):
    """Crash between data-file landing and snapshot commit: the new
    files are garbage to readers (latest snapshot ignores them) and
    expire_snapshots must not delete files it has never referenced."""
    log = SnapshotLog(spark, part_table)
    log.bootstrap()
    before = _sorted_rows(read_table_at(spark, part_table))
    # simulate the crash: land an orphan data file, commit nothing
    orphan_dir = f"{part_table}/region=p0"
    spark.range(5).select(
        F.col("id").alias("event_id"),
        F.col("id").alias("user_id"),
        F.lit("x").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    ).coalesce(1).write.mode("append").parquet(orphan_dir)
    assert _sorted_rows(read_table_at(spark, part_table)) == before
    n_before = len(
        [f for f in os.listdir(orphan_dir) if f.endswith(".parquet")]
    )
    expire_snapshots(spark, part_table, keep_last=1)
    n_after = len(
        [f for f in os.listdir(orphan_dir) if f.endswith(".parquet")]
    )
    assert n_after == n_before  # orphans untouched by expiry


def test_commit_race_yields_distinct_versions(spark, part_table):
    log = SnapshotLog(spark, part_table)
    log.bootstrap()
    files = log.files()
    # two "concurrent" committers from the same base: both land,
    # consecutive versions, no clobber
    va = log.commit(files, op="a")
    vb = log.commit(files, op="b")
    assert {va, vb} == {2, 3}
    assert log.read(2)["op"] == "a" and log.read(3)["op"] == "b"


def test_streaming_ingest_commits_atomic_versions(spark, tmp_path):
    """Each micro-batch = one snapshot version; readers see batch
    boundaries exactly; replayed batch_ids are skipped; compaction of
    the accumulated small files interleaves through the same log."""
    from hbase_compact_spark.streaming.ingest import (
        committed_batch_ids,
        snapshot_ingest,
        snapshot_sink_batch,
    )

    root = str(tmp_path / "ingest_table")
    # seed the table (v1 bootstrap is the empty/seed listing)
    spark.range(10).select(
        F.col("id").alias("event_id"), (F.col("id") * 2).alias("v")
    ).coalesce(1).write.parquet(root)

    # stream: one availableNow pass over a 3-file source directory
    src = str(tmp_path / "src")
    for i in range(3):
        spark.range(i * 100, i * 100 + 5).select(
            F.col("id").alias("event_id"), (F.col("id") * 2).alias("v")
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = snapshot_ingest(
        stream, root, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    log = SnapshotLog(spark, root)
    assert len(log.versions()) >= 2  # bootstrap + >=1 batch commit
    assert len(committed_batch_ids(log)) >= 1
    total = read_table_at(spark, root)
    assert total.count() == 10 + 15
    # replay protection: re-delivering an already-committed batch id
    # must be a no-op (same count, no new version)
    n_versions = len(log.versions())
    batch_df = spark.range(999).select(
        F.col("id").alias("event_id"), F.col("id").alias("v")
    )
    already = max(committed_batch_ids(log))
    from hbase_compact_spark.streaming import ingest as ing

    def sink_replay(bdf, bid):
        if bid in ing.committed_batch_ids(log):
            return
        ing._commit_batch(spark, log, bdf, root, "", op=f"append:batch={bid}")

    sink_replay(batch_df, already)
    assert len(log.versions()) == n_versions
    assert read_table_at(spark, root).count() == 25
    # direct batch sink commits a version too
    v = snapshot_sink_batch(
        spark.range(5).select(
            F.col("id").alias("event_id"), F.col("id").alias("v")
        ),
        root,
    )
    assert v == max(log.versions())
    assert read_table_at(spark, root).count() == 30
    # and snapshot compaction can now squash the accumulated files
    rep = snapshot_compact(spark, root, target_bytes=1 << 40)
    assert rep["rewritten"] == 1
    assert read_table_at(spark, root).count() == 30
    assert len(log.files()) == 1


def test_sweep_orphans_respects_grace_and_references(spark, part_table):
    """Orphans older than the grace period are deleted; fresh orphans
    (possibly an in-flight commit) and referenced files survive."""
    import time as _t

    from hbase_compact_spark.compaction.snapshots import sweep_orphans

    log = SnapshotLog(spark, part_table)
    log.bootstrap()
    before = _sorted_rows(read_table_at(spark, part_table))
    orphan_dir = f"{part_table}/region=p1"
    spark.range(3).select(
        F.col("id").alias("event_id"),
        F.col("id").alias("user_id"),
        F.lit("x").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    ).coalesce(1).write.mode("append").parquet(orphan_dir)
    # fresh orphan inside the grace period: kept
    assert sweep_orphans(spark, part_table, grace_seconds=3600) == {
        "deleted_files": 0,
        "deleted_delete_entries": 0,
    }
    # age it past the (shortened) grace period: swept
    _t.sleep(1.1)
    out = sweep_orphans(spark, part_table, grace_seconds=1.0)
    assert out["deleted_files"] == 1
    # referenced data intact, reader unaffected throughout
    assert _sorted_rows(read_table_at(spark, part_table)) == before
    plain = spark.read.option("recursiveFileLookup", "true").parquet(part_table)
    assert plain.count() == len(before)


def test_stats_pruning_after_clustered_compact(spark, tmp_path):
    """snapshot_compact(cluster_by) + annotate_stats: a narrow range
    predicate prunes files from the scan plan on the driver, and the
    pruned read equals full-scan + filter exactly."""
    from hbase_compact_spark.compaction.snapshots import (
        annotate_stats,
        read_table_where,
        scan_plan,
        snapshot_compact,
    )
    from hbase_compact_spark.tables import load_table

    part_table = str(tmp_path / "table")
    ev = load_table(spark, SF_DIR, "events").drop("ts")
    for i, part in enumerate(["p0", "p1"]):
        (
            ev.filter(F.col("event_id") % 2 == i)
            .repartition(12)
            .write.mode("overwrite")
            .parquet(f"{part_table}/region={part}")
        )
    for dirpath, _, fnames in os.walk(part_table):
        for f in fnames:
            if not f.endswith(".parquet"):
                os.unlink(os.path.join(dirpath, f))

    log = SnapshotLog(spark, part_table)
    log.bootstrap()
    total = sum(s for _, s in log.files())
    res = snapshot_compact(
        spark, part_table, target_bytes=max(1, total // 16),
        cluster_by=["user_id", "value"],
    )
    assert res["rewritten"] == 2
    v = annotate_stats(spark, part_table, ["user_id", "value"])
    stats = log.stats(v)
    files = log.files(v)
    assert set(stats) == {p for p, _ in files}
    full = read_table_at(spark, part_table)
    assert sum(st["rows"] for st in stats.values()) == full.count()
    mn, mx = full.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    lo, hi = mn, mn + max(1, (mx - mn) // 10)
    plan = scan_plan(spark, part_table, {"user_id": (lo, hi)})
    assert plan["pruned_files"] > 0, plan
    assert plan["kept_files"] + plan["pruned_files"] == len(files)
    got = read_table_where(spark, part_table, {"user_id": (lo, hi)})
    exp = full.filter((F.col("user_id") >= lo) & (F.col("user_id") <= hi))
    cols = sorted(full.columns)
    assert _sorted_rows(got.select(cols)) == _sorted_rows(exp.select(cols))


def test_compact_maintains_stats_incrementally(spark, part_table):
    """Stats annotated before compaction survive it: kept files
    inherit, freshly written files get their own footer pass, and the
    compacted snapshot stays prunable without re-annotating."""
    from hbase_compact_spark.compaction.snapshots import (
        annotate_stats,
        scan_plan,
        snapshot_compact,
    )

    log = SnapshotLog(spark, part_table)
    annotate_stats(spark, part_table, ["user_id"])
    total = sum(s for _, s in log.files())
    res = snapshot_compact(
        spark, part_table, target_bytes=max(1, total // 4),
        cluster_by=["user_id"],
    )
    assert res["rewritten"] == 2
    v = log.latest()
    assert log.read(v)["op"] == "compact"
    stats = log.stats(v)
    assert set(stats) == {p for p, _ in log.files(v)}
    full = read_table_at(spark, part_table)
    mn, mx = full.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    plan = scan_plan(
        spark, part_table, {"user_id": (mn, mn + max(1, (mx - mn) // 10))}
    )
    assert plan["pruned_files"] > 0, plan


def test_scan_plan_without_stats_is_conservative(spark, part_table):
    """No stats → nothing prunes, reads stay correct; an impossible
    predicate yields an empty result with the full schema."""
    from hbase_compact_spark.compaction.snapshots import (
        read_table_where,
        scan_plan,
    )

    log = SnapshotLog(spark, part_table)
    log.bootstrap()
    n_files = len(log.files())
    plan = scan_plan(spark, part_table, {"user_id": (0, 1)})
    assert plan == {
        "version": 1,
        "paths": plan["paths"],
        "kept_files": n_files,
        "pruned_files": 0,
    }
    full = read_table_at(spark, part_table)
    got = read_table_where(spark, part_table, {"user_id": (0, 10**12)})
    cols = sorted(full.columns)
    assert _sorted_rows(got.select(cols)) == _sorted_rows(full.select(cols))
    # impossible range: empty but schema-complete (even if every file
    # were pruned, the reader keeps one file to anchor the schema)
    empty = read_table_where(spark, part_table, {"user_id": (-10, -1)})
    assert empty.count() == 0
    assert sorted(empty.columns) == cols


def test_schema_evolution_add_and_drop(spark, part_table):
    """evolve_schema is metadata-only: added columns read as NULL from
    pre-evolution files, dropped columns disappear, and time travel
    restores the old shape. New files written with the evolved schema
    coexist with old ones in one snapshot."""
    from hbase_compact_spark.compaction.snapshots import evolve_schema

    log = SnapshotLog(spark, part_table)
    v1 = log.bootstrap()
    base_rows = read_table_at(spark, part_table).count()

    v2 = evolve_schema(
        spark, part_table, add_columns={"score": "double"},
        drop_columns=["props"],
    )
    assert log.read(v2)["op"] == "evolve"
    evolved = read_table_at(spark, part_table)
    assert "score" in evolved.columns and "props" not in evolved.columns
    assert evolved.count() == base_rows
    assert evolved.where(F.col("score").isNotNull()).count() == 0
    # time travel: v1 still has props, no score
    old = read_table_at(spark, part_table, v1)
    assert "props" in old.columns and "score" not in old.columns

    # append a file carrying the evolved schema
    newf = f"{part_table}/region=p0"
    spark.range(5).select(
        (F.col("id") + 10**9).alias("event_id"),
        F.col("id").alias("user_id"),
        F.lit("evolved").alias("event_type"),
        F.lit(1.5).alias("value"),
        F.lit(0.9).alias("score"),
    ).coalesce(1).write.mode("append").parquet(newf)
    import glob as _g
    import os as _os

    latest = max(_g.glob(f"{newf}/*.parquet"), key=_os.path.getmtime)
    rel = f"region=p0/{_os.path.basename(latest)}"
    blob = log.read(v2)["schema"]
    log.commit(
        log.files(v2) + [(rel, _os.path.getsize(latest))],
        op="append", parent=v2, schema=blob,
    )
    both = read_table_at(spark, part_table)
    assert both.count() == base_rows + 5
    assert both.where(F.col("score").isNotNull()).count() == 5
    assert both.where(F.col("event_type") == "evolved").count() == 5


def test_compact_rewrites_through_evolved_schema(spark, part_table):
    """snapshot_compact after evolution materializes the evolved
    schema physically: new files contain the added column (nulls) and
    no longer contain dropped bytes; content verification still
    gates."""
    import glob as _g

    import pyarrow.parquet as _pq

    from hbase_compact_spark.compaction.snapshots import (
        evolve_schema,
        snapshot_compact,
    )

    log = SnapshotLog(spark, part_table)
    log.bootstrap()
    base_rows = read_table_at(spark, part_table).count()
    evolve_schema(
        spark, part_table, add_columns={"score": "double"},
        drop_columns=["props"],
    )
    total = sum(s for _, s in log.files())
    res = snapshot_compact(spark, part_table, target_bytes=max(1, total // 4))
    assert res["rewritten"] == 2
    after = read_table_at(spark, part_table)
    assert after.count() == base_rows
    assert "score" in after.columns and "props" not in after.columns
    # physically: compacted files carry score, not props
    new_files = [
        f"{part_table}/{p}"
        for p, _ in log.files()
        if "compacted-" in p
    ]
    assert new_files
    for path in new_files:
        names = set(_pq.ParquetFile(path).schema_arrow.names)
        assert "score" in names and "props" not in names


def test_bloom_pruning_point_lookup(spark, part_table):
    """annotate_blooms: equality lookups on a high-cardinality key
    prune files whose bloom rules the value out; low-cardinality
    columns never prune wrongly; absent values prune (almost)
    everything while reads stay exact."""
    from hbase_compact_spark.compaction.snapshots import (
        annotate_blooms,
        read_table_where,
        scan_plan,
    )

    log = SnapshotLog(spark, part_table)
    v = annotate_blooms(spark, part_table, ["event_id", "event_type"])
    assert log.read(v)["op"] == "blooms"
    files = log.files(v)
    full = read_table_at(spark, part_table)
    cols = sorted(full.columns)

    # a real event_id lives in exactly one of the 8 random-split files
    target = full.agg(F.min("event_id")).collect()[0][0]
    plan = scan_plan(spark, part_table, {"event_id": int(target)})
    assert plan["pruned_files"] > 0, plan
    got = read_table_where(spark, part_table, {"event_id": int(target)})
    exp = full.filter(F.col("event_id") == int(target))
    assert _sorted_rows(got.select(cols)) == _sorted_rows(exp.select(cols))

    # low-cardinality string col: present in every file -> no pruning
    some_type = full.groupBy("event_type").count().orderBy(
        F.desc("count")
    ).first()["event_type"]
    plan2 = scan_plan(spark, part_table, {"event_type": some_type})
    assert plan2["pruned_files"] == 0
    got2 = read_table_where(spark, part_table, {"event_type": some_type})
    exp2 = full.filter(F.col("event_type") == some_type)
    assert got2.count() == exp2.count()

    # absent values: almost everything pruned (fpp collisions allowed),
    # result exactly empty with the full schema
    plan3 = scan_plan(spark, part_table, {"event_id": 10**15})
    assert plan3["kept_files"] <= 1, plan3
    plan4 = scan_plan(spark, part_table, {"event_type": "no-such-type"})
    assert plan4["kept_files"] <= 1, plan4
    empty = read_table_where(spark, part_table, {"event_id": 10**15})
    assert empty.count() == 0 and sorted(empty.columns) == cols


def test_snapshot_delete_skips_and_rewrites_exactly(spark, part_table):
    """Copy-on-write DELETE: with blooms annotated, a keyed delete
    reads only the files that may hold the key, rewrites only those
    with real matches, and the new snapshot reads as full minus
    deleted. Time travel keeps the pre-delete rows."""
    from hbase_compact_spark.compaction.snapshots import (
        annotate_blooms,
        snapshot_delete,
    )

    log = SnapshotLog(spark, part_table)
    v0 = annotate_blooms(spark, part_table, ["event_id"])
    full = read_table_at(spark, part_table)
    n_total = full.count()
    target = int(full.agg(F.min("event_id")).collect()[0][0])

    res = snapshot_delete(spark, part_table, {"event_id": target})
    assert res["deleted_rows"] == 1
    assert res["scanned_files"] < len(log.files(v0))  # bloom skipped files
    after = read_table_at(spark, part_table)
    assert after.count() == n_total - 1
    assert after.filter(F.col("event_id") == target).count() == 0
    # time travel: pre-delete version intact
    assert read_table_at(spark, part_table, v0).count() == n_total
    # deleting a nonexistent key commits nothing
    res2 = snapshot_delete(spark, part_table, {"event_id": 10**15})
    assert res2["deleted_rows"] == 0 and res2["version"] == log.latest()
    # range delete without any annotation still works (conservative)
    lo = int(after.agg(F.min("user_id")).collect()[0][0])
    n_range = after.filter(
        (F.col("user_id") >= lo) & (F.col("user_id") <= lo)
    ).count()
    res3 = snapshot_delete(spark, part_table, {"user_id": (lo, lo)})
    assert res3["deleted_rows"] == n_range
    assert read_table_at(spark, part_table).count() == n_total - 1 - n_range


def test_snapshot_merge_upsert_semantics(spark, part_table):
    """MERGE: matched keys are replaced (even across partitions),
    unmatched source rows insert into the partition their values name,
    untouched files are carried by reference, and stats/blooms stay
    maintained."""
    from hbase_compact_spark.compaction.snapshots import (
        annotate_blooms,
        annotate_stats,
        snapshot_merge,
    )

    log = SnapshotLog(spark, part_table)
    annotate_stats(spark, part_table, ["event_id"])
    annotate_blooms(spark, part_table, ["event_id"])
    full = read_table_at(spark, part_table)
    n_total = full.count()
    n_files_before = len(log.files())

    # source: update two existing rows (new value), insert two new ids
    two = [
        r.asDict() for r in full.orderBy("event_id").limit(2).collect()
    ]
    for r in two:
        r["value"] = 99.5
    inserts = [
        dict(two[0], event_id=10**12 + 1, region="p0", value=1.25),
        dict(two[1], event_id=10**12 + 2, region="p1", value=2.25),
    ]
    src = spark.createDataFrame(
        [tuple(d[c] for c in full.columns) for d in two + inserts],
        schema=full.schema,
    )
    res = snapshot_merge(spark, part_table, src, ["event_id"])
    assert res["matched"] == 2 and res["inserted"] == 2
    assert res["candidate_files"] < n_files_before  # metadata skipped files

    after = read_table_at(spark, part_table)
    assert after.count() == n_total + 2
    upd = after.filter(
        F.col("event_id").isin([int(t["event_id"]) for t in two])
    )
    assert upd.count() == 2
    assert {r["value"] for r in upd.collect()} == {99.5}
    ins = after.filter(F.col("event_id") > 10**12)
    assert ins.count() == 2
    assert {r["region"] for r in ins.collect()} == {"p0", "p1"}
    # metadata stayed maintained: every live file has stats + blooms
    live = {p for p, _ in log.files()}
    assert set(log.stats()) == live
    assert set(log.blooms()) == live
    # merge with duplicate source keys is rejected
    dup = spark.createDataFrame(
        [tuple(d[c] for c in full.columns) for d in two + two],
        schema=full.schema,
    )
    with pytest.raises(ValueError, match="unique"):
        snapshot_merge(spark, part_table, dup, ["event_id"])


def test_snapshot_pruned_scan_query_prunes_and_matches(spark):
    """The declared `snapshot_pruned_scan` query (workload_compaction)
    must (a) really skip files via snapshot stats — not just filter —
    and (b) return exactly full-scan + filter."""
    from hbase_compact_spark.compaction.snapshots import scan_plan
    from hbase_compact_spark.workload_compaction import (
        PRUNE_HI,
        PRUNE_LO,
        snapshot_pruned_scan,
        snapshot_scan_root,
    )
    from hbase_compact_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    root = snapshot_scan_root(spark, sf_dir)
    plan = scan_plan(spark, root, {"o_orderkey": (PRUNE_LO, PRUNE_HI)})
    assert plan["pruned_files"] > 0, plan  # data skipping actually happened
    assert plan["kept_files"] >= 1

    got = snapshot_pruned_scan(spark, sf_dir)
    exp = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").between(PRUNE_LO, PRUNE_HI))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    # rebuild memo: second call must reuse the materialized snapshot
    assert snapshot_scan_root(spark, sf_dir) == root


def test_snapshot_time_travel_query_isolates_versions(spark):
    """The declared `snapshot_time_travel` query reads v1 of a table
    that later received an append commit: v1 must equal the pre-append
    source rows exactly, and the latest version must see strictly
    more rows (the append really landed)."""
    from hbase_compact_spark.compaction.snapshots import read_table_at
    from hbase_compact_spark.workload_compaction import (
        TT_MOD,
        snapshot_time_travel,
        time_travel_root,
    )
    from hbase_compact_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    root = time_travel_root(spark, sf_dir)
    v1 = snapshot_time_travel(spark, sf_dir)
    exp = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % TT_MOD != 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )
    assert v1.exceptAll(exp).count() == 0
    assert exp.exceptAll(v1).count() == 0
    latest = read_table_at(spark, root)  # default: latest version
    n_all = load_table(spark, sf_dir, "orders").count()
    assert latest.count() == n_all > v1.count()


def test_snapshot_zorder_scan_query_prunes_only_after_clustering(spark):
    """The declared `snapshot_zorder_scan` query: the hash-layout
    bootstrap version must prune NOTHING on the custkey predicate
    (every file spans the key space), the z-ordered + stats version
    must prune at least one file, and the result equals full-scan +
    filter."""
    from hbase_compact_spark.compaction.snapshots import scan_plan
    from hbase_compact_spark.workload_compaction import (
        ZO_HI,
        ZO_LO,
        snapshot_zorder_scan,
        zorder_scan_root,
    )
    from hbase_compact_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    root = zorder_scan_root(spark, sf_dir)
    pred = {"o_custkey": (ZO_LO, ZO_HI)}
    # v2 = stats annotated on the RAW hash layout: stats exist, so
    # zero pruning here is a real statement about the LAYOUT (every
    # file spans the key space), not an artifact of missing metadata
    before = scan_plan(spark, root, pred, version=2)
    after = scan_plan(spark, root, pred)  # latest: z-ordered + stats
    assert before["pruned_files"] == 0, before  # hash layout: unprunable
    assert after["pruned_files"] >= 1, after  # clustering made it so

    got = snapshot_zorder_scan(spark, sf_dir)
    exp = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").between(ZO_LO, ZO_HI))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_commit_with_stale_parent_raises_conflict(spark, part_table):
    """A commit derived from a snapshot that is no longer latest must
    raise SnapshotConflictError — retrying with the stale file list
    would silently drop the concurrent winner's files."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotConflictError,
    )

    log = SnapshotLog(spark, part_table)
    log.bootstrap()
    base = log.latest()
    files = log.files(base)
    log.commit(files, op="winner", parent=base)
    with pytest.raises(SnapshotConflictError, match="re-read"):
        log.commit(files, op="stale-loser", parent=base)
    # parent-less (bootstrap-style) commits still retry fine
    assert log.commit(files, op="relisted") == log.latest()


def test_path_pruning_exact_on_large_int_partition_values(spark, tmp_path):
    """An equality predicate on an int64 partition value above 2^53
    must NOT prune the file that contains the exact match — float
    conversion of the path string would round it away (ADVICE r9).
    The compare happens in int space when the bound is an int."""
    from hbase_compact_spark.compaction.snapshots import (
        _path_value_disjoint,
        append_partitioned,
        evolve_partitioning,
        read_table_where,
        scan_plan,
    )

    big = (1 << 53) + 1  # float(str(big)) == float(big - 1): rounds
    assert not _path_value_disjoint(str(big), big, big)
    assert _path_value_disjoint(str(big), big + 1, None)
    assert _path_value_disjoint(str(big), None, big - 1)
    # float-typed path values still compare when the bound is int
    assert not _path_value_disjoint("3.5", 3, 4)
    assert _path_value_disjoint("4.5", 3, 4)

    root = str(tmp_path / "t")
    spark.range(3).selectExpr("id", "CAST(0 AS LONG) AS grp").write.parquet(root)
    evolve_partitioning(spark, root, ["grp"])
    rows = spark.createDataFrame(
        [(100, big), (101, big - 2)], "id long, grp long"
    )
    append_partitioned(spark, root, rows)
    got = read_table_where(spark, root, {"grp": big}).collect()
    assert [(r["id"], r["grp"]) for r in got] == [(100, big)]
    plan = scan_plan(spark, root, {"grp": big})
    assert plan["pruned_files"] >= 1  # the sibling _hp_ value pruned


def test_branch_move_is_atomic_overwrite(spark, tmp_path):
    """A branch retarget must never pass through a state where the
    pointer file is absent — set_ref publishes a move as one overwriting
    rename, not delete-then-rename (ADVICE r9). A reader polling the
    pointer file on disk while the branch moves back and forth must
    always find a complete pointer naming one of the two targets."""
    import json
    import threading

    from hbase_compact_spark.compaction.snapshots import append_partitioned

    root = str(tmp_path / "t")
    spark.range(4).selectExpr("id").write.parquet(root)
    append_partitioned(spark, root, spark.range(4, 6).selectExpr("id"))
    log = SnapshotLog(spark, root)
    log.set_ref("main", 1, kind="branch")
    pointer = os.path.join(root, "_snapshots", "refs", "main.json")
    seen: set = set()
    errors: list = []
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            try:
                with open(pointer) as f:
                    seen.add(json.load(f)["version"])
            except (OSError, ValueError) as e:  # absent or torn pointer
                errors.append(repr(e))
                return

    reader = threading.Thread(target=poll)
    reader.start()
    try:
        for i in range(200):
            log.set_ref("main", 2 - i % 2, kind="branch")
    finally:
        stop.set()
        reader.join(timeout=60)
    assert not reader.is_alive()
    assert not errors, errors[:3]
    assert seen <= {1, 2}
    # the high-level move resolves end-to-end (last move: i=199 -> v1)
    assert log.resolve_ref("main") == 1
    log.set_ref("main", 2, kind="branch")
    assert log.resolve_ref("main") == 2


def test_snapshot_log_rejects_remote_schemes(tmp_path):
    """Manifests and delete entries are read as local paths, so a
    remote-scheme root fails at construction instead of being silently
    misread (the CompactionCheckpoint rule). No SparkSession needed."""
    for root in ("s3a://b/t", "hdfs://nn:8020/t", "gs://b/t"):
        with pytest.raises(ValueError, match="local-filesystem"):
            SnapshotLog(None, root)
    # file: URIs resolve to their local path
    assert SnapshotLog(None, f"file://{tmp_path}").versions() == []
