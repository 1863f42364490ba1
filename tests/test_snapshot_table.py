"""Batch DataSource-V2 read path (sources/snapshot_table.py): plain
Spark SQL over snapshot-logged tables with scan_plan pruning intact —
pushdown-driven file pruning, sharded-manifest open discipline,
version/ref time travel, MOR delete subtraction, schema evolution."""

from __future__ import annotations

import os
import posixpath

import pytest
from pyspark.sql import functions as F

from hbase_compact_spark.compaction import snapshots as snap_mod
from hbase_compact_spark.compaction.snapshots import (
    SnapshotLog,
    annotate_stats,
    read_table_at,
    read_table_where,
    scan_plan,
    snapshot_delete,
    snapshot_delete_by_key,
)
from hbase_compact_spark.sources.snapshot_table import (
    SnapshotTableReader,
    read_table,
    register,
    table_schema,
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture()
def table(spark, tmp_path):
    """A logged table with stats, a tag, MOR eq+pos deletes, and a
    post-tag append — every read feature in one fixture."""
    root = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("g"),
        F.format_string("v-%04d", F.col("id")).alias("v"),
    )
    (
        df.filter("k < 800")
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k")
        .write.parquet(root)
    )
    log = SnapshotLog(spark, root)
    log.bootstrap()
    annotate_stats(spark, root, cols=["k"])
    log.set_ref("pre", log.latest(), kind="tag")
    # MOR equality delete (k % 97 == 0) + positional delete (g == 3)
    snapshot_delete_by_key(
        spark, root, df.filter("k < 800 AND k % 97 = 0").select("k")
    )
    snapshot_delete(spark, root, {"g": 3}, mode="mor")
    df.filter("k >= 800").repartition(2).write.parquet(
        posixpath.join(root, "more")
    )
    log.commit_current(op="append", parent=log.latest())
    return root, log


def test_format_matches_helper_reads(spark, table):
    root, log = table
    assert _rows(read_table(spark, root)) == _rows(read_table_at(spark, root))
    assert _rows(read_table(spark, root, ref="pre")) == _rows(
        read_table_at(spark, root, version="pre")
    )
    assert _rows(read_table(spark, root, version=2)) == _rows(
        read_table_at(spark, root, version=2)
    )
    # MOR really subtracted: eq-deleted keys and pos-deleted group gone
    live = read_table(spark, root)
    assert live.filter("k < 800 AND k % 97 = 0").count() == 0
    assert live.filter("g = 3 AND k < 800").count() == 0
    # appended rows are OUTSIDE the eq entry's scope and survive intact
    assert live.filter("k >= 800").count() == 200


def test_pushdown_prunes_files(spark, table):
    root, log = table
    reader = SnapshotTableReader(
        table_schema(root), {"path": root, "version": "2"}
    )
    reader._preds = {"k": (100, 199)}
    plan, parts = reader.plan()
    assert plan["kept_files"] == 1 and plan["pruned_files"] == 7
    assert len(parts) == 1
    # end-to-end through SQL: pushdown reaches the same planner and
    # the result equals the helper read (exact filter re-applied)
    got = read_table(spark, root, version=2).filter(
        (F.col("k") >= 100) & (F.col("k") <= 199)
    )
    want = read_table_where(spark, root, {"k": (100, 199)}, version=2)
    assert _rows(got) == _rows(want)


def test_sql_using_view_worker_side_schema(spark, table):
    root, _log = table
    register(spark)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW snap_t "
        f"USING snapshot_table OPTIONS (path '{root}')"
    )
    got = spark.sql("SELECT k, v FROM snap_t WHERE k BETWEEN 100 AND 109")
    want = (
        read_table_at(spark, root)
        .filter("k BETWEEN 100 AND 109")
        .select("k", "v")
    )
    assert _rows(got) == _rows(want)
    with pytest.raises(Exception, match="not both"):
        spark.sql(
            "CREATE OR REPLACE TEMPORARY VIEW snap_bad USING snapshot_table "
            f"OPTIONS (path '{root}', version '1', ref 'pre')"
        ).collect()


def test_pure_scan_plan_parity(spark, table):
    root, log = table
    for preds in ({"k": (100, 450)}, {"k": 137}, {"g": (8, 9)}):
        assert scan_plan(None, root, preds) == scan_plan(spark, root, preds)
    # the session-less log (the planner worker's) reads what the
    # driver's does
    pure = SnapshotLog(None, root)
    assert pure.versions() == log.versions()
    assert pure.files() == log.files()
    assert pure.delete_files() == log.delete_files()
    assert pure.resolve_ref("pre") == log.resolve_ref("pre")
    assert pure.stats(2).keys() == log.stats(2).keys()


def test_sharded_planning_opens_only_surviving_parts(
    spark, tmp_path, monkeypatch
):
    """The format's planner inherits the two-level metadata
    discipline: a narrow probe over a sharded manifest opens exactly
    the surviving shard part files (intercepted reads)."""
    from hbase_compact_spark.compaction.snapshots import shard_manifest

    root = str(tmp_path / "sharded")
    os.makedirs(root)
    log = SnapshotLog(spark, root)
    files = [(f"part-{i:05d}.parquet", 1024) for i in range(1000)]
    stats = {
        rel: {"rows": 100, "cols": {"k": [i * 100, (i + 1) * 100 - 1]}}
        for i, (rel, _) in enumerate(files)
    }
    log.commit(files, op="synthetic", stats=stats)
    v2 = shard_manifest(spark, root, "k", shards=10)

    reader = SnapshotTableReader(
        "k long", {"path": root, "version": str(v2)}
    )
    reader._preds = {"k": (12_345, 12_400)}
    opened: list[str] = []
    orig = snap_mod._read_manifest_table

    def counting(path, columns=None):
        opened.append(posixpath.basename(path))
        return orig(path, columns)

    monkeypatch.setattr(snap_mod, "_read_manifest_table", counting)
    plan, parts = reader.plan()
    assert plan["shards_total"] == 10 and plan["shards_opened"] == 1
    assert len(opened) == 1
    assert plan["paths"] == ["part-00123.parquet", "part-00124.parquet"]
    assert [p.relpath for p in parts] == plan["paths"]


def test_schema_evolution_projects_null(spark, tmp_path):
    from hbase_compact_spark.compaction.snapshots import evolve_schema

    root = str(tmp_path / "evo")
    spark.range(50).select(F.col("id").alias("k")).write.parquet(root)
    log = SnapshotLog(spark, root)
    log.bootstrap()
    evolve_schema(spark, root, add_columns={"note": "string"})
    df = read_table(spark, root)
    assert df.columns == ["k", "note"]
    assert df.filter(F.col("note").isNull()).count() == 50


def test_timestamp_as_of(spark, table, tmp_path):
    """TIMESTAMP AS OF: the format (and read_table_at) resolve an
    instant to the latest snapshot committed at or before it —
    boundary-exact, ISO-string and epoch forms, pre-history refusal.
    The fixture's committed_at stamps are respaced on disk so the
    versions are seconds apart (commits in tests land in one
    second)."""
    import json

    from hbase_compact_spark.compaction.snapshots import version_as_of

    root, log = table
    # version JSONs and refs are plain files: no checksum sidecar
    # that an in-place rewrite could leave stale
    for d in ("_snapshots", "_snapshots/refs"):
        assert not [n for n in os.listdir(f"{root}/{d}") if n.endswith(".crc")]
    for i, v in enumerate(log.versions()):
        p = f"{root}/_snapshots/v{v:012d}.json"
        with open(p) as f:
            snap = json.load(f)
        snap["committed_at"] = 1_000_000 + i * 100
        with open(p, "w") as f:
            json.dump(snap, f)
    vs = log.versions()
    assert version_as_of(log, 1_000_000) == vs[0]      # exact boundary
    assert version_as_of(log, 1_000_199) == vs[1]      # between commits
    assert version_as_of(log, 2_000_000) == vs[-1]     # future = latest
    with pytest.raises(ValueError, match="at or before"):
        version_as_of(log, 999_999)                    # pre-history
    # the format reads the as-of state (epoch form), equal to the
    # explicit-version read; v2 here = the stats annotation commit
    got = read_table(spark, root, timestamp_as_of=1_000_100)
    want = read_table_at(spark, root, version=vs[1])
    assert _rows(got) == _rows(want)
    # read_table_at's own kwarg + the ISO-string form agree
    assert _rows(
        read_table_at(spark, root, as_of_ts="1970-01-12T13:46:40+00:00")
    ) == _rows(read_table_at(spark, root, version=vs[0]))
    with pytest.raises(Exception, match="only one|not both"):
        read_table(spark, root, version=2, timestamp_as_of=1_000_100)


def test_in_list_pushdown_prunes(spark, table):
    """IN-list pushdown: the planner keeps only files that may hold
    AT LEAST ONE listed value (per-value union over the cached
    manifest), and the SQL result equals the unpruned filter."""
    root, _log = table
    reader = SnapshotTableReader(
        table_schema(root), {"path": root, "version": "2"}
    )
    reader._in_preds = {"k": (10, 650)}
    plan, parts = reader.plan()
    # values 10 and 650 live in two different range files of eight
    assert plan["kept_files"] == 2 and plan["pruned_files"] == 6
    register(spark)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW snap_in "
        f"USING snapshot_table OPTIONS (path '{root}', version '2')"
    )
    got = spark.sql("SELECT k, v FROM snap_in WHERE k IN (10, 650, 5000)")
    want = (
        read_table_at(spark, root, version=2)
        .filter(F.col("k").isin(10, 650, 5000))
        .select("k", "v")
    )
    assert _rows(got) == _rows(want)


def test_hive_layout_path_values(spark, tmp_path):
    root = str(tmp_path / "hive")
    spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("string").alias("region")
    ).write.partitionBy("region").parquet(root)
    SnapshotLog(spark, root).bootstrap()
    df = read_table(spark, root)
    assert set(df.columns) == {"k", "region"}
    got = _rows(df.groupBy("region").count().orderBy("region"))
    assert got == [("0", 25), ("1", 25), ("2", 25), ("3", 25)]


# ----------------------------------------------------------- writes
# SQL INSERT INTO / INSERT OVERWRITE through SnapshotTableWriter
# (r14): one atomic snapshot commit per statement, performed by a
# JVM-free worker via SnapshotLog(None, root).commit.


def _mkview(spark, root, name="snap_w", **opts):
    extra = "".join(f", {k} '{v}'" for k, v in opts.items())
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW {name} "
        f"USING snapshot_table OPTIONS (path '{root}'{extra})"
    )


def test_sql_insert_into_atomic_append(spark, table):
    root, log = table
    register(spark)
    before = log.versions()
    want_old = _rows(read_table_at(spark, root))
    _mkview(spark, root)
    spark.sql(
        "INSERT INTO snap_w "
        "SELECT id + 5000 AS k, CAST(99 AS BIGINT) AS g, "
        "       format_string('new-%04d', id) AS v "
        "FROM range(50)"
    )
    # exactly ONE new version, op append
    assert log.versions() == before + [before[-1] + 1]
    snap = log.read(log.latest())
    assert snap["op"] == "append"
    # pending MOR delete entries carried through the SQL append —
    # logically-deleted rows must NOT resurrect
    assert snap.get("delete_files"), "MOR delete entries dropped"
    got = _rows(read_table(spark, root))
    assert len(got) == len(want_old) + 50
    assert [t for t in got if t[1] == 99][:1] == [(5000, 99, "new-0000")]
    live = read_table(spark, root)
    assert live.filter("k < 800 AND k % 97 = 0").count() == 0
    # landed files carry executor-computed stats in footer format
    st = log.stats(log.latest())
    sql_stats = {p: s for p, s in st.items() if p.startswith("data-sql/")}
    assert sql_stats
    for s in sql_stats.values():
        assert s["rows"] > 0 and "k" in s["cols"]
        lo, hi = s["cols"]["k"]
        assert 5000 <= lo <= hi <= 5049


def test_sql_inserted_files_prune(spark, table):
    root, log = table
    register(spark)
    _mkview(spark, root)
    spark.sql(
        "INSERT INTO snap_w SELECT id + 5000 AS k, CAST(1 AS BIGINT) g, "
        "'x' AS v FROM range(50)"
    )
    # a predicate disjoint from the SQL-landed range prunes those
    # files on their OWN stats (no annotate_stats pass ran)
    plan = scan_plan(None, root, {"k": (100, 199)})
    assert not any(p.startswith("data-sql/") for p in plan["paths"])
    plan2 = scan_plan(None, root, {"k": (5000, 5010)})
    assert any(p.startswith("data-sql/") for p in plan2["paths"])


def test_sql_insert_overwrite_drops_pending_state(spark, table):
    root, log = table
    register(spark)
    v_before = log.latest()
    _mkview(spark, root)
    spark.sql(
        "INSERT OVERWRITE snap_w "
        "SELECT id AS k, CAST(0 AS BIGINT) g, 'o' AS v FROM range(10)"
    )
    v = log.latest()
    assert v == v_before + 1
    snap = log.read(v)
    assert snap["op"] == "overwrite"
    # replaced files took their pending delete entries with them
    assert not snap.get("delete_files")
    assert read_table(spark, root).count() == 10
    # time travel to the pre-overwrite version is intact
    assert _rows(read_table(spark, root, version=v_before)) == _rows(
        read_table_at(spark, root, version=v_before)
    )


def test_view_pins_scan_until_replaced(spark, table):
    """A USING temp view plans its scan once at first read (Spark
    refresh semantics) — CREATE OR REPLACE is the documented refresh
    after an external commit, same class as REFRESH TABLE for
    parquet. The pin documents the behavior the workload relies on."""
    root, log = table
    register(spark)
    _mkview(spark, root, name="snap_pin")
    stale = spark.sql("SELECT count(*) c FROM snap_pin").collect()[0].c
    spark.sql(
        "INSERT INTO snap_pin SELECT 90000 k, CAST(0 AS BIGINT) g, 'z' v"
    )
    assert (
        spark.sql("SELECT count(*) c FROM snap_pin").collect()[0].c == stale
    )
    _mkview(spark, root, name="snap_pin")
    assert (
        spark.sql("SELECT count(*) c FROM snap_pin").collect()[0].c
        == stale + 1
    )


def test_write_refuses_time_travel_views(spark, table):
    root, log = table
    register(spark)
    _mkview(spark, root, name="snap_v1", version="1")
    with pytest.raises(Exception, match="read-only"):
        spark.sql(
            "INSERT INTO snap_v1 SELECT 1 k, CAST(1 AS BIGINT) g, 'a' v"
        )


def test_pure_commit_conflict_raises(spark, table):
    """The writer's commit derives its manifest union from the parent
    it read — a commit that lands in between must fail the statement,
    never silently drop the winner's files."""
    import pyarrow as pa

    from hbase_compact_spark.compaction.snapshots import (
        SnapshotConflictError,
    )

    root, log = table
    pure = SnapshotLog(None, root)
    parent = pure.latest()
    name = pure.write_manifest_table(pure.manifest_table(parent))
    # competing commit claims parent+1 first
    log.commit_current(op="append", parent=parent)
    with pytest.raises(SnapshotConflictError):
        pure.commit(None, op="append", parent=parent, manifest=name)
    # the loser left nothing behind: no half-claimed version JSON and
    # no orphan manifest
    assert pure.latest() == parent + 1
    assert not os.path.exists(pure._manifest_local(name))


def test_writer_abort_cleans_staging(spark, table):
    import pyarrow as pa

    from hbase_compact_spark.sources.snapshot_table import (
        SnapshotTableWriter,
    )

    root, log = table
    v = log.latest()
    w = SnapshotTableWriter({"path": root}, overwrite=False)
    batch = pa.record_batch({"k": pa.array([1, 2], pa.int64())})
    msg = w.write(iter([batch]))
    (rel, _, _), = msg.files
    staged = os.path.join(root, rel)
    assert os.path.exists(staged)
    w.abort([msg])
    assert not os.path.exists(os.path.dirname(staged))
    assert log.latest() == v  # no version claimed


def test_dataframe_write_api_and_fresh_bootstrap(spark, tmp_path):
    """df.write.format("snapshot_table") — mode('overwrite') on an
    unlogged root bootstraps v1; mode('append') commits v2."""
    root = str(tmp_path / "fresh")
    os.makedirs(root)
    register(spark)
    df = spark.range(20).selectExpr("id AS k", "id * 2 AS v")
    df.write.format("snapshot_table").mode("overwrite").option(
        "path", root
    ).save()
    log = SnapshotLog(spark, root)
    assert log.latest() == 1 and log.read(1)["op"] == "bootstrap"
    spark.range(20, 30).selectExpr("id AS k", "id * 2 AS v").write.format(
        "snapshot_table"
    ).mode("append").option("path", root).save()
    assert log.latest() == 2
    assert read_table(spark, root).count() == 30


def test_view_pushdown_state_never_leaks_across_queries(spark, table):
    """r14 fuzz-found, upstream hazard: Spark caches the pushdown-
    baked scan (reader + planned partitions) on the table instance
    and REUSES it for any later scan of the same relation that
    pushes nothing — so file pruning is opt-in per single-shape scan
    (pushdown_scan_token). Pins: (a) a token-less view never arms
    pruning — a filterless query after a filtered one still sees
    every row; (b) a tokened view prunes its one shape end-to-end
    (partition count = surviving files); (c) a second, different
    shape on the SAME token falls back to the full list — exact
    results, never a dropped row."""
    import uuid as _uuid

    root, log = table
    register(spark)
    _mkview(spark, root, name="snap_leak")
    full = spark.sql("SELECT count(*) c FROM snap_leak").collect()[0].c
    pruned = spark.sql(
        "SELECT count(*) c FROM snap_leak WHERE k BETWEEN 100 AND 199"
    ).collect()[0].c
    assert 0 < pruned < full
    assert (
        spark.sql("SELECT count(*) c FROM snap_leak").collect()[0].c
        == full
    ), "filterless query reused a pruned scan — rows dropped"

    tok = f"tok-{_uuid.uuid4().hex}"
    # pin to version 2 — the stats-annotated pre-append state, where
    # the [100,199] range lives in exactly ONE of 8 range files
    _mkview(
        spark, root, name="snap_tok", version="2", pushdown_scan_token=tok
    )
    v2_full = read_table_at(spark, root, version=2).count()
    got = spark.sql("SELECT k FROM snap_tok WHERE k BETWEEN 100 AND 199")
    # end-to-end pruning evidence: one input partition per surviving
    # file
    assert got.rdd.getNumPartitions() == 1
    assert got.count() == 100
    # different shape on the same token: full list, exact result
    assert (
        spark.sql("SELECT count(*) c FROM snap_tok WHERE k >= 0")
        .collect()[0]
        .c
        == v2_full
    )
    assert (
        spark.sql("SELECT count(*) c FROM snap_tok").collect()[0].c
        == v2_full
    )


def test_sql_writer_commit_rebases_across_a_race(spark, table):
    """A concurrent commit between a SQL write's task phase and its
    commit phase must not fail the statement: an append's manifest
    union re-derives against the new latest (the winner's files are
    carried), so concurrent INSERTs serialize — pinned by staging a
    competing commit between write() and commit()."""
    import pyarrow as pa

    from hbase_compact_spark.sources.snapshot_table import (
        SnapshotTableWriter,
    )

    root, log = table
    w = SnapshotTableWriter({"path": root}, overwrite=False)
    batch = pa.record_batch(
        {
            "k": pa.array([70000], pa.int64()),
            "g": pa.array([0], pa.int64()),
            "v": pa.array(["race"], pa.string()),
        }
    )
    msg = w.write(iter([batch]))
    v_before = log.latest()
    # competing commit claims the next version first (manifest-carry
    # append — a listing commit like commit_current would slurp the
    # in-flight staging file and double-count)
    from hbase_compact_spark.compaction.snapshots import (
        append_partitioned,
    )

    append_partitioned(
        spark,
        root,
        spark.createDataFrame(
            [(80000, 0, "winner")], "k long, g long, v string"
        ),
    )
    w.commit([msg])
    assert log.latest() == v_before + 2
    final = read_table(spark, root)
    assert final.filter("k = 70000").count() == 1
    # the winner's state survived the rebase too
    assert set(p for p, _ in log.files(v_before + 1)) <= set(
        p for p, _ in log.files(log.latest())
    )


def test_sql_insert_into_hive_partitioned_table(spark, tmp_path):
    """SQL INSERT INTO a hive-layout logged table: the bootstrap
    generation's partition values live in paths, the SQL-landed
    files carry them as real data columns — both the DataSource view
    and the helper read union the generations into one table with
    every partition value intact."""
    root = str(tmp_path / "hive")
    (
        spark.range(40)
        .selectExpr("id AS k", "CAST(id % 2 AS STRING) AS region")
        .write.partitionBy("region")
        .parquet(root)
    )
    log = SnapshotLog(spark, root)
    log.bootstrap()
    register(spark)
    _mkview(spark, root, name="snap_hive")
    spark.sql(
        "INSERT INTO snap_hive "
        "SELECT id + 1000 AS k, '9' AS region FROM range(5)"
    )
    _mkview(spark, root, name="snap_hive")
    got = spark.sql(
        "SELECT region, count(*) AS n FROM snap_hive GROUP BY region"
    ).collect()
    assert {(r["region"], r["n"]) for r in got} == {
        ("0", 20),
        ("1", 20),
        ("9", 5),
    }
    helper = read_table_at(spark, root)
    assert helper.filter("region = '9'").count() == 5
    assert helper.count() == 45


def test_sql_write_type_roundtrip(spark, tmp_path):
    """INSERT INTO carries the full type surface through the Arrow
    writer: decimal, date, timestamp, array, struct, and NULLs all
    read back exactly (helper read AND SQL view)."""
    root = str(tmp_path / "typed")
    df = spark.sql(
        """
        SELECT id AS k,
               CAST(id * 1.5 AS DECIMAL(12, 2)) AS price,
               DATE_ADD(DATE '2024-01-01', CAST(id AS INT)) AS d,
               TIMESTAMP '2024-06-01 12:00:00' + make_interval(0,0,0,0,0,0, id) AS ts,
               ARRAY(id, id * 2) AS arr,
               NAMED_STRUCT('a', id, 'b', CAST(id AS STRING)) AS st,
               CASE WHEN id % 3 = 0 THEN NULL ELSE CAST(id AS STRING) END AS s
        FROM range(20)
        """
    )
    df.write.parquet(root)
    log = SnapshotLog(spark, root)
    log.bootstrap()
    register(spark)
    _mkview(spark, root, name="snap_typed")
    spark.sql(
        """
        INSERT INTO snap_typed
        SELECT id + 100 AS k,
               CAST(id * 2.5 AS DECIMAL(12, 2)) AS price,
               DATE_ADD(DATE '2025-01-01', CAST(id AS INT)) AS d,
               TIMESTAMP '2025-06-01 00:00:00' AS ts,
               ARRAY(id) AS arr,
               NAMED_STRUCT('a', id + 1, 'b', 'x') AS st,
               CAST(NULL AS STRING) AS s
        FROM range(3)
        """
    )
    _mkview(spark, root, name="snap_typed")
    want = sorted(
        map(repr, spark.sql("SELECT * FROM snap_typed").collect())
    )
    helper = sorted(map(repr, read_table_at(spark, root).collect()))
    assert want == helper
    assert len(want) == 23
    new = spark.sql("SELECT * FROM snap_typed WHERE k >= 100").collect()
    assert len(new) == 3
    r = sorted(new, key=lambda r: r["k"])[0]
    assert str(r["price"]) == "0.00" and r["arr"] == [0]
    assert r["st"]["a"] == 1 and r["s"] is None


def test_sql_insert_lands_partition_layout(spark, tmp_path):
    """VERDICT r14 task 2 — SQL write layout parity: INSERT INTO a
    table with a declared partition spec + sort order lands
    `_hp_`-layout, within-file-sorted, stats-carrying files exactly
    like append_partitioned + _apply_sort_order, and scan_plan
    prunes the SQL-landed files FROM THE PATH ALONE (the bucket
    transform keeps key values off the physical path — the
    snapshot_partition_evolution trick)."""
    import glob
    import json
    import zlib

    import pyarrow.parquet as pq

    from hbase_compact_spark.compaction.snapshots import (
        evolve_partitioning,
        set_sort_order,
    )

    root = str(tmp_path / "layout")
    df = spark.range(400).selectExpr(
        "id AS k",
        "CAST(id % 7 AS STRING) AS grp",
        "id * 3 AS payload",
    )
    df.limit(1).write.parquet(root)
    log = SnapshotLog(spark, root)
    log.bootstrap()
    evolve_partitioning(spark, root, ["grp", "bucket(4, k)"])
    set_sort_order(spark, root, ["payload"])
    register(spark)
    df.createOrReplaceTempView("layout_src")
    _mkview(spark, root, name="snap_layout")
    spark.sql(
        "INSERT INTO snap_layout SELECT * FROM layout_src WHERE k > 0"
    )
    # physical layout: every SQL-landed file sits under both spec dirs
    hp = glob.glob(root + "/_hp_grp=*/_hp_k_bucket4=*/part-*.parquet")
    assert hp, "SQL INSERT landed no _hp_-layout files"
    flat = glob.glob(root + "/data-sql/**/*.parquet", recursive=True)
    assert not flat, "spec table must not land flat data-sql files"
    # value parity: each file's k values hash to its dir's bucket,
    # and its grp values equal the dir value
    for path in hp:
        comps = dict(
            c.split("=", 1)
            for c in path.split("/")
            if c.startswith("_hp_")
        )
        t = pq.read_table(path, columns=["k", "grp", "payload"])
        ks = t.column("k").to_pylist()
        assert {
            str(zlib.crc32(str(k).encode()) % 4) for k in ks
        } == {comps["_hp_k_bucket4"]}
        assert set(t.column("grp").to_pylist()) == {comps["_hp_grp"]}
        # declared sort order: payload ascending within the file
        pl = t.column("payload").to_pylist()
        assert pl == sorted(pl)
    # path-only pruning: a bucket-key equality probe must keep ONLY
    # that bucket's files among the layout generation
    probe = 17
    want_b = str(zlib.crc32(str(probe).encode()) % 4)
    plan = scan_plan(spark, root, {"k": probe})
    hp_kept = [p for p in plan["paths"] if "_hp_" in p]
    assert hp_kept and all(
        f"_hp_k_bucket4={want_b}" in p for p in hp_kept
    )
    # and a grp probe prunes on the identity dir
    plan2 = scan_plan(spark, root, {"grp": "3"})
    hp_kept2 = [p for p in plan2["paths"] if "_hp_" in p]
    assert hp_kept2 and all("_hp_grp=3" in p for p in hp_kept2)
    # correctness: the table reads back exactly
    _mkview(spark, root, name="snap_layout")
    assert spark.sql("SELECT * FROM snap_layout").count() == 400
    got = _rows(
        spark.sql("SELECT k, grp, payload FROM snap_layout")
    )
    assert got == _rows(df.select("k", "grp", "payload"))


def test_sql_write_null_partition_value_lands_sentinel(spark, tmp_path):
    """NULL spec values land under the hive sentinel dir, read back
    as NULL, and never break pruning (sentinel files are always
    kept for any probe on the spec column)."""
    from hbase_compact_spark.compaction.snapshots import (
        evolve_partitioning,
    )

    root = str(tmp_path / "nulls")
    df = spark.sql(
        "SELECT id AS k, CASE WHEN id % 3 = 0 THEN NULL ELSE "
        "CAST(id % 2 AS STRING) END AS grp FROM range(30)"
    )
    df.limit(1).write.parquet(root)
    log = SnapshotLog(spark, root)
    log.bootstrap()
    evolve_partitioning(spark, root, ["grp"])
    register(spark)
    df.createOrReplaceTempView("null_src")
    _mkview(spark, root, name="snap_nulls")
    spark.sql("INSERT INTO snap_nulls SELECT * FROM null_src WHERE k > 0")
    import glob

    sent = glob.glob(
        root + "/_hp_grp=__HIVE_DEFAULT_PARTITION__/part-*.parquet"
    )
    assert sent, "NULL partition values must land under the sentinel"
    _mkview(spark, root, name="snap_nulls")
    assert (
        spark.sql("SELECT * FROM snap_nulls WHERE grp IS NULL").count()
        == 10
    )
    plan = scan_plan(spark, root, {"grp": "1"})
    assert any("__HIVE_DEFAULT_PARTITION__" in p for p in plan["paths"])


def test_sql_append_bootstrap_carries_preexisting_files(spark, tmp_path):
    """ADVICE r14: df.write mode('append') against an UNLOGGED root
    holding parquet must bootstrap from the full physical listing —
    the pre-existing rows stay in the logical table. Only an
    explicit overwrite may drop them."""
    root = str(tmp_path / "unlogged")
    spark.range(5).selectExpr("id AS k").write.parquet(root)
    register(spark)
    spark.range(5, 8).selectExpr("id AS k").write.format(
        "snapshot_table"
    ).mode("append").option("path", root).save()
    log = SnapshotLog(spark, root)
    assert log.latest() == 1 and log.read(1)["op"] == "bootstrap"
    assert read_table_at(spark, root).count() == 8
    # overwrite on an unlogged root still replaces everything
    root2 = str(tmp_path / "unlogged2")
    spark.range(5).selectExpr("id AS k").write.parquet(root2)
    spark.range(100, 102).selectExpr("id AS k").write.format(
        "snapshot_table"
    ).mode("overwrite").option("path", root2).save()
    assert read_table_at(spark, root2).count() == 2


def test_sql_empty_overwrite_reads_as_empty_table(spark, tmp_path):
    """ADVICE r14: INSERT OVERWRITE from an empty SELECT commits a
    zero-file snapshot that reads back as an EMPTY table (helper AND
    SQL paths) instead of erroring; time travel to the pre-overwrite
    version still sees the data."""
    root = str(tmp_path / "emptied")
    df = spark.range(6).selectExpr("id AS k", "id * 2 AS v")
    df.write.parquet(root)
    SnapshotLog(spark, root).bootstrap()
    register(spark)
    df.createOrReplaceTempView("empty_src")
    _mkview(spark, root, name="snap_empty")
    spark.sql(
        "INSERT OVERWRITE snap_empty SELECT * FROM empty_src WHERE k < 0"
    )
    helper = read_table_at(spark, root)
    assert helper.count() == 0
    assert [f.name for f in helper.schema.fields] == ["k", "v"]
    _mkview(spark, root, name="snap_empty")
    assert spark.sql("SELECT * FROM snap_empty").count() == 0
    assert read_table_at(spark, root, 1).count() == 6
