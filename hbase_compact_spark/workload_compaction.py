"""Compaction workload bindings — SURVEY.md §2 Part B.

`bin_packing_plan` (the procedural planner; rows-only — FFD is not
expressible in SQL) plus the snapshot-log lifecycle surfaced as
oracle-twinned queries: stats-pruned scan, z-order scan, time travel,
copy-on-write DELETE and MERGE, bloom point lookup, metadata-only
schema evolution, and the Iceberg-style incremental-append read.
Each materializes a snapshot-logged copy of `orders` under /tmp
(fingerprint-keyed, per-sf), applies the lifecycle operation once,
and reads the committed end state for the driver's hash compare;
the scale claims (files pruned/carried, candidates narrowed, zero
rewrite on evolution) are asserted in tests/test_snapshot_workloads.
"""

from __future__ import annotations

import hashlib
import os
import posixpath
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_compact_spark.compaction.planner import plan_bins
from hbase_compact_spark.registry import query
from hbase_compact_spark.sources.inventory import derived_inventory
from hbase_compact_spark.tables import load_table

# Fixture file sizes are floor(l_extendedprice*1000) ≈ 1-100 MB, so a
# 200 MB target packs a handful of "files" per bin — same shape as
# 128 MB parquet targets against real small files.
PLAN_TARGET_BYTES = 200_000_000


@query("bin_packing_plan")  # rows-only: greedy FFD is procedural
def bin_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit-decreasing bin assignment per (table, region,
    family) — the explicit form of the output-shape decision the
    reference delegates to the region server via majorCompact
    (QHBaseCompact.java:167), sized by its 40 s/GB cost intuition
    (:170). Deterministic; invariants checked in
    tests/test_compaction.py."""
    inv = derived_inventory(spark, sf_dir)
    return plan_bins(inv, PLAN_TARGET_BYTES)


# --------------------------------------------------------------------
# Shared builder scaffolding for the snapshot-log queries: each
# materializes a snapshot-logged copy of `orders` under the system
# temp dir (queries may not write beneath the read-only fixture
# tree), keyed by a fingerprint of the source parquet so a driver
# fixture regeneration rebuilds instead of serving stale rows.


def _memo_root(
    spark, sf_dir: str, tag: str, ready, src_table: str = "orders"
) -> tuple[str, object, bool]:
    """(root, log, is_ready) for a fingerprint-keyed materialization.
    One generation per (tag, sf) is kept — the sf dir name is part of
    the kept-directory name, so the unit (sf0.001) / parity (sf0.01)
    / bench (sf0.1) materializations coexist instead of evicting each
    other on every alternation. Only a SAME-sf directory with a
    different source fingerprint (i.e. the driver regenerated that
    fixture) is removed, and removal goes through an atomic rename
    into a trash name first so a concurrent session scanning the old
    generation sees either the intact tree or nothing at the live
    path — never a half-deleted table. `ready(log)` decides whether
    the existing materialization is complete."""
    import glob
    import shutil

    from hbase_compact_spark.compaction.snapshots import SnapshotLog

    src = os.path.join(sf_dir, f"{src_table}.parquet")
    st = os.stat(src)
    sf_name = os.path.basename(sf_dir.rstrip("/")) or "sf"
    fp = hashlib.md5(
        f"{tag}:{src}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:12]
    base = posixpath.join(
        tempfile.gettempdir(), f"hcs_{tag}_{sf_name}_{fp}"
    )
    for stale in glob.glob(
        posixpath.join(tempfile.gettempdir(), f"hcs_{tag}_{sf_name}_*")
    ):
        if stale == base or stale.endswith(".trash"):
            continue
        trash = f"{stale}.trash"
        try:
            os.rename(stale, trash)
        except OSError:
            continue  # another session already claimed/removed it
        shutil.rmtree(trash, ignore_errors=True)
    # sweep trash left by a session that died between rename and rmtree
    for orphan in glob.glob(
        posixpath.join(tempfile.gettempdir(), f"hcs_{tag}_{sf_name}_*.trash")
    ):
        shutil.rmtree(orphan, ignore_errors=True)
    # one-time sweep of pre-sf-scoped directories (hcs_<tag>_<hex12>)
    for legacy in glob.glob(
        posixpath.join(tempfile.gettempdir(), f"hcs_{tag}_*")
    ):
        suffix = os.path.basename(legacy)[len(f"hcs_{tag}_"):]
        if len(suffix) == 12 and all(c in "0123456789abcdef" for c in suffix):
            shutil.rmtree(legacy, ignore_errors=True)
    root = posixpath.join(base, src_table)
    log = SnapshotLog(spark, root)
    try:
        ok = bool(ready(log))
    except FileNotFoundError:
        ok = False
    return root, log, ok


def _orders_slim(spark, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


# --------------------------------------------------------------------
# snapshot_pruned_scan — the snapshot log's data-skipping read path
# (Iceberg manifest-metrics move) as a driver-checkable query.
PRUNE_LO, PRUNE_HI = 1000, 2999
_SCAN_FILES = 8


def snapshot_scan_root(spark: SparkSession, sf_dir: str) -> str:
    """Materialize `orders` as a snapshot-logged table laid out for
    pruning: range-partitioned into ``_SCAN_FILES`` files on
    o_orderkey (disjoint per-file key ranges), then `annotate_stats`
    records each file's [min, max] in the snapshot."""
    from hbase_compact_spark.compaction.snapshots import annotate_stats

    root, log, ok = _memo_root(
        spark,
        sf_dir,
        "snap_scan",
        lambda lg: lg.latest() is not None and lg.stats(),
    )
    if ok:
        return root
    (
        _orders_slim(spark, sf_dir)
        .repartitionByRange(_SCAN_FILES, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(root)
    )
    annotate_stats(spark, root, cols=["o_orderkey"])
    return root


# --------------------------------------------------------------------
# snapshot_zorder_scan — the full table-format lifecycle as one query:
# many-small-files table -> z-order compaction -> stats annotation ->
# driver-side pruned read (Delta OPTIMIZE ZORDER BY + data skipping).
ZO_LO, ZO_HI = 100, 299  # o_custkey range predicate


def zorder_scan_root(spark: SparkSession, sf_dir: str) -> str:
    """Materialize `orders` as a snapshot-logged table that goes
    through the WHOLE lifecycle: 8 unordered hash-layout files
    (bootstrap v1) -> `annotate_stats` on the RAW layout (v2 — every
    file provably spans the key space, so pruning keeps everything;
    the honest before-picture) -> `snapshot_compact(cluster_by=
    [o_custkey, o_orderkey])` rewrites in Morton order and maintains
    the stats incrementally (v3 — per-file min/max now tight)."""
    from hbase_compact_spark.compaction.snapshots import (
        annotate_stats,
        snapshot_compact,
    )

    root, log, ok = _memo_root(
        spark,
        sf_dir,
        "zorder_scan",
        lambda lg: (lg.latest() or 0) >= 3 and lg.stats(),
    )
    if ok:
        return root
    # hash-partitioned = every file spans the full key space; only the
    # z-order rewrite makes per-file stats selective
    (
        _orders_slim(spark, sf_dir)
        .repartition(8, "o_orderkey")
        .write.mode("overwrite")
        .parquet(root)
    )
    log.bootstrap()
    annotate_stats(spark, root, cols=["o_custkey", "o_orderkey"])
    # 8 input files -> ~4 z-ordered outputs: fewer bins than files (so
    # compaction qualifies) but still several files, each covering a
    # compact z-range (so pruning has something to drop). The parent
    # snapshot carries stats, so the rewrite maintains them: new files
    # get a footer pass, no full re-annotation.
    total = sum(s for _, s in log.files())
    snapshot_compact(
        spark,
        root,
        target_bytes=max(1, total // 4),
        cluster_by=["o_custkey", "o_orderkey"],
    )
    return root


@query(
    "snapshot_zorder_scan",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_custkey BETWEEN {ZO_LO} AND {ZO_HI}
    """,
)
def snapshot_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range scan through z-order clustering + snapshot stats: before
    the compaction every file spans the whole custkey space (hash
    layout — nothing prunable); after the Morton rewrite each file
    covers a compact (custkey, orderkey) hyper-rectangle, so the
    driver drops the files whose custkey span provably misses the
    predicate before Spark plans anything. Pruning is conservative and
    the residual filter exact, so the result always equals full-scan +
    filter (the oracle). tests/test_snapshots.py asserts the z-ordered
    snapshot really prunes where the pre-compaction one cannot."""
    from hbase_compact_spark.compaction.snapshots import read_table_where

    root = zorder_scan_root(spark, sf_dir)
    return read_table_where(spark, root, {"o_custkey": (ZO_LO, ZO_HI)}).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


# --------------------------------------------------------------------
# snapshot_time_travel — read an EARLIER committed version while later
# appends exist (the Iceberg time-travel contract).
# v1 holds o_orderkey % TT_MOD != 0; v2 appends the rest — a modulo
# split is interior (both sides non-empty) at every scale factor
TT_MOD = 3


def time_travel_root(spark: SparkSession, sf_dir: str) -> str:
    """Materialize `orders` as a TWO-version snapshot table: v1 = the
    non-multiple-orderkey half (bootstrap), v2 = v1's files plus an
    appended directory holding the rest. Reading v1 must therefore see
    exactly the pre-append rows no matter what the directory now
    contains."""
    root, log, ok = _memo_root(
        spark, sf_dir, "time_travel", lambda lg: (lg.latest() or 0) >= 2
    )
    if ok:
        return root
    orders = _orders_slim(spark, sf_dir)
    (
        orders.filter(F.col("o_orderkey") % TT_MOD != 0)
        .repartition(2)
        .write.mode("overwrite")
        .parquet(root)
    )
    log.bootstrap()  # v1: only the pre-append files exist
    (
        orders.filter(F.col("o_orderkey") % TT_MOD == 0)
        .repartition(2)
        .write.mode("overwrite")
        .parquet(posixpath.join(root, "append2"))
    )
    log.commit_current(op="append", parent=1)  # v2: everything on disk
    return root


@query(
    "snapshot_time_travel",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey % {TT_MOD} <> 0
    """,
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel through the snapshot log
    (compaction/snapshots.py:read_table_at): the query reads VERSION 1
    of a table that has since received an append commit, and must
    return exactly the pre-append rows — uncommitted or
    later-committed files are invisible by construction because a
    snapshot is a complete file-set listing, never a directory scan.
    The oracle is the equivalent filter over the source table."""
    from hbase_compact_spark.compaction.snapshots import read_table_at

    root = time_travel_root(spark, sf_dir)
    return read_table_at(spark, root, version=1).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


@query(
    "snapshot_pruned_scan",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey BETWEEN {PRUNE_LO} AND {PRUNE_HI}
    """,
)
def snapshot_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range scan through the snapshot log's driver-side file pruning
    (compaction/snapshots.py:read_table_where): per-file o_orderkey
    [min, max] stats drop provably-disjoint files from the scan list
    BEFORE Spark plans anything, then the exact filter runs on the
    survivors — so the result always equals full-scan + filter (the
    oracle). At 100 TB this is the difference between listing 7/8 of
    the files out of the query and reading them: pruning cost is
    O(files) driver metadata, no filesystem access.
    tests/test_snapshots.py asserts the plan really prunes."""
    from hbase_compact_spark.compaction.snapshots import read_table_where

    root = snapshot_scan_root(spark, sf_dir)
    return read_table_where(
        spark, root, {"o_orderkey": (PRUNE_LO, PRUNE_HI)}
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


# --------------------------------------------------------------------
# snapshot_delete_scan — copy-on-write row-level DELETE surfaced as a
# driver-checkable query (the reference's compaction raison d'être
# extended to the table-format endgame: QHBaseCompact.java rewrites
# files to drop DEAD versions; snapshot_delete rewrites files to drop
# PREDICATE-MATCHED rows, committing one new snapshot).
DEL_LO, DEL_HI = 1000, 1399  # o_orderkey delete range (400 rows)


def delete_scan_root(spark: SparkSession, sf_dir: str) -> str:
    """Materialize `orders` range-partitioned into 8 stats-annotated
    files, then `snapshot_delete` the [DEL_LO, DEL_HI] o_orderkey
    range. Stats pruning means only the 1-2 files whose key range
    intersects the predicate are even read; the rest are carried by
    reference into the delete commit — at 100 TB a keyed delete
    touches O(matching files), not the table."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        annotate_stats,
        snapshot_delete,
    )

    def _ready(lg: SnapshotLog) -> bool:
        v = lg.latest()
        return v is not None and lg.read(v).get("op") == "delete"

    root, log, ok = _memo_root(spark, sf_dir, "delete_scan", _ready)
    if ok:
        return root
    (
        _orders_slim(spark, sf_dir)
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(root)
    )
    annotate_stats(spark, root, cols=["o_orderkey"])
    result = snapshot_delete(
        spark, root, {"o_orderkey": (DEL_LO, DEL_HI)}
    )
    if result["deleted_rows"] == 0:
        raise RuntimeError("snapshot_delete deleted nothing — vacuous fixture")
    return root


@query(
    "snapshot_delete_scan",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey NOT BETWEEN {DEL_LO} AND {DEL_HI}
    """,
)
def snapshot_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the table AFTER a copy-on-write DELETE
    (compaction/snapshots.py:snapshot_delete): matching rows are gone,
    non-matching rows in touched files were rewritten verbatim
    (count-verified), untouched files carried by reference, and the
    whole delete is ONE atomic snapshot commit — readers see all of it
    or none of it, and time travel still serves the pre-delete
    version. Oracle = the anti-predicate over the source table.
    tests/test_snapshots.py covers pruning + verification; this query
    puts the end state under the driver's hash check."""
    from hbase_compact_spark.compaction.snapshots import read_table_at

    root = delete_scan_root(spark, sf_dir)
    return read_table_at(spark, root).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


# --------------------------------------------------------------------
# snapshot_mor_delete_scan — MERGE-ON-READ row-level DELETE (Iceberg
# v2 positional deletes): the delete commit writes only a small
# (file, position) manifest — zero data bytes rewritten — and readers
# anti-join it until compaction physically applies the entries.
MDEL_LO, MDEL_HI = 300, 449   # 150 deleted keys (exist at every sf)
MDEL_INS_MAX = 19             # keys 0..19 template the appended rows
MDEL_INS_OFFSET = 20_000_000  # appended keys = template + offset


def mor_delete_scan_root(spark: SparkSession, sf_dir: str) -> str:
    """Materialize `orders` range-partitioned into 8 stats-annotated
    files, MOR-delete the [MDEL_LO, MDEL_HI] o_orderkey range, then
    append fresh rows AFTER the delete. The builder asserts the MOR
    contract on every materialization: the delete commit rewrites
    ZERO files (the data-file manifest is byte-identical to the
    parent's) and the append commit carries the pending delete file
    forward — so the driver's hash check proves both the positional
    anti-join on the read path and the delete-state carry across
    unrelated commits. At 100 TB this is the high-churn shape: a
    GDPR-grade delete costs O(matches) at write time, the rewrite is
    deferred to compaction."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        annotate_stats,
        append_partitioned,
        snapshot_delete,
    )

    def _ready(lg: SnapshotLog) -> bool:
        v = lg.latest()
        return (
            v is not None
            and lg.read(v).get("op") == "append-partitioned"
            and bool(lg.read(v).get("delete_files"))
        )

    root, log, ok = _memo_root(spark, sf_dir, "mor_delete_scan", _ready)
    if ok:
        return root
    (
        _orders_slim(spark, sf_dir)
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(root)
    )
    annotate_stats(spark, root, cols=["o_orderkey"])
    pre = log.files(log.latest())
    result = snapshot_delete(
        spark, root, {"o_orderkey": (MDEL_LO, MDEL_HI)}, mode="mor"
    )
    if result["deleted_rows"] == 0:
        raise RuntimeError("mor delete deleted nothing — vacuous fixture")
    if result["rewritten_files"] != 0 or log.files(result["version"]) != pre:
        raise RuntimeError(
            f"mor delete must rewrite zero data files: {result}"
        )
    appended = _orders_slim(spark, sf_dir).filter(
        F.col("o_orderkey") <= MDEL_INS_MAX
    ).select(
        (F.col("o_orderkey") + F.lit(MDEL_INS_OFFSET)).alias("o_orderkey"),
        "o_custkey",
        F.lit("A").alias("o_orderstatus"),
        "o_totalprice",
    )
    append_partitioned(spark, root, appended)
    if not log.read(log.latest()).get("delete_files"):
        raise RuntimeError("append dropped the pending delete files")
    return root


@query(
    "snapshot_mor_delete_scan",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey NOT BETWEEN {MDEL_LO} AND {MDEL_HI}
    UNION ALL
    SELECT o_orderkey + {MDEL_INS_OFFSET} AS o_orderkey, o_custkey,
           'A' AS o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= {MDEL_INS_MAX}
    """,
)
def snapshot_mor_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the table AFTER a merge-on-read DELETE plus a subsequent
    append (compaction/snapshots.py:snapshot_delete mode="mor"): the
    delete commit wrote only a positional (file, pos) delete manifest
    — zero data rewrite, asserted in the builder — and the read path
    subtracts it with a broadcast anti-join off the scan's hidden
    `_metadata` (file, row_index) columns; the later append carried
    the pending entries forward. Oracle = anti-predicate UNION the
    appended rows. Compact-retires-deletes, time travel across the
    delete, CDC across it, and the forced shuffled-anti-join branch
    are pinned in tests/test_snapshot_workloads.py."""
    from hbase_compact_spark.compaction.snapshots import read_table_at

    root = mor_delete_scan_root(spark, sf_dir)
    return read_table_at(spark, root).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


# --------------------------------------------------------------------
# snapshot_eqdelete_scan — MERGE-ON-READ EQUALITY DELETE (Iceberg v2
# equality delete files): the delete commit writes only the KEY ROWS
# plus a file-list scope — zero data bytes scanned OR rewritten — and
# readers subtract key matches inside the scope; same-key rows
# appended later fall outside the scope and survive.
EQDEL_LO, EQDEL_HI = 700, 779   # 80 deleted keys
EQDEL_RE_MAX = 709              # keys 700..709 are RE-ADDED after
EQDEL_RE_BUMP = 500_000.0       # ... with status 'R' and bumped price
EQDEL_INS_MAX = 9               # keys 0..9 template brand-new rows
EQDEL_INS_OFFSET = 30_000_000   # appended keys = template + offset


def eqdelete_scan_root(spark: SparkSession, sf_dir: str) -> str:
    """Materialize `orders` range-partitioned into 8 stats-annotated
    files, EQUALITY-delete keys [EQDEL_LO, EQDEL_HI] by key frame,
    then append rows that RE-USE keys EQDEL_LO..EQDEL_RE_MAX plus
    brand-new offset keys. The builder asserts the equality-delete
    contract on every materialization: the commit scans zero files
    and rewrites zero files (the data manifest is byte-identical to
    the parent's), and the re-added keys survive the pending delete —
    the scope (files live at delete time) is what keeps a
    delete-then-reinsert round trip SQL-shaped instead of
    tombstone-shaped. At 100 TB this is the streaming-upsert / GDPR
    erasure shape: the writer never touches the table to delete, and
    compaction amortizes the physical rewrite."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        annotate_stats,
        append_partitioned,
        snapshot_delete_by_key,
    )

    def _ready(lg: SnapshotLog) -> bool:
        v = lg.latest()
        return (
            v is not None
            and lg.read(v).get("op") == "append-partitioned"
            and bool(lg.read(v).get("delete_files"))
        )

    root, log, ok = _memo_root(spark, sf_dir, "eqdelete_scan", _ready)
    if ok:
        return root
    (
        _orders_slim(spark, sf_dir)
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(root)
    )
    annotate_stats(spark, root, cols=["o_orderkey"])
    pre = log.files(log.latest())
    keys = spark.range(EQDEL_LO, EQDEL_HI + 1).select(
        F.col("id").cast("long").alias("o_orderkey")
    )
    result = snapshot_delete_by_key(spark, root, keys)
    if result["deleted_keys"] != EQDEL_HI - EQDEL_LO + 1:
        raise RuntimeError(f"eq delete recorded wrong key count: {result}")
    if result["rewritten_files"] != 0 or result["scanned_files"] != 0:
        raise RuntimeError(
            f"eq delete must neither scan nor rewrite data: {result}"
        )
    if log.files(result["version"]) != pre:
        raise RuntimeError("eq delete changed the data-file manifest")
    orders = _orders_slim(spark, sf_dir)
    readded = orders.filter(
        F.col("o_orderkey").between(EQDEL_LO, EQDEL_RE_MAX)
    ).select(
        "o_orderkey",
        "o_custkey",
        F.lit("R").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(EQDEL_RE_BUMP)).alias("o_totalprice"),
    )
    brand_new = orders.filter(F.col("o_orderkey") <= EQDEL_INS_MAX).select(
        (F.col("o_orderkey") + F.lit(EQDEL_INS_OFFSET)).alias("o_orderkey"),
        "o_custkey",
        F.lit("R").alias("o_orderstatus"),
        "o_totalprice",
    )
    append_partitioned(spark, root, readded.unionByName(brand_new))
    if not log.read(log.latest()).get("delete_files"):
        raise RuntimeError("append dropped the pending equality delete")
    return root


@query(
    "snapshot_eqdelete_scan",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey NOT BETWEEN {EQDEL_LO} AND {EQDEL_HI}
    UNION ALL
    SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
           o_totalprice + {EQDEL_RE_BUMP} AS o_totalprice
    FROM orders
    WHERE o_orderkey BETWEEN {EQDEL_LO} AND {EQDEL_RE_MAX}
    UNION ALL
    SELECT o_orderkey + {EQDEL_INS_OFFSET} AS o_orderkey, o_custkey,
           'R' AS o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= {EQDEL_INS_MAX}
    """,
)
def snapshot_eqdelete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the table AFTER a merge-on-read EQUALITY delete plus a
    subsequent append that re-uses deleted keys
    (compaction/snapshots.py:snapshot_delete_by_key): the delete
    commit wrote only an `e-` keys+scope entry — zero data scan, zero
    rewrite, both asserted in the builder — the read path subtracts
    key matches scoped to the files that were live at delete time
    (two broadcast marker joins + one filter), and the re-added rows
    survive because their files postdate the scope. Oracle =
    anti-key-range UNION the re-added and brand-new rows.
    Compact-applies-and-retires, COW-after-eq no-resurrection, CDC
    across the eq delete, and scope-shrink retirement are pinned in
    tests/test_snapshot_workloads.py."""
    from hbase_compact_spark.compaction.snapshots import read_table_at

    root = eqdelete_scan_root(spark, sf_dir)
    return read_table_at(spark, root).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


# --------------------------------------------------------------------
# snapshot_rollback_scan — Iceberg's rollback_to_snapshot: a bad
# commit is undone by ONE metadata-only forward commit that restores
# the earlier state; the bad version stays time-travelable for audit
# and the table keeps living (appends continue on the restored line).
RB_LO, RB_HI = 900, 999       # the "bad" delete wipes these keys
RB_INS_MAX = 4                # keys 0..4 template the post-rollback append
RB_INS_OFFSET = 50_000_000


def rollback_scan_root(spark: SparkSession, sf_dir: str) -> str:
    """Materialize `orders`, COW-delete [RB_LO, RB_HI] (the bad
    commit — files genuinely rewritten), ROLL BACK to the pre-delete
    version, then append fresh rows on the restored line. The builder
    asserts the rollback contract on every materialization: the
    rollback commit's data-file list is exactly the target's (zero
    data bytes moved), the wiped keys are back, and the bad version
    still serves its (smaller) state to time travel — undo without
    destroying the audit trail."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        annotate_stats,
        append_partitioned,
        read_table_at,
        snapshot_delete,
        snapshot_rollback,
    )

    def _ready(lg: SnapshotLog) -> bool:
        v = lg.latest()
        if v is None:
            return False
        if lg.read(v).get("op") != "append-partitioned":
            return False
        return any(
            lg.read(x).get("op") == "rollback" for x in lg.versions()
        )

    root, log, ok = _memo_root(spark, sf_dir, "rollback_scan", _ready)
    if ok:
        return root
    (
        _orders_slim(spark, sf_dir)
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(root)
    )
    annotate_stats(spark, root, cols=["o_orderkey"])
    good_v = log.latest()
    good_files = log.files(good_v)
    bad = snapshot_delete(spark, root, {"o_orderkey": (RB_LO, RB_HI)})
    if bad["deleted_rows"] == 0 or bad["rewritten_files"] == 0:
        raise RuntimeError(f"vacuous bad-delete fixture: {bad}")
    res = snapshot_rollback(spark, root, good_v)
    if res["noop"] or log.files(res["version"]) != good_files:
        raise RuntimeError(
            f"rollback must restore the target's exact file list: {res}"
        )
    n_bad = read_table_at(spark, root, bad["version"]).count()
    n_good = read_table_at(spark, root, res["version"]).count()
    if n_good <= n_bad:  # wiped keys back; bad version still audits
        raise RuntimeError("rollback did not restore the deleted rows")
    appended = _orders_slim(spark, sf_dir).filter(
        F.col("o_orderkey") <= RB_INS_MAX
    ).select(
        (F.col("o_orderkey") + F.lit(RB_INS_OFFSET)).alias("o_orderkey"),
        "o_custkey",
        F.lit("B").alias("o_orderstatus"),
        "o_totalprice",
    )
    append_partitioned(spark, root, appended)
    return root


@query(
    "snapshot_rollback_scan",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    UNION ALL
    SELECT o_orderkey + {RB_INS_OFFSET} AS o_orderkey, o_custkey,
           'B' AS o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= {RB_INS_MAX}
    """,
)
def snapshot_rollback_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the table after a bad COW delete was UNDONE by
    `snapshot_rollback` (compaction/snapshots.py) and life went on
    with a fresh append: the rollback is one metadata-only commit
    that byte-copies the target's manifest (file-list equality
    asserted in the builder) and pins its schema/spec/delete state;
    the rolled-back version stays time-travelable for audit. Oracle =
    the original table UNION the post-rollback append — the bad
    delete must leave no trace in the current state. Spec-evolution
    pinning and read_incremental refusal are covered in
    tests/test_snapshot_workloads.py."""
    from hbase_compact_spark.compaction.snapshots import read_table_at

    root = rollback_scan_root(spark, sf_dir)
    return read_table_at(spark, root).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


# --------------------------------------------------------------------
# snapshot_history — the Iceberg `table$history`/`table$snapshots`
# METADATA TABLE surface: the commit lineage of a live table as a
# queryable DataFrame, pinned row-for-row against the literal
# sequence of operations the eqdelete fixture performs.
@query(
    "snapshot_history",
    oracle="""
    SELECT CAST(version AS BIGINT) AS version,
           op,
           CAST(parent AS BIGINT) AS parent,
           CAST(n_delete_entries AS BIGINT) AS n_delete_entries,
           files_changed
    FROM (VALUES
            (1, 'bootstrap', 0, 0, TRUE),
            (2, 'stats', 1, 0, FALSE),
            (3, 'mor_delete_eq', 2, 1, FALSE),
            (4, 'append-partitioned', 3, 1, TRUE)
         ) AS t(version, op, parent, n_delete_entries, files_changed)
    """,
)
def snapshot_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot log's commit lineage as a DataFrame — Iceberg's
    `table$history` / `table$snapshots` metadata tables: one row per
    version with its operation, parent, pending delete-entry count,
    and whether the commit changed the data-file set (a stats
    annotation and a MOR delete provably do NOT — the zero-rewrite
    contract, surfaced as a queryable column). Runs over the eqdelete
    fixture, whose four-commit lineage (bootstrap → stats →
    mor_delete_eq → append) is deterministic at every scale factor,
    so the oracle is the literal expected table. Metadata only: the
    row count is the version count (thousands on a year-old 100 TB
    table — driver-trivial), and no data file is ever opened."""
    from hbase_compact_spark.compaction.snapshots import SnapshotLog

    root = eqdelete_scan_root(spark, sf_dir)
    log = SnapshotLog(spark, root)
    rows = []
    prev_files: dict[int, set] = {}
    for v in log.versions():
        d = log.read(v)
        files = {p for p, _ in log.files(v)}
        prev_files[v] = files
        parent = d.get("parent")
        changed = (
            files != prev_files.get(parent, set())
            if parent is not None
            else True
        )
        rows.append(
            (
                v,
                str(d.get("op", "")),
                int(parent or 0),
                len(d.get("delete_files") or []),
                bool(changed),
            )
        )
    return spark.createDataFrame(
        rows,
        "version long, op string, parent long, "
        "n_delete_entries long, files_changed boolean",
    )


# --------------------------------------------------------------------
# snapshot_mor_upsert_scan — MERGE-ON-READ UPSERT (the Flink→Iceberg
# streaming-upsert shape): ONE commit lands the source rows as new
# files AND equality-deletes their keys scoped to the old files —
# zero existing bytes read or rewritten.
UPS_LO, UPS_HI = 800, 859      # 60 updated keys
UPS_BUMP = 200_000.0           # updated o_totalprice delta
UPS_INS_MAX = 14               # keys 0..14 template the inserts
UPS_INS_OFFSET = 40_000_000    # inserted keys = template + offset


def mor_upsert_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic upsert batch derived from `orders` itself:
    UPDATE rows for keys in [UPS_LO, UPS_HI] (status 'U', price
    bumped) plus INSERT rows templated from keys 0..UPS_INS_MAX and
    shifted past the key domain."""
    orders = _orders_slim(spark, sf_dir)
    updates = orders.filter(
        F.col("o_orderkey").between(UPS_LO, UPS_HI)
    ).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(UPS_BUMP)).alias("o_totalprice"),
    )
    inserts = orders.filter(F.col("o_orderkey") <= UPS_INS_MAX).select(
        (F.col("o_orderkey") + F.lit(UPS_INS_OFFSET)).alias("o_orderkey"),
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        "o_totalprice",
    )
    return updates.unionByName(inserts)


def mor_upsert_scan_root(spark: SparkSession, sf_dir: str) -> str:
    """Materialize `orders` range-partitioned into 8 stats-annotated
    files, then `snapshot_upsert_mor` the deterministic batch keyed on
    o_orderkey. The builder asserts the MOR-upsert contract on every
    materialization: ONE commit, zero files scanned or rewritten,
    every parent data file carried by reference, the source landed in
    fresh files, and a pending equality entry scoped to the PARENT
    files only (the new rows must survive their own delete keys). At
    100 TB this is how a CDC stream applies a batch of updates in
    O(|batch|) write cost, deferring the rewrite to compaction."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        annotate_stats,
        snapshot_upsert_mor,
    )

    def _ready(lg: SnapshotLog) -> bool:
        v = lg.latest()
        return (
            v is not None
            and lg.read(v).get("op") == "mor_upsert"
            and bool(lg.read(v).get("delete_files"))
        )

    root, log, ok = _memo_root(spark, sf_dir, "mor_upsert_scan", _ready)
    if ok:
        return root
    (
        _orders_slim(spark, sf_dir)
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(root)
    )
    annotate_stats(spark, root, cols=["o_orderkey"])
    pre = log.files(log.latest())
    result = snapshot_upsert_mor(
        spark, root, mor_upsert_source(spark, sf_dir), ["o_orderkey"]
    )
    if result["upserted_keys"] == 0 or result["new_files"] == 0:
        raise RuntimeError(f"vacuous MOR upsert fixture: {result}")
    if result["rewritten_files"] != 0 or result["scanned_files"] != 0:
        raise RuntimeError(
            f"MOR upsert must neither scan nor rewrite data: {result}"
        )
    post = log.files(result["version"])
    if not set(pre) <= set(post) or len(post) <= len(pre):
        raise RuntimeError("MOR upsert must carry parents + add files")
    if not log.read(result["version"]).get("delete_files"):
        raise RuntimeError("MOR upsert committed no equality entry")
    return root


@query(
    "snapshot_mor_upsert_scan",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey NOT BETWEEN {UPS_LO} AND {UPS_HI}
    UNION ALL
    SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
           o_totalprice + {UPS_BUMP} AS o_totalprice
    FROM orders
    WHERE o_orderkey BETWEEN {UPS_LO} AND {UPS_HI}
    UNION ALL
    SELECT o_orderkey + {UPS_INS_OFFSET} AS o_orderkey, o_custkey,
           'U' AS o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= {UPS_INS_MAX}
    """,
)
def snapshot_mor_upsert_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the table AFTER a merge-on-read UPSERT
    (compaction/snapshots.py:snapshot_upsert_mor): one commit landed
    the batch as fresh files and equality-deleted its keys scoped to
    the parent's files — zero existing bytes read or rewritten, both
    asserted in the builder. Matched keys serve the NEW row (the old
    version dies in the scoped join, the new file postdates the
    scope); unmatched keys are plain inserts. Oracle = the 3-branch
    merge dual. Compact-applies-and-retires and the
    upsert-then-upsert-same-key chain are pinned in
    tests/test_snapshot_workloads.py."""
    from hbase_compact_spark.compaction.snapshots import read_table_at

    root = mor_upsert_scan_root(spark, sf_dir)
    return read_table_at(spark, root).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


# --------------------------------------------------------------------
# snapshot_merge_scan — copy-on-write MERGE (upsert) surfaced as a
# driver-checkable query: updates to a narrow key range + inserts of
# brand-new keys, then read the committed end state.
UPD_LO, UPD_HI = 600, 649     # 50 updated keys (exist at every sf)
INS_SRC_MAX = 19              # keys 0..19 template the 20 inserts
INS_OFFSET = 10_000_000       # inserted keys = template + offset
UPD_BUMP = 100_000.0          # updated o_totalprice delta


def merge_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MERGE source derived from `orders` itself:
    UPDATE rows for keys in [UPD_LO, UPD_HI] (status 'U', price
    bumped) plus INSERT rows templated from keys 0..INS_SRC_MAX and
    shifted past the key domain (status 'I')."""
    orders = _orders_slim(spark, sf_dir)
    updates = orders.filter(
        F.col("o_orderkey").between(UPD_LO, UPD_HI)
    ).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(UPD_BUMP)).alias("o_totalprice"),
    )
    inserts = orders.filter(F.col("o_orderkey") <= INS_SRC_MAX).select(
        (F.col("o_orderkey") + F.lit(INS_OFFSET)).alias("o_orderkey"),
        "o_custkey",
        F.lit("I").alias("o_orderstatus"),
        "o_totalprice",
    )
    return updates.unionByName(inserts)


def merge_scan_root(spark: SparkSession, sf_dir: str) -> str:
    """Materialize `orders` range-partitioned into 8 stats-annotated
    files, then `snapshot_merge` the deterministic source keyed on
    o_orderkey. Per-file stats make only the file(s) covering
    [UPD_LO, UPD_HI] merge candidates — the other 7 are carried by
    reference; inserts land append-only. At 100 TB, merging a day of
    updates reads O(|source|) files, not O(table)."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        annotate_stats,
        snapshot_merge,
    )

    def _ready(lg: SnapshotLog) -> bool:
        v = lg.latest()
        return v is not None and lg.read(v).get("op") == "merge"

    root, log, ok = _memo_root(spark, sf_dir, "merge_scan", _ready)
    if ok:
        return root
    (
        _orders_slim(spark, sf_dir)
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(root)
    )
    annotate_stats(spark, root, cols=["o_orderkey"])
    result = snapshot_merge(
        spark, root, merge_source(spark, sf_dir), key_cols=["o_orderkey"]
    )
    if result["matched"] == 0 or result["inserted"] == 0:
        raise RuntimeError(f"vacuous merge: {result}")
    return root


@query(
    "snapshot_merge_scan",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey NOT BETWEEN {UPD_LO} AND {UPD_HI}
    UNION ALL
    SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
           o_totalprice + {UPD_BUMP} AS o_totalprice
    FROM orders
    WHERE o_orderkey BETWEEN {UPD_LO} AND {UPD_HI}
    UNION ALL
    SELECT o_orderkey + {INS_OFFSET} AS o_orderkey, o_custkey,
           'I' AS o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= {INS_SRC_MAX}
    """,
)
def snapshot_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the table AFTER a copy-on-write MERGE
    (compaction/snapshots.py:snapshot_merge — Delta/Iceberg `MERGE
    INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT`): matched
    keys replaced, new keys inserted, untouched files carried by
    reference, one atomic commit. The double arithmetic in the bump is
    the same IEEE op in both engines, so the hash compare is exact.
    Oracle = the MERGE dual written as three UNION ALL branches over
    the source table."""
    from hbase_compact_spark.compaction.snapshots import read_table_at

    root = merge_scan_root(spark, sf_dir)
    return read_table_at(spark, root).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


# --------------------------------------------------------------------
# snapshot_bloom_lookup — per-file bloom filters pruning a POINT
# lookup on a high-cardinality key where min/max stats provably
# cannot (hash layout: every file spans the whole key domain).
BLOOM_KEY = 7  # exists at every sf (keys are dense from 0)


def bloom_lookup_root(spark: SparkSession, sf_dir: str) -> str:
    """Materialize `orders` HASH-partitioned into 8 files on
    o_orderkey — every file's [min, max] spans ~the whole domain, so
    range stats never prune a point lookup — then `annotate_stats`
    (the honest non-pruning layer) plus `annotate_blooms` on
    o_orderkey. The bloom bitsets are what make the lookup cheap:
    ~7/8 files ruled out driver-side (modulo the 1% FPP) before Spark
    plans anything."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        annotate_blooms,
        annotate_stats,
    )

    def _ready(lg: SnapshotLog) -> bool:
        v = lg.latest()
        return v is not None and lg.read(v).get("op") == "blooms"

    root, log, ok = _memo_root(spark, sf_dir, "bloom_lookup", _ready)
    if ok:
        return root
    (
        _orders_slim(spark, sf_dir)
        .repartition(8, "o_orderkey")
        .write.mode("overwrite")
        .parquet(root)
    )
    annotate_stats(spark, root, cols=["o_orderkey"])
    annotate_blooms(spark, root, cols=["o_orderkey"])
    return root


@query(
    "snapshot_bloom_lookup",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey = {BLOOM_KEY}
    """,
)
def snapshot_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup through per-file bloom filters
    (compaction/snapshots.py:annotate_blooms + scan_plan): on the hash
    layout every file's [min, max] contains the key, so stats keep all
    8 files — the blooms rule out the ~7 files that cannot hold it, a
    driver-side bitset test per file with no footer or data access.
    Pruning is conservative (FPP keeps extra files, never drops a true
    holder), the residual equality filter exact, so the result always
    equals full-scan + filter (the oracle). tests/test_snapshots.py
    asserts files really are skipped."""
    from hbase_compact_spark.compaction.snapshots import read_table_where

    root = bloom_lookup_root(spark, sf_dir)
    return read_table_where(
        spark, root, {"o_orderkey": BLOOM_KEY}
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


# --------------------------------------------------------------------
# snapshot_schema_evolution — metadata-only ADD/DROP COLUMN with data
# written before AND after the evolution, read through the snapshot's
# declared per-version schema.
EVO_MOD = 2  # odd keys written pre-evolution, even keys post


def evolution_root(spark: SparkSession, sf_dir: str) -> str:
    """Three-version lifecycle: v1 = odd-key rows with the original 4
    columns (bootstrap); v2 = `evolve_schema` ADD o_priority string /
    DROP o_orderstatus — zero files touched; v3 = append even-key rows
    physically CARRYING o_priority. Old files must project the added
    column as NULL and hide the dropped one; new files serve the
    column for real — the Iceberg per-version-schema contract with
    nothing rewritten."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        evolve_schema,
    )

    root, log, ok = _memo_root(
        spark, sf_dir, "evolution", lambda lg: (lg.latest() or 0) >= 3
    )
    if ok:
        return root
    orders = _orders_slim(spark, sf_dir)
    (
        orders.filter(F.col("o_orderkey") % EVO_MOD != 0)
        .repartition(2)
        .write.mode("overwrite")
        .parquet(root)
    )
    log.bootstrap()  # v1: original schema, odd keys
    evolve_schema(
        spark,
        root,
        add_columns={"o_priority": "string"},
        drop_columns=["o_orderstatus"],
    )  # v2: same files, evolved schema
    (
        orders.filter(F.col("o_orderkey") % EVO_MOD == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.concat(F.lit("P"), (F.col("o_orderkey") % 5).cast("string"))
            .alias("o_priority"),
        )
        .repartition(2)
        .write.mode("overwrite")
        .parquet(posixpath.join(root, "append_evolved"))
    )
    log.commit_current(op="append", parent=2)  # v3: old + new files
    return root


@query(
    "snapshot_schema_evolution",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(NULL AS VARCHAR) AS o_priority
    FROM orders
    WHERE o_orderkey % {EVO_MOD} <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice,
           'P' || CAST(o_orderkey % 5 AS VARCHAR) AS o_priority
    FROM orders
    WHERE o_orderkey % {EVO_MOD} = 0
    """,
)
def snapshot_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a table whose schema evolved BETWEEN file generations
    (compaction/snapshots.py:evolve_schema): pre-evolution files lack
    o_priority (projected as NULL) and still physically hold the
    dropped o_orderstatus (hidden by the declared schema);
    post-evolution files carry o_priority for real. ADD/DROP COLUMN
    was metadata-only — zero bytes rewritten — which is the only
    schema-change cost model that works at 100 TB. Oracle = the
    two-generation union over the source table."""
    from hbase_compact_spark.compaction.snapshots import read_table_at

    root = evolution_root(spark, sf_dir)
    return read_table_at(spark, root).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_priority"
    )


@query(
    "snapshot_incremental_scan",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey % {TT_MOD} = 0
    """,
)
def snapshot_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style incremental read between two snapshot versions
    (compaction/snapshots.py:read_incremental — the Iceberg
    incremental-append scan): exactly the rows whose FILES were added
    by the v1→v2 append, resolved from pure snapshot metadata, with
    only the delta files opened. This is how a downstream pipeline at
    100 TB processes a day of ingest without rescanning the table.
    Shares the two-version materialization with snapshot_time_travel
    (v1 = non-multiple keys, v2 appends the rest), so the oracle is
    the appended modulo slice."""
    from hbase_compact_spark.compaction.snapshots import read_incremental

    root = time_travel_root(spark, sf_dir)
    return read_incremental(spark, root, from_version=1, to_version=2).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


@query(
    "snapshot_cdc_scan",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           'delete' AS change_type
    FROM orders WHERE o_orderkey BETWEEN {UPD_LO} AND {UPD_HI}
    UNION ALL
    SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
           o_totalprice + {UPD_BUMP} AS o_totalprice,
           'insert' AS change_type
    FROM orders WHERE o_orderkey BETWEEN {UPD_LO} AND {UPD_HI}
    UNION ALL
    SELECT o_orderkey + {INS_OFFSET} AS o_orderkey, o_custkey,
           'I' AS o_orderstatus, o_totalprice,
           'insert' AS change_type
    FROM orders WHERE o_orderkey <= {INS_SRC_MAX}
    """,
)
def snapshot_cdc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change-data-feed across the COW MERGE commit
    (compaction/snapshots.py:read_changes — the Delta
    CHANGE_DATA_FEED / Iceberg changelog shape): updates surface as a
    delete (pre-image) + insert (post-image) pair, inserts as plain
    inserts, and the rows the rewrite carried verbatim cancel out of
    the multiset diff entirely. Only the files touched by the merge
    are opened — the file-set diff is snapshot metadata. Shares the
    merge materialization with snapshot_merge_scan; oracle = the
    expected change rows written directly over the source table."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        read_changes,
    )

    root = merge_scan_root(spark, sf_dir)
    log = SnapshotLog(spark, root)
    versions = log.versions()
    merge_v = max(v for v in versions if log.read(v).get("op") == "merge")
    from_v = max(v for v in versions if v < merge_v)
    return read_changes(spark, root, from_v, merge_v).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("_change_type").alias("change_type"),
    )


# --------------------------------------------------------------------
# compaction_execute — the reference's CORE ACTION (QHC.java:167) as a
# benchmarked end-to-end query: plan + rewrite + fingerprint-verified
# atomic swap over a freshly fragmented many-small-file table. Every
# other compaction row measures metadata; this one measures the
# rewrite itself, so it appears in BENCH_r{N}.json alongside the
# declarative queries.
_CE_PARTS = 16    # partition directories (regions)
_CE_FILES = 64    # small files per partition -> 1024 files total
_CE_TARGET_STAGED_BYTES = 256 << 20  # size the staged table toward this
_CE_MAX_INFLATE = 32
# measured staged-bytes produced per source-byte per replica with the
# 64-hex-char payload column below (payload dominates the row)
_CE_BYTES_PER_SRC_BYTE = 5.5


def _ce_inflate_factor(sf_dir: str) -> int:
    """Deterministic row-replication factor sizing the staged table
    so BYTES dominate the rewrite. A raw small-sf events fixture
    yields 3 KB store files of 15-byte rows — per-file and per-row
    scheduling overhead swamps the byte cost there, making any MB/s
    reading meaningless against the reference's 40 s/GB byte budget;
    real HBase store files are hundreds of KB of ~100 B KeyValues,
    which is what the replication + payload below reproduces."""
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        size = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _d, fs in os.walk(src)
            for f in fs
        )
    else:
        size = os.path.getsize(src)
    per_replica = max(1, int(size * _CE_BYTES_PER_SRC_BYTE))
    return max(
        1, min(_CE_MAX_INFLATE, -(-_CE_TARGET_STAGED_BYTES // per_replica))
    )


def _compaction_staging(spark: SparkSession, sf_dir: str) -> str:
    """One fingerprint-keyed staging tree of _CE_PARTS x _CE_FILES
    small parquet files built from `events` (sources/memo.py
    discipline: atomic publish, regeneration-aware), row-inflated by
    _ce_inflate_factor with a 64-hex-char payload column so each
    store file carries realistic HBase-KeyValue-sized rows (replica
    ids fold into event_id, jitter value, and seed the payload, so
    the extra rows are distinct and do not compress away). The
    staging is
    IMMUTABLE — each compaction_execute run hardlink-copies it into a
    fresh working dir, so the timed work is the compaction, not the
    bootstrap, and runs never contend."""
    from hbase_compact_spark.sources.memo import memo_root, publish, staging_dir

    root, complete = memo_root(sf_dir, "compactexec", "events", logic_rev="r7b")
    if complete:
        return root
    tmp = staging_dir(root)
    k = _ce_inflate_factor(sf_dir)
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .withColumn(
            "_k", F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
        )
        .select(
            (F.col("event_id") * k + F.col("_k")).alias("event_id"),
            "user_id",
            "event_type",
            (F.col("value") + F.col("_k") * F.lit(1e-6)).alias("value"),
        )
        .withColumn(
            "payload",
            F.concat(
                F.md5(F.col("event_id").cast("string")),
                F.md5((F.col("event_id") + 1).cast("string")),
            ),
        )
    )
    for p in range(_CE_PARTS):
        (
            ev.filter(F.col("event_id") % _CE_PARTS == p)
            .repartition(_CE_FILES)
            .write.mode("overwrite")
            .parquet(posixpath.join(tmp, f"region={p:02d}"))
        )
    # strip _SUCCESS/CRC noise so the tree is files-only like a real
    # fragmented table (and so file counts below are exact)
    for dirpath, _dirs, files in os.walk(tmp):
        for name in files:
            if not name.endswith(".parquet"):
                os.unlink(os.path.join(dirpath, name))
    publish(tmp, root)
    return root


@query("compaction_execute")  # rows-only: imperative rewrite action;
# invariants (row fingerprint, fewer files, idempotent re-run) pinned
# in tests/test_compaction.py
def compaction_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END compaction of a ~1k-small-file table: hardlink-copy
    the fragmented staging into a fresh working dir, then
    compact_table() — per-partition bin planning (QHC.java:151 >1-file
    gate), rewrite, count+fingerprint verification and
    manifest-guarded atomic swap (executor.py). Returns one row per
    partition with before/after file counts and row counts — the
    stats report the reference prints per region (QHC.java:219-270) —
    plus a `__total__` row carrying the ACHIEVED THROUGHPUT (staged
    bytes rewritten / rewrite wall time, MB/s), so the comparison
    against the reference's implied completion budget of 40 s/GB =
    25.6 MB/s (QHC.java:170, BASELINE.md) is part of the report
    itself; the pinned test requires the bar to be beaten. The
    per-partition rows stay deterministic (only the total row carries
    timing; BENCH_r{N} carries the wall time as before). Scale: a
    partition under executor._ARROW_REWRITE_MAX_BYTES (every one of a
    local staging up to sf0.1) is rewritten on the driver by the
    pyarrow kernel with no Spark job, a larger or remote one by its
    own distributed job, and partitions run concurrently (adaptive
    concurrency), so the shape scales to region counts the way the
    reference's serial loop cannot."""
    import shutil
    import time
    import uuid

    from hbase_compact_spark.compaction.executor import compact_table

    staging = _compaction_staging(spark, sf_dir)
    work = posixpath.join(
        tempfile.gettempdir(), f"hcs_cexec_run_{uuid.uuid4().hex[:8]}"
    )
    bytes_before = 0
    for p in range(_CE_PARTS):
        rel = f"region={p:02d}"
        os.makedirs(posixpath.join(work, rel))
        src = posixpath.join(staging, rel)
        for name in os.listdir(src):
            dest = posixpath.join(work, rel, name)
            os.link(posixpath.join(src, name), dest)
            bytes_before += os.path.getsize(dest)
    try:
        t0 = time.monotonic()
        report = compact_table(spark, work, priority="fragmentation")
        elapsed = time.monotonic() - t0
        mb_per_s = (bytes_before / (1 << 20)) / max(elapsed, 1e-9)
        rows = []
        tot_before = tot_after = tot_rows = 0
        for r in sorted(report.results, key=lambda r: r.partition):
            after = sum(
                1
                for name in os.listdir(posixpath.join(work, r.partition))
                if name.endswith(".parquet")
            )
            tot_before += int(r.files_before)
            tot_after += int(after)
            tot_rows += int(r.rows)
            rows.append(
                (
                    r.partition,
                    int(r.files_before),
                    int(after),
                    int(r.rows),
                    r.skipped or "compacted",
                    None,
                )
            )
        rows.append(
            (
                "__total__",
                tot_before,
                tot_after,
                tot_rows,
                f"rewrote {bytes_before} bytes in {elapsed:.2f}s",
                round(mb_per_s, 2),
            )
        )
        return spark.createDataFrame(
            rows,
            "partition string, files_before long, files_after long, "
            "n_rows long, status string, mb_per_s double",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------
# ingest_compact_lifecycle — the reference's WHOLE daemon loop
# (QHBaseCompact.java:135-195) as one verifiable pipeline: streaming
# ingest fragments the table, compaction rewrites it under the
# snapshot log, and the verified read proves nothing was lost.

_LC_STREAM_FILES = 8  # micro-batches; each commits one snapshot
_LC_SEED_MOD = 5      # event_id % 5 == 0 rows pre-exist (bootstrap)
_LC_BINS = 4          # compaction output files (z-ordered, prunable)


def lifecycle_root(spark: SparkSession, sf_dir: str) -> str:
    """Memoized end state of ingest -> fragmentation -> compaction ->
    stats: seed the table with the event_id % 5 == 0 slice (the
    pre-existing table the log bootstraps over), stream the remaining
    rows in as _LC_STREAM_FILES single-file micro-batches (one atomic
    snapshot commit each — the fragmentation the reference's daemon
    exists to fight), snapshot_compact the small files into _LC_BINS
    z-ordered-by-event_id files under the log (old versions stay
    readable), then annotate_stats so the compacted layout is
    file-prunable. The builder self-checks that compaction actually
    rewrote; everything downstream (file shrinkage, time travel
    across compaction, pruned reads) is asserted by the query and
    tests/test_snapshot_workloads.py."""
    from hbase_compact_spark.compaction.executor import _rm
    from hbase_compact_spark.compaction.snapshots import (
        annotate_stats,
        snapshot_compact,
    )
    from hbase_compact_spark.streaming.ingest import snapshot_ingest

    def _ready(lg) -> bool:
        if lg.latest() is None:
            return False
        ops = [lg.read(v).get("op", "") for v in lg.versions()]
        return (
            sum(op.startswith("append:batch=") for op in ops)
            >= _LC_STREAM_FILES
            and any(op == "compact" for op in ops)
            and any(op == "stats" for op in ops)
        )

    root, log, ok = _memo_root(
        spark, sf_dir, "lifecycle", _ready, src_table="events"
    )
    if ok:
        return root
    base = posixpath.dirname(root)
    # wipe a crashed attempt's stream checkpoint with the table: its
    # offsets would make Structured Streaming skip re-delivering
    # batches the wiped log never received
    _rm(spark, posixpath.join(base, "ckpt"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    seed = ev.filter(F.col("event_id") % _LC_SEED_MOD == 0)
    seed.coalesce(1).write.mode("overwrite").parquet(root)
    staging = posixpath.join(base, "staging")
    rest = ev.filter(F.col("event_id") % _LC_SEED_MOD != 0)
    rest.repartition(_LC_STREAM_FILES).write.mode("overwrite").parquet(
        staging
    )
    stream = (
        spark.readStream.schema(rest.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    q = snapshot_ingest(
        stream, root, checkpoint_dir=posixpath.join(base, "ckpt")
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("lifecycle ingest did not finish in 300 s")
    # bin target sized off the live total so the compacted layout is
    # _LC_BINS files at EVERY sf — multiple z-ordered output files is
    # what makes the stats-pruned read assertion non-vacuous
    total = sum(s for _, s in log.files(log.latest()))
    res = snapshot_compact(
        spark,
        root,
        target_bytes=max(1, total // _LC_BINS + 1),
        cluster_by=["event_id"],
    )
    if not res["rewritten"]:
        raise RuntimeError("lifecycle compaction rewrote nothing")
    annotate_stats(spark, root, cols=["event_id"])
    return root


@query(
    "ingest_compact_lifecycle",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def ingest_compact_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE daemon loop (QHBaseCompact.java:135-195)
    as one verifiable pipeline: transactional streaming ingest
    fragments the table into per-batch small files (the positional
    cursor's generalization, QHC.java:102-133), snapshot_compact
    rewrites them under the log (the majorCompact action, :167)
    z-ordered on event_id, annotate_stats publishes per-file min/max
    (the completion bookkeeping the reference polls for, :171-184),
    and the aggregate read out of the compacted latest version must
    equal the batch dual over `events` EXACTLY — ingest ->
    fragmentation -> compaction -> verified read. Before returning,
    the query re-derives from the log that the compact commit shrank
    the live file set; time travel across the compaction boundary and
    the stats-pruned point read are pinned in
    tests/test_snapshot_workloads.py."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        read_table_at,
    )

    root = lifecycle_root(spark, sf_dir)
    log = SnapshotLog(spark, root)
    versions = log.versions()
    ops = {v: log.read(v).get("op", "") for v in versions}
    compacts = [v for v in versions if ops[v] == "compact"]
    if len(compacts) != 1:
        raise RuntimeError(f"lifecycle wants exactly one compact: {ops}")
    v_compact = compacts[0]
    v_pre = max(v for v in versions if v < v_compact)
    files_pre = len(log.files(v_pre))
    files_post = len(log.files(v_compact))
    if files_post >= files_pre:
        raise RuntimeError(
            "compaction did not shrink the live file set: "
            f"{files_pre} -> {files_post}"
        )
    return (
        read_table_at(spark, root)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


# --------------------------------------------------------------------
# ivm_aggregate — incremental view maintenance from the change feed:
# maintain a downstream aggregate using ONLY the CDC deltas, never
# rescanning the table. The materialized-view-maintenance shape
# (Delta Live Tables / Materialize): view' = view ⊕ delta.
@query(
    "ivm_aggregate",
    oracle=f"""
    WITH post AS (
      SELECT o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey NOT BETWEEN {UPD_LO} AND {UPD_HI}
      UNION ALL
      SELECT 'U' AS o_orderstatus, o_totalprice + {UPD_BUMP}
        AS o_totalprice
      FROM orders WHERE o_orderkey BETWEEN {UPD_LO} AND {UPD_HI}
      UNION ALL
      SELECT 'I' AS o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey <= {INS_SRC_MAX}
    )
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE)
             AS total_price
    FROM post GROUP BY o_orderstatus
    """,
)
def ivm_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the snapshot log's change
    feed: a per-status (count, exact sum) view is computed at the
    PRE-merge version, then maintained to the post-merge state by
    applying only read_changes' delta rows — deletes retract
    (count -1, sum -price), inserts add — and the maintained result
    must hash-equal a fresh aggregate over the post-merge table
    (the oracle recomputes exactly that from the source). This is the
    reason a CDC feed exists: at 100 TB the downstream aggregate
    re-reads O(changed files), never O(table).

    Exactness: counts are integers; sums are maintained in
    DECIMAL(20,6) with sign-flipped retractions, so base + delta is
    EXACT decimal arithmetic — associativity is what makes the
    maintained view provably equal the recompute, which is precisely
    why float sums cannot back an IVM pipeline. Plan shape: base agg
    over the v_from snapshot scan, delta agg over changed files only,
    one |status|-cardinality outer join (AQE), no event-scale joins.

    Shares the merge materialization with snapshot_merge_scan /
    snapshot_cdc_scan; generalizes the reference's incremental
    rollup-after-compaction re-read (QHBaseCompact.java:219-255)."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        read_changes,
        read_table_at,
    )

    root = merge_scan_root(spark, sf_dir)
    log = SnapshotLog(spark, root)
    versions = log.versions()
    merge_v = max(v for v in versions if log.read(v).get("op") == "merge")
    from_v = max(v for v in versions if v < merge_v)

    price_dec = F.col("o_totalprice").cast("decimal(20,6)")
    base = (
        read_table_at(spark, root, version=from_v)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_base"),
            F.sum(price_dec).alias("s_base"),
        )
    )
    ch = read_changes(spark, root, from_v, merge_v)
    is_del = F.col("_change_type") == "delete"
    delta = ch.groupBy("o_orderstatus").agg(
        F.sum(F.when(is_del, F.lit(-1)).otherwise(F.lit(1))).alias(
            "n_delta"
        ),
        F.sum(F.when(is_del, -price_dec).otherwise(price_dec)).alias(
            "s_delta"
        ),
    )
    zero_n = F.lit(0).cast("long")
    maintained = (
        base.join(delta, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (
                F.coalesce("n_base", zero_n)
                + F.coalesce("n_delta", zero_n)
            ).alias("n_orders"),
            (
                F.coalesce(F.col("s_base"), F.lit(0).cast("decimal(30,6)"))
                + F.coalesce(
                    F.col("s_delta"), F.lit(0).cast("decimal(30,6)")
                )
            ).alias("s"),
        )
        .filter(F.col("n_orders") > 0)
    )
    return maintained.select(
        "o_orderstatus",
        "n_orders",
        F.col("s").cast("double").alias("total_price"),
    )


# --------------------------------------------------------------------
# snapshot_expire_scan — snapshot RETENTION: expire old versions and
# physically reclaim the data files only they referenced (Iceberg
# expire_snapshots / Delta VACUUM), then prove the surviving latest
# version still reads exactly right. Completes the table-format
# lifecycle: ingest → compact → read (ingest_compact_lifecycle) →
# EXPIRE.
EXP_MOD = 4  # staged subset: o_orderkey % EXP_MOD == 1


def _expire_base_root(spark: SparkSession, sf_dir: str) -> str:
    """Immutable memoized 3-version snapshot table: v1 bootstrap (4
    small files), v2 compaction rewrite (v1's files become dead
    weight the log still references), v3 append. Each
    snapshot_expire_scan run hardlink-copies this tree and expires
    the COPY — expire mutates, so the staged base must never be."""
    root, log, ok = _memo_root(
        spark, sf_dir, "expirebase", lambda lg: (lg.latest() or 0) >= 3
    )
    if ok:
        return root
    from hbase_compact_spark.compaction.snapshots import snapshot_compact

    orders = _orders_slim(spark, sf_dir)
    (
        orders.filter(F.col("o_orderkey") % EXP_MOD == 1)
        .filter(F.col("o_orderkey") % 10 != 3)
        .repartition(4)
        .write.mode("overwrite")
        .parquet(root)
    )
    log.bootstrap()  # v1: four small pre-compaction files
    snapshot_compact(spark, root)  # v2: rewritten files; v1's dead
    app_dir = posixpath.join(root, "append3")
    (
        orders.filter(F.col("o_orderkey") % EXP_MOD == 1)
        .filter(F.col("o_orderkey") % 10 == 3)
        .repartition(1)
        .write.mode("overwrite")
        .parquet(app_dir)
    )
    # EXPLICIT append commit (parent manifest ∪ added), NOT
    # commit_current: the COW compaction left v1's originals on disk
    # for time travel, and a directory re-listing would re-reference
    # them — duplicating rows in v3 and keeping the dead files live
    # forever (expire would then have nothing to reclaim)
    added = [
        (
            posixpath.join("append3", name),
            os.path.getsize(os.path.join(app_dir, name)),
        )
        for name in sorted(os.listdir(app_dir))
        if name.endswith(".parquet")
    ]
    log.commit_append(added, op="append", parent=2)  # v3
    return root


def _expire_working_copy(spark: SparkSession, sf_dir: str) -> str:
    """Hardlink-copy of the immutable base (data files shared,
    metadata JSONs copied so the copy's log is independent)."""
    import shutil
    import uuid

    base = _expire_base_root(spark, sf_dir)
    work = posixpath.join(
        tempfile.gettempdir(), f"hcs_expire_run_{uuid.uuid4().hex[:8]}"
    )
    for dirpath, _dirs, files in os.walk(base):
        rel = os.path.relpath(dirpath, base)
        dst_dir = work if rel == "." else posixpath.join(work, rel)
        os.makedirs(dst_dir, exist_ok=True)
        for name in files:
            src = os.path.join(dirpath, name)
            dst = posixpath.join(dst_dir, name)
            if name.endswith(".json"):
                shutil.copy2(src, dst)  # log/manifest: independent copy
            else:
                os.link(src, dst)  # data: shared, never mutated
    return work


@query(
    "snapshot_expire_scan",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey % {EXP_MOD} = 1
    """,
)
def snapshot_expire_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot retention end-to-end: on a fresh copy of a 3-version
    table (bootstrap → compaction rewrite → append), expire all but
    the last two versions — v1's pre-compaction data files are
    referenced by NO surviving snapshot and are physically deleted;
    the shared-by-reference and still-live files are untouched — then
    read the latest version, which must equal the full staged subset
    (the oracle). Generalizes the reference's fixed retention of
    exactly one generation per store file after major compaction
    (QHBaseCompact.java:167 + README dead-size accounting) into
    policy-driven snapshot retention.

    Scale shape: expire is METADATA work — live-set union over the
    kept manifests + a file-set difference, never a data scan; the
    deletes are O(dead files). The verifying read is the same pruned
    snapshot scan every other snapshot query uses. Books (expired
    count, deleted-file count, v1 unreadability, orphan-free tree)
    are pinned in tests/test_snapshot_workloads.py."""
    import shutil

    from hbase_compact_spark.compaction.snapshots import (
        expire_snapshots,
        read_table_at,
    )

    work = _expire_working_copy(spark, sf_dir)
    try:
        stats = expire_snapshots(spark, work, keep_last=2)
        assert stats["expired"] >= 1 and stats["deleted_files"] >= 1, stats
        # materialize before deleting the working copy (the lazy frame
        # would otherwise read files rmtree is about to remove) — the
        # compaction_execute cleanup discipline; without it every run
        # leaks an hcs_expire_run_* tree into /tmp for the session of
        # the machine
        return (
            read_table_at(spark, work)
            .select(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------
# Partition-spec evolution (Iceberg hidden partitioning).

_PE_MOD = 3  # event_id % _PE_MOD == 0 rows arrive AFTER the evolution


def _partevol_root(spark: SparkSession, sf_dir: str) -> str:
    """Immutable memoized 3-version table demonstrating metadata-only
    partition-spec evolution: v1 bootstraps an UNPARTITIONED events
    subset (two plain files), v2 = `evolve_partitioning` to
    spec(event_type) — zero data movement, same manifest — and v3
    appends the remaining rows through `append_partitioned`, which
    lands them under `_hp_event_type=<value>` directories while
    keeping event_type a real data column in the files (hidden
    partitioning). The mixed-layout table reads as one."""
    from hbase_compact_spark.compaction.snapshots import (
        append_partitioned,
        evolve_partitioning,
    )

    root, log, ok = _memo_root(
        spark, sf_dir, "partevol", lambda lg: (lg.latest() or 0) >= 3,
        src_table="events",
    )
    if ok:
        return root
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    legacy = ev.filter(F.col("event_id") % _PE_MOD != 0)
    legacy.repartition(2).write.mode("overwrite").parquet(root)
    log.bootstrap()  # v1: pre-evolution layout, no partitioning
    evolve_partitioning(spark, root, ["event_type"])  # v2: metadata only
    append_partitioned(
        spark, root, ev.filter(F.col("event_id") % _PE_MOD == 0)
    )  # v3: new-spec files
    return root


@query(
    "snapshot_partition_evolution",
    oracle=f"""
    SELECT event_type,
           CASE WHEN event_id % {_PE_MOD} = 0
                THEN 'evolved' ELSE 'legacy' END AS generation,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def snapshot_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution end-to-end: a table bootstrapped
    UNPARTITIONED evolves to partition-by-event_type METADATA-ONLY
    (`evolve_partitioning` — same manifest, zero bytes rewritten),
    new rows append under the new `_hp_event_type=` layout
    (`append_partitioned`), and the latest snapshot reads BOTH layout
    generations as one table. The result keys each row's generation
    off its physical FILE PATH (`input_file_name` containing the spec
    dir) while the oracle derives the same label from the staging
    rule (event_id % mod) — hash equality therefore proves the
    appended rows physically live under the evolved layout and hold
    exactly the expected subset, not just that the union adds up.

    Scale shape: evolution cost is one snapshot-JSON write at ANY
    table size (the Iceberg hidden-partitioning contract — spec
    columns stay data columns, so no rewrite); reads stay
    manifest-driven; `scan_plan` prunes new-generation files from the
    path value alone (pinned in tests/test_snapshot_workloads.py)
    while pre-evolution files keep stats-based pruning. Generalizes
    the reference's fixed region/family directory layout
    (QHBaseCompact.java:144-149) into a versioned layout the table
    can change mid-life."""
    from hbase_compact_spark.compaction.snapshots import (
        PARTITION_DIR_PREFIX,
        read_table_at,
    )

    root = _partevol_root(spark, sf_dir)
    df = read_table_at(spark, root)
    gen = (
        F.when(
            F.input_file_name().contains(
                f"/{PARTITION_DIR_PREFIX}event_type="
            ),
            F.lit("evolved"),
        )
        .otherwise(F.lit("legacy"))
        .alias("generation")
    )
    return df.groupBy("event_type", gen).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(20,6)"))
        .cast("double")
        .alias("sum_value"),
    )


@query(
    "snapshot_ref_read",
    oracle=f"""
    SELECT 'audit-preevolution' AS ref, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
    FROM events WHERE event_id % {_PE_MOD} != 0
    GROUP BY 2
    UNION ALL
    SELECT 'main' AS ref, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 2
    """,
)
def snapshot_ref_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named snapshot refs (Iceberg tags/branches): an immutable TAG
    pins the pre-evolution snapshot of the partevol table forever
    (expire_snapshots keeps a ref'd version's files alive at any
    retention setting — pinned in tests/test_snapshot_workloads.py)
    while the movable `main` BRANCH follows the latest version. The
    query reads the table AT EACH REF BY NAME and aggregates, so the
    hash compare proves name→version resolution serves exactly the
    right historical file set. Refs generalize the reference's
    convention of operating on "the current state of the table"
    (QHC.java:123-126) into named, durable state handles.

    Scale shape: a ref is one tiny JSON (tmp-write + rename, the
    version-commit discipline); resolution is one metadata read; the
    data path after resolution is the ordinary manifest-driven
    snapshot read."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        read_table_at,
    )

    root = _partevol_root(spark, sf_dir)
    log = SnapshotLog(spark, root)
    log.set_ref("audit-preevolution", 1, kind="tag")  # idempotent
    log.set_ref("main", log.latest(), kind="branch")

    def agg(df: DataFrame, ref: str) -> DataFrame:
        return df.groupBy(
            F.lit(ref).alias("ref"), F.col("event_type")
        ).agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)"))
            .cast("double")
            .alias("sum_value"),
        )

    return agg(
        read_table_at(spark, root, "audit-preevolution"),
        "audit-preevolution",
    ).unionByName(agg(read_table_at(spark, root, "main"), "main"))


# --------------------------------------------------------------------
# snapshot_transform_scan — hidden-partitioning TRANSFORMS (Iceberg
# days()/bucket() partition transforms, VERDICT r10 task 3): the spec
# derives the layout from a FUNCTION of a data column, readers prune
# from the path value alone, and the scan predicate stays on the raw
# column — the user never addresses the layout.
# Day window spanning the generation boundary (events span 2024-01-01
# .. 2024-01-30; the plain generation holds days < 16).
TR_SPLIT = "2024-01-16 00:00:00"
TR_LO = "2024-01-13 00:00:00"
TR_HI = "2024-01-20 00:00:00"


def transform_scan_root(spark: SparkSession, sf_dir: str) -> str:
    """Materialize `events` as a two-generation transform-spec table:
    v1 bootstraps the first half (ts < TR_SPLIT) as plain files, v2 =
    `evolve_partitioning(["days(ts)", "bucket(4, user_id)"])` —
    metadata only — and v3 appends the second half, which lands under
    `_hp_ts_day=yyyy-MM-dd/_hp_user_id_bucket4=<b>` directories
    (day value = UTC date cast, bucket = crc32(str(user_id)) % 4 —
    the same function the driver-side pruner computes). At 100 TB
    this is the ingest-time layout for a time-series table: every
    daily query opens one day dir per spec generation, and a per-user
    drill-down opens 1/4 of it, with zero stats annotation."""
    from hbase_compact_spark.compaction.snapshots import (
        append_partitioned,
        evolve_partitioning,
        parse_partition_field,
        partition_spec_of,
    )

    def _ready(lg) -> bool:
        if (lg.latest() or 0) < 3:
            return False
        spec = partition_spec_of(lg)
        return bool(spec) and spec["partition_by"] == [
            "days(ts)",
            "bucket(4, user_id)",
        ]

    root, log, ok = _memo_root(
        spark, sf_dir, "transform_scan", _ready, src_table="events"
    )
    if ok:
        return root
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    split = F.to_timestamp(F.lit(TR_SPLIT))
    ev.filter(F.col("ts") < split).repartition(2).write.mode(
        "overwrite"
    ).parquet(root)
    log.bootstrap()  # v1: plain pre-transform layout
    evolve_partitioning(
        spark, root, ["days(ts)", "bucket(4, user_id)"]
    )  # v2: metadata only
    append_partitioned(spark, root, ev.filter(F.col("ts") >= split))  # v3
    # the builder asserts the layout contract on every materialization
    fld = parse_partition_field("days(ts)")
    spec_files = [
        p for p, _ in log.files(log.latest()) if "_hp_ts_day=" in p
    ]
    if not spec_files or not all(
        "_hp_user_id_bucket4=" in p for p in spec_files
    ):
        raise RuntimeError("transform append landed outside the spec layout")
    days = {p.split("_hp_ts_day=", 1)[1][:10] for p in spec_files}
    if min(days) < "2024-01-16" and fld.transform == "days":
        raise RuntimeError(f"plain-generation day leaked into the spec: {days}")
    return root


@query(
    "snapshot_transform_scan",
    oracle=f"""
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           CAST(sum(CAST(value AS DECIMAL(20,6)))
                OVER (PARTITION BY 1) AS DOUBLE) AS window_sum
    FROM events
    WHERE ts BETWEEN TIMESTAMP '{TR_LO}' AND TIMESTAMP '{TR_HI}'
    """,
)
def snapshot_transform_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range scan over the transform-spec table: the predicate is on
    the RAW ts column, `scan_plan` derives its `_hp_ts_day` twin, and
    only the in-window day dirs (plus the stats-free plain
    generation, conservatively kept) are opened — pruning pinned in
    tests/test_snapshot_workloads.py, dir-open accounting in the
    fixture builder. Oracle = the same window filtered from the full
    table, with a total-sum witness column proving no row was lost to
    pruning. Generalizes the reference's time-window gate
    (QHBaseCompact.java:48-60) from \"when may I run\" to \"which
    files may I read\"."""
    import datetime

    from hbase_compact_spark.compaction.snapshots import read_table_where

    root = transform_scan_root(spark, sf_dir)
    lo = datetime.datetime.fromisoformat(TR_LO)
    hi = datetime.datetime.fromisoformat(TR_HI)
    got = read_table_where(spark, root, {"ts": (lo, hi)})
    # the grand-total witness is a 1-row partial-then-final aggregate
    # broadcast back onto every row (the decay_hotness pattern) — a
    # Window.partitionBy(lit(1)) would funnel the ENTIRE pruned slice
    # through one task (Exchange SinglePartition), the exact
    # scale-killer the rest of the tree eliminates (VERDICT r11)
    total = got.agg(
        F.sum(F.col("value").cast("decimal(20,6)"))
        .cast("double")
        .alias("window_sum")
    )
    return got.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    ).crossJoin(F.broadcast(total))


# --------------------------------------------------------------------
# snapshot_files_meta / snapshot_partitions_meta — the remaining two
# Iceberg METADATA TABLES a 100 TB operator actually queries
# (`table$files`, `table$partitions`; VERDICT r10 task 5): per-file
# stats and pending-delete flags, and the per-partition rollup, all
# from ONE manifest scan — zero data files opened (inputFiles pinned
# in tests/test_snapshot_workloads.py).
FM_KEY = 42        # equality-delete key; lives in rng=0 at every sf
FM_RANGES = 4      # top-level range dirs
_FM_TAG = "files_meta"


def files_meta_root(spark: SparkSession, sf_dir: str) -> str:
    """Materialize `orders` in a DETERMINISTIC layout the oracle can
    reconstruct in SQL: hive dirs `rng=<0..3>` (rng = floor(4 *
    o_orderkey / (max+1)), IEEE-identical in Spark and DuckDB) with
    exactly TWO files per dir (one per o_orderkey parity — two
    single-task writes), stats-annotated on o_orderkey, then ONE
    equality delete of key FM_KEY whose stats-probed scope is exactly
    the two rng=0 files (every other dir's min exceeds the key). The
    builder asserts the 2-files-per-dir layout and the 2-file scope."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        annotate_stats,
        snapshot_delete_by_key,
    )

    def _ready(lg) -> bool:
        v = lg.latest()
        return (
            v is not None
            and lg.read(v).get("op") == "mor_delete_eq"
            and bool(lg.delete_files(v))
        )

    root, log, ok = _memo_root(spark, sf_dir, _FM_TAG, _ready)
    if ok:
        return root
    orders = _orders_slim(spark, sf_dir)
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    if not (FM_RANGES * FM_KEY) / mx < 1.0:
        raise RuntimeError(f"FM_KEY {FM_KEY} does not land in rng=0 (max+1={mx})")
    aug = orders.withColumn(
        "rng",
        F.floor(F.lit(float(FM_RANGES)) * F.col("o_orderkey") / F.lit(float(mx)))
        .cast("long"),
    )
    for par in (0, 1):
        (
            aug.filter(F.col("o_orderkey") % 2 == par)
            .coalesce(1)
            .write.mode("append" if par else "overwrite")
            .partitionBy("rng")
            .parquet(root)
        )
    log.bootstrap()
    annotate_stats(spark, root, cols=["o_orderkey"])
    by_dir: dict[str, int] = {}
    for p, _ in log.files(log.latest()):
        by_dir[posixpath.dirname(p)] = by_dir.get(posixpath.dirname(p), 0) + 1
    if sorted(by_dir) != [f"rng={r}" for r in range(FM_RANGES)] or set(
        by_dir.values()
    ) != {2}:
        raise RuntimeError(f"files_meta layout drifted: {by_dir}")
    res = snapshot_delete_by_key(
        spark, root, spark.createDataFrame([(FM_KEY,)], "o_orderkey long")
    )
    scope = spark.read.parquet(
        posixpath.join(
            log.deletes_dir, log.delete_files(log.latest())[0][0], "scope"
        )
    )
    scoped = sorted(r["relpath"] for r in scope.collect())
    if len(scoped) != 2 or not all(p.startswith("rng=0/") for p in scoped):
        raise RuntimeError(
            f"eq scope must be exactly the two rng=0 files, got {scoped}"
        )
    assert res["deleted_keys"] == 1
    return root


_FM_ORACLE_CTE = f"""
    WITH m AS (SELECT max(o_orderkey) + 1 AS mx FROM orders),
    f AS (SELECT CAST(FLOOR({float(FM_RANGES)} * o_orderkey / mx) AS BIGINT)
                     AS rng,
                 o_orderkey % 2 AS par, o_orderkey
          FROM orders, m)
"""


@query(
    "snapshot_files_meta",
    oracle=_FM_ORACLE_CTE
    + """
    SELECT 'rng=' || CAST(rng AS VARCHAR) AS part_dir,
           CAST(count(*) AS BIGINT) AS row_count,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key,
           rng = 0 AS eq_pending
    FROM f GROUP BY rng, par
    """,
)
def snapshot_files_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`table$files` over the deterministic-layout fixture: one row
    per data file with its partition dir, recorded row count, the
    o_orderkey [min, max] from the manifest stats payload, and the
    equality-pending flag (TRUE exactly for the two rng=0 files the
    FM_KEY delete scoped). The oracle reconstructs every column from
    the data because the layout rule (rng × parity) is pure SQL — so
    a hash match proves the MANIFEST's metadata agrees row-for-row
    with ground truth, without the query opening one data file.
    Generalizes the reference's table-descriptor/stats report
    (QHBaseCompact.java:219-270) from a log line to a queryable
    relation."""
    from hbase_compact_spark.compaction.snapshots import table_files_meta

    root = files_meta_root(spark, sf_dir)
    return table_files_meta(spark, root).select(
        "part_dir",
        "row_count",
        F.get_json_object("stats_json", "$.cols.o_orderkey[0]")
        .cast("long")
        .alias("min_key"),
        F.get_json_object("stats_json", "$.cols.o_orderkey[1]")
        .cast("long")
        .alias("max_key"),
        "eq_pending",
    )


@query(
    "snapshot_partitions_meta",
    oracle=_FM_ORACLE_CTE
    + """
    SELECT 'rng=' || CAST(rng AS VARCHAR) AS part_dir,
           CAST(count(DISTINCT par) AS BIGINT) AS n_files,
           CAST(count(*) AS BIGINT) AS row_count,
           CAST(CASE WHEN rng = 0 THEN 2 ELSE 0 END AS BIGINT)
               AS n_eq_pending_files,
           CAST(0 AS BIGINT) AS n_pos_pending_files
    FROM f GROUP BY rng
    """,
)
def snapshot_partitions_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`table$partitions` over the same fixture: per-partition file
    count, recorded row total, and pending-delete file counts — the
    rollup an operator scans to find which partitions owe a MOR
    rewrite. byte totals are real but environment-dependent, so the
    hashed surface carries the invariant columns; total_bytes > 0 is
    pinned test-side."""
    from hbase_compact_spark.compaction.snapshots import (
        table_partitions_meta,
    )

    root = files_meta_root(spark, sf_dir)
    return table_partitions_meta(spark, root).select(
        "part_dir",
        "n_files",
        "row_count",
        "n_eq_pending_files",
        "n_pos_pending_files",
    )


# --------------------------------------------------------------------
# snapshot_sorted_scan — declared write-path SORT ORDER (VERDICT r10
# stretch task surfaced as a query): appends through a table whose
# sort order is declared arrive range-clustered + sorted, so a
# range predicate on the sort column prunes files from stats alone.
# o_custkey window: low keys exist at EVERY sf (sf0.001 tops out
# near 150), and the window stays a small fraction of the domain at
# bench scale so pruning has something to drop
SO_LO, SO_HI = 40, 79


def sorted_scan_root(spark: SparkSession, sf_dir: str) -> str:
    """Materialize `orders` as a sort-ordered table: a small plain
    seed (o_orderkey % 7 == 0) bootstraps v1, `set_sort_order
    (["o_custkey"])` declares the order (metadata-only), the
    remaining rows land through `append_partitioned` — range-
    clustered into disjoint per-file o_custkey ranges BY THE DECLARED
    ORDER, no explicit layout work at the call site — and
    `annotate_stats` records the (now tight) per-file ranges. The
    builder asserts the landed files' stats ranges are mutually
    disjoint and that the window predicate prunes most of them."""
    from hbase_compact_spark.compaction.snapshots import (
        annotate_stats,
        scan_plan,
        set_sort_order,
        sort_order_of,
    )

    def _ready(lg) -> bool:
        return (lg.latest() or 0) >= 4 and bool(
            sort_order_of(lg)
        ) and bool(lg.stats())

    root, log, ok = _memo_root(spark, sf_dir, "sorted_scan", _ready)
    if ok:
        return root
    orders = _orders_slim(spark, sf_dir)
    orders.filter(F.col("o_orderkey") % 7 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(root)
    log.bootstrap()  # v1
    set_sort_order(spark, root, ["o_custkey"])  # v2: metadata only
    from hbase_compact_spark.compaction.snapshots import append_partitioned

    append_partitioned(
        spark, root, orders.filter(F.col("o_orderkey") % 7 != 0)
    )  # v3: lands range-clustered by the declared order
    annotate_stats(spark, root, cols=["o_custkey"])  # v4
    # layout contract: appended files carry DISJOINT o_custkey ranges
    stats = log.stats()
    appended = [
        (p, stats[p]["cols"]["o_custkey"])
        for p, _ in log.files()
        if p.startswith("append-") and p in stats
    ]
    if len(appended) < 2:
        raise RuntimeError(f"sorted append landed {len(appended)} files")
    ranges = sorted(rng for _, rng in appended)
    for (_, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        if hi_a > lo_b:
            raise RuntimeError(f"sorted append ranges overlap: {ranges}")
    plan = scan_plan(spark, root, {"o_custkey": (SO_LO, SO_HI)})
    if plan["pruned_files"] < len(appended) // 2:
        raise RuntimeError(
            f"sorted layout should prune most appended files: {plan}"
        )
    return root


@query(
    "snapshot_sorted_scan",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_custkey BETWEEN {SO_LO} AND {SO_HI}
    """,
)
def snapshot_sorted_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range scan over the sort-ordered table: the caller never laid
    out anything — the DECLARED order (set_sort_order) shaped every
    append, so the o_custkey window reads only the stats-surviving
    file slice plus the unsorted seed (conservatively kept). The
    always-on 1-D sibling of snapshot_zorder_scan's explicit rewrite:
    there clustering is a compaction action, here it is a table
    property every writer honors. Oracle = the same window over the
    full table."""
    from hbase_compact_spark.compaction.snapshots import read_table_where

    root = sorted_scan_root(spark, sf_dir)
    return read_table_where(
        spark, root, {"o_custkey": (SO_LO, SO_HI)}
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


# --------------------------------------------------------------------
# snapshot_merge_full — the FULL MERGE clause matrix (VERDICT r11 task
# 4): conditional matched UPDATE/DELETE, NOT MATCHED INSERT, and the
# GDPR/retention clause WHEN NOT MATCHED BY SOURCE THEN DELETE, all in
# one atomic commit. Clause arithmetic is pure key modulo so the
# DuckDB dual can re-derive every branch.
MF_DEL_MOD = 12        # matched keys % 12 == 0 -> source status 'X' -> DELETE
MF_UPD_RES = 6         # keys % 24 == 6 -> source price higher -> UPDATE fires
MF_CARRY_RES = 18      # keys % 24 == 18 -> source price lower -> carry
MF_RETENTION_HI = 999  # NOT MATCHED BY SOURCE AND key <= this -> DELETE
MF_INS_MAX = 14        # template keys 0..14 -> 15 inserts
MF_INS_OFFSET = 20_000_000
MF_BUMP = 50_000.0


def merge_full_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic full-MERGE source from `orders` itself: one row
    per key with o_orderkey % 6 == 0 (status 'X' for the delete
    residues, price +MF_BUMP for the update residues, price -50 for
    the carry residues — the update condition is then false), plus
    offset-shifted INSERT rows templated from keys <= MF_INS_MAX."""
    orders = _orders_slim(spark, sf_dir)
    matched = orders.filter(F.col("o_orderkey") % 6 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % MF_DEL_MOD == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(
            F.col("o_orderkey") % 24 == MF_UPD_RES,
            F.col("o_totalprice") + F.lit(MF_BUMP),
        )
        .otherwise(F.col("o_totalprice") - F.lit(50.0))
        .alias("o_totalprice"),
    )
    inserts = orders.filter(F.col("o_orderkey") <= MF_INS_MAX).select(
        (F.col("o_orderkey") + F.lit(MF_INS_OFFSET)).alias("o_orderkey"),
        "o_custkey",
        F.lit("I").alias("o_orderstatus"),
        "o_totalprice",
    )
    return matched.unionByName(inserts)


def merge_full_root(spark: SparkSession, sf_dir: str) -> str:
    """Materialize `orders` range-partitioned into 8 stats-annotated
    files, then apply ONE snapshot_merge_full with every clause armed.
    All four clause counters must be non-vacuous or the staging
    raises (a silently-empty branch would make the oracle compare
    prove nothing)."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        annotate_stats,
        snapshot_merge_full,
    )

    def _ready(lg: SnapshotLog) -> bool:
        v = lg.latest()
        return v is not None and lg.read(v).get("op") == "merge"

    root, log, ok = _memo_root(spark, sf_dir, "merge_full", _ready)
    if ok:
        return root
    (
        _orders_slim(spark, sf_dir)
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(root)
    )
    annotate_stats(spark, root, cols=["o_orderkey"])
    res = snapshot_merge_full(
        spark,
        root,
        merge_full_source(spark, sf_dir),
        ["o_orderkey"],
        update_set={"o_totalprice": "__src_o_totalprice"},
        update_condition="__src_o_totalprice > o_totalprice",
        delete_condition="__src_o_orderstatus = 'X'",
        unmatched_delete_predicates={
            "o_orderkey": (None, MF_RETENTION_HI)
        },
    )
    if not all(
        res[k] > 0
        for k in ("updated", "deleted_matched", "deleted_unmatched", "inserted")
    ):
        raise RuntimeError(f"vacuous full merge: {res}")
    return root


@query(
    "snapshot_merge_full",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 24 = {MF_UPD_RES}
                THEN o_totalprice + {MF_BUMP}
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE NOT (o_orderkey % {MF_DEL_MOD} = 0)
      AND NOT (o_orderkey % 6 <> 0 AND o_orderkey <= {MF_RETENTION_HI})
    UNION ALL
    SELECT o_orderkey + {MF_INS_OFFSET} AS o_orderkey, o_custkey,
           'I' AS o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= {MF_INS_MAX}
    """,
)
def snapshot_merge_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the table AFTER one full-clause-matrix MERGE
    (compaction/snapshots.py:snapshot_merge_full): matched rows with
    source status 'X' deleted, matched rows whose source price is
    higher updated to it, matched rows with a LOWER source price
    carried untouched (the conditional branch a plain upsert cannot
    express), unmatched-by-source rows inside the retention window
    deleted, new keys inserted — one atomic commit, candidates
    narrowed by stats key-probe ∪ retention-predicate scan_plan.
    Oracle = the clause matrix as CASE/WHERE arithmetic over
    `orders`; any branch misfiring (wrong clause order, update firing
    on the carry residue, a BY-SOURCE delete hitting a matched row)
    shifts rows and fails the hash. Generalizes the reference's
    replace-then-insert daemon loop (QHBaseCompact.java:144-167) to
    the conditional row-lifecycle a 100 TB table runs weekly."""
    from hbase_compact_spark.compaction.snapshots import read_table_at

    root = merge_full_root(spark, sf_dir)
    return read_table_at(spark, root).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


# --------------------------------------------------------------------
# snapshot_manifests_meta — the `table$manifests` metadata table over
# a SHARDED manifest (shard_manifest, the r12 two-level layer): one
# row per manifest shard with its recorded key bounds and file count.
# r13: the shard sampler is content-keyed (two-phase ntile over the
# recorded stats, deterministic names) and the fixture slices the key
# domain arithmetically, so shard names AND bounds are SQL-derivable
# — the query graduated from rows-only to oracle-checked.
_MM_TAG = "manifests_meta2"
_MM_FILES = 8
_MM_SHARDS = 4


def manifests_meta_root(spark: SparkSession, sf_dir: str) -> str:
    """orders split into ``_MM_FILES`` files by EQUAL-WIDTH key
    slices (file i = keys in [i*W, (i+1)*W), W = ceil((max+1)/8) —
    arithmetic the oracle reproduces), stats-annotated, manifest
    re-encoded as ``_MM_SHARDS`` deterministic bound-recorded
    shards."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        annotate_stats,
        shard_manifest,
    )

    def _ready(lg: SnapshotLog) -> bool:
        v = lg.latest()
        if v is None or lg.read(v).get("op") != "shard-manifest":
            return False
        sh = lg.read(v).get("manifest_shards") or {}
        return bool(sh) and all(
            p.startswith("shard-") for p in sh.get("parts", {})
        )

    root, log, ok = _memo_root(spark, sf_dir, _MM_TAG, _ready)
    if ok:
        return root
    orders = _orders_slim(spark, sf_dir)
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    width = (mx + _MM_FILES) // _MM_FILES  # == ceil((mx+1)/_MM_FILES)
    first = True
    for i in range(_MM_FILES):
        sl = orders.filter(
            (F.col("o_orderkey") >= i * width)
            & (F.col("o_orderkey") < (i + 1) * width)
        )
        if not sl.limit(1).count():
            continue  # an empty key slice writes no file
        sl.coalesce(1).write.mode(
            "overwrite" if first else "append"
        ).parquet(root)
        first = False
    SnapshotLog(spark, root).bootstrap()
    annotate_stats(spark, root, cols=["o_orderkey"])
    shard_manifest(spark, root, "o_orderkey", shards=_MM_SHARDS)
    return root


@query(
    "snapshot_manifests_meta",
    oracle=f"""
    WITH w AS (
      SELECT CAST(CEIL((MAX(o_orderkey) + 1) / {_MM_FILES}.0) AS BIGINT)
             AS fw
      FROM orders
    ),
    f AS (
      SELECT o_orderkey // fw AS fid,
             MIN(o_orderkey) AS flo, MAX(o_orderkey) AS fhi
      FROM orders, w GROUP BY 1
    ),
    s AS (
      SELECT flo, fhi, NTILE({_MM_SHARDS}) OVER (ORDER BY flo) AS sh
      FROM f
    )
    SELECT printf('shard-%05d.parquet', sh - 1) AS part,
           'o_orderkey' AS shard_by,
           MIN(flo) AS lo, MAX(fhi) AS hi,
           FALSE AS always_kept,
           COUNT(*) AS n_files
    FROM s GROUP BY sh
    """,
)
def snapshot_manifests_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`table$manifests` over the two-level metadata layer
    (shard_manifest): one row per manifest shard — name, shard key
    bounds, file count, always-kept flag — the operator view of WHICH
    shards a predicate would open. Planning for this table is
    O(shards) driver work off the version JSON; zero data files
    opened. The r13 content-keyed sharder (two-phase ntile over the
    recorded per-file stats, deterministic `shard-<k>` names) makes
    every output column derivable from the fixture's key arithmetic,
    so the oracle hash now pins the whole two-level index — names,
    bounds, tiling, counts. Completes the metadata-table family
    (table$files / table$partitions / table$history /
    table$manifests) the way Iceberg exposes it."""
    from hbase_compact_spark.compaction.snapshots import (
        table_manifests_meta,
    )

    root = manifests_meta_root(spark, sf_dir)
    df = table_manifests_meta(spark, root)
    return df.select(
        "part",
        "shard_by",
        F.col("bound_lo").cast("long").alias("lo"),
        F.col("bound_hi").cast("long").alias("hi"),
        "always_kept",
        F.col("n_files").cast("long").alias("n_files"),
    ).orderBy("lo")


# --------------------------------------------------------------------
# snapshot_sql_read — the batch DataSource-V2 front door (VERDICT r12
# task 1): plain Spark SQL over a snapshot-logged table through
# `CREATE TEMPORARY VIEW ... USING snapshot_table`, with stats pruning
# driven by Spark's own filter pushdown and time travel via the
# version/ref reader options.
SQLR_MOD = 3                 # v1 holds the non-multiple keys only
SQLR_LO, SQLR_HI = 500, 2499  # pushed predicate (prunes files by stats)


def sql_read_root(spark: SparkSession, sf_dir: str) -> str:
    """orders as a FOUR-version logged table: v1 = the non-multiple
    o_orderkey rows (8 range files), v2 = stats annotation (tagged
    `stats`), v3 = the multiples appended, v4 = re-annotation so the
    LATEST read prunes too."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        annotate_stats,
    )

    def _ready(lg: SnapshotLog) -> bool:
        return (
            (lg.latest() or 0) >= 4
            and "stats" in lg.refs()
            and bool(lg.stats())
        )

    root, log, ok = _memo_root(spark, sf_dir, "sql_read", _ready)
    if ok:
        return root
    orders = _orders_slim(spark, sf_dir)
    (
        orders.filter(F.col("o_orderkey") % SQLR_MOD != 0)
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(root)
    )
    log.bootstrap()                                   # v1
    annotate_stats(spark, root, cols=["o_orderkey"])  # v2
    log.set_ref("stats", 2, kind="tag")
    (
        orders.filter(F.col("o_orderkey") % SQLR_MOD == 0)
        .repartition(2)
        .write.mode("overwrite")
        .parquet(posixpath.join(root, "append2"))
    )
    log.commit_current(op="append", parent=2)         # v3
    annotate_stats(spark, root, cols=["o_orderkey"])  # v4
    return root


@query(
    "snapshot_sql_read",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           'ref' AS src
    FROM orders
    WHERE o_orderkey % {SQLR_MOD} <> 0
      AND o_orderkey BETWEEN {SQLR_LO} AND {SQLR_HI}
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           'version' AS src
    FROM orders
    WHERE o_orderkey BETWEEN {SQLR_LO} AND {SQLR_HI}
    """,
)
def snapshot_sql_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain `spark.sql` over a snapshot-logged table through the
    batch DataSource-V2 format (sources/snapshot_table.py): two
    temporary views — one pinned to the tag `stats` (pre-append
    state) via the `ref` option, one pinned to the latest version
    NUMBER via the `version` option — each range-filtered in SQL, so
    the WHERE clause reaches scan_plan through Spark's Python
    data-source filter pushdown and provably-disjoint files never
    enter the scan (plan pins in tests/test_snapshot_table.py,
    including the sharded-manifest open discipline). Results must
    equal the arithmetic oracle exactly: the ref view sees only the
    pre-append (non-multiple) rows, the version view everything."""
    from hbase_compact_spark.compaction.snapshots import SnapshotLog
    from hbase_compact_spark.sources.snapshot_table import register

    root = sql_read_root(spark, sf_dir)
    register(spark)
    latest = SnapshotLog(spark, root).latest()
    import uuid as _uuid

    # fresh pushdown_scan_token per view: each serves exactly ONE
    # filter shape below, so file pruning is safe to arm (see
    # SnapshotTableReader.pushFilters — pruning is opt-in since r14)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW snap_sql_ref "
        f"USING snapshot_table OPTIONS (path '{root}', ref 'stats', "
        f"pushdown_scan_token 'sqlr-{_uuid.uuid4().hex}')"
    )
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW snap_sql_latest "
        f"USING snapshot_table OPTIONS (path '{root}', version '{latest}', "
        f"pushdown_scan_token 'sqlr-{_uuid.uuid4().hex}')"
    )
    return spark.sql(
        f"""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               'ref' AS src
        FROM snap_sql_ref
        WHERE o_orderkey BETWEEN {SQLR_LO} AND {SQLR_HI}
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               'version' AS src
        FROM snap_sql_latest
        WHERE o_orderkey BETWEEN {SQLR_LO} AND {SQLR_HI}
        """
    )


# --------------------------------------------------------------------
# snapshot_sql_write — the SQL WRITE front door (VERDICT r13 task 1):
# INSERT INTO / INSERT OVERWRITE through the snapshot_table
# DataSource writer (sources/snapshot_table.py:SnapshotTableWriter),
# each statement = ONE atomic snapshot commit performed by a Python
# worker with no SparkSession (SnapshotLog(None, root).commit). Generalizes
# the reference's write/commit semantics (QHBaseCompact.java:102-115
# checkpoint persistence, :167 the compaction's atomic mutation) to
# plain Spark SQL: a user who can type INSERT can mutate a logged
# table with full conflict detection and time travel over the result.
SQLW_MOD = 4                  # v1 bootstrap holds the non-multiples
SQLW_OVR_MOD = 10             # INSERT OVERWRITE payload
SQLW_LO, SQLW_HI = 200, 2199  # pushed predicate on the append read


def sql_write_root(spark: SparkSession, sf_dir: str) -> str:
    """orders as a FIVE-version logged table mutated through SQL:
    v1 = helper bootstrap of the non-multiple-of-4 keys (4 range
    files), v2 = partition-spec evolution (`o_orderstatus` identity +
    `bucket(8, o_custkey)` — the transform keeps keys OFF the
    physical path value, the snapshot_partition_evolution trick),
    v3 = declared sort order on o_orderkey, v4 = SQL `INSERT INTO`
    lands the multiples — which must now arrive `_hp_`-laid-out,
    sorted, with executor-computed min/max stats (layout parity with
    append_partitioned, VERDICT r14 task 2), v5 = SQL
    `INSERT OVERWRITE` replaces the table with the %10==0 slice
    (pending state dropped with the files). Both mutations go
    through the registered temporary view — the same front door a
    SQL-first user has."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        evolve_partitioning,
        set_sort_order,
    )
    from hbase_compact_spark.sources.snapshot_table import register

    def _ready(lg: SnapshotLog) -> bool:
        if (lg.latest() or 0) < 5:
            return False
        return (
            lg.read(4).get("op") == "append"
            and lg.read(5).get("op") == "overwrite"
        )

    root, log, ok = _memo_root(spark, sf_dir, "sql_write", _ready)
    if ok:
        return root
    orders = _orders_slim(spark, sf_dir)
    (
        orders.filter(F.col("o_orderkey") % SQLW_MOD != 0)
        .repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(root)
    )
    log.bootstrap()                                   # v1
    evolve_partitioning(
        spark, root, ["o_orderstatus", "bucket(8, o_custkey)"]
    )                                                 # v2
    set_sort_order(spark, root, ["o_orderkey"])       # v3
    register(spark)
    orders.createOrReplaceTempView("sqlw_src")
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW snap_sqlw "
        f"USING snapshot_table OPTIONS (path '{root}')"
    )
    spark.sql(
        f"""
        INSERT INTO snap_sqlw
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM sqlw_src WHERE o_orderkey % {SQLW_MOD} = 0
        """
    )                                                 # v4
    spark.sql(
        f"""
        INSERT OVERWRITE snap_sqlw
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM sqlw_src WHERE o_orderkey % {SQLW_OVR_MOD} = 0
        """
    )                                                 # v5
    return root


@query(
    "snapshot_sql_write",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           'append' AS src
    FROM orders
    WHERE o_orderkey BETWEEN {SQLW_LO} AND {SQLW_HI}
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           'overwrite' AS src
    FROM orders
    WHERE o_orderkey % {SQLW_OVR_MOD} = 0
    """,
)
def snapshot_sql_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL INSERT INTO + INSERT OVERWRITE against a snapshot-logged
    table with a DECLARED partition spec + sort order, read back
    through version-pinned views: v4 (after the append) must equal
    the FULL orders slice — the SQL-landed files union the flat
    bootstrap files seamlessly even though they land `_hp_`-laid-out
    (o_orderstatus identity + bucket(8, o_custkey)) and sorted, and
    the BETWEEN predicate prunes them through their
    executor-computed stats — and v5 (after the overwrite) must be
    exactly the overwrite payload. Layout pins (files under `_hp_`
    dirs, path-only pruning, within-file sort) live in
    tests/test_snapshot_table.py. Views are (re)created after the
    writes because a `USING` temp view pins its planned scan at
    first read (Spark refresh semantics — same class as REFRESH
    TABLE for parquet; pinned in tests/test_snapshot_table.py)."""
    from hbase_compact_spark.sources.snapshot_table import register

    root = sql_write_root(spark, sf_dir)
    register(spark)
    import uuid as _uuid

    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW snap_sqlw_v4 "
        f"USING snapshot_table OPTIONS (path '{root}', version '4', "
        f"pushdown_scan_token 'sqlw-{_uuid.uuid4().hex}')"
    )
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW snap_sqlw_v5 "
        f"USING snapshot_table OPTIONS (path '{root}', version '5')"
    )
    return spark.sql(
        f"""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               'append' AS src
        FROM snap_sqlw_v4
        WHERE o_orderkey BETWEEN {SQLW_LO} AND {SQLW_HI}
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               'overwrite' AS src
        FROM snap_sqlw_v5
        """
    )


# --------------------------------------------------------------------
# snapshot_sql_merge — the SQL row-level MUTATION front door (VERDICT
# r14 task 3): DELETE FROM / UPDATE / MERGE INTO statement text routed
# through sources/sql_router.py:snapshot_sql to the transactional
# helpers (snapshot_delete / snapshot_update / snapshot_merge_full) —
# one atomic commit per statement, serializable rebase preserved,
# views auto-refreshed. The router parses the parseable conjuncts
# into scan_plan pruning predicates and hands the FULL condition to
# the helper as the exact match expression, so arbitrary SQL WHERE
# clauses stay exact while pruning stays stats-driven. Generalizes
# the reference's one mutating statement (QHBaseCompact.java:167) to
# the full SQL mutation surface.
SQLM_DEL_MOD = 7          # DELETE FROM ... WHERE k % 7 = 0
SQLM_SRC_MOD = 3          # MERGE source: every 3rd key of its range
SQLM_BUMP = 100000.0      # source price bump (always wins the update)
# key bounds scale with the fixture (keys are dense 0..N-1): the
# UPDATE covers keys below max/6, the MERGE source spans
# [max/10, max/4], the retention delete hits keys >= max*9/10 —
# same integer arithmetic in the oracle's scalar subquery
def _sqlm_bounds(mx: int) -> tuple[int, int, int, int]:
    return mx // 6, mx // 10, mx // 4, mx * 9 // 10


def sql_merge_root(spark: SparkSession, sf_dir: str) -> str:
    """orders mutated through THREE routed SQL statements: a
    modulo-condition DELETE (unparseable conjunct — exercises the
    exact-condition path with an empty pruning dict), a mixed
    conjunction UPDATE (equality conjunct prunes, strict `<` keeps
    the exact condition), and a MERGE INTO with every clause armed
    (matched-DELETE on 'P' rows, conditional matched-UPDATE to the
    bumped source price, INSERT * of keys the first DELETE removed,
    NOT MATCHED BY SOURCE retention delete). Every statement's
    row counters must be non-vacuous or staging raises."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        annotate_stats,
    )
    from hbase_compact_spark.sources.sql_router import (
        create_snapshot_view,
        snapshot_sql,
    )

    def _ready(lg: SnapshotLog) -> bool:
        v = lg.latest()
        return (
            v is not None
            and v >= 5
            and lg.read(v).get("op") == "merge"
        )

    root, log, ok = _memo_root(spark, sf_dir, "sql_merge2", _ready)
    if ok:
        return root
    orders = _orders_slim(spark, sf_dir)
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    upd_hi, src_lo, src_hi, nmbs_lo = _sqlm_bounds(mx)
    (
        orders.repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(root)
    )
    SnapshotLog(spark, root).bootstrap()                      # v1
    annotate_stats(spark, root, cols=["o_orderkey"])          # v2
    create_snapshot_view(spark, "snap_sqlm", root)
    r1 = snapshot_sql(
        spark,
        f"DELETE FROM snap_sqlm WHERE o_orderkey % {SQLM_DEL_MOD} = 0",
    )                                                         # v3
    r2 = snapshot_sql(
        spark,
        f"UPDATE snap_sqlm SET o_totalprice = o_totalprice * 2 "
        f"WHERE o_orderstatus = 'F' AND o_orderkey < {upd_hi}",
    )                                                         # v4
    orders.createOrReplaceTempView("sqlm_src")
    r3 = snapshot_sql(
        spark,
        f"""
        MERGE INTO snap_sqlm t
        USING (SELECT o_orderkey, o_custkey, o_orderstatus,
                      o_totalprice + {SQLM_BUMP} AS o_totalprice
               FROM sqlm_src
               WHERE o_orderkey BETWEEN {src_lo} AND {src_hi}
                 AND o_orderkey % {SQLM_SRC_MOD} = 0) s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND t.o_orderstatus = 'P' THEN DELETE
        WHEN MATCHED AND s.o_totalprice > t.o_totalprice
            THEN UPDATE SET o_totalprice = s.o_totalprice
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND o_orderkey >= {nmbs_lo}
            THEN DELETE
        """,
    )                                                         # v5
    if not (
        r1["deleted_rows"] > 0
        and r2["updated_rows"] > 0
        and all(
            r3[k] > 0
            for k in (
                "updated",
                "deleted_matched",
                "deleted_unmatched",
                "inserted",
            )
        )
    ):
        raise RuntimeError(f"vacuous SQL mutation chain: {r1} {r2} {r3}")
    return root


@query(
    "snapshot_sql_merge",
    oracle=f"""
    WITH b AS (
      SELECT MAX(o_orderkey) // 6 AS upd_hi,
             MAX(o_orderkey) // 10 AS src_lo,
             MAX(o_orderkey) // 4 AS src_hi,
             MAX(o_orderkey) * 9 // 10 AS nmbs_lo
      FROM orders
    ),
    s3 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'F'
                       AND o_orderkey < (SELECT upd_hi FROM b)
                  THEN o_totalprice * 2 ELSE o_totalprice
             END AS o_totalprice
      FROM orders WHERE o_orderkey % {SQLM_DEL_MOD} <> 0
    ),
    src AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice + {SQLM_BUMP} AS o_totalprice
      FROM orders
      WHERE o_orderkey BETWEEN (SELECT src_lo FROM b)
                           AND (SELECT src_hi FROM b)
        AND o_orderkey % {SQLM_SRC_MOD} = 0
    )
    SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus,
           CASE WHEN s.o_orderkey IS NOT NULL
                     AND s.o_totalprice > t.o_totalprice
                THEN s.o_totalprice ELSE t.o_totalprice
           END AS o_totalprice
    FROM s3 t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
    WHERE NOT (s.o_orderkey IS NOT NULL AND t.o_orderstatus = 'P')
      AND NOT (s.o_orderkey IS NULL
               AND t.o_orderkey >= (SELECT nmbs_lo FROM b))
    UNION ALL
    SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice
    FROM src s LEFT JOIN s3 t ON s.o_orderkey = t.o_orderkey
    WHERE t.o_orderkey IS NULL
    """,
)
def snapshot_sql_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the table AFTER the routed DELETE → UPDATE → MERGE chain
    (sql_merge_root), through the SQL front door itself (a freshly
    minted tokened view). Oracle = the three statements as CASE/JOIN
    arithmetic over `orders`; any misrouted clause (a DELETE that
    dropped the wrong modulo class, an UPDATE firing outside its
    conjunction, a merge branch misordered) shifts rows and fails
    the hash."""
    from hbase_compact_spark.sources.sql_router import (
        create_snapshot_view,
        snapshot_sql,
    )

    root = sql_merge_root(spark, sf_dir)
    create_snapshot_view(spark, "snap_sqlm_read", root)
    return snapshot_sql(
        spark,
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
        "FROM snap_sqlm_read",
    )
