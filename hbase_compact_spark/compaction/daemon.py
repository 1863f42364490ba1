"""Compaction daemon — the orchestration loop of the reference's
Flow 1 (QHBaseCompact.java:117-217 majorCompact + main :272-285).

The reference runs forever: gate on the time-of-day window (:136),
fetch the region list (:139), take ONE region per iteration resuming
from the checkpointed cursor (:133,140-146), compact, persist the
cursor (:193-194), pause 1 s between regions (:195) and 10 min after
a full wraparound (:140-143). It also logs a whole-table stats report
once at startup (:134 -> getTableDetails :219-270).

This daemon keeps that shape — cycles, pacing, window gating,
checkpointed resume — with the Spark engine underneath: the stats
report is the rollup query, selection is the candidates query, the
rewrite is compact_table's verified executor, and completion watching
is the distributed quickPoll analog. `max_cycles` bounds the loop for
testing; production would run unbounded exactly like the reference.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field, replace

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_compact_spark.compaction.checkpoint import CompactionCheckpoint
from hbase_compact_spark.compaction.executor import (
    CompactionReport,
    _in_time_window,
    _walk_table,
    compact_table,
    partition_summary,
)


@dataclass
class DaemonConfig:
    table_root: str
    target_bytes: int = 128 * 1024 * 1024
    # reference pacing defaults (QHBaseCompact.java:54,195,142), in
    # seconds; tests shrink them
    window: tuple[str, str] | None = None
    window_recheck_s: float = 60.0
    inter_partition_pause_s: float = 1.0
    cycle_pause_s: float = 600.0
    max_cycles: int = 1
    # partitions compacted per inner-loop pass; None = adaptive (one
    # unbounded compact_table pass whose adaptive concurrency saturates
    # the cluster — meets the 40 s/GB budget by default). 1 = the
    # reference's strict one-region-per-iteration cursor pacing.
    partitions_per_iteration: int | None = None
    # rewrites in flight at once; None = adaptive (size to cluster
    # width — meets the reference's 40 s/GB budget by default), 1 =
    # the reference's strict one-at-a-time minimal-impact mode
    concurrency: int | None = None
    # progress-store location; None = <table_root>/_compaction_
    # checkpoint.json, which only works for local/file: table roots
    # (CompactionCheckpoint is local-FS by contract) — an hdfs://
    # or s3a:// deployment MUST point this at a local path
    checkpoint_path: str | None = None
    # merge-on-read maintenance (VERDICT r10 task 4): when set, the
    # table is a SNAPSHOT-LOGGED MOR table (the streaming-upsert /
    # deferred-delete shape) and each daemon cycle runs
    # snapshots.maintain_mor instead of the in-place executor —
    # snapshot tables must never go through the swap-manifest rewrite,
    # whose in-place file replacement would invalidate committed
    # manifests. The trigger: pending delete entries > mor_pending_max
    # OR oldest entry older than mor_pending_age_s → snapshot_compact
    # applies and retires the chain.
    mor_pending_max: int | None = None
    mor_pending_age_s: float | None = None
    # r14: ratio trigger (pending delete-entry rows / live rows —
    # choose_write_mode's read-tax-dominates signal) for the MOR
    # maintenance probe
    mor_pending_ratio: float | None = None
    # r14 (VERDICT r13 task 6): auto_mode=True lets the daemon CHOOSE
    # the per-table maintenance mode instead of requiring the
    # operator to set mor_pending_max by hand — a snapshot-logged
    # table (a `_snapshots` log exists) runs the MOR maintenance
    # probe under the default count+ratio policy (its committed
    # manifests must never see the in-place swap rewrite); a plain
    # directory table runs the in-place executor. The detection is
    # one existence check per run.
    auto_mode: bool = False
    # defaults the auto policy applies when the explicit knobs are
    # unset (ratio = choose_write_mode's pending_ratio_max default)
    AUTO_PENDING_MAX = 8
    AUTO_PENDING_RATIO = 0.05


@dataclass
class DaemonRun:
    stats_report: list
    # CompactionReport per cycle in the in-place mode; maintain_mor
    # result dicts in the merge-on-read maintenance mode
    cycles: list = field(default_factory=list)


def stats_report(spark: SparkSession, table_root: str) -> DataFrame:
    """The getTableDetails analog (QHBaseCompact.java:219-270): per
    (partition) file count + size with a grand-total rollup, GB
    conversion included (:250-252,255). Under the walk's cap on a
    local root the rollup is computed on the driver from one
    `_walk_table` and returned as an Arrow-backed DataFrame, which
    launches no Spark job, not even on collect. Past the cap or on a
    remote root the per-file rows aggregate ON EXECUTORS
    (executor.partition_summary): the driver never holds a per-file
    structure, so the report costs the same at 10⁶ files as at 10."""
    walk = _walk_table(table_root)
    if walk is None:
        report = (
            partition_summary(spark, table_root)
            .rollup("partition")
            .agg(
                F.sum("filenum").alias("filenum"),
                F.sum("total_bytes").alias("total_bytes"),
            )
            .withColumn("partition", F.coalesce("partition", F.lit("ALL")))
        )
    else:
        rows = [
            (rel, len(files), sum(size for _, size in files))
            for rel, (files, _pure) in sorted(walk.items())
        ]
        if rows:
            rows.append(
                ("ALL", sum(r[1] for r in rows), sum(r[2] for r in rows))
            )
        report = spark.createDataFrame(
            pa.table(
                {
                    "partition": pa.array([r[0] for r in rows], pa.string()),
                    "filenum": pa.array([r[1] for r in rows], pa.int64()),
                    "total_bytes": pa.array([r[2] for r in rows], pa.int64()),
                }
            )
        )
    return report.withColumn(
        "total_gb", F.round(F.col("total_bytes") / (1024.0**3), 6)
    )


def daemon_config_from_properties(
    properties_path: str, table_root: str, **overrides
) -> DaemonConfig:
    """Build a DaemonConfig from a reference-format properties file
    (sources/config.py) — the same record the reference daemon boots
    from (QHBaseCompact.java:75-100): starttime/endtime become the
    window; the documented-but-dead directcompactsize becomes the
    rewrite target cap. Pass keyword overrides for anything else."""
    from hbase_compact_spark.sources.config import load_config

    props = load_config(properties_path)
    defaults = dict(
        table_root=table_root,
        window=(props.starttime, props.endtime),
        target_bytes=min(props.directcompactsize, 1 << 30),
    )
    defaults.update(overrides)
    return DaemonConfig(**defaults)


def run_daemon(spark: SparkSession, cfg: DaemonConfig) -> DaemonRun:
    """One bounded daemon run: startup stats report, then
    `max_cycles` passes over the table, each compacting up to
    `partitions_per_iteration` partitions at a time with the
    reference's pacing structure."""
    if cfg.auto_mode and cfg.mor_pending_max is None:
        # per-table mode choice (r14): a snapshot log on disk means a
        # MOR-lifecycle table — maintenance goes through the probe
        # (never the in-place swap, which would invalidate committed
        # manifests); otherwise the classic in-place executor
        from hbase_compact_spark.compaction.executor import _hadoop_fs

        fs, _hpath, jvm = _hadoop_fs(spark, cfg.table_root)
        log_path = jvm.org.apache.hadoop.fs.Path(
            f"{cfg.table_root}/_snapshots"
        )
        if fs.exists(log_path):
            cfg = replace(
                cfg,
                mor_pending_max=cfg.AUTO_PENDING_MAX,
                mor_pending_ratio=(
                    cfg.mor_pending_ratio
                    if cfg.mor_pending_ratio is not None
                    else cfg.AUTO_PENDING_RATIO
                ),
            )
    if cfg.mor_pending_max is not None:
        return _run_mor_maintenance(spark, cfg)
    ckpt = CompactionCheckpoint(
        cfg.checkpoint_path
        or f"{cfg.table_root}/_compaction_checkpoint.json"
    )
    run = DaemonRun(stats_report=stats_report(spark, cfg.table_root).collect())

    for cycle in range(cfg.max_cycles):
        # one-partition-at-a-time inner loop — the reference's region
        # cursor (QHBaseCompact.java:133,146,193): each iteration
        # compacts up to partitions_per_iteration and re-checks the
        # window, until a pass finds nothing left
        while True:
            if cfg.window is not None:
                while not _in_time_window(*cfg.window):
                    time.sleep(cfg.window_recheck_s)
            report = compact_table(
                spark,
                cfg.table_root,
                target_bytes=cfg.target_bytes,
                checkpoint=ckpt,
                pacing_seconds=cfg.inter_partition_pause_s,
                time_window=cfg.window,
                max_partitions_per_run=cfg.partitions_per_iteration,
                concurrency=cfg.concurrency,
            )
            run.cycles.append(report)
            if not report.compacted:
                break
        # wraparound: reset the cursor and take the long cycle pause
        # (QHBaseCompact.java:140-143)
        ckpt.reset()
        if cycle + 1 < cfg.max_cycles:
            time.sleep(cfg.cycle_pause_s)
    return run


def _run_mor_maintenance(spark: SparkSession, cfg: DaemonConfig) -> DaemonRun:
    """The daemon's merge-on-read mode: same pacing/window/cycle
    structure, but the per-cycle action is `snapshots.maintain_mor` —
    an O(history-JSON) metadata probe that only compacts when the
    pending delete-entry chain breaches the configured count/age
    policy. `cycles` carries the maintain_mor result dicts (one per
    cycle) so callers can pin chain-length behavior."""
    from hbase_compact_spark.compaction.snapshots import maintain_mor

    run = DaemonRun(stats_report=stats_report(spark, cfg.table_root).collect())
    for cycle in range(cfg.max_cycles):
        if cfg.window is not None:
            while not _in_time_window(*cfg.window):
                time.sleep(cfg.window_recheck_s)
        run.cycles.append(
            maintain_mor(
                spark,
                cfg.table_root,
                max_pending=cfg.mor_pending_max,
                max_age_s=cfg.mor_pending_age_s,
                max_pending_ratio=cfg.mor_pending_ratio,
                target_bytes=cfg.target_bytes,
            )
        )
        if cycle + 1 < cfg.max_cycles:
            time.sleep(cfg.cycle_pause_s)
    return run
