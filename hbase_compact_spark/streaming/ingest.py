"""Transactional streaming ingest: micro-batches land as atomic
snapshot-log versions.

A plain `writeStream.format("parquet")` makes files visible the
moment they finish copying — a reader mid-batch sees a torn batch,
and on object stores the window is wide. Routing the sink through
`foreachBatch` + the compaction snapshot log closes it: each
micro-batch writes its files under uuid names, then commits ONE new
snapshot referencing previous-files-plus-new. Readers resolving
through `read_table_at` observe batch boundaries exactly — a batch is
fully visible or not at all — and a crash mid-write leaves orphan
files invisible to every reader (swept later; `expire_snapshots`
never touches unreferenced files).

The same snapshot log then lets `snapshot_compact` rewrite the
accumulated small files (exactly the small-file problem the reference
daemon exists for, QHBaseCompact.java flow 1) while the stream keeps
appending: both sides commit through rename-if-absent optimistic
concurrency, so ingest and compaction interleave without locks.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from hbase_compact_spark.compaction.snapshots import (
    SnapshotConflictError,
    SnapshotLog,
    _land_files,
)


def snapshot_sink_batch(
    batch_df: DataFrame, table_root: str, partition: str = ""
) -> int:
    """Write one (micro-)batch into `table_root[/partition]` and
    commit it as the next snapshot version. Returns the committed
    version. Idempotence note: Structured Streaming may re-run a
    batch after a sink-side crash; re-running appends a duplicate
    batch, so exactly-once delivery needs the upstream batch_id
    recorded — see snapshot_ingest, which skips already-committed
    batch_ids."""
    spark = batch_df.sparkSession
    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    return _commit_batch(spark, log, batch_df, table_root, partition, op="append")


def _commit_batch(
    spark: SparkSession,
    log: SnapshotLog,
    batch_df: DataFrame,
    table_root: str,
    partition: str,
    *,
    op: str,
) -> int:
    tmp_dir = os.path.join(
        log.root_local, f"_ingest_tmp_{uuid.uuid4().hex[:10]}"
    )
    batch_df.write.mode("overwrite").parquet(tmp_dir)
    added = _land_files(tmp_dir, log.root_local, partition, "ingest")
    # optimistic-concurrency loop: a concurrent committer (compaction,
    # another ingest) moving the base raises SnapshotConflictError;
    # the batch's files are already physically placed, so the retry is
    # metadata-only — re-read the new latest and re-derive its listing
    for _ in range(50):
        base = log.latest()
        try:
            # manifest-append: parent rows union the new files, each
            # annotated like the parent's (SnapshotLog.commit_append:
            # on the driver under DISTRIBUTED_PRUNE_THRESHOLD files,
            # distributed past it)
            return log.commit_append(added, op=op, parent=base)
        except SnapshotConflictError:
            continue
    raise RuntimeError(f"ingest commit kept conflicting under {table_root}")


def committed_batch_ids(
    log: SnapshotLog, _cache: dict | None = None
) -> set[int]:
    """Batch ids already committed by snapshot_ingest (ops look like
    'append:batch=<id>'). The log is append-only, so an optional
    per-stream `_cache` ({"max_v": int, "ids": set}) makes the scan
    incremental — only versions newer than the last call are read,
    keeping per-batch overhead O(new versions) instead of O(history)."""
    if _cache is None:
        _cache = {"max_v": 0, "ids": set()}
    for v in log.versions():
        if v <= _cache["max_v"]:
            continue
        op = log.read(v).get("op", "")
        if op.startswith("append:batch="):
            _cache["ids"].add(int(op.split("=", 1)[1]))
        _cache["max_v"] = max(_cache["max_v"], v)
    return _cache["ids"]


def replay_batch(
    spark: SparkSession,
    table_root: str,
    batch_df: DataFrame,
    batch_id: int,
    *,
    partition: str = "",
) -> bool:
    """Deliver `batch_df` under `batch_id` through the SAME guard the
    streaming sink uses: an already-committed id is skipped (returns
    False — the at-least-once replay case), an unseen id commits
    normally (returns True). Exposed so crash-replay semantics can be
    exercised and asserted outside a live stream."""
    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    if batch_id in committed_batch_ids(log):
        return False
    _commit_batch(
        spark,
        log,
        batch_df,
        table_root,
        partition,
        op=f"append:batch={batch_id}",
    )
    return True


def snapshot_ingest(
    stream_df: DataFrame,
    table_root: str,
    *,
    partition: str = "",
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Run a streaming query whose sink is the snapshot log — each
    micro-batch becomes one atomic snapshot version, and re-delivered
    batch_ids (sink-side crash replay) are skipped, giving
    exactly-once VISIBLE semantics on top of Structured Streaming's
    at-least-once foreachBatch contract."""
    spark = stream_df.sparkSession
    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    seen_cache: dict = {"max_v": 0, "ids": set()}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in committed_batch_ids(log, seen_cache):
            return  # replayed batch: already visible, do nothing
        _commit_batch(
            spark,
            log,
            batch_df,
            table_root,
            partition,
            op=f"append:batch={batch_id}",
        )

    writer = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
