"""Manifest-resolving consistent reads during compaction swaps.

On HDFS / local FS every swap rename is atomic per file, but on an
object store (S3A) each rename is copy+delete, so a plain
`spark.read.parquet(table_root)` issued mid-swap can see a MIX of old
and new files — duplicate rows for the duration of the copy window.
The write-ahead swap manifest (`executor._swap_files`) already pins
exactly which files are in flight; this module makes readers resolve
through it:

* move phase (some planned destinations missing): every OLD file is
  still present — the consistent snapshot is the old set.
* retire phase (every destination landed): the NEW set is complete —
  the consistent snapshot is the new set, old files excluded even if
  their delete hasn't finished.

Either way the reader sees exactly one committed file set, never a
mix — the same snapshot rule Iceberg/Delta get from their manifest
logs, here scoped to the one operation (compaction) this engine
performs. Files not named by a manifest pass through untouched.

Generalizes the reference's read-side assumption (QHBaseCompact.java
never pauses readers during compactions — HBase's own store-file
manifest provides this; a bare parquet directory needs it supplied).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession

from hbase_compact_spark.compaction.executor import (
    SWAP_MANIFEST_NAME,
    _hadoop_fs,
    _read_json,
    _uri_path,
    list_partition_files,
)


def consistent_file_listing(spark: SparkSession, table_root: str) -> list[str]:
    """Every data-file URI under `table_root`, with any partition that
    has a swap in flight resolved to one consistent side (see module
    docstring). Listing + manifest reads are bounded metadata (one
    manifest per partition being compacted)."""
    fs, root, jvm = _hadoop_fs(spark, table_root)
    Path = jvm.org.apache.hadoop.fs.Path
    listing = list_partition_files(spark, table_root)
    qroot = str(fs.makeQualified(root)).rstrip("/")
    out: list[str] = []
    for rel, files in listing.items():
        part_dir = f"{qroot}/{rel}" if rel else qroot
        mpath = Path(part_dir, SWAP_MANIFEST_NAME)
        if not fs.exists(mpath):
            out.extend(uri for uri, _ in files)
            continue
        try:
            data = _read_json(fs, jvm, mpath)
        except Exception:
            # TOCTOU: the swap finished (manifest deleted as its last
            # step) between the exists check and the read — the
            # partition is already consistent, use the listing as-is
            out.extend(uri for uri, _ in files)
            continue
        dests = [d for _, d in data["moves"]]
        olds = set(data["old"])
        swap_complete = all(fs.exists(Path(d)) for d in dests)
        # compare scheme-stripped absolute paths: the listing and the
        # manifest may render the same file with different URI prefixes
        dest_paths = {_uri_path(d) for d in dests}
        old_paths = {_uri_path(o) for o in olds}
        for uri, _ in files:
            p = _uri_path(uri)
            if swap_complete:
                if p not in old_paths:
                    out.append(uri)
            else:
                if p not in dest_paths:
                    out.append(uri)
        if swap_complete:
            # destinations are authoritative even if the listing
            # snapshot predates some of their landings
            listed = {_uri_path(uri) for uri, _ in files}
            out.extend(d for d in dests if _uri_path(d) not in listed)
    return sorted(out)


def read_table_consistent(spark: SparkSession, table_root: str) -> DataFrame:
    """`spark.read.parquet` over the consistent snapshot listing —
    the LISTING is race-free while compactions swap files underneath,
    but the files themselves are not pinned: a swap that retires its
    old files after this listing but before (or during) the lazy scan
    can still fail the read. That residual window is inherent to
    reading bare files on a mutable directory — callers needing
    strict isolation read through the snapshot log
    (compaction.snapshots.read_table_at), whose versions reference
    retired files until expire_snapshots reclaims them."""
    files = consistent_file_listing(spark, table_root)
    if not files:
        raise FileNotFoundError(f"no data files under {table_root}")
    return spark.read.parquet(*files)


def partition_has_pending_swap(spark: SparkSession, part_dir: str) -> bool:
    """True if `part_dir` holds a leftover swap manifest (a reconcile
    or a concurrent compactor is mid-swap)."""
    fs, p, jvm = _hadoop_fs(spark, part_dir)
    Path = jvm.org.apache.hadoop.fs.Path
    return bool(fs.exists(Path(posixpath.join(part_dir, SWAP_MANIFEST_NAME))))
