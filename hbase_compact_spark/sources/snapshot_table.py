"""Batch DataSource-V2 read path for snapshot-logged tables — the
front door VERDICT r12 asked for (task 1): plain Spark SQL, not just
the Python helpers, can query a logged table with pruning intact.

    spark.read.format("snapshot_table").option("path", root).load()
    CREATE TEMPORARY VIEW t USING snapshot_table OPTIONS (path '...')

The streaming side became a real Spark source in r12
(streaming/table_tail.py); this is the batch twin, built on the SAME
planner — `partitions()` calls compaction/snapshots.py:scan_plan
(spark=None → SnapshotLog(None, root)), so everything the helper read path
has accrues to SQL for free: stats/bloom/transform-spec pruning,
two-level sharded manifests (planning cost ∝ selectivity, the 24×
r12 result), version/ref time travel, and merge-on-read delete
application.

Scale design:
- `pushFilters` (Spark 4.1 Python-data-source pushdown) hands the
  WHERE clause to the planner; supported conjuncts become scan_plan
  predicates. ALL filters are returned to Spark for re-evaluation,
  so pruning may be arbitrarily conservative and results stay exact
  — the same contract as read_table_where (prune by metadata, filter
  exactly).
- planning is METADATA-ONLY: version JSON + column-pruned manifest
  (only surviving shard parts are opened — pinned in
  tests/test_snapshot_table.py) + delete-entry scope lists. No data
  file is opened before executors run.
- one InputPartition per surviving data file; executors read their
  file directly through Arrow and subtract the pending MOR delete
  entries scoped to that file LOCALLY (positional indexes + equality
  keys) — the per-file twin of the batch reader's anti-joins, with
  no shuffle at all.

Generalizes the reference's scan surface (QHBaseCompact.java:139,149
— region/file listing feeding the compaction read) into the engine's
SQL entry point.

The planner worker has no py4j gateway and no SparkSession, but CAN
import this package (the driver's sys.path propagates; foreign-cwd
drivers are covered by the package zip `read_table` ships) — so
planning here reuses snapshots.py verbatim through a session-less
SnapshotLog(None, root), like the streaming tail.
"""

from __future__ import annotations

import os
import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualNullSafe,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from hbase_compact_spark.compaction.executor import _hidden, _local_root

FORMAT_NAME = "snapshot_table"
# IN-lists longer than this skip pruning (Spark still filters
# exactly): each value costs one cached-manifest pruning pass at
# planning, which stops paying for itself on huge literal lists
IN_PRUNE_MAX = 64


def _claim_scan(token: str, fingerprint: str) -> bool:
    """Bind a pushdown_scan_token to ONE filter fingerprint through
    the driver-node tempdir (planning always runs on the driver
    node): the first claim writes the fingerprint atomically
    (O_CREAT|O_EXCL); later claims succeed only for the SAME
    fingerprint — re-executions of the same plan may re-prune, a
    different filter shape on a reused token plans the full file
    list. Claim files are tiny and bounded by the session's pushed-
    scan count; they share the tempdir lifecycle."""
    import hashlib
    import tempfile

    d = posixpath.join(tempfile.gettempdir(), "hcs_scan_claims")
    os.makedirs(d, exist_ok=True)
    path = posixpath.join(d, hashlib.md5(token.encode()).hexdigest())
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.write(fd, fingerprint.encode())
        os.close(fd)
        return True
    except FileExistsError:
        with open(path) as f:
            return f.read() == fingerprint


def _resolve_version(options: dict) -> tuple[str, tuple | None]:
    """(table_root, selector) from reader options. Exactly one of
    `version` (int), `ref` (named tag/branch) or `timestamp_as_of`
    (epoch seconds or ISO-8601 — TIMESTAMP AS OF) may be given;
    absent all, None = latest. The selector resolves against the log
    in _selected_version (planner-worker safe)."""
    root = options.get("path")
    if not root:
        raise ValueError(
            "snapshot_table requires .option('path', <table root>)"
        )
    given = [
        (k, options.get(k))
        for k in ("version", "ref", "timestamp_as_of")
        if options.get(k) is not None
    ]
    if len(given) > 1:
        raise ValueError(
            "snapshot_table: give one of version / ref / "
            "timestamp_as_of, not both "
            + " and ".join(k for k, _ in given)
        )
    if not given:
        return root, None
    k, v = given[0]
    return root, (k, int(v) if k == "version" else v)


def _selected_version(log, selector: tuple | None) -> int | None:
    """Resolve a (kind, value) selector to a concrete version number
    using only SnapshotLog read accessors (no SparkSession needed)."""
    if selector is None:
        return None
    kind, v = selector
    if kind == "version":
        return v
    if kind == "ref":
        return log.resolve_ref(v)
    from hbase_compact_spark.compaction.snapshots import version_as_of

    return version_as_of(log, v)


def _path_partition_values(relpath: str) -> dict[str, str]:
    """{column: raw value} of legacy hive `k=v` dirs (percent-decoded;
    `_hp_` spec dirs are layout — their source columns live inside the
    files — and NULL-sentinel values are omitted so they project as
    NULL). Mirrors the helper read path's basePath behavior."""
    from urllib.parse import unquote

    out: dict[str, str] = {}
    for comp in posixpath.dirname(relpath).split("/"):
        if "=" in comp and not comp.startswith("_hp_"):
            k, v = comp.split("=", 1)
            if v != "__HIVE_DEFAULT_PARTITION__":
                out[k] = unquote(v)
    return out


class _ScanFilePartition(InputPartition):
    """One surviving data file: absolute path, manifest relpath, and
    the pending MOR delete entries SCOPED to this file (planning
    resolved the scope lists, so the executor applies exactly the
    entries that may kill its rows and opens nothing else)."""

    def __init__(self, abs_path: str, relpath: str, entries: list):
        self.abs_path = abs_path
        self.relpath = relpath
        self.entries = entries  # [{"kind": "pos"|"eq", "path": abs}]


class SnapshotTableReader(DataSourceReader):
    """Batch planner+reader. Planning = scan_plan over snapshot
    metadata (no Spark, no data IO); reading = per-file Arrow scan
    with local MOR subtraction."""

    def __init__(self, schema, options: dict):
        self._schema = schema
        self._root, self._selector = _resolve_version(options)
        self._scan_token = options.get("pushdown_scan_token")
        self._preds: dict[str, tuple] = {}
        self._in_preds: dict[str, tuple] = {}

    # ---------------------------------------------------- pushdown
    def pushFilters(self, filters):
        """Fold supported conjuncts into scan_plan's predicate shape
        (col -> scalar equality | (lo, hi) bounds). EVERY filter is
        returned for Spark-side re-evaluation — pruning is allowed to
        be conservative (strict bounds widen to inclusive, unsupported
        shapes are ignored), the final filter is exact.

        PRUNING IS OPT-IN (r14, found by the pushdown fuzz): Spark
        caches the pushdown-baked read info (reader bytes AND planned
        partitions) on the table instance
        (PythonDataSourceV2.setReadInfo), and a later scan of the
        same relation that pushes nothing — a filterless query on the
        view, a filterless branch of the same loaded DataFrame, even
        a different column set — REUSES it wholesale with no Python
        hook. Measured on this Spark (4.1.2): view → `WHERE k BETWEEN
        100 AND 110` → plain `count(*)` returned the pruned 125, not
        1000. No reader-side state discipline can repair a reuse that
        never calls back, so file pruning only arms when the scan
        carries a `pushdown_scan_token` option — the caller's
        declaration that this relation serves ONE filter shape
        (read_table issues a fresh one per load; single-query SQL
        views pass their own). partitions() additionally binds the
        token to the filter fingerprint through _claim_scan, so a
        reused token with a DIFFERENT shape still plans the full
        list. Token-less scans (any long-lived view) always plan the
        full file list — never a dropped row, Spark re-applies every
        filter either way."""
        self._preds = {}
        self._in_preds = {}
        if not self._scan_token:
            return filters
        eq: dict[str, object] = {}
        lo: dict[str, object] = {}
        hi: dict[str, object] = {}

        def _tighten(d: dict, col: str, v, take_max: bool) -> None:
            cur = d.get(col)
            if cur is None:
                d[col] = v
                return
            try:
                d[col] = (max if take_max else min)(cur, v)
            except TypeError:
                pass  # incomparable duplicate bounds: keep the first

        for f in filters:
            try:
                if len(f.attribute) != 1:
                    continue  # nested fields: no file-level stats
                col = f.attribute[0]
                if isinstance(f, (EqualTo, EqualNullSafe)):
                    if f.value is not None and col not in eq:
                        eq[col] = f.value
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    if f.value is not None:
                        _tighten(lo, col, f.value, take_max=True)
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    if f.value is not None:
                        _tighten(hi, col, f.value, take_max=False)
                elif isinstance(f, In):
                    # IN-list: a file survives if ANY value may be
                    # present (per-value union at planning); bounded
                    # so planning never loops a giant literal list
                    vals = tuple(v for v in f.value if v is not None)
                    if vals and len(vals) <= IN_PRUNE_MAX and col not in self._in_preds:
                        self._in_preds[col] = vals
            except (AttributeError, TypeError):
                continue  # filter shapes without attribute/value
        for col, v in eq.items():
            self._preds[col] = v  # scalar: stats range + bloom probe
        for col in set(lo) | set(hi):
            if col not in self._preds:
                self._preds[col] = (lo.get(col), hi.get(col))
        return filters

    # --------------------------------------------------- planning
    def plan(self) -> tuple[dict, list]:
        """(scan_plan result, partitions) — split from partitions()
        so tests can interrogate the plan (shards_opened, kept_files)
        in-process with the same code the worker runs."""
        from hbase_compact_spark.compaction.snapshots import (
            DELETES_SUBDIR,
            EQ_DELETE_PREFIX,
            SnapshotLog,
            scan_plan,
        )

        log = SnapshotLog(None, self._root)
        version = _selected_version(log, self._selector)
        plan = scan_plan(None, self._root, self._preds, version)
        v = plan["version"]
        if self._in_preds:
            # IN-list pruning: intersect the range/eq survivors with
            # the UNION of each IN value's survivors (manifest reads
            # hit the immutable-manifest cache, so the per-value
            # passes re-read nothing). A file survives the IN only if
            # at least one listed value may be present — stats ranges
            # and bloom probes both apply per value.
            kept = set(plan["paths"])
            for col, vals in self._in_preds.items():
                union: set = set()
                for val in vals:
                    union |= set(
                        scan_plan(None, self._root, {col: val}, v)["paths"]
                    )
                kept &= union
            pruned_total = (
                plan["kept_files"] + plan["pruned_files"] - len(kept)
            )
            plan = dict(
                plan,
                paths=sorted(kept),
                kept_files=len(kept),
                pruned_files=pruned_total,
            )

        # pending MOR delete entries, scoped: one column-pruned
        # metadata read per entry (bounded by delete-set size) maps
        # entry -> touched relpaths, so each file partition carries
        # exactly the entries that may kill its rows
        import pyarrow.parquet as pq

        deletes_local = log._local(DELETES_SUBDIR)
        entry_touch: list[tuple[dict, set]] = []
        for name, _n in log.delete_files(v):
            if name.startswith(EQ_DELETE_PREFIX):
                touched = set(
                    pq.read_table(
                        posixpath.join(deletes_local, name, "scope"),
                        columns=["relpath"],
                    )
                    .column("relpath")
                    .to_pylist()
                )
                ent = {
                    "kind": "eq",
                    "path": posixpath.join(deletes_local, name),
                }
            else:
                touched = set(
                    pq.read_table(
                        posixpath.join(deletes_local, name),
                        columns=["relpath"],
                    )
                    .column("relpath")
                    .to_pylist()
                )
                ent = {
                    "kind": "pos",
                    "path": posixpath.join(deletes_local, name),
                }
            entry_touch.append((ent, touched))

        root_local = log.root_local
        parts: list[InputPartition] = [
            _ScanFilePartition(
                posixpath.join(root_local, rp),
                rp,
                [e for e, touched in entry_touch if rp in touched],
            )
            for rp in plan["paths"]
        ]
        return plan, parts

    def partitions(self):
        # token-fingerprint guard (see pushFilters): a token binds to
        # ONE filter shape — re-executions of the same plan re-prune,
        # a reused token under a different shape plans the full list
        if self._preds or self._in_preds:
            fp = repr((sorted(self._preds.items()),
                       sorted(self._in_preds.items())))
            if not self._scan_token or not _claim_scan(
                self._scan_token, fp
            ):
                self._preds = {}
                self._in_preds = {}
        _plan, parts = self.plan()
        # Spark requires at least one partition; a fully-pruned scan
        # still answers with the declared schema and zero rows
        return parts or [_ScanFilePartition("", "", [])]

    # ------------------------------------------------------- read
    def read(self, partition):
        if not partition.abs_path:
            return
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pq.read_table(partition.abs_path)
        n = tbl.num_rows
        if partition.entries and n:
            alive = np.ones(n, dtype=bool)
            for ent in partition.entries:
                if ent["kind"] == "pos":
                    pe = pq.read_table(ent["path"]).to_pandas()
                    pos = pe.loc[
                        pe["relpath"] == partition.relpath, "pos"
                    ].to_numpy(dtype="int64")
                    alive[pos] = False
                else:
                    keys = (
                        pq.read_table(posixpath.join(ent["path"], "keys"))
                        .to_pandas()
                        .dropna()  # NULL keys never match (SQL equality)
                        .drop_duplicates()
                    )
                    pdf = tbl.select(list(keys.columns)).to_pandas()
                    hit = (
                        pdf.merge(
                            keys.assign(__hit=1),
                            on=list(keys.columns),
                            how="left",
                        )["__hit"]
                        .notna()
                        .to_numpy()
                    )
                    # pandas merge matches NaN==NaN; SQL equality must not
                    null_rows = pdf.isna().any(axis=1).to_numpy()
                    alive &= ~(hit & ~null_rows)
            tbl = tbl.filter(pa.array(alive))
        yield from self._project(tbl, partition.relpath)

    def _project(self, tbl, relpath: str):
        """Arrow table -> RecordBatches in the declared schema: data
        columns cast, legacy hive path values filled, evolution-
        missing columns NULL — read_table_at's per-version schema
        contract, per file."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self._schema)
        pathvals = _path_partition_values(relpath)
        n = tbl.num_rows
        cols = []
        for field in target:
            if field.name in tbl.column_names:
                cols.append(tbl.column(field.name).cast(field.type))
            elif field.name in pathvals:
                cols.append(
                    pa.array([pathvals[field.name]] * n).cast(field.type)
                )
            else:
                cols.append(pa.nulls(n, field.type))
        out = pa.table(cols, schema=target)
        yield from out.combine_chunks().to_batches(max_chunksize=1 << 16)


def table_schema(table_root: str, version=None):
    """The table's row schema from snapshot metadata alone (planner-
    worker safe): the recorded schema, else (a version committed
    before versions recorded their schema) Arrow inference over the
    snapshot's first file plus legacy hive path columns as strings —
    the pure twin of the helper readers' fallback ladder. `version` may be an int, a ref name, or a
    (kind, value) selector from _resolve_version."""
    from pyspark.sql.types import StringType, StructField, StructType

    from hbase_compact_spark.compaction.snapshots import SnapshotLog

    log = SnapshotLog(None, table_root)
    if isinstance(version, tuple):
        version = _selected_version(log, version)
    elif isinstance(version, str):
        version = log.resolve_ref(version)
    v = log.latest() if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshots under {table_root}")
    schema, _pcols = log.schema(v)
    if schema is not None:
        return schema
    files = log.files(v)
    if not files:
        raise ValueError(
            f"empty table with no declared schema: {table_root}"
        )
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = from_arrow_schema(
        pq.read_schema(
            posixpath.join(log.root_local, files[0][0])
        )
    )
    for comp in posixpath.dirname(files[0][0]).split("/"):
        if "=" in comp and not comp.startswith("_hp_"):
            name = comp.split("=", 1)[0]
            if name not in schema.names:
                schema = StructType(
                    list(schema.fields) + [StructField(name, StringType())]
                )
    return schema


def _arrow_minmax(tbl) -> dict[str, list]:
    """{col: [min, max]} of an in-flight Arrow table, restricted to
    the SAME JSON-stable types _footer_stats keeps (int/float/str, no
    bool, no timestamps/decimals, non-finite floats skipped) — the
    write-side twin of the footer pass, so files landed by SQL INSERT
    prune under scan_plan with no annotate_stats round trip."""
    import math

    import pyarrow as pa
    import pyarrow.compute as pc

    out: dict[str, list] = {}
    for i, field in enumerate(tbl.schema):
        t = field.type
        if pa.types.is_boolean(t):
            continue
        if not (
            pa.types.is_integer(t)
            or pa.types.is_floating(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
        ):
            continue
        col = tbl.column(i)
        if col.null_count == len(col):
            continue
        mm = pc.min_max(col)
        mn, mx = mm["min"].as_py(), mm["max"].as_py()
        if mn is None or mx is None:
            continue
        if isinstance(mn, float) and not (
            math.isfinite(mn) and math.isfinite(mx)
        ):
            continue
        out[field.name] = [mn, mx]
    return out


def _hive_escape(v: str) -> str:
    """Percent-encode a partition VALUE for use in a `_hp_k=v` dir
    name. Spark's hive writer escapes a narrower char set, but both
    encodings percent-DECODE to the same value (`_path_partition_
    values` unquotes), so pruning and projection see identical
    values regardless of which writer landed the file."""
    from urllib.parse import quote

    return quote(v, safe="")


def _ts_render(v) -> str:
    """Spark `cast(timestamp as string)` twin: session zone is UTC
    engine-wide; fraction rendered only when non-zero, trailing
    zeros trimmed ('.123000' -> '.123') — exactly the JVM cast."""
    import datetime

    if v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc)
    s = v.strftime("%Y-%m-%d %H:%M:%S")
    if v.microsecond:
        s += (".%06d" % v.microsecond).rstrip("0")
    return s


class _UnsupportedRender(Exception):
    """A spec source type whose Spark string rendering this pure
    twin cannot reproduce exactly (float/binary/...)."""


def _identity_render(v, t) -> str:
    """Spark `cast(col as string)` of ONE value — must stay
    value-identical to the JVM cast for every type it accepts, or
    path-derived pruning of SQL-landed files would prune wrong.
    Types whose JVM rendering is not reproducible bit-exactly
    (float 1.0E8, binary) raise, and the writer falls back to flat
    layout for the whole write — correct, just not path-prunable."""
    import datetime
    import decimal

    import pyarrow as pa

    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return v
    if pa.types.is_integer(t):
        return str(v)
    if pa.types.is_boolean(t):
        return "true" if v else "false"
    if pa.types.is_date(t):
        return v.isoformat()
    if pa.types.is_timestamp(t):
        return _ts_render(v)
    if pa.types.is_decimal(t):
        return str(v)  # arrow keeps the column scale; str is plain
    raise _UnsupportedRender(str(t))


def _transform_render(fld, v, t) -> str | None:
    """One spec-field VALUE for one row — the pure-Python twin of
    snapshots._partition_field_expr, value-identical by construction
    (same crc32 bucket function, same pmod truncate arithmetic, same
    ISO time prefixes). None = NULL (the hive sentinel dir)."""
    import datetime
    import decimal
    import zlib

    import pyarrow as pa

    if v is None:
        return None
    if fld.transform == "identity":
        return _identity_render(v, t)
    if fld.transform in ("years", "months", "days", "hours"):
        n = {"years": 4, "months": 7, "days": 10, "hours": 13}[
            fld.transform
        ]
        if isinstance(v, datetime.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc)
            return v.strftime("%Y-%m-%d %H:%M:%S")[:n]
        return (v.strftime("%Y-%m-%d") + " 00:00:00")[:n]
    if fld.transform == "bucket":
        s = v if isinstance(v, str) else str(v)
        return str(zlib.crc32(s.encode("utf-8")) % fld.param)
    # truncate
    if isinstance(v, str):
        return v[: fld.param]
    if isinstance(v, decimal.Decimal):
        scale = t.scale
        step = decimal.Decimal(fld.param).scaleb(-scale)
        r = v % step
        if r < 0:  # Decimal % follows the dividend sign; pmod doesn't
            r += step
        q = decimal.Decimal(1).scaleb(-scale)
        return str((v - r).quantize(q))
    return str(v - (v % fld.param))  # int % is already pmod for W>0


def _spec_dir_prefixes(tbl, fields) -> list[str] | None:
    """Per-row `_hp_a=1/_hp_b=x` layout dir prefix for an Arrow
    table under the partition spec, or None when a source type's
    rendering is not reproducible (caller lands flat). NULL values
    land under the hive sentinel dir exactly like the helper path's
    Spark partitionBy write."""
    from hbase_compact_spark.compaction.snapshots import (
        _HIVE_NULL_DIR,
        PARTITION_DIR_PREFIX,
    )

    cols = []
    for fld in fields:
        if fld.source not in tbl.column_names:
            return None
        col = tbl.column(fld.source)
        t = col.type
        vals = col.to_pylist()
        try:
            rendered = [_transform_render(fld, v, t) for v in vals]
        except _UnsupportedRender:
            return None
        prefix = PARTITION_DIR_PREFIX + fld.name + "="
        cols.append(
            [
                prefix
                + (_HIVE_NULL_DIR if r is None else _hive_escape(r))
                for r in rendered
            ]
        )
    return ["/".join(parts) for parts in zip(*cols)]


def _sorted_by(tbl, sort_by: list[str] | None):
    """Sort an in-flight Arrow table by the table's declared sort
    order (ascending, nulls first — Spark's sortWithinPartitions
    default). Missing columns = passthrough, same contract as
    snapshots._apply_sort_order."""
    if not sort_by:
        return tbl
    if any(c not in tbl.column_names for c in sort_by):
        return tbl
    import pyarrow.compute as pc

    idx = pc.sort_indices(
        tbl,
        sort_keys=[(c, "ascending") for c in sort_by],
        null_placement="at_start",
    )
    return tbl.take(idx)


class _SqlWriteMessage(WriterCommitMessage):
    """One task's landed data files (possibly none): a list of
    (manifest relpath, byte size, executor-computed stats JSON)."""

    def __init__(self, files):
        self.files = files  # list[(relpath, size, stats_json)]


class SnapshotTableWriter(DataSourceArrowWriter):
    """SQL `INSERT INTO` / `INSERT OVERWRITE` (and
    `df.write.format("snapshot_table")`) against a snapshot-logged
    table — the write-side twin of the batch reader, completing the
    SQL front door (VERDICT r13 task 1). Generalizes the reference's
    write/commit semantics (QHBaseCompact.java:102-115,167 — the
    persisted checkpoint and the compaction's atomic table mutation)
    to the engine's SQL entry point.

    Shape: each task streams its Arrow batches into ONE parquet file
    under a per-job staging dir (`data-sql/w-<uuid>/`), computing
    min/max stats from the batches already in memory; the driver-side
    commit() — a Python worker with no py4j gateway — performs ONE
    atomic snapshot-log commit through SnapshotLog(None, root): append =
    parent manifest ∪ new files (stats/bloom payloads carried, MOR
    delete entries carried), overwrite = new files only (pending
    deletes dropped with the files they scoped). A concurrent commit
    raises SnapshotConflictError — never a silent file drop — and
    abort() removes the staging dir, so no partial state is ever
    visible: readers see the old version or the new one, nothing
    between."""

    def __init__(self, options: dict, overwrite: bool, schema=None):
        root, selector = _resolve_version(options)
        # the INSERT's Spark schema — persisted on the commit when the
        # parent chain never declared one, so even a ZERO-file
        # overwrite (INSERT OVERWRITE of an empty SELECT) stays
        # readable as an empty table
        self._schema_blob = (
            {"fields": schema.jsonValue(), "partition_cols": []}
            if schema is not None
            else None
        )
        if selector is not None:
            raise ValueError(
                "snapshot_table writes go to the table head — drop "
                "the version/ref/timestamp_as_of option (time-travel "
                "views are read-only)"
            )
        self._root = root
        self._overwrite = overwrite
        self._write_dir = f"data-sql/w-{uuid.uuid4().hex[:12]}"
        # layout contract (VERDICT r14 task 2): SQL-landed files must
        # honor the table's declared partition spec + sort order just
        # like append_partitioned/_apply_sort_order do on the helper
        # path, so SQL ingest arrives path-prunable and
        # stats-clustered instead of waiting for a compaction to
        # migrate it. Resolved here (planning runs on the driver
        # node, SnapshotLog(None, root) needs only the filesystem) and
        # shipped to the tasks on self.
        from hbase_compact_spark.compaction.snapshots import (
            SnapshotLog,
            parse_partition_field,
            partition_spec_of,
            sort_order_of,
        )

        self._spec_fields = None
        self._sort_by = None
        log = SnapshotLog(None, root)
        v = log.latest()
        if v:
            spec = partition_spec_of(log, v)
            if spec:
                self._spec_fields = [
                    parse_partition_field(r)
                    for r in spec["partition_by"]
                ]
            order = sort_order_of(log, v)
            if order and order["sort_by"]:
                self._sort_by = list(order["sort_by"])

    def write(self, iterator):
        import json as _json

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return _SqlWriteMessage([])
        tbl = pa.Table.from_batches(batches)

        # split this task's rows by layout dir (one file per
        # partition value; flat fallback when there is no spec or a
        # source type's rendering is not reproducible)
        groups: list[tuple[str, object]]
        if self._spec_fields:
            prefixes = _spec_dir_prefixes(tbl, self._spec_fields)
        else:
            prefixes = None
        if prefixes is None:
            groups = [(self._write_dir, tbl)]
        else:
            by_dir: dict[str, list[int]] = {}
            for i, d in enumerate(prefixes):
                by_dir.setdefault(d, []).append(i)
            groups = [
                (d, tbl.take(idx)) for d, idx in sorted(by_dir.items())
            ]

        files = []
        for dir_rel, sub in groups:
            # within-file sort under the declared order: cross-task
            # range disjointness can't be forced from inside a
            # DataSource writer (no requiredDistribution hook in the
            # Python API), but an INSERT ... SELECT ... ORDER BY
            # feeds tasks disjoint ranges, and per-file sorting
            # tightens min/max either way
            sub = _sorted_by(sub, self._sort_by)
            rel = posixpath.join(
                dir_rel, f"part-{uuid.uuid4().hex[:12]}.parquet"
            )
            abs_path = posixpath.join(_local_root(self._root), rel)
            os.makedirs(posixpath.dirname(abs_path), exist_ok=True)
            pq.write_table(sub, abs_path)
            stats = _json.dumps(
                {"rows": sub.num_rows, "cols": _arrow_minmax(sub)}
            )
            files.append((rel, os.path.getsize(abs_path), stats))
        return _SqlWriteMessage(files)

    def commit(self, messages):
        import pyarrow as pa

        from hbase_compact_spark.compaction.snapshots import (
            SnapshotConflictError,
            SnapshotLog,
        )

        log = SnapshotLog(None, self._root)
        landed = [
            f for m in messages if m is not None for f in m.files
        ]
        added = pa.table(
            {
                "relpath": pa.array(
                    [rel for rel, _, _ in landed], pa.string()
                ),
                "size": pa.array(
                    [int(sz) for _, sz, _ in landed], pa.int64()
                ),
                "stats": pa.array(
                    [st for _, _, st in landed], pa.string()
                ),
                "blooms": pa.array(
                    [None for _ in landed], pa.string()
                ),
            }
        )
        # losing a commit race is RETRIABLE here: an append's only
        # parent-derived state is the manifest union (re-derived each
        # attempt against the new latest — the winner's files are
        # carried, never dropped), and an overwrite is last-writer-
        # wins by definition. So concurrent SQL INSERTs serialize
        # instead of failing — the high-throughput ingest shape.
        # parent 0 = derived from the empty table: claims exactly v1.
        try:
            for _ in range(10):
                parent = log.latest() or 0
                # the parent's declared schema carries; else the
                # INSERT's own, which keeps a ZERO-file commit
                # readable as an empty table
                schema = (
                    log.read(parent).get("schema") if parent else None
                ) or self._schema_blob
                extra = None
                if self._overwrite or not parent:
                    tbl = added
                    if not parent and not self._overwrite:
                        # append against an UNLOGGED root: any
                        # pre-existing parquet is live data the
                        # bootstrap must carry (SnapshotLog.
                        # bootstrap lists the whole tree) — only
                        # an explicit OVERWRITE may drop it
                        pre = self._preexisting(
                            {rel for rel, _, _ in landed}
                        )
                        if pre:
                            tbl = pa.concat_tables([pre, added])
                    op = "overwrite" if parent else "bootstrap"
                    # replaced files take their pending deletes along
                    extra = {"delete_files": []}
                else:
                    tbl = pa.concat_tables(
                        [log.manifest_table(parent), added]
                    )
                    op = "append"
                try:
                    log.commit(
                        None,
                        op=op,
                        parent=parent,
                        schema=schema,
                        manifest=log.write_manifest_table(tbl),
                        extra=extra,
                    )
                    return
                except SnapshotConflictError:
                    continue
            raise SnapshotConflictError(
                f"SQL write kept losing commit races under {self._root}"
            )
        except Exception:
            self._cleanup()
            raise

    def _preexisting(self, landed_rels: set[str]):
        """Physical listing of data files already under an UNLOGGED
        root (no stats — annotate_stats can backfill), excluding the
        snapshot log, staging dirs, and this job's own files. The
        bootstrap-append manifest unions these so `INSERT INTO` an
        unlogged directory of parquet never silently drops its rows
        (SnapshotLog.bootstrap parity)."""
        import pyarrow as pa

        from hbase_compact_spark.compaction.snapshots import (
            SNAPSHOT_DIR,
        )

        root = _local_root(self._root)
        rels, sizes = [], []
        for dirpath, dirnames, filenames in os.walk(root):
            rel_dir = os.path.relpath(dirpath, root)
            dirnames[:] = [
                d
                for d in dirnames
                if d != SNAPSHOT_DIR
                and d != "data-sql"  # in-flight SQL staging: those
                # files belong to their own job's commit, never to
                # this bootstrap (double-count race otherwise)
                and not d.startswith("_tmp")
            ]
            for name in filenames:
                if not name.endswith(".parquet") or _hidden(name):
                    continue
                rel = (
                    name
                    if rel_dir == "."
                    else posixpath.join(
                        rel_dir.replace(os.sep, "/"), name
                    )
                )
                if rel in landed_rels:
                    continue
                rels.append(rel)
                sizes.append(
                    os.path.getsize(os.path.join(dirpath, name))
                )
        if not rels:
            return None
        return pa.table(
            {
                "relpath": pa.array(rels, pa.string()),
                "size": pa.array(sizes, pa.int64()),
                "stats": pa.array([None] * len(rels), pa.string()),
                "blooms": pa.array([None] * len(rels), pa.string()),
            }
        )

    def abort(self, messages):
        # layout-landed files live inside shared partition dirs —
        # remove exactly the files the succeeded tasks reported
        # (failed tasks' files are manifest-invisible orphans for
        # sweep_orphans), then drop the flat staging dir
        root = _local_root(self._root)
        for m in messages or []:
            for rel, _, _ in getattr(m, "files", None) or []:
                try:
                    os.unlink(posixpath.join(root, rel))
                except OSError:
                    pass
        self._cleanup()

    def _cleanup(self):
        import shutil

        shutil.rmtree(
            posixpath.join(_local_root(self._root), self._write_dir),
            ignore_errors=True,
        )


class SnapshotTableDataSource(DataSource):
    """`spark.read.format("snapshot_table")` / `CREATE TEMPORARY VIEW
    ... USING snapshot_table` — see module docstring. Options: `path`
    (table root, required) plus at most one of `version` (time
    travel), `ref` (named tag/branch), or `timestamp_as_of` (epoch
    seconds or ISO-8601 — the latest snapshot committed at or before
    that instant). Writable: SQL INSERT INTO / INSERT OVERWRITE and
    `df.write.format("snapshot_table").mode(...)` commit one atomic
    snapshot version (SnapshotTableWriter)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        root, selector = _resolve_version(self.options)
        return table_schema(root, selector)

    def reader(self, schema):
        return SnapshotTableReader(schema, self.options)

    def writer(self, schema, overwrite: bool):
        return SnapshotTableWriter(self.options, overwrite, schema)


def register(spark: SparkSession) -> None:
    """Make the format available to this session (DataFrame reader AND
    SQL `USING snapshot_table`). Idempotent. Enables the Python
    data-source filter-pushdown flag (also set by session.py; runtime-
    settable) and ships the package zip so executors resolve the read
    path from any driver cwd."""
    from hbase_compact_spark.shipping import ensure_package_on_executors

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    ensure_package_on_executors(spark)
    spark.dataSource.register(SnapshotTableDataSource)


def read_table(
    spark: SparkSession,
    table_root: str,
    *,
    version: int | None = None,
    ref: str | None = None,
    timestamp_as_of=None,
    prune: bool = False,
) -> DataFrame:
    """The logged table as a DataFrame through the registered format
    (schema resolved driver-side and passed explicitly — one less
    planner-worker round trip; the SQL `USING` path exercises the
    worker-side schema()).

    `prune=True` issues a fresh pushdown_scan_token, arming file
    pruning for ONE filter shape on this load (see
    SnapshotTableReader.pushFilters for the Spark read-info-caching
    hazard that makes pruning opt-in and default-OFF: a filterless
    branch derived from the SAME pruned load would reuse Spark's
    cached pruned partitions with no Python hook). With prune=True,
    run exactly one filter shape per load — re-executions are fine,
    a different shape on the same token falls back to the full list
    automatically. Predicate-driven pruned reads with no such
    contract belong on read_table_where, whose pruning never rides
    Spark-cached scan state."""
    register(spark)
    opts = {
        "version": str(version) if version is not None else None,
        "ref": ref,
        "timestamp_as_of": (
            str(timestamp_as_of) if timestamp_as_of is not None else None
        ),
    }
    given = {k: v for k, v in opts.items() if v is not None}
    if len(given) > 1:
        raise ValueError(
            "give only one of version / ref / timestamp_as_of"
        )
    if prune:
        given["pushdown_scan_token"] = f"rt-{uuid.uuid4().hex}"
    _root, selector = _resolve_version({"path": table_root, **given})
    reader = (
        spark.read.format(FORMAT_NAME)
        .schema(table_schema(table_root, selector))
        .option("path", table_root)
    )
    for k, v in given.items():
        reader = reader.option(k, v)
    return reader.load()
