"""Iceberg-style snapshot log: versioned atomic table states, time
travel, and compaction that never deletes what a reader might hold.

The swap-manifest path (executor/reader) makes IN-PLACE compaction
safe on object stores; this module is the next rung: a tiny log of
COMPLETE table states under `<root>/_snapshots/v<NNNNNNNNNNNN>.json`.
Each snapshot names an immutable manifest listing every live data
file (relative path + size) plus lineage metadata. Commit is a
temp-write + hard link onto the next version number — link-if-absent
is the optimistic-concurrency token, so two concurrent committers can
both win consecutive numbers but never clobber each other (the loser
re-reads and retries).

Under the log, compaction becomes append-only (`snapshot_compact`):
rewritten files land beside the old ones under fresh uuid names, the
new snapshot references only the new set, and the old files stay on
disk — invisible to snapshot-resolved readers but fully readable via
any retained older version (`read_table_at`). Physical deletion is
deferred to `expire_snapshots`, which drops only files referenced
exclusively by expired versions. A crash anywhere leaves either the
old snapshot authoritative (unreferenced new files are garbage, swept
by expire) or the new one committed — readers can never observe a
mixed file set, with no reconcile step at all.

Generalizes the reference's implicit reliance on HBase's store-file
manifest for read-during-compaction safety (QHBaseCompact.java flows
2-3: compact + poll while scans continue) to bare parquet trees.
"""

from __future__ import annotations

import hashlib
import json
import os
import posixpath
import re
import shutil
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_compact_spark.compaction import executor
from hbase_compact_spark.compaction.executor import (
    _arrow_kernel,
    _fingerprint,
    _local_root,
)

SNAPSHOT_DIR = "_snapshots"
MANIFEST_SUBDIR = "manifests"
REFS_SUBDIR = "refs"
DELETES_SUBDIR = "deletes"
# row-level changelog artifacts of COW rewrite commits (Delta CDF's
# _change_data move): `_snapshots/changes/c-<uuid>/{deletes,inserts}`
CHANGES_SUBDIR = "changes"
# delete-entry kind is the name prefix: `d-` positional parquet
# files, `e-` equality-delete dirs (keys/ + scope/ parquet subdirs)
EQ_DELETE_PREFIX = "e-"

# Merge-on-read: positional delete files ((relpath, pos) parquet under
# _snapshots/deletes/) anti-join the data scan at read time. Below
# this many total pending entries the anti-join broadcasts the delete
# set (one hash table per executor, zero extra shuffle on the data
# side); above it, a plain shuffled anti-join — both exact. Env-
# overridable so tests can force the shuffle branch.
MOR_BROADCAST_ROWS = int(
    os.environ.get("HCS_MOR_BROADCAST_ROWS", 4_000_000)
)

# file counts above this prune via a distributed manifest scan instead
# of a driver loop (scan_plan)
DISTRIBUTED_PRUNE_THRESHOLD = 20_000

# immutable manifests (uuid-named, write-once) → a tiny global cache
# is sound; capped so huge tables don't pin memory. Guarded by a lock:
# the serve-path thread overlaps (similarity.ivfpq_index_topk,
# workload_llm.ann_index_pq) run read_table_at/mor_pending_keys
# concurrently, and the unsynchronized evict sequence could
# double-pop or StopIteration on an emptied dict (ADVICE r15).
import threading as _threading

_MANIFEST_CACHE: dict[str, dict] = {}
_MANIFEST_CACHE_CAP = 8
_MANIFEST_CACHE_LOCK = _threading.Lock()

MANIFEST_SCHEMA_DDL = (
    "relpath string, size long, stats string, blooms string"
)

# Hidden-partitioning layout marker (partition-spec evolution): files
# written under the current spec live in `_hp_<col>=<value>` dirs.
# The prefix deliberately collides with NO data column, and readers
# NEVER hive-infer these components — the spec's source columns stay
# real data columns inside every file (the Iceberg contract), so a
# table can change its partition spec without rewriting a byte:
# old files keep their layout, new writes use the new spec, reads
# union both generations through the manifest, and scan_plan prunes
# new-generation files from the path value alone.
PARTITION_DIR_PREFIX = "_hp_"

# Spark/Hive writes NULL partition values under this sentinel dir —
# unknown for pruning purposes (always keep)
_HIVE_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"


# ------------------------------------------------------- spec fields
# Hidden-partitioning TRANSFORMS (Iceberg's partition transforms): a
# spec entry is either a plain data column (identity) or a transform
# string — "days(ts)", "bucket(16, key)", "truncate(4, name)". The
# transform VALUE becomes the `_hp_<name>=<value>` path component;
# the derived dir name encodes the transform + width so two spec
# generations with different parameters never collide. The one design
# constraint is that every transform must be computable IDENTICALLY
# in the JVM (write path, whole-stage codegen) and in plain Python
# (metadata-only pruning over the manifest) — which is why bucket
# uses crc32 (zlib.crc32 == Spark's crc32 on UTF-8 bytes) rather
# than Iceberg's murmur3 (not in the Python stdlib).


class PartitionField(NamedTuple):
    name: str            # `_hp_<name>=...` dir base name
    source: str          # the data column the value derives from
    transform: str       # identity | days | bucket | truncate
    param: int | None    # bucket count / truncate width


_TRANSFORM_RE = re.compile(
    r"^(years|days|hours|months|bucket|truncate)\s*\(\s*(?:(\d+)\s*,\s*)?"
    r"([A-Za-z_][A-Za-z0-9_]*)\s*\)$"
)

# time-granularity transforms share one code path: the dir value is a
# prefix of the ISO timestamp rendering, so lexicographic order IS
# time order at every granularity and the same range-derivation rule
# applies (years=4 chars 'yyyy', months=7 'yyyy-MM', days=10,
# hours=13 'yyyy-MM-dd HH')
_TIME_TRANSFORMS = {"years": 4, "months": 7, "days": 10, "hours": 13}


def parse_partition_field(raw: str) -> PartitionField:
    """One spec entry -> PartitionField. Plain names are identity
    (dir name == column, the pre-transform behavior, so existing
    specs parse unchanged)."""
    raw = raw.strip()
    if "(" not in raw:
        return PartitionField(raw, raw, "identity", None)
    m = _TRANSFORM_RE.match(raw)
    if not m:
        raise ValueError(
            f"unparseable partition transform {raw!r} — expected "
            "'col', 'years(col)', 'months(col)', 'days(col)', "
            "'hours(col)', 'bucket(N, col)' or 'truncate(W, col)'"
        )
    tr, param, col = m.group(1), m.group(2), m.group(3)
    if tr in _TIME_TRANSFORMS:
        if param is not None:
            raise ValueError(f"{tr}() takes no width: {raw!r}")
        return PartitionField(f"{col}_{tr[:-1]}", col, tr, None)
    if param is None or int(param) < 1:
        raise ValueError(f"{tr}() needs a positive parameter: {raw!r}")
    n = int(param)
    suffix = f"bucket{n}" if tr == "bucket" else f"trunc{n}"
    return PartitionField(f"{col}_{suffix}", col, tr, n)


def _partition_field_expr(df: DataFrame, fld: PartitionField):
    """The JVM-side (codegen) expression computing a spec field's
    path value for every row of `df` — MUST stay value-identical to
    `_transform_bound` below, which computes the same function
    driver-side for pruning."""
    from pyspark.sql.types import StringType

    src = F.col(fld.source)
    if fld.transform == "identity":
        return src.cast("string")
    if fld.transform in _TIME_TRANSFORMS:
        # session tz is UTC engine-wide; ISO prefixes render so that
        # lexicographic order IS time order at every granularity
        fmt = {"years": "yyyy", "months": "yyyy-MM",
               "days": "yyyy-MM-dd", "hours": "yyyy-MM-dd HH"}[
            fld.transform
        ]
        return F.date_format(src.cast("timestamp"), fmt)
    if fld.transform == "bucket":
        return F.pmod(F.crc32(src.cast("string")), F.lit(fld.param)).cast(
            "string"
        )
    # truncate: prefix for strings, floor-to-multiple for integers
    # (pmod keeps negatives correct: -7 trunc 4 -> -8, like Iceberg);
    # decimals floor in UNSCALED units (Iceberg's TruncateDecimal:
    # step = W * 10^-scale, so truncate(50, decimal(9,2)) buckets by
    # 0.50) — the rendered dir value keeps the column scale
    from pyspark.sql.types import DecimalType

    dt = df.schema[fld.source].dataType
    if isinstance(dt, StringType):
        return F.substring(src, 1, fld.param)
    if isinstance(dt, DecimalType):
        import decimal as _dec

        step = _dec.Decimal(fld.param).scaleb(-dt.scale)
        return (src - F.pmod(src, F.lit(step))).cast(dt).cast("string")
    return (src - F.pmod(src, F.lit(fld.param))).cast("string")


def _transform_bound(
    fld: PartitionField,
    value,
    scale: int | None = None,
    source_type: str | None = None,
):
    """Driver-side transform of ONE predicate bound into the field's
    path-value domain, or None when the bound's type cannot be
    transformed soundly (the derived predicate is then simply not
    added — pruning stays conservative). days/truncate are monotonic,
    so transformed range bounds stay valid range bounds; bucket is
    not monotonic and is only ever called for equality probes.
    `scale` is the source column's decimal scale (needed to render a
    truncated Decimal bound exactly like Spark's string cast).

    `source_type` ("string" | "int" | "decimal" | None=unknown) is
    the COLUMN's kind: truncate only derives when the probe can be
    carried into the column's own truncation domain. The r13 fuzz
    suite (tests/test_transform_prune_fuzz.py) found the cross-domain
    hole this closes: an INT probe on a truncate(50, decimal(9,2))
    column used to floor in integer units (1 → 0) while the dirs
    floor in 0.50 steps ('0.50', '1.00'), silently pruning in-range
    files; likewise an int probe against string-prefix dirs compares
    lexicographically against the wrong domain. Unknown column kind
    with a probe of a DIFFERENT python type than the rendering
    assumes now refuses instead of guessing."""
    import datetime

    if value is None:
        return None
    if fld.transform in _TIME_TRANSFORMS:
        n = _TIME_TRANSFORMS[fld.transform]
        if isinstance(value, datetime.datetime):
            if value.tzinfo is not None:
                # session tz is UTC engine-wide; an aware bound must be
                # rendered in UTC or the prefix lands in the wrong dir
                value = value.astimezone(datetime.timezone.utc)
            return value.strftime("%Y-%m-%d %H:%M:%S")[:n]
        if isinstance(value, datetime.date):
            # a date bound means midnight in both roles: as a lower
            # bound every in-range ts has prefix >= it, as an upper
            # bound Spark compares the midnight cast the same way
            return (value.isoformat() + " 00")[:n]
        if isinstance(value, str):
            # dir values use the CANONICAL 'yyyy-MM-dd HH:mm:ss'
            # rendering; a raw slice of a Spark-accepted but
            # non-canonical string ('2024-01-13T05', '2024-3-15')
            # compares lexicographically against the wrong dirs and
            # silently prunes in-range days — parse and re-render, and
            # stay conservative (no derived predicate) on parse failure
            try:
                dt = datetime.datetime.fromisoformat(value.strip())
            except ValueError:
                return None
            if dt.tzinfo is not None:
                dt = dt.astimezone(datetime.timezone.utc)
            return dt.strftime("%Y-%m-%d %H:%M:%S")[:n]
        return None
    if fld.transform == "bucket":
        import zlib

        # the layout dirs hold pmod(crc32(cast(src AS string)), N) —
        # only derive when the Python rendering of the probe is
        # PROVABLY byte-identical to Spark's string cast: str for
        # string probes, decimal digits for ints (bool is an int
        # subclass but renders 'True' vs Spark's 'true' — never
        # derive), and integral-valued float probes coerced to int
        # (Spark casts int column 251 to '251', never '251.0').
        # Anything else (float, Decimal, date) renders differently
        # ('1.0E8' vs '100000000.0') and would prune the WRONG bucket.
        if isinstance(value, bool):
            return None
        if isinstance(value, float):
            if not value.is_integer():
                return None
            value = int(value)
        if not isinstance(value, (str, int)):
            return None
        return str(zlib.crc32(str(value).encode("utf-8")) % fld.param)
    if fld.transform == "truncate":
        import decimal as _dec

        if isinstance(value, bool):
            return None
        if isinstance(value, str):
            # prefix truncation lives in the STRING domain only: an
            # int-column dir ('200') compared against a string bound
            # sorts lexicographically, not numerically
            return (
                value[: fld.param]
                if source_type in (None, "string")
                else None
            )
        if isinstance(value, int) and source_type == "decimal":
            # carry the int probe into the column's decimal step
            # domain (1 on truncate(50, dec(9,2)) buckets at '1.00',
            # not integer-floor 0)
            value = _dec.Decimal(value)
        elif isinstance(value, int):
            return (
                value - (value % fld.param)
                if source_type in (None, "int")
                else None
            )
        if isinstance(value, _dec.Decimal) and scale is not None:
            # only derive when the probe is representable at the
            # column scale — otherwise the rendering (and the row
            # match itself) is cast-dependent; stay conservative
            exp = -value.as_tuple().exponent
            if exp > scale:
                return None
            step = _dec.Decimal(fld.param).scaleb(-scale)
            # Decimal % is C-style (sign of dividend); Spark's pmod
            # floors — normalize so negatives bucket identically.
            # Return the DECIMAL, not its string: decimal renderings
            # are not lexicographically ordered ('10.50' sorts inside
            # ['1.00','1.50']), so the path comparator must compare
            # numerically (_path_value_disjoint parses the dir value)
            r = value % step
            if r < 0:
                r += step
            return (value - r).quantize(_dec.Decimal(1).scaleb(-scale))
        return None
    return str(value)  # identity


def _spec_derived_predicates(
    log: SnapshotLog, version: int, norm: dict[str, tuple]
) -> dict[str, tuple]:
    """Predicates on spec SOURCE columns, re-expressed in the derived
    `_hp_` dir-name domain so `_row_survives` prunes transform
    layouts from the path alone — `days(ts)` range scans open only
    matching day dirs, `bucket(N, k)` point lookups open 1/N of the
    spec generation, zero stats required. Identity fields need no
    derivation (dir name == column). Returns {} when the table has
    no spec or no predicate touches a spec source."""
    spec = partition_spec_of(log, version)
    if not spec:
        return {}

    def _source_type(source: str) -> tuple[str | None, int | None]:
        # (column kind, decimal scale): the truncate/bucket derivation
        # is only sound when the probe can be carried into the
        # column's OWN value domain (r13 fuzz finding — see
        # _transform_bound), so the kind gates it. Declared schema
        # first, parquet footer of one snapshot file as the fallback
        # (tables that never declared a schema blob); unknown kind =
        # None = derive only for same-python-type probes.
        from pyspark.sql.types import (
            ByteType,
            DecimalType,
            IntegerType,
            LongType,
            ShortType,
            StringType,
            StructType,
        )

        blob = log.read(version).get("schema")
        if blob:
            try:
                struct = StructType.fromJson(blob["fields"])
                dt = struct[source].dataType
            except (KeyError, TypeError, ValueError):
                return None, None
            if isinstance(dt, StringType):
                return "string", None
            if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
                return "int", None
            if isinstance(dt, DecimalType):
                return "decimal", dt.scale
            return None, None
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq

            rel = log.files(version)[0][0]
            arrow = pq.read_schema(
                posixpath.join(log.root_local, rel)
            )
            t = arrow.field(source).type
            if pa.types.is_string(t) or pa.types.is_large_string(t):
                return "string", None
            if pa.types.is_integer(t):
                return "int", None
            if pa.types.is_decimal(t):
                return "decimal", t.scale
        except Exception:
            return None, None
        return None, None

    out: dict[str, tuple] = {}
    for raw in spec["partition_by"]:
        fld = parse_partition_field(raw)
        if fld.transform == "identity" or fld.source not in norm:
            continue
        lo, hi = norm[fld.source]
        kind = scale = None
        if fld.transform in ("truncate", "bucket"):
            kind, scale = _source_type(fld.source)
        if fld.transform == "bucket":
            if lo is not None and lo == hi:  # equality only
                # same cross-domain guard as truncate: an int probe
                # against a STRING column matches non-canonical rows
                # ('0251' = 251 after cast) whose bucket dir is NOT
                # crc32('251') — derive only same-domain probes
                probe_kind = (
                    "string"
                    if isinstance(lo, str)
                    else "int"
                    if isinstance(lo, (int, float))
                    and not isinstance(lo, bool)
                    else None
                )
                if kind is None or probe_kind == kind:
                    b = _transform_bound(fld, lo)
                    if b is not None:
                        out[fld.name] = (b, b)
            continue
        dlo = _transform_bound(fld, lo, scale, source_type=kind)
        dhi = _transform_bound(fld, hi, scale, source_type=kind)
        if dlo is not None or dhi is not None:
            out[fld.name] = (dlo, dhi)
    return out


def _hive_keys(relpath: str) -> list[str]:
    """The keys of a relpath's LEGACY hive `k=v` directory components,
    in path order; `_hp_` spec dirs are layout, not hive columns."""
    return [
        comp.split("=", 1)[0]
        for comp in posixpath.dirname(relpath).split("/")
        if "=" in comp and not comp.startswith(PARTITION_DIR_PREFIX)
    ]


def _path_partition_values(relpath: str) -> dict[str, str]:
    """{column: raw string value} parsed from a relpath's
    `_hp_<col>=<value>` directory components (percent-decoded — the
    writer encodes exactly like hive layouts)."""
    from urllib.parse import unquote

    out: dict[str, str] = {}
    for comp in posixpath.dirname(relpath).split("/"):
        if comp.startswith(PARTITION_DIR_PREFIX) and "=" in comp:
            k, v = comp[len(PARTITION_DIR_PREFIX):].split("=", 1)
            if v != _HIVE_NULL_DIR:
                out[k] = unquote(v)
    return out


def _path_value_disjoint(raw: str, lo, hi) -> bool:
    """True only when the path-encoded partition value PROVABLY
    misses [lo, hi]. The path stores strings; compare in the bound's
    own domain (numeric bounds -> numeric compare) and keep the file
    on any conversion failure — pruning must stay conservative."""
    import decimal as _dec2

    bound = lo if lo is not None else hi
    if bound is None:
        return False
    if isinstance(bound, bool) or isinstance(bound, str):
        val: object = raw
    elif isinstance(bound, _dec2.Decimal):
        # decimal dir values compare NUMERICALLY — their string
        # renderings are not lexicographically ordered
        try:
            val = _dec2.Decimal(raw)
        except _dec2.InvalidOperation:
            return False
    elif isinstance(bound, (int, float)):
        # int bounds compare in int space first: float(raw) rounds
        # int64 path values above 2^53, which could falsely prune the
        # file holding an exact large-integer match (ADVICE r9)
        try:
            val = int(raw) if isinstance(bound, int) else float(raw)
        except ValueError:
            try:
                val = float(raw)
            except ValueError:
                return False
    else:
        return False  # timestamps/decimals: stats pruning covers them
    try:
        if lo is not None and val < lo:
            return True
        if hi is not None and val > hi:
            return True
    except TypeError:
        return False
    return False


def _manifest_arrow_schema():
    """MANIFEST_SCHEMA_DDL as a pyarrow schema."""
    import pyarrow as pa

    return pa.schema(
        [
            ("relpath", pa.string()),
            ("size", pa.int64()),
            ("stats", pa.string()),
            ("blooms", pa.string()),
        ]
    )


def _read_manifest_table(local_path: str, columns=None):
    """pyarrow table of a manifest file/dir. A ZERO-ROW manifest
    (bootstrap of an empty table) may have been written by Spark as a
    directory with no part files at all — surface that as an empty
    table in the manifest schema rather than a read error."""
    import os as _os

    import pyarrow.parquet as pq

    if _os.path.isdir(local_path) and not any(
        n.endswith(".parquet") for n in _os.listdir(local_path)
    ):
        empty = _manifest_arrow_schema().empty_table()
        return empty.select(columns) if columns else empty
    return pq.read_table(local_path, columns=columns)


def _load_manifest_files(local_path: str) -> list[tuple[str, int]]:
    """Names+sizes ONLY — a column-pruned manifest read for the
    files() accessor: the stats/bloom payload columns are never
    materialized, so listing a bloom-annotated 10⁶-file table costs
    megabytes of names on the driver, not gigabytes of bitsets."""
    with _MANIFEST_CACHE_LOCK:
        full = _MANIFEST_CACHE.get(local_path)
        if full is not None:
            return full["files"]
        key = local_path + "#files"
        hit = _MANIFEST_CACHE.get(key)
        if hit is not None:
            return hit
    tbl = _read_manifest_table(local_path, columns=["relpath", "size"])
    files = sorted(
        zip(
            tbl.column("relpath").to_pylist(),
            (int(x) for x in tbl.column("size").to_pylist()),
        )
    )
    with _MANIFEST_CACHE_LOCK:
        while len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_CAP:
            _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
        _MANIFEST_CACHE[key] = files
    return files


def _load_manifest(local_path: str) -> dict:
    """Parsed manifest: {"files": [(relpath, size)], "stats": {...},
    "blooms": {...}}. `local_path` may be a single parquet file or a
    directory of part files (executor-written manifests). Cached —
    manifests are immutable by construction (uuid names, never
    rewritten)."""
    import json as _json

    with _MANIFEST_CACHE_LOCK:
        hit = _MANIFEST_CACHE.get(local_path)
        if hit is not None:
            return hit
    tbl = _read_manifest_table(local_path)
    files: list[tuple[str, int]] = []
    stats: dict[str, dict] = {}
    blooms: dict[str, dict] = {}
    rels = tbl.column("relpath").to_pylist()
    sizes = tbl.column("size").to_pylist()
    st_col = tbl.column("stats").to_pylist()
    bl_col = tbl.column("blooms").to_pylist()
    for rel, size, st, bl in zip(rels, sizes, st_col, bl_col):
        files.append((rel, int(size)))
        if st:
            stats[rel] = _json.loads(st)
        if bl:
            parsed = _json.loads(bl)
            if parsed:
                blooms[rel] = parsed
    files.sort()
    out = {"files": files, "stats": stats, "blooms": blooms}
    with _MANIFEST_CACHE_LOCK:
        while len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_CAP:
            _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
        _MANIFEST_CACHE[local_path] = out
    return out


def _remove_local(path: str) -> bool:
    """Remove a local directory tree, or a local file with the
    `.<name>.crc` checksum sidecar Hadoop's local filesystem writes
    beside each file Spark writes; returns whether `path` existed."""
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
        return True
    head, name = os.path.split(path)
    try:
        os.remove(os.path.join(head, f".{name}.crc"))
    except FileNotFoundError:
        pass
    try:
        os.remove(path)
    except FileNotFoundError:
        return False
    return True


def _land_files(
    tmp: str, root: str, part_rel: str, prefix: str
) -> list[tuple[str, int]]:
    """Move the parquet files of the local dir `tmp` (a Spark or
    kernel write, flat or in a partition-dir layout, which is kept)
    into `root/part_rel` as `<prefix>-<batch>-<i>.parquet`, each with
    its `.crc` sidecar, then remove `tmp`. Hidden names
    (executor._hidden) are skipped, and a file whose footer holds no
    row is dropped, not landed. Returns [(relpath, size)] of what
    landed; a failed rename raises, after removing what this call
    landed."""
    import pyarrow.parquet as pq

    batch = uuid.uuid4().hex[:10]
    out: list[tuple[str, int]] = []
    try:
        for d, dirs, names in os.walk(tmp):
            dirs[:] = sorted(n for n in dirs if not executor._hidden(n))
            sub = os.path.relpath(d, tmp)
            rel_dir = part_rel if sub == "." else posixpath.join(part_rel, sub)
            for name in sorted(names):
                src = os.path.join(d, name)
                if (
                    executor._hidden(name)
                    or not name.endswith(".parquet")
                    or pq.read_metadata(src).num_rows == 0
                ):
                    continue
                dest_name = f"{prefix}-{batch}-{len(out):05d}.parquet"
                rel = posixpath.join(rel_dir, dest_name)
                dest_dir = os.path.join(root, rel_dir)
                dest = os.path.join(dest_dir, dest_name)
                os.makedirs(dest_dir, exist_ok=True)
                os.rename(src, dest)
                out.append((rel, os.path.getsize(dest)))
                try:
                    os.rename(
                        os.path.join(d, f".{name}.crc"),
                        os.path.join(dest_dir, f".{dest_name}.crc"),
                    )
                except FileNotFoundError:
                    pass
    except BaseException:
        for rel, _ in out:
            _remove_local(os.path.join(root, rel))
        raise
    finally:
        _remove_local(tmp)
    return out


class SnapshotConflictError(RuntimeError):
    """The snapshot a commit was derived from is no longer the latest:
    a concurrent committer won the race. The caller must re-read the
    new latest snapshot, re-derive its file set, and retry — blindly
    re-claiming the next version number would commit a stale file
    list and silently drop the winner's files."""


class SnapshotLog:
    """The version log for one table root.

    Every `_snapshots/` metadata read and write (version JSONs, refs,
    manifests) is plain local-filesystem I/O — os + pyarrow on the
    root's path — so one class serves the driver AND a Python
    data-source worker with no py4j gateway (sources/snapshot_table.py,
    streaming/table_tail.py). `spark` may be None; only the Spark-only
    methods need it (`manifest_df`, `commit_current`, and
    `commit_append` past DISTRIBUTED_PRUNE_THRESHOLD files), and
    shared code (scan_plan) branches on it to skip the distributed
    manifest scan. Data files are os I/O too: the snapshot functions
    land, stat and delete them on `root_local`, the root's path as
    executor._local_root resolves it (a relative root against the
    JVM's working directory, as Spark resolves it). A root that rule
    maps to None (a remote scheme, a `file:` URI with an authority)
    raises here instead of being silently misread.

    Manifests and merge-on-read delete entries are WRITTEN on the
    driver too while they are bounded, by the caps the read path
    already sizes driver memory with: a child manifest up to
    DISTRIBUTED_PRUNE_THRESHOLD files (scan_plan loads a manifest
    that size on the driver for every read), equality keys up to
    MERGE_KEY_PROBE_CAP rows (the merge probe collects that many),
    entry retirement up to MOR_BROADCAST_ROWS pending rows (the read
    broadcasts that many). Past a cap the same metadata is written
    by a distributed Spark job."""

    def __init__(self, spark: SparkSession | None, table_root: str):
        self.root_local = _local_root(table_root)
        if self.root_local is None:
            raise ValueError(
                f"SnapshotLog is local-filesystem only; got {table_root!r}"
            )
        self.spark = spark
        self.table_root = table_root
        self.log_dir = posixpath.join(table_root, SNAPSHOT_DIR)
        self._local_log = posixpath.join(self.root_local, SNAPSHOT_DIR)

    def _local(self, *parts: str) -> str:
        return posixpath.join(self._local_log, *parts)

    def _v(self, version: int | None) -> int:
        """`version`, or the latest one when None."""
        v = self.latest() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no snapshots under {self.log_dir}")
        return v

    @staticmethod
    def _write_tmp(directory: str, payload: dict) -> str:
        """A complete JSON under a `_tmp-` name — readers only ever
        see the names it is later linked or renamed to."""
        tmp = posixpath.join(directory, f"_tmp-{uuid.uuid4().hex[:10]}.json")
        with open(tmp, "w") as f:
            json.dump(payload, f)
        return tmp

    # ---------------------------------------------------------- reads
    def versions(self) -> list[int]:
        try:
            names = os.listdir(self._local_log)
        except FileNotFoundError:
            return []
        return sorted(
            int(n[1:-5])
            for n in names
            if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()
        )

    def latest(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def read(self, version: int) -> dict:
        with open(self._local(f"v{version:012d}.json")) as f:
            return json.load(f)

    # ------------------------------------------------------ named refs
    # Iceberg-style refs: human-stable names for snapshot versions.
    # TAGS are immutable (a release / audit anchor); BRANCHES move
    # (e.g. "main" follows the latest verified version). Both PIN
    # their target against expire_snapshots — a referenced version's
    # files cannot be reclaimed until the ref is dropped.

    @property
    def refs_dir(self) -> str:
        return posixpath.join(self.log_dir, REFS_SUBDIR)

    def refs(self) -> dict[str, dict]:
        """{name: {"version", "kind", "created_at"}} of every ref."""
        d = self._local(REFS_SUBDIR)
        try:
            names = os.listdir(d)
        except FileNotFoundError:
            return {}
        out = {}
        for name in names:
            if name.endswith(".json") and not name.startswith("_tmp-"):
                with open(posixpath.join(d, name)) as f:
                    out[name[:-5]] = json.load(f)
        return out

    def set_ref(
        self, name: str, version: int | None = None, *, kind: str = "tag"
    ) -> dict:
        """Create (or, for a branch, move) the named ref. Tags are
        immutable: re-tagging the SAME version is an idempotent no-op,
        any other target raises — drop_ref first if you truly mean it.
        A new ref is published by hard-linking a complete temp file
        into place (fails if the name exists, like the version
        JSONs); a branch move is one rename(2) over the old pointer,
        so readers see the old target or the new one and the pointer
        is never absent."""
        if kind not in ("tag", "branch"):
            raise ValueError(f"ref kind must be tag or branch, got {kind!r}")
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name):
            raise ValueError(f"invalid ref name {name!r}")
        v = self.latest() if version is None else int(version)
        if v not in self.versions():
            raise ValueError(f"ref target v{v} is not a committed snapshot")
        existing = self.refs().get(name)
        if existing is not None:
            if int(existing["version"]) == v and existing.get("kind") == kind:
                return existing  # idempotent same-target set: no republish
            if existing.get("kind", "tag") == "tag" or kind == "tag":
                raise ValueError(
                    f"ref {name!r} already points at "
                    f"v{existing['version']} as a {existing.get('kind')} — "
                    "tags are immutable; drop_ref first"
                )
        d = self._local(REFS_SUBDIR)
        os.makedirs(d, exist_ok=True)
        payload = {
            "name": name,
            "version": v,
            "kind": kind,
            "created_at": int(time.time()),
        }
        tmp = self._write_tmp(d, payload)
        dest = posixpath.join(d, f"{name}.json")
        if existing is not None:
            os.replace(tmp, dest)
            return payload
        try:
            os.link(tmp, dest)
        except FileExistsError:
            raise RuntimeError(
                f"could not publish ref {name!r} (lost a race?)"
            ) from None
        finally:
            os.unlink(tmp)
        return payload

    def drop_ref(self, name: str) -> bool:
        try:
            os.remove(self._local(REFS_SUBDIR, f"{name}.json"))
        except FileNotFoundError:
            return False
        return True

    # ------------------------------------------ merge-on-read deletes
    @property
    def deletes_dir(self) -> str:
        return posixpath.join(self.log_dir, DELETES_SUBDIR)

    def delete_files(self, version: int | None = None) -> list[tuple[str, int]]:
        """[(name, n)] of the merge-on-read delete entries applying to
        a snapshot (Iceberg v2), kind-tagged by name prefix: a `d-`
        entry is a POSITIONAL delete parquet of (relpath string, pos
        long) rows (n = entry rows); an `e-` entry is an EQUALITY
        delete dir of keys/ + scope/ parquet (n = key rows). Both live
        under `_snapshots/deletes/` and subtract rows from the listed
        data files at read time. Empty for COW-only tables — the read
        path then skips the subtraction entirely."""
        return [
            (str(n), int(r))
            for n, r in self.read(self._v(version)).get("delete_files") or []
        ]

    def resolve_ref(self, name: str) -> int:
        ref = self.refs().get(name)
        if ref is None:
            raise FileNotFoundError(
                f"no ref {name!r} under {self.refs_dir} "
                f"(have: {sorted(self.refs())})"
            )
        return int(ref["version"])

    # ------------------------------------------------- manifest layer
    @property
    def manifest_dir(self) -> str:
        return posixpath.join(self.log_dir, MANIFEST_SUBDIR)

    def _manifest_local(self, name: str) -> str:
        """Local filesystem path of a manifest file/dir."""
        return self._local(MANIFEST_SUBDIR, name)

    def _resolve(self, version: int) -> dict:
        """{"files", "stats", "blooms"} of a snapshot: the per-file
        metadata lives in an immutable parquet manifest, so the
        version JSON stays O(1) in file count."""
        return _load_manifest(
            self._manifest_local(self.read(version)["manifest"])
        )

    def files(self, version: int | None = None) -> list[tuple[str, int]]:
        """[(relative path, size)] of the given (default: latest)
        snapshot. Column-pruned: the stats/bloom payload columns are
        never read, so this really is names+sizes only on the driver
        at any file count."""
        name = self.read(self._v(version))["manifest"]
        return list(_load_manifest_files(self._manifest_local(name)))

    def blooms(self, version: int | None = None) -> dict[str, dict]:
        """Per-file bloom filters {relpath: {col: bloom}} of the given
        (default: latest) snapshot; empty if never annotated."""
        return self._resolve(self._v(version))["blooms"]

    def manifest_df(self, version: int | None = None) -> DataFrame:
        """The snapshot's per-file metadata as a Spark DataFrame
        (relpath, size, stats, blooms — the JSON-string payload
        columns) — the DISTRIBUTED planning path: manifest rows never
        pass through the driver."""
        name = self.read(self._v(version))["manifest"]
        return self.spark.read.schema(MANIFEST_SCHEMA_DDL).parquet(
            posixpath.join(self.manifest_dir, name)
        )

    def manifest_table(self, version: int):
        """The version's manifest as a pyarrow table in canonical
        (relpath, size, stats, blooms) shape — shard directories are
        read whole. This is the carry payload for worker-side commits:
        stats/bloom annotations on surviving files ride through
        untouched."""
        tbl = _read_manifest_table(
            self._manifest_local(self.read(version)["manifest"])
        )
        return tbl.select(["relpath", "size", "stats", "blooms"])

    def write_manifest(
        self,
        files: list[tuple[str, int]],
        stats: dict[str, dict] | None = None,
        blooms: dict[str, dict] | None = None,
    ) -> str:
        """Write one immutable manifest parquet from driver-side lists
        and return its name. For executor-built manifests (stats/bloom
        passes at scale) write a DataFrame in MANIFEST_SCHEMA_DDL shape
        under `manifest_dir/<m-uuid>` instead and pass that name to
        commit() — the payload then never visits the driver."""
        import pyarrow as pa

        stats = stats or {}
        blooms = blooms or {}
        tbl = pa.table(
            {
                "relpath": [p for p, _ in files],
                "size": [int(s) for _, s in files],
                "stats": [
                    json.dumps(stats[p]) if p in stats else None
                    for p, _ in files
                ],
                "blooms": [
                    json.dumps(blooms[p]) if p in blooms else None
                    for p, _ in files
                ],
            },
            schema=_manifest_arrow_schema(),
        )
        return self.write_manifest_table(tbl)

    def write_manifest_table(self, tbl) -> str:
        """Write a pyarrow table in manifest shape as one immutable
        manifest parquet and return its name (pass it to commit)."""
        import pyarrow.parquet as pq

        name = f"m-{uuid.uuid4().hex[:12]}.parquet"
        os.makedirs(self._local(MANIFEST_SUBDIR), exist_ok=True)
        pq.write_table(tbl, self._manifest_local(name))
        return name

    def commit_append(
        self, added: list[tuple[str, int]], op: str, parent: int
    ) -> int:
        """Append-only commit: child manifest = the parent's manifest
        rows (stats/bloom payloads carried untouched) UNION the added
        entries, each annotated with footer stats and blooms for the
        columns the parent tracks — `_carried_manifest` keeping every
        parent row. Up to DISTRIBUTED_PRUNE_THRESHOLD files the
        manifest is built and written on the driver with pyarrow and
        no Spark job; past it, on executors. Raises
        SnapshotConflictError like commit()."""
        name = _carried_manifest(self.spark, self, parent, None, added)
        return self.commit(
            None,
            op=op,
            parent=parent,
            schema=self.read(parent).get("schema"),
            manifest=name,
        )

    def copy_manifest(self, version: int) -> str:
        """Byte-copy a version's manifest under a fresh name, for
        METADATA-ONLY commits (schema evolution): manifests stay 1:1
        with versions (expire can always delete a dropped version's
        manifest), and the copy is a filesystem transfer of the
        encoded parquet — no parse, no per-file driver work."""
        name = self.read(version)["manifest"]
        suffix = ".parquet" if name.endswith(".parquet") else ""
        new = f"m-{uuid.uuid4().hex[:12]}{suffix}"
        src, dst = self._manifest_local(name), self._manifest_local(new)
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copyfile(src, dst)
        return new

    def manifest_summary(self, name: str) -> tuple[int, int]:
        """(n_files, total_bytes) of a manifest — column-pruned read,
        only the size column is materialized."""
        import pyarrow.compute as pc

        tbl = _read_manifest_table(
            self._manifest_local(name), columns=["size"]
        )
        return tbl.num_rows, int(pc.sum(tbl.column("size")).as_py() or 0)

    def schema(self, version: int | None = None):
        """(StructType, partition_cols) recorded on the given
        (default: latest) snapshot. Every non-empty version commit()
        writes records one, so (None, []) means a version committed
        before versions recorded their schema (or one listing no
        readable file) — readers then fall back to parquet inference."""
        from pyspark.sql.types import StructType

        blob = self.read(self._v(version)).get("schema")
        if not blob:
            return None, []
        return StructType.fromJson(blob["fields"]), list(blob["partition_cols"])

    def schema_blob(self, version: int) -> dict | None:
        """The version's recorded schema blob, else (a version
        committed before versions recorded one) the blob Spark infers
        for its files."""
        blob = self.read(version).get("schema") or self._infer_schema(
            [p for p, _ in self.files(version)]
        )
        if blob is None:
            raise FileNotFoundError(
                f"v{version} under {self.table_root} records no schema "
                "and lists no readable file"
            )
        return blob

    def _infer_schema(self, relpaths: list[str]) -> dict | None:
        """Schema blob for a file list whose writer declared none: the
        schema Spark infers reading it (the schemaless read path's
        result). Hive-style `k=v` directory components are the
        partition columns, recorded as strings — the type the
        snapshot_table source and the table tail give path values;
        `_hp_` spec dirs are layout, their values are data columns
        inside the files. None when Spark cannot read the files
        (synthetic entries, unsupported physical types)."""
        from pyspark.errors import AnalysisException
        from pyspark.sql.types import StringType, StructField, StructType

        if not relpaths:
            return None
        pcols: list[str] = []
        for relpath in relpaths:
            for name in _hive_keys(relpath):
                if name not in pcols:
                    pcols.append(name)
        try:
            inferred = _read_relpaths(
                self.spark, self.table_root, relpaths, None
            ).schema
        except AnalysisException:
            return None
        fields = [
            StructField(f.name, StringType(), True) if f.name in pcols else f
            for f in inferred.fields
        ]
        return {"fields": StructType(fields).jsonValue(), "partition_cols": pcols}

    def stats(self, version: int | None = None) -> dict[str, dict]:
        """Per-file column stats of the given (default: latest)
        snapshot: {relpath: {"rows": n, "cols": {col: [min, max]}}}.
        Empty if the snapshot was never annotated."""
        return self._resolve(self._v(version))["stats"]

    # --------------------------------------------------------- writes
    def commit(
        self,
        files: list[tuple[str, int]] | None,
        op: str,
        parent: int | None = None,
        stats: dict[str, dict] | None = None,
        schema: dict | None = None,
        blooms: dict[str, dict] | None = None,
        manifest: str | None = None,
        extra: dict | None = None,
    ) -> int:
        """Atomically claim the next version. The only commit point is
        `os.link(tmp, v<N>.json)`: a hard link fails when the name
        exists, so it is a rename-if-absent (a plain rename(2) would
        silently overwrite the winner). With an EXPLICIT `parent`
        (every caller whose file list was derived from that snapshot;
        0 = derived from the empty table, so exactly v1), losing the
        race raises SnapshotConflictError instead of retrying: the
        stale file list would silently drop the winner's files. Only
        parent-less commits (bootstrap-style full listings, which are
        recomputed from disk) retry on the next number.

        Per-file metadata is SPILLED to an immutable parquet manifest
        (`manifests/m-<uuid>`): the version JSON carries only the
        manifest name plus O(1) summary counts, so its size does not
        grow with file count — the Iceberg snapshot/manifest split.
        Callers with driver-side lists pass `files`/`stats`/`blooms`
        (one manifest is written here); callers that built the
        manifest elsewhere (an executor DataFrame write in
        MANIFEST_SCHEMA_DDL shape, or write_manifest_table) pass its
        name via `manifest` with files=None. On a lost race the
        manifest is removed: it belongs to no committed version.

        The table schema is table state too: callers carry the
        parent's. When neither the caller nor the parent has one and
        the version lists files, the schema Spark infers for them is
        recorded here, so every later version carries a declared
        schema and no read plans a footer-inference job."""
        os.makedirs(self._local_log, exist_ok=True)
        if manifest is None:
            if files is None:
                raise ValueError("commit needs files or a manifest")
            manifest = self.write_manifest(files, stats, blooms)
            n_files = len(files)
            total_bytes = sum(int(s) for _, s in files)
        else:
            n_files, total_bytes = self.manifest_summary(manifest)
        pv = parent if parent is not None else self.latest()
        pv_meta = self.read(pv) if pv else {}
        if (
            schema is None
            and n_files
            and self.spark is not None
            and not pv_meta.get("schema")
        ):
            listed = _load_manifest_files(self._manifest_local(manifest))
            schema = self._infer_schema([p for p, _ in listed])
        payload = {
            "op": op,
            "parent": parent or None,
            "committed_at": int(time.time()),
            "manifest": manifest,
            "n_files": n_files,
            "total_bytes": total_bytes,
        }
        if schema:
            payload["schema"] = schema
        if extra:
            for k in extra:
                if k in payload:
                    raise ValueError(f"extra key {k!r} shadows core metadata")
            payload.update(extra)
        if "delete_files" not in payload:
            # pending MOR delete files are TABLE state, like schema:
            # every commit that does not explicitly settle them (a
            # rewrite retiring consumed entries passes delete_files in
            # `extra`, possibly []) carries the parent's list forward —
            # otherwise an ordinary append would silently resurrect
            # logically-deleted rows.
            carried = pv_meta.get("delete_files")
            if carried:
                payload["delete_files"] = carried

        def _conflict() -> SnapshotConflictError:
            _remove_local(self._manifest_local(manifest))
            return SnapshotConflictError(
                f"commit derived from v{parent} but v{parent + 1} already "
                f"exists in {self.log_dir}; re-read and re-derive"
            )

        for _ in range(50):
            latest = self.latest() or 0
            if parent is None:
                n = latest + 1
                payload["parent"] = latest or None
            elif latest > parent:
                # newer versions exist even when v(parent+1) itself
                # was expired (a tag can pin the parent): never claim
                # a number below the head
                raise _conflict()
            else:
                n = parent + 1
            payload["version"] = n
            tmp = self._write_tmp(self._local_log, payload)
            try:
                os.link(tmp, self._local(f"v{n:012d}.json"))
                return n
            except FileExistsError:
                if parent is not None:
                    raise _conflict() from None
            finally:
                os.unlink(tmp)
        _remove_local(self._manifest_local(manifest))
        raise RuntimeError(f"could not claim a snapshot version in {self.log_dir}")

    def bootstrap(self) -> int:
        """v1 = the table's current physical listing (no-op if the log
        already exists)."""
        v = self.latest()
        if v is not None:
            return v
        return self.commit_current(op="bootstrap", parent=None)

    def commit_current(self, op: str, parent: int | None = None) -> int:
        """Commit the table's CURRENT physical listing as the next
        version — bootstrap's listing move, reusable after
        out-of-band data lands under the root (e.g. an appended
        directory): the new snapshot references everything on disk.
        The listing (executor.listing_df: the driver's walk under its
        cap on a local root, else the distributed enumeration) flows
        straight into the manifest parquet."""
        from hbase_compact_spark.compaction.executor import listing_df

        df = listing_df(self.spark, self.table_root).select(
            "relpath",
            "size",
            F.lit(None).cast("string").alias("stats"),
            F.lit(None).cast("string").alias("blooms"),
        )
        name = _write_manifest_distributed(
            self, df, stat_cols=False, bloom_cols=None
        )
        if parent is None:
            parent = self.latest()
        # the table schema survives appends: carried from the parent,
        # or, onto a parent that records none, commit() records the
        # one Spark infers for this listing. Parquet inference on read
        # would pick an arbitrary file's physical schema when
        # generations differ (pre-evolution files still hold dropped
        # columns, files appended outside evolve_schema add some)
        schema = self.read(parent).get("schema") if parent else None
        return self.commit(
            None, op=op, parent=parent, schema=schema, manifest=name
        )


def version_as_of(log, ts) -> int:
    """The LATEST version whose `committed_at` is <= `ts` — Iceberg /
    Delta `TIMESTAMP AS OF` resolution. `ts` is epoch seconds
    (int/float), a datetime (aware offsets honored; naive = UTC, the
    engine-wide session zone), or an ISO-8601 string. Read accessors
    only, so the batch data source resolves it in the planner worker
    too (`SnapshotLog(None, root)`).
    Versions commit in order, so committed_at is non-decreasing and
    the scan is a tiny O(versions) metadata walk; commits within one
    second resolve to the latest of them (second-granularity
    timestamps)."""
    import datetime as _dt

    if isinstance(ts, str):
        ts = ts.strip()
        try:  # reader options arrive stringified: numeric = epoch
            ts = float(ts)
        except ValueError:
            ts = _dt.datetime.fromisoformat(ts)
    if isinstance(ts, _dt.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        ts = ts.timestamp()
    t = float(ts)
    best = None
    for v in log.versions():
        if float(log.read(v).get("committed_at", 0)) <= t:
            best = v
    if best is None:
        raise ValueError(
            f"no snapshot committed at or before {ts!r} under "
            f"{log.log_dir}"
        )
    return best


def read_table_at(
    spark: SparkSession,
    table_root: str,
    version: int | str | None = None,
    *,
    as_of_ts=None,
) -> DataFrame:
    """Time travel: read the table exactly as of `version` (default:
    latest committed snapshot; a string resolves as a named ref —
    tag or branch) or, via `as_of_ts`, as of a wall-clock instant
    (the latest snapshot committed at or before it — TIMESTAMP AS
    OF). Mid-compaction states are unobservable
    by construction — uncommitted files are simply not listed. The
    snapshot's recorded schema is applied declaratively, so planning
    runs no footer-inference job: files written before an added column
    project it as NULL, files still holding a dropped column lose it,
    and a column an append added outside `evolve_schema` stays hidden
    — per-version schema, the Iceberg contract. Only a version
    committed before versions recorded their schema reads through
    parquet inference."""
    log = SnapshotLog(spark, table_root)
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("give either version or as_of_ts, not both")
        version = version_as_of(log, as_of_ts)
    if isinstance(version, str):
        version = log.resolve_ref(version)
    v = log.latest() if version is None else version
    relpaths = [p for p, _ in log.files(v)]
    schema, _pcols = log.schema(v)
    if not relpaths:
        # a zero-file snapshot (INSERT OVERWRITE of an empty SELECT,
        # or a delete that removed every row) is a legitimate state:
        # with a declared schema it reads as an EMPTY table, same as
        # Iceberg/Delta — only a schemaless empty snapshot is
        # unreadable
        if schema is not None:
            return spark.createDataFrame([], schema)
        raise FileNotFoundError(f"snapshot lists no files under {table_root}")
    return _read_relpaths(
        spark, table_root, relpaths, schema, mor=_mor_info(log, v)
    )


class _MorPending(NamedTuple):
    """The snapshot's pending merge-on-read delete state, split by
    kind (the name prefix is the kind tag, Iceberg v2's two delete
    shapes):

    - `pos`: (parquet paths, total entries) of the POSITIONAL delete
      files (`d-*`, rows of (relpath, pos)) — subtracted with an
      anti-join on the scan's (file, row_index);
    - `eq`: [(name, keys_path, scope_path, n_keys)] of the EQUALITY
      delete dirs (`e-*`) — a row dies when its key columns match a
      key row AND its file is in the entry's SCOPE (the data files
      live when the delete committed). The scope materializes
      Iceberg's sequence-number semantics as a file list: rows of the
      same key appended AFTER the delete are outside every scope and
      survive."""

    pos: tuple[list[str], int] | None
    eq: list[tuple[str, str, str, int]]


def _mor_info(log: SnapshotLog, version: int) -> _MorPending | None:
    """The pending `_MorPending` when the snapshot carries
    merge-on-read delete files, else None — the read path then skips
    the subtraction entirely."""
    lst = log.delete_files(version)
    if not lst:
        return None
    pos = [(n, r) for n, r in lst if not n.startswith(EQ_DELETE_PREFIX)]
    eq = [
        (
            n,
            posixpath.join(log.deletes_dir, n, "keys"),
            posixpath.join(log.deletes_dir, n, "scope"),
            r,
        )
        for n, r in lst
        if n.startswith(EQ_DELETE_PREFIX)
    ]
    return _MorPending(
        pos=(
            [posixpath.join(log.deletes_dir, n) for n, _ in pos],
            sum(r for _, r in pos),
        )
        if pos
        else None,
        eq=eq,
    )


def _relpath_expr(table_root: str, path_col):
    """Column mapping a file-path URI (e.g. `_metadata.file_path`) to
    the manifest-relative path. Same decode discipline as the
    compaction executor's batch tagger: the URI is percent-ENCODED
    ('x y' -> 'x%20y'), so decode (with literal '+' shielded from
    form-decoding) before anchoring on the root's absolute path —
    or encoded-name partitions silently fail to match their manifest
    relpath (the r7 input_file_name lesson). The anchor is
    _local_root's: like Hadoop's qualification it resolves a relative
    root against the JVM's working directory and no symlink."""
    root_abs = _local_root(table_root).rstrip("/")
    decoded = F.url_decode(F.regexp_replace(path_col, r"\+", "%2B"))
    # anchor with plain string search, not regex (r14: the sf10
    # profile measured the old scheme-strip + \Q..\E regexp_extract
    # at ~3 µs/row — 6.3 s of the MOR read tax on a 2M-row file;
    # locate+substr is ~3× cheaper and the explicit-file-list callers
    # now avoid per-row mapping entirely via literal tags). The
    # root path's first occurrence in the decoded URI is the
    # true anchor — scheme and authority cannot contain '/',
    # so nothing before the path can first-match a '/'-leading root.
    # guard the miss (ADVICE r14): locate()==0 — e.g. a
    # symlink-canonicalization mismatch between the root and
    # _metadata.file_path — must map to '' (matches nothing) like the
    # old regexp_extract did, NOT to a garbage suffix that could make
    # a positional-delete anti-join silently resurrect deleted rows
    loc = F.locate(root_abs + "/", decoded)
    return F.when(
        loc > 0,
        decoded.substr(loc + F.lit(len(root_abs) + 1), F.lit(1 << 20)),
    ).otherwise(F.lit(""))


def _mor_cols(df: DataFrame) -> tuple[str, str]:
    """Unique (relpath, pos) helper column names that shadow no data
    column of `df`."""
    rel, pos = "__mor_rel", "__mor_pos"
    while rel in df.columns:
        rel += "_"
    while pos in df.columns:
        pos += "_"
    return rel, pos


def _anti_join_deletes(
    spark: SparkSession,
    df: DataFrame,
    rel_col: str,
    pos_col: str,
    delete_paths: list[str],
    total_rows: int,
) -> DataFrame:
    """Subtract positional delete entries from a data frame that
    carries (rel_col, pos_col) file-position columns. The delete set
    broadcasts below MOR_BROADCAST_ROWS (no shuffle on the 100 TB data
    side — the Iceberg MOR read shape); past that it degrades to a
    shuffled anti-join, still exact."""
    # entry schema is fixed by _write_delete_file — declaring it
    # skips the per-plan footer-inference job (r16)
    dels = (
        spark.read.schema("relpath string, pos long")
        .parquet(*delete_paths)
        .select(
            F.col("relpath").alias(rel_col), F.col("pos").alias(pos_col)
        )
    )
    if total_rows <= MOR_BROADCAST_ROWS:
        dels = F.broadcast(dels)
    return df.join(dels, on=[rel_col, pos_col], how="left_anti")


def _apply_eq_deletes(
    spark: SparkSession,
    df: DataFrame,
    rel_col: str,
    eq: list[tuple[str, str, str, int]],
) -> DataFrame:
    """Subtract pending EQUALITY delete entries from a data frame that
    carries a `rel_col` file-relpath column. Per entry, a row dies iff
    its key columns match a key row AND its file is inside the entry's
    scope — expressed as two marker LEFT joins (keys on the key
    columns, scope on the relpath) and one NOT(both-matched) filter,
    a single pass over the data with no split-union double scan. Keys
    broadcast below MOR_BROADCAST_ROWS; the scope (a file list) always
    broadcasts. NULL key values never match — SQL equality, so a row
    with a NULL key survives every equality delete."""

    def _uniq(base: str, taken: set[str]) -> str:
        name = base
        while name in taken:
            name += "_"
        return name

    cols = df.columns
    for _name, keys_path, scope_path, n_keys in eq:
        taken = set(df.columns)
        km = _uniq("__eq_k", taken)
        sm = _uniq("__eq_s", taken)
        declared = _eq_keys_schema(keys_path, df)
        reader = spark.read if declared is None else spark.read.schema(declared)
        keys = reader.parquet(keys_path)
        key_cols = list(keys.columns)
        keys = keys.withColumn(km, F.lit(True))
        if n_keys <= MOR_BROADCAST_ROWS:
            keys = F.broadcast(keys)
        # scope schema is fixed by the eq-delete writer (one cast
        # string column) — declared, no inference job (r16)
        scope = F.broadcast(
            spark.read.schema("relpath string")
            .parquet(scope_path)
            .select(F.col("relpath").alias(rel_col))
            .withColumn(sm, F.lit(True))
        )
        df = (
            df.join(keys, on=key_cols, how="left")
            .join(scope, on=rel_col, how="left")
            .filter(~(F.col(km).isNotNull() & F.col(sm).isNotNull()))
            .drop(km, sm)
        )
    # a join on key columns puts them first: restore the frame's order
    return df.select(*cols)


def _eq_keys_schema(keys_path: str, df: DataFrame):
    """Declared read schema of an equality-delete keys dir: the key
    columns named by its own footer (read driver-side), typed as in
    `df`, which they match on — so the read plans no footer-inference
    job. An INT96 column is a TIMESTAMP, as Spark reads it (pyarrow
    types it as a naive timestamp). None (infer) when the dir is not
    local or a key column's physical type is not `df`'s."""
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import StructType, TimestampType

    local = _local_root(keys_path)
    if local is None:
        return None
    row = {f.name: f for f in df.schema.fields}
    dataset = pads.dataset(local, format="parquet")
    int96 = set()
    if dataset.files:
        footer = pq.ParquetFile(dataset.files[0]).schema
        int96 = {
            footer.column(i).path
            for i in range(len(footer))
            if footer.column(i).physical_type == "INT96"
        }
    fields = []
    for f in dataset.schema:
        try:
            physical = (
                TimestampType() if f.name in int96 else from_arrow_type(f.type)
            )
        except TypeError:
            return None
        if f.name not in row or physical != row[f.name].dataType:
            return None
        fields.append(row[f.name])
    return StructType(fields)


def _apply_mor(
    spark: SparkSession,
    df: DataFrame,
    rel_col: str,
    pos_col: str,
    pending: _MorPending,
) -> DataFrame:
    """Apply BOTH pending delete kinds to a (relpath, pos)-tagged
    frame: positional anti-join first, then the equality entries."""
    if pending.pos is not None:
        df = _anti_join_deletes(spark, df, rel_col, pos_col, *pending.pos)
    if pending.eq:
        df = _apply_eq_deletes(spark, df, rel_col, pending.eq)
    return df


def _mor_filter_scan(
    spark: SparkSession,
    table_root: str,
    df: DataFrame,
    pending: _MorPending | None,
) -> DataFrame:
    """Apply pending MOR delete entries to a DIRECT file-scan frame:
    tag rows with (relpath, position) off the scan's hidden _metadata
    column, anti-join the entries, drop the tags. The rewrite paths
    (COW delete / merge / compact) route their source reads through
    this so a rewrite can never resurrect logically-deleted rows."""
    if pending is None:
        return df
    rel, pos = _mor_cols(df)
    df = df.select(
        "*",
        _relpath_expr(table_root, F.col("_metadata.file_path")).alias(rel),
        F.col("_metadata.row_index").alias(pos),
    )
    df = _apply_mor(spark, df, rel, pos, pending)
    return df.drop(rel, pos)


def _driver_mor_filter(log: SnapshotLog, version: int):
    """The snapshot's pending delete entries as a driver-side row
    filter for the rewrite kernel (executor._arrow_kernel):
    `drop(relpath, table)` returns the rows of that data file, as read
    with pyarrow, that survive every entry, or None when an entry
    needs Spark's join. The entries are read once, here; the caller
    holds them to MOR_BROADCAST_ROWS rows.

    The semantics are _apply_mor's: a positional entry drops its row
    index; an equality entry drops a row only in a file inside its
    scope, and only when every key column equals a key row's value —
    a NULL never matches, as in _apply_eq_deletes' join. A key column
    whose Arrow type differs from the data column's, or whose values
    Spark compares otherwise (floating NaN and -0.0, nested values),
    goes to Spark."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    entries = [n for n, _ in log.delete_files(version)]
    pos_names = [n for n in entries if not n.startswith(EQ_DELETE_PREFIX)]
    pos_tbl = (
        pa.concat_tables(
            pq.read_table(
                log._local(DELETES_SUBDIR, n), columns=["relpath", "pos"]
            ).cast(pa.schema([("relpath", pa.string()), ("pos", pa.int64())]))
            for n in pos_names
        )
        if pos_names
        else None
    )
    eq = [
        (
            pq.read_table(
                log._local(DELETES_SUBDIR, n, "keys"),
                coerce_int96_timestamp_unit="us",
            ),
            set(
                pq.read_table(
                    log._local(DELETES_SUBDIR, n, "scope"), columns=["relpath"]
                )
                .column("relpath")
                .to_pylist()
            ),
        )
        for n in entries
        if n.startswith(EQ_DELETE_PREFIX)
    ]

    def drop(relpath: str, tbl):
        n = tbl.num_rows
        dead = np.zeros(n, dtype=bool)
        if pos_tbl is not None:
            mine = pos_tbl.filter(pc.equal(pos_tbl["relpath"], relpath))
            dead[mine["pos"].to_numpy()] = True
        for keys, scope in eq:
            if relpath not in scope:
                continue
            cols = keys.column_names
            for c in cols:
                t = keys.schema.field(c).type
                if (
                    tbl.column_names.count(c) != 1
                    or tbl.schema.field(c).type != t
                    or pa.types.is_floating(t)
                    or pa.types.is_nested(t)
                    or pa.types.is_dictionary(t)
                ):
                    return None
            if len(cols) == 1:
                hit = pc.is_in(
                    tbl[cols[0]], value_set=keys[cols[0]], skip_nulls=True
                )
                dead |= hit.to_numpy(zero_copy_only=False)
                continue
            # a semi-join of the row indices: Arrow's join keys never
            # match a NULL, like Spark's equi-join
            idx = "__row"
            while idx in cols:
                idx += "_"
            tagged = tbl.select(cols).append_column(idx, pa.array(np.arange(n)))
            try:
                hit = tagged.join(keys, keys=cols, join_type="left semi")
            except (pa.ArrowNotImplementedError, pa.ArrowInvalid):
                return None
            dead[hit[idx].to_numpy()] = True
        return tbl.filter(pa.array(~dead)) if dead.any() else tbl

    return drop


# MOR split-scan gate: past this many entry-affected files the read
# keeps the single-pass global subtraction (the affected set would
# otherwise ride the driver); env-overridable so tests force both
_MOR_SPLIT_MAX_TOUCHED = int(
    os.environ.get("HCS_MOR_SPLIT_MAX_TOUCHED", 100_000)
)

# explicit file lists at or below this size tag (relpath, position)
# with plan-time literals (one frame per file) instead of the per-row
# URI mapping; env-overridable so tests force the expression branch
_MOR_LIT_TAG_MAX = int(os.environ.get("HCS_MOR_LIT_TAG_MAX", 64))


def _entry_relpaths(
    spark: SparkSession, paths: list[str], cap: int | None = None
) -> set[str] | None:
    """Distinct `relpath` values of delete-entry / scope parquets —
    positional entries and equality scopes share the column — or None
    past `cap` (None = uncapped). Entry parquets are bounded metadata
    living next to the manifests, so a local path is read on the
    driver with pyarrow (r15: a plan-time probe costs milliseconds
    instead of a ~0.3-0.5 s Spark job per MOR read). A non-local or
    unreadable path falls back to ONE schema-pruned Spark job over
    every path: the explicit one-column schema makes the entry kinds'
    differing full schemas irrelevant."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        out: set[str] = set()
        for p in paths:
            local = _local_root(p)
            if local is None:
                raise OSError(f"non-local metadata path: {p}")
            tbl = pq.read_table(local, columns=["relpath"])
            out.update(tbl.column("relpath").to_pylist())
            if cap is not None and len(out) > cap:
                return None
        return out
    except (OSError, pa.ArrowException):
        pass
    df = spark.read.schema("relpath string").parquet(*paths).distinct()
    if cap is not None:
        df = df.limit(cap + 1)
    rows = df.collect()
    if cap is not None and len(rows) > cap:
        return None
    return {r["relpath"] for r in rows}


def _mor_touched_relpaths(spark: SparkSession, pending) -> set[str] | None:
    """Relpaths any pending delete entry may kill rows in — a bounded
    read of the entry parquets' relpath/scope columns. None when the
    set exceeds _MOR_SPLIT_MAX_TOUCHED (caller then subtracts
    globally rather than shipping the set through the driver)."""
    cap = _MOR_SPLIT_MAX_TOUCHED
    if cap <= 0:
        return None
    paths: list[str] = []
    if pending.pos is not None:
        paths += pending.pos[0]
    paths += [scope for _n, _k, scope, _c in pending.eq]
    if not paths:
        return set()
    return _entry_relpaths(spark, paths, cap)


def _read_relpaths(
    spark: SparkSession,
    table_root: str,
    relpaths: list[str],
    schema,
    mor: _MorPending | None = None,
    with_positions: bool = False,
):
    """Read an explicit snapshot file list, layout-generation aware.
    Files are grouped by their LEGACY hive signature (the set of
    `k=v` directory keys, `_hp_` spec dirs excluded) and each group
    reads separately:

    - a non-empty hive signature reads with basePath so the path-only
      partition columns (region=...) stay alive — exactly the
      pre-evolution behavior;
    - the empty-signature group (plain files AND `_hp_` spec-evolved
      files, whose partition values are real data columns) reads
      WITHOUT basePath, so Spark never hive-infers the `_hp_` layout
      dirs — mixed-spec generations cannot conflict.

    Groups union by name, which is how a table whose partition spec
    evolved mid-life reads as ONE table with zero rewrites.

    MOR cost scoping (r14): pending delete entries can only kill rows
    in the files they name, so the scan SPLITS — entry-affected files
    pay the (relpath, position) tagging + anti-joins, every other
    file reads clean. Measured at the sf10 rehearsal: the global
    tag+join taxed a 15M-row scan 7.9 s for a 150-entry delete set;
    scoped, untouched files cost what a plain scan costs. The
    affected set is a bounded entry-metadata read (the helper-path
    twin of the DataSource planner's per-file scoping), gated by
    _MOR_SPLIT_MAX_TOUCHED so a delete chain touching most of the
    table falls back to the single-pass global subtraction instead
    of shipping a huge relpath set through the driver."""
    if mor is not None and not with_positions:
        touched = _mor_touched_relpaths(spark, mor)
        if touched is not None:
            dirty = [p for p in relpaths if p in touched]
            clean = [p for p in relpaths if p not in touched]
            if not dirty:
                mor = None
            elif clean:
                dirty_df = _read_relpaths(
                    spark, table_root, dirty, schema, mor=mor
                )
                clean_df = _read_relpaths(
                    spark, table_root, clean, schema
                )
                return clean_df.unionByName(
                    dirty_df, allowMissingColumns=schema is None
                )
    groups: dict[frozenset, list[str]] = {}
    for p in relpaths:
        groups.setdefault(frozenset(_hive_keys(p)), []).append(p)
    group_frames = {}
    for keys in sorted(groups, key=sorted):
        paths = [posixpath.join(table_root, p) for p in groups[keys]]
        reader = spark.read
        if keys:
            # basePath keeps hive partition columns (region=...) alive
            # when reading an explicit file list instead of the tree
            reader = reader.option("basePath", table_root)
        if schema is not None:
            reader = reader.schema(schema)
        group_frames[keys] = reader.parquet(*paths)
    frames = list(group_frames.values())
    rel = pos = None
    if mor is not None or with_positions:
        # merge-on-read: tag every row with its (file relpath, row
        # position) — per group, while each frame is still a direct
        # file scan — then subtract the pending positional entries
        all_cols = {c for f in frames for c in f.columns}
        rel, pos = "__mor_rel", "__mor_pos"
        while rel in all_cols:
            rel += "_"
        while pos in all_cols:
            pos += "_"
        if len(relpaths) <= _MOR_LIT_TAG_MAX:
            # few files (the usual shape after the touched-file
            # split): one frame per file, relpath tagged as a
            # PLAN-TIME literal — zero per-row string work (the sf10
            # profile measured the per-row URI mapping at 6-8 s per
            # 2M-row file; a literal costs nothing after constant
            # folding). row_index off _metadata stays — it is cheap.
            # Versions committed without a schema reuse the GROUP
            # read's already-resolved schema: re-inferring per FILE
            # cost one footer job per file at plan time (r16 —
            # measured 6 jobs -> 2 building the ANN corpus MOR read).
            lit_frames = []
            for keys, g_frame in group_frames.items():
                g_schema = schema if schema is not None else g_frame.schema
                for p in groups[keys]:
                    reader = spark.read
                    if keys:
                        reader = reader.option("basePath", table_root)
                    reader = reader.schema(g_schema)
                    lit_frames.append(
                        reader.parquet(
                            posixpath.join(table_root, p)
                        ).select(
                            "*",
                            F.lit(p).alias(rel),
                            F.col("_metadata.row_index").alias(pos),
                        )
                    )
            frames = lit_frames
        else:
            frames = [
                f.select(
                    "*",
                    _relpath_expr(
                        table_root, F.col("_metadata.file_path")
                    ).alias(rel),
                    F.col("_metadata.row_index").alias(pos),
                )
                for f in frames
            ]
    out = frames[0]
    for d in frames[1:]:
        # without a declared schema a legacy group carries its
        # path-inferred hive columns that other generations lack
        out = out.unionByName(d, allowMissingColumns=schema is None)
    if mor is not None:
        out = _apply_mor(spark, out, rel, pos, mor)
        if not with_positions:
            out = out.drop(rel, pos)
    if with_positions:
        return out, rel, pos
    return out


REWRITE_OPS = frozenset({"compact", "delete", "merge"})
# ops that change the table's ROW SET without a file-level signature
# an incremental append-scan could see — crossing one invalidates
# file-diff semantics even though no file was rewritten
ROW_CHANGING_OPS = REWRITE_OPS | {
    "mor_delete",
    "mor_delete_eq",
    "mor_upsert",
    "rollback",
}


def read_incremental(
    spark: SparkSession,
    table_root: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """CDC-style incremental read: the rows in files ADDED between
    `from_version` (exclusive) and `to_version` (inclusive, default
    latest) — the Iceberg incremental-append scan. At 100 TB this is
    how a downstream pipeline processes a day of ingest without
    rescanning the table: file-set difference is pure snapshot
    metadata, and only the delta files are ever opened.

    Only APPEND-shaped ranges are well-defined at the file level: a
    compaction/delete/merge in the range rewrites old rows into new
    files, so a file-level diff would re-emit them (or emit
    partial deletes) — such ranges raise ValueError, mirroring
    Iceberg's incremental-read contract."""
    log = SnapshotLog(spark, table_root)
    to_v = log.latest() if to_version is None else to_version
    if to_v is None or from_version > to_v:
        raise ValueError(f"bad incremental range {from_version}..{to_v}")
    for v in range(from_version + 1, to_v + 1):
        op = log.read(v).get("op", "")
        if op in ROW_CHANGING_OPS:
            raise ValueError(
                f"incremental read {from_version}..{to_v} crosses a "
                f"rewrite commit (v{v}: {op}); file-level diff would "
                "re-emit rewritten rows (or miss merge-on-read "
                "deletions)"
            )
    base = {p for p, _ in log.files(from_version)}
    added = [p for p, _ in log.files(to_v) if p not in base]
    schema, _pcols = log.schema(to_v)
    reader = spark.read.option("basePath", table_root)
    if schema is not None:
        reader = reader.schema(schema)
    if not added:
        # empty delta: keep the snapshot's schema on the empty result
        files_to = log.files(to_v)
        if files_to:
            one = files_to[0][0]
            return reader.parquet(
                posixpath.join(table_root, one)
            ).limit(0)
        if schema is not None:
            return spark.createDataFrame([], schema)
        raise ValueError(
            f"incremental read {from_version}..{to_v}: empty table "
            "with no declared schema — nothing to infer a result "
            "schema from"
        )
    return reader.parquet(*[posixpath.join(table_root, p) for p in added])


def _change_sides(
    spark: SparkSession,
    log: SnapshotLog,
    from_version: int,
    to_v: int,
) -> tuple[DataFrame | None, DataFrame | None]:
    """(removed-side, added-side) frames of the change feed between
    two versions — read_changes' core, shared with the rollback
    changelog writer so the commit artifact is multiset-equal to the
    batch feed by construction. Either side may be None (no files on
    it). Both sides project with the `to_v` schema; each side reads
    under ITS version's MOR delete entries, and files whose
    applicable entries changed between the versions join both sides
    so the caller's exceptAll cancels surviving rows exactly."""
    files_from = {p for p, _ in log.files(from_version)}
    files_to = {p for p, _ in log.files(to_v)}
    removed = sorted(files_from - files_to)
    added = sorted(files_to - files_from)
    schema, _pcols = log.schema(to_v)

    # merge-on-read: a MOR delete changes rows WITHOUT changing the
    # file set, so the diff must also cover files whose applicable
    # delete entries changed between the versions; the exceptAll
    # downstream then emits newly-deleted rows as 'delete' — and a
    # later compact that merely applies old entries physically emits
    # nothing (the logical rows never changed).
    names_from = {n for n, _ in log.delete_files(from_version)}
    names_to = {n for n, _ in log.delete_files(to_v)}
    delta_names = sorted(names_from ^ names_to)
    changed_by_deletes: list[str] = []
    if delta_names:
        affected = _mor_affected_relpaths(spark, log, delta_names)
        changed_by_deletes = sorted(affected & files_from & files_to)
    mor_from = _mor_info(log, from_version)
    mor_to = _mor_info(log, to_v)

    def _read(paths: list[str], mor) -> DataFrame | None:
        if not paths:
            return None
        # layout-generation-aware read (same path as read_table_at):
        # `_hp_` spec files must NOT hive-infer their layout dirs, or
        # the two sides of the exceptAll disagree on arity
        return _read_relpaths(
            spark, log.table_root, paths, schema, mor=mor
        )

    return (
        _read(removed + changed_by_deletes, mor_from),
        _read(added + changed_by_deletes, mor_to),
    )


def read_changes(
    spark: SparkSession,
    table_root: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change-data-feed between two snapshot versions — the
    rewrite-aware companion to `read_incremental` (the Delta
    CHANGE_DATA_FEED / Iceberg changelog-scan shape). The file-set
    diff comes from pure snapshot metadata; only the files that
    CHANGED between the versions are opened, so a keyed COW delete or
    merge costs O(touched files), never O(table). Row semantics by
    multiset difference (`exceptAll`, a distributed hash
    repartition over the changed rows only):

    - rows of removed files minus rows of added files → `_change_type
      = 'delete'` (an update's pre-image);
    - rows of added files minus rows of removed files →
      `'insert'` (appends and update post-images);
    - rows a COW rewrite carried verbatim appear on both sides and
      cancel exactly — they were not changes.

    Both sides project with the `to_version` schema, so an evolved
    schema inside the range follows the same per-version contract as
    `read_table_at` (pre-evolution files project added columns as
    NULL)."""
    log = SnapshotLog(spark, table_root)
    to_v = log.latest() if to_version is None else to_version
    if to_v is None or from_version > to_v:
        raise ValueError(f"bad change range {from_version}..{to_v}")
    schema, _pcols = log.schema(to_v)
    df_removed, df_added = _change_sides(spark, log, from_version, to_v)
    if df_added is None and df_removed is None:
        # no file changed in the range: empty feed with the snapshot's
        # row schema (same fallback ladder as read_incremental)
        files_now = log.files(to_v)
        if files_now:
            base = spark.read.option("basePath", table_root)
            if schema is not None:
                base = base.schema(schema)
            empty = base.parquet(
                posixpath.join(table_root, files_now[0][0])
            ).limit(0)
        elif schema is not None:
            empty = spark.createDataFrame([], schema)
        else:
            raise ValueError(
                f"change read {from_version}..{to_v}: empty table with "
                "no declared schema"
            )
        return empty.withColumn("_change_type", F.lit(""))
    if df_added is None:
        df_added = df_removed.limit(0)
    if df_removed is None:
        df_removed = df_added.limit(0)
    inserts = df_added.exceptAll(df_removed).withColumn(
        "_change_type", F.lit("insert")
    )
    deletes = df_removed.exceptAll(df_added).withColumn(
        "_change_type", F.lit("delete")
    )
    return inserts.unionByName(deletes)


def evolve_schema(
    spark: SparkSession,
    table_root: str,
    add_columns: dict[str, str] | None = None,
    drop_columns: list[str] | None = None,
) -> int:
    """Metadata-only schema evolution: commit a new snapshot with the
    SAME file set and an updated declared schema. `add_columns` maps
    new column name -> Spark DDL type (added nullable — existing files
    read as NULL with zero rewrite); `drop_columns` removes data
    columns (files keep the bytes, readers stop seeing them, the next
    compaction rewrite physically sheds them). Partition columns can
    be neither added nor dropped here — they are path structure."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    v = log.latest()
    blob = log.schema_blob(v)
    schema = StructType.fromJson(blob["fields"])
    pcols = list(blob["partition_cols"])
    names = {f.name for f in schema.fields}
    for name in drop_columns or []:
        if name not in names:
            raise ValueError(f"cannot drop unknown column {name!r}")
        if name in pcols:
            raise ValueError(f"cannot drop partition column {name!r}")
    fields = [f for f in schema.fields if f.name not in set(drop_columns or [])]
    for name, ddl in (add_columns or {}).items():
        if name in names:
            raise ValueError(f"column {name!r} already exists")
        fields.append(StructField(name, _parse_datatype_string(ddl), True))
    # keep partition columns last so physical data columns stay a
    # prefix — matches how Spark appends discovered partition values
    fields.sort(key=lambda f: f.name in pcols)
    new_blob = {
        "fields": StructType(fields).jsonValue(),
        "partition_cols": pcols,
    }
    return log.commit(
        None,
        op="evolve",
        parent=v,
        schema=new_blob,
        manifest=log.copy_manifest(v),
    )


def _latest_spec_id(log: SnapshotLog, version: int | None = None) -> int:
    """Highest spec_id recorded at or before `version` — INCLUDING an
    empty plain-layout record (which partition_spec_of reports as
    None), so ids stay monotonic across a rollback-to-plain."""
    v = log.latest() if version is None else version
    seen = 0
    while v:
        blob = log.read(v)
        spec = blob.get("partition_spec")
        if spec is not None:
            return int(spec["spec_id"])
        v = blob.get("parent")
        seen += 1
        if seen > 100_000:
            raise RuntimeError(f"parent chain cycle in {log.log_dir}")
    return 0


def partition_spec_of(log: SnapshotLog, version: int | None = None) -> dict | None:
    """The partition spec in effect at `version` (default latest):
    the spec recorded by the nearest `evolve_partitioning` commit at
    or before it, found by walking the parent chain — specs are
    sparse metadata, so ordinary commits never need to carry them.
    None = the table never evolved (legacy layout)."""
    v = log.latest() if version is None else version
    seen = 0
    while v:
        blob = log.read(v)
        spec = blob.get("partition_spec")
        if spec is not None:
            # an empty partition_by is the explicit "plain layout"
            # record (written by a rollback across a spec evolution):
            # it TERMINATES the walk as no-spec instead of falling
            # through to the newer spec behind it
            return spec if spec.get("partition_by") else None
        v = blob.get("parent")
        seen += 1
        if seen > 100_000:  # corrupt parent cycle guard
            raise RuntimeError(f"parent chain cycle in {log.log_dir}")
    return None


def sort_order_of(log: SnapshotLog, version: int | None = None) -> dict | None:
    """The table-level SORT ORDER in effect at `version` (default
    latest) — the nearest `set_sort_order` record on the parent
    chain, like partition specs. None = unsorted (an explicit empty
    sort_by record, written to UNSET an order, also reads as None).
    Iceberg's write.sort-order: a declaration every writer honors,
    not a property of one rewrite."""
    v = log.latest() if version is None else version
    seen = 0
    while v:
        blob = log.read(v)
        order = blob.get("sort_order")
        if order is not None:
            return order if order.get("sort_by") else None
        v = blob.get("parent")
        seen += 1
        if seen > 100_000:
            raise RuntimeError(f"parent chain cycle in {log.log_dir}")
    return None


def set_sort_order(
    spark: SparkSession, table_root: str, sort_by: list[str]
) -> int:
    """Declare the table's SORT ORDER (VERDICT r10 stretch task:
    Iceberg's table-level sort-order spec) as a METADATA-ONLY commit —
    existing files are untouched; every later `append_partitioned` /
    `snapshot_upsert_mor` landing and every `snapshot_compact` rewrite
    honors it (range-cluster on the sort columns + sort within each
    file), so per-file [min, max] on the sort columns tighten with
    every write and `annotate_stats` + `scan_plan` prune on them —
    the always-on 1-D sibling of the explicit z-order rewrite.
    `sort_by=[]` unsets a previously declared order. At 100 TB this
    is the difference between new ingest arriving pre-prunable and
    needing a nightly clustering rewrite to become so."""
    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    v = log.latest()
    sort_by = list(sort_by)
    if len(set(sort_by)) != len(sort_by):
        raise ValueError(f"duplicate column in sort order: {sort_by}")
    if sort_by:
        blob = log.schema_blob(v)
        from pyspark.sql.types import StructType

        names = {f.name for f in StructType.fromJson(blob["fields"]).fields}
        missing = [c for c in sort_by if c not in names]
        if missing:
            raise ValueError(
                f"sort columns {missing} are not data columns "
                f"(have: {sorted(names)})"
            )
    order = {
        "order_id": _latest_order_id(log, v) + 1,
        "sort_by": sort_by,
    }
    return log.commit(
        None,
        op="set-sort-order",
        parent=v,
        schema=log.read(v).get("schema"),
        manifest=log.copy_manifest(v),
        extra={"sort_order": order},
    )


def _latest_order_id(log: SnapshotLog, version: int | None = None) -> int:
    """Highest sort-order id at or before `version` (parent-chain
    walk, including empty unset records) — ids stay monotonic."""
    v = log.latest() if version is None else version
    seen = 0
    while v:
        order = log.read(v).get("sort_order")
        if order is not None:
            return int(order["order_id"])
        v = log.read(v).get("parent")
        seen += 1
        if seen > 100_000:
            raise RuntimeError(f"parent chain cycle in {log.log_dir}")
    return 0


def _apply_sort_order(
    log: SnapshotLog, df: DataFrame, base_version: int | None
) -> DataFrame:
    """Shape a frame about to LAND as data files under the table's
    declared sort order: range-cluster across tasks (disjoint
    per-file ranges — what makes min/max stats selective) and sort
    inside each. No declared order = passthrough. Missing sort
    columns (a projection landing a narrower frame) = passthrough
    rather than a failed write."""
    order = sort_order_of(log, base_version)
    if not order:
        return df
    cols = [c for c in order["sort_by"] if c in df.columns]
    if cols != order["sort_by"]:
        return df
    n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", None)
    return df.repartitionByRange(
        int(n) if n else 32, *cols
    ).sortWithinPartitions(*cols)


def evolve_partitioning(
    spark: SparkSession, table_root: str, partition_by: list[str]
) -> int:
    """Metadata-only PARTITION-SPEC evolution (Iceberg hidden
    partitioning): commit a new snapshot with the SAME file set and a
    new layout spec. Zero data movement — existing files keep their
    physical layout; writes that go through `append_partitioned`
    after this commit land under `_hp_<col>=<value>` directories;
    reads union both generations through the manifest and
    `scan_plan` prunes new-generation files from the path value
    alone (old files keep pruning via their recorded stats).

    The spec's source columns must be DATA columns present in every
    file (that is what makes the evolution metadata-only), so a
    legacy hive-layout table — whose partition values exist ONLY as
    path structure — cannot evolve here; rewrite it through
    snapshot_compact first. Generalizes the reference's fixed
    region/family directory layout (QHC.java:144-149) into a
    versioned, evolvable layout contract."""
    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    v = log.latest()
    if not partition_by:
        raise ValueError("partition_by must name at least one column")
    fields = [parse_partition_field(r) for r in partition_by]
    if len({f.name for f in fields}) != len(fields):
        raise ValueError(f"duplicate field in partition spec: {partition_by}")
    blob = log.schema_blob(v)
    legacy_pcols = set(blob["partition_cols"])
    if legacy_pcols:
        raise ValueError(
            f"table has legacy hive path columns {sorted(legacy_pcols)} — "
            "their values live only in directory names, so a metadata-only "
            "spec change cannot apply; compact to a data-column layout first"
        )
    from pyspark.sql.types import (
        DateType,
        DecimalType,
        IntegralType,
        StringType,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    struct = StructType.fromJson(blob["fields"])
    names = {f.name: f.dataType for f in struct.fields}
    for fld in fields:
        if fld.source not in names:
            raise ValueError(
                f"partition source column {fld.source!r} is not a data "
                f"column (have: {sorted(names)})"
            )
        dt = names[fld.source]
        if fld.transform in _TIME_TRANSFORMS and not isinstance(
            dt, (DateType, TimestampType, TimestampNTZType)
        ):
            raise ValueError(
                f"{fld.transform}() needs a date/timestamp source, "
                f"{fld.source!r} is {dt.simpleString()}"
            )
        if fld.transform == "truncate" and not isinstance(
            dt, (StringType, IntegralType, DecimalType)
        ):
            raise ValueError(
                f"truncate() needs a string/integer/decimal source, "
                f"{fld.source!r} is {dt.simpleString()}"
            )
        if fld.transform == "bucket" and not isinstance(
            dt, (StringType, IntegralType)
        ):
            # bucket pruning derives crc32 input driver-side from the
            # probe value; only string/integral sources render
            # identically in Python and in Spark's string cast
            # (float '1.0E8', bool 'true' diverge), so other types
            # would make _spec_derived_predicates prune wrong buckets
            raise ValueError(
                f"bucket() needs a string/integer source, "
                f"{fld.source!r} is {dt.simpleString()}"
            )
        if fld.transform != "identity" and fld.name in names:
            # the derived dir name doubles as a pruning-predicate key,
            # so it must not shadow a real data column
            raise ValueError(
                f"derived partition field name {fld.name!r} collides "
                "with a data column — rename the column or pick a "
                "different transform parameter"
            )
    spec = {
        "spec_id": _latest_spec_id(log, v) + 1,
        "partition_by": list(partition_by),
    }
    return log.commit(
        None,
        op="evolve-partitioning",
        parent=v,
        schema=log.read(v).get("schema"),
        manifest=log.copy_manifest(v),
        extra={"partition_spec": spec},
    )


def append_partitioned(
    spark: SparkSession, table_root: str, df: DataFrame
) -> int:
    """Append `df` under the snapshot's CURRENT partition spec and
    commit: with a spec, rows are written under `_hp_<col>=<value>`
    directories derived from COPIES of the spec columns — the real
    columns stay inside the files, so readers never depend on path
    inference (hidden partitioning); with no spec, a plain append.
    The commit is an explicit parent-manifest ∪ added-files append
    (never a directory re-listing — a re-list would resurrect
    compaction-retired files, the snapshot_expire_scan lesson)."""
    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    v = log.latest()
    added = _land_spec_files(log, df, v)
    if not added:
        raise ValueError("append_partitioned: the frame wrote no files")
    return log.commit_append(added, op="append-partitioned", parent=v)


def _land_spec_files(
    log: SnapshotLog,
    df: DataFrame,
    base_version: int | None,
) -> list[tuple[str, int]]:
    """Write `df`'s rows as fresh uuid-named data files under the
    CURRENT partition spec's layout (the file-landing half of
    `append_partitioned`, sans commit): with a spec, rows land under
    `_hp_<col>=<value>` dirs derived from COPIES of the spec columns;
    with no spec, a plain write. Returns the added (relpath, size)
    list — the caller commits (or abandons them as orphans for
    sweep_orphans on crash)."""
    spec = partition_spec_of(log, base_version)
    # declared table sort order (set_sort_order): every landing write
    # range-clusters + sorts, so new files arrive pre-prunable
    df = _apply_sort_order(log, df, base_version)
    tmp = os.path.join(log.root_local, f"_tmp_append-{uuid.uuid4().hex[:10]}")
    try:
        if spec:
            hp_cols = []
            aug = df
            for raw in spec["partition_by"]:
                fld = parse_partition_field(raw)
                hp = PARTITION_DIR_PREFIX + fld.name
                aug = aug.withColumn(hp, _partition_field_expr(df, fld))
                hp_cols.append(hp)
            aug.write.partitionBy(*hp_cols).mode("overwrite").parquet(tmp)
        else:
            df.write.mode("overwrite").parquet(tmp)
    except BaseException:
        _remove_local(tmp)
        raise
    return _land_files(tmp, log.root_local, "", "append")


def _footer_stats(local_path: str, cols: list[str] | None) -> tuple[int, dict]:
    """(num_rows, {col: [min, max]}) from ONE parquet footer — metadata
    only, no data pages. Values are kept only for JSON-stable types
    (int/float/str; binary stats decoded as UTF-8); anything else
    (timestamps, decimals, missing writer stats, stats pyarrow cannot
    decode such as an INT32-encoded decimal's) is skipped, which the
    pruner treats as "cannot prune" — always conservative."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    md = pq.ParquetFile(local_path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict[str, list] = {}
    for c in cols if cols is not None else idx:
        i = idx.get(c)
        if i is None:
            continue
        mns, mxs = [], []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(i).statistics
            if st is None or not st.has_min_max:
                mns = []
                break
            try:
                mns.append(st.min)
                mxs.append(st.max)
            except pa.ArrowNotImplementedError:
                mns = []
                break
        if not mns:
            continue
        mn, mx = min(mns), max(mxs)
        if isinstance(mn, bytes):
            try:
                mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
            except UnicodeDecodeError:
                continue
        if isinstance(mn, bool) or not isinstance(mn, (int, float, str)):
            continue
        if isinstance(mn, float):
            # a zero bound is 0.0 whoever wrote the file: pyarrow writes
            # a zero min as -0.0 (PARQUET-1222), Spark's writer as 0.0
            mn, mx = mn + 0.0, mx + 0.0
        out[c] = [mn, mx]
    return int(md.num_rows), out


def _meta_row(
    root_local: str,
    rel: str,
    stats_json: str | None,
    blooms_json: str | None,
    stat_cols,
    bloom_cols,
    fpp: float = 0.01,
    max_bits: int = 1 << 16,
) -> tuple[str | None, str | None]:
    """Per-file metadata computation for ONE manifest row (on
    executors, or on the driver for a bounded manifest): footer stats
    for `stat_cols` (replacing the stats payload) and/or bloom bitsets
    for `bloom_cols` (merged into the existing bloom payload). `None` for either col list = leave that payload
    untouched. Failures (vanished/corrupt file) clear the payload —
    no metadata means no pruning, always conservative."""
    import json as _json

    if stat_cols is not False:  # False = don't touch; None = all cols
        try:
            nrows, st = _footer_stats(
                posixpath.join(root_local, rel), stat_cols
            )
            stats_json = _json.dumps({"rows": nrows, "cols": st})
        except OSError:
            stats_json = None
    if bloom_cols:
        try:
            import pyarrow.parquet as pq

            pf = pq.ParquetFile(posixpath.join(root_local, rel))
            present = [c for c in bloom_cols if c in pf.schema_arrow.names]
            tbl = pf.read(columns=present)
            merged = _json.loads(blooms_json) if blooms_json else {}
            for c in present:
                b = _build_bloom(tbl.column(c).to_pandas(), fpp, max_bits)
                if b is not None:
                    merged[c] = b
            blooms_json = _json.dumps(merged) if merged else None
        except OSError:
            blooms_json = None
    return stats_json, blooms_json


def _annotate_df(
    log: SnapshotLog,
    source_df: DataFrame,
    stat_cols,
    bloom_cols,
    fpp: float = 0.01,
    max_bits: int = 1 << 16,
    n_files_hint: int | None = None,
) -> DataFrame:
    """Manifest-shaped DataFrame with per-file stats/blooms computed
    ON EXECUTORS (footer pass for `stat_cols` unless False, bloom
    column pass for `bloom_cols` if given) — payloads go straight from
    the pass into the output rows without visiting the driver."""
    root_local = log.root_local

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            sts, bls = [], []
            for rel, st, bl in zip(
                pdf["relpath"], pdf["stats"], pdf["blooms"]
            ):
                st2, bl2 = _meta_row(
                    root_local, rel, st or None, bl or None,
                    stat_cols, bloom_cols, fpp, max_bits,
                )
                sts.append(st2)
                bls.append(bl2)
            yield pd.DataFrame(
                {
                    "relpath": pdf["relpath"],
                    "size": pdf["size"],
                    "stats": pd.Series(sts, dtype=object),
                    "blooms": pd.Series(bls, dtype=object),
                }
            )

    if stat_cols is False and not bloom_cols:
        return source_df
    # the Python workers deserialize _meta_row by module reference —
    # ship the package, or a FIRST materialization from a foreign cwd
    # (driver conditions, cold /tmp) crashes with ModuleNotFoundError
    from hbase_compact_spark.shipping import ensure_package_on_executors

    ensure_package_on_executors(source_df.sparkSession)
    hint = n_files_hint or 4096
    n_part = max(1, min(64, hint))
    return source_df.repartition(n_part).mapInPandas(
        gen, MANIFEST_SCHEMA_DDL
    )


def _write_manifest_distributed(
    log: SnapshotLog,
    source_df: DataFrame,
    stat_cols,
    bloom_cols,
    fpp: float = 0.01,
    max_bits: int = 1 << 16,
    n_files_hint: int | None = None,
) -> str:
    """Write a manifest from `source_df` (MANIFEST_SCHEMA_DDL shape)
    via `_annotate_df`. Returns the manifest name (a directory of part
    files; the reader treats file and directory manifests alike)."""
    name = f"m-{uuid.uuid4().hex[:12]}"
    df = _annotate_df(
        log, source_df, stat_cols, bloom_cols, fpp, max_bits, n_files_hint
    )
    df.write.mode("overwrite").parquet(
        posixpath.join(log.manifest_dir, name)
    )
    return name


def annotate_stats(
    spark: SparkSession,
    table_root: str,
    cols: list[str] | None = None,
    version: int | None = None,
) -> int:
    """Commit a new snapshot carrying per-file column min/max stats
    (Iceberg's manifest-metrics move): same file set as the source
    version, `op="stats"`. From then on `scan_plan`/`read_table_where`
    prune file lists without touching any footer, and
    `snapshot_compact` keeps the stats current incrementally. The
    footer pass runs on executors and writes the manifest DIRECTLY —
    at 10⁶ files nothing per-file ever sits on the driver; existing
    bloom payloads are carried through untouched."""
    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    v = log.latest() if version is None else version
    snap = log.read(v)
    name = _write_manifest_distributed(
        log,
        log.manifest_df(v),
        stat_cols=cols,
        bloom_cols=None,
        n_files_hint=snap.get("n_files"),
    )
    return log.commit(
        None, op="stats", parent=v, schema=snap.get("schema"), manifest=name
    )


def shard_manifest(
    spark: SparkSession,
    table_root: str,
    by: str,
    *,
    shards: int | None = None,
    files_per_shard: int = 25_000,
    version: int | None = None,
) -> int:
    """Two-level metadata (Iceberg's manifest LIST, via its
    rewrite_manifests action): re-encode the snapshot's manifest as
    RANGE-SHARDED part files keyed on the recorded `by`-column stats,
    and record each shard's [lo, hi] key bounds (plus file count and
    a stats-missing flag) in the version JSON. `scan_plan` then opens
    ONLY the shards whose bounds survive a predicate on `by` — at 10⁶
    files a day-range query reads the day's manifest shard, not the
    table's whole manifest, so PLANNING cost scales with selectivity
    like the scan itself.

    The shard index is an O(shards) dict in the version JSON (never
    O(files)); every existing accessor (files(), manifest_df(),
    table$files/table$partitions, expire) keeps reading the manifest
    directory whole and needs no knowledge of the sharding. Stats on
    `by` must be annotated first (annotate_stats); files without them
    land in shards flagged always-kept — pruning stays conservative.
    Later commits write fresh unsharded manifests (bounds would be
    stale); re-shard periodically like Iceberg rewrite_manifests.
    Commits op='shard-manifest' with the SAME file set.

    The split is DETERMINISTIC (r13): files rank by (stats lo, raw
    stats string, relpath) through the two-phase distributed
    row_number (functions/ranking.py — no single-partition window, no
    sampling) and shard k is ntile bucket k of that total order,
    written as `shard-<k>.parquet`. Content-keyed names and bounds
    make table$manifests oracle-derivable (snapshot_manifests_meta)
    and re-shards reproducible run-to-run."""
    import json as _json

    from hbase_compact_spark.functions.ranking import (
        ntile_expr,
        with_global_row_number,
    )

    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    v = log.latest() if version is None else version
    snap = log.read(v)
    n_files = snap["n_files"]
    if shards is None:
        shards = max(2, -(-n_files // files_per_shard))
    shards = max(2, min(int(shards), 1024))
    src = log.manifest_df(v)
    key_s = F.get_json_object("stats", f"$.cols.{by}[0]")
    aug = src.withColumn("_k_num", key_s.cast("double")).withColumn(
        "_k_str", key_s
    )
    ranked = with_global_row_number(
        aug,
        [F.col("_k_num").asc_nulls_first(), "_k_str", "relpath"],
        name="_rn",
        count_name="_n",
    )
    sharded = ranked.withColumn(
        "_shard", ntile_expr(F.col("_rn"), F.col("_n"), shards) - 1
    ).select("relpath", "size", "stats", "blooms", "_shard")
    name = f"m-{uuid.uuid4().hex[:12]}"
    dest_local = log._manifest_local(name)
    os.makedirs(dest_local, exist_ok=True)

    # one deterministic part file per shard, written executor-side
    # (bounded by files_per_shard rows per group), with the shard's
    # [lo, hi] bounds computed in the same pass from the SAME stats
    # payload scan_plan compares against (native JSON types preserved
    # — double aggs would round int64 bounds past 2^53 and could
    # prune a matching shard). O(shards) meta rows to the driver.
    def _write_shard(pdf):
        import json as _j

        import pandas as _pd
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        sid = int(pdf["_shard"].iloc[0])
        pdf = pdf.sort_values("relpath")  # reproducible shard bytes
        los, his = [], []
        unbounded = False
        for s in pdf["stats"]:
            rng = None
            if s:
                rng = (_j.loads(s).get("cols") or {}).get(by)
            if not rng or rng[0] is None or rng[1] is None:
                unbounded = True
                continue
            los.append(rng[0])
            his.append(rng[1])
        meta = [
            min(los) if los else None,
            max(his) if his else None,
            unbounded or not los,
            int(len(pdf)),
        ]
        part = f"shard-{sid:05d}.parquet"
        tbl = _pa.table(
            {
                "relpath": _pa.array(pdf["relpath"], _pa.string()),
                "size": _pa.array(pdf["size"], _pa.int64()),
                "stats": _pa.array(pdf["stats"], _pa.string()),
                "blooms": _pa.array(pdf["blooms"], _pa.string()),
            }
        )
        _pq.write_table(tbl, posixpath.join(dest_local, part))
        return _pd.DataFrame({"part": [part], "meta": [_j.dumps(meta)]})

    from hbase_compact_spark.shipping import ensure_package_on_executors

    ensure_package_on_executors(spark)
    parts: dict[str, list] = {}
    for r in sharded.groupBy("_shard").applyInPandas(
        _write_shard, "part string, meta string"
    ).collect():
        parts[r["part"]] = _json.loads(r["meta"])
    if sum(m[3] for m in parts.values()) != n_files:
        _remove_local(dest_local)
        raise RuntimeError(
            f"manifest shard verification failed under {table_root}: "
            f"{sum(m[3] for m in parts.values())} != {n_files}"
        )
    return log.commit(
        None,
        op="shard-manifest",
        parent=v,
        schema=snap.get("schema"),
        manifest=name,
        extra={"manifest_shards": {"by": by, "parts": parts}},
    )


def _bloom_params(n: int, fpp: float, max_bits: int) -> tuple[int, int]:
    """(m bits, k hashes) for n values at target fpp, capped at
    max_bits (bigger files degrade fpp instead of blowing up the
    snapshot JSON — Iceberg would spill these to manifest files)."""
    import math

    n = max(1, n)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, min(m, max_bits))
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _bloom_positions(values, m: int, k: int):
    """Deterministic bit positions (numpy array, shape [len, k]) via
    double hashing (h1 + i*h2 mod m) over pandas' stable siphash —
    identical on executors (build) and the driver (probe)."""
    import numpy as np
    import pandas as pd

    # categorize=False: the categorize path factorizes object strings
    # through a NUL-terminated khash, collapsing '\x00' into '' (and
    # any 'x\x00...' into 'x') — build and probe then disagree and the
    # bloom produces FALSE NEGATIVES, i.e. wrongly pruned files
    # (hypothesis found it with values ['', '', '\x00']). The direct
    # path hashes full byte content and is build/probe-consistent.
    h1 = pd.util.hash_pandas_object(
        values, index=False, categorize=False
    ).to_numpy(np.uint64)
    h2 = pd.util.hash_pandas_object(
        values.astype(str) + "\x00salt", index=False, categorize=False
    ).to_numpy(np.uint64) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)).astype(
        np.int64
    )


def _build_bloom(values, fpp: float, max_bits: int) -> dict | None:
    """Serialized bloom for one file's column values: {"m", "k", "t"
    (value dtype tag), "bits" (base64 packed bitset)}. Only integer
    and string columns are bloomed — float reprs are not stable enough
    across build/probe to risk a false-negative prune."""
    import base64

    import numpy as np
    import pandas as pd

    s = pd.Series(values).dropna()
    if pd.api.types.is_integer_dtype(s):
        tag = "i"
        s = s.astype("int64")
    elif pd.api.types.is_object_dtype(s) or pd.api.types.is_string_dtype(s):
        tag = "s"
        s = s.astype(str)
    else:
        return None
    m, k = _bloom_params(s.nunique(), fpp, max_bits)
    bits = np.zeros(m, dtype=bool)
    if len(s):
        bits[_bloom_positions(s, m, k).ravel()] = True
    return {
        "m": m,
        "k": k,
        "t": tag,
        "bits": base64.b64encode(np.packbits(bits).tobytes()).decode(),
    }


def _bloom_may_contain(bloom: dict, value) -> bool:
    """Driver-side probe; any doubt (type coercion failure) = True."""
    import base64

    import numpy as np
    import pandas as pd

    try:
        v = int(value) if bloom["t"] == "i" else str(value)
    except (TypeError, ValueError):
        return True
    bits = np.unpackbits(
        np.frombuffer(base64.b64decode(bloom["bits"]), dtype=np.uint8)
    )[: bloom["m"]]
    pos = _bloom_positions(pd.Series([v]), bloom["m"], bloom["k"])[0]
    return bool(bits[pos].all())


def annotate_blooms(
    spark: SparkSession,
    table_root: str,
    cols: list[str],
    fpp: float = 0.01,
    max_bits: int = 1 << 16,
    version: int | None = None,
) -> int:
    """Commit a snapshot carrying per-file bloom filters for the given
    columns. Min/max stats prune RANGES; blooms prune EQUALITY on
    high-cardinality keys, where every file's [min, max] spans the
    whole domain and stats never fire — the point-lookup path at
    100 TB. Probing is a metadata-only bitset test per (file, value):
    no footer, no scan. The bitsets are BUILT on executors and written
    straight into the manifest parquet (merged over any existing bloom
    columns); stats payloads carry through untouched and nothing
    per-file visits the driver."""
    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    v = log.latest() if version is None else version
    snap = log.read(v)
    name = _write_manifest_distributed(
        log,
        log.manifest_df(v),
        stat_cols=False,
        bloom_cols=cols,
        fpp=fpp,
        max_bits=max_bits,
        n_files_hint=snap.get("n_files"),
    )
    return log.commit(
        None,
        op="blooms",
        parent=v,
        schema=snap.get("schema"),
        manifest=name,
    )


def _disjoint(rng: list, lo, hi) -> bool:
    """True iff [rng.min, rng.max] provably misses [lo, hi]. Type
    mismatches (str stats vs numeric bound) never prune."""
    mn, mx = rng
    if mn is None or mx is None:
        return False
    try:
        if hi is not None and mn > hi:
            return True
        if lo is not None and mx < lo:
            return True
    except TypeError:
        return False
    return False


def _row_survives(
    stats_json: str | None,
    blooms_json: str | None,
    norm: dict[str, tuple],
    eq_preds: dict,
    relpath: str | None = None,
) -> bool:
    """Shared prune predicate for ONE manifest row (JSON-string
    payloads as stored) — used identically by the driver loop and the
    distributed manifest scan, so the two paths cannot diverge. When
    `relpath` is given, `_hp_<col>=<value>` layout components prune
    exactly like a recorded [v, v] stat range — partition pruning for
    spec-evolved tables needs no stats annotation at all."""
    import json as _json

    if relpath is not None:
        pvals = _path_partition_values(relpath)
        if any(
            col in pvals and _path_value_disjoint(pvals[col], lo, hi)
            for col, (lo, hi) in norm.items()
        ):
            return False
    file_cols = (
        (_json.loads(stats_json) if stats_json else {}).get("cols") or {}
    )
    file_blooms = _json.loads(blooms_json) if blooms_json else {}
    if any(
        col in file_cols and _disjoint(file_cols[col], lo, hi)
        for col, (lo, hi) in norm.items()
    ):
        return False
    if any(
        col in file_blooms
        and not _bloom_may_contain(file_blooms[col], val)
        for col, val in eq_preds.items()
    ):
        return False
    return True


def scan_plan(
    spark: SparkSession | None,
    table_root: str,
    predicates: dict[str, tuple],
    version: int | None = None,
) -> dict:
    """File pruning against snapshot stats and blooms. `predicates`
    maps column -> (lo, hi) inclusive bounds (None = unbounded) for
    ranges, or -> a scalar for equality. A file is dropped only when
    its recorded [min, max] provably misses the requested range, or
    (equality, bloom annotated) the bloom filter rules the value out —
    files without metadata for a column are always kept.

    Small tables prune in a driver loop over the manifest; past
    DISTRIBUTED_PRUNE_THRESHOLD files the manifest is scanned as a
    DataFrame and only the SURVIVING relpaths come back to the driver
    — at 10⁶ files the driver holds the kept list (what it must hand
    to the reader anyway), never the bloom payloads.

    `spark=None` plans with NO SparkSession (`SnapshotLog(None, root)`)
    — the data-source planner-worker entry (sources/snapshot_table.py).
    The distributed branch is then unavailable and every file count
    prunes in the local loop; with a shard index the loop still only
    touches the surviving shards, which is the same planning posture
    as Iceberg's (driver-side metadata, cost ∝ selectivity)."""
    log = SnapshotLog(spark, table_root)
    if isinstance(version, str):
        version = log.resolve_ref(version)
    v = log.latest() if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshots under {table_root}")
    norm = {
        col: (pred if isinstance(pred, tuple) else (pred, pred))
        for col, pred in predicates.items()
    }
    eq_preds = {
        col: pred
        for col, pred in predicates.items()
        if not isinstance(pred, tuple)
    }
    # transform-spec pruning: predicates on a spec SOURCE column gain
    # a derived twin in the `_hp_` dir-name domain (days/bucket/
    # truncate values), so transform layouts prune from the path
    # alone — no stats annotation needed (identity fields already
    # prune through their own column name)
    norm.update(_spec_derived_predicates(log, v, norm))
    snap = log.read(v)
    n_files = snap["n_files"]

    # two-level metadata (shard_manifest): when the version carries a
    # shard index and the predicate touches the shard key, open ONLY
    # the manifest shards whose recorded bounds survive — planning
    # cost scales with selectivity, not table size
    shard_info = None
    sharding = snap.get("manifest_shards")
    if sharding and sharding["by"] in norm:
        s_lo, s_hi = norm[sharding["by"]]
        kept_parts = [
            part
            for part, (plo, phi, unbounded, _nf) in sharding[
                "parts"
            ].items()
            if unbounded or not _disjoint([plo, phi], s_lo, s_hi)
        ]
        shard_info = {
            "shards_total": len(sharding["parts"]),
            "shards_opened": len(kept_parts),
            "paths": [
                posixpath.join(log._manifest_local(snap["manifest"]), part)
                for part in kept_parts
            ],
        }

    # the driver-vs-distributed decision sizes the rows the driver
    # would actually touch: with a shard index, that is the KEPT
    # shards' file count, not the table's — a selective probe over a
    # 10^6-file table stays a cheap driver loop over one shard
    effective_n = (
        sum(sharding["parts"][posixpath.basename(p)][3] for p in shard_info["paths"])
        if shard_info is not None
        else n_files
    )
    if effective_n > DISTRIBUTED_PRUNE_THRESHOLD and log.spark is not None:
        kept = _scan_plan_distributed(
            log,
            v,
            norm,
            eq_preds,
            manifest_paths=shard_info["paths"] if shard_info else None,
        )
        out = {
            "version": v,
            "paths": kept,
            "kept_files": len(kept),
            "pruned_files": n_files - len(kept),
        }
        if shard_info:
            out["shards_total"] = shard_info["shards_total"]
            out["shards_opened"] = shard_info["shards_opened"]
        return out
    import json as _json

    if shard_info is not None:
        # driver loop over ONLY the surviving shards' rows; files in
        # pruned shards were never read and count as pruned wholesale
        kept, scanned = [], 0
        for part_path in shard_info["paths"]:
            tbl = _read_manifest_table(part_path)
            for rp, st, bl in zip(
                tbl.column("relpath").to_pylist(),
                tbl.column("stats").to_pylist(),
                tbl.column("blooms").to_pylist(),
            ):
                scanned += 1
                if _row_survives(st, bl, norm, eq_preds, rp):
                    kept.append(rp)
        kept.sort()
        return {
            "version": v,
            "paths": kept,
            "kept_files": len(kept),
            "pruned_files": n_files - len(kept),
            "shards_total": shard_info["shards_total"],
            "shards_opened": shard_info["shards_opened"],
        }

    res = log._resolve(v)
    stats, blooms = res["stats"], res["blooms"]
    kept, pruned = [], 0
    for relpath, _size in res["files"]:
        ok = _row_survives(
            _json.dumps(stats[relpath]) if relpath in stats else None,
            _json.dumps(blooms[relpath]) if relpath in blooms else None,
            norm,
            eq_preds,
            relpath,
        )
        if ok:
            kept.append(relpath)
        else:
            pruned += 1
    return {
        "version": v,
        "paths": kept,
        "kept_files": len(kept),
        "pruned_files": pruned,
    }


def _scan_plan_distributed(
    log: SnapshotLog,
    version: int,
    norm: dict,
    eq_preds: dict,
    manifest_paths: list[str] | None = None,
) -> list[str]:
    """Prune on EXECUTORS: mapInPandas over the manifest DataFrame
    evaluates the same _row_survives predicate per row and emits only
    surviving relpaths. Predicate dicts ship in the closure (small);
    manifest payloads never leave the executors. `manifest_paths`
    (shard_manifest) restricts the scan to the surviving shard part
    files — pruned shards are never opened."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            mask = [
                _row_survives(st, bl, norm, eq_preds, rp)
                for st, bl, rp in zip(
                    pdf["stats"], pdf["blooms"], pdf["relpath"]
                )
            ]
            yield pd.DataFrame({"relpath": pdf["relpath"][mask]})

    # workers resolve _row_survives by module reference (see
    # _annotate_df) — ship the package for foreign-cwd drivers
    from hbase_compact_spark.shipping import ensure_package_on_executors

    ensure_package_on_executors(log.spark)
    if manifest_paths is not None:
        src = log.spark.read.schema(MANIFEST_SCHEMA_DDL).parquet(
            *manifest_paths
        )
    else:
        src = log.manifest_df(version)
    rows = src.mapInPandas(gen, "relpath string").collect()
    return sorted(r["relpath"] for r in rows)


def read_table_where(
    spark: SparkSession,
    table_root: str,
    predicates: dict[str, tuple],
    version: int | None = None,
) -> DataFrame:
    """Read the snapshot with stats-based FILE pruning plus the exact
    range filters — the layout payoff: after a z-ordered
    `snapshot_compact(cluster_by=[a, b])` + `annotate_stats`, a
    predicate on a OR b skips whole files from the scan list before
    Spark plans anything (on top of parquet's own row-group pruning
    inside the files that remain). Pruning is conservative, the filter
    is exact, so results always equal full-scan + filter.

    A small pruned read runs on the driver (_read_on_driver): the kept
    files of a local root, at most the executor's
    _ARROW_REWRITE_MAX_BYTES in all, are read with pyarrow into a local
    relation, so building and collecting a lookup launches no Spark
    job; the filters then fold on the driver. Every other read — and
    any the driver cannot read as Spark does — scans the files with
    Spark (_read_relpaths). A read that prunes every file returns an
    empty frame of the declared schema."""
    plan = scan_plan(spark, table_root, predicates, version)
    paths = plan["paths"]
    log = SnapshotLog(spark, table_root)
    # apply the snapshot's declared schema exactly like read_table_at:
    # an evolved table must present the same columns through BOTH read
    # paths (added columns as NULL, dropped columns hidden); the
    # layout-generation grouping also matches, so spec-evolved tables
    # read identically pruned or not
    declared, pcols = log.schema(plan["version"])
    df = _read_on_driver(spark, log, plan["version"], paths, declared, pcols)
    if df is None:
        if not paths:
            # every file provably disjoint, no declared schema to build
            # an empty frame of: scan one file (the filter makes it
            # empty) purely to preserve the schema of the result
            paths = [log.files(plan["version"])[0][0]]
        df = _read_relpaths(
            spark, table_root, paths, declared,
            mor=_mor_info(log, plan["version"]),
        )
    for col, pred in predicates.items():
        if not isinstance(pred, tuple):
            df = df.filter(F.col(col) == F.lit(pred))
            continue
        lo, hi = pred
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    return df


def _nullable(dtype):
    """`dtype` with every field, element and value nullable at any
    depth: the schema Spark's file reader gives a declared one."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dtype, StructType):
        return StructType(
            [
                StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, ArrayType):
        return ArrayType(_nullable(dtype.elementType), True)
    if isinstance(dtype, MapType):
        return MapType(_nullable(dtype.keyType), _nullable(dtype.valueType), True)
    return dtype


def _read_on_driver(
    spark: SparkSession,
    log: SnapshotLog,
    version: int,
    relpaths: list[str],
    declared,
    pcols: list[str],
) -> DataFrame | None:
    """The kept files `relpaths` of `version` as a local relation read
    with pyarrow on the driver, or None when Spark must scan them. The
    frame is what _read_relpaths returns for the same files: the
    declared schema with every field nullable, pending delete entries
    applied.

    It needs a declared schema. With no kept file it is an empty frame
    of that schema (unless the table has hive partition columns, which
    Spark's reader places itself). Otherwise no kept file may sit
    under a legacy hive `k=v` directory, the files may hold at most
    the executor's _ARROW_REWRITE_MAX_BYTES (the driver-memory bound
    the rewrite kernel holds a partition to), and
    the pending delete entries at most MOR_BROADCAST_ROWS rows. Each
    file is read by the kernel's own read step (executor._read_arrow):
    its columns must be the declared fields by name and Spark type, its
    rows the footer's, and the pending entries are applied by
    _driver_mor_filter, which hands an entry it cannot apply alike to
    Spark. TIMESTAMP columns become tz-aware UTC, as INT96 and
    UTC-adjusted files store them: createDataFrame would otherwise read
    a naive one in the session time zone."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    if declared is None:
        return None
    schema = _nullable(declared)
    try:
        arrow_schema = to_arrow_schema(schema)
    except TypeError:
        return None  # a type with no Arrow form: Spark reads it
    if not relpaths:
        if pcols:
            return None
        return spark.createDataFrame(arrow_schema.empty_table(), schema)
    root = log.root_local
    if any(_hive_keys(p) for p in relpaths):
        return None
    sizes = dict(log.files(version))
    if sum(sizes[p] for p in relpaths) > executor._ARROW_REWRITE_MAX_BYTES:
        return None
    entries = log.delete_files(version)
    if sum(n for _, n in entries) > MOR_BROADCAST_ROWS:
        return None
    mor_drop = _driver_mor_filter(log, version) if entries else None
    paths = [os.path.join(root, p) for p in relpaths]
    tables = executor._read_arrow(
        paths,
        [pq.read_metadata(p) for p in paths],
        log.table_root,
        schema=declared,
        row_filter=None
        if mor_drop is None
        else lambda i, t: mor_drop(relpaths[i], t),
    )
    if tables is None:
        return None
    try:
        tbl = pa.concat_tables([t.cast(arrow_schema) for t in tables])
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return None
    # one chunk: createDataFrame sends a chunk per Arrow batch, and the
    # JVM stops reading at an empty batch (an empty file, or a file
    # whose rows the deletes all dropped), losing every later row
    return spark.createDataFrame(tbl.combine_chunks(), schema)


# --------------------------------------------------------------------
# Optimistic-retry commit protocol (Iceberg's validate → rebase →
# recommit): every snapshot-log writer, not just streaming ingest,
# survives losing the commit race to a DISJOINT concurrent committer.
# The reference assumes a single writer (its one checkpoint file,
# QHBaseCompact.java:102-115); at 100 TB every real table has ingest,
# compaction, and GDPR deletes racing, so the engine outgrows that
# assumption here. Bounded attempts; a SEMANTIC conflict (overlapping
# rewrites) aborts immediately — retrying cannot make it safe.
COMMIT_REBASE_RETRIES = int(os.environ.get("HCS_COMMIT_REBASE_RETRIES", 5))


def _rebase_keep_or_raise(
    spark: SparkSession,
    log: SnapshotLog,
    old_base: int,
    new_latest: int,
    replaced: set[str],
) -> list[tuple[str, int]]:
    """Validate that a rewrite derived from snapshot `old_base` may
    REBASE onto `new_latest` (a concurrent committer won the race)
    and return the rebased keep list — new latest's files minus the
    rewrite's replaced sources. Aborts (re-raises
    SnapshotConflictError) when the intervening commits:

    1. removed or rewrote ANY file this rewrite read-and-replaced —
       the two rewrites overlap, so rebasing would either resurrect
       rows the winner deleted or drop rows it added;
    2. changed the declared schema — the loser's new files physically
       materialized the old shape. Recording a schema onto a base
       committed without one is not a change (the first commit onto a
       log written before versions recorded their schema does that)
       unless an `evolve` commit landed in between;
    3. added MOR delete entries touching a replaced file — the
       rewrite read effective rows AT old_base, so rows logically
       deleted in between would silently resurrect inside its output.
       (By-name comparison: a concurrent rewrite that merely shrank a
       surviving entry's scope re-publishes it under a fresh name, so
       this check can abort conservatively — never falsely proceed.)

    Disjoint work — appends, rewrites of OTHER files, deletes scoped
    to carried files — rebases cleanly: the caller recommits with the
    returned keep list against `new_latest`."""
    new_files = log.files(new_latest)
    missing = replaced - {p for p, _ in new_files}
    if missing:
        raise SnapshotConflictError(
            f"concurrent commit removed {len(missing)} file(s) this "
            f"rewrite replaced (e.g. {sorted(missing)[:3]}) — "
            "overlapping rewrites cannot rebase; re-derive from the "
            "new latest snapshot"
        )
    old_schema = log.read(old_base).get("schema")
    if old_schema is None:
        evolved = any(
            log.read(v).get("op") == "evolve"
            for v in log.versions()
            if old_base < v <= new_latest
        )
    else:
        evolved = log.read(new_latest).get("schema") != old_schema
    if evolved:
        raise SnapshotConflictError(
            "concurrent schema evolution landed mid-rewrite — the "
            "rewritten files materialized the old schema; re-derive"
        )
    old_entries = {n for n, _ in log.delete_files(old_base)}
    fresh = [
        n for n, _ in log.delete_files(new_latest) if n not in old_entries
    ]
    if fresh and replaced & _mor_affected_relpaths(spark, log, fresh):
        raise SnapshotConflictError(
            "concurrent MOR delete touches files this rewrite "
            "replaced — its rows would resurrect; re-derive"
        )
    return [(p, s) for p, s in new_files if p not in replaced]


def _write_changelog(
    spark: SparkSession,
    log: SnapshotLog,
    base_version: int,
    removed: list[str],
    added_rel: list[str],
    schema_blob: dict | None,
) -> tuple[str, int, int]:
    """Materialize the ROW-LEVEL diff of a COW rewrite as a commit
    artifact under `_snapshots/changes/c-<uuid>/{deletes,inserts}` —
    Delta's Change Data Feed move. The frames are exactly
    read_changes' formula restricted to this rewrite's file diff
    (removed files read under the BASE version's MOR entries vs the
    freshly-written added files; carried files contribute nothing by
    definition), so the artifact is multiset-equal to the batch
    changelog by construction — pinned in tests/test_table_tail.py.
    Cost: one exceptAll shuffle over the TOUCHED rows only — O(diff),
    never O(table) — paid once at commit so every downstream CDC
    consumer (streaming/table_tail.py mode="cdc") reads the rewrite's
    changes as plain parquet partitions instead of refusing.

    Returns (artifact name, n_deletes, n_inserts). Rebase-stable: a
    clean rebase carries the same removed/added sets (overlapping
    rewrites abort), so the artifact is written once per rewrite."""
    from pyspark.sql.types import StructType

    schema = (
        StructType.fromJson(schema_blob["fields"]) if schema_blob else None
    )
    mor = _mor_info(log, base_version)
    old_df = (
        _read_relpaths(spark, log.table_root, sorted(removed), schema, mor=mor)
        if removed
        else None
    )
    new_df = (
        _read_relpaths(spark, log.table_root, sorted(added_rel), schema)
        if added_rel
        else None
    )
    if old_df is None and new_df is None:
        raise ValueError("changelog of an empty rewrite")
    if old_df is None:
        old_df = new_df.limit(0)
    if new_df is None:
        new_df = old_df.limit(0)
    # without a declared schema, layout generations may disagree on
    # hive path columns — align like read_changes' unionByName does
    if schema is None:
        common = [c for c in old_df.columns if c in set(new_df.columns)]
        old_df, new_df = old_df.select(*common), new_df.select(*common)
    return _write_change_frames(
        spark, log, old_df.exceptAll(new_df), new_df.exceptAll(old_df)
    )


def _write_change_frames(
    spark: SparkSession,
    log: SnapshotLog,
    deletes: DataFrame,
    inserts: DataFrame,
) -> tuple[str, int, int]:
    """Land a change artifact's two sides under
    `_snapshots/changes/c-<uuid>/{deletes,inserts}` and return
    (name, n_deletes, n_inserts) — shared by the rewrite and
    rollback changelog writers."""
    name = f"c-{uuid.uuid4().hex[:12]}"
    base = posixpath.join(log.table_root, SNAPSHOT_DIR, CHANGES_SUBDIR, name)
    deletes.write.mode("overwrite").parquet(posixpath.join(base, "deletes"))
    inserts.write.mode("overwrite").parquet(posixpath.join(base, "inserts"))
    n_del = spark.read.parquet(posixpath.join(base, "deletes")).count()
    n_ins = spark.read.parquet(posixpath.join(base, "inserts")).count()
    return name, n_del, n_ins


def _commit_rewrite(
    spark: SparkSession,
    log: SnapshotLog,
    *,
    base_version: int,
    keep: list[tuple[str, int]],
    added: list[tuple[str, int]],
    op: str,
    schema: dict | None,
    max_retries: int | None = None,
    validate_rebase=None,
    changelog: bool = False,
) -> int:
    """Commit a rewrite (compact / COW delete / merge) with the
    optimistic validate-rebase-retry loop. Each attempt rebuilds the
    child manifest (kept rows carried + added files footer-annotated,
    `_carried_manifest`) and re-derives the surviving MOR delete entries
    against the CURRENT base, so a rebase carries a concurrent
    committer's appends and delete entries forward instead of
    dropping them. The losing attempt's manifest is deleted by
    commit()'s abort path and its freshly-consolidated delete entries
    are removed below — no orphans accumulate across retries.

    `validate_rebase(new_latest, appended_relpaths)` lets the caller
    veto a structurally-clean rebase on SEMANTIC grounds by raising
    SnapshotConflictError — COW delete uses it to refuse carrying
    concurrently-appended files that may hold predicate matches
    (serializable row-level deletes, matching the MOR path)."""
    retries = COMMIT_REBASE_RETRIES if max_retries is None else max_retries
    replaced = {p for p, _ in log.files(base_version)} - {
        p for p, _ in keep
    }
    changelog_entry = None
    if changelog and (replaced or added):
        changelog_entry = list(
            _write_changelog(
                spark,
                log,
                base_version,
                sorted(replaced),
                [p for p, _ in added],
                schema,
            )
        )
    cur, cur_keep = base_version, keep
    for _ in range(retries + 1):
        manifest = _carried_manifest(spark, log, cur, cur_keep, added)
        extra = _retire_delete_entries(
            spark, log, cur, [p for p, _ in cur_keep]
        )
        if changelog_entry is not None:
            extra = dict(extra or {})
            extra["changelog"] = changelog_entry
        try:
            return log.commit(
                None,
                op=op,
                parent=cur,
                schema=schema,
                manifest=manifest,
                extra=extra,
            )
        except SnapshotConflictError:
            # commit()'s abort removed the losing manifest; also remove
            # the delete entries _retire_delete_entries freshly WROTE
            # for this attempt (consolidated positional file, rewritten
            # e-* dirs) — carried-by-name entries belong to the base
            # and stay. Without this, every rebase leaks one entry set
            # until sweep_orphans (mirrors _snapshot_delete_mor).
            base_entry_names = {n for n, _ in log.delete_files(cur)}
            for n, _cnt in (extra or {}).get("delete_files", []):
                if n not in base_entry_names:
                    _remove_local(log._local(DELETES_SUBDIR, n))
            new_latest = log.latest()
            cur_keep = _rebase_keep_or_raise(
                spark, log, cur, new_latest, replaced
            )
            # a schemaless base rebased onto a recorded schema: carry it
            schema = schema or log.read(new_latest).get("schema")
            if validate_rebase is not None:
                appended = {p for p, _ in log.files(new_latest)} - {
                    p for p, _ in log.files(cur)
                }
                validate_rebase(new_latest, appended)
            cur = new_latest
    if changelog_entry is not None:
        # the rewrite is abandoned: reclaim its change artifact so
        # retries never leak changelog dirs into the tree
        _remove_local(log._local(CHANGES_SUBDIR, changelog_entry[0]))
    raise SnapshotConflictError(
        f"rewrite commit kept conflicting after {retries} rebases "
        f"under {log.log_dir}"
    )


def snapshot_compact(
    spark: SparkSession,
    table_root: str,
    *,
    target_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
    migrate_spec: bool = False,
) -> dict:
    """Append-only compaction under the snapshot log: qualifying
    partitions (>1 file and a strictly lower planned bin count — the
    reference's filenum>1 gate, QHC.java:151) are rewritten into fresh
    uuid-named files, verified, and ONE new snapshot referencing
    old-files-minus-replaced-plus-new is committed. Old files are not
    touched — readers of any retained version keep working;
    `expire_snapshots` reclaims. A failed verification raises
    RuntimeError and commits nothing; files this call already landed
    are removed.

    A partition of a local table of at most the executor's
    _ARROW_REWRITE_MAX_BYTES, without `cluster_by`, while the pending
    delete entries hold at most MOR_BROADCAST_ROWS rows, is rewritten
    on the driver by the executor's kernel (executor._arrow_kernel)
    with no Spark job: it applies the pending entries
    (_driver_mor_filter), orders by `sort_by`, else the declared sort
    order, and compares every written file exactly with its slice of
    the rows. It hands back to Spark a partition whose files do not
    hold exactly the declared data schema (an evolved schema), or that
    it cannot encode or filter alike. Every other partition, and the
    spec migration, is a Spark rewrite verified by a row count and
    order-insensitive content fingerprint of both sides
    (executor._fingerprint, the gate of executor._compact_one).

    `cluster_by` z-orders each rewrite (functions/zorder.py) so the
    new files carry tight per-file min/max on every clustered column;
    combined with `annotate_stats` this gives snapshot-level file
    pruning via `read_table_where`. If the parent snapshot carries
    stats they are maintained incrementally (kept files inherit, new
    files get a footer pass).

    Returns {"version": committed (or current, if nothing qualified),
    "rewritten": n_partitions, "new_files": n}.
    """
    import math

    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    base_version = log.latest()
    base = log.files(base_version)

    # evolved tables rewrite THROUGH the declared schema: added
    # columns materialize physically (as nulls where absent), dropped
    # columns are shed from the new files
    schema_blob = log.read(base_version).get("schema")
    data_schema = None
    if schema_blob:
        from pyspark.sql.types import StructType

        full = StructType.fromJson(schema_blob["fields"])
        pset = set(schema_blob["partition_cols"])
        data_schema = StructType([f for f in full.fields if f.name not in pset])

    # merge-on-read: compaction is where pending positional deletes
    # get PHYSICALLY applied and retired — partitions holding a file
    # with pending entries always qualify for rewrite (Iceberg's
    # rewrite-data-files delete threshold), the rewrite reads
    # effective rows, and consumed entries drop from the new snapshot
    pending = _mor_info(log, base_version)
    affected = (
        _mor_affected_relpaths(
            spark, log, [n for n, _ in log.delete_files(base_version)]
        )
        if pending
        else set()
    )
    declared = sort_order_of(log, base_version)
    declared_sort = declared["sort_by"] if declared else None

    # spec migration (Iceberg rewrite-data-files with spec migration):
    # with migrate_spec=True, files NOT living under the CURRENT
    # partition spec's `_hp_` layout (pre-evolution plain files, older
    # spec generations) are rewritten INTO it, so an evolved table
    # converges to one path-prunable layout over time instead of
    # carrying mixed generations forever
    migrate: list[tuple[str, int]] = []
    spec = partition_spec_of(log, base_version) if migrate_spec else None
    if spec:
        want = {parse_partition_field(r).name for r in spec["partition_by"]}
        migrate = [
            (p, s)
            for p, s in base
            if not want <= set(_path_partition_values(p))
        ]
        migrate_set = {p for p, _ in migrate}
        base = [(p, s) for p, s in base if p not in migrate_set]

    by_part: dict[str, list[tuple[str, int]]] = {}
    for relpath, size in base:
        by_part.setdefault(posixpath.dirname(relpath), []).append((relpath, size))

    # a partition under the executor's cap takes its driver-side
    # kernel, pending deletes applied by _driver_mor_filter, when the
    # entries fit the bound every MOR read already holds them to
    root = log.root_local
    kernel_ok = (
        not cluster_by
        and sum(n for _, n in log.delete_files(base_version))
        <= MOR_BROADCAST_ROWS
    )
    mor_drop = _driver_mor_filter(log, base_version) if kernel_ok else None

    keep: list[tuple[str, int]] = []
    added: list[tuple[str, int]] = []
    rewritten = 0
    try:
        for part_rel in sorted(by_part):
            files = by_part[part_rel]
            total = sum(s for _, s in files)
            n_bins = max(1, math.ceil(total / target_bytes))
            has_pending = any(p in affected for p, _ in files)
            if (len(files) <= 1 or n_bins >= len(files)) and not has_pending:
                keep.extend(files)
                continue
            n_bins = min(n_bins, len(files))
            tmp_name = (
                "_snapcompact_tmp_"
                + hashlib.md5(part_rel.encode()).hexdigest()[:12]
            )
            tmp_dir = os.path.join(root, tmp_name)
            n = None
            if kernel_ok and total <= executor._ARROW_REWRITE_MAX_BYTES:
                rels = [p for p, _ in files]
                n = _arrow_kernel(
                    [os.path.join(root, p) for p in rels],
                    tmp_dir,
                    n_bins,
                    sort_by or declared_sort,
                    part_rel,
                    schema=data_schema,
                    row_filter=lambda i, t: mor_drop(rels[i], t),
                )
            if n is None:
                _spark_compact_partition(
                    spark, table_root, part_rel, files, tmp_dir, n_bins,
                    data_schema, pending, sort_by, cluster_by, declared_sort,
                )
            added.extend(_land_files(tmp_dir, root, part_rel, "compacted"))
            rewritten += 1
        migrated = 0
        if migrate:
            added.extend(
                _migrate_spec(
                    spark, table_root, migrate, spec, data_schema, pending,
                    target_bytes,
                )
            )
            migrated = len(migrate)
            rewritten += 1
    except BaseException:
        # no snapshot references what this call landed so far
        for p, _ in added:
            _remove_local(os.path.join(root, p))
        raise
    if not rewritten:
        return {
            "version": base_version,
            "rewritten": 0,
            "new_files": 0,
            "migrated": 0,
        }
    version = _commit_rewrite(
        spark,
        log,
        base_version=base_version,
        keep=keep,
        added=added,
        op="compact",
        schema=schema_blob,
    )
    return {
        "version": version,
        "rewritten": rewritten,
        "new_files": len(added),
        "migrated": migrated,
    }


def _spark_compact_partition(
    spark: SparkSession,
    table_root: str,
    part_rel: str,
    files: list[tuple[str, int]],
    tmp_dir: str,
    n_bins: int,
    data_schema,
    pending: _MorPending | None,
    sort_by: list[str] | None,
    cluster_by: list[str] | None,
    declared_sort: list[str] | None,
) -> None:
    """snapshot_compact's Spark rewrite of one partition into
    `tmp_dir`, verified by a row count and content fingerprint of both
    sides (executor._fingerprint); on a mismatch the tmp dir is
    removed and RuntimeError raised."""
    srcs = [posixpath.join(table_root, p) for p, _ in files]
    src = (
        spark.read.schema(data_schema).parquet(*srcs)
        if data_schema is not None
        else executor._read_every_column(spark.read, srcs)
    )
    src = _mor_filter_scan(spark, table_root, src, pending)
    if cluster_by:
        from hbase_compact_spark.functions.zorder import cluster_by_zorder

        writer = cluster_by_zorder(src, cluster_by, n_bins)
    elif sort_by:
        writer = src.repartition(n_bins).sortWithinPartitions(*sort_by)
    elif declared_sort and all(c in src.columns for c in declared_sort):
        # the table's DECLARED sort order (set_sort_order) is the
        # default rewrite shape: range-clustered bins give each output
        # file a disjoint key range, so compaction makes stats-pruning
        # selectivity BETTER, never worse
        writer = src.repartitionByRange(
            n_bins, *declared_sort
        ).sortWithinPartitions(*declared_sort)
    else:
        writer = src.repartition(n_bins)
    writer.write.mode("overwrite").parquet(tmp_dir)
    out = spark.read.parquet(tmp_dir)
    if _fingerprint(src) != _fingerprint(out):
        _remove_local(tmp_dir)
        raise RuntimeError(
            f"snapshot compaction verification failed: {part_rel}"
        )


def _migrate_spec(
    spark: SparkSession,
    table_root: str,
    migrate: list[tuple[str, int]],
    spec: dict,
    data_schema,
    pending: _MorPending | None,
    target_bytes: int,
) -> list[tuple[str, int]]:
    """Rewrite the files `migrate` into the partition spec's `_hp_`
    layout with Spark, verified like _spark_compact_partition; returns
    [(relpath, size)] of what landed."""
    import math

    relpaths = [p for p, _ in migrate]
    src = _read_relpaths(spark, table_root, relpaths, data_schema, mor=pending)
    total = sum(s for _, s in migrate)
    n_bins = max(1, math.ceil(total / target_bytes))
    hp_cols = []
    aug = src
    for raw in spec["partition_by"]:
        fld = parse_partition_field(raw)
        hp = PARTITION_DIR_PREFIX + fld.name
        aug = aug.withColumn(hp, _partition_field_expr(src, fld))
        hp_cols.append(hp)
    root = _local_root(table_root)
    tmp_dir = os.path.join(root, f"_snapmigrate_tmp_{uuid.uuid4().hex[:10]}")
    (
        aug.repartition(n_bins, *hp_cols)
        .write.partitionBy(*hp_cols)
        .mode("overwrite")
        .parquet(tmp_dir)
    )
    out = spark.read.parquet(tmp_dir).select(*src.columns)
    if _fingerprint(src) != _fingerprint(out):
        _remove_local(tmp_dir)
        raise RuntimeError(
            f"spec-migration verification failed under {table_root}"
        )
    return _land_files(tmp_dir, root, "", "compacted")


def _parent_meta_cols(log: SnapshotLog, version: int) -> tuple[list, list]:
    """(stat_cols, bloom_cols) the parent snapshot's manifest carries.
    Two-stage O(1)-ish discovery: parquet COLUMN STATISTICS first — a
    payload column whose every row group is all-NULL provably carries
    nothing, at zero data read — then an early-exit batch scan only
    over the columns the metadata says might hold something, stopping
    as soon as each has yielded its column set. A stats-only manifest
    (the common case) therefore never scans the bloom payloads at
    all."""
    import json as _json
    import os as _os

    import pyarrow.parquet as pq

    stat_cols: set = set()
    bloom_cols: set = set()
    local = log._manifest_local(log.read(version)["manifest"])
    if _os.path.isdir(local):
        parts = sorted(
            _os.path.join(local, n)
            for n in _os.listdir(local)
            if n.endswith(".parquet")
        )
    else:
        parts = [local]
    if not parts:
        return [], []  # zero-row manifest: no metadata columns

    def _column_possible(col_name: str) -> bool:
        """False only when every row group PROVABLY holds all NULLs."""
        for part in parts:
            md = pq.ParquetFile(part).metadata
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            i = idx.get(col_name)
            if i is None:
                continue
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(i).statistics
                if st is None or st.null_count is None:
                    return True  # unknown: must scan
                if st.null_count < md.row_group(g).num_rows:
                    return True
        return False

    want = []
    if _column_possible("stats"):
        want.append("stats")
    if _column_possible("blooms"):
        want.append("blooms")
    if not want:
        return [], []

    import pyarrow.dataset as ds

    dataset = ds.dataset(local, format="parquet")
    pending = set(want)
    for batch in dataset.to_batches(columns=want, batch_size=1024):
        cols = {nm: batch.column(nm).to_pylist() for nm in want}
        for row_i in range(batch.num_rows):
            if "stats" in pending:
                st = cols.get("stats", [None])[row_i] if "stats" in cols else None
                if st:
                    stat_cols.update(
                        (_json.loads(st).get("cols") or {}).keys()
                    )
                    if stat_cols:
                        pending.discard("stats")
            if "blooms" in pending:
                bl = cols.get("blooms", [None])[row_i] if "blooms" in cols else None
                if bl:
                    parsed = _json.loads(bl)
                    if parsed:
                        bloom_cols.update(parsed.keys())
                        pending.discard("blooms")
            if not pending:
                break
        if not pending:
            break
    return sorted(stat_cols), sorted(bloom_cols)


def _carried_manifest(
    spark: SparkSession | None,
    log: SnapshotLog,
    base_version: int,
    keep: list[tuple[str, int]] | None,
    added: list[tuple[str, int]],
) -> str:
    """The one child-manifest builder, for appends (`keep=None`: every
    parent row) and rewrites (compact/delete/merge/upsert: only the
    `keep` rows). Kept files' manifest rows carry their stats + bloom
    payloads intact; added files get a footer/bloom pass
    (`_meta_row`) for the SAME columns the parent tracks, so an
    appended file prunes like a compacted one. Returns the manifest
    name.

    Up to DISTRIBUTED_PRUNE_THRESHOLD files (parent rows + added) the
    manifest is built on the driver with pyarrow and written as one
    parquet — no Spark job. That is the bound under which scan_plan
    and _probe_candidates already load the whole manifest on the
    driver for every read, so the memory is already assumed. The
    bound counts files, not bytes: footer stats cost ≈0.2 ms per added
    file, but a bloom reads the bloomed column of each added file on
    the driver — ≈0.87 s for a 1M-row append (≈115 ms per MB of int64
    keys; a 13.5 MB file with a 7.6 MB key column, one core of a
    4-core host). Past the bound, the filter, the annotation
    pass and the write run on executors and the driver holds only the
    names+sizes of the file list itself."""
    stat_cols, bloom_cols = _parent_meta_cols(log, base_version)
    stat_cols, bloom_cols = stat_cols or False, bloom_cols or None
    n_parent = log.read(base_version)["n_files"]
    if n_parent + len(added) <= DISTRIBUTED_PRUNE_THRESHOLD:
        import pyarrow as pa
        import pyarrow.compute as pc

        schema = _manifest_arrow_schema()
        parent = log.manifest_table(base_version).cast(schema)
        if keep is not None:
            parent = parent.filter(
                pc.is_in(
                    parent["relpath"],
                    value_set=pa.array([p for p, _ in keep], pa.string()),
                )
            )
        root_local = log.root_local
        metas = [
            _meta_row(root_local, p, None, None, stat_cols, bloom_cols)
            for p, _ in added
        ]
        added_tbl = pa.table(
            {
                "relpath": [p for p, _ in added],
                "size": [int(s) for _, s in added],
                "stats": [st for st, _ in metas],
                "blooms": [bl for _, bl in metas],
            },
            schema=schema,
        )
        return log.write_manifest_table(pa.concat_tables([parent, added_tbl]))
    parent_df = log.manifest_df(base_version)
    if keep is None:
        keep_df = parent_df
    elif keep:
        keep_df = parent_df.join(
            spark.createDataFrame(
                [(p,) for p, _ in keep], "relpath string"
            ),
            "relpath",
            "left_semi",
        )
    else:
        keep_df = parent_df.limit(0)
    added_src = spark.createDataFrame(
        [(p, int(s), None, None) for p, s in added],
        MANIFEST_SCHEMA_DDL,
    )
    added_df = _annotate_df(
        log,
        added_src,
        stat_cols=stat_cols,
        bloom_cols=bloom_cols,
        n_files_hint=max(1, len(added)),
    )
    return _write_manifest_distributed(
        log,
        keep_df.unionByName(added_df),
        stat_cols=False,
        bloom_cols=None,
    )


def _partition_cols_of(log: SnapshotLog, version: int) -> list[str]:
    """Partition columns: from the declared schema if evolved, else
    detected from hive `k=v` path components."""
    blob = log.read(version).get("schema")
    if blob:
        return list(blob["partition_cols"])
    pcols: list[str] = []
    for relpath, _ in log.files(version):
        for comp in posixpath.dirname(relpath).split("/"):
            # _hp_ spec dirs are layout, not hive partition columns
            if "=" in comp and not comp.startswith(PARTITION_DIR_PREFIX):
                name = comp.split("=", 1)[0]
                if name not in pcols:
                    pcols.append(name)
    return pcols


def _predicate_expr(predicates: dict[str, tuple]):
    """The exact Column expression for a scan_plan-style predicate
    dict (scalar = equality, (lo, hi) = inclusive range)."""
    e = F.lit(True)
    for col, pred in predicates.items():
        if not isinstance(pred, tuple):
            e = e & (F.col(col) == F.lit(pred))
            continue
        lo, hi = pred
        if lo is not None:
            e = e & (F.col(col) >= F.lit(lo))
        if hi is not None:
            e = e & (F.col(col) <= F.lit(hi))
    return e


def _snapshot_delete_mor(
    spark: SparkSession,
    log: SnapshotLog,
    table_root: str,
    predicates: dict[str, tuple],
    base_version: int,
    plan: dict,
    condition: str | None = None,
) -> dict:
    """Merge-on-read DELETE body (see snapshot_delete): record the
    matching rows' (file, position) pairs in a delete file and commit
    it with the PARENT'S manifest byte-copied — no data file opened
    for write, no data byte rewritten. Already-pending entries apply
    to the candidate read, so a repeated delete records nothing twice
    (idempotent) and `deleted_rows` counts only newly-removed rows."""
    cand_rel = plan["paths"]
    pending = _mor_info(log, base_version)
    if not cand_rel:
        return {
            "version": base_version,
            "deleted_rows": 0,
            "rewritten_files": 0,
            "scanned_files": 0,
            "delete_files": len(log.delete_files(base_version)),
        }
    declared, _pcols = log.schema(base_version)
    src, rel, pos = _read_relpaths(
        spark, table_root, cand_rel, declared,
        mor=pending, with_positions=True,
    )
    match = (
        F.expr(condition)
        if condition is not None
        else _predicate_expr(predicates)
    )
    matches = src.filter(match).select(
        F.col(rel).alias("relpath"), F.col(pos).alias("pos")
    )
    name, n = _write_delete_file(spark, log, matches)
    if n == 0:
        return {
            "version": base_version,
            "deleted_rows": 0,
            "rewritten_files": 0,
            "scanned_files": len(cand_rel),
            "delete_files": len(log.delete_files(base_version)),
        }
    new_list = [[nm, cnt] for nm, cnt in log.delete_files(base_version)]
    new_list.append([name, n])
    manifest = log.copy_manifest(base_version)
    try:
        v = log.commit(
            None,
            op="mor_delete",
            parent=base_version,
            schema=log.read(base_version).get("schema"),
            manifest=manifest,
            extra={"delete_files": new_list},
        )
    except SnapshotConflictError:
        # the published delete file belongs to no committed version —
        # remove it before the caller re-derives against the new
        # latest (otherwise each retry would leak one orphan)
        _remove_local(log._local(DELETES_SUBDIR, name))
        raise
    return {
        "version": v,
        "deleted_rows": n,
        "rewritten_files": 0,
        "scanned_files": len(cand_rel),
        "delete_files": len(new_list),
    }


def _parquet_rows(local_dir: str) -> int:
    """Row count of a Spark-written parquet dir, from its part files'
    footers — metadata only, no Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(posixpath.join(local_dir, n)).metadata.num_rows
        for n in os.listdir(local_dir)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )


def _spark_parquet_options(spark: SparkSession, schema) -> dict | None:
    """`pq.write_table` options under which a driver-written entry
    file encodes its columns the way Spark's own parquet writer does,
    so Spark and the pyarrow entry readers (sources/snapshot_table.py,
    streaming/table_tail.py) see driver- and Spark-written entries
    alike. Only timestamps differ: Spark writes TIMESTAMP_NTZ as int64
    micros and TIMESTAMP per `spark.sql.parquet.outputTimestampType`
    (INT96 by default, which pyarrow reads back as naive
    timestamp[ns]). None when one pyarrow call cannot match both (an
    INT96 or millis TIMESTAMP beside a TIMESTAMP_NTZ): the caller then
    writes through Spark."""
    import pyarrow as pa

    opts: dict = {"store_schema": False}
    ts = [f.type for f in schema if pa.types.is_timestamp(f.type)]
    if not any(t.tz for t in ts):
        return opts
    out = spark.conf.get("spark.sql.parquet.outputTimestampType").upper()
    if out == "TIMESTAMP_MICROS":
        return opts
    if out == "INT96" and all(t.tz for t in ts):
        opts["use_deprecated_int96_timestamps"] = True
        return opts
    return None


def _write_entry_part(tbl, local_dir: str, **opts) -> None:
    """One driver-written part file under a new entry dir — the dir
    shape Spark's writer gives entries, so every reader lists both
    alike."""
    import pyarrow.parquet as pq

    os.makedirs(local_dir)
    pq.write_table(
        tbl,
        posixpath.join(local_dir, f"part-00000-{uuid.uuid4().hex}.parquet"),
        **opts,
    )


def _write_delete_file(spark: SparkSession, log: SnapshotLog, entries):
    """Land (relpath, pos) positional entries as ONE immutable delete
    parquet under `_snapshots/deletes/` (tmp-write + rename, same
    publication discipline as manifests), sorted by (relpath, pos) so
    the footer carries tight relpath ranges. `entries` is a pyarrow
    table (bounded: written on the driver, no Spark job) or a
    DataFrame (written by Spark into one file: a delete set is orders
    of magnitude smaller than the data it subtracts). The row count
    comes from the written footers, never from a re-read. Returns
    (name, n_rows); (None, 0) when there are no entries — callers
    then commit an empty delete_files list instead of referencing a
    vacuous file."""
    tmp = log._local(DELETES_SUBDIR, f"_tmp-{uuid.uuid4().hex[:10]}")
    if isinstance(entries, DataFrame):
        (
            entries.select(
                F.col("relpath").cast("string"), F.col("pos").cast("long")
            )
            .repartition(1)
            .sortWithinPartitions("relpath", "pos")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        n = _parquet_rows(tmp)
    else:
        n = entries.num_rows
        if n:
            _write_entry_part(
                entries.select(["relpath", "pos"]).sort_by(
                    [("relpath", "ascending"), ("pos", "ascending")]
                ),
                tmp,
            )
    if n == 0:
        _remove_local(tmp)
        return None, 0
    name = f"d-{uuid.uuid4().hex[:12]}"
    os.rename(tmp, log._local(DELETES_SUBDIR, name))
    return name, n


def _retire_delete_entries(
    spark: SparkSession,
    log: SnapshotLog,
    base_version: int,
    kept_relpaths,
) -> dict | None:
    """After a rewrite (COW delete / merge / compact) consumed the
    pending MOR entries of every file it rewrote, consolidate the
    SURVIVING entries — those referencing files carried by reference —
    into one fresh delete file. Returns the `extra` dict for the
    commit ({'delete_files': [...]} — possibly empty = all retired),
    or None when the base had no pending deletes (the commit's
    auto-carry is then a no-op). Positional survivors consolidate into
    ONE fresh delete file; an equality entry survives with its scope
    intersected against the kept set — carried by name when the
    rewrite touched none of its scope, rewritten into a fresh `e-` dir
    (same keys, linked; shrunk scope) when it touched some, dropped
    when it consumed all of it.

    Up to MOR_BROADCAST_ROWS total pending entry rows the
    intersections run on the driver with pyarrow and no Spark job:
    every read of the table already broadcasts a delete set that
    size, so holding it once on the driver is within the memory the
    read path assumes. Past it, the same intersections run as Spark
    semi-joins."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    entries = log.delete_files(base_version)
    if not entries:
        return None
    kept = list(kept_relpaths)
    on_driver = sum(n for _, n in entries) <= MOR_BROADCAST_ROWS
    if on_driver:
        kept_arr = pa.array(kept, pa.string())
    else:
        kept_df = F.broadcast(
            spark.createDataFrame([(p,) for p in kept], "relpath string")
        )
    new_list: list[list] = []
    pos_names = [n for n, _ in entries if not n.startswith(EQ_DELETE_PREFIX)]
    if pos_names:
        if on_driver:
            pos_tbl = pa.concat_tables(
                pq.read_table(
                    log._local(DELETES_SUBDIR, n), columns=["relpath", "pos"]
                ).cast(
                    pa.schema([("relpath", pa.string()), ("pos", pa.int64())])
                )
                for n in pos_names
            )
            surviving = pos_tbl.filter(
                pc.is_in(pos_tbl["relpath"], value_set=kept_arr)
            )
        else:
            surviving = (
                spark.read.schema("relpath string, pos long")
                .parquet(
                    *[posixpath.join(log.deletes_dir, n) for n in pos_names]
                )
                .join(kept_df, "relpath", "left_semi")
            )
        name, n = _write_delete_file(spark, log, surviving)
        if n:
            new_list.append([name, n])
    for name, n_keys in entries:
        if not name.startswith(EQ_DELETE_PREFIX):
            continue
        scope_path = posixpath.join(log.deletes_dir, name, "scope")
        if on_driver:
            old_scope = _entry_relpaths(spark, [scope_path])
            new_scope = sorted(old_scope.intersection(kept))
            n_old, n_new = len(old_scope), len(new_scope)
        else:
            old_df = spark.read.schema("relpath string").parquet(scope_path)
            new_scope = old_df.join(kept_df, "relpath", "left_semi")
            n_old, n_new = old_df.count(), new_scope.count()
        if n_new == 0:
            continue  # every scoped file rewritten: entry fully applied
        if n_new == n_old:
            new_list.append([name, n_keys])  # scope untouched: carry
            continue
        nm, nk = _write_eq_delete_dir(
            spark, log, log._local(DELETES_SUBDIR, name, "keys"), new_scope
        )
        new_list.append([nm, nk])
    return {"delete_files": new_list}


def _write_eq_delete_dir(
    spark: SparkSession,
    log: SnapshotLog,
    keys,
    scope,
) -> tuple[str, int]:
    """Land an equality-delete entry as ONE immutable `e-<uuid>/` dir
    (keys/ parquet = the key rows, scope/ parquet = the in-scope data
    relpaths) under `_snapshots/deletes/` — tmp-write + rename, the
    manifests' publication discipline. Returns (name, n_keys), the
    count taken from what was written, never from a re-read.

    `keys` is a pyarrow table of UNIQUE key rows (the bounded case —
    snapshot_upsert_mor collects at most MERGE_KEY_PROBE_CAP keys,
    the size the merge probe already collects), written on the
    driver; an existing entry's keys dir path, hard-linked file by
    file (a retired entry's keys are unchanged, immutable bytes); or
    a DataFrame, deduplicated and written by Spark. `scope` is a list
    of relpaths (a file list the caller already holds), written on
    the driver, or a DataFrame, written by Spark. With table + list
    the entry costs no Spark job."""
    tmp = log._local(DELETES_SUBDIR, f"_tmp-{uuid.uuid4().hex[:10]}")
    keys_dir = posixpath.join(tmp, "keys")
    scope_dir = posixpath.join(tmp, "scope")
    if isinstance(keys, str):
        shutil.copytree(keys, keys_dir, copy_function=os.link)
        n = _parquet_rows(keys_dir)
    elif isinstance(keys, DataFrame):
        keys.dropDuplicates().repartition(1).write.mode("overwrite").parquet(
            keys_dir
        )
        n = _parquet_rows(keys_dir)
    else:
        opts = _spark_parquet_options(spark, keys.schema)
        if opts is None:
            from pyspark.sql.pandas.types import from_arrow_schema

            # naive Arrow timestamps are TIMESTAMP_NTZ keys (toArrow
            # gives TIMESTAMP ones a zone)
            schema = from_arrow_schema(keys.schema, prefer_timestamp_ntz=True)
            # one chunk: the JVM stops reading at an empty Arrow batch
            return _write_eq_delete_dir(
                spark, log, spark.createDataFrame(keys.combine_chunks(), schema),
                scope,
            )
        _write_entry_part(keys, keys_dir, **opts)
        n = keys.num_rows
    if isinstance(scope, DataFrame):
        (
            scope.select(F.col("relpath").cast("string"))
            .dropDuplicates()
            .repartition(1)
            .sortWithinPartitions("relpath")
            .write.mode("overwrite")
            .parquet(scope_dir)
        )
    else:
        import pyarrow as pa

        _write_entry_part(
            pa.table({"relpath": pa.array(sorted(set(scope)), pa.string())}),
            scope_dir,
        )
    name = f"{EQ_DELETE_PREFIX}{uuid.uuid4().hex[:12]}"
    os.rename(tmp, log._local(DELETES_SUBDIR, name))
    return name, n


def _mor_affected_relpaths(
    spark: SparkSession, log: SnapshotLog, names: list[str]
) -> set[str]:
    """Distinct data-file relpaths named by a set of delete entries —
    the file-level granule rewrite paths plan with (which files have
    pending entries). Positional files name their relpaths directly;
    an equality entry affects every file in its SCOPE (any of them may
    hold a key match — the keys are values, not positions). Bounded by
    the file count of the snapshots involved, never by row count, and
    read on the driver (`_entry_relpaths`)."""
    if not names:
        return set()
    return _entry_relpaths(
        spark,
        [
            posixpath.join(log.deletes_dir, n, "scope")
            if n.startswith(EQ_DELETE_PREFIX)
            else posixpath.join(log.deletes_dir, n)
            for n in names
        ],
    )


def snapshot_delete(
    spark: SparkSession,
    table_root: str,
    predicates: dict[str, tuple],
    *,
    version: int | None = None,
    mode: str = "cow",
    condition: str | None = None,
) -> dict:
    """Copy-on-write row-level DELETE with file skipping: only files
    that MAY contain matches (scan_plan over stats + blooms) are even
    read; of those, only files with actual matches are rewritten
    without the matching rows; everything else is carried by
    reference. One new snapshot commits the result — readers never see
    a partial delete, time travel keeps the pre-delete version. NULL
    predicate evaluations keep the row (SQL DELETE WHERE semantics).
    At 100 TB a keyed delete (GDPR erasure) touches the handful of
    files the bloom cannot rule out, not the table. Both modes are
    SERIALIZABLE under concurrent appends: a rebase that would carry
    an appended file whose stats may match the predicate aborts and
    the delete re-derives against the new latest (Iceberg's default
    for row-level deletes), so concurrently-appended matches never
    survive the delete in either mode.

    `mode="mor"` is the merge-on-read variant (Iceberg v2 positional
    deletes): the commit writes ONLY a small (relpath, pos) delete
    file — zero data bytes rewritten, O(matches) not O(touched
    files) — and every reader anti-joins it until `snapshot_compact`
    physically applies and retires the entries. The shape a high-
    churn 100 TB table runs: deletes are cheap at write time, the
    rewrite cost is deferred to (and amortized by) compaction.

    `mode="auto"` (r14) routes through `choose_write_mode`: COW while
    the pruned rewrite bill fits the budget (or pending pressure
    demands it), MOR past it — the result carries the decision under
    `"auto_decision"`.

    `condition` (r15, the SQL front door's shape): an arbitrary SQL
    boolean over the row's columns used as the EXACT match
    expression; `predicates` then drives only the conservative
    stats/bloom pruning (a parseable SUBSET of the condition's
    conjuncts — any superset of the true match set is sound). With
    `condition=None` the predicate dict is both, as before."""
    if mode not in ("cow", "mor", "auto"):
        raise ValueError(f"mode must be 'cow', 'mor' or 'auto', got {mode!r}")
    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    decision = None
    if mode == "auto":
        decision = choose_write_mode(
            spark, table_root, predicates, version=version
        )
        mode = decision["mode"]
    base_version = log.latest() if version is None else version
    plan = scan_plan(spark, table_root, predicates, base_version)
    if mode == "mor":
        # optimistic retry: a positional delete is a cheap metadata
        # commit, so losing the race to ANY concurrent committer is
        # handled by full re-derivation against the new latest (the
        # candidate read re-applies its pending entries, so the retry
        # stays idempotent — rows already deleted record nothing).
        # A caller-pinned explicit version surfaces the conflict: the
        # pin says "delete from THIS state", and that state is gone.
        for _ in range(COMMIT_REBASE_RETRIES + 1):
            try:
                res = _snapshot_delete_mor(
                    spark, log, table_root, predicates, base_version,
                    plan, condition=condition,
                )
                if decision is not None:
                    res["auto_decision"] = decision
                return res
            except SnapshotConflictError:
                if version is not None:
                    raise
                base_version = log.latest()
                plan = scan_plan(spark, table_root, predicates, base_version)
        raise SnapshotConflictError(
            f"MOR delete kept conflicting after {COMMIT_REBASE_RETRIES} "
            f"re-derivations under {table_root}"
        )
    # COW: same serializable semantics as the MOR branch (ADVICE r11).
    # A rebase across a DISJOINT concurrent commit normally carries the
    # intervening files forward — but for a row-level delete, a
    # concurrently-APPENDED file may hold rows matching the predicate,
    # and carrying it silently downgrades the delete to snapshot
    # isolation (appended matches survive). The validate_rebase hook
    # aborts that rebase; the whole delete then re-derives against the
    # new latest (bounded retries), exactly like mode='mor'.
    for _ in range(COMMIT_REBASE_RETRIES + 1):
        try:
            res = _snapshot_delete_cow(
                spark, log, table_root, predicates, base_version, plan,
                condition=condition,
            )
            if decision is not None:
                res["auto_decision"] = decision
            return res
        except SnapshotConflictError:
            if version is not None:
                raise
            base_version = log.latest()
            plan = scan_plan(spark, table_root, predicates, base_version)
    raise SnapshotConflictError(
        f"COW delete kept conflicting after {COMMIT_REBASE_RETRIES} "
        f"re-derivations under {table_root}"
    )


def _snapshot_delete_cow(
    spark: SparkSession,
    log: SnapshotLog,
    table_root: str,
    predicates: dict[str, tuple],
    base_version: int,
    plan: dict,
    condition: str | None = None,
) -> dict:
    """One COW delete attempt against `base_version` (see
    snapshot_delete). Raises SnapshotConflictError — with this
    attempt's rewritten output files removed — when the commit cannot
    rebase serializably; the caller re-derives and retries."""
    pending = _mor_info(log, base_version)
    candidates = set(plan["paths"])
    all_files = log.files(base_version)
    pcols = _partition_cols_of(log, base_version)
    pred = (
        F.expr(condition)
        if condition is not None
        else _predicate_expr(predicates)
    )

    keep = [(p, s) for p, s in all_files if p not in candidates]
    cand = [(p, s) for p, s in all_files if p in candidates]
    by_part: dict[str, list[tuple[str, int]]] = {}
    for relpath, size in cand:
        by_part.setdefault(posixpath.dirname(relpath), []).append((relpath, size))

    root = log.root_local
    added: list[tuple[str, int]] = []
    deleted_rows = 0
    rewritten = 0
    for part_rel in sorted(by_part):
        files = by_part[part_rel]
        srcs = [posixpath.join(table_root, p) for p, _ in files]
        # basePath read keeps partition columns evaluable in the
        # predicate; they are dropped again before the physical write.
        # Pending MOR entries are applied FIRST: the rewrite reads the
        # file's effective rows, so it can never resurrect a
        # logically-deleted row (the entries it consumed are retired
        # from the new snapshot below).
        src = _mor_filter_scan(
            spark,
            table_root,
            spark.read.option("basePath", table_root).parquet(*srcs),
            pending,
        )
        n_src = src.count()
        n_match = src.filter(pred).count()
        if n_match == 0:  # bloom/stats false positive: carry untouched
            keep.extend(files)
            continue
        keep_rows = src.filter(~F.coalesce(pred, F.lit(False)))
        if pcols:
            keep_rows = keep_rows.drop(*[c for c in pcols if c in src.columns])
        tmp_dir = os.path.join(
            root,
            f"_snapdelete_tmp_{hashlib.md5(part_rel.encode()).hexdigest()[:12]}",
        )
        keep_rows.write.mode("overwrite").parquet(tmp_dir)
        n_keep = spark.read.parquet(tmp_dir).count()
        if n_keep != n_src - n_match:
            _remove_local(tmp_dir)
            raise RuntimeError(
                f"delete verification failed in {part_rel}: "
                f"{n_src} - {n_match} != {n_keep}"
            )
        added.extend(_land_files(tmp_dir, root, part_rel, "deleted"))
        deleted_rows += n_match
        rewritten += len(files)
    if not deleted_rows:
        return {
            "version": base_version,
            "deleted_rows": 0,
            "rewritten_files": 0,
            "scanned_files": len(cand),
        }
    def _veto_appended_matches(new_latest: int, appended: set) -> None:
        # stats/bloom may-match check over ONLY the appended files: a
        # carried appendee the planner cannot rule out would keep rows
        # the delete should remove — abort, the caller re-derives
        if not appended:
            return
        plan2 = scan_plan(spark, table_root, predicates, new_latest)
        hits = appended & set(plan2["paths"])
        if hits:
            raise SnapshotConflictError(
                f"{len(hits)} concurrently-appended file(s) may match "
                f"the delete predicate (e.g. {sorted(hits)[:3]}) — "
                "re-deriving for serializable delete semantics"
            )

    try:
        v = _commit_rewrite(
            spark,
            log,
            base_version=base_version,
            keep=keep,
            added=added,
            op="delete",
            schema=log.read(base_version).get("schema"),
            validate_rebase=_veto_appended_matches,
            changelog=True,
        )
    except SnapshotConflictError:
        # this attempt's rewritten output is about to be re-derived —
        # remove it so retries never leak data files into the tree
        for p, _s in added:
            _remove_local(os.path.join(root, p))
        raise
    return {
        "version": v,
        "deleted_rows": deleted_rows,
        "rewritten_files": rewritten,
        "scanned_files": len(cand),
    }


def mor_pending_keys(
    spark: SparkSession,
    table_root: str,
    key_cols: list[str],
    *,
    version: int | None = None,
) -> DataFrame:
    """DISTINCT `key_cols` rows the snapshot's PENDING merge-on-read
    delete entries remove — the cheap delete feed a downstream index
    needs to stay truthful (VERDICT r14 task 4: the served ANN index
    must subtract corpus rows deleted since its build). Positional
    entries resolve by reading ONLY their named (file, position)
    rows; equality entries contribute their key rows directly when
    they carry the requested columns, else resolve against their
    scope files with a semi-join. Cost is O(entries + affected
    files), never a corpus scan. Note this is the PENDING set: a key
    re-appended after its delete is still listed (its old row is
    still dead) — callers needing \"gone from the live table\"
    subtract the live read (see similarity.index_pending_deletes)."""
    log = SnapshotLog(spark, table_root)
    v = log.latest() if version is None else version
    empty = None
    pending = _mor_info(log, v)
    declared, _pc = log.schema(v)
    frames: list[DataFrame] = []
    if pending is not None and pending.pos is not None:
        # bounded entry metadata: pyarrow driver-side when local (r15,
        # see _entry_relpaths), Spark job otherwise. The entry schema
        # is fixed by _write_delete_file, so the fallback (and the
        # broadcast read below) declare it explicitly — no
        # schema-inference footer pass, and no DataFrame is built at
        # all on the probe-only path (r16, VERDICT task 7).
        affected = sorted(_entry_relpaths(spark, pending.pos[0]))
        if affected:
            dels = spark.read.schema("relpath string, pos long").parquet(
                *pending.pos[0]
            )
            src, rel, pos = _read_relpaths(
                spark, table_root, affected, declared, with_positions=True
            )
            frames.append(
                src.join(
                    F.broadcast(
                        dels.select(
                            F.col("relpath").alias(rel),
                            F.col("pos").alias(pos),
                        )
                    ),
                    on=[rel, pos],
                    how="left_semi",
                ).select(*key_cols)
            )
    for _name, keys_path, scope_path, _n in (pending.eq if pending else []):
        keys = spark.read.parquet(keys_path)
        if set(key_cols) <= set(keys.columns):
            frames.append(keys.select(*key_cols))
            continue
        live = {p for p, _ in log.files(v)}
        scope = sorted(_entry_relpaths(spark, [scope_path]) & live)
        if not scope:
            continue
        src = _read_relpaths(spark, table_root, scope, declared)
        frames.append(
            src.join(
                F.broadcast(keys), on=list(keys.columns), how="left_semi"
            ).select(*key_cols)
        )
    if not frames:
        from pyspark.sql.types import StructType

        fields = (
            [f for f in declared.fields if f.name in key_cols]
            if declared is not None
            else []
        )
        if fields:
            return spark.createDataFrame([], StructType(fields))
        return (
            read_table_at(spark, table_root, v)
            .select(*key_cols)
            .limit(0)
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.distinct()


def snapshot_delete_by_key(
    spark: SparkSession,
    table_root: str,
    keys: DataFrame,
    *,
    version: int | None = None,
) -> dict:
    """Merge-on-read EQUALITY delete (Iceberg v2 equality delete
    files): delete every row whose values on `keys.columns` match a
    key row — without reading a single data file. The commit writes
    only the key rows plus a SCOPE (the base snapshot's data-file
    list) under `_snapshots/deletes/e-<uuid>/` and byte-copies the
    parent's manifest: zero data bytes scanned or rewritten,
    O(|keys|) whatever the table holds. Readers subtract matches with
    two broadcast marker joins (keys on the key columns, scope on the
    file relpath); `snapshot_compact` physically applies and retires
    the entry, exactly like positional entries.

    The scope materializes Iceberg's sequence-number rule as a file
    list: rows of the SAME key appended after this commit live in
    files outside the scope, so they survive — a delete-then-reinsert
    round trip behaves like SQL, not like a tombstone that eats the
    future. Against the positional variant (`snapshot_delete
    mode="mor"`), this trades a pure-metadata write (no scan even to
    FIND the rows — the streaming-upsert / GDPR-by-key shape) for a
    slightly heavier read (value join vs position anti-join).

    Generalizes the reference's delete-shaped admin actions the same
    way snapshot_delete does (QHBaseCompact.java flow 3's
    rewrite-commit-poll contract), on the key-predicate axis."""
    key_cols = list(keys.columns)
    if not key_cols:
        raise ValueError("keys frame must carry at least one key column")
    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    base_version = log.latest() if version is None else version
    schema, _pcols = log.schema(base_version)
    relpaths = [p for p, _ in log.files(base_version)]
    if schema is not None:
        have = {f.name for f in schema.fields}
    elif relpaths:
        # no declared schema: validate against one file's parquet
        # footer (metadata only, still zero data scan) plus the
        # path-only hive partition columns of the whole manifest
        have = set(
            spark.read.parquet(
                posixpath.join(table_root, relpaths[0])
            ).columns
        )
        for p in relpaths:
            for comp in posixpath.dirname(p).split("/"):
                if "=" in comp and not comp.startswith(PARTITION_DIR_PREFIX):
                    have.add(comp.split("=", 1)[0])
    else:
        have = None
    if have is not None:
        missing = [c for c in key_cols if c not in have]
        if missing:
            raise ValueError(
                f"key columns {missing} not in the table schema "
                f"(have: {sorted(have)})"
            )
    if not relpaths:
        return {
            "version": base_version,
            "deleted_keys": 0,
            "rewritten_files": 0,
            "scanned_files": 0,
            "delete_files": len(log.delete_files(base_version)),
        }
    # up to MERGE_KEY_PROBE_CAP unique keys are collected ONCE, and
    # both the scope probe and the entry's keys/ write use them on the
    # driver; past it both stay distributed
    unique = keys.dropDuplicates().limit(MERGE_KEY_PROBE_CAP + 1).toArrow()
    if unique.num_rows <= MERGE_KEY_PROBE_CAP:
        keys = unique
    # optimistic retry: the whole commit is metadata (scope probe +
    # key rows), so losing the race re-derives the scope against the
    # NEW latest — a concurrent compact's rewritten file names and a
    # concurrent append's fresh files (which, having committed FIRST,
    # precede this delete and so belong in its scope) are both picked
    # up by the re-probe. A caller-pinned version surfaces the
    # conflict instead: the pinned state is gone.
    for _ in range(COMMIT_REBASE_RETRIES + 1):
        scope_rels = _eq_scope(
            spark, log, base_version, key_cols, keys, relpaths
        )
        if not scope_rels:
            # stats/blooms PROVE no live file can hold any key: no-op
            return {
                "version": base_version,
                "deleted_keys": 0,
                "rewritten_files": 0,
                "scanned_files": 0,
                "delete_files": len(log.delete_files(base_version)),
            }
        name, n_keys = _write_eq_delete_dir(spark, log, keys, scope_rels)
        if n_keys == 0:
            _remove_local(log._local(DELETES_SUBDIR, name))
            return {
                "version": base_version,
                "deleted_keys": 0,
                "rewritten_files": 0,
                "scanned_files": 0,
                "delete_files": len(log.delete_files(base_version)),
            }
        new_list = [[nm, cnt] for nm, cnt in log.delete_files(base_version)]
        new_list.append([name, n_keys])
        manifest = log.copy_manifest(base_version)
        try:
            v = log.commit(
                None,
                op="mor_delete_eq",
                parent=base_version,
                schema=log.read(base_version).get("schema"),
                manifest=manifest,
                extra={"delete_files": new_list},
            )
        except SnapshotConflictError:
            _remove_local(log._local(DELETES_SUBDIR, name))
            if version is not None:
                raise
            base_version = log.latest()
            relpaths = [p for p, _ in log.files(base_version)]
            continue
        return {
            "version": v,
            "deleted_keys": n_keys,
            "rewritten_files": 0,
            "scanned_files": 0,
            "delete_files": len(new_list),
        }
    raise SnapshotConflictError(
        f"equality delete kept conflicting after {COMMIT_REBASE_RETRIES} "
        f"re-derivations under {table_root}"
    )


def snapshot_update(
    spark: SparkSession,
    table_root: str,
    set_map: dict[str, str],
    *,
    condition: str | None = None,
    predicates: dict[str, tuple] | None = None,
    version: int | None = None,
) -> dict:
    """Copy-on-write row-level UPDATE — the SQL front door's
    `UPDATE t SET col = expr, ... [WHERE cond]` (sources/sql_router),
    generalizing the reference's single mutating action
    (QHBaseCompact.java:167) to declarative row edits. `set_map`
    maps column -> SQL expression; every RHS evaluates against the
    ORIGINAL row (simultaneous assignment, standard UPDATE
    semantics) and is cast back to the column's current type so the
    table schema never drifts. `condition` is the exact match
    expression (None = all rows); `predicates` is the scan_plan
    pruning dict — a parseable subset of the condition's conjuncts,
    so only files that MAY hold matches are even read, and of those
    only files with actual matches are rewritten (candidate
    narrowing identical to snapshot_delete). Pending MOR delete
    entries apply to the rewrite read, so an update can never
    resurrect logically-deleted rows. Serializable under concurrent
    appends via the same validate-rebase veto as COW delete: an
    appended file the planner cannot prove match-free aborts the
    rebase and the whole update re-derives. Partition columns cannot
    be assigned (rows never move partitions here — that shape is
    snapshot_merge's replace semantics)."""
    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    if not set_map:
        raise ValueError("snapshot_update: empty SET clause")
    predicates = predicates or {}
    base_version = log.latest() if version is None else version
    for _ in range(COMMIT_REBASE_RETRIES + 1):
        try:
            return _snapshot_update_once(
                spark, log, table_root, set_map, condition,
                predicates, base_version,
            )
        except SnapshotConflictError:
            if version is not None:
                raise
            base_version = log.latest()
    raise SnapshotConflictError(
        f"COW update kept conflicting after {COMMIT_REBASE_RETRIES} "
        f"re-derivations under {table_root}"
    )


def _snapshot_update_once(
    spark: SparkSession,
    log: SnapshotLog,
    table_root: str,
    set_map: dict[str, str],
    condition: str | None,
    predicates: dict[str, tuple],
    base_version: int,
) -> dict:
    """One COW update attempt against `base_version` (see
    snapshot_update)."""
    plan = scan_plan(spark, table_root, predicates, base_version)
    pending = _mor_info(log, base_version)
    candidates = set(plan["paths"])
    all_files = log.files(base_version)
    pcols = _partition_cols_of(log, base_version)
    bad = [c for c in set_map if c in pcols]
    if bad:
        raise ValueError(
            f"snapshot_update cannot assign partition column(s) {bad}"
        )
    match = (
        F.expr(condition) if condition is not None else F.lit(True)
    )
    matched_safe = F.coalesce(match, F.lit(False))

    keep = [(p, s) for p, s in all_files if p not in candidates]
    cand = [(p, s) for p, s in all_files if p in candidates]
    by_part: dict[str, list[tuple[str, int]]] = {}
    for relpath, size in cand:
        by_part.setdefault(posixpath.dirname(relpath), []).append(
            (relpath, size)
        )

    root = log.root_local
    added: list[tuple[str, int]] = []
    updated_rows = 0
    rewritten = 0
    for part_rel in sorted(by_part):
        files = by_part[part_rel]
        srcs = [posixpath.join(table_root, p) for p, _ in files]
        src = _mor_filter_scan(
            spark,
            table_root,
            spark.read.option("basePath", table_root).parquet(*srcs),
            pending,
        )
        n_src = src.count()
        n_match = src.filter(matched_safe).count()
        if n_match == 0:  # stats false positive: carry untouched
            keep.extend(files)
            continue
        unknown = [c for c in set_map if c not in src.columns]
        if unknown:
            raise ValueError(
                f"snapshot_update: SET names unknown column(s) "
                f"{unknown} (have: {src.columns})"
            )
        # simultaneous assignment against the ORIGINAL row, types
        # pinned to the current schema
        out_cols = []
        for c in src.columns:
            if c in pcols:
                continue
            if c in set_map:
                dt = src.schema[c].dataType
                out_cols.append(
                    F.when(matched_safe, F.expr(set_map[c]).cast(dt))
                    .otherwise(F.col(c))
                    .alias(c)
                )
            else:
                out_cols.append(F.col(c))
        out = src.select(*out_cols)
        tmp_dir = os.path.join(
            root,
            f"_snapupdate_tmp_"
            f"{hashlib.md5(part_rel.encode()).hexdigest()[:12]}",
        )
        out.write.mode("overwrite").parquet(tmp_dir)
        n_out = spark.read.parquet(tmp_dir).count()
        if n_out != n_src:
            _remove_local(tmp_dir)
            raise RuntimeError(
                f"update verification failed in {part_rel}: "
                f"{n_src} rows in, {n_out} out"
            )
        added.extend(_land_files(tmp_dir, root, part_rel, "updated"))
        updated_rows += n_match
        rewritten += len(files)
    if not updated_rows:
        return {
            "version": base_version,
            "updated_rows": 0,
            "rewritten_files": 0,
            "scanned_files": len(cand),
        }

    def _veto_appended_matches(new_latest: int, appended: set) -> None:
        # same serializable contract as COW delete: a concurrently
        # appended file that MAY hold condition matches cannot be
        # carried — its rows would silently miss the update
        if not appended:
            return
        plan2 = scan_plan(spark, table_root, predicates, new_latest)
        hits = appended & set(plan2["paths"])
        if hits:
            raise SnapshotConflictError(
                f"{len(hits)} concurrently-appended file(s) may match "
                f"the update condition (e.g. {sorted(hits)[:3]}) — "
                "re-deriving for serializable update semantics"
            )

    try:
        v = _commit_rewrite(
            spark,
            log,
            base_version=base_version,
            keep=keep,
            added=added,
            op="update",
            schema=log.read(base_version).get("schema"),
            validate_rebase=_veto_appended_matches,
            changelog=True,
        )
    except SnapshotConflictError:
        for p, _s in added:
            _remove_local(os.path.join(root, p))
        raise
    return {
        "version": v,
        "updated_rows": updated_rows,
        "rewritten_files": rewritten,
        "scanned_files": len(cand),
    }


def snapshot_rollback(
    spark: SparkSession,
    table_root: str,
    to_version: int | str,
) -> dict:
    """Roll the table back to an earlier snapshot — Iceberg's
    `rollback_to_snapshot`, as a METADATA-ONLY forward commit: the new
    version byte-copies the target's manifest and carries its schema,
    partition spec, and pending delete entries, so readers of
    \"latest\" see exactly the old state while the log stays linear
    (the rolled-back versions remain time-travelable until expiry —
    nothing is deleted, an audit can still read the bad commit).
    `to_version` may be a version number or a named ref (tag/branch).
    At 100 TB this is the one-commit undo for a bad ingest: zero data
    bytes move."""
    log = SnapshotLog(spark, table_root)
    if isinstance(to_version, str):
        to_version = log.resolve_ref(to_version)
    latest = log.latest()
    if latest is None:
        raise FileNotFoundError(f"no snapshots under {table_root}")
    target = log.read(to_version)  # raises if the version is gone
    if to_version == latest:
        return {"version": latest, "rolled_back_to": to_version,
                "noop": True}
    manifest = log.copy_manifest(to_version)
    # Row-level changelog of the revert (r14): the rollback's diff is
    # read_changes(latest → target) by construction — the new version
    # shares the target's file set AND delete set — so materialize it
    # with the SAME sides formula (_change_sides) as a commit
    # artifact, exactly like COW rewrites. A standing CDC tail
    # (streaming/table_tail.py mode="cdc") then rides through the
    # operational reset instead of refusing: it serves the artifact's
    # parquet partitions, multiset-equal to the batch feed. Cost is
    # one exceptAll over the DIFFERING rows only — the metadata-only
    # commit itself stays O(1) data bytes moved.
    # r15 (ADVICE r14): when every crossed commit is provably
    # row-preserving — compaction (fingerprint-verified rewrite that
    # only applies already-subtracted MOR entries) or a metadata-only
    # annotation — the revert's row-level diff is EMPTY by
    # construction, so the changelog can be the empty artifact
    # WITHOUT the two full-table exceptAll scans. A rollback across
    # a compact is the canonical operational undo at the 100 TB
    # design point; it is metadata-only again. Any unknown or
    # row-changing op (append/delete/merge/mor_*/evolve/expired gap)
    # falls through to the exact scan-based materialization.
    _ROW_PRESERVING_OPS = {
        "compact",
        "stats",
        "blooms",
        "set-sort-order",
        "shard-manifest",
        "evolve-partitioning",
    }
    known = set(log.versions())
    crossed = range(to_version + 1, latest + 1)
    row_preserving = all(
        v in known and log.read(v).get("op") in _ROW_PRESERVING_OPS
        for v in crossed
    )
    if row_preserving:
        old_df = new_df = None
    else:
        old_df, new_df = _change_sides(spark, log, latest, to_version)
    if old_df is None and new_df is None:
        # nothing differs (e.g. rollback of a no-op range): an empty
        # artifact dir still lets the tail cross with zero partitions
        changelog_entry = [f"c-{uuid.uuid4().hex[:12]}", 0, 0]
        os.makedirs(
            log._local(CHANGES_SUBDIR, changelog_entry[0]), exist_ok=True
        )
    else:
        if old_df is None:
            old_df = new_df.limit(0)
        if new_df is None:
            new_df = old_df.limit(0)
        changelog_entry = list(
            _write_change_frames(
                spark,
                log,
                old_df.exceptAll(new_df),
                new_df.exceptAll(old_df),
            )
        )
    extra = {
        "delete_files": [
            [n, c] for n, c in (target.get("delete_files") or [])
        ],
        "rolled_back_to": to_version,
        "changelog": changelog_entry,
    }
    # the spec resolves by walking the PARENT chain, and this commit's
    # parent is the CURRENT head — so a rollback across a partition-
    # spec evolution must pin the TARGET's effective spec explicitly
    # (an empty partition_by is the explicit plain-layout record)
    spec_t = partition_spec_of(log, to_version)
    spec_c = partition_spec_of(log, latest)
    if spec_t != spec_c:
        # the pinned spec gets a FRESH spec_id (not the target's old
        # one): _latest_spec_id walks the parent chain and only sees
        # the nearest record, so re-pinning the old id verbatim would
        # let a later evolve_partitioning re-issue an id the rolled-
        # back spec already used — ids must stay unique table-wide
        fresh_id = _latest_spec_id(log, latest) + 1
        extra["partition_spec"] = (
            {**spec_t, "spec_id": fresh_id}
            if spec_t is not None
            else {"spec_id": fresh_id, "partition_by": []}
        )
    # sort order pins exactly like the spec (nearest-parent-record
    # resolution, explicit empty record to restore "unsorted")
    so_t = sort_order_of(log, to_version)
    so_c = sort_order_of(log, latest)
    if so_t != so_c:
        fresh_oid = _latest_order_id(log, latest) + 1
        extra["sort_order"] = (
            {**so_t, "order_id": fresh_oid}
            if so_t is not None
            else {"order_id": fresh_oid, "sort_by": []}
        )
    try:
        v = log.commit(
            None,
            op="rollback",
            parent=latest,
            schema=target.get("schema"),
            manifest=manifest,
            extra=extra,
        )
    except SnapshotConflictError:
        # losing racer: reclaim the change artifact with the manifest
        # (commit()'s abort removed the latter) — no orphans
        _remove_local(log._local(CHANGES_SUBDIR, changelog_entry[0]))
        raise
    return {"version": v, "rolled_back_to": to_version, "noop": False}


def _arrow_key_rows(tbl) -> list[tuple]:
    """Rows of a driver-held key table as the Python values Spark's
    `collect()` gives for the same rows. pyarrow agrees for every type
    but TIMESTAMP, which it returns UTC-aware where Spark returns a
    naive local-time datetime — converted here with Spark's own
    `fromInternal`, because a probe value of another type can miss
    its bloom (a false negative: the file leaves the scope and its
    deleted rows come back)."""
    import pyarrow as pa
    from pyspark.sql.types import TimestampNTZType, TimestampType

    cols = []
    for col in tbl.columns:
        t = col.type
        if pa.types.is_timestamp(t):
            conv = (TimestampType() if t.tz else TimestampNTZType())
            micros = col.cast(pa.timestamp("us", t.tz)).cast(pa.int64())
            cols.append([conv.fromInternal(v) for v in micros.to_pylist()])
        else:
            cols.append(col.to_pylist())
    return list(zip(*cols))


def _eq_scope(
    spark: SparkSession,
    log: SnapshotLog,
    base_version: int,
    key_cols: list[str],
    keys,
    relpaths: list[str],
) -> list[str]:
    """Scope of a new equality-delete entry: the base snapshot's files
    that MAY hold a key match, shrunk via the manifest's per-file
    stats/blooms when the key set is small enough to probe — the same
    metadata-only discipline as snapshot_merge's candidate detection,
    still zero data bytes read. Why it matters at 100 TB: the scope is
    compaction's blast radius (every scoped file must rewrite to
    retire the entry), so a keyed GDPR delete on a stats-annotated
    sort column scopes O(matching files), not O(table). Falls back to
    the full file list whenever the probe cannot PROVE exclusion
    (no metadata, key set past MERGE_KEY_PROBE_CAP). `keys` is a
    DataFrame (collected here, capped) or a pyarrow table of unique
    keys the caller already holds on the driver."""
    stat_cols, bloom_cols = _parent_meta_cols(log, base_version)
    if not (stat_cols or bloom_cols):
        return relpaths
    if isinstance(keys, DataFrame):
        klist = keys.dropDuplicates().limit(MERGE_KEY_PROBE_CAP + 1).collect()
    else:
        klist = _arrow_key_rows(keys)
    if len(klist) > MERGE_KEY_PROBE_CAP:
        return relpaths
    # a key with a NULL component matches no row (SQL equality), so it
    # contributes no files — and must not reach the stats comparators
    probe_keys = [
        tuple(r) for r in klist if all(v is not None for v in r)
    ]
    if not probe_keys:
        return []
    may = _probe_candidates(log, base_version, key_cols, probe_keys)
    return [p for p in relpaths if p in may]


def _distinct_keys(keys_df: DataFrame, keys) -> int:
    """Distinct rows of a batch's keys: counted on the driver-held
    Arrow `keys` when the batch collected them, as Spark's distinct
    counts (a NULL equals a NULL), else by a Spark job. Floating keys
    always take the job: Spark's distinct folds NaNs and -0.0 into one
    value each, Arrow's grouping does not."""
    import pyarrow as pa

    if isinstance(keys, DataFrame) or any(
        pa.types.is_floating(t) for t in keys.schema.types
    ):
        return keys_df.distinct().count()
    try:
        return keys.group_by(keys.column_names).aggregate([]).num_rows
    except pa.ArrowNotImplementedError:
        return keys_df.distinct().count()


def snapshot_upsert_mor(
    spark: SparkSession,
    table_root: str,
    source_df: DataFrame,
    key_cols: list[str],
    *,
    version: int | None = None,
) -> dict:
    """Merge-on-read UPSERT — `snapshot_merge`'s write-cheap sibling
    and the Flink→Iceberg streaming-upsert shape: ONE atomic commit
    that (a) lands the source rows as fresh data files under the
    current partition spec and (b) records an EQUALITY delete of the
    source keys SCOPED to the parent's file list. Old versions of
    matched keys die logically (the scope excludes the new files, so
    the just-written rows survive); unmatched keys are plain inserts
    whose delete keys match nothing. Zero existing files are read or
    rewritten — write cost is O(|source|) however big the table is,
    and `snapshot_compact` amortizes the physical rewrite later.

    Readers between the upsert and the compaction pay the equality
    join; that is the explicit MOR trade. Source keys must be unique
    (the same contract as snapshot_merge — an upsert batch with
    duplicate keys has no deterministic winner). A crash between the
    file landing and the commit leaves unreferenced files for
    sweep_orphans; readers never observe a partial upsert."""
    key_cols = list(key_cols)
    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    missing = [c for c in key_cols if c not in source_df.columns]
    if missing:
        raise ValueError(f"source_df lacks key columns: {missing}")
    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    base_version = log.latest() if version is None else version
    # up to MERGE_KEY_PROBE_CAP keys, the bound the merge probe already
    # collects, are collected ONCE: the batch's size, its uniqueness
    # check, the scope probe and the entry's keys/ write all use them
    # on the driver; past it the counts and both writes stay
    # distributed
    keys_df = source_df.select(*key_cols)
    keys = keys_df.limit(MERGE_KEY_PROBE_CAP + 1).toArrow()
    if keys.num_rows <= MERGE_KEY_PROBE_CAP:
        n_source = keys.num_rows
    else:
        n_source, keys = source_df.count(), keys_df
    if n_source == 0:
        return {
            "version": base_version,
            "upserted_keys": 0,
            "new_files": 0,
            "rewritten_files": 0,
            "scanned_files": 0,
        }
    if _distinct_keys(keys_df, keys) != n_source:
        raise ValueError("source keys must be unique for UPSERT")
    base_files = log.files(base_version)
    added = _land_spec_files(log, source_df, base_version)
    if not added:
        raise ValueError("snapshot_upsert_mor: the frame wrote no files")
    # optimistic retry: the EXPENSIVE half (landing the batch's data
    # files) happened exactly once above and stays valid — a lost race
    # re-derives only the metadata half (delete-entry scope + carried
    # manifest) against the new latest. Scope-at-new-latest is the
    # correct semantics for both race shapes: a concurrent compact's
    # rewritten files enter the scope (the keys' old versions still
    # die), and a concurrent upsert's fresh files do too (this commit
    # is LATER in the log, so for shared keys its rows win —
    # last-writer-wins, exactly the serial order the log records).
    for _ in range(COMMIT_REBASE_RETRIES + 1):
        new_list = [[nm, cnt] for nm, cnt in log.delete_files(base_version)]
        name = None
        scope_rels = _eq_scope(
            spark, log, base_version, key_cols, keys,
            [p for p, _ in base_files],
        ) if base_files else []
        if scope_rels:
            name, n_keys = _write_eq_delete_dir(spark, log, keys, scope_rels)
            new_list.append([name, n_keys])
        manifest = _carried_manifest(
            spark, log, base_version, base_files, added
        )
        try:
            v = log.commit(
                None,
                op="mor_upsert",
                parent=base_version,
                schema=log.read(base_version).get("schema"),
                manifest=manifest,
                extra={"delete_files": new_list},
            )
        except SnapshotConflictError:
            if name is not None:
                _remove_local(log._local(DELETES_SUBDIR, name))
            if version is not None:
                raise
            base_version = log.latest()
            base_files = log.files(base_version)
            continue
        return {
            "version": v,
            "upserted_keys": n_source,
            "new_files": len(added),
            "rewritten_files": 0,
            "scanned_files": 0,
        }
    raise SnapshotConflictError(
        f"MOR upsert kept conflicting after {COMMIT_REBASE_RETRIES} "
        f"re-derivations under {table_root}"
    )


def _file_may_hold(
    stats_json: str | None,
    blooms_json: str | None,
    key_cols: list[str],
    keys: list[tuple],
) -> bool:
    """True unless EVERY probe key is provably absent from the file
    (range-disjoint stats or bloom-negative on some key column) —
    the per-manifest-row MERGE candidate test, shared by the driver
    loop and the distributed probe so the two cannot diverge."""
    import json as _json

    fc = (_json.loads(stats_json) if stats_json else {}).get("cols") or {}
    fb = _json.loads(blooms_json) if blooms_json else {}
    for key in keys:
        for col, val in zip(key_cols, key):
            if col in fc and _disjoint(fc[col], val, val):
                break
            if col in fb and not _bloom_may_contain(fb[col], val):
                break
        else:
            return True
    return False


def _probe_candidates(
    log: SnapshotLog,
    version: int,
    key_cols: list[str],
    keys: list[tuple],
    threshold: int = DISTRIBUTED_PRUNE_THRESHOLD,
) -> set[str]:
    """Relpaths that MAY hold at least one probe key. Small manifests
    probe in a driver loop; past `threshold` files the probe runs as a
    distributed manifest scan with the key list shipped in the closure
    (bounded by MERGE_KEY_PROBE_CAP) — bloom payloads stay on
    executors and only candidate NAMES return."""
    import json as _json

    if log.read(version)["n_files"] <= threshold:
        res = log._resolve(version)
        stats, blooms = res["stats"], res["blooms"]
        return {
            rel
            for rel, _ in res["files"]
            if _file_may_hold(
                _json.dumps(stats[rel]) if rel in stats else None,
                _json.dumps(blooms[rel]) if rel in blooms else None,
                key_cols,
                keys,
            )
        }

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            mask = [
                _file_may_hold(st or None, bl or None, key_cols, keys)
                for st, bl in zip(pdf["stats"], pdf["blooms"])
            ]
            yield pd.DataFrame({"relpath": pdf["relpath"][mask]})

    return {
        r["relpath"]
        for r in log.manifest_df(version)
        .mapInPandas(gen, "relpath string")
        .collect()
    }


# Env-overridable (HCS_MERGE_KEY_PROBE_CAP) so the full oracle sweep
# can FORCE the every-file-is-a-candidate branch (set 0) and prove it
# hash-identical to the stats/bloom-probed fast path.
MERGE_KEY_PROBE_CAP = int(
    os.environ.get("HCS_MERGE_KEY_PROBE_CAP", 100_000)
)


def snapshot_merge(
    spark: SparkSession,
    table_root: str,
    source_df: DataFrame,
    key_cols: list[str],
    *,
    version: int | None = None,
) -> dict:
    """Copy-on-write MERGE (upsert) keyed on `key_cols`: existing rows
    whose key appears in `source_df` are replaced, unseen source rows
    are inserted — Delta/Iceberg `MERGE INTO ... WHEN MATCHED UPDATE
    WHEN NOT MATCHED INSERT` semantics. File skipping does the heavy
    lifting: source keys (capped at MERGE_KEY_PROBE_CAP, beyond which
    every file is a candidate) are probed against per-file stats and
    blooms, so only files that may hold a matched key are read, and
    only partitions with actual matches or inserts are rewritten.
    `source_df` must carry the table's partition columns; inserts land
    in the partition their values name, updates land where the SOURCE
    row says (a key changing partition moves). Source keys must be
    unique. At 100 TB, merging a day of updates touches the files the
    blooms cannot rule out — typically O(|source|) files, not
    O(table)."""
    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    base_version = log.latest() if version is None else version
    all_files = log.files(base_version)
    pending = _mor_info(log, base_version)
    pcols = _partition_cols_of(log, base_version)
    missing = [c for c in key_cols if c not in source_df.columns] + [
        c for c in pcols if c not in source_df.columns
    ]
    if missing:
        raise ValueError(f"source_df lacks required columns: {missing}")
    n_source = source_df.count()
    if n_source == 0:
        return {"version": base_version, "matched": 0, "inserted": 0}
    keys_df = source_df.select(*key_cols)
    if keys_df.distinct().count() != n_source:
        raise ValueError("source keys must be unique for MERGE")
    if pcols:
        # hive-style `col=value` directories have no NULL encoding in
        # this layout; a NULL partition value would silently vanish
        # through the string-equality partition filter below — reject
        # loudly instead (same contract as the unique-keys check)
        null_pred = " OR ".join(f"{c} IS NULL" for c in pcols)
        n_null = source_df.filter(null_pred).count()
        if n_null:
            raise ValueError(
                f"snapshot_merge: {n_null} source row(s) have NULL in "
                f"partition column(s) {pcols}; NULL partition values "
                "are not representable in this layout"
            )

    # ---- candidate file detection via snapshot metadata
    snap = log.read(base_version)
    stat_cols_present, bloom_cols_present = _parent_meta_cols(
        log, base_version
    )
    if n_source <= MERGE_KEY_PROBE_CAP and (
        stat_cols_present or bloom_cols_present
    ):
        keys = [tuple(r) for r in keys_df.collect()]
        may = _probe_candidates(log, base_version, key_cols, keys)
        cand = [(p, s) for p, s in all_files if p in may]
    else:
        cand = list(all_files)
    cand_set = {p for p, _ in cand}
    keep = [(p, s) for p, s in all_files if p not in cand_set]

    by_part: dict[str, list[tuple[str, int]]] = {}
    for relpath, size in cand:
        by_part.setdefault(posixpath.dirname(relpath), []).append((relpath, size))
    # partitions receiving inserts/updates, named by the source rows
    if pcols:
        src_parts = {
            "/".join(f"{c}={r[c]}" for c in pcols): None
            for r in source_df.select(*pcols).distinct().collect()
        }
    else:
        src_parts = {"": None}

    root = log.root_local
    added: list[tuple[str, int]] = []
    matched_total = 0
    data_cols = [c for c in source_df.columns if c not in pcols]
    for part_rel in sorted(set(by_part) | set(src_parts)):
        files = by_part.get(part_rel, [])
        part_filter = None
        if pcols and part_rel:
            vals = dict(
                comp.split("=", 1) for comp in part_rel.split("/") if "=" in comp
            )
            part_filter = _predicate_expr(
                {c: v for c, v in vals.items()}
            )
        part_source = (
            source_df.filter(part_filter) if part_filter is not None
            else source_df
        )
        old_minus = None
        n_old = n_kept = 0
        if files:
            srcs = [posixpath.join(table_root, p) for p, _ in files]
            # pending MOR entries apply before the merge logic — the
            # rewrite must not resurrect logically-deleted rows (the
            # consumed entries are retired from the new snapshot)
            old = _mor_filter_scan(
                spark,
                table_root,
                spark.read.option("basePath", table_root).parquet(*srcs),
                pending,
            )
            n_old = old.count()
            # keys_df is UNhinted: the merge-source key set is batch-
            # sized (a bulk upsert can carry billions of keys) — AQE
            # broadcasts small batches and shuffle-joins large ones.
            # It is NOT pre-filtered to this partition: a key whose
            # new row lands in another partition must still retire the
            # old row here (partition-moving update).
            old_minus = old.join(
                keys_df, on=key_cols, how="left_anti"
            ).select(*data_cols)
            n_kept = old_minus.count()
            if n_kept == n_old:
                # no matched keys here: old files stay by reference;
                # inserts (if any) land append-only in a fresh file
                keep.extend(files)
                if part_rel not in src_parts:
                    continue
                old_minus, n_old, n_kept = None, 0, 0
        new_content = part_source.select(*data_cols)
        if old_minus is not None:
            new_content = old_minus.unionByName(new_content)
        matched_total += n_old - n_kept
        tmp_dir = os.path.join(
            root,
            f"_snapmerge_tmp_{hashlib.md5(part_rel.encode()).hexdigest()[:12]}",
        )
        new_content.write.mode("overwrite").parquet(tmp_dir)
        n_new = spark.read.parquet(tmp_dir).count()
        n_part_source = part_source.count()
        if n_new != n_kept + n_part_source:
            _remove_local(tmp_dir)
            raise RuntimeError(
                f"merge verification failed in {part_rel!r}: "
                f"{n_kept} + {n_part_source} != {n_new}"
            )
        added.extend(_land_files(tmp_dir, root, part_rel, "merged"))
    v = _commit_rewrite(
        spark,
        log,
        base_version=base_version,
        keep=keep,
        added=added,
        op="merge",
        schema=snap.get("schema"),
        changelog=True,
    )
    return {
        "version": v,
        "matched": matched_total,
        "inserted": n_source - matched_total,
        "candidate_files": len(cand),
    }


def snapshot_merge_full(
    spark: SparkSession,
    table_root: str,
    source_df: DataFrame,
    key_cols: list[str],
    *,
    update_set: dict[str, str] | None = None,
    update_condition: str | None = None,
    delete_condition: str | None = None,
    insert_unmatched: bool = True,
    unmatched_delete_predicates: dict | None = None,
    version: int | None = None,
) -> dict:
    """Copy-on-write MERGE with the FULL clause matrix — the
    Delta/Iceberg `MERGE INTO` shapes beyond plain upsert
    (snapshot_merge covers WHEN MATCHED THEN replace / WHEN NOT
    MATCHED THEN INSERT):

    - WHEN MATCHED [AND `delete_condition`] THEN DELETE — evaluated
      FIRST among matched clauses (fixed clause order);
    - WHEN MATCHED [AND `update_condition`] THEN UPDATE SET
      `update_set` ({col: SQL expr}); unmatched conditions carry the
      row unchanged;
    - WHEN NOT MATCHED THEN INSERT (`insert_unmatched`);
    - WHEN NOT MATCHED BY SOURCE [AND `unmatched_delete_predicates`]
      THEN DELETE — the GDPR/retention clause a 100 TB table runs
      weekly ({} = unconditional; None = clause absent). Predicates
      use the engine's scan_plan dict shape so candidate narrowing is
      stats/bloom-driven, same as snapshot_delete.

    Condition and update expressions are SQL strings over the target
    row's columns plus the matching source row's non-key columns as
    `__src_<col>` (e.g. ``"__src_value > value"``). Updates cannot
    touch key or partition columns (rows never move partitions here;
    use snapshot_merge's replace semantics for key-moves).

    Candidate files = (stats/bloom key-probe for the matched clauses)
    ∪ (scan_plan survivors of `unmatched_delete_predicates`); only
    partitions with actual deletes, condition-true updates, or
    inserts are rewritten — everything else carries by reference.
    Serializable under concurrent appends like snapshot_delete: a
    rebase that would carry an appended file the planner cannot prove
    untouched by either clause aborts and the whole merge re-derives
    against the new latest (bounded retries)."""
    log = SnapshotLog(spark, table_root)
    log.bootstrap()
    base_version = log.latest() if version is None else version
    for _ in range(COMMIT_REBASE_RETRIES + 1):
        try:
            return _snapshot_merge_full_once(
                spark,
                log,
                table_root,
                source_df,
                key_cols,
                update_set or {},
                update_condition,
                delete_condition,
                insert_unmatched,
                unmatched_delete_predicates,
                base_version,
            )
        except SnapshotConflictError:
            if version is not None:
                raise
            base_version = log.latest()
    raise SnapshotConflictError(
        f"full MERGE kept conflicting after {COMMIT_REBASE_RETRIES} "
        f"re-derivations under {table_root}"
    )


def _snapshot_merge_full_once(
    spark: SparkSession,
    log: SnapshotLog,
    table_root: str,
    source_df: DataFrame,
    key_cols: list[str],
    update_set: dict[str, str],
    update_condition: str | None,
    delete_condition: str | None,
    insert_unmatched: bool,
    unmatched_delete_predicates: dict | None,
    base_version: int,
) -> dict:
    """One full-MERGE attempt against `base_version` (see
    snapshot_merge_full). Raises SnapshotConflictError — with this
    attempt's rewritten output removed — when the commit cannot
    rebase serializably; the caller re-derives and retries."""
    all_files = log.files(base_version)
    pending = _mor_info(log, base_version)
    pcols = _partition_cols_of(log, base_version)
    missing = [c for c in key_cols if c not in source_df.columns] + [
        c for c in pcols if c not in source_df.columns
    ]
    if missing:
        raise ValueError(f"source_df lacks required columns: {missing}")
    bad_set = [
        c for c in update_set if c in key_cols or c in pcols
    ]
    if bad_set:
        raise ValueError(
            f"update_set cannot touch key/partition columns: {bad_set}"
        )
    n_source = source_df.count()
    keys_df = source_df.select(*key_cols)
    if keys_df.distinct().count() != n_source:
        raise ValueError("source keys must be unique for MERGE")

    # ---- candidate files: key probe ∪ retention-predicate survivors
    stat_cols_present, bloom_cols_present = _parent_meta_cols(
        log, base_version
    )
    if (
        n_source
        and n_source <= MERGE_KEY_PROBE_CAP
        and (stat_cols_present or bloom_cols_present)
    ):
        keys = [tuple(r) for r in keys_df.collect()]
        may = _probe_candidates(log, base_version, key_cols, keys)
    else:
        may = {p for p, _ in all_files} if n_source else set()
    if unmatched_delete_predicates is not None:
        plan = scan_plan(
            spark, table_root, unmatched_delete_predicates, base_version
        )
        may = may | set(plan["paths"])
    cand = [(p, s) for p, s in all_files if p in may]
    keep = [(p, s) for p, s in all_files if p not in may]

    src_data_cols = [
        c for c in source_df.columns if c not in key_cols and c not in pcols
    ]
    src_pref = source_df.select(
        *key_cols,
        *[F.col(c).alias(f"__src_{c}") for c in src_data_cols],
        F.lit(True).alias("__src_match"),
    )

    # global matched-key set off ONE candidate read: non-candidate
    # files provably hold no source key, so this is complete
    rels = [p for p, _ in cand]
    if rels:
        cand_read = _mor_filter_scan(
            spark,
            table_root,
            spark.read.option("basePath", table_root).parquet(
                *[posixpath.join(table_root, p) for p in rels]
            ),
            pending,
        )
        # keys_df unhinted: batch-sized key sets must not be forced
        # into a broadcast (AQE decides), same as snapshot_merge
        matched_keys = (
            cand_read.select(*key_cols)
            .join(keys_df, on=key_cols, how="left_semi")
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )
    else:
        matched_keys = keys_df.limit(0)
    if insert_unmatched and n_source:
        inserts = source_df.join(
            matched_keys, on=key_cols, how="left_anti"
        )
    else:
        inserts = source_df.limit(0)
    n_inserts = inserts.count()

    by_part: dict[str, list[tuple[str, int]]] = {}
    for relpath, size in cand:
        by_part.setdefault(
            posixpath.dirname(relpath), []
        ).append((relpath, size))
    if pcols:
        ins_parts = {
            "/".join(f"{c}={r[c]}" for c in pcols): None
            for r in inserts.select(*pcols).distinct().collect()
        }
    else:
        ins_parts = {"": None} if n_inserts else {}

    matched_expr = F.coalesce(F.col("__src_match"), F.lit(False))
    del_cond = (
        F.expr(delete_condition) if delete_condition is not None
        else F.lit(True)
    )
    upd_cond = (
        F.expr(update_condition) if update_condition is not None
        else F.lit(True)
    )
    nmbs_pred = (
        _predicate_expr(unmatched_delete_predicates)
        if unmatched_delete_predicates is not None
        else None
    )

    root = log.root_local
    added: list[tuple[str, int]] = []
    n_upd_total = n_del_matched = n_del_unmatched = 0
    for part_rel in sorted(set(by_part) | set(ins_parts)):
        files = by_part.get(part_rel, [])
        part_ins = inserts
        if pcols and part_rel:
            vals = dict(
                comp.split("=", 1)
                for comp in part_rel.split("/")
                if "=" in comp
            )
            part_ins = inserts.filter(_predicate_expr(dict(vals)))
        n_ins_here = part_ins.count() if part_rel in ins_parts else 0
        old = None
        n_old = 0
        if files:
            old = _mor_filter_scan(
                spark,
                table_root,
                spark.read.option("basePath", table_root).parquet(
                    *[posixpath.join(table_root, p) for p, _ in files]
                ),
                pending,
            )
            n_old = old.count()
        if old is not None:
            j = old.join(src_pref, on=key_cols, how="left")
            drop_matched = (
                matched_expr & del_cond
                if delete_condition is not None
                else F.lit(False)
            )
            drop_unmatched = (
                (~matched_expr) & nmbs_pred
                if nmbs_pred is not None
                else F.lit(False)
            )
            n_dm = j.filter(drop_matched).count()
            n_du = j.filter(drop_unmatched).count()
            upd_fire = (
                matched_expr & ~drop_matched & upd_cond
                if update_set
                else F.lit(False)
            )
            n_upd = j.filter(upd_fire).count() if update_set else 0
            if n_dm == 0 and n_du == 0 and n_upd == 0:
                # untouched partition: carry files; inserts (if any)
                # land append-only in a fresh file below
                keep.extend(files)
                if not n_ins_here:
                    continue
                result = None
            else:
                kept_rows = j.filter(~drop_matched & ~drop_unmatched)
                out_cols = []
                for c in old.columns:
                    if c in pcols:
                        continue
                    if c in update_set:
                        out_cols.append(
                            F.when(upd_fire, F.expr(update_set[c]))
                            .otherwise(F.col(c))
                            .alias(c)
                        )
                    else:
                        out_cols.append(F.col(c))
                result = kept_rows.select(*out_cols)
            n_del_matched += n_dm
            n_del_unmatched += n_du
            n_upd_total += n_upd
        else:
            result = None
            n_dm = n_du = n_upd = 0
        data_cols = [
            c
            for c in (old.columns if old is not None else source_df.columns)
            if c not in pcols
        ]
        new_content = part_ins.select(*data_cols) if n_ins_here else None
        if result is not None and new_content is not None:
            new_content = result.unionByName(new_content)
        elif result is not None:
            new_content = result
        if new_content is None:
            continue
        tmp_dir = os.path.join(
            root,
            "_snapmergefull_tmp_"
            + hashlib.md5(part_rel.encode()).hexdigest()[:12],
        )
        new_content.write.mode("overwrite").parquet(tmp_dir)
        n_new = spark.read.parquet(tmp_dir).count()
        want = (
            (n_old - n_dm - n_du if result is not None else 0)
            + n_ins_here
        )
        if n_new != want:
            _remove_local(tmp_dir)
            raise RuntimeError(
                f"full-merge verification failed in {part_rel!r}: "
                f"expected {want}, wrote {n_new}"
            )
        added.extend(_land_files(tmp_dir, root, part_rel, "merged"))

    if not added and len(keep) == len(all_files):
        # every candidate partition carried and nothing landed:
        # metadata-only no-op, zero commits
        return {
            "version": base_version,
            "updated": 0,
            "deleted_matched": 0,
            "deleted_unmatched": 0,
            "inserted": 0,
            "candidate_files": len(cand),
        }

    def _veto_appended(new_latest: int, appended: set) -> None:
        # serializability: an appended file the planner cannot prove
        # free of source keys AND outside the retention predicate may
        # hold rows either clause should have touched — re-derive
        if not appended:
            return
        suspects = set(appended)
        if n_source and n_source <= MERGE_KEY_PROBE_CAP and (
            stat_cols_present or bloom_cols_present
        ):
            may2 = _probe_candidates(
                log,
                new_latest,
                key_cols,
                [tuple(r) for r in keys_df.collect()],
            )
            key_suspects = suspects & may2
        else:
            key_suspects = suspects if n_source else set()
        pred_suspects: set = set()
        if unmatched_delete_predicates is not None:
            plan2 = scan_plan(
                spark,
                table_root,
                unmatched_delete_predicates,
                new_latest,
            )
            pred_suspects = suspects & set(plan2["paths"])
        hits = key_suspects | pred_suspects
        if hits:
            raise SnapshotConflictError(
                f"{len(hits)} concurrently-appended file(s) may be "
                f"affected by the MERGE clauses (e.g. "
                f"{sorted(hits)[:3]}) — re-deriving for serializable "
                "merge semantics"
            )

    try:
        v = _commit_rewrite(
            spark,
            log,
            base_version=base_version,
            keep=keep,
            added=added,
            op="merge",
            schema=log.read(base_version).get("schema"),
            validate_rebase=_veto_appended,
            changelog=True,
        )
    except SnapshotConflictError:
        for p, _s in added:
            _remove_local(os.path.join(root, p))
        raise
    return {
        "version": v,
        "updated": n_upd_total,
        "deleted_matched": n_del_matched,
        "deleted_unmatched": n_del_unmatched,
        "inserted": n_inserts,
        "candidate_files": len(cand),
    }


def table_files_meta(
    spark: SparkSession, table_root: str, version: int | str | None = None
) -> DataFrame:
    """Iceberg's `table$files` METADATA TABLE: one row per live data
    file of a snapshot — relpath, partition dir, size, recorded row
    count and per-column [min, max] (NULL where never annotated), and
    the pending-delete flags a 100 TB operator actually filters on
    (which files still carry positional entries, which sit inside an
    equality-delete scope = compaction's blast radius). Built FROM
    the manifest DataFrame plus the delete entries' own (tiny)
    metadata — zero data files opened, pinned via inputFiles() in
    tests. At 10⁶ files this is a distributed scan of one manifest
    parquet; nothing rides the driver."""
    log = SnapshotLog(spark, table_root)
    if isinstance(version, str):
        version = log.resolve_ref(version)
    v = log.latest() if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshots under {table_root}")
    df = log.manifest_df(v).select(
        "relpath",
        F.when(
            F.col("relpath").contains("/"),
            F.regexp_extract("relpath", r"^(.*)/[^/]+$", 1),
        ).otherwise(F.lit("")).alias("part_dir"),
        F.col("size").alias("size_bytes"),
        F.get_json_object("stats", "$.rows").cast("long").alias("row_count"),
        # the raw per-file stats payload rides along so callers can
        # extract column ranges ($.cols.<col>[0|1]) without a second
        # manifest scan — Iceberg's readable_metrics analog
        F.col("stats").alias("stats_json"),
    )
    # pending flags join DISTRIBUTED marker frames — delete-entry
    # metadata never visits the driver, so the metadata table itself
    # obeys the scale discipline it reports on
    pos_paths = [
        posixpath.join(log.deletes_dir, name)
        for name, _n in log.delete_files(v)
        if not name.startswith(EQ_DELETE_PREFIX)
    ]
    eq_paths = [
        posixpath.join(log.deletes_dir, name, "scope")
        for name, _n in log.delete_files(v)
        if name.startswith(EQ_DELETE_PREFIX)
    ]

    def _flag(base: DataFrame, paths: list[str], colname: str) -> DataFrame:
        if not paths:
            return base.withColumn(colname, F.lit(False))
        marker = (
            spark.read.parquet(*paths)
            .select("relpath")
            .distinct()
            .withColumn(colname, F.lit(True))
        )
        return base.join(marker, "relpath", "left").na.fill({colname: False})

    return _flag(_flag(df, pos_paths, "pos_pending"), eq_paths, "eq_pending")


def table_partitions_meta(
    spark: SparkSession, table_root: str, version: int | str | None = None
) -> DataFrame:
    """Iceberg's `table$partitions` METADATA TABLE: the per-partition
    rollup of `table$files` — file count, byte total, recorded row
    total (NULL when any file lacks stats, never a lie), and how many
    files still sit under pending delete entries. The operator's
    question it answers at 100 TB: \"which partitions does MOR
    maintenance owe a rewrite, and how big is each bill?\" — one
    manifest scan, zero data files opened."""
    files = table_files_meta(spark, table_root, version)
    return files.groupBy("part_dir").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("size_bytes").cast("long").alias("total_bytes"),
        # SUM over a NULL row_count must report NULL (unknown), not a
        # partial total that reads as authoritative
        F.when(
            F.count(F.col("row_count")) == F.count("*"),
            F.sum("row_count"),
        ).cast("long").alias("row_count"),
        F.sum(F.col("pos_pending").cast("long")).cast("long").alias(
            "n_pos_pending_files"
        ),
        F.sum(F.col("eq_pending").cast("long")).cast("long").alias(
            "n_eq_pending_files"
        ),
    )


def table_manifests_meta(
    spark: SparkSession, table_root: str, version: int | str | None = None
) -> DataFrame:
    """Iceberg's `table$manifests` METADATA TABLE: one row per
    manifest part file of a snapshot — name, on-disk size, and (for
    shard_manifest versions) the shard's recorded key bounds, file
    count, and the stats-missing always-keep flag. This is the
    operator view of the TWO-LEVEL metadata layer: which shards
    exist, what key range each covers, which ones a given predicate
    would open. O(shards) driver work — the shard index lives in the
    version JSON; only the filesystem listing of the manifest dir is
    consulted for sizes. Zero data files opened."""
    log = SnapshotLog(spark, table_root)
    if isinstance(version, str):
        version = log.resolve_ref(version)
    v = log.latest() if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshots under {table_root}")
    snap = log.read(v)
    name = snap["manifest"]
    rows: list[tuple] = []
    sharding = snap.get("manifest_shards") or {}
    parts_meta = sharding.get("parts") or {}
    by = sharding.get("by")
    local = log._manifest_local(name)
    if os.path.isdir(local):
        entries = [
            (p, os.path.getsize(os.path.join(local, p)))
            for p in sorted(os.listdir(local))
            if p.endswith(".parquet")
        ]
    else:
        entries = [(posixpath.basename(local), os.path.getsize(local))]
    for part, size in entries:
        meta = parts_meta.get(part)
        rows.append(
            (
                name,
                part,
                int(size),
                by,
                str(meta[0]) if meta and meta[0] is not None else None,
                str(meta[1]) if meta and meta[1] is not None else None,
                bool(meta[2]) if meta else None,
                int(meta[3]) if meta else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "manifest string, part string, size_bytes long, shard_by string, "
        "bound_lo string, bound_hi string, always_kept boolean, "
        "n_files long",
    )


# The reference compacts under a 40 s/GB completion budget
# (QHBaseCompact.java:170) — the engine reuses that constant as the
# rewrite-cost scale in the COW-vs-MOR decision below.
COW_GB_SECONDS = 40.0


def choose_write_mode(
    spark: SparkSession,
    table_root: str,
    predicates: dict[str, tuple],
    *,
    version: int | None = None,
    gb_seconds: float = COW_GB_SECONDS,
    cow_budget_s: float = 60.0,
    pending_ratio_max: float = 0.05,
) -> dict:
    """COW-vs-MOR auto-policy for ONE row-level mutation (VERDICT r13
    task 6) — METADATA ONLY, nothing scanned. Two signals:

    - the mutation's rewrite bill if taken COW now: the byte sizes of
      the files scan_plan cannot rule out (stats/bloom/spec pruning —
      exactly the set _snapshot_delete_cow would read), priced at the
      reference's 40 s/GB budget (QHBaseCompact.java:170);
    - the table's standing MOR pressure: pending delete-entry rows
      per live row (entry counts ride the version JSON; live rows sum
      from the stats payload when annotated).

    Rule: take the rewrite NOW ('cow', reason='within_budget') while
    it fits `cow_budget_s` — a small keyed delete rewrites its
    handful of files and keeps the read path join-free; past the
    budget, defer ('mor', reason='over_budget' — an O(matches)
    positional commit, compaction amortizes many mutations into one
    rewrite). EXCEPT when pending pressure already exceeds
    `pending_ratio_max`: every reader is then paying more join tax
    than the rewrite costs, so the decision flips to 'cow' with
    reason='pending_pressure' (the rewrite retires consumed entries
    for the files it touches). snapshot_delete(mode='auto') routes
    through this; the daemon's maintenance probe watches the same
    ratio (maintain_mor max_pending_ratio)."""
    log = SnapshotLog(spark, table_root)
    v = log.latest() if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshots under {table_root}")
    plan = scan_plan(spark, table_root, predicates, v)
    sizes = dict(log.files(v))
    touched_bytes = sum(sizes.get(p, 0) for p in plan["paths"])
    est_rewrite_s = touched_bytes / (1024.0**3) * gb_seconds
    pending_rows = sum(int(c) for _, c in log.delete_files(v))
    stats = log.stats(v)
    live_rows = sum(int(s.get("rows", 0)) for s in stats.values()) or None
    ratio = (pending_rows / live_rows) if live_rows else None
    if ratio is not None and ratio > pending_ratio_max:
        mode, reason = "cow", "pending_pressure"
    elif est_rewrite_s <= cow_budget_s:
        mode, reason = "cow", "within_budget"
    else:
        mode, reason = "mor", "over_budget"
    return {
        "mode": mode,
        "reason": reason,
        "touched_files": len(plan["paths"]),
        "touched_bytes": int(touched_bytes),
        "est_rewrite_s": round(est_rewrite_s, 3),
        "pending_entry_rows": pending_rows,
        "live_rows": live_rows,
        "pending_ratio": round(ratio, 6) if ratio is not None else None,
    }


def maintain_mor(
    spark: SparkSession,
    table_root: str,
    *,
    max_pending: int = 8,
    max_age_s: float | None = None,
    max_pending_ratio: float | None = None,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Automatic MOR maintenance policy (VERDICT r10 task 4): bound
    the pending delete-entry chain a merge-on-read table accumulates.
    Every streaming upsert / positional / equality delete defers its
    rewrite by appending one pending entry; nothing else bounds chain
    growth, and every reader pays one extra join PER ENTRY — so a
    production CDC table needs exactly this trigger. When the chain
    exceeds `max_pending` entries, or the OLDEST entry has been
    pending longer than `max_age_s` (age = wall time since the commit
    that introduced it, read from the version payloads — metadata
    only), or (r14) pending entry ROWS exceed `max_pending_ratio` of
    the table's live rows (choose_write_mode's pressure signal — the
    read-tax-dominates threshold), run `snapshot_compact`, which
    always rewrites partitions holding affected files, physically
    applies the entries, and retires them. On a local table whose
    partitions and pending entries fit the driver-side kernel's caps
    (see snapshot_compact) the triggered maintenance launches no
    Spark job. Below both thresholds this is a metadata-only no-op —
    the probe reads version JSONs, never a manifest row.

    Returns {"triggered", "pending_before", "pending_after",
    "version", "rewritten"} — `triggered=False` rows cost O(history)
    driver JSON reads and nothing else."""
    log = SnapshotLog(spark, table_root)
    v = log.latest()
    if v is None:
        return {
            "triggered": False,
            "pending_before": 0,
            "pending_after": 0,
            "version": None,
            "rewritten": 0,
        }
    entries = log.delete_files(v)
    n = len(entries)
    trigger = n > max_pending
    if not trigger and max_pending_ratio is not None and entries:
        # ratio trigger (r14, the choose_write_mode pressure signal):
        # pending entry ROWS per live row — entry counts ride the
        # version payload, live rows sum from the stats payload when
        # annotated (no stats → no ratio signal, count/age still hold)
        pending_rows = sum(int(c) for _, c in entries)
        live = sum(
            int(s.get("rows", 0)) for s in log.stats(v).values()
        )
        trigger = bool(live) and pending_rows / live > max_pending_ratio
    if not trigger and max_age_s is not None and entries:
        live = {name for name, _ in entries}
        first_seen: dict[str, int] = {}
        for ver in log.versions():
            blob = log.read(ver)
            at = int(blob.get("committed_at", 0))
            for name, _ in blob.get("delete_files") or []:
                if name in live and name not in first_seen:
                    first_seen[name] = at
        oldest = min(first_seen.values(), default=int(time.time()))
        trigger = (time.time() - oldest) > max_age_s
    if not trigger:
        return {
            "triggered": False,
            "pending_before": n,
            "pending_after": n,
            "version": v,
            "rewritten": 0,
        }
    res = snapshot_compact(spark, table_root, target_bytes=target_bytes)
    return {
        "triggered": True,
        "pending_before": n,
        "pending_after": len(log.delete_files(log.latest())),
        "version": res["version"],
        "rewritten": res["rewritten"],
    }


def sweep_orphans(
    spark: SparkSession,
    table_root: str,
    *,
    grace_seconds: float = 3600.0,
) -> dict:
    """Delete data files referenced by NO snapshot at all — the
    leftovers of commits that crashed between landing files and
    claiming a version. A grace period protects in-flight commits:
    a file younger than `grace_seconds` may belong to a commit that
    has not claimed its version yet, so it is kept. Bounded metadata
    work: one listing + the log's file sets."""
    from functools import reduce

    from hbase_compact_spark.compaction.executor import listing_df

    log = SnapshotLog(spark, table_root)
    if not log.versions():
        return {"deleted_files": 0}
    # distributed set difference: on-disk listing ANTI-JOIN the union
    # of every version's manifest — referenced relpaths never
    # materialize on the driver, only the (small) orphan candidates do
    referenced = reduce(
        DataFrame.unionByName,
        [log.manifest_df(v).select("relpath") for v in log.versions()],
    )
    orphans = [
        r["relpath"]
        for r in listing_df(spark, table_root)
        .select("relpath")
        .join(referenced, "relpath", "left_anti")
        .collect()
    ]
    now = time.time()
    deleted = 0
    for relpath in sorted(orphans):
        p = os.path.join(log.root_local, relpath)
        if now - os.stat(p).st_mtime < grace_seconds:
            continue  # possibly an in-flight commit
        if _remove_local(p):
            deleted += 1
    # MOR delete entries (d- files / e- dirs) and their _tmp- staging
    # referenced by NO version at all — the leftovers of a delete or
    # upsert commit that crashed after landing its entry; the same
    # grace period protects in-flight commits
    orphan_entries = 0
    ddir = log._local(DELETES_SUBDIR)
    if os.path.isdir(ddir):
        referenced_entries = {
            n for v in log.versions() for n, _ in log.delete_files(v)
        }
        for name in os.listdir(ddir):
            p = os.path.join(ddir, name)
            if name in referenced_entries:
                continue
            if now - os.stat(p).st_mtime < grace_seconds:
                continue
            if _remove_local(p):
                orphan_entries += 1
    return {"deleted_files": deleted, "deleted_delete_entries": orphan_entries}


def expire_snapshots(
    spark: SparkSession, table_root: str, *, keep_last: int = 2
) -> dict:
    """Drop all but the newest `keep_last` snapshots and delete every
    data file referenced ONLY by the dropped ones — Iceberg's
    expire-snapshots contract. Versions pinned by a named ref (tag or
    branch) are always kept, whatever their age: a ref IS the promise
    that its snapshot stays readable until the ref is dropped. Files
    outside the log's knowledge (concurrent ingests not yet
    committed) are never touched."""
    log = SnapshotLog(spark, table_root)
    vs = log.versions()
    if len(vs) <= keep_last:
        return {"expired": 0, "deleted_files": 0}
    pinned = {int(r["version"]) for r in log.refs().values()}
    keep_set = set(vs[-keep_last:]) | (pinned & set(vs))
    keep_vs = sorted(keep_set)
    drop_vs = [v for v in vs if v not in keep_set]
    if not drop_vs:
        return {"expired": 0, "deleted_files": 0}
    live = {p for v in keep_vs for p, _ in log.files(v)}
    dead = {
        p for v in drop_vs for p, _ in log.files(v) if p not in live
    }
    deleted = 0
    for p in sorted(dead):
        if _remove_local(os.path.join(log.root_local, p)):
            deleted += 1
    # MOR delete files are shared across versions (carried forward by
    # commits), so reclaim only those referenced by NO kept version —
    # the same only-dead rule as data files
    live_dels = {
        n for v in keep_vs for n, _ in log.delete_files(v)
    }
    dead_dels = {
        n for v in drop_vs for n, _ in log.delete_files(v)
    } - live_dels
    for n in sorted(dead_dels):
        _remove_local(log._local(DELETES_SUBDIR, n))
    for v in drop_vs:
        # manifests are 1:1 with versions (copy_manifest guarantees it
        # even for metadata-only commits), so a dropped version's
        # manifest is reclaimable with it — as is its changelog
        # artifact (written by exactly one rewrite commit)
        snap_v = log.read(v)
        _remove_local(log._manifest_local(snap_v["manifest"]))
        changelog = snap_v.get("changelog")
        if changelog:
            _remove_local(log._local(CHANGES_SUBDIR, changelog[0]))
        os.remove(log._local(f"v{v:012d}.json"))
    return {"expired": len(drop_vs), "deleted_files": deleted}
