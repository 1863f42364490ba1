"""Property-based oracle-differential fuzzing: hypothesis generates
random predicate/aggregation shapes, both engines run them, results
must hash-match. This covers the expression-semantics surface (null
handling, comparison edges, grouping) far beyond the 44 fixed
queries."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hbase_compact_spark.tables import load_table
from tests.oracle_utils import assert_matches_oracle

SF_DIR = "/root/testdata/sf0.001"

NUM_COLS = ["l_quantity", "l_discount", "l_tax"]
STR_COLS = ["l_returnflag", "l_linestatus"]
FLAGS = ["A", "N", "R"]
STATUSES = ["F", "O"]


comparison = st.sampled_from(["<", "<=", ">", ">=", "=", "<>"])
num_col = st.sampled_from(NUM_COLS)
bounds = {
    "l_quantity": st.integers(min_value=0, max_value=51),
    "l_discount": st.decimals(
        min_value=0, max_value=0.11, places=2
    ).map(str),
    "l_tax": st.decimals(min_value=0, max_value=0.09, places=2).map(str),
}


@st.composite
def predicate(draw):
    kind = draw(st.sampled_from(["cmp", "between", "in", "null_safe"]))
    if kind == "cmp":
        c = draw(num_col)
        return f"{c} {draw(comparison)} {draw(bounds[c])}"
    if kind == "between":
        c = draw(num_col)
        lo, hi = draw(bounds[c]), draw(bounds[c])
        return f"{c} BETWEEN {min(lo, hi, key=float)} AND {max(lo, hi, key=float)}"
    if kind == "in":
        vals = draw(
            st.lists(st.sampled_from(FLAGS), min_size=1, max_size=3, unique=True)
        )
        return "l_returnflag IN (" + ", ".join(f"'{v}'" for v in vals) + ")"
    return "l_extendedprice IS NOT NULL"


@st.composite
def where_clause(draw):
    preds = draw(st.lists(predicate(), min_size=1, max_size=3))
    glue = draw(st.sampled_from([" AND ", " OR "]))
    return glue.join(f"({p})" for p in preds)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    join_type=st.sampled_from(["inner", "left", "left_semi", "left_anti"]),
    status=st.sampled_from(["O", "F", "P"]),
    seg_pred=st.booleans(),
)
def test_fuzz_join_shapes(spark, join_type, status, seg_pred):
    """Random join shapes (incl. semi/anti and NULL-producing outer
    joins) against the DuckDB equivalents."""
    orders = load_table(spark, SF_DIR, "orders").filter(
        F.col("o_orderstatus") == status
    )
    cust = load_table(spark, SF_DIR, "customer")
    if seg_pred:
        cust = cust.filter(F.col("c_mktsegment") != "BUILDING")

    cust_where = "WHERE c_mktsegment <> 'BUILDING'" if seg_pred else ""
    if join_type in ("left_semi", "left_anti"):
        sdf = cust.join(
            orders.select(F.col("o_custkey").alias("c_custkey")),
            "c_custkey",
            join_type,
        ).select("c_custkey", "c_name")
        op = "IN" if join_type == "left_semi" else "NOT IN"
        sql = f"""
            SELECT c_custkey, c_name FROM customer {cust_where}
            {"AND" if seg_pred else "WHERE"} c_custkey {op}
              (SELECT o_custkey FROM orders WHERE o_orderstatus = '{status}')
        """
    else:
        sdf = cust.join(
            orders, cust.c_custkey == orders.o_custkey, join_type
        ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        jt = "JOIN" if join_type == "inner" else "LEFT JOIN"
        sql = f"""
            SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
            FROM (SELECT * FROM customer {cust_where}) c
            {jt} (SELECT * FROM orders WHERE o_orderstatus = '{status}') o
              ON c.c_custkey = o.o_custkey
        """
    assert_matches_oracle(sdf, sql, SF_DIR)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    part_mod=st.integers(min_value=1, max_value=7),
    func=st.sampled_from(["sum", "min", "max", "count", "avg_r"]),
    status=st.sampled_from(["O", "F", None]),
)
def test_fuzz_window_functions(spark, part_mod, func, status):
    """Random window shapes over orders (unique o_orderkey -> total
    order -> deterministic frames) against DuckDB."""
    where = f"WHERE o_orderstatus = '{status}'" if status else ""
    sparkf = {
        "sum": "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)",
        "min": "min(o_totalprice) OVER w",
        "max": "max(o_totalprice) OVER w",
        "count": "count(*) OVER w",
        # NOT round(avg(...), 4): windowed averages of 2-decimal money
        # are exact k-way-division ties, and the engines' float avg
        # paths differ by ~1ulp — exact decimal sum / count instead
        # (hypothesis found this with o_custkey%5, avg, status='O')
        "avg_r": "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w "
        "AS DOUBLE) / (count(*) OVER w)",
    }[func]
    body = f"""
        SELECT o_orderkey, {sparkf} AS wval
        FROM __T__ {where}
        WINDOW w AS (PARTITION BY o_custkey % {part_mod}
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """
    load_table(spark, SF_DIR, "orders").createOrReplaceTempView("_fuzz_orders")
    sdf = spark.sql(body.replace("__T__", "_fuzz_orders"))
    assert_matches_oracle(sdf, body.replace("__T__", "orders"), SF_DIR)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(where=where_clause(), group=st.sampled_from(STR_COLS + [None]))
def test_fuzz_filter_aggregate(spark, where, group):
    li = load_table(spark, SF_DIR, "lineitem")
    filtered = li.filter(F.expr(where))
    if group is None:
        sdf = filtered.agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
        sql = f"""
            SELECT count(*) AS n, sum(l_quantity) AS sum_qty,
                   min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
            FROM lineitem WHERE {where}
        """
    else:
        sdf = filtered.groupBy(group).agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
        )
        sql = f"""
            SELECT {group}, count(*) AS n, sum(l_quantity) AS sum_qty
            FROM lineitem WHERE {where} GROUP BY {group}
        """
    assert_matches_oracle(sdf, sql, SF_DIR)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    group_col=st.sampled_from(["l_returnflag", "l_linestatus"]),
    avg_col=st.sampled_from(["l_quantity", "l_linenumber", "l_orderkey"]),
    mod_col=st.sampled_from(["l_linenumber", "l_orderkey"]),
    mod=st.integers(min_value=2, max_value=9),
)
def test_fuzz_unrounded_integer_ratios(spark, group_col, avg_col, mod_col, mod):
    """The cross-engine rounding rule, as a property: ratios of
    identical integers (averages of integral columns, match
    fractions) must hash-match UNROUNDED — the IEEE division of
    identical operands is bit-identical on both engines, while
    round() would diverge on exact decimal ties (see STATE.md)."""
    li = load_table(spark, SF_DIR, "lineitem")
    sdf = li.groupBy(group_col).agg(
        F.avg(avg_col).alias("avg_v"),
        (
            F.sum(
                F.when(F.col(mod_col) % mod == 0, 1).otherwise(0)
            ).cast("double")
            / F.count("*")
        ).alias("frac"),
    )
    sql = f"""
        SELECT {group_col},
               avg({avg_col}) AS avg_v,
               CAST(sum(CASE WHEN {mod_col} % {mod} = 0 THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*) AS frac
        FROM lineitem
        GROUP BY {group_col}
    """
    assert_matches_oracle(sdf, sql, SF_DIR)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    part_mod=st.integers(min_value=1, max_value=5),
    lo=st.integers(min_value=0, max_value=4),
    hi=st.integers(min_value=0, max_value=4),
    unbounded_lo=st.booleans(),
    unbounded_hi=st.booleans(),
    func=st.sampled_from(["count", "min", "max", "sum_dec"]),
)
def test_fuzz_window_row_frames(
    spark, part_mod, lo, hi, unbounded_lo, unbounded_hi, func
):
    """Random BOUNDED row frames (N PRECEDING .. M FOLLOWING and the
    unbounded variants) — frame-edge semantics the running-frame fuzz
    never exercises: partial head/tail frames, single-row frames,
    NULL-vs-0 on empty aggregation inputs. Unique order key -> total
    order -> deterministic frame contents on both engines."""
    lo_s = "UNBOUNDED PRECEDING" if unbounded_lo else f"{lo} PRECEDING"
    hi_s = "UNBOUNDED FOLLOWING" if unbounded_hi else f"{hi} FOLLOWING"
    expr = {
        "count": "count(*) OVER w",
        "min": "min(o_totalprice) OVER w",
        "max": "max(o_totalprice) OVER w",
        "sum_dec": "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w"
        " AS DOUBLE)",
    }[func]
    body = f"""
        SELECT o_orderkey, {expr} AS wval
        FROM __T__
        WINDOW w AS (PARTITION BY o_custkey % {part_mod}
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN {lo_s} AND {hi_s})
    """
    load_table(spark, SF_DIR, "orders").createOrReplaceTempView("_fuzz_orders")
    sdf = spark.sql(body.replace("__T__", "_fuzz_orders"))
    assert_matches_oracle(sdf, body.replace("__T__", "orders"), SF_DIR)


_LIKE_FRAGMENTS = ["%", "_", "URGENT", "BU", "A", "E", "-", "IL"]


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    frags=st.lists(
        st.sampled_from(_LIKE_FRAGMENTS), min_size=1, max_size=4
    ),
    negate=st.booleans(),
    start=st.one_of(
        st.integers(min_value=1, max_value=8),
        st.integers(min_value=-6, max_value=-1),
    ),
    length=st.integers(min_value=0, max_value=6),
    col=st.sampled_from(["o_orderpriority", "o_orderstatus"]),
)
def test_fuzz_string_scalars(spark, frags, negate, start, length, col):
    """LIKE patterns + substr windows cross-engine. start = 0 is
    EXCLUDED by construction: Spark treats it as position 1 while
    DuckDB starts the length window at virtual position 0 (one char
    fewer) — a real dialect divergence, documented in registry.py;
    1-based and negative-from-end starts agree exactly."""
    pattern = "".join(frags)
    op = "NOT LIKE" if negate else "LIKE"
    body = f"""
        SELECT o_orderkey,
               substr({col}, {start}, {length}) AS sub,
               CAST(length({col}) AS BIGINT) AS n,
               upper({col}) AS u
        FROM __T__
        WHERE {col} {op} '{pattern}'
    """
    load_table(spark, SF_DIR, "orders").createOrReplaceTempView("_fuzz_orders")
    sdf = spark.sql(body.replace("__T__", "_fuzz_orders"))
    assert_matches_oracle(sdf, body.replace("__T__", "orders"), SF_DIR)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n=st.integers(min_value=1, max_value=40),
    sign=st.sampled_from(["+", "-"]),
    unit=st.sampled_from(["DAY", "HOUR", "MONTH"]),
    trunc=st.sampled_from(["day", "month", "year", "week"]),
)
def test_fuzz_date_arithmetic(spark, n, sign, unit, trunc):
    """Interval shifts (incl. month-end clamping) and date_trunc
    granularities, formatted to shared strings per the registry
    conventions (date_trunc TYPES differ across engines; formatting
    is the only stable comparison)."""
    sdf = (
        load_table(spark, SF_DIR, "orders")
        .selectExpr(
            "o_orderkey",
            f"date_format(o_orderdate {sign} INTERVAL {n} {unit}, "
            "'yyyy-MM-dd HH:mm:ss') AS shifted",
            f"date_format(date_trunc('{trunc}', o_orderdate), "
            "'yyyy-MM-dd') AS truncd",
        )
    )
    sql = f"""
        SELECT o_orderkey,
               strftime(o_orderdate {sign} INTERVAL {n} {unit},
                        '%Y-%m-%d %H:%M:%S') AS shifted,
               strftime(date_trunc('{trunc}', o_orderdate),
                        '%Y-%m-%d') AS truncd
        FROM orders
    """
    assert_matches_oracle(sdf, sql, SF_DIR)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # user_id
            st.integers(min_value=0, max_value=8),      # gap multiples
            st.sampled_from([-1, 0, 1]),                # boundary jitter s
        ),
        min_size=1,
        max_size=14,
    )
)
def test_fuzz_session_window_boundaries(spark, events):
    """Randomized session-window differential with MAXIMAL boundary
    pressure: every event lands within ±1 s of a 30-min-gap multiple,
    so exact-gap merges, one-second splits and duplicate timestamps
    are all routinely generated. The batch session_window operator
    must match the strict-> lag/cumsum oracle on every draw (this is
    the semantics class where the >= oracle bug hid — fixtures never
    hit the boundary)."""
    import datetime as dt
    import uuid

    import duckdb

    from hbase_compact_spark.registry import ORACLE
    from hbase_compact_spark.workload_llm import session_window_agg
    from tests.oracle_utils import canonical_rows

    t0 = dt.datetime(2024, 6, 1)
    rows = [
        (
            i + 1,
            t0 + dt.timedelta(seconds=mult * 1800 + jit),
            uid,
            "view",
            1.0,
            "{}",
        )
        for i, (uid, mult, jit) in enumerate(events)
    ]
    d = f"/tmp/hcs_fuzz_sess_{uuid.uuid4().hex[:8]}"
    try:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = session_window_agg(spark, d).toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * "
            f"FROM read_parquet('{d}/events.parquet/*.parquet')"
        )
        exp = con.execute(ORACLE["session_window_agg"]).fetchdf()
        assert canonical_rows(got) == canonical_rows(exp)
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# Snapshot-table pushdown fuzz (VERDICT r13 task 7): hypothesis
# filter shapes — IN lists (short and past the IN_PRUNE_MAX cutoff),
# null-safe equality, mixed AND/OR conjuncts, non-canonical literals
# (double literals against a long column, negated ranges) — asserting
# that the PRUNED scan through the Python DataSource (session-less
# SnapshotLog planning in the worker) equals the same WHERE over a full unpruned
# scan of the same files. This is the silent-wrong-prune class the
# r13 bucket-coercion pin caught by hand, made systematic.


@pytest.fixture(scope="module")
def pushdown_table(spark, tmp_path_factory):
    """A logged table engineered for pruning traps: 8 range files
    with stats on k, NULL ks in a side file, a g column with strings,
    and appended files whose footers hold no k range (all-NULL k, must
    never be pruned on k) or no g range."""
    from hbase_compact_spark.compaction.snapshots import (
        SnapshotLog,
        annotate_stats,
        append_partitioned,
    )
    from hbase_compact_spark.sources.snapshot_table import register

    root = str(tmp_path_factory.mktemp("pd") / "t")
    df = spark.range(1000).selectExpr(
        "id AS k", "CAST(id % 7 AS STRING) AS g", "id * 2 AS v"
    )
    (
        df.repartitionByRange(8, "k")
        .sortWithinPartitions("k")
        .write.parquet(root)
    )
    log = SnapshotLog(spark, root)
    log.bootstrap()
    annotate_stats(spark, root, cols=["k", "g"])
    # NULL ks + fresh keys appended AFTER the stats pass:
    # append_partitioned carries the parent's stats payload and gives
    # the appended files their own footer stats on the parent's
    # columns — but an all-NULL column has no min/max, so a file
    # holding only NULL k carries no k range and conservative pruning
    # must always keep it (the fuzz exercises exactly that edge, plus
    # NULL-k rows that only IS NULL / <=> NULL may match)
    import posixpath

    extra = spark.createDataFrame(
        [(None, "x", -1), (5000, "y", -2), (6000, None, -3)],
        "k long, g string, v long",
    )
    append_partitioned(spark, root, extra)
    register(spark)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW fuzz_snap USING snapshot_table "
        f"OPTIONS (path '{root}')"
    )
    full = spark.read.parquet(
        *[posixpath.join(root, p) for p, _ in log.files(log.latest())]
    ).select("k", "g", "v")
    full.createOrReplaceTempView("fuzz_full")
    return root


_pd_num = st.integers(min_value=-5, max_value=1100)


@st.composite
def _pd_predicate(draw):
    kind = draw(
        st.sampled_from(
            ["cmp", "between", "in_small", "in_large", "null_safe",
             "noncanon", "str_eq", "isnull"]
        )
    )
    if kind == "cmp":
        return f"k {draw(comparison)} {draw(_pd_num)}"
    if kind == "between":
        a, b = draw(_pd_num), draw(_pd_num)
        return f"k BETWEEN {min(a, b)} AND {max(a, b)}"
    if kind == "in_small":
        vals = draw(st.lists(_pd_num, min_size=1, max_size=5, unique=True))
        return "k IN (" + ", ".join(map(str, vals)) + ")"
    if kind == "in_large":
        # past IN_PRUNE_MAX (64): planning must skip pruning, Spark
        # still filters exactly
        base = draw(st.integers(min_value=0, max_value=900))
        vals = list(range(base, base + 70))
        return "k IN (" + ", ".join(map(str, vals)) + ")"
    if kind == "null_safe":
        v = draw(st.one_of(st.none(), _pd_num))
        return f"k <=> {'NULL' if v is None else v}"
    if kind == "noncanon":
        # double literal against the long column; NOT over a range
        v = draw(_pd_num)
        return draw(
            st.sampled_from(
                [
                    f"k < {v}.5",
                    f"NOT (k > {v})",
                    f"k >= CAST('{v}' AS BIGINT)",
                ]
            )
        )
    if kind == "str_eq":
        v = draw(st.sampled_from(["0", "3", "6", "x", "y", "π"]))
        return f"g = '{v}'"
    return draw(st.sampled_from(["k IS NULL", "g IS NOT NULL"]))


@st.composite
def _pd_where(draw):
    preds = draw(st.lists(_pd_predicate(), min_size=1, max_size=3))
    glue = draw(st.sampled_from([" AND ", " OR "]))
    return glue.join(f"({p})" for p in preds)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(where=_pd_where())
def test_fuzz_pushdown_prune_equals_full_scan(spark, pushdown_table, where):
    def rows(view):
        return sorted(
            (
                tuple(r)
                for r in spark.sql(
                    f"SELECT k, g, v FROM {view} WHERE {where}"
                ).collect()
            ),
            key=repr,  # NULLs sort too
        )

    got = rows("fuzz_snap")
    want = rows("fuzz_full")
    assert got == want, f"pruned scan diverged for WHERE {where}"


def test_fuzz_pushdown_actually_prunes(spark, pushdown_table):
    """The fuzz above proves safety; this pins POWER — a selective
    range really drops files at planning, appended files included
    (they carry their own footer stats), and keeps the appended file
    with no k range, which can never be ruled out."""
    from hbase_compact_spark.compaction.snapshots import SnapshotLog
    from hbase_compact_spark.sources.snapshot_table import (
        SnapshotTableReader,
        table_schema,
    )

    root = pushdown_table
    reader = SnapshotTableReader(table_schema(root), {"path": root})
    reader._preds = {"k": (130, 140)}
    plan, parts = reader.plan()
    # [130, 140] lives inside ONE of the 8 annotated range files; of
    # the appended files (k 5000, 6000 and NULL) exactly those with no
    # k range survive — conservative, the exact filter re-applies on
    # top
    log = SnapshotLog(None, root)
    stats = log.stats(log.latest())
    appended = [p for p, _ in log.files(log.latest()) if p.startswith("append-")]
    no_k = {p for p in appended if "k" not in stats[p]["cols"]}
    assert appended and all(p in stats for p in appended)
    kept = plan["paths"]
    assert plan["pruned_files"] == 7 + len(appended) - len(no_k)
    assert {p for p in kept if p.startswith("append-")} == no_k
    assert sum(p.startswith("part-") for p in kept) == 1
    assert all(
        p.startswith(("part-", "append-")) for p in kept
    )
