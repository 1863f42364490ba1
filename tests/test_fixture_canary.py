"""Fixture-drift canary.

The driver regenerates /root/testdata between rounds; a silent schema
change there once broke 8 queries for a full round (events.ts went
TIMESTAMP(NANOS) -> timestamp[us]/NTZ). This suite pins the LOADED
schema of every fixture table — through the engine's own loaders, so
it verifies both the fixture AND the normalization layer. If the
driver regenerates fixtures again, the failure here is a one-line
diff instead of a round of AnalysisExceptions.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from hbase_compact_spark.tables import TABLE_NAMES, load_table

# loaded-through-the-engine schema, pinned from the 2026-08 fixture
# generation: {table: {col: simpleString}}
EXPECTED = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string",
               "n_regionkey": "int"},
    "customer": {"c_custkey": "bigint", "c_name": "string",
                 "c_nationkey": "int", "c_acctbal": "double",
                 "c_mktsegment": "string"},
    "supplier": {"s_suppkey": "bigint", "s_name": "string",
                 "s_nationkey": "int", "s_acctbal": "double"},
    "part": {"p_partkey": "bigint", "p_name": "string",
             "p_brand": "string", "p_type": "string", "p_size": "int",
             "p_retailprice": "double"},
    "orders": {"o_orderkey": "bigint", "o_custkey": "bigint",
               "o_orderstatus": "string", "o_totalprice": "double",
               "o_orderdate": "timestamp_ntz",
               "o_orderpriority": "string"},
    "lineitem": {"l_orderkey": "bigint", "l_partkey": "bigint",
                 "l_suppkey": "bigint", "l_linenumber": "int",
                 "l_quantity": "double", "l_extendedprice": "double",
                 "l_discount": "double", "l_tax": "double",
                 "l_returnflag": "string", "l_linestatus": "string",
                 "l_shipdate": "timestamp_ntz"},
    # ts MUST load as plain timestamp whatever the parquet encoding —
    # this is the row that catches the next events-encoding change.
    "events": {"event_id": "bigint", "ts": "timestamp",
               "user_id": "bigint", "event_type": "string",
               "value": "double", "props": "string"},
    "documents": {"doc_id": "bigint", "text": "string",
                  "lang": "string", "source": "string",
                  "n_chars": "bigint"},
    "embeddings": {"vec_id": "bigint", "embedding": "array<float>",
                   "label": "int"},
}


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_loaded_schema_pinned(spark, sf_dir, name):
    df = load_table(spark, sf_dir, name)
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert got == EXPECTED[name], (
        f"fixture drift in {name}: loaded schema {got} != pinned "
        f"{EXPECTED[name]} — the driver regenerated "
        "/root/testdata; update the loaders (tables.normalize_ts?) "
        "and then this pin"
    )


def test_all_sf_dirs_agree(spark):
    """The three scale factors must present identical loaded schemas
    (bench runs sf0.1, parity sf0.01, unit tests sf0.001 — a drift
    between them would make green tests meaningless)."""
    for name in TABLE_NAMES:
        schemas = {
            sf: tuple(
                (f.name, f.dataType.simpleString())
                for f in load_table(spark, f"/root/testdata/{sf}", name).schema.fields
            )
            for sf in ("sf0.001", "sf0.01", "sf0.1")
        }
        assert len(set(schemas.values())) == 1, f"{name}: {schemas}"


def test_events_physical_encoding_documented(sf_dir):
    """Record (not require) the current physical encoding so the next
    drift diff shows old vs new at a glance. Accepts the encodings
    normalize_ts handles; anything else should fail loudly HERE."""
    t = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    assert str(t) in ("timestamp[us]", "timestamp[us, tz=UTC]",
                      "timestamp[ns]"), (
        f"events.ts physical type {t} is one tables.normalize_ts has "
        "never seen — add a branch and a pin"
    )


def test_normalize_ts_all_branches(spark):
    """normalize_ts must map every encoding that has ever shipped to
    the same TimestampType instants: long nanos, TIMESTAMP_NTZ, and
    already-normalized timestamp (idempotent)."""
    import datetime

    from pyspark.sql import functions as F
    from hbase_compact_spark.tables import normalize_ts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    micros = 1_500_000_123_456_789  # 2017-07-14 02:42:03.456789 UTC
    want = datetime.datetime(2017, 7, 14, 2, 42, 3, 456789)

    nanos = spark.createDataFrame([(micros * 1000,)], "ts long")
    ntz = spark.sql(
        f"SELECT timestamp_ntz '{want.isoformat(sep=' ')}' AS ts"
    )
    already = spark.createDataFrame([(want,)], "ts timestamp")

    for src in (nanos, ntz, already):
        out = normalize_ts(src)
        assert out.schema["ts"].dataType.simpleString() == "timestamp"
        assert out.select(F.col("ts")).first()["ts"] == want


def test_concurrent_load_events_never_leaks_nanos_flag(spark, tmp_path):
    """load_events scopes nanosAsLong to its own read. Concurrent
    callers (the conftest prebuild threads) must each load the NANOS
    encoding and leave the session flag as they found it — an
    interleaved set/restore once left it on, so an UNRELATED read of a
    TIMESTAMP(NANOS) column silently loaded it as LongType."""
    import os
    import sys
    import threading

    import pyarrow as pa
    from pyspark import inheritable_thread_target
    from pyspark.errors import AnalysisException

    from hbase_compact_spark.tables import load_events

    flag = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(flag)
    nanos = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([10**18, 2 * 10**18], pa.timestamp("ns")),
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(nanos, str(sf / "events.parquet"))
    unrelated = str(tmp_path / "unrelated.parquet")
    pq.write_table(nanos, unrelated)

    errors: list[BaseException] = []

    def worker():
        for _ in range(12):
            try:
                df = load_events(spark, str(sf))
                assert df.schema["ts"].dataType.simpleString() == "timestamp"
            except BaseException as exc:  # surfaced below
                errors.append(exc)

    threads = [
        threading.Thread(target=inheritable_thread_target(worker))
        for _ in range(2 * (os.cpu_count() or 2))
    ]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert spark.conf.get(flag) == before
    try:
        dtype = spark.read.parquet(unrelated).schema["ts"].dataType
    except AnalysisException:
        dtype = None  # the default: NANOS is not readable at all
    assert dtype is None or dtype.simpleString() != "bigint"
