"""Physical-plan regression tests — the scale guarantees SCALING.md
claims must stay visible in the executed plans, not just in prose."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
_Q = entrymod.queries()


def _plan(spark, name: str) -> str:
    return (
        _Q[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    )


def test_filter_pushdown_reaches_parquet(spark):
    p = _plan(spark, "filter_pred")
    assert "PushedFilters: [" in p
    # at least the range predicates push down
    assert "GreaterThanOrEqual" in p or "ReadSchema" in p
    # column pruning: untouched wide columns must not be read
    assert "l_comment" not in p and "l_partkey" not in p


def test_star_join_broadcasts_dimensions(spark):
    p = _plan(spark, "join_equi")
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_topk_avoids_global_sort(spark):
    p = _plan(spark, "topk_order_limit")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_aggregates_are_two_phase(spark):
    p = _plan(spark, "groupby_stats")
    # partial (map-side) + final HashAggregate pair
    assert p.count("HashAggregate") >= 2


def test_partition_pruning(spark, tmp_path):
    """Hive-partitioned writes + partition-column filters must prune
    at planning time (PartitionFilters), not scan-and-discard."""
    from hbase_compact_spark.tables import load_table

    root = str(tmp_path / "pt")
    docs = load_table(spark, SF_DIR, "documents")
    docs.write.partitionBy("lang").mode("overwrite").parquet(root)
    df = spark.read.parquet(root).filter("lang = 'en'").select("doc_id")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in p
    # only the en partition's files are scanned
    n_en = docs.filter("lang = 'en'").count()
    assert df.count() == n_en


@pytest.mark.parametrize("name", ["dedup_exact", "text_stats"])
def test_no_cartesian_in_linear_ops(spark, name):
    p = _plan(spark, name)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_simhash_pairs_single_sketch_materialization(spark):
    """The sketch self-join must read the checkpointed sketches, not
    re-run the md5-token pipeline per join side."""
    p = _plan(spark, "dedup_simhash_pairs")
    assert "Scan ExistingRDD" in p  # checkpoint barrier in the plan
    assert p.count("md5") == 0  # hashing happened before the barrier
    assert "CartesianProduct" not in p


def test_corpus_sample_is_scan_and_filter(spark):
    """Deterministic sampling must stay a single scan + filter: no
    shuffle, no join, nothing driver-side."""
    p = _plan(spark, "corpus_sample")
    assert "Exchange" not in p
    assert "Join" not in p


def test_embedding_dedup_has_no_broadcast_of_corpus(spark):
    """Block-pair exact dedup: the only wide operator is the
    block-pair shuffle feeding applyInPandas — no broadcast of
    corpus-scale data, no cartesian product."""
    p = _plan(spark, "dedup_embedding")
    assert "FlatMapGroupsInPandas" in p
    assert "BroadcastExchange" not in p
    assert "CartesianProduct" not in p


def test_unpivot_is_generate_no_shuffle(spark):
    """Native unpivot = one Generate over the scan; a shuffle here
    would move 4x the table for a purely row-local melt."""
    p = _plan(spark, "unpivot_long")
    assert "Expand" in p or "Generate" in p
    assert "Exchange" not in p


def test_date_funcs_single_scan_no_exchange(spark):
    p = _plan(spark, "date_funcs")
    assert "Exchange" not in p
    assert "*(1)" in p  # whole-stage-codegen'd scan+project


def test_window_ntile_reduces_before_global_rank(spark):
    """The global ranking must run over per-customer aggregates
    (cardinality = customers), never over raw orders — and since r8,
    never through a single-partition window either: the rank window is
    partitioned by the range bucket (full pins in test_ranking.py)."""
    p = _plan(spark, "window_ntile")
    assert "HashAggregate" in p  # the per-customer reduction survives
    for line in p.splitlines():
        if "row_number() windowspecdefinition(" in line:
            assert "__gr_pid" in line, line


def test_stats_moments_two_phase_agg(spark):
    p = _plan(spark, "stats_moments")
    assert p.count("HashAggregate") >= 2  # partial + final moments


def test_doc_chunk_zero_shuffle(spark):
    """Chunking is row-local: scan -> sequence explode -> slice. Any
    Exchange here would shuffle the full corpus for per-row work."""
    p = _plan(spark, "doc_chunk")
    assert "Generate" in p
    assert "Exchange" not in p
    assert "Join" not in p


def test_blocklist_and_pii_scrub_are_pure_scans(spark):
    """Literal-array intersect / regex redaction run inside codegen
    over one scan — no explode, no join, no shuffle."""
    for name in ("blocklist_filter", "pii_scrub"):
        p = _plan(spark, name)
        assert "Exchange" not in p, name
        assert "Join" not in p, name
        assert "*(1)" in p, name  # whole-stage-codegen'd scan


def test_html_strip_pure_scan_and_round_trip(spark):
    """html_strip is a per-row regex chain (no shuffle), and the strip
    must recover exactly the expected visible text for EVERY document
    — the self-verifying column the oracle also hashes."""
    import pyspark.sql.functions as F

    from hbase_compact_spark.workload_llm import html_strip

    p = _plan(spark, "html_strip")
    assert "Exchange" not in p
    assert "Join" not in p

    out = html_strip(spark, "/root/testdata/sf0.001")
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("clean_matches_source").cast("int")).alias("ok"),
        F.min("boilerplate_chars").alias("min_boiler"),
        F.min("n_links").alias("min_links"),
        F.max("n_links").alias("max_links"),
    ).collect()[0]
    assert agg["n"] > 0 and agg["ok"] == agg["n"]
    assert agg["min_boiler"] > 0  # nav+footer always removed
    assert (agg["min_links"], agg["max_links"]) == (3, 5)  # 3 + id%3


def test_ngram_lm_model_join_broadcasts(spark):
    """The trained bigram table is aggregation-bounded; joining it
    back to doc bigrams must broadcast, not sort-merge the corpus."""
    p = _plan(spark, "ngram_lm_score")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_interval_join_is_bucketed_equi_join(spark):
    """The range join must decompose into a (type, bucket) equi-join —
    a theta-only join would plan as a cartesian/BNLJ corpus blowup."""
    p = _plan(spark, "interval_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_containment_reuses_single_shingle_index(spark):
    """dedup_containment and dedup_ngram_jaccard share ONE memoized,
    checkpointed shingle index: both plans must read the checkpoint
    (ExistingRDD), never re-run the explode/DF-cap pipeline per
    consumer branch, and never cartesian."""
    for name in ("dedup_containment", "dedup_ngram_jaccard"):
        df = _Q[name](spark, SF_DIR)
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in p, name
        assert "Scan ExistingRDD" in p, name
        # the shingle explode ran before the checkpoint barrier
        assert "Generate explode" not in p, name


def test_bm25_broadcasts_df_and_stats(spark):
    """bm25_score: document frequencies and the 1-row corpus stats are
    broadcast; the only shuffles are the token aggregations and the
    doc-length join — no cartesian, no corpus broadcast."""
    p = _plan(spark, "bm25_score")
    assert p.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in p  # the 1-row stats cross join
    assert "CartesianProduct" not in p


def test_anomaly_zscore_broadcasts_group_stats(spark):
    """anomaly_zscore: the per-type stats agg (|event_type| rows) is
    broadcast back; the events scan happens exactly twice (stats pass
    + flag pass), never more."""
    p = _plan(spark, "anomaly_zscore")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_window_rank_dist_single_shuffle(spark):
    """window_rank_dist: one hash exchange on the partition key feeds
    both rank windows — no second exchange, no global sort."""
    p = _plan(spark, "window_rank_dist")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in p


@pytest.mark.parametrize(
    "name", ["tfidf_top_terms", "bm25_score", "token_heavy_hitters"]
)
def test_token_index_queries_scan_corpus_once(spark, name):
    """tfidf/bm25/heavy-hitters reduce the corpus to one checkpointed
    (doc, term, count) table and derive df/dl/n from it. The executed
    plan must read that checkpoint (ExistingRDD) and never re-run the
    token explode per consumer branch — at 100 TB each extra
    'Generate explode' is another full corpus pass."""
    df = _Q[name](spark, SF_DIR)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in p, name
    assert "Generate explode" not in p, name
    assert "CartesianProduct" not in p, name


@pytest.mark.parametrize("name", ["funnel_conversion", "retention_cohorts"])
def test_event_analytics_joins_are_aqe_chosen_broadcast(spark, name):
    """funnel_conversion / retention_cohorts join per-user frames back
    to events with NO broadcast hint — a forced F.broadcast on a
    |users|-row frame is a hard OOM at 1e8+ users. At fixture scale
    AQE must still CHOOSE BroadcastHashJoin from its runtime size
    estimates (visible only in the post-execution adaptive plan), and
    the source must contain no broadcast hint to force it."""
    import inspect

    import hbase_compact_spark.workload_olap as olap

    src = inspect.getsource(getattr(olap, name))
    assert "F.broadcast" not in src, name
    df = _Q[name](spark, SF_DIR)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p, name
    assert "CartesianProduct" not in p, name


def test_contamination_eval_join_is_aqe_chosen_broadcast(spark):
    """contamination_check joins training shingles against the eval-
    shingle set with NO broadcast hint — the eval side is a corpus
    FRACTION (1/EVAL_MOD of docs), so its cardinality grows with the
    data and a forced broadcast OOMs at 100 TB. AQE must still choose
    BroadcastHashJoin at fixture scale."""
    import inspect

    import hbase_compact_spark.workload_llm as llm

    src = inspect.getsource(llm.contamination_check)
    assert "F.broadcast" not in src
    df = _Q["contamination_check"](spark, SF_DIR)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


@pytest.mark.parametrize(
    "name,scalar_hints",
    [
        ("tfidf_top_terms", 1),  # only the 1-row corpus count n
        ("cooccurrence_pmi", 2),  # only the 1-row n_tok / n_pair_tot
    ],
)
def test_vocab_joins_are_aqe_chosen_broadcast(spark, name, scalar_hints):
    """tfidf_top_terms / cooccurrence_pmi join VOCABULARY-cardinality
    frames (per-term df, unigram counts) back to the reduced token
    table with NO broadcast hint — vocab grows with the corpus
    (1e8-1e9 distinct tokens at 100 TB) and a forced broadcast there
    is a hard OOM. Only 1-row scalar frames may keep hints. At
    fixture scale AQE must still CHOOSE BroadcastHashJoin from its
    runtime size estimates."""
    import inspect

    import hbase_compact_spark.workload_llm as llm

    src = inspect.getsource(getattr(llm, name))
    assert src.count("F.broadcast") == scalar_hints, name
    df = _Q[name](spark, SF_DIR)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p, name
    assert "SortMergeJoin" not in p, name
    assert "CartesianProduct" not in p, name


def test_quality_scope_semi_join_is_aqe_chosen(spark):
    """_quality_frame's scope semi-join (dedup_canonical's cluster-
    member subset) is UNhinted: near-dup membership is a large,
    data-dependent corpus fraction at web scale, so the planner must
    be free to shuffle it. AQE still broadcasts at fixture scale."""
    import inspect

    import hbase_compact_spark.workload_llm as llm

    src = inspect.getsource(llm._quality_frame)
    assert "F.broadcast" not in src
    df = _Q["dedup_canonical"](spark, SF_DIR)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_dedup_lines_shuffles_on_line_hash(spark):
    """dedup_lines keys its dup-set groupBy and LEFT ANTI join on
    xxhash64(line), not the raw line text — shuffle keys are 8 bytes,
    not corpus text bytes. The hash must be visible in the executed
    plan and the anti-join present; no broadcast hint in the source."""
    import inspect

    import hbase_compact_spark.workload_llm as llm

    src = inspect.getsource(llm.dedup_lines)
    assert "F.broadcast" not in src
    assert "xxhash64" in src
    df = _Q["dedup_lines"](spark, SF_DIR)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_percentile_dist_plan_shape(spark):
    """The distributed exact-percentile shape: per value column, ONE
    exchange feeds the cumulative+total window pair (no totals join),
    the count agg is a partial+final pair, and the two 3-row pipeline
    outputs meet in a broadcast join — never a sort-merge."""
    p = _plan(spark, "percentile_dist")
    # Invariants that matter (exact Window/Exchange counts proved
    # brittle across planner versions): the two 3-row pipelines must
    # meet in a BROADCAST join, never sort-merge, and a totals-join
    # regression (separate count aggregate joined back per value
    # column) would blow the exchange count well past the loose
    # ceiling below — the cumulative+total window pair needs at most
    # one exchange per pipeline plus the final broadcast.
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert 2 <= p.count("Window") <= 6
    assert p.count("Exchange") <= 8


def test_bucketed_join_has_no_join_key_exchange(spark):
    """bucketed_join reads lineitem/orders from co-located bucketed
    tables: with broadcast disabled (the fact-x-fact shape) the plan
    must be a SortMergeJoin whose inputs are BUCKETED scans with NO
    exchange on either join key — the layout, not the engine, pays
    the shuffle, once, at write time."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = _Q["bucketed_join"](spark, SF_DIR)
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in p
    assert "Bucketed: true" in p
    assert "hashpartitioning(l_orderkey" not in p
    assert "hashpartitioning(o_orderkey" not in p
    assert "CartesianProduct" not in p


def test_dedup_semantic_has_no_corpus_join(spark):
    """dedup_semantic's 100 TB contract is that the pairwise compare
    happens ONLY inside per-cluster grouped-pandas tasks: the plan
    must contain ZERO join nodes (assignment ships the bounded
    centroid matrix in the task closure, not via a corpus join) and
    the only exchange is the corpus keyed by cluster id."""
    df = _Q["dedup_semantic"](spark, SF_DIR)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    for node in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert node not in p, f"unexpected {node} in dedup_semantic plan"
    assert "FlatMapGroupsInPandas" in p
    assert p.count("Exchange hashpartitioning(list_id") >= 1


def test_mor_delete_scan_read_is_broadcast_anti_join(spark):
    """The MOR read's 100 TB contract: the pending delete set joins
    as a BROADCAST LEFT ANTI against the data scan (no shuffle of the
    100 TB side for a small delete set), keyed on the positional
    (file, row_index) pair off the scan's hidden _metadata column."""
    df = _Q["snapshot_mor_delete_scan"](spark, SF_DIR)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "row_index" in p  # positional key comes from _metadata
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def _assert_scoped_marker_plan(p: str) -> None:
    """Shared pin for the scoped equality-delete read shape (eqdelete
    + MOR upsert) after the r14 split-scan change: entry-UNTOUCHED
    files read clean and union on top; the entry-affected scan joins
    its KEYS marker as a BroadcastHashJoin and its SCOPE marker as
    either a BroadcastHashJoin (multi-file scope, keyed on relpath)
    or — when the scope is a single file so the relpath reduces to a
    plan-time literal and no join key remains — a keyless LeftOuter
    BroadcastNestedLoopJoin whose build side is the ≤1-row
    IdentityBroadcastMode broadcast projecting ONLY the constant
    scope flag (`true AS __eq_s*`). A BNLJ over anything else (data
    columns, the keys side) is still forbidden, as are sort-merge
    and cartesian anywhere in the final plan."""
    final = p.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final and "CartesianProduct" not in final
    assert "BroadcastHashJoin" in final  # the keys marker join
    assert "AS __eq_k" in final
    n_bnlj = final.count("BroadcastNestedLoopJoin")
    if n_bnlj:
        import re

        lines = final.splitlines()
        for line in lines:
            if "BroadcastNestedLoopJoin" in line:
                assert "BuildRight, LeftOuter" in line, line
        # every BNLJ's build must be an IdentityBroadcastMode exchange
        # whose immediate child projects JUST the constant scope
        # marker — assert on the build subtree, not the whole string
        idx = [
            i
            for i, line in enumerate(lines)
            if "BroadcastExchange IdentityBroadcastMode" in line
        ]
        assert len(idx) == n_bnlj, final
        for i in idx:
            child = lines[i + 1]
            assert re.search(
                r"Project \[true AS __eq_s_*#\d+\]", child
            ), f"BNLJ build side is not the scope marker:\n{child}"


def test_eqdelete_scan_read_is_broadcast_marker_joins(spark):
    """The equality-delete read's 100 TB contract: the data side is
    never shuffled or sort-merged; keys join as a broadcast hash
    join; the scope marker broadcasts — degenerating to a ≤1-row
    nested-loop marker ONLY in the single-file-scope case (see
    _assert_scoped_marker_plan)."""
    df = _Q["snapshot_eqdelete_scan"](spark, SF_DIR)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    _assert_scoped_marker_plan(p)


def test_mor_upsert_scan_read_shape(spark):
    """The MOR-upsert read is the same scoped equality join — one
    data scan, broadcast key/scope markers, no shuffle of the data
    side — over parents + the freshly landed files."""
    df = _Q["snapshot_mor_upsert_scan"](spark, SF_DIR)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    _assert_scoped_marker_plan(p)


def test_transform_scan_witness_is_broadcast_not_single_partition(spark, monkeypatch):
    """VERDICT r11: the grand-total witness in snapshot_transform_scan
    is a 1-row aggregate broadcast back onto the rows — never a
    Window.partitionBy(lit(1)), whose SinglePartition exchange funnels
    the ENTIRE pruned slice through one task. The aggregate's own
    final-stage exchange moves one partial row per map task, which is
    the standard global-agg shape, not a row funnel — so the pin is
    structural: no Window node, broadcast join present. The cap at 0
    keeps the read a Spark file scan, the shape of a table past it,
    instead of read_table_where's driver-side local relation."""
    from hbase_compact_spark.compaction import executor

    monkeypatch.setattr(executor, "_ARROW_REWRITE_MAX_BYTES", 0)
    p = _plan(spark, "snapshot_transform_scan")
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_overlapped_chains_leave_session_conf_alone(spark, monkeypatch):
    """The driver-thread overlaps (ivfpq_topk's IVF/PQ training
    chains, ivfpq_index_topk's index-table opens, ann_index_pq's
    exclusion-set resolution) share ONE SparkSession. Session conf is
    session-global, so a conf.set inside any overlapped chain would
    race against the sibling chain (VERDICT r15 item 10) — pin that
    the chains never touch it. ann_ivfpq covers the training-overlap
    path; ann_index_pq covers the serve-path overlap including
    mor_pending_keys/read_table_at."""
    calls: list[tuple[str, str]] = []
    import threading

    real_set = type(spark.conf).set
    main = threading.current_thread().name

    def recording_set(self, key, value=None):
        calls.append((threading.current_thread().name, str(key)))
        return real_set(self, key, value)

    monkeypatch.setattr(type(spark.conf), "set", recording_set)
    sf = "/root/testdata/sf0.001"
    _Q["ann_ivfpq"](spark, sf).collect()
    _Q["ann_index_pq"](spark, sf).collect()
    # the main thread's load_table UTC pin is an idempotent driver-
    # contract guard, not a race; only WORKER-thread mutations race
    # against the sibling chain
    worker_sets = [c for c in calls if c[0] != main]
    assert worker_sets == [], (
        f"session conf mutated from an overlapped chain: {worker_sets}"
    )
