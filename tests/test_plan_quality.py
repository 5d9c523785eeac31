"""Plan-quality regression tests: the scale properties the engine
promises (pushdown, pruning, broadcast dims, no accidental cartesian
products, pre-shuffle partial top-k) must survive refactors.

These assert against the PHYSICAL plan text — cheap (no execution)
and exactly what a 100 TB deployment cares about.
"""

import os
import tempfile
import time

import pytest
from conftest import root_operator

from alstom_spark_cassandra_spark.workloads import SPARK_QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = SPARK_QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def full_plan_of(spark, name: str) -> str:
    """plan_of with scan metadata (PushedFilters etc.) untruncated —
    the default renders only 100 chars per metadata entry."""
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        return plan_of(spark, name)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)


def test_field_window_pushes_filters_and_prunes(spark):
    plan = full_plan_of(spark, "field_window")
    assert "PushedFilters: [" in plan
    assert "EqualTo(event_type,click)" in plan
    # props (the widest column) must not be read
    assert "props" not in plan.split("ReadSchema")[1][:300]


def test_latest_per_key_partial_topk_before_shuffle(spark):
    plan = plan_of(spark, "latest_per_key")
    # Spark's rank-limit pushdown: top-1 per key computed on the map
    # side so the exchange only carries survivors
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange") <= 3  # window shuffle + output sort


def test_tpch_q5_broadcasts_all_dims(spark):
    plan = plan_of(spark, "tpch_q5")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # local stats: everything broadcastable


def test_tpch_q1_pushes_date_filter(spark):
    plan = plan_of(spark, "tpch_q1")
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_no_cartesian_in_join_queries(spark):
    # cross joins are legitimate only where a tiny side is broadcast
    # (scalar bounds, query vectors); never a partitioned cartesian
    for name in [
        "tpch_q3",
        "tpch_q10",
        "semi_join",
        "anti_join",
        "reconstruct_message",
        "compaction",
    ]:
        assert "CartesianProduct" not in plan_of(spark, name), name


def test_semi_anti_join_strategies(spark):
    assert "LeftSemi" in plan_of(spark, "semi_join")
    assert "LeftAnti" in plan_of(spark, "anti_join")


def test_dedup_corpus_anti_join_and_pushdown(spark):
    plan = plan_of(spark, "dedup_corpus")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # the doc_id slice must reach the documents parquet scan
    assert "LessThan(doc_id,100)" in plan


def test_exact_sums_avoid_decimal_aggregation(spark):
    # the split-long exact sums must not regress to the boxed
    # DECIMAL(28,6) aggregation path (~4x slower, measured)
    for name in ["tpch_q1", "tpch_q3", "running_sum", "daily_rollup"]:
        plan = plan_of(spark, name)
        assert "decimal(28,6)" not in plan.lower(), name


def test_update_history_series_predicate_reaches_scan(spark):
    plan = full_plan_of(spark, "update_history_dense")
    # driver-known argument series compile to an OR-of-conjunctions
    # predicate pushed into the parquet scan, not a semi-join
    pushed = plan.split("PushedFilters")[1][:400]
    assert "event_type" in pushed and "user_id" in pushed
    # the headline wrapper passes use_cache=False (r15 A/B,
    # OPTIMIZATION_r15.md §8): instead of one cached base slice, EVERY
    # events scan in the plan must carry the pushed series predicate —
    # an unfiltered full-log re-scan would silently undo the trade
    scans = plan.count("Scan parquet")
    assert scans >= 2  # both base-slice consumers re-scan
    assert plan.count("PushedFilters: [") == scans
    for seg in plan.split("PushedFilters: [")[1:]:
        assert "event_type" in seg[:400] and "user_id" in seg[:400]
    assert "InMemoryTableScan" not in plan
    # dense grid is union+re-aggregate, never a sort-merge join
    assert "SortMergeJoin" not in plan


def test_full_log_outputs_have_no_global_sort_exchange(spark):
    # presentation orderBy on full-log-sized outputs would add a
    # rangepartitioning exchange over the whole dataset
    for name in ["json_flatten", "locf", "event_deltas", "running_sum"]:
        assert "rangepartitioning" not in plan_of(spark, name).lower(), name


def test_interval_queries_no_nested_loop(spark):
    """Both interval-join strategies must plan equi-joins: the range
    predicate rides as residual, never a BroadcastNestedLoopJoin or
    cartesian."""
    for name in ["session_error_counts", "interval_event_counts"]:
        plan = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_new_tpch_no_cartesian(spark):
    """The round-2 TPC-H additions keep the no-cartesian contract
    (scalar-subquery crossJoins are broadcast of 1-row aggregates)."""
    for name in [
        "tpch_q2", "tpch_q7", "tpch_q8", "tpch_q9", "tpch_q11",
        "tpch_q13", "tpch_q15", "tpch_q16", "tpch_q17", "tpch_q20",
        "tpch_q21", "tpch_q22",
    ]:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name


def test_hll_sketch_partial_agg(spark):
    """Sketch aggregation must run map-side partial: only sketches
    cross the exchange, never raw user ids."""
    plan = plan_of(spark, "hll_distinct_users")
    lowered = plan.lower()
    assert "hll_sketch_agg" in lowered
    assert "partial" in lowered


def test_time_window_pushed_to_raw_ts(spark):
    """The [lo, hi] epoch-ms window must reach the parquet scan as
    bare-column ts predicates (row-group skipping at 100 TB) — a
    filter on the DERIVED epoch-ms column cannot push. Guards
    load_table_window's raw-encoding literal mapping."""
    for name in ("field_window", "asof_bounds"):
        pushed = full_plan_of(spark, name).split("PushedFilters")[1][:2000]
        assert (
            "GreaterThanOrEqual(ts," in pushed
            or "GreaterThan(ts," in pushed
        ), name
        assert "LessThan(ts," in pushed, name


def test_tpch_q15_single_lineitem_scan(spark):
    """The scalar-max rework must keep exactly one lineitem scan (the
    window max over aggregated rows replaced the cached second
    consumer)."""
    plan = full_plan_of(spark, "tpch_q15")
    assert plan.count("lineitem.parquet") == 1
    assert "InMemoryTableScan" not in plan  # no cache dependency


def test_mean_pool_partial_agg_before_exchange(spark):
    """The posexplode fan-out must partial-aggregate map-side so the
    exchange carries (group, pos) partial sums, not raw components."""
    plan = plan_of(spark, "mean_embedding")
    assert "partial_sum" in plan or "HashAggregate" in plan.split("Exchange")[1]
    assert "CartesianProduct" not in plan


def test_incremental_dedup_no_cartesian(spark):
    """Band-bucket candidate generation and the signature joins must
    stay equi-joins — never a cross product over doc pairs."""
    plan = plan_of(spark, "incremental_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_shuffle_no_global_sort_before_window(spark):
    """The shard window must partition by shard — a single global
    window (empty partition spec) would serialize the corpus through
    one task."""
    from alstom_spark_cassandra_spark.workloads import SPARK_QUERIES

    df = SPARK_QUERIES["corpus_shuffle"](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    import re

    # every windowspecdefinition in the optimized plan must carry a
    # non-empty partition spec (shard#...)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "shard" in m.group(1), m.group(0)


def test_histogram_partial_agg_before_exchange(spark):
    """Bucket counts must combine map-side: the exchange carries
    (group, bucket) partials, never raw values."""
    plan = plan_of(spark, "histogram_quantiles")
    assert "partial_count" in plan or "HashAggregate" in plan.split("Exchange")[1]
    assert "CartesianProduct" not in plan


def test_token_rarity_no_cartesian_and_prunes(spark):
    """The vocab join is an equi-join on term; only doc_id/text are
    read from the documents scan."""
    plan = full_plan_of(spark, "token_rarity")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    read = plan.split("ReadSchema")[1][:300]
    assert "doc_id" in read and "text" in read and "lang" not in read


# crossJoin(broadcast(tiny)) plans as BroadcastNestedLoopJoin; every
# sanctioned use broadcasts a scalar aggregate (1 row), a query-vector
# set, or the grid arguments — never a partitioned relation. The
# allowlist is closed: a NEW nested-loop anywhere else is a bug.
BNLJ_SANCTIONED = {
    "ivf_topk",            # broadcast query vectors x centroids
    "ivf_persisted",       # same, persisted-index path
    "ivf_index_append",    # same probe shape over the appended index
    "ann_cosine_topk",     # broadcast query vectors
    "ann_quantized_topk",  # broadcast query vectors
    "bm25_retrieval",      # broadcast 1-row corpus scalars
    "bm25_persisted",      # same, persisted-index path
    "bm25_index_append",   # same scalar broadcast, appended index
    "bm25_index_compacted",  # same scalar broadcast, compacted index
    "bm25_delete",           # same scalar broadcast, tombstone-filtered
    "bm25_delete_purged",    # same scalar broadcast, purged index
    "ivf_delete",            # broadcast query x centroids, survivors
    "hybrid_rrf",          # fuses the BM25 + dense paths above
    "hybrid_persisted",    # same fusion over the two disk indexes
    "snapshot_diff",       # broadcast 1-row epoch scalar
    "update_history_dense",  # grid = ids x broadcast(arguments)
    "update_history_chunked",  # same grid per chunk + n_chunks-row
                               # broadcast seed-carry fan-out
    "resample_linear",       # grid = series x broadcast(21 steps)
    "retrieve_field_window",  # broadcast 1-row bounds scalar
    "reconstruct_message",    # broadcast 1-row epoch scalar
    "histogram_quantiles",    # broadcast 1-row (min, max) scalar
    "quantile_normalize",     # broadcast 1-row histogram geometry
    "lsh_eval",               # broadcast 1-row count scalars
    "temperature_mixture",    # broadcast 1-row score total
    "collocations",           # broadcast 1-row corpus totals
    "tpch_q11",            # scalar subquery (group threshold)
    "tpch_q22",            # scalar subquery (avg acctbal)
    "ivf_eval",            # broadcast query vectors + 1-row corpus count
    "bloom_prefilter",     # broadcast 1-row count scalars
    "lm_perplexity",       # broadcast 1-row vocabulary-size scalar
    "global_ntile",        # broadcast 1-row total-count scalar
    "langid_scores",       # grid = docs x broadcast(n_langs rows) +
                           # 1-row vocabulary-size scalar
    "quality_filter_pipeline",  # broadcast 1-row LM vocabulary scalar
                                # (the lm_perplexity attach, composed)
    "corpus_pipeline_v2",  # the two attaches above composed: grid =
                           # docs x broadcast(n_langs rows) + the two
                           # 1-row vocabulary scalars
    "pq_recall_eval",      # broadcast query vectors (truth arm) +
                           # 1-row corpus count — the ivf_eval shape
    "hyperplane_lsh_eval",  # broadcast 1-row count scalars (the
                            # lsh_eval shape; the all-pairs truth arm
                            # itself is equi-joined via a block grid)
    "hyperplane_tables_eval",  # broadcast 1-row n_true scalar against
                               # the 3-row per-T tally (same shape)
}


# Rows allowed a global-sort rangepartitioning Exchange. A registry
# row returns an unordered DataFrame, so a range exchange may only come
# from an ordered public API of plans/ or operators/ that the row is
# built on. This list is CLOSED and every entry must still plan the
# exchange: a new range exchange anywhere else is a presentation sort,
# i.e. a scale bug (a whole-output shuffle plus a bounds-sampling
# re-run of the child).
RANGE_SORT_SANCTIONED = {
    # plans/queries.py: get_message, retrieve_message,
    # get_multiple_fields_history
    "message_snapshot_delta", "retrieve_message_asof",
    "multiple_fields_state",
    # operators/similarity.py: cosine_topk(_filtered), ivf_topk (the
    # hybrid rows' dense arm is cosine_topk or the persisted IVF search)
    "ann_cosine_topk", "ann_filtered_topk", "ann_quantized_topk",
    "ivf_topk", "ivf_persisted", "ivf_index_append", "ivf_delete",
    "hybrid_rrf", "hybrid_persisted",
    # operators/dedup.py: hyperplane_multi_table_eval
    "hyperplane_tables_eval",
}

# Rows whose root is a global Sort with no exchange under it:
# plans/queries.py get_multiple_fields orders its output on the one
# partition it already computes on, so nothing is shuffled. Closed
# and live like the lists above.
ROOT_SORT_SANCTIONED = {"multiple_fields_asof", "multiple_fields_snapshot"}


def test_registry_sweep_no_scale_killers(spark):
    """EVERY registry query's physical plan, one sweep: no cartesian
    product, no row-at-a-time Python UDF (BatchEvalPython),
    nested-loop joins only where a broadcast-tiny side sanctions them,
    and no output sort unless an ordered API supplies it: no range
    exchange and no Sort at the root outside the closed allowlists
    above. Each allowlist entry must name a registry row whose plan
    still holds what it sanctions, so a stale entry fails too. This
    is the systematic version of the per-query tests — a refactor that
    degrades ANY query to an all-pairs plan, drops a UDF into the hot
    path or re-adds a presentation sort fails here even if no targeted
    test covers that query. stream_* queries are excluded (calling
    them executes the stream; their batch-side plans are covered in
    test_streaming.py).

    The same pass checks where the rows write: no top-level entry of
    the temp dir named for SF may be created or modified by the sweep,
    because a path shared by every process on the host lets two runs
    over one sf dir corrupt each other's indexes. Rows write only
    under their process's own scratch root."""
    assert len(RANGE_SORT_SANCTIONED) <= 13
    allowlisted = BNLJ_SANCTIONED | RANGE_SORT_SANCTIONED | ROOT_SORT_SANCTIONED
    assert allowlisted <= set(SPARK_QUERIES), allowlisted - set(SPARK_QUERIES)
    offenders = {}
    t0 = time.time()
    for name, fn in SPARK_QUERIES.items():
        if name.startswith("stream_"):
            continue
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = [
            t
            for t in ("CartesianProduct", "BatchEvalPython")
            if t in plan
        ]
        has_bnlj = "BroadcastNestedLoopJoin" in plan
        if has_bnlj != (name in BNLJ_SANCTIONED):
            hits.append(f"BroadcastNestedLoopJoin={has_bnlj}")
        has_range = "rangepartitioning" in plan.lower()
        if has_range != (name in RANGE_SORT_SANCTIONED):
            hits.append(f"rangepartitioning={has_range}")
        root_sort = root_operator(df) == "Sort"
        if name in ROOT_SORT_SANCTIONED:
            if not root_sort:
                hits.append("sanctioned root Sort missing")
        elif root_sort and name not in RANGE_SORT_SANCTIONED:
            hits.append("root Sort")
        if hits:
            offenders[name] = hits
    assert not offenders, offenders
    slug = "".join(c if c.isalnum() else "_" for c in SF)
    shared = sorted(
        e.name
        for e in os.scandir(tempfile.gettempdir())
        if e.name.endswith(slug)
        and e.stat(follow_symlinks=False).st_mtime >= t0
    )
    assert not shared, shared


def test_update_history_1000_series_plan_shape(spark):
    """At a realistic series count (~1000, all filtered) the dense
    agg + LOCF must still ride ONE series-key exchange, the series
    restriction and the filter table must join broadcast (never
    sort-merge), and the per-series filters must not inflate the plan
    (the AND-chain encoding emitted ~5 expression nodes per filtered
    series; the join path is O(distinct filter strings))."""
    from pyspark.sql import functions as F

    from alstom_spark_cassandra_spark.plans.queries import (
        get_update_history,
        make_arguments,
    )

    n_series = 1000
    log = spark.range(20_000).select(
        (F.pmod(F.col("id"), n_series) + 1).cast("int").alias("uevol_field_id"),
        F.lit(1).alias("uevol_message_id"),
        (F.pmod(F.col("id"), 2000) + 1).cast("long").alias("instance_message_id"),
        F.lit(0).cast("long").alias("instance_message_id_previous"),
        F.lit(0).alias("src_id"),
        F.lit(0).alias("dst_id"),
        F.lit("000").alias("relative_path"),
        F.lit(0).alias("iteration"),
        F.lit(0).cast("long").alias("previous_value"),
        F.pmod(F.xxhash64("id"), 100).alias("new_value"),
    )
    args = make_arguments(
        spark,
        list(range(1, n_series + 1)),
        [0] * n_series,
        [0] * n_series,
        ["value >= 0"] * n_series,
    )
    df = get_update_history(log, args, 100, 1900, use_cache=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # exactly two hash exchanges on the series key: one small one for
    # the start-state scalar aggregation (bounded by the pre-start
    # slice), and ONE that carries the whole dense-grid aggregation
    # AND the LOCF window — the dense matrix never re-shuffles
    assert plan.count("Exchange hashpartitioning(uevol_field_id") == 2
    # the plan text stays bounded: the old chain encoding at 1000
    # filtered series exceeded 1M chars of predicate alone
    assert len(plan) < 200_000


def test_heavy_hitters_broadcasts_sketch(spark):
    """The CMS probe join must broadcast the depth*width-cell sketch
    (never shuffle the probe stream against it), and the final top-20
    must be a partial top-k (TakeOrderedAndProject), not a global
    sort."""
    plan = plan_of(spark, "heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_quality_classifier_partial_agg_no_join(spark):
    """Closed-form weights: the logit sum must partial-aggregate
    map-side and the only join is the bias-preserving left join back
    to doc ids (broadcast or hash — never sort-merge on the token
    stream)."""
    plan = plan_of(spark, "quality_classifier")
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_zorder_locality_single_agg_no_join(spark):
    """Pure bit arithmetic + ONE map-side-partial groupBy: no joins,
    no window, exactly one exchange for the aggregation."""
    plan = plan_of(spark, "zorder_locality")
    assert "Join" not in plan
    assert "Window" not in plan


def test_ann_filtered_plans_equi_join_on_label(spark):
    plan = plan_of(spark, "ann_filtered_topk")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_pair_join_keyed_on_cluster(spark):
    """SemDeDup's scale contract: candidate pairs come from a join
    EQUI-KEYED on the cluster id (within-cluster quadratic,
    corpus-linear) — never a cartesian/nested-loop over the corpus.
    The id< condition must ride along as a join-condition filter, not
    force a BroadcastNestedLoopJoin."""
    plan = plan_of(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the pair join's equi-key is the cluster id
    import re

    assert re.search(r"Join .*\[__xcid[^\]]*\], \[__ycid", plan) or (
        "__xcid" in plan and "__ycid" in plan
    ), plan


def test_funnel_single_user_exchange(spark):
    """The three chained stage windows share the per-user partition:
    ONE hashpartitioning exchange on user_id carries all of them (plus
    the final 1-row aggregate's SinglePartition) — no self-joins."""
    plan = plan_of(spark, "funnel_counts")
    assert "Join" not in plan
    assert plan.lower().count("hashpartitioning(user_id") <= 1


def test_session_hygiene_zero_persisted_rdds(spark):
    """The round-6 cache-hygiene claim as an invariant: after running
    the cache/localCheckpoint-heaviest registry queries and applying
    the same between-query hygiene the bench and oracle-gate loops
    use (clearCache + free_local_checkpoints), the context holds ZERO
    persisted RDDs — a long 142-query session cannot accumulate
    executor memory. A future operator that leaks a persist outside
    that hygiene seam fails here before it regresses the bench."""
    from alstom_spark_cassandra_spark.operators import (
        free_local_checkpoints,
    )
    from alstom_spark_cassandra_spark.workloads import SPARK_QUERIES

    sf = "/root/testdata/sf0.001"
    heavy = [
        "update_history_dense",   # cached twice-consumed base scan
        "mmr_rerank",             # localCheckpoint iteration results
        "pagerank",               # localCheckpoint per round
        "bpe_merges",             # caller-persist contract
        "pca_direction",          # power-iteration checkpoints
        "phrase_search",          # positional-index build
        "compaction",             # S7 union path
    ]
    jsc = spark.sparkContext._jsc.sc()
    for name in heavy:
        SPARK_QUERIES[name](spark, sf).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.catalog.clearCache()
        free_local_checkpoints(spark)
    assert jsc.getPersistentRDDs().size() == 0
