"""Plan-quality gates: the 100 TB design assertions.

Correctness alone isn't done — these tests pin the physical-plan
properties that matter at scale: parquet filter pushdown, column
pruning, broadcast joins for dims, no shuffle where none is needed,
whole-stage codegen in the hot path.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hw_kafka_streams_spark.plans import (
    formatted_plan as _formatted,
)
from hw_kafka_streams_spark.plans import (
    physical_plan as _physical_plan,
)
from hw_kafka_streams_spark.plans import plan_report, pushed_filters, read_schema
from hw_kafka_streams_spark.queries import REGISTRY, _load_all
from hw_kafka_streams_spark.sources.catalog import load_table

_load_all()


def test_q6_filter_pushdown(spark, sf_dir):
    df = REGISTRY["q6_revenue_delta"].fn(spark, sf_dir)
    plan = _formatted(df)
    # numeric predicates must reach the parquet reader
    assert "PushedFilters" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1][:400]


def test_q6_column_pruning(spark, sf_dir):
    df = REGISTRY["q6_revenue_delta"].fn(spark, sf_dir)
    plan = _formatted(df)
    read_schema = plan.split("ReadSchema")[1][:400]
    # only the 4 referenced columns are read, not all 11
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema and "l_partkey" not in read_schema


def test_q5_dims_broadcast(spark, sf_dir):
    plan = _physical_plan(REGISTRY["q5_supplier_volume"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q3_broadcast_customer(spark, sf_dir):
    plan = _physical_plan(REGISTRY["q3_shipping_priority"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_sort_limit_is_take_ordered(spark, sf_dir):
    plan = _physical_plan(REGISTRY["q_sort_limit"].fn(spark, sf_dir))
    # global top-N must not be a full global sort
    assert "TakeOrderedAndProject" in plan


def test_range_join_is_hash_not_nested_loop(spark, sf_dir):
    plan = _physical_plan(REGISTRY["q_range_join"].fn(spark, sf_dir))
    assert "NestedLoop" not in plan  # equi key carries the join


def test_q1_whole_stage_codegen(spark, sf_dir):
    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_dir)
    df.collect()  # AQE: codegen spans only appear in the final plan
    plan = _physical_plan(df)
    # '*(n)' prefixes mark whole-stage-codegen spans in the plan string
    assert "*(1)" in plan or "WholeStageCodegen" in plan


def test_q1_partial_agg(spark, sf_dir):
    plan = _physical_plan(REGISTRY["q1_pricing_summary"].fn(spark, sf_dir))
    # map-side partial aggregation before the shuffle
    assert "partial_sum" in plan or "HashAggregate" in plan


def test_censor_no_python_udf(spark, sf_dir):
    plan = _physical_plan(REGISTRY["q_censor_documents"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sessionize_single_shuffle(spark, sf_dir):
    """Window + groupBy on the same key should reuse one hash partitioning."""
    df = REGISTRY["q_sessionize"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    # exchanges: one for user_id partitioning, one for the final orderBy
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 3, f"too many shuffles:\n{plan}"


def test_broadcast_threshold_respected(spark, sf_dir):
    """A plain dim join (no hint) should still pick broadcast via stats."""
    n = load_table(spark, "nation", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    plan = _physical_plan(c.join(n, c.c_nationkey == n.n_nationkey))
    assert "BroadcastHashJoin" in plan


def test_pushdown_helper_sees_q6_filters(spark, sf_dir):
    df = REGISTRY["q6_revenue_delta"].fn(spark, sf_dir)
    assert any("l_quantity" in f for f in pushed_filters(df))


def test_read_schema_helper_prunes(spark, sf_dir):
    cols = read_schema(REGISTRY["q6_revenue_delta"].fn(spark, sf_dir))
    assert "l_extendedprice" in cols and "l_partkey" not in cols


def test_minhash_partial_agg(spark, sf_dir):
    """Signature agg must partial-aggregate map-side (shuffle carries one
    64-long row per doc per partition, not raw postings)."""
    from hw_kafka_streams_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, "documents", sf_dir)
    plan = _physical_plan(minhash_signatures(docs))
    assert "partial_min" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_tumbling_single_shuffle(spark, sf_dir):
    df = REGISTRY["q_stream_tumbling"].fn(spark, sf_dir)
    rep = plan_report(df)
    # one shuffle for the (window,key) agg, one for the output orderBy
    assert rep["shuffles"] <= 2 and rep["python_stages"] == 0


def test_similarity_topk_arrow_kernel(spark, sf_dir):
    """The cosine kernel is DELIBERATELY one Arrow-batched pandas-UDF
    stage (numpy matmul per batch, 6× faster than the interpreted
    HigherOrderFunction fold it replaced); row-wise Python must stay 0."""
    rep = plan_report(REGISTRY["q_similarity_topk"].fn(spark, sf_dir))
    assert rep["rowwise_python_stages"] == 0
    assert rep["arrow_python_stages"] >= 1
    assert rep["nested_loop_joins"] >= 1  # broadcast NL: query side broadcast


def test_aqe_coalesces_small_shuffle(spark, sf_dir):
    """AQE must coalesce the 8 configured shuffle partitions down for a
    tiny aggregate — the runtime re-plan lever the session enables."""
    n = load_table(spark, "nation", sf_dir)
    agg = n.groupBy("n_regionkey").count()
    agg.collect()
    plan = _physical_plan(agg)
    assert "AQEShuffleRead" in plan and "coalesced" in plan


def test_join_strategy_follows_broadcast_threshold(spark, sf_dir):
    """Disabling auto-broadcast must flip the dim join to shuffle-based
    (sort-merge/shuffled-hash) — join strategy is config-controllable."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _physical_plan(c.join(n, c.c_nationkey == n.n_nationkey))
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime bloom-filter join pruning: a selective dim-side filter is
    turned into a bloom filter evaluated on the fact-side SCAN, so at
    100 TB most fact rows die before the shuffle instead of after it.
    Thresholds are sized for production (10 MB / 10 GB defaults); on toy
    data we force the application-side threshold down and disable
    broadcast (a broadcast join already prunes during the build probe).
    Session isolation via newSession() — shared context, private conf."""
    s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    o = load_table(s, "orders", sf_dir).filter(F.col("o_orderpriority") == "1-URGENT")
    li = load_table(s, "lineitem", sf_dir)
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    opt = j._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "bloomfilter" in opt.replace(" ", "")
    # and the result still matches the un-filtered plan
    plain = (
        load_table(spark, "lineitem", sf_dir)
        .join(
            load_table(spark, "orders", sf_dir).filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert j.collect() == plain.collect()


def test_aqe_skew_join_splits_hot_partition(spark, sf_dir):
    """AQE skew-join split: the first line of defense for skewed keys
    (operators/skew.salted_join is the explicit fallback). One hot key
    holding 2/3 of the fact side must be split at runtime —
    SortMergeJoin(skew=true) + AQEShuffleRead skewed in the final
    adaptive plan. Thresholds are production-sized (256MB advisory);
    here they scale down with the toy data, exactly as a 100 TB
    deployment would tune them."""
    s = spark.newSession()
    c = s.conf
    c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    c.set("spark.sql.shuffle.partitions", "8")
    big = s.range(300_000).select(
        F.when(F.col("id") < 200_000, 0).otherwise(F.col("id") % 1000).alias("k"),
        F.col("id").alias("v"),
    )
    small = s.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    j = big.join(small, "k").groupBy().agg(F.count(F.lit(1)).alias("n"))
    # collect() (not first(): that plans a separate limit query) so THIS
    # DataFrame's adaptive plan finalizes
    assert j.collect()[0]["n"] == 300_000  # result parity despite the split
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan
    assert "AQEShuffleRead skewed" in plan


@pytest.mark.slowgate
def test_headline_plans_no_smj_no_unexpected_nlj(spark, sf_dir):
    """Plan-quality ratchet over the ENTIRE bench headline set: no
    sort-merge joins (every join in the set has a broadcastable side or
    an AQE-convertible shuffle hash), and nested-loop/cartesian joins
    only where they are the intentional 1-row-aggregate broadcast
    pattern. A regression that flips a join strategy fails here, not in
    a slower bench three rounds later."""
    import sys as _sys
    from pathlib import Path

    _sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from bench import HEADLINE

    # Queries whose plan legitimately contains a broadcast NLJ: joining
    # a 1-row aggregate (corpus totals, query stats) to every row.
    allowed_nlj = {
        "q_similarity_topk",
        "q_tfidf_top_terms",
        "q_bm25_search",
        "q_unigram_lm_score",
        # 1-row corpus-total broadcasts (budget / shard-width scalars)
        "q_data_mixture",
        "q_token_shards",
        # 1-row stage-count crosses (cascade report) and the
        # broadcast-query coarse scan (brute-force int8 stage)
        "q_dedup_cascade",
        "q_quantized_topk",
        # round-5: 1-row total/vocab broadcasts (DSIR ratio table,
        # bigram-LM vocabulary), the tiny per-class model cross (NB),
        # and the broadcast-query PQ-ADC coarse scan
        "q_dsir_weights",
        "q_bigram_lm_score",
        "q_naive_bayes_langid",
        "q_similarity_pq_topk",
        # round-6: the broadcast-query brute-force cosine scan inside
        # the kNN vote (queries × corpus is the intentional pattern;
        # brute_force_topk broadcasts the bounded unlabeled batch) and
        # the 1-row corpus-totals broadcast in the c-TF-IDF score
        "q_knn_classify",
        "q_ctfidf_source_terms",
        # 1-row n_docs broadcast inside the tf-idf weight expression
        "q_tfidf_cosine_pairs",
        # round-6: 1-row model-token-total broadcast in the stupid-
        # backoff score (ntot, same pattern as q_bigram_lm_score)
        "q_bigram_backoff_score",
        # round-6 (cont.): 1-row max-timestamp broadcast that anchors
        # the recency decay (same scalar-aggregate cross pattern)
        "q_decayed_heavy_hitters",
        # round-7: the broadcast-anchors cosine scan (queries x corpus
        # is the intentional brute-force pattern, anchors bounded)
        "q_hard_negatives",
        # round-9: 1-row broadcast totals — the 2x-token budget scalar
        # in the epoch planner and the bigram-type count B in the
        # Kneser-Ney continuation probability (same ntot pattern as
        # q_bigram_backoff_score)
        "q_epoch_repetition_plan",
        "q_kn_lm_score",
        # round-9e: 1-row broadcasts — the collection-total scalar in
        # the Dirichlet-LM smoothing mass and the n_docs scalar in
        # the NPMI denominator (same ntot pattern)
        "q_ql_dirichlet",
        "q_topic_coherence",
        # round-10: 1-row broadcasts — Cook's fitted-model cross, the
        # TE hour-grid bounds cross, and the BM25-stack scalar inside
        # RBO (same ntot pattern as q_bm25_search)
        "q_cooks_distance",
        "q_transfer_entropy",
        "q_rbo_rankers",
        # round-11: the k_sources x 30 MFW grid cross (a 30-row
        # broadcast of the selected word list — bounded by
        # construction, the intentional stylometry scaffold)
        "q_burrows_delta",
        # round-11b: 1-row broadcasts — the exact-F0 scalar crossed
        # into both sketch reports (KMV / det-HLL rel_err columns)
        # and the global span-start scalar anchoring croston's day
        # index (same scalar-aggregate cross pattern)
        "q_kmv_distinct",
        "q_hll_det_twin",
        "q_croston_forecast",
    }
    offenders: dict[str, str] = {}
    for name in HEADLINE:
        plan = _physical_plan(REGISTRY[name].fn(spark, sf_dir))
        if "SortMergeJoin" in plan:
            offenders[name] = "SortMergeJoin"
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        if "BroadcastNestedLoopJoin" in plan and name not in allowed_nlj:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_no_global_windows_in_window_queries(spark, sf_dir):
    """Zero WindowExec nodes with an empty partition spec — the
    single-partition scale killer.  Intentionally single-partition
    windows over driver-bounded block tables must use
    winutil.tiny_table_partition, keeping the empty-spec path a
    tripwire for accidents (VERDICT r3 item #1)."""
    from hw_kafka_streams_spark.plans import global_window_count

    for name in [
        "q_window_rank",
        "q_window_share",
        "q_window_running",
        "q_window_distribution",
        "q_weighted_sample",
        "q_auc_rank",
        "q_sequence_pack",
        "q_mad_outliers",
    ]:
        df = REGISTRY[name].fn(spark, sf_dir)
        n = global_window_count(df, execute=True)
        assert n == 0, f"{name}: {n} global window(s) in executed plan"


def test_prefix_filter_shuffle_budget(spark, sf_dir):
    """Round-8/9 rewrite (VERDICT r7 item 3, r8 item 1): row-local
    shingle arrays + partial-agg doc frequencies keep
    q_prefix_filter_dups at <=6 distinct exchanges (was 14), and the
    plan must contain ZERO WindowExec nodes — the r8 shingle-keyed
    count window was a skew-unsafe full shuffle (no map-side combine,
    no AQE skew splitting) that this guard now forbids outright."""
    from hw_kafka_streams_spark.plans.inspect import (
        exchange_counts,
        window_exec_count,
    )

    df = REGISTRY["q_prefix_filter_dups"].fn(spark, sf_dir)
    df.collect()
    shuffles, _ = exchange_counts(df)
    assert shuffles <= 6, f"prefix-filter plan regressed: {shuffles} shuffles"
    nwin = window_exec_count(df, execute=False)
    assert nwin == 0, f"prefix-filter plan has {nwin} WindowExec node(s)"


def test_batch_planning_plan_guards(spark, sf_dir):
    """Round-9 planning queries must keep their scale-safe shapes:
    q_length_bucket_batches is a partial-agged groupBy on a derived
    key — <=2 exchanges (hash agg + output sort) and ZERO WindowExec
    (a global row_number batching plan is exactly what the bucketed
    design exists to avoid); q_epoch_repetition_plan folds a 1-row
    total via broadcast — no sort-merge join, no window."""
    from hw_kafka_streams_spark.plans.inspect import (
        exchange_counts,
        window_exec_count,
    )

    df = REGISTRY["q_length_bucket_batches"].fn(spark, sf_dir)
    df.collect()
    shuffles, _ = exchange_counts(df)
    assert shuffles <= 2, f"bucket-batch plan regressed: {shuffles} shuffles"
    assert window_exec_count(df, execute=False) == 0

    df2 = REGISTRY["q_epoch_repetition_plan"].fn(spark, sf_dir)
    df2.collect()
    shuffles2, _ = exchange_counts(df2)
    assert shuffles2 <= 4, f"epoch-plan regressed: {shuffles2} shuffles"
    assert window_exec_count(df2, execute=False) == 0
    plan = df2._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_luhn_detect_zero_shuffle_scan(spark, sf_dir):
    """q_luhn_cc_detect is one vectorized pass: no exchange other than
    the output ordering, zero Python stages (the checksum is HOF
    arithmetic, not a UDF)."""
    from hw_kafka_streams_spark.plans.inspect import exchange_counts

    df = REGISTRY["q_luhn_cc_detect"].fn(spark, sf_dir)
    df.collect()
    shuffles, _ = exchange_counts(df)
    assert shuffles <= 1, f"luhn plan regressed: {shuffles} shuffles"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "ArrowEval" not in plan
