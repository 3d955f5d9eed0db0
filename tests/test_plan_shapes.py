"""Physical-plan regression tests: the scale properties claimed in SCALE.md
must survive future edits. We assert on `.explain`-level plan text — filter
pushdown reaching the parquet scan, dimension broadcasts, no cartesian
products in the LSH path, partition pruning on partitioned reads, and top-k
compiling to TakeOrderedAndProject instead of a global sort."""

from __future__ import annotations

import pytest

from apache_hive_1_2_2_src_spark.plans import plan_text
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def plans(spark, registry):
    def build(name):
        return plan_text(registry[name].build(spark, SF_DIR))

    return build


def test_q1_filter_pushdown(plans):
    p = plans("q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_q1_column_pruning(plans):
    p = plans("q1_pricing_summary")
    # ReadSchema must not include unused lineitem columns.
    assert "l_partkey" not in p and "l_suppkey" not in p


def test_three_way_join_broadcasts_dims(plans):
    p = plans("join_three_way")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_minhash_lsh_no_cartesian(plans):
    p = plans("dedup_minhash_lsh")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_topk_uses_take_ordered(plans):
    p = plans("order_by_limit_topk")
    assert "TakeOrderedAndProject" in p


def test_cosine_topk_broadcasts_queries(plans):
    p = plans("similarity_cosine_topk")
    assert "BroadcastNestedLoopJoin" in p  # inequality join, build side = queries
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,5)]" in p


def test_partitioned_windows_have_partitioning(spark, registry):
    # The scale-safe window variants must not fall into a single partition.
    p = plan_text(registry["window_ntile_partitioned"].build(spark, SF_DIR))
    assert "o_orderstatus" in p and "Window" in p


def test_asof_join_single_shuffle_no_range_join(plans):
    # union+window form: one hash partitioning on user_id, never a range
    # cross-join (BroadcastNestedLoopJoin/CartesianProduct would be the
    # naive per-pair formulations).
    p = plans("join_asof")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Window" in p


def test_mapjoin_hint_broadcasts(plans):
    p = plans("mapjoin_hint_sql")
    assert "BroadcastHashJoin" in p


def test_bucketed_smb_join_no_exchange_on_bucket_keys(spark, registry):
    # With broadcast disabled the bucketed layout must carry the join alone:
    # SortMergeJoin whose inputs come straight from the bucketed scans — no
    # Exchange on the bucket keys (the only allowed exchange is the
    # post-join groupBy on c_nationkey).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_text(registry["bucketed_smb_join"].build(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    assert "SortMergeJoin" in p
    for line in p.splitlines():
        if "Exchange" in line:
            assert "custkey" not in line, f"bucket key reshuffled: {line.strip()}"


def test_partitioned_write_prune_hits_partition_filters(plans):
    # The status filter must prune DIRECTORIES (PartitionFilters on the
    # partitioned layout), not scan-and-filter every partition.
    p = plans("partitioned_write_prune")
    assert "PartitionFilters" in p
    assert "o_orderstatus" in p.split("PartitionFilters", 1)[1][:200]


def test_ann_lsh_multiprobe_no_cartesian(plans):
    # 16-bit multi-probe LSH: candidate pairing is an EQUI-join on the probe
    # key — a cartesian or nested-loop here means the bucketing broke.
    p = plans("similarity_ann_lsh_signbits")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_matchpath_windows_are_partitioned(plans):
    # The PTF emulation must stay per-user parallel: both window passes are
    # partitioned by user_id, never a single global Window.
    p = plans("ptf_matchpath_emulated")
    assert "Window" in p and "user_id" in p


def test_unigram_rarity_no_cartesian(plans):
    p = plans("text_unigram_rarity")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q21_subqueries_stay_equi_joins(plans):
    # EXISTS/NOT EXISTS compile to left_semi/left_anti keyed on l_orderkey
    # with a residual supplier inequality — never a cartesian/BNLJ.
    p = plans("workload_suppliers_kept_waiting")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_partsupp_workloads_no_cartesian(plans):
    # Derived-partsupp TPC-H shapes (round 6): the only nested-loop joins
    # allowed are the 1-row scalar broadcasts (supplier count / global
    # total); a CartesianProduct anywhere means the derivation or a join
    # key broke.
    for name in (
        "workload_min_cost_supplier",
        "workload_important_stock",
        "workload_parts_supplier_cnt",
        "workload_promotion_suppliers",
    ):
        p = plans(name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastHashJoin" in p, name


def test_min_cost_supplier_topk_and_window(plans):
    # Q2's correlated-MIN compiles to a per-partkey Window (partitioned,
    # never global) and the LIMIT to TakeOrderedAndProject.
    p = plans("workload_min_cost_supplier")
    assert "Window" in p and "ps_partkey" in p
    assert "TakeOrderedAndProject" in p


def test_multisym_matchpath_single_window_exchange(plans):
    # 'LOW HIGH+ LOW': row_number + running sum + lag + lead must all ride
    # ONE window spec, and the groupBy reuses its user_id partitioning —
    # exactly one Exchange in the whole plan.
    # formatted explain mentions each node twice (tree "Exchange (n)" +
    # detail "(n) Exchange"); count the tree form only.
    p = plans("ptf_matchpath_multisym")
    assert p.count("Exchange (") == 1, p.count("Exchange (")


def test_runtime_bloom_filter_semijoin_pushdown(spark):
    """Spark's runtime row-level filter (SPARK-32268): a selective dim-side
    predicate on a shuffle join materializes a bloom_filter_agg over the
    dim keys and injects might_contain() into the FACT scan's filter — the
    100 TB semi-join-reduction lever when the fact side is too big to
    benefit from broadcast alone. Thresholds are production-tuned (10 GB
    application side), so the test lowers them to demonstrate the same
    injection on test data."""
    from pyspark.sql import functions as F

    from apache_hive_1_2_2_src_spark.plans import plan_text
    from apache_hive_1_2_2_src_spark.tables import load_table

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        dim = (
            load_table(spark, SF_DIR, "orders")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        fact = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
        j = fact.join(dim, fact.l_orderkey == dim.o_orderkey).agg(
            F.count(F.lit(1)).alias("n")
        )
        p = plan_text(j)
        assert "might_contain" in p and "bloom_filter_agg" in p
        # The runtime filter must not change the answer.
        n_filtered = j.collect()[0].n
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    n_plain = (
        load_table(spark, SF_DIR, "lineitem")
        .join(
            load_table(spark, SF_DIR, "orders").where(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert n_filtered == n_plain


def test_aqe_skew_join_split(spark):
    """AQE skew-join splitting (SURVEY §2.3 'skew join [–] engine-internal'
    — Hive's GenMRSkewJoinProcessor conditional task, replaced wholesale by
    `spark.sql.adaptive.skewJoin`): a hot join key must show up in the
    FINAL adaptive plan as SortMergeJoin(skew=true) with an
    'AQEShuffleRead … skewed' child, and the answer must equal the
    unsplit join's. Two production-relevant subtleties this test pins:
    (1) thresholds are byte-based on MAP OUTPUT sizes, so tiny/compressible
    test partitions need lowered thresholds; (2) a skewed reduce partition
    can only be split at map-output granularity — a single data-bearing
    mapper (one parquet row-group) makes the hot partition UNSPLITTABLE,
    which is why the inputs are repartitioned first (on a cluster the scan
    has thousands of mappers and this never binds)."""
    from pyspark.sql import functions as F

    from apache_hive_1_2_2_src_spark.tables import load_table

    # sf0.01, not the default sf0.001: the skew detector compares COMPRESSED
    # map-output bytes, and the sf0.001 hot partition compresses under any
    # sane threshold.
    sf_dir = SF_DIR.replace("sf0.001", "sf0.01")
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")

        def skewed(df, key):
            # ~2/3 of all rows collapse onto join key 0 — the hot key.
            return df.withColumn(
                "k",
                F.when(F.col(key) % 3 != 0, F.lit(0)).otherwise(F.col(key)),
            )

        l = (
            skewed(load_table(spark, sf_dir, "lineitem"), "l_orderkey")
            .repartition(16)
            .select("k", "l_extendedprice")
        )
        o = (
            skewed(
                load_table(spark, sf_dir, "orders").where(
                    F.col("o_orderkey") % 50 == 0
                ),
                "o_orderkey",
            )
            .repartition(4)
            .select("k", "o_totalprice")
        )
        res = l.join(o, "k").groupBy().agg(F.count(F.lit(1)).alias("n"))
        n_skew_run = res.collect()[0].n
        ep = res._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in ep, ep
        assert "skewed" in ep  # AQEShuffleRead child marked skewed
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    # Same join under default confs (no split) — answers must agree.
    l2 = (
        load_table(spark, sf_dir, "lineitem")
        .withColumn(
            "k",
            F.when(F.col("l_orderkey") % 3 != 0, F.lit(0)).otherwise(
                F.col("l_orderkey")
            ),
        )
        .select("k")
    )
    o2 = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 50 == 0)
        .withColumn(
            "k",
            F.when(F.col("o_orderkey") % 3 != 0, F.lit(0)).otherwise(
                F.col("o_orderkey")
            ),
        )
        .select("k")
    )
    assert n_skew_run == l2.join(o2, "k").count()


def test_scd2_single_exchange(plans):
    # lag-flag, island running sum, per-island groupBy, and version lead()
    # must all ride ONE hash partitioning on o_custkey — exactly one
    # Exchange in the whole plan (tree form counted, as in the matchpath
    # test).
    p = plans("workload_scd2_dimension")
    assert p.count("Exchange (") == 1, p.count("Exchange (")


def test_cte_inlines_with_pushdown_and_broadcast(plans):
    # Catalyst must inline the chained CTEs: the c_acctbal filter reaches
    # the customer parquet scan and the filtered dim broadcasts into the
    # orders join — no materialization barrier, no cartesian.
    p = plans("cte_with_clause_sql")
    assert "PushedFilters" in p and "GreaterThan(c_acctbal,0.0)" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_substring_spans_no_cartesian(plans):
    # gram index joins are equi-joins end to end; the dup-gram side is
    # pre-aggregated so hot grams are AQE's problem, never a cartesian.
    p = plans("dedup_substring_spans")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_incremental_dedup_no_cartesian(plans):
    p = plans("dedup_incremental_batch")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_sessionize_single_exchange(plans):
    # lag, running session-sum, and the per-session groupBy must all reuse
    # the user_id hash partitioning (HashPartitioning(user_id) satisfies
    # the (user_id, session_id) clustering) — one Exchange total.
    p = plans("events_sessionize")
    assert p.count("Exchange (") == 1, p.count("Exchange (")


def test_bucket_pruning_on_read(spark):
    """Bucket pruning (SPARK-23803): an equality filter on the bucket
    column must prune the scan to 1 of 8 buckets — the read-side half of
    the bucketing contract (the join-side half is the no-Exchange SMB
    test above). At 100 TB this turns a point lookup over a bucketed fact
    table into a 1/8th scan before any row is read."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from apache_hive_1_2_2_src_spark.tables import load_table

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    tbl = f"bktprune_{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(os.path.join(warehouse, tbl), ignore_errors=True)
    saved_abs = spark.conf.get(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
    )
    try:
        (
            load_table(spark, SF_DIR, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .write.mode("overwrite")
            .bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .saveAsTable(tbl)
        )
        # autoBucketedScan (on by default) falls back to a plain scan when
        # no join/agg consumes the bucketing; disable it so the filter-only
        # read exercises the pruning path. Save/restore the prior value —
        # a hardcoded "true" restore would silently mutate a session
        # configured differently (ADVICE r6 item 4).
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        q = spark.table(tbl).where(F.col("o_custkey") == 42)
        p = q._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "SelectedBucketsCount: 1 out of 8" in p, p
        # pruning must not change the answer
        full = (
            load_table(spark, SF_DIR, "orders")
            .where(F.col("o_custkey") == 42)
            .count()
        )
        assert q.count() == full
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", saved_abs
        )
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(warehouse, tbl), ignore_errors=True)


def test_basket_pairs_plan(plans):
    # inverted-index self-join on the order key + TakeOrderedAndProject
    # top-k; a cartesian means the equi-key was lost.
    p = plans("workload_basket_pairs")
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


def test_dau_wau_no_cartesian(plans):
    p = plans("events_dau_wau")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_gap_fill_generates_calendar_without_collect(plans):
    # sequence()+explode calendar: the plan must contain Generate (explode)
    # and no LocalTableScan of driver-collected dates.
    p = plans("timeseries_gap_fill")
    assert "Generate" in p and "sequence" in p


def test_range_interval_join_is_equi_not_nested_loop(plans):
    # Day-bucketized interval join: the range predicate must ride an
    # equi-join on the day bucket as a residual — a BroadcastNestedLoopJoin
    # or CartesianProduct means the bucketization broke and the plan is
    # the O(|events| x |intervals|) naive form.
    p = plans("join_range_interval")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_span_trim_no_cartesian(plans):
    p = plans("dedup_span_trim")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_blocklist_bloom_prunes_before_verify(plans):
    # The exact-verify join must consume the bloom-filtered candidates:
    # the bloom forall() predicate appears as a Filter BELOW the semi-join
    # (map-side pruning), and no nested-loop join exists anywhere.
    p = plans("dedup_blocklist_bloom")
    assert "CartesianProduct" not in p
    assert "forall" in p or "array_contains" in p
    assert "LeftSemi" in p or "left_semi" in p.lower()


def test_levenshtein_blocked_is_equi_join(plans):
    # Fuzzy dedup must pair via the (tok0, tlen) equi block — an all-pairs
    # nested loop means the blocking broke.
    p = plans("dedup_levenshtein_blocked")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "levenshtein" in p


def test_dynamic_session_single_exchange(plans):
    # Native session_window: one user_id hash exchange feeding the merging
    # session aggregation — no extra shuffle, no global window.
    p = plans("events_session_dynamic_gap")
    assert "Window" not in p  # native operator, not the islands rewrite
    assert p.count("Exchange (") <= 2, p.count("Exchange (")


def test_ohlc_single_exchange(plans):
    # Both row_number passes and the final agg must ride ONE
    # (event_type, bar) hash exchange — a second exchange means the
    # open/close windows lost the shared partitioning.
    p = plans("timeseries_ohlc_bars")
    assert p.count("Exchange (") == 1, p.count("Exchange (")


def test_markov_transitions_two_exchanges(plans):
    # One user_id window exchange + one (from,to) agg exchange; the
    # basis-point window runs over the metadata-sized matrix (AQE may
    # fold it into the agg exchange).
    p = plans("events_markov_transitions")
    assert p.count("Exchange (") <= 3, p.count("Exchange (")
    assert "CartesianProduct" not in p


def test_time_range_frame_is_range_not_rows(plans):
    p = plans("window_time_range_frame")
    assert "RANGE BETWEEN" in p.upper() or "specifiedwindowframe(RangeFrame" in p


def test_dedup_embedding_near_no_cartesian(plans):
    # Round 8: the embedding near-dup SCALE path must stay an equi-join on
    # the probe key end-to-end — a cartesian/BNLJ means the LSH bucketing
    # broke (the whole point vs similarity_cosine_threshold). The 1-row
    # report aggregates may broadcast-nested-loop only over single-row
    # sides, so assert no CartesianProduct and that any BNLJ input comes
    # from an aggregate, not a scan.
    p = plans("dedup_embedding_near")
    assert "CartesianProduct" not in p


def test_layout_zorder_broadcasts_bounds(plans):
    # The min-max scaling bounds are a 1-row aggregate: must broadcast, and
    # the morton math must not force any extra shuffle beyond the final
    # groupBy (one Exchange hashpartitioning on zbucket).
    p = plans("layout_zorder_clustering")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # exactly one hash-partitioned Exchange (the zbucket groupBy); the only
    # other Exchange is the SinglePartition fold of the 1-row bounds agg.
    assert p.count("hashpartitioning") == 1


def test_epoch_shuffle_no_per_epoch_global_window(spark, registry):
    """r14 scale fix (VERDICT r13 item 1a): the epoch shuffle's
    order-and-split must NOT funnel each epoch through one task. Every
    Window in the executed plan must partition by (epoch, bkt) — the
    md5-prefix range bucket — never by epoch alone; the NTILE shard is
    arithmetic over bucket offsets, so no global sort exists either."""
    from apache_hive_1_2_2_src_spark.plans.audit import (
        assert_no_single_key_window,
        window_partition_specs,
    )

    df = registry["pipeline_epoch_shuffle"].build(spark, SF_DIR)
    assert_no_single_key_window(df)
    specs = window_partition_specs(df)
    assert specs and all(s == ["epoch", "bkt"] for s in specs), specs


def test_bpe_pack_chain_window_is_shard_keyed(spark, registry):
    """r14 scale fix (VERDICT r13 item 1c): the packing cumulative-sum
    window must partition by (lang, shard_id), never lang alone — and
    the registered plan must be rooted at the checkpointed BPE state
    (no k-step training chain in the query plan)."""
    from apache_hive_1_2_2_src_spark.plans.audit import (
        assert_no_single_key_window,
        window_partition_specs,
    )

    df = registry["text_bpe_pack_chain"].build(spark, SF_DIR)
    assert_no_single_key_window(df)
    specs = window_partition_specs(df)
    assert specs and all(s == ["lang", "shard_id"] for s in specs), specs


def test_perplexity_tercile_no_per_lang_window(spark, registry):
    """r14 scale fix (VERDICT r13 item 1b): the CCNet tercile split must
    never partition a window by lang alone (half a web corpus is one
    language). Every Window must partition by (lang, qs) — the
    score-histogram bucket whose offsets are the precomputed cutoffs."""
    from apache_hive_1_2_2_src_spark.plans.audit import (
        assert_no_single_key_window,
        window_partition_specs,
    )

    df = registry["text_perplexity_buckets"].build(spark, SF_DIR)
    assert_no_single_key_window(df)
    specs = window_partition_specs(df)
    assert specs and all(s == ["lang", "qs"] for s in specs), specs


def test_curriculum_order_windows_all_bucketed(spark, registry):
    """The curriculum composition runs BOTH of its splits through
    ntile_over_buckets: every Window partitions by (lang, qs) for the
    band split or (lang, band, bkt) for the shard split — never by lang
    or (lang, band) alone."""
    from apache_hive_1_2_2_src_spark.plans.audit import (
        assert_no_single_key_window,
        window_partition_specs,
    )

    df = registry["pipeline_curriculum_order"].build(spark, SF_DIR)
    assert_no_single_key_window(df)
    specs = window_partition_specs(df)
    assert specs and all(
        s in (["lang", "qs"], ["lang", "band", "bkt"]) for s in specs
    ), specs


def test_two_level_ivf_no_cartesian(spark, registry):
    """The two-level index's five training chains + leaf/probe joins must
    never degrade to an all-pairs stage: the only nested-loop joins
    allowed are against the <=20-row broadcast centroid frames (same
    audit contract as the residual IVF+PQ plan in SCALE.md r13)."""
    df = registry["similarity_ivf_two_level"].build(spark, SF_DIR)
    p = plan_text(df)
    assert "CartesianProduct" not in p


def test_window_spec_parser_handles_parenthesized_exprs(spark):
    """window_partition_specs must survive partition expressions that
    themselves contain parentheses — CAST/arithmetic surviving into the
    physical plan truncated the old first-')' regex (ADVICE r14)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from apache_hive_1_2_2_src_spark.plans.audit import (
        assert_no_single_key_window,
        window_partition_specs,
    )

    df = spark.range(100).select(
        (F.col("id") % 7).alias("a"),
        (F.col("id") % 3).alias("b"),
        F.col("id").alias("c"),
    )
    two = df.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(
                (F.col("a") % 2).cast("int"), F.col("b")
            ).orderBy("c")
        ),
    )
    specs = window_partition_specs(two)
    assert specs and all(len(s) == 2 for s in specs), specs
    assert_no_single_key_window(two)  # 2-col spec passes

    one = df.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy((F.col("a") % 2).cast("int")).orderBy("c")
        ),
    )
    # a single parenthesized partition expr must still be CAUGHT
    specs1 = window_partition_specs(one)
    assert specs1 and all(len(s) == 1 for s in specs1), specs1
    with pytest.raises(AssertionError):
        assert_no_single_key_window(one)


def test_containment_queries_no_cartesian_no_bnlj(spark, registry):
    """The one-sided containment plans (video shingles, audio landmarks,
    image crop blocks)
    must stay pure equi-join pipelines: candidate generation is an
    inverted-index self-join on shingle/landmark, never all-pairs, and
    the only window is the (ka, kb) pair-partitioned modal-offset rank
    (SCALE.md r15 containment audit: 0 cartesians, 0 BNLJ)."""
    for name in ("dedup_video_contained", "dedup_audio_contained",
                 "dedup_image_cropped", "dedup_video_temporal"):
        p = plan_text(registry[name].build(spark, SF_DIR))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_collapse_prior_counts_plan_shape(plans):
    """The r18 exact-collapse query: no cartesian/nested-loop anywhere
    (the candidate stage is an equi-join on the prefix shingle with the
    positional bound as an extra condition), and the only windows are
    the per-gkey rank/prefix/cumulative passes — never unpartitioned."""
    p = plans("dedup_collapse_prior_counts")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "windowspecdefinition(gkey" in p
    # the positional overlap bound must ride the join itself, not a
    # post-join filter stage (the point is pruning BEFORE materialization)
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_collapsed_streaming_stores_keep_prune_gate(spark):
    """After a collapsed-probe drain, a bucket-restricted read of each
    group-keyed store must open only its own partition dirs (the same
    execution-ground-truth gate the doc-level stores carry)."""
    import pyspark.sql.functions as F

    from apache_hive_1_2_2_src_spark.streaming import windows as sw

    sw._collapsed_probe_dedup(spark, SF_DIR, n_batches=3).count()
    for store, pcol in (
        (sw.LAST_COLLAPSED_STORES["sig"], "sb"),
        (sw.LAST_COLLAPSED_STORES["shingle"], "gb"),
        (sw.LAST_COLLAPSED_STORES["ledger"], "lb"),
    ):
        probe = spark.read.parquet(store).where(F.col(pcol).isin([0, 3]))
        opened = {
            r["f"].split(f"{pcol}=")[1].split("/")[0]
            for r in probe.select(
                F.input_file_name().alias("f")
            ).distinct().collect()
        }
        assert opened <= {"0", "3"}, (store, opened)
