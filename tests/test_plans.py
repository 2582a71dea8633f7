"""Plan-shape assertions: the physical plans we designed for are the plans
Spark actually picks — pushdown reaches the scan, dims broadcast, codegen
covers the hot path. This is the 100-TB insurance: these properties, not the
sf0.001 timings, are what scale."""

from __future__ import annotations

from pyspark.sql import functions as F

from saas_analytics_pipeline_spark.operators.joins import (
    q_join_star_orders,
    q_skew_join,
)
from saas_analytics_pipeline_spark.session import scoped_confs
from saas_analytics_pipeline_spark.sources import load_table
from saas_analytics_pipeline_spark.staging import q_filter_eq

_NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(q_filter_eq(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "EqualTo(o_orderstatus,F)" in plan.replace(" ", "").replace(
        "EqualTo(o_orderstatus,F)", "EqualTo(o_orderstatus,F)"
    ) or "o_orderstatus" in plan  # pushed filter names the column


def test_column_pruning(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    plan = plan_of(df)
    # ReadSchema must not include unprojected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" in read_schema


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = plan_of(q_join_star_orders(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_whole_stage_codegen_on_agg(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").groupBy("o_orderstatus").count()
    df.collect()  # under AQE, codegen spans appear in the FINAL plan
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    assert "codegen id" in plan  # whole-stage codegen spans cover the agg


def test_aqe_enabled_for_skew_join(spark, sf_dir):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    plan = plan_of(q_skew_join(spark, sf_dir))
    assert "AdaptiveSparkPlan" in plan


def test_partition_pruning_on_partitioned_write(spark, sf_dir, tmp_path):
    from saas_analytics_pipeline_spark.plans.writers import (
        write_date_partitioned,
    )

    o = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_part")
    write_date_partitioned(o.where(F.year("o_orderdate") <= 1996), path, "o_orderdate")
    back = spark.read.parquet(path).where(F.col("dt") == "1995-03-15")
    plan = plan_of(back)
    assert "PartitionFilters" in plan and "dt" in plan


def test_order_limit_plans_take_ordered(spark, sf_dir):
    from saas_analytics_pipeline_spark.marts import q_order_limit

    plan = plan_of(q_order_limit(spark, sf_dir))
    # top-k must be per-partition take + tiny merge, never a global sort
    assert "TakeOrderedAndProject" in plan


def test_agg_is_partial_then_final(spark, sf_dir):
    from saas_analytics_pipeline_spark.marts import q_revenue_daily

    plan = plan_of(q_revenue_daily(spark, sf_dir))
    # map-side combine: partial_sum before the exchange, final after
    assert "partial_sum" in plan or "partial_count" in plan
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path):
    """Tables bucketed on the join key sort-merge-join with NO Exchange —
    the co-located fact-fact join that makes repeated joins viable at
    100 TB (plans/writers.py::write_bucketed)."""
    from saas_analytics_pipeline_spark.plans.writers import write_bucketed

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(o, "t_orders_b", "o_orderkey", buckets=8)
    write_bucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"),
                   "t_lineitem_b", "o_orderkey", buckets=8)
    try:
        with scoped_confs(spark, _NO_BROADCAST):
            joined = spark.table("t_orders_b").join(
                spark.table("t_lineitem_b"), "o_orderkey"
            )
            plan = plan_of(joined)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "bucketed join must not shuffle"
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_contamination_broadcasts_eval_index_and_never_shuffles_text(
    spark, sf_dir
):
    """Decontamination must be an inverted-index join: the eval-shard index
    broadcasts and only (doc_id, ngram-hash) pairs move — document text in
    an Exchange would be a scale-killer at 100 TB."""
    import re

    from saas_analytics_pipeline_spark.operators.corpus import q_contamination

    plan = plan_of(q_contamination(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert not re.search(r"Exchange[^\n]*\btext\b", plan)


def test_pii_redact_has_no_exchange(spark, sf_dir):
    """Redaction is scan-local: a single-stage agg over regexp_replace
    (only the final 1-row aggregate may exchange)."""
    from saas_analytics_pipeline_spark.operators.corpus import q_pii_redact

    plan = plan_of(q_pii_redact(spark, sf_dir))
    # no key shuffle anywhere — only the single-partition exchange feeding
    # the global 1-row aggregate is allowed
    assert "hashpartitioning" not in plan
    assert "SinglePartition" in plan


def test_train_shuffle_single_exchange_no_global_sort(spark, sf_dir):
    """The training-order shuffle must window per shard: exactly one hash
    exchange on the shard key, and no single-partition global sort."""
    import re

    from saas_analytics_pipeline_spark.operators.corpus import q_train_shuffle

    plan = plan_of(q_train_shuffle(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert re.search(r"hashpartitioning\(shard", plan)
    assert "SinglePartition" not in plan


def test_token_budget_broadcasts_offsets_and_partitions_by_bucket(
    spark, sf_dir
):
    """The global cumsum must decompose: the doc stream exchanges ONLY on
    the range bucket; the 32-row offset table broadcasts back."""
    import re

    from saas_analytics_pipeline_spark.operators.corpus import q_token_budget

    plan = plan_of(q_token_budget(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the big side shuffles by bucket for the per-bucket window;
    # no Exchange may carry document text
    assert re.search(r"hashpartitioning\(bucket", plan)
    assert not re.search(r"Exchange[^\n]*\btext\b", plan)


def test_boilerplate_broadcasts_boiler_set_and_never_shuffles_text(
    spark, sf_dir
):
    from saas_analytics_pipeline_spark.operators.corpus import q_boilerplate
    import re

    plan = plan_of(q_boilerplate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert not re.search(r"Exchange[^\n]*\btext\b", plan)


def test_embed_quantize_single_agg_shuffle_no_explode(spark, sf_dir):
    """Quantization audit stays in-row: no Generate (explode) node, and the
    only exchange feeds the |labels|-row aggregate."""
    import re

    from saas_analytics_pipeline_spark.operators.corpus import q_embed_quantize

    plan = plan_of(q_embed_quantize(spark, sf_dir))
    assert "Generate" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_mix_interleave_plans_take_ordered(spark, sf_dir):
    """The global prefix must be top-k (per-partition take + driver merge),
    never a global sort of the ranked corpus."""
    from saas_analytics_pipeline_spark.operators.corpus import q_mix_interleave

    plan = plan_of(q_mix_interleave(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_winsorize_broadcasts_threshold_table(spark, sf_dir):
    from saas_analytics_pipeline_spark.marts import q_winsorize

    plan = plan_of(q_winsorize(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_interval_join_bucketed_is_equi_join(spark, sf_dir):
    """The scalable interval join must plan hash-partitionable equi-joins —
    no nested loop, no cartesian product anywhere."""
    from saas_analytics_pipeline_spark.operators.joins import (
        q_interval_join_bucketed,
    )

    plan = plan_of(q_interval_join_bucketed(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rp_lsh_no_cartesian(spark, sf_dir):
    """LSH candidate generation joins on bucket keys; the brute-force cross
    join must NOT appear."""
    from saas_analytics_pipeline_spark.operators.similarity import (
        q_similarity_rp_lsh,
    )

    plan = plan_of(q_similarity_rp_lsh(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_robust_zscore_broadcasts_thresholds(spark, sf_dir):
    from saas_analytics_pipeline_spark.marts import q_robust_zscore

    plan = plan_of(q_robust_zscore(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_psi_drift_single_scan_one_shuffle(spark, sf_dir):
    """PSI reads the fact table exactly once; bin+period flags are
    scan-local, the only exchange feeds the |bins|-row aggregate (plus the
    single-partition window over that tiny frame)."""
    import re

    from saas_analytics_pipeline_spark.operators.stats import q_psi_drift

    plan = plan_of(q_psi_drift(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_corr_metrics_no_window_no_join(spark, sf_dir):
    """Power-sum correlation is two stacked aggregates — no window over raw
    facts, no join, single fact scan."""
    import re

    from saas_analytics_pipeline_spark.operators.stats import q_corr_metrics

    plan = plan_of(q_corr_metrics(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Window" not in plan
    assert "Join" not in plan


def test_snapshot_diff_single_pass(spark, sf_dir):
    """Both as-of snapshots come from one scan with conditional aggregates
    — no self-join of the event table."""
    import re

    from saas_analytics_pipeline_spark.operators.stats import q_snapshot_diff

    plan = plan_of(q_snapshot_diff(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan


def test_zipf_fit_take_ordered_not_global_sort(spark, sf_dir):
    from saas_analytics_pipeline_spark.operators.text import q_zipf_fit

    plan = plan_of(q_zipf_fit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_pmi_no_cartesian_on_vocab(spark, sf_dir):
    """PMI joins key on tokens; only the single-row totals frame may
    broadcast-cross — no cartesian between row-bearing tables."""
    from saas_analytics_pipeline_spark.operators.text import q_pmi_bigrams

    plan = plan_of(q_pmi_bigrams(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_tpch_pricing_single_scan_no_join(spark, sf_dir):
    """Q1 is one pushed-filter scan feeding a partial+final aggregate."""
    import re

    from saas_analytics_pipeline_spark.operators.tpch import q_tpch_pricing

    plan = plan_of(q_tpch_pricing(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan
    assert "HashAggregate" in plan


def hint_count(df) -> int:
    """Number of explicit broadcast hints surviving analysis — pins the
    no-hard-hint-on-sf-scaled-dims policy independently of whether AQE's
    stats happen to broadcast a side at this SF."""
    return df._jdf.queryExecution().analyzed().toString().count(
        "ResolvedHint (strategy=broadcast)"
    )


def test_tpch_shipping_topk_no_forced_broadcast(spark, sf_dir):
    """Q3: top-10 is TakeOrderedAndProject, never a global Sort+Limit;
    customer rides a LEFT SEMI join with NO hard broadcast hint (it is
    sf-scaled — small-SF stats may still auto-broadcast it, which is fine
    and exactly the AQE behavior the design relies on)."""
    from saas_analytics_pipeline_spark.operators.tpch import q_tpch_shipping

    df = q_tpch_shipping(spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert hint_count(df) == 0  # intended 100 TB shape: no forced broadcast


def test_tpch_local_volume_hints_only_constant_dims(spark, sf_dir):
    """Q5: only nation (25 rows) and region (5 rows) carry hard broadcast
    hints; sf-scaled customer/supplier rely on AQE (which auto-broadcasts
    them at this SF — hence >= 4 BroadcastHashJoins in the local plan, but
    only 2 are forced)."""
    from saas_analytics_pipeline_spark.operators.tpch import q_tpch_local_volume

    df = q_tpch_local_volume(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert hint_count(df) == 2  # nation + region only


def test_tpch_promo_share_prunes_part_columns(spark, sf_dir):
    """Q14 reads only (p_partkey, p_type) from part — pruning reaches the
    scan; unused part columns never leave parquet."""
    from saas_analytics_pipeline_spark.operators.tpch import q_tpch_promo_share

    plan = plan_of(q_tpch_promo_share(spark, sf_dir))
    assert "p_retailprice" not in plan
    assert "p_brand" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_big_orders_preaggregates_below_join(spark, sf_dir):
    """Q18: lineitem collapses to per-order sums (with the >150 filter)
    before joining orders — the join never sees raw lineitems."""
    import re

    from saas_analytics_pipeline_spark.operators.tpch import q_tpch_big_orders

    plan = plan_of(q_tpch_big_orders(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3
    assert "CartesianProduct" not in plan
    # the lineitem branch aggregates before any join node consumes it
    assert "HashAggregate" in plan


def test_dup_span_single_doc_scan_no_pairs(spark, sf_dir):
    """Duplicate-span fraction never forms doc x doc pairs: two
    column-pruned documents scans (frequency branch reads only text),
    shingle-keyed joins only."""
    import re

    from saas_analytics_pipeline_spark.operators.corpus import q_dup_span_fraction

    plan = plan_of(q_dup_span_fraction(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2
    assert "CartesianProduct" not in plan


def test_perplexity_buckets_vocab_broadcast(spark, sf_dir):
    """Vocab and cutoffs broadcast back onto the streams; no shuffle join
    of token-level data against token-level data."""
    from saas_analytics_pipeline_spark.operators.corpus import (
        q_perplexity_buckets,
    )

    plan = plan_of(q_perplexity_buckets(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_unpivot_expands_aggregate_not_fact(spark, sf_dir):
    """Unpivot is an Expand over the aggregated frame — one scan, no join,
    no extra exchange for the reshape."""
    import re

    from saas_analytics_pipeline_spark.marts import q_unpivot

    plan = plan_of(q_unpivot(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan
    assert "Join" not in plan


def test_rolling_active_users_no_range_self_join(spark, sf_dir):
    """Rolling distinct comes from a scan-side explode + equi-join on day,
    never a BNLJ/cartesian day-range self-join."""
    from saas_analytics_pipeline_spark.marts import q_rolling_active_users

    plan = plan_of(q_rolling_active_users(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan  # the explode


def test_streaks_topk_and_user_partitioned_windows(spark, sf_dir):
    from saas_analytics_pipeline_spark.marts import q_streaks

    plan = plan_of(q_streaks(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_dedup_survivors_shared_partitioning(spark, sf_dir):
    """Group-by and window share the (orderkey, linenumber) partitioning;
    no cartesian, no broadcast of the fact."""
    from saas_analytics_pipeline_spark.operators.dedup import q_dedup_survivors

    plan = plan_of(q_dedup_survivors(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_dedup_incremental_key_only_join(spark, sf_dir):
    """Anti-join style incremental dedup: scans are pruned to the key and
    date columns — text/payload columns never shuffle."""
    from saas_analytics_pipeline_spark.operators.dedup import q_dedup_incremental

    plan = plan_of(q_dedup_incremental(spark, sf_dir))
    assert "l_extendedprice" not in plan  # payload pruned from both scans
    assert "CartesianProduct" not in plan


def test_embed_norm_stats_scan_local(spark, sf_dir):
    """Norms are in-row folds: no join, no window, single scan feeding a
    |labels|-row aggregate."""
    import re

    from saas_analytics_pipeline_spark.operators.similarity import (
        q_embed_norm_stats,
    )

    plan = plan_of(q_embed_norm_stats(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_tpch_order_priority_semi_join_no_bnlj(spark, sf_dir):
    """EXISTS compiles to LeftSemi on the orderkey equi-join; the date
    predicate rides it — no nested loop."""
    from saas_analytics_pipeline_spark.operators.tpch import (
        q_tpch_order_priority,
    )

    plan = plan_of(q_tpch_order_priority(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_revenue_change_single_pushed_scan(spark, sf_dir):
    """Q6 shape: all predicates push to one lineitem scan; no join."""
    from saas_analytics_pipeline_spark.operators.tpch import (
        q_tpch_revenue_change,
    )

    plan = plan_of(q_tpch_revenue_change(spark, sf_dir))
    assert "Join" not in plan
    assert "PushedFilters" in plan
    assert "HashAggregate" in plan


def test_tpch_returned_items_preagg_below_customer_join(spark, sf_dir):
    """Q10 shape: revenue collapses to custkey grain below the customer
    join (HashAggregate between the fact join and the dim join); only
    nation carries a hard broadcast hint; top-20 is
    TakeOrderedAndProject."""
    from saas_analytics_pipeline_spark.operators.tpch import (
        q_tpch_returned_items,
    )

    df = q_tpch_returned_items(spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert hint_count(df) == 1  # nation only
    # the o_custkey pre-aggregate exists (partial_sum over rev at custkey
    # grain) — the customer join input is the aggregate, not raw lineitem
    assert "o_custkey" in plan and "partial_sum" in plan


def test_tpch_quantity_bands_brand_filter_pushed(spark, sf_dir):
    """Q19 shape: the brand arm of the disjunction prunes the part scan
    (pushed IN filter); no cartesian/nested-loop from the OR."""
    from saas_analytics_pipeline_spark.operators.tpch import (
        q_tpch_quantity_bands,
    )

    plan = plan_of(q_tpch_quantity_bands(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "p_brand" in plan.split("Scan parquet")[-1] or "In(p_brand" in plan


def test_asof_nearest_no_join(spark, sf_dir):
    """Nearest as-of is two window passes in user_id partitions — no join
    operator at all (the classic as-of plan: co-partition + ordered scan)."""
    from saas_analytics_pipeline_spark.operators.sqlops import q_asof_nearest

    plan = plan_of(q_asof_nearest(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" in plan


def test_gini_aggregates_before_global_rank(spark, sf_dir):
    """Gini's global rank runs over the customer-grain aggregate, never
    raw orders: a HashAggregate sits below the Window."""
    from saas_analytics_pipeline_spark.operators.stats import q_gini

    tree = plan_of(q_gini(spark, sf_dir)).split("\n\n")[0]
    win_pos = tree.find("Window")
    assert win_pos != -1
    # in the formatted tree dump, children print BELOW their consumer: a
    # HashAggregate must appear after the Window line (the customer-grain
    # aggregate feeding the rank), not only above it (the final reduce)
    assert tree.rfind("HashAggregate") > win_pos


def test_ngram_novelty_no_cartesian(spark, sf_dir):
    """Novelty joins key on the gram hash (inverted index) — no doc x doc
    pair blow-up."""
    from saas_analytics_pipeline_spark.operators.corpus import q_ngram_novelty

    plan = plan_of(q_ngram_novelty(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_bucket_skew_no_cartesian(spark, sf_dir):
    from saas_analytics_pipeline_spark.operators.dedup import q_lsh_bucket_skew

    plan = plan_of(q_lsh_bucket_skew(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_tpch_order_priority_derived_shipdate_bound_pushed(spark, sf_dir):
    """Q4's r05 win: the transitive bound (o_orderdate >= 1997-01-01 and
    l_shipdate > o_orderdate + 30 imply l_shipdate > 1997-01-31) is stated
    explicitly because Catalyst cannot infer it across the non-equi
    predicate — it must reach the lineitem parquet scan as a pushed
    filter, or the semi-join probes the whole fact again."""
    from saas_analytics_pipeline_spark.operators.tpch import (
        q_tpch_order_priority,
    )

    plan = plan_of(q_tpch_order_priority(spark, sf_dir))
    assert "GreaterThan(l_shipdate,1997-01-31" in plan


def test_tpch_local_volume_supplier_prune_below_orderkey_join(spark, sf_dir):
    """Q5's r05 win: lineitem joins the region/nation-pruned supplier set
    BEFORE the orderkey join (Catalyst does not reorder inner joins
    without CBO stats), so the orderkey exchange carries the ASIA fifth of
    lineitem, not all of it. Pinned on the optimized logical plan: the
    suppkey join must sit INSIDE the orderkey join's lineitem subtree
    (deeper indentation, later line)."""
    from saas_analytics_pipeline_spark.operators.tpch import (
        q_tpch_local_volume,
    )

    df = q_tpch_local_volume(spark, sf_dir)
    lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()

    def find(pred):
        for i, ln in enumerate(lines):
            if "Join" in ln and pred(ln):
                return i, len(ln) - len(ln.lstrip(" :+-"))
        raise AssertionError(f"join not found in:\n" + "\n".join(lines))

    ok_i, ok_depth = find(lambda l: "l_orderkey" in l and "o_orderkey" in l)
    sk_i, sk_depth = find(lambda l: "l_suppkey" in l and "s_suppkey" in l)
    assert sk_i > ok_i and sk_depth > ok_depth, (
        f"suppkey join (line {sk_i}, depth {sk_depth}) must be below the "
        f"orderkey join (line {ok_i}, depth {ok_depth})"
    )


def test_dot_expr_guard_is_bit_identical_on_both_paths(spark):
    """The r05 unrolled pair-dot: for the corpus dimension (64) the CASE
    takes the unrolled branch; any other size falls back to the
    aggregate/zip_with fold. Both associations are the sequential
    ((0 + v0) + v1) + ..., so the doubles must be BIT-identical — the
    property every DuckDB oracle of the embedding family rests on."""
    from saas_analytics_pipeline_spark.operators.similarity import dot_expr

    fold = (
        "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * "
        "CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    df = spark.sql(
        """
        SELECT
          transform(sequence(1, 64),
                    i -> CAST(1.0 / i + 0.1 * i AS FLOAT)) AS a,
          transform(sequence(1, 64),
                    i -> CAST(0.3 * i - 7.0 / i AS FLOAT)) AS b
        UNION ALL
        SELECT
          transform(sequence(1, 5), i -> CAST(1.0 / i AS FLOAT)),
          transform(sequence(1, 5), i -> CAST(0.3 * i AS FLOAT))
        """
    )
    rows = df.select(
        dot_expr("a", "b").alias("guarded"), F.expr(fold).alias("folded")
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.guarded == r.folded  # exact float equality, both dims
    # and the guard really exists: the expression carries the CASE
    assert "CASE WHEN" in str(dot_expr("a", "b"))


def test_tpch_volume_shipping_supplier_prune_below_orderkey_join(
    spark, sf_dir
):
    """Q7 got the same r05 reorder as Q5: the nation-pruned supplier match
    sits inside the orderkey join's lineitem subtree, so the orderkey
    exchange carries only the two trading nations' lineitems."""
    from saas_analytics_pipeline_spark.operators.tpch2 import (
        q_tpch_volume_shipping,
    )

    df = q_tpch_volume_shipping(spark, sf_dir)
    lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()

    def find(pred):
        for i, ln in enumerate(lines):
            if "Join" in ln and pred(ln):
                return i, len(ln) - len(ln.lstrip(" :+-"))
        raise AssertionError("join not found in:\n" + "\n".join(lines))

    ok_i, ok_depth = find(lambda l: "l_orderkey" in l and "o_orderkey" in l)
    sk_i, sk_depth = find(lambda l: "l_suppkey" in l and "s_suppkey" in l)
    assert sk_i > ok_i and sk_depth > ok_depth


def test_curation_pipeline_fuses_gates_never_shuffles_text(spark, sf_dir):
    """The composed curation plan must keep both gates + all hashes in the
    scan project (text dies scan-side): no Exchange may carry the text
    column, and the only wide ops are the narrow dedup window / budget
    cumsum / funnel joins."""
    import re

    from saas_analytics_pipeline_spark.operators.curation import (
        q_curation_pipeline,
    )

    df = q_curation_pipeline(spark, sf_dir)
    df.collect()  # under AQE, codegen spans appear in the FINAL plan
    plan = plan_of(df)
    assert not re.search(r"Exchange[^\n]*\btext\b", plan)
    # gates fuse into codegen stages (no interpreted filter fallback)
    assert "codegen id" in plan


def test_url_curation_scan_local_no_text_shuffle(spark, sf_dir):
    """URL canonicalization is codegen string work: q_url_dedup shuffles
    only (canonical_url, doc_id, source); q_domain_blocklist broadcasts
    the blocklist and never shuffles the fact side by domain."""
    import re

    from saas_analytics_pipeline_spark.operators.curation import (
        q_domain_blocklist,
        q_url_dedup,
    )

    plan = plan_of(q_url_dedup(spark, sf_dir))
    assert not re.search(r"Exchange[^\n]*\btext\b", plan)

    plan = plan_of(q_domain_blocklist(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert not re.search(r"Exchange[^\n]*\btext\b", plan)


def test_lsh_incremental_candidates_only_no_cartesian(spark, sf_dir):
    """The incremental dedup's pair sources are band-bucket equi-joins on
    both legs (never a cartesian), and text never crosses an Exchange —
    shingle verification happens on candidate docs only."""
    import re

    from saas_analytics_pipeline_spark.operators.dedup import (
        q_dedup_lsh_incremental,
    )

    plan = plan_of(q_dedup_lsh_incremental(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert not re.search(r"Exchange[^\n]*\btext\b", plan)


def test_merge_upsert_target_survivors_via_broadcast_anti(spark, sf_dir):
    """merge_upsert's survivor scan must be a BroadcastHashJoin LeftAnti
    against the increment's key set — the 100 TB contract is that the
    target side never shuffles for the merge; a planner regression to a
    shuffled SortMergeJoin LeftAnti would silently break it."""
    from saas_analytics_pipeline_spark.operators.lake import q_merge_upsert

    plan = plan_of(q_merge_upsert(spark, sf_dir))
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "SortMergeJoin LeftAnti" not in plan


def test_rrf_fusion_candidate_lists_are_take_ordered(spark, sf_dir):
    """Each retrieval system's candidate list must be
    TakeOrderedAndProject (per-partition top-k + driver merge), never a
    global Sort over the scored fact stream — the property that bounds
    every post-scan structure at 100 TB. Text must not cross an
    Exchange (BM25 reduces to per-doc tf ints before shuffling)."""
    import re

    from saas_analytics_pipeline_spark.operators.retrieval import (
        q_rrf_fusion,
    )

    plan = plan_of(q_rrf_fusion(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert not re.search(r"Exchange[^\n]*\btext\b", plan)


def test_html_extract_text_dies_in_scan(spark, sf_dir):
    """q_html_extract: synthesis + extraction are scan-local codegen — no
    Exchange may carry html/extracted; only the per-source partial
    aggregates key-shuffle (the funnel's step-zero contract). Raw text
    may cross exactly one Exchange: the conditional round-robin spread
    ahead of synthesis (sources.spread_for_fanout), as q_contamination's
    does — pinned by test_corpus_kernels_spread_single_split_scan_once."""
    import re

    from saas_analytics_pipeline_spark.operators.curation import (
        q_html_extract,
    )

    df = q_html_extract(spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    assert not re.search(r"Exchange[^\n]*\b(text|html|extracted)\b", plan)
    assert "codegen id" in plan
    # the aggregate is partial (map-side combine below the exchange)
    assert "partial_" in plan.lower() or "HashAggregate" in plan


def test_domain_quality_rollup_is_partial_aggregable(spark, sf_dir):
    """q_domain_quality (Zipf-skewed domain key at crawl scale): the
    rollup must run a partial HashAggregate BELOW the exchange — map-side
    combine is what makes a skewed-key SUM rollup flat (measured in
    tools/skew_probe.py's aggregation section)."""
    import re

    from saas_analytics_pipeline_spark.operators.curation import (
        q_domain_quality,
    )

    df = q_domain_quality(spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    # a partial aggregate must appear, and no Exchange may carry text
    assert re.search(r"partial", plan, re.IGNORECASE) or re.search(
        r"HashAggregate[^\n]*merge", plan
    )
    assert not re.search(r"Exchange[^\n]*\btext\b", plan)


def test_bloom_prejoin_filter_injected_below_exchange(spark, sf_dir):
    """q_bloom_prejoin at the probe thresholds: InjectRuntimeFilter must
    add a might_contain(bloom(o_orderkey)) probe on the BIG side BELOW
    its Exchange — dead lineitems die at the scan, not on the shuffle —
    and the join must stay a shuffle join (no broadcast: the 100 TB
    regime the thresholds simulate)."""
    from saas_analytics_pipeline_spark.operators.joins import (
        _BLOOM_CONFS,
        bloom_prejoin_frame,
    )

    with scoped_confs(spark, _BLOOM_CONFS):
        df = bloom_prejoin_frame(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter not injected"
        assert "BroadcastHashJoin" not in plan
        # the filter sits below the exchange: the scan side's subtree
        # containing might_contain must also contain the lineitem scan,
        # and an Exchange must appear between the filter and the join
        lines = plan.splitlines()
        mc = next(i for i, ln in enumerate(lines) if "might_contain" in ln)
        ex = [i for i, ln in enumerate(lines) if "Exchange" in ln]
        assert any(i < mc for i in ex), (
            "no Exchange above the bloom probe — filter not below the "
            "shuffle:\n" + plan
        )


def test_bucket_join_key_frame_is_colocated(spark, sf_dir):
    """q_bucket_join's certified frame: the join itself runs on
    pre-bucketed sides — no Exchange BELOW the join (the aggregate above
    may shuffle its |priorities|-row partials; the certificate is about
    the join inputs). countDistinct plans an Expand+two-phase aggregate,
    so assert on the SortMergeJoin subtree, not the whole plan."""
    from saas_analytics_pipeline_spark.operators.lake import (
        bucket_join_frame,
    )

    try:
        with scoped_confs(spark, _NO_BROADCAST):
            df = bucket_join_frame(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert plan.count("Bucketed: true") == 2
            # exactly the two aggregate exchanges (partial->final hash, then
            # the orderBy range): bucketed join inputs contribute ZERO
            assert plan.count("Exchange") == 2, plan
    finally:
        tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
        spark.sql(f"DROP TABLE IF EXISTS bkt_orders_{tag}")
        spark.sql(f"DROP TABLE IF EXISTS bkt_lineitem_{tag}")


def test_dpp_prune_injects_runtime_partition_filter(spark, sf_dir):
    """q_dpp_prune's frame: the partitioned fact scan must carry a
    dynamicpruningexpression in its PartitionFilters — the dim filter
    prunes fact partitions at runtime, not after the scan."""
    from saas_analytics_pipeline_spark.operators.lake import dpp_join_frame

    plan = (
        dpp_join_frame(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower(), plan


def test_stream_ann_assign_is_joinless_scan_side(spark, sf_dir):
    """q_stream_ann_assign's assignment must be a pure scan-side
    projection: the frozen anchors are a plan LITERAL, so the physical
    plan contains NO join of any kind — the property that lets the
    streaming twin assign inside a micro-batch without keyed state."""
    from saas_analytics_pipeline_spark import qcatalog

    qcatalog.load_all()
    plan = plan_of(qcatalog.QUERIES["q_stream_ann_assign"].fn(spark, sf_dir))
    for node in ("SortMergeJoin", "BroadcastHashJoin", "NestedLoop",
                 "ShuffledHashJoin"):
        assert node not in plan, f"assignment must not join ({node} found)"


def test_heavy_hitters_recount_broadcasts_candidates(spark, sf_dir):
    """q_heavy_hitters' exact recount must join the item stream against
    a BROADCAST candidate set (bounded by partitions x MG_K) — a
    shuffled join here would move the whole key universe and defeat the
    sketch pass."""
    from saas_analytics_pipeline_spark import qcatalog

    qcatalog.load_all()
    plan = plan_of(qcatalog.QUERIES["q_heavy_hitters"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_apply_cdc_snapshot_survivors_via_broadcast_anti(spark, sf_dir):
    """apply_cdc's survivor scan (q_cdc_apply) must be a
    BroadcastHashJoin LeftAnti against the change batch's key set — the
    merge_upsert contract extended to deletes: the 100 TB snapshot never
    shuffles for the CDC apply."""
    from saas_analytics_pipeline_spark import qcatalog

    qcatalog.load_all()
    plan = plan_of(qcatalog.QUERIES["q_cdc_apply"].fn(spark, sf_dir))
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "SortMergeJoin LeftAnti" not in plan


def test_bucket_manifest_frames_join_with_zero_exchange_and_sort(
    spark, sf_dir
):
    """q_bucket_manifest's frames (r11; tombstone phase r12): both sides
    published through the manifest protocol with a recorded bucket spec,
    read back through read_bucketed — the SortMergeJoin subtree must
    contain NO shuffle Exchange and NO Sort in BOTH phases (one sorted
    file per bucket by construction, so the scan's reported ordering is
    trusted); the tombstoned phase's only additions are the broadcast
    anti-join and its metadata-grain key-set distinct, which lives
    UNDER the BroadcastExchange, never on the fact stream."""
    from saas_analytics_pipeline_spark.operators.lake import (
        _BUCKET_MANIFEST_CONFS,
        bucket_manifest_phases,
    )

    with scoped_confs(spark, _BUCKET_MANIFEST_CONFS):
        p1, p2 = bucket_manifest_phases(spark, sf_dir)

        plan1 = p1._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan1
        assert plan1.count("Bucketed: true") == 2
        # the aggregate's own partial->final hash exchange only; the
        # join inputs contribute ZERO
        assert plan1.count("Exchange") == 1, plan1
        smj = plan1[plan1.index("SortMergeJoin"):]
        assert "Sort " not in smj, smj

        plan2 = p2._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan2
        assert plan2.count("Bucketed: true") == 2
        # toString renders the join type after the key lists
        assert "LeftAnti, BuildRight" in plan2, plan2
        smj2 = plan2[plan2.index("SortMergeJoin"):]
        assert "Sort " not in smj2, smj2
        # exactly one hash exchange below the SMJ — the tombstone
        # key-set's distinct — and it sits under its BroadcastExchange
        assert smj2.count("Exchange hashpartitioning") == 1, smj2
        assert smj2.index("BroadcastExchange") < smj2.index(
            "Exchange hashpartitioning"
        ), smj2
        # executed-value smoke (VERDICT r12 #2): p1 stays lazy across
        # the publish_deletes — materializing it here proves the
        # read→publish→read→materialize lifecycle executes, not just
        # plans. p2 lost the %10 tombstoned keys, p1 kept them.
        n1 = p1.agg(F.sum("n_orders")).collect()[0][0]
        n2 = p2.agg(F.sum("n_orders")).collect()[0][0]
        assert n1 > n2 > 0, (n1, n2)


def test_bucket_partitioned_frames_join_with_zero_exchange(spark, sf_dir):
    """q_bucket_partitioned's frames (r12): month-partitioned facts
    bucketed by custkey through the publish protocol — the per-customer
    join must run with ZERO shuffle Exchanges below (and above: the
    bucketed partitioning satisfies the aggregates too) in BOTH phases,
    incremental overwrite included; per-bucket Sorts are partition-local
    and allowed (one file per bucket per month — SPARK-28216 ordering is
    not trusted across files)."""
    from saas_analytics_pipeline_spark.operators.lake import (
        bucket_partitioned_frames,
    )

    with scoped_confs(spark, _NO_BROADCAST):
        # checkpoint_phase1=False keeps p1 LAZY across the revision
        # republish — the exact pattern that crashed r12's driver run
        # (VERDICT r12 #1: the superseded catalog entry was eagerly
        # dropped under the live plan). The executed-value smokes below
        # fail on pre-fix HEAD with TABLE_OR_VIEW_NOT_FOUND.
        p1, p2 = bucket_partitioned_frames(
            spark, sf_dir, checkpoint_phase1=False
        )
        for df in (p1, p2):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert plan.count("Bucketed: true") == 2, plan
            smj = plan[plan.index("SortMergeJoin"):]
            assert "Exchange hashpartitioning" not in smj, smj
        # executed-value smoke (VERDICT r12 #2): plan strings alone let
        # a deterministic materialization crash ship — every multi-phase
        # publish key's plan test must also EXECUTE its frames.
        r1 = {r["cg"]: r for r in p1.collect()}
        r2 = {r["cg"]: r for r in p2.collect()}
        assert len(r1) == 7 and len(r2) == 7
        # p1 materialized AFTER the 199606 overwrite must still see the
        # ORIGINAL snapshot (snapshot isolation via the parked entry);
        # p2 sees the doubled June prices, so rev96 never shrinks and
        # grows for at least one group (a group with no June-96 orders
        # among joined customers is legitimately unchanged at sf0.001).
        assert all(r2[k]["rev96"] >= r1[k]["rev96"] for k in r1)
        assert any(r2[k]["rev96"] > r1[k]["rev96"] for k in r1)
        assert all(r2[k]["rev97"] == r1[k]["rev97"] for k in r1)


def test_optimize_bucketed_frames_stay_colocated_and_execute(spark, sf_dir):
    """q_optimize_bucketed's frames (r13): after OPTIMIZE purges the
    GDPR/resubscribe registers by rewriting through the bucketed writer,
    the fact-fact join must STILL run with zero shuffle Exchanges below
    the SortMergeJoin (the recorded spec survived the purge), and —
    executed-value smoke, VERDICT r12 #2 — both phases must materialize
    with identical values (OPTIMIZE is semantically invisible)."""
    from saas_analytics_pipeline_spark.operators.lake import (
        optimize_bucketed_frames,
    )

    with scoped_confs(spark, _NO_BROADCAST):
        p1, p2 = optimize_bucketed_frames(spark, sf_dir)
        plan = p2._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert plan.count("Bucketed: true") == 2, plan
        smj = plan[plan.index("SortMergeJoin"):]
        assert "Exchange hashpartitioning" not in smj, smj
        # optimized read carries NO anti-join registers anymore
        assert "BroadcastHashJoin LeftAnti" not in plan, plan
        r1 = {r["cg"]: r for r in p1.collect()}
        r2 = {r["cg"]: r for r in p2.collect()}
        assert len(r1) == 7 and len(r2) == 7
        for k in r1:
            assert r1[k]["rev96"] == r2[k]["rev96"]
            assert r1[k]["rev97"] == r2[k]["rev97"]
            assert r1[k]["n_cust"] == r2[k]["n_cust"]
        assert all(r["has_registers"] == 1 for r in r1.values())
        assert all(r["has_registers"] == 0 for r in r2.values())


def test_catalog_bucketed_partitioned_star_zero_exchange(spark, sf_dir):
    """q_catalog_bucketed_partitioned (r13): the three-way star join
    over catalog-resident bucketed-partitioned facts + bucketed dim
    must run with zero shuffle Exchanges below every SortMergeJoin,
    the June subtree must prune partitions catalog-side, and — executed
    smoke — the key materializes with the full segment grain."""
    from saas_analytics_pipeline_spark import qcatalog

    qcatalog.load_all()
    df = qcatalog.QUERIES["q_catalog_bucketed_partitioned"].fn(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 5  # TPC-H mktsegments
    assert all(r["seq"] == 1 and r["n_partitions_96"] == 6 for r in rows)
    assert all(r["rev96"] >= r["rev96_june"] >= 0 for r in rows)
    # plan shape: rebuild the pre-checkpoint frames to inspect the join
    import os

    from saas_analytics_pipeline_spark.plans import publish as P
    from saas_analytics_pipeline_spark.scratch import scratch_path, sf_tag

    cat = scratch_path("saas_lake_cat_bktp", sf_dir)
    assert os.path.isdir(cat)
    tag = sf_tag(sf_dir)
    with scoped_confs(spark, _NO_BROADCAST):
        t96 = P.read_catalog_bucketed_partitioned(
            spark, cat, "f96", f"tcbp96_{tag}"
        )
        t97 = P.read_catalog_bucketed_partitioned(
            spark, cat, "f97", f"tcbp97_{tag}"
        )
        td = P.read_catalog_bucketed(spark, cat, "dim", f"tcbpd_{tag}")

        def per_cust(t, out):
            return t.groupBy("o_custkey").agg(F.sum("o_totalprice").alias(out))

        j = (
            per_cust(t96, "r96")
            .join(per_cust(t97, "r97"), "o_custkey")
            .join(td, "o_custkey")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert plan.count("SortMergeJoin") == 2, plan
        assert plan.count("Bucketed: true") == 3, plan
        assert "Exchange hashpartitioning" not in plan, plan
        # June read prunes partitions catalog-side
        pruned = t96.where(F.col("_p") == "199606")
        pplan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in pplan and "199606" in pplan, pplan


def test_catalog_increment_lifecycle_executes_and_stays_colocated(
    spark, sf_dir
):
    """q_catalog_increment (r13): both lifecycle phases materialize
    (executed smoke, VERDICT r12 #2), the post-increment fact x dim
    join still runs with zero shuffle Exchanges below the SortMergeJoin
    (the increment inherited the recorded spec), and the GDPR
    semantics hold phase-to-phase: victims contribute nothing in p1 and
    only their resubscribed month-3 rows (at 2x) in p2."""
    from saas_analytics_pipeline_spark import qcatalog

    qcatalog.load_all()
    df = qcatalog.QUERIES["q_catalog_increment"].fn(spark, sf_dir)
    rows = df.collect()
    p1 = [r for r in rows if r["phase"] == "p1_deleted"]
    p2 = [r for r in rows if r["phase"] == "p2_resubscribed"]
    assert len(p1) == 5 and len(p2) == 5
    assert all(r["seq"] == 2 for r in p1)
    assert all(r["seq"] == 3 for r in p2)
    # the resubscribe only ADDS orders (victims' month-3 rows)
    n1 = {r["c_mktsegment"]: r["n_orders"] for r in p1}
    n2 = {r["c_mktsegment"]: r["n_orders"] for r in p2}
    assert all(n2[s] >= n1[s] for s in n1)
    assert sum(n2.values()) > sum(n1.values())
    # plan shape on the committed catalog left by the key's run
    import os

    from saas_analytics_pipeline_spark.plans import publish as P
    from saas_analytics_pipeline_spark.scratch import scratch_path, sf_tag

    cat = scratch_path("saas_lake_cat_incr", sf_dir)
    assert os.path.isdir(cat)
    tag = sf_tag(sf_dir)
    with scoped_confs(spark, _NO_BROADCAST):
        tf = P.read_catalog_bucketed_partitioned(
            spark, cat, "fact", f"tci_f_{tag}"
        )
        td = P.read_catalog_bucketed(spark, cat, "dim", f"tci_d_{tag}")
        j = tf.join(td, "o_custkey").groupBy("c_mktsegment").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert plan.count("Bucketed: true") == 2, plan
        smj = plan[plan.index("SortMergeJoin"):]
        # the only hash exchanges below the SMJ belong to the tombstone
        # registers' distinct (under their BroadcastExchange), never the
        # fact or dim stream
        fact_smj = smj.split("BroadcastExchange")[0]
        assert "Exchange hashpartitioning" not in fact_smj, smj


def test_dup_span_capped_path_has_no_per_hash_window_sort(spark, sf_dir):
    """The max_window_df hot-hash ceiling (r12, VERDICT r11 #3) must
    stay on the map-side-combinable aggregate path: no window function
    partitioned by the hash (the per-h sort that serializes one task on
    a boilerplate hash at scale), a partial_count(distinct) before the
    hash exchange, and the survivors joined back without the text
    re-shuffling."""
    from saas_analytics_pipeline_spark.operators.dedup import (
        dup_span_intervals,
        foreign_dup_spans,
    )
    from saas_analytics_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    for frame in (
        dup_span_intervals(docs, max_window_df=64),
        foreign_dup_spans(docs, max_window_df=64),
    ):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        # the island windows partition by doc_id — the ONLY windows
        # allowed; none may partition by the hash h
        assert "windowspecdefinition(h" not in plan.replace(" ", ""), plan
        assert "partial_count(distinct" in plan, plan


def exchanges(df) -> list[tuple[str, str]]:
    """(input columns, arguments) of every shuffle Exchange in ``df``'s
    formatted plan (BroadcastExchange excluded)."""
    import re

    return re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\nArguments: ([^\n]*)",
        plan_of(df),
    )


def test_corpus_kernels_spread_single_split_scan_once(spark, sf_dir):
    """The single-file fixture scans as one unsplittable row group, so
    q_html_extract and q_dup_spans each spread the raw documents exactly
    once (one RoundRobinPartitioning Exchange) before their CPU-heavy
    per-row stage; html and extracted text never enter any Exchange."""
    import re

    from saas_analytics_pipeline_spark.operators.curation import q_html_extract
    from saas_analytics_pipeline_spark.operators.dedup import q_dup_spans

    assert load_table(spark, sf_dir, "documents").rdd.getNumPartitions() == 1
    for q in (q_html_extract, q_dup_spans):
        ex = exchanges(q(spark, sf_dir))
        spreads = [i for i, a in ex if a.startswith("RoundRobinPartitioning")]
        assert len(spreads) == 1, (q.__name__, ex)
        assert re.search(r"\btext#", spreads[0]), (q.__name__, spreads)
        for inp, _ in ex:
            assert not re.search(r"\b(html|extracted)#", inp), (q.__name__, inp)


def test_spread_absent_when_input_already_fans_out(spark, sf_dir):
    """spread_for_fanout is a no-op once the input has at least
    defaultParallelism partitions (the multi-split lake case): the only
    round-robin Exchange left in dup_span_intervals is the caller's own."""
    from saas_analytics_pipeline_spark.operators.dedup import dup_span_intervals

    n = max(8, spark.sparkContext.defaultParallelism)
    docs = load_table(spark, sf_dir, "documents").repartition(n)
    spreads = [
        a
        for _, a in exchanges(dup_span_intervals(docs))
        if a.startswith("RoundRobinPartitioning")
    ]
    assert len(spreads) == 1, spreads
    assert spreads[0].startswith(f"RoundRobinPartitioning({n})"), spreads


def test_spread_cache_holds_only_relation_frames(spark, sf_dir):
    """spread_for_fanout caches its decision only for load_table's
    relation frames: q_dedup_lsh_incremental spreads a semi-joined docs
    frame built afresh on each construction, and re-constructing the key
    must not grow the cache with entries that can never hit."""
    from saas_analytics_pipeline_spark.operators.dedup import (
        q_dedup_lsh_incremental,
    )
    from saas_analytics_pipeline_spark.sources import _SPREAD_CACHE

    q_dedup_lsh_incremental(spark, sf_dir)
    n = len(_SPREAD_CACHE)
    q_dedup_lsh_incremental(spark, sf_dir)
    assert len(_SPREAD_CACHE) == n
