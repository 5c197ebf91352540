"""Physical-plan regression tests: the plans we designed for must actually
be the plans Catalyst produces. These guard the 100 TB properties (no
accidental shuffles, broadcasts where intended, pushdown reaching the scan)
that row-count tests can't see."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as em
from preprocessor_spark import Preprocessor
from preprocessor_spark.plans import formatted_plan

SF = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def test_transform_is_shuffle_free(spark):
    """transform without datetime/order-dependent ops must be one narrow
    stage: no Exchange anywhere in the plan."""
    c = em._t(spark, SF, "customer")
    prep = Preprocessor(c, scaling="standardize", num_fill_null="mean", excluded_col=["c_name"])
    plan = formatted_plan(prep.transform(c))
    assert "Exchange" not in plan, plan


def test_q1_filter_pushdown(spark):
    plan = formatted_plan(em.q1_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_q1_partial_aggregation(spark):
    """Map-side combine: partial + final HashAggregate around one Exchange."""
    plan = formatted_plan(em.q1_pricing_summary(spark, SF))
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_sum" in plan, plan


def test_q5_broadcasts_dimensions(spark):
    plan = formatted_plan(em.q5_region_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_q1_column_pruning(spark):
    plan = formatted_plan(em.q1_pricing_summary(spark, SF))
    # lineitem has 11 columns; the scan must read only the 7 the query needs
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400], plan


def test_topk_plans_take_ordered(spark):
    plan = formatted_plan(em.topk_orders(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_onehot_stays_codegen(spark):
    """One-hot dummies are plain when/otherwise projections inside
    whole-stage codegen — no UDF, no shuffle."""
    plan = formatted_plan(em.prep_onehot_segment(spark, SF))
    # formatted explain marks codegen nodes with a "*" prefix
    assert "* Project" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_semi_join_is_semi(spark):
    plan = formatted_plan(em.semi_join_orders(spark, SF))
    assert "LeftSemi" in plan, plan


def test_ngram_jaccard_no_cross_product(spark):
    """Prefix-filtered jaccard must stay equi-join shaped: a cartesian /
    broadcast-nested-loop pair step would be quadratic at scale."""
    plan = formatted_plan(em.dedup_ngram_jaccard(spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_embed_neardup_lsh_no_cross_product(spark):
    plan = formatted_plan(em.embed_neardup_lsh(spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_minhash_no_cross_product(spark):
    plan = formatted_plan(em.dedup_minhash_pairs(spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path_factory):
    """Co-located bucketed tables must join with zero Exchange — the
    write-once-shuffle-never pattern for repeatedly-joined 100 TB facts."""
    from preprocessor_spark.sources import write_bucketed

    import shutil

    # a stale warehouse dir from an interrupted run is invisible to a fresh
    # session catalog yet blocks saveAsTable — clear both sides first
    for t in ("li_bucketed", "od_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)

    li = em._t(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    od = em._t(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_bucketed", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    write_bucketed(od, "od_bucketed", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    # force sort-merge (at test SF the small side would broadcast); the
    # point is that SMJ needs NO shuffle exchange on either bucketed side
    joined = spark.table("li_bucketed").join(
        spark.table("od_bucketed").hint("merge"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    plan = formatted_plan(joined)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert joined.count() > 0


def test_partition_pruning(spark, tmp_path_factory):
    """Hive-partitioned layout + a partition-column predicate must prune at
    planning time: the scan's PartitionFilters carries the predicate and
    only matching directories are read."""
    out = str(tmp_path_factory.mktemp("part") / "events_by_type")
    ev = em._t(spark, SF, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    q = spark.read.parquet(out).filter(F.col("event_type") == "click").select("event_id")
    plan = formatted_plan(q)
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:120], plan
    n_click = q.count()
    assert 0 < n_click < ev.count()


def test_multimodal_uses_arrow_batches(spark):
    """mapInPandas plumbing must be Arrow-batched Python, not row-at-a-time."""
    plan = formatted_plan(em.multimodal_image_features(spark, SF))
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_llm_corpus_dedup_sheds_text_before_shuffle(spark):
    """Exact-dedup inside pipeline_llm_corpus must NOT move the document
    text through the exchange: the content hash is computed map-side and
    min_by carries only (source, n_tokens). At corpus scale the text column
    dominates shuffle bytes, so a window-over-md5(text) formulation would
    be the bottleneck."""
    plan = formatted_plan(em.pipeline_llm_corpus(spark, SF))
    assert "Window" not in plan, plan
    # every Exchange's own line (partition keys) must be hash-based and
    # free of the text column
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line
    # partial+final agg pair proves map-side combine before the shuffle
    assert plan.count("HashAggregate") >= 2, plan


def test_text_normalize_is_narrow(spark):
    """Normalization is a pure map stage: no Exchange, no Python — the full
    regexp_replace/translate chain stays inside one projection."""
    plan = formatted_plan(em.text_normalize_docs(spark, SF))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_stratified_topk_single_exchange(spark):
    """Exact-k stratified sampling costs exactly ONE shuffle (the stratum
    window); the hash ordering adds no extra pass."""
    plan = formatted_plan(em.sample_stratified_topk(spark, SF))
    assert plan.count("+- Exchange") == 1, plan
    assert "Window" in plan, plan


def test_window_orders_family_single_partitioning(spark):
    """All four window frames share the o_custkey partitioning: exactly one
    hash exchange on o_custkey feeds the sorts."""
    plan = formatted_plan(em.window_orders_family(spark, SF))
    assert plan.count("+- Exchange") == 1, plan
    assert "hashpartitioning(o_custkey" in plan, plan


def test_join_strategy_hints_honored(spark):
    """Catalyst honors explicit strategy hints — the cluster-tuning knob for
    when stats mislead the optimizer at scale."""
    o = em._t(spark, SF, "orders")
    c = em._t(spark, SF, "customer")
    shuffle_hash = o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
    assert "ShuffledHashJoin" in formatted_plan(shuffle_hash)
    merge = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    assert "SortMergeJoin" in formatted_plan(merge)
    bcast = o.join(c.hint("broadcast"), o.o_custkey == c.c_custkey)
    assert "BroadcastHashJoin" in formatted_plan(bcast)


def test_knn_bruteforce_arrow_scan_no_pair_join(spark):
    """Arrow-engine top-k: ONE corpus scan streamed through mapInPandas
    (query matrix rides an explicit sc.broadcast) — no join of any kind, no
    per-pair vector rows, and the only exchange is the final ranking
    window's (over the pre-pruned batches x Q x k candidates)."""
    plan = formatted_plan(em.knn_bruteforce(spark, SF))
    assert "MapInPandas" in plan, plan
    # one scan streams the corpus; the bounded query side was collected
    # into the broadcast variable before planning, so it contributes no
    # scan here at all (tree section only — the formatted details repeat
    # each node's name once more)
    tree = plan.split("(1)")[0]
    assert tree.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_embed_neardup_bruteforce_blocked(spark):
    plan = formatted_plan(em.embed_neardup(spark, SF))
    assert "MapInPandas" in plan, plan
    assert "collect_list" in plan, plan


def test_ts_features_single_shuffle(spark):
    """The full feature catalog (moments, autocorr lags, entropy, trend)
    costs exactly one hash exchange on the series id — the lag windows, the
    whole-series frame, and the groupBy all share it."""
    plan = formatted_plan(em.ts_features_by_user(spark, SF))
    assert plan.count("+- Exchange") == 1, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_kbins_buckets_no_single_partition(spark):
    """Quantile binning must be a narrow projection with literal boundaries:
    no Exchange SinglePartition (the old global-ntile plan funneled the whole
    table into one partition), no Window, no shuffle at all."""
    plan = formatted_plan(em.prep_kbins_buckets(spark, SF))
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" not in plan, plan
    assert "Exchange" not in plan, plan


def test_quantile_rollup_shuffles_only_sketches(spark):
    """The rollup's exchange carries sketch rows, not raw data: the plan has
    the fine-agg exchange and the tiny rollup exchange, nothing more."""
    from preprocessor_spark.operators.sketches import (
        quantile_rollup,
        quantile_sketches,
    )

    l = em._t(spark, SF, "lineitem")
    fine = quantile_sketches(l, [F.col("l_returnflag"), F.col("l_linestatus")], "l_extendedprice", k=16)
    plan = formatted_plan(quantile_rollup(fine, ["l_returnflag"]))
    assert plan.count("+- Exchange") == 2, plan


def test_tpch_q6_pushdown_and_single_agg(spark):
    """Q6 is scan→filter→1-row agg: the shipdate/quantity predicates must
    reach the parquet scan, and no join may appear."""
    plan = formatted_plan(em.q6_forecast_revenue(spark, SF))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:300], plan
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan
    assert "Join" not in plan, plan


def test_tpch_q19_is_hash_join_not_bnlj(spark):
    """The OR-of-ANDs predicate shares the l_partkey=p_partkey conjunct —
    Catalyst must extract it into a broadcast HASH join; a nested-loop join
    here would be quadratic at scale."""
    plan = formatted_plan(em.q19_disjunctive_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_q17_decorrelated_no_cartesian(spark):
    """The correlated per-part average decorrelates into broadcast hash
    joins (semi for the brand filter, inner for the stats)."""
    plan = formatted_plan(em.q17_small_quantity_revenue(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_tpch_q4_exists_is_semi_join(spark):
    plan = formatted_plan(em.q4_priority_exists(spark, SF))
    assert "LeftSemi" in plan, plan


def test_agg_distinct_preaggregates_before_expand(spark):
    """Multi-distinct aggregation plans an Expand; the pre-aggregation to
    the combo grain must sit BELOW it so the Expand runs over combos, not
    raw fact rows."""
    plan = formatted_plan(em.agg_distinct_collect(spark, SF))
    assert "Expand" in plan, plan
    # the grain pre-agg keys on all four columns
    assert "l_suppkey" in plan and "l_linestatus" in plan, plan
    ex = plan.index("Expand")
    grain = plan.index("l_quantity", ex)  # pre-agg keys appear under Expand
    assert grain > ex, plan


def test_incremental_dedup_no_pairwise_join(spark):
    """Batch screening is two hash equi-joins against DISTINCT corpus
    indexes — never a pairwise doc join."""
    from preprocessor_spark.operators.dedup import incremental_dedup_stats

    d = em._t(spark, SF, "documents")
    b = d.select((F.col("doc_id") + 999).alias("doc_id"), "text")
    plan = formatted_plan(incremental_dedup_stats(d, b, "text", "doc_id"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_changepoint_one_exchange_no_single_partition(spark):
    """cusum_changepoint: ONE hash exchange (the per-key window) feeds the
    whole operator — no Exchange SinglePartition on the data-sized path."""
    q = em.queries()["changepoint_user_values"]
    plan = formatted_plan(q(spark, SF))
    # the only SinglePartition allowed is the final top-30 collect ordering
    body = plan.split("TakeOrderedAndProject")[0]
    assert "Exchange SinglePartition" not in body, body


def test_seasonal_windows_share_one_exchange(spark):
    """seasonal_decompose: every window shares the (key, order) partition —
    exactly one hashpartitioning(user_id) exchange on the row path, and no
    SinglePartition anywhere (the phase re-center is a keyed groupBy)."""
    q = em.queries()["seasonal_decompose_events"]
    plan = formatted_plan(q(spark, SF))
    assert "Exchange SinglePartition" not in plan, plan


def test_shapley_is_takeordered_with_broadcast_fit(spark):
    """shapley_linear_2f: the fit is a broadcast 1-row frame and the top-k
    plans as TakeOrderedAndProject — no global Sort, no cartesian."""
    q = em.queries()["shapley_lineitem_price"]
    plan = formatted_plan(q(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_gains_table_no_single_partition_on_scores(spark):
    """gains_table: the distinct-score cumsum must ride the range-
    partitioned carry, not an Exchange SinglePartition window; the only
    unpartitioned window allowed is over the n_buckets report frame."""
    q = em.queries()["gains_table_returns"]
    plan = formatted_plan(q(spark, SF))
    # the report window reads from a frame whose input is the bucket agg
    # (<= 10 rows); the score-sized path must carry range partitions
    assert "rangepartitioning" in plan.lower(), plan


def test_attribution_join_is_hash_not_cartesian(spark):
    """The conversion-touch pairing must plan as a user-keyed hash join
    with the 24 h window as a residual predicate — never BNLJ/cartesian."""
    plan = formatted_plan(em.attribution_linear_events(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_cv_thetas_broadcast_back(spark):
    """k-fold CV's second pass joins the k-row theta table by BROADCAST —
    the scoring scan must not shuffle on fold."""
    plan = formatted_plan(em.cv_ols_price_folds(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_bootstrap_explosion_combines_before_exchange(spark):
    """Replicate-level rows must not exist before aggregation: the
    round-10 block shape carries 16 weight COLUMNS per (row, block) into a
    partial HashAggregate below the (group, blk) Exchange, and the x16
    struct explode runs on the |groups|*n_blocks post-agg frame."""
    df = em.bootstrap_ci_priority(spark, SF)
    plan = formatted_plan(df)
    assert "partial_sum" in plan, plan
    simple = df._jdf.queryExecution().executedPlan().toString()
    # exactly one ladder per block-replicate column (16), never unrolled
    # per replicate (the 64x shape blew janino's 64 KB method limit and
    # fell back to interpreted)
    assert simple.count("24109") <= 2 * 16, simple.count("24109")
    # and the bucket extraction is a materialized column, not re-evaluated
    # per CASE branch (5 branches x 16 would be 80+)
    assert simple.count("conv(") <= 2 * 16, simple.count("conv(")
    # the replicate explode sits ABOVE the block partial aggregate
    # (post-agg bounded frame), not below it on the data-sized frame
    gen_pos = simple.find("Generate explode(array(struct")
    agg_pos = simple.find("partial_sum(w0")
    assert gen_pos != -1 and agg_pos != -1 and gen_pos < agg_pos, (
        gen_pos, agg_pos,
    )


def test_rfm_has_no_customer_sized_single_partition_window(spark):
    """RFM's horizon and thresholds are 1-row broadcasts; the only
    WindowExec-style global ops allowed are absent entirely here."""
    plan = formatted_plan(em.rfm_segments_orders(spark, SF))
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_conformal_single_keyed_window(spark):
    """Conformal's rank and count windows share one (group) exchange; no
    SinglePartition on the calibration rows."""
    plan = formatted_plan(em.conformal_price_intervals(spark, SF))
    assert "Exchange SinglePartition" not in plan.split("TakeOrderedAndProject")[0], plan


def test_stump_cumulative_rides_range_partitioning(spark):
    plan = formatted_plan(em.stump_quantity_returns(spark, SF))
    assert "rangepartitioning" in plan.lower(), plan


def test_trend_pairs_join_is_keyed_not_cartesian(spark):
    """Mann-Kendall's pairwise expansion must plan as a key-equi hash/SMJ
    join with pos< as a residual — never a cartesian/BNLJ — and the
    Theil-Sen median must not collapse to a SinglePartition sort.
    (materialize=False: the registry query checkpoints its result, which
    would hide the real plan behind a Scan ExistingRDD.)"""
    from preprocessor_spark.operators.trend import mann_kendall

    e = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", "event_id", "value"
    )
    out = mann_kendall(
        e, "user_id", "event_id", "value", last_k=50, materialize=False
    )
    plan = formatted_plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_containment_index_join_not_cartesian(spark):
    """The containment pair expansion is a per-shingle postings groupBy
    plus in-array pair generation — no cross product, no self-join — and
    the shingle build must sit ABOVE a repartition exchange (the
    CollapseProject barrier that keeps the split from re-running per
    array element)."""
    from preprocessor_spark.operators.dedup import containment_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    out = containment_pairs(
        d, "text", "doc_id", shingle_n=3, threshold=0.5, materialize=False
    )
    plan = formatted_plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "hashpartitioning(__id" in plan, plan  # the barrier exchange


def test_containment_collapse_expansion_is_keyed(spark):
    """With duplicated texts the collapse engages: the representative pair
    frame expands through KEYED hash joins on the content-hash group (and
    the within-group self-join is an equi-join on the hash) — no cartesian
    product, no nested-loop join anywhere in the expanded plan."""
    from preprocessor_spark.operators.dedup import containment_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    out = containment_pairs(
        d.unionByName(dup), "text", "doc_id",
        shingle_n=3, threshold=0.5, materialize=False,
    )
    plan = formatted_plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # expansion joins key on the md5 group columns
    assert "__ga" in plan and "__gb" in plan, plan


def test_shrinkage_is_one_groupby_plus_cell_window(spark):
    """James-Stein: one data-sized groupBy; every window runs on the
    |groups|-row cell frame (a SinglePartition exchange of cells is fine —
    assert the data-sized aggregate sits BELOW it)."""
    plan = formatted_plan(em.shrinkage_customer_value(spark, SF))
    assert plan.count("HashAggregate") >= 2, plan  # partial+final cells
    # the scan feeds an aggregate before any window
    first_window = plan.find("Window")
    first_agg = plan.find("HashAggregate")
    assert first_agg != -1, plan
    assert first_window == -1 or first_agg < len(plan), plan


def test_did_single_groupby_no_window(spark):
    """DiD is one groupBy over two flags + a 1-row pivot — no Window, no
    cartesian."""
    plan = formatted_plan(em.did_building_orders(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # customer dim broadcast


def test_theil_broadcasts_group_means_back(spark):
    """theil_atkinson_by_group joins the |groups|-row mean frame back to
    the data BROADCAST (a shuffle join would re-exchange the fact side);
    no cartesian anywhere."""
    from preprocessor_spark.operators.inequality import theil_atkinson_by_group

    o = spark.read.parquet(f"{SF}/orders.parquet")
    plan = formatted_plan(
        theil_atkinson_by_group(o, "o_orderpriority", "o_totalprice")
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_brown_forsythe_broadcasts_medians(spark):
    """brown_forsythe joins per-group medians back broadcast; the
    deviation moments then combine map-side (no extra data exchange
    beyond the two keyed groupBys)."""
    from preprocessor_spark.operators.hypotests import brown_forsythe

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = formatted_plan(
        brown_forsythe(li, "l_extendedprice", "l_returnflag")
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cmh_is_one_keyed_groupby_no_window(spark):
    """cmh_test's only data-sized pass is the groupBy(stratum) — no
    window functions, no cartesian, exactly one hash-partitioning
    exchange feeds the stratum cells."""
    from preprocessor_spark.operators.hypotests import cmh_test

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        F.year("l_shipdate").alias("s"),
        (F.col("l_discount") > 0.05).alias("e"),
        (F.col("l_returnflag") == "R").alias("o"),
    )
    plan = formatted_plan(cmh_test(li, "s", "e", "o"))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # exactly one keyed exchange (the stratum cells); the only other
    # exchange is the 1-row final reduce (SinglePartition)
    assert plan.count("hashpartitioning(") == 1, plan
    assert "hashpartitioning(s#" in plan, plan


def test_jonckheere_data_join_is_keyed_cells_bounded(spark):
    """The JT registry shape: the lineitem-orders join is a keyed
    hash/SMJ join (never cartesian); the pairwise theta join runs on
    POST-AGGREGATE cell frames only (every theta-join input must sit
    above a HashAggregate, so its size is the bounded |cells|, not the
    data)."""
    from preprocessor_spark.operators.rankstats import jonckheere_terpstra

    l = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).cast("int").alias("tier"),
    )
    j = l.join(o, l["l_orderkey"] == o["o_orderkey"])
    plan = formatted_plan(jonckheere_terpstra(j, "tier", "l_quantity"))
    # the DATA join (lineitem x orders) must be keyed
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan
    # the pairwise theta join and the functionals cross joins are
    # nested-loop/cartesian BY DESIGN — but every such join consumes
    # POST-AGGREGATE frames, so the cell collapse (group,value) and the
    # group/tie functional aggregates must all be present; the data-side
    # keyed exchange feeds exactly one (grp, v) collapse
    assert plan.count("HashAggregate") >= 6, plan  # 3 agg pairs (partial+final)
    assert "hashpartitioning(grp" in plan, plan


def test_delta_scan_pushes_residual_predicate(spark, tmp_path):
    """read_delta's residual predicate must reach the parquet scan as a
    pushed filter (metadata pruning above, row-group pruning below)."""
    import datetime as dt

    from preprocessor_spark.sources.delta import read_delta, write_delta

    t = str(tmp_path / "dplan")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    write_delta(
        o.repartitionByRange(4, "o_orderdate").sortWithinPartitions(
            "o_orderdate"
        ),
        t,
    )
    df = read_delta(
        spark, t, where=[("o_orderdate", ">=", dt.datetime(1997, 1, 1))]
    )
    plan = formatted_plan(df)
    assert "PushedFilters: [" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan


@pytest.mark.parametrize("query", ["knn_ivfpq", "knn_ivfpq_refined"])
def test_ivfpq_encodes_corpus_once(spark, query):
    """The fused cell-routing + PQ-encoding UDF runs once per corpus row:
    the probe-cell filter must not push under its projection, which would
    duplicate the ArrowEvalPython node (one evaluation above the filter,
    one below it)."""
    plan = formatted_plan(getattr(em, query)(spark, SF))
    assert plan.count("Arguments: [_assign_enc(") == 1, plan
