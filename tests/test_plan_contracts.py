"""Physical-plan contracts for the catalog's headline shapes.

Correctness tests prove the small-SF answer; these prove the PLAN — the
properties that decide whether the same query survives a 100 TB run:
filters and projections reaching the parquet scan, small dimensions
broadcast instead of shuffled, aggregates pre-combined map-side, range
joins staying out of cartesian territory, and expressions staying inside
whole-stage codegen. A regression that silently flips one of these
(e.g. a broadcast that becomes a sort-merge join after a refactor)
passes every value test and only shows up here.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df, mode: str = "formatted") -> str:
    """``df``'s plan string; a ``q`` entry already holds both modes."""
    if isinstance(df, dict):
        return df[mode]
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            mode
        )
    )


@pytest.fixture(scope="module")
def q(catalog_build):
    """Every catalog query's formatted and simple plans, from the one
    session-wide catalog build."""
    return catalog_build


def test_filter_and_projection_pushed_to_scan(q):
    """q6: the date/discount/quantity predicates and the 4-column
    projection must reach the parquet reader — a scan that reads every
    column and filters afterwards re-reads the whole 100 TB table."""
    plan = _plan(q["q6_forecast_revenue"])
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not just IsNotNull
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert any(op in pushed for op in ("GreaterThan", "LessThan", "EqualTo")), pushed
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_comment" not in read
    assert len(read) < 200, f"projection not pruned: {read}"


def test_dimension_joins_broadcast(q):
    """q3/q5: customer/nation/region dimensions must come in as
    broadcast joins (no shuffle of the fact table on the dim key)."""
    for name in ("q3_shipping_priority", "q5_region_revenue"):
        plan = _plan(q[name], "simple")
        assert "BroadcastHashJoin" in plan, f"{name}:\n{plan}"


def test_aggregates_partial_map_side(q):
    """q1: the big groupBy must plan as partial HashAggregate ->
    Exchange -> final HashAggregate, so the shuffle carries one row per
    (partition, group), not one per input row."""
    plan = _plan(q["q1_pricing_summary"])
    first_exchange = plan.find("Exchange")
    first_agg = plan.find("HashAggregate")
    assert first_agg != -1 and first_exchange != -1
    # formatted mode prints operators leaf-first: the partial aggregate
    # appears before the exchange that feeds the final aggregate
    assert "partial_" in plan


def test_interval_join_is_not_cartesian(q):
    """j2: the interval join must carry its range predicates inside the
    join, not degenerate to CartesianProduct + post-filter."""
    plan = _plan(q["j2_interval_join"], "simple")
    assert "CartesianProduct" not in plan


def test_asof_join_no_global_single_partition_sort(q):
    """j1: the keyed as-of join must distribute by key — no
    single-partition global Sort/Window (the keyless fallback warns and
    is not what the catalog query plans)."""
    plan = _plan(q["j1_asof_join"], "formatted")
    assert "SinglePartition" not in plan, plan


def test_lookup_join_broadcasts_small_side(q):
    plan = _plan(q["j3_lookup_join"], "simple")
    assert "BroadcastHashJoin" in plan


def test_band_join_broadcasts_tiny_dim(q):
    """Banded range join: 3-row dim must broadcast (nested-loop against
    a broadcast, never a shuffle or cartesian of the fact table)."""
    plan = _plan(q["join_range_price_bands"], "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_text_gates_stay_jvm_side_single_scan(q):
    """Text quality gates are pure JVM expressions (higher-order
    functions run interpreted but JVM-side — they are excluded from
    whole-stage codegen by design): the contract is no Python eval
    operators and exactly one scan of documents."""
    plan = _plan(q["text_quality"], "simple")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("FileScan parquet") == 1, plan


def test_repetition_metrics_no_python_no_extra_scan(q):
    """Round-3 addition keeps the same contract: one documents scan,
    all-JVM expressions, map-side combine below both shuffles."""
    plan = _plan(q["text_repetition_metrics"], "simple")
    assert "BatchEvalPython" not in plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "partial_count" in _plan(q["text_repetition_metrics"], "formatted")


def test_emb_outlier_gate_broadcasts_centroids(q):
    """Centroids and the scalar threshold must broadcast, and the
    centroid pass must be the partial-aggregated posexplode ->
    groupBy(label, pos) shape: NO aggregation buffer may hold whole
    embedding vectors (a collect_list of the embedding column OOMs one
    reducer per popular label at 100 TB). The only collect_list allowed
    is the dim-bounded (pos, v) struct reassembly."""
    plan = _plan(q["emb_outlier_gate"], "simple")
    assert "posexplode" in plan.lower(), plan
    assert plan.count("Broadcast") >= 2, plan
    for line in plan.splitlines():
        if "collect_list(embedding" in line:
            raise AssertionError(
                f"aggregation over whole embedding vectors: {line}"
            )


def test_events_top_paths_caps_buffer_before_collect(q):
    """events_top_paths: a row_number Window must sit BELOW the
    collect_list aggregate so the agg buffer holds <=3 structs per user
    — without the cap a skewed user (bot) buffers its whole history to
    extract 3 events."""
    plan = _plan(q["events_top_paths"], "formatted")
    w = plan.find("Window")
    c = plan.find("collect_list")
    assert w != -1 and c != -1, plan
    # formatted plans print leaves-last: the Window node must appear
    # AFTER the collecting aggregate in text, i.e. below it in the tree
    assert "row_number" in plan
    first_agg = plan.find("ObjectHashAggregate")
    if first_agg == -1:
        first_agg = plan.find("SortAggregate")
    assert first_agg != -1 and w > first_agg, plan


def test_rolling_window_preaggregates_before_frame(q):
    """win_rolling_7d_revenue: the RANGE-frame window input must be the
    (customer, day) pre-aggregate — a partial aggregation appears below
    the Window operator."""
    plan = _plan(q["win_rolling_7d_revenue"], "formatted")
    w = plan.find("Window")
    assert w != -1
    assert "partial_sum" in plan


def test_exact_dedup_shuffles_hashes_not_documents(spark):
    """dedup_exact's shuffle must carry the md5 key + id, never the
    document text column."""
    from slipstream_async_spark.operators.dedup import dedup_exact

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup_exact(docs, "text", "doc_id"))
    # the exchange feeding the final agg carries content_md5/keep_id
    # only; 'text' may appear in the scan but not above the partial agg
    above_exchange = plan.split("Exchange", 1)[0]
    assert "partial_" in above_exchange or "text" not in above_exchange


def test_epoch_mix_waterfill_never_rescans_corpus(q):
    """mix_epoch_schedule: the waterfill rounds iterate on a
    localCheckpoint of the per-source aggregate, so the final plan must
    contain ZERO parquet scans — before the checkpoint was added, every
    round's totals-fork re-derived the aggregate from the raw corpus (8
    full scans for 3 rounds), which at 100 TB is 8 corpus passes where
    one suffices."""
    plan = _plan(q["mix_epoch_schedule"])
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan or "LogicalRDD" in plan


def test_ivfadc_probe_side_is_broadcast(q):
    """sim_topk_ivfadc: the probe join against the encoded lists must be
    a broadcast of the (query, list) probe set — never a shuffle of the
    corpus on list_id — and the PQ encode must appear as a projection
    (no join) over the assigned corpus."""
    plan = _plan(q["sim_topk_ivfadc"], "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_dsir_gram_explosion_materialized_once(q):
    """dsir_importance: the gram explosion collapses into a
    localCheckpointed (doc, bucket, count) aggregate that BOTH the
    bucket-distribution branch and the per-doc scoring branch read — the
    final plan must contain zero parquet scans (corpus read exactly once
    at materialization), mirroring the mix_epoch_schedule discipline."""
    plan = _plan(q["dsir_importance"])
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan or "LogicalRDD" in plan


def test_bloom_bitmap_is_broadcast(q):
    """contamination_bloom: the Bloom probe must be a pure projection —
    the bounded bitmap inlined as one array constant (shiftright bit
    checks at the scan), never a join that shuffles the corpus on the
    probe index. The one broadcast join left is the exact-validation
    semi-join; no sort-merge join anywhere in the query."""
    plan = _plan(q["contamination_bloom"], "simple")
    assert "shiftright" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_int8_quant_dimstats_shape(q):
    """emb_int8_quant: dimension min/max stats must be partial-
    aggregated over the exploded scan (a groupBy(pos) that collapses to
    dim rows) and broadcast back — never a collect_list of whole
    vectors in one buffer (the emb_label_centroids rule), and never a
    shuffle of the exploded corpus on the dim key."""
    plan = _plan(q["emb_int8_quant"])
    assert "collect_list" not in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "partial_min" in plan and "partial_max" in plan


def test_anomaly_window_runs_over_daily_series(q):
    """events_anomaly_zscore: the trailing-28-day frame must be a RANGE
    frame (time-bounded even across calendar gaps) and must run above
    the partial-aggregated daily rollup — the window input is the tiny
    per-day series, not raw events."""
    plan = _plan(q["events_anomaly_zscore"])
    assert "RangeFrame" in plan, plan
    assert "partial_sum" in plan, plan


def test_funnel_steps_are_min_aggregates(q):
    """events_funnel: every funnel step reduces to a per-user MIN before
    joining — no window over raw events, no collect_list buffers; the
    one nested-loop join is the final one-row scalar combination."""
    plan = _plan(q["events_funnel"])
    assert "collect_list" not in plan, plan
    assert "partial_min" in plan, plan


def test_lm_bigram_count_tables_broadcast(q):
    """lm_bigram_score: the vocabulary-sized bigram/unigram count
    tables are the small sides of the scoring joins and must broadcast
    — a sort-merge join here would shuffle the held-out bigram stream
    twice for no reason."""
    plan = _plan(q["lm_bigram_score"], "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_pca_power_iteration_never_buffers_vectors(q):
    """emb_pca_power_iteration: the positional accumulation must be a
    partial-aggregated integer SUM after posexplode — never a
    collect_list of whole embedding vectors into one buffer (the
    emb_outlier_gate regression class), and the per-term quantization
    means no double-typed partial sums exist in the hot aggregate."""
    plan = _plan(q["emb_pca_power_iteration"])
    assert "collect_list" not in plan, plan
    assert "partial_sum" in plan, plan


def test_gate_attribution_drop_list_join_is_adaptive(q):
    """quality_gate_attribution: the drop list is corpus-proportional,
    so the contract is NOT "always broadcast" (that OOMs at 100 TB) —
    it is (a) the per-doc gate booleans ride the pair stage's carry
    cache, so the final job reads the InMemoryRelation and NEVER
    re-scans documents parquet (r13: one corpus scan for the whole
    pipeline); (b) the drop-list side reads the ONE materialized copy,
    never re-deriving the pair->CC lineage; and (c) at this SF the
    labels come from duplicate_clusters' cutover-bounded driver lane,
    whose broadcast hint plans the join as a broadcast."""
    plan = _plan(q["quality_gate_attribution"], "simple")
    assert "InMemoryTableScan" in plan, plan
    # no live parquet scan above the cached relation: the only FileScan
    # text allowed is inside the InMemoryRelation's embedded build plan
    top = plan.split("InMemoryRelation", 1)[0]
    assert "FileScan parquet" not in top, plan
    assert "Scan ExistingRDD" in plan, plan
    # small-SF: edges <= the driver cutover => broadcast-hinted labels
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "orders_gini_coefficient",
        "orders_rfm_segments",
        "revenue_concentration",
        "quality_classifier_calibration",
    ],
)
def test_no_global_window_over_unbounded_grain(q, name):
    """The customer/document-grain rank queries must use the two-phase
    distributed ordered scan (AGG.ordered_scan), never a by-less window
    that funnels the whole keyspace through one task: every window over
    data-grain rows is partitioned by the range-partition id (_pid),
    and the materialized (localCheckpoint) rank frame is what the plan
    reads. The only by-less windows allowed are post-aggregation
    decile-grain ones (<= 10 rows, revenue_concentration's shares)."""
    import re

    plan = _plan(q[name], "simple")
    assert "Scan ExistingRDD" in plan, plan
    specs = re.findall(r"windowspecdefinition\([^)]*", plan)
    for s in specs:
        assert "_pid" in s or "decile" in s or s.endswith(
            "windowspecdefinition(specifiedwindowframe(RowFrame, unboundedpreceding$("
        ), f"{name}: unpartitioned data-grain window: {s}"


def test_winnowing_single_scan_no_join(q):
    """dedup_winnowing: candidates come from the _bucket_pairs shape —
    ONE parquet scan feeding one shuffle on the fingerprint, pairs
    expanded in-expression — so the tokenize + per-gram md5 + winnow
    pipeline provably runs once and the plan contains NO join operator
    at all (the former self-join needed a checkpoint to avoid running
    the pipeline twice; this shape needs neither)."""
    plan = _plan(q["dedup_winnowing"], "simple")
    assert plan.count("Scan parquet") == 1, plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, plan


def test_backlog_is_interval_decomposed(q):
    """orders_backlog_daily: the backlog must come from two delta
    events per order + a running sum — never a days-cross-orders range
    join (no nested-loop/cartesian anywhere in the plan)."""
    plan = _plan(q["orders_backlog_daily"], "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_exact_quantiles_no_single_partition_data_sort(q):
    """lineitem_exact_quantiles: the total order must come from the
    two-phase ordered_scan count fold (range repartition + local rank +
    broadcast offsets over the checkpointed frame) — the plan reads the
    materialized index and contains no single-partition Exchange over
    data-grain rows (the only SinglePartition branch is the bounded
    per-partition-counts offsets window)."""
    plan = _plan(q["lineitem_exact_quantiles"], "formatted")
    assert "Scan ExistingRDD" in plan, plan
    # two bounded serial branches are legitimate: the per-partition-count
    # offsets window and the scalar COUNT(*) final aggregate — both take
    # aggregate-grain inputs, never data rows
    assert plan.count("SinglePartition") <= 2, plan


def test_cms_probe_broadcasts_sketch(q):
    """token_cms_heavy_hitters: the 4096-row sketch must reach the
    probe join as a broadcast — shipping the corpus to the sketch
    instead would shuffle vocabulary-grain rows twice."""
    plan = _plan(q["token_cms_heavy_hitters"], "simple")
    assert "BroadcastHashJoin" in plan, plan


def test_fuzzy_pairs_bounded_levenshtein(q):
    """customer_name_fuzzy_pairs: the edit distance must be the bounded
    variant (threshold pushed into the DP) and the length-band filter
    must sit below the join, so in-block pairs are pruned before any
    quadratic string work."""
    plan = _plan(q["customer_name_fuzzy_pairs"], "simple")
    assert "levenshtein" in plan, plan
    assert "Some(2)" in plan, plan  # bounded-DP threshold argument present


def test_pagerank_solves_bounded_graph_on_driver(q):
    """nation_trade_pagerank: the <=625-edge nation graph is solved by
    ONE driver-side integer power iteration over the collected ppm edge
    list (the dedup driver-union-find precedent) — the RETURNED plan is
    a local relation projection; the 5-table revenue star runs exactly
    once inside the collect, never in the output lineage, and no
    iteration joins/broadcast ladders remain."""
    plan = _plan(q["nation_trade_pagerank"], "simple")
    assert (
        "LocalTableScan" in plan
        or "LocalRelation" in plan
        or "Scan ExistingRDD" in plan
    ), plan
    # iterating on the driver leaves no fact-table scan and no join in
    # the final plan
    assert "FileScan parquet" not in plan, plan
    assert "Join" not in plan, plan


def test_weighted_median_prefix_sum_distributed(q):
    """lineitem_weighted_median_price: the running sum must come from
    the two-phase ordered_scan sum fold (range repartition + local
    cumsum + broadcast offsets over the checkpointed frame) — the plan
    reads the materialized frame and the only SinglePartition branches
    are the per-partition-totals offsets window and the scalar
    half-total aggregate, never the lineitem-grain rows."""
    plan = _plan(q["lineitem_weighted_median_price"], "formatted")
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("SinglePartition") <= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_pareto_rank_and_sum_share_one_scan(q):
    """orders_pareto_8020: the descending rank and the running revenue
    sum are two folds of ONE AGG.ordered_scan over the same order — the
    plan reads exactly one checkpointed range-partitioned frame, and no
    join on o_custkey stitches a second copy back on."""
    import re

    plan = _plan(q["orders_pareto_8020"], "formatted")
    rdds = set(
        re.findall(
            r"\) Scan ExistingRDD\nOutput .*\n"
            r"Arguments: \[[^\]]*\], (\w+\[\d+\])",
            plan,
        )
    )
    assert len(rdds) == 1, plan
    joins = [
        ln for ln in _plan(q["orders_pareto_8020"], "simple").splitlines()
        if "Join" in ln
    ]
    assert not [ln for ln in joins if "o_custkey" in ln], joins


def test_key_skew_percentiles_distributed(q):
    """events_key_skew_report: the exact p50/p99 of per-key counts run
    through AGG.exact_quantiles' ordered_scan rank — the plan reads the
    checkpointed rank frame, and every SinglePartition branch takes
    aggregate-grain input (offsets window, scalar maxima, the pivoted
    2-value percentile frame, the final 1-row assembly), bounded at 4."""
    plan = _plan(q["events_key_skew_report"], "formatted")
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("SinglePartition") <= 4, plan


def test_burstiness_topk_is_take_ordered(q):
    """text_term_burstiness: the top-30-by-cf selection must plan as
    TakeOrderedAndProject (per-partition heap + 30-row merge), never a
    global sort of the vocabulary, and the exact df must come from the
    two-level (term, doc_id) pre-aggregation, not a count_distinct
    expand."""
    plan = _plan(q["text_term_burstiness"], "simple")
    assert "TakeOrdered" in plan, plan
    assert "Expand" not in plan, plan
    assert plan.count("Sort ") <= 0 or "Sort [" not in plan.replace(
        "TakeOrdered", ""
    ), plan


def test_spearman_ranks_distributed(q):
    """stats_spearman_rank: BOTH total orders (by order count, by
    spend) must come from AGG.ordered_scan's checkpointed two-phase
    frames — the plan reads materialized rank frames and keeps
    SinglePartition branches to the two offsets windows plus the final
    scalar aggregate (3), never a customer-grain global sort."""
    plan = _plan(q["stats_spearman_rank"], "formatted")
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("SinglePartition") <= 3, plan
