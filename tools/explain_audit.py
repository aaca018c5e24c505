"""Plan audit: dump the physical plan of every catalog query and flag
scale anti-patterns.

Checks per query:
- parquet scans report PushedFilters / a pruned ReadSchema (projection
  reaches the scan);
- joins against small dims are BroadcastHashJoin, not SortMergeJoin;
- no CartesianProduct (BroadcastNestedLoopJoin is allowed only where the
  operator is an intentional broadcast cross join, e.g. brute-force
  similarity);
- WholeStageCodegen present (expressions stay JVM-side) unless the query
  is deliberately a Python (ArrowEvalPython / MapInPandas) stage.

Usage: PYTHONPATH=/root/repo python tools/explain_audit.py [query ...]
Writes the full formatted plans to tools/plans/<name>.txt and prints one
summary line per query; exits non-zero if any hard flag fires.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries whose plan is EXPECTED to contain a broadcast nested-loop/cross
# join (broadcasted query set / centroid set against the corpus) or a
# Python stage.
ALLOW_BNLJ = {
    "sim_topk_bruteforce",
    "sim_topk_ivf",
    # one-row normalizer (sum of source weights) broadcast against the
    # per-source aggregate — the scalar-subquery shape, not a data cross
    "mix_temperature_weights",
    "mix_materialize",
    # banded range join: 3-row band dim broadcast against the fact table,
    # each row tests the band predicates map-side — the intended shape
    "join_range_price_bands",
    # one-row exact-count x one-row merged-sketch-estimate cross — two
    # scalars, not data
    "agg_hll_mergeable",
    # one-row p95 threshold broadcast against the per-vector distances —
    # the scalar-subquery shape
    "emb_outlier_gate",
    # three one-row per-step user counts crossed into a single summary
    # row — scalar combination, not a data cross
    "events_funnel",
    # same scalar combination across the three attribution windows
    "events_funnel_sensitivity",
    # one-row vocabulary size V crossed into the smoothing denominator —
    # the scalar-subquery shape
    "lm_bigram_score",
    # both arms are the sim_topk_bruteforce shape: 10-row query set
    # broadcast-crossed against the corpus (full and truncated lanes)
    "emb_matryoshka_recall",
    # one-row total-order count crossed into the lift denominator —
    # the scalar-subquery shape
    "basket_part_pairs",
    # fixed-count (128) hash-ordered held-out sample broadcast-crossed
    # against the corpus — the sim_topk_bruteforce shape with a
    # CONSTANT broadcast side at any corpus size (r8 fix)
    "knn_label_vote",
    # same CONSTANT 128-anchor broadcast cross (the knn_label_vote
    # shape): nearest same/diff-label scan per anchor
    "emb_triplet_violation",
    # one-row total-doc-count crossed onto ranked rows for the exact
    # NTILE reconstruction — the scalar-subquery shape
    "doc_length_deciles",
    # 3-row context-window dim broadcast against per-doc token counts —
    # the banded-dim shape (join_range_price_bands)
    "tokens_context_fit",
    # 3-row capacity dim broadcast against per-doc pack offsets —
    # the banded-dim shape
    "pack_capacity_dial",
    # 3-row vocab-size dim + one-row token total crossed onto the
    # ranked type frequencies — banded-dim + scalar-subquery shapes
    "vocab_coverage_topk",
    # 3-row gap dim broadcast against per-event lag rows — banded-dim
    "events_session_gap_sensitivity",
    # 3-row vocab-size dim broadcast against the ranked token stream —
    # banded-dim
    "vocab_pruning_fairness",
    # |sources|^2 bounded-dim pair join (~20 sources) + one-row source
    # count cross — dim-sized, not data-sized
    "source_quality_rank_agreement",
    # one-row corpus token total crossed into the KL denominator —
    # the scalar-subquery shape
    "source_token_drift",
    # one-row normalizer triple (z3/z5/z7/n) crossed onto the
    # per-source aggregate — the scalar-subquery shape
    "mix_alpha_sensitivity",
    # one-row revenue total crossed onto the 12-month aggregate —
    # the scalar-subquery shape
    "orders_seasonality",
    # the exact arm reuses brute_force_topk: a 10-row query SAMPLE
    # broadcast-crossed against the corpus — the deliberate recall
    # measurement shape (same as sim_topk_bruteforce)
    "sim_ann_recall",
    # same recall-measurement shape, one exact arm per LSH table count
    "sim_ann_recall_2table",
    # 16-row centroid set broadcast-crossed against the corpus for the
    # coarse assignment — the sim_topk_ivf shape (stored-index variant)
    "sim_topk_ivf_indexed",
    # same 16-row centroid cross for the list ASSIGNMENT side; probe
    # selection itself is the shuffle-free inlined-centroid projection
    # (ivf_probes_mapside), so this is strictly fewer joins than
    # sim_topk_ivf
    "sim_topk_ivf_mapside",
    # same 16-row centroid cross for the SemDeDup cluster assignment
    "sim_semdedup",
    # 10-row query set broadcast-crossed against the PQ-encoded corpus —
    # the sim_topk_bruteforce shape over reconstructions
    "sim_topk_pq",
    # centroid cross (assignment) as in sim_topk_ivf, plus the 10-row
    # query probe cross — the composed IVFADC pipeline
    "sim_topk_ivfadc",
    # one-row corpus-total (nt, nr) cross against the 128-bucket
    # log-ratio table — the scalar-subquery shape
    "dsir_importance",
    # per-waterfill-round one-row (sat_alloc, z) broadcast against the
    # per-source aggregate — control-plane rows, not data
    "mix_epoch_schedule",
    # one-row global (min, max) score bounds broadcast for the phase
    # banding — the scalar-subquery shape
    "mix_curriculum",
    # one-row corpus-max broadcast for the pad-to-global counterfactual
    "pack_length_buckets",
    # k-row centroid set broadcast-crossed against the corpus per Lloyd
    # assignment round — the sim_topk_ivf shape, iterated
    "sim_kmeans_centroids",
    # 4-row threshold dim crossed with the one-row test-split total and
    # non-equi-joined to the (broadcast) per-doc overlap aggregate —
    # every BNLJ side is threshold- or aggregate-sized, never the corpus
    "contamination_threshold_sweep",
    # day-grain aggregate range self-join (<= 15 pairs per day): the
    # fact table is pre-collapsed to ~day-count rows before the
    # broadcast non-equi join, so the BNLJ sides are calendar-sized
    "orders_revenue_ewma",
    # 10-row query sample broadcast-crossed against the corpus — the
    # sim_topk_bruteforce shape scoring the exact baseline the ranked
    # metrics are computed over
    "retrieval_mrr_ndcg",
    # one-row order total crossed onto the 9-digit aggregate — the
    # scalar-subquery shape
    "stats_benford_check",
    # two one-row aggregates (edge count, triangle count) crossed onto
    # the one-row degree stats — three scalars, not data
    "dedup_graph_triangles",
    # one-row censor-horizon scalar crossed onto the user-grain
    # aggregate — the scalar-subquery shape (at-risk counts come from a
    # reverse running sum, not a second scalar cross)
    "events_km_survival",
    # 5-row query set broadcast-crossed against the corpus — the
    # sim_topk_bruteforce shape with a radius filter instead of a rank
    "sim_range_search",
    # |sources|-row non-equi pair join plus a 128-row bucket dim cross
    # — both BNLJ sides are source/bucket-sized, never the corpus
    "source_js_matrix",
    # one-row median scalar crossed onto the day-grain series — the
    # scalar-subquery shape
    "orders_runs_test",
    # two one-row token/bigram totals crossed onto the min-support
    # pair aggregate — scalars, not data
    "part_bigram_pmi",
    # 5-row percentile dim crossed with the one-row total count to
    # derive target ranks — scalar-subquery shape; the rank itself is
    # the distributed ordered_scan, never a single-partition sort
    "lineitem_exact_quantiles",
    # 5-row lag dim broadcast-crossed onto the day-grain aggregate —
    # calendar-sized sides, the orders_revenue_ewma shape
    "revenue_acf_lags",
    # two one-row scalars (median, MAD) crossed onto the day-grain
    # series — the scalar-subquery shape, twice
    "revenue_mad_outliers",
    # 10-row query set broadcast-crossed against the corpus for BOTH
    # base rankers — the sim_topk_bruteforce shape (the production
    # path swaps the IVF probe in for each ranker)
    "retrieval_rrf_fusion",
    # one-row hour-span scalar crossed onto the |event-types| aggregate
    # — the scalar-subquery shape
    "events_fano_factor",
    # 10-row anchor set broadcast-crossed against the corpus — the
    # sim_topk_bruteforce shape feeding both argmax windows
    "emb_hard_negatives",
    # fixed-count (128) hash-ordered anchor sample broadcast-crossed
    # against the corpus — the sim_topk_bruteforce shape feeding the
    # 2-NN rank window; CONSTANT broadcast side at any size (r8 fix)
    "emb_intrinsic_dimension",
    # one-row half-total target crossed onto the prefix-sum frame —
    # the scalar-subquery shape over ordered_scan's sum fold
    "lineitem_weighted_median_price",
    # one-row (p5, p95) threshold frame crossed onto the fact scan
    # before the clamp — the emb_outlier_gate shape
    "brand_winsorized_mean",
    # one-row scalar maxima crossed with the one-row pivoted exact
    # percentiles — two 1-row frames into the single summary row
    "events_key_skew_report",
    # one-row era totals crossed onto the bounded bucket-grain counts
    # — the scalar-subquery shape
    "orders_psi_price_drift",
    # one-row train-corpus normalizer (N_train, V) crossed onto the
    # test-vocabulary grain — the lm_bigram_score shape
    "lm_heldout_perplexity",
    # one-row (n, total) scalars crossed onto the customer-grain spend
    # frame — the scalar-subquery shape
    "orders_theil_index",
    # day-grain x day-grain sign-pair join — calendar-bounded on BOTH
    # sides at any corpus size (the orders_revenue_ewma contract)
    "stats_mann_kendall",
    # one-row tie-correction scalar crossed onto the one-row rank-sum
    # aggregate — scalars, not data
    "stats_kruskal_wallis",
    # 3-row k dim crossed with the 1000-row TakeOrdered head + two
    # scalar totals — constants, not data
    "text_ngram_coverage",
    # one-row (total, count) scalars crossed onto the decile frame
    "events_user_lorenz",
    # |labels|-row centroid table broadcast against the corpus — the
    # sim_topk_ivf coarse-assignment shape
    "emb_centroid_confusion",
    "emb_silhouette_centroid",
    # one-row (total, count) scalars crossed onto the prefix-sum frame
    "orders_pareto_8020",
    # day-grain x day-grain slope-pair join (calendar-bounded) plus the
    # one-row pair-count scalar cross
    "orders_theil_sen_slope",
    # one-row corpus return-rate scalar crossed onto the 25-brand frame
    "stats_bh_fdr",
    # one-row DOW-grand-total scalars crossed onto the day-grain frame
    # (the orders_seasonal_decompose/orders_dow_index shape)
    "orders_seasonal_strength",
    "orders_seasonal_decompose",
    "orders_dow_index",
    # one-row global-total scalars crossed onto bounded aggregates —
    # the scalar-subquery shape across the ordered_scan rewrites
    "orders_rfm_segments",
    "win_ntile_quartiles",
    "quality_classifier_calibration",
    "revenue_concentration",
    "quality_length_independence",
    # per-iteration one-row dangling-mass scalar cross (documented in
    # the pagerank docstring); every data join is broadcast
    "nation_trade_pagerank",
    # one-row layout totals crossed onto the 2-row layout comparison
    "layout_zone_map_skipping",
    # one-row (sum errors, sum events) scalars crossed onto day grain
    "events_p_chart",
    # one-row chain-size/dangling scalars per unrolled power iteration
    "events_markov_mixing",
    # one-row global token totals crossed onto |sources| rows
    "source_vocab_richness",
    # 4-row block-size dim broadcast-crossed onto the day-grain index —
    # calendar-bounded sides (the orders_revenue_ewma contract)
    "orders_hurst_rs",
    # 5-row lag dim cross onto day grain plus the one-row day-count
    # scalar cross — the revenue_acf_lags shape with a scalar tail
    "stats_ljung_box",
    # 3-row lag dim cross onto day grain — the revenue_acf_lags shape
    "orders_partial_autocorr",
    # day-grain x day-grain sign-pair join (a.day_no < b.day_no) plus
    # the one-row day-count scalar cross — calendar-bounded on both
    # sides (the orders_theil_sen_slope contract)
    "stats_kendall_tau_daily",
    # three one-row frames (sketch estimates, exact counts, exact
    # intersection) crossed into the single summary row — scalars,
    # not data (the agg_hll_mergeable shape)
    "vocab_hll_intersection",
    # |labels|-row centroid table broadcast against the corpus — the
    # emb_centroid_confusion coarse-assignment shape
    "emb_centroid_margin",
    # one-row dim-count scalar crossed onto the one-row pair summary
    "emb_covariance_offdiag",
    # one-row revenue total crossed onto the prefix-sum frame — the
    # scalar-subquery shape over ordered_scan's sum fold
    "orders_abc_class",
    # three one-row location scalars crossed onto the day-grain frame,
    # one per IRLS iteration — control-plane rows, not data
    "stats_huber_mean_daily",
    # one-row longest-island TakeOrdered crossed onto the one-row
    # island summary — two scalars, not data
    "orders_gaps_and_islands",
    # fixed-count (128) hash-ordered anchor sample broadcast-crossed
    # against the corpus (the knn_label_vote shape) plus the one-row
    # corpus-count scalar cross for the zero-inclusive moments
    "emb_hubness_skew",
    # one-row calendar-midpoint scalar crossed onto day grain — the
    # scalar-subquery shape
    "stats_chow_test",
    # one-row midpoint + two one-row period-count scalars crossed onto
    # customer grain for the exact-NTILE reconstruction — the
    # orders_rfm_segments shape
    "customer_migration_matrix",
    # one-row complete-block count crossed onto the 5-row treatment
    # rank sums — scalars, not data
    "stats_friedman_test",
    # 16-row centroid / 10-row query / 4-row probe-count dims
    # broadcast-crossed per arm — the sim_topk_ivf + sim_ann_recall
    # shapes, swept over four probe budgets
    "sim_ivf_probe_recall",
    # 3-row threshold dim broadcast-crossed onto the verified pair set
    # — a bounded dim against derived pairs, never the corpus
    "dedup_threshold_sensitivity",
    # per-FK-edge: one-row child totals crossed onto the one-row
    # orphan summary — 7 scalar pairs, not data
    "fk_violation_audit",
    # 4-row period dim broadcast-crossed onto day grain, then one-row
    # global-moment and max-power scalars crossed onto the 4-row
    # periodogram — calendar-bounded dims and scalars
    "orders_spectral_periodogram",
    # 5-row x 5-row broadcast theta-join (10 priority pairs) plus the
    # one-row pooled-MSW scalar — group-grain frames, not data
    "stats_tukey_hsd",
    # 5-row level dim broadcast-crossed onto day grain plus the
    # one-row total-energy scalar onto the 5-row energy frame
    "orders_haar_energy",
    # 64-row derandomized-draw dim broadcast-crossed onto the order
    # stream (map-side fan-out, combiner collapses pre-shuffle) plus
    # one-row observed/extreme scalars
    "stats_permutation_test",
    # one-row moment scalars crossed onto day grain and the one-row
    # argmax — the stats_chow_test scalar shape
    "stats_grubbs_outlier",
    # one-row node-count scalar crossed onto the one-row moment frame
    # (degree joins themselves are broadcast equi-joins)
    "graph_degree_assortativity",
    # one-row pooled-association scalar crossed onto |years|+1 strata
    "stats_simpson_paradox_audit",
    # one-row off-diagonal trace scalar crossed onto the one-row
    # diagonal trace frame — the emb_covariance_offdiag scalar tail
    "emb_effective_rank_pr",
    # ~100-row census date grid broadcast range-joined against order
    # intervals (each interval tests a constant number of sample
    # dates) plus one-row span/census scalars
    "orders_littles_law",
    # 5-row global segment distribution broadcast-crossed onto the
    # bounded QI-class grain
    "privacy_t_closeness",
    # one-row (bigram-type count, vocab size) scalar broadcast onto
    # the held-out bigram stream — the emb_hubness_skew scalar shape
    "lm_kneser_ney_bigram",
    # 4-row tolerance dim broadcast-crossed onto the measured-gap
    # probe grain — a bounded dial dim, the dedup_threshold shape
    "j1_asof_tolerance_curve",
    # 5-row threshold dim crossed onto the score value grain plus the
    # one-row totals scalar — dial dims and scalars, not data
    "quality_roc_auc",
    # two one-row summary frames (cluster-grain aggs) crossed into the
    # single readout row — scalars, not data
    "dedup_recluster_tighter",
}
PY_STAGE_OK = {
    "mm_decode_features",
    "p3_generator_handler",
    # The similarity/embedding family scores pairs in Arrow kernels, not
    # in interpreted JVM higher-order-function folds: one shared kernel
    # in operators/similarity.py (anchor collect, NULL row rule, exact
    # index-ordered cosine) serves brute_force_topk,
    # anchor_cosine_scores, l2sq_topn and assign_nearest_centroid, and
    # semdedup's grouped prune uses the same cosine. The Python stage is
    # the DELIBERATE compute lane (guide §4.2: batch-vectorized native
    # code beats row-at-a-time JVM expression evaluation); each lane
    # also pre-selects its top-k/argmax map-side, so the downstream
    # exchange carries ~k rows per query instead of |corpus| x |queries|.
    # Results are bit-identical to the expression lanes (Spark-side
    # round and rank windows decide) — parity-tested in
    # tests/test_arrow_exact_lanes.py and oracle-checked.
    "sim_topk_bruteforce",
    "sim_ann_recall",
    "sim_ann_recall_2table",
    "sim_ivf_probe_recall",
    "sim_topk_ivf",
    "sim_topk_ivf_mapside",
    "sim_topk_ivfadc",
    "sim_kmeans_centroids",
    "sim_semdedup",
    "emb_matryoshka_recall",
    "emb_hubness_skew",
    "emb_intrinsic_dimension",
    "emb_triplet_violation",
    "knn_label_vote",
}

# Queries whose plan legitimately contains a Window over an
# Exchange SinglePartition: the window's INPUT is a bounded,
# post-aggregation grain (calendar days, distinct values of a bounded
# domain, percentile/lag dims), so the single task sorts thousands of
# rows at ANY corpus scale — the same contract ALLOW_BNLJ encodes for
# broadcast shapes. Anything NOT listed here that plans a
# SinglePartition window is the classic 100 TB killer (a global sort
# funneling an unbounded grain through one task) and fails the audit;
# the distributed alternative is AGG.ordered_scan / exact_ntile.
ALLOW_GLOBAL_WINDOW: dict[str, str] = {
    # day-grain series (bounded by the calendar):
    "orders_cusum_changepoint": "day-grain prefix stats",
    "orders_runs_test": "day-grain sign sequence",
    "revenue_acf_lags": "day-grain lag joins",
    "orders_rolling_ols_slope": "day-grain rolling frame",
    "orders_seasonal_decompose": "day-grain centered trend window",
    "forecast_naive_mape": "day-grain APE ranks",
    "revenue_mad_outliers": "day-grain median/MAD ranks",
    "orders_seasonality": "month-grain cumulative share",
    "events_km_survival": "day-grain at-risk reverse sum",
    # distinct-value grain (bounded domains, collapsed before ranking):
    "stats_ks_two_sample": "value-grain ECDF merge",
    "stats_mann_whitney": "value-grain midranks",
    "stats_spearman_rank": "value-grain average ranks",
    "stats_kruskal_wallis": "value-grain midranks",
    "doc_length_histogram": "bucket-grain cumulative share",
    "stats_price_distribution": "value-histogram percentile walk",
    "orders_interpurchase_percentiles": "value-histogram percentile walk",
    # control-plane / dim-sized frames (rows ~ constants):
    "mix_epoch_schedule": "per-round source-count frame",
    "stats_bh_fdr": "25-row brand-grain BH ranks",
    "events_user_lorenz": "10-row decile cumulative share",
    "revenue_concentration": "10-row decile cumulative share",
    "orders_seasonal_strength": "day-grain centered trend window",
    "dsir_importance": "128-bucket log-ratio frame",
    "stats_daily_autocorr": "day-grain lag frame",
    "events_anomaly_zscore": "day-grain RANGE z frame",
    "nation_trade_matrix": "25x25 nation-pair frame",
    "events_time_to_convert": "hour-gap value-grain cumulative walk",
    "lang_source_chisq": "source x language contingency frame",
    "orders_backlog_daily": "day-grain open-order walk",
    "events_entropy_rate": "event-type transition frame",
    "stats_cramers_v": "bounded contingency-cell frame",
    "events_funnel": "3-step scalar frame",
    "heaps_law_fit": "log-log regression over sample points",
    # r8 adjudication of the r7 escape: the by-less row_number/count
    # windows run AFTER the groupBy collapse to day grain — the same
    # calendar-bounded contract as orders_cusum_changepoint
    "orders_hurst_rs": "day-grain index + day-count window",
}


def singlepartition_window(plan: str) -> bool:
    """True when a Window/WindowGroupLimit consumes an
    Exchange SinglePartition in the simple-mode plan tree — i.e. a
    global (by-less) window sort funneled through one task. Global
    AGGREGATES over SinglePartition (final HashAggregate of partial
    aggs) are fine and NOT flagged: they reduce, windows don't."""
    def _indent(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " +-:*":
            i += 1
        return i

    ents = [
        (_indent(ln), ln.strip(" +-:*"))
        for ln in plan.splitlines()
        if ln.strip()
    ]
    for idx, (depth, txt) in enumerate(ents):
        if not txt.startswith("Exchange SinglePartition"):
            continue
        # Walk the parent chain (nearest prior lines with smaller
        # indent): SinglePartition -> Sort -> Window is the flagged
        # shape; stop at the first parent that is neither Sort nor a
        # window operator (e.g. HashAggregate = legitimate global agg).
        d = depth
        sort_seen = ""
        for j in range(idx - 1, -1, -1):
            pd_, pt = ents[j]
            if pd_ >= d:
                continue
            d = pd_
            if pt.startswith(("Window", "WindowGroupLimit", "RunningWindowFunction")):
                # The two-phase ordered_scan / contiguous_pack
                # machinery (aggregations.ordered_scan, packing.py)
                # deliberately runs ONE by-less window —
                # over a per-partition/per-bucket TOTALS frame bounded
                # by the partition or bucket count, never by data. Its
                # signature is an INTERNAL underscore-prefixed sort key
                # (`_pid`, `_bucket`); exempt exactly that sort shape.
                if re.match(r"Sort \[_\w+#", sort_seen):
                    break
                return True
            if not pt.startswith("Sort"):
                break
            sort_seen = pt
    return False


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from slipstream_async_spark.plans.catalog import queries
    from slipstream_async_spark.session import get_spark

    spark = get_spark("explain-audit")
    only = set(sys.argv[1:])
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans")
    os.makedirs(out_dir, exist_ok=True)

    failures: list[str] = []
    for name, fn in queries().items():
        if only and name not in only:
            continue
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        plan_simple = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)

        flags: list[str] = []
        if (
            singlepartition_window(plan_simple)
            and name not in ALLOW_GLOBAL_WINDOW
        ):
            flags.append("SP-WINDOW")
        if "CartesianProduct" in plan:
            flags.append("CARTESIAN")
        if "BroadcastNestedLoopJoin" in plan and name not in ALLOW_BNLJ:
            flags.append("BNLJ")
        n_smj = plan.count("SortMergeJoin")
        n_bhj = plan.count("BroadcastHashJoin")
        scans = re.findall(r"Scan parquet[^\n]*", plan)
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        has_python = bool(re.search(r"MapInPandas|ArrowEvalPython|BatchEvalPython", plan))
        if has_python and name not in PY_STAGE_OK:
            flags.append("PYTHON-STAGE")
        n_codegen = len(
            set(re.findall(r"codegen id : (\d+)", plan))
            | set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
        )
        n_exch = plan.count("Exchange")

        status = "FLAG" if flags else "ok"
        print(
            f"{status:5} {name}: scans={len(scans)} bhj={n_bhj} smj={n_smj} "
            f"exchanges={n_exch} codegen_spans={n_codegen} "
            f"pushed={sum(1 for p in pushed if p.strip())}"
            + (f"  <<{','.join(flags)}>>" if flags else "")
        )
        if flags:
            failures.append(name)

    if failures:
        print(f"\n{len(failures)} flagged: {', '.join(failures)}")
        sys.exit(1)
    print("\nall plans clean")


if __name__ == "__main__":
    main()
