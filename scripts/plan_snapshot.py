"""Regenerate PLANS_SNAPSHOT.md: the physical plans Catalyst actually
produces for a representative slice of the headline queries, as
machine-generated evidence for the hand-written audits in PLANS.md.

Run: python scripts/plan_snapshot.py  (writes PLANS_SNAPSHOT.md)
"""
from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mdataframe_spark.cache import release_caches
from mdataframe_spark.queries import EXTRA_QUERIES, QUERIES
from mdataframe_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# query -> the property the snapshot should make checkable
PICKS = [
    ("q1_pricing_summary", "partial agg below ONE exchange; shipdate filter pushed to scan"),
    ("f1_filter_dsl", "compiled DSL predicate in PushedFilters; pruned ReadSchema"),
    ("j_generic_join_q3", "dimension joins broadcast"),
    ("dd_minhash_lsh", "bucket-array pairing: one signature groupBy, one bucket groupBy, no self-join"),
    ("txt_unigram_lm", "vocab top-K via TakeOrderedAndProject, broadcast re-join"),
    ("sim_cosine_topk", "broadcast nested loop + per-query top-k window"),
    ("dd_semantic_dedup", "broadcast centroid argmax; triangle (cluster,i,j) pair join"),
    ("st_sessionize", "single per-key window cascade"),
    ("ml_dbscan_classes", "broadcast build side; pair frame persisted once, no second candidate explode"),
    ("dd_substring_spans", "k-gram count + left-semi seed join; NO doc-pair join; islands windowed per doc"),
    ("ds_dsir_select", "model shuffles bounded by n_buckets; broadcast log-ratio join; Gumbel top-k as TakeOrderedAndProject"),
    ("txt_char_entropy", "one ArrowEvalPython over the scan — zero exchanges"),
    ("ds_corpus_profile", "ONE group-bounded partial-agg exchange incl. exact percentiles"),
    ("sim_centroid_outliers", "labels x dim centroid agg; broadcast centroids; codegen dot scoring"),
    ("txt_zipf_fit", "token-count groupBy then model-sized rank window + 5-scalar fit agg"),
    ("dd_corpus_diff", "one full-outer SortMergeJoin over 2-column projections"),
    ("ml_auc_value", "corpus collapses in the distinct-score groupBy; integer rank sums above it"),
    ("e_funnel", "user-bounded min-agg stages chained by equi-joins; no per-user arrays"),
    ("sk_bloom_decontaminate", "gram stream probed by an ArrowEvalPython bitset map — no eval join on the bloom side"),
    ("dd_fuzzy_match", "q-gram cap keep-join then bucket-array pairing; codegen levenshtein verify"),
    ("rec_copurchase", "capped basket buckets; pair explode + partial-agg count; broadcast totals"),
    ("ds_bootstrap_ci", "explode x B fan-out repartitioned before the md5 map; ONE replicate groupBy"),
    ("dim_scd2_merge", "one full-outer key join; three projections of the same persisted frame"),
    ("txt_pii_scrub", "chained regexp count/replace in ONE codegen projection over the scan — zero exchanges"),
    ("gr_triangle_count", "degree-oriented wedge join; hub fan-out bounded by orientation"),
    ("ds_zorder_layout", "Morton interleave as one codegen projection — zero exchanges"),
    ("txt_tfidf_topk", "corpus collapses in the (doc, term) count; broadcast idf; per-doc top-k window"),
    ("dim_incremental_agg", "one full-outer key join merges stored + delta partial aggregates"),
    ("dq_robust_outliers", "two group-bounded percentile aggs broadcast back; deviation frame reused via InMemoryRelation"),
    ("dq_referential_integrity", "broadcast parent key sets; conditional-count agg per edge"),
    # round 8
    ("j_q4_priority", "left-semi join with equi key + both-sides inequality; quarter filter pushed to the orders scan"),
    ("j_q15_top_supplier", "1-row max broadcast back on equality — no unpartitioned window"),
    ("j_q18_large_orders", "HAVING aggregate broadcast-semi back to the fact"),
    ("ml_ols_fit", "ONE partial-agg moment exchange; Cramer solve as a codegen projection of the one-row frame"),
    ("ml_confusion_nc", "labels x dim centroid agg; broadcast argmax scoring; metrics on the classes^2 matrix"),
    ("stat_spearman", "two distinct-value rank blocks joined back by value; decimal-exact Pearson on doubled ranks"),
    ("dim_cdc_apply", "ONE partial-agged max-struct groupBy — no per-key window sort"),
    ("dim_snapshot_diff", "one full-outer key join; classification is a projection"),
    ("gr_jaccard_linkpred", "HYBRID: the size-gated driver arm fires at this scale (collected model-sized edge list -> ExistingRDD scan); above small_graph_max=2M the distributed hub-capped wedge plan runs — certified by SCALE.md, which forces small_graph_max=0"),
    ("e_event_transitions", "one user-partitioned lead window; types^2-bounded groupBy"),
    ("j_q6_forecast_revenue", "all three range predicates in PushedFilters; one-row conditional agg"),
    ("stat_anova_oneway", "one partial-agged per-group moment pass; sums of squares over the k-row table"),
    ("sk_countmin_gate", "md5 position explode + ONE cell groupBy; broadcast cells probed; lazy scalar total"),
    ("e_seasonal_profile", "one (type, hour) partial-agged groupBy; index over the types x 24 table"),
    ("dq_candidate_keys", "one Expand-stage aggregation for every tuple count-distinct; constant unpivot"),
    ("ml_gain_deciles", "size probe, then unpartitioned ntile (exact equal-count buckets; the range-partitioned rank only above SINGLE_REDUCER_MAX_ROWS)"),
    ("sim_embedding_drift", "two labels x dim centroid aggs; labels-bounded full-outer join; codegen dot"),
    ("dim_scd2_history_compact", "one key-partitioned window island pass + one (key, run) groupBy — single shuffle"),
    # round 9
    ("ts_acf_hourly", "ONE bucket groupBy collapses the corpus; lag join + scalar broadcast over the model-bounded series"),
    ("ts_ewma_purchases", "constant-size weight-ladder cross join (broadcast); series-membership semi join; exact-decimal products"),
    ("e_rfm_scores", "ONE per-user partial-agged groupBy; 1-row max-ts broadcast; size probe, then ntile over the cached user table (range-partitioned rank only above SINGLE_REDUCER_MAX_ROWS)"),
    ("e_attribution_credit", "user-key equi join with range filter; the three credit models share one (user, conversion)-partitioned window shuffle"),
    ("dq_benford", "ONE digit groupBy (≤9 rows out); 9-row spine + 1-row total broadcast"),
    ("gr_assortativity", "edge distinct + node-bounded degree agg broadcast twice; decimal moment sums in one final agg"),
    ("rec_association_rules", "all corpus work inside the shared co_occurrence path; 2x union of the PAIR table; top-k TakeOrderedAndProject"),
    ("sim_scalar_quantization", "two partial-agged corpus passes (per-dim min/max, then error agg); dim-bounded stats broadcast"),
    ("dim_zonemap_stats", "min/max/count monoids collapse map-side to zone-count rows; pruning is a projection"),
    ("ds_weighted_reservoir", "zero-shuffle md5 priority expression; top-k as TakeOrderedAndProject"),
    ("gr_kcore", "per round: one degree groupBy + two broadcast semi joins; LogicalRDD leaves from the per-round localCheckpoint"),
    ("sk_quantile_gate", "ONE cell groupBy + ONE exact-percentile agg; cumsum/crossing/interpolation on ≤ n_bins broadcast rows"),
    ("dq_completeness_profile", "ONE Expand-stage multi-distinct aggregation over ONE scan; stack unpivot of the 1-row result"),
    # round 10
    ("pipe_fineweb_recipe", "the five-stage curation recipe as ONE lineage: fused gate projection, keep-min semi join, df-capped LSH band pairing, anti join, zero-shuffle md5 draw, shard-keyed packing window; survivor frames pinned once (InMemoryRelation)"),
    ("stat_kruskal_wallis", "ONE (value,group) cell groupBy; midrank window + decimal rank sums over the distinct-value table"),
    ("stat_kendall_tau", "ONE (x,y) cell groupBy; cells-squared inequality join over the model-sized cell table"),
    ("dq_gini_concentration", "ONE (group,value) block groupBy; per-group cumsum window bounded by distinct values"),
    ("ts_mase_hourly", "ONE bucket groupBy; two lag equi-joins over the bucket table; exact-decimal diff sums"),
    ("e_kaplan_meier", "per-user monoid collapse + step-table groupBy; ordered-window collect_list fold (IEEE-exact survival)"),
    ("e_cuped_adjust", "per-user pre/post decimal collapse; two group-bounded moment aggs; broadcast midpoint + pooled moments"),
    ("stat_wasserstein", "ONE distinct-value block groupBy; decimal CDF cross-products; broadcast group totals"),
    ("ts_mann_kendall", "ONE bucket groupBy; series-squared inequality join with integer sign sums"),
    ("sk_join_size_gate", "two cell groupBys + cells-sized inner-product join; exact side joins two per-key count tables"),
    ("e_log_rank", "persisted step table feeds two cumulative risk windows + decimal term sums (one corpus pass)"),
    ("e_rmst", "KM fold over the persisted step table; lag/lead segment windows; decimal rectangle sums"),
    ("e_winsorized_lift", "groups-bounded percentile agg broadcast back onto units; decimal clamp sums"),
    ("dq_covariate_balance", "Generate-stack unpivot in ONE scan; (covariate, arm) decimal moment collapse"),
    ("e_eb_ctr_shrinkage", "persisted per-key table feeds the prior probe and the shrink projection; broadcast 1-row prior"),
    ("txt_source_jsd", "persisted (group, token) counts; TakeOrderedAndProject vocab; grid left join + broadcast totals"),
    ("stat_friedman", "user×type grid; per-block tie collapse; block-partitioned rank windows (no global sort)"),
    ("ts_page_hinkley", "ONE bucket collapse; ordered decimal cumsum + U/running-min windows over the series table"),
    # --- round-12 wave picks ---
    ("w_by_fdr_scale", "w_by_fdr itself: size probe, then the window arm (the range-partitioned BY runs only above SINGLE_REDUCER_MAX_ROWS)"),
    ("ts_ljung_box", "persisted bucket series shared by lag join + moments + length (InMemoryRelation, one collapse)"),
    ("gr_degree_distribution", "degree collapse -> persisted histogram; CCDF window + Hill sum histogram-bounded"),
    ("dq_format_patterns", "translate/substr class mask pure codegen; one groupBy; TakeOrderedAndProject top-k"),
    ("e_conversion_lag", "ONE per-user conditional-min collapse; users-bounded percentile agg; no window"),
    ("stat_cohens_kappa", "persisted (a,b) cell table feeds margins + agreement; full-outer margin join cells-bounded"),
    # --- round-13 wave picks ---
    ("pipe_training_mix", "dedup keep-min semi join -> broadcast eval-gram anti probe -> zero-shuffle md5 mixture draw -> source-keyed packing window; both survivor frames pinned once (InMemoryRelation)"),
    ("stat_cvm", "guarded rank blocks: persisted distinct-value table (count probe) feeds the cumulative window + broadcast totals; decimal cross-product sum"),
    ("w_storey_qvalue", "pi0 as a 2-integer probe; q-values ride the identical BH suffix-min window times a literal"),
    ("gr_clustering", "triangle_count's oriented wedge join; global summary is ONE node-bounded aggregation above it"),
    ("e_interevent_burstiness", "ONE user-partitioned lag window (corpus shuffles once on the user key); scalar moment agg"),
    ("txt_heaps_law", "two token-stream collapses (bucket sums + first-occurrence min); cumulative + OLS over the 16-row spine"),
    ("ts_cross_correlation", "two bucket collapses; broadcast lag spine + broadcast series join; per-lag decimal Pearson pieces"),
    ("dq_ingest_gaps", "ONE bucket groupBy; lag window over the observed-bucket table only — spine never materialized"),
]

ADDR = re.compile(r"#\d+L?|\[plan_id=\d+\]")


def main():
    spark = get_spark("plan_snapshot", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    all_q = {**QUERIES, **EXTRA_QUERIES}
    out = [
        "# PLANS_SNAPSHOT — machine-generated physical plans",
        "",
        "Generated by `python scripts/plan_snapshot.py` at sf0.001 "
        "(plan SHAPE is scale-independent; AQE may re-plan exchanges at "
        "runtime). Expression ids/plan ids stripped. Read together with "
        "PLANS.md, which explains WHY each shape is the one you want at "
        "100 TB.",
        "",
    ]
    for name, why in PICKS:
        df = all_q[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = ADDR.sub("", plan)
        # keep the structural lines, drop the longest expression spam
        lines = [
            ln if len(ln) <= 200 else ln[:197] + "..."
            for ln in plan.splitlines()
        ]
        out.append(f"## {name}")
        out.append(f"_Checkable claim: {why}_")
        out.append("")
        out.append("```")
        out.extend(lines)
        out.append("```")
        out.append("")
        release_caches()
    Path(__file__).resolve().parent.parent.joinpath("PLANS_SNAPSHOT.md").write_text(
        "\n".join(out)
    )
    print(f"wrote PLANS_SNAPSHOT.md ({len(PICKS)} plans)")


if __name__ == "__main__":
    main()
