"""Scale probe: does the engine's behavior hold one scale factor up?

Synthesizes an sf1-equivalent dataset (10× sf0.1) under .scale/sf1 by
key-offset replication of the sf0.1 fixtures, then times the heaviest
bench queries at both scales and reports the wall-time ratio per query
plus plan-regime checks (no cross products; the same join strategies a
100 TB plan needs). A healthy result is a ratio near the data ratio
(~10×) or below for queries with sublinear output, with no plan flips.

Replication preserves each workload's *character* instead of naively
copying rows (naive copies would turn every document into a 10-way
near-duplicate and quadratically explode the dedup pair space — a
different workload, not a bigger one):

- relational tables: keys offset per replica (l_orderkey+K·rep etc.)
  keep joins 1:N-consistent; value distributions are untouched.
- documents: every word in replica r>0 gets a pure-alnum suffix
  ("wordx3") — token df shapes and text lengths are preserved while
  shingles/fingerprints stay distinct across replicas, so the duplicate
  structure per replica matches sf0.1 exactly.
- embeddings: replica r rotates each vector's dimensions by r —
  norm- and within-replica-similarity-preserving, cross-replica
  decorrelated.
- events: user_id offset per replica; per-user session shapes repeat.

Usage: python tools/scale_probe.py [--rebuild] [--reps N]
Writes SCALE.md at the repo root and prints one JSON line.

Policy: the FULL sweep (no --only) runs on the final tree EVERY round —
the r14 emb_coverage_score regression was caught only because of it.
A full regeneration rewrites the table but preserves, verbatim, every
line at or below the explicit `<!-- scale-probe:keep-below -->` marker
in SCALE.md (hand-written round readings live there); `--only` merges
rows into the existing table in place and never touches the rest.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1 = os.path.join(REPO, ".scale", "sf1")
REPLICAS = 10

# heaviest bench queries (BENCH_r04 + the r5 LLM-heavy additions), one per
# operator family whose scaling regime matters
PROBE = [
    "agg_percentiles",
    "dedup_jaccard_pairs",
    "join_q5_region_revenue",
    "events_sessionize",
    "dedup_winnow_pairs",
    "emb_cosine_topk",
    "fts_search_and",
    "doc_chunks",
    "text_passage_dedup",
    "text_bigram_logprob",
    # ANN / PQ family — the billion-vector path (r5 verdict ask #3)
    "emb_pq_topk",
    "emb_ivfpq_topk",
    "emb_semantic_dedup",
    # r6 additions with non-trivial scaling shape (gram join / window dedup)
    "corpus_decontaminate",
    "dedup_keep_best",
    # corpus-split + curriculum stages (r6 verdict ask #5)
    "corpus_split_assign",
    "corpus_curriculum_order",
    # r7 second-session additions: binary-Hamming ANN scan (per-corpus-row
    # cost must stay linear), trigram posting self-join (dictionary-sized,
    # must NOT scale with the fact table), Q7's double-dim fact join
    "emb_hamming_topk",
    "entity_match_trigram",
    "join_q7_nation_volume",
    # warehouse-maintenance + interval family: the DQ one-pass audit, the
    # rollup fold (must stay rollup-sized), the CDC snapshot window, and
    # the bucketed session-overlap join (pair volume is the risk)
    "dq_violation_report",
    "rollup_incremental_merge",
    "cdc_latest_snapshot",
    "events_concurrent_sessions",
    # session-3 additions: the distributed global rank (range partition +
    # offsets — the probe verifies no single-partition collapse creeps
    # in), the snapshot-diff full-outer join, the posting-list containment
    # variant, and the vocab semi-join OOV signal
    "corpus_shard_assign",
    "events_equidepth_bins",
    "snapshot_diff_orders",
    "dedup_containment_pairs",
    "text_oov_rate",
    # Gram matrix: the probe verifies the shuffle stays d²-sized (ratio
    # should track the map-side matmul, not the exchange)
    "emb_gram_matrix",
    # r7 fourth-session additions: bloom prefilter (the prefiltered fact
    # shuffle must scale with the MATCHING rows, not the fact table),
    # boilerplate strip (df-count on hashed tiles + text reassembly —
    # both linear in tiles), concat-and-chunk packing (global prefix sum
    # via range exchange; a single-partition collapse would flag here),
    # and fixed-point PageRank (5 × |E|-sized join/agg rounds; the edge
    # set is label-blocked so replicas keep pair volume linear)
    "join_bloom_prefilter",
    "text_boilerplate_removal",
    "corpus_concat_chunks",
    "graph_pagerank_neardup",
    # prefix filtering: candidate volume is the risk — rarest-first prefixes
    # must keep the candidate join off the frequent-shingle keys
    "dedup_prefix_filter_pairs",
    # bounded 5-row frame: per-row cost must stay O(k), linear overall
    "events_rolling_median",
    # cross-source passage matrix: pair volume rides the shared-tile df
    # cap, must not grow quadratically with the corpus
    "corpus_source_overlap",
    # late r7s4 additions — one-off 10x ratios recorded in NOTES.md this
    # round (bootstrap 6.6x, checksums 4.1x, winsorized 1.4x); folded in
    # here so the next full probe run covers them as first-class rows
    "agg_bootstrap_ci",
    "dq_range_checksums",
    "events_winsorized_mean",
    # r8 additions — the retrieval family after the TakeOrderedAndProject
    # top-k fix (the probe proves the new regime: ranked search must scale
    # with the posting semi-join, never a whole-corpus single-partition
    # sort), plus the fused RRF composition of it
    "fts_ranked_bm25",
    "fts_hybrid_rrf",
    # r8 new queries with non-trivial scale shape: the Q11 global-threshold
    # report (group + 1-row broadcast back) and the mergeable HLL rollup
    # (sketch partials must stay day-count-sized, never user-count-sized)
    "join_q11_important_stock",
    "events_hll_partial_merge",
    # r9: fold in the r8 ad-hoc one-off ratios (NOTES.md carried them
    # loose: dq_k_anonymity 1.02x, agg_mode_exact 0.79x,
    # text_sentence_stats 2.58x, dedup_clusters 2.80x) as first-class
    # rows, plus the new paged-retrieval and recursive-CTE front doors —
    # deep pages must cost top-(p·size), the CTE a fixed number of
    # bounded joins. emb_semantic_dedup (already probed above) is the
    # watch-list row: its last ratio was 10.03, exactly at the linear
    # boundary — re-characterize every probe run.
    "dq_k_anonymity",
    "agg_mode_exact",
    "text_sentence_stats",
    "dedup_clusters",
    "corpus_epoch_plan",
    "fts_ranked_paged",
    "sql_recursive_cte",
    # r10: the eight round-9 queries, probed as first-class rows. Scale
    # shapes to verify: the DQ audits are one-aggregate folds (RI now a
    # SINGLE fact scan — r9 #5) and must ride the scan; benford/welch
    # outputs are digit/type-bounded; novelty and leakage are gram- and
    # pair-keyed joins (candidate volume is the risk); pack efficiency
    # rides the prefix-sum packer; knn outliers ride the two-phase
    # top-k with a query-bounded final window.
    "dq_referential_integrity",
    "dq_uniqueness_keys",
    "dq_benford_first_digit",
    "events_ab_welch_ttest",
    "text_ngram_novelty",
    "corpus_split_leakage",
    "corpus_pack_efficiency",
    "emb_knn_distance_outliers",
    # r10 second batch: the new reports. Scale shapes to verify: lexical
    # diversity and gate ablation are scan-bound folds (ratio should ride
    # the scan); truncation audit is a per-row HOF fold with dim-bounded
    # output; heavy hitters is a TakeOrdered over the count agg; PSI /
    # trend / CUSUM aggregate to type- or day-bounded frames first;
    # markov is a per-user lag window + type²-bounded agg; session paths
    # shuffle path strings (bounded by session length); hard negatives
    # is the exact corpus × 50-anchor scan (linear in corpus).
    "text_lexical_diversity",
    "emb_dim_truncation_audit",
    "events_heavy_hitters_share",
    "events_psi_drift",
    "emb_hard_negatives",
    "corpus_gate_ablation",
    "events_markov_transitions",
    "events_trend_slope",
    "events_cusum_changepoint",
    "events_top_session_paths",
    # r10 third batch. Scale shapes to verify: mannwhitney windows over
    # DISTINCT (type, cents) values (value-space, not row-space);
    # chi2 reduces to r×c cells in one aggregate; key-skew rides the
    # exploded fact scan + one range exchange (global_rank); JSD fans
    # postings × (s−1) pairs then one grouped sum per pair; group-kfold
    # is the near-dup component rounds + a broadcast fold map.
    "events_mannwhitney_u",
    "events_chi2_independence",
    "dq_join_key_skew",
    "corpus_js_divergence",
    "corpus_group_kfold",
    # r10 fourth batch. Scale shapes to verify: kaplan-meier windows
    # only over the hour-granular duration frame (span-bounded, never
    # user/event-sized); calibration is one 10-group aggregate off a
    # 1-row broadcast; dedup-yield is one fingerprint groupBy + a
    # TakeOrdered top-20 with a 20-row window.
    "events_kaplan_meier",
    "events_score_calibration",
    "corpus_dedup_yield",
    # r10 fifth batch. Scale shapes to verify: basket-lift's pair blowup
    # is quadratic in basket width (<= 13) inside the orderkey-co-located
    # join; MAD runs on the value-space (type, cents, cnt) frame after
    # ONE events scan; coverage is a constant-k broadcast blowup folded
    # by same-stage partial max.
    "join_basket_lift",
    "events_mad_outliers",
    "emb_coverage_score",
    # r10 sixth batch. Scale shapes to verify: SPRT's only window runs
    # over the day-granular cumulative frame (observation span, never
    # event count); triangle census joins the ORDERED df-capped edge
    # list against itself twice (fanout bounded by cluster width).
    "events_sprt_monitor",
    "graph_triangle_count",
    # r10 seventh batch. Scale shapes to verify: attribution's interval
    # join is user-co-located with a purchase-keyed window; time-to-
    # convert reduces to user-keyed firsts then the distinct-minute
    # frame; seasonality aggregates the pinned (type, day) frame twice;
    # bucket cohesion is one posexplode to (bucket, dim) partial sums.
    "events_attribution_linear",
    "events_time_to_convert",
    "events_dow_seasonality",
    "emb_bucket_cohesion",
    # r10 eighth batch. Scale shapes to verify: SRM is one distinct-user
    # aggregate; schema drift is ONE fact scan into a 2-row aggregate;
    # the component histogram's post-pair work is cluster-table sized.
    "events_srm_check",
    "dq_schema_drift",
    "graph_component_histogram",
    # r10 ninth batch. Scale shapes to verify: cohort LTV's windows run
    # over the cohort x week-offset frame only; readability is one
    # codegen projection folded per source; the correlation's pair
    # basis is the candidate-bounded jaccard_pairs plan.
    "events_cohort_ltv",
    "text_readability",
    "corpus_quality_dup_corr",
    # r10 tenth batch. Scale shapes to verify: lead-time stats come
    # off the distinct-day frame; MDE and isotropy are one-aggregate
    # folds; code detection is a per-row regex projection folded per
    # source.
    "dq_lead_time_audit",
    "events_power_mde",
    "text_code_detection",
    "emb_isotropy_audit",
    # r10 eleventh batch. Scale shapes to verify: yoy windows run over
    # the month frame; RFM medians come off distinct-value frames
    # (never customer-count windows); the anomaly join is typesx7.
    "agg_yoy_growth",
    "join_customer_rfm",
    "events_anomaly_seasonal",
    # r10 twelfth batch. Scale shapes to verify: DAU/WAU/MAU runs on
    # the user-day frame (30x explode of user-days, never events);
    # vocab coverage is one tokenize+count then vocab-sized ranking.
    "events_dau_wau_mau",
    "text_vocab_coverage",
    # r10 thirteenth batch. Scale shapes to verify: scorecard ranks
    # via TakeOrdered (never a supplier-count window), dim joins a
    # 20-row frame; step timing stats ride distinct-minute frames.
    "join_supplier_scorecard",
    "events_funnel_step_timing",
    # r10 fourteenth batch. Scale shapes to verify: the sweep scores
    # candidates once and fans 5x over the PAIR frame; first-touch
    # rides the same user-co-located interval join as linear.
    "text_dedup_threshold_sweep",
    "events_attribution_first_touch",
    # r10 fifteenth batch. Both are scan-bound one-aggregate shapes;
    # ratios should ride the scan.
    "text_license_detection",
    "events_error_budget_burn",
    # r10 sixteenth batch. Concentration must ride the range-exchange
    # rank/cumsum pair, never a single-partition window.
    "agg_revenue_concentration",
    # r10 seventeenth batch. Abandonment rides the user-day frame;
    # the duplication audit is one natural-key aggregate.
    "events_cart_abandonment",
    "dq_event_duplication",
    # r10 eighteenth batch: rides the user-day frame.
    "events_new_vs_returning",
    # r11 additions — scaling risks worth a row each: the reconciliation
    # join (order-keyed, must track fact size linearly), bot detection
    # (user-partitioned lag window), the lag cross-join (day-spine-sized
    # — ratio must track the FIRST fold, not the spine), negative
    # sampling (candidate join keyed by part index), linear
    # interpolation (hour-spine windows — post-fold work is
    # calendar-bounded), the shuffle audit (global_rank + island
    # windows), ILD (top-k + constant pair stage), PMI (distinct-bigram
    # joins), the contingency-table purity fold, the passage-graph
    # degree census, and the two one-scan profiles
    "agg_price_volume_mix",
    "dq_order_total_reconciliation",
    "events_bot_detection",
    "events_lagged_crosscorr",
    "join_negative_sampling",
    "events_linear_interpolation",
    "corpus_shuffle_interleave",
    "emb_topk_diversity",
    "text_collocations_pmi",
    "emb_cluster_purity",
    "graph_degree_histogram",
    "dq_categorical_entropy",
    "events_transition_dwell",
    "events_churn_risk",
    "events_growth_accounting",
    "events_attribution_window_sweep",
    "events_velocity_burst",
    "emb_nearest_centroid",
    "emb_class_margin",
    "corpus_budget_waterfill",
    "events_ab_cuped",
    "dq_out_of_order_events",
    "agg_pareto_skyline",
    "events_dx_retention",
    "events_snaive_mase",
    "agg_discount_elasticity",
    "events_audience_overlap",
    "events_stl_decomposition",
    "dq_ingest_volume_anomaly",
    # round-12 additions, two waves: the 17-query main batch, then the
    # late-round queries appended as they landed (partition balance,
    # assortativity, markov attribution, inclusion deps, weighted
    # median, uplift/qini, diff-in-diff) — 26 names total
    "dq_sequence_gap_audit",
    "cdc_agg_incremental",
    "agg_abc_classification",
    "graph_link_prediction",
    "text_heaps_law",
    "text_term_burstiness",
    "events_target_encoding",
    "events_session_entropy",
    "events_max_drawdown",
    "dq_functional_dependency",
    "events_revenue_streaks",
    "emb_procrustes_alignment",
    "events_periodogram",
    "dq_numeric_correlation_matrix",
    "graph_kcore_peeling",
    "corpus_temperature_sweep",
    "dq_string_format_profile",
    "dq_feature_cross_cardinality",
    "agg_simpsons_paradox_screen",
    "dq_partition_balance",
    "graph_assortativity",
    "events_markov_attribution",
    "dq_inclusion_dependency",
    "agg_weighted_median",
    "events_uplift_qini",
    "events_diff_in_diff",
    "join_supplier_hhi_by_nation",
    "events_capacity_peaks",
    "text_filter_agreement_kappa",
    "emb_anova_norms",
    "emb_knn_reciprocity",
    # round-13 additions. Scale shapes to verify: the IVF knn form and
    # TwoNN ride bounded candidate generation (the vec_id<2000 cap is
    # the contract); silhouette is a broadcast-centroid map pass;
    # gini/theil are fold + global_rank/broadcast-stat shapes; the graph
    # pair ride the shared pinned co-purchase edges; keyness and CMS are
    # single token/key folds with bounded shuffle groups; PRF expansion
    # is a feedback-bounded posting semi-join.
    "emb_knn_outliers_ivf",
    "emb_silhouette",
    "emb_intrinsic_dim_twonn",
    "events_user_gini",
    "agg_theil_index",
    "graph_modularity",
    "graph_khop_reach",
    "text_source_keyness",
    "fts_query_expansion",
    "events_cms_frequency",
    # batch 3: ACF + Fano ride the day-grain fold (post-fold work is
    # calendar-sized); interarrival CV² is a user-keyed window + fold
    "events_acf_daily",
    "events_poisson_dispersion",
    "events_interarrival_cv",
    # batch 5: all three fold to types²/brand-bounded frames after one
    # shuffle (contingency fold, shared co-purchase edges, lag window)
    "events_mutual_information",
    "graph_conductance",
    "events_entropy_rate",
    # batch 7: hilbert key is a pure projection + TakeOrdered; bands ride
    # exact_percentiles' distinct-value shuffle; hapax is one token fold
    "layout_hilbert_key",
    "agg_percentile_bands_by_nation",
    "text_hapax_share_by_source",
    # paired rank test: (type,user) fold + value-grain |d| machinery
    "events_wilcoxon_signed_rank",
    # backlog sweep: order-keyed close fold, month-grain balance window
    "join_order_backlog_monthly",
    # batch 8 (r13): BH rides the welch fold (tests-frame windows only);
    # spearman is 4 value-grain prefix sums + one 14-moment fold; hurst
    # collapses to the hour grain then (size,block)-bounded windows
    "events_bh_fdr",
    "dq_spearman_correlation",
    "events_hurst_exponent",
    # batch 9 (r13, second wave): the gap sweep is one lag window + one
    # 5-counter fold; holt pivots the 30-day series onto ONE row and
    # runs the unrolled recursion as a single projection
    "events_sessionize_gap_sweep",
    "events_holt_forecast_backtest",
    # batch 10 (r14): KW is one value-grain prefix pass (grain-sized
    # exchange) + a one-hot ordered 4-term fold; the zone-map audit is
    # one union range exchange (3 layouts ranked in a single pass) +
    # 192x9 bounding-box counting
    "events_kruskal_wallis",
    "layout_zonemap_pruning_audit",
    # batch 11 (r15): tau-b folds entirely from the bounded joint value
    # grain (one map-side-combined scan; cell-pair self-join is
    # value-space-sized) — the probe pins that row-count independence;
    # the price pairs ride one narrow range-sort + an Arrow dominance
    # kernel — the probe pins the single-exchange O(N log N) shape
    "dq_kendall_tau",
    "dq_kendall_tau_price",
    # batch 12 (r16): the recall audit's cost is |queries|×N by design
    # (it computes the exact baseline), so the probe expects ~10× and
    # pins that the candidate equi-join stays a broadcast probe join
    "emb_ivf_recall_audit",
    # same |queries|×N exact-baseline contract for the hamming tier;
    # the shortlist/rerank half is sublinear (≤50·|queries| rows)
    "emb_hamming_recall_audit",
]

# Composed pipelines probed as a whole (not catalog queries): name →
# callable(spark, sf_dir) that runs the pipeline and returns when done.
# build_corpus chains quality→keep-best→MinHash/LSH→split→pack — the
# funnel's fingerprint/band shuffles are exactly where a skewed key would
# bite at 100×, so the END-TO-END ratio matters, not just per-stage rows.


def _probe_build_corpus(spark, sf_dir: str) -> None:
    import shutil
    import tempfile

    from sec_dl_spark.etl.corpus import build_corpus

    out = tempfile.mkdtemp(prefix="scale_corpus_")
    try:
        build_corpus(spark, sf_dir, out, seq_budget=512)
    finally:
        shutil.rmtree(out, ignore_errors=True)


PIPELINES = {"corpus_build_e2e": _probe_build_corpus}

# key spans safely above the sf0.1 max of each offset key
K = 10_000_000


def build_sf1(spark) -> None:
    from pyspark.sql import functions as F

    os.makedirs(SF1, exist_ok=True)
    reps = spark.range(REPLICAS).withColumnRenamed("id", "rep")

    def replicate(name: str, offsets: dict[str, int], transform=None):
        out = f"{SF1}/{name}.parquet"
        df = spark.read.parquet(f"{SF01}/{name}.parquet").crossJoin(reps)
        for col, span in offsets.items():
            df = df.withColumn(col, (F.col(col) + F.col("rep") * span).cast("long"))
        if transform is not None:
            df = transform(df)
        df.drop("rep").write.mode("overwrite").parquet(out)

    # dimensions shared by every replica: copy as-is
    for name in ("nation", "region", "part"):
        spark.read.parquet(f"{SF01}/{name}.parquet").write.mode("overwrite").parquet(
            f"{SF1}/{name}.parquet"
        )

    replicate("customer", {"c_custkey": K})
    replicate("supplier", {"s_suppkey": K})
    replicate("orders", {"o_orderkey": K, "o_custkey": K})
    replicate("lineitem", {"l_orderkey": K, "l_suppkey": K})
    replicate("events", {"event_id": K, "user_id": K})

    def suffix_words(df):
        words = F.split(F.col("text"), " ")
        tagged = F.transform(
            words,
            lambda w: F.when(F.col("rep") == 0, w).otherwise(
                F.concat(w, F.lit("x"), F.col("rep").cast("string"))
            ),
        )
        return df.withColumn("text", F.concat_ws(" ", tagged))

    replicate("documents", {"doc_id": K}, transform=suffix_words)

    def rotate_dims(df):
        dim = F.size(F.col("embedding"))
        r = F.col("rep") % dim
        rotated = F.when(F.col("rep") == 0, F.col("embedding")).otherwise(
            F.concat(
                F.slice(F.col("embedding"), r + 1, dim - r),
                F.slice(F.col("embedding"), 1, r),
            )
        )
        return df.withColumn("embedding", rotated)

    replicate("embeddings", {"vec_id": K}, transform=rotate_dims)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rebuild", action="store_true", help="regenerate .scale/sf1")
    ap.add_argument("--reps", type=int, default=2, help="timing reps (median)")
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query names: probe just these and merge their "
        "rows into the existing SCALE.md table (re-characterize a watch "
        "item without the ~25 min full sweep)",
    )
    args = ap.parse_args()

    import sys

    sys.path.insert(0, REPO)
    from sec_dl_spark.plans.catalog import load_all
    from sec_dl_spark.session import get_spark

    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()

    if args.rebuild or not os.path.exists(f"{SF1}/lineitem.parquet"):
        t0 = time.perf_counter()
        build_sf1(spark)
        print(f"# built {SF1} in {time.perf_counter() - t0:.0f}s", flush=True)

    # warm codegen/JIT off the timed path
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    specs["fts_search_and"].spark_fn(spark, "/root/testdata/sf0.001").collect()

    names = PROBE + list(PIPELINES)
    if args.only:
        wanted = [n.strip() for n in args.only.split(",") if n.strip()]
        unknown = [n for n in wanted if n not in names]
        if unknown:
            raise SystemExit(f"--only names not in PROBE/PIPELINES: {unknown}")
        names = wanted

    result: dict[str, dict] = {}
    for name in names:
        pipeline = PIPELINES.get(name)
        times = {}
        plans = {}
        for label, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
            samples = []
            for _ in range(args.reps if pipeline is None else 1):
                t0 = time.perf_counter()
                if pipeline is not None:
                    pipeline(spark, sf_dir)
                else:
                    specs[name].spark_fn(spark, sf_dir).collect()
                samples.append(time.perf_counter() - t0)
            times[label] = round(statistics.median(samples), 3)
            if pipeline is not None:
                plans[label] = ""
                continue
            plans[label] = (
                specs[name]
                .spark_fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        ratio = round(times["sf1"] / times["sf0.1"], 2) if times["sf0.1"] else None
        flags = []
        if "CartesianProduct" in plans["sf1"]:
            flags.append("cartesian-product-at-sf1")
        # a broadcast join that silently became a sort-merge join at sf1 is
        # a regime flip worth knowing about (expected for fact-fact only)
        b01 = plans["sf0.1"].count("BroadcastHashJoin")
        b1 = plans["sf1"].count("BroadcastHashJoin")
        if b1 < b01:
            flags.append(f"broadcast-joins {b01}->{b1}")
        result[name] = {
            "sf0.1": times["sf0.1"],
            "sf1": times["sf1"],
            "ratio": ratio,
            "flags": flags,
        }
        print(f"# {name}: {times['sf0.1']}s -> {times['sf1']}s ({ratio}x) {flags}", flush=True)

    print(json.dumps({"data_ratio": REPLICAS, "queries": result}))

    md_path = os.path.join(REPO, "SCALE.md")
    if args.only and os.path.exists(md_path):
        # merge the re-probed rows into the existing table in place
        with open(md_path) as f:
            out_lines = f.read().splitlines()
        seen = set()
        last_row = None
        for i, line in enumerate(out_lines):
            parts = [p.strip() for p in line.split("|")]
            if len(parts) >= 6 and parts[1] not in ("query", "---"):
                last_row = i
                if parts[1] in result:
                    seen.add(parts[1])
                    r = result[parts[1]]
                    out_lines[i] = (
                        f"| {parts[1]} | {r['sf0.1']} | {r['sf1']} | {r['ratio']} | "
                        f"{', '.join(r['flags']) or '—'} |"
                    )
        # names not yet in the table (newly probed queries) append after
        # the last existing row so the table stays one block
        new_rows = [
            f"| {n} | {r['sf0.1']} | {r['sf1']} | {r['ratio']} | "
            f"{', '.join(r['flags']) or '—'} |"
            for n, r in result.items()
            if n not in seen
        ]
        if new_rows and last_row is not None:
            out_lines[last_row + 1 : last_row + 1] = new_rows
        with open(md_path, "w") as f:
            f.write("\n".join(out_lines) + "\n")
        return

    lines = [
        "# SCALE — sf0.1 → sf1 probe (10× data)",
        "",
        "Generated by `python tools/scale_probe.py` (synthesized sf1 under",
        "`.scale/sf1`, see that file's docstring for how replication keeps each",
        f"workload's character). Timings are medians of {args.reps} reps on",
        "local[32]; `ratio` is sf1/sf0.1 wall-time against a 10× data ratio.",
        "A ratio ≤ ~10 with no flags means the plan held its regime; well",
        "below 10 means fixed costs (codegen, stage scheduling) still",
        "dominate at sf0.1 and the operator has headroom.",
        "",
        "| query | sf0.1 (s) | sf1 (s) | ratio | flags |",
        "|---|---|---|---|---|",
    ]
    for name, r in result.items():
        lines.append(
            f"| {name} | {r['sf0.1']} | {r['sf1']} | {r['ratio']} | "
            f"{', '.join(r['flags']) or '—'} |"
        )
    lines.append("")
    # A full regeneration must not eat the hand-written round readings
    # below the table (the r14 full sweep clobbered them and they had to
    # be restored from git). Carry-over anchors on an EXPLICIT marker
    # line, not the first '## ' heading (ADVICE r14 #5: a heading
    # anchor resurrects deliberately-deleted sections and would
    # duplicate content if the generated preamble ever grew a '## '
    # line). Everything at/below the marker is preserved verbatim; a
    # marker is written even when absent so the next regen has one.
    MARKER = "<!-- scale-probe:keep-below -->"
    kept = [MARKER]
    if os.path.exists(md_path):
        with open(md_path) as f:
            old = f.read().splitlines()
        if MARKER in old:
            kept = old[old.index(MARKER):]
    lines.extend(kept)
    while lines and lines[-1] == "":
        lines.pop()
    with open(md_path, "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
