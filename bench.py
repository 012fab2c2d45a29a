"""Benchmark harness: the HEADLINE query suite plus a table of A/B arms,
over the fixtures in $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], $SPARK_GRAFT_BENCH_REPS reps (default 3).

Prints ONE JSON line, kept under 1.5 KB so a bounded stdout tail cannot
clip its head:
  {"metric": "...", "value": <total sec>, "unit": "sec", "sf": <sf>,
   "n_queries": N, "queries": {3 slowest: sec}, ...scalar ratios...,
   "full_artifact": "BENCH_LAST.json"}
The full result object goes to BENCH_LAST.json next to this file, with a
`lineage` object (cpus, nproc, sf_dir, reps, git_sha) saying where it came
from. Nothing else is written; to keep a run, copy BENCH_LAST.json under a
name of your choosing.

Headline set: one representative per operator family whose cost scales with
the data (scan+agg, multi-way join, range join, window, rollup, event
sessionization + as-of, FTS index build+search, dedup fingerprint + blocked
jaccard, vector top-k, text stats), plus the LLM-pipeline heavy path
(winnowing pairs, PQ retrieval, PII redaction, corpus filtering, BM25
ranking) — the operators the 100 TB training-data story rests on. Each
timing covers logical plan → execution → collect of the (small) result.

Arms: ARMS is the table of A/B pairs. Each `Arm` names its object in the
artifact, its two sides in call order, its ratio (key, numerator,
denominator), its reducer over reps, and whether it is timed inside the
suite loop or in a block of its own; the comment above each record says
what its ratio means. `ab_hamming_vs_cosine` is not an arm: it is the ratio
of two suite medians. Timed order: the corpus_e2e block (2 reps), the
append_delta one-shot, the suite loop (every query, then the in-suite
sides), the ann_serving block (max(reps, 5) reps), then the redo levels.

Timing: `interleave` is the one runner. Rep k of every call runs before rep
k+1 of any, each call timed alone with perf_counter; a call's fixture (temp
directories, a stream to start) is built and removed outside the timed
region. The host shows ±40% run-to-run swings from hypervisor CPU steal, so
one query's reps are separated by a full suite pass and never share one
host-weather window. Per-query numbers are medians; the `noise` object keeps
the spreads, the raw reps and the CPU steal over the timed run. A query whose
spread exceeds 50% of its median is re-timed by `redo`, interleaved over the
flagged names only.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass
from functools import partial
from typing import Callable

# Order matters: every rep runs the queries in this order, so a query's
# cache state depends on the ones before it. New names go at the end, which
# leaves every existing query's timing comparable across runs.
HEADLINE = [
    "q1_pricing_summary",
    "join_q3_topk",
    "join_q5_region_revenue",
    "join_range",
    "agg_rollup",
    "agg_distinct",
    "window_running_sum",
    "topk_per_group",
    "agg_percentiles",
    "events_tumbling_hourly",
    "events_sliding_window",
    "events_sessionize",
    "events_asof_join",
    "fts_search_and",
    "fts_top_df_tokens",
    "text_token_stats",
    "doc_chunks",
    "dedup_exact",
    "dedup_jaccard_pairs",
    "emb_cosine_topk",
    "dedup_winnow_pairs",
    "emb_pq_topk",
    "text_pii_redact",
    "corpus_filter_pipeline",
    "fts_ranked_bm25",
    "text_duplicate_ngram_fraction",
    "corpus_dsir_resample",
    "text_quality_quantile_by_lang",
    "emb_hamming_topk",
    "entity_match_trigram",
    "join_q7_nation_volume",
    "dq_violation_report",
    "rollup_incremental_merge",
    "cdc_latest_snapshot",
    "corpus_shard_assign",
    "events_equidepth_bins",
    "snapshot_diff_orders",
    "emb_gram_matrix",
    "join_bloom_prefilter",
    "text_boilerplate_removal",
    "corpus_concat_chunks",
    "graph_pagerank_neardup",
    "agg_bootstrap_ci",
    "dq_range_checksums",
    "text_lexical_diversity",
    "events_psi_drift",
    "events_markov_transitions",
    "emb_hard_negatives",
    "corpus_gate_ablation",
    "events_trend_slope",
    "events_cusum_changepoint",
    "events_top_session_paths",
    "events_mannwhitney_u",
    "events_chi2_independence",
    "dq_join_key_skew",
    "corpus_js_divergence",
    "corpus_group_kfold",
    "events_kaplan_meier",
    "events_score_calibration",
    "corpus_dedup_yield",
    "join_basket_lift",
    "events_mad_outliers",
    "emb_coverage_score",
    "events_sprt_monitor",
    "graph_triangle_count",
    "events_attribution_linear",
    "events_time_to_convert",
    "events_dow_seasonality",
    "emb_bucket_cohesion",
    "events_srm_check",
    "dq_schema_drift",
    "graph_component_histogram",
    "events_cohort_ltv",
    "text_readability",
    "corpus_quality_dup_corr",
    "dq_lead_time_audit",
    "events_power_mde",
    "text_code_detection",
    "emb_isotropy_audit",
    "agg_yoy_growth",
    "join_customer_rfm",
    "events_anomaly_seasonal",
    "events_dau_wau_mau",
    "text_vocab_coverage",
    "join_supplier_scorecard",
    "events_funnel_step_timing",
    "text_dedup_threshold_sweep",
    "events_attribution_first_touch",
    "text_license_detection",
    "events_error_budget_burn",
    "agg_revenue_concentration",
    "events_cart_abandonment",
    "dq_event_duplication",
    "events_new_vs_returning",
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
    "dq_sequence_gap_audit",
    "cdc_agg_incremental",
    "graph_link_prediction",
    "text_heaps_law",
    "events_periodogram",
    "dq_numeric_correlation_matrix",
    "graph_kcore_peeling",
    "graph_khop_reach",
    "agg_theil_index",
    "events_user_gini",
    "text_source_keyness",
    "emb_silhouette",
    "events_cms_frequency",
    "events_acf_daily",
    "events_poisson_dispersion",
    "events_interarrival_cv",
    "events_bh_fdr",
    "dq_spearman_correlation",
    "events_hurst_exponent",
    "events_sessionize_gap_sweep",
    "events_holt_forecast_backtest",
    "events_kruskal_wallis",
    "layout_zonemap_pruning_audit",
    "dq_kendall_tau",
    "dq_kendall_tau_price",
    "emb_ivf_recall_audit",
    "emb_hamming_recall_audit",
]


@dataclass(frozen=True)
class Arm:
    key: str  # the arm's object in BENCH_LAST.json
    sides: tuple[str, str]  # call names, in call order
    ratio: tuple[str, str, str]  # (key, numerator side, denominator side)
    reduce: Callable[[list[float]], float] = statistics.median
    in_suite: bool = True  # timed inside the suite loop, else in its own block


ARMS = (
    # IVF-PQ candidate scoring on the serving path (build_ivfpq_index runs
    # once, untimed; both sides run ivfpq_topk over the same index and
    # queries): "adc" is the per-query lookup-table kernel (m probes per
    # candidate), "decode" reconstructs then takes the cosine (dim-element
    # work per candidate). The sides differ only in the scoring kernel.
    Arm("ab_adc_vs_decode", ("adc", "decode"), ("adc_over_decode", "adc", "decode")),
    # The atomic (manifest-log OCC) commit mode against plain partition
    # overwrite on the exact cross-batch dedup gate: the documents table
    # streams through incremental_dedup_sink as 4 file batches into a fresh
    # sink per call, timed over the full availableNow run. Same data,
    # batching and gate, only commit_mode differs, so the ratio is the cost
    # of serializable admission.
    Arm("gate_atomic_overhead", ("overwrite", "atomic"),
        ("atomic_over_overwrite", "atomic", "overwrite")),
    # The merge-on-read payoff of the streaming distinct-count rollup: after
    # incremental_hll_sink publishes per-batch HLL sketches of the events
    # (day, user_id) projection (untimed), "sketch_merge" answers distinct
    # users per day by hll_union_agg over the partials (key-cardinality-sized
    # reads) while "recompute" rescans the raw rows with an exact
    # count(distinct). The ratio is what a refresh costs with sketches vs
    # without — the streaming twin of corpus_e2e's append_delta.
    Arm("hll_rollup", ("sketch_merge", "recompute"),
        ("merge_over_recompute", "sketch_merge", "recompute")),
    # The persisted FTS index's serve path (write_index once, untimed):
    # "page1" is BM25 top-10, "deep_page" ranks 201-210 via top-210 over the
    # same pruned index read. The ratio should sit near 1: deep pagination
    # is a bigger TakeOrderedAndProject k, never a corpus sort.
    Arm("fts_serving", ("page1", "deep_page"), ("deep_over_page1", "deep_page", "page1")),
    # The persisted bucket-partitioned ANN index: "serve" is ann_index_topk
    # against the written index (dynamic partition pruning reads only the
    # queries' buckets; cache_index pins it in executor storage, the hot-index
    # deployment build-once/serve-many exists for), "rebuild" is
    # cosine_topk_lsh re-deriving signatures from the raw vectors inside the
    # query. The index auto-sizes its signature width to the corpus
    # (auto_bits_per_table: ~800 rows per bucket directory) and the rebuild
    # runs at the index's stored parameters (meta sidecar), so both sides
    # generate the same candidate volume and the ratio is what persisting the
    # index saves per search. It flips with scale: rebuild scans and shuffles
    # all N vectors per query batch, serve reads only the probed buckets.
    # Its own back-to-back block: inside the suite loop ~150 s of other work
    # separated the sides' reps, evicting the index files from the page cache
    # before every serve while the suite's emb_* queries kept the rebuild
    # side's input warm, so the ratio measured cache weather.
    Arm("ann_serving", ("serve", "rebuild"), ("serve_over_rebuild", "serve", "rebuild"),
        in_suite=False),
    # The composed corpus pipeline (etl/corpus.py: clean → quality gate →
    # exact dedup → MinHash near-dedup → content-hashed split → sequence
    # packing) over the documents table, with docs/sec throughput. "build" is
    # the pipeline alone, "build_registry" adds the fingerprint-registry
    # sidecar that enables O(delta) append_corpus, so the ratio prices the
    # sidecar as a feature. Its own block after one untimed warm-up build,
    # sides alternating, per-side MIN: successive builds keep getting faster
    # (JIT and page-cache drift outlive one warm-up), and alternation puts
    # both sides on the same drift curve.
    Arm("corpus_e2e", ("build", "build_registry"),
        ("registry_overhead", "build_registry", "build"), reduce=min, in_suite=False),
)


# stdout digest key -> (artifact object, ratio key)
DIGEST_RATIOS = {
    "adc_over_decode": ("ab_adc_vs_decode", "adc_over_decode"),
    "hamming_over_cosine": ("ab_hamming_vs_cosine", "hamming_over_cosine"),
    "gate_atomic_over_overwrite": ("gate_atomic_overhead", "atomic_over_overwrite"),
    "hll_merge_over_recompute": ("hll_rollup", "merge_over_recompute"),
    "fts_deep_over_page1": ("fts_serving", "deep_over_page1"),
    "ann_serve_over_rebuild": ("ann_serving", "serve_over_rebuild"),
}


def interleave(calls: dict[str, Callable], reps: int, fixtures=None) -> dict[str, list[float]]:
    """Run rep k of every call before rep k+1 of any and return each call's
    perf_counter timings. ``fixtures`` maps a call name to a context-manager
    factory: it builds the call's untimed state, yields it as the call's
    arguments and removes it after the timed region."""
    samples: dict[str, list[float]] = {name: [] for name in calls}
    for _ in range(reps):
        for name, call in calls.items():
            with (fixtures or {}).get(name, lambda: nullcontext(()))() as args:
                t0 = time.perf_counter()
                call(*args)
                samples[name].append(time.perf_counter() - t0)
    return samples


def calls_for(arms, fns: dict[str, Callable]) -> dict[str, Callable]:
    """The arms' sides as runner calls, in table then call order."""
    return {side: fns[side] for arm in arms for side in arm.sides}


def rel_spread(s: list[float]) -> float:
    return (max(s) - min(s)) / statistics.median(s) if len(s) > 1 else 0.0


def redo(samples, calls, levels=(7, 9, 11), limit=0.5) -> list[str]:
    """Re-time every name whose spread exceeds ``limit`` — one unlucky rep
    (GC pause, first-call codegen, a neighbour's page-cache eviction) away
    from a wrong median — at escalating rep counts, interleaved over the
    still-flagged names. Each level drops its worst n//5 reps before scoring
    the spread: a longer window catches hiccups in proportion to its length,
    so untrimmed it would be scored more harshly than the sample it replaces.
    The trimmed score only decides which sample wins and when to stop; the
    sample stored in ``samples`` is always untrimmed, so every published
    median comes from an uncensored distribution. Returns the flagged names."""
    flagged = [n for n, s in samples.items() if rel_spread(s) > limit]
    best = {n: rel_spread(samples[n]) for n in flagged}
    active = flagged
    for n_redo in levels:
        if not active:
            break
        trim = max(1, n_redo // 5)
        fresh = interleave({n: calls[n] for n in active}, n_redo)
        for n in active:
            score = rel_spread(sorted(fresh[n])[:-trim])
            if score < best[n]:
                best[n], samples[n] = score, fresh[n]
        active = [n for n in active if best[n] > limit]
    return flagged


def ratio(num, den):
    return round(num / den, 3) if den else None


def summarize(arm: Arm, samples: dict[str, list[float]]) -> dict:
    out: dict = {s: round(arm.reduce(samples[s]), 3) for s in arm.sides}
    key, num, den = arm.ratio
    out[key] = ratio(out[num], out[den])
    return out


def warmup_suite(spark, specs, sf_dir: str) -> None:
    """Query-suite warmup shared by bench.py and tools/isolate_profile.py
    so the profiler's timed region stays comparable to the bench's: generic
    codegen JIT, the text/FTS path (posexplode + collect_list + broadcast
    semi-join) on the tiny sf, and the session-cached FTS index + tokenized
    frame most text/dedup queries read (whichever query ran first otherwise
    paid the one-time build inside its own first rep). The bench's A/B-arm
    setup (IVF-PQ index, gate/hll/serve fixtures) stays in bench.main — it
    warms arms the per-query profiler never times."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    specs["fts_search_and"].spark_fn(spark, "/root/testdata/sf0.001").collect()
    from sec_dl_spark.plans.text import fts_index, tok_docs

    fts_index(spark, sf_dir)[1].df.count()
    tok_docs(spark, sf_dir).count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from sec_dl_spark.plans.catalog import load_all
    from sec_dl_spark.session import get_spark

    spark = get_spark("sec_dl_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    # these modules define pandas UDFs at import, which needs a live SparkSession
    from pyspark.sql import functions as F

    from perfbench.run import _git_sha
    from perfbench.trace import cpu_times, steal_pct
    from sec_dl_spark.etl.corpus import append_corpus, build_corpus
    from sec_dl_spark.operators import fts as fts_ops
    from sec_dl_spark.operators.similarity import (ann_index_topk, build_ivfpq_index,
        cosine_topk_lsh, ivfpq_topk, read_ann_index_meta, write_ann_index)
    from sec_dl_spark.sources.fixtures import load_table
    from sec_dl_spark.streaming.dedup import incremental_dedup_sink
    from sec_dl_spark.streaming.rollup import incremental_hll_sink, read_hll_rollup

    warmup_suite(spark, specs, sf_dir)  # JIT and shared fixtures, untimed
    arm = {a.key: a for a in ARMS}
    root = tempfile.mkdtemp(prefix="bench_")

    @contextmanager
    def fresh_dir(kept: list | None = None):
        out = tempfile.mkdtemp(dir=root)
        yield (out,)
        if kept is None:
            shutil.rmtree(out, ignore_errors=True)
        else:
            kept.append(out)

    def file_batches(src: str, df):
        """Write ``df`` as 4 parquet files; return a starter streaming them one per batch."""
        df.repartition(4).write.parquet(src)
        schema = spark.read.parquet(src).schema
        return lambda: spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)

    emb = load_table(spark, sf_dir, "embeddings")
    ab_queries = emb.where("vec_id < 25")
    ab_index = build_ivfpq_index(emb)  # train/encode once — serving is timed
    ab_index.encoded.persist().count()  # materialize codes like a stored index
    docs = load_table(spark, sf_dir, "documents")
    gate_stream = file_batches(f"{root}/gate_src", docs.select("doc_id", "text"))

    @contextmanager
    def gate_fixture():
        with fresh_dir() as (work,):
            yield work, gate_stream()

    def gate(mode: str, work: str, stream) -> None:
        query = incremental_dedup_sink(stream, f"{work}/accepted", f"{work}/registry",
                                       f"{work}/ckpt", commit_mode=mode)
        # False means the stream is still running: the timing would lie
        assert query.awaitTermination(600), f"gate stream ({mode}) did not finish in 600s"

    funnel = build_corpus(spark, sf_dir, f"{root}/corpus_warm", write_registry=False)
    registries: list[str] = []
    corpus = summarize(arm["corpus_e2e"], interleave(calls_for([arm["corpus_e2e"]], {
        "build": lambda out: build_corpus(spark, sf_dir, out, write_registry=False),
        "build_registry": lambda out: build_corpus(spark, sf_dir, out, write_registry=True),
    }), 2, {"build": fresh_dir, "build_registry": lambda: fresh_dir(registries)}))
    for side in arm["corpus_e2e"].sides:
        best = corpus[side]
        corpus[side] = {
            "seconds": best,
            "docs_in": funnel["n_raw"],
            "docs_out": funnel["n_near_unique"],
            "docs_per_sec": round(funnel["n_raw"] / best, 1) if best else None,
        }
    # the registry's payoff: re-append the full source as a delta into the
    # last registry-bearing corpus. Every doc is already in it, so this times
    # the O(delta + registry-join) admission path with zero rescans of the
    # corpus text; the ratio is the price cut delta ingestion buys.
    t0 = time.perf_counter()
    app = append_corpus(spark, sf_dir, registries[-1], batch="bench_delta")
    append_s = time.perf_counter() - t0
    corpus["append_delta"] = {
        "seconds": round(append_s, 3),
        "delta_docs_in": app.get("n_raw"),
        "admitted": app.get("n_novel"),
        "append_over_build": ratio(append_s, corpus["build_registry"]["seconds"]),
    }

    hll_src, sketches = f"{root}/hll_src", f"{root}/hll/sk"
    events = load_table(spark, sf_dir, "events").select(F.to_date("ts").alias("day"), "user_id")
    hll_stream = file_batches(hll_src, events)
    hll = incremental_hll_sink(hll_stream(), sketches, f"{root}/hll/ckpt", ["day"], "user_id")
    # a stream still running would be timed while it writes sketches
    assert hll.awaitTermination(600), "incremental_hll_sink did not finish within 600s"
    fts_ops.write_index(fts_ops.build_inverted_index(docs), f"{root}/fts")
    postings, stats = fts_ops.read_index(spark, f"{root}/fts")
    terms = ["spark", "sort", "vector"]
    write_ann_index(emb, f"{root}/ann")
    meta = read_ann_index_meta(spark, f"{root}/ann")

    fns = {
        "adc": lambda: ivfpq_topk(emb, ab_index, ab_queries, k=5, kernel="adc").collect(),
        "decode": lambda: ivfpq_topk(emb, ab_index, ab_queries, k=5, kernel="decode").collect(),
        "overwrite": partial(gate, "overwrite"),
        "atomic": partial(gate, "atomic"),
        "sketch_merge": lambda: read_hll_rollup(spark, sketches, ["day"]).collect(),
        "recompute": lambda: spark.read.parquet(hll_src).groupBy("day")
        .agg(F.count_distinct("user_id").alias("n_distinct")).collect(),
        "page1": lambda: fts_ops.search_bm25(postings, terms, k=10, stats=stats).collect(),
        "deep_page": lambda: fts_ops.search_bm25(postings, terms, k=210, stats=stats)
        .where(F.col("rank") > 200).collect(),
        "serve": lambda: ann_index_topk(
            spark, f"{root}/ann", ab_queries, k=5, cache_index=True).collect(),
        "rebuild": lambda: cosine_topk_lsh(
            emb, ab_queries, k=5, num_tables=int(meta["num_tables"]),
            bits_per_table=int(meta["bits_per_table"]), seed=int(meta["seed"])).collect(),
    }
    queries = {n: (lambda fn=specs[n].spark_fn: fn(spark, sf_dir).collect()) for n in HEADLINE}

    ticks0 = cpu_times()
    samples = interleave(queries | calls_for([a for a in ARMS if a.in_suite], fns), reps,
                         {"overwrite": gate_fixture, "atomic": gate_fixture})
    samples |= interleave(calls_for([arm["ann_serving"]], fns), max(reps, 5))
    ticks1 = cpu_times()

    # before the fixtures go, so a serve-path headline re-times against them
    query_samples = {n: samples[n] for n in HEADLINE}
    remeasured = redo(query_samples, queries)
    shutil.rmtree(root, ignore_errors=True)

    timings = {n: round(statistics.median(s), 3) for n, s in query_samples.items()}
    spread = {n: round(rel_spread(s), 3) for n, s in query_samples.items()}
    noise = {
        "reps": reps,
        "per_query_spread": spread,
        "raw_samples": {n: [round(x, 3) for x in s] for n, s in query_samples.items()},
        "max_spread_pct": round(100 * max(spread.values()), 1),
        "remeasured_untrimmed": remeasured,
        "cpu_steal_pct": round(steal_pct(ticks0, ticks1), 2),
    }
    results = {a.key: corpus if a is arm["corpus_e2e"] else summarize(a, samples) for a in ARMS}
    # the binary tier's price: the Hamming scan (1 bit/dim, XOR+popcount) vs
    # the exact float cosine scan over the same corpus and queries — the
    # ratio the two-stage (hamming shortlist -> cosine rerank) design banks on
    hamming, cosine = timings["emb_hamming_topk"], timings["emb_cosine_topk"]
    results["ab_hamming_vs_cosine"] = {
        "hamming": hamming,
        "cosine": cosine,
        "hamming_over_cosine": ratio(hamming, cosine),
    }
    full = {
        "metric": "headline query suite wall-clock (median of reps)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "noise": noise,
        **results,
        "lineage": {
            "cpus": spark.sparkContext.defaultParallelism,
            "nproc": len(os.sched_getaffinity(0)),
            "sf_dir": sf_dir,
            "reps": reps,
            "git_sha": _git_sha(),
        },
    }
    with open(os.path.join(os.path.dirname(__file__) or ".", "BENCH_LAST.json"), "w") as f:
        json.dump(full, f, indent=1)
    # A bounded stdout tail clips an oversized line at its head, so the line
    # is a digest: the 3 slowest queries and the scalar ratios only. It is
    # the last output: Spark stops first (its shutdown noise lands before
    # the line) and os._exit keeps atexit/py4j teardown from printing after.
    line = json.dumps({
        **{k: full[k] for k in ("metric", "value", "unit", "sf")},
        "n_queries": len(timings),
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:3]),
        "noise_max_spread_pct": noise["max_spread_pct"],
        "cpu_steal_pct": noise["cpu_steal_pct"],
        **{k: results[obj][key] for k, (obj, key) in DIGEST_RATIOS.items()},
        "corpus_docs_per_sec": corpus["build"]["docs_per_sec"],
        "append_over_build": corpus["append_delta"]["append_over_build"],
        "full_artifact": "BENCH_LAST.json",
    })
    assert len(line) < 1500, f"stdout line {len(line)}B exceeds the tail budget"
    try:
        spark.stop()
    except Exception:
        pass
    sys.stderr.flush()
    print(line, flush=True)
    os._exit(0)


if __name__ == "__main__":
    main()
