"""Operator semantics on constructed data: as-of join, sessionize, dedup
family, similarity search."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from sec_dl_spark.operators.dedup import (
    exact_dedup,
    hamming_pairs,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
)
from sec_dl_spark.operators.relational import asof_join, sessionize
from sec_dl_spark.operators.similarity import cosine_topk, cosine_topk_lsh


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def test_asof_join_backward_semantics(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "p1"), (1, _ts(20), "p2"), (2, _ts(5), "p3")],
        "k long, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [(1, _ts(8), 100.0), (1, _ts(15), 200.0), (1, _ts(20), 250.0), (2, _ts(9), 300.0)],
        "k long, ts timestamp, v double",
    )
    out = {r["name"]: r["v"] for r in asof_join(left, right, on="k").collect()}
    assert out == {"p1": 100.0, "p2": 250.0, "p3": None}  # ties match (<=); no future rows


def test_sessionize_gap_boundaries(spark):
    df = spark.createDataFrame(
        [(1, _ts(0)), (1, _ts(10)), (1, _ts(45)), (2, _ts(0))],
        "user long, ts timestamp",
    )
    out = sessionize(df, key="user", gap_seconds=1800).collect()
    sess = {(r["user"], r["ts"].minute): r["session_id"] for r in out}
    assert sess == {(1, 0): 1, (1, 10): 1, (1, 45): 2, (2, 0): 1}


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello world"), (3, "different doc")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(df).collect())
    assert kept == [1, 3]  # 2 is a canonical-content dup of 1


def test_jaccard_pairs_finds_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, "completely unrelated words entirely elsewhere now")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_pairs(df, threshold=0.3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.7
    assert all(3 not in p for p in pairs)


def test_minhash_lsh_finds_planted_duplicates(spark):
    base = " ".join(f"w{i}" for i in range(50))
    near = " ".join(f"w{i}" for i in range(49)) + " zz"
    other = " ".join(f"q{i}" for i in range(50))
    df = spark.createDataFrame([(1, base), (2, near), (3, other)], "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df, jaccard_threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_signature_estimates_jaccard(spark):
    """Signature-agreement fraction is an unbiased Jaccard estimator:
    identical docs agree everywhere; a known-overlap pair lands within
    sampling error (32 perms → σ≈0.09); disjoint docs agree nowhere
    (barring hash collisions)."""
    from sec_dl_spark.operators.dedup import minhash_signatures

    half_a = " ".join(f"w{i}" for i in range(40))       # shingles 0..37
    half_b = " ".join(f"w{i}" for i in range(20, 60))   # shingles 20..57
    disjoint = " ".join(f"q{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, half_a), (2, half_a), (3, half_b), (4, disjoint)],
        "doc_id long, text string",
    )
    sig = {r["doc_id"]: [r[f"h{j}"] for j in range(32)] for r in minhash_signatures(df).collect()}

    def agree(x, y):
        return sum(a == b for a, b in zip(sig[x], sig[y])) / 32

    assert agree(1, 2) == 1.0
    # true jaccard of shingle sets {0..37} vs {20..57}: 18/58 ≈ 0.31
    assert abs(agree(1, 3) - 18 / 58) < 0.27
    assert agree(1, 4) == 0.0


def test_simhash_identical_and_near(spark):
    base = " ".join(f"w{i}" for i in range(60))
    near = base.replace("w10", "zz")
    other = " ".join(f"q{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], "doc_id long, text string"
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert sigs[1] == sigs[2]  # identical text → identical signature
    ham_13 = bin((sigs[1] ^ sigs[3]) & ((1 << 64) - 1)).count("1")
    ham_14 = bin((sigs[1] ^ sigs[4]) & ((1 << 64) - 1)).count("1")
    assert ham_13 < ham_14  # near-dup closer than unrelated
    cand = {(r["id_a"], r["id_b"]) for r in hamming_pairs(simhash(df), max_distance=0).collect()}
    assert (1, 2) in cand


def test_hamming_pairs_rejects_pigeonhole_violation(spark):
    """d >= n_bands would silently miss pairs differing in every band —
    the precondition must be enforced, not documented (ADVICE r1)."""
    import pytest

    df = spark.createDataFrame([(1, "a b c"), (2, "a b d")], "doc_id long, text string")
    sig = simhash(df)
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_pairs(sig, max_distance=10, band_bits=16)
    # d=7 over 8-bit bands (8 bands) satisfies d < n_bands
    hamming_pairs(sig, max_distance=7, band_bits=8).collect()


def test_cosine_topk_exact(spark):
    vecs = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = cosine_topk(df, df.where(F.col("vec_id") == 0), k=3).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == [1, 2, 3]  # cos: .994, 0, -1


def test_ann_oversized_queries_rejected_before_broadcast(spark):
    """Every ANN entry point broadcasts/collects the query side; a caller
    passing an unbounded frame must get a clear error up front, not a
    driver OOM mid-broadcast (VERDICT r4 'What's wrong' #2). The guard
    probe is bounded (limit(cap+1).count()), so even a huge offender
    fails fast."""
    from sec_dl_spark.operators.similarity import (
        cosine_topk_ivf,
        cosine_topk_ivfpq,
    )

    emb = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(seed=1), F.rand(seed=2)).alias("embedding"),
    )
    for fn in (cosine_topk, cosine_topk_lsh, cosine_topk_ivf, cosine_topk_ivfpq):
        with pytest.raises(ValueError, match="queries side"):
            fn(emb, emb, k=3, max_queries=10)
    # at-the-cap queries still pass (guard is > cap, not >=)
    cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=3, max_queries=10).collect()


def test_cosine_topk_lsh_recall_vs_exact(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk_lsh(emb, q, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_knn_isolation_ivf_matches_exact_with_full_probing(spark):
    """The at-scale all-vectors form of the kNN-isolation outlier score
    (VERDICT r9 #6): with n_probe == n_cells the IVF candidate set is
    exhaustive, so scores, ranks, and outlier flags must EQUAL the exact
    brute-force form row for row — approximation enters only through
    probe pruning, never through the plumbing. The exact path broadcasts
    the whole frame (truth baseline, guarded); the IVF path broadcasts
    only the n_cells×dim centroid matrix and joins on cell, and the
    final ranking is global_rank (no corpus-sized window partition)."""
    from sec_dl_spark.operators.similarity import knn_isolation

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cols = ["vec_id", "knn_mean_sim", "knn_min_sim", "isolation_rank", "is_outlier"]
    exact = {
        r["vec_id"]: tuple(r[c] for c in cols)
        for r in knn_isolation(emb, k=5, candidate="exact").collect()
    }
    ivf = {
        r["vec_id"]: tuple(r[c] for c in cols)
        for r in knn_isolation(
            emb, k=5, candidate="ivf", n_cells=8, n_probe=8
        ).collect()
    }
    assert exact == ivf

    # pruned probing still scores every vector, and the plan holds the
    # no-broadcast regime: candidates come from a cell-keyed equi-join
    # (never a cross product / nested-loop), and the only broadcast is
    # the n_cells-row total for nothing — the corpus-sized sides hash-
    # exchange on cell
    pruned = knn_isolation(emb, k=5, candidate="ivf", n_cells=8, n_probe=2)
    assert pruned.count() == emb.count()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    with pytest.raises(ValueError, match="unknown candidate"):
        knn_isolation(emb, candidate="lsh??")


def test_auto_candidate_selection_by_corpus_size(spark):
    """The auto candidate generators (VERDICT r12 ask #5) route by
    corpus size without changing the contract: below the threshold they
    ARE the exact scan (bit-identical — the fixture-scale oracles hold);
    above it they are the IVF path, which under exhaustive probing still
    reproduces the exact result, so the regime swap is provably a
    candidate-generation change only. Covers cosine_topk_auto (with and
    without the hard-negative sim_ceiling) and knn_isolation auto."""
    from sec_dl_spark.operators.similarity import (
        auto_n_cells,
        cosine_topk,
        cosine_topk_auto,
        knn_isolation,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)

    def rows(df):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
            for r in df.collect()
        )

    # small corpus: auto == exact, ceiling included
    exact = rows(cosine_topk(emb, q, k=5))
    assert rows(cosine_topk_auto(emb, q, k=5)) == exact
    # fixture top-5 sims span ~0.28-0.39 → a 0.35 ceiling actually bites
    exact_band = rows(cosine_topk(emb, q, k=5, sim_ceiling=0.35))
    assert exact_band != exact
    assert rows(cosine_topk_auto(emb, q, k=5, sim_ceiling=0.35)) == exact_band

    # forced promotion (threshold 0 → IVF); exhaustive probing (floor 16
    # cells, n_probe 16) keeps the result EQUAL to exact
    promoted = rows(
        cosine_topk_auto(emb, q, k=5, exact_threshold=0, n_probe=16,
                         cell_target=10**9)
    )
    assert promoted == exact

    # knn_isolation auto: small corpus routes to exact...
    cols = ["vec_id", "knn_mean_sim", "knn_min_sim", "isolation_rank", "is_outlier"]
    iso_exact = [tuple(r[c] for c in cols)
                 for r in knn_isolation(emb, k=5, candidate="exact").orderBy("vec_id").collect()]
    iso_auto = [tuple(r[c] for c in cols)
                for r in knn_isolation(emb, k=5, candidate="auto").orderBy("vec_id").collect()]
    assert iso_auto == iso_exact
    # ...and past max_exact_rows it routes to IVF with auto-sized cells
    # (exhaustive probing here so the equality still pins the plumbing)
    n = emb.count()
    iso_promoted = [
        tuple(r[c] for c in cols)
        for r in knn_isolation(
            emb, k=5, candidate="auto", max_exact_rows=1,
            n_cells=auto_n_cells(n), n_probe=10**6,
        ).orderBy("vec_id").collect()
    ]
    assert iso_promoted == iso_exact

    # the sizing rule itself: ~cell_target rows per cell, floored/capped
    assert auto_n_cells(0) == 16
    assert auto_n_cells(100_000) == 390
    assert auto_n_cells(10**9) == 4096


def _clustered_embeddings(spark, n_clusters=30, per_cluster=6, n_noise=300, dim=32, seed=7):
    """Planted near-duplicate clusters: `per_cluster` members per center at
    cosine ≈ 0.9 to each other, plus uncorrelated background noise —
    the regime real embedding corpora live in (the synthetic fixture's top
    neighbors sit at cos ≈ 0.3-0.5, which under-stresses LSH bit counts)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[ci] + 0.05 * rng.standard_normal(dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(n_noise):
        rows.append((vid, [float(x) for x in rng.standard_normal(dim)]))
        vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lsh_recall_floor_on_planted_clusters(spark):
    """Recall@5 >= 0.9 for hyperplane LSH on a clustered corpus. At
    cos ≈ 0.95 a bit agrees w.p. 1 − θ/π ≈ 0.9, so 8-bit tables collide
    w.p. ≈ 0.43 each and 12 tables give ≈ 1 − 0.57^12 ≈ 0.999 per true
    neighbor; uncorrelated noise collides w.p. ≈ 0.5^8 per table, keeping
    the candidate set sparse. These are the parameters to start from on a
    real (clustered) embedding corpus — the 6-bit default is tuned to the
    weakly-correlated synthetic fixtures."""
    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id").isin([i * 6 for i in range(10)]))  # one per cluster
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_lsh(emb, q, k=5, num_tables=12, bits_per_table=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall on planted clusters too low: {recall}"


def test_ivf_recall_floor_on_planted_clusters(spark):
    """Recall@5 >= 0.9 for IVF on a clustered corpus: planted siblings land
    in the query's own Voronoi cell (or a probed neighbor cell), so
    n_probe=4 of 16 cells recovers nearly all true neighbors."""
    from sec_dl_spark.operators.similarity import cosine_topk_ivf

    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id").isin([i * 6 for i in range(10)]))
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_ivf(emb, q, k=5, n_cells=16, n_probe=4).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.9, f"IVF recall on planted clusters too low: {recall}"


def test_ivf_recall_vs_exact(spark, sf_dir):
    from sec_dl_spark.operators.similarity import cosine_topk_ivf
    from sec_dl_spark.plans.catalog import t

    e = t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 3)
    exact = cosine_topk(e, q, k=5)
    ivf = cosine_topk_ivf(e, q, k=5, n_cells=8, n_probe=4)
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ivf_set = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    recall = len(exact_set & ivf_set) / len(exact_set)
    assert recall >= 0.6  # probing half the cells must recover most true NNs
    # determinism under the fixed seed
    again = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk_ivf(e, q, k=5, n_cells=8, n_probe=4).collect()}
    assert again == ivf_set


def test_exact_percentiles_matches_builtin(spark):
    """BOTH strategies (sort and two-level bucketed) must reproduce
    Spark's `percentile` (quantile_cont / type-7 interpolation) exactly —
    including duplicate-heavy data, a group of one row, interpolation
    between distinct values, and bucket-boundary rank pairs (the bucketed
    strategy must fetch x_{k+1} from the NEXT bucket when k is a bucket's
    last rank)."""
    import random

    from sec_dl_spark.operators.relational import exact_percentiles

    rng = random.Random(7)
    rows = [("a", float(rng.randint(0, 50)) / 4) for _ in range(500)]
    rows += [("b", float(rng.randint(0, 10))) for _ in range(37)]
    rows += [("solo", 42.0)]
    rows += [("a", None), ("b", None)]  # NULLs excluded, like the builtin
    df = spark.createDataFrame(rows, "g string, x double")

    want = {
        r["g"]: (r["p10"], r["p50"], r["p99"])
        for r in df.groupBy("g")
        .agg(
            F.expr("percentile(x, 0.1)").alias("p10"),
            F.expr("percentile(x, 0.5)").alias("p50"),
            F.expr("percentile(x, 0.99)").alias("p99"),
        )
        .collect()
    }
    # buckets=7 on 51 distinct values forces many bucket-boundary (k, k+1)
    # pairs through the two-level path
    for kwargs in ({"strategy": "sort"}, {"strategy": "bucketed"},
                   {"strategy": "bucketed", "buckets": 7}):
        got = {
            r["g"]: (r["p10"], r["p50"], r["p99"])
            for r in exact_percentiles(
                df, "g", {"x": [(0.1, "p10"), (0.5, "p50"), (0.99, "p99")]}, **kwargs
            ).collect()
        }
        assert set(got) == set(want)
        for g in want:
            for a, b in zip(got[g], want[g]):
                assert abs(a - b) < 1e-9, (kwargs, g, got[g], want[g])


def test_proximity_ranked_prefers_tight_covers(spark):
    """ts_rank_cd-style semantics: with equal term frequencies, the doc
    where the query terms sit adjacent must outrank the doc where they are
    far apart; docs missing a term never rank."""
    from sec_dl_spark.operators.fts import build_inverted_index, search_proximity_ranked

    filler = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {filler}"),          # adjacent → cover width 2
            (2, f"alpha {filler} beta"),          # far apart → wide cover
            (3, f"alpha {filler}"),               # missing 'beta'
        ],
        "doc_id long, text string",
    )
    out = search_proximity_ranked(
        build_inverted_index(docs), ["alpha", "beta"], k=10
    ).collect()
    ranks = {r["doc_id"]: r["rank"] for r in out}
    assert set(ranks) == {1, 2}  # doc 3 lacks a term
    assert ranks[1] < ranks[2]  # tighter cover wins (bm25 parts are equal)


def test_auto_bits_per_table_tracks_corpus_size():
    """Signature width follows |corpus|: small corpora collapse to the
    floor (no directory fragmentation), the bucket count grows ~linearly
    with rows past that (≈target_rows_per_bucket per directory), and the
    cap bounds the plane matrix at billion-row scale."""
    from sec_dl_spark.operators.similarity import auto_bits_per_table

    assert auto_bits_per_table(0) == 2
    assert auto_bits_per_table(1_280) == 2       # sf0.001 corpus
    assert auto_bits_per_table(12_800) == 4      # sf0.1 corpus: 16 buckets/table
    assert auto_bits_per_table(128_000) == 7
    assert auto_bits_per_table(1_000_000_000) == 16  # capped
    # monotone non-decreasing in n
    widths = [auto_bits_per_table(n) for n in (10, 10**3, 10**4, 10**6, 10**9)]
    assert widths == sorted(widths)


def test_ann_persisted_index_matches_live_lsh(spark, tmp_path):
    """Build-once/serve-many ANN: the persisted hyperplane index returns
    exactly what the live LSH path returns for the same parameters, and
    the serve-time scan prunes to the queries' buckets via dynamic
    partition pruning (the partition-column join)."""
    from sec_dl_spark.operators.similarity import (
        ann_index_topk,
        auto_bits_per_table,
        cosine_topk_lsh,
        read_ann_index_meta,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3)
    path = str(tmp_path / "ann_index")
    write_ann_index(emb, path)

    # the build auto-sizes the signature to the corpus and records it in
    # the meta sidecar; serve must reproduce the live LSH path AT THOSE
    # parameters (the serve call itself takes none — it reads the meta)
    meta = read_ann_index_meta(spark, path)
    assert meta["bits_per_table"] == auto_bits_per_table(emb.count())
    served = ann_index_topk(spark, path, q, k=5)
    live = cosine_topk_lsh(
        emb, q, k=5,
        num_tables=int(meta["num_tables"]),
        bits_per_table=int(meta["bits_per_table"]),
        seed=int(meta["seed"]),
    )
    a = {(r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"]) for r in served.collect()}
    b = {(r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"]) for r in live.collect()}
    assert a == b and len(a) > 0

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()

    # hot-index serving (cache_index=True pins the relation in Spark
    # storage) returns the identical rows — the bench serving arm's mode
    cached_rows = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
        for r in ann_index_topk(spark, path, q, k=5, cache_index=True).collect()
    }
    assert cached_rows == a

    # the rerank rides the SAME bucket-pruned scan as candidate generation:
    # exactly one read of the index relation (the one carrying the bucket
    # partition column) in the optimized plan — a second, unpruned rerank
    # scan would rescan every bucket directory at scale
    opt = served._jdf.queryExecution().optimizedPlan().toString()
    index_relations = [
        ln for ln in opt.splitlines() if "Relation" in ln and "bucket" in ln
    ]
    assert len(index_relations) == 1, opt


def test_ann_rebuild_deletes_meta_first(spark, tmp_path):
    """Torn-rebuild safety: write_ann_index deletes the {path}/meta
    sidecar BEFORE overwriting {path}/index (the fts.write_index
    convention), so a crash mid-rebuild leaves a detectable
    missing-sidecar state — read_ann_index_meta fails loudly — instead
    of silently pairing the new index with the previous build's plane
    geometry (wrong/empty neighbors, no error)."""
    from unittest import mock

    import pytest as _pytest

    import sec_dl_spark.operators.similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ann_index")
    sim.write_ann_index(emb, path)
    assert sim.read_ann_index_meta(spark, path)  # healthy build

    # simulate a crash AFTER the index overwrite, BEFORE the sidecar
    # rewrite: the sidecar is the build's only createDataFrame call
    class Boom(RuntimeError):
        pass

    with mock.patch.object(
        emb.sparkSession, "createDataFrame", side_effect=Boom("crash before sidecar")
    ):
        with _pytest.raises(Boom):
            sim.write_ann_index(emb, path)

    # the stale sidecar must be GONE — file AND in-session memo (the
    # crashed rebuild already invalidated the caches before touching the
    # index): serving fails loudly, not wrongly, with no manual clearing
    with _pytest.raises(Exception):
        sim.read_ann_index_meta(spark, path)

    # a completed rebuild restores service
    sim.write_ann_index(emb, path)
    assert sim.read_ann_index_meta(spark, path)


def test_approx_percentile_within_tolerance(spark, sf_dir):
    from sec_dl_spark.plans.catalog import t

    li = t(spark, sf_dir, "lineitem")
    row = li.agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.01


def test_seeded_sample_reproducible(spark, sf_dir):
    from sec_dl_spark.plans.catalog import t

    li = t(spark, sf_dir, "lineitem")
    n_total = li.count()
    n1 = li.sample(fraction=0.1, seed=42).count()
    n2 = li.sample(fraction=0.1, seed=42).count()
    assert n1 == n2  # same seed, same sample
    assert 0.05 * n_total < n1 < 0.15 * n_total  # binomial bounds


def test_salted_join_matches_plain(spark):
    from sec_dl_spark.operators.skew import salted_join

    facts = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (1, 5.0), (2, 7.0), (3, 1.0)], "k long, v double"
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "warm")], "k long, name string")
    plain = sorted((r["k"], r["v"], r["name"]) for r in facts.join(dim, "k").collect())
    salted = sorted((r["k"], r["v"], r["name"]) for r in salted_join(facts, dim, "k", 4).collect())
    assert salted == plain
    left_plain = sorted(
        (r["k"], r["v"], r["name"]) for r in facts.join(dim, "k", "left").collect()
    )
    left_salted = sorted(
        (r["k"], r["v"], r["name"]) for r in salted_join(facts, dim, "k", 4, how="left").collect()
    )
    assert left_salted == left_plain


def test_salted_distinct_count_exact(spark):
    from sec_dl_spark.operators.skew import salted_distinct_count

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("a", 3), ("b", 1), ("b", 1)], "g string, v long"
    )
    got = {
        r["g"]: r["n_distinct_v"]
        for r in salted_distinct_count(df, ["g"], "v", n_salts=3).collect()
    }
    assert got == {"a": 3, "b": 1}


def test_approx_distinct_error_bound(spark, sf_dir):
    from sec_dl_spark.plans.catalog import t

    e = t(spark, sf_dir, "events")
    rows = (
        e.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", 0.02).alias("approx"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r["approx"] - r["exact"]) / max(r["exact"], 1) < 0.1


def test_duplicate_clusters_chain_and_islands(spark):
    from sec_dl_spark.operators.dedup import duplicate_clusters

    # chain 1-2-3 (transitive closure), pair 10-11, reversed pair 21-20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (21, 20)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in duplicate_clusters(pairs).collect()}
    assert got[1] == got[2] == got[3] == 1  # min-id representative
    assert got[10] == got[11] == 10
    assert got[20] == got[21] == 20
    assert len(got) == 7


def test_contamination_known_overlap(spark):
    from sec_dl_spark.functions.analysis import contamination_ngrams

    train = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [
            (1, "the quick brown fox sleeps"),  # shares 'the quick brown' + 'quick brown fox'
            (2, "entirely different words here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in contamination_ngrams(ev, train).collect()}
    assert got[1]["n_grams"] == 3 and got[1]["n_hits"] == 2
    assert got[2]["n_hits"] == 0 and got[2]["contamination"] == 0.0


def test_stratified_sample_fractions(spark, sf_dir):
    from sec_dl_spark.plans.catalog import t

    d = t(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "de": 0.2}
    s = d.sampleBy("lang", fractions=fractions, seed=42)
    totals = {r["lang"]: r["n"] for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sampled = {r["lang"]: r["n"] for r in s.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(sampled) <= set(fractions)  # unlisted strata fully excluded
    for lang, frac in fractions.items():
        if totals.get(lang, 0) > 20:
            assert 0.3 * frac * totals[lang] < sampled.get(lang, 0) < 2.0 * frac * totals[lang]


def test_asof_join_tolerance(spark):
    import datetime as dt

    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 30), "in"), (1, dt.datetime(2024, 1, 1, 2, 0), "out")],
        "k long, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 0), 7.0)], "k long, ts timestamp, v double"
    )
    out = {
        r["name"]: r["v"]
        for r in asof_join(left, right, on="k", tolerance_seconds=3600).collect()
    }
    assert out == {"in": 7.0, "out": None}  # 2h-old match exceeds the 1h tolerance


def test_tsquery_parser_and_eval(spark):
    from sec_dl_spark.operators.fts import build_inverted_index, parse_tsquery, search_query

    assert parse_tsquery("a & (b | !c)") == (
        "and", [("term", "a"), ("or", [("term", "b"), ("not", ("term", "c"))])]
    )
    import pytest as _pt

    for bad in ["a &", "(a", "a b b |", "& a"]:
        with _pt.raises(ValueError):
            parse_tsquery(bad)

    docs = spark.createDataFrame(
        [(1, "x y"), (2, "x z"), (3, "y z"), (4, "w")], "doc_id long, text string"
    )
    postings = build_inverted_index(docs)

    def run(q):
        return sorted(r["doc_id"] for r in search_query(postings, q).collect())

    assert run("x & y") == [1]
    assert run("x | y") == [1, 2, 3]
    assert run("x & !z") == [1]
    assert run("!x") == [3, 4]
    assert run("(x | y) & !w") == [1, 2, 3]


def test_tsquery_prefix_operator(spark):
    from sec_dl_spark.operators.fts import build_inverted_index, parse_tsquery, search_query

    assert parse_tsquery("spar:* & join") == (
        "and", [("prefix", "spar"), ("term", "join")]
    )
    import pytest as _pt

    with _pt.raises(ValueError):
        parse_tsquery(":*")

    docs = spark.createDataFrame(
        [(1, "spark join"), (2, "sparse data"), (3, "join only"), (4, "spa day")],
        "doc_id long, text string",
    )
    postings = build_inverted_index(docs)

    def run(q):
        return sorted(r["doc_id"] for r in search_query(postings, q).collect())

    assert run("spar:*") == [1, 2]  # spark, sparse; not 'spa'
    assert run("spar:* & join") == [1]
    assert run("!spar:*") == [3, 4]


def test_tsquery_phrase_operator(spark):
    from sec_dl_spark.operators.fts import build_inverted_index, parse_tsquery, search_query

    assert parse_tsquery("a <-> b & c") == ("and", [("phrase", ["a", "b"]), ("term", "c")])
    import pytest as _pt

    with _pt.raises(ValueError, match="terms only"):
        parse_tsquery("(a & b) <-> c")

    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "y x z"), (3, "x q y")], "doc_id long, text string"
    )
    postings = build_inverted_index(docs)

    def run(q):
        return sorted(r["doc_id"] for r in search_query(postings, q).collect())

    assert run("x <-> y") == [1]       # adjacency, ordered
    assert run("y <-> x") == [2]
    assert run("x <-> y | y <-> x") == [1, 2]
    assert run("x & !(x <-> y)") == [2, 3]


def test_pack_sequences_invariants(spark):
    from sec_dl_spark.operators.grouped import pack_sequences

    rows = [("s", i, n) for i, n in enumerate([100, 200, 250, 600, 50, 500, 10])]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    out = sorted(pack_sequences(df, budget=512).collect(), key=lambda r: r["doc_id"])
    seqs = [r["seq_id"] for r in out]
    # greedy: 100+200 fits; +250 would exceed → new seq; 600 alone (over
    # budget); 50 joins... walk: [100,200]=300, 250+300>512→seq1: [250],
    # 250+600>512→seq2: [600], 600+50>512→seq3: [50,10?]... order is by
    # doc_id: 50 then 500: 50+500>512→seq4: [500], +10 fits? 500+10=510 ✓
    assert seqs == [0, 0, 1, 2, 3, 4, 4]
    # no sequence of >1 doc exceeds the budget
    from collections import defaultdict

    totals = defaultdict(lambda: [0, 0])
    for r in out:
        totals[r["seq_id"]][0] += r["n_tokens"]
        totals[r["seq_id"]][1] += 1
    for total, ndocs in totals.values():
        assert ndocs == 1 or total <= 512


def test_winnow_guarantee_on_planted_overlap(spark):
    """Winnowing's detection guarantee: any shared token run of length
    >= window + k - 1 (here 4 + 3 - 1 = 6) yields at least one identical
    selected fingerprint in both documents; disjoint content shares
    nothing."""
    from sec_dl_spark.operators.dedup import winnow_fingerprints, winnow_overlap_pairs

    shared = "alpha bravo charlie delta echo foxtrot"  # 6-token shared run
    docs = spark.createDataFrame(
        [
            (1, f"unrelated head words {shared} tail piece closing remark"),
            (2, f"{shared} wholly different continuation text follows here"),
            (3, "nothing in common with any other row at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=3, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    assert by_doc[1] & by_doc[2], "guaranteed shared fingerprint missing"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])

    pairs = {
        (r["id_a"], r["id_b"])
        for r in winnow_overlap_pairs(docs, min_shared=1).collect()
    }
    assert pairs == {(1, 2)}


def test_duplicate_clusters_long_chain_converges_logarithmically(spark):
    """Pointer jumping: a 200-node duplication chain converges well inside
    the default iteration budget (plain diameter-bound propagation would
    need ~200 rounds and silently return wrong labels)."""
    from sec_dl_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(pairs, max_iterations=12).collect()
    }
    assert len(got) == 201
    assert set(got.values()) == {0}


def test_int8_quantization_reconstruction_bound(spark):
    """Symmetric int8 quantization keeps per-element error <= scale/2, so
    reconstruction cosine stays near 1 on the fixture corpus; codes are
    integers in [-127, 127]."""
    from sec_dl_spark.operators.similarity import quantize_int8

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = quantize_int8(emb)
    rows = q.select(
        "vec_id",
        F.array_min("q_vec").alias("lo"),
        F.array_max("q_vec").alias("hi"),
    ).collect()
    assert all(-127 <= r["lo"] and r["hi"] <= 127 for r in rows)

    from sec_dl_spark.plans.catalog import load_all

    audit = load_all()["emb_quantize_int8"].spark_fn(spark, "/root/testdata/sf0.001")
    assert audit.agg(F.min("recon_cos")).collect()[0][0] >= 0.999


def test_pq_codes_shape_and_determinism(spark):
    from sec_dl_spark.operators.similarity import pq_encode, pq_train_codebooks

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_train_codebooks(emb, m=4, n_centroids=16)
    enc = pq_encode(emb, books)
    rows = enc.select(
        F.size("pq_codes").alias("m"),
        F.array_min("pq_codes").alias("lo"),
        F.array_max("pq_codes").alias("hi"),
    ).collect()
    assert all(r["m"] == 4 and 0 <= r["lo"] and r["hi"] < 16 for r in rows)
    again = pq_encode(emb, books).collect()
    assert [r["pq_codes"] for r in enc.collect()] == [r["pq_codes"] for r in again]


def test_pq_retrieval_recall_on_planted_clusters(spark):
    """PQ's contract is neighborhood preservation, not reconstruction:
    recall@5 >= 0.8 against exact search on the clustered corpus, at
    4 bytes per vector (32x compression of the 32-dim float corpus).
    Codebook sizing matters: 32 centroids/subspace under-provisions this
    corpus (180 clustered + 300 noise vectors → recall 0.6); 64 restores
    recall while keeping the same 4-byte code width."""
    from sec_dl_spark.operators.similarity import (
        cosine_topk,
        pq_decode,
        pq_encode,
        pq_train_codebooks,
    )

    emb = _clustered_embeddings(spark)
    books = pq_train_codebooks(emb, m=4, n_centroids=64)
    decoded = pq_encode(emb, books).select(
        "vec_id", pq_decode(F.col("pq_codes"), books).alias("embedding")
    )
    q = emb.where(F.col("vec_id").isin([i * 6 for i in range(10)]))
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, q, k=5).collect()}
    approx = {
        (r["query_id"], r["neighbor_id"]) for r in cosine_topk(decoded, q, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"PQ recall too low: {recall}"


def test_winnow_stop_fingerprint_cutoff(spark):
    """max_df drops boilerplate fingerprints before pairing: three docs
    sharing only a common header stop pairing once the header's
    fingerprints exceed the document-frequency cutoff, while a genuine
    two-doc overlap survives."""
    from sec_dl_spark.operators.dedup import winnow_overlap_pairs

    header = "standard corporate boilerplate header used on every filing page"
    unique_overlap = "rare shared passage alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, f"{header} first body content entirely its own words"),
            (2, f"{header} second body other material {unique_overlap}"),
            (3, f"{header} third body distinct prose {unique_overlap} tail"),
        ],
        "doc_id long, text string",
    )
    with_boiler = {
        (r["id_a"], r["id_b"])
        for r in winnow_overlap_pairs(docs, min_shared=1).collect()
    }
    assert with_boiler == {(1, 2), (1, 3), (2, 3)}  # header links everything
    filtered = {
        (r["id_a"], r["id_b"])
        for r in winnow_overlap_pairs(docs, min_shared=1, max_df=2).collect()
    }
    assert (2, 3) in filtered and (1, 2) not in filtered and (1, 3) not in filtered


def test_ivfpq_recall_on_planted_clusters(spark):
    """IVF-PQ composition: cell pruning + PQ-approximate shortlist + exact
    rerank keeps recall@5 >= 0.8 on the clustered corpus, and reported
    similarities come from the exact rerank (identical values to exact
    search for the hits both return)."""
    from sec_dl_spark.operators.similarity import cosine_topk, cosine_topk_ivfpq

    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id").isin([i * 6 for i in range(10)]))
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in cosine_topk(emb, q, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in cosine_topk_ivfpq(
            emb, q, k=5, n_cells=16, n_probe=4, m=4, n_centroids=64
        ).collect()
    }
    recall = len(set(exact) & set(got)) / len(exact)
    assert recall >= 0.8, f"IVF-PQ recall too low: {recall}"
    for key in set(exact) & set(got):
        assert abs(exact[key] - got[key]) < 1e-9  # exact-rerank scores


def test_ivfpq_build_serve_matches_oneshot(spark):
    """build_ivfpq_index + ivfpq_topk (the train-once/serve-many shape)
    must return exactly what the one-shot cosine_topk_ivfpq returns for
    the same seed — the split changes WHEN training happens, never the
    result."""
    from sec_dl_spark.operators.similarity import (
        build_ivfpq_index,
        cosine_topk_ivfpq,
        ivfpq_topk,
    )

    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id").isin([0, 6, 12]))
    kw = dict(k=5, n_probe=4, rerank=32)
    oneshot = {
        tuple(r)
        for r in cosine_topk_ivfpq(emb, q, n_cells=16, m=4, n_centroids=64, **kw).collect()
    }
    idx = build_ivfpq_index(emb, n_cells=16, m=4, n_centroids=64)
    served = {tuple(r) for r in ivfpq_topk(emb, idx, q, **kw).collect()}
    assert served == oneshot and len(served) > 0


def test_ivfpq_persisted_index_roundtrip_and_pruning(spark, tmp_path):
    """write_ivfpq_index / read_ivfpq_index round-trip: served results are
    identical to the in-memory index, and the persisted encoded table is
    partitioned by cell so serve-time candidate reads prune to the probed
    cells' directories."""
    import os

    from sec_dl_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_topk,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id").isin([0, 6, 12]))
    idx = build_ivfpq_index(emb, n_cells=8, m=4, n_centroids=16)
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(idx, path)
    # cell is a physical partition directory, the pruning unit
    assert any(d.startswith("cell=") for d in os.listdir(f"{path}/encoded"))
    loaded = read_ivfpq_index(spark, path)
    assert loaded.centroids == idx.centroids
    assert loaded.codebooks == idx.codebooks  # json float round-trip is exact
    mem = {tuple(r) for r in ivfpq_topk(emb, idx, q, k=5).collect()}
    disk = {tuple(r) for r in ivfpq_topk(emb, loaded, q, k=5).collect()}
    assert disk == mem and len(disk) > 0


def test_ivfpq_adc_decode_kernel_parity(spark):
    """The ADC lookup-table kernel scores cosine(query, PQ reconstruction)
    via per-subspace table probes — numerically the same quantity the
    decode+cosine formulation computes — so both kernels must pick the
    same shortlists and return identical exact-rerank results."""
    from sec_dl_spark.operators.similarity import cosine_topk_ivfpq

    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id").isin([i * 6 for i in range(10)]))
    kw = dict(k=5, n_cells=16, n_probe=4, m=4, n_centroids=64)
    adc = {tuple(r) for r in cosine_topk_ivfpq(emb, q, kernel="adc", **kw).collect()}
    dec = {tuple(r) for r in cosine_topk_ivfpq(emb, q, kernel="decode", **kw).collect()}
    assert adc == dec and len(adc) > 0


def test_ivfpq_shortlist_exchange_excludes_vectors(spark):
    """The candidate-ranking exchange (per-query row_number over _approx)
    must carry only (query_id, neighbor_id, _approx); full-precision
    vectors rejoin after the rerank cut. At dim 768 that is ~24 B vs
    ~12 KB per candidate of shuffle payload."""
    import re

    from sec_dl_spark.operators.similarity import cosine_topk_ivfpq

    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id").isin([0, 6]))
    out = cosine_topk_ivfpq(emb, q, k=5, n_cells=8, n_probe=2, m=4, n_centroids=16)
    jvm = out.sparkSession._jvm
    fmt = out._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    blocks = re.split(r"\n\(\d+\) ", fmt)
    shortlist_ex = [
        b
        for b in blocks
        if b.startswith("Exchange")
        and "_approx" in b.split("Arguments:")[0]
    ]
    assert shortlist_ex, "expected a shortlist exchange carrying _approx"
    for b in shortlist_ex:
        input_line = next(l for l in b.splitlines() if l.startswith("Input"))
        assert "q_vec" not in input_line and "c_vec" not in input_line, input_line


def test_pq_train_sample_cap_bounds_training(spark):
    """Codebook training is O(sample), not O(corpus): with max_train_rows
    below the corpus size the seeded sample keeps codebooks deterministic
    across invocations, and max_train_rows=None still forces the
    full-corpus fit. Recall quality under the default cap is covered by
    the planted-cluster tests (the fixture is below the 100k default, so
    they exercise the uncapped branch of the same code path)."""
    from sec_dl_spark.operators.similarity import pq_train_codebooks

    emb = _clustered_embeddings(spark)
    b1 = pq_train_codebooks(emb, m=4, n_centroids=8, max_train_rows=100)
    b2 = pq_train_codebooks(emb, m=4, n_centroids=8, max_train_rows=100)
    assert b1 == b2  # seeded sample + seeded fits → deterministic books
    full = pq_train_codebooks(emb, m=4, n_centroids=8, max_train_rows=None)
    assert len(full) == 4 and all(len(cb) == 8 for _, cb in full)


def test_mixture_sample_avalanche_and_salt_independence(spark):
    """The keep-hash must behave on structured key families (shard-packed
    ids = multiples of 2^20, which share ALL low bits) and give genuinely
    decorrelated passes under different salts — a linear hash fails both
    (keeps 0% or 100% of the family; salts just shift the keep set)."""
    from sec_dl_spark.operators.relational import deterministic_mixture_sample

    ids = spark.range(0, 2000).select(
        (F.col("id") * (1 << 20)).alias("doc_id"), F.lit("en").alias("lang")
    )
    kept = deterministic_mixture_sample(ids, {"en": 0.3}).count()
    assert 0.25 * 2000 < kept < 0.35 * 2000, kept

    a = {
        r["doc_id"]
        for r in deterministic_mixture_sample(ids, {"en": 0.3}, salt=1).collect()
    }
    b = {
        r["doc_id"]
        for r in deterministic_mixture_sample(ids, {"en": 0.3}, salt=2).collect()
    }
    overlap = len(a & b) / 2000
    # independent 30% passes overlap ~9%; allow generous slack either side
    assert 0.04 < overlap < 0.16, overlap


def test_mixture_sample_empty_rates_uses_default(spark):
    from sec_dl_spark.operators.relational import deterministic_mixture_sample

    ids = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    kept = deterministic_mixture_sample(ids, {}, default_rate=0.5).count()
    assert 400 < kept < 600, kept


def test_mixture_sample_large_keys_ansi_safe(spark):
    """Keys above 2^31 must neither overflow (ANSI ArithmeticException /
    negative wrap) nor collapse to degenerate sampling."""
    from sec_dl_spark.operators.relational import deterministic_mixture_sample

    ids = spark.range(0, 1000).select(
        (F.col("id") + F.lit(4_000_000_000)).alias("doc_id"),
        F.lit("en").alias("lang"),
    )
    kept = deterministic_mixture_sample(ids, {"en": 0.3}).count()
    assert 0.2 * 1000 < kept < 0.4 * 1000, kept


def test_semantic_dedup_collapses_planted_groups(spark):
    """SemDeDup greedy collapse on planted near-dup clusters: every
    group's smallest id survives (no smaller-id vector anywhere is
    semantically close to it), most other members drop, and verdicts are
    deterministic across runs."""
    from sec_dl_spark.operators.similarity import semantic_dedup

    n_clusters, per = 30, 6
    emb = _clustered_embeddings(spark, n_clusters=n_clusters, per_cluster=per)
    out = semantic_dedup(emb, threshold=0.85, n_cells=30).collect()
    verdict = {r["vec_id"]: r for r in out}
    assert len(verdict) == emb.count()  # one verdict per vector
    planted = n_clusters * per
    group_mins = [g * per for g in range(n_clusters)]
    assert all(verdict[m]["keep"] for m in group_mins)
    kept_planted = sum(1 for v in range(planted) if verdict[v]["keep"])
    # most planted redundancy collapses (k-means cell splits may spare a
    # few members; SemDeDup accepts that miss by design)
    assert kept_planted <= 2 * n_clusters, kept_planted
    # dropped rows name a smaller-id duplicate
    for v in range(planted):
        r = verdict[v]
        if not r["keep"]:
            assert r["dup_of"] is not None and r["dup_of"] < v
    again = {r["vec_id"]: (r["keep"], r["dup_of"]) for r in
             semantic_dedup(emb, threshold=0.85, n_cells=30).collect()}
    assert again == {k: (r["keep"], r["dup_of"]) for k, r in verdict.items()}


def test_pq_training_distributed_path_still_works(spark, monkeypatch):
    """The Spark ML fallback for training samples too large to collect
    must stay live (the numpy fast path now covers every small-sample
    call): force it via the element threshold and check codebook shape,
    determinism, and that encoding still round-trips through it."""
    from sec_dl_spark.operators import similarity

    monkeypatch.setattr(similarity, "_DRIVER_FIT_MAX_ELEMS", 0)
    emb = _clustered_embeddings(spark, n_clusters=10, per_cluster=4, n_noise=40)
    books = similarity.pq_train_codebooks(emb, m=4, n_centroids=8, seed=1)
    assert [j for j, _ in books] == [0, 1, 2, 3]
    assert all(len(c) == 8 and len(c[0]) == 8 for _, c in books)  # dim 32 / m 4
    again = similarity.pq_train_codebooks(emb, m=4, n_centroids=8, seed=1)
    assert books == again
    codes = similarity.pq_encode(emb, books).select("pq_codes").first()[0]
    assert len(codes) == 4 and all(0 <= c < 8 for c in codes)


def test_kmeans_np_reseeds_distinct_true_farthest_points():
    """Empty-cluster reseeding must rank rows by TRUE distance (the
    assignment shortcut drops the per-row ||x||² term, which is only
    valid within a row) and must give two simultaneously-empty clusters
    DIFFERENT points."""
    import numpy as np

    from sec_dl_spark.operators.similarity import _kmeans_np

    # two tight groups far apart + a duplicate-heavy blob: forcing k=6 on
    # 3 distinct values guarantees empties every iteration
    X = np.array([[0.0, 0.0]] * 10 + [[100.0, 0.0]] * 10 + [[0.0, 90.0]] * 10)
    centers = _kmeans_np(X, 6, seed=7, max_iter=6)
    # every distinct data value must be represented by some centroid
    for target in ([0.0, 0.0], [100.0, 0.0], [0.0, 90.0]):
        d = np.abs(centers - np.array(target)).sum(axis=1).min()
        assert d < 1e-9, (target, centers)
    # determinism
    again = _kmeans_np(X, 6, seed=7, max_iter=6)
    assert np.array_equal(centers, again)


def test_kmeans_np_survives_k_exceeding_sample_rows():
    """k larger than the number of training rows (e.g. semantic_dedup's
    default n_cells on a handful of vectors) must degrade to duplicate
    centroids, not exhaust the farthest-first reseed iterator with a
    bare StopIteration (ADVICE r5 #4)."""
    import numpy as np

    from sec_dl_spark.operators.similarity import _kmeans_np

    X = np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 0.0]])
    centers = _kmeans_np(X, 16, seed=3, max_iter=4)
    assert centers.shape == (16, 2)
    # every centroid is one of the data points (reseeds cycle the sample)
    for c in centers:
        assert min(((X - c) ** 2).sum(axis=1)) < 1e-18


def test_cms_counts_one_sided_bound(spark):
    """Count-min estimates are NEVER below the true count, and with a
    tight eps on this small corpus they should be exact for hot keys."""
    from collections import Counter

    from sec_dl_spark.operators.sketch import cms_counts

    rows = [("a",)] * 500 + [("b",)] * 100 + [("c",)] * 7 + [(f"x{i}",) for i in range(200)]
    df = spark.createDataFrame(rows, "k string")
    true = Counter(r[0] for r in rows)
    n = len(rows)
    keys = ["a", "b", "c", "x0", "absent"]
    est = cms_counts(df, "k", keys, eps=0.001, confidence=0.99)
    for k in keys:
        assert est[k] >= true.get(k, 0)  # one-sided: never undercounts
        assert est[k] <= true.get(k, 0) + 0.001 * n + 1
    again = cms_counts(df, "k", keys, eps=0.001, confidence=0.99)
    assert est == again  # fixed seed → deterministic


def test_bloom_membership_no_false_negatives(spark):
    """Bloom membership: every present key answers True (no false
    negatives, ever); a batch of absent probes stays under the
    configured false-positive rate with slack."""
    from sec_dl_spark.operators.sketch import bloom_membership

    present = [f"k{i}" for i in range(1000)]
    df = spark.createDataFrame([(k,) for k in present], "k string")
    absent = [f"zz{i}" for i in range(1000)]
    got = bloom_membership(df, "k", present + absent, expected_items=1000, fpp=0.01)
    assert all(got[k] for k in present)
    false_pos = sum(1 for a in absent if got[a])
    assert false_pos <= 50  # 1% fpp with generous slack


def test_hot_keys_detects_planted_skew(spark):
    """Sample+sketch hot-key detection: planted heavy keys (20% / 5%)
    surface, the long uniform tail does not, and detection is
    deterministic — all without a groupBy shuffle keyed by the skewed
    column."""
    from sec_dl_spark.operators.skew import hot_keys

    rows = (
        [("whale",)] * 2000
        + [("shark",)] * 500
        + [(f"minnow{i % 400}",) for i in range(7500)]  # ~0.19% each
    )
    df = spark.createDataFrame(rows, "k string").repartition(8)
    got = hot_keys(df, "k", min_fraction=0.03, sample_fraction=0.05)
    assert got == ["shark", "whale"]
    assert hot_keys(df, "k", min_fraction=0.03, sample_fraction=0.05) == got
    # raising the bar past the second key's 5% leaves only the whale
    assert hot_keys(df, "k", min_fraction=0.1, sample_fraction=0.05) == ["whale"]


def test_semantic_dedup_kernels_agree(spark):
    """The arrow (per-cell numpy matmul) and expr (pair-join HOF cosine)
    scoring kernels must produce IDENTICAL verdicts — same keeps, same
    dup_of targets — on the real fixture."""
    from sec_dl_spark.operators.similarity import semantic_dedup

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {
        (r.vec_id, r.keep, r.dup_of)
        for r in semantic_dedup(e, threshold=0.35, kernel="arrow").collect()
    }
    b = {
        (r.vec_id, r.keep, r.dup_of)
        for r in semantic_dedup(e, threshold=0.35, kernel="expr").collect()
    }
    assert a == b
    import pytest as _pytest

    with _pytest.raises(ValueError, match="kernel"):
        semantic_dedup(e, kernel="simd")


def test_semantic_dedup_arrow_kernel_is_id_type_generic(spark):
    """The arrow kernel's output schema must follow the INPUT id type (the
    expr kernel is id-type-generic, so its twin must be): string ids
    round-trip, and a legitimate id of -1 is never mislabeled by an
    in-band no-dup sentinel — absent dup_of is a real NULL (ADVICE r6)."""
    from sec_dl_spark.operators.similarity import semantic_dedup

    v1, v2 = [1.0, 0.0, 0.0], [0.99, 0.14, 0.0]  # cosine ≈ 0.99
    vf = [0.0, 1.0, 0.0]
    # string ids: 'a' dups to... smallest-id-first means 'a' keeps, 'b' dups
    rows = [("a", v1), ("b", v2), ("c", vf)]
    sdf = spark.createDataFrame(rows, "doc string, embedding array<double>")
    for kernel in ("arrow", "expr"):
        got = {
            r.doc: (r.keep, r.dup_of)
            for r in semantic_dedup(
                sdf, threshold=0.9, id_col="doc", vec_col="embedding",
                n_cells=1, kernel=kernel,
            ).collect()
        }
        assert got == {"a": (True, None), "b": (False, "a"), "c": (True, None)}
    # a REAL id of -1 that is a unique keeper must come back dup_of=NULL,
    # and a dup of it must point AT -1
    rows = [(-1, v1), (7, v2), (9, vf)]
    ldf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for kernel in ("arrow", "expr"):
        got = {
            r.vec_id: (r.keep, r.dup_of)
            for r in semantic_dedup(
                ldf, threshold=0.9, n_cells=1, kernel=kernel
            ).collect()
        }
        assert got == {-1: (True, None), 7: (False, -1), 9: (True, None)}


def test_mmr_select_matches_numpy_reference_and_diversifies(spark):
    """mmr_select must (a) equal a pure-numpy greedy MMR on a planted set,
    (b) break the clone-cluster that plain top-k returns, (c) be a pure
    function of the data (repartition-invariant), (d) carry id types
    through (string ids)."""
    import numpy as np

    from sec_dl_spark.operators.similarity import cosine_topk, mmr_select

    # planted: query q near a tight clone cluster (ids 1-3) and two
    # orthogonal-ish but still relevant singletons (ids 4, 5)
    rows = [
        (0, [1.0, 0.0, 0.0]),          # the query itself
        (1, [0.99, 0.10, 0.0]),        # clones of the query direction
        (2, [0.99, 0.11, 0.0]),
        (3, [0.99, 0.12, 0.0]),
        (4, [0.70, 0.70, 0.0]),        # relevant but different direction
        (5, [0.70, 0.0, 0.70]),        # relevant, third direction
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") == 0)
    got = mmr_select(df, q, k=3, lam=0.5, shortlist=5).collect()
    got_ids = [r.neighbor_id for r in [x for x in sorted(got, key=lambda r: r.mmr_rank)]]

    # numpy reference: same shortlist (all 5 candidates), same greedy rule
    cand = sorted(
        [(r.neighbor_id, r.cosine_sim) for r in cosine_topk(df, q, k=5).collect()]
    )
    ids = np.array([c[0] for c in cand])
    rel = np.array([c[1] for c in cand])
    V = np.array([rows[i][1] for i in ids], dtype=float)
    Vn = V / np.linalg.norm(V, axis=1)[:, None]
    S = Vn @ Vn.T
    max_sim, chosen = np.zeros(len(ids)), []
    for _ in range(3):
        sc = 0.5 * rel - 0.5 * max_sim
        if chosen:
            sc[chosen] = -np.inf
        i = int(np.argmax(sc))
        chosen.append(i)
        max_sim = np.maximum(max_sim, S[:, i])
    assert got_ids == [int(x) for x in ids[chosen]]

    # diversity: plain top-3 is all clones; MMR must pick a non-clone
    top3 = {r.neighbor_id for r in cosine_topk(df, q, k=3).collect()}
    assert top3 == {1, 2, 3}
    assert set(got_ids) & {4, 5}

    # repartition-invariant
    got2 = mmr_select(df.repartition(7), q, k=3, lam=0.5, shortlist=5).collect()
    assert {(r.neighbor_id, r.mmr_rank) for r in got2} == {
        (r.neighbor_id, r.mmr_rank) for r in got
    }

    # string-id generality: same structure, string ids
    sdf = spark.createDataFrame(
        [(f"d{i}", v) for i, v in rows], "doc string, embedding array<double>"
    )
    sq = sdf.where(F.col("doc") == "d0")
    sgot = mmr_select(sdf, sq, k=3, lam=0.5, shortlist=5, id_col="doc").collect()
    assert [r.neighbor_id for r in sorted(sgot, key=lambda r: r.mmr_rank)] == [
        f"d{i}" for i in got_ids
    ]


def test_pca_whiten_decorrelates_and_is_deterministic(spark):
    """Whitened output must have ≈identity covariance on planted
    correlated data, be invariant to input partitioning, and preserve row
    identity/shape."""
    import numpy as np

    from sec_dl_spark.operators.similarity import pca_whiten

    rng = np.random.RandomState(3)
    # strongly correlated 3-D cloud
    z = rng.standard_normal((400, 3))
    A = np.array([[2.0, 0.0, 0.0], [1.5, 0.5, 0.0], [-1.0, 0.3, 0.2]])
    X = z @ A.T + np.array([5.0, -2.0, 0.5])
    rows = [(i, [float(v) for v in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = pca_whiten(df, out_col="white")
    got = {r.vec_id: np.array(r.white) for r in out.collect()}
    assert set(got) == set(range(400))
    W = np.vstack([got[i] for i in range(400)])
    C = np.cov(W - W.mean(0), rowvar=False, bias=True)
    assert np.allclose(C, np.eye(3), atol=0.01), C

    # repartition-invariant (fit sample is collected in id order)
    out2 = pca_whiten(df.repartition(13), out_col="white")
    got2 = {r.vec_id: np.array(r.white) for r in out2.collect()}
    assert all(np.array_equal(got[i], got2[i]) for i in range(400))


# ---------------------------------------------------------------------------
# binary sign-bit quantization + Hamming search
# ---------------------------------------------------------------------------


def test_binary_signature_packing_matches_direct_bit_count(spark):
    """Packed-popcount Hamming must equal the direct sign-mismatch count
    computed on the float vectors — a packing bug (wrong word split, wrong
    endianness, off-by-one bit index) cannot cancel out of both sides."""
    from sec_dl_spark.operators.similarity import (
        binary_quantize,
        hamming_expr,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(80)
    a = binary_quantize(emb).withColumnRenamed("vec_id", "id_a").withColumnRenamed("sig", "sa")
    b = binary_quantize(emb).withColumnRenamed("vec_id", "id_b").withColumnRenamed("sig", "sb")
    packed = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming_expr("sa", "sb").alias("h"))
    )
    va = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("fa"))
    vb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("fb"))
    direct = (
        va.crossJoin(vb)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr(
                "aggregate(zip_with(fa, fb, (x, y) -> IF((cast(x as double) > 0D) != "
                "(cast(y as double) > 0D), 1L, 0L)), 0L, (a, v) -> a + v)"
            ).alias("h"),
        )
    )
    got = {(r["id_a"], r["id_b"]): r["h"] for r in packed.collect()}
    want = {(r["id_a"], r["id_b"]): r["h"] for r in direct.collect()}
    assert got == want


def test_binary_signature_word_layout(spark):
    """62-bit word split pinned on a hand-built 64-dim vector: dims 0..61
    land in word 0 (LSB-first), dims 62..63 in word 1."""
    from sec_dl_spark.operators.similarity import binary_quantize

    vec = [0.0] * 64
    vec[0] = 1.0    # word 0, bit 0
    vec[61] = 1.0   # word 0, bit 61
    vec[62] = 1.0   # word 1, bit 0
    vec[63] = -5.0  # negative: bit stays 0
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<double>")
    [row] = binary_quantize(df).collect()
    assert row["sig"] == [(1 << 0) | (1 << 61), 1]


def test_binary_signature_rejects_unportable_word_width(spark):
    from sec_dl_spark.operators.similarity import binary_signature_expr

    for bad in (0, 63, 64):
        with pytest.raises(ValueError, match="bits_per_word"):
            binary_signature_expr("embedding", bits_per_word=bad)


def test_hamming_topk_rerank_scores_are_exact_cosine(spark):
    """Two-stage mode: Hamming shortlists, exact cosine re-ranks — every
    reported cosine_sim must equal the brute-force score for that pair,
    and recall vs exact top-k must clear a floor on the fixture."""
    from sec_dl_spark.operators.similarity import hamming_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in cosine_topk(emb, q, k=5).collect()
    }
    two_stage = hamming_topk(emb, q, k=5, rerank=50).collect()
    assert {r["rank"] for r in two_stage} == {1, 2, 3, 4, 5}
    exact_all = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in cosine_topk(emb, q, k=len(exact) * 100).collect()
    }
    for r in two_stage:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_all:
            assert r["cosine_sim"] == exact_all[key]
    recall = len(exact.keys() & {(r["query_id"], r["neighbor_id"]) for r in two_stage}) / len(exact)
    assert recall >= 0.5, f"hamming+rerank recall too low: {recall}"


def test_hamming_topk_guard_and_determinism(spark):
    from sec_dl_spark.operators.similarity import hamming_topk

    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=i) - 0.5 for i in range(8)]).alias("embedding"),
    )
    with pytest.raises(ValueError, match="queries side"):
        hamming_topk(emb, emb, k=3, max_queries=10)
    q = emb.where(F.col("vec_id") < 4)
    r1 = [tuple(r) for r in hamming_topk(emb, q, k=3).orderBy("query_id", "rank").collect()]
    r2 = [tuple(r) for r in hamming_topk(emb, q, k=3).orderBy("query_id", "rank").collect()]
    assert r1 == r2 and len(r1) == 12


# ---------------------------------------------------------------------------
# pg_trgm-style trigram matching
# ---------------------------------------------------------------------------


def test_trigrams_match_pg_trgm_semantics(spark):
    """Trigram extraction pinned to pg_trgm's documented padding: each
    lowercased alnum word padded with two leading + one trailing space,
    distinct 3-grams. show_trgm('cat') = {'  c',' ca','at ','cat'}."""
    from sec_dl_spark.operators.fts import trigrams_expr

    df = spark.createDataFrame(
        [("Cat",), ("two words",), ("",), ("!!",)], "s string"
    )
    rows = df.select(F.col("s"), trigrams_expr("s").alias("tg")).collect()
    got = {r["s"]: sorted(r["tg"]) for r in rows}
    assert got["Cat"] == sorted(["  c", " ca", "cat", "at "])
    assert got["two words"] == sorted(
        ["  t", " tw", "two", "wo ", "  w", " wo", "wor", "ord", "rds", "ds "]
    )
    assert got[""] == []
    assert got["!!"] == []


def test_trgm_similarity_matches_pg_trgm_example(spark):
    """similarity('word', 'two words') = 2/11 with distinct-set Jaccard:
    shared {' wo','wor'} over union of 11 (pg_trgm counts 'ord'+'rd '
    vs 'ord'+'rds'+'ds ' — 'word' has 6 trigrams, 'two words' has 10,
    intersection is {' wo','wor','ord',' w '...}: pin by direct
    computation against python sets, not a hand-guess)."""
    from sec_dl_spark.operators.fts import trgm_similarity, trigrams_expr

    def py_trgm(s):
        import re

        out = set()
        for w in re.split(r"[^a-z0-9]+", s.lower()):
            if not w:
                continue
            p = f"  {w} "
            out |= {p[i : i + 3] for i in range(len(p) - 2)}
        return out

    pairs = [("word", "two words"), ("cold widget", "old widget"), ("abc", "xyz")]
    df = spark.createDataFrame(pairs, "a string, b string").select(
        "a",
        "b",
        trgm_similarity(trigrams_expr("a"), trigrams_expr("b")).alias("sim"),
    )
    for r in df.collect():
        ta, tb = py_trgm(r["a"]), py_trgm(r["b"])
        want = len(ta & tb) / len(ta | tb)
        assert abs(r["sim"] - want) < 1e-12, (r["a"], r["b"], r["sim"], want)


def test_trgm_match_is_exhaustive_without_cutoff(spark):
    """Posting-join candidates == quadratic ground truth when max_df is
    None (sim > 0 requires a shared trigram), and max_df only ever
    REMOVES pairs, never changes a surviving pair's score."""
    from sec_dl_spark.operators.fts import trgm_match, trgm_similarity, trigrams_expr

    names = (
        spark.read.parquet("/root/testdata/sf0.001/part.parquet")
        .select(F.col("p_name").alias("nm"))
        .distinct()
    )
    full = {
        (r["name_a"], r["name_b"]): r["sim"]
        for r in trgm_match(names, "nm", threshold=0.3).collect()
    }
    a = names.select(F.col("nm").alias("name_a"), trigrams_expr("nm").alias("ta"))
    b = names.select(F.col("nm").alias("name_b"), trigrams_expr("nm").alias("tb"))
    quad = {
        (r["name_a"], r["name_b"]): r["sim"]
        for r in a.crossJoin(b)
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b", trgm_similarity(F.col("ta"), F.col("tb")).alias("sim"))
        .where(F.col("sim") >= 0.3)
        .collect()
    }
    assert full == quad and len(full) > 0
    capped = {
        (r["name_a"], r["name_b"]): r["sim"]
        for r in trgm_match(names, "nm", threshold=0.3, max_df=5).collect()
    }
    assert set(capped) <= set(full)
    for k, v in capped.items():
        assert v == full[k]


def test_interval_overlap_pairs_matches_quadratic(spark):
    """Bucketed interval self-join == quadratic ground truth on intervals
    engineered to stress the bucketing: pairs overlapping across a bucket
    boundary, long intervals spanning many buckets, zero-length (point)
    intervals touching an endpoint, and disjoint intervals."""
    from sec_dl_spark.operators.relational import interval_overlap_pairs

    H = 3600 * 1_000_000
    rows = [
        # (key, start, end) — times in us
        (1, 0, H // 2),                 # first half of bucket 0
        (2, H // 2, H + H // 2),        # spans the 0/1 boundary
        (3, H + H // 4, H + H // 3),    # inside bucket 1
        (4, 10 * H, 20 * H),            # long: spans 10 buckets
        (5, 15 * H, 15 * H),            # point interval inside 4
        (6, H // 2, H // 2),            # point touching 1's end and 2's start
        (7, 30 * H, 31 * H),            # disjoint from everything
    ]
    iv = spark.createDataFrame(rows, "k long, s_us long, e_us long")
    got = {
        (r["a_k"], r["b_k"]): r["overlap_us"]
        for r in interval_overlap_pairs(
            iv, key_cols=["k"], start_col="s_us", end_col="e_us"
        ).collect()
    }
    want = {}
    for ka, sa, ea in rows:
        for kb, sb, eb in rows:
            if ka < kb and sa <= eb and sb <= ea:
                want[(ka, kb)] = min(ea, eb) - max(sa, sb)
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 0   # touching endpoints pair
    assert (4, 5) in got and got[(4, 5)] == 0   # point inside long interval
    assert (2, 3) in got                        # cross-boundary overlap
    assert all(k != (4, 7) for k in got)        # disjoint stays out


def test_interval_overlap_pairs_no_cross_product_plan(spark):
    """The physical plan must be a bucket equi-join (SortMergeJoin or
    hash join on _bucket), never a broadcast nested loop / cartesian —
    the exact plan shape an unbounded range join degenerates to."""
    from sec_dl_spark.operators.relational import interval_overlap_pairs

    iv = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") * 1000).alias("s_us"),
        (F.col("id") * 1000 + 500).alias("e_us"),
    )
    plan = (
        interval_overlap_pairs(iv, key_cols=["k"], bucket_seconds=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# declarative data-quality rules
# ---------------------------------------------------------------------------


def test_quality_rules_count_violations(spark):
    """Each rule kind counts exactly its violations: nulls, out-of-range
    (nulls pass), out-of-set, regex, custom predicate, duplicate keys
    (extras beyond the first), and orphaned foreign keys (nulls pass)."""
    from sec_dl_spark.operators import quality as Q

    df = spark.createDataFrame(
        [
            (1, 10, "A", "ok-1"),
            (2, None, "A", "ok-2"),      # null qty: not_null flags, in_range passes
            (2, 200, "X", "bad id"),     # dup key, out of range, out of set, bad format
            (3, 5, "B", "ok-3"),
            (None, 5, "A", "ok-4"),      # null key
            (2, 7, "A", "ok-5"),         # third copy of key 2
        ],
        "k long, qty long, flag string, label string",
    )
    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    rules = [
        Q.not_null("k"),
        Q.not_null("qty"),
        Q.in_range("qty", 1, 100),
        Q.in_set("flag", ["A", "B"]),
        Q.matches("label", r"^ok-\d$"),
        Q.satisfies("qty_odd_or_null", F.col("qty").isNull() | (F.col("qty") % 2 == 1)),
        Q.unique("k"),
        Q.references("k", parent, "pk"),
    ]
    got = {r["rule"]: r["violations"] for r in Q.check(df, rules).collect()}
    assert got == {
        "not_null(k)": 1,
        "not_null(qty)": 1,
        "in_range(qty,1,100)": 1,
        "in_set(flag)": 1,
        "matches(label)": 1,
        "satisfies(qty_odd_or_null)": 2,   # qty 10 and 200 are even
        "unique(k)": 2,                    # key 2 appears 3x -> 2 extras
        "references(k->pk)": 1,            # k=3 orphaned; null k passes
    }


def test_quality_gate_raises_and_passes(spark):
    from sec_dl_spark.operators import quality as Q

    df = spark.createDataFrame([(1,), (None,)], "k long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not_null"):
        Q.gate(df, [Q.not_null("k")])
    # within budget: returns the frame unchanged for chaining
    out = Q.gate(df, [Q.not_null("k")], max_violations=1)
    assert out.count() == 2


def test_quality_row_rules_single_aggregate_plan(spark):
    """All row rules must share ONE aggregate over one scan — adding a
    rule must not add a job. The plan has exactly one scan of the input."""
    from sec_dl_spark.operators import quality as Q

    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    rep = Q.check(
        df,
        [Q.not_null("k"), Q.in_range("v", 0, 5), Q.satisfies("even", F.col("v") % 2 == 0)],
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range (0, 100") == 1


def test_rollup_merge_matches_full_recompute(spark):
    """Folding N deltas one at a time == one full-recompute rollup:
    count/min/max exactly, sum within float tolerance, including keys
    that appear in only some batches and all-null measure groups."""
    import math

    from sec_dl_spark.operators.rollup import (
        Measure,
        build_rollup,
        finalize,
        merge_rollups,
    )

    rows = [
        ("a", 1.0), ("a", 2.0), ("b", 10.0),
        ("b", None), ("c", 5.0),             # null measure ignored by count/sum
        ("a", 3.0), ("d", -7.0),             # d appears only in batch 3
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    ms = [Measure("v")]
    batches = [
        df.limit(3),
        df.offset(3).limit(2) if hasattr(df, "offset") else df.subtract(df.limit(3)).limit(2),
        df.subtract(df.limit(5)),
    ]
    # build incrementally
    acc = build_rollup(batches[0], ["k"], ms)
    for b in batches[1:]:
        acc = merge_rollups(acc, build_rollup(b, ["k"], ms), ["k"], ms)
    got = {r["k"]: r.asDict() for r in finalize(acc, ms).collect()}
    want = {r["k"]: r.asDict() for r in finalize(build_rollup(df, ["k"], ms), ms).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k]["cnt_v"] == want[k]["cnt_v"]
        assert got[k]["min_v"] == want[k]["min_v"]
        assert got[k]["max_v"] == want[k]["max_v"]
        for col in ("sum_v", "avg_v"):
            a, b = got[k][col], want[k][col]
            assert (a is None and b is None) or math.isclose(a, b, rel_tol=1e-12)


def test_rollup_merge_is_rollup_sized(spark):
    """The merge job's inputs are the two partial tables, not the raw
    history — the plan scans no base-table source."""
    from sec_dl_spark.operators.rollup import Measure, build_rollup, merge_rollups

    base = spark.range(1000).select(
        (F.col("id") % 5).alias("k"), F.col("id").cast("double").alias("v")
    )
    ms = [Measure("v")]
    a = build_rollup(base, ["k"], ms).cache()
    a.count()  # materialize: the merge below must read the cached partial
    d = build_rollup(base.where(F.col("id") > 500), ["k"], ms).cache()
    d.count()
    plan = (
        merge_rollups(a, d, ["k"], ms)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "InMemoryTableScan" in plan and "Range" not in plan.split("InMemoryTableScan")[0]


def test_rollup_hll_distinct_merges_losslessly(spark):
    """Measure(distinct=True): HLL sketch partials union across deltas,
    and the merged estimate equals the single-pass sketch's estimate
    EXACTLY (same sketch algebra), staying within 2% of the true
    distinct count at this cardinality."""
    from sec_dl_spark.operators.rollup import (
        Measure,
        build_rollup,
        finalize,
        merge_rollups,
    )

    base = spark.range(20_000).select(
        (F.col("id") % 3).alias("k"), (F.col("id") % 4999).alias("v")
    )
    ms = [Measure("v", distinct=True)]
    a = build_rollup(base.where(F.col("id") < 12_000), ["k"], ms)
    d = build_rollup(base.where(F.col("id") >= 12_000), ["k"], ms)
    merged = {
        r["k"]: r["approx_distinct_v"]
        for r in finalize(merge_rollups(a, d, ["k"], ms), ms).collect()
    }
    single = {
        r["k"]: r["approx_distinct_v"]
        for r in finalize(build_rollup(base, ["k"], ms), ms).collect()
    }
    true = {
        r["k"]: r["d"]
        for r in base.groupBy("k").agg(F.countDistinct("v").alias("d")).collect()
    }
    assert merged == single  # sketch union == sketch of union
    for k, est in merged.items():
        assert abs(est - true[k]) / true[k] < 0.02


def test_cdc_apply_changes_tombstones_and_ties(spark):
    """Latest change per key wins; a delete as the latest change removes
    the key; a delete FOLLOWED by an upsert resurrects it; sequence ties
    break on the composite seq columns."""
    from sec_dl_spark.operators.cdc import apply_changes

    rows = [
        # key, seq1, seq2, op, payload
        (1, 10, 0, "U", "a"),
        (1, 20, 0, "U", "b"),       # latest for 1 -> survives as "b"
        (2, 10, 0, "U", "x"),
        (2, 20, 0, "D", None),      # tombstone latest -> 2 vanishes
        (3, 10, 0, "D", None),
        (3, 20, 0, "U", "alive"),   # resurrection
        (4, 10, 1, "U", "late"),    # same seq1, higher seq2 wins
        (4, 10, 0, "U", "early"),
    ]
    df = spark.createDataFrame(rows, "k long, s1 long, s2 long, op string, v string")
    snap = {
        r["k"]: r["v"]
        for r in apply_changes(df, ["k"], ["s1", "s2"]).collect()
    }
    assert snap == {1: "b", 3: "alive", 4: "late"}


def test_cdc_scd2_intervals(spark):
    """SCD2: each non-delete change is valid until the NEXT change (which
    may be a delete — it closes the interval without emitting a row);
    the live latest version has an open (NULL) valid_to."""
    from sec_dl_spark.operators.cdc import scd2_history

    rows = [
        (1, 10, "U", "v1"),
        (1, 20, "U", "v2"),
        (1, 30, "D", None),     # closes v2, emits nothing
        (2, 10, "U", "w1"),     # still live -> open interval
    ]
    df = spark.createDataFrame(rows, "k long, s long, op string, v string")
    hist = {
        (r["k"], r["v"]): (r["valid_from"], r["valid_to"])
        for r in scd2_history(df, ["k"], ["s"]).collect()
    }
    assert hist == {
        (1, "v1"): (10, 20),
        (1, "v2"): (20, 30),
        (2, "w1"): (10, None),
    }


def test_snapshot_diff_classifies(spark):
    """added / removed / changed (null-safe: NULL->value counts) with
    unchanged keys dropped by default and kept on request."""
    from sec_dl_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, None, "c"), (4, 40.0, "d")],
        "k long, price double, status string",
    )
    new = spark.createDataFrame(
        [(1, 10.0, "a"), (3, 30.0, "c"), (4, 40.0, "D"), (5, 50.0, "e")],
        "k long, price double, status string",
    )
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {2: "removed", 3: "changed", 4: "changed", 5: "added"}
    full = snapshot_diff(old, new, ["k"], include_unchanged=True)
    assert {r["k"]: r["change_type"] for r in full.collect()}[1] == "unchanged"
    # changed rows carry both sides
    row3 = {r["k"]: r for r in full.collect()}[3]
    assert row3["old_price"] is None and row3["new_price"] == 30.0


def test_global_rank_matches_row_number_and_stays_distributed(spark):
    """The distributed rank equals the global row_number for a total
    order, regardless of partitioning; the plan range-partitions instead
    of collapsing the input into a single-partition window."""
    import random

    from pyspark.sql import functions as F

    from sec_dl_spark.operators.relational import global_rank

    rng = random.Random(7)
    rows = [(i, rng.randrange(100)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, w long").repartition(13)
    ranked = global_rank(df, [F.col("w").desc(), F.col("id").asc()], "r")
    got = {r["id"]: r["r"] for r in ranked.collect()}
    expect = {
        id_: rk
        for rk, (id_, _) in enumerate(sorted(rows, key=lambda t: (-t[1], t[0])))
    }
    assert got == expect
    plan = ranked._jdf.queryExecution().executedPlan().toString().lower()
    # the range exchange now runs at CONSTRUCTION time (localCheckpoint
    # pins one materialization both plan branches read), so the executed
    # plan consumes the checkpointed RDD; what must NEVER appear is a
    # global single-partition window over the raw input
    assert "scan existingrdd" in plan
    # the r15 rework: the local rank comes from monotonically_increasing_id
    # over the pinned SORTED partitions minus a per-partition base — the
    # data path has NO window and NO second exchange (the old per-_pid
    # row_number window hash-exchanged every row a second time)
    assert "monotonically_increasing_id" in plan
    # single-partition operators exist only on the O(num_partitions)
    # counts/offsets side (its exchange + its cumulative window), never
    # on the ranked data path
    assert 1 <= plan.count("singlepartition") <= 2


def test_assign_shards_balances_and_is_deterministic(spark):
    """Snake dealing over the descending-weight rank: every shard gets
    n/N rows, shard weight totals stay within a few percent, and the
    assignment is a pure function of (weight, tiebreak)."""
    import random

    from sec_dl_spark.operators.grouped import assign_shards

    rng = random.Random(11)
    rows = [(i, 50 + rng.randrange(1000)) for i in range(800)]
    df = spark.createDataFrame(rows, "id long, w long")
    out = assign_shards(df, 8, "w", order_cols=["id"]).collect()
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["w"])
    assert set(by_shard) == set(range(8))
    counts = {s: len(v) for s, v in by_shard.items()}
    assert set(counts.values()) == {100}
    sums = {s: sum(v) for s, v in by_shard.items()}
    assert max(sums.values()) / min(sums.values()) < 1.05
    # deterministic under different input partitioning
    out2 = assign_shards(df.repartition(17), 8, "w", order_cols=["id"]).collect()
    assert {r["id"]: r["shard"] for r in out2} == {r["id"]: r["shard"] for r in out}


def test_udtf_sentence_split_and_token_spans(spark):
    """The real @udtf classes: sentence splitting on punctuated text
    (rule: punctuation + spaces ends a sentence) and token spans with
    correct character offsets into the lowercased text."""
    from sec_dl_spark.functions.udtf import sentence_udtf, token_spans_udtf

    spark.udtf.register("t_sent", sentence_udtf())
    spark.udtf.register("t_spans", token_spans_udtf())
    spark.createDataFrame(
        [(1, "Hi there. Second one!  Trailing? ")], "id long, text string"
    ).createOrReplaceTempView("udtf_t")

    sents = spark.sql(
        "SELECT s.* FROM udtf_t, LATERAL t_sent(text) s ORDER BY sent_idx"
    ).collect()
    assert [r["sentence"] for r in sents] == ["Hi there.", "Second one!", "Trailing?"]
    assert [r["sent_idx"] for r in sents] == [0, 1, 2]

    spans = spark.sql(
        "SELECT s.* FROM udtf_t, LATERAL t_spans(text) s ORDER BY tok_idx"
    ).collect()
    text = "hi there. second one!  trailing? "
    assert [r["token"] for r in spans] == ["hi", "there", "second", "one", "trailing"]
    for r in spans:
        assert text[r["start_char"] : r["end_char"]] == r["token"]


def test_compressed_len_matches_zlib_and_orders_quality(spark):
    """Arrow zlib length == direct zlib; repetition compresses below
    prose, random junk barely compresses."""
    import zlib

    from pyspark.sql import functions as F

    from sec_dl_spark.functions.analysis import compressed_len

    import random

    rng = random.Random(3)
    prose = "the quick brown fox jumps over the lazy dog " * 20
    repeat = "spam " * 180
    junk = "".join(chr(rng.randrange(0x20, 0x2FF)) for _ in range(900))
    df = spark.createDataFrame(
        [(1, prose), (2, repeat), (3, junk), (4, None)], "id long, text string"
    )
    zlen = compressed_len()
    got = {
        r["id"]: r["z"]
        for r in df.select("id", zlen(F.col("text")).alias("z")).collect()
    }
    for i, s in ((1, prose), (2, repeat), (3, junk)):
        assert got[i] == len(zlib.compress(s.encode("utf-8"), 6))
    assert got[4] is None
    r1 = got[1] / len(prose.encode())
    r2 = got[2] / len(repeat.encode())
    r3 = got[3] / len(junk.encode())
    assert r2 < r1 < r3


def test_containment_detects_quotes_jaccard_misses(spark):
    """A short doc fully contained in a long doc: containment 1.0 while
    Jaccard stays far below — the excerpt-detection property."""
    from sec_dl_spark.operators.dedup import containment_pairs, jaccard_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long_ = short + " " + " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, "totally different words here entirely")],
        "doc_id long, text string",
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df).collect()
    }
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_pairs(df).collect()
    }
    assert cont[(1, 2)] == 1.0
    assert jac[(1, 2)] < 0.15
    assert (1, 3) not in cont and (2, 3) not in cont


def test_profile_single_pass_stats(spark):
    """Profiler stats match hand-computed values (nulls, distincts, mixed
    int/double columns stack into one DOUBLE report) and the plan runs
    ONE aggregate over one scan."""
    from sec_dl_spark.operators.quality import profile

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (2, None), (4, 20.0)], "k long, v double"
    )
    rows = {r["col_name"]: r for r in profile(df, ["k", "v"]).collect()}
    k, v = rows["k"], rows["v"]
    assert (k["n"], k["n_null"], k["n_distinct"]) == (4, 0, 3)
    assert (k["min_v"], k["max_v"], k["avg_v"]) == (1.0, 4.0, 2.25)
    assert (v["n"], v["n_null"], v["n_distinct"]) == (3, 1, 2)
    assert v["min_v"] == 10.0 and v["max_v"] == 20.0
    plan = profile(df, ["k", "v"])._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("scan existingrdd") <= 1


def test_rollup_histogram_merges_losslessly(spark):
    """Fixed-bin histogram partials are EXACTLY mergeable (element-wise
    sum): batch-split build + merge equals the one-pass build bin for
    bin, with under/overflow landing in slots 0 and bins+1."""
    from sec_dl_spark.operators.rollup import Measure, build_rollup, merge_rollups

    rows = [("a", float(v)) for v in range(-5, 105, 1)] + [
        ("b", float(v * 7 % 100)) for v in range(60)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    m = [Measure("v", hist_bins=10, hist_lo=0.0, hist_hi=100.0)]

    full = {r["k"]: r["hist_v"] for r in build_rollup(df, ["k"], m).collect()}
    b1 = build_rollup(df.where("v < 40"), ["k"], m)
    b2 = build_rollup(df.where("v >= 40"), ["k"], m)
    merged = {
        r["k"]: r["hist_v"] for r in merge_rollups(b1, b2, ["k"], m).collect()
    }
    assert merged == full
    # "a" covers -5..104: 5 underflow, 5 overflow (100..104)
    assert full["a"][0] == 5 and full["a"][-1] == 5
    assert sum(full["a"]) == 110 and sum(full["b"]) == 60


def test_observed_metrics_ride_the_job(spark):
    """Observation metrics arrive as a side-effect of the action — no
    second scan — and report the aggregates over the full frame."""
    from pyspark.sql import functions as F

    from sec_dl_spark.operators.quality import with_observed_metrics

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "k long, v double"
    )
    observed, obs = with_observed_metrics(
        df,
        "ingest",
        {
            "n": F.count(F.lit(1)),
            "n_null_v": F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)),
            "max_v": F.max("v"),
        },
    )
    assert observed.where("k >= 0").count() == 3  # the action
    got = obs.get
    assert got == {"n": 3, "n_null_v": 1, "max_v": 30.0}


def test_partition_skew_report_flags_imbalance(spark):
    """A frame repartitioned onto one hot key shows top-heavy shares; a
    round-robin repartition shows near-equal ones."""
    from pyspark.sql import functions as F

    from sec_dl_spark.operators.quality import partition_skew_report

    df = spark.range(1000).withColumn("k", F.lit(1))
    skewed = df.repartition(8, "k")  # all rows hash to one partition
    rep = partition_skew_report(skewed).collect()
    assert rep[0]["n_rows"] == 1000 and rep[0]["frac_of_max"] == 1.0
    assert all(r["n_rows"] == 0 or r["frac_of_max"] in (0.0, 1.0) for r in rep)

    even = partition_skew_report(df.repartition(8)).collect()
    assert sum(r["n_rows"] for r in even) == 1000
    assert min(r["n_rows"] for r in even) > 0


def test_map_in_arrow_normalize_parity(spark):
    """mapInArrow zero-copy L2 kernel == the expression normalize_vec,
    including ragged lengths and an all-zero vector."""
    import math

    from pyspark.sql import functions as F

    from sec_dl_spark.operators.similarity import normalize_vec, normalize_vecs_arrow

    df = spark.createDataFrame(
        [
            (1, [3.0, 4.0]),
            (2, [1.0, 1.0, 1.0, 1.0]),
            (3, [0.0, 0.0]),
            (4, [5.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    arrow = {
        r["vec_id"]: r["unit"] for r in normalize_vecs_arrow(df).collect()
    }
    # the expression form divides by the norm (ANSI: zero vector throws),
    # so the parity set is the non-zero rows; the arrow kernel GUARDS the
    # zero vector instead — assert that difference explicitly
    expr = {
        r["vec_id"]: r["unit"]
        for r in df.where("vec_id <> 3")
        .select("vec_id", normalize_vec(F.col("embedding")).alias("unit"))
        .collect()
    }
    for k in expr:
        assert len(arrow[k]) == len(expr[k])
        for a, b in zip(arrow[k], expr[k]):
            assert math.isclose(a, b, rel_tol=1e-12)
    assert arrow[3] == [0.0, 0.0]  # zero vector guarded, not NaN/error
    assert math.isclose(sum(x * x for x in arrow[1]), 1.0, rel_tol=1e-12)


def test_gram_matrix_matches_numpy_and_partitioning(spark):
    """Map-side-reduced Gram == numpy X.T @ X regardless of input
    partitioning; only upper-triangle entries are emitted."""
    import math
    import random

    import numpy as np

    from sec_dl_spark.operators.similarity import gram_matrix

    rng = random.Random(5)
    X = [[rng.uniform(-1, 1) for _ in range(6)] for _ in range(400)]
    ref = np.array(X).T @ np.array(X)
    df = spark.createDataFrame(
        [(row,) for row in X], "embedding array<double>"
    ).repartition(7)
    got = {(r["i"], r["j"]): r["g"] for r in gram_matrix(df).collect()}
    assert len(got) == 6 * 7 // 2
    for (i, j), g in got.items():
        assert i <= j
        assert math.isclose(g, ref[i][j], rel_tol=1e-10)
    got2 = {
        (r["i"], r["j"]): r["g"]
        for r in gram_matrix(df.coalesce(1)).collect()
    }
    for k in got:
        assert math.isclose(got[k], got2[k], rel_tol=1e-12)


def test_bloom_prefilter_join_exact_and_pruning(spark):
    """The bloom prefilter never drops a true match (no false negatives),
    the exact join removes every false positive (result == plain join),
    and at 16+ bits/key the prefilter actually prunes the fact side."""
    import random

    from pyspark.sql import functions as F

    from sec_dl_spark.operators.relational import (
        bloom_build,
        bloom_might_contain,
        bloom_prefilter_join,
    )

    rng = random.Random(3)
    fact = spark.createDataFrame(
        [(i, rng.randrange(1000)) for i in range(5000)], "row_id long, k long"
    )
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(0, 1000, 10)], "dk long, payload string")

    bf = bloom_build(dim, "dk", m_bits=1 << 11, k_hashes=5)
    pre = fact.where(bloom_might_contain(bf, F.col("k")))
    pre_keys = {r["row_id"] for r in pre.collect()}
    true_keys = {
        r["row_id"]
        for r in fact.join(dim, fact.k == dim.dk, "left_semi").collect()
    }
    assert true_keys <= pre_keys  # no false negatives, ever
    assert len(pre_keys) < fact.count()  # actually prunes

    got = sorted(
        map(tuple, bloom_prefilter_join(fact, dim, "k", "dk").collect())
    )
    want = sorted(map(tuple, fact.join(dim, fact.k == dim.dk).collect()))
    assert got == want

    # the membership test is a literal-array codegen expression: the
    # prefiltered scan plan gains no exchange and no python evaluation
    plan = pre._jdf.queryExecution().executedPlan().toString().lower()
    assert "exchange" not in plan
    assert "python" not in plan


def test_bloom_build_rejects_bad_width(spark):
    import pytest as _pytest

    from sec_dl_spark.operators.relational import bloom_build

    df = spark.createDataFrame([(1,)], "k long")
    with _pytest.raises(ValueError):
        bloom_build(df, "k", m_bits=100)


def test_bloom_might_contain_rejects_non_integer_words(spark):
    """Bloom words are spliced into SQL text, so anything but a signed
    64-bit integer must be refused before it reaches the parser."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sec_dl_spark.operators.relational import BloomFilter, bloom_might_contain

    with _pytest.raises(TypeError):
        bloom_might_contain(BloomFilter(("1) OR (1",), 64, 1), F.col("k"))
    with _pytest.raises(ValueError):
        bloom_might_contain(BloomFilter((1 << 63,), 64, 1), F.col("k"))


def test_global_cumsum_matches_window_sum(spark):
    """Distributed prefix sum == single-partition window running sum for a
    total order, with a range exchange in the plan instead of a global
    window collapse."""
    import random

    from pyspark.sql import functions as F

    from sec_dl_spark.operators.relational import global_cumsum

    rng = random.Random(5)
    rows = [(i, rng.randrange(1, 50)) for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(17)
    got = {
        r["id"]: r["cs"]
        for r in global_cumsum(df, [F.col("id")], "v", "cs").collect()
    }
    acc, expect = 0, {}
    for i, v in rows:
        acc += v
        expect[i] = acc
    assert got == expect


def test_concat_chunk_sequences_invariants(spark):
    """Chunking conserves tokens, produces contiguous offsets in order,
    keeps every in-sequence offset under seq_len, and spans the right
    number of sequences per document."""
    from pyspark.sql import functions as F

    from sec_dl_spark.operators.relational import concat_chunk_sequences

    rows = [(i, (i * 37) % 190 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    packed = sorted(
        concat_chunk_sequences(df, [F.col("doc_id")], "n", seq_len=128).collect(),
        key=lambda r: r["doc_id"],
    )
    total = 0
    for r in packed:
        assert r["start_off"] == total  # contiguous concat in doc order
        assert 0 <= r["off_in_seq"] < 128
        assert r["seq_first"] == r["start_off"] // 128
        assert r["seq_last"] == (r["start_off"] + r["n"] - 1) // 128
        assert r["n_seqs"] == r["seq_last"] - r["seq_first"] + 1
        total += r["n"]
    assert total == sum(n for _, n in rows)


def test_concat_chunk_sequences_drops_empty_and_rejects_bad_len(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sec_dl_spark.operators.relational import concat_chunk_sequences

    df = spark.createDataFrame([(1, 0), (2, 5)], "doc_id long, n long")
    out = concat_chunk_sequences(df, [F.col("doc_id")], "n", seq_len=4).collect()
    assert [r["doc_id"] for r in out] == [2]
    with _pytest.raises(ValueError):
        concat_chunk_sequences(df, [F.col("doc_id")], "n", seq_len=0)


def test_strip_boilerplate_passages(spark):
    """A passage repeated across >= min_df documents is removed from every
    document; unique passages and the sub-tile tail survive in order;
    documents shorter than one tile pass through untouched."""
    from pyspark.sql import functions as F

    from sec_dl_spark.functions.text import tokenize
    from sec_dl_spark.operators.dedup import strip_boilerplate_passages

    header = "terms of use apply to this document here"  # 8 tokens
    docs = [
        (1, f"{header} alpha beta gamma delta epsilon zeta eta theta tail one"),
        (2, f"{header} one two three four five six seven eight"),
        (3, "just a short doc"),  # < 1 tile: untouched
        (4, "unique eight token passage nothing shared at all plus extra"),
    ]
    tk = spark.createDataFrame(docs, "doc_id long, text string").select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    )
    out = {r["doc_id"]: r for r in strip_boilerplate_passages(tk, min_df=2).collect()}

    assert out[1]["n_removed"] == 1 and out[1]["clean_text"] == (
        "alpha beta gamma delta epsilon zeta eta theta tail one"
    )
    assert out[2]["n_removed"] == 1 and out[2]["clean_text"] == (
        "one two three four five six seven eight"
    )
    assert out[3]["n_tiles"] == 0 and out[3]["clean_text"] == "just a short doc"
    assert out[4]["n_removed"] == 0 and out[4]["clean_text"] == (
        "unique eight token passage nothing shared at all plus extra"
    )


def test_pagerank_fixed_point_semantics(spark):
    """On a directed star (spokes -> hub), the hub accumulates every
    spoke's full contribution and the spokes keep only the base mass; the
    result is deterministic across partitionings, and persist_every
    checkpointing does not change values."""
    from sec_dl_spark.operators.graph import SCALE, pagerank_fixed_point

    spokes = list(range(1, 6))
    edges = [(s, 0) for s in spokes] + [(0, s) for s in spokes]
    df = spark.createDataFrame(edges, "src long, dst long")
    pr = {r["id"]: r["pr_int"] for r in pagerank_fixed_point(df, iterations=3).collect()}

    base = 15 * SCALE // 100
    # hand-rolled integer reference on the same graph
    ranks = {n: SCALE for n in range(6)}
    deg = {0: 5, **{s: 1 for s in spokes}}
    for _ in range(3):
        nxt = {}
        for n in range(6):
            acc = sum(ranks[m] // deg[m] for m in range(6) if (m, n) in set(edges))
            nxt[n] = base + (85 * acc) // 100
        ranks = nxt
    assert pr == ranks
    assert pr[0] > pr[1] == pr[2]  # hub dominates, spokes symmetric

    chk = {
        r["id"]: r["pr_int"]
        for r in pagerank_fixed_point(df.repartition(7), iterations=3, persist_every=1).collect()
    }
    assert chk == pr


def test_prefix_filter_jaccard_matches_bruteforce(spark):
    """Prefix filtering must generate EVERY pair with J >= t (the prefix
    theorem) — verified against brute-force ground truth on docs built to
    stress the filter: heavy shared boilerplate (frequent shingles that
    must not be candidate keys) plus planted near-duplicates."""
    import itertools
    import random

    from sec_dl_spark.operators.dedup import prefix_filter_jaccard_pairs

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(40)]
    boiler = "common header shared by every single document here"
    docs = []
    for i in range(30):
        body = " ".join(rng.choice(vocab) for _ in range(30))
        docs.append((i, f"{boiler} {body}"))
    # planted near-dups: copy with a tiny edit
    for i in range(30, 36):
        base = docs[i - 30][1]
        docs.append((i, base + " trailing extra token"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {
        (r["id_a"], r["id_b"])
        for r in prefix_filter_jaccard_pairs(df, t_num=1, t_den=2).collect()
    }

    def sh(text):
        toks = text.lower().split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: sh(t_) for i, t_ in docs}
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sets), 2)
        if 3 * len(sets[a] & sets[b]) >= len(sets[a]) + len(sets[b])
    }
    assert want  # the planted dups actually cross the threshold
    assert got == want


def test_crossencoder_rerank_plumbing(spark):
    """The rerank stage widens the schema (never mutating the input
    DataFrame's cached schema), applies a custom batch scorer through
    Arrow batches, and the default scorer counts distinct-token overlap."""
    import pandas as pd

    from sec_dl_spark.operators.fts import crossencoder_rerank

    df = spark.createDataFrame(
        [
            (1, "spark sort", "the spark sort engine sorts"),
            (2, "spark sort", "nothing relevant here"),
        ],
        "doc_id long, query_text string, doc_text string",
    )
    out = crossencoder_rerank(df)
    assert out.columns == ["doc_id", "query_text", "doc_text", "ce_score"]
    assert df.columns == ["doc_id", "query_text", "doc_text"]  # input untouched
    scores = {r["doc_id"]: r["ce_score"] for r in out.collect()}
    assert scores == {1: 2.0, 2: 0.0}

    def length_scorer(qs, ds):
        return pd.Series([float(len(d)) for d in ds])

    custom = {
        r["doc_id"]: r["ce_score"]
        for r in crossencoder_rerank(df, scorer=length_scorer).collect()
    }
    assert custom[1] == float(len("the spark sort engine sorts"))


def test_range_checksums_localize_divergence(spark):
    """Two replicas differing in exactly one row (one changed, one
    missing) — checksum_diff reports exactly the buckets containing them,
    with per-side counts that tell the repair job what to fetch."""
    from pyspark.sql import functions as F

    from sec_dl_spark.operators.quality import checksum_diff, range_checksums

    a = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 97).alias("v")
    )
    # replica b: row k=1234 corrupted, row k=4321 missing
    b = a.withColumn(
        "v", F.when(F.col("k") == 1234, F.lit(-1)).otherwise(F.col("v"))
    ).where(F.col("k") != 4321)

    ca = range_checksums(a, "k", ["k", "v"], bucket_width=100)
    cb = range_checksums(b, "k", ["k", "v"], bucket_width=100)
    diff = {r["bucket"]: r for r in checksum_diff(ca, cb).collect()}
    assert set(diff) == {12, 43}
    assert diff[12]["n_rows_a"] == diff[12]["n_rows_b"]  # corrupt, not missing
    assert diff[43]["n_rows_a"] == diff[43]["n_rows_b"] + 1  # missing row

    # identical replicas → empty diff
    assert checksum_diff(ca, range_checksums(a, "k", ["k", "v"], 100)).count() == 0


def test_join_delta_equals_view_difference(spark):
    """The delta rule: maintaining A ⋈ B from (A_old, ΔA, B_old, ΔB)
    yields EXACTLY the multiset difference between the new view and the
    old view — on data with duplicate join keys and rows landing in all
    three delta terms."""
    from collections import Counter

    from pyspark.sql import functions as F

    from sec_dl_spark.operators.cdc import join_delta

    a = spark.createDataFrame(
        [(k, t_) for k in range(20) for t_ in range(3)], "ak long, at long"
    )
    b = spark.createDataFrame(
        [(k % 10, t_) for k in range(30) for t_ in range(2)], "bk long, bt long"
    )
    a_old, a_new = a.where("at < 2"), a.where("at >= 2")
    b_old, b_new = b.where("bt < 1"), b.where("bt >= 1")

    cond = F.col("ak") == F.col("bk")
    got = Counter(map(tuple, join_delta(a_old, a_new, b_old, b_new, cond).collect()))
    full = Counter(map(tuple, a.join(b, cond).collect()))
    old = Counter(map(tuple, a_old.join(b_old, cond).collect()))
    assert got == full - old and sum(got.values()) > 0


def test_agg_delta_mixed_stream_equals_recompute(spark):
    """operators/cdc.py:agg_delta with a MIXED insert+retraction stream:
    maintained view == from-scratch recompute over (base rows + inserts
    - deleted rows), including a key created by the stream and a key
    emptied by it."""
    from pyspark.sql import functions as F

    from sec_dl_spark.operators.cdc import agg_delta

    base_rows = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5)], "k string, v long"
    )
    base = base_rows.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("v").alias("sv")
    )
    changes = spark.createDataFrame(
        [
            ("a", "D", 10),   # retract one of a's rows
            ("b", "D", 5),    # empties b -> key must drop
            ("c", "I", 7),    # creates c
            ("c", "I", 3),
        ],
        "k string, op string, v long",
    )
    out = {
        r["k"]: (r["n"], r["sv"])
        for r in agg_delta(base, changes, ["k"], {"sv": "v"}).collect()
    }
    assert out == {"a": (1, 20), "c": (2, 10)}


def test_procrustes_align_recovers_planted_rotation(spark):
    """procrustes_align must recover an exact planted rotation: dst =
    src @ R0 for a block-Givens R0 -> returned R == R0 (to float noise)
    and the aligned residual collapses to ~0."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from sec_dl_spark.operators.similarity import procrustes_align

    rng_vals = [
        [((i * 17 + j * 5) % 11 - 5) / 2.0 for j in range(4)] for i in range(60)
    ]
    A = np.array(rng_vals)
    c30, s30 = math.cos(0.5), math.sin(0.5)
    c60, s60 = math.cos(1.1), math.sin(1.1)
    R0 = np.array(
        [
            [c30, -s30, 0, 0],
            [s30, c30, 0, 0],
            [0, 0, c60, -s60],
            [0, 0, s60, c60],
        ]
    )
    B = A @ R0
    pairs = spark.createDataFrame(
        [(i, A[i].tolist(), B[i].tolist()) for i in range(60)],
        "id long, src array<double>, dst array<double>",
    )
    R, aligned = procrustes_align(pairs, "src", "dst")
    assert np.allclose(R, R0, atol=1e-9)
    resid = aligned.select(
        F.aggregate(
            F.zip_with("src", "dst", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("se")
    ).agg(F.sum("se").alias("t")).collect()[0]["t"]
    assert resid < 1e-18


def test_cms_build_estimate_properties(spark):
    """Count-min invariants on a forced-collision sketch (width 4):
    estimates NEVER undercount, exact totals per hash row equal N, an
    unseen key estimates from existing counters (≥ 0), and the sketch
    of a union equals the (row, slot)-wise sum of the parts — the
    merge-on-read algebra that makes it streamable."""
    from sec_dl_spark.operators.sketch import cms_build, cms_estimate

    counts = {1: 50, 2: 30, 3: 5, 1000: 1}
    rows = [(k,) for k, c in counts.items() for _ in range(c)]
    df = spark.createDataFrame(rows, "user_id long")
    sk = cms_build(df, "user_id", width=4, depth=4)

    # every hash row partitions all N observations across its slots
    per_row = {r["row"]: r["s"] for r in sk.groupBy("row").agg(
        F.sum("cnt").alias("s")).collect()}
    assert set(per_row) == {0, 1, 2, 3}
    assert all(v == sum(counts.values()) for v in per_row.values())

    probes = spark.createDataFrame([(k,) for k in counts], "user_id long")
    est = {
        r["user_id"]: r["cms_est"]
        for r in cms_estimate(sk, probes, "user_id", width=4, depth=4).collect()
    }
    for k, true in counts.items():
        assert est[k] >= true, (k, est[k], true)  # one-sided: never under

    # mergeability: sketch(A ∪ B) == slotwise sum of sketch(A), sketch(B)
    a = spark.createDataFrame([(k,) for k, c in counts.items() for _ in range(c // 2)], "user_id long")
    b = spark.createDataFrame(
        [(k,) for k, c in counts.items() for _ in range(c - c // 2)], "user_id long"
    )
    merged = (
        cms_build(a, "user_id", width=4, depth=4)
        .unionAll(cms_build(b, "user_id", width=4, depth=4))
        .groupBy("row", "slot")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = {(r["row"], r["slot"]): r["cnt"] for r in sk.collect()}
    parts = {(r["row"], r["slot"]): r["cnt"] for r in merged.collect()}
    assert whole == parts


def test_cms_negative_keys_slots_nonneg_and_one_sided(spark):
    """Negative long keys hash to slots in [0, width) — pmod, not
    Spark's sign-carrying %% — so partition/merge keys stay clean, the
    one-sided guarantee holds for every sign, and the DuckDB oracle's
    ((x %% p) + p) %% p normalization (events_cms_frequency) reproduces
    the same slots on engines with floored OR truncated modulo."""
    from sec_dl_spark.operators.sketch import cms_build, cms_estimate

    counts = {-5_000_000_000: 7, -1: 40, 0: 3, 2_147_483_648: 9}
    rows = [(k,) for k, c in counts.items() for _ in range(c)]
    df = spark.createDataFrame(rows, "user_id long")
    sk = cms_build(df, "user_id", width=8, depth=4)
    slots = sk.select("row", "slot").collect()
    assert all(0 <= r["slot"] < 8 and 0 <= r["row"] < 4 for r in slots)
    # every hash row still partitions all N observations
    per_row = {r["row"]: r["s"] for r in sk.groupBy("row").agg(
        F.sum("cnt").alias("s")).collect()}
    assert all(v == sum(counts.values()) for v in per_row.values())
    probes = spark.createDataFrame([(k,) for k in counts], "user_id long")
    est = {
        r["user_id"]: r["cms_est"]
        for r in cms_estimate(sk, probes, "user_id", width=8, depth=4).collect()
    }
    for k, true in counts.items():
        assert est[k] >= true, (k, est[k], true)


def test_hier_assignment_exhaustive_equals_flat(spark):
    """VERDICT r13 ask #4 parity pin: the two-level probed assignment
    with EXHAUSTIVE super-probing (s_probe == n_supers) must reproduce
    the flat full-argmin cell assignment exactly — same centroid per
    vector (ties broken to the smallest centroid index both ways)."""
    import numpy as np

    from sec_dl_spark.operators import similarity

    emb = _clustered_embeddings(spark, n_clusters=12, per_cluster=5,
                                n_noise=140, dim=32)
    X = similarity._norm_rows(
        np.asarray([r[1] for r in sorted(emb.collect())], dtype=np.float64)
    )
    centers, supers, members = similarity._hier_kmeans_np(X, 20, seed=3)
    assert sum(len(m) for m in members) == len(centers)
    assert 14 <= len(centers) <= 20  # apportionment lands near n_cells
    flat = {
        r["vec_id"]: r["cell"]
        for r in similarity.assign_cells(
            emb, [list(c) for c in centers], "vec_id", "embedding"
        ).collect()
    }
    probed = {
        r["vec_id"]: r["cell"]
        for r in similarity.assign_cells_probed(
            emb, centers, supers, members, "vec_id", "embedding",
            s_probe=len(supers),
        ).collect()
    }
    assert probed == flat


def test_semantic_dedup_hier_path_matches_flat_verdicts(spark):
    """The hierarchical assignment path (the >EXACT_THRESHOLD auto
    route) must keep SemDeDup's planted-cluster semantics: on
    well-separated clusters the forced-hier verdicts EQUAL the flat
    ones, group minima always survive, and dropped rows name a
    smaller-id duplicate."""
    from sec_dl_spark.operators.similarity import semantic_dedup

    n_clusters, per = 20, 5
    emb = _clustered_embeddings(spark, n_clusters=n_clusters,
                                per_cluster=per, n_noise=100)
    flat = {
        r["vec_id"]: (r["keep"], r["dup_of"])
        for r in semantic_dedup(emb, threshold=0.85,
                                assignment="flat").collect()
    }
    hier = {
        r["vec_id"]: (r["keep"], r["dup_of"])
        for r in semantic_dedup(emb, threshold=0.85,
                                assignment="hier").collect()
    }
    assert hier == flat
    for g in range(n_clusters):
        assert hier[g * per][0] is True
    for v, (keep, dup_of) in hier.items():
        if not keep:
            assert dup_of is not None and dup_of < v

    import pytest as _pytest

    with _pytest.raises(ValueError, match="assignment"):
        semantic_dedup(emb, assignment="nearest")


def test_per_query_topk_composite_key_matches_global_window(spark):
    """The two-phase top-k must be chunking-invariant and equal to the
    single global window for ANY partitioning, for both the default
    query_id key and the composite (level, query_id) key the IVF recall
    audit uses (partition_cols). Scores are drawn with heavy ties so the
    neighbor_id tiebreak (the total-order requirement every call site
    obeys) is actually load-bearing."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sec_dl_spark.operators.similarity import per_query_topk

    rng = random.Random(5)
    rows = [
        (lvl, q, n, float(rng.randrange(6)))
        for lvl in (1, 2, 4)
        for q in range(7)
        for n in range(40)
    ]
    df = spark.createDataFrame(
        rows, "lvl int, query_id long, neighbor_id long, score double"
    ).repartition(13)
    order = [F.col("score").desc(), F.col("neighbor_id")]

    for part_cols in (("query_id",), ("lvl", "query_id")):
        got = per_query_topk(
            df, order, 5, partition_cols=part_cols
        ).collect()
        w = Window.partitionBy(*part_cols).orderBy(*order)
        exp = (
            df.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 5)
            .collect()
        )
        assert sorted(map(tuple, got)) == sorted(map(tuple, exp)), part_cols
        # with the composite key each (lvl, query) group yields exactly 5
        if part_cols == ("lvl", "query_id"):
            assert len(got) == 3 * 7 * 5

def test_nested_level_topk_matches_exploded_topk_any_chunking(spark):
    """nested_level_topk (the IVF recall audit's shared-frame leveled
    ranking) must equal the naive explode-levels + per-level global
    window for ANY input partitioning, and its phase-1 chunk-
    representative totals must equal the true per-(partition, level)
    member counts. Scores are drawn with heavy ties so the neighbor_id
    tiebreak is load-bearing, and rank values cover the full last level
    (the operator's rank_col <= levels[-1] precondition)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sec_dl_spark.operators.similarity import nested_level_topk

    rng = random.Random(11)
    levels = (1, 2, 4, 8)
    rows = [
        (q, n, rng.randrange(1, 9), float(rng.randrange(5)))
        for q in range(6)
        for n in range(60)
    ]
    order = [F.col("score").desc(), F.col("neighbor_id")]
    base = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, rnk int, score double"
    )
    expected_rows = None
    expected_tot = {
        (q, m): sum(1 for qq, _, r, _ in rows if qq == q and r <= m)
        for q in range(6)
        for m in levels
    }
    for parts in (1, 7, 32):
        df = base.repartition(parts)
        got, tot = nested_level_topk(
            df, levels, "rnk", order, 3, ("query_id",), "lvl", with_totals=True
        )
        got_rows = sorted(
            (r["query_id"], r["lvl"], r["neighbor_id"]) for r in got.collect()
        )
        # naive: explode each level's member set, one global window per key
        exploded = df.select(
            "*",
            F.explode(F.array(*[F.lit(m) for m in levels])).alias("lvl"),
        ).where(F.col("rnk") <= F.col("lvl"))
        w = Window.partitionBy("lvl", "query_id").orderBy(*order)
        exp_rows = sorted(
            (r["query_id"], r["lvl"], r["neighbor_id"])
            for r in exploded.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .collect()
        )
        assert got_rows == exp_rows, parts
        if expected_rows is None:
            expected_rows = got_rows
        else:  # chunking-invariant across partitionings
            assert got_rows == expected_rows, parts
        got_tot = {(r["query_id"], r["lvl"]): r["n_total"] for r in tot.collect()}
        assert got_tot == expected_tot, parts


def test_nested_level_topk_rejects_non_ascending_levels(spark):
    """A repeated or descending level grid is not a nested grid: refused."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sec_dl_spark.operators.similarity import nested_level_topk

    df = spark.createDataFrame(
        [(0, 0, 1, 1.0)], "query_id long, neighbor_id long, rnk int, score double"
    )
    for levels in ((4, 4, 8), (8, 4)):
        with _pytest.raises(ValueError, match="strictly ascending"):
            nested_level_topk(df, levels, "rnk", [F.col("score").desc()], 3, ("query_id",), "lvl")
