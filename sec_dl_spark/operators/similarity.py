"""Vector similarity search over an embedding column (SURVEY.md §2.11).

Baseline: exact brute-force cosine top-k — broadcast the (small) query set,
compute dot products with JVM-side higher-order functions (zip_with +
aggregate, no Python in the loop), rank per query with a window.

Scale paths: random-hyperplane LSH (signature pass is one vectorized
Arrow matmul per batch; candidates come from a bucket equi-join instead
of a cross product) and an IVF variant (coarse k-means centroids → probe
nearest cells). Both deterministic under a fixed seed; both rerank
exactly, so approximation affects only recall, never reported scores.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sec_dl_spark.plans.util import rz6
from sec_dl_spark.session import pin

# One shared notion of "small enough to brute-force": below this corpus
# size the exact O(N*Q) cosine scan is both the truth and the fastest
# plan (candidate-generation overhead exceeds the scan it saves), and it
# is the ONLY regime the catalog's exact SQL oracles certify — fixtures
# above it route to approximate IVF probing (recall < 1), so the oracle
# gate (plans/catalog.py oracle_exact_max) refuses to hash-compare them.
EXACT_THRESHOLD = 10_000


def per_query_topk(
    scored: DataFrame,
    order: list,
    k: int,
    rank_col: str = "rank",
    partition_cols: tuple = ("query_id",),
) -> DataFrame:
    """Two-phase per-query top-k over a (query_id, ...) scored frame.

    ``partition_cols`` generalizes the per-query key to composite grains
    so composite-key call sites reuse this audited shape instead of
    copying it (the IVF recall audit used (n_probe, query_id) here until
    r16 moved it to :func:`nested_level_topk`, which exploits the levels
    being NESTED; the composite path stays pinned by
    ``test_per_query_topk_composite_key_matches_global_window``).

    A single ``Window.partitionBy("query_id")`` makes each window
    partition as large as that query's scored set — for a full-corpus
    scan with few queries, that is a handful of corpus-sized sorts on a
    handful of executors (the same shape as the r7 FTS ranked-retrieval
    finding, one level down). Phase 1 ranks within (query_id, input
    partition chunk): Q×P bounded sorts, embarrassingly parallel; only
    the ≤ k survivors per chunk move on. Phase 2 ranks the ≤ k·P
    survivors per query — a window over a frame bounded by the cluster
    shape, not the corpus.

    Identical output to the single global window whenever ``order`` is a
    TOTAL order per query (every call site tie-breaks on neighbor id):
    each query's true top-k rows each win their own chunk's top-k, so the
    union of chunk winners contains the global top-k. The chunk id is
    ``spark_partition_id()`` — which rows share a chunk is plan-dependent,
    but the result is chunking-invariant, so determinism is unaffected."""
    part = scored.withColumn("_chunk", F.spark_partition_id())
    w1 = Window.partitionBy(*partition_cols, "_chunk").orderBy(*order)
    pruned = (
        part.withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= k)
        .drop("_chunk", "_r1")
    )
    w2 = Window.partitionBy(*partition_cols).orderBy(*order)
    return pruned.withColumn(rank_col, F.row_number().over(w2).cast("long")).where(
        F.col(rank_col) <= k
    )


def nested_level_topk(
    scored: DataFrame,
    levels: tuple,
    rank_col: str,
    order: list,
    k: int,
    partition_cols: tuple = ("query_id",),
    level_out: str = "level",
    with_totals: bool = False,
):
    """Per-partition top-k membership for NESTED candidate levels — the
    shared-frame form of ``explode(levels) + per_query_topk`` when the
    level-m candidate set is exactly ``rank_col <= m`` (so the sets are
    nested in m and the last level contains EVERY row; callers must
    guarantee ``rank_col <= levels[-1]``, e.g. a probe ranking bounded by
    the level grid).

    Instead of replicating each row once per containing level and ranking
    the exploded frame, this ranks ONCE in the shared total ``order`` and
    carries ``len(levels)`` running membership counts in a single window
    pass: a row is in level m's top-k iff member and its running count of
    level-m rows (itself included) is <= k — which is exactly row_number
    within the level. Two-phase like :func:`per_query_topk` (a global
    top-k row of level m is necessarily in its input-chunk's level-m
    top-k, so phase 1 prunes per (partition, chunk) to <= k·|levels|
    survivors and phase 2 recounts over survivors only — the global
    winners all survive, so survivor counts equal global level ranks on
    exactly the winning rows and exceed k on every other survivor);
    chunking-invariant for the same total-order reason, pytest-pinned.

    Returns ``(membership, totals)``: membership is ``scored``'s columns
    plus ``level_out`` — one row per (row, containing level whose top-k
    includes it). With ``with_totals=True``, totals is
    ``(partition_cols..., level_out, n_total)`` — the per-partition
    member count of each level, carried out of the SAME phase-1 pass by
    chunk-representative rows (the first row of each chunk in ``order``
    counts itself in the all-containing last level, so its running count
    is 1 and it always survives the prune) — the caller gets level
    cardinalities without a second pass over the pair frame. The pruned
    frame is pinned once (eager; bounded at <= (k·|levels|+1) rows per
    (partition, chunk)) because membership and totals both read it."""
    from sec_dl_spark.session import pin

    if any(a >= b for a, b in zip(levels, levels[1:])):
        # the with_totals chunk-representative filter keys on levels[-1]
        # being the all-containing level; a descending/shuffled grid would
        # silently return wrong totals, and a repeated level would
        # duplicate its running-count column
        raise ValueError(
            f"nested_level_topk: levels must be strictly ascending, got {levels!r}"
        )
    member = {m: F.col(rank_col) <= m for m in levels}
    src_cols = scored.columns
    w1 = (
        Window.partitionBy(*partition_cols, "_chunk")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w1_tot = Window.partitionBy(*partition_cols, "_chunk")
    keep1 = None
    for m in levels:
        cond = member[m] & (F.col(f"_c{m}") <= k)
        keep1 = cond if keep1 is None else (keep1 | cond)
    pruned = pin(
        scored.withColumn("_chunk", F.spark_partition_id())
        .select(
            "*",
            *[
                F.sum(F.when(member[m], 1).otherwise(0))
                .over(w1)
                .alias(f"_c{m}")
                for m in levels
            ],
            *(
                [
                    F.sum(F.when(member[m], 1).otherwise(0))
                    .over(w1_tot)
                    .cast("long")
                    .alias(f"_t{m}")
                    for m in levels
                ]
                if with_totals
                else []
            ),
        )
        .where(keep1)
        .drop("_chunk")
    )
    w2 = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    membership = (
        pruned.select(
            *src_cols,
            *[
                F.sum(F.when(member[m], 1).otherwise(0))
                .over(w2)
                .alias(f"_g{m}")
                for m in levels
            ],
        )
        .select(
            *src_cols,
            F.explode(
                F.filter(
                    F.array(
                        *[
                            F.when(member[m] & (F.col(f"_g{m}") <= k), F.lit(m))
                            for m in levels
                        ]
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias(level_out),
        )
    )
    if not with_totals:
        return membership, None
    totals = (
        pruned.where(F.col(f"_c{levels[-1]}") == 1)
        .groupBy(*partition_cols)
        .agg(*[F.sum(f"_t{m}").alias(f"_n{m}") for m in levels])
        .select(
            *partition_cols,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias(level_out),
                            F.col(f"_n{m}").cast("long").alias("n_total"),
                        )
                        for m in levels
                    ]
                )
            ).alias("_lt"),
        )
        .select(*partition_cols, "_lt.*")
    )
    return membership, totals


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two ARRAY<numeric> columns, computed in double."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two ARRAY<double> columns — the per-pair remainder of
    :func:`cosine` once both sides carry precomputed norms (see
    :func:`with_vec_norm`)."""
    return _dot(a, b)


def with_vec_norm(df, vec_col: str, vec_out: str = "vd", norm_out: str = "nrm"):
    """Factored form of :func:`cosine` for pair-blowup plans: project the
    double-cast vector and its L2 norm ONCE PER ROW, so after a join only
    the dot fold runs per PAIR — ``dot(vd_a, vd_b) / (nrm_a * nrm_b)`` is
    float-IDENTICAL to ``cosine(a, b)`` (same cast array, same norm fold,
    same final expression; a norm is the same double wherever it is
    computed), but the two norm folds and the element casts move out of
    the O(pairs) stage into the O(rows) stage. On a k-way broadcast
    blowup that is 3 array folds per pair down to 1."""
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = df.withColumn(vec_out, vd)
    return out.withColumn(norm_out, _norm(F.col(vec_out)))


def _require_small_queries(queries: DataFrame, max_queries: int) -> None:
    """Self-enforce the "queries are the small broadcast side" contract that
    every ANN entry point relies on before it ``F.broadcast``s or
    ``collect``s the query set: a caller handing in 10M queries should get
    this error, not a driver OOM mid-broadcast. The probe is bounded —
    ``limit(max_queries + 1).count()`` stops scanning once the cap is
    disproved — so the guard stays O(cap) no matter how large the offending
    frame is. Raise the cap explicitly when the driver is sized for it."""
    n = queries.limit(max_queries + 1).count()
    if n > max_queries:
        raise ValueError(
            f"queries side has > {max_queries} rows; ANN entry points "
            "broadcast/collect the query set, so an unbounded queries frame "
            "would OOM the driver. Swap the sides (the big frame is the "
            "corpus), pre-aggregate the queries, or raise max_queries if the "
            "driver is provisioned for it."
        )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
    sim_ceiling: float | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (self-matches excluded).

    queries is broadcast (it is the small side, enforced up to
    ``max_queries``); the corpus streams through one narrow stage; ranking
    is a per-query window. ``sim_ceiling`` (if set) drops scored pairs at
    or above the ceiling BEFORE ranking — the hard-negative band filter
    (neighbors above it are presumed positives/duplicates), applied inside
    the scored scan stage so pruned rows never enter the top-k exchange.
    Returns (query_id, neighbor_id, cosine_sim, rank).
    """
    _require_small_queries(queries, max_queries)
    # factored cosine (with_vec_norm): casts + norm folds run once per
    # ROW on each side, only the dot fold survives into the O(pairs)
    # blowup — float-identical to cosine()
    q = F.broadcast(
        with_vec_norm(
            queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
            vec_col, vec_out="q_vec", norm_out="q_nrm",
        ).select("query_id", "q_vec", "q_nrm")
    )
    c = with_vec_norm(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        vec_col, vec_out="c_vec", norm_out="c_nrm",
    ).select("neighbor_id", "c_vec", "c_nrm")
    scored = (
        c.crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_nrm") * F.col("c_nrm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    if sim_ceiling is not None:
        scored = scored.where(F.col("cosine_sim") < sim_ceiling)
    return per_query_topk(
        scored, [F.col("cosine_sim").desc(), F.col("neighbor_id")], k
    )


def mmr_select(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    per query, greedily pick ``k`` results maximizing
    ``lam·relevance − (1−lam)·max-similarity-to-already-picked`` — the
    standard diversity rerank for retrieval-augmented sampling, where the
    plain top-k would hand back k near-copies of the best hit.

    Two stages, both bounded: (1) an exact cosine ``shortlist`` per query
    (cosine_topk — corpus streams once, queries broadcast), then (2) the
    greedy MMR loop runs per query over its ≤``shortlist`` candidates in
    ONE grouped Arrow batch (applyInPandas) — the O(k·shortlist) iteration
    that SQL cannot express touches only the shortlist, never the corpus,
    so the operator scales exactly as far as the shortlist stage does.
    Deterministic: candidates sort by id, ties in the marginal score pick
    the smallest id (argmax-first on the sorted frame).

    Returns (query_id, neighbor_id, relevance, mmr_score, mmr_rank).
    Output id types follow the input id column's type."""
    import numpy as np  # noqa: F401 — executor-side import checked eagerly
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    short = cosine_topk(
        corpus, queries, k=shortlist, id_col=id_col, vec_col=vec_col,
        max_queries=max_queries,
    )
    cand = short.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        "neighbor_id",
    ).select("query_id", "neighbor_id", "cosine_sim", "c_vec")

    id_type = corpus.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("query_id", id_type),
            StructField("neighbor_id", id_type),
            StructField("relevance", DoubleType()),
            StructField("mmr_score", DoubleType()),
            StructField("mmr_rank", LongType()),
        ]
    )
    kk, ll = int(k), float(lam)

    def per_query(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        n = len(pdf)
        V = np.vstack(pdf["c_vec"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(V, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            Vn = np.where(norms[:, None] > 0, V / norms[:, None], 0.0)
        S = Vn @ Vn.T
        rel = pdf["cosine_sim"].to_numpy().astype(np.float64)
        max_sim = np.zeros(n)
        chosen: list[int] = []
        scores: list[float] = []
        for _ in range(min(kk, n)):
            sc = ll * rel - (1.0 - ll) * max_sim
            if chosen:
                sc[chosen] = -np.inf
            i = int(np.argmax(sc))  # first max = smallest id (sorted frame)
            chosen.append(i)
            scores.append(round(float(sc[i]), 6))
            max_sim = np.maximum(max_sim, S[:, i])
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].to_numpy()[chosen],
                "neighbor_id": pdf["neighbor_id"].to_numpy()[chosen],
                "relevance": rel[chosen],
                "mmr_score": scores,
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype=np.int64),
            }
        )

    return cand.groupBy("query_id").applyInPandas(per_query, schema=out_schema)


def pca_whiten(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str | None = None,
    sample_rows: int = 100_000,
    eps: float = 1e-5,
) -> DataFrame:
    """ZCA whitening of an embedding column: x → W·(x − μ) with
    W = U·diag(1/√(λ+eps))·Uᵀ from the eigendecomposition of the sample
    covariance — decorrelates dimensions and equalizes their variances,
    the standard preprocessing before PQ/IVF quantization (codebooks
    train markedly better on isotropic data; the OPQ line of work is
    this idea plus a rotation) and before cosine thresholds tuned on one
    corpus are applied to another. ZCA (rather than plain PCA) keeps the
    output in the ORIGINAL axes, so whitened vectors stay comparable to
    their raw selves.

    Fit is O(sample): μ and the d×d covariance come from up to
    ``sample_rows`` rows collected IN ID ORDER (deterministic across
    partitionings; a covariance needs ~d² samples, not the corpus), the
    d×d eigendecomposition runs on the driver (d ≤ a few thousand), and
    the apply is ONE Arrow-batched matmul pass with (μ, W) shipped in the
    UDF closure — the same fit-small/apply-wide shape as PQ training.

    Returns the input frame with ``out_col`` (default: replaces
    ``vec_col``) as array<double>."""
    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType

    out_col = out_col or vec_col
    sample = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy("_id")
        .limit(sample_rows)
        .collect()
    )
    if not sample:
        raise ValueError("empty corpus")
    X = np.vstack([r._v for r in sample]).astype(np.float64)
    mu = X.mean(axis=0)
    C = np.cov(X - mu, rowvar=False, bias=True)
    C = np.atleast_2d(C)
    evals, evecs = np.linalg.eigh(C)
    W = (evecs * (1.0 / np.sqrt(np.maximum(evals, 0.0) + eps))) @ evecs.T
    mu_l, W_l = mu.tolist(), W.tolist()

    @F.pandas_udf(ArrayType(DoubleType()))
    def whiten(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        M = np.vstack(vecs.to_numpy()).astype(np.float64)
        out = (M - np.asarray(mu_l)) @ np.asarray(W_l).T
        return pd.Series(list(out))

    return corpus.withColumn(out_col, whiten(F.col(vec_col)))


def normalize_vec(col: Column) -> Column:
    """L2-normalize an array column (maps cosine to euclidean geometry)."""
    n = _norm(F.transform(col, lambda x: x.cast("double")))
    return F.transform(col, lambda x: x.cast("double") / n)


def hyperplane_buckets(
    vec_col: Column, num_tables: int = 12, bits_per_table: int = 6, seed: int = 42
) -> Column:
    """ARRAY<LONG> of ``num_tables`` LSH bucket ids for an embedding column
    via random-hyperplane signatures (SimHash for vectors): bit j of table
    t is sign(v · h_{t,j}); P[bits agree] = 1 − θ/π, so near-cosine
    vectors collide in some table with high probability.

    ONE vectorized Arrow pass — each batch is a single numpy matmul
    against the (dim × total_bits) plane matrix, regenerated
    deterministically from the seed on every executor (nothing to fit,
    broadcast, or serialize). Bucket ids are namespaced by table
    (id = table·2^bits + bits) so a plain equi-join on the exploded
    column is the whole candidate generator."""
    import numpy as np  # noqa: F401 — executor-side import checked eagerly
    from pyspark.sql.types import ArrayType, LongType

    total_bits = num_tables * bits_per_table

    @F.pandas_udf(ArrayType(LongType()))
    def bucketize(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack(vecs.to_numpy())  # n × dim, float
        planes = np.random.RandomState(seed).standard_normal((m.shape[1], total_bits))
        bits = (m.astype(np.float64) @ planes) > 0  # n × total_bits
        weights = 1 << np.arange(bits_per_table, dtype=np.int64)
        out = []
        for row in bits:
            out.append(
                [
                    int(t << bits_per_table | int(row[t * bits_per_table : (t + 1) * bits_per_table] @ weights))
                    for t in range(num_tables)
                ]
            )
        return pd.Series(out)

    return bucketize(vec_col)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 12,
    bits_per_table: int = 6,
    seed: int = 42,
    max_queries: int = 10_000,
) -> DataFrame:
    """Approximate top-k cosine neighbors via random-hyperplane LSH:
    signature pass (hyperplane_buckets, one Arrow matmul per batch) →
    bucket equi-join for candidates → exact cosine rerank of candidates
    only. Deterministic under the fixed seed; no model fit, no cross
    product — candidate volume is collision-driven, so cost scales with
    bucket co-occupancy, not |corpus|·|queries|."""
    _require_small_queries(queries, max_queries)
    bk = hyperplane_buckets(
        F.col(vec_col), num_tables=num_tables, bits_per_table=bits_per_table, seed=seed
    )
    c_bk = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.explode(bk).alias("bucket")
    )
    q_bk = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.explode(bk).alias("bucket"))
    )
    cand = (
        c_bk.join(q_bk, "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # factored cosine: norms once per row on each vector frame, only the
    # dot fold per candidate pair — float-identical to cosine()
    q_vecs = F.broadcast(
        with_vec_norm(
            queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
            vec_col, vec_out="q_vec", norm_out="q_nrm",
        ).select("query_id", "q_vec", "q_nrm")
    )
    c_vecs = with_vec_norm(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        vec_col, vec_out="c_vec", norm_out="c_nrm",
    ).select("neighbor_id", "c_vec", "c_nrm")
    scored = (
        cand.join(c_vecs, "neighbor_id")
        .join(q_vecs, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_nrm") * F.col("c_nrm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    return per_query_topk(
        scored, [F.col("cosine_sim").desc(), F.col("neighbor_id")], k
    )


def _coarse_cells(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    seed: int,
    max_train_rows: int = 100_000,
):
    """Shared coarse quantizer for the IVF family (IVF, IVF-PQ, SemDeDup):
    fit ``n_cells`` centroids on the L2-normalized corpus — euclidean on
    normalized vectors orders like cosine — then assign EVERY row to its
    nearest centroid in one vectorized Arrow pass (a batch × n_cells
    matmul, the same transport as pq_encode).

    Training is O(sample) like PQ training: coarse cells only need a
    rough Voronoi partition, and a full-corpus fit at 100 TB would be
    several full-table passes for no recall gain (probes rerank exactly;
    cell quality only shifts recall at the margin — pinned by the
    recall-floor tests). Driver-sized samples use the vectorized numpy
    Lloyd's; larger ones the distributed Spark ML fit. Deterministic
    under ``seed`` either way. Returns (assigned(id, vec, cell),
    centroids as plain lists)."""
    import numpy as np
    from pyspark.sql.types import IntegerType

    n = corpus.count()
    sample = corpus.select(F.col(vec_col).alias("_v"))
    if n > max_train_rows:
        frac = min(1.0, 1.05 * max_train_rows / n)
        sample = sample.sample(fraction=frac, seed=seed).limit(max_train_rows)
        n = max_train_rows
    first = sample.first()
    if first is None:
        raise ValueError("empty corpus")
    dim = len(first[0])

    if n * dim <= _DRIVER_FIT_MAX_ELEMS:
        X = _norm_rows(np.asarray([r[0] for r in sample.collect()], dtype=np.float64))
        centers = _kmeans_np(X, n_cells, seed, max_iter=4)
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = sample.select(
            array_to_vector(normalize_vec(F.col("_v"))).alias("features")
        )
        km = KMeans(
            k=n_cells, seed=seed, maxIter=4, initSteps=1,
            featuresCol="features", predictionCol="cell",
        )
        centers = np.asarray(
            [[float(x) for x in c] for c in km.fit(feats).clusterCenters()]
        )

    centroids = [[float(x) for x in c] for c in centers]
    return assign_cells(corpus, centroids, id_col, vec_col), centroids


def _hier_kmeans_np(X, n_cells: int, seed: int, max_iter: int = 4):
    """Two-level k-means on a driver sample: ``ceil(sqrt(n_cells))``
    super-centroids first, then an independent sub-fit inside each
    super-cell, sub-k apportioned by occupancy (largest-remainder, so the
    total stays ~n_cells). Fit cost drops from O(n·n_cells·dim) flat to
    O(n·sqrt(n_cells)·dim) — the term that turns quadratic in N when
    ``n_cells`` itself scales with the corpus (SemDeDup's
    ceil(N/cell_target) sizing: flat fit+assignment are N·N/256, the last
    super-linear term the 10× probe kept charging to emb_semantic_dedup).

    Returns (centers, super_centers, members): ``members[s]`` lists the
    row indices of ``centers`` that live under super-cell ``s`` — the
    probe structure :func:`assign_cells_probed` uses. Supers that end up
    empty keep an empty member list (callers drop them before probing)."""
    import math

    import numpy as np

    k1 = max(1, math.isqrt(max(0, n_cells - 1)) + 1)
    supers = _kmeans_np(X, k1, seed, max_iter)
    dist = (supers**2).sum(axis=1)[None, :] - 2.0 * (X @ supers.T)
    assign = dist.argmin(axis=1)
    sizes = np.bincount(assign, minlength=k1)
    raw = n_cells * sizes / max(1, sizes.sum())
    ks = np.maximum(1, np.floor(raw).astype(int))
    ks[sizes == 0] = 0
    # largest-remainder apportionment toward Σks == n_cells
    left = n_cells - int(ks.sum())
    if left > 0:
        for i in np.argsort(-(raw - np.floor(raw))):
            if left == 0:
                break
            if sizes[i] > 0:
                ks[i] += 1
                left -= 1
    centers: list = []
    members: list[list[int]] = []
    for s in range(k1):
        Xs = X[assign == s]
        if len(Xs) == 0:
            members.append([])
            continue
        k_eff = max(1, min(int(ks[s]), len(Xs)))
        cs = _kmeans_np(Xs, k_eff, seed + 1 + s, max_iter)
        members.append(list(range(len(centers), len(centers) + len(cs))))
        centers.extend(cs)
    return np.asarray(centers, dtype=np.float64), supers, members


def assign_cells_probed(
    df: DataFrame,
    centroids,
    super_centroids,
    members: list[list[int]],
    id_col: str,
    vec_col: str,
    s_probe: int = 3,
) -> DataFrame:
    """Nearest-centroid assignment through the two-level structure of
    :func:`_hier_kmeans_np`: each vector ranks the (few) super-centroids,
    then takes the exact argmin over only the member centroids of its
    ``s_probe`` nearest super-cells — per-row cost
    O(sqrt(n_cells)·(1 + s_probe·cell-fanout)·dim) instead of
    O(n_cells·dim), the same probe-vs-flat trade as IVF serving (VERDICT
    r13 ask #4). With ``s_probe >= len(super_centroids)`` probing is
    exhaustive and the assignment EQUALS the flat argmin (ties broken to
    the smallest centroid index both ways; pytest-pinned). Partial
    probing can only reassign a vector near a super-cell boundary — the
    accepted SemDeDup-style recall trade, measured by the planted-cluster
    test."""
    import numpy as np
    from pyspark.sql.types import IntegerType

    # drop empty supers so every probed super contributes >= 1 candidate
    keep = [s for s, m in enumerate(members) if m]
    supers = np.asarray(super_centroids, dtype=np.float64)[keep]
    mem = [np.asarray(members[s], dtype=np.int64) for s in keep]
    centers = np.asarray(centroids, dtype=np.float64)
    p = min(s_probe, len(mem))

    @F.pandas_udf(IntegerType())
    def cell_of(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        M = _norm_rows(np.vstack(vecs.to_numpy()).astype(np.float64))
        d1 = (supers**2).sum(axis=1)[None, :] - 2.0 * (M @ supers.T)
        top = np.argsort(d1, axis=1)[:, :p]
        best = np.full(len(M), np.inf)
        best_idx = np.zeros(len(M), dtype=np.int64)
        for s in range(len(mem)):
            rows = np.nonzero((top == s).any(axis=1))[0]
            if not len(rows):
                continue
            c = centers[mem[s]]
            d = (c**2).sum(axis=1)[None, :] - 2.0 * (M[rows] @ c.T)
            j = d.argmin(axis=1)
            v = d[np.arange(len(rows)), j]
            idx = mem[s][j]
            # strict-< plus smallest-index tie-break reproduces the flat
            # argmin's first-wins rule under exhaustive probing
            upd = (v < best[rows]) | ((v == best[rows]) & (idx < best_idx[rows]))
            best[rows[upd]] = v[upd]
            best_idx[rows[upd]] = idx[upd]
        return pd.Series(best_idx.astype("int32"))

    return df.withColumn("cell", cell_of(F.col(vec_col)))


def _coarse_cells_hier(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    seed: int,
    s_probe: int = 3,
    max_train_rows: int = 100_000,
):
    """Two-level twin of :func:`_coarse_cells` for corpora where
    ``n_cells`` scales with N (SemDeDup auto-sizing): hierarchical
    driver-sample fit + probed assignment, so neither the fit nor the
    per-row assignment carries an O(n_cells) factor. Driver-fit only —
    a sample too wide for the driver (n·dim > _DRIVER_FIT_MAX_ELEMS)
    falls back to the flat path, which handles it via Spark ML."""
    import numpy as np

    n = corpus.count()
    sample = corpus.select(F.col(vec_col).alias("_v"))
    if n > max_train_rows:
        frac = min(1.0, 1.05 * max_train_rows / n)
        sample = sample.sample(fraction=frac, seed=seed).limit(max_train_rows)
        n = max_train_rows
    first = sample.first()
    if first is None:
        raise ValueError("empty corpus")
    dim = len(first[0])
    if n * dim > _DRIVER_FIT_MAX_ELEMS:
        return _coarse_cells(corpus, id_col, vec_col, n_cells, seed)
    X = _norm_rows(np.asarray([r[0] for r in sample.collect()], dtype=np.float64))
    centers, supers, members = _hier_kmeans_np(X, n_cells, seed, max_iter=4)
    assigned = assign_cells_probed(
        corpus, centers, supers, members, id_col, vec_col, s_probe=s_probe
    )
    return assigned, [[float(x) for x in c] for c in centers]


def assign_cells(
    df: DataFrame, centroids: list, id_col: str, vec_col: str
) -> DataFrame:
    """Nearest-centroid cell assignment (cosine order via normalized
    euclidean) in one vectorized Arrow pass — the serve/maintain-time
    half of the coarse quantizer, usable against STORED centroids (new
    vectors join a built index's cells without retraining). Adds a
    ``cell`` column; every input column passes through untouched (gates
    must not silently drop payload/metadata)."""
    import numpy as np
    from pyspark.sql.types import IntegerType

    centers = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(IntegerType())
    def cell_of(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        M = _norm_rows(np.vstack(vecs.to_numpy()).astype(np.float64))
        d = (centers**2).sum(axis=1)[None, :] - 2.0 * (M @ centers.T)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return df.withColumn("cell", cell_of(F.col(vec_col)))


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_queries: int = 10_000,
    sim_ceiling: float | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: coarse k-means
    centroids partition the corpus into cells; each query probes only its
    ``n_probe`` nearest cells and exact-reranks the candidates.

    The scan cost drops from |corpus| to ~|corpus|·n_probe/n_cells per
    query; at cluster scale the cell assignment is the partitioning key, so
    a query touches n_probe partitions instead of the whole table. The
    centroid table (n_cells rows) broadcasts. Deterministic under the fixed
    k-means seed. ``sim_ceiling`` drops scored candidates at/above the
    ceiling before ranking (the hard-negative band filter — composes with
    candidate pruning unchanged). Returns (query_id, neighbor_id,
    cosine_sim, rank)."""
    _require_small_queries(queries, max_queries)
    cells, centers = _coarse_cells(corpus, id_col, vec_col, n_cells, seed)
    # factored cosine: the corpus-side cast + norm fold run once per row
    # at assignment time, not per candidate pair — float-identical
    assigned = with_vec_norm(
        cells.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col), "cell"),
        vec_col, vec_out="c_vec", norm_out="c_nrm",
    ).select("neighbor_id", "c_vec", "c_nrm", "cell")

    centroids = F.broadcast(
        corpus.sparkSession.createDataFrame(
            [(i, ctr) for i, ctr in enumerate(centers)],
            "cell int, centroid array<double>",
        )
    )
    q = with_vec_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        vec_col, vec_out="q_vec", norm_out="q_nrm",
    ).select("query_id", "q_vec", "q_nrm")
    probe_w = Window.partitionBy("query_id").orderBy(F.col("centroid_sim").desc(), F.col("cell"))
    probes = (
        q.crossJoin(centroids)
        .select(
            "query_id",
            "q_vec",
            "q_nrm",
            "cell",
            cosine(F.col("q_vec"), F.col("centroid")).alias("centroid_sim"),
        )
        .withColumn("_pr", F.row_number().over(probe_w))
        .where(F.col("_pr") <= n_probe)
        .select("query_id", "q_vec", "q_nrm", "cell")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_nrm") * F.col("c_nrm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    if sim_ceiling is not None:
        scored = scored.where(F.col("cosine_sim") < sim_ceiling)
    return per_query_topk(
        scored, [F.col("cosine_sim").desc(), F.col("neighbor_id")], k
    )


def corner_centroids(n_bits: int = 4) -> list[tuple[int, list[float]]]:
    """The 2**n_bits deterministic "sign-corner" coarse centroids over the
    first ``n_bits`` dimensions: centroid ``c`` has component ``+0.5`` in
    dimension ``i`` when bit ``i`` of ``c`` is set, ``-0.5`` otherwise,
    and 0 elsewhere (the scale is irrelevant under cosine). Unlike the
    k-means quantizer (:func:`_coarse_cells`), this quantizer is a CLOSED
    FORM of the data — nearest-corner-by-cosine equals the sign pattern
    of the first ``n_bits`` components (see :func:`corner_cell`) — so an
    external engine can reproduce the cell structure exactly, which is
    what lets the IVF recall audit be driver-ORACLED rather than only
    pytest-pinned. Recall is lower than a fitted quantizer's (corners
    ignore the data distribution); the audit measures exactly that."""
    out = []
    for c in range(1 << n_bits):
        out.append(
            (c, [0.5 if (c >> i) & 1 else -0.5 for i in range(n_bits)])
        )
    return out


def corner_cell(vec_col: str, n_bits: int = 4) -> Column:
    """Closed-form nearest-corner cell id: bit ``i`` = (component i > 0).

    Equivalence to argmax-cosine over :func:`corner_centroids`: every
    corner has unit norm in the first ``n_bits`` dims, so
    cos(v, corner_c) ∝ Σᵢ s_{c,i}·vᵢ, maximized componentwise by
    s_i = sign(vᵢ); a zero component ties both signs and numpy-argmax /
    smallest-cell-id tie-breaking both resolve to the 0 bit — which is
    exactly ``vᵢ > 0``. Pure comparison+arithmetic, whole-stage codegen,
    trivially expressible in any SQL engine (the oracle's side of the
    recall audit)."""
    e = F.col(vec_col)
    bits = [
        (F.element_at(e, i + 1) > 0).cast("int") * F.lit(1 << i)
        for i in range(n_bits)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def auto_n_cells(
    n_rows: int, cell_target: int = 256, min_cells: int = 16, max_cells: int = 4096
) -> int:
    """IVF cell count sized to the corpus: ~``cell_target`` vectors per
    cell, floored (tiny corpora keep enough cells for join parallelism)
    and capped (the centroid matrix broadcasts and the probe UDF holds a
    batch × n_cells distance matrix — both must stay executor-sized).
    With n_cells tracking N/cell_target, a query's candidate volume is
    ~n_probe·cell_target rows — CONSTANT in corpus size — so the probed
    scan is the only linear term left."""
    return max(min_cells, min(max_cells, n_rows // cell_target))


def cosine_topk_auto(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_threshold: int = EXACT_THRESHOLD,
    n_probe: int = 4,
    cell_target: int = 256,
    seed: int = 42,
    max_queries: int = 10_000,
    sim_ceiling: float | None = None,
) -> DataFrame:
    """Top-k cosine neighbors with the candidate generator picked by
    corpus size (VERDICT r12 ask #5 — the linear embedding audits must
    not default to a full exact scan at big N):

    - |corpus| ≤ ``exact_threshold``: exact brute-force
      (:func:`cosine_topk`) — the full scan is both the truth and the
      fastest plan while the corpus is small (candidate generation
      overhead exceeds the scan it saves). The default matches
      :func:`knn_isolation`'s ``max_exact_rows`` guard: one shared
      notion of "small enough to brute-force".
    - above it: IVF cell probing (:func:`cosine_topk_ivf`) with
      ``auto_n_cells`` sizing, so per-query candidate volume stays
      ~n_probe·cell_target regardless of N and the scan drops to
      ~n_probe/n_cells of the corpus. Recall under partial probing is
      pinned by the IVF recall-floor tests; exhaustive probing
      (n_probe ≥ n_cells) reproduces the exact result bit-for-bit
      (pytest-pinned), so the swap changes regime, not contract.

    The one extra corpus count() is an O(1)-output scan amortized by the
    work it routes. Same (query_id, neighbor_id, cosine_sim, rank)
    contract either way; ``sim_ceiling`` composes with both paths."""
    n = corpus.count()
    if n <= exact_threshold:
        return cosine_topk(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
            max_queries=max_queries, sim_ceiling=sim_ceiling,
        )
    n_cells = auto_n_cells(n, cell_target=cell_target)
    return cosine_topk_ivf(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        n_cells=n_cells, n_probe=min(n_probe, n_cells), seed=seed,
        max_queries=max_queries, sim_ceiling=sim_ceiling,
    )


def knn_isolation(
    df: DataFrame,
    k: int = 5,
    candidate: str = "auto",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_outliers: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_exact_rows: int = EXACT_THRESHOLD,
) -> DataFrame:
    """All-vectors kNN-isolation outlier scores: every vector's mean/min
    cosine similarity to its ``k`` nearest neighbors, globally ranked
    ascending (most isolated first). Returns (vec_id, knn_mean_sim,
    knn_min_sim, isolation_rank 1-based, is_outlier = rank <= n_outliers).

    ``candidate`` picks the neighbor generator — the promised at-scale
    swap for the bounded ``emb_knn_distance_outliers`` catalog query
    (VERDICT r9 #6):

    - ``"auto"``: exact when |corpus| ≤ ``max_exact_rows``, else IVF
      with ``auto_n_cells``-sized cells (VERDICT r12 ask #5 — the
      default that never runs an O(N²) scan past the regime where it
      is both truth and fastest).
    - ``"exact"``: brute-force self-join via :func:`cosine_topk` (the
      queries side is the whole frame, broadcast) — the truth baseline,
      guarded to ``max_exact_rows`` because it is O(N²) and broadcasts N.
    - ``"ivf"``: coarse-quantizer cells (:func:`_coarse_cells`); each
      vector probes its ``n_probe`` nearest cells (one vectorized Arrow
      top-n_probe pass over the broadcast n_cells×dim centroid matrix —
      NO per-query window, NO broadcast of the vectors themselves) and
      candidates come from the cell-keyed equi-join of probes × cell
      assignments. Cost per vector is ~|corpus|·n_probe/n_cells; nothing
      driver-sized scales with N. With ``n_probe == n_cells`` the
      candidate set is exhaustive and results EQUAL the exact form
      (pytest-pinned), so recall loss comes only from probe pruning.

    The per-query top-k is the two-phase :func:`per_query_topk` (chunk
    rank then bounded survivor rank). The final all-corpus isolation
    ranking uses :func:`sec_dl_spark.operators.relational.global_rank`
    (range exchange + per-partition rank + offsets) instead of an
    unpartitioned ``row_number`` window — ranking N scores must not
    collapse N rows into one partition."""
    from sec_dl_spark.operators.relational import global_rank

    if candidate == "auto":
        n = df.count()
        if n <= max_exact_rows:
            candidate = "exact"
        else:
            candidate = "ivf"
            n_cells = max(n_cells, auto_n_cells(n))
            n_probe = min(n_probe, n_cells)

    if candidate == "exact":
        topk = cosine_topk(df, df, k=k, id_col=id_col, vec_col=vec_col,
                           max_queries=max_exact_rows)
    elif candidate == "ivf":
        import numpy as np
        from pyspark.sql.types import ArrayType, IntegerType

        cells, centers = _coarse_cells(df, id_col, vec_col, n_cells, seed)
        # factored cosine: corpus-side cast + norm once per row at
        # assignment time, not per candidate pair — float-identical
        assigned = with_vec_norm(
            cells.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col), "cell"),
            vec_col, vec_out="c_vec", norm_out="c_nrm",
        ).select("neighbor_id", "c_vec", "c_nrm", "cell")
        centers_np = np.asarray(centers, dtype=np.float64)
        p = min(n_probe, len(centers))

        @F.pandas_udf(ArrayType(IntegerType()))
        def probe_cells(vecs: pd.Series) -> pd.Series:
            import numpy as np

            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            M = _norm_rows(np.vstack(vecs.to_numpy()).astype(np.float64))
            d = (centers_np**2).sum(axis=1)[None, :] - 2.0 * (M @ centers_np.T)
            # argsort, not argpartition: probe order is irrelevant (all
            # probed cells join identically) but a deterministic cell
            # list keeps the plan replay-stable
            idx = np.argsort(d, axis=1)[:, :p]
            return pd.Series([row.astype("int32").tolist() for row in idx])

        probes = with_vec_norm(
            df.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
            vec_col, vec_out="q_vec", norm_out="q_nrm",
        ).select(
            "query_id",
            "q_vec",
            "q_nrm",
            F.explode(probe_cells(F.col("q_vec"))).alias("cell"),
        )
        topk = per_query_topk(
            probes.join(assigned, "cell")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    _dot(F.col("q_vec"), F.col("c_vec"))
                    / (F.col("q_nrm") * F.col("c_nrm")),
                    6,
                ).alias("cosine_sim"),
            )
            # a vector sharing several probed cells with a neighbor
            # produces duplicate candidate rows; top-k over duplicates
            # would count one neighbor twice
            .dropDuplicates(["query_id", "neighbor_id"]),
            [F.col("cosine_sim").desc(), F.col("neighbor_id")],
            k,
        )
    else:
        raise ValueError(f"unknown candidate generator {candidate!r} (auto|exact|ivf)")

    stats = (
        topk.groupBy("query_id")
        .agg(
            # rz6 (not a bare round): a tiny negative mean cosine rounds
            # to -0.0, which hash-diverges from +0.0 downstream
            rz6(F.avg("cosine_sim")).alias("knn_mean_sim"),
            rz6(F.min("cosine_sim")).alias("knn_min_sim"),
        )
        .select(F.col("query_id").alias("vec_id"), "knn_mean_sim", "knn_min_sim")
    )
    ranked = global_rank(
        stats, [F.asc("knn_mean_sim"), F.asc("vec_id")], rank_col="_rk0"
    )
    return (
        ranked.withColumn("isolation_rank", (F.col("_rk0") + 1).cast("long"))
        .drop("_rk0")
        .withColumn("is_outlier", F.col("isolation_rank") <= n_outliers)
    )


def auto_bits_per_table(
    n_rows: int, target_rows_per_bucket: int = 800, min_bits: int = 2, max_bits: int = 16
) -> int:
    """Signature width sized to the corpus: 2^bits buckets per table such
    that the average bucket holds ~``target_rows_per_bucket`` vectors.

    The persisted index pays a fixed per-directory cost at serve time
    (listing + parquet footer + a scan task per probed bucket), so a
    small corpus under a wide signature becomes hundreds of near-empty
    directories whose overhead dwarfs the pruned-read payoff (the r11
    bench measured serve 3x rebuild at sf0.1 under a fixed 6-bit
    signature → 768 dirs for 12.8k vectors). Deriving bits from |corpus|
    keeps bucket directories file-sized at every scale: 12.8k vectors →
    4 bits (16 buckets/table), 1e9 vectors → 16 bits (65k buckets/table,
    ~15k rows each). Recall is monotone in bucket width (fewer bits =
    larger buckets = MORE candidates checked), so shrinking bits for
    small corpora never costs recall — only candidate-rerank volume,
    which is exactly what a small corpus can afford."""
    import math

    if n_rows <= target_rows_per_bucket * (1 << min_bits):
        return min_bits
    return min(max_bits, int(math.floor(math.log2(n_rows / target_rows_per_bucket))))


def _write_meta_json(spark, meta: str, path: str) -> None:
    """Write an index's JSON sidecar as one ``{"meta": ...}`` line. The row
    is a literal over a one-partition range, so the write is a JVM-only
    job; createDataFrame from a Python list would start Python workers."""
    spark.range(1, numPartitions=1).select(F.lit(meta).alias("meta")).write.mode(
        "overwrite"
    ).json(path)


def write_ann_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 12,
    bits_per_table: int | None = None,
    seed: int = 42,
) -> None:
    """Persist the hyperplane-LSH index: one row per (bucket, vector),
    PARTITIONED BY bucket under ``{path}/index`` — the ANN twin of
    fts.write_index. A query's candidate read prunes to its own buckets'
    directories: the serve-time join keys on the partition column, so
    Spark's dynamic partition pruning skips every other bucket at scan
    time (verified in the plan test). Build is one signature pass +
    explode; rebuild == re-run.

    ``bits_per_table=None`` (default) derives the signature width from
    |corpus| via auto_bits_per_table, so the bucket-directory count
    tracks the data instead of fragmenting small corpora. The chosen
    parameters land in a one-row JSON sidecar at ``{path}/meta`` — serve
    reads them back, so build and serve can never disagree on the plane
    geometry."""
    import json as _json

    from sec_dl_spark.util import hadoop_delete

    if bits_per_table is None:
        bits_per_table = auto_bits_per_table(corpus.count())
    bk = hyperplane_buckets(
        F.col(vec_col), num_tables=num_tables, bits_per_table=bits_per_table, seed=seed
    )
    # Remove the parameter sidecar BEFORE touching the index (the
    # fts.write_index convention): a crash between the index overwrite
    # and the sidecar rewrite would otherwise pair a freshly auto-sized
    # index with the PREVIOUS build's plane geometry — queries bucketize
    # with the wrong planes and serve silently wrong/empty neighbors.
    # Deleting first turns that crash window into a loud missing-sidecar
    # failure in read_ann_index_meta. The in-session memoized copies
    # (meta + resolved index relation) drop HERE too, for the same
    # torn-rebuild reason: invalidating only after a successful rewrite
    # would let a crashed rebuild keep serving the stale cached geometry
    # for the rest of the session.
    hadoop_delete(corpus.sparkSession, f"{path}/meta")
    for k in [k for k in _ANN_META_CACHE if k[1] == path]:
        _ANN_META_CACHE.pop(k, None)
    for k in [k for k in _ANN_INDEX_DF_CACHE if k[1] == path]:
        entry = _ANN_INDEX_DF_CACHE.pop(k, None)
        if entry is not None and entry[2]:
            # the entry may belong to a DIFFERENT session (possibly
            # already stopped — unpersist would raise on its dead
            # context and abort the rebuild AFTER the sidecar delete,
            # leaving the index unserveable). Popping the entry is the
            # correctness-critical part; releasing storage is
            # best-effort.
            try:
                entry[1].unpersist()
            except Exception:
                pass
    (
        corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            F.explode(bk).alias("bucket"),
        )
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/index")
    )
    meta = _json.dumps(
        {"num_tables": num_tables, "bits_per_table": bits_per_table, "seed": seed}
    )
    _write_meta_json(corpus.sparkSession, meta, f"{path}/meta")


_ANN_META_CACHE: dict = {}
_ANN_INDEX_DF_CACHE: dict = {}


def _ann_index_df(spark, path: str, cache: bool = False) -> DataFrame:
    """The index relation for ``{path}/index``, memoized per (session,
    path). spark.read.parquet builds a fresh InMemoryFileIndex every
    call — at serve time that is a full directory listing of every
    bucket partition (num_tables·2^bits directories) plus schema
    resolution, PURE fixed cost repeated on each search against an
    immutable build. Reusing the resolved DataFrame keeps the file
    listing across serves (build-once/serve-many is the module's
    contract); write_ann_index invalidates this cache on rebuild, so an
    in-session rebuild is never served stale. The session ref rides in
    the value to prevent id() reuse (the meta-cache convention).

    ``cache=True`` additionally persists the relation in Spark storage
    (MEMORY_AND_DISK, materialized lazily by the first serve): hot-index
    serving that no longer depends on the OS page cache keeping the
    index files warm between searches. Once a path is cached it stays
    cached for the session (a later cache=False call reuses it)."""
    key = (id(spark), path)
    hit = _ANN_INDEX_DF_CACHE.get(key)
    if hit is not None:
        df, cached = hit[1], hit[2]
        if cache and not cached:
            df = df.persist()
            _ANN_INDEX_DF_CACHE[key] = (spark, df, True)
        return df
    df = spark.read.parquet(f"{path}/index")
    if cache:
        df = df.persist()
    _ANN_INDEX_DF_CACHE[key] = (spark, df, cache)
    return df


def read_ann_index_meta(spark, path: str) -> dict:
    """Load the ANN index's parameter sidecar ({num_tables,
    bits_per_table, seed}), memoized per (session, path): a rebuild
    deletes the sidecar FIRST and rewrites it only after the index lands
    (write_ann_index), so the sidecar, when present, always describes the
    index beside it — a torn rebuild fails loudly here (missing path)
    instead of serving with stale plane geometry. An uncached read is a
    whole Spark job — pure fixed cost on every serve call. Holding the session ref in the value prevents
    id() reuse after a session is garbage-collected (the fts_index
    convention)."""
    import json as _json

    key = (id(spark), path)
    hit = _ANN_META_CACHE.get(key)
    if hit is not None:
        return hit[1]
    meta = _json.loads(spark.read.json(f"{path}/meta").collect()[0]["meta"])
    _ANN_META_CACHE[key] = (spark, meta)
    return meta


def ann_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 10_000,
    cache_index: bool = False,
) -> DataFrame:
    """Approximate top-k against a persisted ANN index (write_ann_index):
    bucketize the queries with the SAME planes as the build — num_tables
    / bits_per_table / seed come from the index's ``{path}/meta`` sidecar
    (planes regenerate from the seed, so nothing else is versioned) —
    join on the partition column so the scan reads only the queries'
    buckets, exact-rerank candidates. Same (query_id, neighbor_id,
    cosine_sim, rank) contract as the live LSH path and identical
    results for the same parameters.

    ``cache_index=True`` pins the index relation in Spark storage
    (MEMORY_AND_DISK) on first serve — the held-hot-index design a real
    serving deployment runs (the whole point of build-once/serve-many
    is not re-reading the files per search). The default stays False:
    an uncached serve reads only the queries' bucket partitions via
    dynamic partition pruning, which is the right call when the index
    dwarfs executor storage or a path is served once. A static-isin
    pruning gear was measured here and REJECTED: Spark still inserts
    the dynamic-pruning subquery on the partition-column join (reusing
    the already-built broadcast, so DPP is near-free), and the extra
    driver collect of the query bucket set made serves strictly slower
    (1.70 s vs 1.48 s median at sf0.1)."""
    _require_small_queries(queries, max_queries)
    meta = read_ann_index_meta(spark, path)
    bk = hyperplane_buckets(
        F.col(vec_col),
        num_tables=int(meta["num_tables"]),
        bits_per_table=int(meta["bits_per_table"]),
        seed=int(meta["seed"]),
    )
    q_bk = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(bk).alias("bucket"),
    )
    idx = _ann_index_df(spark, path, cache=cache_index)
    # Carry the embedding out of the bucket-pruned candidate join itself —
    # the index rows already hold it, so ONE pruned scan serves both
    # candidate generation and rerank. (A separate idx.select(...).
    # dropDuplicates(["neighbor_id"]) rerank read would rescan every
    # bucket directory, defeating the partition pruning the candidate
    # join just won — at scale that second scan is the whole index.)
    cand = (
        idx.join(F.broadcast(q_bk.select("query_id", "bucket")), "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_vec"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    q_vecs = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    )
    scored = (
        cand.join(q_vecs, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
        )
    )
    return per_query_topk(
        scored, [F.col("cosine_sim").desc(), F.col("neighbor_id")], k
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    cell_target: int = 256,
    seed: int = 42,
    kernel: str = "arrow",
    assignment: str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space coarsely with k-means, then WITHIN each cluster
    drop every vector whose cosine to a smaller-id cluster member reaches
    ``threshold`` — semantically redundant examples that byte/shingle
    dedup cannot see. Greedy first-id-wins, the same collapse rule as the
    exact/MinHash gates, so verdicts are deterministic and
    partitioning-independent.

    The pair space is bounded by the CLUSTER, not the corpus: the only
    shuffle keys by cell, and the quadratic term is Σ|cell|². By default
    ``n_cells`` therefore SCALES WITH THE CORPUS — ceil(N / cell_target)
    cells, so Σ|cell|² ≈ N·cell_target stays LINEAR in N (SemDeDup's own
    trick; cross-cluster dups are the accepted miss, measured <1% in the
    paper). A fixed ``n_cells`` is the classic scale trap the 10× probe
    caught (82× wall-time on 10× data): cells grow with N and the
    within-cell join goes quadratic — pass an explicit ``n_cells`` only
    for fixture-pinned tests. ``cell_target`` is the knob trading recall
    (bigger cells, fewer cross-cell misses) against pair volume
    (Σ|cell|² ≈ N·cell_target).

    Two scoring kernels, identical verdicts (parity-tested):

    - ``kernel="arrow"`` (default): grouped-map applyInPandas per cell —
      ONE numpy V·Vᵀ matmul scores all of a cell's pairs, then a masked
      argmax finds each row's smallest similar predecessor; per-task
      buffer is |cell|² doubles. Re-measured r14 with the pair exchange
      actually parallel (the earlier A/B was serialized by AQE
      coalescing, see below): arrow stage 0.7s vs expr 5.3s at 20k×64 —
      the matmul wins at every size once both kernels use the cores.
    - ``kernel="expr"``: the pure-DataFrame pair join with the HOF
      cosine — zero Python in the plan; HOFs evaluate interpreted
      (outside whole-stage codegen), so it pays ~dim interpreted ops per
      pair. Keep for pipelines that must stay Python-free.

    ``assignment`` picks the coarse quantizer when ``n_cells`` is
    auto-sized (VERDICT r13 ask #4 — the cosine_topk_auto treatment for
    the LAST O(n_cells) factors): ``"auto"`` uses the flat fit+argmin
    below ``EXACT_THRESHOLD`` corpus rows (the fixture/pytest regime)
    and the two-level hierarchical quantizer above it
    (:func:`_hier_kmeans_np` + :func:`assign_cells_probed`: fit and
    per-row assignment cost O(sqrt(n_cells)) each instead of
    O(n_cells), so nothing in the operator scales super-linearly when
    n_cells tracks N). ``"flat"``/``"hier"`` force a path (tests pin
    hier==flat verdicts on separated data; an explicit ``n_cells``
    keeps the flat path under "auto" since the caller pinned the cell
    geometry deliberately).

    Returns one row per vector: (id, cell, keep, dup_of nullable)."""
    if kernel not in ("arrow", "expr"):
        raise ValueError(f"unknown kernel {kernel!r}")
    if assignment not in ("auto", "flat", "hier"):
        raise ValueError(f"unknown assignment {assignment!r}")
    narrow = corpus.select(id_col, vec_col)
    if n_cells is None:
        # Auto-sizing needs a count, and the k-means fit + assignment each
        # scan the input again — pin the narrow (id, vec) projection so an
        # expensive uncached upstream plan is computed once, not three
        # times (session.pin: EAGER; executor-local blocks by default,
        # reliable-checkpoint mode via conf — see its docstring). Pin
        # rather than persist: the checkpointed blocks back the returned
        # lazy plan but are released by the ContextCleaner when it is
        # garbage collected, where a persist would stay CacheManager-
        # pinned for the session (one leaked corpus projection per dedup
        # call). Callers can pass an explicit n_cells to skip the count
        # and the pin entirely (the call is then lazy-until-fit).
        narrow = pin(narrow)
        n = narrow.count()
        n_cells = max(8, -(-n // cell_target))
        if assignment == "auto" and n > EXACT_THRESHOLD:
            assignment = "hier"
    if assignment == "hier":
        cells, _ = _coarse_cells_hier(narrow, id_col, vec_col, n_cells, seed)
    else:
        cells, _ = _coarse_cells(narrow, id_col, vec_col, n_cells, seed)
    assigned = cells.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"), "cell"
    )
    # The per-cell pair stage is COMPUTE-bound (Σ|cell|²·dim cosine work)
    # on BYTE-small input, so AQE's size-based coalescing collapses the
    # cell exchange into one partition and serializes the whole quadratic
    # stage onto one core (the r13 spread() lesson, one exchange deeper —
    # measured 16s single-task vs ~2s parallel at 20k×64). An EXPLICIT
    # partition count makes the repartition user-specified, which AQE
    # coalescing must respect; capped at n_cells because a cell is the
    # atomic unit of pair work for both kernels.
    sess = assigned.sparkSession
    p_cells = min(
        int(n_cells),
        max(
            sess.sparkContext.defaultParallelism,
            int(sess.conf.get("spark.sql.shuffle.partitions", "200")),
        ),
    )
    assigned = assigned.repartition(p_cells, "cell")
    if kernel == "arrow":
        from pyspark.sql.types import BooleanType, StructField, StructType

        # id/cell types follow the INPUT schema — a string or int id column
        # round-trips unchanged (the expr kernel is id-type-generic; the
        # arrow twin must be too), and absent dup_of is a real NULL, never
        # an in-band sentinel that would mislabel a legitimate id value.
        id_type = assigned.schema["vec_id"].dataType
        cell_type = assigned.schema["cell"].dataType
        out_schema = StructType(
            [
                StructField("vec_id", id_type),
                StructField("cell", cell_type),
                StructField("keep", BooleanType()),
                StructField("dup_of", id_type),
            ]
        )
        thr = float(threshold)

        def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            pdf = pdf.sort_values("vec_id").reset_index(drop=True)
            V = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(V, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                Vn = V / norms[:, None]  # zero-norm rows -> nan -> no match
            S = Vn @ Vn.T
            # smaller-id predecessors only (strict lower triangle)
            M = np.tril(S >= thr, k=-1)
            has = M.any(axis=1)
            first = M.argmax(axis=1)  # index of the SMALLEST similar id
            ids = pdf["vec_id"].to_numpy()
            dup_of = [ids[first[i]] if has[i] else None for i in range(len(ids))]
            return pd.DataFrame(
                {
                    "vec_id": ids,
                    "cell": pdf["cell"].to_numpy(),
                    "keep": ~has,
                    "dup_of": pd.Series(dup_of, dtype="object"),
                }
            )

        out = assigned.groupBy("cell").applyInPandas(per_cell, schema=out_schema)
        return out.select(
            F.col("vec_id").alias(id_col), "cell", "keep", "dup_of"
        )
    # factored cosine: cast + norm once per row, only the dot fold in the
    # cell-quadratic pair stage — float-identical to cosine()
    an = with_vec_norm(assigned, "vec", vec_out="_vd", norm_out="_nrm")
    left = an.select(
        "cell", F.col("vec_id").alias("a"),
        F.col("_vd").alias("va"), F.col("_nrm").alias("na"),
    )
    right = an.select(
        "cell", F.col("vec_id").alias("b"),
        F.col("_vd").alias("vb"), F.col("_nrm").alias("nb"),
    )
    dup_pairs = (
        left.join(right, "cell")
        .where(F.col("b") < F.col("a"))
        .where(
            _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            >= F.lit(threshold)
        )
        .groupBy("a")
        .agg(F.min("b").alias("dup_of"))
    )
    return (
        assigned.join(dup_pairs, assigned["vec_id"] == dup_pairs["a"], "left")
        .select(
            F.col("vec_id").alias(id_col),
            "cell",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q_vec"
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5) ∈ [-127, 127] — 4× smaller storage and
    int8-SIMD-friendly dot products, the standard first compression rung
    for a 100 TB embedding store (finer rungs: PQ/OPQ). Adds ``out_col``
    (ARRAY<TINYINT>... stored as INT for portability) and ``q_scale``.
    floor(x + 0.5) instead of round() so every engine reproduces the
    exact same codes (round() tie rules differ across engines).

    Reconstruction error per element is bounded by scale/2, so cosine
    against the dequantized vector stays ≥ ~0.999 for typical
    distributions — audited by the oracled emb_quantize_int8 query.
    """
    xd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.aggregate(
        xd, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    ) / F.lit(127.0)
    q = F.transform(
        F.col(vec_col),
        lambda x: F.when(
            F.col("q_scale") > 0, F.floor(x.cast("double") / F.col("q_scale") + 0.5)
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    return df.withColumn("q_scale", scale).withColumn(out_col, q)


def dequantize(q_col: Column, scale_col: Column) -> Column:
    """Inverse of quantize_int8: x̂_i = q_i · scale."""
    return F.transform(q_col, lambda v: v.cast("double") * scale_col)


# above this many sample elements (rows × dim) the training sample stays
# distributed; below it, one collect + vectorized numpy Lloyd's replaces m
# sequential Spark fits (each a scheduler round-trip) — the sample is
# driver-sized by construction (max_train_rows), so this is the common case
_DRIVER_FIT_MAX_ELEMS = 50_000_000


def _norm_rows(M):
    """Row-wise L2 normalization (zero rows pass through unchanged)."""
    import numpy as np

    norms = np.linalg.norm(M, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return M / norms


def _kmeans_np(X, k: int, seed: int, max_iter: int):
    """Seeded vectorized Lloyd's with k-means++ init on a driver-local
    sample — deterministic for a given (X, k, seed). Duplicates in the
    init draw and emptied clusters both re-seed from the farthest point,
    so k distinct centroids survive whenever the data has k distinct
    rows."""
    import numpy as np

    rng = np.random.RandomState(seed)
    n = X.shape[0]
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.randint(n)]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        total = d2.sum()
        if total <= 0:
            centers[i] = X[rng.randint(n)]
            continue
        centers[i] = X[rng.choice(n, p=d2 / total)]
        d2 = np.minimum(d2, ((X - centers[i]) ** 2).sum(axis=1))
    x2 = (X**2).sum(axis=1)
    for _ in range(max_iter):
        # assign: argmin ||x-c||² = argmin ||c||² − 2x·c (one matmul);
        # the dropped ||x||² term is safe for ASSIGNMENT (constant per
        # row) but NOT for comparing distances across rows, so reseeding
        # adds it back
        dist = (centers**2).sum(axis=1)[None, :] - 2.0 * (X @ centers.T)
        assign = dist.argmin(axis=1)
        # farthest-first reseed order for clusters that emptied this
        # iteration — successive picks so two empty clusters never get
        # the same point; cycle when more clusters empty than there are
        # sample rows (k > n), so a tiny fit degrades to duplicate
        # centroids instead of a bare StopIteration
        far_order = itertools.cycle(np.argsort(dist.min(axis=1) + x2)[::-1])
        for i in range(k):
            mask = assign == i
            if mask.any():
                centers[i] = X[mask].mean(axis=0)
            else:
                centers[i] = X[next(far_order)]
    return centers


def pq_train_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    n_centroids: int = 32,
    seed: int = 42,
    max_iter: int = 4,
    max_train_rows: int | None = 100_000,
):
    """Train product-quantization codebooks: split the vector into ``m``
    contiguous subspaces and k-means each independently. Returns
    [(sub_idx, centroids: list[list[float]])] — m small codebooks that
    broadcast to every executor (m·n_centroids·(dim/m) floats, a few KB).

    PQ is the compression rung after int8: dim·4 bytes → m bytes per
    vector (one centroid id per subspace), the layout IVF-PQ engines use
    at billion scale. Training is O(sample), not O(corpus): when the
    corpus exceeds ``max_train_rows`` a seeded Bernoulli sample (capped
    with ``limit``) is taken ONCE and reused by all m fits — codebook
    quality saturates around ~100k training vectors (the standard faiss
    guidance), so full-corpus fits at 100 TB would be m sequential
    full-table passes for no recall gain. Pass ``max_train_rows=None``
    to force full-corpus training.

    Because the sample is driver-sized by construction, the m fits run
    as ONE collect + vectorized numpy Lloyd's when the sample is small
    enough (_DRIVER_FIT_MAX_ELEMS) — m Spark ML fits on a few hundred
    rows cost m scheduler round-trips for no quality gain. Larger
    samples (or ``max_train_rows=None``) keep the distributed Spark ML
    fit. Both paths are deterministic under ``seed``; recall floors are
    pinned by the PQ/IVF-PQ pytest suite either way."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = corpus.select(F.col(vec_col).alias("_v"))
    n = vecs.count()
    if n == 0:
        raise ValueError("empty training corpus")
    if max_train_rows is not None and n > max_train_rows:
        # Bernoulli sampling is approximate — oversample 5% then cap
        # with limit so the fit input is firmly bounded.
        frac = min(1.0, 1.05 * max_train_rows / n)
        vecs = vecs.sample(fraction=frac, seed=seed).limit(max_train_rows)
        n = max_train_rows
    first = vecs.select("_v").first()
    if first is None:
        raise ValueError("empty training corpus")
    dim = len(first[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    if max_train_rows is not None and n * dim <= _DRIVER_FIT_MAX_ELEMS:
        X = np.asarray(
            [r[0] for r in vecs.collect()], dtype=np.float64
        )  # bounded: ≤ max_train_rows × dim
        return [
            (
                j,
                [
                    [float(x) for x in c]
                    for c in _kmeans_np(
                        X[:, j * sub : (j + 1) * sub], n_centroids, seed + j, max_iter
                    )
                ],
            )
            for j in range(m)
        ]

    vecs = vecs.persist()
    try:
        books = []
        for j in range(m):
            feats = vecs.select(
                array_to_vector(
                    F.transform(
                        F.slice(F.col("_v"), j * sub + 1, sub),
                        lambda x: x.cast("double"),
                    )
                ).alias("features")
            )
            km = KMeans(
                k=n_centroids, seed=seed + j, maxIter=max_iter, initSteps=1,
                featuresCol="features", predictionCol="code",
            )
            model = km.fit(feats)
            books.append((j, [[float(x) for x in c] for c in model.clusterCenters()]))
        return books
    finally:
        vecs.unpersist()


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Encode vectors to ``m`` centroid ids (nearest centroid per
    subspace) with ONE vectorized Arrow pass — each batch does m small
    (batch × n_centroids) distance matmuls against the broadcast
    codebooks; no per-row Python."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    cb = [np.asarray(c, dtype=np.float64) for _, c in sorted(codebooks)]
    m = len(cb)
    sub = cb[0].shape[1]

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        X = np.vstack(vecs.to_numpy()).astype(np.float64)
        codes = np.empty((X.shape[0], m), dtype=np.int32)
        for j in range(m):
            S = X[:, j * sub : (j + 1) * sub]
            # argmin ||s - c||² = argmin (||c||² - 2 s·c) — one matmul
            d = (cb[j] ** 2).sum(axis=1)[None, :] - 2.0 * (S @ cb[j].T)
            codes[:, j] = d.argmin(axis=1)
        return pd.Series([row.tolist() for row in codes])

    return df.withColumn(out_col, encode(F.col(vec_col)))


def pq_decode(codes_col: Column, codebooks) -> Column:
    """Reconstruct the PQ approximation: concatenate each subspace's
    centroid. Arrow-batched lookup against the broadcast numpy codebooks
    (same transport as pq_encode) — a literal-expression formulation
    embeds n_centroids·dim constant nodes in the plan, which blows past
    codegen method/constant-pool limits at production sizes
    (dim 768 × 256 centroids ≈ 200k nodes)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType

    cb = [np.asarray(c, dtype=np.float64) for _, c in sorted(codebooks)]
    m = len(cb)

    @F.pandas_udf(ArrayType(DoubleType()))
    def decode(codes: pd.Series) -> pd.Series:
        import numpy as np

        if len(codes) == 0:
            return pd.Series([], dtype=object)
        C = np.vstack(codes.to_numpy()).astype(np.int64)  # n × m
        out = np.concatenate(
            [cb[j][C[:, j]] for j in range(m)], axis=1
        )  # n × dim
        return pd.Series([row.tolist() for row in out])

    return decode(codes_col)


def _adc_approx_udf(q_rows, codebooks):
    """Arrow-batched ADC (asymmetric distance computation) scorer: for
    each query an m × n_centroids lookup table of subspace dot products
    is built ONCE (m tiny matmuls), then every candidate costs m table
    probes + m norm-table probes instead of a dim-element decode+cosine —
    the kernel faiss-style IVF-PQ engines run per cell. Returns a
    pandas_udf (query_id, pq_codes) -> approximate cosine against the
    PQ reconstruction, numerically the same quantity the decode
    formulation computes.

    ``q_rows`` is the collected (id, vector) query list — queries are the
    small broadcast side by contract, so shipping them in the closure is
    the same transport as ``F.broadcast`` and lets candidates travel as
    (query_id, neighbor_id, m codes) with no vector payload at all."""
    import numpy as np
    from pyspark.sql.types import DoubleType

    cb = [np.asarray(c, dtype=np.float64) for _, c in sorted(codebooks)]
    m = len(cb)
    sub = cb[0].shape[1]
    # ||x̂||² decomposes per subspace — query-independent, built once
    n2lut = np.stack([(b**2).sum(axis=1) for b in cb])  # m × n_centroids
    q_map = {k: np.asarray(v, dtype=np.float64) for k, v in q_rows}

    @F.pandas_udf(DoubleType())
    def adc(qids: pd.Series, codes: pd.Series) -> pd.Series:
        import numpy as np

        if len(qids) == 0:
            return pd.Series([], dtype=float)
        C = np.vstack(codes.to_numpy()).astype(np.int64)  # n × m
        rows = np.arange(m)[:, None]
        out = np.empty(len(qids), dtype=np.float64)
        arr = qids.to_numpy()
        for qid in pd.unique(arr):
            mask = arr == qid
            qv = q_map[qid]
            lut = np.stack([qv[j * sub : (j + 1) * sub] @ cb[j].T for j in range(m)])
            q_norm = float(np.sqrt((qv * qv).sum()))
            Ct = C[mask].T  # m × n_sel
            dot = lut[rows, Ct].sum(axis=0)
            n2 = n2lut[rows, Ct].sum(axis=0)
            denom = q_norm * np.sqrt(n2)
            out[mask] = np.divide(dot, denom, out=np.zeros_like(dot), where=denom > 0)
        return pd.Series(out)

    return adc


@dataclass(frozen=True)
class IvfPqIndex:
    """A built IVF-PQ index: coarse centroids (n_cells × dim, plain
    floats — serializable), PQ codebooks ([(sub_idx, centroids)]), and the
    encoded corpus (id, cell, pq_codes) — 4 + m bytes of payload per
    vector, no full-precision vectors. Built once (build_ivfpq_index),
    served many times (ivfpq_topk); full-precision vectors stay in the
    source corpus and rejoin only at rerank."""

    centroids: list
    codebooks: list
    encoded: DataFrame
    id_col: str = "vec_id"


def build_ivfpq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 4,
    n_centroids: int = 32,
    seed: int = 42,
    max_train_rows: int | None = 100_000,
) -> IvfPqIndex:
    """Train + encode phase of IVF-PQ, separated from serving: coarse
    k-means partitions the corpus into cells, PQ codebooks compress each
    vector to m centroid ids. Training is O(sample) (pq_train_codebooks
    caps at ``max_train_rows``); encoding is one model.transform pass +
    one Arrow pass. At 100 TB this runs once per corpus build; every
    query batch then reads only the (4 + m)-byte encoded rows of its
    probed cells — re-training per query batch (the one-shot shape)
    would be m + 1 k-means fits on the serving path."""
    cells, centroids = _coarse_cells(corpus, id_col, vec_col, n_cells, seed)
    books = pq_train_codebooks(
        corpus, vec_col=vec_col, m=m, n_centroids=n_centroids, seed=seed,
        max_train_rows=max_train_rows,
    )
    encoded = pq_encode(cells, books, vec_col=vec_col).select(
        id_col, "cell", "pq_codes"
    )
    return IvfPqIndex(centroids, books, encoded, id_col)


def ivfpq_topk(
    corpus: DataFrame,
    index: IvfPqIndex,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    rerank: int = 32,
    kernel: str = "adc",
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Serve top-k from a built IVF-PQ index: probe the ``n_probe``
    nearest cells per query, score their PQ codes, exact-rerank the best
    ``rerank`` candidates against full-precision vectors from ``corpus``.

    Candidate scoring uses the ADC lookup-table kernel by default
    (``kernel="adc"``: per-query m × n_centroids table, m probes per
    candidate); ``kernel="decode"`` keeps the reference decode+cosine
    formulation — same quantity, so candidate sets and recall match
    (pinned by the kernel-parity test). The shortlist ranking shuffles
    ONLY (query_id, neighbor_id, _approx): full-precision vectors rejoin
    AFTER the per-query cut — corpus side via a broadcast join on the
    ≤ |queries|·rerank survivor ids (the corpus never shuffles), query
    side via broadcast — so at dim 768 the rank exchange carries ~24
    bytes/candidate instead of ~12 KB. Approximation affects recall
    only: reported cosine_sim comes from the exact rerank. Returns
    (query_id, neighbor_id, cosine_sim, rank). ``max_queries=None``
    skips the size guard — for callers that already enforced it
    (cosine_topk_ivfpq), avoiding a second count job per call."""
    if max_queries is not None:
        _require_small_queries(queries, max_queries)
    spark = corpus.sparkSession
    books = index.codebooks
    centroids = F.broadcast(
        spark.createDataFrame(
            [(i, ctr) for i, ctr in enumerate(index.centroids)],
            "cell int, centroid array<double>",
        )
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    probe_w = Window.partitionBy("query_id").orderBy(F.col("centroid_sim").desc(), F.col("cell"))
    probes = (
        q.crossJoin(centroids)
        .select(
            "query_id",
            "q_vec",
            "cell",
            cosine(F.col("q_vec"), F.col("centroid")).alias("centroid_sim"),
        )
        .withColumn("_pr", F.row_number().over(probe_w))
        .where(F.col("_pr") <= n_probe)
        .select("query_id", "q_vec", "cell")
    )
    encoded = index.encoded.select(
        F.col(index.id_col).alias("neighbor_id"), "cell", "pq_codes"
    )
    if kernel == "adc":
        adc = _adc_approx_udf([(r[0], list(r[1])) for r in q.collect()], books)
        approx = (
            encoded.join(F.broadcast(probes.select("query_id", "cell")), "cell")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                adc(F.col("query_id"), F.col("pq_codes")).alias("_approx"),
            )
        )
    elif kernel == "decode":
        approx = (
            encoded.join(F.broadcast(probes), "cell")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                cosine(F.col("q_vec"), pq_decode(F.col("pq_codes"), books)).alias("_approx"),
            )
        )
    else:
        raise ValueError(f"unknown kernel {kernel!r} (expected 'adc' or 'decode')")
    shortlist_ids = per_query_topk(
        approx, [F.col("_approx").desc(), F.col("neighbor_id")], rerank, rank_col="_cr"
    ).select("query_id", "neighbor_id")
    c_vecs = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    q_vecs = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    )
    scored = (
        c_vecs.join(F.broadcast(shortlist_ids), "neighbor_id")
        .join(q_vecs, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
        )
    )
    return per_query_topk(
        scored, [F.col("cosine_sim").desc(), F.col("neighbor_id")], k
    )


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 4,
    n_centroids: int = 32,
    rerank: int = 32,
    seed: int = 42,
    kernel: str = "adc",
    max_queries: int = 10_000,
) -> DataFrame:
    """One-shot IVF-PQ: build_ivfpq_index + ivfpq_topk in a single call —
    the billion-scale ANN composition where IVF cells bound WHICH vectors
    are touched (~n_probe/n_cells of the corpus per query), PQ codes
    bound the BYTES each touch costs (m bytes instead of dim·4), and only
    the ``rerank`` best PQ-approximate candidates per query are scored
    against full-precision vectors. Deterministic under the fixed seed.
    For repeated query batches, build the index once and call ivfpq_topk
    (training dominates the one-shot cost). The query-size guard runs
    ONCE, here, before any training job — ivfpq_topk is told to skip its
    own check."""
    _require_small_queries(queries, max_queries)
    index = build_ivfpq_index(
        corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells, m=m,
        n_centroids=n_centroids, seed=seed,
    )
    return ivfpq_topk(
        corpus, index, queries, k=k, id_col=id_col, vec_col=vec_col,
        n_probe=n_probe, rerank=rerank, kernel=kernel, max_queries=None,
    )


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization + Hamming search
#
# The cheapest tier of the quantization ladder (float32 -> int8 -> PQ ->
# 1 bit/dim): each dimension keeps only its sign, packed 62 bits per 64-bit
# word.  At 100 TB this is the pre-filter tier: signatures are dim/8 bytes
# (32x smaller than float32), the whole scan stays in JVM codegen
# (XOR + popcount, no Python, no floats), and the shortlist is re-ranked
# against full-precision vectors only for the few candidates that survive.
# 62 bits/word (not 64) keeps the packing portable: engines with checked
# arithmetic (DuckDB among them) reject 1<<63, and the oracle twin must
# pack identically.  Spark's shiftleft(1L, 62) and `|` fold reproduce the
# words bit-for-bit.
# ---------------------------------------------------------------------------


def binary_signature_expr(vec_col: str, bits_per_word: int = 62):
    """Column: packed sign signature of ARRAY<numeric> column ``vec_col``.

    Word w, bit j is set iff vec[w*bits_per_word + j] > 0 — one JVM
    higher-order-function expression (transform/aggregate), zero Python.
    Returns ARRAY<BIGINT> of ceil(dim / bits_per_word) words.
    """
    if not 1 <= bits_per_word <= 62:
        raise ValueError(
            f"bits_per_word={bits_per_word} not in [1, 62]: 63 overflows "
            "checked-shift engines (the DuckDB oracle raises on 1::BIGINT<<63) "
            "and 64 overflows the long itself"
        )
    b = bits_per_word
    return F.expr(
        f"""
        IF(size({vec_col}) = 0, array(),
          transform(
            sequence(0, cast(ceil(size({vec_col}) / {b}.0) as int) - 1),
            w -> aggregate(
                   transform(slice({vec_col}, w * {b} + 1, {b}),
                             (x, j) -> IF(cast(x as double) > 0D, shiftleft(1L, j), 0L)),
                   0L, (a, v) -> a | v)))
        """
    )


def binary_signature_sql(vec_expr: str, bits_per_word: int = 62) -> str:
    """DuckDB twin of binary_signature_expr — identical packing (62-bit
    words, LSB-first within a word) so signatures compare byte-exact
    across engines.  DuckDB lambdas index 1-based, hence (j-1)."""
    b = bits_per_word
    return (
        f"CASE WHEN len({vec_expr}) = 0 THEN [] ELSE "
        f"list_transform(range(0, CAST(ceil(len({vec_expr}) / {b}.0) AS INT)), "
        f"w -> list_reduce(list_transform(list_slice({vec_expr}, w * {b} + 1, w * {b} + {b}), "
        f"(x, j) -> CASE WHEN CAST(x AS DOUBLE) > 0 THEN 1::BIGINT << (j - 1) ELSE 0::BIGINT END), "
        f"(a, v) -> a | v)) END"
    )


def hamming_expr(sig_a: str, sig_b: str):
    """Column: Hamming distance between two packed ARRAY<BIGINT> signature
    columns — XOR + popcount per word, summed; pure JVM codegen."""
    return F.expr(
        f"aggregate(zip_with({sig_a}, {sig_b}, "
        f"(x, y) -> cast(bit_count(x ^ y) as bigint)), 0L, (a, v) -> a + v)"
    )


def binary_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits_per_word: int = 62,
    out_col: str = "sig",
) -> DataFrame:
    """(id, packed signature) for every vector — the persisted form of the
    binary tier (write this narrow frame, not the floats, for the scan
    tier of a two-stage index)."""
    return df.select(
        F.col(id_col), binary_signature_expr(vec_col, bits_per_word).alias(out_col)
    )


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits_per_word: int = 62,
    rerank: int = 0,
    max_queries: int = 10_000,
) -> DataFrame:
    """Top-k nearest neighbors by Hamming distance over packed sign bits.

    Signatures are computed (or, in a real deployment, read pre-packed via
    binary_quantize) BEFORE the query join, so the scan stage moves
    dim/8-byte words, never dim*4-byte float arrays.  Ranking is
    (hamming asc, neighbor_id asc) — integer distances tie often, so the
    id tiebreak pins determinism.  Returns (query_id, neighbor_id,
    hamming, rank).

    rerank > 0 switches to the production two-stage shape: shortlist
    ``rerank`` candidates per query by Hamming, join the shortlist ids
    (and only them) back to full-precision vectors, re-score exact cosine,
    return (query_id, neighbor_id, hamming, cosine_sim, rank) ranked by
    cosine.  Approximation then affects recall only — reported scores are
    exact, same contract as the LSH/IVF paths.
    """
    _require_small_queries(queries, max_queries)
    q_sig = F.broadcast(
        binary_quantize(queries, id_col, vec_col, bits_per_word, "q_sig")
        .withColumnRenamed(id_col, "query_id")
    )
    c_sig = binary_quantize(corpus, id_col, vec_col, bits_per_word, "c_sig") \
        .withColumnRenamed(id_col, "neighbor_id")
    scored = (
        c_sig.crossJoin(q_sig)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", hamming_expr("q_sig", "c_sig").alias("hamming"))
    )
    order = [F.asc("hamming"), F.asc("neighbor_id")]
    if rerank <= 0:
        return per_query_topk(scored, order, k)

    shortlist = per_query_topk(scored, order, rerank).drop("rank")
    full = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    q_vec = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    )
    rescored = (
        shortlist.join(full, "neighbor_id")
        .join(q_vec, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.asc("neighbor_id")
    )
    return rescored.withColumn("rank", F.row_number().over(w2).cast("long")).where(
        F.col("rank") <= k
    )


def gram_matrix(df, vec_col: str = "embedding"):
    """Distributed Gram matrix G = Xᵀ X over an embedding column — the
    building block under covariance/PCA/whitening/linear probes. The
    naive formulation (explode each vector twice, groupBy (i, j)) puts
    N·d² rows through the shuffle; this one runs ONE numpy ``Mᵀ M`` per
    Arrow batch inside mapInPandas and emits only the d(d+1)/2 upper-
    triangle partials per PARTITION, so the shuffle carries
    partitions × d² tiny rows no matter how large N grows — at 100 TB
    the reduction is all in the map side, the exchange is
    dimension-table sized. Returns (i, j, g) for i ≤ j (0-based),
    g = Σ_rows v[i]·v[j]."""
    import pandas as pd

    def acc(batches):
        import numpy as np

        G = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            G = M.T @ M if G is None else G + M.T @ M
        if G is None:
            return
        i, j = np.triu_indices(G.shape[0])
        yield pd.DataFrame(
            {"i": i.astype("int32"), "j": j.astype("int32"), "g": G[i, j]}
        )

    partials = df.select(vec_col).mapInPandas(acc, "i int, j int, g double")
    return partials.groupBy("i", "j").agg(F.sum("g").alias("g"))


def procrustes_align(
    pairs: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
):
    """Orthogonal Procrustes alignment between two embedding spaces —
    the model-stitching / checkpoint-migration primitive: given paired
    vectors (the same items embedded by model A and model B), find the
    rotation R minimizing ‖A·R − B‖_F and return ``(R, aligned)`` where
    ``aligned`` carries ``src`` mapped through R. The classical closed
    form: R = U·Vᵀ from the SVD of the cross-Gram M = AᵀB.

    Scale shape (the same discipline as :func:`gram_matrix` /
    ``pca_whiten``): the N-sized work is ONE mapInPandas pass that
    folds each Arrow batch's ``AᵀB`` locally, so the shuffle carries
    only partitions × d² partial rows; the d×d cross-Gram (d² doubles —
    kilobytes for any real embedding width) is the ONLY thing collected
    to the driver, where numpy's SVD runs in microseconds; R ships back
    as a broadcast-closure constant inside the apply pass. N never
    moves, never pivots, never hits a driver bottleneck.

    Determinism: the cross-Gram partials are float sums (batch-order
    dependent in the last ulp), so R is deterministic only up to
    numerical noise — this operator is pytest-pinned (planted-rotation
    recovery), not oracle-checked; no SQL engine expresses the SVD.
    """
    import numpy as np

    head = pairs.select(src_col).first()
    if head is None or head[0] is None:
        raise ValueError(
            "procrustes_align: pairs frame is empty (or its first "
            f"{src_col!r} is null) — nothing to align"
        )
    d = len(head[0])
    if d * d > _DRIVER_FIT_MAX_ELEMS:
        raise ValueError(f"cross-Gram d²={d * d} exceeds the driver-fit cap")

    def cross(batches):
        import numpy as _np
        import pandas as _pd

        M = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = _np.vstack(pdf[src_col].to_numpy()).astype(_np.float64)
            B = _np.vstack(pdf[dst_col].to_numpy()).astype(_np.float64)
            M = A.T @ B if M is None else M + A.T @ B
        if M is None:
            return
        i, j = _np.indices(M.shape)
        yield _pd.DataFrame(
            {
                "i": i.ravel().astype("int32"),
                "j": j.ravel().astype("int32"),
                "m": M.ravel(),
            }
        )

    partials = pairs.select(src_col, dst_col).mapInPandas(
        cross, "i int, j int, m double"
    )
    mg = (
        partials.groupBy("i", "j")
        .agg(F.sum("m").alias("m"))
        .toPandas()
        .sort_values(["i", "j"])
    )
    M = np.zeros((d, d))
    M[mg["i"].to_numpy(), mg["j"].to_numpy()] = mg["m"].to_numpy()
    U, _s, Vt = np.linalg.svd(M)
    R = U @ Vt

    def apply_r(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = _np.vstack(pdf[src_col].to_numpy()).astype(_np.float64)
            out = pdf.copy()
            out[src_col] = list((A @ R).astype(_np.float64))
            yield out

    aligned = pairs.mapInPandas(apply_r, pairs.schema)
    return R, aligned
