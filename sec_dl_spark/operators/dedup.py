"""Deduplication operators for the training-data pipeline (SURVEY.md §2.11):
MinHash+LSH, SimHash, n-gram Jaccard, winnowing (exact fingerprint dedup
lives in streaming/dedup.py).

Scale notes (100 TB):
- exact dedup is one hash-groupBy on a short fingerprint — never shuffle the
  full text, shuffle the (fingerprint, id) pairs and semi-join back;
- MinHash/LSH and SimHash band-bucketing turn the O(n²) pair space into
  per-bucket candidate sets — shuffle keyed by (band, bucket-hash);
- pairwise Jaccard is only run on candidates (same bucket / same source),
  never the cross product of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sec_dl_spark.functions.analysis import shingles_of
from sec_dl_spark.functions.text import tokenize
from sec_dl_spark.session import pin, spread


def _shingled(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str | None,
    n: int,
) -> DataFrame:
    """(_id, _blk, _sh ARRAY<STRING>) with tokenization evaluated exactly
    once per row: tokenize lands in its own projection so the ~2n references
    inside the shingle expression read an attribute, not a re-parsed text
    (functions/analysis.py module note). spread() fixes local single-split
    scans; no-op on real multi-split inputs."""
    blk = F.col(block_col) if block_col else F.lit(1)
    return (
        spread(docs)
        .select(F.col(id_col).alias("_id"), blk.alias("_blk"), tokenize(F.col(text_col)).alias("_tk"))
        .select("_id", "_blk", shingles_of(F.col("_tk"), n).alias("_sh"))
    )


def jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact pairwise n-gram-shingle Jaccard via posting-list co-occurrence.

    Instead of a blocked cross join with per-pair array_intersect (which at
    any real scale concentrates all pair evaluations in however few tasks
    the block-key join produces), explode each doc's distinct shingle set
    into postings, self-join postings on (block, shingle), and count shared
    shingles per pair: jaccard = c / (|A| + |B| - c). Only pairs that share
    at least one shingle are materialized — mathematically the same result
    set as "all pairs with jaccard > 0", with shuffle parallelism keyed by
    shingle rather than by block. ``block_col`` still bounds candidate
    generation (postings never join across blocks).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    Pairs with an empty intersection are not returned.
    """
    sh = _shingled(docs, id_col, text_col, block_col, n).withColumn("_sz", F.size("_sh"))
    post = sh.select("_id", "_blk", "_sz", F.explode("_sh").alias("_t"))
    a = post.select(
        F.col("_id").alias("id_a"), F.col("_sz").alias("sz_a"), F.col("_blk"), F.col("_t")
    )
    b = post.select(
        F.col("_id").alias("id_b"), F.col("_sz").alias("sz_b"), F.col("_blk"), F.col("_t")
    )
    pairs = (
        a.join(b, ["_blk", "_t"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    jac = F.col("_c").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("_c"))
    return pairs.select("id_a", "id_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Asymmetric containment pairs: c / min(|A|, |B|) — the quote/subset
    detector Jaccard misses. A short document wholly quoted inside a long
    one has tiny Jaccard (the union is dominated by the long doc) but
    containment 1.0; dedup pipelines use it to drop excerpts, boilerplate
    wrappers, and re-posts with added commentary.

    Same posting-list co-occurrence plan as :func:`jaccard_pairs` (shuffle
    keyed by shingle, never a blocked cross join); only the final scoring
    expression differs, so the scale shape is identical. Returns
    (id_a, id_b, containment) with id_a < id_b, containment >= threshold;
    pairs sharing no shingle are never materialized."""
    sh = _shingled(docs, id_col, text_col, block_col, n).withColumn("_sz", F.size("_sh"))
    post = sh.select("_id", "_blk", "_sz", F.explode("_sh").alias("_t"))
    a = post.select(
        F.col("_id").alias("id_a"), F.col("_sz").alias("sz_a"), F.col("_blk"), F.col("_t")
    )
    b = post.select(
        F.col("_id").alias("id_b"), F.col("_sz").alias("sz_b"), F.col("_blk"), F.col("_t")
    )
    pairs = (
        a.join(b, ["_blk", "_t"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    cont = F.col("_c").cast("double") / F.least(F.col("sz_a"), F.col("sz_b"))
    return pairs.select("id_a", "id_b", cont.alias("containment")).where(
        F.col("containment") >= threshold
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + banded LSH, entirely
    JVM-side (minhash_signatures + minhash_band_keys — no ML fit, no
    feature vectorization): candidates are pairs sharing any
    (band, band_hash) key, the estimate is the fraction of agreeing
    signature permutations (an unbiased Jaccard estimator), and pairs
    below ``jaccard_threshold`` are filtered. The shuffle is keyed by
    band hash — the corpus-level near-dedup scale path. Output:
    (id_a, id_b, jaccard_est) with id_a < id_b."""
    sig = minhash_signatures(
        docs, id_col=id_col, text_col=text_col, num_perm=num_hashes, n=n, seed=seed
    )
    bands = minhash_band_keys(sig)
    a = bands.select(F.col("doc_id").alias("id_a"), "band", "band_hash")
    b = bands.select(F.col("doc_id").alias("id_b"), "band", "band_hash")
    cand = (
        a.join(b, ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    h_cols = [c for c in sig.columns if c.startswith("h")]
    sig_a = sig.select(
        F.col("doc_id").alias("id_a"), *[F.col(c).alias(f"a_{c}") for c in h_cols]
    )
    sig_b = sig.select(
        F.col("doc_id").alias("id_b"), *[F.col(c).alias(f"b_{c}") for c in h_cols]
    )
    agree = sum(
        [(F.col(f"a_{c}") == F.col(f"b_{c}")).cast("int") for c in h_cols],
        start=F.lit(0),
    ) / F.lit(float(len(h_cols)))
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", F.round(agree, 6).alias("jaccard_est"))
        .where(F.col("jaccard_est") >= jaccard_threshold)
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash over shingles using xxhash64 (JVM-side, no UDF).

    For each bit b, the bit is 1 iff more shingle-hashes have bit b set than
    unset. Near-duplicates differ in few bits (small Hamming distance).
    Expressed with explode + groupBy-sum over bit positions — one shuffle
    keyed by doc, partial aggregation map-side.
    """
    hashed = (
        _shingled(docs, id_col, text_col, None, 3)
        .select(F.col("_id").alias("doc_id"), F.explode("_sh").alias("sh"))
        .select("doc_id", F.xxhash64("sh").alias("h"))
    )
    # Set-bit counts, PACKED 2 per long in 31-bit fields: sum of packed
    # per-row bit fields keeps each count isolated while the doc has
    # < 2^31 shingles. That bound cannot be hit: a shingle is >= 1 byte of
    # a single STRING cell, and Spark caps any one cell (and row) well
    # under 2 GiB, so a document physically yields < 2^31 shingle rows.
    # The raise_error guard below still enforces it so a future layout
    # change (e.g. narrower fields) fails loudly instead of silently
    # bleeding carries into the adjacent bit's count. One count(*) +
    # ceil(bits/2) sum buffers instead of `bits` of them — narrower agg
    # state and shuffle rows. Bit b is set in the signature iff
    # 2·cnt_b > n (same tie behavior as the ±1-vote formulation).
    field_bits = 31
    per_long = 2
    packs = [list(range(k, min(k + per_long, bits))) for k in range(0, bits, per_long)]
    packed_cols = [
        sum(
            [
                F.shiftleft(
                    F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1)).cast("long"),
                    field_bits * j,
                )
                for j, b in enumerate(group)
            ],
            start=F.lit(0).cast("long"),
        ).alias(f"p{k}")
        for k, group in enumerate(packs)
    ]
    agg = (
        hashed.select("doc_id", *packed_cols)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(f"p{k}").alias(f"p{k}") for k in range(len(packs))],
        )
    ).withColumn(
        "n",
        F.when(
            F.col("n") >= F.lit(1 << field_bits),
            F.raise_error(
                F.format_string(
                    "simhash: document %s has %s shingles; >= 2^"
                    + str(field_bits)
                    + " overflows the packed bit-count fields",
                    F.col("doc_id").cast("string"),
                    F.col("n").cast("string"),
                )
            ).cast("long"),
        ).otherwise(F.col("n")),
    )
    mask = F.lit((1 << field_bits) - 1)

    def cnt(k: int, j: int):
        return F.shiftrightunsigned(F.col(f"p{k}"), field_bits * j).bitwiseAND(mask)

    sig = agg.select(
        "doc_id",
        sum(
            [
                # shiftleft on the JVM: bit 63 lands in the sign bit of the
                # signed long, which a Python literal 1<<63 cannot express.
                F.when(
                    cnt(k, j) * 2 > F.col("n"),
                    F.shiftleft(F.lit(1).cast("long"), b),
                ).otherwise(F.lit(0).cast("long"))
                for k, group in enumerate(packs)
                for j, b in enumerate(group)
            ],
            start=F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return sig


def hamming_pairs(sig: DataFrame, max_distance: int = 3, band_bits: int = 16) -> DataFrame:
    """Candidate near-dup pairs from SimHash signatures via band-bucketing:
    two signatures within Hamming distance d share at least one of
    ceil(64/band_bits) bands untouched (pigeonhole when d < n_bands).
    Join key = (band_idx, band_value); exact Hamming check post-join."""
    n_bands = 64 // band_bits
    if max_distance >= n_bands:
        raise ValueError(
            f"pigeonhole requires max_distance < n_bands: d={max_distance} "
            f"needs band_bits <= {64 // (max_distance + 1)} (got {band_bits}, "
            f"{n_bands} bands) — pairs differing in every band would be missed"
        )
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), i * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a = bands.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sig_a"), "band", "val")
    b = bands.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sig_b"), "band", "val")
    cand = (
        a.join(b, ["band", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    dist = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select("id_a", "id_b", dist.alias("hamming")).where(F.col("hamming") <= max_distance)


def duplicate_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over candidate pairs → (doc_id, cluster_id)
    with cluster_id = min doc_id in the component — the step that turns
    pairwise near-dup evidence into actionable keep/drop sets.

    Iterative min-label propagation + POINTER JUMPING in pure DataFrame
    ops: each round every node adopts the smallest label among itself and
    its neighbors, then shortcuts through its label's label
    (label ← label(label)). The shortcut makes label depth collapse
    geometrically, so rounds are O(log diameter) instead of O(diameter) —
    a 1M-long duplication chain converges in ~20 rounds where plain
    propagation would silently hit max_iterations and return wrong labels.
    Pinning (session.pin) every round truncates lineage so plan size stays
    constant (the classic iterative-algorithm trap on Spark).
    Deterministic.

    EAGER, and convergence probes block per round; default pinned blocks
    are executor-local (not recomputable under executor loss /
    preemption) — preemptible fleets set
    ``spark.sec_dl_spark.reliableCheckpoint=true`` + ``setCheckpointDir``.

    ``pairs``: (id_a, id_b) rows, any extra columns ignored.
    """
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    # undirected: both directions, plus self-loops to keep isolated..none here
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = pin(sym.distinct())

    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    labels = pin(labels)
    changed = None
    for i in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.join(
            neighbor_min, labels["node"] == neighbor_min["src"], "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("p_label"),
            F.col("label").alias("old_label"),
        )
        # pointer jumping: adopt the label of your label (labels only ever
        # decrease and every label value is itself a node, so the lookup
        # frame is `propagated` keyed by node; one self-join per round on
        # the O(nodes) label frame, cheap next to the edge join)
        hop = propagated.select(
            F.col("node").alias("_h_node"), F.col("p_label").alias("_h_label")
        )
        updated = (
            propagated.join(hop, propagated["p_label"] == hop["_h_node"], "left")
            .select(
                "node",
                F.least(
                    F.col("p_label"), F.coalesce(F.col("_h_label"), F.col("p_label"))
                ).alias("new_label"),
                "old_label",
            )
        )
        updated = pin(updated)
        labels = updated.select("node", F.col("new_label").alias("label"))
        # Convergence probe every OTHER round: each probe is a blocking
        # driver action, and round 1 virtually always changes labels, so
        # probing odd rounds halves the driver round-trips at the cost of
        # at most one extra (cheap, converged) propagation round.
        if i % 2 == 1 or i == max_iterations - 1:
            changed = (
                updated.where(F.col("new_label") != F.col("old_label")).limit(1).count()
            )
            if changed == 0:
                break
    if changed != 0:
        # the final-round probe is always taken (i == max_iterations-1), so
        # a nonzero count here means labels were still moving when the
        # iteration budget ran out — the result would silently merge fewer
        # components than the true connected components. Surface it.
        import warnings

        warnings.warn(
            f"duplicate_clusters did not converge within {max_iterations} "
            "iterations; returned cluster labels are NOT fixed-point "
            "connected components. Raise max_iterations (rounds needed is "
            "~log2 of the longest duplication chain).",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    n: int = 3,
    seed: int = 7,
) -> DataFrame:
    """(doc_id, h0..h{num_perm-1}) MinHash signature entirely JVM-side:
    permutation j is min over shingles of xxhash64(j·seed, shingle) — a
    salted hash stands in for a true permutation (the standard one-hash
    construction). One explode + one grouped min-aggregate; no ML fit, no
    feature vectorization, fully codegen with map-side partial mins.
    P[h_j(A) == h_j(B)] = jaccard(A, B), so signature agreement estimates
    Jaccard."""
    sh = (
        _shingled(docs, id_col, text_col, None, n)
        .select(F.col("_id").alias("doc_id"), F.explode("_sh").alias("sh"))
    )
    aggs = [
        F.min(F.xxhash64(F.lit(j * seed + 1), F.col("sh"))).alias(f"h{j}")
        for j in range(num_perm)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_band_keys(sig: DataFrame, rows_per_band: int = 4) -> DataFrame:
    """Signature → exploded (doc_id, band, band_hash) LSH keys: the
    signature's ``num_perm`` rows split into bands of ``rows_per_band``;
    docs sharing any (band, band_hash) are near-dup candidates. With
    b bands of r rows, P[candidate] = 1 − (1 − jaccard^r)^b — the
    standard S-curve; r=4, b=8 centers the threshold near 0.6."""
    h_cols = [c for c in sig.columns if c.startswith("h")]
    n_bands = len(h_cols) // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(h_cols[b * rows_per_band + r]) for r in range(rows_per_band)]
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_hash").alias("band_hash")
    )


# Winnowing fingerprint packing: key = hash * 2^POS_BITS + position gives a
# single BIGINT whose min over a window is the (hash, leftmost-pos) argmin —
# total order with deterministic ties, identical integer arithmetic in any
# SQL engine (the oracle runs the same expression).
WINNOW_POS_BITS = 32
WINNOW_MOD = 2147483647  # 2^31 - 1: poly-hash state stays < 2^31, *257 < 2^40
WINNOW_BASE = 257


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Document fingerprinting by winnowing (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-gram of the token
    stream, then keep the minimum hash of each sliding window of
    ``window`` consecutive k-grams. Guarantees: any shared token run of
    length >= window + k - 1 between two documents yields at least one
    IDENTICAL selected fingerprint — the partial-overlap/quote detector
    that whole-document MinHash cannot provide.

    Spark-first shape: one posexplode (k-grams with positions), a pure
    codegen polynomial hash over the gram's chars (tokens are [a-z0-9]
    by construction, so char codes are engine-portable ASCII), and ONE
    trailing-window min per document — a single shuffle keyed by doc.
    Selected (hash, pos) pairs dedupe to the fingerprint set. Returns
    (doc_id, fp_hash, pos), deterministic.

    DELIBERATE DEVIATION from the canonical full-window definition: the
    trailing frame below also emits mins of the TRUNCATED leading
    windows (pos < window-1), selecting a few extra early fingerprints
    per document. Extra fingerprints only ADD overlap candidates, so the
    shared-run guarantee above is preserved, and the DuckDB oracle
    mirrors the same frame so parity holds. Do NOT "fix" this to
    canonical full windows without updating the oracle SQL AND accepting
    that persisted streaming winnow registries built under this
    definition stop matching new fingerprints.
    """
    tk = spread(docs).select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("_tk")
    ).where(F.size("_tk") >= k)
    grams = tk.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_tk") - k),
                lambda i: F.array_join(F.slice("_tk", i + 1, k), " "),
            )
        ).alias("pos", "gram"),
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("gram")),
        lambda j: F.ascii(F.substring(F.col("gram"), j, F.lit(1))),
    )
    h = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * WINNOW_BASE + c) % WINNOW_MOD,
    )
    # 32 pos bits: (2^31-1 hash) * 2^32 + (2^32-1) < 2^63, and a single
    # row's token array physically cannot reach 2^32 entries — the guard
    # is enforced anyway so a future narrowing fails loudly, not silently.
    pos_ok = F.when(
        F.col("pos").cast("long") >= F.lit(1 << WINNOW_POS_BITS),
        F.raise_error(
            F.format_string(
                "winnow_fingerprints: document %s has >= 2^"
                + str(WINNOW_POS_BITS)
                + " k-grams; widen WINNOW_POS_BITS",
                F.col("doc_id").cast("string"),
            )
        ).cast("int"),
    ).otherwise(F.col("pos"))
    keyed = grams.select(
        "doc_id", "pos", (h * F.lit(1 << WINNOW_POS_BITS) + pos_ok).alias("_key")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    sel = keyed.select("doc_id", F.min("_key").over(w).alias("_sel")).distinct()
    return sel.select(
        "doc_id",
        F.expr(f"_sel div {1 << WINNOW_POS_BITS}").alias("fp_hash"),
        (F.col("_sel") % F.lit(1 << WINNOW_POS_BITS)).cast("long").alias("pos"),
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Partial-overlap candidate pairs: documents sharing >= ``min_shared``
    distinct winnowing fingerprints. The join is keyed by fingerprint hash
    (posting co-occurrence, like jaccard_pairs) — pair volume is driven by
    shared content, never |corpus|². Returns (id_a, id_b, n_shared).

    ``max_df`` drops "stop fingerprints" appearing in more than that many
    documents before pairing (the MOSS boilerplate filter): a fingerprint
    shared by d documents contributes d² candidate pairs, so one
    common-trigram fingerprint across a 100 TB corpus would otherwise be
    both a hot shuffle key and a pair-count explosion. Unset (None)
    keeps exact semantics for oracle comparison; set it (e.g. 1000) on
    real corpora — overlaps evidenced only by boilerplate are noise."""
    fps = (
        winnow_fingerprints(docs, id_col=id_col, text_col=text_col, k=k, window=window)
        .select("doc_id", "fp_hash")
        .distinct()
    )
    if max_df is not None:
        rare = (
            fps.groupBy("fp_hash")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("fp_hash")
        )
        fps = fps.join(rare, "fp_hash", "left_semi")
    a = fps.select(F.col("doc_id").alias("id_a"), "fp_hash")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def strip_boilerplate_passages(
    toks: DataFrame,
    id_col: str = "doc_id",
    toks_col: str = "toks",
    tile: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """CCNet/C4-style boilerplate removal at passage granularity: tile each
    document's token stream into non-overlapping ``tile``-token passages,
    call a passage boilerplate when it appears in ≥ ``min_df`` DISTINCT
    documents (headers, footers, licence blurbs — content that repeats
    across documents), and rebuild each document from its surviving
    passages plus the sub-tile tail, preserving order.

    Returns (id, n_tiles, n_removed, clean_text).

    Scale shape: the document-frequency aggregate runs on 8-byte
    ``xxhash64`` passage keys — text never enters that exchange (same
    discipline as the passage-dedup audit). Text moves exactly once, in
    the per-document reassembly groupBy, which any rewrite of the corpus
    must pay. An xxhash64 collision would strip a legitimate passage; at
    2^64 keys that risk is far below corruption rates.
    """
    base = toks.select(
        F.col(id_col).alias("_id"),
        F.col(toks_col).alias("_tk"),
        F.size(toks_col).alias("_n"),
        (F.size(toks_col) / tile).cast("long").alias("_n8"),
    )
    tiles = base.select(
        "_id",
        F.posexplode(
            F.when(
                F.col("_n8") > 0,
                F.expr(
                    f"transform(sequence(0, _n8 - 1), "
                    f"i -> concat_ws(' ', slice(_tk, i*{tile}+1, {tile})))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("tile_idx", "passage"),
    ).withColumn("_pk", F.xxhash64("passage"))
    boil = (
        tiles.groupBy("_pk")
        .agg(F.count_distinct("_id").alias("_df"))
        .where(F.col("_df") >= min_df)
        .select("_pk", F.lit(True).alias("_boil"))
    )
    flagged = tiles.join(boil, "_pk", "left").withColumn(
        "_is_boil", F.coalesce(F.col("_boil"), F.lit(False))
    )
    kept = flagged.groupBy("_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles"),
        F.sum(F.col("_is_boil").cast("long")).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("_is_boil"), F.struct("tile_idx", "passage"))
                    )
                ),
                lambda s: s["passage"],
            ),
            " ",
        ).alias("_kept_text"),
    )
    tails = base.select(
        "_id",
        F.concat_ws(
            " ", F.expr(f"slice(_tk, _n8*{tile}+1, _n - _n8*{tile})")
        ).alias("_tail"),
    )
    return (
        base.select("_id")
        .join(kept, "_id", "left")
        .join(tails, "_id")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("n_tiles"), F.lit(0)).cast("long").alias("n_tiles"),
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
            F.array_join(
                F.filter(
                    F.array(F.coalesce(F.col("_kept_text"), F.lit("")), F.col("_tail")),
                    lambda x: x != "",
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    t_num: int = 1,
    t_den: int = 2,
) -> DataFrame:
    """Set-similarity join with PPJoin-style PREFIX FILTERING: exact
    shingle-set Jaccard ≥ t pairs, generating candidates from only the
    first ``p = |S| − ⌈t·|S|⌉ + 1`` shingles of each document under a
    global rarest-first order (ascending document frequency). The prefix
    theorem guarantees two sets with J ≥ t share a prefix shingle, so no
    pair is missed; everything else never co-occurs in the candidate join.

    This is the scale path when full posting co-occurrence (jaccard_pairs)
    is too hot: common shingles sit at the END of the global order, so the
    candidate join only ever keys on RARE shingles — the frequent-key skew
    that dominates a plain posting self-join is filtered out by
    construction, not capped by a max_df heuristic.

    The threshold is the exact rational ``t_num/t_den``, applied as the
    integer predicate ``(t_den + t_num)·|A∩B| ≥ t_num·(|A| + |B|)`` — no
    float compare anywhere, so the pair set is byte-deterministic.

    Exchanges: shingle-df join keyed by shingle hash (dictionary-sized,
    unhinted — AQE decides), candidate join keyed by ``xxhash64`` prefix
    keys (8 bytes; hash collisions only ever ADD candidates, which the
    exact verification removes), verification join keyed by id. Returns
    (id_a, id_b, jaccard) rounded to 6.
    """
    sh = _shingled(docs, id_col, text_col, block_col, n).where(F.size("_sh") > 0)
    exploded = sh.select("_id", "_blk", F.explode("_sh").alias("_s"))
    df_tbl = exploded.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    # rarest-first total order (df, shingle); keep the full sorted set for
    # verification and the prefix slice for candidate generation
    ordered = (
        exploded.join(df_tbl, "_s")
        .groupBy("_id", "_blk")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_s"))).alias("_os"))
        .select(
            "_id",
            "_blk",
            F.transform("_os", lambda x: x["_s"]).alias("_set"),
            F.size("_os").alias("_n"),
        )
    )
    # p = n - ceil(t*n) + 1 with ceil(t*n) = (t_num*n + t_den - 1) div t_den
    p = F.col("_n") - F.expr(f"({t_num} * _n + {t_den} - 1) div {t_den}") + 1
    prefixes = ordered.select(
        "_id", "_blk", F.explode(F.slice("_set", 1, p)).alias("_ps")
    ).select("_id", "_blk", F.xxhash64("_ps").alias("_pk"))
    cands = (
        prefixes.alias("a")
        .join(
            prefixes.alias("b"),
            (F.col("a._pk") == F.col("b._pk"))
            & (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("_ia"), F.col("b._id").alias("_ib"))
        .distinct()
    )
    sa = ordered.select(F.col("_id").alias("_ia"), F.col("_set").alias("_sa"), F.col("_n").alias("_na"))
    sb = ordered.select(F.col("_id").alias("_ib"), F.col("_set").alias("_sb"), F.col("_n").alias("_nb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    return (
        cands.join(sa, "_ia")
        .join(sb, "_ib")
        .withColumn("_inter", inter)
        .where((t_den + t_num) * F.col("_inter") >= t_num * (F.col("_na") + F.col("_nb")))
        .select(
            F.col("_ia").alias("id_a"),
            F.col("_ib").alias("id_b"),
            F.round(
                F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter")), 6
            ).alias("jaccard"),
        )
    )
