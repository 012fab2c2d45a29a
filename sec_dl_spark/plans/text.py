"""Text / FTS / dedup / similarity queries over the documents and embeddings
fixtures (SURVEY.md §2.7 F-rows, §2.11 north-star extensions).

Shared tokenizer convention with the oracles: tokens are non-empty runs of
[a-z0-9] over the lowercased text (functions/text.py:tokenize). Jaccard and
averages are rounded with a +1e-9/+1e-8 nudge — rational values land exactly
on rounding halfway points otherwise (see plans/relational.py conventions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sec_dl_spark.functions import analysis as A
from sec_dl_spark.functions.text import clean_filing_text, tokenize
from sec_dl_spark.operators import dedup, fts, similarity
from sec_dl_spark.plans.catalog import query, t
from sec_dl_spark.session import pin, spread

# Memoized inverted index + corpus stats per (session, sf_dir): the ten
# fts_*/text_tfidf_* queries share one cached posting table and one
# stats pass instead of rebuilding per call — the build-once/serve-many
# discipline the persisted index (fts.write_index) applies at real scale,
# applied to the stateless queries() contract. Holding the session ref in
# the value prevents id() reuse after a session is garbage-collected.
_FTS_INDEX_CACHE: dict = {}


def fts_index(spark: SparkSession, sf_dir: str):
    """(postings, CorpusStats) for the documents fixture, built and cached
    once per (session, sf_dir)."""
    key = (id(spark), sf_dir)
    hit = _FTS_INDEX_CACHE.get(key)
    if hit is not None:
        return hit[1], hit[2]
    postings = fts.build_inverted_index(t(spark, sf_dir, "documents")).cache()
    stats = fts.CorpusStats(postings, cache=True)
    _FTS_INDEX_CACHE[key] = (spark, postings, stats)
    return postings, stats


# Memoized tokenized documents per (session, sf_dir): most text/dedup
# queries need exactly (doc_id, toks), so they share one cached NARROW
# frame (same discipline as fts_index; ~1 MB at sf0.1). Deliberately
# narrow: a wide shared frame would defeat column pruning — its scan
# would read every column for every query (plan test pins ReadSchema).
# Queries needing text/lang/source columns tokenize inline instead.
_TOK_CACHE: dict = {}

# Memoized support->=2 part co-purchase edge list per (session, sf_dir):
# the graph family (link prediction, k-core peeling, assortativity)
# shares one PINNED edge frame, so a sweep that runs all three pays the
# lineitem basket self-join — the most expensive graph stage — once,
# and the edge basis (the support floor) lives in one place.
_COPURCHASE_CACHE: dict = {}


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v) support-≥2 co-purchase edges over distinct (order, part)
    baskets, u < v, pinned (session.pin) and cached once per
    (session, sf_dir) — every graph query's branches read the one
    materialization."""
    key = (id(spark), sf_dir)
    hit = _COPURCHASE_CACHE.get(key)
    if hit is not None:
        return hit[1]
    bp = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a0, b0 = bp.alias("a0"), bp.alias("b0")
    edges = pin(
        a0.join(
            b0,
            (F.col("a0.l_orderkey") == F.col("b0.l_orderkey"))
            & (F.col("a0.l_partkey") < F.col("b0.l_partkey")),
        )
        .groupBy(
            F.col("a0.l_partkey").alias("u"),
            F.col("b0.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 2)
        .select("u", "v")
    )
    _COPURCHASE_CACHE[key] = (spark, edges)
    return edges


def tok_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks) for the documents fixture, cached once per
    (session, sf_dir). The backing scan reads only doc_id + text."""
    key = (id(spark), sf_dir)
    hit = _TOK_CACHE.get(key)
    if hit is not None:
        return hit[1]
    d = (
        spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
        .select("doc_id", tokenize(F.col("text")).alias("toks"))
        .cache()
    )
    _TOK_CACHE[key] = (spark, d)
    return d


# Zero-normalizing rounded float helpers live in plans/util.py (shared by
# every plan module); re-exported here because this module's oracles use
# them in module-level f-strings and sibling modules historically import
# them from here.
from sec_dl_spark.plans.util import rz, rz6, rz_sql  # noqa: E402


# DuckDB-side canonical tokenizer / shingler (mirrors functions/text.py).
TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
SHINGLES = (
    "list_distinct(list_transform(range(len(toks) - 2), "
    "i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))"
)


@query(
    "text_clean_chain",
    oracle=f"""
    SELECT doc_id,
           array_to_string(
             list_filter(
               string_split(
                 trim(regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(lower(text), '&#160;|&nbsp;', ' ', 'g'),
                         '[“”]', '"', 'g'),
                     '[\\n\\t\\r]', ' ', 'g'),
                   '<[^>]*>', ' ', 'g'),
                 '\\s+', ' ', 'g')),
                 ' '),
               w -> length(w) < 20),
             ' ') AS cleaned
    FROM documents ORDER BY doc_id
    """,
)
def text_clean_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full cleaning chain F1→F6→F2→F3→F4
    (scrape_all_filings.py:42-65,105-110,157) as one codegen'd expression."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", clean_filing_text(F.col("text")).alias("cleaned")).orderBy("doc_id")


@query(
    "text_token_stats",
    oracle=f"""
    WITH tk AS (SELECT doc_id, lang, text, {TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
           round(CASE WHEN len(toks) > 0
                 THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
                 ELSE 0.0 END + 1e-8, 4) AS avg_tok_len,
           round(CASE WHEN len(toks) > 0
                 THEN CAST(len(list_filter(toks, x -> list_contains(['a','the','and','of','to','in','is','it'], x))) AS DOUBLE) / len(toks)
                 ELSE 0.0 END + 1e-8, 4) AS stop_ratio
    FROM tk ORDER BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality-style ratios (SURVEY §2.11 text analysis).
    Tokenizes into a column first so each stat reads the attribute
    (functions/analysis.py performance note)."""
    tk = tok_docs(spark, sf_dir).select("doc_id", "toks")
    return tk.select(
        "doc_id",
        A.token_count_of(F.col("toks")).alias("n_tokens"),
        A.unique_token_count_of(F.col("toks")).alias("n_unique"),
        F.round(A.avg_token_len_of(F.col("toks")) + 1e-8, 4).alias("avg_tok_len"),
        F.round(A.stopword_ratio_of(F.col("toks")) + 1e-8, 4).alias("stop_ratio"),
    ).orderBy("doc_id")


@query(
    "text_quality_score",
    oracle=f"""
    WITH tk AS (SELECT doc_id, text, {TOKS} AS toks FROM documents)
    SELECT doc_id,
           round(0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
               + 0.25 * (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text))
               + 0.25 * (1.0 - CAST(len(list_filter(toks, x -> list_contains(['a','the','and','of','to','in','is','it'], x))) AS DOUBLE) / len(toks))
               + 1e-8, 4) AS quality
    FROM tk WHERE len(toks) > 0 AND length(text) > 0
    ORDER BY doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic (length/punct/stopword) per document."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
    tk = d.select("doc_id", "text", tokenize(F.col("text")).alias("toks")).where(
        (F.size("toks") > 0) & (F.length("text") > 0)
    )
    return tk.select(
        "doc_id",
        F.round(A.quality_score_of(F.col("toks"), F.col("text")) + 1e-8, 4).alias("quality"),
    ).orderBy("doc_id")


@query(
    "text_repetition_stats",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS token,
                   unnest(range(len(toks))) AS pos FROM tk),
    tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token),
    tstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                     max(c) AS top_tok FROM tc GROUP BY doc_id),
    g2 AS (SELECT doc_id,
                  token || ' ' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS gram
           FROM tok),
    gc AS (SELECT doc_id, gram, count(*) AS c FROM g2
           WHERE gram IS NOT NULL GROUP BY doc_id, gram),
    gstat AS (SELECT doc_id, sum(c) AS n_grams, max(c) AS top_gram,
                     sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_grams
              FROM gc GROUP BY doc_id)
    SELECT t.doc_id, t.n_tokens,
           round(t.top_tok * 1.0 / t.n_tokens + 1e-8, 4) AS top_tok_frac,
           round(coalesce(g.top_gram * 1.0 / g.n_grams, 0.0) + 1e-8, 4) AS top_2gram_frac,
           round(coalesce(g.dup_grams * 1.0 / g.n_grams, 0.0) + 1e-8, 4) AS dup_2gram_frac
    FROM tstat t LEFT JOIN gstat g ON t.doc_id = g.doc_id
    ORDER BY t.doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher/RefinedWeb-style filters a
    training-data pipeline applies before anything else): most-frequent
    token share, most-frequent 2-gram share, and the fraction of 2-grams
    appearing more than once. All computed by explode + groupBy counts —
    fully codegen aggregates, one shuffle keyed by doc; no per-row map
    structures (HOF frequency maps run interpreted)."""
    tok = tok_docs(spark, sf_dir).select(
        "doc_id", F.posexplode(F.col("toks")).alias("pos", "token")
    )
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    tstat = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"), F.max("c").alias("top_tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    g2 = tok.select(
        "doc_id",
        F.concat(F.col("token"), F.lit(" "), F.lead("token").over(w)).alias("gram"),
    ).where(F.col("gram").isNotNull())
    gc = g2.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    gstat = gc.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.max("c").alias("top_gram"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup_grams"),
    )
    return (
        tstat.join(gstat, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("top_tok") / F.col("n_tokens") + 1e-8, 4).alias("top_tok_frac"),
            F.round(
                F.coalesce(F.col("top_gram") / F.col("n_grams"), F.lit(0.0)) + 1e-8, 4
            ).alias("top_2gram_frac"),
            F.round(
                F.coalesce(F.col("dup_grams") / F.col("n_grams"), F.lit(0.0)) + 1e-8, 4
            ).alias("dup_2gram_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_lang_guess",
    oracle=f"""
    WITH tk AS (SELECT doc_id, lang, list_distinct({TOKS}) AS toks FROM documents),
    s AS (SELECT doc_id, lang,
           len(list_filter(toks, x -> list_contains(['the','and','of','a'], x))) AS s_en,
           len(list_filter(toks, x -> list_contains(['der','die','und','das'], x))) AS s_de,
           len(list_filter(toks, x -> list_contains(['le','la','et','les'], x))) AS s_fr,
           len(list_filter(toks, x -> list_contains(['el','los','que','y'], x))) AS s_es
          FROM tk)
    SELECT lang, guess, count(*) AS n FROM (
      SELECT lang,
             CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                  WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                  WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                  WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                  ELSE 'es' END AS guess
      FROM s)
    GROUP BY lang, guess ORDER BY lang, guess
    """,
)
def text_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language ID vs the labeled lang column (confusion
    counts). Deterministic function parity — the fixture corpus shares one
    vocabulary, so this checks the operator, not classifier accuracy."""
    d = spread(t(spark, sf_dir, "documents").select("lang", "text"))
    return (
        d.select("lang", tokenize(F.col("text")).alias("toks"))
        .select("lang", A.lang_guess_of(F.col("toks")).alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "guess")
    )


@query(
    "dedup_exact",
    oracle=f"""
    WITH fp AS (SELECT doc_id, md5(array_to_string({TOKS}, ' ')) AS fp FROM documents)
    SELECT count(*) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
           count(*) - CAST(count(DISTINCT fp) AS BIGINT) AS n_dups
    FROM fp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via canonical-content md5 fingerprint (hash-groupBy;
    only (fingerprint, id) pairs ever shuffle, never the text)."""
    fp = tok_docs(spark, sf_dir).select(
        "doc_id", A.fingerprint_of(F.col("toks")).alias("fp")
    )
    return fp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("fp").alias("n_unique"),
        (F.count(F.lit(1)) - F.count_distinct("fp")).alias("n_dups"),
    )


@query(
    "dedup_jaccard_pairs",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, source, {SHINGLES} AS sh FROM tk WHERE len(toks) >= 3)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))) + 1e-9, 6) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) > 0
    ORDER BY jaccard DESC, id_a, id_b
    LIMIT 20
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top near-dup candidate pairs by 3-gram-shingle Jaccard, blocked by
    source (candidate generation never crosses blocks — the scale pattern;
    at 100 TB the block key is an LSH band instead of a metadata column)."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, block_col="source", n=3, threshold=0.0)
    return (
        pairs.where(F.col("jaccard") > 0)
        .select("id_a", "id_b", F.round(F.col("jaccard") + 1e-9, 6).alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(20)
    )


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, source, {SHINGLES} AS sh FROM tk WHERE len(toks) >= 3)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / least(len(a.sh), len(b.sh)) + 1e-9, 6) AS containment
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) > 0
    ORDER BY containment DESC, id_a, id_b
    LIMIT 20
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (operators/dedup.py:containment_pairs):
    shared shingles over the SMALLER set — the quote/subset detector. A
    short doc fully quoted inside a long one scores 1.0 here but near 0 on
    Jaccard, so excerpt/boilerplate-wrapper dedup keys on this. Same
    posting-list co-occurrence plan as dedup_jaccard_pairs (shuffle keyed
    by shingle, blocked by source), only the scoring expression differs."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup.containment_pairs(d, block_col="source", n=3, threshold=0.0)
    return (
        pairs.where(F.col("containment") > 0)
        .select(
            "id_a", "id_b", F.round(F.col("containment") + 1e-9, 6).alias("containment")
        )
        .orderBy(F.col("containment").desc(), "id_a", "id_b")
        .limit(20)
    )


@query(
    "text_oov_rate",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS w FROM tk),
    c AS (SELECT w, count(*) AS freq FROM tok GROUP BY w),
    v AS (SELECT w FROM c ORDER BY freq DESC, w LIMIT 1000),
    hits AS (SELECT doc_id, count(*) AS n_in FROM tok
             WHERE w IN (SELECT w FROM v) GROUP BY doc_id),
    tot AS (SELECT doc_id, len(toks) AS n_tokens FROM tk WHERE len(toks) > 0)
    SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(t.n_tokens - coalesce(h.n_in, 0) AS BIGINT) AS n_oov,
           {rz_sql('(t.n_tokens - coalesce(h.n_in, 0)) / CAST(t.n_tokens AS DOUBLE)')} AS oov_rate
    FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
    ORDER BY t.doc_id
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage signal: per-doc fraction of tokens outside the
    corpus top-1000 vocabulary (rank by frequency desc, token asc — ties
    deterministic). High OOV rate flags token-soup noise, foreign-script
    leakage, and docs a fixed tokenizer vocabulary would shred. The vocab
    cut compiles to TakeOrderedAndProject (per-partition heaps — the
    vocabulary is never globally sorted); the membership check is a
    token-keyed semi-join with NO broadcast hint (corpus-derived model —
    AQE decides, per the de-hinting rule the plan tests pin)."""
    tk = tok_docs(spark, sf_dir)
    c = (
        tk.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = c.orderBy(F.desc("freq"), F.asc("w")).limit(1000).select("w")
    tok = tk.select("doc_id", F.explode("toks").alias("w"))
    hits = tok.join(vocab, "w", "left_semi").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_in")
    )
    tot = tk.where(F.size("toks") > 0).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    n_oov = F.col("n_tokens") - F.coalesce(F.col("n_in"), F.lit(0))
    return (
        tot.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            n_oov.cast("long").alias("n_oov"),
            rz6(n_oov / F.col("n_tokens").cast("double")).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_keep_list",
    oracle=f"""
    WITH fp AS (SELECT doc_id, md5(array_to_string({TOKS}, ' ')) AS fp FROM documents)
    SELECT doc_id,
           (doc_id = min(doc_id) OVER (PARTITION BY fp)) AS keep,
           CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS group_size
    FROM fp ORDER BY doc_id
    """,
)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable output of exact dedup: per document, keep/drop verdict
    (canonical = min doc_id in its fingerprint group) + group size — the
    frame a pipeline anti-joins against before training. One shuffle keyed
    by fingerprint; text never shuffles."""
    fp = tok_docs(spark, sf_dir).select(
        "doc_id", A.fingerprint_of(F.col("toks")).alias("fp")
    )
    w = Window.partitionBy("fp")
    return (
        fp.select(
            "doc_id",
            (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
            F.count(F.lit(1)).over(w).alias("group_size"),
        )
        .orderBy("doc_id")
    )


@query("dedup_minhash_lsh", oracle=None)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (approximate → rows-only check;
    pytest pins semantics on a constructed corpus with known duplicates)."""
    d = t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, jaccard_threshold=0.3).orderBy("id_a", "id_b")


@query("dedup_simhash", oracle=None)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures + banded Hamming candidate pairs (rows-only).

    d=7 with band_bits=8 (8 bands) satisfies the pigeonhole precondition
    d < n_bands — the previous d=10 over the 4-band default silently missed
    pairs differing in all 4 bands. 8-bit bands keep bucket cardinality at
    256 per band, the scale-sane recall/candidate-volume point (smaller
    bands recall a larger d but explode each bucket)."""
    d = t(spark, sf_dir, "documents")
    sig = dedup.simhash(d)
    return dedup.hamming_pairs(sig, max_distance=7, band_bits=8).orderBy("id_a", "id_b")


@query(
    "fts_search_and",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id FROM tk
    WHERE list_contains(toks, 'spark') AND list_contains(toks, 'join')
      AND list_contains(toks, 'window')
    ORDER BY doc_id
    """,
)
def fts_search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_tsquery 'spark & join & window' via the inverted index — the
    terms' postings (IN filter) + grouped distinct-term count (replaces the
    reference's GIN index, init_tables.py:56-57)."""
    postings, _ = fts_index(spark, sf_dir)
    return fts.search_all(postings, ["spark", "join", "window"]).orderBy("doc_id")


@query(
    "fts_search_or",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id FROM tk
    WHERE list_contains(toks, 'vector') OR list_contains(toks, 'stream')
    ORDER BY doc_id
    """,
)
def fts_search_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_tsquery 'vector | stream' — distinct doc_ids from the postings."""
    postings, _ = fts_index(spark, sf_dir)
    return fts.search_any(postings, ["vector", "stream"]).orderBy("doc_id")


@query(
    "fts_phrase",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id FROM tk
    WHERE (' ' || array_to_string(toks, ' ') || ' ') LIKE '% fast sort %'
    ORDER BY doc_id
    """,
)
def fts_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search 'fast <-> sort' via position-list intersection in
    the inverted index (the oracle checks the same semantics by substring
    over the canonical token stream)."""
    postings, _ = fts_index(spark, sf_dir)
    return fts.search_phrase(postings, ["fast", "sort"]).orderBy("doc_id")


@query(
    "fts_top_df_tokens",
    oracle=f"""
    WITH tk AS (SELECT doc_id, list_distinct({TOKS}) AS toks FROM documents)
    SELECT token, CAST(count(*) AS BIGINT) AS df
    FROM (SELECT doc_id, unnest(toks) AS token FROM tk)
    GROUP BY token ORDER BY df DESC, token LIMIT 10
    """,
)
def fts_top_df_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency ranking straight off the posting table (the
    memoized index's precomputed df stats — zero aggregation here)."""
    _, stats = fts_index(spark, sf_dir)
    return stats.df.orderBy(F.col("df").desc(), "token").limit(10)


@query(
    "emb_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 6) AS cosine_sim
      FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine_sim DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored)
    WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 per query vector (queries broadcast;
    JVM-side zip_with/aggregate dot products; per-query ranking window)."""
    e = t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(e, e.where(F.col("vec_id") < 5), k=5).orderBy("query_id", "rank")


@query("emb_cosine_topk_lsh", oracle=None)
def emb_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH: one Arrow matmul
    signature pass, bucket equi-join candidates, exact rerank
    (rows-only; pytest checks recall vs the exact path)."""
    e = t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_lsh(e, e.where(F.col("vec_id") < 5), k=5).orderBy("query_id", "rank")


@query(
    "emb_cosine_neardup",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id AND a.label = b.label
    WHERE list_cosine_similarity(a.v, b.v) > 0.3
    ORDER BY id_a, id_b
    """,
)
def emb_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above 0.3, blocked by label
    (same blocking discipline as dedup_jaccard_pairs; 0.3 keeps the gate
    discriminative — the synthetic corpus tops out near cos 0.5)."""
    # factored cosine (similarity.with_vec_norm): cast + norm once per
    # row, only the dot fold in the label-quadratic pair stage
    en = similarity.with_vec_norm(
        t(spark, sf_dir, "embeddings"), "embedding", vec_out="_vd", norm_out="_nrm"
    )
    a = en.select(
        F.col("vec_id").alias("id_a"), F.col("_vd").alias("va"),
        F.col("_nrm").alias("na"), "label",
    )
    b = en.select(
        F.col("vec_id").alias("id_b"), F.col("_vd").alias("vb"),
        F.col("_nrm").alias("nb"), "label",
    )
    sim = similarity.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "label")
        .where(F.col("id_a") < F.col("id_b"))
        .where(sim > 0.3)
        .select("id_a", "id_b", F.round(sim, 6).alias("cosine_sim"))
        .orderBy("id_a", "id_b")
    )


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents ORDER BY media_id
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BinaryType column plumbing: documents as opaque utf-8 payloads with
    byte-length metadata (operators/multimodal.py; SURVEY §2.11)."""
    from sec_dl_spark.operators.multimodal import docs_as_media

    d = t(spark, sf_dir, "documents")
    m = docs_as_media(d)
    return m.select("media_id", F.length("content").cast("long").alias("n_bytes")).orderBy(
        "media_id"
    )


@query(
    "multimodal_audio_chunks",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS dur
               FROM documents)
    SELECT media_id,
           CAST(len(range(0, dur, 500)) AS BIGINT) AS n_chunks,
           CAST(list_sum(list_transform(range(0, dur, 500),
                                        s -> least(1000, dur - s))) AS BIGINT)
             AS total_bytes
    FROM m WHERE dur > 0 ORDER BY media_id
    """,
)
def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio window/hop framing over opaque binary payloads (the audio twin
    of doc_chunks; operators/multimodal.py:chunk_audio, mapInPandas Arrow
    batches) — verified in closed form: chunk count and byte coverage per
    media derive exactly from payload length, window=1000, hop=500."""
    from sec_dl_spark.operators import multimodal as mm

    d = spread(t(spark, sf_dir, "documents"))
    chunks = mm.chunk_audio(mm.docs_as_media(d), window_ms=1000, hop_ms=500)
    return (
        chunks.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.length("chunk")).alias("total_bytes"),
        )
        .orderBy("media_id")
    )


@query(
    "multimodal_keyframes",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id, text FROM documents
               WHERE length(text) > 0),
    f AS (SELECT media_id,
                 unnest(range(len(range(0, length(text), 100)))) AS frame_idx,
                 unnest(range(0, length(text), 100)) AS frame_ms,
                 unnest(list_transform(range(0, length(text), 100),
                        s -> list_avg(list_transform(
                               range(1, least(s + 100, length(text)) - s + 1),
                               k -> ord(text[s + k]))))) AS sig
          FROM m),
    d AS (SELECT media_id, frame_idx, frame_ms,
                 abs(sig - lag(sig) OVER (PARTITION BY media_id
                                          ORDER BY frame_idx)) AS delta
          FROM f)
    SELECT media_id, frame_idx, frame_ms FROM d
    WHERE delta IS NULL OR delta > 1.0
    ORDER BY media_id, frame_idx
    """,
)
def multimodal_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change keyframe selection over binary payloads
    (operators/multimodal.py:select_keyframes): frames emit only where
    the mean-byte signal jumps, so downstream encode/caption compute goes
    to distinct scenes. Oracled in closed form — the fixture corpus is
    pure ASCII, so DuckDB's per-char code points equal the UTF-8 bytes
    the operator averages. Frame-selection output only (no float column;
    the threshold compare is exact in both engines, rounding is not)."""
    from sec_dl_spark.operators.multimodal import docs_as_media, select_keyframes

    d = spread(t(spark, sf_dir, "documents"))
    return (
        select_keyframes(docs_as_media(d), frame_ms=100, threshold=1.0)
        .select("media_id", "frame_idx", "frame_ms")
        .orderBy("media_id", "frame_idx")
    )


@query("multimodal_features", oracle=None)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary payloads (deterministic
    fake encoder — the real codec import is the only stubbed piece).

    Projects the feature vector to scalar columns (count, rounded L2
    norm, digest of the first elements) — the driver's canonicalizer
    sorts pandas frames and cannot hash raw ARRAY columns, the same
    convention every other array-producing query follows (e.g.
    agg_collect_list's concat_ws)."""
    from sec_dl_spark.operators.multimodal import docs_as_media, extract_features

    d = t(spark, sf_dir, "documents")
    feats = extract_features(docs_as_media(d))
    norm = F.aggregate(
        "features", F.lit(0.0), lambda acc, x: acc + x * x, lambda acc: F.sqrt(acc)
    )
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.size("features").cast("int").alias("n_features"),
        F.round(norm, 4).alias("feat_norm"),
        F.concat_ws(
            ",", F.transform(F.slice("features", 1, 4), lambda x: F.format_number(x, 4))
        ).alias("feat_head"),
    ).orderBy("media_id")


@query("emb_cosine_topk_ivf", oracle=None)
def emb_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via an IVF index (k-means cells + n_probe search;
    rows-only — pytest checks recall vs the exact path)."""
    e = t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_ivf(e, e.where(F.col("vec_id") < 5), k=5).orderBy(
        "query_id", "rank"
    )


@query(
    "doc_chunks",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    ix AS (SELECT doc_id, toks,
                  unnest(generate_series(1, CAST(ceil(len(toks) / 50.0) AS BIGINT))) AS i
           FROM tk WHERE len(toks) > 0)
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_idx,
           array_to_string(toks[(i-1)*50+1:i*50], ' ') AS chunk_text
    FROM ix
    ORDER BY doc_id, chunk_idx
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document → fixed-size token chunks (UDTF-style expansion, SURVEY
    §2.10): the training-data step that splits long documents into model-
    window-sized pieces. posexplode over a transform of token slices — one
    generator, no UDF; chunking is per-row so it pipelines in the scan
    stage."""
    tk = tok_docs(spark, sf_dir).select("doc_id", "toks").where(F.size("toks") > 0)
    n_chunks = F.ceil(F.size("toks") / F.lit(50.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(F.col("toks"), i * 50 + 1, 50), " "),
    )
    return (
        tk.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
        .select("doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"), "chunk_text")
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "doc_chunks_overlap",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    ix AS (SELECT doc_id, toks,
                  unnest(generate_series(1, CAST(ceil(len(toks) / 25.0) AS BIGINT))) AS i
           FROM tk WHERE len(toks) > 0)
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_idx,
           CAST((i - 1) * 25 AS BIGINT) AS start_tok,
           array_to_string(toks[(i-1)*25+1:(i-1)*25+50], ' ') AS chunk_text
    FROM ix
    ORDER BY doc_id, chunk_idx
    """,
)
def doc_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context windows (size 50, stride 25): the RAG/pretraining
    chunker that keeps a half-window overlap so no span is ever split across
    a hard boundary. Same generator shape as doc_chunks — a transform over
    window starts + posexplode, all codegen, chunking pipelines inside the
    scan stage. Windows start at every stride multiple below the doc length,
    so trailing windows shorten and every token appears in ≤ 2 windows."""
    tk = tok_docs(spark, sf_dir).select("doc_id", "toks").where(F.size("toks") > 0)
    n_windows = F.ceil(F.size("toks") / F.lit(25.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_windows - 1),
        lambda i: F.array_join(F.slice(F.col("toks"), i * 25 + 1, 50), " "),
    )
    return (
        tk.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx") * 25).cast("long").alias("start_tok"),
            "chunk_text",
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "corpus_shard_assign",
    oracle=f"""
    WITH tk AS (SELECT doc_id, len({TOKS}) AS n_tokens FROM documents),
    r AS (SELECT doc_id, n_tokens,
                 row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rk
          FROM tk)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8
                     ELSE 7 - (rk % 8) END AS INTEGER) AS shard
    FROM r ORDER BY doc_id
    """,
)
def corpus_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced output sharding (operators/grouped.py:assign_shards):
    rank docs by descending token count, deal boustrophedon across 8 shards
    so shard token totals converge (LPT-style greedy). The rank comes from
    operators/relational.py:global_rank — range partition + per-partition
    offsets, never a single-partition global window — so the same plan
    holds when the corpus is 10^11 docs. Oracle is the plain SQL
    row_number twin: the distributed rank must equal it exactly."""
    from sec_dl_spark.operators.grouped import assign_shards

    tk = tok_docs(spark, sf_dir).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    return (
        assign_shards(tk, n_shards=8, weight_col="n_tokens", order_cols=["doc_id"])
        .select("doc_id", "n_tokens", "shard")
        .orderBy("doc_id")
    )


@query(
    "doc_token_spans_udtf",
    oracle="""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents WHERE doc_id < 100),
    ix AS (SELECT doc_id, generate_subscripts(toks, 1) AS i, unnest(toks) AS token
           FROM tk),
    off AS (SELECT doc_id, i, token,
                   sum(length(token)) OVER (
                     PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
            FROM ix)
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS tok_idx, token,
           CAST(coalesce(prev, 0) + (i - 1) AS BIGINT) AS start_char,
           CAST(coalesce(prev, 0) + (i - 1) + length(token) AS BIGINT) AS end_char
    FROM off ORDER BY doc_id, tok_idx
    """,
)
def doc_token_spans_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token spans through a REAL Python UDTF (§2.10 — the ``@udtf`` class
    API, invoked via LATERAL): each document expands to one row per token
    with character offsets (functions/udtf.py:token_spans_udtf — the
    annotation-pipeline tokenizer). The oracle recomputes offsets in SQL
    from the fixture's single-space-joined token layout (verified at all
    SFs), so the UDTF's Arrow plumbing itself is what's being checked.
    Bounded to doc_id < 100 to keep the driver compare small (~12k rows)."""
    from sec_dl_spark.functions.udtf import token_spans_udtf

    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    spark.udtf.register("token_spans", token_spans_udtf())
    t(spark, sf_dir, "documents").select("doc_id", "text").where(
        F.col("doc_id") < 100
    ).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.tok_idx, s.token, s.start_char, s.end_char
        FROM _udtf_docs d, LATERAL token_spans(d.text) s
        ORDER BY doc_id, tok_idx
        """
    )


@query("text_compress_ratio", oracle=None)
def text_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressibility quality signal (zlib level 6, Arrow-batched —
    functions/analysis.py:compressed_len): boilerplate/repetition compresses
    far below prose, binary junk barely compresses at all. No SQL analog
    (rows-only check); pytest pins parity against direct zlib calls and the
    repetitive<prose<random ordering. Embarrassingly parallel: one Arrow
    pass, no shuffle."""
    from sec_dl_spark.functions.analysis import compressed_len

    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
    zlen = compressed_len()
    return (
        d.select(
            "doc_id",
            F.length(F.col("text")).cast("long").alias("n_chars"),
            zlen(F.col("text")).alias("z_bytes"),
        )
        .select(
            "doc_id",
            "n_chars",
            "z_bytes",
            rz(F.col("z_bytes") / F.col("n_chars")).alias("compress_ratio"),
        )
        .orderBy("doc_id")
    )


@query(
    "fts_ranked_tfidf",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    n AS (SELECT count(*) AS n_docs FROM tk),
    hits AS (
      SELECT doc_id, t.term,
             len(list_filter(toks, x -> x = t.term)) AS tf
      FROM tk, (SELECT unnest(['spark', 'sort', 'vector']) AS term) t
      WHERE list_contains(toks, t.term)),
    dfs AS (SELECT term, count(*) AS df FROM hits GROUP BY term),
    scored AS (
      SELECT h.doc_id, round(sum(h.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df)), 6) AS score
      FROM hits h, dfs d, n WHERE h.term = d.term GROUP BY h.doc_id)
    SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 10 ORDER BY rank
    """,
)
def fts_ranked_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF ranked search (ts_rank analog) off the inverted index."""
    postings, stats = fts_index(spark, sf_dir)
    return fts.search_ranked(
        postings, ["spark", "sort", "vector"], k=10, stats=stats
    ).orderBy("rank")


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE tk AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, source, {SHINGLES} AS sh FROM tk WHERE len(toks) >= 3),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) > 0
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
    e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
    reach(src, dst) AS (
      SELECT src, dst FROM e
      UNION
      SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src)
    SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id
    FROM comp ORDER BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: jaccard candidate pairs ≥ 0.6 → connected
    components via iterative min-label propagation + pointer jumping
    (operators/dedup.py:duplicate_clusters). The oracle is deliberately a
    DIFFERENT algorithm — a recursive-CTE transitive closure with
    component id = least reachable node — so the check proves the
    fixed point, not a transliteration (closure is O(n·component), fine
    for the oracle's scale; the engine's pointer-jumping path is the one
    that survives 100 TB). Returns one row per clustered doc with its
    component id."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, block_col="source", n=3, threshold=0.6)
    return dedup.duplicate_clusters(pairs).orderBy("doc_id")


@query(
    "text_contamination",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, source, {SHINGLES} AS sh FROM tk),
    eval_g AS (SELECT doc_id, unnest(sh) AS gram FROM sh WHERE source = 'src0'),
    train_g AS (SELECT DISTINCT unnest(sh) AS gram FROM sh WHERE source <> 'src0'),
    totals AS (SELECT doc_id, count(*) AS n_grams FROM eval_g GROUP BY doc_id),
    hits AS (SELECT e.doc_id, count(*) AS n_hits FROM eval_g e
             WHERE EXISTS (SELECT 1 FROM train_g t WHERE t.gram = e.gram)
             GROUP BY e.doc_id)
    SELECT totals.doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
           round(CAST(coalesce(n_hits, 0) AS DOUBLE) / n_grams + 1e-9, 5) AS contamination
    FROM totals LEFT JOIN hits ON totals.doc_id = hits.doc_id
    ORDER BY 1
    """,
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: treating source='src0' docs as the
    eval set, the fraction of each eval doc's distinct 3-grams that appear
    in the rest of the corpus (the train side)."""
    d = t(spark, sf_dir, "documents")
    eval_docs = d.where(F.col("source") == "src0")
    train_docs = d.where(F.col("source") != "src0")
    return A.contamination_ngrams(eval_docs, train_docs, n=3).orderBy("doc_id")


@query("sample_stratified", oracle=None)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-class) sampling via sampleBy — training-data class
    balancing; seeded → rows-only check, pytest bounds the per-stratum
    fractions."""
    d = t(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.2}
    s = d.sampleBy("lang", fractions=fractions, seed=42)
    return s.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).orderBy("lang")


@query(
    "fts_search_not",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id FROM tk
    WHERE list_contains(toks, 'spark') AND list_contains(toks, 'join')
      AND NOT list_contains(toks, 'window')
    ORDER BY doc_id
    """,
)
def fts_search_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_tsquery 'spark & join & !window' — AND semi-join minus exclusion
    anti-join, all off the posting table."""
    postings, _ = fts_index(spark, sf_dir)
    return fts.search_and_not(postings, ["spark", "join"], ["window"]).orderBy("doc_id")


@query(
    "fts_ranked_bm25",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    hits AS (
      SELECT doc_id, t.term, len(list_filter(toks, x -> x = t.term)) AS tf
      FROM tk, (SELECT unnest(['spark', 'sort', 'vector']) AS term) t
      WHERE list_contains(toks, t.term)),
    dfs AS (SELECT term, count(*) AS df FROM hits GROUP BY term),
    scored AS (
      SELECT h.doc_id,
             round(sum(
               ln((stats.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (h.tf * 2.2) / (h.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
             ), 6) AS score
      FROM hits h, dfs d, dl, stats
      WHERE h.term = d.term AND h.doc_id = dl.doc_id
      GROUP BY h.doc_id)
    SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 10 ORDER BY rank
    """,
)
def fts_ranked_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked search (k1=1.2, b=0.75) off the inverted index —
    length-normalized relevance, the standard retrieval ranking."""
    postings, stats = fts_index(spark, sf_dir)
    return fts.search_bm25(
        postings, ["spark", "sort", "vector"], k=10, stats=stats
    ).orderBy("rank")


@query(
    "fts_proximity_ranked",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    hits AS (
      SELECT doc_id, t.term, len(list_filter(toks, x -> x = t.term)) AS tf
      FROM tk, (SELECT unnest(['fast', 'sort']) AS term) t
      WHERE list_contains(toks, t.term)),
    dfs AS (SELECT term, count(*) AS df FROM hits GROUP BY term),
    bm25 AS (
      SELECT h.doc_id,
             sum(
               ln((stats.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (h.tf * 2.2) / (h.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
             ) AS bm25
      FROM hits h, dfs d, dl, stats
      WHERE h.term = d.term AND h.doc_id = dl.doc_id
      GROUP BY h.doc_id),
    tp AS (SELECT doc_id, unnest(toks) AS token,
                  unnest(range(len(toks))) AS pos FROM tk),
    cov AS (
      SELECT doc_id, pos,
             max(CASE WHEN token = 'fast' THEN pos END) OVER w AS l0,
             max(CASE WHEN token = 'sort' THEN pos END) OVER w AS l1
      FROM tp WHERE token IN ('fast', 'sort')
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    minw AS (
      SELECT doc_id, min(pos - least(l0, l1) + 1) AS min_cover
      FROM cov WHERE l0 IS NOT NULL AND l1 IS NOT NULL GROUP BY doc_id)
    SELECT b.doc_id, round(b.bm25 + 1.0 / m.min_cover, 6) AS score,
           CAST(row_number() OVER (ORDER BY round(b.bm25 + 1.0 / m.min_cover, 6) DESC,
                                   b.doc_id) AS BIGINT) AS rank
    FROM bm25 b JOIN minw m ON b.doc_id = m.doc_id
    QUALIFY rank <= 10 ORDER BY rank
    """,
)
def fts_proximity_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity-boosted BM25 (ts_rank_cd's cover-density idea): tightest
    window containing every query term, found with one running-max window
    pass over the query terms' positions — completes the reference's
    ts_rank_cd ranking surface (init_tables.py:56-57) JVM-side."""
    postings, stats = fts_index(spark, sf_dir)
    return fts.search_proximity_ranked(
        postings, ["fast", "sort"], k=10, stats=stats
    ).orderBy("rank")


@query(
    "fts_tsquery_prefix",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id FROM tk
    WHERE len(list_filter(toks, x -> x LIKE 'sp%')) > 0
      AND list_contains(toks, 'join')
    ORDER BY doc_id
    """,
)
def fts_tsquery_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_tsquery 'sp:* & join' — PG's prefix-match operator evaluated as a
    token range scan over the posting table composed with the AND
    semi-join (tsquery grammar parity: term, prefix, phrase, &, |, !)."""
    postings, _ = fts_index(spark, sf_dir)
    return fts.search_query(postings, "sp:* & join").orderBy("doc_id")


@query(
    "corpus_filter_pipeline",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    fp AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp FROM tk),
    keepd AS (SELECT doc_id, (doc_id = min(doc_id) OVER (PARTITION BY fp)) AS keep_dedup
              FROM fp),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM tk),
    tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token),
    st AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS top_tok
           FROM tc GROUP BY doc_id)
    SELECT k.doc_id, k.keep_dedup,
           (st.n_tokens >= 20) AS keep_len,
           (st.top_tok * 1.0 / st.n_tokens <= 0.15) AS keep_rep,
           (k.keep_dedup AND st.n_tokens >= 20
            AND st.top_tok * 1.0 / st.n_tokens <= 0.15) AS kept
    FROM keepd k JOIN st ON k.doc_id = st.doc_id
    ORDER BY k.doc_id
    """,
)
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pre-training corpus filter — the composition a real
    pipeline materializes before anything trains: exact-dedup canonical
    verdict ∧ length floor ∧ repetition ceiling, with per-rule flags so
    drops are attributable. Tokenizes ONCE; each rule reads the token
    column; one shuffle per aggregation stage, text never shuffles."""
    tk = tok_docs(spark, sf_dir).select("doc_id", "toks")
    fp = tk.select("doc_id", A.fingerprint_of(F.col("toks")).alias("fp"))
    keepd = fp.select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("fp"))).alias(
            "keep_dedup"
        ),
    )
    tok = tk.select("doc_id", F.explode("toks").alias("token"))
    tc = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    st = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"), F.max("c").alias("top_tok")
    )
    keep_len = F.col("n_tokens") >= 20
    keep_rep = F.col("top_tok") / F.col("n_tokens") <= 0.15
    return (
        keepd.join(st, "doc_id")
        .select(
            "doc_id",
            "keep_dedup",
            keep_len.alias("keep_len"),
            keep_rep.alias("keep_rep"),
            (F.col("keep_dedup") & keep_len & keep_rep).alias("kept"),
        )
        .orderBy("doc_id")
    )


@query(
    "fts_tsquery_expr",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id FROM tk
    WHERE list_contains(toks, 'spark')
      AND (list_contains(toks, 'join') OR NOT list_contains(toks, 'vector'))
    ORDER BY doc_id
    """,
)
def fts_tsquery_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full to_tsquery expression surface: parse 'spark & (join | !vector)'
    and evaluate it compositionally over the inverted index (the
    reference's actual search language, init_tables.py:56-57)."""
    postings, _ = fts_index(spark, sf_dir)
    return fts.search_query(postings, "spark & (join | !vector)").orderBy("doc_id")


@query(
    "multimodal_dedup",
    oracle="""
    WITH fp AS (SELECT doc_id, md5(text) AS content_md5 FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_payloads,
           CAST(count(DISTINCT content_md5) AS BIGINT) AS n_unique,
           CAST(count(*) - count(DISTINCT content_md5) AS BIGINT) AS n_dup_payloads
    FROM fp
    """,
)
def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over opaque binary payloads (byte-level md5 — the
    modality-agnostic dedup every multimodal lake needs; works unchanged
    for images/audio since it never interprets the bytes)."""
    from sec_dl_spark.operators.multimodal import docs_as_media

    m = docs_as_media(t(spark, sf_dir, "documents"))
    fp = m.select(F.md5(F.col("content")).alias("content_md5"))
    return fp.agg(
        F.count(F.lit(1)).alias("n_payloads"),
        F.count_distinct("content_md5").alias("n_unique"),
        (F.count(F.lit(1)) - F.count_distinct("content_md5")).alias("n_dup_payloads"),
    )


@query(
    "crossmodal_dup_agreement",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id AND a.label = b.label
      WHERE list_cosine_similarity(a.v, b.v) > 0.3),
    tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {SHINGLES} AS s FROM tk),
    j AS (
      SELECT c.id_a, c.id_b, c.cosine_sim,
             round(CASE WHEN len(list_distinct(list_concat(sa.s, sb.s))) > 0
                   THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                        / len(list_distinct(list_concat(sa.s, sb.s)))
                   ELSE 0.0 END + 1e-9, 6) AS jaccard
      FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
                  JOIN sh sb ON sb.doc_id = c.id_b)
    SELECT id_a, id_b, cosine_sim, jaccard FROM j ORDER BY id_a, id_b
    """,
)
def crossmodal_dup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup agreement: embedding-cosine candidate pairs
    (vec_id ≡ doc_id in the fixtures) annotated with the same pair's
    textual 3-gram jaccard — the verify-candidates pattern: expensive exact
    text similarity runs ONLY on the vector-selected candidate set."""
    # factored cosine: same float-identical factoring as emb_cosine_neardup
    en = similarity.with_vec_norm(
        t(spark, sf_dir, "embeddings"), "embedding", vec_out="_vd", norm_out="_nrm"
    )
    a = en.select(
        F.col("vec_id").alias("id_a"), F.col("_vd").alias("va"),
        F.col("_nrm").alias("na"), "label",
    )
    b = en.select(
        F.col("vec_id").alias("id_b"), F.col("_vd").alias("vb"),
        F.col("_nrm").alias("nb"), "label",
    )
    sim = similarity.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    cand = (
        a.join(b, "label")
        .where(F.col("id_a") < F.col("id_b"))
        .where(sim > 0.3)
        .select("id_a", "id_b", F.round(sim, 6).alias("cosine_sim"))
    )
    sh = tok_docs(spark, sf_dir).select(
        "doc_id", A.shingles_of(F.col("toks"), 3).alias("s")
    )
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    joined = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn("_union", F.size("sa") + F.size("sb") - F.col("_inter"))
    )
    jac = F.when(
        F.col("_union") > 0, F.col("_inter").cast("double") / F.col("_union")
    ).otherwise(F.lit(0.0))
    return joined.select(
        "id_a", "id_b", "cosine_sim", F.round(jac + 1e-9, 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


@query(
    "fts_tsquery_phrase",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id FROM tk
    WHERE (' ' || array_to_string(toks, ' ') || ' ') LIKE '% fast sort %'
      AND NOT list_contains(toks, 'vector')
    ORDER BY doc_id
    """,
)
def fts_tsquery_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed tsquery with FOLLOWED BY: 'fast <-> sort & !vector' — phrase
    position intersection composed with AND/NOT set ops, all parsed from
    the query string."""
    postings, _ = fts_index(spark, sf_dir)
    return fts.search_query(postings, "fast <-> sort & !vector").orderBy("doc_id")


@query(
    "text_tfidf_cosine",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
    post AS (SELECT doc_id, source, gram AS token, count(*) AS tf
             FROM (SELECT doc_id, source, unnest(toks) AS gram FROM tk)
             GROUP BY doc_id, source, gram),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM post),
    dfs AS (SELECT token, count(*) AS df FROM post GROUP BY token),
    w AS (SELECT p.doc_id, p.source, p.token,
                 p.tf * ln(n.n_docs / d.df) AS w
          FROM post p, dfs d, n WHERE p.token = d.token),
    norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
    dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
             FROM w a JOIN w b ON a.token = b.token AND a.source = b.source
                               AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b,
           round(dot / (na.nrm * nb.nrm) + 1e-9, 6) AS cosine_sim
    FROM dots JOIN norms na ON na.doc_id = id_a JOIN norms nb ON nb.doc_id = id_b
    WHERE dot / (na.nrm * nb.nrm) >= 0.3
    ORDER BY cosine_sim DESC, id_a, id_b LIMIT 25
    """,
)
def text_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity between documents, computed entirely
    off the inverted index (source-blocked candidates; pair space driven by
    term co-occurrence, never |corpus|²). Top-25 most similar pairs."""
    d = t(spark, sf_dir, "documents")
    postings, stats = fts_index(spark, sf_dir)
    pairs = fts.tfidf_cosine_pairs(
        postings,
        docs_meta=d.select("doc_id", "source"),
        block_col="source",
        threshold=0.3,
        stats=stats,
    )
    return (
        pairs.select(
            "id_a", "id_b", F.round(F.col("cosine_sim") + 1e-9, 6).alias("cosine_sim")
        )
        .orderBy(F.col("cosine_sim").desc(), "id_a", "id_b")
        .limit(25)
    )


@query(
    "corpus_quality_filter",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source, text, {TOKS} AS toks FROM documents),
    q AS (SELECT doc_id, source,
           round(0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
               + 0.25 * (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text))
               + 0.25 * (1.0 - CAST(len(list_filter(toks, x -> list_contains(['a','the','and','of','to','in','is','it'], x))) AS DOUBLE) / len(toks))
               + 1e-8, 4) AS quality
          FROM tk WHERE len(toks) > 0 AND length(text) > 0),
    m AS (SELECT source, quantile_cont(quality, 0.5) AS med FROM q GROUP BY source)
    SELECT q.source, CAST(count(*) AS BIGINT) AS n_kept,
           round(avg(q.quality) + 1e-8, 4) AS avg_quality
    FROM q JOIN m ON q.source = m.source
    WHERE q.quality > m.med
    GROUP BY q.source ORDER BY q.source
    """,
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based corpus filtering (the data-mixing step): keep docs
    strictly above their source's median quality; per-source kept counts
    and mean quality. Median via exact percentile over a window-free
    grouped agg, then a broadcast join back."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    tk = d.select("doc_id", "source", "text", tokenize(F.col("text")).alias("toks")).where(
        (F.size("toks") > 0) & (F.length("text") > 0)
    )
    q = tk.select(
        "doc_id",
        "source",
        F.round(A.quality_score_of(F.col("toks"), F.col("text")) + 1e-8, 4).alias("quality"),
    )
    med = q.groupBy("source").agg(F.expr("percentile(quality, 0.5)").alias("med"))
    return (
        q.join(F.broadcast(med), "source")
        .where(F.col("quality") > F.col("med"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.avg("quality") + 1e-8, 4).alias("avg_quality"),
        )
        .orderBy("source")
    )


@query("corpus_pack_sequences", oracle=None)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget sequence packing per source (stateful sequential
    scan → applyInPandas; rows-only — pytest pins budget/order/partition
    invariants). Returns per-sequence fill statistics."""
    from sec_dl_spark.operators.grouped import pack_sequences

    d = spread(t(spark, sf_dir, "documents").select("source", "doc_id", "text"))
    counts = d.select(
        "source", "doc_id", F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens")
    )
    packed = pack_sequences(counts, budget=512)
    return (
        packed.groupBy("source", "seq_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("seq_tokens"))
        .orderBy("source", "seq_id")
    )


@query(
    "text_extract_matches",
    oracle=f"""
    WITH m AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+er')) AS match
               FROM documents)
    SELECT match, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM m GROUP BY match
    ORDER BY n DESC, match LIMIT 20
    """,
)
def text_extract_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-extraction table (the entity/mention-extraction primitive):
    every regex match becomes a row (regexp_extract_all + explode), then
    frequency-ranked — same shape as ticker/URL/citation extraction over
    filings. The pattern has nonzero fixture support (the synthetic corpus
    contains no digit- or '-ing'-bearing tokens; '-er' substrings exist) —
    r1's '[a-z0-9]+ing' matched 0 rows at every SF, a vacuous check."""
    d = spread(t(spark, sf_dir, "documents"))
    m = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z]+er"), 0)
        ).alias("match"),
    )
    return (
        m.groupBy("match")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n").desc(), "match")
        .limit(20)
    )


# DuckDB mirror of operators/dedup.py:winnow_fingerprints — same k-gram
# construction, same polynomial hash (tokens are [a-z0-9], so ord()/ascii()
# agree), same packed (hash, pos) min-window selection. k=3, window=4.
WINNOW_SQL = f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             unnest(range(len(toks) - 2)) AS pos,
             unnest(list_transform(range(len(toks) - 2),
                    i -> array_to_string(toks[i+1:i+3], ' '))) AS gram
      FROM tk WHERE len(toks) >= 3
    ),
    keyed AS (
      SELECT doc_id, pos,
             list_reduce(list_transform(range(1, length(gram)+1),
                                        j -> CAST(ord(gram[j]) AS BIGINT)),
                         (acc, c) -> (acc * 257 + c) % 2147483647)
               * 4294967296 + pos AS key
      FROM g
    ),
    sel AS (
      SELECT DISTINCT doc_id,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS skey
      FROM keyed
    )
    SELECT doc_id, skey // 4294967296 AS fp_hash, CAST(skey % 4294967296 AS BIGINT) AS pos
    FROM sel
"""


@query(
    "text_winnow_fingerprints",
    oracle=WINNOW_SQL + " ORDER BY doc_id, pos",
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (MOSS, Schleimer et al. SIGMOD'03):
    min polynomial k-gram hash per sliding window — the local-fingerprint
    step for partial-overlap/quote detection, which whole-document MinHash
    cannot see. One posexplode + codegen hash + one windowed min per doc
    (operators/dedup.py:winnow_fingerprints)."""
    from sec_dl_spark.operators.dedup import winnow_fingerprints

    d = t(spark, sf_dir, "documents")
    return winnow_fingerprints(d).orderBy("doc_id", "pos")


@query(
    "dedup_winnow_pairs",
    oracle=f"""
    WITH sel AS ({WINNOW_SQL}),
    fp AS (SELECT DISTINCT doc_id, fp_hash FROM sel)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    ORDER BY id_a, id_b
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap candidate pairs off shared winnowing fingerprints —
    fingerprint-keyed posting co-occurrence (pair volume driven by shared
    content, never |corpus|²), the copy/quote-detection complement to
    dedup_jaccard_pairs' whole-document similarity."""
    from sec_dl_spark.operators.dedup import winnow_overlap_pairs

    d = t(spark, sf_dir, "documents")
    return winnow_overlap_pairs(d, min_shared=2).orderBy("id_a", "id_b")


# GPT-2-style pretokenizer (contractions | space?+letters | space?+digits |
# space?+punct-run) — no lookarounds, so the pattern is portable between
# Java regex (Spark) and RE2 (DuckDB). Applied to lowercased text.
# [ \t\n\r\f] instead of \s: Java's \s includes \x0B (vertical tab),
# RE2's does not — an explicit class keeps Spark and the oracle identical.
WS = " \\t\\n\\r\\f"
BPE_PAT = rf"'(s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9{WS}']+"
# SQL-literal form: apostrophes doubled for embedding in a quoted string
BPE_PAT_SQL = BPE_PAT.replace("'", "''")


@query(
    "text_token_estimate",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+'),
                                  x -> x <> '')) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(lower(text),
                      '{BPE_PAT_SQL}')) AS BIGINT) AS n_pieces,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, n_words, n_pieces,
           round(CAST(n_chars AS DOUBLE) / n_pieces + 1e-8, 4) AS chars_per_piece
    FROM c WHERE n_pieces > 0 ORDER BY doc_id
    """,
)
def text_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-token budgeting (SURVEY §2.11 'token counting: whitespace + a
    BPE-ish regex'): whitespace word count next to a GPT-2-style
    pretokenizer match count — the cheap LLM-token estimator used to size
    training mixes before any real tokenizer runs. Pure codegen regex,
    no UDF."""
    d = t(spark, sf_dir, "documents").where(F.length("text") > 0)
    words = F.size(
        F.filter(F.split(F.trim(F.col("text")), r"[ \t\n\r\f]+"), lambda x: x != "")
    ).cast("long")
    pieces = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PAT), F.lit(0))
    ).cast("long")
    out = d.select(
        "doc_id",
        words.alias("n_words"),
        pieces.alias("n_pieces"),
        F.length("text").cast("long").alias("n_chars"),
    ).where(F.col("n_pieces") > 0)
    return out.select(
        "doc_id",
        "n_words",
        "n_pieces",
        F.round(F.col("n_chars") / F.col("n_pieces") + 1e-8, 4).alias("chars_per_piece"),
    ).orderBy("doc_id")


# The fixtures contain no real PII, so the query plants deterministic
# synthetic identifiers per row and redacts them — the operator chain is
# exercised non-vacuously (r1's vacuous-extract lesson) and stays oracled.
# (?i) — both Java regex and RE2 support the inline flag, so a mixed-case
# 'John.Doe@Example.COM' redacts fully instead of leaving 'J<EMAIL>'.
PII_EMAIL = r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE = r"\d{3}[-.]\d{3}[-.]\d{4}"
PII_SSN = r"\d{3}-\d{2}-\d{4}"


@query(
    "text_pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or call 415-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             ' ssn 123-45-6789' AS aug
      FROM documents
    ),
    red AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(aug, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(aug, '{PII_SSN}')) AS BIGINT) AS n_ssns,
             regexp_replace(
               regexp_replace(
                 regexp_replace(aug, '{PII_EMAIL}', '<EMAIL>', 'g'),
                 '{PII_SSN}', '<SSN>', 'g'),
               '{PII_PHONE}', '<PHONE>', 'g') AS redacted
      FROM aug
    )
    SELECT doc_id, n_emails, n_ssns,
           CAST(length(redacted) AS BIGINT) AS red_len,
           substring(redacted, length(redacted) - 39, 40) AS red_tail
    FROM red ORDER BY doc_id
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails / phone numbers / SSN-shaped ids → typed
    placeholder tokens) — the compliance pass every training-data pipeline
    runs before text leaves the lake. Chained codegen regexp_replace, with
    match counts emitted for audit. SSN redaction runs before phone so the
    3-2-4 shape is never half-eaten by the 3-3-4 pattern."""
    d = t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 415-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-6789"),
    )
    a = d.select("doc_id", aug.alias("aug"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("aug"), PII_EMAIL, "<EMAIL>"),
            PII_SSN,
            "<SSN>",
        ),
        PII_PHONE,
        "<PHONE>",
    )
    out = a.select(
        "doc_id",
        F.size(F.regexp_extract_all("aug", F.lit(PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("aug", F.lit(PII_SSN), F.lit(0)))
        .cast("long")
        .alias("n_ssns"),
        redacted.alias("redacted"),
    )
    return out.select(
        "doc_id",
        "n_emails",
        "n_ssns",
        F.length("redacted").cast("long").alias("red_len"),
        F.substring(F.col("redacted"), F.length("redacted") - 39, 40).alias("red_tail"),
    ).orderBy("doc_id")


@query(
    "corpus_mixture_sample",
    oracle="""
    WITH p1 AS (
      SELECT lang, (doc_id % 2147483648) * 2654435761 AS p1 FROM documents
    ),
    p2 AS (
      SELECT lang, (xor(p1 // 2147483648, p1) % 2147483648) * 2246822519 AS p2
      FROM p1
    ),
    s AS (
      SELECT lang,
             CASE WHEN ((p2 // 2147483648) % 1048576) <
                  CASE lang WHEN 'en' THEN 314572
                            WHEN 'de' THEN 1048576
                            WHEN 'fr' THEN 838860
                            ELSE 104857 END
                  THEN 1 ELSE 0 END AS kept
      FROM p2
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(kept) AS BIGINT) AS n_kept
    FROM s GROUP BY lang ORDER BY lang
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible mixture rebalancing: per-language hash-threshold
    sampling to target rates (keep all de, 80% fr, 30% en, 10% rest) —
    unlike sample/sampleBy the kept set is a pure function of doc_id, so
    reruns, retries and different partitionings keep identical rows
    (operators/relational.py:mixture_keep_expr). Output is the
    per-group audit (total vs kept)."""
    from sec_dl_spark.operators.relational import mixture_keep_expr

    d = t(spark, sf_dir, "documents")
    rates = {"en": 0.3, "de": 1.0, "fr": 0.8}
    keep = mixture_keep_expr(rates, default_rate=0.1)
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(keep, 1)).alias("n_kept"),
        )
        .orderBy("lang")
    )


@query(
    "emb_quantize_int8",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS q_scale
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, xd, q_scale,
             list_transform(xd, x -> CASE WHEN q_scale > 0
                    THEN floor(x / q_scale + 0.5) * q_scale ELSE 0.0 END) AS deq
      FROM s
    )
    SELECT vec_id,
           round(q_scale + 1e-9, 6) AS scale_r,
           round(list_inner_product(xd, deq) /
                 (sqrt(list_inner_product(xd, xd)) * sqrt(list_inner_product(deq, deq)))
                 + 1e-9, 4) AS recon_cos
    FROM q ORDER BY vec_id
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization audit (similarity.quantize_int8): per
    vector, the quantization scale and the cosine between the original
    and dequantized vector — the 4×-compression/recall trade every large
    embedding store makes before PQ. floor(x/scale + 0.5) quantization is
    bit-identical across engines, so the audit is fully oracled."""
    from sec_dl_spark.operators.similarity import cosine, dequantize, quantize_int8

    e = t(spark, sf_dir, "embeddings")
    q = quantize_int8(e)
    deq = dequantize(F.col("q_vec"), F.col("q_scale"))
    return q.select(
        "vec_id",
        F.round(F.col("q_scale") + 1e-9, 6).alias("scale_r"),
        F.round(cosine(F.col("embedding"), deq) + 1e-9, 4).alias("recon_cos"),
    ).orderBy("vec_id")


@query("emb_pq_topk", oracle=None)
def emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 retrieval against a product-quantized corpus (m=4 subspaces,
    32 centroids each → 4 bytes/vector, the IVF-PQ memory layout at
    billion scale): codebooks trained on a deterministic 20% slice,
    corpus encoded in one Arrow pass, candidates ranked by cosine against
    the DECODED approximation. Rows-only — centroids aren't portable to
    the oracle; pytest pins recall@5 >= 0.8 on a planted-cluster corpus
    (similarity.pq_train_codebooks/pq_encode/pq_decode)."""
    from sec_dl_spark.operators.similarity import (
        cosine_topk,
        pq_decode,
        pq_encode,
        pq_train_codebooks,
    )

    e = t(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(
        e.where(F.col("vec_id") % 5 == 0), m=4, n_centroids=32, max_iter=2
    )
    decoded = pq_encode(e, books).select(
        "vec_id", pq_decode(F.col("pq_codes"), books).alias("embedding")
    )
    q = e.where(F.col("vec_id") < 5)
    return cosine_topk(decoded, q, k=5).orderBy("query_id", "rank")


@query(
    "sample_exact_n_per_group",
    oracle="""
    WITH p1 AS (
      SELECT lang, doc_id, (doc_id % 2147483648) * 2654435761 AS p1
      FROM documents
    ),
    h AS (
      SELECT lang, doc_id,
             ((((xor(p1 // 2147483648, p1) % 2147483648) * 2246822519)
               // 2147483648) % 1048576) AS hk
      FROM p1
    ),
    r AS (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
      FROM h
    )
    SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= 3 ORDER BY lang, rn
    """,
)
def sample_exact_n_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-N-per-group sampling (reservoir-equivalent):
    order each group by the avalanche keep-hash of the key and take the
    first N — the same rows on every run, any partitioning, any engine
    (sampleBy gives approximate counts and partition-dependent rows).

    At-scale shape: a hash pre-filter sits BELOW the window sort. Group
    sizes come from one cheap partial-agg pass; each group keeps only
    rows with hash below a broadcast per-group cutoff targeting ~64·N
    expected survivors (cutoff 2^20·64·N/|group|, clamped to keep-all
    for groups ≤ 64·N). The window then sorts ~192 rows per group
    instead of the whole group — the full-group sort was the unbounded
    cost at 100 TB. With 64× headroom, losing a true top-N row needs a
    group to land < N of ~192 expected sub-cutoff rows (Chernoff tail
    ~e^-100, and deterministic for any fixed corpus — verified by the
    oracle, which runs WITHOUT the pre-filter). Fully oracled, unlike
    fraction-based sampling."""
    n, margin = 3, 64
    d = t(spark, sf_dir, "documents")
    x = (F.col("doc_id") % F.lit(1 << 31)) * F.lit(2654435761)
    x2 = F.shiftrightunsigned(x, 31).bitwiseXOR(x) % F.lit(1 << 31)
    hk = F.shiftrightunsigned(x2 * F.lit(2246822519), 31) % F.lit(1 << 20)
    hashed = d.select("lang", "doc_id", hk.alias("_hk"))
    cutoffs = (
        hashed.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("_g"))
        .select(
            "lang",
            F.least(
                F.lit(1 << 20),
                F.ceil(F.lit((1 << 20) * margin * n) / F.col("_g")),
            ).alias("_cut"),
        )
    )
    return (
        hashed.join(F.broadcast(cutoffs), "lang")
        .where(F.col("_hk") < F.col("_cut"))
        .withColumn(
            "rn",
            F.row_number()
            .over(Window.partitionBy("lang").orderBy("_hk", "doc_id"))
            .cast("long"),
        )
        .where(F.col("rn") <= n)
        .select("lang", "doc_id", "rn")
        .orderBy("lang", "rn")
    )


@query(
    "text_passage_dedup",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    tiles AS (
      SELECT doc_id, CAST(i AS BIGINT) AS tile_idx,
             array_to_string(toks[i*8+1 : i*8+8], ' ') AS passage
      FROM tk, UNNEST(range(CAST(len(toks) // 8 AS BIGINT))) AS u(i)
    ),
    ranked AS (
      SELECT doc_id, tile_idx,
             row_number() OVER (PARTITION BY passage ORDER BY doc_id, tile_idx) AS rn
      FROM tiles
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level (sub-document) duplication audit — the span-dedup
    signal training pipelines act on when whole-document dedup misses
    copied sections (the fixture plants them; 1000+ 8-grams repeat across
    docs at sf0.01). Text tiles into non-overlapping 8-token passages;
    a passage is a duplicate when an identical passage exists earlier in
    (doc_id, tile) order. One shuffle, keyed by xxhash64(passage) BY
    DEFAULT so the exchange carries an 8-byte long per passage instead of
    the passage string — at 100 TB the string key is most of the shuffle
    payload for zero semantic gain. An xxhash64 collision would merge two
    distinct passages (one extra dup counted); at 2^64 key space that is
    vanishingly rarer than data corruption, and ``hash_key=False`` keeps
    the exact string-keyed plan (pinned equal by the parity test)."""
    return _passage_dedup(spark, sf_dir, hash_key=True)


def _passage_dedup(spark: SparkSession, sf_dir: str, hash_key: bool = True) -> DataFrame:
    tk = tok_docs(spark, sf_dir).where(F.size("toks") >= 8)
    tiles = tk.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, size(toks) div 8 - 1), "
                "i -> concat_ws(' ', slice(toks, i*8+1, 8)))"
            )
        ).alias("tile_idx", "passage"),
    )
    if hash_key:
        # drop the string BEFORE the window exchange: the shuffle then
        # moves (doc_id, tile_idx, _pk) — 24 bytes/row — not the passage
        tiles = tiles.select("doc_id", "tile_idx", F.xxhash64("passage").alias("_pk"))
        key = "_pk"
    else:
        key = "passage"
    w = Window.partitionBy(key).orderBy("doc_id", "tile_idx")
    ranked = tiles.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dup_passages"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_bigram_logprob",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      FROM tk, UNNEST(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2
    ),
    uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    bi AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
           HAVING count(*) >= 2)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln(CAST(c12 AS DOUBLE) / c1)) + 1e-9, 4) AS avg_logprob
    FROM bg JOIN bi USING (w1, w2) JOIN uni USING (w1)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style quality scoring without KenLM: a corpus-trained bigram
    LM (P(w2|w1) = c12/c1, maximum likelihood) scores each doc by mean
    log-likelihood over the bigrams the model retains. Low scores flag
    gibberish/outlier docs — the perplexity filter of C4/CCNet pipelines.
    Scale posture: the raw distinct-bigram table is O(10^10) rows on a
    web corpus, so the model is pruned to bigrams seen >= MIN_COUNT times
    (standard LM count-pruning; singleton bigrams carry no reusable
    signal), and the scoring join carries NO broadcast hint — AQE picks
    broadcast vs shuffle from the measured pruned-model size, degrading
    to a (w1, w2)-keyed shuffle instead of an OOM when the model is
    large. Docs whose every bigram was pruned drop out (inner join),
    mirrored by the oracle."""
    MIN_COUNT = 2
    tk = tok_docs(spark, sf_dir).where(F.size("toks") >= 2)
    bg = tk.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    uni = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    bi = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .where(F.col("c12") >= MIN_COUNT)
    )
    model = bi.join(uni, "w1")
    return (
        bg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("c12").cast("double") / F.col("c1"))) + 1e-9, 4
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_word_entropy",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    w AS (SELECT doc_id, unnest(toks) AS w FROM tk),
    wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
           round(ln(CAST(sum(c) AS DOUBLE))
                 - sum(c * ln(CAST(c AS DOUBLE))) / sum(c) + 1e-9, 4) AS entropy
    FROM wc GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-distribution Shannon entropy — low entropy flags
    repetitive/templated text (the Gopher repetition family's
    information-theoretic cousin). Uses H = ln(n) − Σc·ln(c)/n so the
    whole computation is two partial-aggregating groupBys; the wide text
    never shuffles, only (doc_id, word, count) triples do."""
    tk = tok_docs(spark, sf_dir)
    wc = (
        tk.select("doc_id", F.explode("toks").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        wc.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.round(
                F.log(F.sum("c").cast("double"))
                - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / F.sum("c")
                + 1e-9,
                4,
            ).alias("entropy"),
        )
        .orderBy("doc_id")
    )


@query("emb_semantic_dedup", oracle=None)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings fixture: k-means cells bound the pair
    space, within-cell cosine >= 0.35 collapses to the smallest id (0.35
    keeps the gate non-vacuous — the synthetic corpus tops out near cos
    0.5). Rows-only: cell assignments come from the seeded k-means fit,
    which has no SQL oracle; the greedy-collapse semantics are pinned by
    the planted-cluster pytest (operators/similarity.py:semantic_dedup).
    Cell count auto-scales with the corpus (ceil(N/1024), floor 8 — same
    8 cells on every fixture SF, ~50 at the probe's sf1) so the
    within-cell pair space stays linear in N; the 10× scale probe caught
    the fixed-cell quadratic blowup this replaces (82× wall-time on 10×
    data → see SCALE.md)."""
    e = t(spark, sf_dir, "embeddings")
    return (
        similarity.semantic_dedup(e, threshold=0.35)
        .select("vec_id", "cell", "keep", "dup_of")
        .orderBy("vec_id")
    )


# Memoized BPE merges per (session, sf_dir) — training reads the word
# frequency table once (same build-once discipline as fts_index/tok_docs);
# encode is the distributed half and runs per query.
_BPE_CACHE: dict = {}


def _bpe_merges(spark: SparkSession, sf_dir: str):
    from sec_dl_spark.functions.bpe import bpe_train

    key = (id(spark), sf_dir)
    hit = _BPE_CACHE.get(key)
    if hit is not None:
        return hit[1]
    merges = bpe_train(t(spark, sf_dir, "documents"), n_merges=200)
    _BPE_CACHE[key] = (spark, merges)
    return merges


@query("text_bpe_tokens", oracle=None)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained BPE token accounting (functions/bpe.py): merges
    learned once from the word-frequency table (driver-side, vocab-sized
    input), documents encoded distributed with the ranks broadcast in the
    UDF closure. n_bpe >= n_words always (a word is >= 1 subword);
    compression = words/subwords rises as merges cover the vocabulary.
    Rows-only: the learned merge table has no SQL oracle; merge/encode
    semantics are pinned by the round-trip pytest."""
    from sec_dl_spark.functions.bpe import bpe_encode_udf

    merges = _bpe_merges(spark, sf_dir)
    d = t(spark, sf_dir, "documents")
    enc = bpe_encode_udf(merges)
    return (
        d.select(
            "doc_id",
            F.size(tokenize(F.col("text"))).cast("long").alias("n_words"),
            F.size(enc(F.col("text"))).cast("long").alias("n_bpe"),
        )
        .withColumn(
            "bpe_per_word",
            F.round(F.col("n_bpe") / F.greatest(F.col("n_words"), F.lit(1)) + 1e-9, 4),
        )
        .orderBy("doc_id")
    )


@query(
    "emb_label_centroids",
    oracle="""
    WITH x AS (
      SELECT label, unnest(embedding) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    a AS (
      SELECT label, CAST(pos - 1 AS BIGINT) AS dim_idx,
             (round(avg(CAST(val AS DOUBLE)) + 1e-9, 4) + 0.0) AS mean_val
      FROM x GROUP BY label, pos
    ),
    n AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY label)
    SELECT label, n_vecs, dim_idx, mean_val
    FROM a JOIN n USING (label)
    ORDER BY label, dim_idx
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (mean pooling) in long form — the
    class-centroid primitive behind clustering seeds, per-source drift
    monitoring, and centroid-classifier baselines. One posexplode +
    groupBy (label, dim): the shuffle carries (label, dim, partial sums),
    never whole vectors, and parallelism is labels × dim rather than
    bounded by label count alone. mean_val takes the rz zero-normalization
    (embedding means straddle zero, so round() can emit -0.0 on one engine
    and +0.0 on the other — the corpus_dsir_weights r6 class; caught here
    by the sf0.1 byte-exact sweep)."""
    e = t(spark, sf_dir, "embeddings")
    x = e.select("label", F.posexplode("embedding").alias("dim_idx", "val"))
    a = x.groupBy("label", "dim_idx").agg(
        rz(F.avg(F.col("val").cast("double"))).alias("mean_val")
    )
    n = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        a.join(F.broadcast(n), "label")
        .select("label", "n_vecs", F.col("dim_idx").cast("long").alias("dim_idx"), "mean_val")
        .orderBy("label", "dim_idx")
    )


@query(
    "text_top_ngrams",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    bg AS (
      SELECT toks[i] || ' ' || toks[i+1] AS bigram
      FROM tk, UNNEST(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2
    )
    SELECT bigram, CAST(count(*) AS BIGINT) AS c
    FROM bg GROUP BY bigram
    ORDER BY c DESC, bigram LIMIT 20
    """,
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams — the n-gram frequency table quality
    filters and contamination screens consult. Map-side partial counts
    collapse the shuffle to distinct bigrams; the final top-k is a
    TakeOrdered over the counts, never a full sort of the corpus."""
    tk = tok_docs(spark, sf_dir).where(F.size("toks") >= 2)
    bg = tk.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> concat(toks[i-1], ' ', toks[i]))"
            )
        ).alias("bigram")
    )
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "bigram")
        .limit(20)
    )


@query("emb_ivfpq_topk", oracle=None)
def emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full billion-scale ANN composition as one catalog entry:
    IVF cells bound WHICH vectors a query touches, PQ codes bound the
    BYTES per touch, the ADC lookup-table kernel scores the shortlist,
    and exact rerank on full-precision vectors produces the reported
    similarities. Deterministic under the fixed seed. Rows-only — the
    seeded k-means fits have no SQL oracle; kernel parity, recall
    floors, and the slim-exchange plan are pinned by pytest
    (operators/similarity.py:cosine_topk_ivfpq)."""
    e = t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    return similarity.cosine_topk_ivfpq(
        e, q, k=5, n_cells=16, n_probe=4, m=4, n_centroids=32
    ).orderBy("query_id", "rank")


@query(
    "text_length_histogram",
    oracle="""
    -- width_bucket(n_chars, 0, 1000, 10) spelled arithmetically (DuckDB
    -- has no width_bucket): bucket i covers [i*100, (i+1)*100), 11 = >= max
    SELECT CAST(CASE WHEN n_chars < 0 THEN 0
                     WHEN n_chars >= 1000 THEN 11
                     ELSE n_chars // 100 + 1 END AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(n_chars) AS BIGINT) AS lo,
           CAST(max(n_chars) AS BIGINT) AS hi
    FROM documents GROUP BY bucket ORDER BY bucket
    """,
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (width_bucket over n_chars) — the
    profiling pass every corpus-filter threshold is tuned against. One
    partial-aggregating groupBy on an 11-value key; the scan reads a
    single integer column (plan-prunable)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(
            F.width_bucket(F.col("n_chars"), F.lit(0), F.lit(1000), F.lit(10))
            .cast("long")
            .alias("bucket"),
            "n_chars",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
        .orderBy("bucket")
    )


# DSIR hashes unigram features into a fixed bucket count so the model is
# bounded regardless of corpus vocabulary (the paper's own construction).
# Bucket = low 17 bits of the little-endian lower-64 of md5(w) — chosen
# because BOTH engines can compute it exactly: DuckDB has md5_number_lower;
# Spark reconstructs the same bits from md5 hex bytes 8..10 (byte 8 is the
# least significant; only bit 0 of byte 10 survives the % 2^17).
_DSIR_BUCKETS = 131072  # 2^17


def _dsir_bucket(col):
    b8 = F.conv(F.substring(F.md5(col), 17, 2), 16, 10).cast("long")
    b9 = F.conv(F.substring(F.md5(col), 19, 2), 16, 10).cast("long")
    b10 = F.conv(F.substring(F.md5(col), 21, 2), 16, 10).cast("long")
    return (b8 + b9 * 256 + (b10 % 2) * 65536).alias("b")


_DSIR_BUCKET_SQL = f"CAST(md5_number_lower(w) % {_DSIR_BUCKETS} AS BIGINT)"


# Shared DSIR oracle core: per-doc mean log-ratio of the target ('en') LM
# to the full-corpus LM over hashed unigram buckets. Used verbatim by both
# corpus_dsir_weights (the audit) and corpus_dsir_resample (the action).
_DSIR_CORE_SQL = f"""
    WITH tk AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
    wd AS (SELECT doc_id, lang, unnest(toks) AS w FROM tk),
    w AS (SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS b FROM wd),
    cc AS (SELECT b, count(*) AS c FROM w GROUP BY b),
    tc AS (SELECT b, count(*) AS c FROM w WHERE lang = 'en' GROUP BY b),
    scal AS (SELECT (SELECT count(*) FROM cc) AS V,
                    (SELECT sum(c) FROM cc) AS NC,
                    (SELECT coalesce(sum(c), 0) FROM tc) AS NT),
    model AS (
      SELECT cc.b,
             ln((coalesce(tc.c, 0) + 1.0) / (NT + V))
             - ln((cc.c + 1.0) / (NC + V)) AS logr
      FROM cc LEFT JOIN tc USING (b), scal
    ),
    wts AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             {rz_sql('avg(logr)')} AS dsir_logratio
      FROM w JOIN model USING (b)
      GROUP BY doc_id
    )"""


@query(
    "corpus_dsir_weights",
    oracle=f"""{_DSIR_CORE_SQL}
    SELECT doc_id, n_tokens, dsir_logratio FROM wts ORDER BY doc_id
    """,
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, Data Selection
    with Importance Resampling): score every document by the mean
    log-ratio of a TARGET-domain unigram LM (here the lang='en' slice)
    to the full-corpus LM, both add-one smoothed over the observed
    feature space. High scores = looks like the target domain;
    resampling ∝ exp(weight) shifts the corpus mixture toward it
    (compose with mixture_keep_expr). Scale posture: words
    are hashed into a FIXED 2^17-bucket feature space (the paper's own
    move — an open web-scale vocabulary reaches 10^8-10^9 distinct
    tokens, a hashed model is bounded at 131072 rows forever), and the
    scoring join carries NO broadcast hint — AQE sees a <=2^17-row model
    and picks broadcast on its own, with a keyed-shuffle fallback rather
    than a forced-broadcast OOM. The bucket function is md5-derived so
    the DuckDB oracle computes bit-identical buckets."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokenize(F.col("text")).alias("toks")
    )
    w = d.select("doc_id", "lang", F.explode("toks").alias("w")).select(
        "doc_id", "lang", _dsir_bucket(F.col("w"))
    )
    cc = w.groupBy("b").agg(F.count(F.lit(1)).alias("cc"))
    tc = w.where(F.col("lang") == "en").groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    scal = cc.agg(
        F.count(F.lit(1)).alias("V"), F.sum("cc").alias("NC")
    ).crossJoin(tc.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("NT")))
    model = (
        cc.join(tc, "b", "left")
        .crossJoin(F.broadcast(scal))
        .select(
            "b",
            (
                F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("NT") + F.col("V")))
                - F.log((F.col("cc") + 1.0) / (F.col("NC") + F.col("V")))
            ).alias("logr"),
        )
    )
    return (
        w.join(model, "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            rz(F.avg("logr")).alias("dsir_logratio"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH fp AS (SELECT doc_id, n_chars,
                       md5(array_to_string({TOKS}, ' ')) AS fp FROM documents)
    SELECT doc_id,
           (row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) = 1)
             AS keep,
           CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS group_size
    FROM fp ORDER BY doc_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup: within each content-fingerprint group keep
    the HIGHEST-quality copy (longest n_chars, ties to min doc_id) instead
    of dedup_keep_list's arbitrary min-id canonical — the production rule
    when near-identical scrapes differ in truncation and the pipeline wants
    the fullest one. Same scale shape as dedup_keep_list: one shuffle keyed
    by fingerprint carrying only (doc_id, n_chars, fp); text never
    shuffles."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars"))
    fp = d.select(
        "doc_id", "n_chars", A.fingerprint_of(tokenize(F.col("text"))).alias("fp")
    )
    w = Window.partitionBy("fp")
    wr = w.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        fp.select(
            "doc_id",
            (F.row_number().over(wr) == 1).alias("keep"),
            F.count(F.lit(1)).over(w).alias("group_size"),
        )
        .orderBy("doc_id")
    )


@query(
    "corpus_split_assign",
    oracle=f"""
    WITH h AS (SELECT doc_id, lang, n_chars,
                      substr(md5(array_to_string({TOKS}, ' ')), 1, 1) AS hx
               FROM documents),
    s AS (SELECT lang, n_chars,
                 CASE WHEN hx BETWEEN '0' AND '9' OR hx IN ('a', 'b') THEN 'train'
                      WHEN hx IN ('c', 'd') THEN 'val'
                      ELSE 'test' END AS split
          FROM h)
    SELECT split, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM s GROUP BY split, lang ORDER BY split, lang
    """,
)
def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, leakage-free train/val/test split: the split key is a
    hash of the CANONICAL CONTENT (the dedup fingerprint), not the row id,
    so byte-identical duplicates — and re-crawls of the same page under new
    ids — always land in the same split and can never leak train text into
    eval. Buckets by the first md5 hex nibble: 12/16 train, 2/16 val, 2/16
    test. Embarrassingly parallel (one projection, one partial agg); the
    only shuffle is the final 16-group rollup."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars"))
    hx = F.substring(A.fingerprint_of(tokenize(F.col("text"))), 1, 1)
    split = (
        F.when(hx.between("0", "9") | hx.isin("a", "b"), "train")
        .when(hx.isin("c", "d"), "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("split", "lang")
    )


@query(
    "text_keywords_tfidf",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    tf AS (SELECT doc_id, unnest(toks) AS token FROM tk),
    tfc AS (SELECT doc_id, token, count(*) AS tf FROM tf GROUP BY doc_id, token),
    dfc AS (SELECT token, count(DISTINCT doc_id) AS df FROM tfc GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tfc.doc_id, tfc.token, tfc.tf, dfc.df,
             tfc.tf * ln((n_docs + 1.0) / (dfc.df + 1.0)) AS score,
             row_number() OVER (PARTITION BY tfc.doc_id
                                ORDER BY tfc.tf DESC, dfc.df ASC, tfc.token) AS rk
      FROM tfc JOIN dfc USING (token), n
    )
    SELECT doc_id, token, CAST(rk AS BIGINT) AS rank,
           round(score + 1e-8, 4) AS tfidf
    FROM scored WHERE rk <= 3 AND doc_id < 30
    ORDER BY doc_id, rank
    """,
)
def text_keywords_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens ranked by (tf desc,
    df asc, token) — term frequency with corpus-rarity tiebreak, an
    INTEGER-deterministic ordering so both engines rank identically — with
    the smoothed tf-idf score reported alongside. The df model is a
    token-keyed aggregate joined back WITHOUT a broadcast hint (same AQE
    posture as corpus_dsir_weights: web-scale vocabularies outgrow any
    broadcast budget; let measured size decide). Output bounded to
    doc_id < 30 to keep the comparison frame small."""
    tk = tok_docs(spark, sf_dir)
    tfc = (
        tk.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tfc.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = t(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n_docs"))
    wr = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("token")
    )
    scored = (
        tfc.join(dfc, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            (F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))).alias(
                "score"
            ),
            F.row_number().over(wr).alias("rank"),
        )
    )
    return (
        scored.where((F.col("rank") <= 3) & (F.col("doc_id") < 30))
        .select(
            "doc_id",
            "token",
            F.col("rank").cast("long").alias("rank"),
            F.round(F.col("score") + 1e-8, 4).alias("tfidf"),
        )
        .orderBy("doc_id", "rank")
    )


@query(
    "emb_dim_stats",
    oracle=f"""
    WITH x AS (SELECT generate_subscripts(embedding, 1) AS dim,
                      unnest(embedding) AS v FROM embeddings),
    e AS (SELECT dim, CAST(v AS DOUBLE) AS v FROM x)
    SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n,
           {rz_sql('avg(v)', nudge='1e-8')} AS mean_v,
           {rz_sql('stddev(v)', nudge='1e-8')} AS sd_v,
           {rz_sql('min(v)', nudge='1e-8')} AS min_v,
           {rz_sql('max(v)', nudge='1e-8')} AS max_v
    FROM e GROUP BY dim ORDER BY dim
    """,
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution profile of the embedding corpus (the
    normalize/whiten/clip preprocessing any ANN or clustering stage needs):
    posexplode to (dim, value), then pure codegen partial aggs keyed by
    dim. State is O(dims), not O(vectors) — the shuffle carries dims x
    n_partitions partial rows regardless of corpus size, the
    embarrassingly-scalable shape."""
    e = t(spark, sf_dir, "embeddings").select(
        F.posexplode("embedding").alias("pos", "v0")
    )
    e = e.select((F.col("pos") + 1).cast("long").alias("dim"), F.col("v0").cast("double").alias("v"))
    return (
        e.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            rz(F.avg("v"), nudge=1e-8).alias("mean_v"),
            rz(F.stddev_samp("v"), nudge=1e-8).alias("sd_v"),
            rz(F.min("v"), nudge=1e-8).alias("min_v"),
            rz(F.max("v"), nudge=1e-8).alias("max_v"),
        )
        .orderBy("dim")
    )


@query(
    "fts_headline",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    hit AS (SELECT doc_id, toks, list_position(toks, 'spark') AS idx FROM tk),
    win AS (SELECT doc_id, idx, greatest(idx - 3, 1) AS s,
                   least(idx + 3, len(toks)) AS e, toks
            FROM hit WHERE idx > 0)
    SELECT doc_id, CAST(idx AS BIGINT) AS pos,
           array_to_string(list_slice(toks, s, e), ' ') AS headline
    FROM win ORDER BY doc_id LIMIT 50
    """,
)
def fts_headline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PostgreSQL ts_headline parity (the reference's serving tier renders
    snippets from its GIN-indexed text; SURVEY §2.7 F11): for documents
    matching a term, emit a ±3-token context window around the FIRST
    occurrence. Pure codegen array ops on the shared tokenized frame — no
    re-scan of raw text, no UDF; at scale the match set comes from the
    inverted index and only matched docs compute windows."""
    tk = tok_docs(spark, sf_dir)
    hit = tk.select("doc_id", "toks", F.array_position("toks", "spark").alias("idx"))
    win = (
        hit.where(F.col("idx") > 0)
        .select(
            "doc_id",
            "idx",
            F.greatest(F.col("idx") - 3, F.lit(1)).alias("s"),
            F.least(F.col("idx") + 3, F.size("toks").cast("long")).alias("e"),
            "toks",
        )
    )
    return (
        win.select(
            "doc_id",
            F.col("idx").cast("long").alias("pos"),
            F.array_join(
                F.slice("toks", F.col("s").cast("int"), (F.col("e") - F.col("s") + 1).cast("int")),
                " ",
            ).alias("headline"),
        )
        .orderBy("doc_id")
        .limit(50)
    )


_G5 = (
    "list_distinct(list_transform(range(len(toks) - 4), i -> "
    "toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5]))"
)


@query(
    "corpus_decontaminate",
    oracle=f"""
    WITH tk AS (SELECT doc_id, lang, text, {TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, lang, toks,
                 CASE WHEN substr(md5(array_to_string(toks, ' ')), 1, 1)
                           BETWEEN '0' AND '9'
                        OR substr(md5(array_to_string(toks, ' ')), 1, 1) IN ('a', 'b')
                      THEN 'train'
                      WHEN substr(md5(array_to_string(toks, ' ')), 1, 1) IN ('c', 'd')
                      THEN 'val' ELSE 'test' END AS split
          FROM tk WHERE len(toks) >= 5),
    test_g AS (SELECT DISTINCT unnest({_G5}) AS gram FROM s WHERE split = 'test'),
    train_g AS (SELECT doc_id, lang, unnest({_G5}) AS gram FROM s WHERE split = 'train'),
    dropped AS (SELECT DISTINCT g.doc_id FROM train_g g
                WHERE EXISTS (SELECT 1 FROM test_g t WHERE t.gram = g.gram)),
    train AS (SELECT doc_id, lang FROM s WHERE split = 'train')
    SELECT train.lang, count(*) AS n_train,
           CAST(count(dropped.doc_id) AS BIGINT) AS n_dropped,
           count(*) - CAST(count(dropped.doc_id) AS BIGINT) AS n_clean
    FROM train LEFT JOIN dropped ON train.doc_id = dropped.doc_id
    GROUP BY train.lang ORDER BY train.lang
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination as an ACTION, not just a measurement
    (complements text_contamination): split the corpus by content hash
    (corpus_split_assign's rule), then drop every train document sharing
    any 5-gram with the test split — the leakage screen a pretraining
    pipeline runs before training. Shape: the test-gram set is built once
    and the shuffle is keyed by gram (never by doc); at 100 TB the
    test-gram table is tiny relative to train and AQE broadcasts it —
    unhinted, same posture as the other corpus-derived models."""
    d = tok_docs(spark, sf_dir).where(F.size("toks") >= 5)
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    hx = F.substring(A.fingerprint_of(F.col("toks")), 1, 1)
    split = (
        F.when(hx.between("0", "9") | hx.isin("a", "b"), "train")
        .when(hx.isin("c", "d"), "val")
        .otherwise("test")
    )
    s = d.select("doc_id", "toks", split.alias("split")).join(docs, "doc_id")
    grams = A.shingles_of(F.col("toks"), 5)
    test_g = (
        s.where(F.col("split") == "test")
        .select(F.explode(grams).alias("gram"))
        .distinct()
    )
    train = s.where(F.col("split") == "train")
    train_g = train.select("doc_id", F.explode(grams).alias("gram"))
    dropped = train_g.join(test_g, "gram", "left_semi").select("doc_id").distinct()
    return (
        train.join(dropped.withColumn("_hit", F.lit(1)), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.count("_hit").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("_hit")).alias("n_clean"),
        )
        .orderBy("lang")
    )


@query(
    "corpus_curriculum_order",
    oracle=f"""
    WITH tk AS (SELECT doc_id, text, {TOKS} AS toks FROM documents),
    q AS (SELECT doc_id, toks,
                 round(0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
                     + 0.25 * (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text))
                     + 0.25 * (1.0 - CAST(len(list_filter(toks, x -> list_contains(['a','the','and','of','to','in','is','it'], x))) AS DOUBLE) / len(toks))
                     + 1e-8, 4) AS quality,
                 CASE WHEN substr(md5(array_to_string(toks, ' ')), 1, 1)
                           BETWEEN '0' AND '9'
                        OR substr(md5(array_to_string(toks, ' ')), 1, 1) IN ('a', 'b')
                      THEN 'train'
                      WHEN substr(md5(array_to_string(toks, ' ')), 1, 1) IN ('c', 'd')
                      THEN 'val' ELSE 'test' END AS split
          FROM tk WHERE len(toks) > 0 AND length(text) > 0)
    SELECT doc_id, split, quality,
           CAST(row_number() OVER (PARTITION BY split
                                   ORDER BY quality DESC, doc_id) AS BIGINT)
             AS curriculum_rank
    FROM q ORDER BY split, curriculum_rank LIMIT 200
    """,
)
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum scheduling order: within each split, rank documents by
    the composite quality score (easy/clean-first curricula train on
    high-quality text before the noisy tail). Ranking keys on the ROUNDED
    score with doc_id tiebreak so both engines order identically; one
    window per split partition, no extra shuffle beyond the rank's own.
    Composes the split and quality stages the corpus pipeline already
    runs — the last prep step before pack_sequences."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
    tk = d.select("doc_id", "text", tokenize(F.col("text")).alias("toks")).where(
        (F.size("toks") > 0) & (F.length("text") > 0)
    )
    hx = F.substring(A.fingerprint_of(F.col("toks")), 1, 1)
    split = (
        F.when(hx.between("0", "9") | hx.isin("a", "b"), "train")
        .when(hx.isin("c", "d"), "val")
        .otherwise("test")
    )
    q = tk.select(
        "doc_id",
        split.alias("split"),
        F.round(A.quality_score_of(F.col("toks"), F.col("text")) + 1e-8, 4).alias(
            "quality"
        ),
    )
    wr = Window.partitionBy("split").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        q.select(
            "doc_id",
            "split",
            "quality",
            F.row_number().over(wr).cast("long").alias("curriculum_rank"),
        )
        .orderBy("split", "curriculum_rank")
        .limit(200)
    )


@query(
    "corpus_temperature_mixture",
    oracle=f"""
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    p AS (SELECT source, n, CAST(n AS DOUBLE) / sum(n) OVER () AS p_raw FROM c),
    w AS (SELECT source, n, p_raw, pow(p_raw, 0.7) AS w_raw FROM p)
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           {rz_sql('p_raw')} AS p_raw,
           {rz_sql('w_raw / sum(w_raw) OVER ()')} AS p_temp
    FROM w ORDER BY source
    """,
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture weights (the multilingual/multi-
    source rebalancing rule from mT5/XLM-R: sample domain i with
    probability ∝ p_i^T, T=0.7, which upweights small domains without
    letting any one dominate). Output is the per-source audit: raw share
    vs temperature share — feed p_temp into
    mixture_keep_expr's per-group rates to materialize the
    rebalanced corpus. Scale shape: one partial-agg groupBy on source
    (domain count, thousands at most), then window sums over that
    DOMAIN-sized frame — the corpus itself is scanned once for a
    count."""
    d = t(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w_all = Window.partitionBy()
    p_raw = F.col("n_docs") / F.sum("n_docs").over(w_all)
    w_raw = F.pow(p_raw, F.lit(0.7))
    return (
        c.select(
            "source",
            "n_docs",
            rz(p_raw).alias("p_raw"),
            rz(w_raw / F.sum(w_raw).over(w_all)).alias("p_temp"),
        )
        .orderBy("source")
    )


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH tk AS (SELECT {TOKS} AS toks FROM documents),
    tf AS (SELECT unnest(toks) AS w FROM tk),
    c AS (SELECT w, count(*) AS freq FROM tf GROUP BY w),
    r AS (SELECT freq,
                 row_number() OVER (ORDER BY freq DESC, w) AS rank
          FROM c),
    top AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
            FROM r WHERE rank <= 1000)
    SELECT CAST(count(*) AS BIGINT) AS n_ranks,
           {rz_sql('regr_slope(y, x)')} AS zipf_slope,
           {rz_sql('regr_intercept(y, x)')} AS zipf_intercept
    FROM top
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    log(frequency) against log(rank) for the top-1000 tokens — the
    canonical corpus-health statistic (natural language sits near -1;
    boilerplate-heavy or template-generated corpora flatten it, token-
    soup noise steepens it; Dolma/Gopher-class pipelines track it per
    snapshot). Rank ties break on the token so both engines rank
    identically. Scale shape: token counting is a vocabulary-keyed
    partial agg; the top-1000 cut compiles to TakeOrderedAndProject
    (per-partition heaps, merged on the driver — the VOCABULARY is never
    globally sorted or single-partition-windowed), and the rank window +
    regression then run over a FIXED 1000-row frame regardless of corpus
    size (slope = cov(x,y)/var(x) from one tiny aggregate — no MLlib, no
    driver loop)."""
    tk = tok_docs(spark, sf_dir)
    c = (
        tk.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top1000 = c.orderBy(F.desc("freq"), F.asc("w")).limit(1000)
    wr = Window.orderBy(F.desc("freq"), F.asc("w"))
    top = (
        top1000.select("freq", F.row_number().over(wr).alias("rank"))
        .select(
            F.log(F.col("rank").cast("double")).alias("x"),
            F.log(F.col("freq").cast("double")).alias("y"),
        )
    )
    slope = F.covar_pop("y", "x") / F.var_pop("x")
    return top.agg(
        F.count(F.lit(1)).alias("n_ranks"),
        rz(slope).alias("zipf_slope"),
        rz(F.avg("y") - slope * F.avg("x")).alias("zipf_intercept"),
    )


@query(
    "sample_top_hash",
    oracle="""
    SELECT doc_id, md5('s7' || CAST(doc_id AS VARCHAR)) AS h
    FROM documents ORDER BY h, doc_id LIMIT 100
    """,
)
def sample_top_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform sample by hash order: the first k documents
    under md5('s7' || id) — a seeded total order that is a pure function
    of the id, so the SAME k rows come back across reruns, retries,
    partitionings, and engines (unlike sample()/TABLESAMPLE), and the
    sample composes: the top-2k set always CONTAINS the top-k set, so
    growing a labeling budget never discards already-labeled rows.
    Scale shape: ORDER BY + LIMIT compiles to TakeOrderedAndProject —
    each partition keeps its local top-k heap and the driver merges k·p
    rows; the corpus is never globally sorted (plan-pinned in
    tests/test_plans.py)."""
    d = t(spark, sf_dir, "documents").select("doc_id")
    h = F.md5(F.concat(F.lit("s7"), F.col("doc_id").cast("string")))
    return d.select("doc_id", h.alias("h")).orderBy("h", "doc_id").limit(100)


@query(
    "sample_weighted_hash",
    oracle="""
    WITH u AS (
      SELECT doc_id, n_chars,
             CAST(md5_number_lower('ws1' || CAST(doc_id AS VARCHAR)) % 1048576
                  AS BIGINT) + 1 AS u
      FROM documents)
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(u AS DOUBLE) / n_chars AS priority
    FROM u ORDER BY priority, doc_id LIMIT 50
    """,
)
def sample_weighted_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sample (bottom-50 by hash priority u/w,
    w = n_chars): longer documents draw proportionally smaller priorities,
    so selection probability grows with weight — the seeded, partition-
    independent analog of weighted reservoir sampling. The textbook
    Efraimidis-Spirakis key u^(1/w) needs ln(), whose last-ulp rounding
    differs across engines (libm vs JVM) and could flip ranks at the
    cut; this priority is one IEEE division of two exactly-representable
    integers (20-bit hash draw + 1, over the integer weight), so every
    engine computes bit-identical priorities and the sample is
    byte-reproducible. Same prefix-composability as sample_top_hash
    (bottom-2k contains bottom-k); compiles to TakeOrderedAndProject.
    The 20-bit draw reconstructs DuckDB's md5_number_lower % 2^20 from
    md5 hex bytes 8..10 (byte 8 least significant, _dsir_bucket
    convention)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    h = F.md5(F.concat(F.lit("ws1"), F.col("doc_id").cast("string")))
    b8 = F.conv(F.substring(h, 17, 2), 16, 10).cast("long")
    b9 = F.conv(F.substring(h, 19, 2), 16, 10).cast("long")
    b10 = F.conv(F.substring(h, 21, 2), 16, 10).cast("long")
    u = b8 + b9 * 256 + (b10 % 16) * 65536 + 1
    return (
        d.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            (u.cast("double") / F.col("n_chars")).alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(50)
    )


@query(
    "text_duplicate_ngram_fraction",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({SHINGLES}) AS s FROM tk WHERE len(toks) >= 3),
    df AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           {rz_sql("avg(CASE WHEN df > 1 THEN 1.0 ELSE 0.0 END)")} AS dup_frac
    FROM sh JOIN df USING (s)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_duplicate_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-3-gram fraction: the share of a document's
    distinct shingles that appear in at least one OTHER place in the
    corpus — the Gopher/Dolma "fraction of duplicate n-grams" quality
    signal that flags boilerplate and template text which exact and
    near dedup keep (each copy differs, but the building blocks repeat).
    Scale shape: the only shuffles key on the shingle (posting-list agg +
    one shingle-keyed join back); document text never shuffles and the
    per-shingle state is a count, so the op is as scalable as the
    inverted index build."""
    tk = tok_docs(spark, sf_dir)
    sh = (
        tk.where(F.size("toks") >= 3)
        .select("doc_id", F.explode(A.shingles_of(F.col("toks"))).alias("s"))
    )
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(df, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            rz(F.avg(F.when(F.col("df") > 1, 1.0).otherwise(0.0))).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_gopher_rules",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    m AS (SELECT doc_id,
                 len(toks) AS n_words,
                 CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                   / len(toks) AS mean_wl,
                 CAST(len(list_filter(toks, x ->
                      list_contains(['a','the','and','of','to','in','is','it'], x)))
                   AS DOUBLE) / len(toks) AS stop_frac,
                 CAST(len(list_filter(toks, x -> NOT regexp_matches(x, '[0-9]')))
                   AS DOUBLE) / len(toks) AS alpha_frac
          FROM tk WHERE len(toks) > 0)
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           (n_words BETWEEN 30 AND 80) AS ok_len,
           (mean_wl BETWEEN 3.8 AND 4.8) AS ok_word_len,
           (stop_frac >= 0.04) AS ok_stopwords,
           (alpha_frac >= 0.7) AS ok_alpha,
           ((n_words BETWEEN 30 AND 80) AND (mean_wl BETWEEN 3.8 AND 4.8)
            AND stop_frac >= 0.04 AND alpha_frac >= 0.7) AS pass
    FROM m ORDER BY doc_id
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/shape quality rules (Rae et al. 2021 §A1.1,
    adapted to the fixture's ranges): per-document word count, mean word
    length, stopword fraction, and alphabetic-token fraction, each gated
    to the band natural text occupies, plus the conjunctive pass flag.
    Every metric is a single division of exact integer counts, so the
    boolean gates are bit-deterministic across engines (no rounding
    nudges needed on comparisons). Scale shape: pure per-row codegen over
    the token array — no shuffle at all beyond the output sort."""
    tk = tok_docs(spark, sf_dir)
    m = tk.where(F.size("toks") > 0).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        (
            F.aggregate(
                F.transform(F.col("toks"), lambda x: F.length(x)),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.size("toks")
        ).alias("mean_wl"),
        (
            F.size(F.filter(F.col("toks"), lambda x: x.isin(*A.STOPWORDS))).cast(
                "double"
            )
            / F.size("toks")
        ).alias("stop_frac"),
        (
            F.size(F.filter(F.col("toks"), lambda x: ~x.rlike("[0-9]"))).cast("double")
            / F.size("toks")
        ).alias("alpha_frac"),
    )
    ok_len = F.col("n_words").between(30, 80)
    ok_wl = F.col("mean_wl").between(3.8, 4.8)
    ok_stop = F.col("stop_frac") >= 0.04
    ok_alpha = F.col("alpha_frac") >= 0.7
    return m.select(
        "doc_id",
        "n_words",
        ok_len.alias("ok_len"),
        ok_wl.alias("ok_word_len"),
        ok_stop.alias("ok_stopwords"),
        ok_alpha.alias("ok_alpha"),
        (ok_len & ok_wl & ok_stop & ok_alpha).alias("pass"),
    ).orderBy("doc_id")


@query(
    "corpus_dedup_rate_by_source",
    oracle=f"""
    WITH fp AS (SELECT source,
                       md5(array_to_string({TOKS}, ' ')) AS fp
                FROM documents)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
           {rz_sql('1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*)')}
             AS dup_rate
    FROM fp GROUP BY source ORDER BY source
    """,
)
def corpus_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance dedup telemetry: per-source exact-duplicate rate (1 −
    unique fingerprints / docs) — the first table a pipeline operator
    reads when a crawl source goes bad, and the signal that drives
    per-source sampling rates (a 40%-duplicate source gets budgeted at
    its UNIQUE yield, not its row count). Scale shape: fingerprints are
    computed scan-side, the distinct-count shuffles (source, fp) pairs
    only — text never moves; the same two-level partial-agg shape as
    agg_distinct."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "text", "source"))
    fp = d.select("source", A.fingerprint_of(tokenize(F.col("text"))).alias("fp"))
    return (
        fp.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("fp").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            rz(F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_docs")).alias(
                "dup_rate"
            ),
        )
        .orderBy("source")
    )


@query("emb_mmr_select", oracle=None)
def emb_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversity rerank: exact cosine shortlist
    per query, then the greedy λ·rel − (1−λ)·redundancy selection in one
    grouped Arrow batch over the ≤shortlist candidates
    (operators/similarity.py:mmr_select). Rows-only: the greedy iteration
    is not SQL-expressible; pytest pins it against a pure-numpy reference
    and the diversity property vs plain top-k."""
    e = t(spark, sf_dir, "embeddings")
    return similarity.mmr_select(
        e, e.where(F.col("vec_id") < 5), k=5, lam=0.7, shortlist=25
    ).orderBy("query_id", "mmr_rank")


@query(
    "corpus_dsir_resample",
    oracle=f"""{_DSIR_CORE_SQL},
    hp1 AS (SELECT doc_id, n_tokens, dsir_logratio,
                   ((doc_id + 1000003) % 2147483648) * 2654435761 AS p1
            FROM wts),
    hp2 AS (SELECT doc_id, n_tokens, dsir_logratio,
                   (xor(p1 // 2147483648, p1) % 2147483648) * 2246822519 AS p2
            FROM hp1),
    acc AS (SELECT doc_id, n_tokens, dsir_logratio,
                   (p2 // 2147483648) % 1048576 AS h,
                   CAST(floor(least(1.0, exp(dsir_logratio)) * 1048576) AS BIGINT)
                     AS thresh
            FROM hp2)
    SELECT doc_id, n_tokens, dsir_logratio,
           {rz_sql('least(1.0, exp(dsir_logratio))')} AS accept_prob,
           (h < thresh) AS accepted
    FROM acc ORDER BY doc_id
    """,
)
def corpus_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR SELECTION step: importance-resample each document with
    acceptance probability min(1, exp(weight)) — docs that look more
    target-like than corpus-average always survive, off-target docs
    survive proportionally to their likelihood ratio (Xie et al. 2023
    run exactly this accept/reject over their weights). The uniform draw
    is the same DETERMINISTIC multiply-xorshift hash of doc_id as
    mixture_keep_expr (salt 1000003): reruns, retries, and
    repartitions accept identical rows, and the oracle reproduces the
    draw bit-for-bit. The threshold compares INTEGERS (h < floor(p·2^20))
    so engine ULP noise in exp() cannot flip a verdict unless p·2^20
    lands within one ULP of an integer (p is built from the 4-dp-rounded
    weight, so it never does). Scale shape: everything past the weights
    frame is a pure per-row projection — no new shuffle, no window."""
    wts = corpus_dsir_weights(spark, sf_dir)
    mod = 1 << 20
    x = (F.col("doc_id") + F.lit(1_000_003)) % F.lit(1 << 31)
    p1 = x * F.lit(2654435761)
    x2 = F.shiftrightunsigned(p1, 31).bitwiseXOR(p1) % F.lit(1 << 31)
    p2 = x2 * F.lit(2246822519)
    h = F.shiftrightunsigned(p2, 31) % F.lit(mod)
    p = F.least(F.lit(1.0), F.exp(F.col("dsir_logratio")))
    return wts.select(
        "doc_id",
        "n_tokens",
        "dsir_logratio",
        rz(p).alias("accept_prob"),
        (h < F.floor(p * mod).cast("long")).alias("accepted"),
    ).orderBy("doc_id")


@query(
    "text_quality_quantile_by_lang",
    oracle=f"""
    WITH tk AS (SELECT doc_id, lang, text, {TOKS} AS toks FROM documents),
    q AS (SELECT doc_id, lang,
                 round(0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
                     + 0.25 * (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text))
                     + 0.25 * (1.0 - CAST(len(list_filter(toks, x -> list_contains(['a','the','and','of','to','in','is','it'], x))) AS DOUBLE) / len(toks))
                     + 1e-8, 4) AS quality
          FROM tk WHERE len(toks) > 0 AND length(text) > 0)
    SELECT doc_id, lang, quality,
           {rz_sql('percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id)')}
             AS lang_pct_rank,
           CAST(ntile(10) OVER (PARTITION BY lang ORDER BY quality, doc_id)
                AS BIGINT) AS lang_decile
    FROM q ORDER BY doc_id
    """,
)
def text_quality_quantile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality normalization: percent-rank and decile of each
    document's composite quality score WITHIN its language — the filter
    calibration step for multilingual corpora, where one global threshold
    silently deletes whole languages (quality heuristics are
    language-biased: stopword lists, punctuation norms and length
    distributions all differ). Downstream keeps e.g. the top 70% per
    language instead of the top 70% overall. Ranking keys on the ROUNDED
    score with doc_id tiebreak so both engines order identically; scale
    shape: ONE window per language partition over (doc_id, lang, quality)
    triples — the text itself never shuffles."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "lang", "text"))
    tk = d.select(
        "doc_id", "lang", "text", tokenize(F.col("text")).alias("toks")
    ).where((F.size("toks") > 0) & (F.length("text") > 0))
    q = tk.select(
        "doc_id",
        "lang",
        F.round(A.quality_score_of(F.col("toks"), F.col("text")) + 1e-8, 4).alias(
            "quality"
        ),
    )
    w = Window.partitionBy("lang").orderBy(F.asc("quality"), F.asc("doc_id"))
    return q.select(
        "doc_id",
        "lang",
        "quality",
        rz(F.percent_rank().over(w)).alias("lang_pct_rank"),
        F.ntile(10).over(w).cast("long").alias("lang_decile"),
    ).orderBy("doc_id")


@query("emb_pca_whiten", oracle=None)
def emb_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA-whitened embeddings (operators/similarity.py:pca_whiten):
    decorrelate + variance-equalize before quantization/threshold reuse.
    Rows-only: the d×d eigendecomposition is not SQL-expressible; pytest
    pins the identity-covariance property, determinism, and shape. The
    whitened vector is emitted as ONE comma-joined STRING column — a raw
    array<double> column crashed the driver's pandas canonicalizer in r8
    (the same class as r7's emb_binary_signature BIGINT[]); the catalog
    contract is scalar-only output columns, now pinned for EVERY query
    (oracled or rows-only) by tests/test_plans.py."""
    e = t(spark, sf_dir, "embeddings")
    out = similarity.pca_whiten(e, out_col="white")
    return out.select(
        "vec_id",
        F.array_join(
            F.transform(F.col("white"), lambda x: F.round(x, 4).cast("string")),
            ",",
        ).alias("white_r"),
    ).orderBy("vec_id")


_SIG_SQL = similarity.binary_signature_sql("CAST(embedding AS DOUBLE[])")


@query(
    "emb_binary_signature",
    oracle=f"""
    WITH s AS (SELECT vec_id, {_SIG_SQL} AS sig FROM embeddings)
    SELECT vec_id, array_to_string(sig, ',') AS sig_words,
           CAST(list_sum(list_transform(sig, w -> bit_count(w))) AS BIGINT) AS n_set
    FROM s ORDER BY vec_id
    """,
)
def emb_binary_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed sign-bit signatures (operators/similarity.py:binary_quantize):
    1 bit per dimension, 62 bits per BIGINT word — the 32x-compressed scan
    tier of a two-stage binary index. The oracle packs with the identical
    portable layout (binary_signature_sql); the words are emitted as one
    comma-joined STRING column (integer-to-string is exact on both
    engines, and a scalar column is canon-safe for the driver's pandas
    sort — raw BIGINT[] output crashed its canonicalizer in r7); n_set
    (popcount) cross-checks the bit budget. Scale shape: one narrow
    projection, zero shuffles."""
    e = t(spark, sf_dir, "embeddings")
    sig = similarity.binary_quantize(e)
    return sig.select(
        "vec_id",
        F.array_join(F.expr("transform(sig, w -> cast(w as string))"), ",").alias(
            "sig_words"
        ),
        F.expr(
            "aggregate(transform(sig, w -> cast(bit_count(w) as bigint)), 0L, (a, v) -> a + v)"
        ).alias("n_set"),
    ).orderBy("vec_id")


def _recall_level_grid(spark, queries_df, levels, level_col):
    """(level × query_id) completeness grid shared by the ANN recall
    audits — queries with ZERO overlap at a level must still count in
    the denominators, so the per-query overlap frame is left-joined
    onto this grid, never aggregated bare."""
    return queries_df.select("query_id").crossJoin(
        spark.createDataFrame([(int(v),) for v in levels], f"{level_col} int")
    )


def _recall_summary(per_q, level_col, out_col, k=5, extra_aggs=(), extra_cols=()):
    """Shared recall-accounting tail of the ANN recall audits
    (emb_ivf_recall_audit, emb_hamming_recall_audit): per-level
    n_queries / mean_recall@k / min_recall / full_recall_share with the
    rz6 rounding + BIGINT-cast output conventions in ONE place, so a fix
    to a denominator or rounding cannot silently apply to one audit and
    not the other. ``extra_aggs``/``extra_cols`` thread audit-specific
    columns (the IVF candidate-share) through the same groupBy."""
    nq = F.count(F.lit(1))
    return (
        per_q.groupBy(level_col)
        .agg(
            nq.cast("long").alias("n_queries"),
            rz6(F.sum("overlap").cast("double") / (F.lit(float(k)) * nq)).alias(
                "mean_recall"
            ),
            rz6(F.min("overlap").cast("double") / F.lit(float(k))).alias(
                "min_recall"
            ),
            rz6(
                F.count(F.when(F.col("overlap") == k, 1)).cast("double") / nq
            ).alias("full_recall_share"),
            *extra_aggs,
        )
        .select(
            F.col(level_col).cast("long").alias(out_col),
            "n_queries",
            "mean_recall",
            "min_recall",
            "full_recall_share",
            *extra_cols,
        )
        .orderBy(out_col)
    )


@query(
    "emb_hamming_topk",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT query_id, vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, len(qv) + 1),
                  i -> CASE WHEN (qv[i] > 0) <> (v[i] > 0) THEN 1 ELSE 0 END)) AS BIGINT)
               AS hamming
      FROM q CROSS JOIN e WHERE vec_id <> query_id)
    SELECT query_id, neighbor_id, hamming, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY hamming, neighbor_id) AS BIGINT) AS rank
      FROM scored)
    WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def emb_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming top-5 over packed sign bits (operators/similarity.py:
    hamming_topk): XOR + popcount per 62-bit word, all JVM codegen — the
    cheapest ANN tier, scanning dim/8 bytes per vector instead of dim*4.
    The oracle counts sign mismatches directly on the float lists
    (packing-independent ground truth), so a packing bug cannot cancel
    out of both sides. Integer distances tie often; neighbor_id tiebreak
    pins determinism."""
    e = t(spark, sf_dir, "embeddings")
    return similarity.hamming_topk(e, e.where(F.col("vec_id") < 5), k=5).orderBy(
        "query_id", "rank"
    )


@query(
    "emb_hamming_recall_audit",
    oracle="""
    WITH lv AS (SELECT unnest([5, 10, 25, 50]) AS m),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 100),
    ham AS (
      SELECT query_id, vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, len(qv) + 1),
                  i -> CASE WHEN (qv[i] > 0) <> (v[i] > 0) THEN 1 ELSE 0 END))
               AS BIGINT) AS hamming,
             round(list_cosine_similarity(qv, v), 6) AS sim
      FROM q CROSS JOIN e WHERE vec_id <> query_id),
    sl AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY hamming, neighbor_id) AS h_rank
      FROM ham),
    exact5 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rk
        FROM ham) WHERE rk <= 5),
    lvl AS (
      SELECT l.m, s.query_id, s.neighbor_id, s.sim
      FROM sl s CROSS JOIN lv l WHERE s.h_rank <= l.m),
    t5 AS (
      SELECT m, query_id, neighbor_id FROM (
        SELECT m, query_id, neighbor_id,
               row_number() OVER (PARTITION BY m, query_id
                                  ORDER BY sim DESC, neighbor_id) AS rk
        FROM lvl) WHERE rk <= 5),
    ov AS (
      SELECT t.m, t.query_id, count(*) AS overlap
      FROM t5 t JOIN exact5 x USING (query_id, neighbor_id)
      GROUP BY t.m, t.query_id),
    grid AS (SELECT l.m, q.query_id FROM q CROSS JOIN lv l),
    per_q AS (
      SELECT g.m, g.query_id, coalesce(o.overlap, 0) AS overlap
      FROM grid g LEFT JOIN ov o ON o.m = g.m AND o.query_id = g.query_id)
    SELECT CAST(m AS BIGINT) AS shortlist_m,
           CAST(count(*) AS BIGINT) AS n_queries,
           (round(CAST(sum(overlap) AS DOUBLE) / (5.0 * count(*)) + 1e-9, 6)
             + 0.0) AS mean_recall,
           (round(CAST(min(overlap) AS DOUBLE) / 5.0 + 1e-9, 6) + 0.0)
             AS min_recall,
           (round(CAST(count(*) FILTER (overlap = 5) AS DOUBLE) / count(*)
                  + 1e-9, 6) + 0.0) AS full_recall_share
    FROM per_q GROUP BY m ORDER BY shortlist_m
    """,
)
def emb_hamming_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 curve of the TWO-STAGE binary retrieval path — hamming
    shortlist of m candidates (packed sign bits, XOR+popcount scan),
    exact-cosine rerank, top-5 — against the full-precision exact top-5,
    at shortlist sizes m ∈ {5,10,25,50}. This is the quality half of the
    bench's hamming-vs-cosine cost A/B (`hamming_over_cosine` ~0.9-1.0
    at local SFs; the 32× byte-compression payoff is at memory-bound
    scale): a deployment reads this table to pick the smallest shortlist
    whose recall clears its bar. Unlike the IVF audit there is no
    exhaustive row (m=50 is 10% of the 500-vector fixture; sf0.01 reads
    mean recall 0.218→0.698 across the curve — sign bits are a lossy
    tier, which is exactly what the table quantifies); the in-band
    sentinel here is monotonicity BY CONSTRUCTION: shortlists are
    nested in m, so every recall column must be non-decreasing
    (pytest-pinned, alongside a planted-cluster fixture where tight
    sign-aligned clusters force 1.0 at every m).

    Fully driver-oracled for the same reason as emb_ivf_recall_audit:
    the sign-bit quantizer is a closed form of the data — the oracle
    counts sign mismatches directly on the float lists
    (packing-independent, so a packing bug cannot cancel out of both
    sides, the emb_hamming_topk convention), ranks with the identical
    (hamming, id) and (round(sim,6) DESC, id) total orders, and recall
    reduces to integer set intersections.

    Scale shape: ONE hamming scan (the binary tier's full-scan job —
    dim/8 bytes per vector), one top-50 two-phase shortlist, one
    shortlist-sized (≤ 50·|queries| rows) rerank join against the float
    vectors, and bounded windows per (m, query). The exact baseline is
    |queries|×N like every recall measurement; queries bounded to 100 by
    the emb_knn_distance_outliers convention. (An r16 experiment merged
    the two pair passes into one scan computing both distances behind a
    pin — measured FLAT at sf0.1 and it materializes the |queries|×N
    pair frame, which the two-pass shape never does; rejected on the
    scale contract.)"""
    e0 = spread(t(spark, sf_dir, "embeddings"))
    qf = e0.where(F.col("vec_id") < 100)
    # one hamming scan -> top-50 shortlist WITH hamming rank attached
    sl = similarity.hamming_topk(e0, qf, k=50).withColumnRenamed("rank", "h_rank")
    full = similarity.with_vec_norm(
        e0.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "embedding", vec_out="c_vec", norm_out="c_nrm",
    ).select("neighbor_id", "c_vec", "c_nrm")
    qv = F.broadcast(
        similarity.with_vec_norm(
            qf.select(F.col("vec_id").alias("query_id"), "embedding"),
            "embedding", vec_out="q_vec", norm_out="q_nrm",
        ).select("query_id", "q_vec", "q_nrm")
    )
    rescored = (
        sl.join(full, "neighbor_id")
        .join(qv, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "h_rank",
            F.round(
                similarity.dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_nrm") * F.col("c_nrm")),
                6,
            ).alias("sim"),
        )
    )
    lvl = rescored.select(
        "*", F.explode(F.array(*[F.lit(m) for m in (5, 10, 25, 50)])).alias("m")
    ).where(F.col("h_rank") <= F.col("m"))
    order = [F.col("sim").desc(), F.col("neighbor_id")]
    w2 = Window.partitionBy("m", "query_id").orderBy(*order)
    t5 = (
        lvl.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= 5)
        .select("m", "query_id", "neighbor_id")
    )
    exact5 = similarity.cosine_topk(e0, qf, k=5).select("query_id", "neighbor_id")
    ov = (
        t5.join(F.broadcast(exact5), ["query_id", "neighbor_id"])
        .groupBy("m", "query_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    grid = _recall_level_grid(
        spark, qf.select(F.col("vec_id").alias("query_id")), (5, 10, 25, 50), "m"
    )
    per_q = grid.join(F.broadcast(ov), ["m", "query_id"], "left").select(
        "m", "query_id", F.coalesce("overlap", F.lit(0)).alias("overlap")
    )
    return _recall_summary(per_q, "m", "shortlist_m")


@query(
    "text_quality_ks_drift",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source, text, {TOKS} AS toks FROM documents),
    sc AS (SELECT source,
                  round(0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
                      + 0.25 * (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text))
                      + 0.25 * (1.0 - CAST(len(list_filter(toks, x -> list_contains(['a','the','and','of','to','in','is','it'], x))) AS DOUBLE) / len(toks))
                      + 1e-8, 4) AS q
           FROM tk WHERE len(toks) > 0 AND length(text) > 0),
    ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM sc GROUP BY source),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sc),
    cnt AS (SELECT source, q, count(*) AS c FROM sc GROUP BY source, q),
    grid AS (
      SELECT s.source, p.q, coalesce(c.c, 0) AS c
      FROM (SELECT DISTINCT source FROM sc) s
      CROSS JOIN (SELECT DISTINCT q FROM sc) p
      LEFT JOIN cnt c ON c.source = s.source AND c.q = p.q),
    cum AS (
      SELECT source, q,
             sum(c) OVER (PARTITION BY source ORDER BY q) AS cum_s
      FROM grid),
    cumall AS (
      SELECT q, sum(c) OVER (ORDER BY q) AS cum_all
      FROM (SELECT q, sum(c) AS c FROM grid GROUP BY q)),
    ks AS (
      SELECT cum.source,
             max(abs(CAST(cum.cum_s AS DOUBLE) / ns.n_s
                     - CAST(cumall.cum_all - cum.cum_s AS DOUBLE) / (tot.n - ns.n_s)))
               AS ks_raw
      FROM cum JOIN cumall USING (q) JOIN ns ON ns.source = cum.source, tot
      GROUP BY cum.source)
    SELECT source, n_s, {rz_sql('ks_raw')} AS ks
    FROM ks JOIN ns USING (source)
    ORDER BY ks DESC, source
    """,
)
def text_quality_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: EXACT two-sample Kolmogorov-Smirnov
    statistic of each source's quality-score distribution against all
    other sources pooled — the per-source alarm a production corpus
    pipeline watches between snapshots (a source whose crawler broke
    shifts its whole CDF, which KS catches even when the mean doesn't
    move). Exact, not sampled: scores are 4dp-rounded, so the
    source x distinct-score grid is bounded (|sources| * <=10^4 points)
    no matter the corpus size — cumulative counts come from one window
    per source partition plus one GLOBAL window that is safe despite its
    single-partition execution because it runs over the per-score rollup
    (<=10^4 rows by construction), and every division is integer/integer,
    so both engines agree to the bit before the final rounding."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    tk = d.select(
        "source", "text", tokenize(F.col("text")).alias("toks")
    ).where((F.size("toks") > 0) & (F.length("text") > 0))
    sc = tk.select(
        "source",
        F.round(A.quality_score_of(F.col("toks"), F.col("text")) + 1e-8, 4).alias("q"),
    )
    ns = sc.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    n_total = sc.agg(F.count(F.lit(1)).alias("n"))
    cnt = sc.groupBy("source", "q").agg(F.count(F.lit(1)).alias("c"))
    grid = (
        sc.select("source").distinct()
        .crossJoin(sc.select("q").distinct())
        .join(cnt, ["source", "q"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    w_s = Window.partitionBy("source").orderBy("q")
    cum = grid.withColumn("cum_s", F.sum("c").over(w_s))
    per_q = grid.groupBy("q").agg(F.sum("c").alias("cq"))
    w_all = Window.orderBy("q")
    cumall = per_q.withColumn("cum_all", F.sum("cq").over(w_all)).select("q", "cum_all")
    ks = (
        cum.join(cumall, "q")
        .join(ns, "source")
        .crossJoin(F.broadcast(n_total))
        .groupBy("source", "n_s")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_s").cast("double") / F.col("n_s")
                    - (F.col("cum_all") - F.col("cum_s")).cast("double")
                    / (F.col("n") - F.col("n_s"))
                )
            ).alias("ks_raw")
        )
    )
    return (
        ks.select("source", F.col("n_s").cast("long").alias("n_s"), rz(F.col("ks_raw")).alias("ks"))
        .orderBy(F.col("ks").desc(), "source")
    )


@query(
    "emb_centroid_drift",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, vec_id % 2 AS snap,
                      CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    dims AS (
      SELECT label, snap, generate_subscripts(v, 1) AS d, unnest(v) AS x
      FROM e),
    cent AS (
      SELECT label, snap, d, avg(x) AS m
      FROM dims GROUP BY label, snap, d),
    paired AS (
      SELECT a.label, a.d, a.m AS ma, b.m AS mb
      FROM cent a JOIN cent b ON a.label = b.label AND a.d = b.d
      WHERE a.snap = 0 AND b.snap = 1),
    agg AS (
      SELECT label,
             sum(ma * mb) AS dot, sqrt(sum(ma * ma)) AS na, sqrt(sum(mb * mb)) AS nb,
             sqrt(sum((ma - mb) * (ma - mb))) AS shift
      FROM paired GROUP BY label),
    cnts AS (
      SELECT label,
             CAST(sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM e GROUP BY label)
    SELECT label, n_a, n_b,
           {rz_sql('dot / (na * nb)', nudge='1e-8')} AS centroid_cosine,
           {rz_sql('shift', nudge='1e-8')} AS centroid_shift_l2
    FROM agg JOIN cnts USING (label)
    ORDER BY label
    """,
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor between two corpus snapshots (halves
    by vec_id parity here; in production, yesterday's batch vs today's):
    per label, the cosine between snapshot centroids and the L2 centroid
    shift — the standard early-warning that an upstream embedding model
    or data mix changed. Scale shape: ONE posexplode + ONE
    (label, snap, dim)-keyed aggregate — the d-dimensional centroids are
    |labels| * 2 * d rows however big the corpus; everything downstream
    is dimension-table sized."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", (F.col("vec_id") % 2).alias("snap"), "embedding"
    )
    dims = e.select(
        "label", "snap", F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x")
    )
    cent = dims.groupBy("label", "snap", "d").agg(F.avg("x").alias("m"))
    a = cent.where(F.col("snap") == 0).select("label", "d", F.col("m").alias("ma"))
    b = cent.where(F.col("snap") == 1).select("label", "d", F.col("m").alias("mb"))
    agg = (
        a.join(b, ["label", "d"])
        .groupBy("label")
        .agg(
            F.sum(F.col("ma") * F.col("mb")).alias("dot"),
            F.sqrt(F.sum(F.col("ma") * F.col("ma"))).alias("na"),
            F.sqrt(F.sum(F.col("mb") * F.col("mb"))).alias("nb"),
            F.sqrt(F.sum((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")))).alias("shift"),
        )
    )
    cnts = e.groupBy("label").agg(
        F.sum(F.when(F.col("snap") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("snap") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    return (
        agg.join(cnts, "label")
        .select(
            "label",
            "n_a",
            "n_b",
            rz(F.col("dot") / (F.col("na") * F.col("nb")), nudge=1e-8).alias("centroid_cosine"),
            rz(F.col("shift"), nudge=1e-8).alias("centroid_shift_l2"),
        )
        .orderBy("label")
    )


@query(
    "emb_gram_matrix",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    pairs AS (
      SELECT a.i AS i, b.i AS j, a.v * b.v AS p
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i)
    SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
           {rz_sql('sum(p)', nudge='1e-8')} AS g
    FROM pairs GROUP BY i, j ORDER BY i, j
    """,
)
def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram matrix Xᵀ X of the embedding corpus
    (operators/similarity.py:gram_matrix): one numpy matmul per Arrow
    batch, d(d+1)/2 upper-triangle partials per partition, a
    d²-sized final reduce — N never crosses the shuffle. The ORACLE is
    the naive N·d² explode-pair join, so the map-side-reduction plan must
    reproduce the brute-force sums (to the rounding nudge — partial-sum
    order differs by design)."""
    from sec_dl_spark.operators.similarity import gram_matrix

    e = t(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("embedding")
    )
    g = gram_matrix(e, "embedding")
    return g.select(
        "i", "j", rz(F.col("g"), nudge=1e-8).alias("g")
    ).orderBy("i", "j")


@query(
    "corpus_concat_chunks",
    oracle=f"""
    WITH tk AS (SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id) AS cum
      FROM tk WHERE n_tokens > 0)
    SELECT doc_id, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS start_off,
           CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_first,
           CAST((cum - 1) // 256 AS BIGINT) AS seq_last,
           CAST((cum - n_tokens) % 256 AS BIGINT) AS off_in_seq,
           CAST((cum - 1) // 256 - (cum - n_tokens) // 256 + 1 AS BIGINT) AS n_seqs
    FROM c ORDER BY doc_id
    """,
)
def corpus_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing into 256-token training sequences
    (operators/relational.py:concat_chunk_sequences) — the layout step between a
    deduped corpus and the tokenizer shards: documents concatenate in
    doc_id order and the token stream cuts at fixed boundaries, so every
    doc knows its global offset, its first/last sequence id, and its
    offset inside the first sequence. The global prefix sum is the
    distributed global_cumsum (range exchange + per-partition running sum
    + broadcast offsets) — never a single-partition ORDER BY window, which
    is what the oracle's `sum() OVER (ORDER BY doc_id)` would be verbatim
    and what 100 TB forbids. All-integer arithmetic, byte-exact."""
    from sec_dl_spark.operators.relational import concat_chunk_sequences

    tk = tok_docs(spark, sf_dir).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    return concat_chunk_sequences(tk, [F.col("doc_id")], "n_tokens", seq_len=256).orderBy("doc_id")


# Shared oracle CTE chain for the hybrid-retrieval family: BM25 top-20 +
# cosine top-20 fused by reciprocal rank (fts_hybrid_rrf consumes it
# directly; fts_rerank_crossencoder reranks its top-10).
_RRF_CTES = f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    hits AS (
      SELECT doc_id, t.term, len(list_filter(toks, x -> x = t.term)) AS tf
      FROM tk, (SELECT unnest(['spark', 'sort', 'vector']) AS term) t
      WHERE list_contains(toks, t.term)),
    dfs AS (SELECT term, count(*) AS df FROM hits GROUP BY term),
    bm AS (
      SELECT h.doc_id,
             round(sum(
               ln((stats.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (h.tf * 2.2) / (h.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
             ), 6) AS score
      FROM hits h, dfs d, dl, stats
      WHERE h.term = d.term AND h.doc_id = dl.doc_id
      GROUP BY h.doc_id),
    bmr AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
      FROM bm QUALIFY r <= 20),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    cs AS (
      SELECT vec_id AS doc_id,
             round(list_cosine_similarity(qv, CAST(embedding AS DOUBLE[])), 6) AS sim
      FROM embeddings, q WHERE vec_id <> 0),
    csr AS (
      SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS r
      FROM cs QUALIFY r <= 20),
    fused AS (
      SELECT coalesce(bmr.doc_id, csr.doc_id) AS doc_id,
             coalesce(1.0 / (60 + bmr.r), 0.0) + coalesce(1.0 / (60 + csr.r), 0.0)
               AS rrf_score,
             (bmr.doc_id IS NOT NULL) AS in_text,
             (csr.doc_id IS NOT NULL) AS in_vector
      FROM bmr FULL OUTER JOIN csr ON bmr.doc_id = csr.doc_id)
    """


@query(
    "fts_hybrid_rrf",
    oracle=_RRF_CTES
    + """
    SELECT doc_id, rrf_score, in_text, in_vector,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank
    FROM fused QUALIFY rank <= 10 ORDER BY rank
    """,
)
def fts_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — lexical BM25 and dense-vector cosine candidate
    lists fused with reciprocal-rank fusion (score = Σ 1/(60 + rank), the
    standard RRF constant): the composition every RAG/serving stack runs
    over exactly the two index structures this engine already maintains
    (the inverted posting table and the embedding table). Ranks are
    integers, so 1/(60+r) is one identical IEEE division per engine and
    the fused ordering is deterministic. Both 20-deep candidate lists are
    tiny (top-k bounded), so the fusion join is a broadcast — the heavy
    lifting stays in the index scans."""
    postings, stats = fts_index(spark, sf_dir)
    bm = fts.search_bm25(postings, ["spark", "sort", "vector"], k=20, stats=stats).select(
        "doc_id", F.col("rank").alias("_rb")
    )
    e = t(spark, sf_dir, "embeddings")
    cs = similarity.cosine_topk(e, e.where(F.col("vec_id") == 0), k=20).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("_rc")
    )
    fused = bm.join(cs, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(1.0 / (F.col("_rb") + 60), F.lit(0.0))
            + F.coalesce(1.0 / (F.col("_rc") + 60), F.lit(0.0))
        ).alias("rrf_score"),
        F.col("_rb").isNotNull().alias("in_text"),
        F.col("_rc").isNotNull().alias("in_vector"),
    )
    w = Window.orderBy(F.col("rrf_score").desc(), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .orderBy("rank")
    )


@query(
    "text_boilerplate_removal",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    base AS (SELECT doc_id, toks, len(toks) AS n,
                    CAST(len(toks) // 8 AS BIGINT) AS n8 FROM tk),
    tiles AS (
      SELECT doc_id, CAST(i AS BIGINT) AS tile_idx,
             array_to_string(toks[i*8+1 : i*8+8], ' ') AS passage
      FROM base, UNNEST(range(n8)) AS u(i)),
    boil AS (SELECT passage FROM tiles GROUP BY passage
             HAVING count(DISTINCT doc_id) >= 2),
    flagged AS (
      SELECT t.doc_id, t.tile_idx, t.passage, (b.passage IS NOT NULL) AS is_boil
      FROM tiles t LEFT JOIN boil b ON t.passage = b.passage),
    kept AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tiles,
             CAST(sum(CASE WHEN is_boil THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             string_agg(CASE WHEN NOT is_boil THEN passage END, ' ' ORDER BY tile_idx)
               AS kept_text
      FROM flagged GROUP BY doc_id),
    tails AS (SELECT doc_id, array_to_string(toks[n8*8+1 : n], ' ') AS tail FROM base)
    SELECT b.doc_id,
           CAST(coalesce(k.n_tiles, 0) AS BIGINT) AS n_tiles,
           CAST(coalesce(k.n_removed, 0) AS BIGINT) AS n_removed,
           coalesce(array_to_string(
             list_filter([coalesce(k.kept_text, ''), coalesce(t.tail, '')],
                         x -> x <> ''), ' '), '')
             AS clean_text
    FROM base b
    LEFT JOIN kept k ON b.doc_id = k.doc_id
    JOIN tails t ON b.doc_id = t.doc_id
    ORDER BY b.doc_id
    """,
)
def text_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/C4-style cross-document boilerplate strip
    (operators/dedup.py:strip_boilerplate_passages): 8-token passages that
    recur in ≥2 distinct documents are removed and every document is
    rebuilt from its surviving passages (+ sub-tile tail) in order — the
    cleaning rewrite that runs AFTER dedup keeps whole documents but
    repeated headers/footers still pollute the corpus. The df aggregate is
    keyed by xxhash64(passage) so the counting exchange moves 8-byte keys;
    text shuffles once, in the unavoidable per-document reassembly."""
    tk = tok_docs(spark, sf_dir)
    return dedup.strip_boilerplate_passages(tk, tile=8, min_df=2).orderBy("doc_id")


@query(
    "graph_pagerank_neardup",
    oracle="""
    WITH tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents),
    dtiles AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i*8+1 : i*8+8], ' ') AS passage
      FROM tk, UNNEST(range(CAST(len(toks) // 8 AS BIGINT))) AS u(i)),
    shared AS (SELECT passage FROM dtiles GROUP BY passage
               HAVING count(*) BETWEEN 2 AND 20),
    edges AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM dtiles a
      JOIN shared USING (passage)
      JOIN dtiles b ON a.passage = b.passage AND a.doc_id <> b.doc_id),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS id FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    p0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS pr FROM nodes),

    p1 AS (
      SELECT n.id, CAST(150000000 + (85 * coalesce(s.acc, 0)) // 100 AS BIGINT) AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS id, CAST(sum(p.pr // d.deg) AS BIGINT) AS acc
        FROM edges e JOIN p0 p ON e.src = p.id JOIN deg d ON e.src = d.src
        GROUP BY e.dst) s ON n.id = s.id),
    p2 AS (
      SELECT n.id, CAST(150000000 + (85 * coalesce(s.acc, 0)) // 100 AS BIGINT) AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS id, CAST(sum(p.pr // d.deg) AS BIGINT) AS acc
        FROM edges e JOIN p1 p ON e.src = p.id JOIN deg d ON e.src = d.src
        GROUP BY e.dst) s ON n.id = s.id),
    p3 AS (
      SELECT n.id, CAST(150000000 + (85 * coalesce(s.acc, 0)) // 100 AS BIGINT) AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS id, CAST(sum(p.pr // d.deg) AS BIGINT) AS acc
        FROM edges e JOIN p2 p ON e.src = p.id JOIN deg d ON e.src = d.src
        GROUP BY e.dst) s ON n.id = s.id),
    p4 AS (
      SELECT n.id, CAST(150000000 + (85 * coalesce(s.acc, 0)) // 100 AS BIGINT) AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS id, CAST(sum(p.pr // d.deg) AS BIGINT) AS acc
        FROM edges e JOIN p3 p ON e.src = p.id JOIN deg d ON e.src = d.src
        GROUP BY e.dst) s ON n.id = s.id),
    p5 AS (
      SELECT n.id, CAST(150000000 + (85 * coalesce(s.acc, 0)) // 100 AS BIGINT) AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS id, CAST(sum(p.pr // d.deg) AS BIGINT) AS acc
        FROM edges e JOIN p4 p ON e.src = p.id JOIN deg d ON e.src = d.src
        GROUP BY e.dst) s ON n.id = s.id)
    SELECT id AS doc_id, pr AS pr_int FROM p5 ORDER BY doc_id
    """,
)
def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the shared-passage duplication graph — an edge links
    two documents sharing a distinct 8-token tile that 2-20 documents
    carry (the max_df cap keeps universal boilerplate from densifying the
    graph) — 5 Pregel-style iterations of join + aggregate via
    operators/graph.py:pagerank_fixed_point. Edge generation is
    posting-keyed co-occurrence, the LINEAR candidate plan; the first
    version of this query built edges from label-blocked all-pairs
    cosine, and the 10x probe measured 55x — blocks grow with the corpus,
    so blocked all-pairs is quadratic no matter how cheap the pair
    predicate (the r6 semantic-dedup lesson, relearned on graphs). Ranks
    are FIXED-POINT integers (scaled 1e9, damping as the exact 85/100
    ratio), so every iteration is summation-order-independent and matches
    the oracle's unrolled CTE chain byte-for-byte. Centrality scores how
    hub-like a document is inside its duplication neighborhood (high
    rank = canonical candidate)."""
    from sec_dl_spark.operators.graph import pagerank_fixed_point

    tk = tok_docs(spark, sf_dir).where(F.size("toks") >= 8)
    dtiles = tk.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) div 8 - 1), "
                "i -> concat_ws(' ', slice(toks, i*8+1, 8)))"
            )
        ).alias("passage"),
    ).distinct()
    shared = (
        dtiles.groupBy("passage")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where((F.col("_df") >= 2) & (F.col("_df") <= 20))
        .select("passage")
    )
    a = dtiles.join(shared, "passage")
    b = dtiles.select(F.col("doc_id").alias("_dst"), "passage")
    edges = (
        a.join(b, "passage")
        .where(F.col("doc_id") != F.col("_dst"))
        .select(F.col("doc_id").alias("src"), F.col("_dst").alias("dst"))
        .distinct()
    )
    return (
        # persist_every=2 truncates the rank lineage mid-iteration so the
        # final plan stays bounded (without it the 5-iteration unrolled
        # lineage compiled to ~850 exchanges at sf0.01 — same result,
        # quintupled plan)
        pagerank_fixed_point(edges, iterations=5, persist_every=2)
        .select(F.col("id").alias("doc_id"), "pr_int")
        .orderBy("doc_id")
    )


@query(
    "dedup_prefix_filter_pairs",
    oracle=f"""
    WITH tk AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, lang,
                  list_sort(list_distinct(list_transform(range(len(toks) - 2),
                    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS s
           FROM tk WHERE len(toks) >= 3),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.s, b.s)) AS inter,
             len(a.s) AS na, len(b.s) AS nb
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id)
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
    FROM pairs WHERE 3 * inter >= na + nb
    ORDER BY id_a, id_b
    """,
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-set Jaccard ≥ 1/2 pairs via PPJoin prefix filtering
    (operators/dedup.py:prefix_filter_jaccard_pairs): candidates come only
    from each document's rarest-first prefix shingles, so the candidate
    join never keys on a frequent shingle — the skew-proof alternative to
    full posting co-occurrence, verified here against the oracle's
    quadratic ground truth (lang-blocked). The threshold is the integer
    predicate 3·|A∩B| ≥ |A|+|B| — float-free, byte-deterministic."""
    d = t(spark, sf_dir, "documents")
    return dedup.prefix_filter_jaccard_pairs(
        d, block_col="lang", n=3, t_num=1, t_den=2
    ).orderBy("id_a", "id_b")


@query(
    "fts_rerank_crossencoder",
    oracle=_RRF_CTES
    + f"""
    , shortlist AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rrf_rank
      FROM fused QUALIFY rrf_rank <= 10),
    scored AS (
      SELECT s.doc_id, s.rrf_rank,
             CAST(len(list_intersect(['spark', 'sort', 'vector'],
                                     list_distinct({TOKS}))) AS DOUBLE) AS ce_score
      FROM shortlist s JOIN documents USING (doc_id))
    SELECT doc_id, ce_score, rrf_rank,
           CAST(row_number() OVER (ORDER BY ce_score DESC, doc_id) AS BIGINT) AS rank
    FROM scored ORDER BY rank
    """,
)
def fts_rerank_crossencoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: the RRF top-10 shortlist re-scored by a
    cross-encoder stage (operators/fts.py:crossencoder_rerank) reading
    (query, document) pairs through mapInPandas Arrow batches — the
    serving pattern where a model too expensive for first-stage retrieval
    reranks a bounded candidate list. The default scorer is the
    deterministic token-overlap stand-in, so the whole pipeline (retrieve
    → fuse → join texts → batch-score → rerank) is oracle-checked
    end-to-end; swapping in a real model changes only the scorer
    callable."""
    shortlist = fts_hybrid_rrf(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("rrf_rank")
    )
    pairs = shortlist.join(
        t(spark, sf_dir, "documents").select("doc_id", F.col("text").alias("doc_text")),
        "doc_id",
    ).withColumn("query_text", F.lit("spark sort vector"))
    scored = fts.crossencoder_rerank(pairs)
    w = Window.orderBy(F.col("ce_score").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("doc_id", "ce_score", "rrf_rank", "rank")
        .orderBy("rank")
    )


@query(
    "corpus_source_overlap",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
    dt AS (
      SELECT DISTINCT source, array_to_string(toks[i*8+1 : i*8+8], ' ') AS p
      FROM tk, UNNEST(range(CAST(len(toks) // 8 AS BIGINT))) AS u(i))
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_passages
    FROM dt a JOIN dt b ON a.p = b.p AND a.source < b.source
    GROUP BY a.source, b.source ORDER BY source_a, source_b
    """,
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how many
    distinct 8-token passages appear in BOTH feeds — the provenance audit
    that tells a corpus team which sources mirror each other (at passage
    granularity, where mirroring actually shows up — exact whole-document
    cross-source dups are near-zero in this corpus). Tiles never leave
    the per-source distinct projection as text: the pair join keys on
    xxhash64(passage) (8-byte exchange; a collision adds one count to a
    cell of an audit matrix — acceptable for a diagnostic, and the
    string-keyed plan is a one-line swap); output is |sources|²-bounded."""
    tk = tok_docs(spark, sf_dir).where(F.size("toks") >= 8)
    src = t(spark, sf_dir, "documents").select("doc_id", "source")
    dt = (
        tk.join(src, "doc_id")
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) div 8 - 1), "
                    "i -> concat_ws(' ', slice(toks, i*8+1, 8)))"
                )
            ).alias("p"),
        )
        .select("source", F.xxhash64("p").alias("_pk"))
        .distinct()
    )
    b = dt.select(F.col("source").alias("source_b"), "_pk")
    return (
        dt.join(b, "_pk")
        .where(F.col("source") < F.col("source_b"))
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_passages"))
        .orderBy("source_a", "source_b")
    )


@query(
    "emb_rank_normalize",
    oracle="""
    WITH x AS (
      SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
             unnest(range(len(embedding))) AS dim
      FROM embeddings WHERE vec_id < 200),
    r AS (
      SELECT vec_id, dim,
             percent_rank() OVER (PARTITION BY dim ORDER BY v, vec_id) AS pr
      FROM x)
    SELECT vec_id, CAST(dim AS BIGINT) AS dim, pr
    FROM r ORDER BY vec_id, dim
    """,
)
def emb_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension rank (quantile) normalization of the embedding matrix
    — the distribution-free feature transform that makes dimensions
    comparable before indexing or drift tests: each value becomes its
    percent_rank within its dimension. Total order (v, vec_id) makes the
    ranks distinct, so percent_rank is an integer-derived division and
    byte-exact cross-engine. The normalized vector is reassembled (the
    operator's real output contract) and then re-exploded to scalar
    (vec_id, dim, pr) rows for the oracle compare — the driver's
    canonicalizer cannot sort DOUBLE[] columns (the r7
    emb_binary_signature crash class), so no oracled query emits arrays.
    Plan: one posexplode, one window per dimension (|dims| bounded
    partitions), one per-vector reassembly — at real scale the per-dim
    sort swaps for equidepth binning on global_rank, same output
    contract."""
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    x = e.select("vec_id", F.posexplode("embedding").alias("dim", "_v")).select(
        "vec_id", "dim", F.col("_v").cast("double").alias("v")
    )
    w = Window.partitionBy("dim").orderBy("v", "vec_id")
    r = x.select("vec_id", "dim", F.percent_rank().over(w).alias("pr"))
    ranked = r.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "pr"))),
            lambda s: s["pr"],
        ).alias("ranked")
    )
    return ranked.select(
        "vec_id", F.posexplode("ranked").alias("dim", "pr")
    ).select("vec_id", F.col("dim").cast("long").alias("dim"), "pr").orderBy(
        "vec_id", "dim"
    )


@query("multimodal_image_phash", oracle=None)
def multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pass over the REAL raster pipeline
    (operators/multimodal.py:perceptual_hash): deterministic 16×16 P6 PPM
    images are synthesized from each document's bytes (the container has
    no image fixtures or codecs — the encode is a mapInPandas stage with
    the same Arrow batch shape a reader would have), aHash'd on the real
    decode path, then near-dup pairs counted at Hamming ≤ 8 over the
    64-bit hashes via the banded hamming_pairs machinery. Rows-only (a
    PPM encode is not SQL-expressible); the hash itself is pinned
    bit-for-bit by the numpy-reference pytest."""
    from sec_dl_spark.operators.dedup import hamming_pairs
    from sec_dl_spark.operators.multimodal import perceptual_hash

    d = t(spark, sf_dir, "documents").select("doc_id", "text")

    import pandas as pd

    def to_ppm(batches):
        for pdf in batches:
            out = {"media_id": [], "kind": [], "content": []}
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode()
                need = 16 * 16 * 3
                rgb = (raw * (need // len(raw) + 1))[:need]
                out["media_id"].append(did)
                out["kind"].append("ppm")
                out["content"].append(b"P6\n16 16\n255\n" + rgb)
            yield pd.DataFrame(out)

    media = d.mapInPandas(
        to_ppm, schema="media_id long, kind string, content binary"
    )
    hashed = perceptual_hash(media).select(
        F.col("media_id").alias("doc_id"), F.col("ahash").alias("simhash")
    )
    pairs = hamming_pairs(hashed, max_distance=8, band_bits=7)
    return pairs.orderBy(pairs.columns[0], pairs.columns[1])


@query(
    "fts_ranked_paged",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    hits AS (
      SELECT doc_id, t.term, len(list_filter(toks, x -> x = t.term)) AS tf
      FROM tk, (SELECT unnest(['spark', 'sort', 'vector']) AS term) t
      WHERE list_contains(toks, t.term)),
    dfs AS (SELECT term, count(*) AS df FROM hits GROUP BY term),
    scored AS (
      SELECT h.doc_id,
             round(sum(
               ln((stats.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (h.tf * 2.2) / (h.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
             ), 6) AS score
      FROM hits h, dfs d, dl, stats
      WHERE h.term = d.term AND h.doc_id = dl.doc_id
      GROUP BY h.doc_id)
    SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
    FROM scored QUALIFY rank BETWEEN 11 AND 20 ORDER BY rank
    """,
)
def fts_ranked_paged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page 2 of a BM25 result list (ranks 11-20) — offset pagination off
    the scale-safe top-k path: search_bm25 fetches the first
    offset+page_size rows via orderBy().limit() (TakeOrderedAndProject —
    parallel partial top-k, never an unpartitioned whole-corpus window),
    and the page is a rank-range filter over those 20 surviving rows.
    Deep pagination stays bounded: page p costs a top-(p·size), not a
    full sort."""
    postings, stats = fts_index(spark, sf_dir)
    page = fts.search_bm25(postings, ["spark", "sort", "vector"], k=20, stats=stats)
    return page.where(F.col("rank").between(11, 20)).orderBy("rank")


@query(
    "text_sentence_stats",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             list_filter(
               list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)),
               x -> x <> '') AS sents
      FROM documents)
    SELECT doc_id,
           CAST(len(sents) AS BIGINT) AS n_sentences,
           CAST(coalesce(list_sum(list_transform(sents,
                x -> len(string_split_regex(trim(x), '\\s+')))), 0) AS BIGINT)
             AS n_words,
           round(CAST(coalesce(list_sum(list_transform(sents,
                x -> len(string_split_regex(trim(x), '\\s+')))), 0) AS DOUBLE)
                 / greatest(len(sents), 1) + 1e-9, 4) AS avg_sentence_words
    FROM s ORDER BY doc_id
    """,
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation statistics — the structural text signal the
    token-level stats miss (a doc of 40 two-word fragments and a doc of
    4 twenty-word sentences have identical token counts but very
    different training value; Gopher-class filters threshold on exactly
    this). Sentences split on terminal-punctuation runs, whitespace-
    tokenized per sentence; everything is one codegen projection of
    higher-order array functions — no UDF, no shuffle, scan-bound."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    sents = F.filter(
        F.transform(F.split(F.col("text"), r"[.!?]+"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    words_per = F.transform(
        F.col("sents"), lambda x: F.size(F.split(F.trim(x), r"\s+"))
    )
    out = (
        d.withColumn("sents", sents)
        .withColumn(
            "n_words",
            F.coalesce(
                F.aggregate(words_per, F.lit(0), lambda a, v: a + v), F.lit(0)
            ).cast("long"),
        )
        .select(
            "doc_id",
            F.size("sents").cast("long").alias("n_sentences"),
            "n_words",
            rz(
                F.col("n_words").cast("double")
                / F.greatest(F.size("sents"), F.lit(1))
            ).alias("avg_sentence_words"),
        )
    )
    return out.orderBy("doc_id")


@query(
    "corpus_epoch_plan",
    oracle=f"""
    WITH tk AS (SELECT source, {TOKS} AS toks FROM documents),
    c AS (SELECT source, CAST(sum(len(toks)) AS BIGINT) AS n_tokens FROM tk
          GROUP BY source),
    p AS (SELECT source, n_tokens,
                 CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS p_raw
          FROM c),
    w AS (SELECT source, n_tokens, pow(p_raw, 0.7) AS w_raw FROM p),
    tgt AS (SELECT source, n_tokens,
                   CAST(round(w_raw / sum(w_raw) OVER () * 1000000) AS BIGINT)
                     AS target_tokens
            FROM w)
    SELECT source, n_tokens, target_tokens,
           least(CAST(round(CAST(target_tokens AS DOUBLE)
                            / greatest(n_tokens, 1) * 100)
                      AS BIGINT), 400) AS epochs_pct
    FROM tgt ORDER BY source
    """,
)
def corpus_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch plan for a token budget: temperature weights
    (T=0.7, the proven corpus_temperature_mixture arithmetic) allocate a
    1M-token training budget across sources, and each source's repeat
    factor is its allocation over its actual token supply — reported as
    integer PERCENT of one epoch, capped at 400% (the standard
    small-domain repeat ceiling: a tiny source upweighted by temperature
    must not loop endlessly). This is the planning table a mixture run
    executes: feed epochs_pct into repeat-and-sample. All comparisons on
    rounded integers, so the plan is byte-exact cross-engine. Scale
    shape: one token-count aggregate over the corpus, then windows over
    the SOURCE-cardinality frame only."""
    tk = tok_docs(spark, sf_dir)
    src = t(spark, sf_dir, "documents").select("doc_id", "source")
    c = (
        tk.join(src, "doc_id")
        .groupBy("source")
        .agg(F.sum(F.size("toks")).cast("long").alias("n_tokens"))
    )
    w_all = Window.partitionBy()
    p_raw = F.col("n_tokens") / F.sum("n_tokens").over(w_all)
    w_raw = F.pow(p_raw, F.lit(0.7))
    tgt = c.select(
        "source",
        "n_tokens",
        F.round(w_raw / F.sum(w_raw).over(w_all) * 1_000_000)
        .cast("long")
        .alias("target_tokens"),
    )
    # greatest(n_tokens, 1) in BOTH engines (ADVICE r8): a source whose
    # docs all tokenize empty would otherwise divide by zero — NULL/inf on
    # Spark but an error in the DuckDB oracle, a cross-engine divergence
    # on a degenerate but representable input. Such a source gets
    # target_tokens=0 (w_raw=0), so the guarded ratio is exactly 0.
    return tgt.select(
        "source",
        "n_tokens",
        "target_tokens",
        F.least(
            F.round(
                F.col("target_tokens").cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1))
                * 100
            ).cast("long"),
            F.lit(400).cast("long"),
        ).alias("epochs_pct"),
    ).orderBy("source")


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {SHINGLES} AS sh FROM tk WHERE len(toks) >= 3),
    post AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    firsts AS (SELECT s, min(doc_id) AS first_doc FROM post GROUP BY s)
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (f.first_doc = p.doc_id) AS BIGINT) AS n_novel,
           round(CAST(count(*) FILTER (f.first_doc = p.doc_id) AS DOUBLE)
                 / count(*) + 1e-9, 6) AS novelty
    FROM post p JOIN firsts f ON p.s = f.s
    GROUP BY p.doc_id ORDER BY p.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-shingles whose FIRST corpus occurrence (min doc_id — a deterministic
    stand-in for earliest-crawled) is the doc itself. The diversity signal
    a curriculum/mixture pass reads: late documents made entirely of
    already-seen shingles add repetition, not coverage, and are the first
    candidates to down-weight. Plan: shingles explode to postings, the
    first-occurrence model is one shingle-keyed aggregate joined back
    UNHINTED (web-scale shingle vocabularies outgrow broadcast budgets —
    the corpus_dsir_weights posture), then one per-doc aggregate. Every
    shuffle is posting- or doc-keyed; the text never moves."""
    d = tok_docs(spark, sf_dir)
    sh = d.where(F.size("toks") >= 3).select(
        "doc_id", A.shingles_of(F.col("toks"), 3).alias("sh")
    )
    post = sh.select("doc_id", F.explode("sh").alias("s"))
    firsts = post.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return (
        post.join(firsts, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
        )
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_novel").cast("long").alias("n_novel"),
            F.round(
                F.col("n_novel").cast("double") / F.col("n_shingles") + F.lit(1e-9), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@query(
    "corpus_split_leakage",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
    sp AS (SELECT doc_id,
                  CASE WHEN substr(md5(array_to_string(toks, ' ')), 1, 1)
                         BETWEEN '0' AND '9'
                       OR substr(md5(array_to_string(toks, ' ')), 1, 1) IN ('a', 'b')
                       THEN 'train'
                       WHEN substr(md5(array_to_string(toks, ' ')), 1, 1) IN ('c', 'd')
                       THEN 'val' ELSE 'test' END AS split
           FROM tk),
    sh AS (SELECT doc_id, source, {SHINGLES} AS sh FROM tk WHERE len(toks) >= 3),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5)
    SELECT least(sa.split, sb.split) AS split_lo,
           greatest(sa.split, sb.split) AS split_hi,
           (sa.split <> sb.split) AS leaks,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs p
    JOIN sp sa ON p.id_a = sa.doc_id
    JOIN sp sb ON p.id_b = sb.doc_id
    GROUP BY 1, 2, 3 ORDER BY split_lo, split_hi
    """,
)
def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage audit: near-duplicate pairs (source-blocked
    3-shingle Jaccard ≥ 0.5 — the dedup_jaccard_pairs generator) joined
    against the content-hash split assignment (corpus_split_assign's
    rule), grouped by the split pair. Content hashing sends BYTE-IDENTICAL
    copies to one split by construction, but NEAR-duplicates can still
    straddle train/val — exactly the leakage that inflates eval scores —
    and this is the report that catches it before a run ships. Plan: the
    pair generator is the posting-keyed co-occurrence join (never
    all-pairs); split assignment is a doc-keyed projection joined twice;
    output is split-pair bounded."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, block_col="source", n=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    hx = F.substring(A.fingerprint_of(tokenize(F.col("text"))), 1, 1)
    split = (
        F.when(hx.between("0", "9") | hx.isin("a", "b"), "train")
        .when(hx.isin("c", "d"), "val")
        .otherwise("test")
    )
    sp = spread(d.select("doc_id", "text")).select("doc_id", split.alias("split"))
    sa = sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
            (F.col("split_a") != F.col("split_b")).alias("leaks"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("split_lo", "split_hi")
    )


@query(
    "corpus_pack_efficiency",
    oracle=f"""
    WITH tk AS (SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens FROM documents),
    c AS (SELECT doc_id, n_tokens, sum(n_tokens) OVER (ORDER BY doc_id) AS cum
          FROM tk WHERE n_tokens > 0),
    spans AS (
      SELECT doc_id,
             unnest(generate_series(CAST((cum - n_tokens) // 256 AS BIGINT),
                                    CAST((cum - 1) // 256 AS BIGINT))) AS seq
      FROM c),
    seqc AS (SELECT seq, count(*) AS docs_in_seq FROM spans GROUP BY seq),
    tot AS (SELECT count(*) AS n_total FROM seqc)
    SELECT CAST(docs_in_seq AS BIGINT) AS docs_in_seq,
           CAST(count(*) AS BIGINT) AS n_seqs,
           round(CAST(count(*) AS DOUBLE) / n_total + 1e-9, 6) AS seq_share
    FROM seqc, tot GROUP BY docs_in_seq, n_total ORDER BY docs_in_seq
    """,
)
def corpus_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency histogram for the concat-and-chunk layout: how
    many 256-token training sequences contain exactly d documents — the
    attention-fragmentation readout (a sequence spanning many tiny docs
    wastes cross-document attention; one long doc per sequence packs
    clean). Derived from the SAME distributed prefix-sum layout as
    corpus_concat_chunks (range exchange + per-partition running sum —
    never a single-partition window); each doc explodes to its covered
    sequence ids (seq_first..seq_last), then two bounded aggregates.
    Explode volume is O(total_tokens / 256), linear in the corpus."""
    from sec_dl_spark.operators.relational import concat_chunk_sequences

    tk = tok_docs(spark, sf_dir).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    chunks = concat_chunk_sequences(tk, [F.col("doc_id")], "n_tokens", seq_len=256)
    spans = chunks.select(
        "doc_id", F.explode(F.sequence("seq_first", "seq_last")).alias("seq")
    )
    seqc = spans.groupBy("seq").agg(F.count(F.lit(1)).alias("docs_in_seq"))
    hist = seqc.groupBy("docs_in_seq").agg(F.count(F.lit(1)).alias("n_seqs"))
    tot = hist.agg(F.sum("n_seqs").alias("n_total"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.col("docs_in_seq").cast("long").alias("docs_in_seq"),
            F.col("n_seqs").cast("long").alias("n_seqs"),
            F.round(
                F.col("n_seqs").cast("double") / F.col("n_total") + F.lit(1e-9), 6
            ).alias("seq_share"),
        )
        .orderBy("docs_in_seq")
    )


@query(
    "emb_knn_distance_outliers",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 100),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 6) AS cosine_sim
      FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
    knn AS (
      SELECT query_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rk
      FROM scored),
    stats AS (
      SELECT query_id AS vec_id,
             round(avg(cosine_sim) + 1e-9, 6) AS knn_mean_sim,
             round(min(cosine_sim) + 1e-9, 6) AS knn_min_sim
      FROM knn WHERE rk <= 5 GROUP BY query_id),
    ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY knn_mean_sim ASC, vec_id)
                     AS BIGINT) AS isolation_rank
      FROM stats)
    SELECT vec_id, knn_mean_sim, knn_min_sim, isolation_rank,
           (isolation_rank <= 10) AS is_outlier
    FROM ranked ORDER BY vec_id
    """,
    oracle_exact_max={"embeddings": similarity.EXACT_THRESHOLD},
)
def emb_knn_distance_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-isolation outlier scores: each vector's mean cosine similarity
    to its 5 exact nearest neighbors, ranked ascending — the vectors
    FURTHEST from their own neighborhood are embedding-space outliers
    (mislabeled, corrupted, or genuinely novel inputs; the triage list a
    curation pass reviews first). Built on the two-phase cosine top-k
    (operators/similarity.py:cosine_topk — per-chunk partial rank, then a
    bounded survivor rank, never a corpus-sized window), then one
    query-keyed aggregate; the final isolation ranking is a window over
    the QUERY-cardinality frame only. Bounded to 100 query vectors here;
    the ALL-vectors form is operators/similarity.py:knn_isolation
    (candidate="ivf" probes coarse cells with no query broadcast, and
    global_rank replaces the global window; pinned equal to the exact
    form under exhaustive probing by pytest). The candidate generator
    AUTO-SELECTS on corpus size (cosine_topk_auto, VERDICT r12 ask #5):
    at or below the 10,000-row exact_threshold — which covers every
    oracle fixture (≤2,000 embeddings) — it is the exact scan the
    oracle reproduces; past it it switches to IVF cell probing with
    auto_n_cells sizing, so the per-query candidate volume stays
    constant instead of scanning the whole corpus (the oracle's exact
    SQL only certifies the ≤10k regime)."""
    e = t(spark, sf_dir, "embeddings")
    topk = similarity.cosine_topk_auto(e, e.where(F.col("vec_id") < 100), k=5)
    stats = (
        topk.groupBy("query_id")
        .agg(
            F.round(F.avg("cosine_sim") + F.lit(1e-9), 6).alias("knn_mean_sim"),
            F.round(F.min("cosine_sim") + F.lit(1e-9), 6).alias("knn_min_sim"),
        )
        .select(F.col("query_id").alias("vec_id"), "knn_mean_sim", "knn_min_sim")
    )
    w = Window.orderBy(F.asc("knn_mean_sim"), F.asc("vec_id"))
    return (
        stats.withColumn("isolation_rank", F.row_number().over(w).cast("long"))
        .withColumn("is_outlier", F.col("isolation_rank") <= 10)
        .orderBy("vec_id")
    )


@query(
    "emb_knn_outliers_ivf",
    oracle="""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id < 2000),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
      FROM c a CROSS JOIN c b WHERE a.vec_id <> b.vec_id),
    knn AS (
      SELECT query_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rk
      FROM scored),
    stats AS (
      SELECT query_id AS vec_id,
             (round(avg(cosine_sim) + 1e-9, 6) + 0.0) AS knn_mean_sim,
             (round(min(cosine_sim) + 1e-9, 6) + 0.0) AS knn_min_sim
      FROM knn WHERE rk <= 5 GROUP BY query_id),
    ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY knn_mean_sim ASC, vec_id)
                     AS BIGINT) AS isolation_rank
      FROM stats)
    SELECT vec_id, knn_mean_sim, knn_min_sim, isolation_rank,
           (isolation_rank <= 10) AS is_outlier
    FROM ranked ORDER BY vec_id
    """,
)
def emb_knn_outliers_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AT-SCALE all-vectors kNN-isolation form, driver-oracled
    (VERDICT r11 ask #7): operators/similarity.py:knn_isolation with the
    ``candidate="ivf"`` generator — coarse-cell probing via one Arrow
    pass over the broadcast centroid matrix, cell-keyed equi-join for
    candidates, two-phase per-query top-k, global_rank (range exchange)
    for the final isolation ranking; nothing driver-sized scales with N.
    Probing is EXHAUSTIVE here (n_probe == n_cells), which makes the IVF
    machinery's result provably equal to exact brute-force kNN — so the
    same cross-join SQL oracles it, and what the driver certifies is the
    scale path's plumbing (probe UDF, candidate join, dedup, global
    rank), not a second copy of the exact query. Recall under PARTIAL
    probing (the knob actually turned at 100 TB) is pinned separately by
    pytest (test_knn_isolation_ivf_matches_exact_with_full_probing).
    Bounded to 2000 vectors to keep the oracle's O(N²) cross join
    DuckDB-sized; the Spark plan is the real thing at any N."""
    # spread: a single-split local scan would pin the probe/norm
    # projections to one task; 16 cells (still exhaustively probed, so
    # the result stays EXACTLY the brute-force kNN the oracle computes)
    # give the cell-keyed candidate join 16-way parallelism instead of 8
    e = spread(t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 2000))
    return similarity.knn_isolation(
        e, k=5, candidate="ivf", n_cells=16, n_probe=16
    ).orderBy("vec_id")


@query(
    "emb_ivf_recall_audit",
    oracle="""
    WITH lv AS (SELECT unnest([1, 2, 4, 8, 16]) AS n_probe),
    corners AS (
      SELECT CAST(r.range AS INTEGER) AS cell,
             CASE WHEN (r.range >> 0) & 1 = 1 THEN 1.0 ELSE -1.0 END AS s0,
             CASE WHEN (r.range >> 1) & 1 = 1 THEN 1.0 ELSE -1.0 END AS s1,
             CASE WHEN (r.range >> 2) & 1 = 1 THEN 1.0 ELSE -1.0 END AS s2,
             CASE WHEN (r.range >> 3) & 1 = 1 THEN 1.0 ELSE -1.0 END AS s3
      FROM range(16) r),
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
           + 2 * (CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END)
           + 4 * (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END)
           + 8 * (CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS cell
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 100),
    probes AS (
      SELECT q.query_id, c.cell,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY (((c.s0 * qv[1] + c.s1 * qv[2]) + c.s2 * qv[3])
                         + c.s3 * qv[4]) DESC, c.cell
             ) AS probe_rank
      FROM q CROSS JOIN corners c),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, p.probe_rank,
             round(list_cosine_similarity(q.qv, e.v), 6) AS sim
      FROM q JOIN probes p USING (query_id) JOIN e ON e.cell = p.cell
      WHERE e.vec_id <> q.query_id),
    lvl AS (
      SELECT l.n_probe, s.query_id, s.neighbor_id, s.sim
      FROM scored s CROSS JOIN lv l WHERE s.probe_rank <= l.n_probe),
    topk AS (
      SELECT n_probe, query_id, neighbor_id,
             row_number() OVER (PARTITION BY n_probe, query_id
                                ORDER BY sim DESC, neighbor_id) AS rk
      FROM lvl),
    t5 AS (SELECT n_probe, query_id, neighbor_id FROM topk WHERE rk <= 5),
    exact5 AS (SELECT query_id, neighbor_id FROM t5 WHERE n_probe = 16),
    ov AS (
      SELECT t.n_probe, t.query_id, count(*) AS overlap
      FROM t5 t JOIN exact5 x USING (query_id, neighbor_id)
      GROUP BY t.n_probe, t.query_id),
    cand AS (
      SELECT n_probe, query_id, count(*) AS n_cand
      FROM lvl GROUP BY n_probe, query_id),
    grid AS (SELECT l.n_probe, q.query_id FROM q CROSS JOIN lv l),
    per_q AS (
      SELECT g.n_probe, g.query_id,
             coalesce(o.overlap, 0) AS overlap,
             coalesce(c.n_cand, 0) AS n_cand
      FROM grid g
      LEFT JOIN ov o ON o.n_probe = g.n_probe AND o.query_id = g.query_id
      LEFT JOIN cand c ON c.n_probe = g.n_probe AND c.query_id = g.query_id),
    tot AS (SELECT count(*) AS n_corpus FROM e)
    SELECT CAST(n_probe AS BIGINT) AS n_probe,
           CAST(count(*) AS BIGINT) AS n_queries,
           (round(CAST(sum(overlap) AS DOUBLE) / (5.0 * count(*)) + 1e-9, 6)
             + 0.0) AS mean_recall,
           (round(CAST(min(overlap) AS DOUBLE) / 5.0 + 1e-9, 6) + 0.0)
             AS min_recall,
           (round(CAST(count(*) FILTER (overlap = 5) AS DOUBLE) / count(*)
                  + 1e-9, 6) + 0.0) AS full_recall_share,
           (round(CAST(sum(n_cand) AS DOUBLE)
                  / (count(*) * any_value(n_corpus)) + 1e-9, 6) + 0.0)
             AS avg_candidate_share
    FROM per_q, tot
    GROUP BY n_probe ORDER BY n_probe
    """,
)
def emb_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-exact curve for IVF PARTIAL probing — the knob actually
    turned at 100 TB (VERDICT r15 ask #7, extending
    `emb_knn_outliers_ivf`'s driver-oracled plumbing from exhaustive to
    partial probing). Per n_probe ∈ {1,2,4,8,16}: mean/min recall@5 of
    the probed top-k against the exhaustive-probe exact top-k, the share
    of queries with perfect recall, and the average fraction of the
    corpus scanned per query — the recall/cost trade-off table a serving
    deployment reads before picking n_probe.

    What makes PARTIAL probing oracle-able where the k-means IVF is not:
    the coarse quantizer here is the closed-form sign-corner grid
    (operators/similarity.py:corner_centroids) — nearest-corner-by-cosine
    is PROVABLY the sign pattern of the first 4 components
    (corner_cell's docstring carries the argument), and the probe ORDER
    is the corner-dot ranking, a 16-term expression both engines compute
    bit-identically (same parenthesization, ties by cell id). So cell
    assignment, probe order, candidate sets, and therefore recall are
    all exactly reproducible in SQL. The Spark plan is the REAL serving
    shape — cell-keyed candidate equi-join against broadcast probes, the
    same join cosine_topk_ivf runs — so what the driver certifies is the
    recall accounting of the scale path, not a toy.

    Scale: the audit needs the exact baseline, so its cost is
    |queries| × N like every recall measurement (queries bounded to 100
    by the same convention as emb_knn_distance_outliers); the SERVED
    path it audits scans only probed cells. One candidate join pinned
    once; the candidate sets are NESTED in n_probe, so leveled top-5
    membership comes from five running counts in one shared-order
    two-phase window pass (no per-level explode), and candidate shares
    from a five-column map-side fold; integer overlap counts; the final
    five-row table aggregates in-plan."""
    e0 = spread(t(spark, sf_dir, "embeddings"))
    e = similarity.with_vec_norm(
        e0.select(
            F.col("vec_id").alias("neighbor_id"),
            "embedding",
            similarity.corner_cell("embedding", 4).alias("cell"),
        ),
        "embedding", vec_out="c_vec", norm_out="c_nrm",
    ).select("neighbor_id", "c_vec", "c_nrm", "cell")
    q = similarity.with_vec_norm(
        e0.where(F.col("vec_id") < 100).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        "embedding", vec_out="q_vec", norm_out="q_nrm",
    ).select("query_id", "q_vec", "q_nrm")
    corners = F.broadcast(
        spark.createDataFrame(
            [(c, s[0], s[1], s[2], s[3]) for c, s in
             ((c, [2.0 * x for x in v[:4]]) for c, v in
              similarity.corner_centroids(4))],
            "cell int, s0 double, s1 double, s2 double, s3 double",
        )
    )
    # corner-dot probe ranking: same 4-term left-assoc sum both engines
    qv = lambda i: F.element_at(F.col("q_vec"), i)  # noqa: E731
    dotc = (
        (F.col("s0") * qv(1) + F.col("s1") * qv(2)) + F.col("s2") * qv(3)
    ) + F.col("s3") * qv(4)
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("_dotc").desc(), F.col("cell")
    )
    probes = (
        q.crossJoin(corners)
        .withColumn("_dotc", dotc)
        .withColumn("probe_rank", F.row_number().over(probe_w))
        .select("query_id", "q_vec", "q_nrm", "cell", "probe_rank")
    )
    scored = (
        e.join(F.broadcast(probes), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "probe_rank",
            F.round(
                similarity.dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_nrm") * F.col("c_nrm")),
                6,
            ).alias("sim"),
        )
    )
    # Leveled top-5 WITHOUT the explode (r16 optimization): the five
    # candidate sets are NESTED in n_probe (level m = probe_rank <= m, and
    # every pair has probe_rank <= 16), so membership in each level's
    # top-5 and the per-query candidate counts both come out of ONE
    # two-phase window pass over the un-replicated pair frame
    # (operators/similarity.py:nested_level_topk — chunking-invariance
    # pytest-pinned). The pre-r16 shape replicated every pair ~2x through
    # a composite-key per_query_topk AND recomputed the whole candidate
    # join for the share branch (isolation profile: 4.2 s, half of it
    # that recompute).
    levels = (1, 2, 4, 8, 16)
    order = [F.col("sim").desc(), F.col("neighbor_id")]
    t5m, cand = similarity.nested_level_topk(
        scored, levels, "probe_rank", order, 5,
        partition_cols=("query_id",), level_out="n_probe", with_totals=True,
    )
    t5 = t5m.select("query_id", "neighbor_id", "n_probe")
    cand = cand.withColumnRenamed("n_total", "n_cand")
    exact5 = t5.where(F.col("n_probe") == 16).select("query_id", "neighbor_id")
    # every frame below is ≤ levels × |queries| × k rows — broadcast the
    # probe sides so the bookkeeping joins never sort-merge
    ov = (
        t5.join(F.broadcast(exact5), ["query_id", "neighbor_id"])
        .groupBy("n_probe", "query_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    grid = _recall_level_grid(spark, q, (1, 2, 4, 8, 16), "n_probe")
    per_q = (
        grid.join(F.broadcast(ov), ["n_probe", "query_id"], "left")
        .join(F.broadcast(cand), ["n_probe", "query_id"], "left")
        .select(
            "n_probe",
            "query_id",
            F.coalesce("overlap", F.lit(0)).alias("overlap"),
            F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
        )
    )
    tot = F.broadcast(e.agg(F.count(F.lit(1)).alias("n_corpus")))
    nq = F.count(F.lit(1))
    return _recall_summary(
        per_q.crossJoin(tot),
        "n_probe",
        "n_probe",
        extra_aggs=(
            rz6(
                F.sum("n_cand").cast("double") / (nq * F.any_value("n_corpus"))
            ).alias("avg_candidate_share"),
        ),
        extra_cols=("avg_candidate_share",),
    )


@query(
    "text_lexical_diversity",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_types
      FROM tk WHERE len(toks) >= 2)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           {rz_sql('CAST(n_types AS DOUBLE) / n_tokens', 6)} AS ttr,
           {rz_sql('CAST(n_types AS DOUBLE) / sqrt(CAST(n_tokens AS DOUBLE))', 6)}
             AS root_ttr,
           {rz_sql('ln(CAST(n_types AS DOUBLE)) / ln(CAST(n_tokens AS DOUBLE))', 6)}
             AS herdan_c
    FROM s ORDER BY doc_id
    """,
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document: type-token ratio, root TTR
    (Guiraud), and Herdan's C (log-log) — the vocabulary-richness band
    of the quality stack (template/boilerplate spam shows high length
    but collapsed type counts; TTR alone shrinks with length, which is
    why the length-corrected forms ride along). Everything derives from
    two integers per doc (token count, distinct-token count) computed
    in ONE codegen HOF projection over the shared tokenized frame — no
    shuffle, scan-bound, so the plan is a parallel map at any scale.
    Docs under 2 tokens are dropped on both engines (ln(1)=0 would sit
    in Herdan's denominator)."""
    tk = tok_docs(spark, sf_dir)
    n_tok = F.size("toks")
    n_typ = F.size(F.array_distinct("toks"))
    s = tk.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        n_typ.cast("long").alias("n_types"),
    ).where(F.col("n_tokens") >= 2)
    typ_d = F.col("n_types").cast("double")
    tok_d = F.col("n_tokens").cast("double")
    return s.select(
        "doc_id",
        "n_tokens",
        "n_types",
        rz(typ_d / F.col("n_tokens"), 6).alias("ttr"),
        rz(typ_d / F.sqrt(tok_d), 6).alias("root_ttr"),
        rz(F.log(typ_d) / F.log(tok_d), 6).alias("herdan_c"),
    ).orderBy("doc_id")


@query(
    "emb_dim_truncation_audit",
    oracle="""
    WITH dims AS (SELECT unnest([8, 16, 32, 64]) AS trunc_dim),
    v AS (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    x AS (
      SELECT trunc_dim,
             CAST(round(
               sqrt(list_reduce(list_prepend(0.0,
                 list_transform(emb[1:trunc_dim], y -> y * y)), (a, y) -> a + y))
               / sqrt(list_reduce(list_prepend(0.0,
                 list_transform(emb, y -> y * y)), (a, y) -> a + y)) * 1000000)
               AS BIGINT) AS nr_micro
      FROM v, dims),
    g AS (
      SELECT trunc_dim, count(*) AS n, sum(nr_micro) AS s, min(nr_micro) AS mn,
             count(*) FILTER (nr_micro >= 900000) AS n_retained
      FROM x GROUP BY trunc_dim)
    SELECT CAST(trunc_dim AS BIGINT) AS trunc_dim,
           (round(CAST(s AS DOUBLE) / n / 1000000 + 1e-9, 6) + 0.0)
             AS avg_norm_ratio,
           (round(CAST(mn AS DOUBLE) / 1000000 + 1e-9, 6) + 0.0)
             AS min_norm_ratio,
           (round(CAST(n_retained AS DOUBLE) / n + 1e-9, 6) + 0.0)
             AS share_above_090
    FROM g ORDER BY trunc_dim
    """,
)
def emb_dim_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: for each candidate truncation width d,
    how much of each vector's L2 norm the d-dim prefix retains —
    norm_ratio = |v[:d]| / |v|, which for L2-normalized serving equals
    cosine(v, zero-padded v[:d]). The table (avg, min, share >= 0.9 per
    d) is the evidence for choosing a cheaper serving dimension (MRL-
    style embeddings front-load information, so their prefix ratios stay
    near 1; flat embeddings don't). Per-row work is a codegen HOF fold
    per (vector, d); the aggregate carries EXACT INTEGER micro-units
    (per-row ratios rounded to 1e-6 then summed as BIGINT — the
    welch-ttest trick), so the cross-engine result is a deterministic
    division, immune to float summation order at any corpus size.
    Output is |dims| rows; nothing driver-sized scales with N."""
    dims = [8, 16, 32, 64]
    e = t(spark, sf_dir, "embeddings").select(
        F.explode(F.array(*[F.lit(d) for d in dims])).alias("trunc_dim"),
        F.col("embedding"),
    )
    sq_sum = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0.0), lambda a, y: a + y.cast("double") * y.cast("double")
    )
    nr = F.sqrt(sq_sum(F.slice(F.col("embedding"), 1, F.col("trunc_dim")))) / F.sqrt(
        sq_sum(F.col("embedding"))
    )
    x = e.select(
        "trunc_dim", F.round(nr * 1000000).cast("long").alias("nr_micro")
    )
    g = x.groupBy("trunc_dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("nr_micro").alias("s"),
        F.min("nr_micro").alias("mn"),
        F.count(F.when(F.col("nr_micro") >= 900000, 1)).alias("n_retained"),
    )
    return g.select(
        F.col("trunc_dim").cast("long").alias("trunc_dim"),
        rz(F.col("s").cast("double") / F.col("n") / 1000000, 6).alias(
            "avg_norm_ratio"
        ),
        rz(F.col("mn").cast("double") / 1000000, 6).alias("min_norm_ratio"),
        rz(F.col("n_retained").cast("double") / F.col("n"), 6).alias(
            "share_above_090"
        ),
    ).orderBy("trunc_dim")


@query(
    "emb_hard_negatives",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 50),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 6) AS cosine_sim
      FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
    hard AS (SELECT * FROM scored WHERE cosine_sim < 0.95),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine_sim DESC, neighbor_id) AS BIGINT) AS rank
      FROM hard)
    SELECT query_id, neighbor_id, cosine_sim, rank
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
    oracle_exact_max={"embeddings": similarity.EXACT_THRESHOLD},
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the k highest-cosine neighbors BELOW the near-duplicate ceiling
    (sim < 0.95) — the "hardest true negatives" a retrieval/embedding
    trainer pairs against each anchor (neighbors above the ceiling are
    presumed positives/duplicates and must not be taught as negatives;
    SemDeDup uses the same band logic in reverse). The ceiling filter
    runs BEFORE ranking, inside the scored scan stage, so pruned rows
    never enter the top-k exchange; ranking is the two-phase
    per_query_topk (chunk rank, then a bounded survivor rank — never a
    corpus-sized window). The candidate generator AUTO-SELECTS on corpus
    size (cosine_topk_auto with sim_ceiling, VERDICT r12 ask #5): at or
    below the 10,000-row exact_threshold (every oracle fixture) it is
    the exact factored-cosine scan the oracle reproduces; past it it
    switches to IVF cell probing — the band filter composes with
    candidate pruning unchanged, and the oracle's exact SQL only
    certifies the ≤10k regime."""
    e = t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_auto(
        e, e.where(F.col("vec_id") < 50), k=5, sim_ceiling=0.95
    ).orderBy("query_id", "rank")


@query(
    "corpus_gate_ablation",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    m AS (SELECT doc_id,
                 len(toks) AS n_words,
                 CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                   / len(toks) AS mean_wl,
                 CAST(len(list_filter(toks, x ->
                      list_contains(['a','the','and','of','to','in','is','it'], x)))
                   AS DOUBLE) / len(toks) AS stop_frac,
                 CAST(len(list_filter(toks, x -> NOT regexp_matches(x, '[0-9]')))
                   AS DOUBLE) / len(toks) AS alpha_frac
          FROM tk WHERE len(toks) > 0),
    fl AS (SELECT doc_id,
                  NOT (n_words BETWEEN 30 AND 80) AS f_len,
                  NOT (mean_wl BETWEEN 3.8 AND 4.8) AS f_word_len,
                  NOT (stop_frac >= 0.04) AS f_stopwords,
                  NOT (alpha_frac >= 0.7) AS f_alpha
           FROM m),
    agg AS (
      SELECT count(*) AS n_docs,
             count(*) FILTER (f_len) AS fail_len,
             count(*) FILTER (f_word_len) AS fail_word_len,
             count(*) FILTER (f_stopwords) AS fail_stopwords,
             count(*) FILTER (f_alpha) AS fail_alpha,
             count(*) FILTER (f_len AND NOT f_word_len AND NOT f_stopwords
                              AND NOT f_alpha) AS only_len,
             count(*) FILTER (f_word_len AND NOT f_len AND NOT f_stopwords
                              AND NOT f_alpha) AS only_word_len,
             count(*) FILTER (f_stopwords AND NOT f_len AND NOT f_word_len
                              AND NOT f_alpha) AS only_stopwords,
             count(*) FILTER (f_alpha AND NOT f_len AND NOT f_word_len
                              AND NOT f_stopwords) AS only_alpha
      FROM fl)
    SELECT rule, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_fail AS BIGINT) AS n_fail,
           CAST(n_fail_only AS BIGINT) AS n_fail_only,
           {rz_sql('CAST(n_fail AS DOUBLE) / n_docs', 6)} AS fail_rate,
           {rz_sql('CAST(n_fail_only AS DOUBLE) / n_docs', 6)} AS marginal_rate
    FROM (
      SELECT 'len' AS rule, n_docs, fail_len AS n_fail, only_len AS n_fail_only FROM agg
      UNION ALL SELECT 'word_len', n_docs, fail_word_len, only_word_len FROM agg
      UNION ALL SELECT 'stopwords', n_docs, fail_stopwords, only_stopwords FROM agg
      UNION ALL SELECT 'alpha', n_docs, fail_alpha, only_alpha FROM agg)
    ORDER BY rule
    """,
)
def corpus_gate_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate ablation: per Gopher rule, how many documents fail it
    at all vs fail ONLY it (every other rule passing) — the marginal
    column is what loosening exactly that threshold would recover, the
    table a corpus team reads before tuning any gate (a rule with high
    fail but near-zero marginal is redundant with the others; a high
    marginal rule is the binding constraint). Metrics and flags are the
    SAME single codegen projection as text_gopher_rules; the ablation is
    ONE conditional-count aggregate (the operators/quality.py fold — 9
    longs per task), then a bounded 4-row unpivot. Text never shuffles;
    output is rule-cardinality-sized at any corpus size."""
    tk = tok_docs(spark, sf_dir)
    m = tk.where(F.size("toks") > 0).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        (
            F.aggregate(
                F.transform(F.col("toks"), lambda x: F.length(x)),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.size("toks")
        ).alias("mean_wl"),
        (
            F.size(F.filter(F.col("toks"), lambda x: x.isin(*A.STOPWORDS))).cast(
                "double"
            )
            / F.size("toks")
        ).alias("stop_frac"),
        (
            F.size(F.filter(F.col("toks"), lambda x: ~x.rlike("[0-9]"))).cast("double")
            / F.size("toks")
        ).alias("alpha_frac"),
    )
    f_len = ~F.col("n_words").between(30, 80)
    f_wl = ~F.col("mean_wl").between(3.8, 4.8)
    f_stop = ~(F.col("stop_frac") >= 0.04)
    f_alpha = ~(F.col("alpha_frac") >= 0.7)
    cnt = lambda c: F.count(F.when(c, 1))  # noqa: E731
    agg = m.agg(
        F.count(F.lit(1)).alias("n_docs"),
        cnt(f_len).alias("fail_len"),
        cnt(f_wl).alias("fail_word_len"),
        cnt(f_stop).alias("fail_stopwords"),
        cnt(f_alpha).alias("fail_alpha"),
        cnt(f_len & ~f_wl & ~f_stop & ~f_alpha).alias("only_len"),
        cnt(f_wl & ~f_len & ~f_stop & ~f_alpha).alias("only_word_len"),
        cnt(f_stop & ~f_len & ~f_wl & ~f_alpha).alias("only_stopwords"),
        cnt(f_alpha & ~f_len & ~f_wl & ~f_stop).alias("only_alpha"),
    )
    edge = lambda name, fail, only: F.struct(  # noqa: E731
        F.lit(name).alias("rule"),
        F.col(fail).alias("nf"),
        F.col(only).alias("nfo"),
    )
    return (
        agg.select(
            "n_docs",
            F.explode(
                F.array(
                    edge("len", "fail_len", "only_len"),
                    edge("word_len", "fail_word_len", "only_word_len"),
                    edge("stopwords", "fail_stopwords", "only_stopwords"),
                    edge("alpha", "fail_alpha", "only_alpha"),
                )
            ).alias("e"),
        )
        .select(
            F.col("e.rule").alias("rule"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("e.nf").cast("long").alias("n_fail"),
            F.col("e.nfo").cast("long").alias("n_fail_only"),
            rz(F.col("e.nf").cast("double") / F.col("n_docs"), 6).alias("fail_rate"),
            rz(F.col("e.nfo").cast("double") / F.col("n_docs"), 6).alias(
                "marginal_rate"
            ),
        )
        .orderBy("rule")
    )


@query(
    "corpus_js_divergence",
    oracle=f"""
    WITH tk AS (SELECT source, {TOKS} AS toks FROM documents),
    w AS (SELECT source, unnest(toks) AS w FROM tk),
    wc AS (SELECT source, w, count(*) AS cnt FROM w GROUP BY source, w),
    tot AS (SELECT source, sum(cnt) AS tot FROM wc GROUP BY source),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b
      FROM tot a JOIN tot b ON a.source < b.source),
    u AS (
      SELECT p.src_a, p.src_b, wc.w, wc.cnt AS p_cnt, 0 AS q_cnt
      FROM wc JOIN pairs p ON wc.source = p.src_a
      UNION ALL
      SELECT p.src_a, p.src_b, wc.w, 0, wc.cnt
      FROM wc JOIN pairs p ON wc.source = p.src_b),
    m AS (
      SELECT src_a, src_b, w,
             sum(p_cnt) AS p_cnt, sum(q_cnt) AS q_cnt
      FROM u GROUP BY src_a, src_b, w),
    sc AS (
      SELECT m.src_a, m.src_b,
             CAST(m.p_cnt AS DOUBLE) / ta.tot AS p,
             CAST(m.q_cnt AS DOUBLE) / tb.tot AS q
      FROM m JOIN tot ta ON m.src_a = ta.source
             JOIN tot tb ON m.src_b = tb.source),
    g AS (
      SELECT src_a, src_b, count(*) AS n_vocab_union,
             sum(CASE WHEN p > 0 THEN 0.5 * p * ln(p) ELSE 0 END
                 + CASE WHEN q > 0 THEN 0.5 * q * ln(q) ELSE 0 END
                 - ((p + q) / 2) * ln((p + q) / 2)) AS jsd
      FROM sc GROUP BY src_a, src_b)
    SELECT src_a, src_b, CAST(n_vocab_union AS BIGINT) AS n_vocab_union,
           {rz_sql("jsd", 6)} AS jsd_nats,
           {rz_sql("jsd / ln(2)", 6)} AS jsd_bits
    FROM g ORDER BY src_a, src_b
    """,
)
def corpus_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram token
    distributions of every source pair — the mixture-design distance
    matrix (which corpus sources are interchangeable, which add genuinely
    new text) that complements the PSI/KS drift gates: JSD is symmetric,
    bounded [0, ln 2], and defined even where supports differ, so it is
    the right "how different are these two corpora" number, where PSI
    answers "did THIS corpus move against its reference".

    Scale shape: documents tokenize once and reduce to (source, word,
    cnt) postings with map-side combine — the wide text never reshuffles.
    The pair frame is SOURCE-COUNT-bounded (s·(s−1)/2 rows, broadcast
    everywhere), so fan-out is postings × (s−1) at worst, and each pair's
    union-vocabulary merge is one grouped sum. JSD = ½Σp·ln p + ½Σq·ln q
    − Σm·ln m over the union (0·ln 0 = 0): exact integer counts make
    every p, q, m a deterministic division; the single float sum per
    pair is vocabulary-sized with ~1e-13 accumulation error, far inside
    the round-6 nudge (the text_word_entropy precedent)."""
    d = t(spark, sf_dir, "documents").select(
        "source", tokenize(F.col("text")).alias("toks")
    )
    # pin the vocab×sources posting counts: tot, pa and pb are three plan
    # branches off this frame — unpinned, each re-runs the tokenize +
    # explode + count over the full corpus (3× the only text-sized
    # stage). The pinned frame is vocabulary-sized, never corpus-sized.
    wc = pin(
        d.select("source", F.explode("toks").alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = wc.groupBy("source").agg(F.sum("cnt").alias("tot"))
    a, b = tot.select("source").alias("a"), tot.select("source").alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
    )
    pa = wc.join(F.broadcast(pairs), wc.source == pairs.src_a).select(
        "src_a", "src_b", "w",
        F.col("cnt").alias("p_cnt"), F.lit(0).alias("q_cnt"),
    )
    pb = wc.join(F.broadcast(pairs), wc.source == pairs.src_b).select(
        "src_a", "src_b", "w",
        F.lit(0).alias("p_cnt"), F.col("cnt").alias("q_cnt"),
    )
    ta = tot.select(F.col("source").alias("sa"), F.col("tot").alias("tot_a"))
    tb = tot.select(F.col("source").alias("sb"), F.col("tot").alias("tot_b"))
    m = (
        pa.unionByName(pb)
        .groupBy("src_a", "src_b", "w")
        .agg(F.sum("p_cnt").alias("p_cnt"), F.sum("q_cnt").alias("q_cnt"))
        .join(F.broadcast(ta), F.col("src_a") == F.col("sa"))
        .join(F.broadcast(tb), F.col("src_b") == F.col("sb"))
    )
    p = F.col("p_cnt").cast("double") / F.col("tot_a")
    q = F.col("q_cnt").cast("double") / F.col("tot_b")
    plogp = lambda x: F.when(x > 0, x * F.log(x)).otherwise(F.lit(0.0))  # noqa: E731
    mid = (p + q) / 2
    contrib = 0.5 * plogp(p) + 0.5 * plogp(q) - mid * F.log(mid)
    g = m.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_vocab_union"),
        F.sum(contrib).alias("jsd"),
    )
    return g.select(
        "src_a",
        "src_b",
        F.col("n_vocab_union").cast("long").alias("n_vocab_union"),
        rz(F.col("jsd"), 6).alias("jsd_nats"),
        rz(F.col("jsd") / F.lit(float(__import__("math").log(2))), 6).alias(
            "jsd_bits"
        ),
    ).orderBy("src_a", "src_b")


@query(
    "corpus_group_kfold",
    oracle=f"""
    WITH RECURSIVE tk AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, source, {SHINGLES} AS sh FROM tk WHERE len(toks) >= 3),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) > 0
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
    e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
    reach(src, dst) AS (
      SELECT src, dst FROM e
      UNION
      SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src)
    SELECT d.doc_id,
           CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS root,
           CAST((((((coalesce(c.cluster_id, d.doc_id) % 2147483648)
                    * 2654435761) % 4294967296) >> 16) % 5) AS BIGINT)
             AS fold,
           (c.doc_id IS NOT NULL) AS is_clustered
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ORDER BY d.doc_id
    """,
)
def corpus_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe GROUP k-fold assignment: every document gets one of 5
    cross-validation folds, keyed by its near-duplicate CLUSTER root
    rather than its own id — so a document and its near-duplicates can
    never straddle a train/eval fold boundary (the cross-validation twin
    of corpus_split_leakage's audit: this op makes the leakage it
    measures structurally impossible). Plain hash-by-doc k-fold leaks:
    with ~6% of this corpus in near-dup clusters, random folds put some
    pair across the boundary almost surely.

    Composition: jaccard candidate pairs ≥ 0.6 → connected components
    (operators/dedup.py:duplicate_clusters — min-label + pointer jumping,
    O(log diameter) rounds) → root = component id (singleton docs are
    their own root) → fold = high bits of the Knuth multiplicative hash
    (((root mod 2³¹)·2654435761) mod 2³²) >> 16, mod k. The mod-2³¹
    pre-clamp (the same guard text.py's other Knuth-hash sites use)
    keeps the product inside int64 for ids past ~3.5e9 — without it
    Spark wraps to a negative product (and a negative fold) while
    DuckDB raises, at exactly the open-web id scale this op targets.
    The hash arithmetic is pure integer ops, identical in both engines
    (the LOW bits of a multiplicative hash are poorly mixed — the
    >> 16 matters); the
    oracle recomputes components with the recursive-CTE closure (the
    dedup_clusters discipline: a different algorithm proving the fixed
    point, not a transliteration). At 100 TB the cluster step is the
    bounded one (candidate pairs from postings, never all-pairs); the
    fold map is then one broadcast-join + projection over the corpus."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, block_col="source", n=3, threshold=0.6)
    clusters = dedup.duplicate_clusters(pairs)
    root = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return (
        d.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            root.cast("long").alias("root"),
            (
                F.shiftright(
                    ((root % F.lit(1 << 31)) * F.lit(2654435761))
                    % F.lit(4294967296),
                    16,
                )
                % 5
            ).cast("long").alias("fold"),
            F.col("cluster_id").isNotNull().alias("is_clustered"),
        )
        .orderBy("doc_id")
    )


@query(
    "corpus_dedup_yield",
    oracle="""
    WITH c AS (
      SELECT md5(substring(lower(text), 1, 64)) AS fp, count(*) AS sz
      FROM documents GROUP BY fp),
    g AS (
      SELECT sum(sz) AS n_docs,
             sum(CASE WHEN sz >= 2 THEN sz - 1 ELSE 0 END) AS tot_excess
      FROM c),
    top AS (
      SELECT fp, sz,
             row_number() OVER (ORDER BY sz DESC, fp) AS rk
      FROM c WHERE sz >= 2 QUALIFY rk <= 20)
    SELECT CAST(rk AS BIGINT) AS rank,
           fp AS fingerprint,
           CAST(sz AS BIGINT) AS cluster_size,
           CAST(sz - 1 AS BIGINT) AS removable,
           CAST(sum(sz - 1) OVER (ORDER BY rk) AS BIGINT) AS cum_removable,
           (round(CAST(sum(sz - 1) OVER (ORDER BY rk) AS DOUBLE)
                  / tot_excess + 1e-9, 6) + 0.0) AS cum_share_dupes,
           (round(CAST(sum(sz - 1) OVER (ORDER BY rk) AS DOUBLE)
                  / n_docs + 1e-9, 6) + 0.0) AS cum_share_corpus
    FROM top, g ORDER BY rank
    """,
)
def corpus_dedup_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplication yield curve: the top-20 duplicate canopies (64-char
    normalized-prefix fingerprint) ranked by size, with the running count
    and share of removable documents — the economics readout that decides
    whether a dedup pass pays for itself (a curve that flattens after
    rank 5 means a cheap targeted pass captures most of the win; a long
    tail means full-corpus LSH is needed). The canopy key is
    md5(substring(lower(text),1,64)) — identical bytes-in on both
    engines, and the prefix bound keeps the hashed payload O(1) per doc
    however long the documents get. Plan: one scan -> fingerprint
    groupBy (the only corpus-sized exchange, on a 32-char key), a
    HAVING sz>=2 filter, orderBy().limit(20) (TakeOrderedAndProject —
    parallel partial top-k, never a full sort), a 1-row (n_docs,
    tot_excess) broadcast, and a cumulative window over the 20
    SURVIVING rows only. Ties break deterministically on (size desc,
    fingerprint asc). Exact integer counts make every share a
    deterministic division."""
    d = t(spark, sf_dir, "documents").select(
        F.md5(F.substring(F.lower(F.col("text")), 1, 64)).alias("fp")
    )
    c = d.groupBy("fp").agg(F.count(F.lit(1)).alias("sz"))
    g = c.agg(
        F.sum("sz").alias("n_docs"),
        F.sum(
            F.when(F.col("sz") >= 2, F.col("sz") - 1).otherwise(F.lit(0))
        ).alias("tot_excess"),
    )
    top = (
        c.filter(F.col("sz") >= 2)
        .orderBy(F.col("sz").desc(), "fp")
        .limit(20)
    )
    w = Window.orderBy(F.col("sz").desc(), "fp")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.crossJoin(F.broadcast(g))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("cum_rm", F.sum(F.col("sz") - 1).over(wc))
        .select(
            "rank",
            F.col("fp").alias("fingerprint"),
            F.col("sz").cast("long").alias("cluster_size"),
            (F.col("sz") - 1).cast("long").alias("removable"),
            F.col("cum_rm").cast("long").alias("cum_removable"),
            rz6(
                F.col("cum_rm").cast("double") / F.col("tot_excess")
            ).alias("cum_share_dupes"),
            rz6(
                F.col("cum_rm").cast("double") / F.col("n_docs")
            ).alias("cum_share_corpus"),
        )
        .orderBy("rank")
    )


@query(
    "emb_coverage_score",
    oracle="""
    WITH s AS (
      SELECT vec_id AS sel_id, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 2000),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    m AS (
      SELECT c.vec_id,
             max(round(list_cosine_similarity(cv, sv), 6)) AS mx
      FROM c CROSS JOIN s GROUP BY c.vec_id),
    k AS (SELECT count(*) AS k_selected FROM s),
    a AS (
      SELECT count(*) AS n_corpus,
             sum(CAST(round(mx * 1e6) AS BIGINT)) AS sm,
             min(mx) AS mn,
             sum(CASE WHEN mx >= 0.25 THEN 1 ELSE 0 END) AS nc
      FROM m)
    SELECT CAST(n_corpus AS BIGINT) AS n_corpus,
           CAST(k_selected AS BIGINT) AS k_selected,
           (round(CAST(sm AS DOUBLE) / n_corpus / 1e6 + 1e-9, 6) + 0.0)
             AS mean_max_sim,
           (round(mn + 1e-9, 6) + 0.0) AS min_max_sim,
           (round(CAST(nc AS DOUBLE) / n_corpus + 1e-9, 6) + 0.0)
             AS frac_ge_025
    FROM a, k
    """,
)
def emb_coverage_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facility-location coverage of a selected representative subset:
    for every corpus vector, the max cosine to a CONSTANT-k anchor set
    (vec_id % 20 below a fixed id ceiling, <= 100 anchors at any SF —
    stands in for any curated subset, e.g. the MMR selection), reduced
    to a one-row report (mean/min of the per-vector best similarity and
    the fraction covered at >= 0.25) — the standard objective for
    judging whether a coreset/eval subset actually spans the corpus.
    The k bound is the scale contract: an anchor set that grew as a
    corpus FRACTION would make the blowup quadratic (the first probe of
    this query read 97x at 10x data before the ceiling). Plan: the
    anchor set is a BROADCAST (k vectors), the corpus streams once
    through a k-way blowup that collapses in the same stage via partial
    max-aggregation on vec_id, and the final stats are one aggregate —
    linear in corpus size with constant k, no corpus-sized shuffle
    anywhere. The mean crosses engines as exact integer micro-units
    (sims rounded at 1e-6 BEFORE max, so both engines rank and sum
    identical doubles)."""
    emb = t(spark, sf_dir, "embeddings")
    # factored cosine (similarity.with_vec_norm): the corpus-side casts +
    # norm folds run once per ROW before the k-way blowup, so per PAIR
    # only the dot fold remains — float-identical to cosine()
    s = similarity.with_vec_norm(
        emb.where((F.col("vec_id") % 20 == 0) & (F.col("vec_id") < 2000))
        .select(F.col("vec_id").alias("sel_id"), "embedding"),
        "embedding", vec_out="sv", norm_out="s_nrm",
    ).drop("embedding")
    k = s.agg(F.count(F.lit(1)).alias("k_selected"))
    from sec_dl_spark.session import spread

    # spread: the corpus side of a broadcast NLJ inherits the scan's
    # split count — one parquet split would run the whole N x k dot
    # blowup on ONE task (the intrinsic-dim lesson; measured 25s serial
    # vs ~3s parallel at 20k x 100). No-op on a many-split cluster scan.
    m = (
        similarity.with_vec_norm(
            spread(emb.select("vec_id", "embedding")),
            "embedding", vec_out="cv", norm_out="c_nrm",
        )
        .drop("embedding")
        .crossJoin(F.broadcast(s))
        .select(
            "vec_id",
            F.round(
                similarity.dot(F.col("cv"), F.col("sv"))
                / (F.col("c_nrm") * F.col("s_nrm")),
                6,
            ).alias("sim"),
        )
        .groupBy("vec_id")
        .agg(F.max("sim").alias("mx"))
    )
    a = m.agg(
        F.count(F.lit(1)).alias("n_corpus"),
        F.sum(F.expr("CAST(round(mx * 1e6) AS BIGINT)")).alias("sm"),
        F.min("mx").alias("mn"),
        F.sum(F.when(F.col("mx") >= 0.25, F.lit(1)).otherwise(F.lit(0))).alias(
            "nc"
        ),
    )
    return a.crossJoin(F.broadcast(k)).select(
        F.col("n_corpus").cast("long").alias("n_corpus"),
        F.col("k_selected").cast("long").alias("k_selected"),
        rz6(F.col("sm").cast("double") / F.col("n_corpus") / 1e6).alias(
            "mean_max_sim"
        ),
        rz6(F.col("mn")).alias("min_max_sim"),
        rz6(F.col("nc").cast("double") / F.col("n_corpus")).alias(
            "frac_ge_025"
        ),
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents),
    dtiles AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i*8+1 : i*8+8], ' ') AS passage
      FROM tk, UNNEST(range(CAST(len(toks) // 8 AS BIGINT))) AS u(i)),
    shared AS (SELECT passage FROM dtiles GROUP BY passage
               HAVING count(*) BETWEEN 2 AND 20),
    edges AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM dtiles a
      JOIN shared USING (passage)
      JOIN dtiles b ON a.passage = b.passage AND a.doc_id < b.doc_id),
    deg AS (
      SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS id FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY id),
    tri AS (
      SELECT count(*) AS n_tri
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d) / 2 AS BIGINT) AS n_edges,
             CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg)
    SELECT n_nodes, n_edges,
           CAST(n_tri AS BIGINT) AS n_triangles, n_wedges,
           (round(CASE WHEN n_wedges = 0 THEN 0.0
                       ELSE 3.0 * n_tri / n_wedges END + 1e-9, 6) + 0.0)
             AS global_clustering
    FROM agg, tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the shared-passage duplication graph (same
    posting-keyed edge generation as graph_pagerank_neardup): triangle
    count, wedge count (Σ d(d−1)/2), and the global clustering
    coefficient 3·T/W — the transitivity readout that separates a
    corpus of tight duplicate cliques (clustering → 1, clusters are
    safe to collapse to one canonical doc) from chain-like passage
    reuse (clustering → 0, collapse would over-merge). Triangles
    enumerate through the ORDERED edge list (u < v): e(a,b) ⋈ e(b,c)
    ⋈ e(a,c) counts each triangle exactly once, and because near-dup
    components are df-capped (passages shared by 2-20 docs) the join
    fanout per vertex is bounded by cluster width; at open-web scale
    the standard refinement — orient edges low→high (degree, id) so
    fanout is capped by max OUT-degree ~ sqrt(m) — composes on the
    same frames. Everything downstream of the edge list is
    integer-exact."""
    tk = tok_docs(spark, sf_dir).where(F.size("toks") >= 8)
    dtiles = tk.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) div 8 - 1), "
                "i -> concat_ws(' ', slice(toks, i*8+1, 8)))"
            )
        ).alias("passage"),
    ).distinct()
    shared = (
        dtiles.groupBy("passage")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where((F.col("_df") >= 2) & (F.col("_df") <= 20))
        .select("passage")
    )
    a = dtiles.join(shared, "passage").alias("a")
    b = dtiles.join(shared, "passage").alias("b")
    # pin the edge list: deg + the three triangle-join aliases are FOUR
    # plan branches off this frame — unpinned, each re-runs the tokenize
    # + explode + distinct + posting join over the full corpus (4× the
    # only text-sized stage). The pinned frame is edge-sized, never
    # corpus-sized.
    edges = pin(
        a.join(
            b,
            (F.col("a.passage") == F.col("b.passage"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v")
        )
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("id"))
        .unionAll(edges.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    return agg.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        F.col("n_tri").cast("long").alias("n_triangles"),
        "n_wedges",
        rz6(
            F.when(F.col("n_wedges") == 0, F.lit(0.0)).otherwise(
                F.lit(3.0) * F.col("n_tri") / F.col("n_wedges")
            )
        ).alias("global_clustering"),
    )


@query(
    "emb_bucket_cohesion",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    nrm AS (
      SELECT vec_id, v,
             sqrt(list_reduce(list_transform(v, x -> x * x),
                              (a, b) -> a + b)) AS nv
      FROM e),
    ok AS (
      SELECT vec_id, v, nv,
             (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END)
             + (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END)
             + (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END)
             + (CASE WHEN v[5] >= 0 THEN 16 ELSE 0 END)
             + (CASE WHEN v[6] >= 0 THEN 32 ELSE 0 END)
             + (CASE WHEN v[7] >= 0 THEN 64 ELSE 0 END)
             + (CASE WHEN v[8] >= 0 THEN 128 ELSE 0 END) AS bucket
      FROM nrm WHERE nv > 0),
    dims AS (
      SELECT bucket, generate_subscripts(v, 1) AS d, unnest(v) AS x, nv
      FROM ok),
    s AS (
      SELECT bucket, d, sum(x / nv) AS sd
      FROM dims GROUP BY bucket, d),
    ssq AS (
      SELECT bucket, sum(sd * sd) AS s2 FROM s GROUP BY bucket),
    cnt AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM ok GROUP BY bucket)
    SELECT CAST(cnt.bucket AS BIGINT) AS bucket, n,
           {rz_sql('(s2 - n) / (n * (n - 1.0))', nudge='1e-8')}
             AS mean_pairwise_cosine
    FROM cnt JOIN ssq ON cnt.bucket = ssq.bucket
    WHERE n >= 2
    ORDER BY bucket
    """,
)
def emb_bucket_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohesion audit of sign-bit LSH buckets (first 8 hyperplane signs —
    the deterministic stand-in for random projections): per bucket, the
    EXACT mean pairwise cosine of its unit vectors via the moment
    identity mean = (||Σv̂||² − n) / (n(n−1)) — Σ_{i,j} v̂_i·v̂_j expands
    to n self-dots plus twice the pairwise sum, so the per-bucket
    elementwise vector sum is sufficient and NO pair is ever
    enumerated. That makes bucket quality (are candidates inside a
    bucket actually similar? how big is the skew-prone bucket?) an
    O(n·d) aggregate instead of the O(n²) audit it naively is — the
    readout that tunes bucket bit-width before committing an ANN index
    layout at scale. Scale shape: one posexplode to (bucket, dim)
    partial sums (map-side combine does most of the work), a
    bucket-keyed fold of d rows each, and a bucket-count frame —
    everything after the scan is ≤ 256·d rows."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    nrm = e.select(
        "vec_id",
        "v",
        F.sqrt(
            F.aggregate(
                F.transform("v", lambda x: x * x),
                F.lit(0.0),
                lambda a, b: a + b,
            )
        ).alias("nv"),
    ).where(F.col("nv") > 0)
    bucket = sum(
        F.when(F.element_at("v", i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(8)
    )
    ok = nrm.select(bucket.cast("long").alias("bucket"), "v", "nv")
    dims = ok.select(
        "bucket", F.posexplode("v").alias("d", "x"), "nv"
    )
    s = dims.groupBy("bucket", "d").agg(
        F.sum(F.col("x") / F.col("nv")).alias("sd")
    )
    ssq = s.groupBy("bucket").agg(F.sum(F.col("sd") * F.col("sd")).alias("s2"))
    cnt = ok.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        cnt.join(ssq, "bucket")
        .where(F.col("n") >= 2)
        .select(
            "bucket",
            "n",
            rz(
                (F.col("s2") - F.col("n")) / (F.col("n") * (F.col("n") - 1.0)),
                nudge=1e-8,
            ).alias("mean_pairwise_cosine"),
        )
        .orderBy("bucket")
    )


@query(
    "graph_component_histogram",
    oracle=f"""
    WITH RECURSIVE tk AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, source, {SHINGLES} AS sh FROM tk WHERE len(toks) >= 3),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) > 0
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
    e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
    reach(src, dst) AS (
      SELECT src, dst FROM e
      UNION
      SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src),
    sizes AS (
      SELECT cluster_id, count(*) AS sz FROM comp GROUP BY cluster_id),
    hist AS (
      SELECT CAST(sz AS BIGINT) AS component_size,
             CAST(count(*) AS BIGINT) AS n_components,
             CAST(sum(sz) AS BIGINT) AS n_docs
      FROM sizes GROUP BY sz
      UNION ALL
      SELECT 1,
             (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp),
             (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp))
    SELECT component_size, n_components, n_docs
    FROM hist WHERE n_components > 0 ORDER BY component_size
    """,
)
def graph_component_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size histogram of the near-dup graph (same ≥0.6-Jaccard
    pair basis and pointer-jumping components as dedup_clusters), with
    unclustered docs reported as size-1 components — the shape readout
    that decides dedup strategy: a long tail of pairs dedups cheaply by
    keep-best, a few giant components mean boilerplate/template families
    that need passage-level treatment instead (collapsing them whole
    would delete distinct documents). The oracle re-proves the
    components through a recursive-CTE transitive closure, so the
    histogram checks the FIXED POINT of a different algorithm. Scale
    shape: everything after the (already candidate-bounded) pair
    generation is cluster-table sized — two grouped counts and a 1-row
    singleton complement off a pinned cluster frame."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, block_col="source", n=3, threshold=0.6)
    comp = pin(dedup.duplicate_clusters(pairs))
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    hist = sizes.groupBy(F.col("sz").cast("long").alias("component_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_components"),
        F.sum("sz").cast("long").alias("n_docs"),
    )
    n_total = d.agg(F.count(F.lit(1)).alias("nt"))
    n_clustered = comp.agg(F.count(F.lit(1)).alias("nc"))
    singles = (
        n_total.crossJoin(F.broadcast(n_clustered))
        .select(
            F.lit(1).cast("long").alias("component_size"),
            (F.col("nt") - F.col("nc")).cast("long").alias("n_components"),
            (F.col("nt") - F.col("nc")).cast("long").alias("n_docs"),
        )
    )
    return (
        hist.unionByName(singles)
        .where(F.col("n_components") > 0)
        .orderBy("component_size")
    )


@query(
    "text_readability",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source, text, {TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id, source,
             CAST(len(toks) AS BIGINT) AS w,
             CAST(greatest(len(list_filter(
               string_split_regex(text, '[.!?]+'), s -> trim(s) <> '')), 1)
               AS BIGINT) AS s,
             CAST(list_sum(list_transform(toks,
               x -> len(regexp_extract_all(x, '[aeiouy]+')))) AS BIGINT) AS sy
      FROM tk WHERE len(toks) > 0),
    d AS (
      SELECT source,
             CAST(round((206.835
                         - 1.015 * (CAST(w AS DOUBLE) / s)
                         - 84.6 * (CAST(sy AS DOUBLE) / w)) * 10000)
               AS BIGINT) AS f4
      FROM m),
    a AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(f4) AS BIGINT) AS sf4,
             CAST(sum(CASE WHEN f4 < 300000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hard
      FROM d GROUP BY source)
    SELECT source, n_docs,
           (round(CAST(sf4 AS DOUBLE) / n_docs / 10000 + 1e-9, 6) + 0.0)
             AS avg_flesch,
           (round(CAST(n_hard AS DOUBLE) / n_docs + 1e-9, 6) + 0.0)
             AS share_hard
    FROM a ORDER BY source
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease profile per source: words/sentence and
    syllables/word (vowel-group proxy — the standard dictionary-free
    approximation) feed 206.835 − 1.015·W/S − 84.6·SY/W, reported as the
    per-source mean and the share of hard documents (score < 30,
    college-level) — the readability axis of mixture design (a corpus
    slice that drifts hard-to-read usually drifted source composition).
    Per-row work is a single codegen projection (regex splits + HOF
    sums); per-doc scores cross engines as exact integer 1e-4 units
    (rounded BEFORE aggregation), so the per-source mean is a
    deterministic division of BIGINTs — float summation order never
    matters. Output is source-cardinality-sized."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tk = d.select(
        "doc_id", "source", "text", tokenize(F.col("text")).alias("toks")
    ).where(F.size("toks") > 0)
    m = tk.select(
        "source",
        F.size("toks").cast("long").alias("w"),
        F.greatest(
            F.size(
                F.filter(
                    F.split(F.col("text"), r"[.!?]+"),
                    lambda s: F.trim(s) != "",
                )
            ),
            F.lit(1),
        )
        .cast("long")
        .alias("s"),
        F.aggregate(
            F.transform(
                "toks",
                lambda x: F.size(F.regexp_extract_all(x, F.lit("[aeiouy]+"), 0)),
            ),
            F.lit(0),
            lambda a, b: a + b,
        )
        .cast("long")
        .alias("sy"),
    )
    f4 = F.expr(
        "CAST(round((206.835 - 1.015 * (CAST(w AS DOUBLE) / s)"
        " - 84.6 * (CAST(sy AS DOUBLE) / w)) * 10000) AS BIGINT)"
    )
    a = m.select("source", f4.alias("f4")).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("f4").cast("long").alias("sf4"),
        F.sum(F.when(F.col("f4") < 300000, 1).otherwise(0))
        .cast("long")
        .alias("n_hard"),
    )
    return a.select(
        "source",
        "n_docs",
        rz(F.col("sf4").cast("double") / F.col("n_docs") / 10000, 6).alias(
            "avg_flesch"
        ),
        rz(F.col("n_hard").cast("double") / F.col("n_docs"), 6).alias(
            "share_hard"
        ),
    ).orderBy("source")


@query(
    "corpus_quality_dup_corr",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source, text, {TOKS} AS toks FROM documents
                WHERE length(text) > 0),
    q AS (
      SELECT doc_id,
             CAST(round(round(
               0.5 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
               + 0.25 * (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text))
               + 0.25 * (1.0 - CAST(len(list_filter(toks, x -> list_contains(['a','the','and','of','to','in','is','it'], x))) AS DOUBLE) / len(toks))
               + 1e-8, 4) * 10000) AS BIGINT) AS qm
      FROM tk WHERE len(toks) > 0),
    sh AS (SELECT doc_id, source, {SHINGLES} AS sh FROM tk WHERE len(toks) >= 3),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) > 0
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
    dups AS (SELECT id_a AS doc_id FROM p UNION SELECT id_b FROM p),
    x AS (
      SELECT qm, CASE WHEN dups.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dup
      FROM q LEFT JOIN dups ON q.doc_id = dups.doc_id),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(qm) AS BIGINT) AS sx,
             sum(CAST(qm AS DOUBLE) * qm) AS sxx,
             CAST(sum(dup) AS BIGINT) AS sy,
             CAST(sum(qm * dup) AS BIGINT) AS sxy
      FROM x)
    SELECT n AS n_docs, sy AS n_dup_docs,
           (round(CAST(sxy AS DOUBLE) / nullif(sy, 0) / 10000 + 1e-9, 6)
             + 0.0) AS mean_q_dup,
           (round(CAST(sx - sxy AS DOUBLE) / nullif(n - sy, 0) / 10000
                  + 1e-9, 6) + 0.0) AS mean_q_uniq,
           (round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / nullif(sqrt(CAST(n AS DOUBLE) * sxx
                                - CAST(sx AS DOUBLE) * sx)
                           * sqrt(CAST(n AS DOUBLE) * sy
                                  - CAST(sy AS DOUBLE) * sy), 0)
                  + 1e-9, 6) + 0.0) AS pearson_r
    FROM mo
    """,
)
def corpus_quality_dup_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-biserial correlation between document quality and NEAR-DUP
    membership (participation in a ≥0.6-Jaccard candidate pair — the
    same posting-bounded pair basis as dedup_clusters) — the
    cross-signal audit behind gate ordering: a strongly negative r says
    duplicates are also low quality (dedup first, the quality gate then
    sees less data); r ≈ 0 says the two filters prune independent
    populations. Quality is the catalog's composite heuristic rounded
    to exact 1e-4 integer units BEFORE any aggregation, dup is a 0/1
    indicator off a left-semi membership join, so every moment
    (Σx, Σx², Σy, Σxy) is an exact BIGINT and the correlation is one
    deterministic expression of integers — no float summation anywhere.
    Scale shape: the pair generation is the already-candidate-bounded
    jaccard_pairs plan; downstream is one id-keyed membership join and
    one 5-long-column aggregate."""
    d = t(spark, sf_dir, "documents").where(F.length("text") > 0)
    tk = d.select("doc_id", "text", tokenize(F.col("text")).alias("toks")).where(
        F.size("toks") > 0
    )
    q = tk.select(
        "doc_id",
        F.expr(
            "CAST(round(round({q} + 1e-8, 4) * 10000) AS BIGINT)".format(
                q="0.5 * least(CAST(size(toks) AS DOUBLE) / 100.0, 1.0)"
                " + 0.25 * (1.0 - CAST(length(regexp_replace(text,"
                " '[a-zA-Z0-9\\\\s]', '')) AS DOUBLE) / length(text))"
                " + 0.25 * (1.0 - CAST(size(filter(toks, x ->"
                " array_contains(array('a','the','and','of','to','in','is',"
                "'it'), x))) AS DOUBLE) / size(toks))"
            )
        ).alias("qm"),
    )
    pairs = dedup.jaccard_pairs(d, block_col="source", n=3, threshold=0.6)
    dups = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b")))
        .distinct()
        .withColumn("_isdup", F.lit(1))
    )
    x = q.join(dups, "doc_id", "left").select(
        "qm", F.coalesce(F.col("_isdup"), F.lit(0)).alias("dup")
    )
    mo = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qm").cast("long").alias("sx"),
        # qm^2 sums wrap int64 near 1e11 docs (the 100 TB doc-count
        # boundary) while DuckDB promotes to HUGEINT; accumulate in
        # double — terms integer-exact below 2^53
        F.sum(F.col("qm").cast("double") * F.col("qm")).alias("sxx"),
        F.sum("dup").cast("long").alias("sy"),
        F.sum(F.col("qm") * F.col("dup")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    denom = F.nullif(
        F.sqrt(nd * F.col("sxx") - sxd * F.col("sx"))
        * F.sqrt(nd * F.col("sy") - syd * F.col("sy")),
        F.lit(0.0),
    )
    return mo.select(
        F.col("n").alias("n_docs"),
        F.col("sy").alias("n_dup_docs"),
        rz6(
            F.col("sxy").cast("double")
            / F.nullif(F.col("sy"), F.lit(0))
            / 10000
        ).alias("mean_q_dup"),
        rz6(
            (F.col("sx") - F.col("sxy")).cast("double")
            / F.nullif(F.col("n") - F.col("sy"), F.lit(0))
            / 10000
        ).alias("mean_q_uniq"),
        rz6((nd * F.col("sxy") - sxd * F.col("sy")) / denom).alias("pearson_r"),
    )


@query(
    "text_code_detection",
    oracle=f"""
    WITH m AS (
      SELECT source,
             CAST(round(
               CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                    AS DOUBLE) / length(text) * 1000000) AS BIGINT) AS symd,
             CAST(len(regexp_extract_all(text, '[{{}};=()\\[\\]<>]')) AS BIGINT)
               AS n_code_chars,
             CAST(len(regexp_extract_all(lower(text),
               '\\b(def|return|import|void|function|class|const|var|int)\\b'))
               AS BIGINT) AS kw_hits
      FROM documents WHERE length(text) > 0),
    fl AS (
      SELECT source, symd,
             CASE WHEN (symd > 50000 AND n_code_chars >= 4) OR kw_hits >= 3
                  THEN 1 ELSE 0 END AS code_like
      FROM m),
    a AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(symd) AS BIGINT) AS s_symd,
             CAST(sum(code_like) AS BIGINT) AS n_code
      FROM fl GROUP BY source)
    SELECT source, n_docs, n_code AS n_code_like,
           (round(CAST(n_code AS DOUBLE) / n_docs + 1e-9, 6) + 0.0)
             AS share_code_like,
           (round(CAST(s_symd AS DOUBLE) / n_docs / 1000000 + 1e-9, 6) + 0.0)
             AS avg_symbol_density
    FROM a ORDER BY source
    """,
)
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose screen per source: symbol density (non-alphanumeric,
    non-whitespace share of characters), code-punctuation count
    ({{}};=()[]<>), and programming-keyword hits feed a deterministic
    code_like flag — the gate a text-corpus pipeline runs to ROUTE code
    into its own pipeline (code wants different dedup granularity,
    different quality rules, different mixture weight) rather than let
    prose heuristics mis-score it. Per-row work is one codegen regex
    projection; per-doc symbol density crosses engines as exact 1e-6
    integer units BEFORE the per-source fold, so the means are
    deterministic BIGINT divisions. Output is source-cardinality-sized
    at any corpus."""
    d = t(spark, sf_dir, "documents").where(F.length("text") > 0)
    m = d.select(
        "source",
        F.expr(
            "CAST(round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\\\s]',"
            " '')) AS DOUBLE) / length(text) * 1000000) AS BIGINT)"
        ).alias("symd"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[{};=()\[\]<>]"), 0)
        )
        .cast("long")
        .alias("n_code_chars"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")),
                F.lit(
                    r"\b(def|return|import|void|function|class|const|var|int)\b"
                ),
                0,
            )
        )
        .cast("long")
        .alias("kw_hits"),
    )
    fl = m.select(
        "source",
        "symd",
        F.when(
            ((F.col("symd") > 50000) & (F.col("n_code_chars") >= 4))
            | (F.col("kw_hits") >= 3),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("code_like"),
    )
    a = fl.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("symd").cast("long").alias("s_symd"),
        F.sum("code_like").cast("long").alias("n_code"),
    )
    return a.select(
        "source",
        "n_docs",
        F.col("n_code").alias("n_code_like"),
        rz(F.col("n_code").cast("double") / F.col("n_docs"), 6).alias(
            "share_code_like"
        ),
        rz(
            F.col("s_symd").cast("double") / F.col("n_docs") / 1000000, 6
        ).alias("avg_symbol_density"),
    ).orderBy("source")


@query(
    "emb_isotropy_audit",
    oracle=f"""
    WITH e AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    nrm AS (
      SELECT v, sqrt(list_reduce(list_transform(v, x -> x * x),
                                 (a, b) -> a + b)) AS nv
      FROM e),
    dims AS (
      SELECT generate_subscripts(v, 1) AS d, unnest(v) AS x, nv
      FROM nrm WHERE nv > 0),
    s AS (
      SELECT d, sum(x / nv) AS sd, sum((x / nv) * (x / nv)) AS sdd,
             count(*) AS n
      FROM dims GROUP BY d),
    var AS (
      SELECT d, sdd / n - (sd / n) * (sd / n) AS vd, sd, n FROM s),
    agg AS (
      SELECT CAST(max(n) AS BIGINT) AS n_vectors,
             sum(sd * sd) AS ssq,
             max(vd) AS top_var, sum(vd) AS tot_var,
             sum(vd * vd) AS var_sq
      FROM var)
    SELECT n_vectors,
           {rz_sql('(ssq - n_vectors) / nullif(n_vectors * (n_vectors - 1.0), 0)', 6, '1e-8')}
             AS mean_pairwise_cosine,
           {rz_sql('top_var / nullif(tot_var, 0)', 6, '1e-8')}
             AS top_dim_var_share,
           {rz_sql('(tot_var * tot_var) / nullif(var_sq, 0)', 4, '1e-8')}
             AS effective_dims
    FROM agg
    """,
)
def emb_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy / collapse audit of the embedding space, one row from one
    pass: (1) the EXACT corpus-wide mean pairwise cosine via the moment
    identity (‖Σv̂‖²−n)/(n(n−1)) — drifting toward 1 means the encoder
    is collapsing (every vector similar to every other: retrieval and
    dedup both degrade), toward 0 means healthy spread; (2) the top
    dimension's share of total variance and the participation ratio
    (Σλ)²/Σλ² ("effective dimensions") over per-dimension variances of
    the unit vectors — a rogue dominant dimension is the classic
    anisotropy failure that makes cosine distances meaningless. All
    statistics derive from (dim)-keyed sums — O(n·d) map-side work, a
    d-row exchange, never a pair enumeration or a d×d gram product.
    Companion to emb_bucket_cohesion (same identity, bucket-local)."""
    e = t(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    nrm = e.select(
        "v",
        F.sqrt(
            F.aggregate(
                F.transform("v", lambda x: x * x),
                F.lit(0.0),
                lambda a, b: a + b,
            )
        ).alias("nv"),
    ).where(F.col("nv") > 0)
    dims = nrm.select(F.posexplode("v").alias("d", "x"), "nv")
    s = dims.groupBy("d").agg(
        F.sum(F.col("x") / F.col("nv")).alias("sd"),
        F.sum((F.col("x") / F.col("nv")) * (F.col("x") / F.col("nv"))).alias(
            "sdd"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    var = s.select(
        "d",
        "sd",
        "n",
        (F.col("sdd") / F.col("n") - (F.col("sd") / F.col("n")) * (F.col("sd") / F.col("n"))).alias("vd"),
    )
    agg = var.agg(
        F.max("n").cast("long").alias("n_vectors"),
        F.sum(F.col("sd") * F.col("sd")).alias("ssq"),
        F.max("vd").alias("top_var"),
        F.sum("vd").alias("tot_var"),
        F.sum(F.col("vd") * F.col("vd")).alias("var_sq"),
    )
    return agg.select(
        "n_vectors",
        rz(
            (F.col("ssq") - F.col("n_vectors"))
            / F.nullif(
                F.col("n_vectors") * (F.col("n_vectors") - 1.0), F.lit(0.0)
            ),
            6,
            nudge=1e-8,
        ).alias("mean_pairwise_cosine"),
        rz(
            F.col("top_var") / F.nullif(F.col("tot_var"), F.lit(0.0)),
            6,
            nudge=1e-8,
        ).alias("top_dim_var_share"),
        rz(
            (F.col("tot_var") * F.col("tot_var"))
            / F.nullif(F.col("var_sq"), F.lit(0.0)),
            4,
            nudge=1e-8,
        ).alias("effective_dims"),
    )


@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    wc AS (
      SELECT unnest(toks) AS w FROM tk),
    cnt AS (SELECT w, count(*) AS c FROM wc GROUP BY w),
    rk AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM cnt),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(c) AS BIGINT) AS n_tokens
      FROM cnt),
    ks AS (SELECT unnest([100, 1000, 10000, 50000]) AS k),
    cov AS (
      SELECT k, CAST(sum(c) AS BIGINT) AS covered
      FROM ks JOIN rk ON rk.r <= ks.k GROUP BY k)
    SELECT CAST(k AS BIGINT) AS vocab_size, vocab AS corpus_vocab,
           n_tokens, coalesce(covered, 0) AS covered_tokens,
           (round(CAST(coalesce(covered, 0) AS DOUBLE) / n_tokens
                  + 1e-9, 6) + 0.0) AS coverage
    FROM ks LEFT JOIN cov USING (k) CROSS JOIN tot
    ORDER BY vocab_size
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of all token occurrences
    the top-k most frequent words cover, at k ∈ {100, 1k, 10k, 50k} —
    the readout that sizes a tokenizer vocabulary (the gap between the
    coverage at your candidate k and 1.0 is exactly the byte-fallback /
    UNK traffic a BPE of that size will carry). The frequency ranking
    uses `global_rank` (range exchange + per-partition rank + offsets),
    never a vocabulary-wide single-partition window, and the checkpoint
    sums are one conditional aggregate over the ranked vocab — the
    corpus-sized work is exactly one tokenize+explode+count."""
    from sec_dl_spark.operators.relational import global_rank

    tk = tok_docs(spark, sf_dir)
    cnt = (
        tk.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk = global_rank(cnt, [F.desc("c"), F.asc("w")], rank_col="r")
    tot = cnt.agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    ks = [100, 1000, 10000, 50000]
    # global_rank is 0-based: ranks 0..k-1 are the top-k words (the
    # oracle's 1-based row_number uses r <= k; the planted pytest pins
    # the boundary — the fixture corpus has a 31-word vocabulary, so
    # every checkpoint saturates at 1.0 and the oracle alone could
    # never see an off-by-one here)
    cov = rk.agg(
        *[
            F.sum(F.when(F.col("r") < k, F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"cov_{k}")
            for k in ks
        ]
    )
    spine = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).cast("long").alias("vocab_size"),
                    F.col(f"cov_{k}").alias("covered_tokens"),
                )
                for k in ks
            ]
        )
    ).alias("s")
    return (
        cov.crossJoin(F.broadcast(tot))
        .select(spine, "vocab", "n_tokens")
        .select(
            F.col("s.vocab_size").alias("vocab_size"),
            F.col("vocab").alias("corpus_vocab"),
            "n_tokens",
            F.col("s.covered_tokens").alias("covered_tokens"),
            rz(
                F.col("s.covered_tokens").cast("double") / F.col("n_tokens"),
                6,
            ).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


@query(
    "text_dedup_threshold_sweep",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, source, {SHINGLES} AS sh FROM tk WHERE len(toks) >= 3),
    p AS (
      -- UNROUNDED jaccard: the double division of identical integer
      -- intersect/union sizes is bit-identical across engines, so the
      -- threshold comparisons agree exactly; rounding on one side only
      -- would diverge for pairs within 5e-7 of a cutoff
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.sh, b.sh))) AS j
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) > 0),
    th AS (SELECT unnest([0.3, 0.45, 0.6, 0.75, 0.9]) AS t),
    pairs AS (
      SELECT t, CAST(count(*) FILTER (j >= t) AS BIGINT) AS n_pairs
      FROM th, p GROUP BY t),
    docs AS (
      SELECT t, CAST(count(DISTINCT d) AS BIGINT) AS n_docs_affected
      FROM th, (SELECT id_a AS d, j FROM p UNION ALL SELECT id_b, j FROM p) u
      WHERE u.j >= th.t GROUP BY t)
    SELECT (round(t + 1e-9, 6) + 0.0) AS threshold, n_pairs,
           coalesce(n_docs_affected, 0) AS n_docs_affected
    FROM pairs LEFT JOIN docs USING (t) ORDER BY threshold
    """,
)
def text_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold tuning curve: candidate-pair counts and distinct
    documents affected at Jaccard thresholds 0.3→0.9 — the table that
    picks the near-dup cutoff BEFORE committing a corpus-wide dedup run
    (too low over-merges distinct documents, too high leaves template
    families in; the knee of this curve is the operating point). The
    expensive work — posting-bounded candidate generation + one exact
    Jaccard per candidate — runs ONCE at the sweep floor; each
    threshold is a conditional count over the same scored pair frame
    (pinned, pair-table-sized), and docs-affected explodes pairs into
    (threshold, doc) distinct counts. No per-threshold rescans."""
    d = t(spark, sf_dir, "documents")
    pairs = pin(
        dedup.jaccard_pairs(d, block_col="source", n=3, threshold=0.3).select(
            "id_a", "id_b", F.col("jaccard").alias("j")
        )
    )
    ths = [0.3, 0.45, 0.6, 0.75, 0.9]
    th = F.explode(
        F.array(*[F.lit(x).cast("double") for x in ths])
    ).alias("t")
    fan = pairs.select(th, "id_a", "id_b", "j").where(F.col("j") >= F.col("t"))
    pcnt = fan.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    dcnt = (
        fan.select("t", F.col("id_a").alias("d"))
        .unionAll(fan.select("t", F.col("id_b")))
        .groupBy("t")
        .agg(F.count_distinct("d").cast("long").alias("n_docs_affected"))
    )
    spine = pairs.sparkSession.createDataFrame(
        [(x,) for x in ths], "t double"
    )
    return (
        spine.join(pcnt, "t", "left")
        .join(dcnt, "t", "left")
        .select(
            rz6(F.col("t")).alias("threshold"),
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce(F.col("n_docs_affected"), F.lit(0))
            .cast("long")
            .alias("n_docs_affected"),
        )
        .orderBy("threshold")
    )


@query(
    "text_license_detection",
    oracle="""
    WITH m AS (
      SELECT source,
             CASE
               WHEN regexp_matches(lower(text),
                 'apache license|licensed under the apache') THEN 'apache'
               WHEN regexp_matches(lower(text),
                 'mit license|permission is hereby granted, free of charge')
                 THEN 'mit'
               WHEN regexp_matches(lower(text),
                 'gnu general public license|gpl') THEN 'gpl'
               WHEN regexp_matches(lower(text),
                 'all rights reserved') THEN 'all_rights_reserved'
               ELSE 'none'
             END AS license
      FROM documents WHERE length(text) > 0)
    SELECT source, license, CAST(count(*) AS BIGINT) AS n_docs
    FROM m GROUP BY source, license ORDER BY source, license
    """,
)
def text_license_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License / usage-rights screen per source: first-match phrase
    detection (Apache, MIT, GPL, all-rights-reserved, none) — the
    compliance gate a training-corpus pipeline runs BEFORE mixing a
    source in, since a source whose docs carry restrictive markers
    needs exclusion or separate handling, and the per-source census is
    the evidence. The CASE ladder is ordered (first match wins) and
    identical in both engines; per-row work is one codegen regex
    projection, and output is source × license cardinality — the same
    scan-bound shape as text_code_detection. A production pipeline
    extends the phrase table; the plan shape is unchanged at any
    corpus size."""
    d = t(spark, sf_dir, "documents").where(F.length("text") > 0)
    lt = F.lower(F.col("text"))
    license_col = (
        F.when(
            lt.rlike("apache license|licensed under the apache"),
            F.lit("apache"),
        )
        .when(
            lt.rlike(
                "mit license|permission is hereby granted, free of charge"
            ),
            F.lit("mit"),
        )
        .when(lt.rlike("gnu general public license|gpl"), F.lit("gpl"))
        .when(lt.rlike("all rights reserved"), F.lit("all_rights_reserved"))
        .otherwise(F.lit("none"))
    )
    return (
        d.select("source", license_col.alias("license"))
        .groupBy("source", "license")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("source", "license")
    )


@query(
    "corpus_shuffle_interleave",
    oracle="""
    WITH h AS (
      SELECT doc_id, source,
             (doc_id % 2147483647) * 2654435761 % 2147483647 AS hkey
      FROM documents),
    p AS (
      SELECT source,
             row_number() OVER (ORDER BY hkey, doc_id) - 1 AS pos
      FROM h),
    n AS (SELECT count(*) AS n_all FROM p),
    runs AS (
      SELECT source, pos,
             pos - row_number() OVER (
               PARTITION BY source ORDER BY pos) AS island
      FROM p),
    run_len AS (
      SELECT source, island, count(*) AS rl
      FROM runs GROUP BY source, island),
    per_source AS (
      SELECT p.source,
             count(*) AS n_docs,
             sum(CAST(pos AS DOUBLE)) AS sum_pos
      FROM p GROUP BY p.source)
    SELECT ps.source,
           CAST(ps.n_docs AS BIGINT) AS n_docs,
           (round(ps.sum_pos / ps.n_docs / ((n.n_all - 1) / 2.0)
                  + 1e-9, 6) + 0.0) AS mean_pos_ratio,
           CAST((SELECT max(rl) FROM run_len r WHERE r.source = ps.source)
                AS BIGINT) AS max_run
    FROM per_source ps, n ORDER BY ps.source
    """,
)
def corpus_shuffle_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order shuffle audit: assign every document its position
    in a DETERMINISTIC hash shuffle (Knuth multiplicative hash of
    doc_id, doc_id tie-break — the reproducible global order a trainer
    would stream), then grade how well the sources interleave: per
    source, the mean-position ratio (≈ 1.0 when the source is spread
    uniformly through the epoch; < 1 means it clusters early, > 1
    late) and the LONGEST same-source run (a long run is exactly the
    curriculum accident — thousands of consecutive same-domain
    examples — that hash shuffling is supposed to prevent). This is
    the pre-flight check before shipping a packed/sharded corpus to a
    trainer: exact-epoch reproducibility plus proof the mix is
    actually mixed.

    Scale shape: positions come from global_rank (range exchange +
    local ranks + broadcast offsets — never a single-partition
    row_number over the corpus); run detection is the gaps-and-islands
    trick inside source-partitioned windows; the position sum
    accumulates in DOUBLE in both engines (Σpos is quadratic in corpus
    size and wraps int64 near 4.3e9 docs — the dq_join_key_skew
    class), each term integer-exact below 2^53. Output is
    source-count-sized."""
    from sec_dl_spark.operators.relational import global_rank as _grank

    h = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        ((F.col("doc_id") % 2147483647) * 2654435761 % 2147483647).alias(
            "hkey"
        ),
    )
    p = pin(
        _grank(h, order=["hkey", "doc_id"], rank_col="pos").select(
            "source", "pos"
        )
    )
    n = p.agg(F.count(F.lit(1)).alias("n_all"))
    ws = Window.partitionBy("source").orderBy("pos")
    runs = p.withColumn(
        "island", F.col("pos") - F.row_number().over(ws)
    )
    run_len = runs.groupBy("source", "island").agg(
        F.count(F.lit(1)).alias("rl")
    )
    max_run = run_len.groupBy("source").agg(F.max("rl").alias("max_run"))
    per_source = p.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("pos").cast("double")).alias("sum_pos"),
    )
    return (
        per_source.join(max_run, "source")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            rz6(
                F.col("sum_pos")
                / F.col("n_docs")
                / ((F.col("n_all") - 1) / F.lit(2.0))
            ).alias("mean_pos_ratio"),
            F.col("max_run").cast("long").alias("max_run"),
        )
        .orderBy("source")
    )


@query(
    "emb_topk_diversity",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 50),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(round(list_cosine_similarity(qv, cv) * 1000000) AS BIGINT)
               AS rel_u
      FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
    topk AS (
      SELECT query_id, neighbor_id, rel_u FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY rel_u DESC, neighbor_id) AS rank
        FROM scored) WHERE rank <= 5),
    pairs AS (
      SELECT a.query_id,
             CAST(round(list_cosine_similarity(ca.cv, cb.cv) * 1000000)
                  AS BIGINT) AS pair_u
      FROM topk a JOIN topk b
        ON a.query_id = b.query_id AND a.neighbor_id < b.neighbor_id
      JOIN c ca ON a.neighbor_id = ca.neighbor_id
      JOIN c cb ON b.neighbor_id = cb.neighbor_id),
    rel AS (
      SELECT query_id, sum(rel_u) AS rel_sum, count(*) AS k
      FROM topk GROUP BY query_id),
    div AS (
      SELECT query_id, sum(pair_u) AS pair_sum, count(*) AS np
      FROM pairs GROUP BY query_id)
    SELECT r.query_id,
           (round(CAST(r.rel_sum AS DOUBLE) / r.k / 1000000.0
                  + 1e-9, 6) + 0.0) AS mean_relevance,
           (round(1.0 - CAST(d.pair_sum AS DOUBLE) / d.np / 1000000.0
                  + 1e-9, 6) + 0.0) AS intra_list_diversity
    FROM rel r JOIN div d ON r.query_id = d.query_id
    ORDER BY r.query_id
    """,
)
def emb_topk_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-list diversity (ILD) of each query's exact cosine top-5:
    mean relevance of the retrieved list next to 1 − (mean pairwise
    cosine among the 5 neighbors) — the standard retrieval-quality
    pair: a list can be highly relevant yet redundant (five
    paraphrases of one document), and ILD is the number MMR-style
    re-rankers optimize. Reading both per query tells you whether the
    index needs a diversity re-rank before its results feed RAG or
    training-data selection.

    Scale shape: the top-5 lists come from the two-phase exact top-k
    (queries bounded; no corpus-wide window); the pair stage is
    CONSTANT per query — C(5,2) = 10 pairs via a rank self-join
    co-located on query_id, each pair's cosine a factored-norm dot on
    vectors fetched by two key joins. Per-item cosines are rounded to
    1e-6 integer units BEFORE the per-query folds (the integer-moment
    convention: sums of exact integers, one division at the end), so
    both engines average identical values in any order."""
    e = t(spark, sf_dir, "embeddings")
    topk = similarity.cosine_topk(e, e.where(F.col("vec_id") < 50), k=5)
    tk = pin(
        topk.select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cosine_sim") * 1e6).cast("long").alias("rel_u"),
        )
    )
    en = similarity.with_vec_norm(e, "embedding", vec_out="_vd", norm_out="_nrm")
    a = tk.select("query_id", F.col("neighbor_id").alias("id_a"))
    b = tk.select(F.col("query_id").alias("qb"), F.col("neighbor_id").alias("id_b"))
    pair_ids = a.join(
        b, (a.query_id == b.qb) & (a.id_a < b.id_b)
    ).select("query_id", "id_a", "id_b")
    ea = en.select(
        F.col("vec_id").alias("id_a"),
        F.col("_vd").alias("va"),
        F.col("_nrm").alias("na"),
    )
    eb = en.select(
        F.col("vec_id").alias("id_b"),
        F.col("_vd").alias("vb"),
        F.col("_nrm").alias("nb"),
    )
    psim = similarity.dot(F.col("va"), F.col("vb")) / (
        F.col("na") * F.col("nb")
    )
    pairs = (
        pair_ids.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "query_id",
            F.round(psim * 1e6).cast("long").alias("pair_u"),
        )
    )
    rel = tk.groupBy("query_id").agg(
        F.sum("rel_u").alias("rel_sum"), F.count(F.lit(1)).alias("k")
    )
    div = pairs.groupBy("query_id").agg(
        F.sum("pair_u").alias("pair_sum"), F.count(F.lit(1)).alias("np")
    )
    return (
        rel.join(div, "query_id")
        .select(
            "query_id",
            rz6(
                F.col("rel_sum").cast("double") / F.col("k") / 1e6
            ).alias("mean_relevance"),
            rz6(
                1.0 - F.col("pair_sum").cast("double") / F.col("np") / 1e6
            ).alias("intra_list_diversity"),
        )
        .orderBy("query_id")
    )


@query(
    "text_collocations_pmi",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    uni AS (
      SELECT unnest(toks) AS tok FROM tk),
    uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
    tt AS (SELECT sum(c) AS t FROM uc),
    bg AS (
      SELECT toks[i] AS tok_a, toks[i+1] AS tok_b
      FROM tk, UNNEST(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2),
    bc AS (
      SELECT tok_a, tok_b, count(*) AS c_ab
      FROM bg GROUP BY tok_a, tok_b HAVING count(*) >= 5),
    bt AS (SELECT count(*) AS b FROM bg),
    s AS (
      SELECT bc.tok_a || ' ' || bc.tok_b AS bigram,
             bc.c_ab, ua.c AS c_a, ub.c AS c_b,
             ln(CAST(bc.c_ab AS DOUBLE) * tt.t * tt.t
                / (CAST(bt.b AS DOUBLE) * ua.c * ub.c)) AS pmi
      FROM bc JOIN uc ua ON bc.tok_a = ua.tok
              JOIN uc ub ON bc.tok_b = ub.tok, tt, bt)
    SELECT bigram, CAST(c_ab AS BIGINT) AS c_ab,
           CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
           (round(pmi + 1e-9, 6) + 0.0) AS pmi
    FROM s ORDER BY pmi DESC, bigram LIMIT 20
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the top-20 bigrams by pointwise mutual
    information, PMI = ln(P(ab) / (P(a)·P(b))) with a min-support of 5
    — the measure that separates REAL collocations ("san francisco")
    from bigrams that are frequent only because both words are ("of
    the" has huge count but PMI ≈ 0). This is the phrase-discovery
    primitive behind tokenizer vocab curation, multi-word-expression
    lists, and keyphrase features.

    Scale shape: unigram and bigram counts collapse to distinct-token /
    distinct-bigram grain with map-side combine; the PMI table is the
    bigram frame joined twice to the unigram frame BY TOKEN (key joins,
    never broadcast of the corpus) with the two scalar totals as 1-row
    broadcasts; top-20 is a TakeOrdered over the distinct-bigram frame.
    PMI is ln of an exact integer rational evaluated with the identical
    expression in both engines; ties break on the bigram text."""
    tk = tok_docs(spark, sf_dir)
    uni = tk.select(F.explode("toks").alias("tok"))
    uc = pin(uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c")))
    tt = uc.agg(F.sum("c").alias("t"))
    bg = tk.where(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i-1] AS tok_a, toks[i] AS tok_b))"
            )
        ).alias("p")
    ).select("p.tok_a", "p.tok_b")
    bg = pin(bg)
    bc = (
        bg.groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 5)
    )
    bt = bg.agg(F.count(F.lit(1)).alias("b"))
    ua = uc.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uc.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    s = (
        bc.join(ua, "tok_a")
        .join(ub, "tok_b")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(bt))
    )
    pmi = F.log(
        F.col("c_ab").cast("double")
        * F.col("t")
        * F.col("t")
        / (F.col("b").cast("double") * F.col("c_a") * F.col("c_b"))
    )
    return (
        s.select(
            F.concat_ws(" ", "tok_a", "tok_b").alias("bigram"),
            F.col("c_ab").cast("long").alias("c_ab"),
            F.col("c_a").cast("long").alias("c_a"),
            F.col("c_b").cast("long").alias("c_b"),
            rz6(pmi).alias("pmi"),
        )
        # order by the ROUNDED pmi (the oracle's bare ORDER BY pmi binds
        # to the rounded select alias, not the CTE column — DuckDB alias
        # precedence), so both engines break rounding-ties on the bigram
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(20)
    )


@query(
    "emb_cluster_purity",
    oracle="""
    WITH e AS (
      SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (
      SELECT label,
             (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END)
             + (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END)
             + (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END)
             + (CASE WHEN v[5] >= 0 THEN 16 ELSE 0 END)
             + (CASE WHEN v[6] >= 0 THEN 32 ELSE 0 END)
             + (CASE WHEN v[7] >= 0 THEN 64 ELSE 0 END)
             + (CASE WHEN v[8] >= 0 THEN 128 ELSE 0 END) AS bucket
      FROM e),
    cell AS (SELECT bucket, label, count(*) AS n FROM b GROUP BY bucket, label),
    n AS (SELECT sum(n) AS total FROM cell),
    bk AS (SELECT bucket, sum(n) AS nb FROM cell GROUP BY bucket),
    lb AS (SELECT label, sum(n) AS nl FROM cell GROUP BY label),
    pur AS (SELECT sum(mx) AS pure FROM
            (SELECT bucket, max(n) AS mx FROM cell GROUP BY bucket)),
    mi AS (
      SELECT sum(CAST(round(
        (CAST(cell.n AS DOUBLE) / n.total)
        * ln(CAST(cell.n AS DOUBLE) * n.total
             / (CAST(bk.nb AS DOUBLE) * lb.nl)) * 1000000000) AS BIGINT))
        AS mi_u
      FROM cell JOIN bk USING (bucket) JOIN lb USING (label), n),
    hb AS (
      SELECT sum(CAST(round(
        -(CAST(nb AS DOUBLE) / n.total) * ln(CAST(nb AS DOUBLE) / n.total)
        * 1000000000) AS BIGINT)) AS hb_u
      FROM bk, n),
    hl AS (
      SELECT sum(CAST(round(
        -(CAST(nl AS DOUBLE) / n.total) * ln(CAST(nl AS DOUBLE) / n.total)
        * 1000000000) AS BIGINT)) AS hl_u
      FROM lb, n)
    SELECT CAST(n.total AS BIGINT) AS n_vecs,
           (SELECT CAST(count(*) AS BIGINT) FROM bk) AS n_buckets,
           (SELECT CAST(count(*) AS BIGINT) FROM lb) AS n_labels,
           (round(CAST(pur.pure AS DOUBLE) / n.total + 1e-9, 6) + 0.0)
             AS purity,
           (round(2.0 * mi.mi_u / nullif(hb.hb_u + hl.hl_u, 0)
                  + 1e-9, 6) + 0.0) AS nmi
    FROM n, pur, mi, hb, hl
    """,
)
def emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering evaluation of the deterministic sign-bit
    buckets (first 8 hyperplane signs — the same cells
    emb_bucket_cohesion audits) against the ground-truth labels:
    PURITY (each bucket votes its majority label) and NORMALIZED
    MUTUAL INFORMATION, the two standard scores for "did the cheap
    geometric partition recover the semantic classes" — the go/no-go
    readout before trusting bucketed structures (LSH dedup cells, IVF
    lists) to respect class boundaries.

    Scale shape: one scan folds to the (bucket, label) CONTINGENCY
    TABLE (≤ 256 × n_labels cells — everything after is cell-sized);
    purity is an exact integer sum of per-bucket maxima; the MI and
    entropy terms are per-cell doubles of exact integer counts,
    rounded to 1e-9 integer units BEFORE their folds (the
    integer-moment convention — both engines sum identical integers in
    any order), combined once at the end. NMI = 2·I(B;L)/(H(B)+H(L)),
    zero-entropy-guarded identically in both engines."""
    e = t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    bucket = sum(
        F.when(F.element_at(v, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(8)
    )
    cell = pin(
        e.select("label", bucket.alias("bucket"))
        .groupBy("bucket", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n = cell.agg(F.sum("n").alias("total"))
    bk = pin(cell.groupBy("bucket").agg(F.sum("n").alias("nb")))
    lb = pin(cell.groupBy("label").agg(F.sum("n").alias("nl")))
    pure = (
        cell.groupBy("bucket")
        .agg(F.max("n").alias("mx"))
        .agg(F.sum("mx").alias("pure"))
    )
    nd = F.col("n").cast("double")
    mi_term = (
        (nd / F.col("total"))
        * F.log(
            nd * F.col("total")
            / (F.col("nb").cast("double") * F.col("nl"))
        )
        * 1e9
    )
    mi = (
        cell.join(bk, "bucket")
        .join(lb, "label")
        .crossJoin(F.broadcast(n))
        .agg(F.sum(F.round(mi_term).cast("long")).alias("mi_u"))
    )
    hb_term = (
        -(F.col("nb").cast("double") / F.col("total"))
        * F.log(F.col("nb").cast("double") / F.col("total"))
        * 1e9
    )
    hb = bk.crossJoin(F.broadcast(n)).agg(
        F.sum(F.round(hb_term).cast("long")).alias("hb_u")
    )
    hl_term = (
        -(F.col("nl").cast("double") / F.col("total"))
        * F.log(F.col("nl").cast("double") / F.col("total"))
        * 1e9
    )
    hl = lb.crossJoin(F.broadcast(n)).agg(
        F.sum(F.round(hl_term).cast("long")).alias("hl_u")
    )
    nbk = bk.agg(F.count(F.lit(1)).alias("n_buckets"))
    nlb = lb.agg(F.count(F.lit(1)).alias("n_labels"))
    out = (
        n.crossJoin(F.broadcast(pure))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hb))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(nbk))
        .crossJoin(F.broadcast(nlb))
    )
    return out.select(
        F.col("total").cast("long").alias("n_vecs"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.col("n_labels").cast("long").alias("n_labels"),
        rz6(F.col("pure").cast("double") / F.col("total")).alias("purity"),
        rz6(
            2.0
            * F.col("mi_u")
            / F.nullif(F.col("hb_u") + F.col("hl_u"), F.lit(0))
        ).alias("nmi"),
    )


@query(
    "graph_degree_histogram",
    oracle="""
    WITH tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents),
    dtiles AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i*8+1 : i*8+8], ' ') AS passage
      FROM tk, UNNEST(range(CAST(len(toks) // 8 AS BIGINT))) AS u(i)),
    shared AS (SELECT passage FROM dtiles GROUP BY passage
               HAVING count(*) BETWEEN 2 AND 20),
    edges AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM dtiles a
      JOIN shared USING (passage)
      JOIN dtiles b ON a.passage = b.passage AND a.doc_id < b.doc_id),
    deg AS (
      SELECT id, count(*) AS d FROM (
        SELECT u AS id FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY id),
    hist AS (
      SELECT CAST(d AS BIGINT) AS degree, CAST(count(*) AS BIGINT) AS n_docs
      FROM deg GROUP BY d
      UNION ALL
      SELECT 0,
             (SELECT count(*) FROM documents) - (SELECT count(*) FROM deg))
    SELECT degree, n_docs FROM hist WHERE n_docs > 0 ORDER BY degree
    """,
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the shared-passage duplication graph (same
    posting-keyed edge basis as the triangle/pagerank queries),
    isolated documents included as degree 0 — the shape readout that
    complements the component histogram: a heavy tail of high-degree
    nodes is the signature of TEMPLATE/boilerplate families (one hub
    shares a passage with hundreds of pages — collapse the passage,
    not the docs), while a flat low-degree profile means pairwise
    duplicates that keep-best dedup handles cleanly.

    Scale shape: edges come from passage postings df-capped to [2,20]
    (candidate pairs bounded per posting — never all-pairs), degrees
    from one fold over the symmetric endpoint stream, and the
    histogram is a degree-grain aggregate. The degree-0 row is total
    docs minus connected docs — two scalar counts. Everything is exact
    integer counting."""
    tk = tok_docs(spark, sf_dir).where(F.size("toks") >= 8)
    # pinned: shared + both pair aliases are THREE plan branches off
    # this frame — unpinned, each re-runs the tokenize/explode/distinct
    dtiles = pin(
        tk.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) div 8 - 1), "
                    "i -> concat_ws(' ', slice(toks, i*8+1, 8)))"
                )
            ).alias("passage"),
        ).distinct()
    )
    shared = (
        dtiles.groupBy("passage")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where((F.col("_df") >= 2) & (F.col("_df") <= 20))
        .select("passage")
    )
    a = dtiles.join(shared, "passage").alias("a")
    b = dtiles.join(shared, "passage").alias("b")
    edges = pin(
        a.join(
            b,
            (F.col("a.passage") == F.col("b.passage"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v")
        )
        .distinct()
    )
    ends = edges.select(F.col("u").alias("id")).unionAll(
        edges.select(F.col("v").alias("id"))
    )
    deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("d"))
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("n_docs")).select(
        F.col("d").cast("long").alias("degree"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )
    n_docs_total = t(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("nt")
    )
    n_connected = deg.agg(F.count(F.lit(1)).alias("nc"))
    zero = (
        n_docs_total.crossJoin(F.broadcast(n_connected))
        .select(
            F.lit(0).cast("long").alias("degree"),
            (F.col("nt") - F.col("nc")).cast("long").alias("n_docs"),
        )
        .where(F.col("n_docs") > 0)
    )
    return hist.unionByName(zero).orderBy("degree")


@query(
    "emb_nearest_centroid",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
    dims AS (
      SELECT vec_id, label, generate_subscripts(v, 1) AS d, unnest(v) AS x
      FROM e),
    cent AS (
      SELECT label AS c_label, d, avg(x) AS m
      FROM dims GROUP BY label, d),
    cn AS (
      SELECT c_label, sqrt(sum(m * m)) AS cnorm FROM cent GROUP BY c_label),
    vn AS (
      SELECT vec_id, sqrt(sum(x * x)) AS vnorm FROM dims GROUP BY vec_id),
    dots AS (
      SELECT dims.vec_id, cent.c_label, sum(dims.x * cent.m) AS dot
      FROM dims JOIN cent ON dims.d = cent.d
      GROUP BY dims.vec_id, cent.c_label),
    scored AS (
      SELECT d.vec_id, e.label AS true_label, d.c_label,
             d.dot / (vn.vnorm * cn.cnorm) AS sim
      FROM dots d
      JOIN vn ON d.vec_id = vn.vec_id
      JOIN cn ON d.c_label = cn.c_label
      JOIN e ON d.vec_id = e.vec_id),
    pick AS (
      SELECT vec_id, true_label, c_label AS pred_label
      FROM (
        SELECT vec_id, true_label, c_label,
               row_number() OVER (
                 PARTITION BY vec_id
                 ORDER BY round(sim * 1000000) DESC, c_label) AS rn
        FROM scored) WHERE rn = 1)
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           (round(CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0
                           END) AS DOUBLE) / count(*) + 1e-9, 6) + 0.0)
             AS accuracy
    FROM pick GROUP BY true_label ORDER BY true_label
    """,
)
def emb_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification accuracy per label — the
    Rocchio baseline every embedding space should beat its way past
    before anyone trains a probe: each vector is assigned to the label
    whose MEAN vector it is most cosine-similar to (centroids include
    the vector itself — the resubstitution form; the readout is the
    space's class separability, not generalization). The consumer the
    emb_label_centroids docstring promises.

    Scale shape: centroids reduce the corpus to a (label, dim) frame
    (d·L rows) via one posexplode fold; scoring joins that SMALL frame
    back by dim — the shuffle is n·L dot products of d-length partials
    keyed by (vec, label), linear in corpus size with the label count
    as a constant (the brute-force form; at open-set label counts the
    swap is the IVF/ANN route over the same centroid frame). The
    argmax is a per-vector window over L rows, tie-broken on
    (rounded-1e-6 sim, label) identically in both engines."""
    e = t(spark, sf_dir, "embeddings")
    dims = pin(
        e.select(
            "vec_id",
            "label",
            F.posexplode(
                F.transform(F.col("embedding"), lambda x: x.cast("double"))
            ).alias("d0", "x"),
        ).select("vec_id", "label", (F.col("d0") + 1).alias("d"), "x")
    )
    cent = pin(
        dims.groupBy(F.col("label").alias("c_label"), "d").agg(
            F.avg("x").alias("m")
        )
    )
    cn = cent.groupBy("c_label").agg(
        F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("cnorm")
    )
    vn = dims.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("vnorm")
    )
    dots = (
        dims.join(cent, "d")
        .groupBy("vec_id", "c_label")
        .agg(F.sum(F.col("x") * F.col("m")).alias("dot"))
    )
    truth = e.select("vec_id", F.col("label").alias("true_label"))
    scored = (
        dots.join(vn, "vec_id")
        .join(F.broadcast(cn), "c_label")
        .join(truth, "vec_id")
        .withColumn(
            "sim", F.col("dot") / (F.col("vnorm") * F.col("cnorm"))
        )
    )
    wv = Window.partitionBy("vec_id").orderBy(
        F.round(F.col("sim") * 1e6).desc(), F.col("c_label")
    )
    pick = (
        scored.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("vec_id", "true_label", F.col("c_label").alias("pred_label"))
    )
    return (
        pick.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            F.col("true_label").cast("long").alias("true_label"),
            F.col("n").cast("long").alias("n"),
            F.col("n_correct").cast("long").alias("n_correct"),
            rz6(F.col("n_correct").cast("double") / F.col("n")).alias(
                "accuracy"
            ),
        )
        .orderBy("true_label")
    )


@query(
    "emb_class_margin",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
    nrm AS (
      SELECT vec_id, label, v,
             sqrt(list_reduce(list_transform(v, x -> x * x),
                              (a, b) -> a + b)) AS nv
      FROM e),
    dims AS (
      SELECT label, generate_subscripts(v, 1) AS d, unnest(v) AS x, nv
      FROM nrm WHERE nv > 0),
    s AS (
      SELECT label, d, sum(x / nv) AS sd
      FROM dims GROUP BY label, d),
    cnt AS (
      SELECT label, count(*) AS n FROM nrm WHERE nv > 0
      GROUP BY label HAVING count(*) >= 2),
    intra AS (
      SELECT s.label, (sum(sd * sd) - max(cnt.n))
             / (max(cnt.n) * (max(cnt.n) - 1.0)) AS coh
      FROM s JOIN cnt ON s.label = cnt.label GROUP BY s.label),
    inter AS (
      SELECT a.label AS la, b.label AS lb,
             sum(a.sd * b.sd) AS dot
      FROM s a JOIN s b ON a.d = b.d AND a.label <> b.label
      GROUP BY a.label, b.label),
    isim AS (
      SELECT inter.la, inter.lb,
             inter.dot / (ca.n * CAST(cb.n AS DOUBLE)) AS sim
      FROM inter JOIN cnt ca ON inter.la = ca.label
                 JOIN cnt cb ON inter.lb = cb.label),
    best AS (
      SELECT la, lb, sim FROM (
        SELECT la, lb, sim,
               row_number() OVER (
                 PARTITION BY la
                 ORDER BY round(sim * 1000000) DESC, lb) AS rn
        FROM isim) WHERE rn = 1)
    SELECT CAST(c.label AS BIGINT) AS label,
           CAST(c.n AS BIGINT) AS n,
           (round(i.coh + 1e-9, 6) + 0.0) AS intra_cohesion,
           CAST(b.lb AS BIGINT) AS nearest_label,
           (round(b.sim + 1e-9, 6) + 0.0) AS max_inter_sim,
           (round(i.coh - b.sim + 1e-9, 6) + 0.0) AS margin
    FROM cnt c JOIN intra i ON c.label = i.label
               JOIN best b ON c.label = b.la
    ORDER BY label
    """,
)
def emb_class_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-class margin audit: per label, the mean pairwise cosine
    WITHIN the class against the highest mean cosine TO any other
    class (and which class that is) — margin = intra − max-inter, the
    discriminability readout that predicts both retrieval quality and
    linear-probe accuracy before training anything, and names the
    confusable class pair worth inspecting. Complements
    emb_cluster_purity (label-agnostic geometric cells) with the
    label-conditioned geometry.

    Scale shape: both statistics come from the ‖Σv̂‖ identity on
    NORMALIZED vectors — intra = (‖S_l‖²−n)/(n(n−1)), inter(l,m) =
    S_l·S_m/(n_l·n_m) — so after one O(n·d) normalize-and-fold the
    entire audit lives on the (label, dim) frame: d·L rows, L²·d
    pairwise work, no pair enumeration over vectors ever. Zero-norm
    vectors are excluded and singleton labels dropped identically in
    both engines; the nearest-class argmax tie-breaks on
    (rounded-1e-6 sim, label)."""
    e = similarity.with_vec_norm(
        t(spark, sf_dir, "embeddings"), "embedding", vec_out="_vd", norm_out="_nrm"
    ).where(F.col("_nrm") > 0)
    dims = e.select(
        "label",
        F.posexplode(
            F.transform(F.col("_vd"), lambda x: x / F.col("_nrm"))
        ).alias("d", "xh"),
    )
    s = pin(dims.groupBy("label", "d").agg(F.sum("xh").alias("sd")))
    cnt = pin(
        e.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
    )
    intra = (
        s.join(cnt, "label")
        .groupBy("label")
        .agg(
            (
                (F.sum(F.col("sd") * F.col("sd")) - F.max("n"))
                / (F.max("n") * (F.max("n") - F.lit(1.0)))
            ).alias("coh")
        )
    )
    a = s.select(F.col("label").alias("la"), "d", F.col("sd").alias("sa"))
    b = s.select(F.col("label").alias("lb"), "d", F.col("sd").alias("sb"))
    inter = (
        a.join(b, (a.d == b.d) & (a.la != b.lb))
        .groupBy("la", "lb")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
    )
    ca = cnt.select(F.col("label").alias("la"), F.col("n").alias("na"))
    cb = cnt.select(F.col("label").alias("lb"), F.col("n").alias("nb"))
    isim = (
        inter.join(F.broadcast(ca), "la")
        .join(F.broadcast(cb), "lb")
        .select(
            "la",
            "lb",
            (F.col("dot") / (F.col("na") * F.col("nb").cast("double"))).alias(
                "sim"
            ),
        )
    )
    wb = Window.partitionBy("la").orderBy(
        F.round(F.col("sim") * 1e6).desc(), F.col("lb")
    )
    best = (
        isim.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select("la", "lb", "sim")
    )
    return (
        cnt.join(intra, "label")
        .join(best, cnt.label == best.la)
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("n").cast("long").alias("n"),
            rz6(F.col("coh")).alias("intra_cohesion"),
            F.col("lb").cast("long").alias("nearest_label"),
            rz6(F.col("sim")).alias("max_inter_sim"),
            rz6(F.col("coh") - F.col("sim")).alias("margin"),
        )
        .orderBy("label")
    )


@query(
    "corpus_budget_waterfill",
    oracle=f"""
    WITH tk AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
    c AS (
      SELECT source, CAST(sum(len(toks)) AS BIGINT) AS cap
      FROM tk GROUP BY source),
    w AS (
      SELECT source, cap,
             CAST(round(pow(CAST(cap AS DOUBLE), 0.7) * 1000000) AS BIGINT)
               AS wt_u,
             CAST(cap AS DOUBLE) * 1000000
               / CAST(round(pow(CAST(cap AS DOUBLE), 0.7) * 1000000)
                      AS BIGINT) AS r
      FROM c WHERE cap > 0),
    tot AS (
      SELECT sum(cap) AS totcap, sum(wt_u) AS totw_u,
             CAST(sum(cap) // 2 AS BIGINT) AS budget
      FROM w),
    sorted AS (
      SELECT source, cap, wt_u, r,
             row_number() OVER (ORDER BY r, source) AS i,
             sum(cap) OVER (ORDER BY r, source) AS cumcap,
             sum(wt_u) OVER (ORDER BY r, source) AS cumw_u,
             lead(r) OVER (ORDER BY r, source) AS r_next
      FROM w),
    cands AS (
      SELECT i AS k, r, cumcap, cumw_u, r_next FROM sorted
      UNION ALL
      SELECT 0, 0.0, 0, 0, (SELECT min(r) FROM sorted)),
    lamk AS (
      SELECT k, (CAST(tot.budget AS DOUBLE) - cumcap) * 1000000
               / (tot.totw_u - cumw_u) AS lam, r, r_next
      FROM cands, tot WHERE cumw_u < tot.totw_u),
    pick AS (
      SELECT lam FROM lamk
      WHERE r <= lam AND lam < coalesce(r_next, 1e308)
      ORDER BY k LIMIT 1)
    SELECT w.source,
           CAST(w.cap AS BIGINT) AS n_tokens,
           (round(w.wt_u / CAST(tot.totw_u AS DOUBLE) + 1e-9, 6) + 0.0)
             AS weight_share,
           (round(least(CAST(w.cap AS DOUBLE),
                        pick.lam * w.wt_u / 1000000) + 1e-9, 2) + 0.0)
             AS alloc_tokens,
           (w.cap <= pick.lam * w.wt_u / 1000000) AS saturated,
           (round(least(CAST(w.cap AS DOUBLE),
                        pick.lam * w.wt_u / 1000000)
                  / tot.budget + 1e-9, 6) + 0.0) AS alloc_share
    FROM w, tot, pick ORDER BY w.source
    """,
)
def corpus_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget waterfilling: allocate a training budget (half the
    corpus) across sources proportionally to temperature weights
    (w ∝ tokens^0.7 — the same T=0.7 rule as
    corpus_temperature_mixture) SUBJECT to each source's actual token
    capacity: a_s = min(cap_s, λ·w_s) with λ solved so Σa = budget.
    Small sources saturate (you cannot sample more than exists without
    upsampling) and their shortfall redistributes to the rest — the
    allocation every mixture plan actually ships, as opposed to the
    unconstrained weights that overdraw the tail. Reports per source:
    capacity, weight share, allocated tokens, saturation flag,
    realized share.

    Scale shape: the corpus is scanned once for per-source token
    counts; EVERYTHING else — the saturation order (sort by
    cap/weight), cumulative prefixes, the λ threshold search (the
    unique prefix where r_k ≤ λ < r_{k+1}), and the final allocation
    — lives on the SOURCE-sized frame (domain counts, thousands at
    most; the corpus_temperature_mixture precedent for its bounded
    global windows). λ is a deterministic double of exact integer
    sums, so both engines pick the same prefix."""
    tk = tok_docs(spark, sf_dir)
    src = t(spark, sf_dir, "documents").select("doc_id", "source")
    c = (
        tk.join(src, "doc_id")
        .groupBy("source")
        .agg(F.sum(F.size("toks")).alias("cap"))
        .where(F.col("cap") > 0)
    )
    # weights fold as 1e-6 INTEGER units (round(cap^0.7 * 1e6)): a raw
    # double pow() summed across partitions can associate differently
    # per engine and flip the lambda bracket at a saturation boundary —
    # the integer-moment convention applied to the weight column
    wt_u_expr = F.round(
        F.pow(F.col("cap").cast("double"), F.lit(0.7)) * 1e6
    ).cast("long")
    w = pin(
        c.select(
            "source",
            "cap",
            wt_u_expr.alias("wt_u"),
            (F.col("cap").cast("double") * 1e6 / wt_u_expr).alias("r"),
        )
    )
    tot = w.agg(
        F.sum("cap").alias("totcap"),
        F.sum("wt_u").alias("totw_u"),
        F.expr("CAST(sum(cap) div 2 AS BIGINT)").alias("budget"),
    )
    ws = Window.orderBy("r", "source")
    sorted_ = w.select(
        "source",
        "cap",
        "wt_u",
        "r",
        F.row_number().over(ws).alias("i"),
        F.sum("cap").over(ws).alias("cumcap"),
        F.sum("wt_u").over(ws).alias("cumw_u"),
        F.lead("r").over(ws).alias("r_next"),
    )
    r_min = sorted_.agg(F.min("r").alias("rm"))
    zero = r_min.select(
        F.lit(0).alias("k"),
        F.lit(0.0).alias("r"),
        F.lit(0).cast("long").alias("cumcap"),
        F.lit(0).cast("long").alias("cumw_u"),
        F.col("rm").alias("r_next"),
    )
    cands = sorted_.select(
        F.col("i").alias("k"), "r", "cumcap", "cumw_u", "r_next"
    ).unionByName(zero)
    lamk = (
        cands.crossJoin(F.broadcast(tot))
        .where(F.col("cumw_u") < F.col("totw_u"))
        .select(
            "k",
            (
                (F.col("budget").cast("double") - F.col("cumcap"))
                * 1e6
                / (F.col("totw_u") - F.col("cumw_u"))
            ).alias("lam"),
            "r",
            "r_next",
        )
    )
    pick = (
        lamk.where(
            (F.col("r") <= F.col("lam"))
            & (F.col("lam") < F.coalesce(F.col("r_next"), F.lit(1e308)))
        )
        .orderBy("k")
        .limit(1)
        .select("lam")
    )
    alloc = F.least(
        F.col("cap").cast("double"), F.col("lam") * F.col("wt_u") / 1e6
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(pick))
        .select(
            "source",
            F.col("cap").cast("long").alias("n_tokens"),
            rz6(F.col("wt_u") / F.col("totw_u").cast("double")).alias(
                "weight_share"
            ),
            rz(alloc, 2).alias("alloc_tokens"),
            (
                F.col("cap") <= F.col("lam") * F.col("wt_u") / 1e6
            ).alias("saturated"),
            rz6(alloc / F.col("budget")).alias("alloc_share"),
        )
        .orderBy("source")
    )


@query(
    "graph_link_prediction",
    oracle="""
    WITH bp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(count(*) AS BIGINT) AS support
      FROM bp a JOIN bp b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey),
    edges AS (SELECT u, v FROM e0 WHERE support >= 2),
    adj AS MATERIALIZED (SELECT u AS x, v AS z FROM edges
            UNION ALL SELECT v AS x, u AS z FROM edges),
    deg AS MATERIALIZED (SELECT x AS id, CAST(count(*) AS BIGINT) AS d
            FROM adj GROUP BY x),
    -- hub cap BEFORE the wedge self-join: a center of degree d costs
    -- d(d-1)/2 wedges but contributes only 1/ln(d) per pair, so
    -- super-hubs are all cost and no signal; capping centers at 64
    -- bounds per-center fanout at any graph density (both engines
    -- apply the identical cap, so the oracle compare stays exact)
    adjc AS MATERIALIZED (
      SELECT a.x, a.z FROM adj a JOIN deg ON a.z = deg.id
      WHERE deg.d BETWEEN 2 AND 64),
    wedge AS (
      SELECT a1.x AS pa, a2.x AS pb, a1.z AS z
      FROM adjc a1 JOIN adjc a2 ON a1.z = a2.z AND a1.x < a2.x),
    openw AS (
      SELECT w.* FROM wedge w
      WHERE NOT EXISTS (SELECT 1 FROM edges e
                        WHERE e.u = w.pa AND e.v = w.pb)),
    scored AS (
      SELECT pa, pb,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(CAST(round(1e9 / ln(deg.d)) AS BIGINT)) AS BIGINT)
               AS units
      FROM openw JOIN deg ON openw.z = deg.id
      GROUP BY pa, pb)
    SELECT CAST(pa AS BIGINT) AS part_a, CAST(pb AS BIGINT) AS part_b,
           n_common AS n_common_neighbors,
           (round(CAST(units AS DOUBLE) / 1e9 + 1e-9, 6) + 0.0)
             AS adamic_adar
    FROM scored ORDER BY units DESC, pa, pb LIMIT 20
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-purchase graph: the top-20
    NON-edges ranked by Adamic-Adar score Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z),
    where parts are connected when ≥ 2 distinct orders contain both
    (the same support floor the basket-lift query uses to kill
    coincidence pairs). High-scoring non-edges are the
    "customers who buy these never QUITE bought them together yet"
    candidates — the classic collaborative-filtering recommendation
    readout, and the same wedge algebra a dedup pipeline uses to route
    likely-missed near-duplicate pairs to its expensive verifier.
    (The shared-passage doc graph is the WRONG basis for this query:
    its edges come from co-membership in a passage posting, so every
    wedge closes by construction — components are cliques and the
    open-wedge set is empty at every SF; the co-purchase graph has
    genuine distance-2 structure.)

    Scale shape: candidate pairs come from the OPEN-WEDGE join
    (adjacency self-joined on the shared neighbor, a < b), never an
    all-pairs scan; per-center fanout is deg(z)², with degree bounded
    by the support-≥2 edge floor (and at catalog scale the standard
    hub refinement — cap or subsample super-hub centers, orient wedges
    through the low-degree endpoint as graph_triangle_count documents —
    composes on the same frames). Existing edges drop via an anti-join.
    Each 1/ln(deg) term is rounded to 1e-9 integer units BEFORE the
    sum, so the score fold is exact integer addition in both engines
    (the cross-engine float-summation-order class), and the top-20
    orders by the exact integer score with (part_a, part_b)
    tie-break."""
    edges = copurchase_edges(spark, sf_dir)
    adj = edges.select(F.col("u").alias("x"), F.col("v").alias("z")).unionAll(
        edges.select(F.col("v").alias("x"), F.col("u").alias("z"))
    )
    deg = adj.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("d"))
    # hub cap BEFORE the wedge self-join (the refinement the scale probe
    # demanded: uncapped, wedge fanout grows with deg² as the graph
    # densifies — 19× wall-clock on 10× data; a deg-64 center cap bounds
    # per-center cost while dropping only the ~1/ln(d) dregs super-hubs
    # contribute). Pinned: the capped adjacency feeds BOTH wedge aliases.
    centers = deg.where((F.col("d") >= 2) & (F.col("d") <= 64)).select(
        F.col("x").alias("cz")
    )
    adjc = pin(adj.join(centers, adj.z == centers.cz, "left_semi"))
    a1, a2 = adjc.alias("a1"), adjc.alias("a2")
    wedge = a1.join(
        a2, (F.col("a1.z") == F.col("a2.z")) & (F.col("a1.x") < F.col("a2.x"))
    ).select(
        F.col("a1.x").alias("pa"), F.col("a2.x").alias("pb"),
        F.col("a1.z").alias("zc"),
    )
    openw = wedge.join(
        edges,
        (F.col("pa") == F.col("u")) & (F.col("pb") == F.col("v")),
        "left_anti",
    )
    units = F.round(F.lit(1e9) / F.log(F.col("d"))).cast("long")
    scored = (
        openw.join(deg, openw.zc == deg.x)
        .groupBy("pa", "pb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(units).cast("long").alias("units"),
        )
    )
    return (
        scored.orderBy(F.desc("units"), F.asc("pa"), F.asc("pb"))
        .limit(20)
        .select(
            F.col("pa").cast("long").alias("part_a"),
            F.col("pb").cast("long").alias("part_b"),
            F.col("n_common").alias("n_common_neighbors"),
            rz6(F.col("units").cast("double") / 1e9).alias("adamic_adar"),
        )
    )


@query(
    "text_heaps_law",
    oracle="""
    WITH tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents),
    dmap AS (
      SELECT doc_id,
             CAST((row_number() OVER (ORDER BY doc_id) - 1) * 10
                  // (SELECT count(*) FROM documents) AS BIGINT) AS dec
      FROM documents),
    dtoks AS (
      SELECT dmap.dec, sum(len(tk.toks)) AS n_toks
      FROM tk JOIN dmap USING (doc_id) GROUP BY dmap.dec),
    firstocc AS (
      SELECT tok, min(doc_id) AS first_doc
      FROM (SELECT doc_id, unnest(toks) AS tok FROM tk) GROUP BY tok),
    dvocab AS (
      SELECT dmap.dec, count(*) AS n_new
      FROM firstocc JOIN dmap ON firstocc.first_doc = dmap.doc_id
      GROUP BY dmap.dec),
    spine AS (SELECT DISTINCT dec FROM dmap),
    cp AS (
      SELECT s.dec,
             CAST(sum(coalesce(dt.n_toks, 0))
                  OVER (ORDER BY s.dec) AS BIGINT) AS cum_tokens,
             CAST(sum(coalesce(dv.n_new, 0))
                  OVER (ORDER BY s.dec) AS BIGINT) AS cum_vocab
      FROM spine s LEFT JOIN dtoks dt ON s.dec = dt.dec
                   LEFT JOIN dvocab dv ON s.dec = dv.dec),
    pts AS (
      SELECT dec, cum_tokens, cum_vocab,
             CAST(round(ln(cum_tokens) * 1e6) AS BIGINT) AS xu,
             CAST(round(ln(cum_vocab) * 1e6) AS BIGINT) AS yu
      FROM cp WHERE cum_tokens > 0 AND cum_vocab > 0),
    fit AS (
      SELECT count(*) AS n,
             sum(CAST(xu AS DOUBLE)) AS sx, sum(CAST(yu AS DOUBLE)) AS sy,
             sum(CAST(xu AS DOUBLE) * yu) AS sxy,
             sum(CAST(xu AS DOUBLE) * xu) AS sxx,
             sum(CAST(yu AS DOUBLE) * yu) AS syy
      FROM pts)
    SELECT CAST(dec + 1 AS BIGINT) AS decile, cum_tokens, cum_vocab,
           (round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0)
                  + 1e-9, 4) + 0.0) AS heaps_beta,
           (round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                  / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0)
                  + 1e-9, 4) + 0.0) AS fit_r2
    FROM pts, fit ORDER BY decile
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth audit: cumulative distinct-token
    count V(N) at ten corpus checkpoints (doc-id deciles) against
    cumulative token count N, with the power-law exponent β and fit r²
    from log-log OLS over the checkpoints. β ≈ 0.4–0.6 is healthy
    natural text; β near 0 means the tail of the corpus adds no new
    vocabulary (template/duplicate flood), β near 1 means unbounded
    novelty (OCR noise, random IDs) — either tail is a pre-training
    red flag this dashboard catches before tokenizer training does.

    Scale shape: cumulative DISTINCT vocabulary — naively a re-scan per
    checkpoint — reduces to FIRST-OCCURRENCE counting: one fold to each
    token's min doc_id, one map of docs to checkpoints (global_rank
    range exchange, never a docs-count window), and V(checkpoint k) is
    a prefix sum over the ≤10 checkpoint-grain rows (the only window,
    bounded by the checkpoint count). The OLS folds ln-values rounded
    to 1e-6 integer units (exact integer sums — the cross-engine
    float-order class), combining the quadratic moments in double (the
    int64-wrap class). Tokens never reshuffle more than once."""
    from sec_dl_spark.operators.relational import global_rank

    docs = t(spark, sf_dir, "documents").select("doc_id")
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    dmap = pin(
        global_rank(docs, order=[F.asc("doc_id")], rank_col="rk")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            # integer division in BOTH engines (plain `/` is float
            # division in each, and DuckDB's double->BIGINT cast ROUNDS
            # while Spark's truncates — an 11th phantom decile)
            F.expr("rk * 10 div nd").cast("long").alias("dec"),
        )
    )
    tk = tok_docs(spark, sf_dir)
    dtoks = (
        tk.join(dmap, "doc_id")
        .groupBy("dec")
        .agg(F.sum(F.size("toks")).alias("n_toks"))
    )
    firstocc = (
        tk.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    dvocab = (
        firstocc.join(dmap, firstocc.first_doc == dmap.doc_id)
        .groupBy("dec")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    spine = dmap.select("dec").distinct()
    # the ONLY window: a prefix sum over the <=10 checkpoint-grain rows
    wcum = Window.orderBy("dec").rowsBetween(Window.unboundedPreceding, 0)
    cp = (
        spine.join(dtoks, "dec", "left")
        .join(dvocab, "dec", "left")
        .select(
            "dec",
            F.sum(F.coalesce(F.col("n_toks"), F.lit(0)))
            .over(wcum)
            .cast("long")
            .alias("cum_tokens"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
            .over(wcum)
            .cast("long")
            .alias("cum_vocab"),
        )
    )
    pts = cp.where((F.col("cum_tokens") > 0) & (F.col("cum_vocab") > 0)).select(
        "dec",
        "cum_tokens",
        "cum_vocab",
        F.round(F.log(F.col("cum_tokens")) * 1e6).cast("long").alias("xu"),
        F.round(F.log(F.col("cum_vocab")) * 1e6).cast("long").alias("yu"),
    )
    xd, yd = F.col("xu").cast("double"), F.col("yu").cast("double")
    fit = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("yu")).alias("sxy"),
        F.sum(xd * F.col("xu")).alias("sxx"),
        F.sum(yd * F.col("yu")).alias("syy"),
    )
    n = F.col("n")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = n * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            (F.col("dec") + 1).cast("long").alias("decile"),
            "cum_tokens",
            "cum_vocab",
            rz(cov_n / F.nullif(varx_n, F.lit(0.0)), 4).alias("heaps_beta"),
            rz(
                cov_n * cov_n / F.nullif(varx_n * vary_n, F.lit(0.0)), 4
            ).alias("fit_r2"),
        )
        .orderBy("decile")
    )


@query(
    "text_term_burstiness",
    oracle="""
    WITH tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents),
    occ AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
    uc AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS cf,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM occ GROUP BY tok),
    d AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents)
    SELECT tok AS token, cf, df,
           (round(nd * (1 - exp(-(CAST(cf AS DOUBLE) / nd))) + 1e-9, 4) + 0.0)
             AS expected_df,
           (round(nd * (1 - exp(-(CAST(cf AS DOUBLE) / nd)))
                  / df + 1e-9, 6) + 0.0) AS burstiness
    FROM uc, d ORDER BY cf DESC, token LIMIT 20
    """,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness for the 20 highest-frequency tokens:
    observed document frequency vs the Poisson expectation
    E[df] = D·(1 − e^(−cf/D)) given the collection frequency. Ratio ≈ 1
    means the term scatters like background noise (a stopword);
    ratio ≫ 1 means occurrences CLUMP into few documents — topical or
    boilerplate terms. In a corpus pipeline the burstiness profile
    separates true stopwords (safe to downweight globally) from
    template markers (route to boilerplate stripping) — a distinction
    raw frequency cannot make.

    Scale shape: one token-grain fold (cf + df per token — the same
    exchange the FTS index build pays), one scalar doc count broadcast,
    and a top-20 TakeOrdered by exact integer collection frequency with
    token tie-break. The Poisson term is a deterministic scalar
    expression per output row (never aggregated), so float summation
    order never enters."""
    tk = tok_docs(spark, sf_dir)
    uc = (
        tk.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cf"),
            F.count_distinct("doc_id").cast("long").alias("df"),
        )
    )
    d = t(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("long").alias("nd")
    )
    j = uc.crossJoin(F.broadcast(d))
    e_df = F.col("nd") * (
        F.lit(1.0) - F.exp(-(F.col("cf").cast("double") / F.col("nd")))
    )
    return (
        j.orderBy(F.desc("cf"), F.asc("tok"))
        .limit(20)
        .select(
            F.col("tok").alias("token"),
            "cf",
            "df",
            rz(e_df, 4).alias("expected_df"),
            rz6(e_df / F.col("df")).alias("burstiness"),
        )
    )


@query("emb_procrustes_alignment", oracle=None)
def emb_procrustes_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orthogonal Procrustes alignment between two embedding spaces
    (operators/similarity.py:procrustes_align — the model-stitching /
    checkpoint-migration primitive): the second space is fabricated
    from the fixture by a KNOWN orthogonal map (rotate dims by one
    position and flip the sign of the first — a permutation+reflection
    matrix), so the recovered rotation must drive the residual to
    numerical zero and the report certifies it: paired-vector RMSE
    before vs after alignment, plus ‖RᵀR − I‖ as the orthogonality
    check. Rows-only by design: the SVD step is not SQL-expressible;
    the planted-rotation recovery is pytest-pinned.

    Scale shape: the N-sized work is one mapInPandas cross-Gram fold
    (partials exchange is partitions × d², never N) and one broadcast
    apply pass; only the d×d cross-Gram reaches the driver."""
    from sec_dl_spark.operators.similarity import procrustes_align

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("src")
    )
    d = 64
    # dst[i] = src[(i+1) mod d], with dst[0] sign-flipped: orthogonal
    perm = F.expr(
        f"transform(sequence(0, {d - 1}), "
        f"i -> CASE WHEN i = 0 THEN -src[1] "
        f"ELSE src[(i + 1) % {d}] END)"
    )
    pairs = e.select("vec_id", "src", perm.alias("dst"))
    _R, aligned = procrustes_align(pairs, "src", "dst")

    def sq_err(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    rep = pairs.select(F.col("vec_id"), sq_err("src", "dst").alias("se")).join(
        aligned.select(
            "vec_id", sq_err(F.col("src"), F.col("dst")).alias("se_after")
        ),
        "vec_id",
    )
    out = rep.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sqrt(F.avg("se")).alias("rmse_before"),
        F.sqrt(F.avg("se_after")).alias("rmse_after"),
    )
    return out.select(
        "n_pairs",
        F.lit(d).cast("long").alias("dim"),
        rz6(F.col("rmse_before")).alias("rmse_before"),
        rz6(F.col("rmse_after")).alias("rmse_after"),
    )


@query(
    "graph_kcore_peeling",
    oracle="""
    WITH bp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey
                             FROM lineitem),
    -- every stage is MATERIALIZED: each is referenced from multiple
    -- downstream CTEs and scalar subqueries, and DuckDB's default
    -- inlining re-evaluates the whole nested chain per reference -
    -- exponential in peel depth (the un-hinted form runs for minutes
    -- at sf0.1; materialized, milliseconds)
    e1 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM bp a JOIN bp b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey HAVING count(*) >= 2),
    d1 AS MATERIALIZED (SELECT id, count(*) AS d FROM (
             SELECT u AS id FROM e1 UNION ALL SELECT v FROM e1) GROUP BY id),
    k1 AS MATERIALIZED (SELECT id FROM d1 WHERE d >= 2),
    e2 AS MATERIALIZED (SELECT u, v FROM e1
           WHERE u IN (SELECT id FROM k1) AND v IN (SELECT id FROM k1)),
    d2 AS MATERIALIZED (SELECT id, count(*) AS d FROM (
             SELECT u AS id FROM e2 UNION ALL SELECT v FROM e2) GROUP BY id),
    k2 AS MATERIALIZED (SELECT id FROM d2 WHERE d >= 2),
    e3 AS MATERIALIZED (SELECT u, v FROM e2
           WHERE u IN (SELECT id FROM k2) AND v IN (SELECT id FROM k2)),
    d3 AS MATERIALIZED (SELECT id, count(*) AS d FROM (
             SELECT u AS id FROM e3 UNION ALL SELECT v FROM e3) GROUP BY id),
    k3 AS MATERIALIZED (SELECT id FROM d3 WHERE d >= 2),
    e4 AS MATERIALIZED (SELECT u, v FROM e3
           WHERE u IN (SELECT id FROM k3) AND v IN (SELECT id FROM k3)),
    d4 AS MATERIALIZED (SELECT id, count(*) AS d FROM (
             SELECT u AS id FROM e4 UNION ALL SELECT v FROM e4) GROUP BY id)
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS round,
             (SELECT CAST(count(*) AS BIGINT) FROM d1) AS n_nodes,
             (SELECT CAST(count(*) AS BIGINT) FROM e1) AS n_edges
      UNION ALL SELECT 1, (SELECT count(*) FROM d2), (SELECT count(*) FROM e2)
      UNION ALL SELECT 2, (SELECT count(*) FROM d3), (SELECT count(*) FROM e3)
      UNION ALL SELECT 3, (SELECT count(*) FROM d4), (SELECT count(*) FROM e4)
    ) ORDER BY round
    """,
)
def graph_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core peeling trajectory of the part co-purchase graph (same
    support-≥2 edge basis as graph_link_prediction): three fixed
    peeling rounds — each drops nodes of degree < 2 and their incident
    edges — with the (nodes, edges) census after each. The trajectory
    separates a graph whose periphery is shallow (census stabilizes in
    one round: safe to mine cliques directly) from one that unravels
    (chains peel away round after round — the co-purchase "long tail"
    that basket mining should exclude). Fixed-round peeling is the
    oracle-stable form of k-core decomposition: the full fixpoint's
    iteration count is data-dependent, so the query pins the round
    budget exactly like graph_pagerank_neardup pins its Pregel rounds,
    and the census converging within the budget is itself the
    finding.

    Scale shape: each round is one degree fold over the edge endpoint
    stream plus two semi-joins to keep surviving edges — edge-sized
    frames throughout, every round's edge list pinned once
    (session.pin) because the next round's degree fold and BOTH
    semi-join probes read it. All exact integer counting."""
    edges = copurchase_edges(spark, sf_dir)
    rows = []
    cur = edges
    for rnd in range(4):
        deg = (
            cur.select(F.col("u").alias("id"))
            .unionAll(cur.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        census = deg.agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes")
        ).crossJoin(
            F.broadcast(cur.agg(F.count(F.lit(1)).cast("long").alias("n_edges")))
        ).select(F.lit(rnd).cast("long").alias("round"), "n_nodes", "n_edges")
        rows.append(census)
        if rnd < 3:
            keep = deg.where(F.col("d") >= 2).select("id")
            nxt = (
                cur.join(keep.withColumnRenamed("id", "u"), "u", "left_semi")
                .join(keep.withColumnRenamed("id", "v"), "v", "left_semi")
                .select("u", "v")
            )
            cur = pin(nxt)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("round")


@query(
    "graph_assortativity",
    oracle="""
    WITH bp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM bp a JOIN bp b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey HAVING count(*) >= 2),
    deg AS MATERIALIZED (
      SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT u AS id FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY id),
    -- each undirected edge contributes BOTH orientations, the standard
    -- symmetrized estimator (r is orientation-independent)
    pairs AS (
      SELECT du.d AS x, dv.d AS y
      FROM edges e JOIN deg du ON e.u = du.id JOIN deg dv ON e.v = dv.id
      UNION ALL
      SELECT dv.d, du.d
      FROM edges e JOIN deg du ON e.u = du.id JOIN deg dv ON e.v = dv.id),
    mo AS (
      SELECT count(*) AS n,
             sum(CAST(x AS DOUBLE)) AS sx, sum(CAST(y AS DOUBLE)) AS sy,
             sum(CAST(x AS DOUBLE) * y) AS sxy,
             sum(CAST(x AS DOUBLE) * x) AS sxx,
             sum(CAST(y AS DOUBLE) * y) AS syy
      FROM pairs),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(max(d) AS BIGINT) AS max_degree,
                 (round(avg(CAST(d AS DOUBLE)) + 1e-8, 4) + 0.0) AS mean_degree
          FROM deg)
    SELECT n_nodes,
           CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           max_degree, mean_degree,
           (round((n * sxy - sx * sy)
                  / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                           0.0) + 1e-9, 6) + 0.0) AS assortativity
    FROM mo, g
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph (same
    support-≥2 edge basis as link prediction / k-core): the Pearson
    correlation of endpoint degrees over all edges, symmetrized — the
    one-number answer to "do hubs connect to hubs?". Positive r means
    a rich-club core (peeling/clique mining will find dense centers),
    negative means hub-and-spoke (star hubs whose spokes are thin —
    the shape where the hub cap in graph_link_prediction earns its
    keep). Alongside the degree histogram and clustering coefficient
    this completes the standard topology triptych.

    Scale shape: edges and degrees are the familiar posting-bounded
    frames; the estimator is two degree joins back onto the edge list
    (key-partitioned) and ONE moment fold with quadratics in double
    (int64 square-wrap class); the pinned edge list feeds the degree
    fold, both joins, and the edge count."""
    edges = copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("id"))
        .unionAll(edges.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    du = deg.select(F.col("id").alias("uid"), F.col("d").alias("dux"))
    dv = deg.select(F.col("id").alias("vid"), F.col("d").alias("dvx"))
    ed = (
        edges.join(du, edges.u == du.uid)
        .join(dv, edges.v == dv.vid)
        .select(F.col("dux").alias("x"), F.col("dvx").alias("y"))
    )
    pairs = ed.unionAll(ed.select(F.col("y").alias("x"), F.col("x").alias("y")))
    xd, yd = F.col("x").cast("double"), F.col("y").cast("double")
    mo = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(yd * F.col("y")).alias("syy"),
    )
    g = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.max("d").cast("long").alias("max_degree"),
        rz(F.avg(F.col("d").cast("double")), 4, 1e-8).alias("mean_degree"),
    )
    ne = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n = F.col("n")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    var_prod = (n * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        n * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return (
        mo.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(ne))
        .select(
            "n_nodes",
            "n_edges",
            "max_degree",
            "mean_degree",
            rz6(cov_n / F.nullif(F.sqrt(var_prod), F.lit(0.0))).alias(
                "assortativity"
            ),
        )
    )


@query(
    "text_filter_agreement_kappa",
    oracle="""
    WITH tk AS (SELECT doc_id, n_chars, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents),
    v AS (
      SELECT doc_id,
             (n_chars BETWEEN 100 AND 2000) AS ga,
             (len(toks) >= 50
              AND CAST(list_sum(list_transform(toks, t -> length(t)))
                       AS DOUBLE) / len(toks) BETWEEN 3 AND 10) AS gb
      FROM tk),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (ga AND gb) AS BIGINT) AS n_yy,
             CAST(count(*) FILTER (ga AND NOT gb) AS BIGINT) AS n_yn,
             CAST(count(*) FILTER (NOT ga AND gb) AS BIGINT) AS n_ny,
             CAST(count(*) FILTER (NOT ga AND NOT gb) AS BIGINT) AS n_nn
      FROM v)
    SELECT n, n_yy, n_yn, n_ny, n_nn,
           (round(CAST(n_yy + n_nn AS DOUBLE) / n + 1e-9, 6) + 0.0)
             AS observed_agreement,
           (round((CAST(n_yy + n_yn AS DOUBLE) * (n_yy + n_ny)
                   + CAST(n_ny + n_nn AS DOUBLE) * (n_yn + n_nn))
                  / (CAST(n AS DOUBLE) * n) + 1e-9, 6) + 0.0)
             AS expected_agreement,
           (round((CAST(n_yy + n_nn AS DOUBLE) / n
                   - (CAST(n_yy + n_yn AS DOUBLE) * (n_yy + n_ny)
                      + CAST(n_ny + n_nn AS DOUBLE) * (n_yn + n_nn))
                     / (CAST(n AS DOUBLE) * n))
                  / nullif(1 - (CAST(n_yy + n_yn AS DOUBLE) * (n_yy + n_ny)
                                + CAST(n_ny + n_nn AS DOUBLE) * (n_yn + n_nn))
                               / (CAST(n AS DOUBLE) * n), 0.0)
                  + 1e-9, 6) + 0.0) AS cohens_kappa
    FROM c
    """,
)
def text_filter_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent corpus quality gates (a
    char-length gate and a token-shape gate) — the inter-rater
    agreement readout a filtering pipeline publishes before composing
    gates: kappa ≈ 1 means the second gate is redundant (drop it and
    save a pass), kappa ≈ 0 means the gates screen different failure
    modes (compose them), and the full 2×2 census shows WHERE they
    disagree. The same statistic scores human-annotator or
    model-vs-heuristic label agreement on eval sets.

    Scale shape: one corpus scan, two deterministic per-doc boolean
    gates, ONE 2×2 conditional fold; kappa is a deterministic
    expression of four exact integers (the chance-agreement products
    are formed in double — the int64-wrap class)."""
    tk = t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda x: x != "",
        ).alias("toks"),
    )
    mean_wl = (
        F.aggregate(
            F.transform(F.col("toks"), lambda t_: F.length(t_)),
            F.lit(0),
            lambda a, v: a + v,
        ).cast("double")
        / F.size("toks")
    )
    v = tk.select(
        F.col("n_chars").between(100, 2000).alias("ga"),
        (
            (F.size("toks") >= 50) & mean_wl.between(3.0, 10.0)
        ).alias("gb"),
    )
    c = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("ga") & F.col("gb"), 1)).cast("long").alias("n_yy"),
        F.count(F.when(F.col("ga") & ~F.col("gb"), 1)).cast("long").alias("n_yn"),
        F.count(F.when(~F.col("ga") & F.col("gb"), 1)).cast("long").alias("n_ny"),
        F.count(F.when(~F.col("ga") & ~F.col("gb"), 1)).cast("long").alias("n_nn"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n_yy") + F.col("n_nn")).cast("double") / F.col("n")
    pe = (
        (F.col("n_yy") + F.col("n_yn")).cast("double")
        * (F.col("n_yy") + F.col("n_ny"))
        + (F.col("n_ny") + F.col("n_nn")).cast("double")
        * (F.col("n_yn") + F.col("n_nn"))
    ) / (nd * F.col("n"))
    return c.select(
        "n",
        "n_yy",
        "n_yn",
        "n_ny",
        "n_nn",
        rz6(po).alias("observed_agreement"),
        rz6(pe).alias("expected_agreement"),
        rz6((po - pe) / F.nullif(F.lit(1.0) - pe, F.lit(0.0))).alias(
            "cohens_kappa"
        ),
    )


@query(
    "emb_anova_norms",
    oracle="""
    WITH v AS (
      SELECT label,
             -- explicit left fold (not list_sum, whose order is not
             -- pinned for doubles): matches Spark's F.aggregate order
             CAST(round(sqrt(list_reduce(
                    list_prepend(0.0, list_transform(
                      CAST(embedding AS DOUBLE[]), x -> x * x)),
                    (a, b) -> a + b)) * 1e6)
                  AS BIGINT) AS nu
      FROM embeddings),
    g AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(nu) AS BIGINT) AS s,
             sum(CAST(nu AS DOUBLE) * nu) AS q
      FROM v GROUP BY label),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(s) AS BIGINT) AS ss,
             sum(q) AS qq,
             sum(CAST(s AS DOUBLE) * s / n) AS sb
      FROM g)
    SELECT k AS n_groups, nn AS n_vectors,
           (round((sb - CAST(ss AS DOUBLE) * ss / nn) / 1e12 + 1e-8, 4)
            + 0.0) AS ss_between,
           (round((qq - sb) / 1e12 + 1e-8, 4) + 0.0) AS ss_within,
           (round(((sb - CAST(ss AS DOUBLE) * ss / nn) / (k - 1))
                  / nullif((qq - sb) / (nn - k), 0.0) + 1e-9, 6) + 0.0)
             AS f_stat
    FROM tot WHERE k >= 2 AND nn > k
    """,
)
def emb_anova_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of embedding norms across labels: the F statistic
    (between-group over within-group variance) that answers "does
    vector MAGNITUDE leak the label?" — a known failure mode before
    cosine retrieval: if norms differ by class, dot-product shortcuts
    and un-normalized quantizers inherit a class prior the embedding
    was never supposed to carry. F ≈ 1 is clean; a large F says
    normalize before indexing. Completes the test family (welch = 2
    groups, chi² = categorical, Mann-Whitney = ranks) with the
    k-group mean comparison.

    Scale shape: each norm is a deterministic per-row scalar rounded
    to 1e-6 integer units BEFORE any aggregation (exact integer sums —
    the cross-engine float-order class), one label-grain fold, one
    1-row fold; the quadratic moment and the Σs²/n term accumulate in
    DOUBLE in both engines (int64 square-wrap class). Sums of squares
    are reported back in norm² units (÷1e12)."""
    v = t(spark, sf_dir, "embeddings").select(
        "label",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(
                        F.col("embedding").cast("array<double>"),
                        lambda x: x * x,
                    ),
                    F.lit(0.0),
                    lambda a, y: a + y,
                )
            )
            * 1e6
        )
        .cast("long")
        .alias("nu"),
    )
    g = v.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("nu").cast("long").alias("s"),
        F.sum(F.col("nu").cast("double") * F.col("nu")).alias("q"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("ss"),
        F.sum("q").alias("qq"),
        F.sum(F.col("s").cast("double") * F.col("s") / F.col("n")).alias("sb"),
    )
    ssb = F.col("sb") - F.col("ss").cast("double") * F.col("ss") / F.col("nn")
    ssw = F.col("qq") - F.col("sb")
    return (
        tot.where((F.col("k") >= 2) & (F.col("nn") > F.col("k")))
        .select(
            F.col("k").alias("n_groups"),
            F.col("nn").alias("n_vectors"),
            rz(ssb / 1e12, 4, 1e-8).alias("ss_between"),
            rz(ssw / 1e12, 4, 1e-8).alias("ss_within"),
            rz6(
                (ssb / (F.col("k") - 1))
                / F.nullif(ssw / (F.col("nn") - F.col("k")), F.lit(0.0))
            ).alias("f_stat"),
        )
    )


@query(
    "emb_knn_reciprocity",
    oracle="""
    WITH n0 AS (SELECT count(*) AS nt FROM embeddings),
    -- deterministic 1-in-m vertex sample capping the audited subgraph
    -- at ~1000 vectors; the audit is EXACT within the induced subgraph
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings, n0
          WHERE vec_id % ((nt + 999) // 1000) = 0),
    scored AS (
      SELECT a.vec_id AS q, b.vec_id AS nb,
             round(list_cosine_similarity(a.v, b.v), 6) AS s
      FROM e a CROSS JOIN e b WHERE a.vec_id <> b.vec_id),
    edges AS MATERIALIZED (
      SELECT q, nb FROM (
        SELECT *, row_number() OVER (PARTITION BY q ORDER BY s DESC, nb)
          AS rk
        FROM scored)
      WHERE rk <= 5),
    recip AS (
      SELECT CAST(count(*) AS BIGINT) AS n_recip
      FROM edges f WHERE EXISTS (SELECT 1 FROM edges r
                                 WHERE r.q = f.nb AND r.nb = f.q)),
    indeg AS (SELECT nb, CAST(count(*) AS BIGINT) AS d
              FROM edges GROUP BY nb),
    census AS (
      SELECT CAST(max(d) AS BIGINT) AS max_in_degree,
             CAST(count(*) FILTER (d >= 10) AS BIGINT) AS n_hubs,
             CAST((SELECT count(*) FROM e)
                  - count(*) AS BIGINT) AS n_orphans
      FROM indeg),
    tot AS (SELECT CAST((SELECT nt FROM n0) AS BIGINT) AS n_total,
                   CAST((SELECT count(*) FROM e) AS BIGINT) AS n_vectors,
                   CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges)
    SELECT n_total, n_vectors, n_edges,
           (round(CAST(n_recip AS DOUBLE) / nullif(n_edges, 0) + 1e-9, 6)
            + 0.0) AS reciprocity,
           max_in_degree, n_hubs, n_orphans
    FROM tot, recip, census
    """,
)
def emb_knn_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the exact k=5 cosine kNN graph: the share of
    directed neighbor edges that are RECIPROCAL, the maximum in-degree,
    the hub count (in-degree ≥ 2k), and the orphan count (vectors no
    one lists as a neighbor). High-dimensional embedding spaces
    degenerate into hub-dominated kNN graphs — a few vectors appear in
    everyone's neighbor list while many appear in none — which poisons
    kNN classification, dedup candidate quality, and diversity; low
    reciprocity with fat hubs is the signature, and the standard fixes
    (norm cleanup — see emb_anova_norms — or mutual-kNN pruning) key
    off exactly this table.

    Scale shape: neighbor edges come from the same two-phase exact
    top-k the retrieval family uses (operators/similarity.py:
    cosine_topk — queries broadcast under the enforced cap, per-query
    ranking on the 6-digit-rounded sim with id tie-break; at corpus
    scale the IVF/LSH candidate generators swap in on the same frame
    shapes); reciprocity is ONE self-join of the edge list on the
    reversed pair (edge-sized, k·n rows), the in-degree census one
    fold. The edge list is pinned — reciprocity probe, in-degree fold,
    and edge count all read the one materialization."""
    from sec_dl_spark.operators import similarity
    from sec_dl_spark.session import pin as _pin

    e0 = t(spark, sf_dir, "embeddings")
    n0 = e0.agg(F.count(F.lit(1)).cast("long").alias("nt"))
    # deterministic 1-in-m vertex sample capping the audited subgraph at
    # ~1000 vectors (m = ceil(n/1000)): keeps the query-broadcast side
    # under cosine_topk's enforced cap at ANY corpus size (the 10x
    # probe refused the unsampled form at 20k vectors), and the audit
    # stays EXACT within the induced subgraph — the standard subsample
    # form of a hubness census
    e = _pin(
        e0.crossJoin(F.broadcast(n0)).where(
            F.col("vec_id") % ((F.col("nt") + 999) / 1000).cast("long") == 0
        ).select("vec_id", "embedding")
    )
    edges = _pin(
        similarity.cosine_topk(e, e, k=5).select(
            F.col("query_id").alias("q"), F.col("neighbor_id").alias("nb")
        )
    )
    fwd, rev = edges.alias("f"), edges.alias("r")
    recip = (
        fwd.join(
            rev,
            (F.col("f.q") == F.col("r.nb")) & (F.col("f.nb") == F.col("r.q")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_recip"))
    )
    indeg = edges.groupBy("nb").agg(F.count(F.lit(1)).cast("long").alias("d"))
    nvec = e.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    census = indeg.agg(
        F.max("d").cast("long").alias("max_in_degree"),
        F.count(F.when(F.col("d") >= 10, 1)).cast("long").alias("n_hubs"),
        F.count(F.lit(1)).cast("long").alias("n_targets"),
    )
    ne = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        nvec.crossJoin(F.broadcast(n0))
        .crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(recip))
        .crossJoin(F.broadcast(census))
        .select(
            F.col("nt").alias("n_total"),
            "n_vectors",
            "n_edges",
            rz6(
                F.col("n_recip").cast("double")
                / F.nullif(F.col("n_edges"), F.lit(0))
            ).alias("reciprocity"),
            "max_in_degree",
            "n_hubs",
            (F.col("n_vectors") - F.col("n_targets")).alias("n_orphans"),
        )
    )


@query(
    "emb_silhouette",
    oracle="""
    WITH x AS (
      SELECT label, unnest(embedding) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ),
    a AS (
      SELECT label, pos,
             (round(avg(CAST(val AS DOUBLE)) + 1e-9, 4) + 0.0) AS mean_val
      FROM x GROUP BY label, pos
    ),
    cent AS MATERIALIZED (
      SELECT label AS c_label, list(mean_val ORDER BY pos) AS cvec
      FROM a GROUP BY label
    ),
    d AS (
      SELECT e.vec_id, e.label, c.c_label,
             list_distance(CAST(e.embedding AS DOUBLE[]), c.cvec) AS dist
      FROM embeddings e CROSS JOIN cent c
    ),
    per AS (
      SELECT vec_id, label,
             min(CASE WHEN c_label =  label THEN dist END) AS a_own,
             min(CASE WHEN c_label <> label THEN dist END) AS b_other
      FROM d GROUP BY vec_id, label
    ),
    sil AS (
      SELECT label,
             CASE WHEN greatest(a_own, b_other) > 0
                  THEN (round((b_other - a_own) / greatest(a_own, b_other)
                        + 1e-9, 6) + 0.0) ELSE 0.0 END AS s,
             CASE WHEN b_other < a_own THEN 1 ELSE 0 END AS mis
      FROM per
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           (round(avg(s) + 1e-9, 6) + 0.0) AS mean_silhouette,
           CAST(sum(mis) AS BIGINT) AS n_closer_to_other,
           (round(CAST(sum(mis) AS DOUBLE) / count(*) + 1e-9, 6) + 0.0)
             AS misassign_share
    FROM sil GROUP BY label ORDER BY label
    """,
)
def emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid silhouette — the clustering-quality audit for a
    labeled embedding table: s = (b − a) / max(a, b) with a = distance to
    the OWN label's centroid and b = distance to the nearest OTHER
    centroid (the simplified/medoid-free silhouette — the classic
    all-pairs form is O(N²) and adds nothing for centroid-shaped
    clusters). Labels whose mean silhouette sags — or whose
    n_closer_to_other count is non-trivial — are the ones a curation pass
    re-examines for label noise before training a classifier head.

    Scale shape: centroids come from ONE posexplode + (label, dim)
    groupBy (the emb_label_centroids shuffle — partial sums, never whole
    vectors), reassembled and BROADCAST (n_labels × dim doubles); every
    vector then scores its 10 centroid distances in a single JVM-side
    zip_with fold pass — no shuffle touches a vector after the centroid
    build, so the plan is scan-bound at any N. Cross-engine: centroid
    means take the rz 4-digit zero-normalized rounding (equal doubles on
    both engines), and the distance fold is the same sequential
    sum-of-squares both sides, so silhouettes compare exactly."""
    e = t(spark, sf_dir, "embeddings")
    x = e.select("label", F.posexplode("embedding").alias("dim_idx", "val"))
    a = x.groupBy("label", "dim_idx").agg(
        rz(F.avg(F.col("val").cast("double"))).alias("mean_val")
    )
    cent = (
        a.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim_idx", "mean_val"))).alias("s"))
        .select(
            F.col("label").alias("c_label"),
            F.transform("s", lambda st: st.mean_val).alias("cvec"),
        )
    )
    xd = F.transform("embedding", lambda v: v.cast("double"))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("xd"), F.col("cvec"), lambda p, q: (p - q) * (p - q)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    d = (
        e.select("vec_id", "label", xd.alias("xd"))
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "label", "c_label", dist.alias("dist"))
    )
    per = d.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("c_label") == F.col("label"), F.col("dist"))).alias("a_own"),
        F.min(F.when(F.col("c_label") != F.col("label"), F.col("dist"))).alias("b_other"),
    )
    sil = per.select(
        "label",
        F.when(
            F.greatest("a_own", "b_other") > 0,
            rz6((F.col("b_other") - F.col("a_own")) / F.greatest("a_own", "b_other")),
        )
        .otherwise(F.lit(0.0))
        .alias("s"),
        F.when(F.col("b_other") < F.col("a_own"), F.lit(1)).otherwise(F.lit(0)).alias("mis"),
    )
    return (
        sil.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            rz6(F.avg("s")).alias("mean_silhouette"),
            F.sum("mis").cast("long").alias("n_closer_to_other"),
            rz6(F.sum("mis").cast("double") / F.count(F.lit(1))).alias("misassign_share"),
        )
        .orderBy("label")
    )


@query(
    "emb_intrinsic_dim_twonn",
    oracle="""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id < 2000),
    scored AS (
      SELECT a.vec_id AS query_id,
             list_distance(a.v, b.v) AS dist,
             b.vec_id AS neighbor_id
      FROM c a CROSS JOIN c b WHERE a.vec_id <> b.vec_id),
    knn AS (
      SELECT query_id, dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist, neighbor_id) AS rk
      FROM scored),
    two AS (
      SELECT query_id,
             min(CASE WHEN rk = 1 THEN dist END) AS d1,
             min(CASE WHEN rk = 2 THEN dist END) AS d2
      FROM knn WHERE rk <= 2 GROUP BY query_id),
    mu AS (
      SELECT CAST(round(ln(d2 / d1) * 1e6) AS BIGINT) AS ln_mu_micro
      FROM two WHERE d1 > 0 AND d2 IS NOT NULL),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_used,
                 CAST(sum(ln_mu_micro) AS BIGINT) AS units
          FROM mu)
    SELECT n_used,
           (round(CAST(units AS DOUBLE) / 1e6 + 1e-9, 6) + 0.0) AS sum_ln_mu,
           CASE WHEN units > 0
                THEN (round(CAST(n_used AS DOUBLE) * 1e6 / units + 1e-9, 4)
                      + 0.0) ELSE 0.0 END AS id_twonn
    FROM s
    """,
)
def emb_intrinsic_dim_twonn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017) of the
    embedding manifold: for each vector take the ratio μ = d₂/d₁ of its
    two nearest-neighbor euclidean distances; under a locally-uniform
    density μ is Pareto(id) distributed, so the MLE is
    id = n / Σ ln μ — a one-number answer to "do these 64 columns carry
    64 dimensions of signal, or is the data a low-dimensional sheet?"
    (an estimate far below the ambient dim says compression — PQ, dim
    truncation, cheaper ANN — is nearly free; one near the ambient dim
    says the opposite). Degenerate rows guard identically on both
    engines: exact duplicates (d₁ = 0) are excluded from the MLE.

    Scale shape: the neighbor search is the two-phase per-query top-k
    over a broadcast corpus block (cosine_topk's exact shape, k=2);
    bounded to 2000 vectors here because the oracle's cross join is
    O(N²) — at corpus scale the same estimator runs on a uniform sample
    (TwoNN needs only ~1e3-1e4 points for a stable MLE; sampling IS the
    published method's usage) or swaps the IVF candidate generator in.
    Cross-engine: distances are the same sequential sum-of-squares fold
    on both sides, each ln μ is rounded to 1e-6 integer units BEFORE the
    sum (the heaps-law convention), so the fold is exact integer
    addition and the MLE divides once at the end."""
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 2000)
    xd = F.transform("embedding", lambda v: v.cast("double"))
    # spread the QUERIES side: the broadcast nested-loop join preserves
    # left partitioning, so a single-split local scan would otherwise
    # evaluate all |q|·|c| distance folds in ONE task (measured 38s for
    # 4M pairs at sf0.1; 32-way spread makes it ~1s). No-op on a real
    # cluster where the scan arrives in many splits.
    q = spread(e).select(F.col("vec_id").alias("query_id"), xd.alias("qv"))
    c = e.select(F.col("vec_id").alias("neighbor_id"), xd.alias("cv"))
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("cv"), lambda p, r: (p - r) * (p - r)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    scored = (
        q.join(F.broadcast(c), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dist.alias("dist"))
    )
    topk = similarity.per_query_topk(
        scored, [F.asc("dist"), F.asc("neighbor_id")], 2
    )
    two = topk.groupBy("query_id").agg(
        F.min(F.when(F.col("rank") == 1, F.col("dist"))).alias("d1"),
        F.min(F.when(F.col("rank") == 2, F.col("dist"))).alias("d2"),
    )
    mu = two.where((F.col("d1") > 0) & F.col("d2").isNotNull()).select(
        F.round(F.log(F.col("d2") / F.col("d1")) * 1e6).cast("long").alias("ln_mu_micro")
    )
    s = mu.agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.sum("ln_mu_micro").cast("long").alias("units"),
    )
    return s.select(
        "n_used",
        rz6(F.col("units").cast("double") / 1e6).alias("sum_ln_mu"),
        F.when(
            F.col("units") > 0,
            rz(F.col("n_used").cast("double") * 1e6 / F.col("units")),
        )
        .otherwise(F.lit(0.0))
        .alias("id_twonn"),
    )


@query(
    "graph_modularity",
    oracle="""
    WITH bp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(count(*) AS BIGINT) AS support
      FROM bp a JOIN bp b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey),
    edges AS MATERIALIZED (SELECT u, v FROM e0 WHERE support >= 2),
    m AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
    adj AS MATERIALIZED (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges),
    degb AS MATERIALIZED (
      SELECT p.p_brand AS brand,
             CAST(count(*) AS BIGINT) AS degree_sum,
             CAST(count(DISTINCT x) AS BIGINT) AS n_nodes
      FROM adj JOIN part p ON adj.x = p.p_partkey GROUP BY p.p_brand),
    intra AS (
      SELECT pu.p_brand AS brand, CAST(count(*) AS BIGINT) AS intra_edges
      FROM edges JOIN part pu ON edges.u = pu.p_partkey
                 JOIN part pv ON edges.v = pv.p_partkey
      WHERE pu.p_brand = pv.p_brand GROUP BY pu.p_brand)
    SELECT degb.brand, degb.n_nodes, degb.degree_sum,
           CAST(coalesce(intra.intra_edges, 0) AS BIGINT) AS intra_edges,
           (round(CAST(coalesce(intra.intra_edges, 0) AS DOUBLE) / m.m
                  - (CAST(degb.degree_sum AS DOUBLE) / (2 * m.m))
                    * (CAST(degb.degree_sum AS DOUBLE) / (2 * m.m))
                  + 1e-9, 6) + 0.0) AS modularity_term
    FROM degb LEFT JOIN intra USING (brand), m
    ORDER BY brand
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the brand partition over the part co-purchase
    graph, reported per community: Q = Σ_c [ e_c/m − (d_c/2m)² ] — does
    "brand" explain the co-purchase structure (strongly positive terms:
    baskets stay in-brand) or not (terms near the random-graph
    expectation)? The same per-community audit drives dedup-cluster
    quality checks (does the LSH band partition align with true
    duplicate components?) and shard-locality decisions (is a
    community-keyed layout worth it?).

    Scale shape: edges come from the one cached support-≥2 co-purchase
    materialization every graph query shares (copurchase_edges — pinned,
    built once per session); brand attachment is two joins against the
    part dimension; everything after is integer groupBys over edges —
    e_c, d_c, and m are EXACT integer counts, so every modularity term
    is one deterministic float expression at the end (no float
    accumulation anywhere). Brands with zero intra-brand edges keep a
    row (left join + coalesce both engines)."""
    edges = copurchase_edges(spark, sf_dir)
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    adj = edges.select(F.col("u").alias("x")).unionAll(
        edges.select(F.col("v").alias("x"))
    )
    degb = (
        adj.join(part, adj.x == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("degree_sum"),
            F.count_distinct("x").cast("long").alias("n_nodes"),
        )
    )
    pu = part.select(F.col("p_partkey").alias("uk"), F.col("p_brand").alias("bu"))
    pv = part.select(F.col("p_partkey").alias("vk"), F.col("p_brand").alias("bv"))
    intra = (
        edges.join(pu, edges.u == pu.uk)
        .join(pv, edges.v == pv.vk)
        .where(F.col("bu") == F.col("bv"))
        .groupBy(F.col("bu").alias("brand"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    du = F.col("degree_sum").cast("double") / (F.lit(2) * F.col("m"))
    return (
        degb.join(intra, "brand", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "brand",
            "n_nodes",
            "degree_sum",
            F.coalesce(F.col("intra_edges"), F.lit(0)).cast("long").alias("intra_edges"),
            rz6(
                F.coalesce(F.col("intra_edges"), F.lit(0)).cast("double") / F.col("m")
                - du * du
            ).alias("modularity_term"),
        )
        .orderBy("brand")
    )


@query(
    "graph_khop_reach",
    oracle="""
    WITH bp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(count(*) AS BIGINT) AS support
      FROM bp a JOIN bp b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey),
    edges AS MATERIALIZED (SELECT u, v FROM e0 WHERE support >= 2),
    adj AS MATERIALIZED (SELECT u AS x, v AS z FROM edges
           UNION ALL SELECT v AS x, u AS z FROM edges),
    r0 AS MATERIALIZED (SELECT DISTINCT x FROM adj WHERE x % 97 = 0),
    f1 AS MATERIALIZED (
      SELECT DISTINCT a.z AS x FROM adj a JOIN r0 ON a.x = r0.x
      EXCEPT SELECT x FROM r0),
    r1 AS MATERIALIZED (SELECT x FROM r0 UNION ALL SELECT x FROM f1),
    f2 AS MATERIALIZED (
      SELECT DISTINCT a.z AS x FROM adj a JOIN f1 ON a.x = f1.x
      EXCEPT SELECT x FROM r1),
    r2 AS MATERIALIZED (SELECT x FROM r1 UNION ALL SELECT x FROM f2),
    f3 AS MATERIALIZED (
      SELECT DISTINCT a.z AS x FROM adj a JOIN f2 ON a.x = f2.x
      EXCEPT SELECT x FROM r2)
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS hop,
             CAST((SELECT count(*) FROM r0) AS BIGINT) AS n_frontier,
             CAST((SELECT count(*) FROM r0) AS BIGINT) AS n_reached
      UNION ALL SELECT 1,
             CAST((SELECT count(*) FROM f1) AS BIGINT),
             CAST((SELECT count(*) FROM r1) AS BIGINT)
      UNION ALL SELECT 2,
             CAST((SELECT count(*) FROM f2) AS BIGINT),
             CAST((SELECT count(*) FROM r2) AS BIGINT)
      UNION ALL SELECT 3,
             CAST((SELECT count(*) FROM f3) AS BIGINT),
             CAST((SELECT count(*) FROM r2) + (SELECT count(*) FROM f3) AS BIGINT)
    ) ORDER BY hop
    """,
)
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round BFS reach census on the part co-purchase graph: from
    the deterministic seed set (nodes with partkey ≡ 0 mod 97), the
    frontier size and cumulative reach at hops 0-3 — the
    expansion-profile readout behind "how far does influence/contagion
    propagate per round" questions and a direct measure of the graph's
    effective diameter growth rate. The ITERATIVE pattern itself is the
    point: each round is one adjacency join + anti-join against the
    reached set, the Spark-native form of a BSP/Pregel superstep.

    Scale shape: the loop is driver-side over DataFrames but every round
    is a distributed join — frontier × adjacency, key-partitioned — and
    each round's frontier/reached frames are pinned (session.pin) so the
    next round and its count read ONE materialization instead of
    recursively replaying the whole lineage (the classic iterative-Spark
    trap: unpinned loops square their own work per round). Rounds are
    FIXED (3), not run-to-convergence — the same bounded-superstep shape
    as graph_kcore_peeling. Counts are exact integers; the oracle chains
    MATERIALIZED CTEs (the kcore re-inlining lesson)."""
    edges = copurchase_edges(spark, sf_dir)
    adj = pin(
        edges.select(F.col("u").alias("x"), F.col("v").alias("z")).unionAll(
            edges.select(F.col("v").alias("x"), F.col("u").alias("z"))
        )
    )
    reached = pin(adj.select("x").distinct().where(F.col("x") % 97 == 0))
    frontier = reached
    out = [
        reached.agg(F.count(F.lit(1)).cast("long").alias("n_frontier")).select(
            F.lit(0).cast("long").alias("hop"),
            "n_frontier",
            F.col("n_frontier").alias("n_reached"),
        )
    ]
    for hop in (1, 2, 3):
        nbr = (
            adj.join(frontier.withColumnRenamed("x", "fx"), adj.x == F.col("fx"))
            .select(F.col("z").alias("x"))
            .distinct()
        )
        frontier = pin(nbr.join(reached, "x", "left_anti"))
        reached = pin(reached.unionAll(frontier))
        nf = frontier.agg(F.count(F.lit(1)).cast("long").alias("n_frontier"))
        nr = reached.agg(F.count(F.lit(1)).cast("long").alias("n_reached"))
        out.append(
            nf.crossJoin(F.broadcast(nr)).select(
                F.lit(hop).cast("long").alias("hop"), "n_frontier", "n_reached"
            )
        )
    res = out[0]
    for frame in out[1:]:
        res = res.unionAll(frame)
    return res.orderBy("hop")


@query(
    "text_source_keyness",
    oracle=f"""
    WITH tk AS (
      SELECT source, unnest({TOKS}) AS tok FROM documents),
    cnt AS MATERIALIZED (
      SELECT tok,
             CAST(count(*) FILTER (source = 'src0') AS BIGINT) AS a,
             CAST(count(*) FILTER (source <> 'src0') AS BIGINT) AS b
      FROM tk GROUP BY tok),
    tot AS MATERIALIZED (
      SELECT CAST(sum(a) AS BIGINT) AS c, CAST(sum(b) AS BIGINT) AS d
      FROM cnt),
    g AS (
      SELECT tok, a, b,
             (CASE WHEN a > 0 THEN
                CAST(round(CAST(a AS DOUBLE)
                     * ln((CAST(a AS DOUBLE) * (c + d)) / (CAST(c AS DOUBLE) * (a + b)))
                     * 1e9) AS BIGINT) ELSE 0 END
              + CASE WHEN b > 0 THEN
                CAST(round(CAST(b AS DOUBLE)
                     * ln((CAST(b AS DOUBLE) * (c + d)) / (CAST(d AS DOUBLE) * (a + b)))
                     * 1e9) AS BIGINT) ELSE 0 END) * 2 AS units,
             (CAST(a AS DOUBLE) * d > CAST(b AS DOUBLE) * c) AS overused
      FROM cnt, tot)
    SELECT tok, a AS n_focus, b AS n_rest,
           (round(CAST(units AS DOUBLE) / 1e9 + 1e-9, 4) + 0.0) AS g2,
           overused
    FROM g WHERE overused
    ORDER BY units DESC, tok LIMIT 20
    """,
)
def text_source_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood (G²) keyness of source 'src0' against the
    rest of the corpus: the top-20 tokens OVERUSED in the focus source,
    ranked by G² = 2·[a·ln(a/E_a) + b·ln(b/E_b)] — the standard
    corpus-linguistics answer to "what vocabulary makes this source
    different?", and the screen a mixture-weighting pass runs per source
    to spot template/boilerplate domination (a handful of huge-G² tokens
    = a stamp, a flat profile = organic text) before assigning sampling
    weights.

    Scale shape: ONE explode + (token) groupBy with conditional partial
    counts carries the whole computation — the shuffle holds (token, 2
    counts), the 1-row totals broadcast, the per-token G² is a map
    expression, and the top-20 is a TakeOrderedAndProject on the exact
    integer score. Cross-engine: counts are exact; each of the two
    x·ln(x/E) terms rounds to 1e-9 integer units BEFORE the ×2 and the
    ranking (zero-count terms take the 0·ln0 → 0 limit identically), so
    ordering and output derive from integer arithmetic; the overused
    test cross-multiplies (a·d > b·c in double — exact for counts below
    2⁵³) instead of comparing ratios."""
    docs = t(spark, sf_dir, "documents").select("source", "text")
    tk = docs.select("source", F.explode(tokenize(F.col("text"))).alias("tok"))
    cnt = tk.groupBy("tok").agg(
        F.count(F.when(F.col("source") == "src0", 1)).cast("long").alias("a"),
        F.count(F.when(F.col("source") != "src0", 1)).cast("long").alias("b"),
    )
    tot = cnt.agg(
        F.sum("a").cast("long").alias("c"), F.sum("b").cast("long").alias("d")
    )
    term_a = F.when(
        F.col("a") > 0,
        F.round(
            F.col("a").cast("double")
            * F.log(
                (F.col("a").cast("double") * (F.col("c") + F.col("d")))
                / (F.col("c").cast("double") * (F.col("a") + F.col("b")))
            )
            * F.lit(1e9)
        ).cast("long"),
    ).otherwise(F.lit(0))
    term_b = F.when(
        F.col("b") > 0,
        F.round(
            F.col("b").cast("double")
            * F.log(
                (F.col("b").cast("double") * (F.col("c") + F.col("d")))
                / (F.col("d").cast("double") * (F.col("a") + F.col("b")))
            )
            * F.lit(1e9)
        ).cast("long"),
    ).otherwise(F.lit(0))
    g = cnt.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.col("a").alias("n_focus"),
        F.col("b").alias("n_rest"),
        ((term_a + term_b) * 2).alias("units"),
        (F.col("a").cast("double") * F.col("d") > F.col("b").cast("double") * F.col("c")).alias(
            "overused"
        ),
    )
    return (
        g.where("overused")
        .orderBy(F.col("units").desc(), "tok")
        .limit(20)
        .select(
            "tok",
            "n_focus",
            "n_rest",
            rz(F.col("units").cast("double") / F.lit(1e9)).alias("g2"),
            "overused",
        )
    )


@query(
    "fts_query_expansion",
    oracle=f"""
    WITH tk AS MATERIALIZED (SELECT doc_id, {TOKS} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    hits AS (
      SELECT doc_id, t.term, len(list_filter(toks, x -> x = t.term)) AS tf
      FROM tk, (SELECT unnest(['spark', 'sort', 'vector']) AS term) t
      WHERE list_contains(toks, t.term)),
    dfs AS (SELECT term, count(*) AS df FROM hits GROUP BY term),
    scored AS (
      SELECT h.doc_id,
             round(sum(
               ln((stats.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (h.tf * 2.2) / (h.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
             ), 6) AS score
      FROM hits h, dfs d, dl, stats
      WHERE h.term = d.term AND h.doc_id = dl.doc_id
      GROUP BY h.doc_id),
    top AS MATERIALIZED (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rk
      FROM scored QUALIFY rk <= 10),
    rfb AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS r_fb FROM top),
    alltk AS MATERIALIZED (
      SELECT doc_id, unnest(list_distinct(toks)) AS token FROM tk),
    cand AS (
      SELECT token, CAST(count(*) AS BIGINT) AS r
      FROM alltk JOIN top USING (doc_id)
      WHERE token NOT IN ('sort', 'spark', 'vector')
      GROUP BY token),
    alldf AS MATERIALIZED (
      SELECT token, CAST(count(*) AS BIGINT) AS n FROM alltk GROUP BY token),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM tk),
    g AS (
      SELECT token, r, n,
             CAST(round(r * ln(
               ((r + 0.5) * (CAST(nd.n_docs AS DOUBLE) - n - CAST(rfb.r_fb AS DOUBLE) + r + 0.5))
               / ((n - r + 0.5) * (CAST(rfb.r_fb AS DOUBLE) - r + 0.5))
             ) * 1e9) AS BIGINT) AS units
      FROM cand JOIN alldf USING (token), rfb, nd
      WHERE nd.n_docs - n - rfb.r_fb + r >= 0)
    SELECT token, r AS r_feedback, n AS df,
           (round(CAST(units AS DOUBLE) / 1e9 + 1e-9, 6) + 0.0) AS offer_weight,
           CAST(row_number() OVER (ORDER BY units DESC, token) AS BIGINT) AS rank
    FROM g QUALIFY rank <= 10 ORDER BY rank
    """,
)
def fts_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion off the shared inverted
    index (operators/fts.py:pseudo_relevance_expand): BM25 fetches 10
    pseudo-relevant documents for the seed query, then every non-seed
    term they contain is ranked by the Robertson/Sparck Jones offer
    weight — the retrieval engine's "add THESE words to your query"
    second pass, and the topic-vocabulary harvester a contamination
    screen seeds from a few known-bad documents.

    Scale shape: the feedback set is ≤ 10 broadcast doc ids; candidate
    term statistics are ONE posting-table semi-join plus the memoized
    per-term df table (no text rescan); the offer-weight rank is a
    TakeOrdered over candidate terms scored in 1e-9 integer units from
    exact integer (r, df, R, N) — so the ordering the oracle must match
    is integer arithmetic, with the BM25 feedback ranking reusing the
    round-6 + doc_id tie-break contract fts_ranked_bm25 already
    certifies."""
    postings, stats = fts_index(spark, sf_dir)
    return fts.pseudo_relevance_expand(
        postings, ["spark", "sort", "vector"], k_feedback=10, k_terms=10, stats=stats
    )


@query(
    "graph_conductance",
    oracle="""
    WITH bp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(count(*) AS BIGINT) AS support
      FROM bp a JOIN bp b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey),
    edges AS MATERIALIZED (SELECT u, v FROM e0 WHERE support >= 2),
    m AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
    adj AS MATERIALIZED (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges),
    degb AS MATERIALIZED (
      SELECT p.p_brand AS brand, CAST(count(*) AS BIGINT) AS degree_sum
      FROM adj JOIN part p ON adj.x = p.p_partkey GROUP BY p.p_brand),
    intra AS (
      SELECT pu.p_brand AS brand, CAST(count(*) AS BIGINT) AS intra_edges
      FROM edges JOIN part pu ON edges.u = pu.p_partkey
                 JOIN part pv ON edges.v = pv.p_partkey
      WHERE pu.p_brand = pv.p_brand GROUP BY pu.p_brand)
    SELECT degb.brand,
           CAST(degb.degree_sum - 2 * coalesce(intra.intra_edges, 0) AS BIGINT)
             AS cut_edges,
           degb.degree_sum,
           CASE WHEN least(degb.degree_sum, 2 * m.m - degb.degree_sum) > 0
                THEN (round(
                  CAST(degb.degree_sum - 2 * coalesce(intra.intra_edges, 0)
                       AS DOUBLE)
                  / least(degb.degree_sum, 2 * m.m - degb.degree_sum)
                  + 1e-9, 6) + 0.0)
                ELSE 0.0 END AS conductance
    FROM degb LEFT JOIN intra USING (brand), m
    ORDER BY brand
    """,
)
def graph_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut conductance per brand community on the part co-purchase
    graph: φ(S) = cut(S) / min(vol S, vol S̄) with cut = d_S − 2·e_S —
    the BOUNDARY-quality complement to graph_modularity's density view
    (modularity can reward a community that still leaks a third of its
    edges; conductance is the leak rate itself, the quantity sharding
    and partition-placement decisions actually minimize: φ IS the
    fraction of a community's traffic that crosses the shard boundary).

    Scale shape: identical frames to graph_modularity — the shared
    pinned co-purchase edges, two part-dim joins, integer groupBys —
    so the marginal cost of asking BOTH questions is one more bounded
    aggregate. cut, vol, and 2m are exact integers; the ratio divides
    once per community (brands whose complement volume is 0 take the
    guarded 0 identically in both engines)."""
    edges = copurchase_edges(spark, sf_dir)
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    adj = edges.select(F.col("u").alias("x")).unionAll(
        edges.select(F.col("v").alias("x"))
    )
    degb = (
        adj.join(part, adj.x == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).cast("long").alias("degree_sum"))
    )
    pu = part.select(F.col("p_partkey").alias("uk"), F.col("p_brand").alias("bu"))
    pv = part.select(F.col("p_partkey").alias("vk"), F.col("p_brand").alias("bv"))
    intra = (
        edges.join(pu, edges.u == pu.uk)
        .join(pv, edges.v == pv.vk)
        .where(F.col("bu") == F.col("bv"))
        .groupBy(F.col("bu").alias("brand"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    cut = F.col("degree_sum") - 2 * F.coalesce(F.col("intra_edges"), F.lit(0))
    cap = F.least(F.col("degree_sum"), 2 * F.col("m") - F.col("degree_sum"))
    return (
        degb.join(intra, "brand", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "brand",
            cut.cast("long").alias("cut_edges"),
            "degree_sum",
            F.when(cap > 0, rz6(cut.cast("double") / cap))
            .otherwise(F.lit(0.0))
            .alias("conductance"),
        )
        .orderBy("brand")
    )


@query(
    "text_hapax_share_by_source",
    oracle=f"""
    WITH tk AS (
      SELECT source, unnest({TOKS}) AS tok FROM documents),
    tc AS MATERIALIZED (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS n
      FROM tk GROUP BY source, tok)
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           (round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*) + 1e-9, 6) + 0.0) AS hapax_share,
           (round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / sum(n) + 1e-9, 6) + 0.0) AS hapax_token_rate
    FROM tc GROUP BY source ORDER BY source
    """,
)
def text_hapax_share_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena census per source: vocabulary size, the counts of
    once- and twice-occurring word types (hapax / dis legomena), and the
    hapax share of both vocabulary and token mass. Good-Turing intuition
    makes the hapax share the canonical "how much vocabulary is still
    unseen" estimator: organic text holds a fat once-only tail (hapax
    share ~0.4-0.6 of vocab), while templated/boilerplate sources show a
    collapsed tail — the per-source companion to text_heaps_law's
    corpus-level growth curve, and the screen that catches a source
    whose generator loops a fixed phrasebook.

    Scale shape: one explode + (source, token) groupBy with map-side
    partial counts, then a source-grain conditional fold over the
    type-grain frame. Every output derives from exact integer counts
    divided once."""
    docs = t(spark, sf_dir, "documents").select("source", "text")
    tk = docs.select("source", F.explode(tokenize(F.col("text"))).alias("tok"))
    tc = tk.groupBy("source", "tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        tc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long").alias("hapax"),
            F.sum(F.when(F.col("n") == 2, 1).otherwise(0)).cast("long").alias("dis"),
            F.sum("n").cast("long").alias("n_tokens"),
            rz6(
                F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("hapax_share"),
            rz6(
                F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("double")
                / F.sum("n")
            ).alias("hapax_token_rate"),
        )
        .orderBy("source")
    )
