"""Text-analysis column functions for the LLM-data-pipeline surface
(SURVEY.md §2.11): token counting, quality scoring, language-ID heuristic,
document fingerprinting. All pure built-in expressions — they run inside
whole-stage codegen and scale linearly with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sec_dl_spark.functions.text import tokenize

# Tiny fixed stopword list shared with the DuckDB oracles (a stand-in for
# StopWordsRemover's full list, which is not portable to SQL verbatim).
STOPWORDS = ("a", "the", "and", "of", "to", "in", "is", "it")

# Marker tokens for the n-gram/lexicon language heuristic. Deterministic
# function of the text (the fixture corpus shares one vocabulary, so this is
# exercised as function parity, not classifier accuracy).
LANG_MARKERS = {
    "en": ("the", "and", "of", "a"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "que", "y"),
}


# Performance note: every ``*_of`` function below takes an already-computed
# token-array COLUMN (project ``tokenize(text).alias("toks")`` first, then
# apply these to the attribute). Higher-order functions run interpreted (not
# whole-stage codegen), and a Column expression tree is duplicated at every
# reference — so passing ``tokenize(text)`` directly would re-tokenize the
# document once per lambda evaluation. ``fingerprint`` is the one text-column
# wrapper, kept for its single-use callers.


def token_count_of(toks: Column) -> Column:
    return F.size(toks).cast("long")


def unique_token_count_of(toks: Column) -> Column:
    return F.size(F.array_distinct(toks)).cast("long")


def avg_token_len_of(toks: Column) -> Column:
    """Mean token length; 0.0 for empty docs."""
    total = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def stopword_ratio_of(toks: Column) -> Column:
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    return F.when(F.size(toks) > 0, n_stop.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    n_punct = F.length(F.regexp_replace(col, r"[a-zA-Z0-9\s]", ""))
    return F.when(F.length(col) > 0, n_punct.cast("double") / F.length(col)).otherwise(F.lit(0.0))


def quality_score_of(toks: Column, text: Column) -> Column:
    """Composite [0,1] quality heuristic: penalize very short docs, high
    punctuation, and high stopword share — the shape of standard pretraining
    quality filters (length/punct/stopword ratios)."""
    length_term = F.least(token_count_of(toks).cast("double") / 100.0, F.lit(1.0))
    return F.round(
        0.5 * length_term
        + 0.25 * (1.0 - punct_ratio(text))
        + 0.25 * (1.0 - stopword_ratio_of(toks)),
        4,
    )


def lang_guess_of(toks: Column) -> Column:
    """Marker-lexicon language guess: the language with the most marker-token
    hits, ties broken by fixed language order; 'und' when no markers hit."""
    toks = F.array_distinct(toks)
    scores = {
        lang: F.size(F.filter(toks, lambda x: x.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.lit("und")
    best_score = F.lit(0)
    # Fixed iteration order = deterministic tie-break (> keeps earlier lang).
    for lang in ("en", "de", "fr", "es"):
        cond = scores[lang] > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return best


def fingerprint_of(toks: Column) -> Column:
    return F.md5(F.array_join(toks, " "))


def fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 over the canonical token stream. Identical
    content (modulo case/punctuation/whitespace) → identical fingerprint;
    this is the derived-column analog of the reference's trigger-maintained
    tsvector (sec_dl/utils/init_tables.py:59-67) used for exact dedup."""
    return fingerprint_of(tokenize(col))


def hash_bucket(col: Column, buckets: int) -> Column:
    """Hash bucket of ``col`` in [0, buckets): ``abs(hash(col) % buckets)``.

    Not ``abs(hash(col)) % buckets``: under ANSI mode ``abs`` of a hash
    equal to Int.MinValue raises ARITHMETIC_OVERFLOW (the token
    'actgv1ns' hashes there). For every other hash both forms give the
    same bucket, so layouts written with the old form stay valid."""
    return F.abs(F.hash(col) % buckets)


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Distinct n-gram word shingles from a token-array column — the
    dedup/similarity unit for Jaccard, MinHash and SimHash.

    One regexp_extract_all pass over the space-joined token stream, with a
    lookahead group capturing the n-gram at every token start (overlapping
    matches). A transform/element_at formulation would reference ``toks``
    ~2n times — and since optimizer rules substitute expression trees into
    inferred filters (e.g. explode's size>0) wholesale, any multi-reference
    shingler risks re-evaluating its input tree per reference. This one
    references ``toks`` once and runs in whole-stage codegen."""
    pat = r"(?=((?:\S+)(?: \S+){%d}))\S+" % (n - 1)
    return F.array_distinct(F.regexp_extract_all(F.array_join(toks, " "), F.lit(pat), 1))


def contamination_ngrams(
    eval_docs, train_docs, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
):
    """Train/eval n-gram contamination check (the benchmark-leakage screen a
    pretraining pipeline runs before evaluation): for each eval doc, the
    fraction of its distinct n-grams that appear anywhere in the train
    corpus.

    Shape: explode both sides to (gram) postings, semi-join eval grams
    against the train-gram set (shuffle keyed by gram, never by doc), then
    per-doc hit ratio. At 100 TB the train-gram set is pre-materialized
    once (bucketed by gram hash) and every eval batch joins against it.
    Returns (doc_id, n_grams, n_hits, contamination).
    """
    from pyspark.sql import functions as F  # noqa: PLC0415 (column API)

    from sec_dl_spark.functions.text import tokenize
    from sec_dl_spark.session import spread

    def grams_of(df):
        return (
            spread(df)
            .select(F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("_tk"))
            .select("doc_id", shingles_of(F.col("_tk"), n).alias("_sh"))
            .select("doc_id", F.explode("_sh").alias("gram"))
        )

    train_grams = grams_of(train_docs).select("gram").distinct()
    eval_grams = grams_of(eval_docs)
    hits = eval_grams.join(train_grams, "gram", "left_semi").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    totals = eval_grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / F.col("n_grams") + 1e-9, 5
            ).alias("contamination"),
        )
    )


def compressed_len():
    """Arrow-batched zlib-compressed byte length (the Gopher/RedPajama-class
    "compressibility" quality signal: near-incompressible text is noise or
    already-compressed junk; hyper-compressible text is boilerplate or
    repetition). No SQL-engine analog exists, so queries built on this are
    rows-only checked; pytest pins parity against direct ``zlib`` calls.

    Deterministic for a fixed zlib level (6) and library — zlib's output is
    stable across platforms for the same level/strategy. Defined lazily
    (function returning the pandas_udf) so importing this module never
    needs an active session and the closure ships clean to executors."""
    import pandas as pd  # noqa: PLC0415 (annotation target below)
    from pyspark.sql.types import LongType  # noqa: PLC0415

    globals().setdefault("pd", pd)  # resolve the postponed annotation

    @F.pandas_udf(LongType())
    def _zlen(s: pd.Series) -> pd.Series:
        import zlib

        return s.map(
            lambda x: len(zlib.compress(x.encode("utf-8"), 6)) if x is not None else None
        )

    return _zlen
