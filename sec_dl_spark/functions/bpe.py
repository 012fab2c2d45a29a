"""Byte-pair encoding: corpus-trained subword tokenization (Sennrich et
al. 2016, the GPT-2 word-level variant with an end-of-word marker) — the
real version of the token-budget estimate's "BPE-ish regex" and the unit
every LLM data pipeline ultimately counts in.

Spark shape: training consumes the WORD-FREQUENCY table, not the corpus —
one distributed groupBy/count collapses 100 TB of text into a vocab-sized
table (capped at ``max_vocab_words`` by frequency, the standard training
approximation), and the merge loop runs driver-side on that table exactly
once per corpus. Encoding is the distributed half: merge ranks broadcast
in a pandas_udf closure; each Arrow batch segments its words greedily by
rank with a per-batch word cache (words repeat heavily, so most lookups
are dict hits, not merge loops).
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sec_dl_spark.functions.text import tokenize

EOW = "</w>"


def bpe_train(
    corpus: DataFrame,
    text_col: str = "text",
    n_merges: int = 200,
    max_vocab_words: int = 50_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus word frequencies.
    Deterministic: ties on pair frequency break lexicographically, and the
    vocab cap takes the most frequent words (then lexicographic). Returns
    the merge list in rank order — a few KB that broadcasts everywhere.

    Driver cost is O(n_merges · vocab · word_len), independent of corpus
    bytes; the only distributed work is one tokenize + groupBy pass."""
    rows = (
        corpus.select(F.explode(tokenize(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(max_vocab_words)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {
        tuple(list(r["w"]) + [EOW]): r["c"] for r in rows
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, c in vocab.items():
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = c
        vocab = new_vocab
    return merges


def _segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank merging of one word (the GPT-2 encode loop)."""
    sym = list(word) + [EOW]
    while len(sym) > 1:
        best_rank, best_i = None, None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def bpe_encode_udf(merges: list[tuple[str, str]]):
    """pandas_udf: text → ARRAY<STRING> of BPE tokens (end-of-word marker
    kept, so tokens are unambiguous and the original words reconstruct by
    concatenation — pinned by the round-trip test)."""
    from pyspark.sql.types import ArrayType, StringType

    ranks = {tuple(m): i for i, m in enumerate(merges)}

    @F.pandas_udf(ArrayType(StringType()))
    def encode(texts: pd.Series) -> pd.Series:
        import re

        tok = re.compile(r"[a-z0-9]+")
        cache: dict[str, list[str]] = {}
        out = []
        for text in texts:
            if text is None:
                out.append(None)
                continue
            toks: list[str] = []
            for w in tok.findall(text.lower()):
                seg = cache.get(w)
                if seg is None:
                    seg = _segment_word(w, ranks)
                    cache[w] = seg
                toks.extend(seg)
            out.append(toks)
        return pd.Series(out)

    return encode

