"""The full-text search part of query_suite: the six search shapes of
``operators.fts`` against a persisted hash-layout index, as a user would
serve them. The index is built once with ``write_index`` and opened with
``read_index``."""

from __future__ import annotations

import os
import time

from perfbench import gen

# hash buckets sized to the corpus: a few postings files per bucket
BUCKETS = 32


def answer(shape: str, rows):
    """Comparable form of a result: the doc id set, or the ranked page."""
    if shape.startswith("bm25"):
        return tuple((r["rank"], r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"]))
    return frozenset(r["doc_id"] for r in rows)


def ranked_ok(page) -> bool:
    scores = [s for _, _, s in page]
    return bool(page) and all(a >= b for a, b in zip(scores, scores[1:]))


class SearchIndex:
    def __init__(self, spark, texts: list[str], work: str):
        from sec_dl_spark.operators import fts

        self.fts = fts
        path = os.path.join(work, "fts_index")
        self.docs = docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        t0 = time.perf_counter()
        fts.write_index(fts.build_inverted_index(docs), path, buckets=BUCKETS, layout="hash")
        t1 = time.perf_counter()
        self.postings, self.stats = fts.read_index(spark, path)
        t2 = time.perf_counter()
        self.build_s, self.read_s = t1 - t0, t2 - t1

    def load_reference(self, seed: int, texts: list[str]) -> None:
        """The checks' side, not timed as set-up: Spark's own tokens of
        every document, and the seeded queries."""
        from pyspark.sql import functions as F

        from sec_dl_spark.functions.text import tokenize

        self.doc_tokens = {
            r["doc_id"]: r["t"]
            for r in self.docs.select("doc_id", tokenize(F.col("text")).alias("t")).collect()
        }
        self.queries = gen.fts_queries(seed, texts)

    def search(self, shape: str, q):
        fts, postings, stats = self.fts, self.postings, self.stats
        if shape == "and":
            return fts.search_all(postings, q)
        if shape == "or":
            return fts.search_any(postings, q)
        if shape == "phrase":
            return fts.search_phrase(postings, q)
        if shape == "tsquery":
            return fts.search_query(postings, q)
        if shape == "bm25":
            return fts.search_bm25(postings, q, k=10, stats=stats)
        if shape == "bm25_deep":
            # a deep page: ranks 201-210
            return fts.search_bm25(postings, q, k=210, stats=stats).where("rank > 200")
        raise ValueError(shape)

    def expected(self, shape: str, q, rows):
        """The warm-up result if it is right, else None: boolean shapes
        must equal the pure-Python evaluation, ranked pages must be
        ordered by score."""
        got = answer(shape, rows)
        if shape.startswith("bm25"):
            return got if ranked_ok(got) else None
        return got if got == gen.eval_boolean(shape, q, self.doc_tokens) else None
