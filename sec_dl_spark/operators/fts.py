"""Full-text search: materialized inverted index + query evaluation.

Replaces the reference's PostgreSQL GIN index and tsvector trigger
(/root/reference/sec_dl/utils/init_tables.py:56-67) and the user-facing
`token @@ to_tsquery(...)` capability (README.md:7). Spark has no secondary
indexes, so the index is itself a table: one posting row per (token, doc),
with in-document positions for phrase queries.

Scale design (100 TB): building the index is one explode + one groupBy
(single shuffle keyed by (token, doc_id)). A persisted index has one
format, a set of (run, batch) commits (``write_index_batch``): each
commit's postings sit under ``ingest_run=R/ingest_batch=N/token_bucket=B``
with ``B = hash_bucket(token, buckets)``, and its stats partials (doc_len,
token df, a one-row corpus summary) under ``<path>_stats``. ``write_index``
is a full rebuild into a single commit; the streaming sink
(streaming/index.py) adds one commit per micro-batch; ``read_index`` opens
either. Like a GIN lookup, a search reads only its own terms' rows: the
term list is an IN filter pushed into the scan, and on an index opened
with ``read_index`` the terms' bucket values are folded into a static
partition filter, so only their directories are listed and read. No scan
of the raw text and no join against a term table at query time. An index
with no corpus rows (a rebuild cut short) or a frame read with plain
``spark.read.parquet`` is served unpruned (the IN filter still applies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sec_dl_spark.functions.analysis import hash_bucket
from sec_dl_spark.functions.text import tokenize
from sec_dl_spark.operators.quality import with_observed_metrics
from sec_dl_spark.session import spread
from sec_dl_spark.streaming.commit import commit_batch_partition
from sec_dl_spark.util import hadoop_delete, read_string_partitioned, try_read_parquet


def build_inverted_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """docs(id, text) → postings(token, doc_id, positions ARRAY<INT>).

    posexplode keeps token positions so phrase search works; the groupBy
    collects per-document position lists (map-side combine applies).
    """
    toks = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokenize(F.col(text_col))).alias("pos", "token"),
    )
    return (
        toks.groupBy("token", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )


class CorpusStats:
    """Corpus-level statistics for ranked retrieval (ts_rank/BM25 analogs):
    N (corpus size), avgdl (average document length), per-document length,
    per-token document frequency.

    Computed lazily from the posting table and memoized, so a query that
    never ranks pays nothing, and the second ranked query on the same
    corpus pays nothing either. At serve scale these belong in the
    persisted index — ``write_index`` writes them as a sidecar and
    ``read_index`` rehydrates this object with zero query-time jobs."""

    def __init__(
        self,
        postings: DataFrame | None = None,
        doc_len: DataFrame | None = None,
        df: DataFrame | None = None,
        n_docs: int | None = None,
        avgdl: float | None = None,
        cache: bool = True,
    ):
        self._postings = postings
        self._doc_len = doc_len
        self._df = df
        self._n_docs = n_docs
        self._avgdl = avgdl
        self._cache = cache

    @property
    def doc_len(self) -> DataFrame:
        """(doc_id, dl) — total tokens per document."""
        if self._doc_len is None:
            dl = self._postings.groupBy("doc_id").agg(
                F.sum(F.size("positions")).alias("dl")
            )
            self._doc_len = dl.cache() if self._cache else dl
        return self._doc_len

    @property
    def df(self) -> DataFrame:
        """(token, df) — document frequency per token. (token, doc_id) is
        unique in the posting table, so count(*) == count_distinct."""
        if self._df is None:
            d = self._postings.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
            self._df = d.cache() if self._cache else d
        return self._df

    def _scalars(self) -> None:
        row = self.doc_len.agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
        ).collect()[0]
        self._n_docs = int(row["n_docs"])
        self._avgdl = float(row["avgdl"])

    @property
    def n_docs(self) -> int:
        if self._n_docs is None:
            self._scalars()
        return self._n_docs

    @property
    def avgdl(self) -> float:
        if self._avgdl is None:
            self._scalars()
        return self._avgdl


# Metadata key on read_index's ``token_bucket`` column: the bucket count
# the index was written with. Pruning needs it to compute a term's bucket;
# a column without it (plain spark.read.parquet) is never pruned.
BUCKETS_META = "fts_buckets"

# Run token of a full rebuild's single commit. Non-numeric like the
# streaming sink's tokens (commit.run_token), and never equal to one.
REBUILD_RUN = "rebuild"


def write_index_batch(
    postings: DataFrame, path: str, run: str, batch_id: int, buckets: int
) -> None:
    """Write one (run, batch) commit of the persisted index: the postings,
    then the commit's stats partials computed from the postings just
    written, so ``postings`` (tokenization included) is evaluated once.

    The postings are repartitioned by bucket, one file per bucket per
    commit. The partials are ``doc_len`` (doc_id, dl), ``token_df``
    (token, df) and ``corpus``, one row of (n_docs, dl = Σ dl, buckets)
    taken as observed metrics of the doc_len write. Every write is a
    dynamic overwrite of this commit's own partition, so a retried batch
    replaces its earlier attempt. The corpus row goes last: its presence
    marks the commit's stats complete. A commit with no postings writes
    nothing."""
    spark = postings.sparkSession
    bucketed = postings.withColumn("token_bucket", hash_bucket(F.col("token"), buckets))
    commit_batch_partition(
        bucketed.repartition("token_bucket"), path, run, batch_id, "token_bucket"
    )
    written = try_read_parquet(
        spark,
        f"{path}/ingest_run={run}/ingest_batch={batch_id}",
        bucketed.drop("token_bucket").schema,
    )
    if written is None:
        return
    stats = CorpusStats(written, cache=False)
    doc_len, corpus = with_observed_metrics(
        stats.doc_len,
        f"fts_corpus_{run}_{batch_id}",
        {"n_docs": F.count(F.lit(1)), "dl": F.sum("dl")},
    )
    commit_batch_partition(doc_len, f"{path}_stats/doc_len", run, batch_id)
    commit_batch_partition(stats.df, f"{path}_stats/token_df", run, batch_id)
    commit_batch_partition(
        # literals over a JVM range: no Python-worker job for one row
        spark.range(1, numPartitions=1).select(
            F.lit(corpus.get["n_docs"]).cast("long").alias("n_docs"),
            F.lit(corpus.get["dl"]).cast("long").alias("dl"),
            F.lit(buckets).cast("int").alias("buckets"),
        ),
        f"{path}_stats/corpus",
        run,
        batch_id,
    )


def write_index(
    postings: DataFrame,
    path: str,
    buckets: int = 256,
    layout: str = "hash",
) -> None:
    """Persist the index as a full rebuild: one commit (batch 0 of run
    ``REBUILD_RUN``) replaces whatever ``path`` held. (Bucketed
    saveAsTable is the managed-catalog variant; plain parquet keeps the
    fixture flow hermetic.) ``write_index(read_index(src)[0], dst)``
    compacts a streamed index into one commit.

    The stats sidecar (N, avgdl, doc_len, token df and the bucket count
    that pruning needs) is written with the postings, so ranked queries at
    serve time launch no stats-aggregation jobs. ``layout`` accepts only
    ``"hash"``, the one layout written."""
    if layout != "hash":
        raise ValueError(f"unknown index layout {layout!r} (hash)")
    spark = postings.sparkSession
    # Remove the sidecar BEFORE the postings: a crash between the postings
    # rewrite and the sidecar rewrite would otherwise leave the previous
    # corpus's stats next to the new postings — silently wrong TF-IDF/BM25
    # with no signal. Deleting first turns that crash window into a
    # detectable missing-sidecar state (read_index returns stats=None).
    hadoop_delete(spark, f"{path}_stats")
    hadoop_delete(spark, path)
    write_index_batch(postings, path, REBUILD_RUN, 0, buckets)


def read_index(spark, path: str) -> tuple[DataFrame, CorpusStats | None]:
    """Open a persisted index, rebuilt or streamed: its postings, and
    CorpusStats rehydrated from the commits' partials (None when no
    commit recorded its corpus row). The corpus rows are one tiny scan at
    open time; queries then run with zero stats jobs.

    N and the summed dl add up over the corpus rows (avgdl = Σdl / N).
    Token df is the commits' partial counts summed per token, an
    aggregation needed only when the index holds more than one commit.
    The returned postings keep ``token_bucket``, tagged with the recorded
    bucket count (``BUCKETS_META``), so the search functions prune to
    their terms' directories; commits that record different counts are
    refused, since pruning by either count would miss the other's rows.
    With no corpus row the column is dropped and searches scan every
    bucket."""
    # type inference OFF for the partition columns: a string run token
    # must never parse as a number, and the search functions compare
    # token_bucket to string bucket values (see util helper docstring)
    postings = read_string_partitioned(spark, path).drop("ingest_run", "ingest_batch")
    # probe by reading, not os.path — works on any filesystem scheme; an
    # empty-but-present sidecar (crash between delete and rewrite) also
    # reads as "no stats" rather than raising
    corpus = try_read_parquet(spark, f"{path}_stats/corpus", "n_docs long, dl long, buckets int")
    rows = corpus.select("n_docs", "dl", "buckets").collect() if corpus is not None else []
    if not rows:
        return postings.drop("token_bucket"), None
    counts = sorted({r["buckets"] for r in rows})
    if len(counts) > 1:
        raise ValueError(
            f"index {path!r} mixes commits written with bucket counts {counts}; "
            "rebuild it with write_index"
        )
    # the partials' schemas are known, so their reads infer nothing
    ids = postings.schema["doc_id"].dataType.simpleString()
    doc_len = spark.read.schema(f"doc_id {ids}, dl long").parquet(f"{path}_stats/doc_len")
    df = spark.read.schema("token string, df long").parquet(f"{path}_stats/token_df")
    if len(rows) > 1:
        df = df.groupBy("token").agg(F.sum("df").alias("df"))
    n_docs = sum(r["n_docs"] for r in rows)
    stats = CorpusStats(
        doc_len=doc_len.select("doc_id", "dl"),
        df=df.select("token", "df"),
        n_docs=n_docs,
        avgdl=sum(r["dl"] for r in rows) / n_docs,
    )
    return postings.withMetadata("token_bucket", {BUCKETS_META: counts[0]}), stats


def _lowered(terms) -> list[str]:
    """A term list as the index stores it: lowercased, distinct, sorted."""
    return sorted({t.lower() for t in terms})


def _prune_to_terms(postings: DataFrame, terms) -> DataFrame:
    """The terms' posting rows: ``token IN (terms)``, pushed into the scan.

    On an index opened with read_index the partition column is restricted
    first, to the terms' ``token_bucket`` values under the recorded bucket
    count. The bucket value is a constant expression of the term, so
    constant folding turns the predicate into a static partition filter:
    only those directories are read, and no job runs to find them. The
    bucket column is dropped after pruning. A ``token_bucket`` column
    without a recorded count is left alone — its bucket count is unknown."""
    toks = _lowered(terms)
    if "token_bucket" in postings.columns:
        n = postings.schema["token_bucket"].metadata.get(BUCKETS_META)
        if n:
            values = [hash_bucket(F.lit(t), n).cast("string") for t in toks]
            postings = postings.where(F.col("token_bucket").isin(values)).drop("token_bucket")
    return postings.where(F.col("token").isin(toks))


def search_all(postings: DataFrame, terms: list[str]) -> DataFrame:
    """AND semantics (to_tsquery 'a & b'): doc_ids containing every term.
    The terms' rows (IN filter, bucket-pruned) grouped by doc_id, kept
    where the doc's set of hit terms is as large as the set of distinct
    lowercased terms. The set is at most that large, so collect_set
    costs one shuffle where count_distinct's rewrite costs two."""
    n = len(_lowered(terms))
    return (
        _prune_to_terms(postings, terms)
        .groupBy("doc_id")
        .agg(F.size(F.collect_set("token")).alias("n_hit"))
        .where(F.col("n_hit") == n)
        .select("doc_id")
    )


def search_any(postings: DataFrame, terms: list[str]) -> DataFrame:
    """OR semantics (to_tsquery 'a | b'): doc_ids containing any term."""
    return _prune_to_terms(postings, terms).select("doc_id").distinct()


def search_phrase(postings: DataFrame, phrase: list[str]) -> DataFrame:
    """Exact-phrase search (to_tsquery 'a <-> b'): consecutive positions.
    Offsets each term's positions back by its phrase index, then intersects —
    a doc matches iff some start position survives every intersection."""
    if not phrase:
        raise ValueError("empty phrase")
    def term_starts(i: int, term: str) -> DataFrame:
        return _prune_to_terms(postings, [term]).select(
            "doc_id",
            F.transform("positions", lambda p: p - F.lit(i)).alias(f"starts_{i}"),
        )

    acc = term_starts(0, phrase[0]).withColumnRenamed("starts_0", "starts")
    for i, term in enumerate(phrase[1:], start=1):
        acc = (
            acc.join(term_starts(i, term), "doc_id")
            .select("doc_id", F.array_intersect("starts", f"starts_{i}").alias("starts"))
            .where(F.size("starts") > 0)
        )
    return acc.select("doc_id").distinct()


def _topk_ranked(scored: DataFrame, k: int) -> DataFrame:
    """Scale-safe top-k with a dense 1..k rank column.

    ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject — each
    partition computes a partial top-k and only k rows ever move — instead
    of the unpartitioned-window shape (rank the WHOLE scored set in one
    partition, then filter) that is invisible at sf0.1 but a single-executor
    sort of the corpus on a common term at 100 TB.  The rank window then
    runs over at most k surviving rows, so its single partition is bounded
    by construction."""
    from pyspark.sql.window import Window

    top = scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)
    win = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(win).cast("long")).select(
        "doc_id", "score", "rank"
    )


def search_ranked(
    postings: DataFrame, terms: list[str], k: int = 10, stats: CorpusStats | None = None
) -> DataFrame:
    """TF-IDF ranked OR search over the inverted index: score(d) =
    Σ_t tf(t,d) · ln(N / df(t)), top-k by score.

    The FTS analog of PostgreSQL ts_rank on the reference's GIN index —
    everything computes off the posting table: tf = |positions|, df = one
    grouped count, N = distinct docs. The terms' posting and df rows are
    read through the same IN filter; the df rows broadcast, and the only
    shuffle is the final per-doc score combine.

    Pass ``stats`` (from the index build / sidecar) to skip the eager
    corpus-size job and the per-call df aggregation entirely."""
    toks = _lowered(terms)
    hits = _prune_to_terms(postings, toks).select(
        "token", "doc_id", F.size("positions").alias("tf")
    )
    if stats is None:
        stats = CorpusStats(postings, cache=False)
    n_docs = stats.n_docs
    df_counts = stats.df.where(F.col("token").isin(toks))
    scored = (
        hits.join(F.broadcast(df_counts), "token")
        .withColumn("w", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")))
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), 6).alias("score"))
    )
    return _topk_ranked(scored, k)


def search_and_not(postings: DataFrame, include: list[str], exclude: list[str]) -> DataFrame:
    """AND-NOT semantics (to_tsquery 'a & !b'): docs containing every
    include term and none of the exclude terms — the AND search, anti-joined
    with the exclude terms' postings."""
    excluded = _prune_to_terms(postings, exclude).select("doc_id")
    return search_all(postings, include).join(excluded, "doc_id", "left_anti")


def search_bm25(
    postings: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    stats: CorpusStats | None = None,
) -> DataFrame:
    """Okapi BM25 ranked search: idf(t) · tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)).

    All statistics (document length dl, average length avgdl, document
    frequency df, corpus size N) come from the posting table itself — two
    small aggregations, read through the same term IN filter as the hits;
    no text rescan. idf uses the standard ln((N - df + 0.5)/(df + 0.5) + 1)
    form. Each distinct lowercased term counts once.

    Pass ``stats`` to reuse build-time corpus statistics instead of
    re-aggregating them per call."""
    toks = _lowered(terms)
    if stats is None:
        stats = CorpusStats(postings, cache=False)
    doc_len = stats.doc_len
    n_docs, avgdl = stats.n_docs, stats.avgdl

    hits = _prune_to_terms(postings, toks).select(
        "token", "doc_id", F.size("positions").alias("tf")
    )
    df_counts = stats.df.where(F.col("token").isin(toks))
    idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_term = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(float(avgdl)))
    )
    scored = (
        hits.join(F.broadcast(df_counts), "token")
        .join(doc_len, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tf_term), 6).alias("score"))
    )
    return _topk_ranked(scored, k)


def search_proximity_ranked(
    postings: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    prox_weight: float = 1.0,
    stats: CorpusStats | None = None,
) -> DataFrame:
    """Proximity-boosted BM25 (PostgreSQL ts_rank_cd's cover-density idea):
    score = bm25 + prox_weight / min_cover_width, where min_cover_width is
    the width of the TIGHTEST position window containing every query term.
    Only documents containing ALL terms rank — a cover requires all terms,
    as in ts_rank_cd over an AND tsquery.

    The min-cover search is pure window functions — no UDF, no per-doc
    loop: explode the query terms' positions in matching docs, order by
    position, carry the last-seen position of each term with a running
    max; the candidate cover ending at each position spans
    [least(last_t...), pos], and the document's min width is the minimum
    over end positions. One window pass computes every term's carry.
    Cost scales with occurrences OF THE QUERY TERMS in MATCHING docs only
    (the term IN filter and the AND semi-join prune first), never with
    corpus size."""
    from functools import reduce
    from operator import and_

    from pyspark.sql.window import Window

    uniq = _lowered(terms)
    matched = search_all(postings, uniq)
    hits = _prune_to_terms(postings, uniq).join(matched, "doc_id", "left_semi")

    if stats is None:
        stats = CorpusStats(postings, cache=False)
    n_docs, avgdl = stats.n_docs, stats.avgdl
    tf_rows = hits.select("token", "doc_id", F.size("positions").alias("tf"))
    df_counts = stats.df.where(F.col("token").isin(uniq))
    idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_term = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(float(avgdl)))
    )
    bm25 = (
        tf_rows.join(F.broadcast(df_counts), "token")
        .join(stats.doc_len, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(idf * tf_term).alias("bm25"))
    )

    pos = hits.select("doc_id", "token", F.explode("positions").alias("pos"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lasts = [
        F.max(F.when(F.col("token") == t, F.col("pos"))).over(w).alias(f"last_{i}")
        for i, t in enumerate(uniq)
    ]
    carried = pos.select("doc_id", "pos", *lasts)
    all_seen = reduce(and_, [F.col(f"last_{i}").isNotNull() for i in range(len(uniq))])
    start = F.least(*[F.col(f"last_{i}") for i in range(len(uniq))])
    width = F.when(all_seen, F.col("pos") - start + 1)
    min_cover = carried.groupBy("doc_id").agg(F.min(width).alias("min_cover"))

    scored = bm25.join(min_cover, "doc_id").select(
        "doc_id",
        F.round(F.col("bm25") + F.lit(prox_weight) / F.col("min_cover"), 6).alias(
            "score"
        ),
    )
    return _topk_ranked(scored, k)


# --- tsquery-style string queries ------------------------------------------
# The reference's user-facing search language is PostgreSQL to_tsquery
# ('spark & (join <-> order | !window)', init_tables.py:56-57, README.md:7).
# This is a recursive-descent parser over that grammar composing the
# primitives above; precedence (tightest first): ! , <-> , & , | — same as
# tsquery (FOLLOWED BY binds tighter than AND).


class _TsLexer:
    def __init__(self, q: str):
        import re

        self.tokens = re.findall(r"<->|[()|&!]|[^\s()|&!<>]+", q)
        self.pos = 0

    def peek(self) -> str | None:
        return self.tokens[self.pos] if self.pos < len(self.tokens) else None

    def take(self) -> str:
        tok = self.peek()
        if tok is None:
            raise ValueError("unexpected end of tsquery")
        self.pos += 1
        return tok


def parse_tsquery(q: str):
    """'a & (b <-> c | !d)' → nested AST of ('term', t) / ('prefix', p) /
    ('not', x) / ('phrase', [..]) / ('and', [..]) / ('or', [..]).
    'word:*' is PG's prefix-match form (to_tsquery 'spar:*')."""
    lx = _TsLexer(q)

    def parse_or():
        parts = [parse_and()]
        while lx.peek() == "|":
            lx.take()
            parts.append(parse_and())
        return parts[0] if len(parts) == 1 else ("or", parts)

    def parse_and():
        parts = [parse_phrase()]
        while lx.peek() == "&":
            lx.take()
            parts.append(parse_phrase())
        return parts[0] if len(parts) == 1 else ("and", parts)

    def parse_phrase():
        parts = [parse_unary()]
        while lx.peek() == "<->":
            lx.take()
            parts.append(parse_unary())
        if len(parts) == 1:
            return parts[0]
        for p in parts:
            if p[0] != "term":
                raise ValueError("<-> (FOLLOWED BY) supports plain terms only")
        return ("phrase", [p[1] for p in parts])

    def parse_unary():
        tok = lx.peek()
        if tok == "!":
            lx.take()
            return ("not", parse_unary())
        if tok == "(":
            lx.take()
            inner = parse_or()
            if lx.take() != ")":
                raise ValueError("unbalanced parentheses in tsquery")
            return inner
        if tok in (")", "|", "&", None):
            raise ValueError(f"unexpected token {tok!r} in tsquery")
        word = lx.take().lower()
        if word.endswith(":*"):
            if len(word) == 2:
                raise ValueError("empty prefix in tsquery")
            return ("prefix", word[:-2])
        return ("term", word)

    ast = parse_or()
    if lx.peek() is not None:
        raise ValueError(f"trailing tokens in tsquery at {lx.peek()!r}")
    return ast


def search_query(postings: DataFrame, q: str) -> DataFrame:
    """Evaluate a tsquery-style string against the inverted index.

    Terms become doc_id frames off the posting table (each read through
    its IN filter and bucket pruning); AND = semi join, OR = union. A NOT
    under an AND is an anti join against its positive siblings' result, so
    'a & !b' reads only a's and b's rows; only a NOT with no positive
    sibling ('!b', 'a | !b') anti-joins against the corpus doc set, which
    scans every posting. Every intermediate is a narrow (doc_id) frame that
    may repeat ids — a semi or anti join's right side never needs to be
    distinct — and one distinct at the end makes the result a set. So
    composition cost is set operations on ids, never a text rescan."""
    ast = parse_tsquery(q)

    def ev(node) -> DataFrame:
        kind = node[0]
        if kind == "term":
            return _prune_to_terms(postings, [node[1]]).select("doc_id")
        if kind == "prefix":
            # PG 'word:*': scans every bucket (hash destroys token order)
            return postings.where(F.col("token").startswith(node[1])).select("doc_id")
        if kind == "phrase":
            return search_phrase(postings, node[1])
        if kind == "not":
            universe = postings.select("doc_id")
            return universe.join(ev(node[1]), "doc_id", "left_anti")
        if kind == "and":
            pos = [p for p in node[1] if p[0] != "not"]
            neg = [p[1] for p in node[1] if p[0] == "not"]
            if not pos:
                pos, neg = [("not", neg[0])], neg[1:]
            acc = ev(pos[0])
            for part in pos[1:]:
                acc = acc.join(ev(part), "doc_id", "left_semi")
            for part in neg:
                acc = acc.join(ev(part), "doc_id", "left_anti")
            return acc
        if kind == "or":
            acc = ev(node[1][0])
            for part in node[1][1:]:
                acc = acc.unionByName(ev(part))
            return acc
        raise ValueError(f"unknown node {kind}")

    return ev(ast).distinct()


def tfidf_cosine_pairs(
    postings: DataFrame,
    docs_meta: DataFrame | None = None,
    block_col: str | None = None,
    threshold: float = 0.1,
    stats: CorpusStats | None = None,
) -> DataFrame:
    """Sparse TF-IDF document-vector cosine similarity, computed entirely
    off the inverted index — the text-side twin of the dense-embedding
    near-dup operator, and the classic scalable formulation: the posting
    self-join on token only ever pairs documents that SHARE a term, so the
    pair space is driven by co-occurrence, not |corpus|².

    w(t,d) = tf·ln(N/df); cos(a,b) = Σ_t w(t,a)w(t,b) / (‖a‖‖b‖).
    ``docs_meta``(doc_id, block) + ``block_col`` optionally bound candidate
    generation (e.g. by source) exactly like jaccard_pairs. Returns
    (id_a, id_b, cosine_sim) with id_a < id_b, sim >= threshold."""
    if stats is None:
        stats = CorpusStats(postings, cache=False)
    n_docs = stats.n_docs
    tf = postings.select("token", "doc_id", F.size("positions").alias("tf"))
    df_c = stats.df
    w = tf.join(df_c, "token").select(
        "token",
        "doc_id",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("w"),
    )
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    if docs_meta is not None and block_col is not None:
        w = w.join(docs_meta.select("doc_id", block_col), "doc_id")
        join_keys = ["token", block_col]
    else:
        join_keys = ["token"]
    a = w.select(
        F.col("doc_id").alias("id_a"), F.col("w").alias("wa"), *join_keys[0:1], *join_keys[1:]
    )
    b = w.select(
        F.col("doc_id").alias("id_b"), F.col("w").alias("wb"), *join_keys[0:1], *join_keys[1:]
    )
    dots = (
        a.join(b, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("norm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("norm").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# pg_trgm analog: trigram sets + fuzzy string matching
#
# The reference's warehouse is PostgreSQL, where fuzzy name matching is the
# pg_trgm extension (`similarity(a, b)`, `a % b`, GIN trigram index).
# Same semantics here: lowercase, split into alnum words, pad each word
# with two leading and one trailing space, take the DISTINCT 3-grams;
# similarity is Jaccard over the two trigram sets.  The GIN-index query
# strategy becomes a posting-list equi-join: explode trigrams, join on the
# trigram key (optionally dropping stop-trigrams above a document
# frequency cutoff, like the index's most common keys), then score the
# exact Jaccard only on candidate pairs — sim > 0 requires a shared
# trigram, so without a cutoff candidate generation is exhaustive.
# ---------------------------------------------------------------------------


def trigrams_expr(col: str):
    """Column: pg_trgm-style DISTINCT trigram set of string column ``col``
    (lowercased, word-split on non-alnum, each word padded '  w ') — one
    JVM higher-order-function expression, zero Python."""
    return F.expr(
        f"""
        array_distinct(flatten(transform(
          filter(split(lower({col}), '[^a-z0-9]+'), w -> w != ''),
          w -> transform(sequence(1, length(concat('  ', w, ' ')) - 2),
                         i -> substring(concat('  ', w, ' '), i, 3)))))
        """
    )


def trigrams_sql(expr: str) -> str:
    """DuckDB twin of :func:`trigrams_expr` (identical padding and word
    split) so trigram sets compare exactly across engines."""
    return (
        f"list_distinct(flatten(list_transform("
        f"list_filter(string_split_regex(lower({expr}), '[^a-z0-9]+'), w -> w <> ''), "
        f"w -> list_transform(range(1, length(concat('  ', w, ' ')) - 1), "
        f"i -> substring(concat('  ', w, ' '), i, 3)))))"
    )


def trgm_similarity(tg_a, tg_b):
    """Column: pg_trgm ``similarity()`` — Jaccard over two trigram-set
    columns: |A∩B| / (|A| + |B| - |A∩B|)."""
    inter = F.size(F.array_intersect(tg_a, tg_b))
    return inter.cast("double") / (F.size(tg_a) + F.size(tg_b) - inter)


def trgm_match(
    names: DataFrame,
    name_col: str = "nm",
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Fuzzy self-match of a name dictionary: (name_a, name_b, sim) for
    every unordered pair with trigram similarity >= threshold.

    Candidates come from a posting-list self-join keyed by trigram (the
    GIN strategy), then the exact Jaccard is scored per candidate — so
    without ``max_df`` the result is EXACTLY the quadratic ground truth
    (sim > 0 implies a shared trigram) at posting-join cost.  ``max_df``
    drops stop-trigrams from candidate generation only (scores still use
    full sets): at dictionary scale this bounds the pair volume by
    sum(df^2) over surviving trigrams — the knob that keeps a 10^8-name
    dictionary feasible, at the cost of missing pairs whose shared
    trigrams are all stopped (which a threshold filter would usually
    discard anyway).

    100 TB shape: dictionaries are orders smaller than fact tables —
    dedupe names first, match the dictionary, broadcast the mapping back.
    """
    tg = names.select(F.col(name_col).alias("nm"), trigrams_expr(name_col).alias("tg"))
    posting = tg.select("nm", F.explode("tg").alias("g"))
    if max_df is not None:
        keep = (
            posting.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_df)
            .select("g")
        )
        posting = posting.join(keep, "g")
    a = posting.select(F.col("nm").alias("name_a"), "g")
    b = posting.select(F.col("nm").alias("name_b"), "g")
    cand = (
        a.join(b, "g")
        .where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    ta = tg.select(F.col("nm").alias("name_a"), F.col("tg").alias("tg_a"))
    tb = tg.select(F.col("nm").alias("name_b"), F.col("tg").alias("tg_b"))
    sim = trgm_similarity(F.col("tg_a"), F.col("tg_b"))
    return (
        cand.join(ta, "name_a")
        .join(tb, "name_b")
        .select("name_a", "name_b", sim.alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def crossencoder_rerank(
    pairs: DataFrame,
    query_col: str = "query_text",
    doc_col: str = "doc_text",
    scorer=None,
    score_col: str = "ce_score",
    rank_by: list[str] | None = None,
) -> DataFrame:
    """Second-stage reranking plumbing: score (query, document) text pairs
    with a batch scorer and append ``score_col`` — the stage a serving
    stack runs AFTER candidate retrieval (BM25/ANN/RRF), where a
    cross-encoder model reads both texts together.

    ``scorer`` is ``Callable[[pandas.Series, pandas.Series],
    pandas.Series]`` (query texts, doc texts → float scores), applied via
    ``mapInPandas`` so a real model sees whole Arrow batches — load the
    model once per iterator, score per chunk, never per row. The default
    scorer is a deterministic dependency-free stand-in (distinct-token
    overlap count, canonical [a-z0-9]+ tokenization) so the plumbing —
    schema widening, batching, executor-side scoring — is testable and
    oracle-checkable without model weights.

    Candidate sets are top-k-bounded per query, so this stage's input is
    small by construction; the expensive part at scale is the model, not
    the shuffle.
    """
    import pandas as pd  # noqa: F401 (annotation resolution inside closures)

    if scorer is None:

        def scorer(qs, ds):
            import re

            pat = re.compile(r"[a-z0-9]+")

            def overlap(q, d):
                return float(len(set(pat.findall(q.lower())) & set(pat.findall(d.lower()))))

            return pd.Series([overlap(q, d) for q, d in zip(qs, ds)])

    from pyspark.sql.types import DoubleType, StructField, StructType

    # build a FRESH StructType: StructType.add mutates in place, and
    # pairs.schema is the DataFrame's cached instance — mutating it
    # corrupts pairs.columns for every later use
    out_schema = StructType(
        list(pairs.schema.fields) + [StructField(score_col, DoubleType())]
    )

    def score_batches(batches):
        for pdf in batches:
            pdf[score_col] = scorer(pdf[query_col], pdf[doc_col])
            yield pdf

    return pairs.mapInPandas(score_batches, schema=out_schema)


def pseudo_relevance_expand(
    postings: DataFrame,
    terms: list[str],
    k_feedback: int = 10,
    k_terms: int = 10,
    stats: CorpusStats | None = None,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Robertson/Sparck Jones
    offer weights): run BM25, take the top ``k_feedback`` documents as
    pseudo-relevant, and rank every term they contain by
    OW(t) = r · ln[ ((r+0.5)·(N−n−R+r+0.5)) / ((n−r+0.5)·(R−r+0.5)) ]
    with r = feedback docs containing t, n = df(t), R = |feedback|,
    N = |corpus| — the classic second-pass retrieval step ("searchers
    for these words also needed THESE words") and, pipeline-side, the
    topic-vocabulary harvester a contamination screen seeds from a few
    known-bad documents.

    Scale shape: the feedback set is ≤ k_feedback doc ids (broadcast);
    candidate stats come from ONE semi-join of the posting table against
    it plus the already-memoized df table — no text rescan, no corpus
    sort; the final ranking is a top-k over candidate terms scored by
    exact integer (r, n, R, N) arithmetic (each OW rounds to 1e-9
    integer units, so ordering is integer-exact cross-engine). Returns
    (token, r_feedback, df, offer_weight, rank), rank 1-based."""
    if stats is None:
        stats = CorpusStats(postings, cache=False)
    fb = F.broadcast(
        search_bm25(postings, terms, k=k_feedback, stats=stats).select("doc_id")
    )
    n_fb = fb.count()
    n_docs = stats.n_docs
    seeds = sorted({t.lower() for t in terms})
    cand = (
        postings.join(fb, "doc_id")
        .where(~F.col("token").isin(seeds))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    g = cand.join(stats.df.withColumnRenamed("df", "n"), "token").where(
        (F.lit(n_docs) - F.col("n") - F.lit(n_fb) + F.col("r")) >= 0
    )
    ow = F.col("r") * F.log(
        (
            (F.col("r") + 0.5)
            * (F.lit(float(n_docs)) - F.col("n") - F.lit(float(n_fb)) + F.col("r") + 0.5)
        )
        / ((F.col("n") - F.col("r") + 0.5) * (F.lit(float(n_fb)) - F.col("r") + 0.5))
    )
    scored = g.select(
        "token",
        F.col("r").alias("r_feedback"),
        F.col("n").cast("long").alias("df"),
        F.round(ow * F.lit(1e9)).cast("long").alias("_units"),
    )
    from pyspark.sql.window import Window

    from sec_dl_spark.plans.util import rz6

    top = scored.orderBy(F.col("_units").desc(), "token").limit(k_terms)
    w = Window.orderBy(F.col("_units").desc(), "token")

    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "token",
            "r_feedback",
            "df",
            rz6(F.col("_units").cast("double") / F.lit(1e9)).alias("offer_weight"),
            "rank",
        )
        .orderBy("rank")
    )
