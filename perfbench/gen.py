"""Seeded input generators. Every function here is a pure function of its
seed: the same seed gives byte-identical fixture parquet, idx files, FTS
query lists and query_suite orders.

The star-schema fixtures mirror the shape of the engine's TPC-H-like test
tables (FIXTURES.md §B: same column names, arrow types and value domains),
generated here so the benchmark reads nothing outside its checkout.
"""

from __future__ import annotations

import hashlib
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- star-schema fixtures ---------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "en", "de", "es", "fr", "zh")
# the fixture corpus vocabulary: a small closed word set, so every term is
# common and the text plans see dense postings
BASE_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400  # 1995-01-01 UTC, seconds
_EPOCH_2024 = 1_704_067_200  # 2024-01-01 UTC, seconds


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table): adding a table never
    shifts another table's values."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(rng, start_s, n_days, n):
    return (start_s * 1_000_000 + rng.integers(0, n_days, n) * _DAY_US).astype("datetime64[us]")


def _docs_text(rng, n: int, vocab, probs=None) -> list[str]:
    lens = rng.integers(10, 101, n)
    idx = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    words = np.asarray(vocab, dtype=object)[idx]
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[at : at + k]))
        at += k
    return out


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale ``sf`` (1.0 ≈ 6M lineitem rows)."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_vec = max(50, int(15_000 * sf)), 500, 500
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = _rng(seed, "customer")
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.asarray(SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )
    r = _rng(seed, "supplier")
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )
    r = _rng(seed, "part")
    keys = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.asarray(PART_TYPES)[r.integers(0, 6, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
        }
    )
    r = _rng(seed, "orders")
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.asarray(("F", "O", "P"))[r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days_us(r, _EPOCH_1995, 2404, n_ord),
            "o_orderpriority": np.asarray(PRIORITIES)[r.integers(0, 5, n_ord)],
        }
    )
    r = _rng(seed, "lineitem")
    flags = r.integers(0, 6, n_li)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_li),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.asarray(("A", "N", "R"))[flags % 3],
            "l_linestatus": np.asarray(("F", "O"))[flags // 3],
            "l_shipdate": _days_us(r, _EPOCH_1995 + 86_400, 2499, n_li),
        }
    )
    r = _rng(seed, "events")
    ts_us = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev)) + _EPOCH_2024 * 1_000_000
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": ts_us.astype("datetime64[us]"),
            "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.asarray(EVENT_TYPES)[r.integers(0, 5, n_ev)],
            "value": np.round(np.minimum(r.exponential(100.0, n_ev), 560.0), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )
    r = _rng(seed, "documents")
    texts = _docs_text(r, n_docs, BASE_WORDS)
    # near-duplicates: ~5% of documents repeat an earlier one plus a marker
    for i in np.flatnonzero(r.random(n_docs) < 0.05):
        if i:
            texts[i] = texts[int(r.integers(0, i))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.asarray(LANGS)[r.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_vec)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + r.normal(0.0, 0.8, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_fixtures(seed: int, sf: float, out_dir: str) -> None:
    for name, table in fixture_tables(seed, sf).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")


# --- query_suite ---------------------------------------------------------------


def shuffled(names, seed: int, pass_no: int) -> list[str]:
    """The order of one query_suite pass."""
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


# --- full-text search ---------------------------------------------------------

_SYLLABLES = "ka lo mi nu pe ra si to vu ze ba de fi go hu ja ke li mo ne".split()
FTS_VOCAB = 2000
FTS_DOCS = 5000


def fts_vocab() -> list[str]:
    """Fixed vocabulary: the base words first, then 3-syllable words."""
    extra = [
        a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES
    ]
    return BASE_WORDS + extra[: FTS_VOCAB - len(BASE_WORDS)]


def fts_documents(seed: int, n: int = FTS_DOCS) -> list[str]:
    """A Zipf-distributed corpus, so document frequency spans rare to
    common terms (selectivity varies per query)."""
    vocab = fts_vocab()
    w = 1.0 / np.arange(1, len(vocab) + 1)
    order = _rng(seed, "fts-rank").permutation(len(vocab))
    return _docs_text(_rng(seed, "fts-docs"), n, [vocab[i] for i in order], w / w.sum())


FTS_SHAPES = ("and", "or", "phrase", "tsquery", "bm25", "bm25_deep")


def tokens(text: str) -> list[str]:
    """The engine's tokenizer (functions.text.tokenize) in pure Python."""
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def fts_queries(seed: int, docs: list[str]) -> list[tuple[str, object]]:
    """One query of each FTS shape, in ``FTS_SHAPES`` order. Terms are
    drawn near three document-frequency targets of ``docs`` (rare, mid,
    common), so selectivity varies within a query but every seed poses the
    same mix; the phrase is a bigram that occurs."""
    rng = random.Random(f"{seed}:fts-queries")
    df: dict[str, int] = {}
    for d in docs:
        for t in set(tokens(d)):
            df[t] = df.get(t, 0) + 1
    n = len(docs)
    pools = {
        band: sorted(df, key=lambda t: (abs(df[t] - share * n), t))[:8]
        for band, share in (("rare", 0.003), ("mid", 0.03), ("common", 0.2))
    }

    def term(band):
        return rng.choice(pools[band])

    words = tokens(docs[rng.randrange(n)])
    i = rng.randrange(len(words) - 1)
    return [
        ("and", [term("common"), term(rng.choice(("mid", "rare")))]),
        ("or", [term("rare"), term("mid"), term("rare")]),
        ("phrase", words[i : i + 2]),
        ("tsquery", f"{term('common')} & ({term('mid')} | {term('rare')}) & !{term('mid')}"),
        ("bm25", [term("mid"), term("rare"), term("common")]),
        ("bm25_deep", [term("common"), term("mid")]),
    ]


def eval_boolean(shape: str, q, doc_tokens: dict[int, list[str]]) -> set[int]:
    """Reference evaluation of the boolean and phrase shapes."""
    sets = {d: set(ts) for d, ts in doc_tokens.items()}
    if shape == "and":
        return {d for d, s in sets.items() if all(t in s for t in q)}
    if shape == "or":
        return {d for d, s in sets.items() if any(t in s for t in q)}
    if shape == "phrase":
        k = len(q)
        return {
            d
            for d, ts in doc_tokens.items()
            if any(ts[i : i + k] == list(q) for i in range(len(ts) - k + 1))
        }
    if shape == "tsquery":
        # the generated grammar only: a & (b | c) & !d
        a, b, c, d = re.findall(r"[a-z0-9]+", q)
        return {
            i for i, s in sets.items() if a in s and (b in s or c in s) and d not in s
        }
    raise ValueError(shape)


# --- edgar_ingest -------------------------------------------------------------

KEPT_TYPES = ("10-K", "10-Q", "8-K", "10-K/A", "10-Q/A", "S-1", "424B3", "DEF 14A", "SC 13G/A", "20-F")
DROPPED_TYPES = ("4", "3", "13F-HR", "D", "497K", "8-K/A")


def companies(seed: int, n: int = 400) -> list[tuple]:
    """(permno, ticker, cik, business_name); ~3% have no CIK."""
    rng = random.Random(f"{seed}:companies")
    out = []
    for i in range(n):
        cik = None if rng.random() < 0.03 else 1000 + i * 7
        suffix = rng.choice(("INC", "CORP", "LLC", "HOLDINGS, INC.", '"X" TRUST'))
        name = f"CO {i} {suffix}"
        out.append((10_000 + i, f"T{i:04d}", cik, name))
    return out


def filing_types() -> list[tuple]:
    """(type_id, type, keep)."""
    rows = [(i + 1, t, 1) for i, t in enumerate(KEPT_TYPES)]
    return rows + [(len(rows) + i + 1, t, 0) for i, t in enumerate(DROPPED_TYPES)]


IDX_PREAMBLE = (
    "Description:           Master Index of EDGAR Dissemination Feed\n"
    "Last Data Received:    {last}\n"
    "Comments:              webmaster@sec.gov\n"
    "Anonymous FTP:         ftp://ftp.sec.gov/edgar/\n"
    "Cloud HTTP:            https://www.sec.gov/Archives/\n"
    "\n\n\n"
    "CIK|Company Name|Form Type|Date Filed|Filename\n"
    + "-" * 80
    + "\n"
)


def master_idx(seed: int, year: int, qtr: int, cos: list[tuple], n_rows: int) -> str:
    """One quarter's master.idx text. Exactly 10% of rows name a CIK
    outside the company universe and 20% a dropped form type, so every
    wave keeps the same number of filings."""
    rng = random.Random(f"{seed}:idx:{year}:{qtr}")
    known = [c for c in cos if c[2] is not None]
    kinds = ["unlisted"] * (n_rows // 10) + ["dropped"] * (n_rows // 5)
    kinds += ["kept"] * (n_rows - len(kinds))
    rng.shuffle(kinds)
    month = ["March", "June", "September", "December"][qtr - 1]
    lines = [IDX_PREAMBLE.format(last=f"{month} 30, {year}")]
    for k, kind in enumerate(kinds):
        if kind == "unlisted":
            cik, name = 900_000 + rng.randrange(10_000), "UNLISTED CO"
        else:
            _, _, cik, name = rng.choice(known)
        form = rng.choice(DROPPED_TYPES if kind == "dropped" else KEPT_TYPES)
        day = f"{year}-{3 * (qtr - 1) + 1 + rng.randrange(3):02d}-{1 + rng.randrange(28):02d}"
        path = f"edgar/data/{cik}/{cik:010d}-{year % 100:02d}-{qtr}{k:05d}.txt"
        lines.append(f"{cik}|{name}|{form}|{day}|{path}\n")
    return "".join(lines)


def wave_token(path: str) -> str:
    """Search token every filing of one quarter carries: the quarter
    encoded in its accession number (``…-YY-Q#####.txt``)."""
    _, yy, rest = path.rsplit("/", 1)[1].split("-")
    return f"wave{yy}{rest[0]}"


class SgmlFetcher:
    """Deterministic EDGAR fetch: a corpus-like body (chosen from the path's
    hash) wrapped in SGML, plus a binary attachment the parse chain must
    drop. Fetch tasks import this class, so the checkout root must be on
    the workers' PYTHONPATH (run.py puts it there)."""

    # short words, so only segment stripping (not the long-token filter)
    # can remove them
    BLOB = " ".join(["BINARYBLOB"] * 8)

    def __init__(self, seed: int):
        self.words = tuple(fts_vocab()[:400])
        self.seed = seed

    def __call__(self, path: str) -> str:
        h = hashlib.md5(f"{self.seed}:{path}".encode()).digest()
        rng = random.Random(h)
        body = " ".join(rng.choice(self.words) for _ in range(40 + h[0] % 60))
        return (
            "<SEC-DOCUMENT>\n<DOCUMENT>\n<TYPE>10-K\n<FILENAME>main.htm\n<TEXT>\n"
            f"<html><body>{wave_token(path)} {body}&nbsp;end.</body></html>\n"
            "</TEXT>\n</DOCUMENT>\n"
            "<DOCUMENT>\n<TYPE>GRAPHIC\n<FILENAME>chart.jpg\n<TEXT>\n"
            f"{self.BLOB}\n</TEXT>\n</DOCUMENT>\n</SEC-DOCUMENT>\n"
        )
