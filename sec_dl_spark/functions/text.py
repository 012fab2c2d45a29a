"""Text-cleaning functions — the reference's F1–F7 chain (SURVEY.md §2.7)
re-expressed as JVM-side column expressions wherever possible.

Reference behavior being reproduced (all in
/root/reference/sec_dl/utils/scrape_all_filings.py):
- lowercase the whole filing (:157)
- strip HTML/XML tags `<.+?>` (:42-48)
- entity/control-char replaces (:105-110)
- collapse whitespace (:51-54)
- drop words >= 20 chars — base64/URI debris (:57-65)
- NFKD unicode normalization (:99)
- drop embedded binary-attachment segments by <FILENAME> extension (:83-114)

Everything except NFKD and the SGML segmentation is a built-in expression
(whole-stage codegen, no Python in the hot path). Segmentation and NFKD
share one mapInPandas stage, as in the reference's remove_embedded_files,
which normalizes every segment it keeps: bs4/lxml when available and a
deterministic regex fallback otherwise.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Binary attachment extensions the reference drops
# (scrape_all_filings.py:91-92).
BINARY_EXT_RE = r"(\.pdf|\.gif|\.jpg|\.zip|\.rar|\.jpeg|\.bmp|\.xlsx|\.xls|\.css|\.js)\s*$"


def strip_tags(col: Column) -> Column:
    """Remove `<.+?>` tag runs, replacing with a space (F2)."""
    return F.regexp_replace(col, r"<[^>]*>", " ")


def replace_entities(col: Column) -> Column:
    """Literal replaces the reference applies (F6): newlines/tabs,
    Windows-1252 smart quotes, HTML nbsp entities → space/quote."""
    col = F.regexp_replace(col, r"&#160;|&nbsp;", " ")
    col = F.regexp_replace(col, "[“”]", '"')
    return F.regexp_replace(col, r"[\n\t\r]", " ")


def collapse_whitespace(col: Column) -> Column:
    """`\\s+` → single space, trimmed (F3)."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def drop_long_tokens(col: Column, max_len: int = 20) -> Column:
    """Drop whitespace-delimited words >= max_len chars (F4) using
    higher-order functions — no UDF."""
    words = F.split(col, " ")
    kept = F.filter(words, lambda w: F.length(w) < max_len)
    return F.array_join(kept, " ")


def clean_filing_text(col: Column) -> Column:
    """The full builtin-expression cleaning chain F1→F6→F2→F3→F4 in the
    reference's application order (lowercase first, scrape_all_filings.py:157,
    then remove_embedded_files → html_to_text → whitespace → long words)."""
    return drop_long_tokens(collapse_whitespace(strip_tags(replace_entities(F.lower(col)))))


def tokenize(col: Column) -> Column:
    """Canonical tokenizer shared with the inverted index and all text
    analytics: non-empty runs of [a-z0-9] over the lowercased text.
    This is *capability* parity with PG to_tsvector (SURVEY.md §7 —
    stemming parity intentionally lives only in the PG serving mirror)."""
    return F.filter(F.split(F.lower(col), "[^a-z0-9]+"), lambda x: x != "")


def _strip_segments_regex(raw: str) -> str:
    """Deterministic fallback for the reference's bs4 segmentation
    (scrape_all_filings.py:83-114): drop <DOCUMENT> blocks whose <FILENAME>
    has a binary extension, return the rest with tags removed."""
    import re

    if raw is None:
        return None
    ext = re.compile(BINARY_EXT_RE.replace(r"\s*$", r"\b"), re.IGNORECASE)
    out = []
    # Split into <DOCUMENT>…</DOCUMENT> segments; keep prose outside segments.
    parts = re.split(r"(?is)(<document>.*?</document>)", raw)
    for part in parts:
        m = re.search(r"(?is)<filename>([^<\n]+)", part)
        if m and ext.search(m.group(1).strip()):
            continue
        out.append(re.sub(r"(?s)<[^>]*>", " ", part))
    return " ".join(out)


def strip_embedded_files(df: DataFrame, text_col: str = "text") -> DataFrame:
    """mapInPandas stage dropping embedded binary attachments (F7), then
    NFKD-normalizing what is kept (F5, scrape_all_filings.py:99) — the one
    irreducibly-Python operator, so the two steps share one Python
    crossing. Uses bs4+lxml when importable (library parity with the
    reference), else the regex fallback. Arrow-batched; schema
    preserved."""
    import unicodedata

    schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            from bs4 import BeautifulSoup  # noqa: F401

            import re

            ext = re.compile(BINARY_EXT_RE.replace(r"\s*$", r"\b"), re.IGNORECASE)

            def one(raw) -> str:
                if raw is None:
                    return None
                # from_encoding='latin-1' mirrors the reference's parser
                # invocation (scrape_all_filings.py:85); bs4 only consults
                # it for bytes input — on already-decoded str it would warn
                # and ignore, so pass it exactly when it is meaningful.
                if isinstance(raw, bytes):
                    soup = BeautifulSoup(raw, features="lxml", from_encoding="latin-1")
                else:
                    soup = BeautifulSoup(raw, features="lxml")
                for fn in soup.find_all("filename"):
                    if ext.search(fn.get_text(strip=True)):
                        parent = fn.find_parent("document")
                        if parent is not None:
                            parent.decompose()
                return soup.get_text(separator=" ")

        except ImportError:
            one = _strip_segments_regex

        def kept(raw) -> str:
            text = one(raw)
            return unicodedata.normalize("NFKD", text) if text is not None else None

        for pdf in batches:
            pdf[text_col] = pdf[text_col].map(kept)
            yield pdf

    return df.mapInPandas(run, schema=schema)
