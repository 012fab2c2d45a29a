"""Edge-case unit tests from FIXTURES.md §A: the idx separator row,
>=20-char token debris, binary attachment extensions, HTML entities,
NULL text, smart quotes."""

from pyspark.sql import functions as F

from sec_dl_spark.functions.text import (
    clean_filing_text,
    drop_long_tokens,
    strip_embedded_files,
    tokenize,
)


def _clean_one(spark, raw: str) -> str:
    df = spark.createDataFrame([(raw,)], ["text"])
    return df.select(clean_filing_text(F.col("text")).alias("c")).first()["c"]


def test_parse_chain_golden_nfkd_and_latin1(spark):
    """Golden end-to-end parse-chain fidelity (reference
    remove_embedded_files, scrape_all_filings.py:83-114): a filing with a
    ligature (NFKD decomposes ﬁ → fi, :99), raw cp1252 smart-quote bytes
    (\\x93/\\x94 → '\"', :105-106), an &nbsp; entity, a binary attachment,
    and base64-ish debris — all handled in one pass of parse_fetched."""
    from sec_dl_spark.etl.scrape import parse_fetched

    raw = (
        "<SEC-DOCUMENT>\n"
        "<DOCUMENT>\n<TYPE>10-K\n<FILENAME>main.htm\n<TEXT>\n"
        "<html><body>Annual ﬁling report. "
        "Growth was \x93strong\x94 this&nbsp;year. "
        "QUJDREVGR0hJSktMTU5PUFFSU1RVVldYWVphYmNkZWZnaGlqa2xtbg==</body></html>\n"
        "</TEXT>\n</DOCUMENT>\n"
        "<DOCUMENT>\n<TYPE>GRAPHIC\n<FILENAME>img.jpg\n<TEXT>\n"
        "BINARYPAYLOADSHOULDVANISH\n</TEXT>\n</DOCUMENT>\n"
        "</SEC-DOCUMENT>"
    )
    fetched = spark.createDataFrame([(1, "p", raw)], "filing_id long, path string, raw string")
    out = parse_fetched(fetched).first()["text"]
    assert "filing" in out  # ligature ﬁ NFKD-decomposed before cleaning
    assert '"strong"' in out  # cp1252 bytes → ASCII quote
    assert "this year" in out  # entity → space
    assert "binarypayloadshouldvanish" not in out  # attachment dropped
    assert "qujdrevgr" not in out.lower()  # >=20-char debris dropped


def test_drop_long_tokens(spark):
    raw = "short " + "x" * 25 + " ok " + "y" * 19
    df = spark.createDataFrame([(raw,)], ["text"])
    out = df.select(drop_long_tokens(F.col("text")).alias("c")).first()["c"]
    assert out == "short ok " + "y" * 19


def test_clean_chain_tags_entities_whitespace(spark):
    raw = "Hello&nbsp;<b>World</b>\n\tFoo&#160;Bar “quoted”"
    assert _clean_one(spark, raw) == 'hello world foo bar "quoted"'


def test_clean_chain_base64_debris(spark):
    raw = "report text QWxhZGRpbjpvcGVuIHNlc2FtZUFsYWRkaW46b3BlbiBzZXNhbWU= end"
    assert _clean_one(spark, raw) == "report text end"


def test_clean_chain_null(spark):
    df = spark.createDataFrame([(None,)], "text string")
    assert df.select(clean_filing_text(F.col("text")).alias("c")).first()["c"] is None


def test_tokenize_punct_and_case(spark):
    df = spark.createDataFrame([("The QUICK-brown fox, 42 times!",)], ["text"])
    toks = df.select(tokenize(F.col("text")).alias("t")).first()["t"]
    assert toks == ["the", "quick", "brown", "fox", "42", "times"]


def test_nfkd_normalization(spark):
    # U+FB01 LATIN SMALL LIGATURE FI decomposes to 'f'+'i' under NFKD,
    # applied to the text the segment strip keeps
    df = spark.createDataFrame([("ﬁling",)], ["text"])
    out = strip_embedded_files(df).first()["text"]
    assert out == "filing"


def test_strip_embedded_files_drops_binary_segments(spark):
    raw = (
        "<SEC-DOCUMENT>"
        "<DOCUMENT><TYPE>10-K<FILENAME>main.htm<TEXT>keep this prose</TEXT></DOCUMENT>"
        "<DOCUMENT><TYPE>GRAPHIC<FILENAME>chart.jpg<TEXT>BINARYJUNK</TEXT></DOCUMENT>"
        "<DOCUMENT><TYPE>EX-101<FILENAME>style.css<TEXT>body{}</TEXT></DOCUMENT>"
        "</SEC-DOCUMENT>"
    )
    df = spark.createDataFrame([(1, raw)], ["filing_id", "text"])
    out = strip_embedded_files(df).first()["text"]
    assert "keep this prose" in out
    assert "BINARYJUNK" not in out
    assert "body{}" not in out


def test_strip_embedded_files_keeps_all_when_no_binaries(spark):
    raw = "<DOCUMENT><FILENAME>a.htm<TEXT>alpha</TEXT></DOCUMENT>"
    df = spark.createDataFrame([(1, raw)], ["filing_id", "text"])
    out = strip_embedded_files(df).first()["text"]
    assert "alpha" in out


def test_pii_email_pattern_case_insensitive(spark):
    """Mixed-case emails must redact FULLY — a lowercase-only pattern
    partially matches 'John@example.com' as 'ohn@example.com', leaving the
    identity-revealing prefix in place."""
    from pyspark.sql import functions as F

    from sec_dl_spark.plans.text import PII_EMAIL

    df = spark.createDataFrame(
        [(1, "reach John.Doe@Example.COM or jane@test.org today")], "id long, t string"
    )
    out = df.select(
        F.regexp_replace("t", PII_EMAIL, "<EMAIL>").alias("red")
    ).collect()[0]["red"]
    assert out == "reach <EMAIL> or <EMAIL> today"


def test_bpe_train_and_encode_roundtrip(spark):
    """Corpus-trained BPE: deterministic merges (frequency then
    lexicographic tie-break), greedy encode reconstructs the original
    words by concatenation, and frequent words collapse toward single
    tokens as merges accumulate."""
    from sec_dl_spark.functions.bpe import (
        EOW,
        _segment_word,
        bpe_encode_udf,
        bpe_train,
    )

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")

    merges = bpe_train(df, n_merges=30)
    # most frequent pair is (e,s): 9 occurrences (newest×6 + widest×3),
    # tied with (s,t) and (t,</w>) — lexicographic tie-break picks (e,s)
    assert merges[0] == ("e", "s")
    assert merges == bpe_train(df, n_merges=30)  # deterministic

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    # with 30 merges this tiny vocab fully collapses
    assert _segment_word("newest", ranks) == ["newest" + EOW]
    # unseen word still segments (into known subwords/chars) and round-trips
    for w in ("newest", "lowest", "zq"):
        seg = _segment_word(w, ranks)
        assert "".join(seg).replace(EOW, "") == w

    toks = df.select(bpe_encode_udf(merges)(F.col("text")).alias("t")).first()["t"]
    assert "".join(toks).replace(EOW, "") == text.replace(" ", "")
    # 16 words → exactly 16 end-of-word markers survive encoding
    assert sum(1 for t in toks if t.endswith(EOW)) == 16
