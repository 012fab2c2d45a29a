"""Python user-defined TABLE function surface (SURVEY.md §2.10).

The catalog already exercises UDTF-*style* expansion through codegen
generators (``doc_chunks``' posexplode-of-slices); this module covers the
real ``@udtf`` API Spark 4 added — a Python class whose ``eval`` yields
zero-or-more rows per input row, invoked via ``LATERAL`` in SQL. The UDTF
path is the escape hatch for ragged, stateful-per-row expansion a
``transform``/``posexplode`` expression can't write.

The shipped example, ``token_spans_udtf``, is deliberately
oracle-checkable: the catalog query ``doc_token_spans_udtf`` runs it
through ``LATERAL`` and an SQL oracle recomputes the same token offsets,
so the Arrow/serialization plumbing of the UDTF path itself is what the
oracle verifies.

Row-at-a-time caution still applies at 100 TB: a UDTF invokes Python per
input row (Arrow-optimized batching moves data efficiently but ``eval``
is still interpreted). Prefer generator expressions when the expansion is
expressible; use UDTFs when it genuinely is not.
"""

from __future__ import annotations


def token_spans_udtf():
    """Return the ``@udtf`` class emitting (tok_idx, token, start_char,
    end_char) per token — the tokenizer-with-offsets every annotation/NER/
    highlighting pipeline needs. Ragged one-to-many expansion with per-row
    positional state (the running character cursor), i.e. exactly the shape
    the UDTF API exists for. Token rule matches functions/text.py:tokenize
    ([a-z0-9]+ runs over the lowercased text); offsets index the lowercased
    text, end exclusive.

    Built lazily so importing this module never needs an active Spark
    session (the decorator parses the DDL return type eagerly)."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="tok_idx: bigint, token: string, start_char: bigint, end_char: bigint")
    class TokenSpans:
        def eval(self, text: str):
            if text is None:
                return
            for i, m in enumerate(re.finditer(r"[a-z0-9]+", text.lower())):
                yield i, m.group(), m.start(), m.end()

    return TokenSpans
