from sec_dl_spark.functions.text import (  # noqa: F401
    clean_filing_text,
    drop_long_tokens,
    strip_embedded_files,
    strip_tags,
    tokenize,
)
