"""Data-layout operators: Z-order clustering keys and small-file compaction.

At 100 TB the dominant cost of a scan is how much of the lake it can SKIP:
parquet row-group min/max pruning only works when the values of the
filtered columns are clustered within files. A linear sort clusters one
column perfectly and every other column not at all; interleaving the bits
of several columns (Morton / Z-order) bounds every file in a
hyper-rectangle over ALL of them, so a selective filter on ANY subset of
the layout columns prunes files. This is the standard lakehouse layout
move (Delta OPTIMIZE ZORDER BY, Iceberg sort orders) expressed with plain
DataFrame primitives: one projection computes the key, one range
repartition plus a within-partition sort lays the data out — no shuffle
beyond the one the re-layout inherently needs.

Small-file compaction is the companion maintenance op: streaming sinks and
fine-grained ingests leave thousands of KB-sized files whose per-file open
and footer-read costs dominate scans and whose row groups are too small to
prune. ``compact_small_files`` rewrites a parquet directory into
target-sized files (size-derived partition count, not a guessed constant).

Reference parity: the reference engine orders its tables by primary key
only and relies on PostgreSQL for storage (the table DDL at
sec_dl/utils/init_tables.py:31-52);
the layout operators here are the additional 100 TB design-rule surface
SURVEY.md §2.11 calls for.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sec_dl_spark.util import hadoop_delete

__all__ = [
    "zorder_key",
    "zorder_sql",
    "zorder_layout",
    "compact_small_files",
    "file_layout_stats",
]


def zorder_key(cols: list[str | Column], bits: int = 16) -> Column:
    """Morton (Z-order) interleave of the low ``bits`` bits of each column.

    Pure bit arithmetic on longs — one whole-stage-codegen projection, no
    UDF, no shuffle. Column i contributes bit b of its value to bit
    ``b * n_cols + i`` of the key, so equal prefixes of the key bound every
    column simultaneously. Negative or wider-than-``bits`` values are
    masked into range first (callers layout-normalize real columns — e.g.
    ``F.hash``/rank/bucket them — when their domain exceeds 2**bits).
    """
    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key needs at least 2 columns")
    if bits * n > 62:
        raise ValueError(f"bits={bits} x {n} columns exceeds a long's 62 usable bits")
    mask = (1 << bits) - 1
    masked = [
        (F.col(c) if isinstance(c, str) else c).cast("long").bitwiseAND(F.lit(mask))
        for c in cols
    ]
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, m in enumerate(masked):
            key = key + F.shiftleft(F.shiftright(m, b).bitwiseAND(F.lit(1)), b * n + i)
    return key


def zorder_sql(cols: list[str], bits: int = 16) -> str:
    """The same Morton key as ``zorder_key`` as portable ANSI SQL text
    (``&``/``>>``/``<<`` over BIGINT), runnable by both Spark SQL and
    DuckDB — used by the catalog oracle so each engine computes the key
    independently."""
    n = len(cols)
    mask = (1 << bits) - 1
    # every term fully parenthesized: SQL gives '+' higher precedence than
    # '<<', so an unparenthesized 'x << 3 + y << 4' chain nests the shifts
    terms = [
        f"(((({c} & {mask}) >> {b}) & 1) << {b * n + i})"
        for b in range(bits)
        for i, c in enumerate(cols)
    ]
    return "(" + " + ".join(terms) + ")"


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    num_files: int,
    bits: int = 16,
) -> DataFrame:
    """Re-cluster ``df`` for multi-column pruning: compute the Z-key, range
    repartition on it (contiguous key ranges per output file → tight
    per-file hyper-rectangles), sort within partitions so row groups
    inside each file prune too. The helper key is dropped before write;
    ``df.write.parquet(...)`` on the result produces the laid-out files.

    One shuffle total — exactly the re-layout shuffle, with AQE-compatible
    range boundaries sampled from the key distribution (skewed layout
    columns don't skew the output files).
    """
    keyed = df.withColumn("__zkey", zorder_key(cols, bits=bits))
    return (
        keyed.repartitionByRange(num_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )


def _list_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, size) of every data file under ``path`` on its own filesystem
    (driver-local os.walk would miss remote schemes)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out: list[tuple[str, int]] = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue  # commit markers, checksums
        out.append((st.getPath().toString(), st.getLen()))
    return out


def file_layout_stats(spark: SparkSession, path: str) -> dict:
    """File-count/size profile of a parquet directory — the before/after
    evidence for compaction decisions."""
    files = _list_files(spark, path)
    total = sum(s for _, s in files)
    return {
        "n_files": len(files),
        "total_bytes": total,
        "avg_bytes": total // len(files) if files else 0,
        "min_bytes": min((s for _, s in files), default=0),
        "max_bytes": max((s for _, s in files), default=0),
    }


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> dict:
    """Rewrite the parquet dataset at ``path`` into ~``target_bytes`` files.

    Scope split with ``sinks/compact.py:compact_parquet``: that one
    rewrites PARTITIONED layouts partition-by-partition (preserving
    partition dirs, driver-local paths); this one is the filesystem-
    agnostic flat-directory form (Hadoop FS listing, works on any
    scheme) used by the corpus pipeline's outputs.

    The output file count derives from the MEASURED input size
    (ceil(total/target)), not a guessed partition constant — the same
    dataset compacts to 1 file at 10 MB and 800 files at 100 GB without
    retuning. Rewrite goes to a sibling temp dir first and swaps in via
    two renames (path→bak, tmp→path). A crash during the REWRITE leaves
    the original intact; a crash BETWEEN the two renames leaves the
    dataset absent at ``path`` and requires manual recovery by renaming
    the ``.__compact_bak__`` sibling back — the swap is not atomic for a
    reader racing it. Single-writer maintenance op; concurrent-writer or
    reader-racing datasets belong behind the atomic commit log in
    streaming/atomic.py, which publishes via a manifest, never a
    directory swap.

    Returns the before/after stats dict; no-ops (rewritten=False) when the
    directory already has fewer than ``min_files_to_compact`` files or is
    already at/above target average size.
    """
    before = file_layout_stats(spark, path)
    if before["n_files"] < min_files_to_compact or before["avg_bytes"] >= target_bytes:
        return {"rewritten": False, "before": before, "after": before}

    n_out = max(1, math.ceil(before["total_bytes"] / target_bytes))
    tmp = path.rstrip("/") + ".__compact_tmp__"
    bak = path.rstrip("/") + ".__compact_bak__"
    hadoop_delete(spark, tmp)
    hadoop_delete(spark, bak)

    df = spark.read.parquet(path)
    # coalesce, not repartition: narrowing to n_out needs no shuffle
    writer = df.coalesce(n_out) if n_out < before["n_files"] else df
    writer.write.mode("overwrite").parquet(tmp)

    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )

    def _p(s: str):
        return jvm.org.apache.hadoop.fs.Path(s)

    if not fs.rename(_p(path), _p(bak)):
        hadoop_delete(spark, tmp)
        raise IOError(f"compact: could not move {path} aside")
    if not fs.rename(_p(tmp), _p(path)):
        fs.rename(_p(bak), _p(path))  # restore
        hadoop_delete(spark, tmp)
        raise IOError(f"compact: could not publish rewrite of {path}")
    hadoop_delete(spark, bak)

    after = file_layout_stats(spark, path)
    return {"rewritten": True, "before": before, "after": after}


def hilbert_key_2d(xcol: str | Column, ycol: str | Column, bits: int = 8):
    """Hilbert-curve index of a 2-D cell (x, y), each masked to ``bits``
    bits — the locality-preserving upgrade over :func:`zorder_key` for
    TWO layout columns: consecutive Hilbert keys are always
    grid-ADJACENT cells (Manhattan distance 1, pinned by pytest), while
    the Z-curve teleports across the plane at every power-of-two
    boundary. Files cut from contiguous Hilbert ranges therefore have
    tighter bounding rectangles → better min/max pruning for the same
    file count (the reason Delta moved OPTIMIZE toward Hilbert).

    Implementation: the classic per-level rotate/reflect recurrence
    (d += s²·((3·rx) ⊕ ry), then swap/reflect the sub-square), unrolled
    level-by-level as pure long arithmetic + CASE — no UDF, one
    whole-stage-codegen projection. Returns (key_col_expr_chain) as a
    list of (name, Column) steps via a small builder because each
    level's x/y depend on the previous level's; callers use
    :func:`with_hilbert_key` which applies the chain with withColumn
    (named intermediates keep the expression tree linear in ``bits``).
    ``bits`` defaults to 8 (65k cells — file-grain clustering needs no
    more) and is capped at 12 to bound expression growth if Catalyst
    inlines the chain."""
    if bits < 1 or bits > 12:
        raise ValueError("hilbert_key_2d supports 1..12 bits per dimension")
    mask = (1 << bits) - 1
    x0 = (F.col(xcol) if isinstance(xcol, str) else xcol).cast("long").bitwiseAND(
        F.lit(mask)
    )
    y0 = (F.col(ycol) if isinstance(ycol, str) else ycol).cast("long").bitwiseAND(
        F.lit(mask)
    )
    steps: list[tuple[str, Column]] = [("__hx", x0), ("__hy", y0), ("__hd", F.lit(0).cast("long"))]
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        x, y, d = F.col("__hx"), F.col("__hy"), F.col("__hd")
        rx = F.shiftright(x, level).bitwiseAND(F.lit(1))
        ry = F.shiftright(y, level).bitwiseAND(F.lit(1))
        d2 = d + F.lit(s * s) * (F.lit(3) * rx).bitwiseXOR(ry)
        # rotate/reflect the sub-square: when ry==0 swap x/y (reflecting
        # both through s-1 first when rx==1); identity otherwise
        xr = F.when(rx == 1, F.lit(s - 1) - x).otherwise(x)
        yr = F.when(rx == 1, F.lit(s - 1) - y).otherwise(y)
        x2 = F.when(ry == 0, yr).otherwise(x)
        y2 = F.when(ry == 0, xr).otherwise(y)
        steps.append(("__hd", d2))
        # d2 must bind BEFORE x/y mutate (it reads the pre-rotation bits)
        steps.append(("__hx_n", x2))
        steps.append(("__hy_n", y2))
        steps.append(("__hx", F.col("__hx_n")))
        steps.append(("__hy", F.col("__hy_n")))
    return steps


def with_hilbert_key(
    df: DataFrame, xcol: str, ycol: str, out: str = "hkey", bits: int = 8
) -> DataFrame:
    """Apply the :func:`hilbert_key_2d` step chain and keep only ``out``
    (plus the input columns): named per-level intermediates via
    withColumn keep the unrolled recurrence's expression tree linear in
    ``bits``."""
    res = df
    for name, expr in hilbert_key_2d(xcol, ycol, bits=bits):
        res = res.withColumn(name, expr)
    return res.withColumn(out, F.col("__hd")).drop(
        "__hx", "__hy", "__hd", "__hx_n", "__hy_n"
    )


def hilbert_sql_2d(xexpr: str, yexpr: str, bits: int = 8) -> str:
    """The same Hilbert index as portable ANSI SQL text: one nested
    subquery per level (named intermediates, so the text and the plan
    stay linear in ``bits``), ending in a scalar column ``hd``. Callers
    embed it as ``(SELECT hd FROM ...)``-style lateral or apply it to a
    relation; the catalog oracle wraps it around the base table. The
    emitted SQL targets DuckDB (``* EXCLUDE`` and ``xor()``); the
    arithmetic itself is plain &, >>, CASE, + and * over BIGINT."""
    mask = (1 << bits) - 1
    inner = (
        f"SELECT __base.*, CAST(({xexpr}) & {mask} AS BIGINT) AS hx, "
        f"CAST(({yexpr}) & {mask} AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd "
        f"FROM __base"
    )
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        rx = f"((hx >> {level}) & 1)"
        ry = f"((hy >> {level}) & 1)"
        d2 = f"hd + {s * s} * xor(3 * {rx}, {ry})"
        xr = f"(CASE WHEN {rx} = 1 THEN {s - 1} - hx ELSE hx END)"
        yr = f"(CASE WHEN {rx} = 1 THEN {s - 1} - hy ELSE hy END)"
        x2 = f"(CASE WHEN {ry} = 0 THEN {yr} ELSE hx END)"
        y2 = f"(CASE WHEN {ry} = 0 THEN {xr} ELSE hy END)"
        inner = (
            f"SELECT * EXCLUDE (hx, hy, hd), {x2} AS hx, {y2} AS hy, "
            f"CAST({d2} AS BIGINT) AS hd FROM ({inner})"
        )
    return inner
