"""Layout operators: Z-order clustering and small-file compaction.

Pins (a) the Morton bit-interleave against an independent Python
reference, (b) the actual pruning payoff — per-file bounding boxes under a
Z-order layout are tighter on the second column than a linear sort, which
is the entire reason the operator exists — and (c) compaction's
size-derived file count, data preservation, and crash-safe no-op paths.
"""

import os

import pytest
from pyspark.sql import functions as F

from sec_dl_spark.operators.layout import (
    compact_small_files,
    file_layout_stats,
    zorder_key,
    zorder_layout,
    zorder_sql,
)


def _py_morton(vals: list[int], bits: int) -> int:
    out = 0
    for b in range(bits):
        for i, v in enumerate(vals):
            out |= (((v & ((1 << bits) - 1)) >> b) & 1) << (b * len(vals) + i)
    return out


def test_zorder_key_matches_python_reference(spark):
    rows = [(3, 5), (0, 0), (65535, 65535), (12345, 54321), (1, 65534)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn("z", zorder_key(["x", "y"], bits=16)).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _py_morton([x, y], 16), (x, y)


def test_zorder_sql_matches_column_expression(spark):
    df = spark.range(1000).select(
        (F.col("id") * 7919 % 4096).alias("x"), (F.col("id") * 104729 % 4096).alias("y")
    )
    both = df.select(
        zorder_key(["x", "y"], bits=12).alias("a"),
        F.expr(zorder_sql(["x", "y"], bits=12)).alias("b"),
    )
    assert both.where(F.col("a") != F.col("b")).count() == 0


def test_zorder_key_three_columns_and_validation(spark):
    df = spark.createDataFrame([(1, 2, 3)], "x long, y long, z long")
    v = df.select(zorder_key(["x", "y", "z"], bits=8).alias("k")).first().k
    assert v == _py_morton([1, 2, 3], 8)
    with pytest.raises(ValueError):
        zorder_key(["x"], bits=16)
    with pytest.raises(ValueError):
        zorder_key(["x", "y", "z", "w"], bits=16)  # 64 > 62 usable bits


def _per_file_bbox_avg_side(spark, path, col):
    """Mean (max-min) extent of ``col`` per parquet file."""
    df = (
        spark.read.parquet(path)
        .withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg((F.max(col) - F.min(col)).alias("ext"))
    )
    rows = df.collect()
    return sum(r.ext for r in rows) / len(rows)


def test_zorder_layout_tightens_second_column_bboxes(spark, tmp_path):
    # a 256x256 grid: linear sort on x leaves every file spanning ALL of y
    n = 256
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y")
    )
    linear = str(tmp_path / "linear")
    zed = str(tmp_path / "zorder")
    grid.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(linear)
    zorder_layout(grid, ["x", "y"], num_files=16, bits=8).write.parquet(zed)

    lin_y = _per_file_bbox_avg_side(spark, linear, "y")
    z_y = _per_file_bbox_avg_side(spark, zed, "y")
    z_x = _per_file_bbox_avg_side(spark, zed, "x")
    # linear layout: y extent per file ~ full range (255); z-order: both
    # columns bounded well below the full range
    assert lin_y > 0.9 * (n - 1)
    assert z_y < 0.5 * (n - 1)
    assert z_x < 0.5 * (n - 1)
    # the layout must not drop the helper key into the files
    assert spark.read.parquet(zed).columns == ["x", "y"]
    assert spark.read.parquet(zed).count() == n * n


def test_compact_small_files_reduces_count_and_preserves_data(spark, tmp_path):
    path = str(tmp_path / "frag")
    spark.range(10_000).repartition(32).write.parquet(path)
    before = file_layout_stats(spark, path)
    assert before["n_files"] >= 32

    res = compact_small_files(spark, path, target_bytes=512 * 1024)
    assert res["rewritten"] is True
    assert res["after"]["n_files"] < before["n_files"]
    got = spark.read.parquet(path)
    assert got.count() == 10_000
    assert got.agg(F.sum("id")).first()[0] == sum(range(10_000))
    # no temp/backup residue next to the dataset
    parent = os.path.dirname(path)
    assert not [d for d in os.listdir(parent) if "__compact" in d]


def test_compact_small_files_noop_when_already_compact(spark, tmp_path):
    path = str(tmp_path / "ok")
    spark.range(1000).coalesce(1).write.parquet(path)
    res = compact_small_files(spark, path, target_bytes=1024)
    assert res["rewritten"] is False
    assert res["after"] == res["before"]


def test_compact_derives_output_count_from_measured_size(spark, tmp_path):
    path = str(tmp_path / "sized")
    spark.range(50_000).repartition(16).write.parquet(path)
    total = file_layout_stats(spark, path)["total_bytes"]
    target = total // 3  # expect ceil(total/target) = 4 -> but >=3 files
    res = compact_small_files(spark, path, target_bytes=target)
    assert res["rewritten"] is True
    assert 3 <= res["after"]["n_files"] <= 5


def _xy2d_ref(n, x, y):
    rx, ry, d = 0, 0, 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_reference_and_is_grid_adjacent(spark):
    """The unrolled column recurrence equals the classic rotate/reflect
    xy2d on every cell of a 16x16 grid, AND consecutive Hilbert keys are
    always Manhattan-adjacent cells — THE property the Z-curve lacks
    (it jumps across the plane at power-of-two boundaries) and the
    reason Hilbert ranges cut into tighter file bounding boxes."""
    from sec_dl_spark.operators.layout import with_hilbert_key

    grid = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(grid, "x long, y long")
    got = {
        (r["x"], r["y"]): r["hkey"]
        for r in with_hilbert_key(df, "x", "y", bits=4).collect()
    }
    want = {(x, y): _xy2d_ref(16, x, y) for x, y in grid}
    assert got == want
    order = sorted(want, key=lambda k: want[k])
    assert all(
        abs(a[0] - b[0]) + abs(a[1] - b[1]) == 1 for a, b in zip(order, order[1:])
    )


def test_hilbert_layout_tightens_bboxes_and_beats_zorder_locality(spark, tmp_path):
    """A layout on with_hilbert_key (range repartition on the key, sort
    within partitions, key dropped) bounds BOTH columns well below the
    full range per file (the zorder_layout contract), and its worst
    per-file bounding box is no worse than Z-order's on the same grid
    and file count."""
    from sec_dl_spark.operators.layout import with_hilbert_key

    n = 256
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y")
    )
    hil = str(tmp_path / "hilbert")
    zed = str(tmp_path / "zorder")
    (
        with_hilbert_key(grid, "x", "y", out="hk", bits=8)
        .repartitionByRange(16, "hk")
        .sortWithinPartitions("hk")
        .drop("hk")
        .write.parquet(hil)
    )
    zorder_layout(grid, ["x", "y"], num_files=16, bits=8).write.parquet(zed)

    h_x = _per_file_bbox_avg_side(spark, hil, "x")
    h_y = _per_file_bbox_avg_side(spark, hil, "y")
    assert h_x < 0.5 * (n - 1) and h_y < 0.5 * (n - 1)
    assert spark.read.parquet(hil).columns == ["x", "y"]
    assert spark.read.parquet(hil).count() == n * n
    # locality: average bbox side no worse than the Z-curve's
    z_side = _per_file_bbox_avg_side(spark, zed, "x") + _per_file_bbox_avg_side(
        spark, zed, "y"
    )
    h_side = h_x + h_y
    assert h_side <= z_side * 1.05, (h_side, z_side)
