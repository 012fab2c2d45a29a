"""SparkSession construction with scale-oriented defaults.

The reference hand-tunes parallelism (20 workers, chunked writes — see
BASELINE.md); here the equivalent knobs are Spark confs. Everything below is
safe on local[32] and is what we would ship to a 1000-executor cluster:
AQE handles runtime partition coalescing and skew-join splitting, broadcast
threshold covers dimension tables, and Arrow makes the few pandas-UDF
operators batch-transfer instead of per-row pickle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe to apply to an existing session at runtime.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic wall-clock timestamps regardless of the host TZ: the
    # fixture parquet stores naive (zoneless) timestamps, so collect them
    # as UTC to keep outputs equal to the stored values (DuckDB reads them
    # naively). Must be runtime-set because the verification driver builds
    # its own session.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # dims here are ≤ a few MB; on the real cluster raise with care.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet carries TIMESTAMP(NANOS) which Spark cannot read as a
    # timestamp; read the raw int64 and truncate to micros in the scan
    # (sources/fixtures.py) — exactly what DuckDB's reader does implicitly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "sec_dl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster leave it high (e.g. 2-3x total cores) and let AQE coalesce —
    AQE can only merge, never split, so err high.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to a session we did not create
    (e.g. the verification driver's). Never fails on a read-only conf."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


RELIABLE_CHECKPOINT_CONF = "spark.sec_dl_spark.reliableCheckpoint"


def pin(df, reliable: bool | None = None):
    """Materialize ``df`` ONCE and truncate its lineage, so multiple plan
    branches are guaranteed to read the same rows (global_rank's ranged
    frame + counts sidecar; scrape_pending's fetched rows) and
    iterative algorithms (PageRank, pointer-jumping components) don't grow
    exponential plans.

    Semantics EVERY caller inherits (ADVICE r8 — document, don't surprise):

    - **Eager.** Pinning runs a Spark job at plan-construction time, even
      if the result is never consumed. APIs built on ``pin`` are therefore
      not lazy; their docstrings say so.
    - **Default mode** is ``localCheckpoint(eager=True)``: blocks live on
      executors only — no DFS write, and the ContextCleaner releases the
      blocks once the result frame is garbage-collected (``persist`` would
      stay CacheManager-pinned for the session, one leaked copy per call).
      The cost: blocks are NOT recomputable — executor loss, a
      dynamic-allocation shrink, or spot preemption fails the job where a
      ``persist`` would silently recompute. Right for on-demand fleets and
      local mode; wrong for preemptible fleets.
    - **Reliable mode** (``reliable=True``, or session-wide via
      ``spark.conf.set("spark.sec_dl_spark.reliableCheckpoint", "true")``)
      uses ``checkpoint(eager=True)``: blocks are written to the
      SparkContext checkpoint directory (put it on HDFS/an object store)
      and SURVIVE executor loss. Requires
      ``spark.sparkContext.setCheckpointDir(...)`` — raises with that
      instruction if unset rather than failing deep inside Spark.
    """
    if reliable is None:
        reliable = (
            str(df.sparkSession.conf.get(RELIABLE_CHECKPOINT_CONF, "false")).lower()
            == "true"
        )
    if not reliable:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    ckpt_dir = None
    try:
        ckpt_dir = sc.getCheckpointDir()
    except Exception:
        pass
    if not ckpt_dir:
        raise RuntimeError(
            f"{RELIABLE_CHECKPOINT_CONF}=true needs a checkpoint directory: "
            "call spark.sparkContext.setCheckpointDir('<reliable storage>') "
            "first (HDFS/object-store path on a cluster)"
        )
    return df.checkpoint(eager=True)


def spread(df, partitions: int | None = None):
    """Round-robin repartition a small-file scan so per-row-expensive stages
    (tokenization, shingling, HOF-heavy expressions) use every core.

    On a real cluster the input arrives in many file splits and this is a
    no-op; in local mode a 2 MB parquet file is one split, which would pin
    a whole tokenize→explode→join pipeline to a single task. Only
    repartitions when the scan has fewer partitions than half the default
    parallelism — never adds a shuffle to an already-parallel plan.
    """
    sc = df.sparkSession.sparkContext
    target = partitions or sc.defaultParallelism
    if _estimated_scan_splits(df) >= max(2, target // 2):
        return df
    return df.repartition(target)


_SIZE_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}


def _parse_bytes(value, default: int) -> int:
    """Spark byte confs accept size suffixes ('128m', '4mb', plain ints);
    a bare int() on those would throw and silently disable spread()'s
    estimate. Unparseable → ``default``."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", str(value).lower())
    return int(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else default


def _estimated_scan_splits(df) -> int:
    """Estimate the scan's split count from file sizes + the FileSourceScan
    packing confs — avoids df.rdd.getNumPartitions(), which forces a full
    plan→RDD conversion on the driver per call (measurable planning noise
    when many queries are constructed per session). Non-file sources and
    estimation failures fall back to the RDD partition count (accurate,
    just slower to ask) rather than guessing in either direction."""
    import os as _os

    try:
        files = df.inputFiles()
        if files:
            total = 0
            for f in files:
                total += _os.path.getsize(f.split("://", 1)[-1])
            conf = df.sparkSession.conf
            max_bytes = _parse_bytes(
                conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20)), 128 << 20
            )
            open_cost = _parse_bytes(
                conf.get("spark.sql.files.openCostInBytes", str(4 << 20)), 4 << 20
            )
            return max(1, (total + open_cost * len(files)) // max_bytes)
    except Exception:
        pass
    # non-file source (rate, JDBC, in-memory) or unreadable/remote path:
    # ask the RDD — rare enough that the conversion cost doesn't matter
    try:
        return df.rdd.getNumPartitions()
    except Exception:
        return 1 << 30  # streaming frames etc.: never force a shuffle
