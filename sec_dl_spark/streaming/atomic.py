"""Atomic batch commits via a linear, rename-arbitrated manifest log —
the Delta-/Iceberg-style commit protocol, reduced to its primitive.

The partition-overwrite commit (``commit.py``) is idempotent for RETRIES
of a single writer, but two CONCURRENT writers sharing a sink can
interleave their dynamic overwrites — the parquet committer is not
transactional across independent jobs, so reference behavior
(``/root/reference/sec_dl/utils/scrape_all_filings.py`` runs 20 workers
against one PostgreSQL table, where the database serializes writers)
needs an explicit commit protocol on a file sink. Protocol:

1. Each attempt writes its data to WRITE-ONCE staging directories with a
   unique suffix — never overwritten, never read by anyone yet.
2. The commit is ONE atomic claim of the next name in the linear log
   ``_commits/v{N+1}.json`` — create-if-absent (O_CREAT|O_EXCL) on local
   filesystems, rename-if-absent on HDFS; see ``_publish_manifest`` for
   why the two schemes need different primitives. Version numbers are
   dense, so exactly one writer wins each version; a loser either
   retries at the next version (default), or — when the caller passed
   ``expected_version`` — withdraws and reports a conflict so the caller
   can REVALIDATE against the commits that landed in between and try
   again. That compare-and-swap loop is exactly Delta's optimistic
   concurrency control, and it is what makes two logical ingest runs
   racing to admit the same content into one corpus safe: the loser
   recomputes its anti-join against the winner's rows.
3. Readers list the log and read ONLY published directories, so a
   half-written staging dir is invisible by construction. Every scan
   re-reads the manifests (a few hundred bytes each, one per committed
   batch), so a log deleted and recreated at the same path is never
   served from a stale copy.

A lost duplicate commit — same (run, batch) already published by a
zombie or twin writer — returns False and withdraws cleanly; the data is
already in the log. Scope: the claim primitive is atomic on HDFS
(rename-if-absent) and local filesystems (O_EXCL create); object stores
without either (S3) need a coordination service or a full table format
(Delta/Iceberg).
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession

_MAX_COMMIT_RETRIES = 50


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem for ``path``, Path constructor)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm.org.apache.hadoop.fs.Path


def _publish_manifest(spark: SparkSession, fs, Path, dst: str, payload: str) -> bool:
    """Atomically claim the manifest name ``dst`` and write ``payload``
    into it. Returns False (nothing written) if the name is taken.

    The claim primitive is scheme-dependent, because 'atomic rename' and
    'atomic rename-IF-ABSENT' are different guarantees: HDFS rename(src,
    dst) fails atomically when dst exists, but on local filesystems the
    Hadoop wrappers reduce to a check-then-act over POSIX rename(2),
    which silently REPLACES an existing destination — two racing writers
    could both think they won and one manifest would vanish. For file://
    the payload is fully written to a tmp file first and the claim is
    java.nio.file.Files.createLink(dst, tmp) — link(2) fails atomically
    if dst exists — so CLAIM AND PAYLOAD ARE ONE STEP: a published name
    is complete by construction, and no reader or rival writer can ever
    observe a claimed-but-empty manifest (the race a bare
    createNewFile-then-write claim leaves open: a scanner in that window
    would skip the burning claim and let a rival re-publish the same
    (run, batch) at the next version). A crash before the link leaves
    only an orphan tmp file, never a burned half-claim. Other schemes
    use write-tmp-then-rename-if-absent, which HDFS provides atomically
    with the same claim-carries-payload property."""
    uri = spark._jvm.java.net.URI(dst)
    if uri.getScheme() in (None, "file"):
        jvm = spark._jvm
        local = uri.getPath() if uri.getScheme() else dst
        jvm.java.io.File(jvm.java.io.File(local).getParent()).mkdirs()
        tmp = f"{local}.tmp-{uuid.uuid4().hex[:12]}"
        out = jvm.java.io.FileOutputStream(tmp)
        try:
            out.write(payload.encode("utf-8"))
        finally:
            out.close()
        tmp_p = jvm.java.io.File(tmp).toPath()
        try:
            jvm.java.nio.file.Files.createLink(jvm.java.io.File(local).toPath(), tmp_p)
            return True
        except Exception as e:  # noqa: BLE001 — py4j wraps the Java exception
            if "FileAlreadyExistsException" not in str(e):
                raise
            return False
        finally:
            jvm.java.nio.file.Files.deleteIfExists(tmp_p)
    tmp = Path(f"{dst}.tmp-{uuid.uuid4().hex[:12]}")
    out = fs.create(tmp, True)
    try:
        out.write(payload.encode("utf-8"))
    finally:
        out.close()
    if fs.rename(tmp, Path(dst)):
        return True
    fs.delete(tmp, False)
    return False


def _scan_log(spark: SparkSession, log_path: str):
    """(parsed entries [(version, manifest)] sorted, highest version
    NUMBER present by filename). The two can differ: a writer that
    crashed between claiming v{N} and writing its payload leaves an
    empty/partial manifest — readers skip it, but the version number
    stays burned so allocation never retries into it."""
    fs, Path = _fs(spark, log_path)
    commits = Path(f"{log_path}/_commits")
    if not fs.exists(commits):
        return [], 0
    out = []
    top = 0
    for st in fs.listStatus(commits):
        name = st.getPath().getName()
        if not (name.startswith("v") and name.endswith(".json")):
            continue
        v = int(name[1:-5])
        top = max(top, v)
        try:
            m = json.loads(_read_small_file(spark, fs, st.getPath()).decode("utf-8"))
        except ValueError:
            continue  # in-flight or crashed claim — skip, version stays burned
        out.append((v, m))
    out.sort(key=lambda vm: vm[0])
    return out, top


def _list_manifests(spark: SparkSession, log_path: str):
    """[(version, manifest dict)] sorted by version; [] if no log yet."""
    return _scan_log(spark, log_path)[0]


def current_version(spark: SparkSession, log_path: str) -> int:
    """Highest claimed version (0 when the log is empty) — the snapshot
    token for an ``expected_version`` compare-and-swap commit."""
    return _scan_log(spark, log_path)[1]


def _committed_batches(entries) -> set[tuple[str, int]]:
    return {(m["ingest_run"], m["ingest_batch"]) for _, m in entries}


def is_committed(spark: SparkSession, path: str, run: str, batch_id: int) -> bool:
    """True if some writer already published (run, batch) — lets a
    restarted producer skip the data write entirely."""
    return (run, batch_id) in _committed_batches(_list_manifests(spark, path))


def atomic_commit_outputs(
    outputs: dict[str, tuple[DataFrame, str]],
    log_path: str,
    run: str,
    batch_id: int,
    partition_by: dict[str, list[str]] | None = None,
    expected_version: int | None = None,
) -> bool:
    """Publish SEVERAL named outputs as ONE atomic (run, batch) commit —
    the multi-sink form a dedup gate needs: the accepted documents and
    their registry rows become visible together or not at all, so the
    'batch dies between the two writes' window of the partition-overwrite
    commit does not exist here.

    ``outputs`` maps name → (DataFrame, target root); each stages under
    its own root while the single manifest lives in ``log_path``'s linear
    log. ``partition_by`` optionally keys a physical layout per output
    (e.g. the registry's fingerprint-bucket dirs).

    Without ``expected_version`` the commit retries at successive
    versions until it lands (single-logical-writer case — concurrent
    UNRELATED batches just serialize). With ``expected_version`` the
    commit succeeds ONLY as version ``expected_version + 1``: if any
    other commit landed since that snapshot, the staging output is
    withdrawn and False is returned so the caller can revalidate against
    the interleaved commits and retry — optimistic concurrency for
    writers whose VALIDITY depends on log state (dedup admission).

    Returns False (withdrawing staging) when (run, batch) is already
    published, or on ``expected_version`` conflict."""
    spark = next(iter(outputs.values()))[0].sparkSession
    fs, Path = _fs(spark, log_path)
    attempt = uuid.uuid4().hex[:12]
    staged: dict[str, str] = {}

    def _withdraw():
        for name, staging in staged.items():
            sfs, SPath = _fs(spark, staging)
            sfs.delete(SPath(f"{outputs[name][1]}/_staging/{run}-{batch_id}-{attempt}"), True)

    for name, (df, root) in outputs.items():
        staging = f"{root}/_staging/{run}-{batch_id}-{attempt}/{name}"
        writer = df.write.mode("error")
        cols = (partition_by or {}).get(name)
        if cols:
            writer = writer.partitionBy(*cols)
        writer.parquet(staging)
        staged[name] = staging

    fs.mkdirs(Path(f"{log_path}/_commits"))
    for _ in range(_MAX_COMMIT_RETRIES):
        entries, top = _scan_log(spark, log_path)
        if (run, batch_id) in _committed_batches(entries):
            _withdraw()
            return False
        v = top + 1
        if expected_version is not None and v != expected_version + 1:
            # the log advanced past the caller's snapshot: its validation
            # is stale — withdraw so it can revalidate and recommit
            _withdraw()
            return False
        manifest = json.dumps(
            {"version": v, "dirs": staged, "ingest_run": run, "ingest_batch": batch_id}
        )
        if _publish_manifest(spark, fs, Path, f"{log_path}/_commits/v{v}.json", manifest):
            return True
        # lost the version race to some other commit — loop re-scans
    _withdraw()
    raise RuntimeError(
        f"atomic commit of ({run}, {batch_id}) at {log_path!r} lost "
        f"{_MAX_COMMIT_RETRIES} version races — log under pathological contention"
    )


def read_committed(spark: SparkSession, path: str, name: str = "data") -> DataFrame | None:
    """Union of all PUBLISHED batches of the ``name`` output
    (manifest-listed directories only — staging output is invisible),
    with ingest_run/ingest_batch columns restored. None if nothing has
    committed yet."""
    from pyspark.sql import functions as F

    parts = [
        spark.read.parquet(m["dirs"][name])
        .withColumn("ingest_run", F.lit(m["ingest_run"]))
        .withColumn("ingest_batch", F.lit(m["ingest_batch"]))
        for _, m in _list_manifests(spark, path)
        if name in m.get("dirs", {})
    ]
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _read_small_file(spark: SparkSession, fs, jpath) -> bytes:
    """Read a (tiny) manifest in ONE call — local files through Python
    directly, remote schemes via a single JVM-side stream copy (a
    byte-per-Py4J-round-trip loop would cost hundreds of JVM calls per
    manifest)."""
    uri = jpath.toUri()
    if uri.getScheme() in (None, "file"):
        with open(uri.getPath(), "rb") as f:
            return f.read()
    jvm = spark._jvm
    stream = fs.open(jpath)
    try:
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, False)
        return bytes(baos.toByteArray())
    finally:
        stream.close()
