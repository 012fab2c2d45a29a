"""Benchmark entry point.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints progress to stderr and, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics untraced, the per-layer
metrics traced). A result file with lineage goes to perfbench/results/.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import getpass
import json
import os
import platform
import shlex
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    """BENCHMARK.json: the workloads and the metrics printed, by name and
    unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _args(argv, workloads):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def _cpus() -> int:
    """Spark cores: SPARK_GRAFT_CPUS, defaulting to the host's cores and
    never above them."""
    nproc = len(os.sched_getaffinity(0))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", nproc))
    if not 1 <= cpus <= nproc:
        raise SystemExit(f"perfbench: SPARK_GRAFT_CPUS={cpus} must be within 1..{nproc} (nproc)")
    return cpus


def _prepare_env(work: str, cpus: int) -> None:
    """Process settings that must exist before the JVM starts: every file
    Spark writes stays in ``work``, and stdout carries no progress bars."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the JVMs keep perf counters in /tmp unless they are off
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.local.dir={tmp}",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "pyspark-shell",
        ]
    )


def _become_subreaper() -> None:
    """Have descendants orphaned while the run lasts (Spark's Python worker
    daemons, once the JVM is gone) re-parented to this process, so that
    ``_stop_descendants`` can wait for them."""
    try:
        import ctypes

        ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _descendants() -> set[int]:
    """Processes below this one, from /proc. Zombies count: a JVM whose
    main thread has ended reads as one while its other threads still run,
    and the kernel lets it be reaped only once they have all ended."""
    parent_of = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent_of[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    out, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent_of.items() if pp in frontier} - out
        out |= frontier
    return out


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def _all_ended(timeout_s: float) -> bool:
    """Reap ended descendants until none is left or ``timeout_s`` passes."""
    deadline = time.monotonic() + timeout_s
    while True:
        _reap()
        if not _descendants():
            return True
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)


def _stop_descendants(grace_s: float = 60.0) -> None:
    """End every process the run started and wait until each has ended.
    The JVM exits by itself once its stdin closes, and its worker daemons
    once the JVM is gone; whatever outlives ``grace_s`` is killed."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    if _all_ended(grace_s):
        return
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _descendants():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if _all_ended(10.0):
            return


def _git_sha() -> str:
    """The checkout's commit, read from .git when there is one."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(ROOT, ".git", ref)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def main(argv=None) -> int:
    spec = _spec()
    args = _args(argv, [w["name"] for w in spec["workloads"]])
    if not os.path.isfile(os.path.join(ROOT, "sec_dl_spark", "__init__.py")):
        print(f"perfbench: no sec_dl_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import importlib

    workload = importlib.import_module(f"perfbench.{args.workload}")
    cpus = min(_cpus(), getattr(workload, "MAX_CPUS", os.cpu_count()))
    work = os.path.join(ROOT, "perfbench", ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(ROOT, "perfbench", "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work, cpus)

    from perfbench.common import Ctx
    from perfbench.trace import Tracer, cpu_times, median, percentile, steal_pct

    spark = None
    _become_subreaper()
    try:
        t0 = time.perf_counter()
        from sec_dl_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        tracer = Tracer(bool(args.trace), spark.sparkContext)
        ctx = Ctx(spark, tracer, args.seed, args.seconds, work, cpus)
        steal0 = cpu_times()
        out = workload.run(ctx)
        tracer.read_counts()
        steal = steal_pct(steal0, cpu_times())
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            _stop_descendants()
            shutil.rmtree(work, ignore_errors=True)

    latencies = [s for _, s in out.samples]
    e2e = {
        "setup_s": start_s + out.warmup_s,
        "ops_per_s": out.ops / out.wall_s if out.wall_s > 0 else 0.0,
        "latency_p50_s": median(latencies),
    }
    spans = tracer.spans[out.first_span :]
    n_ops = max(1, out.attempted)
    layers = {
        "session.start_s": start_s,
        "session.warmup_s": out.warmup_s,
        "spark.jobs_per_op": sum(s.jobs for s in spans) / n_ops,
        "spark.tasks_per_op": sum(s.tasks for s in spans) / n_ops,
        "spark.failed_tasks": sum(s.failed_tasks for s in spans),
        "host.cpu_steal_pct": steal,
        **out.layers,
    }
    if args.trace:
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    correct = out.failed == 0 and out.attempted > 0
    line = {"correct": correct, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}

    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    record = {
        **line,
        "lineage": {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "traced": bool(args.trace),
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": cpus,
            "git_sha": _git_sha(),
            "runner": f"{getpass.getuser()}@{platform.node()}",
            "host.cpu_steal_pct": steal,
            "utc": stamp,
        },
        "end_to_end": e2e,
        "per_layer": layers,
        # the benchmark's own input generation and output checks, left out
        # of setup_s and of the timed window
        "check_s": out.check_s,
        "latency_samples": len(latencies),
        # reported only with at least 10 samples beyond it
        "latency_p90_s": percentile(latencies, 0.9),
        "samples_s": out.samples,
    }
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.dump(os.path.join(results, name + ".spans.json"))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
