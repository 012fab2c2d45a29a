"""Tests of the benchmark's own code: generators, statistics, spans and
the job counter.

    python3 -m pytest perfbench/tests -q
"""

import os
import subprocess
import sys

import pytest

from perfbench import gen, run
from perfbench.query_suite import QUERIES
from perfbench.trace import Span, Tracer, percentile, self_times


def test_fixtures_are_byte_identical_per_seed(tmp_path):
    for d in ("a", "b", "c"):
        (tmp_path / d).mkdir()
    gen.write_fixtures(7, 0.0005, str(tmp_path / "a"))
    gen.write_fixtures(7, 0.0005, str(tmp_path / "b"))
    gen.write_fixtures(8, 0.0005, str(tmp_path / "c"))
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    for n in names:
        assert (tmp_path / "a" / n).read_bytes() == (tmp_path / "b" / n).read_bytes()
    assert (tmp_path / "a" / "lineitem.parquet").read_bytes() != (tmp_path / "c" / "lineitem.parquet").read_bytes()


def test_idx_files_are_byte_identical_per_seed():
    cos = gen.companies(3)
    a = gen.master_idx(3, 2001, 2, cos, 50)
    assert a == gen.master_idx(3, 2001, 2, gen.companies(3), 50)
    assert a != gen.master_idx(4, 2001, 2, gen.companies(4), 50)
    lines = a.splitlines()
    assert lines[9].startswith("----") and lines[8].startswith("CIK|")
    assert len([x for x in lines if x[:1].isdigit()]) == 50


def test_fts_queries_and_suite_order_are_fixed_per_seed():
    docs = gen.fts_documents(5, n=300)
    assert docs == gen.fts_documents(5, n=300)
    q = gen.fts_queries(5, docs)
    assert q == gen.fts_queries(5, docs)
    assert [s for s, _ in q] == list(gen.FTS_SHAPES)
    assert q != gen.fts_queries(6, docs)
    assert gen.shuffled(QUERIES, 5, 0) == gen.shuffled(QUERIES, 5, 0)
    assert sorted(gen.shuffled(QUERIES, 5, 1)) == sorted(QUERIES)
    assert gen.shuffled(QUERIES, 5, 0) != gen.shuffled(QUERIES, 6, 0)


def test_reference_phrase_evaluation():
    docs = {1: ["a", "b", "c"], 2: ["b", "a"], 3: ["a", "x", "b"]}
    assert gen.eval_boolean("phrase", ["a", "b"], docs) == {1}
    assert gen.eval_boolean("and", ["a", "b"], docs) == {1, 2, 3}
    assert gen.eval_boolean("tsquery", "a & (x | c) & !b", docs) == set()
    assert gen.eval_boolean("tsquery", "a & (x | c) & !q", docs) == {1, 3}


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(1, 101)), 0.9) == 90
    assert percentile(list(range(1, 100)), 0.9) is None  # only 9 beyond
    assert percentile(list(range(1, 21)), 0.5) == 10
    assert percentile([], 0.5) is None


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "op", "q", None, 0.0, 10.0),
        Span(1, "build", "q", 0, 1.0, 4.0),
        Span(2, "exec", "q", 0, 3.0, 6.0),  # overlaps build by 1 s
        Span(3, "inner", "q", 2, 3.5, 4.5),
        Span(4, "late", "q", 0, 9.0, 12.0),  # clipped to the parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def test_untraced_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x", "op", count_jobs=True) as s:
        assert s is None
    t.add("y", "op", 0.0, 1.0)
    assert t.spans == []


def test_job_counter_counts_a_two_job_call(spark):
    t = Tracer(True, spark.sparkContext)
    rdd = spark.sparkContext.parallelize(range(10), 2)
    with t.span("two-jobs", "op", count_jobs=True):
        rdd.count()
        rdd.sum()
    with t.span("after", "op", count_jobs=True):
        pass
    t.read_counts()
    assert [(s.jobs, s.tasks, s.failed_tasks) for s in t.spans] == [(2, 4, 0), (0, 0, 0)]


def test_job_counter_counts_each_task_once_under_aqe(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    t = Tracer(True, spark.sparkContext)
    grouped = spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count()
    with t.span("group-by", "op", count_jobs=True):
        assert len(grouped.collect()) == 7
    t.read_counts()
    # AQE: a map-stage job (4 tasks), then a result job that lists the map
    # stage again as skipped and runs 1 coalesced reduce task
    assert (t.spans[-1].jobs, t.spans[-1].tasks) == (2, 5)

    pinned_input = spark.range(0, 1000, 1, 4).selectExpr("id % 5 AS k").groupBy("k").count()
    with t.span("pin", "op", count_jobs=True):
        pinned = pinned_input.localCheckpoint(eager=True)
    with t.span("collect", "op", count_jobs=True):
        assert pinned.count() == 5
    t.read_counts()
    # the collect reads the pinned rows: its jobs skip the stages the pin ran
    assert [(s.jobs, s.tasks) for s in t.spans[-2:]] == [(2, 5), (2, 2)]


def test_job_counter_counts_a_reused_shuffle_once(spark):
    t = Tracer(True, spark.sparkContext)
    pairs = spark.sparkContext.parallelize(range(100), 4).map(lambda x: (x % 3, 1))
    reduced = pairs.reduceByKey(lambda a, b: a + b, 2)
    with t.span("twice", "op", count_jobs=True):
        reduced.count()
        reduced.count()
    t.read_counts()
    # first job: 4 map + 2 reduce tasks; the second skips the map stage
    assert (t.spans[0].jobs, t.spans[0].tasks) == (2, 8)


def test_job_counter_counts_a_one_batch_streaming_sink(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(20).write.parquet(src)

    def on_batch(df, batch_id):
        df.rdd.count()

    q = (
        spark.readStream.schema("id long")
        .parquet(src)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    t = Tracer(True, spark.sparkContext)
    t.add("sink", "op", 0.0, 1.0, group=str(q.runId))
    t.read_counts()
    s = t.spans[0]
    assert (s.jobs, s.failed_tasks) == (1, 0) and s.tasks >= 1


def test_refuses_more_cpus_than_nproc(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)) + 1))
    with pytest.raises(SystemExit):
        run._cpus()


def test_stops_every_process_the_run_started():
    # in a child interpreter, so the test session's own JVM is left alone;
    # the orphaned sleep is re-parented to the child, which must end it
    script = (
        "import subprocess, sys\n"
        "from perfbench import run\n"
        "run._become_subreaper()\n"
        "subprocess.Popen(['bash', '-c', '(sleep 120 &); sleep 120'])\n"
        "import time; time.sleep(0.5)\n"
        "started = run._descendants()\n"
        "run._stop_descendants(grace_s=0.5)\n"
        "print(len(started), len(run._descendants()))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=run.ROOT, capture_output=True, text=True, timeout=60, check=True
    )
    started, left = map(int, out.stdout.split())
    assert started >= 2 and left == 0
