"""query_suite: an interactive session, one client, closed loop. A pass
runs the catalog queries (each ``spec.spark_fn(spark, sf).collect()``)
and one search of each full-text shape, in an order the seed shuffles
every pass.

Setup generates the fixtures, builds the search index, and runs every op
once (the warm pass). That pass checks each catalog query against its
DuckDB oracle (names without one keep their warm-pass hash) and each
search against a reference evaluation; every timed op must reproduce its
warm-pass answer. Input generation and the checks are left out of the
set-up time."""

from __future__ import annotations

import os
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass

from perfbench import gen
from perfbench.common import Clock, Ctx, Outcome, layer_means, report_failure
from perfbench.oracle import duck_connection, oracle_hash, result_hash
from perfbench.search import SearchIndex, answer

# Fixture scale: 1.0 ≈ 6M lineitem rows. The suite's cost is a fixed cost
# per query (plan building, jobs), so a small scale keeps a full pass short
# without changing what dominates it.
SF = 0.002

QUERIES = (
    # plan-floor and job-budget targets of the roadmap. The dearest ones
    # (spearman, topk diversity, kendall, zonemap) are left out: a second
    # timed pass steadies the figures more than they would add.
    "graph_component_histogram",
    "agg_percentiles",
    "join_bloom_prefilter",
    # the cheapest query of each plan module: its fixed-cost floor. With the
    # six searches a pass has an even number of ops whose middle is dense,
    # which keeps the median steady.
    "q1_pricing_summary",
    "events_tumbling_hourly",
    "fts_search_and",
)

MODULES = ("relational", "text", "streaming_batch")

# Spark cores at most. The ops are small fixed-cost queries; on a shared
# 4-vCPU VM, in four alternating runs of one seed, ops_per_s ranged over
# 24% of its median at 4 cores and 5% at 2, and was no lower at 2.
MAX_CPUS = 2
# timed passes per run at least: every op is timed twice
MIN_PASSES = 2


@dataclass
class Op:
    name: str
    layer: str  # span prefix: plans.<module> or operators.fts.<shape>
    build: Callable  # () -> DataFrame
    answer: Callable  # (df, rows) -> comparable answer
    reference: Callable  # (df, rows) of the warm pass -> expected answer, None if wrong
    expected: object = None


def _ops(ctx: Ctx, sf_dir: str, con, index: SearchIndex) -> list[Op]:
    from sec_dl_spark.plans.catalog import load_all

    specs = load_all()
    missing = [n for n in QUERIES if n not in specs]
    if missing:
        raise SystemExit(f"perfbench: catalog lacks {missing}")
    ops = []
    for name in QUERIES:
        spec = specs[name]
        ops.append(
            Op(
                name,
                f"plans.{spec.spark_fn.__module__.rsplit('.', 1)[-1]}",
                lambda spec=spec: spec.spark_fn(ctx.spark, sf_dir),
                lambda df, rows: result_hash(df.columns, rows),
                lambda df, rows, sql=spec.oracle: (
                    oracle_hash(con, sql) if sql else result_hash(df.columns, rows)
                ),
            )
        )
    for shape, q in index.queries:
        ops.append(
            Op(
                f"fts_{shape}",
                f"operators.fts.{shape}",
                lambda shape=shape, q=q: index.search(shape, q),
                lambda df, rows, shape=shape: answer(shape, rows),
                lambda df, rows, shape=shape, q=q: index.expected(shape, q, rows),
            )
        )
    return ops


def run(ctx: Ctx) -> Outcome:
    from sec_dl_spark.schemas import FIXTURE_TABLES

    spark, tracer, out = ctx.spark, ctx.tracer, Outcome()
    setup = Clock()
    sf_dir = os.path.join(ctx.work, "sf")
    os.makedirs(sf_dir)
    setup.excluding(gen.write_fixtures, ctx.seed, SF, sf_dir)
    texts = setup.excluding(gen.fts_documents, ctx.seed)
    index = SearchIndex(spark, texts, ctx.work)
    setup.excluding(index.load_reference, ctx.seed, texts)
    con = setup.excluding(duck_connection, sf_dir, FIXTURE_TABLES)
    ops = {op.name: op for op in _ops(ctx, sf_dir, con, index)}
    for op in ops.values():
        try:
            df = op.build()
            op.expected = setup.excluding(op.reference, df, df.collect())
        except Exception:  # noqa: BLE001 — a broken op fails its timed runs, not the run
            report_failure(f"{op.name} (warm pass)")
        if op.expected is None:
            print(f"perfbench: {op.name} is wrong in the warm pass", file=sys.stderr)
    con.close()
    out.warmup_s = setup.elapsed()

    mark = out.first_span = len(tracer.spans)
    clock, pass_no = Clock(), 0
    while pass_no < MIN_PASSES or clock.elapsed() < ctx.seconds:
        for name in gen.shuffled(ops, ctx.seed, pass_no):
            op, label = ops[name], f"{name}#{pass_no}"
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span("op", label):
                    with tracer.span(f"{op.layer}.build", label, count_jobs=True):
                        df = op.build()
                    with tracer.span(f"{op.layer}.exec", label, count_jobs=True):
                        rows = df.collect()
                latency = time.perf_counter() - t0
            except Exception:  # noqa: BLE001
                report_failure(label)
                out.failed += 1
                continue
            finally:
                clock.excluding(tracer.read_counts)
            out.samples.append((label, latency))
            if not clock.check(lambda: op.expected is not None and op.answer(df, rows) == op.expected):
                print(f"perfbench: {label} differs from its warm-pass answer", file=sys.stderr)
                out.failed += 1
        pass_no += 1
    out.wall_s = clock.elapsed()
    out.check_s = setup.excluded + clock.excluded
    out.ops = len(out.samples)

    if tracer.enabled:
        per = layer_means(tracer.spans[mark:], lambda s: s.name if s.name != "op" else None)
        out.layers["operators.fts.build_index_s"] = index.build_s
        out.layers["operators.fts.read_index_s"] = index.read_s
        for m in MODULES:
            b, e = per.get(f"plans.{m}.build"), per.get(f"plans.{m}.exec")
            if b and e:
                out.layers.update(
                    {
                        f"plans.{m}.build_s": b["s"],
                        f"plans.{m}.exec_s": e["s"],
                        f"plans.{m}.build_jobs": b["jobs"],
                        f"plans.{m}.jobs": b["jobs"] + e["jobs"],
                        f"plans.{m}.tasks": b["tasks"] + e["tasks"],
                    }
                )
        for shape in gen.FTS_SHAPES:
            b, e = per.get(f"operators.fts.{shape}.build"), per.get(f"operators.fts.{shape}.exec")
            if b and e:
                out.layers.update(
                    {
                        f"operators.fts.{shape}.plan_s": b["s"],
                        f"operators.fts.{shape}.exec_s": e["s"],
                        f"operators.fts.{shape}.jobs": b["jobs"] + e["jobs"],
                        f"operators.fts.{shape}.tasks": b["tasks"] + e["tasks"],
                    }
                )
    return out
