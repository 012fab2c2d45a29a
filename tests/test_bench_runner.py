"""The bench runner's contract, on fake callables and a fake clock (no
Spark): which calls run in which order, what lies inside each timed region,
how the redo levels escalate, and how an arm's sides reduce to its object."""

import pytest

import bench

SUITE_SIDES = [
    "adc", "decode", "overwrite", "atomic",
    "sketch_merge", "recompute", "page1", "deep_page",
]


class Clock:
    """Stands in for time.perf_counter; calls advance it by their cost."""

    def __init__(self):
        self.now = 0.0
        self.log = []

    def __call__(self):
        self.log.append("tick")
        return self.now

    def call(self, name, cost=1.0):
        def run(*args):
            self.log.append(name)
            self.now += cost(name) if callable(cost) else cost

        return run


@pytest.fixture
def clock(monkeypatch):
    c = Clock()
    monkeypatch.setattr(bench.time, "perf_counter", c)
    return c


def _calls(log):
    return [e for e in log if e != "tick"]


def test_suite_loop_runs_every_query_then_every_in_suite_side_rep_major(clock):
    queries = {n: clock.call(n) for n in bench.HEADLINE}
    fns = {s: clock.call(s) for a in bench.ARMS for s in a.sides}
    suite = queries | bench.calls_for([a for a in bench.ARMS if a.in_suite], fns)
    samples = bench.interleave(suite, 3)
    assert _calls(clock.log) == (bench.HEADLINE + SUITE_SIDES) * 3
    assert all(s == [1.0, 1.0, 1.0] for s in samples.values())


def test_own_blocks_alternate_their_sides_rep_major(clock):
    arm = {a.key: a for a in bench.ARMS}
    fns = {s: clock.call(s) for a in bench.ARMS for s in a.sides}
    bench.interleave(bench.calls_for([arm["ann_serving"]], fns), 5)
    bench.interleave(bench.calls_for([arm["corpus_e2e"]], fns), 2)
    assert _calls(clock.log) == ["serve", "rebuild"] * 5 + ["build", "build_registry"] * 2


def test_fixture_work_stays_outside_the_timed_region(clock):
    from contextlib import contextmanager

    @contextmanager
    def fixture():
        clock.log.append("setup")
        clock.now += 100.0  # untimed cost that must not reach the sample
        yield ("work-dir",)
        clock.log.append("teardown")
        clock.now += 100.0

    seen = []

    def call(work):
        seen.append(work)
        clock.log.append("call")
        clock.now += 2.0

    samples = bench.interleave({"gate": call, "plain": clock.call("plain")}, 2,
                               {"gate": fixture})
    assert clock.log == ["setup", "tick", "call", "tick", "teardown",
                         "tick", "plain", "tick"] * 2
    assert samples == {"gate": [2.0, 2.0], "plain": [1.0, 1.0]}
    assert seen == ["work-dir", "work-dir"]


def test_redo_interleaves_only_the_flagged_names_and_escalates(clock):
    # "steady" never gets flagged; "calms" settles at the first level; every
    # third "noisy" rep takes 3 s, so no trimmed redo beats its original
    # spread: it runs every level and keeps its original sample
    samples = {"steady": [1.0, 1.0, 1.0], "calms": [1.0, 2.0, 1.0], "noisy": [1.0, 3.0, 1.0]}
    counts = {"noisy": 0}

    def noisy_cost(_):
        counts["noisy"] += 1
        return 3.0 if counts["noisy"] % 3 == 0 else 1.0

    calls = {"steady": clock.call("steady"), "calms": clock.call("calms"),
             "noisy": clock.call("noisy", noisy_cost)}
    flagged = bench.redo(samples, calls)
    assert flagged == ["calms", "noisy"]
    assert _calls(clock.log) == ["calms", "noisy"] * 7 + ["noisy"] * 9 + ["noisy"] * 11
    assert samples["calms"] == [1.0] * 7  # the stored redo sample is untrimmed
    assert samples["noisy"] == [1.0, 3.0, 1.0]
    assert samples["steady"] == [1.0, 1.0, 1.0]


def test_redo_stores_the_untrimmed_sample_it_accepts(clock):
    # one slow rep in seven: trimmed, the redo scores 0 and wins; stored, it
    # keeps the slow rep
    costs = iter([1.0, 1.0, 5.0, 1.0, 1.0, 1.0, 1.0])
    samples = {"q": [1.0, 4.0, 1.0]}
    bench.redo(samples, {"q": clock.call("q", lambda _: next(costs))})
    assert samples["q"] == [1.0, 1.0, 5.0, 1.0, 1.0, 1.0, 1.0]


def test_summarize_reduces_by_median_or_min_and_ratios_the_rounded_values():
    arm = {a.key: a for a in bench.ARMS}
    gate = bench.summarize(arm["gate_atomic_overhead"],
                           {"overwrite": [1.0, 2.0, 9.0], "atomic": [3.0, 3.0, 3.0]})
    assert gate == {"overwrite": 2.0, "atomic": 3.0, "atomic_over_overwrite": 1.5}
    corpus = bench.summarize(arm["corpus_e2e"],
                             {"build": [3.0, 2.0], "build_registry": [4.0, 5.0]})
    assert corpus == {"build": 2.0, "build_registry": 4.0, "registry_overhead": 2.0}


def test_zero_denominator_gives_a_none_ratio():
    arm = {a.key: a for a in bench.ARMS}
    out = bench.summarize(arm["gate_atomic_overhead"],
                          {"overwrite": [0.0, 0.0, 0.0], "atomic": [1.0, 1.0, 1.0]})
    assert out["atomic_over_overwrite"] is None
    assert bench.ratio(1.0, 0.0) is None and bench.ratio(1.0, 4.0) == 0.25


def test_arm_table_sides_are_unique_call_names_and_ratios_name_their_sides():
    sides = [s for a in bench.ARMS for s in a.sides]
    assert len(sides) == len(set(sides))
    assert not set(sides) & set(bench.HEADLINE)
    for a in bench.ARMS:
        key, num, den = a.ratio
        assert {num, den} == set(a.sides) and key not in a.sides


def test_headline_is_150_unique_registered_queries():
    from sec_dl_spark.plans.catalog import load_all

    assert len(bench.HEADLINE) == 150
    assert len(set(bench.HEADLINE)) == 150
    missing = set(bench.HEADLINE) - set(load_all())
    assert not missing, sorted(missing)
    # ab_hamming_vs_cosine reads both medians
    assert {"emb_hamming_topk", "emb_cosine_topk"} <= set(bench.HEADLINE)
