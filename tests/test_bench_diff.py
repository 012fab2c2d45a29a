"""tools/bench_diff.py reads two artifact paths, either a full artifact or a
per-round record nesting the bench line under "parsed", and refuses to
compare runs at different scale factors."""

import json
import os
import runpy
import sys

import pytest

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools", "bench_diff.py")


def _diff(monkeypatch, *paths):
    monkeypatch.setattr(sys, "argv", ["bench_diff.py", *map(str, paths)])
    runpy.run_path(TOOL, run_name="__main__")


def _write(path, obj):
    path.write_text(json.dumps(obj))
    return path


def test_diff_reads_a_full_artifact_against_a_per_round_record(tmp_path, monkeypatch, capsys):
    old = _write(tmp_path / "BENCH_r01.json",
                 {"parsed": {"sf": 0.1, "value": 3.0, "queries": {"a": 1.0, "b": 2.0}}})
    new = _write(tmp_path / "BENCH_LAST.json",
                 {"sf": 0.1, "value": 4.0, "queries": {"a": 2.0, "b": 2.0, "c": 1.0},
                  "noise": {"per_query_spread": {"a": 0.1}}})
    _diff(monkeypatch, old, new)
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["regressions"] == ["a"] and summary["added"] == ["c"]
    assert summary["sf"] == 0.1 and summary["shared"] == 2


def test_diff_refuses_artifacts_at_different_scale_factors(tmp_path, monkeypatch):
    old = _write(tmp_path / "old.json", {"sf": 0.1, "queries": {"a": 1.0}})
    new = _write(tmp_path / "new.json", {"sf": 0.001, "queries": {"a": 1.0}})
    with pytest.raises(SystemExit, match="refusing to diff sf 0.1"):
        _diff(monkeypatch, old, new)
