"""tools/scaling.py: leg order, medians, efficiency and the failure
exit, on fake leg results (no Spark, no JVM)."""

from __future__ import annotations

import inspect
import json
import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "perfbench"))

import workloads  # noqa: E402
from tools import scaling  # noqa: E402

RATES = {1: [10.0, 12.0, 11.0], 4: [30.0, 36.0, 33.0]}   # per round


def fake_leg(cores: int, r: int, n: int = 1, **over) -> dict:
    """What `run_leg` returns for round `r` on `cores` = N or 4N."""
    return {"cores": cores, "correct": True, "failed": 0,
            "docs_per_s": RATES[cores // n][r],
            "cpu_s_per_kdoc": 100.0 * (cores // n) + r,
            "calibration_s": {"before": 0.5, "after": 0.5}, "errors": [],
            **over}


def test_sizes_name_every_workload_parameter():
    assert set(scaling.SIZES) == set(workloads.WORKLOADS)
    for name, params in scaling.SIZES.items():
        sig = inspect.signature(workloads.WORKLOADS[name]).parameters
        assert all(isinstance(sig[p].default, int) for p in params)


def test_order_alternates_with_4n_first():
    assert scaling.order(1) == [(0, 4), (0, 1), (1, 1), (1, 4),
                                (2, 4), (2, 1)]
    assert scaling.order(8)[:2] == [(0, 32), (0, 8)]


def test_summary_medians_and_efficiency():
    legs = [{"round": r, **fake_leg(k, r)} for r, k in scaling.order(1)]
    ok, out = scaling.summarize("web_curate", 1, legs)
    assert ok
    assert out["docs_per_s"] == {"1": 11.0, "4": 33.0}
    assert out["cpu_s_per_kdoc"] == {"1": 101.0, "4": 401.0}
    assert out["efficiency"] == pytest.approx(33.0 / (4 * 11.0))
    assert out["legs"] == legs


def run_main(monkeypatch, capsys, bad: dict | None):
    """main() on an 8-core affinity mask with fake legs; `bad` alters
    the N leg of round 1. Returns (exit code, summary, legs run)."""
    calls = []

    def run_leg(name, scale, cores):
        r = len(calls) // 2
        calls.append((name, len(cores)))
        over = bad if bad and r == 1 and len(cores) == 2 else {}
        return fake_leg(len(cores), r, 2, **over)

    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(8)))
    monkeypatch.setattr(scaling, "run_leg", run_leg)
    monkeypatch.setattr(sys, "argv", ["scaling.py", "--workload",
                                      "web_curate"])
    code = scaling.main()
    line, = capsys.readouterr().out.splitlines()
    return code, json.loads(line)["workloads"][0], calls


def test_main_runs_legs_in_order(monkeypatch, capsys):
    code, out, calls = run_main(monkeypatch, capsys, None)
    assert code == 0
    assert [k for _, k in calls] == [8, 2, 2, 8, 8, 2]
    assert (out["n"], out["4n"]) == (2, 8)
    assert out["efficiency"] == pytest.approx(33.0 / 44.0)
    assert [(g["round"], g["cores"]) for g in out["legs"]] == \
        scaling.order(2)


@pytest.mark.parametrize("bad", [{"correct": False}, {"failed": 2}])
def test_failed_leg_exits_1_without_efficiency(monkeypatch, capsys, bad):
    code, out, _ = run_main(monkeypatch, capsys, bad)
    assert code == 1
    assert "efficiency" not in out and "docs_per_s" not in out
    assert len(out["legs"]) == 6


def test_leg_without_a_result_fails():
    out = scaling.run_leg("no_such_workload", 1, [0])
    assert out["cores"] == 1 and not out["correct"]
    assert not scaling.summarize("x", 1, [out])[0]
