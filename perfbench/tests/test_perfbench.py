"""Tests of the benchmark itself, at tiny scale.

    python3 -m pytest perfbench/tests -q

The end-to-end tests start Spark (about half a minute per run).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import checks, run

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _bench(**kw):
    argv = ["--workload", "batch", "--seed", "5", "--seconds", "1"]
    for k, v in kw.items():
        argv += [f"--{k}", str(v)]
    return run.Bench(run.parse_args(argv), ROOT / ".perfbench" / "unused")


# -- metric tables --------------------------------------------------------


def test_benchmark_json_lists_the_metrics_run_py_prints():
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == list(run.PER_LAYER)
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(run.WORKLOADS)
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


# -- output checks --------------------------------------------------------

GOOD = {
    "a": [(1, 7, 2.5), (2, 3, 1.25), (3, 9, 1.25)],
    "b": [(1, 4, 3.0)],
}


def _rows(grouped):
    return [(q, r, d, s) for q, hits in grouped.items() for r, d, s in hits]


def _round(bench, wand_rows, deleted=(), delete_rows=None):
    """Feed one round of results through the benchmark's checks."""
    naive = _rows(GOOD)
    res = {
        "wand": (wand_rows, 0.1),
        "docpart": (naive, 0.1),
        "naive": (naive, 0.1),
        "delete": (delete_rows if delete_rows is not None else [("a", 1, 7, 2.5)], 0.1),
    }
    bench.deleted = set(deleted)
    bench.check_round(res, ["a", "b"], ["a", "b"], "a", traced=False)
    return bench.ledger


def test_correct_round_counts_no_failure():
    ledger = _round(_bench(), _rows(GOOD))
    assert (ledger.total_attempted, ledger.total_failed) == (4, 0)


def test_dropped_row_is_a_failed_op():
    rows = _rows(GOOD)
    del rows[1]
    ledger = _round(_bench(), rows)
    assert ledger.failed == {"wand": 1}
    assert ledger.total_attempted == 4


def test_reordered_rows_are_a_failed_op():
    bad = dict(GOOD, a=[(1, 3, 1.25), (2, 7, 2.5), (3, 9, 1.25)])
    ledger = _round(_bench(), _rows(bad))
    assert ledger.failed == {"wand": 1}


def test_tie_broken_against_doc_id_order_is_a_failed_op():
    bad = dict(GOOD, a=[(1, 7, 2.5), (2, 9, 1.25), (3, 3, 1.25)])
    ledger = _round(_bench(), _rows(bad))
    assert ledger.failed == {"wand": 1}


def test_more_than_k_rows_is_a_failed_op():
    many = {"a": [(i + 1, i, 10.0 - i) for i in range(run.K + 1)], "b": GOOD["b"]}
    with pytest.raises(checks.CheckFailed):
        checks.check_ranked(_rows(many), ["a", "b"], run.K)


def test_returned_tombstoned_doc_is_a_failed_op():
    ledger = _round(_bench(), _rows(GOOD), deleted={7})
    assert ledger.failed == {"delete": 1}


def test_failed_op_latency_is_not_recorded():
    bench = _bench()
    rows = _rows(GOOD)
    del rows[0]
    _round(bench, rows)
    assert bench.lat["wand"] == [] and len(bench.lat["docpart"]) == 1


# -- the whole program, at tiny scale -------------------------------------


def _run(workload, seed, trace, cwd=ROOT):
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
        "--scale", "tiny",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    counts = [json.loads(x[len("counts "):]) for x in lines if x.startswith("counts ")]
    return json.loads(lines[-1]), counts[0]


@pytest.fixture(scope="module")
def tiny_runs():
    seed = 424242
    for f in (ROOT / ".perfbench" / "cache").glob(f"counts-*-s{seed}-tiny-*.json"):
        f.unlink()
    return {
        "first": _result(_run("interactive", seed, 0)),
        "traced": _result(_run("batch", seed, 1)),
        "again": _result(_run("batch", seed, 1)),
    }


def _check_metrics(result, specs):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 3  # one round: every query op
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in specs}
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name


def test_every_end_to_end_metric_prints_with_its_unit(tiny_runs):
    result, _ = tiny_runs["first"]
    _check_metrics(result, SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_every_per_layer_metric_prints_with_its_unit(tiny_runs):
    result, counts = tiny_runs["traced"]
    _check_metrics(result, SPEC["per_layer"])
    for name, _ in run.EXACT_COUNTS:
        assert result["metrics"][name]["value"] == counts[name]


def test_exact_counts_repeat_for_a_seed(tiny_runs):
    (_, first), (_, traced) = tiny_runs["first"], tiny_runs["traced"]
    again_result, again = tiny_runs["again"]
    assert traced == again
    assert first == {k: v for k, v in again.items() if k in first}  # index counts
    assert again_result["correct"] is True  # the run's own self-check passed


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("interactive", 1, 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
