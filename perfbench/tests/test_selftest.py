"""Self-test of the benchmark (not part of the repository's tier-1 suite).

    python3 -m pytest perfbench/tests -q

* the output check counts a corrupted, a missing and an undropped
  document, and a corrupted document reaches the run's failed count and
  ``failed_docs_frac`` (no Spark);
* a tiny-size run of each workload, untraced and traced, prints every
  metric BENCHMARK.json names, with its unit, and zero failures;
* without the program next to it, the benchmark exits non-zero without
  printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

from check import check_output  # noqa: E402
from run import Tally  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    CATALOGUE = json.load(_f)
WORKLOADS = [w["name"] for w in CATALOGUE["workloads"]]


def _run(*args, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_check_counts_bad_documents():
    oracle = {"a": ("d1", 1), "b": ("d2", 1), "c": ("d3", 2)}
    good = [("a", "d1", 1), ("b", "d2", 1), ("c", "d3", 2)]
    assert check_output(good, oracle, ["a", "b", "c"]).failed == 0
    corrupted = [("a", "d1", 1), ("b", "XX", 1), ("c", "d3", 2)]
    assert check_output(corrupted, oracle, ["a", "b", "c"]).failed == 1
    assert check_output(good[:2], oracle, ["a", "b", "c"]).failed == 1  # missing
    assert check_output(good + good[:1], oracle, ["a", "b", "c"]).failed == 1  # twice


def test_check_dedup_expectations():
    oracle = {u: ("d", 1) for u in "abcde"}
    groups = {"exact": [["a", "b"]], "near": [["c", "d"]]}
    kept = [("a", "d", 1), ("c", "d", 1), ("e", "d", 1)]
    res = check_output(kept, oracle, list("abcde"), groups)
    assert (res.failed, res.dropped, res.true_dropped) == (0, 2, 2)
    # the exact group must keep its min url, the near group exactly one
    assert check_output([("b", "d", 1), ("c", "d", 1), ("e", "d", 1)], oracle,
                        list("abcde"), groups).failed == 2
    assert check_output([("a", "d", 1), ("e", "d", 1)], oracle, list("abcde"),
                        groups).failed == 1
    assert check_output(kept + [("d", "d", 1)], oracle, list("abcde"), groups).failed == 1


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_metric(workload, trace):
    res = _result(_run("--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", str(trace), "--size", "tiny"))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = CATALOGUE["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in names}
    for m in names:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in names)


def test_corrupted_document_reaches_the_failed_count():
    oracle = {"a": ("d1", 1), "b": ("d2", 1), "c": ("d3", 2)}
    good = [("a", "d1", 1), ("b", "d2", 1), ("c", "d3", 2)]
    corrupted = [("a", "d1", 1), ("b", "XX", 1), ("c", "d3", 2)]
    tally = Tally(docs=3)
    tally.add({"cold_check": check_output(good, oracle, ["a", "b", "c"]).as_dict()})
    tally.add({"cold_check": check_output(good, oracle, ["a", "b", "c"]).as_dict(),
               "warm_check": check_output(corrupted, oracle, ["a", "b", "c"]).as_dict()})
    assert (tally.attempted, tally.failed) == (9, 1)
    assert tally.failed_frac == 1 / 9
    tally.add({"error": 1})  # a child that fails fails all its documents
    assert (tally.attempted, tally.failed) == (12, 4)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    proc = _run("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                cwd=tmp_path, timeout=180)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
