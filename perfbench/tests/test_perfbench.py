"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q      (from the root of the repository)

They run every workload at the sf0.001 corpus shape with a zero-second
measure window, so each run executes only its fixed warm-up set (a few
minutes in total on 4 cores):

  * the same seed gives byte-identical inputs and the same result digest;
  * every metric name is made of [A-Za-z0-9_.-];
  * every metric BENCHMARK.json names is emitted, untraced and traced.
"""

import filecmp
import json
import os
import re
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
NAME = re.compile(r"[A-Za-z0-9_.-]+")
SMALL = {"scale": "sf0.001", "setups": 1}


def tree_equal(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        tree_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_metric_names_are_well_formed():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert all(NAME.fullmatch(w) for w in WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_inputs(workload):
    base = os.path.join(run.OUT, "test-inputs-" + workload)
    try:
        for side in ("a", "b"):
            gen.generate(os.path.join(base, side), workload, 7, "sf0.001")
        gen.generate(os.path.join(base, "c"), workload, 8, "sf0.001")
        assert tree_equal(os.path.join(base, "a"), os.path.join(base, "b"))
        with open(os.path.join(base, "a", "inputs.json")) as f:
            a = f.read()
        with open(os.path.join(base, "c", "inputs.json")) as f:
            assert a != f.read()
    finally:
        shutil.rmtree(base, ignore_errors=True)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_results_and_every_metric(workload):
    first = run.run(workload, 7, 0, 0, SMALL)
    second = run.run(workload, 7, 0, 0, SMALL)
    traced = run.run(workload, 7, 0, 1, SMALL)
    for res in (first, second, traced):
        assert res["failed"] == 0, res["failures"]
        assert res["attempted"] > 0
        assert all(NAME.fullmatch(n) for n in res["metrics"])
    assert first["digest_ops"] > 0
    assert first["result_digest"] == second["result_digest"]
    assert first["digest_ops"] == second["digest_ops"]
    assert {m["name"] for m in SPEC["end_to_end"]} <= set(first["metrics"])
    assert {m["name"] for m in SPEC["per_layer"]} <= set(traced["metrics"])
    facts = first["facts"]
    for key in ("nproc", "mem_total_bytes", "jvm", "spark", "seed", "tables",
                "index_root_bytes", "git_commit"):
        assert key in facts
