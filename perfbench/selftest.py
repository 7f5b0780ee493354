"""The benchmark's own test: a broken harness fails here in a few minutes.

    python3 -m pytest perfbench/selftest.py -q

The fast tests check the oracle's budget model and the tail statistic.
The smoke tests run every workload at a tiny size (``--smoke``), with and
without tracing, and check the result line's shape and metric names
against ``BENCHMARK.json``. They do not require ``correct`` to be true:
the oracle judges the program, this file judges the harness.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import oracle  # noqa: E402
from perfbench.common import tail  # noqa: E402
from perfbench.workloads import (END_TO_END, PER_LAYER,  # noqa: E402
                                 REFERENCE_LAYER)


def test_tail_needs_ten_samples_beyond():
    assert tail([1.0, 2.0, 3.0]) == (3.0, 100.0, 3)
    xs = [float(i) for i in range(1, 21)]
    value, pct, n = tail(xs)
    assert n == 20 and value == 10.0 and pct == 50.0
    assert sum(1 for x in xs if x > value) == 10


def test_budget_spends_in_kind_then_group_order():
    buckets = {
        ("deviation", "web"): Counter(distribution_drift=1),
        ("deviation", None): Counter(n_tok_consistency=3),
        ("extra", None): Counter(uniqueness=2, referential=4),
    }
    fixed, region = oracle.expected_after_budget(buckets, 2)
    assert region is None
    assert fixed == Counter(distribution_drift=0, n_tok_consistency=2,
                            uniqueness=2, referential=4)
    fixed, region = oracle.expected_after_budget(buckets, 6)
    assert region == ({"uniqueness": 2, "referential": 4}, 4)
    assert oracle.compare_counts(
        {"uniqueness": 1, "referential": 3}, buckets, 6) == []
    assert oracle.compare_counts(
        {"uniqueness": 2, "referential": 3}, buckets, 6) != []


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def _run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["corpus_suite", "corpus_reference",
                                      "microbatch_ingest", "assert_api"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    report, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert 0 <= result["failed"] <= result["attempted"]
    assert result["correct"] == (result["failed"] == 0)
    names = dict(PER_LAYER) if trace else END_TO_END
    if trace and workload == "corpus_reference":
        names.update(REFERENCE_LAYER)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    assert all(isinstance(v["value"], float)
               for v in result["metrics"].values())
    assert report["report"]["failed_frac"] == (
        result["failed"] / result["attempted"])
    assert report["stamp"]["nproc"] >= 1
