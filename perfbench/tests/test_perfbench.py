"""Tests of the benchmark itself: op streams, the tail rule, the lake
model, and an sf0.01 smoke run of every workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import lakemodel  # noqa: E402
import ops  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

ROWS = datagen.sizes(0.01)


@pytest.mark.parametrize("workload", ops.WORKLOADS)
def test_seed_fixes_the_op_list(workload):
    a = ops.dump(ops.generate(workload, 7, ROWS, 3))
    assert a == ops.dump(ops.generate(workload, 7, ROWS, 3))
    assert a != ops.dump(ops.generate(workload, 8, ROWS, 3))


@pytest.mark.parametrize("workload", ops.WORKLOADS)
def test_every_round_has_the_same_template_mix(workload):
    op_list = ops.generate(workload, 5, ROWS, 4)
    mixes = {}
    for op in op_list:
        mixes.setdefault(op["round"], []).append(op["template"])
    assert len({tuple(sorted(m)) for m in mixes.values()}) == 1


def test_tail_percentile_rule():
    def beyond(n, p):
        return n - math.ceil(p / 100 * n)

    for n in range(1, 500):
        p = stats.tail_percentile(n)
        higher = range(max(p, 50) + 1, 100)
        assert all(beyond(n, q) < stats.TAIL_MIN_BEYOND for q in higher)
        if p > 50:
            assert beyond(n, p) >= stats.TAIL_MIN_BEYOND
    assert stats.tail_percentile(13) == 50
    assert stats.tail_percentile(26) == 61
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99


def _model_answers(base, op_list):
    model = lakemodel.LakeModel(base)
    answers = {}
    for op in op_list:
        a = model.answer(op)
        if a is not None:
            answers[op["i"]] = a
        model.apply(op)
    return answers


def test_lake_model_catches_a_corrupted_lookup():
    base = [[k, k % 150, "FOP"[k % 3], 1000.0 + k / 4, "1996-01-01"] for k in range(1500)]
    rows = dict(ROWS, orders=1500, customer=150)
    op_list = ops.generate("lake_rw", 3, rows, 2)
    answers = _model_answers(base, op_list)
    assert lakemodel.replay(base, op_list, answers)[0] == []

    i = next(op["i"] for op in op_list
             if op["template"] == "point_lookup" and answers[op["i"]])
    bad = dict(answers)
    row = list(bad[i][0])
    row[3] += 0.01
    bad[i] = [tuple(row)]
    mismatches, _ = lakemodel.replay(base, op_list, bad)
    assert [m[0] for m in mismatches] == [i]


def test_lake_model_applies_writes():
    base = [[1, 10, "F", 5.0, "1996-01-01"], [2, 20, "O", 7.5, "1997-02-02"]]
    m = lakemodel.LakeModel(base)
    m.apply({"template": "merge", "params": {"rows": [
        [2, 99, "P", 8.25, "2000-01-01"], [3, 30, "F", 1.0, "1998-03-03"]]}})
    m.apply({"template": "delete", "params": {"col": "o_custkey", "lo": 10, "hi": 10}})
    # a matched merge row updates price and status only
    assert m.snapshot() == [(2, 20, "P", 8.25, "1997-02-02"), (3, 30, "F", 1.0, "1998-03-03")]
    assert m.answer({"template": "read_skipping", "params": {"lo": 0, "hi": 2}}) == (1, 825)
    assert m.answer({"template": "instant_distinct", "params": {}}) == (2,)


def test_bloom_keys_avoid_the_bit_63_probe():
    # Spark 4.1: SELECT xxhash64(CAST(32 AS BIGINT), 0)
    assert ops.xxhash64_long_int(32, 0) - (1 << 64) == -4910696837540688885
    op_list = ops.generate("pipelines", 9, ROWS, 40)
    for op in op_list:
        if op["template"] == "bloom_lookup":
            key = op["params"]["key"]
            assert all(ops.xxhash64_long_int(key, i) % 64 != 63
                       for i in range(ops.BLOOM_HASHES))
    assert not all(ops.bloom_probe_ok(k) for k in range(100))


def test_layer_split_adds_up_and_flags_stray_jvm_time():
    phases = {"analysis": [10.00, 10.02], "optimization": [10.30, 10.32],
              "planning": [10.32, 10.35]}
    jobs = [{"start": 10.05, "end": 10.20}, {"start": 10.40, "end": 10.90}]
    # build call 10.00-10.25, final action 10.25-11.00
    out = tracing.split(jobs, phases, tb=10.25, build_s=0.25, act_s=0.75)
    parts = (out["build_s"] + out["job_wall_s"] + out["job_idle_s"]
             + out["plans.analyze_s"] + out["plans.optimize_s"] + out["plans.physical_s"])
    assert math.isclose(parts, 1.0) and out["sum_err"] < 1e-9
    assert math.isclose(out["build_s"], 0.25 - 0.02 - 0.15)
    assert math.isclose(out["job_idle_s"], 0.75 - 0.05 - 0.50)
    # a job the JVM dates outside both calls' time cannot be charged to
    # either, so the parts overrun the wall time
    stray = jobs + [{"start": 10.26, "end": 10.30}]
    out = tracing.split(stray, phases, tb=10.25, build_s=0.25, act_s=0.1)
    assert out["sum_err"] > tracing.MAX_SUM_ERR


def test_datagen_is_deterministic_with_unique_keys():
    a, b = datagen.generate(0.001), datagen.generate(0.001)
    for name in datagen.TABLE_NAMES:
        assert a[name].equals(b[name])
        datagen.check_keys(name, a[name])


@pytest.mark.parametrize("workload,trace", [
    ("olap_sql", 0), ("pipelines", 1), ("lake_rw", 1),
])
def test_smoke_run_at_sf001(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--trace", str(trace), "--sf", "0.01", "--rounds", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert set(out["metrics"]) == names
    assert [w["name"] for w in spec["workloads"]] == list(ops.BENCH_WORKLOADS)
