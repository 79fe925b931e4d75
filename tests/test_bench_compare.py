"""scripts/bench_compare.py --perfbench: paired summaries of two
checkouts' perfbench run records."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

import bench_compare  # noqa: E402


def _record(root, stamp, op_p50_s, steal, traced=False, workload="lake_rw",
            pid=1000):
    results = root / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    rec = {
        "settings": {"workload": workload, "seed": 7, "traced": traced,
                     "steal_frac": steal},
        "end_to_end": {"setup_s": 20.0, "ops_per_s": 1 / op_p50_s,
                       "op_p50_s": op_p50_s, "op_tail_s": 2 * op_p50_s,
                       "peak_rss_mb": 3000.0},
        "correct": True,
        "failed": 0,
    }
    name = f"{workload}_seed7_c4_trace{int(traced)}_{stamp}_{pid}.json"
    (results / name).write_text(json.dumps(rec))


def test_perfbench_pairs_records_in_run_order(tmp_path, capsys):
    parent, change = tmp_path / "parent", tmp_path / "change"
    _record(parent, "20260101T000000Z", 0.20, 0.001)
    _record(parent, "20260101T000200Z", 0.30, 0.002)
    _record(change, "20260101T000100Z", 0.15, 0.003)
    _record(change, "20260101T000300Z", 0.35, 0.004)
    # traced runs and a workload run on one side only are left out
    _record(change, "20260101T000400Z", 0.01, 0.0, traced=True)
    _record(parent, "20260101T000500Z", 1.0, 0.0, workload="pipelines")

    bench_compare.main(["--perfbench", str(parent), str(change)])
    out = capsys.readouterr().out
    assert out.startswith("lake_rw seed 7: 2 pairs; failed ops parent 0,")
    assert "pipelines" not in out
    p50 = next(line for line in out.splitlines() if "op_p50_s" in line)
    # medians 0.25 vs 0.25; the change won the first pair only
    assert p50.split() == ["op_p50_s", "0.25", "[0.225,", "0.275]",
                           "0.25", "[0.2,", "0.3]", "+0.0%", "1/2"]
    ops = next(line for line in out.splitlines() if "ops_per_s" in line)
    assert ops.split()[-1] == "1/2"  # higher is better there
    assert out.rstrip().endswith(
        "steal_frac per pair (parent / change): "
        "1: 0.0010 / 0.0030, 2: 0.0020 / 0.0040"
    )


def test_perfbench_orders_same_second_records_by_path(tmp_path):
    """Two records written in the same second keep one order on every
    call: the stamp ties, so the path decides."""
    _record(tmp_path, "20260101T000000Z", 0.30, 0.0, pid=2000)
    _record(tmp_path, "20260101T000000Z", 0.20, 0.0, pid=1000)
    _record(tmp_path, "20250101T000000Z", 0.40, 0.0, pid=3000)
    runs = bench_compare.perfbench_runs(str(tmp_path))
    got = [r["end_to_end"]["op_p50_s"] for r in runs["lake_rw", 7]]
    assert got == [0.40, 0.20, 0.30]
