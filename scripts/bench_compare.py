"""Diff two bench JSON artifacts (bench.py output or the driver's
BENCH_r{N}.json, which wraps it under "parsed"), or summarize paired
perfbench runs of two checkouts.

Usage:
    python scripts/bench_compare.py BENCH_r03.json /tmp/bench_now.json
    python scripts/bench_compare.py --perfbench PARENT_DIR CHANGE_DIR

The first form prints per-workload deltas for the common set, the net
change, and flags movers beyond a noise threshold so a plan regression
(lost broadcast, new shuffle, fallen-out-of-codegen UDF) is one command
to spot instead of a by-hand comparison.

The ``--perfbench`` form reads the untraced run records
(``.perfbench/results/*.json``) of two checkouts and pairs them in run
order per workload and seed: the i-th run of one side with the i-th
run of the other, so alternate the sides when running. For every
end-to-end metric of BENCHMARK.json it prints each side's median and
interquartile range, the change of the medians and the pairs the
change won, then each pair's ``steal_frac`` (the hypervisor's share of
CPU time during the timed loop).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

NOISE_SEC = 0.25  # absolute; below this a delta is scheduling noise
NOISE_REL = 0.25  # relative
BENCHMARK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCHMARK.json",
)


def load(path: str) -> dict:
    d = json.load(open(path))
    if "parsed" in d and isinstance(d["parsed"], dict):
        d = d["parsed"]
    return d


def compare_bench(path_a: str, path_b: str) -> None:
    a, b = load(path_a), load(path_b)
    qa, qb = a.get("queries", {}), b.get("queries", {})
    common = sorted(set(qa) & set(qb))
    only_a, only_b = sorted(set(qa) - set(qb)), sorted(set(qb) - set(qa))
    ta, tb = sum(qa[k] for k in common), sum(qb[k] for k in common)
    print(f"common {len(common)} workloads: {ta:.1f}s -> {tb:.1f}s "
          f"({(tb / ta - 1) * 100:+.1f}%)")
    if only_a:
        print(f"dropped: {', '.join(only_a)}")
    if only_b:
        print(f"added:   {', '.join(only_b)} "
              f"(+{sum(qb[k] for k in only_b):.1f}s)")
    movers = [
        k for k in common
        if abs(qb[k] - qa[k]) > NOISE_SEC
        and abs(qb[k] - qa[k]) / max(qa[k], 1e-9) > NOISE_REL
    ]
    movers.sort(key=lambda k: qa[k] - qb[k])
    if movers:
        print("\nmovers beyond noise (old -> new):")
        for k in movers:
            print(f"  {'REGRESSED' if qb[k] > qa[k] else 'improved '} "
                  f"{k:28s} {qa[k]:7.3f} -> {qb[k]:7.3f}")
    else:
        print("no movers beyond noise")


def perfbench_runs(root: str) -> dict:
    """``{(workload, seed): [record, ...]}`` of the untraced run
    records of the checkout ``root``, each list in run order. A
    record's file name carries the UTC second it was written, and its
    ``settings`` the workload, seed and trace flag. Records written in
    the same second are ordered by path, so every call pairs them the
    same way."""
    results = os.path.join(root, ".perfbench", "results")
    runs: dict = {}
    for path in glob.glob(os.path.join(results, "*.json")):
        with open(path) as fh:
            rec = json.load(fh)
        s = rec["settings"]
        if s["traced"]:
            continue
        # <workload>_seed<n>_c<cpus>_trace<t>_<stamp>_<pid>.json
        stamp = os.path.basename(path).rsplit("_", 2)[-2]
        runs.setdefault((s["workload"], s["seed"]), []).append(
            (stamp, path, rec)
        )
    return {k: [r for _, _, r in sorted(v, key=lambda x: x[:2])]
            for k, v in runs.items()}


def median_iqr(xs: list) -> tuple[float, float, float]:
    """(median, first quartile, third quartile) of ``xs``."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def compare_perfbench(parent_dir: str, change_dir: str) -> None:
    with open(BENCHMARK) as fh:
        metrics = json.load(fh)["end_to_end"]
    parent, change = perfbench_runs(parent_dir), perfbench_runs(change_dir)
    keys = sorted(set(parent) & set(change))
    if not keys:
        sys.exit("no workload and seed has untraced runs on both sides")
    for workload, seed in keys:
        ps, cs = parent[workload, seed], change[workload, seed]
        n = min(len(ps), len(cs))
        ps, cs = ps[:n], cs[:n]
        failed = [sum(r["failed"] for r in side) for side in (ps, cs)]
        wrong = [sum(not r["correct"] for r in side) for side in (ps, cs)]
        print(f"{workload} seed {seed}: {n} pairs; failed ops parent "
              f"{failed[0]}, change {failed[1]}; incorrect runs parent "
              f"{wrong[0]}, change {wrong[1]}")
        print(f"  {'metric':12s} {'parent median [q1, q3]':>30s} "
              f"{'change median [q1, q3]':>30s} {'change':>8s} {'wins':>6s}")
        for m in metrics:
            name = m["name"]
            a = [r["end_to_end"][name] for r in ps]
            b = [r["end_to_end"][name] for r in cs]
            lower = m["better"] == "lower"
            wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
            (ma, qa1, qa3), (mb, qb1, qb3) = median_iqr(a), median_iqr(b)
            pa = f"{ma:.4g} [{qa1:.4g}, {qa3:.4g}]"
            pb = f"{mb:.4g} [{qb1:.4g}, {qb3:.4g}]"
            print(f"  {name:12s} {pa:>30s} {pb:>30s} "
                  f"{(mb / ma - 1) * 100:+7.1f}% {wins:>3d}/{n}")
        print("  steal_frac per pair (parent / change): " + ", ".join(
            f"{i + 1}: {p['settings']['steal_frac']:.4f} / "
            f"{c['settings']['steal_frac']:.4f}"
            for i, (p, c) in enumerate(zip(ps, cs))
        ))


def main(argv: list[str] | None = None) -> None:
    args = sys.argv[1:] if argv is None else argv
    if len(args) == 3 and args[0] == "--perfbench":
        compare_perfbench(args[1], args[2])
    elif len(args) == 2 and not args[0].startswith("--"):
        compare_bench(*args)
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
