"""Dev feedback loop: run every registered query against its DuckDB
oracle (the driver's CORRECTNESS gate, locally). Usage:

    python scripts/check_oracles.py [sf_dir] [name_filter ...]
    python scripts/check_oracles.py [sf_dir] --window   # the graded 50
    python scripts/check_oracles.py [sf_dir] --tag lake  # every lake row
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")
sys.path.insert(0, "tests")

from oracle_compare import duck_connect, run_compare

from parallel_dbms_spark.queries import REGISTRY
from parallel_dbms_spark.session import get_spark


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    if "--window" in sys.argv[2:]:
        from parallel_dbms_spark.queries.registry import DRIVER_WINDOW

        names = list(DRIVER_WINDOW)
    elif "--tag" in sys.argv[2:]:
        tag = sys.argv[sys.argv.index("--tag") + 1]
        names = [n for n, s in REGISTRY.items() if tag in s.tags]
    else:
        names = sys.argv[2:] or list(REGISTRY)
    spark = get_spark(cpus=16)
    con = duck_connect(sf_dir)
    n_ok = n_fail = 0
    for name in names:
        spec = REGISTRY[name]
        t0 = time.time()
        try:
            if spec.oracle is None:
                n = spec.fn(spark, sf_dir).count()
                print(f"ROWS-ONLY {name}: {n} rows  ({time.time()-t0:.1f}s)", flush=True)
                n_ok += 1
                continue
            res = run_compare(spark, con, name, spec.fn, spec.oracle, sf_dir)
            status = "OK       " if res.ok else "FAIL     "
            print(f"{status}{name}  ({time.time()-t0:.1f}s) {res.detail}", flush=True)
            n_ok += res.ok
            n_fail += not res.ok
        except Exception as e:
            print(f"ERROR    {name}: {type(e).__name__}: {str(e)[:300]}", flush=True)
            n_fail += 1
    print(f"\n{n_ok} ok, {n_fail} fail / {len(names)} total")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
