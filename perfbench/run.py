"""Benchmark driver: one seeded, closed-loop, single-client workload.

    python3 perfbench/run.py --workload olap_sql --seed 1 --trace 0

Builds its input tables (cached under ``.perfbench/data`` in the
repository root), starts one local Spark session sized to the host, sets
up and warms the workload, then sends its fixed number of op rounds
(``ROUNDS``), one op at a time. Answers are checked after the timed
loop. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Each run's full record goes to its own file under ``.perfbench/results``.
The exit code is non-zero when any op failed or answered wrongly or, in
a traced run, when an op's layer parts miss its wall time by more than
5%. ``--seconds`` is accepted and recorded; it does not change the run
length.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import ops as opgen  # noqa: E402
from stats import hd_quantile, tail_percentile  # noqa: E402
from tracing import MAX_SUM_ERR  # noqa: E402

# Data set per workload: pipelines pays per-job cost, which its smallest
# data set leaves bare; lake_rw pays per-commit cost on sf0.01; olap_sql
# needs rows for per-row cost to show.
DATA_SF = {"olap_sql": 0.1, "pipelines": 0.001, "lake_rw": 0.01}
# Rounds one run sends. The run length is a count of ops, not a time, so
# every run of a workload, on any commit, sends the same op mix and its
# tail percentile (``stats.tail_percentile``) stays fixed.
ROUNDS = {"olap_sql": 2, "pipelines": 1, "lake_rw": 1}
# Templates the warm-up runs once each; all of them unless named here.
# A pipelines warm-up of every template would cost more than the round it
# warms, so it runs only the near-duplicate stream: the dearest op cold,
# and it pays the session's first-query and first-stream start-up costs.
WARMUP = {"pipelines": ("stream_neardup",)}
SETUP_REPS = 3
DRIVER_MEM = "2g"


def _probe_spin(n: int) -> int:
    x = 0
    for i in range(n):
        x += i
    return x


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def cpu_probes(cpus: int, n: int = 2_000_000) -> dict:
    """Single-thread and all-core spin times: a host-speed marker pair."""
    t0 = time.perf_counter()
    _probe_spin(n)
    single = time.perf_counter() - t0
    # fork: the probe runs before Spark starts, so there are no threads
    # to lose, and the workers need no re-import
    with mp.get_context("fork").Pool(cpus) as pool:
        # one sleep per worker, so every worker is up before the timing
        pool.map(time.sleep, [0.2] * cpus, chunksize=1)
        t0 = time.perf_counter()
        pool.map(_probe_spin, [n] * cpus, chunksize=1)
        parallel = time.perf_counter() - t0
    return {"cpu_probe_s": single, "cpu_probe_parallel_s": parallel}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled every 0.5 s.

    This process and the JVM count their RSS. Below them only Python
    processes count (the worker daemon and the workers it forks), by
    their PSS, which splits each page a fork shares among the processes
    mapping it, so a worker does not count its parent's pages again. A
    helper the JVM forks to run a command is skipped: until it execs, it
    maps the JVM's whole heap. PSS is not read for the JVM: walking its
    2 GB heap takes ~45 ms and holds its memory map lock, which slows
    the workload it measures."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _mem(self, pid: int, depth: int) -> int:
        if depth < 2:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self._page
        with open(f"/proc/{pid}/comm") as fh:
            if not fh.read().startswith("python"):
                return 0
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [(os.getpid(), 0)]
        while todo:
            pid, depth = todo.pop()
            todo.extend((c, depth + 1) for c in children.get(pid, []))
            try:
                total += self._mem(pid, depth)
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        while not self._halt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._halt.wait(0.5)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.peak = max(self.peak, self._tree_rss())
        return self.peak / 2**20


def build_data(sf: float) -> tuple[str, float]:
    """Path of the cached data set for ``sf``, building it if needed
    (in a child process, so its memory never counts toward the run)."""
    import datagen

    path = os.path.join(STATE, "data", f"sf{sf}")
    t0 = time.perf_counter()
    if not datagen.is_built(path, sf):
        shutil.rmtree(path, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), "--out", path, "--sf", str(sf)],
            check=True, stdout=subprocess.DEVNULL,
        )
    return path, time.perf_counter() - t0


def start_spark(cpus: int, work: str):
    from parallel_dbms_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    import tempfile

    tempfile.tempdir = tmp
    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap is resident from the start, so peak RSS
            # does not follow the collector's heap sizing from run to run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and, with it, the
    Python workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def lake_dir_files(table: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(table):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, table)] = os.path.getsize(p)
    return out


def user_bytes(op: dict) -> int:
    """Bytes of user rows an op submits: 8 per number or timestamp, the
    UTF-8 length of each string."""
    n = 0
    for r in op["params"].get("rows", []):
        n += 8 * 4 + len(r[2].encode())
    return n


def run_ops(ex, op_list, tracer=None, lake_io=None):
    """Closed loop: send each op after the previous one returned.
    Returns (records, wall seconds)."""
    records = []
    t_start = time.perf_counter()
    for op in op_list:
        rec = {"i": op["i"], "round": op["round"], "template": op["template"]}
        build, act = ex.prepare(op)
        if tracer:
            tracer.begin(op)
        before = lake_io.snapshot() if lake_io else None
        p0 = time.perf_counter()
        built = answer = None
        wb = pb = None
        try:
            built = build()
            wb, pb = time.time(), time.perf_counter()
            answer, info = act(built)
            rec["info"] = info
        except Exception as e:  # one failed op must not stop the loop
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        w1, p1 = time.time(), time.perf_counter()
        rec["latency_s"] = p1 - p0
        rec["build_call_s"] = (pb - p0) if pb is not None else None
        if tracer:
            df = built[0] if isinstance(built, tuple) else built
            if pb is None:
                wb, pb = w1, p1
            rec["trace"] = tracer.end(wb, pb - p0, p1 - pb, df)
        if lake_io:
            rec["io"] = lake_io.delta(before, op)
        rec["answer"] = answer
        records.append(rec)
    return records, time.perf_counter() - t_start


class LakeIO:
    """Bytes and files the lake table gains per op (files are immutable,
    so every new path is a write)."""

    def __init__(self, table: str):
        self.table = table

    def snapshot(self):
        from parallel_dbms_spark.sources import txlog

        return lake_dir_files(self.table), txlog.log_versions(self.table)[-1]

    def delta(self, before, op):
        from parallel_dbms_spark.sources import txlog

        (files0, v0) = before
        files1, v1 = self.snapshot()
        new = {p: s for p, s in files1.items() if p not in files0}
        added = removed = data = 0
        for v in range(v0 + 1, v1 + 1):
            rec = txlog.read_commit(self.table, v)
            added += len(rec.get("added", []))
            removed += len(rec.get("removed", []))
            data += sum(files1.get(f, 0) for f in rec.get("added", []))
        return {
            "bytes_written": sum(new.values()),
            "log_bytes": sum(s for p, s in new.items() if p.startswith("_")),
            "data_bytes": data,
            "files_added": added,
            "files_removed": removed,
            "user_bytes": user_bytes(op),
        }


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return hd_quantile(xs, 50) if xs else default


def _mean(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return sum(xs) / len(xs) if xs else default


def end_to_end(records, wall, setup_s, rss_mb, tail_pct) -> dict:
    lat = [r["latency_s"] for r in records]
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(records) / wall, "1/s"),
        "op_p50_s": (hd_quantile(lat, 50), "s"),
        "op_tail_s": (hd_quantile(lat, tail_pct), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


LAKE_METRICS = {"commit_p50_s": "s", "read_p50_s": "s", "write_amp": "ratio",
                "space_amp": "ratio"}


def lake_metrics(records, table_files_end, live_bytes) -> dict:
    writes = [r for r in records if r["template"] in opgen.LAKE_WRITES]
    reads = [r for r in records if r["template"] in opgen.LAKE_READS]
    io = [r["io"] for r in records if "io" in r]
    written = sum(x["bytes_written"] for x in io)
    submitted = sum(x["user_bytes"] for x in io)
    return {
        "commit_p50_s": (_median([r["latency_s"] for r in writes]), "s"),
        "read_p50_s": (_median([r["latency_s"] for r in reads]), "s"),
        "write_amp": (written / submitted if submitted else 0.0, "ratio"),
        "space_amp": (sum(table_files_end.values()) / live_bytes if live_bytes else 0.0, "ratio"),
    }


def per_layer(workload, records, wall, cpus, lake) -> dict:
    tr = [r["trace"] for r in records if "trace" in r]
    m: dict = {}

    def mean(key, unit):
        return (_mean([t[key] for t in tr]), unit)

    m["queries.build_s"] = mean("build_s", "s")
    m["queries.build_jobs"] = mean("build_jobs", "count")
    for key in ("plans.analyze_s", "plans.optimize_s", "plans.physical_s"):
        m[key] = mean(key, "s")
    for key in ("jobs", "stages", "tasks"):
        m[f"exec.{key}"] = mean(key, "count")
    m["exec.job_wall_s"] = mean("job_wall_s", "s")
    m["exec.task_run_s"] = mean("task_run_s", "s")
    m["exec.task_cpu_s"] = mean("task_cpu_s", "s")
    busy = sum(t["task_run_s"] for t in tr)
    op_wall = sum(r["latency_s"] for r in records)
    m["exec.busy_frac"] = (busy / (op_wall * cpus) if op_wall else 0.0, "ratio")
    m["exec.job_idle_s"] = mean("job_idle_s", "s")
    for key in ("scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"io.{key}"] = mean(key, "B")
    m["trace.sum_err_max"] = (max([t["sum_err"] for t in tr], default=0.0), "ratio")
    # the traced run's own throughput: its gap to an untraced run's
    # ops_per_s is the tracing overhead
    m["trace.ops_per_s"] = (len(records) / wall, "1/s")

    io = [r["io"] for r in records if "io" in r]
    m["txlog.files_added"] = (_mean([x["files_added"] for x in io]), "count")
    m["txlog.files_removed"] = (_mean([x["files_removed"] for x in io]), "count")
    m["txlog.data_bytes_written"] = (_mean([x["data_bytes"] for x in io]), "B")
    m["txlog.log_bytes_written"] = (_mean([x["log_bytes"] for x in io]), "B")
    m["txlog.live_files"] = (float(lake.get("live_files", 0)), "count")
    looks = [r["info"] for r in records
             if r["template"] in ("point_lookup", "read_skipping") and "info" in r]
    n_read = sum(x["files_read"] for x in looks)
    n_total = sum(x["files_total"] for x in looks)
    m["txlog.lookup_files_read"] = (_mean([x["files_read"] for x in looks]), "count")
    m["txlog.lookup_files_total"] = (_mean([x["files_total"] for x in looks]), "count")
    m["txlog.lookup_read_frac"] = (n_read / n_total if n_total else 0.0, "ratio")
    lake_m = lake.get("metrics", {})
    for key, unit in LAKE_METRICS.items():
        m[f"lake.{key}"] = lake_m.get(key, (0.0, unit))

    streams = [r for r in records if r["template"].startswith("stream_") and "trace" in r]
    m["streaming.replay_s"] = (_mean([r["build_call_s"] for r in streams]), "s")
    m["streaming.batches"] = (_mean([r["trace"]["batches"] for r in streams]), "count")

    # one median per template of every BENCHMARK.json workload (0 for
    # another workload's), plus this workload's own
    names = {t for w in opgen.BENCH_WORKLOADS + (workload,) for t in opgen.templates(w)}
    for name in sorted(names):
        lat = [r["latency_s"] for r in records if r["template"] == name]
        m[f"op.{name}.p50_s"] = (_median(lat), "s")
    return m


def check_answers(workload, ex, records, op_list, data_dir, base_rows) -> dict:
    """Fills ``rec["wrong"]`` on each wrong answer; returns lake facts."""
    import check

    by_i = {op["i"]: op for op in op_list}
    if workload == "lake_rw":
        import lakemodel

        ran = [by_i[r["i"]] for r in records]
        answers = {r["i"]: r["answer"] for r in records if "error" not in r}
        bad, model = lakemodel.replay(base_rows, ran, answers)
        for i, _, want, got in bad:
            records[i]["wrong"] = f"want {str(want)[:200]} got {str(got)[:200]}"
        final = ex.lake_snapshot()
        return {"snapshot_ok": final == model.snapshot(), "rows": len(final)}
    con = check.connect(data_dir)
    cache: dict = {}
    try:
        for r in records:
            if "error" in r:
                continue
            op = by_i[r["i"]]
            if workload == "olap_sql":
                why = check.olap(con, op, r["answer"])
            else:
                why = check.pipeline(con, op, r["answer"], cache)
            if why:
                r["wrong"] = why
    finally:
        con.close()
    return {}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="perfbench workload driver")
    ap.add_argument("--workload", required=True, choices=opgen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None,
                    help="accepted and recorded; the run length is ROUNDS")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="data scale (default: the workload's own)")
    ap.add_argument("--rounds", type=int, default=None,
                    help="op rounds (default: the workload's ROUNDS)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import parallel_dbms_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable: {e}", file=sys.stderr)
        return 2
    import datagen

    workload, traced = args.workload, bool(args.trace)
    sf = args.sf or DATA_SF[workload]
    cpus = len(os.sched_getaffinity(0))
    rows = datagen.sizes(sf)
    rounds = args.rounds or ROUNDS[workload]
    op_list = opgen.generate(workload, args.seed, rows, rounds)
    # warm-up: one op of each warm-up template, drawn from another seed's
    # round
    warm_names = WARMUP.get(workload)
    warm_list = [op for op in {op["template"]: op for op in opgen.generate(
        workload, -1 - args.seed, rows, 1)}.values()
        if warm_names is None or op["template"] in warm_names]
    tail_pct = tail_percentile(len(op_list))
    settings = {
        "workload": workload, "seed": args.seed, "rounds": rounds,
        "seconds_arg": args.seconds,
        "traced": traced, "cpus": cpus, "master": f"local[{cpus}]",
        "driver_mem": DRIVER_MEM, "data_sf": sf,
        "tail_pct": tail_pct, "setup_reps": SETUP_REPS,
        "loadavg_1m_at_start": os.getloadavg()[0],
    }
    settings.update(cpu_probes(cpus))

    data_dir, build_s = build_data(sf)
    import pyarrow.parquet as pq

    expect = {t: pq.read_metadata(os.path.join(data_dir, f"{t}.parquet")).num_rows
              for t in datagen.TABLE_NAMES}

    work = os.path.join(STATE, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(cpus, work)
        spark.range(1).count()
        jvm_s = time.perf_counter() - t0

        from execute import Executor

        ex = Executor(spark, workload, data_dir, work)
        reps, warm_s = [], 0.0
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            ex.setup(rep, expect)
            reps.append(time.perf_counter() - t0)
            if rep == 0:
                t0 = time.perf_counter()
                warm, _ = run_ops(ex, warm_list)
                warm_s = time.perf_counter() - t0
                warm_lat = {r["template"]: r["latency_s"] for r in warm}
                bad = [r for r in warm if "error" in r]
                if bad:
                    raise RuntimeError(f"warm-up op {bad[0]['template']} failed: {bad[0]['error']}")
        setup_s = jvm_s + statistics.median(reps) + warm_s

        tracer = lake_io = None
        if traced:
            from tracing import Tracer

            tracer = Tracer(spark)
        base_rows = None
        if workload == "lake_rw":
            lake_io = LakeIO(ex.table)
            base_rows = ex.lake_base_rows()
            start_files = lake_dir_files(ex.table)
        steal0 = cpu_ticks()
        records, wall = run_ops(ex, op_list, tracer, lake_io)
        steal1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests while the timed
        # loop ran: the usual cause of a slow run on a shared host
        settings["steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        lake: dict = {}
        if workload == "lake_rw":
            from parallel_dbms_spark.sources import txlog

            end_files = lake_dir_files(ex.table)
            _, live = txlog.snapshot_files(ex.table)
            live_bytes = sum(end_files.get(f, 0) for f in live)
            lake["live_files"] = len(live)
            lake["metrics"] = lake_metrics(records, end_files, live_bytes)
            lake["start_bytes"] = sum(start_files.values())
            lake.update(check_answers(workload, ex, records, op_list, data_dir, base_rows))
    finally:
        if spark is not None:
            stop_spark(spark)
        rss_mb = rss.stop()
    if workload != "lake_rw":
        check_answers(workload, ex, records, op_list, data_dir, None)

    errors = [r for r in records if "error" in r]
    wrong = [r for r in records if "wrong" in r]
    failed = len(errors) + len(wrong)
    snapshot_ok = lake.get("snapshot_ok", True)
    # a traced run also fails when an op's layer parts do not add up to
    # its wall time
    split_bad = [r for r in records
                 if "trace" in r and r["trace"]["sum_err"] > MAX_SUM_ERR]
    correct = failed == 0 and snapshot_ok and not split_bad
    e2e = end_to_end(records, wall, setup_s, rss_mb, tail_pct)
    e2e_extra = {"op_fail_ratio": (failed / len(records), "ratio")}
    e2e_extra.update(lake.get("metrics", {}))
    layers = per_layer(workload, records, wall, cpus, lake) if traced else {}

    for r in records:
        r.pop("answer", None)
    result = {
        "settings": settings,
        "setup": {"jvm_s": jvm_s, "rep_s": reps, "warmup_s": warm_s,
                  "warmup_latency_s": warm_lat,
                  "data_build_s": build_s},
        "n_ops": len(records), "wall_s": wall,
        "end_to_end": {k: v for k, (v, _) in {**e2e, **e2e_extra}.items()},
        "per_layer": {k: v for k, (v, _) in layers.items()},
        "lake": {k: v for k, v in lake.items() if k != "metrics"},
        "correct": correct, "failed": failed,
        "split_over_5pct": [f"op {r['i']} {r['template']}: {r['trace']['sum_err']:.3f}"
                            for r in split_bad],
        "errors": [r["error"] for r in errors][:20],
        "wrong": [f"op {r['i']} {r['template']}: {r['wrong']}" for r in wrong][:20],
        "ops": records,
    }
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    out = os.path.join(
        STATE, "results",
        f"{workload}_seed{args.seed}_c{cpus}_trace{args.trace}_{stamp}_{os.getpid()}.json",
    )
    with open(out, "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    shown = {**e2e, **e2e_extra, **layers}
    for k, (v, unit) in shown.items():
        print(f"{workload} {k} = {v:.6g} {unit}")
    for msg in result["errors"] + result["wrong"]:
        print(f"FAILED: {msg}")
    if not snapshot_ok:
        print("FAILED: final lake snapshot differs from the model")
    for msg in result["split_over_5pct"]:
        print(f"FAILED: layer parts miss the op's wall time: {msg}")
    print(f"record: {os.path.relpath(out, ROOT)}")
    metrics = layers if traced else e2e
    print(json.dumps({
        "correct": correct,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
