"""Per-op layer breakdown from Spark's own status store.

Used only in traced runs. Before an op the tracer notes the next Spark
job id and sets a job group named after the op; after the op it drains
the listener bus and reads, from ``AppStatusStore`` (kept even with
``spark.ui.enabled=false``), every job the op started — including the
jobs a streaming query runs on its own thread under its own group —
with their stages' task metrics. The final DataFrame's
``QueryExecution.tracker()`` gives the Catalyst phase intervals.

The op's wall time is split into four parts:

- ``exec.job_wall_s``: the union of the op's job running intervals;
- ``plans.*``: Catalyst phases of the final DataFrame, outside jobs;
- ``queries.build_s``: the build call's own time, measured in Python,
  minus the jobs and phases that ran inside it (Python and driver work
  before the final action);
- ``exec.job_idle_s``: the final action's own time, measured the same
  way (driver and scheduling residual).

Jobs and phases come from the JVM clock and the two calls from Python's,
and nothing is clipped to the op's window, so the parts add up to the
op's wall time only when the JVM intervals fall inside the calls that
started them. ``sum_err`` is ``|parts - wall| / wall``; the traced run
fails when any op's exceeds ``MAX_SUM_ERR``.
"""

from __future__ import annotations

import re
import time

MAX_SUM_ERR = 0.05

PHASES = (("analysis", "plans.analyze_s"), ("optimization", "plans.optimize_s"),
          ("planning", "plans.physical_s"))

_BATCH = re.compile(r"runId = (\S+)\s+batch = (\d+)")


def _union(intervals):
    """Merged, sorted, non-overlapping copy of ``intervals``."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _minus(span, cover):
    """Parts of interval ``span`` not covered by merged ``cover``."""
    a, b = span
    out = []
    for c, d in cover:
        if d <= a or c >= b:
            continue
        if c > a:
            out.append([a, c])
        a = max(a, d)
    if a < b:
        out.append([a, b])
    return out


def _opt_ms(opt):
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def split(jobs: list[dict], phases: dict, tb: float, build_s: float,
          act_s: float) -> dict:
    """The op's wall time ``build_s + act_s`` in parts: job wall, the
    Catalyst phases outside jobs, and the build call's and final
    action's own time; plus ``sum_err``, how far the parts miss it.

    ``jobs`` hold JVM wall-clock ``start``/``end`` seconds, ``phases``
    maps a phase name to its [start, end], and ``tb`` is when the build
    call returned. Each job or phase piece is charged to the call it ran
    in, told apart by its midpoint."""
    J = _union([[j["start"], j["end"]] for j in jobs])
    out = {"job_wall_s": _length(J)}
    pieces = list(J)
    for phase, key in PHASES:
        outside = _minus(phases[phase], J) if phase in phases else []
        out[key] = _length(outside)
        pieces += outside
    in_build = sum(b - a for a, b in pieces if (a + b) / 2 < tb)
    out["build_s"] = max(0.0, build_s - in_build)
    out["job_idle_s"] = max(0.0, act_s - (_length(pieces) - in_build))
    wall = build_s + act_s
    parts = out["build_s"] + out["job_idle_s"] + _length(pieces)
    out["sum_err"] = abs(parts - wall) / wall if wall > 0 else 0.0
    return out


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.dag = jsc.dagScheduler()
        self.first_job = 0

    def begin(self, op: dict) -> None:
        self.sc.setJobGroup(f"op-{op['i']}-{op['template']}", op["template"])
        self.first_job = self.dag.numTotalJobs()

    def end(self, tb: float, build_s: float, act_s: float, df) -> dict:
        """Layer record of the op whose build call took ``build_s``
        seconds and returned at wall-clock time ``tb``, and whose final
        action then took ``act_s`` seconds on final DataFrame ``df`` (or
        None)."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        last = self.dag.numTotalJobs()
        jobs = self._jobs(self.first_job, last)
        stages: dict = {}
        for j in jobs:
            for sid in j["stages"]:
                if sid not in stages:
                    st = self._stage(sid)
                    if st is not None:
                        stages[sid] = st
        rec = {
            "jobs": len(jobs),
            "build_jobs": sum(1 for j in jobs if j["start"] < tb),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages.values()),
            "task_run_s": sum(s["run_s"] for s in stages.values()),
            "task_cpu_s": sum(s["cpu_s"] for s in stages.values()),
            "scan_bytes": sum(s["in"] for s in stages.values()),
            "shuffle_write_bytes": sum(s["sw"] for s in stages.values()),
            "shuffle_read_bytes": sum(s["sr"] for s in stages.values()),
            "spill_bytes": sum(s["spill"] for s in stages.values()),
            "batches": len({m for j in jobs for m in j["batches"]}),
        }
        rec.update(split(jobs, self._phases(df), tb, build_s, act_s))
        return rec

    # ---- status store ---------------------------------------------------
    def _jobs(self, first: int, last: int) -> list[dict]:
        out = []
        for jid in range(first, last):
            for _ in range(200):
                self.bus.waitUntilEmpty()
                try:
                    jd = self.store.job(jid)
                except Exception:  # evicted or never registered
                    jd = None
                    break
                if jd.completionTime().isDefined():
                    break
                time.sleep(0.005)
            if jd is None:
                continue
            desc = jd.description()
            text = desc.get() if desc.isDefined() else ""
            seq = jd.stageIds()
            out.append({
                "start": _opt_ms(jd.submissionTime()),
                "end": _opt_ms(jd.completionTime()),
                "stages": [seq.apply(i) for i in range(seq.length())],
                "batches": _BATCH.findall(text or ""),
            })
        return [j for j in out if j["start"] is not None and j["end"] is not None]

    def _stage(self, sid: int):
        try:
            s = self.store.lastStageAttempt(sid)
        except Exception:  # a skipped stage never ran an attempt
            return None
        if s.status().toString() != "COMPLETE":
            return None
        return {
            "tasks": s.numCompleteTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "in": s.inputBytes(),
            "sw": s.shuffleWriteBytes(),
            "sr": s.shuffleReadBytes(),
            "spill": s.diskBytesSpilled(),
        }

    @staticmethod
    def _phases(df) -> dict:
        if df is None or not hasattr(df, "_jdf"):
            return {}
        summary = df._jdf.queryExecution().tracker().phases()
        out = {}
        for phase, _ in PHASES:
            opt = summary.get(phase)
            if opt.isDefined():
                p = opt.get()
                out[phase] = [p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0]
        return out
