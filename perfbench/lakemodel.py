"""In-memory model of the ``lake_rw`` table.

The model replays the same op list the lake ran and predicts every read
answer, in the normalised form ``execute.py`` records: lookups are
sorted row lists, aggregates are tuples of integers. Prices are kept as
the same float64 values the table holds, so ``floor(price * 100)``
matches Spark's arithmetic exactly.
"""

from __future__ import annotations

import datetime as dt
import math


def _row(r: list) -> tuple:
    k, cust, status, price, day = r
    return (int(k), int(cust), status, float(price), str(day)[:10])


class LakeModel:
    def __init__(self, base_rows: list):
        # key -> (custkey, status, price, "YYYY-MM-DD")
        self.rows = {r[0]: r[1:] for r in map(_row, base_rows)}

    # ---- writes ---------------------------------------------------------
    def apply(self, op: dict) -> None:
        kind, p = op["template"], op["params"]
        if kind == "append":
            for r in map(_row, p["rows"]):
                self.rows[r[0]] = r[1:]
        elif kind == "merge":
            for r in map(_row, p["rows"]):
                old = self.rows.get(r[0])
                if old is None:
                    self.rows[r[0]] = r[1:]
                else:  # WHEN MATCHED UPDATE SET price, status
                    self.rows[r[0]] = (old[0], r[2], r[3], old[3])
        elif kind == "delete":
            idx = 0 if p["col"] == "o_orderkey" else 1
            self.rows = {
                k: v for k, v in self.rows.items()
                if not p["lo"] <= (k, v[0])[idx] <= p["hi"]
            }

    # ---- reads ----------------------------------------------------------
    def answer(self, op: dict):
        kind, p = op["template"], op["params"]
        if kind == "point_lookup":
            v = self.rows.get(p["key"])
            return [] if v is None else [(p["key"], *v)]
        if kind == "read_skipping":
            hit = [v for k, v in self.rows.items() if p["lo"] <= k <= p["hi"]]
            return (len(hit), sum(math.floor(v[2] * 100) for v in hit))
        if kind == "instant_distinct":
            return (len({v[0] for v in self.rows.values()}),)
        if kind == "snapshot_agg":
            agg: dict = {}
            for v in self.rows.values():
                n, c = agg.get(v[1], (0, 0))
                agg[v[1]] = (n + 1, c + math.floor(v[2] * 100))
            return sorted((s, n, c) for s, (n, c) in agg.items())
        return None

    def snapshot(self) -> list[tuple]:
        return sorted((k, *v) for k, v in self.rows.items())


def replay(base_rows: list, ops: list[dict], answers: dict) -> tuple[list, "LakeModel"]:
    """Replay ``ops`` in order; returns (mismatches, final model).

    ``answers`` maps op index -> the answer the lake gave; each
    mismatch is ``(i, template, expected, got)``."""
    model = LakeModel(base_rows)
    bad = []
    for op in ops:
        want = model.answer(op)
        if want is not None and op["i"] in answers and answers[op["i"]] != want:
            bad.append((op["i"], op["template"], want, answers[op["i"]]))
        model.apply(op)
    return bad, model


def day(v) -> str:
    """A table timestamp as the model's ``YYYY-MM-DD`` string."""
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()[:10]
    return str(v)[:10]
