"""tx_point_lookup's two read paths: kept files that fit
``_DRIVER_READ_MAX_BYTES`` are read by the driver with pyarrow and
served as a local relation; larger reads (the constant monkeypatched to
0 here) take the Spark file scan. Both must answer every lookup with
the same rows and the same schema."""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import pytest

from conftest import jobs_run

from parallel_dbms_spark.sources import txlog


def _arrow_rows(df):
    # toArrow, not collect: PySpark's datetime conversion fails for
    # year-1 timestamps
    return sorted(map(repr, df.toArrow().to_pylist()))


def _collect_rows(df):
    return sorted(map(repr, df.collect()))


def _text_rows(df):
    # PySpark collects no YEAR TO MONTH interval (no fromInternal)
    return _collect_rows(df.selectExpr(
        *[f"CAST(`{c}` AS STRING) AS `{c}`" for c in df.columns]
    ))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _both(spark, monkeypatch, table, col, value, version=None,
          rows=_collect_rows, driver=True):
    """Run one lookup at the default gate and with the gate at 0 (the
    Spark scan); assert equal answers, schemas and file counts, and
    that the default took the driver read unless ``driver`` is False;
    return the answer."""
    drv, n_read, n_total = txlog.tx_point_lookup(
        spark, table, col, value, version
    )
    with monkeypatch.context() as m:
        m.setattr(txlog, "_DRIVER_READ_MAX_BYTES", 0)
        scan, n_read2, n_total2 = txlog.tx_point_lookup(
            spark, table, col, value, version
        )
    assert (n_read, n_total) == (n_read2, n_total2)
    assert drv.schema == scan.schema, (col, value)
    got = rows(drv)
    assert got == rows(scan), (col, value)
    if n_read:
        assert ("FileScan" not in _plan(drv)) == driver, (col, value)
        # Spark folds ``col = NULL`` to an empty relation
        assert ("FileScan" in _plan(scan)) == (value is not None), value
    return got


def _df(spark, rows, schema="k long, v string"):
    return spark.createDataFrame(rows, schema)


def _case_dvs(spark, t):
    txlog.tx_append(
        _df(spark, [(i, f"v{i}") for i in range(40)]).repartition(2), t,
        bloom_cols=["k"],
    )
    txlog.tx_delete_where_mor(spark, t, "k % 3 = 0")
    assert txlog.snapshot_dvs(t)
    return [("k", 3, None, 0), ("k", 4, None, 1), ("k", 39, None, 0),
            ("k", 38, None, 1), ("v", "v6", None, 0), ("v", "v7", None, 1)]


def _case_mapping(spark, t):
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b")]), t, bloom_cols=["k"])
    # the renamed column keeps physical name "v"; the re-added "v"
    # mints a fresh one, so a scan resolving "v" by name is wrong
    txlog.tx_rename_column(spark, t, "v", "x")
    txlog.tx_add_column(t, "v", "string")
    txlog.tx_append(
        _df(spark, [(5, "new-x", "new-v")], "k long, x string, v string"),
        t, bloom_cols=["k", "v"],
    )
    return [("k", 1, None, 1), ("k", 5, None, 1), ("x", "a", None, 1),
            ("x", "new-x", None, 1), ("v", "new-v", None, 1),
            ("v", "a", None, 0), ("k", 2, 1, 1), ("v", "b", 1, 1)]


def _case_added_column(spark, t):
    txlog.tx_append(_df(spark, [(1, "a"), (2, "b")]), t, bloom_cols=["k"])
    txlog.tx_append(
        _df(spark, [(3, "c", 0.5)], "k long, v string, w double"), t,
        merge_schema=True, bloom_cols=["k"],
    )
    return [("k", 1, None, 1), ("k", 3, None, 1), ("w", 0.5, None, 1),
            ("k", 2, 1, 1)]


def _case_partitioned(spark, t):
    txlog.tx_append(
        _df(spark, [(i, f"p{i % 3}") for i in range(12)]), t,
        partition_by=["v"], bloom_cols=["k"],
    )
    return [("k", 4, None, 1), ("v", "p2", None, 4), ("v", "p9", None, 0)]


def _case_time_travel(spark, t):
    txlog.tx_append(_df(spark, [(i, "a") for i in range(10)]), t,
                    bloom_cols=["k"])
    txlog.tx_delete_where_mor(spark, t, "k = 4")
    txlog.tx_update_where(spark, t, "k = 5", {"v": "'b'"})
    return [("k", 4, 1, 1), ("k", 4, 2, 0), ("k", 4, None, 0),
            ("v", "b", 2, 0), ("v", "b", None, 1), ("k", 5, 1, 1)]


def _case_null_and_miss(spark, t):
    txlog.tx_append(
        _df(spark, [(1, None), (None, "x"), (2, "y")]), t,
        bloom_cols=["k"],
    )
    return [("k", None, None, 0), ("v", None, None, 0),
            ("k", 10**9, None, 0), ("v", "zzz", None, 0),
            ("k", 2, None, 1), ("v", "x", None, 1)]


def _case_pre_gregorian(spark, t):
    rows = [
        (0, "0001-01-01", "0001-01-01 05:00:00"),
        (1, "1000-01-01", "1582-10-04 12:30:00"),
        (2, "1582-10-15", "1582-10-15 00:00:01"),
        (3, "2024-05-06", "2024-05-06 07:08:09"),
    ]
    values = ", ".join(
        f"({i}, DATE '{d}', TIMESTAMP '{ts}')" for i, d, ts in rows
    )
    txlog.tx_append(
        spark.sql(f"SELECT * FROM VALUES {values} AS t(i, d, ts)")
        .repartition(2),
        t, bloom_cols=["i", "d", "ts"],
    )
    out = []
    for i, d, ts in rows:
        out += [("d", dt.date.fromisoformat(d), None, 1),
                ("ts", dt.datetime.fromisoformat(ts), None, 1),
                ("i", i, None, 1)]
    return out + [("d", dt.date(1, 1, 2), None, 0)]


def _case_key_types(spark, t):
    rows = [
        (1, "a", Decimal("1.50"), 0.0),
        (2, "b", Decimal("-2.25"), -0.0),
        (3, "é", Decimal("1.50"), float("nan")),
        (4, None, None, None),
        (5, "", Decimal("0.00"), 2.5),
    ]
    txlog.tx_append(
        _df(spark, rows, "k int, s string, dec decimal(10,2), x double"),
        t, bloom_cols=["s", "dec", "x"],
    )
    return [("s", "é", None, 1), ("s", "", None, 1), ("s", "A", None, 0),
            ("dec", Decimal("1.5"), None, 2), ("dec", Decimal("0"), None, 1),
            ("x", 0.0, None, 2), ("x", -0.0, None, 2),
            ("x", float("nan"), None, 1), ("x", 2.5, None, 1),
            ("k", 4, None, 1)]


def _case_int96_and_fold(spark, t):
    schema = "k long, ts timestamp, v string"
    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 6)
    # distinct_cols on one integral column stages through the pyarrow
    # fold; the plain append through Spark (INT96 timestamps)
    txlog.tx_append(_df(spark, [(1, ts, "fold"), (2, None, "fold")], schema),
                    t, bloom_cols=["k"], distinct_cols=["k"])
    txlog.tx_append(_df(spark, [(3, ts, "spark"), (4, None, "spark")], schema),
                    t, bloom_cols=["k"])
    return [("k", 1, None, 1), ("k", 3, None, 1), ("ts", ts, None, 2),
            ("v", "spark", None, 2)]


def _case_legacy_rebase(spark, t):
    # files written under Spark's LEGACY (Julian) rebase carry a footer
    # flag; only Spark's reader undoes the rebase, so they take the scan
    spark.conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "LEGACY")
    try:
        txlog.tx_append(
            spark.sql("SELECT 1 AS i, DATE '1000-01-01' AS d"), t,
            bloom_cols=["i"],
        )
    finally:
        spark.conf.unset("spark.sql.parquet.datetimeRebaseModeInWrite")
    return [("i", 1, None, 1), ("d", dt.date(1000, 1, 1), None, 1)]


def _case_day_time_interval(spark, t):
    txlog.tx_append(
        spark.sql("SELECT 1 AS k, INTERVAL '3 04:05:06.7' DAY TO SECOND"
                  " AS dts"), t, bloom_cols=["k"],
    )
    return [("k", 1, None, 1), ("k", 2, None, 0)]


def _case_year_month_interval(spark, t):
    # no Arrow form in PySpark: these files take the Spark scan
    txlog.tx_append(
        spark.sql("SELECT 1 AS k, INTERVAL '2-3' YEAR TO MONTH AS ym"), t,
        bloom_cols=["k"],
    )
    return [("k", 1, None, 1)]


_CASES = {
    "dvs": _case_dvs,
    "mapping": _case_mapping,
    "added_column": _case_added_column,
    "partitioned": _case_partitioned,
    "time_travel": _case_time_travel,
    "null_and_miss": _case_null_and_miss,
    "pre_gregorian": _case_pre_gregorian,
    "key_types": _case_key_types,
    "int96_and_fold": _case_int96_and_fold,
    "legacy_rebase": _case_legacy_rebase,
    "day_time_interval": _case_day_time_interval,
    "year_month_interval": _case_year_month_interval,
}


_SPARK_ONLY = ("legacy_rebase", "year_month_interval")


@pytest.mark.parametrize("case", sorted(_CASES))
def test_driver_read_matches_spark_scan(spark, tmp_path, monkeypatch, case):
    t = str(tmp_path / "t")
    lookups = _CASES[case](spark, t)
    rows = {"pre_gregorian": _arrow_rows,
            "year_month_interval": _text_rows}.get(case, _collect_rows)
    for col, value, version, n in lookups:
        got = _both(spark, monkeypatch, t, col, value, version, rows,
                    driver=case not in _SPARK_ONLY)
        assert len(got) == n, (col, value, version, got)


def test_driver_scan_keeps_rows_after_files_the_key_empties(spark, tmp_path):
    """Files the key pre-filter empties come before the matching one:
    their empty parts must not swallow the rows after them."""
    t = str(tmp_path / "t")
    for k in (1, 2, 3):
        txlog.tx_append(_df(spark, [(k, "x")]), t)
    _, files = txlog.snapshot_files(t)
    schema = txlog.table_schema(t)
    last = [f for f in files if _collect_rows(
        txlog._driver_scan(spark, t, schema, [f], {}, "k", 3)
    )]
    assert len(last) == 1
    order = [f for f in files if f not in last] + last
    got = txlog._driver_scan(spark, t, schema, order, {}, "k", 3)
    assert [r.k for r in got.collect()] == [3]


@pytest.mark.parametrize("with_dvs", [False, True])
def test_driver_lookup_plans_no_scan_and_starts_no_job(
    spark, tmp_path, monkeypatch, with_dvs
):
    t = str(tmp_path / "t")
    txlog.tx_append(_df(spark, [(i, f"v{i}") for i in range(20)]), t,
                    bloom_cols=["k"])
    if with_dvs:
        txlog.tx_delete_where_mor(spark, t, "k = 6")
    df, n_read, _ = txlog.tx_point_lookup(spark, t, "k", 7)
    assert n_read == 1
    plan = _plan(df)
    assert "FileScan" not in plan and "BroadcastExchange" not in plan
    assert jobs_run(spark, df.collect)[1] == 0
    assert [r.k for r in df.collect()] == [7]
    monkeypatch.setattr(txlog, "_DRIVER_READ_MAX_BYTES", 0)
    df, _, _ = txlog.tx_point_lookup(spark, t, "k", 7)
    plan = _plan(df)
    assert "FileScan" in plan
    assert ("BroadcastExchange" in plan) == with_dvs
    assert [r.k for r in df.collect()] == [7]


def test_gate_counts_on_disk_bytes_of_kept_files(spark, tmp_path,
                                                 monkeypatch):
    """The gate sums the kept files' sizes: one byte under their total
    takes the Spark scan, their exact total the driver read."""
    t = str(tmp_path / "t")
    txlog.tx_append(_df(spark, [(i, "x") for i in range(8)]), t)
    _, files = txlog.snapshot_files(t)
    total = sum(os.path.getsize(os.path.join(t, f)) for f in files)
    for limit, scans in ((total, False), (total - 1, True)):
        monkeypatch.setattr(txlog, "_DRIVER_READ_MAX_BYTES", limit)
        df, n_read, _ = txlog.tx_point_lookup(spark, t, "k", 3)
        assert n_read == len(files)
        assert ("FileScan" in _plan(df)) == scans
        assert [r.k for r in df.collect()] == [3]


def test_fold_written_files_round_trip_like_spark_written(
    spark, tmp_path, monkeypatch
):
    """A fold append (one integral distinct column: pyarrow writes the
    files inside the staging job) serves the same values, footer
    stats and lookup answers as a Spark-written twin."""
    schema = (
        "k long, d date, ts timestamp, dec decimal(12,3), "
        "st struct<a:int,b:string>, arr array<bigint>"
    )
    rows = [
        (i, dt.date(2000 + i, 1 + i % 12, 1),
         dt.datetime(2020, 1, 1, 0, 0, i, 123456),
         Decimal(f"{i}.125"), (i, f"s{i}"), [i, i + 1] if i % 3 else None)
        for i in range(12)
    ] + [(None, None, None, None, None, [])]
    fold, classic = str(tmp_path / "fold"), str(tmp_path / "classic")
    df = spark.createDataFrame(rows, schema).repartition(2)
    cols = ["k", "d", "ts", "dec"]
    txlog.tx_append(df, fold, distinct_cols=["k"], bloom_cols=["k"],
                    stats_cols=cols)
    txlog.tx_append(df, classic, bloom_cols=["k"], stats_cols=cols)
    # the fold really wrote these files with pyarrow
    _, ffiles = txlog.snapshot_files(fold)
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(os.path.join(fold, ffiles[0])).metadata.metadata
    assert b"org.apache.spark.version" not in meta
    assert txlog.table_schema(fold) == txlog.table_schema(classic)
    assert _collect_rows(txlog.read_snapshot(spark, fold)) == _collect_rows(
        txlog.read_snapshot(spark, classic)
    )

    def stat_ranges(t):
        st = txlog.snapshot_stats(t)
        return {
            c: (min(s["c"][c][0] for s in st.values()),
                max(s["c"][c][1] for s in st.values()))
            for c in cols if all(c in s["c"] for s in st.values())
        }

    # Spark writes TIMESTAMP as INT96, whose footer stats pyarrow cannot
    # decode, so only the fold's files (TIMESTAMP_MICROS, UTC-adjusted)
    # record a ts range; every range both record is equal
    got, want = stat_ranges(fold), stat_ranges(classic)
    assert set(got) - set(want) == {"ts"}
    assert got["ts"] == ("2020-01-01T00:00:00.123456",
                         "2020-01-01T00:00:11.123456")
    assert {c: got[c] for c in want} == want
    lo, hi = dt.datetime(2020, 1, 1, 0, 0, 3), dt.datetime(2020, 1, 1, 0, 0, 5)
    assert _collect_rows(
        txlog.tx_read_skipping(spark, fold, "ts", lo, hi)[0]
    ) == _collect_rows(txlog.tx_read_skipping(spark, classic, "ts", lo, hi)[0])
    for key in (0, 5, 11, None, 99):
        assert _both(spark, monkeypatch, fold, "k", key) == _both(
            spark, monkeypatch, classic, "k", key
        )
    for col, value in (("ts", dt.datetime(2020, 1, 1, 0, 0, 4, 123456)),
                       ("d", dt.date(2003, 4, 1)),
                       ("dec", Decimal("7.125"))):
        got = _both(spark, monkeypatch, fold, col, value)
        assert got == _both(spark, monkeypatch, classic, col, value)
        assert len(got) == 1, (col, value)
