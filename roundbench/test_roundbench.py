"""Self-tests of the benchmark: each output check rejects a corrupted
output, and the event-log parser attributes jobs to the operation that
ran them. No Spark session is started.

    python3 -m pytest roundbench -q
"""

from __future__ import annotations

import io
import os
import sys
import tarfile
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
import measure  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def wh():
    return gen.warehouse(11, 0.001)


def _write_csv_rows(path, header, rows):
    with open(path, "w") as fh:
        fh.write(";".join(header) + "\n")
        for r in rows:
            fh.write(";".join(str(v) for v in r) + "\n")


def _drop_and_change(rows, col):
    """Two corruptions of a row list: one row dropped, one value changed."""
    dropped = rows[1:]
    changed = [list(r) for r in rows]
    v = changed[0][col]
    changed[0][col] = v + 1 if isinstance(v, (int, float, Decimal)) else f"{v}x"
    return dropped, changed


def _assert_rejects(check, rows, col):
    assert check(rows) == []
    for bad in _drop_and_change(rows, col):
        assert check(bad), "a corrupted output passed the check"


def test_lineitem_check(tmp_path, wh):
    li = wh["lineitem"]
    con = checks.duck({"li": li})
    header = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "flag", "l_linestatus",
        "l_shipdate",
    ]
    rows = con.execute(
        "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,"
        " l_extendedprice, l_discount, l_tax, lower(l_returnflag),"
        " l_linestatus, strftime(l_shipdate, '%Y-%m-%d') FROM li"
        " WHERE l_quantity >= 10 AND l_discount < 0.08"
    ).fetchall()
    path = str(tmp_path / "out.csv")

    def check(rs):
        _write_csv_rows(path, header, rs)
        return checks.check_lineitem_clean(path, li)

    _assert_rejects(check, rows, 5)
    _assert_rejects(check, rows, 7)


def test_orders_check(wh):
    orders = wh["orders"]
    rows = orders.to_pandas()

    def check(rs):
        import pandas as pd

        return checks.check_orders_loaded(
            pd.DataFrame(rs, columns=rows.columns), orders
        )

    _assert_rejects(check, rows.values.tolist(), 3)


def test_revenue_check(tmp_path, wh):
    whdir = str(tmp_path / "wh")
    gen.write_warehouse({"lineitem": wh["lineitem"], "orders": wh["orders"]}, whdir)
    con = checks.duck(parquet_dir=whdir)
    rows = con.execute(workloads.REVENUE_SQL).fetchall()
    header = ["o_orderpriority", "l_returnflag", "n_lines", "revenue", "qty"]
    path = str(tmp_path / "revenue.csv")

    def check(rs):
        _write_csv_rows(path, header, rs)
        return checks.check_revenue(path, whdir, workloads.REVENUE_SQL)

    _assert_rejects(check, rows, 3)


def test_parts_check(tmp_path, wh):
    parts = wh["part"]
    d = parts.to_pydict()
    rows = list(zip(d["p_partkey"], d["p_name"], d["p_brand"], d["p_size"],
                    d["p_retailprice"]))
    path = str(tmp_path / "parts.csv")

    def check(rs):
        _write_csv_rows(path, ["part_id", "name", "brand", "size", "price"], rs)
        return checks.check_parts(path, parts)

    _assert_rejects(check, rows, 4)


def test_events_check(tmp_path, wh):
    events = wh["events"]
    path = str(tmp_path / "events.parquet")

    def check(rs):
        tab = pa.Table.from_pylist(
            [dict(zip(events.column_names, r)) for r in rs], events.schema
        )
        pq.write_table(tab, path)
        return checks.check_events(path, events)

    rows = [tuple(r.values()) for r in events.to_pylist()]
    _assert_rejects(check, rows, 5)
    _assert_rejects(check, rows, 4)


def test_intake_check(wh):
    docs = wh["documents"]
    con = checks.duck({"docs": docs})
    verdict = {
        i: nt >= 25 and q >= 0.76
        for i, nt, q in con.execute(
            f"SELECT doc_id, nt, q FROM ({checks.INTAKE_SCORE})"
        ).fetchall()
    }
    acc = [i for i, ok in verdict.items() if ok]
    rej = [i for i, ok in verdict.items() if not ok]
    assert acc and rej
    assert checks.check_intake(acc, rej, docs, 0.76, 25) == []
    assert checks.check_intake(acc[1:], rej, docs, 0.76, 25)  # lost a doc
    assert checks.check_intake(acc + rej[:1], rej[1:], docs, 0.76, 25)  # misrouted
    assert checks.check_intake(acc, rej + acc[:1], docs, 0.76, 25)  # landed twice


def _tar(path, keys):
    with tarfile.open(path, "w") as tf:
        for k in keys:
            data = b"text"
            info = tarfile.TarInfo(f"{k}.txt")
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))


def test_shard_check(tmp_path):
    ids = list(range(20))
    _tar(tmp_path / "shard-00000.tar", ids[:10])
    _tar(tmp_path / "shard-00001.tar", ids[10:])
    assert checks.check_shards(ids, str(tmp_path)) == []
    assert checks.check_shards(ids + [99], str(tmp_path))  # a packed doc missing
    assert checks.check_shards(ids[1:], str(tmp_path))  # a doc not packed
    _tar(tmp_path / "shard-00002.tar", ids[:1])
    assert checks.check_shards(ids, str(tmp_path))  # a doc in two shards


def test_query_check(tmp_path, wh):
    whdir = str(tmp_path / "wh")
    gen.write_warehouse(wh, whdir)
    from dasladen_spark.plans import ORACLES

    con = checks.duck(parquet_dir=whdir)
    want = checks.check_oracles.duck_df(con, ORACLES["q1_pricing_summary"])
    assert checks.check_query("q1_pricing_summary", want.copy(), con) == []
    assert checks.check_query("q1_pricing_summary", want.iloc[1:].copy(), con)
    changed = want.copy()
    changed.iloc[0, changed.columns.get_loc("sum_qty")] += 1
    assert checks.check_query("q1_pricing_summary", changed, con)


def _task_end(stage, run_ms, shuffle_w, py_ms=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [
            {"Name": "time to run Python workers", "Update": py_ms}]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
            "JVM GC Time": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Input Metrics": {"Bytes Read": 0},
        },
    }


def _job(jid, stages, group, t0, t1):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
    ]


def test_event_log_attribution():
    ops = [
        {"group": "rb-1-0", "name": "a", "round": 1, "start": 100.0, "end": 102.0},
        {"group": "rb-1-1", "name": "b", "round": 1, "start": 102.0, "end": 106.0},
    ]
    events = (
        _job(0, [0], "rb-1-0", 100_500, 101_500)  # op a, by group
        + _job(1, [1, 2], "rb-1-1/docs_intake", 102_500, 103_500)  # op b, task group
        + _job(2, [3], None, 104_000, 105_000)  # op b, by time (a streaming job)
        + _job(3, [4], "rb-check", 107_000, 108_000)  # no operation
        + [_task_end(0, 400, 2**20), _task_end(0, 400, 2**20, py_ms=250),
           _task_end(1, 1000, 0), _task_end(3, 500, 0), _task_end(4, 900, 0)]
    )
    jobs = measure.attribute_jobs(events, ops)
    assert {j: op["name"] for j, op in jobs.items()} == {0: "a", 1: "b", 2: "b"}
    res = measure.spark_layers(events, ops, cores=4)
    a, b = res[id(ops[0])], res[id(ops[1])]
    assert (a["spark.jobs"], a["spark.tasks"], b["spark.jobs"], b["spark.tasks"]) == (1, 2, 2, 2)
    assert a["spark.shuffle_write_mb"] == pytest.approx(2.0)
    assert a["spark.python_run_s"] == pytest.approx(0.25)
    # op a: 2 s of wall, 1 s under a job, 4 cores x 1 s - 0.8 s of task time
    assert a["driver.nojob_s"] == pytest.approx(1.0)
    assert a["spark.idle_core_s"] == pytest.approx(3.2)
    assert b["driver.nojob_s"] == pytest.approx(2.0)
