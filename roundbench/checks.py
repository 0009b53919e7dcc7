"""Output checks, computed apart from the program and run outside the
timed region.

Expected values come from the generated inputs through DuckDB (or
from the registered DuckDB oracles for queries); actual values are
read back from what the program wrote, cast with ``TRY_CAST`` so that a
malformed value shows as a differing row. Every checker returns a list
of problems; an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import os
import tarfile
from collections import Counter

import duckdb
import pyarrow.parquet as pq

# the checkout's own oracle gate, imported unchanged: its DuckDB runner
# and value-hash comparison
from tools import check_oracles


def duck(tables: dict | None = None, parquet_dir: str | None = None):
    """DuckDB connection with in-memory tables and/or views over every
    parquet file of ``parquet_dir``."""
    con = duckdb.connect()
    for name, tab in (tables or {}).items():
        con.register(name, tab)
    if parquet_dir:
        for f in sorted(os.listdir(parquet_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM"
                    f" '{os.path.join(parquet_dir, f)}'"
                )
    return con


def _csv(path: str) -> str:
    return (
        f"read_csv('{path}', delim=';', header=true, all_varchar=true,"
        " quote='\"')"
    )


def diff_rows(label: str, con, got_sql: str, want_sql: str) -> list[str]:
    """Row-multiset difference of two queries with aligned column types."""
    n_extra, n_missing = (
        con.execute(f"SELECT COUNT(*) FROM (({a}) EXCEPT ALL ({b}))").fetchone()[0]
        for a, b in ((got_sql, want_sql), (want_sql, got_sql))
    )
    if n_extra or n_missing:
        return [f"{label}: {n_missing} expected rows missing, {n_extra} unexpected rows"]
    return []


# ------------------------------------------------------------- etl_tasks

LINEITEM_ROW = (
    "SELECT TRY_CAST(l_orderkey AS BIGINT), TRY_CAST(l_partkey AS BIGINT),"
    " TRY_CAST(l_suppkey AS BIGINT), TRY_CAST(l_linenumber AS INT),"
    " TRY_CAST(l_quantity AS DECIMAL(18,2)), TRY_CAST(l_extendedprice AS DECIMAL(18,2)),"
    " TRY_CAST(l_discount AS DECIMAL(18,2)), TRY_CAST(l_tax AS DECIMAL(18,2)),"
    " {flag}, l_linestatus, TRY_CAST(l_shipdate AS DATE) FROM {src}"
)


def check_lineitem_clean(path: str, lineitem) -> list[str]:
    """csv→csv: the filter, the lower-casing and the rename, row by row."""
    con = duck({"li": lineitem})
    got = _csv(path)
    cols = [d[0] for d in con.execute(f"SELECT * FROM {got} LIMIT 0").description]
    want_cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "flag", "l_linestatus",
        "l_shipdate",
    ]
    if cols != want_cols:
        return [f"lineitem_clean: columns {cols}"]
    return diff_rows(
        "lineitem_clean", con,
        LINEITEM_ROW.format(flag="flag", src=got),
        LINEITEM_ROW.format(flag="lower(l_returnflag)", src="li")
        + " WHERE l_quantity >= 10 AND l_discount < 0.08",
    )


ORDERS_ROW = (
    "SELECT TRY_CAST(o_orderkey AS BIGINT), TRY_CAST(o_custkey AS BIGINT), o_orderstatus,"
    " TRY_CAST(o_totalprice AS DECIMAL(18,2)), TRY_CAST(o_orderdate AS DATE),"
    " o_orderpriority FROM {src}"
)


def check_orders_loaded(loaded_pdf, orders) -> list[str]:
    """csv→db: ``loaded_pdf`` is the Derby table as read back over JDBC."""
    con = duck({"got": loaded_pdf, "want": orders})
    return diff_rows(
        "orders_load (Derby)", con,
        ORDERS_ROW.format(src="got"), ORDERS_ROW.format(src="want"),
    )


REVENUE_ROW = (
    "SELECT o_orderpriority, l_returnflag, TRY_CAST(n_lines AS BIGINT),"
    " TRY_CAST(revenue AS DECIMAL(18,2)), TRY_CAST(qty AS DECIMAL(18,2)) FROM {src}"
)


def check_revenue(path: str, wh_dir: str, sql: str) -> list[str]:
    """db→csv: the report against DuckDB running the same SQL."""
    con = duck(parquet_dir=wh_dir)
    return diff_rows(
        "revenue_report", con,
        REVENUE_ROW.format(src=_csv(path)), REVENUE_ROW.format(src=f"({sql})"),
    )


def check_parts(path: str, parts) -> list[str]:
    """xml→csv, row by row."""
    con = duck({"p": parts})
    return diff_rows(
        "parts_xml", con,
        "SELECT TRY_CAST(part_id AS BIGINT), name, brand, TRY_CAST(size AS INT),"
        f" TRY_CAST(price AS DECIMAL(12,2)) FROM {_csv(path)}",
        "SELECT p_partkey, p_name, p_brand, p_size,"
        " CAST(p_retailprice AS DECIMAL(12,2)) FROM p",
    )


EVENTS_ROW = (
    "SELECT event_id, TRY_CAST(ts AS TIMESTAMP), user_id, event_type,"
    " TRY_CAST(value AS DECIMAL(18,2)), props FROM {src}"
)


def check_events(path: str, events) -> list[str]:
    """json→parquet, row by row."""
    con = duck({"got": pq.read_table(path), "want": events})
    return diff_rows(
        "events_json", con, EVENTS_ROW.format(src="got"), EVENTS_ROW.format(src="want")
    )


def read_derby(spark, url: str, driver: str, table: str):
    """The Derby table, read back over JDBC with Spark's own reader."""
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("driver", driver)
        .option("dbtable", table)
        .load()
        .toPandas()
    )


#: the intake gate's score, spelled out from its definition: alpha
#: density, token-length sanity and token variety, rounded to 4 places
INTAKE_SCORE = r"""
    WITH s AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '[A-Za-z]')) :: DOUBLE AS na,
             greatest(length(text) :: DOUBLE, 1.0) AS nc,
             len(regexp_extract_all(text, '\S+')) AS nt,
             len(list_distinct(regexp_extract_all(text, '\S+'))) :: DOUBLE AS nd
      FROM docs)
    SELECT doc_id, nt,
           ROUND(0.5 * (na / nc)
                 + 0.25 * greatest(0.0, 1.0 - (na / greatest(nt, 1.0) - 5.0)
                                   * (na / greatest(nt, 1.0) - 5.0) / 25.0)
                 + 0.25 * (nd / greatest(nt, 1.0)), 4) AS q
    FROM s
"""


def check_intake(accepted, quarantined, docs, min_quality, min_tokens) -> list[str]:
    """Every document lands exactly once, accepted or quarantined, and
    the split follows the gate. A score within 1e-4 of the threshold is
    not judged: its last rounding step may go either way."""
    con = duck({"docs": docs})
    want = dict(
        (i, nt >= min_tokens and q >= min_quality)
        for i, nt, q in con.execute(
            f"SELECT doc_id, nt, q FROM ({INTAKE_SCORE})"
            f" WHERE abs(q - {min_quality}) >= 1e-4 OR nt < {min_tokens}"
        ).fetchall()
    )
    got = Counter({i: 0 for i in docs.column("doc_id").to_pylist()})
    probs = []
    for ids, verdict in ((accepted, True), (quarantined, False)):
        wrong = [i for i in ids if want.get(i, verdict) != verdict]
        if wrong:
            probs.append(
                f"intake: {len(wrong)} docs {'accepted' if verdict else 'quarantined'}"
                f" against the gate, e.g. {wrong[0]}"
            )
        got.update(ids)
    off = {i: n for i, n in got.items() if n != 1}
    if off:
        probs.append(f"intake: {len(off)} docs not landed exactly once, e.g. {off.popitem()}")
    return probs


def _ids(path: str) -> list[int]:
    return pq.read_table(path, columns=["doc_id"]).column("doc_id").to_pylist()


def check_etl(spark, wl) -> list[str]:
    from workloads import (
        DERBY_DRIVER, DERBY_URL, INTAKE_MIN_QUALITY, INTAKE_MIN_TOKENS, REVENUE_SQL,
    )

    out = wl.out
    accepted = _ids(os.path.join(out, "docs_accepted"))
    return (
        check_lineitem_clean(os.path.join(out, "lineitem_clean.csv"), wl.lineitem)
        + check_orders_loaded(
            read_derby(spark, DERBY_URL, DERBY_DRIVER, "orders_stage"), wl.orders
        )
        + check_revenue(os.path.join(out, "revenue.csv"), wl.wh, REVENUE_SQL)
        + check_parts(os.path.join(out, "parts.csv"), wl.parts)
        + check_events(os.path.join(out, "events.parquet"), wl.events)
        + check_intake(
            accepted, _ids(os.path.join(out, "docs_quarantine")), wl.docs,
            INTAKE_MIN_QUALITY, INTAKE_MIN_TOKENS,
        )
        + check_shards(accepted, os.path.join(out, "shards"))
    )


# ------------------------------------------------------------ tar shards


def tar_keys(shard_dir: str) -> Counter:
    """doc_id → number of tar shards whose payload member names it."""
    seen: Counter = Counter()
    for shard in sorted(glob.glob(os.path.join(shard_dir, "*.tar"))):
        with tarfile.open(shard) as tf:
            for m in tf.getmembers():
                if m.name.endswith(".txt"):
                    seen[int(m.name[: -len(".txt")])] += 1
    return seen


def check_shards(packed_ids, shard_dir: str) -> list[str]:
    """Every packed doc_id lands in exactly one tar shard, and the
    shards hold nothing else."""
    seen = tar_keys(shard_dir)
    want = Counter(int(i) for i in packed_ids)
    if not want:
        return ["shards: nothing was packed"]
    probs = []
    missing = [k for k in want if k not in seen]
    dup = [k for k, n in seen.items() if n > 1 or want.get(k, 0) > 1]
    extra = [k for k in seen if k not in want]
    if missing:
        probs.append(f"shards: {len(missing)} packed docs missing, e.g. {missing[0]}")
    if dup:
        probs.append(f"shards: {len(dup)} docs in more than one place, e.g. {dup[0]}")
    if extra:
        probs.append(f"shards: {len(extra)} docs not packed, e.g. {extra[0]}")
    return probs


# ------------------------------------------------------------- query_mix


def check_query(name: str, spark_pdf, con) -> list[str]:
    from dasladen_spark.plans import ORACLES

    want = check_oracles.duck_df(con, ORACLES[name])
    return [f"{name}: {p}" for p in check_oracles.compare(name, spark_pdf, want)]


def check_queries(spark, wl) -> list[str]:
    con = duck(parquet_dir=wl.wh)
    probs = []
    for name, fn in wl.queries.items():
        probs += check_query(name, fn(spark, wl.wh).toPandas(), con)
    return probs
