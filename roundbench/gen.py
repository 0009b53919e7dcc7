"""Seeded input generator for the round benchmark.

Everything the program reads is made here, from ``--seed`` alone, and
before any timed region starts:

- a warehouse directory of parquet tables with the schema of the
  fixture tables (region … embeddings, see the repository's
  TESTDATA.md), at a chosen scale factor;
- the ETL task inputs: a ``;`` CSV of line items, a CSV of orders for
  the JDBC load, an XML file of parts, JSON lines of events and of
  documents.

Value distributions follow the fixture tables: uniform keys, TPC-H
style flags and dates, a 30-word lowercase vocabulary for documents,
unit-norm clustered embeddings. Documents carry planted duplicates
(exact copies and long shared spans) so every gate of the curation
funnel removes something.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join"
    " filter big group hash customer sort order slow line part fast row"
    " the agg key query a scan batch"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n, days):
    return _EPOCH_1995 + rng.integers(0, days, n).astype("timedelta64[D]")


def warehouse(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (sf0.1 has 600 k
    line items, 5 k documents and 2 k embeddings)."""
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_line = n_ord * 4
    n_ev = max(int(1_000_000 * sf), 500)
    n_docs = max(int(50_000 * sf), 200)
    n_emb = max(int(20_000 * sf), 100)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = _rng(seed, 1)
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": SEGMENTS[r.integers(0, 5, n_cust)],
        }
    )
    r = _rng(seed, 2)
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )
    r = _rng(seed, 3)
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": names[r.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": P_TYPES[r.integers(0, 6, n_part)],
            "p_size": r.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
        }
    )
    r = _rng(seed, 4)
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _dates(r, n_ord, 2404),
            "o_orderpriority": PRIORITIES[r.integers(0, 5, n_ord)],
        }
    )
    r = _rng(seed, 5)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
            "l_shipdate": _dates(r, n_line, 2499) + np.timedelta64(1, "D"),
        }
    )
    r = _rng(seed, 6)
    start = np.datetime64("2024-01-01", "us")
    offs = np.sort(r.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": r.integers(0, max(n_ev // 66, 10), n_ev).astype(np.int64),
            "event_type": EVENT_TYPES[r.integers(0, 5, n_ev)],
            "value": np.round(r.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = documents(seed, n_docs)
    r = _rng(seed, 8)
    dim, n_lab = 64, 10
    centers = r.normal(0.0, 1.0, (n_lab, dim))
    labels = r.integers(0, n_lab, n_emb)
    x = centers[labels] + r.normal(0.0, 1.2, (n_emb, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(
                list(x.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": labels.astype(np.int32),
        }
    )
    return t


def documents(seed: int, n: int) -> pa.Table:
    """``n`` documents of 10–100 vocabulary tokens. About 2 % are exact
    copies of an earlier document and about 8 % repeat a long span of
    one, so exact dedup, span dedup and the length and quality gates
    all drop rows."""
    r = _rng(seed, 7)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    kinds = r.random(n)
    for i in range(n):
        if i > 20 and kinds[i] < 0.02:
            texts.append(texts[int(r.integers(0, i))])
            continue
        toks = list(vocab[r.integers(0, len(vocab), int(r.integers(10, 101)))])
        if i > 20 and kinds[i] < 0.10:
            donor = texts[int(r.integers(0, i))].split(" ")
            k = max(len(donor) * 2 // 3, 8)
            toks = donor[:k] + toks[: max(len(toks) - k, 0)] + ["dup"]
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[r.choice(5, n, p=LANG_P)],
            "source": [f"src{k}" for k in r.integers(0, 20, n)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def write_warehouse(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def _as_strings(tab: pa.Table) -> pa.Table:
    """Every column rendered as text, the way a CSV export has it."""
    cols = []
    for c in tab.columns:
        if pa.types.is_timestamp(c.type):
            c = pc.strftime(c, format="%Y-%m-%d")
        cols.append(pc.cast(c, pa.string()))
    return pa.table(cols, names=tab.column_names)


def write_csv(tab: pa.Table, path: str) -> None:
    pacsv.write_csv(
        _as_strings(tab),
        path,
        pacsv.WriteOptions(delimiter=";", quoting_style="none"),
    )


def write_xml(tab: pa.Table, path: str) -> None:
    """One ``<part>`` element per row, the key as an attribute and the
    other fields as child elements."""
    d = tab.to_pydict()
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("<parts>\n")
        for k, name, brand, size, price in zip(
            d["p_partkey"], d["p_name"], d["p_brand"], d["p_size"],
            d["p_retailprice"],
        ):
            fh.write(
                f'<part id="{k}"><name>{name}</name><brand>{brand}</brand>'
                f"<size>{size}</size><price>{price:.2f}</price></part>\n"
            )
        fh.write("</parts>\n")


def write_jsonl(tab: pa.Table, path: str) -> None:
    d = tab.to_pydict()
    cols = list(d)
    with open(path, "w", encoding="utf-8") as fh:
        for row in zip(*d.values()):
            rec = {
                c: (v.isoformat(sep=" ") if hasattr(v, "isoformat") else v)
                for c, v in zip(cols, row)
            }
            fh.write(json.dumps(rec) + "\n")
