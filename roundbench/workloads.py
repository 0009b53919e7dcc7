"""The workloads: inputs, the fixed list of operations in one round,
and the output checks.

Each workload object has

- ``make_inputs()``: writes its seeded inputs (untimed);
- ``prepare(spark)``: the program-side setup the rounds share, such as
  building the task runners (timed as part of set-up);
- ``ops()``: the operations of one round, as ``(name, fn)``;
- ``before_round()``: untimed housekeeping before each round;
- ``check(spark)``: compares the last round's outputs with computations
  made apart from the program, returning a list of problems;
- ``input_rows``: the input rows one round reads.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import gen

# Sizes, chosen so that a warm round takes a few seconds on 4 cores
# (see README.md for the measured make-up).
ETL_SF = 0.01  # lineitem 60 k, orders 15 k, parts 2 k, events 10 k, documents 500
ETL_ORDERS_TO_DB = 10_000
ETL_DOC_FILES = 4
INTAKE_MIN_QUALITY = 0.76
INTAKE_MIN_TOKENS = 25
QUERY_SF = 0.01  # lineitem 60 k, orders 15 k, documents 500, embeddings 200

QUERY_MIX = (
    "q1_pricing_summary",  # scan + aggregate
    "q3_shipping_priority",  # 3-way join + top-k
    "q_window_topk_per_group",  # window
    "dedup_minhash_lsh",  # MinHash dedup
    "ann_ivf_topk",  # ANN / IVF
    "text_quality",  # text scoring
)

#: fixture tables each query reads (from its oracle's FROM clauses)
QUERY_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "lineitem", "orders"),
    "q_window_topk_per_group": ("orders",),
    "dedup_minhash_lsh": ("documents",),
    "ann_ivf_topk": ("embeddings",),
    "text_quality": ("documents",),
}

DERBY_URL = "jdbc:derby:memory:roundbench;create=true"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

REVENUE_SQL = (
    "SELECT o_orderpriority, l_returnflag, COUNT(*) AS n_lines,"
    " SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS revenue,"
    " SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " WHERE o_orderstatus <> 'P'"
    " GROUP BY o_orderpriority, l_returnflag"
)


class EtlTasks:
    """One reference-shaped task file: csv→csv, csv→db (Derby),
    db→csv (join + GROUP BY on a parquet connection), xml→csv,
    json→parquet, then a streaming intake of document drops and a
    parquet→tar shard export of what it accepted."""

    name = "etl_tasks"

    def __init__(self, seed: int, root: str):
        self.seed = seed
        self.inp = os.path.join(root, "input")
        self.out = os.path.join(root, "output")
        self.wh = os.path.join(root, "warehouse")
        self.drops = os.path.join(self.inp, "drops")

    def make_inputs(self) -> None:
        os.makedirs(self.drops)
        os.makedirs(self.out)
        t = gen.warehouse(self.seed, ETL_SF)
        self.lineitem = t["lineitem"]
        self.orders = t["orders"].slice(0, ETL_ORDERS_TO_DB)
        self.parts = t["part"]
        self.events = t["events"]
        self.docs = t["documents"].select(["doc_id", "text", "lang", "source"])
        gen.write_warehouse({"lineitem": t["lineitem"], "orders": t["orders"]}, self.wh)
        files = {
            "lineitem_clean": os.path.join(self.inp, "lineitem.csv"),
            "orders_load": os.path.join(self.inp, "orders.csv"),
            "parts_xml": os.path.join(self.inp, "parts.xml"),
            "events_json": os.path.join(self.inp, "events.jsonl"),
        }
        gen.write_csv(self.lineitem, files["lineitem_clean"])
        gen.write_csv(self.orders, files["orders_load"])
        gen.write_xml(self.parts, files["parts_xml"])
        gen.write_jsonl(self.events, files["events_json"])
        step = -(-self.docs.num_rows // ETL_DOC_FILES)
        for i in range(ETL_DOC_FILES):
            gen.write_jsonl(
                self.docs.slice(i * step, step),
                os.path.join(self.drops, f"drop-{i}.json"),
            )
        self.input_rows = (
            2 * self.lineitem.num_rows  # csv→csv, and the db→csv join
            + self.orders.num_rows
            + t["orders"].num_rows
            + self.parts.num_rows
            + self.events.num_rows
            + self.docs.num_rows
        )
        #: task → bytes of the text file it reads
        self.input_bytes = {k: os.path.getsize(p) for k, p in files.items()}

    def task_file(self) -> dict:
        return {
            "connections": [
                {"name": "derby", "driver": "JDBC", "url": DERBY_URL,
                 "jdbc_driver": DERBY_DRIVER},
                {"name": "warehouse", "driver": "parquet", "path": self.wh},
            ],
            "tasks": [
                {"name": "lineitem_clean", "type": "csv-csv",
                 "source": {"file": "lineitem.csv", "delimiter": ";"},
                 "transform": {
                     "convert": [["l_quantity", "float"],
                                 ["l_extendedprice", "float"],
                                 ["l_discount", "float"],
                                 ["l_returnflag", "lower"]],
                     "filter": "{l_quantity} >= 10 and {l_discount} < 0.08",
                     "rename": [["l_returnflag", "flag"]]},
                 "target": {"file": "lineitem_clean.csv", "truncate": True}},
                {"name": "orders_load", "type": "csv-db",
                 "source": {"file": "orders.csv", "delimiter": ";"},
                 "transform": {
                     "convert": [["o_orderkey", "int"], ["o_custkey", "int"],
                                 ["o_totalprice", "float"]]},
                 "target": {"connection": "derby", "table": "orders_stage",
                            "truncate": True}},
                {"name": "revenue_report", "type": "db-csv",
                 "source": {"connection": "warehouse", "command": REVENUE_SQL},
                 "target": {"file": "revenue.csv", "truncate": True}},
                {"name": "parts_xml", "type": "xml-csv",
                 "source": {"file": "parts.xml", "row": "part",
                            "mapping": {"part_id": "@id", "name": "name",
                                        "brand": "brand", "size": "size",
                                        "price": "price"}},
                 "target": {"file": "parts.csv", "truncate": True}},
                {"name": "events_json", "type": "json-parquet",
                 "source": {"file": "events.jsonl"},
                 "target": {"file": "events.parquet", "truncate": True}},
                {"name": "docs_intake", "type": "intake", "gate": "quality",
                 "min_quality": INTAKE_MIN_QUALITY,
                 "min_tokens": INTAKE_MIN_TOKENS,
                 "source": {"folder": self.drops},
                 "target": {"file": "docs_accepted"},
                 "quarantine": {"file": "docs_quarantine"}},
                {"name": "docs_shards", "type": "parquet-tar",
                 "source": {"file": "docs_accepted", "folder": self.out},
                 "target": {"file": "shards", "n_shards": 4,
                            "key_field": "doc_id", "payload_field": "text",
                            "ext": "txt", "meta_fields": ["lang", "quality"]}},
            ],
        }

    def prepare(self, spark) -> None:
        from dasladen_spark.runner.taskrun import Runner, TaskRunner

        cfg = self.task_file()
        with open(os.path.join(self.inp, "tasks.json"), "w") as fh:
            json.dump(cfg, fh, indent=1)
        # one runner per task: a failing task is counted on its own
        # and never keeps the later tasks of the round from running
        self.runners = [
            (task["name"], TaskRunner(
                spark,
                Runner({"connections": cfg["connections"], "tasks": [task]}),
                input_path=self.inp, output_path=self.out,
                module_path=self.inp, log=lambda m: None))
            for task in cfg["tasks"]
        ]

    def before_round(self) -> None:
        # the intake drains each drop once per checkpoint: start every
        # round from an empty intake area, so each round does the same
        for name in os.listdir(self.out):
            if name.startswith(("docs_", "_ck_", "shards")):
                shutil.rmtree(os.path.join(self.out, name))

    def ops(self):
        return [(name, tr.run) for name, tr in self.runners]

    def output_dirs(self) -> list[str]:
        return [self.out]

    def check(self, spark) -> list[str]:
        import checks

        return checks.check_etl(spark, self)


class QueryMix:
    """Registered queries, each built by the driver and computed in
    full through the no-op sink."""

    name = "query_mix"
    #: the traced run points this at its timers
    timer = staticmethod(lambda layer, start, end: None)

    def __init__(self, seed: int, root: str):
        self.seed = seed
        self.wh = os.path.join(root, "warehouse")

    def make_inputs(self) -> None:
        t = gen.warehouse(self.seed, QUERY_SF)
        gen.write_warehouse(t, self.wh)
        self.input_rows = sum(
            t[tab].num_rows for q in QUERY_MIX for tab in QUERY_TABLES[q]
        )
        self.input_bytes = {}

    def prepare(self, spark) -> None:
        from dasladen_spark.plans import QUERIES

        self.spark = spark
        self.queries = {q: QUERIES[q] for q in QUERY_MIX}

    def before_round(self) -> None:
        pass

    def _op(self, name: str):
        def run() -> None:
            t0 = time.time()
            df = self.queries[name](self.spark, self.wh)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            self.timer("plans.build_s", t0, t1)
            self.timer("plans.exec_s", t1, time.time())

        return run

    def ops(self):
        return [(q, self._op(q)) for q in QUERY_MIX]

    def output_dirs(self) -> list[str]:
        return []

    def check(self, spark) -> list[str]:
        import checks

        return checks.check_queries(spark, self)


WORKLOADS = {w.name: w for w in (EtlTasks, QueryMix)}
