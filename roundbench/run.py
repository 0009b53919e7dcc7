"""Round-timed benchmark of sparkladen.

Run from the repository root:

    python3 roundbench/run.py --workload etl_tasks --seed 1 --seconds 10 --trace 0

One fresh process, one Spark session on ``local[<cores>]``, one client
in a closed loop: rounds run back to back and every round is the same
fixed list of operations. The first round is reported on its own as
the cold round; after one warm-up round, measured rounds follow until
``--seconds`` of them have run. The outputs of the last round are then
checked against computations made apart from the program. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import layers
import measure
import workloads

ROOT = os.getcwd()

#: rounds after the cold one that are run but not measured: the first
#: warm round still pays for JIT compilation (20-30 % more CPU time
#: than the next one)
WARMUP = 1
#: measured rounds a run always makes, however long they take
MIN_WARM = 3
#: no new round starts after this many seconds of the run
DEADLINE_S = 140.0


def log(msg: str) -> None:
    print(f"roundbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def metric_units() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def stop_jvm(spark) -> None:
    """Stop the session, then the driver JVM, and wait until it ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on end of input
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_for_children(pid: int, timeout: float = 30.0) -> None:
    end = time.time() + timeout
    while time.time() < end and len(measure.process_tree(pid)) > 1:
        time.sleep(0.1)


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.pid = os.getpid()
        self.wl = workloads.WORKLOADS[args.workload](args.seed, work)
        self.attempted = 0
        self.failed = 0
        self.ops: list[dict] = []
        self.timers = None
        self.group = ""

    # ------------------------------------------------------------ set-up

    def conf(self) -> dict:
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            # -Xms: a fixed initial heap. Left to grow, the heap reached
            # 0.6 GB in one process and 2.5 GB in another by the end of
            # the cold round, with 3x the collections and 20 % slower
            # rounds in the small-heap processes.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work}/tmp"
                f" -Dderby.system.home={self.work} -Xms2g"
            ),
        }
        if self.args.trace:
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self) -> None:
        """Import the program, start its session (the driver JVM
        included), import the query registry and prepare the workload:
        what a fresh process pays before its first round."""
        t0 = time.perf_counter()
        from dasladen_spark.session import get_spark

        self.spark = get_spark(app_name="roundbench", extra_conf=self.conf())
        t1 = time.perf_counter()
        import dasladen_spark.plans  # noqa: F401  (the query registry)

        t2 = time.perf_counter()
        self.wl.prepare(self.spark)
        self.setup_s = time.perf_counter() - t0
        self.session_start_s = t1 - t0
        self.plans_import_s = t2 - t1

    # ------------------------------------------------------------ rounds

    def run_round(self, r: int) -> dict:
        self.wl.before_round()
        ops = self.wl.ops()
        sc = self.spark.sparkContext
        cpu0 = measure.tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        for i, (name, fn) in enumerate(ops):
            self.group = f"rb-{r}-{i}"
            if self.args.trace:
                sc.setJobGroup(self.group, name)
            start = time.time()
            self.attempted += 1
            try:
                fn()
            except Exception:  # noqa: BLE001 - counted, reported, run goes on
                self.failed += 1
                log(f"round {r} op {name} failed:\n{traceback.format_exc()}")
            self.ops.append({"group": self.group, "name": name, "round": r,
                             "start": start, "end": time.time()})
        wall = time.perf_counter() - t0
        cpu = measure.tree_cpu_s(self.pid) - cpu0
        if self.timers is not None:
            self.timers.end_round()
        py_mb = measure.python_rss_mb(self.pid)
        log(f"round {r}: {wall:.3f} s wall, {cpu:.2f} s cpu, python {py_mb:.0f} MB")
        return {"wall": wall, "cpu": cpu, "py_mb": py_mb}

    def rounds(self, t_run0: float) -> None:
        if self.args.trace:
            self.timers = measure.Timers(lambda: self.group)
            self.wl.timer = self.timers.add
            measure.install_layer_timers(self.timers, self.spark)
        self.cold = self.run_round(0)
        self.rounds_seen = [self.cold] + [
            self.run_round(r) for r in range(1, 1 + WARMUP)
        ]
        self.warm: list[dict] = []
        measured = 0.0
        while measured < self.args.seconds or len(self.warm) < MIN_WARM:
            last = self.rounds_seen[-1]["wall"]
            if time.perf_counter() - t_run0 + last > DEADLINE_S:
                log("deadline reached, no further rounds")
                break
            w = self.run_round(len(self.rounds_seen))
            self.rounds_seen.append(w)
            self.warm.append(w)
            measured += w["wall"]
        # one full collection, after the last round, so no round runs
        # on a heap the benchmark itself has just compacted
        self.jvm_mb = measure.jvm_live_mb(self.spark)

    # ----------------------------------------------------------- results

    def end_to_end(self) -> dict:
        walls = [w["wall"] for w in self.warm]
        return {
            "setup_s": self.setup_s,
            "cold_round_s": self.cold["wall"],
            "rows_per_s": self.wl.input_rows / statistics.median(walls),
            "cpu_s": statistics.median(w["cpu"] for w in self.warm),
            "peak_mem_mb": self.jvm_mb
            + max(w["py_mb"] for w in self.rounds_seen),
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    t_run0 = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "dasladen_spark", "__init__.py")):
        log("dasladen_spark/ not found: run from the repository root")
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2
    e2e_units, layer_units = metric_units()
    work = os.path.join(ROOT, ".roundbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every scratch file of Spark, Derby and Python stays in the work dir
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.chdir(work)
    bench = Bench(args, work)
    spark = None
    try:
        bench.wl.make_inputs()
        import pyspark.sql  # noqa: F401  (not part of the program's set-up)

        log(f"inputs made at {time.perf_counter() - t_run0:.1f} s")
        bench.setup()
        spark = bench.spark
        log(f"set up at {time.perf_counter() - t_run0:.1f} s")
        bench.rounds(t_run0)
        log(f"rounds done at {time.perf_counter() - t_run0:.1f} s")
        spark.sparkContext.setJobGroup("rb-check", "output checks")
        problems = bench.wl.check(spark)
        log(f"checked at {time.perf_counter() - t_run0:.1f} s")
        for p in problems:
            log(f"CHECK FAILED: {p}")
        if args.trace:
            stop_jvm(spark)  # flushes the event log
            spark = None
            values = layers.per_layer(bench, list(layer_units))
            units = layer_units
            artifact = os.path.join(
                ROOT, ".roundbench", f"trace-{args.workload}-seed{args.seed}.json"
            )
            with open(artifact, "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "per_layer": values, "ops": bench.ops,
                           "spans": bench.timers.spans}, fh, indent=1)
            log(f"trace written to {artifact}")
        else:
            values = bench.end_to_end()
            units = e2e_units
    except Exception:  # noqa: BLE001 - no result line on a broken run
        log(traceback.format_exc())
        return 1
    finally:
        if spark is not None:
            stop_jvm(spark)
        wait_for_children(os.getpid())
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        log(f"stopped at {time.perf_counter() - t_run0:.1f} s")
        try:
            os.rmdir(os.path.join(ROOT, ".roundbench"))
        except OSError:
            pass
    result = {
        "correct": not problems,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            k: {"value": values[k], "unit": units[k]} for k in units
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
