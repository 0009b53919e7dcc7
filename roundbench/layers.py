"""Per-layer metrics of a traced run, each the median over warm rounds
of its per-round value. A layer the workload never enters reads 0."""

from __future__ import annotations

import glob
import os
import statistics
from collections import defaultdict
from datetime import datetime

import measure


def _dir_mb(paths) -> float:
    total = 0
    for p in paths:
        for dirpath, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2**20


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def per_layer(bench, names) -> dict:
    warm = range(len(bench.rounds_seen) - len(bench.warm), len(bench.rounds_seen))
    per_round: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))

    for r, timed in enumerate(bench.timers.rounds):
        for key, s in timed.items():
            per_round[key][r] += s

    log = sorted(glob.glob(os.path.join(bench.work, "eventlog", "*")))[-1]
    events = measure.read_event_log(log)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = measure.spark_layers(events, bench.ops, cores)
    # read amplification over the tasks that read a text file (CSV,
    # XML, JSON): bytes their Spark tasks read ÷ bytes of those files
    text_bytes = sum(bench.wl.input_bytes.values())
    for op in bench.ops:
        op["spark"] = dict(spark.get(id(op), {}))
        for key, v in op["spark"].items():
            per_round[key][op["round"]] += v
        if op["name"] in bench.wl.input_bytes:
            per_round["sources.read_amp"][op["round"]] += (
                op["spark"].get("spark.input_mb", 0.0) * 2**20 / text_bytes
            )
    for p in measure.streaming_progress(events):
        t = _epoch(p["timestamp"])
        op = next((o for o in bench.ops if o["start"] <= t <= o["end"]), None)
        if op is None:
            continue
        per_round["streaming.batches"][op["round"]] += 1
        # the event log stores the per-source counts, not their sum
        per_round["streaming.input_rows"][op["round"]] += sum(
            src.get("numInputRows", 0) for src in p.get("sources", ())
        )
        per_round["streaming.batch_s"][op["round"]] += (
            p.get("durationMs", {}).get("triggerExecution", 0) / 1e3
        )

    out = {
        k: statistics.median(rounds.get(r, 0.0) for r in warm)
        for k, rounds in per_round.items()
    }
    out["session.start_s"] = bench.session_start_s
    out["plans.import_s"] = bench.plans_import_s
    out["sinks.output_mb"] = _dir_mb(bench.wl.output_dirs())
    return {k: float(out.get(k, 0.0)) for k in names}
