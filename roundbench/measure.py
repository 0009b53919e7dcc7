"""Measurement helpers: process-tree CPU and memory from /proc, timers
wrapped around the program's public calls, and the Spark event-log
parser that splits each operation into jobs, stages and tasks.

Nothing here edits the program: the timers replace module attributes
in this process only, and only in the traced run.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------------ /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rfind(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children[int(st[1])].append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the tree: user + system of every live process,
    plus what each has collected from children that already ended."""
    total = 0
    for pid in process_tree(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def python_rss_mb(root: int) -> float:
    """Resident memory of the tree's Python processes: the driver and
    the Python workers."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if not fh.read().startswith("python"):
                    continue
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total / 2**20


def jvm_live_mb(spark) -> float:
    """The driver JVM's live memory: heap in use right after a full
    collection, plus non-heap (metaspace, code cache) in use."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    bean = mx.getMemoryMXBean()
    bean.gc()
    used = bean.getHeapMemoryUsage().getUsed()
    used += bean.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


# ----------------------------------------------------------------- timers


class Timers:
    """Spans recorded around the program's calls: the layer, the
    operation that caused the call (its job group), start and end in
    epoch seconds. Also sums each layer's seconds per round."""

    def __init__(self, current_op):
        self.current_op = current_op
        self.spans: list[dict] = []
        self.rounds: list[dict[str, float]] = []
        self._round: dict[str, float] = defaultdict(float)

    def add(self, layer: str, start: float, end: float) -> None:
        self.spans.append(
            {"layer": layer, "op": self.current_op(), "start": start, "end": end}
        )
        self._round[layer] += end - start

    def end_round(self) -> None:
        self.rounds.append(dict(self._round))
        self._round = defaultdict(float)

    def wrap(self, owner, attr: str, layer_fn) -> None:
        """Replace ``owner.attr`` by a timed call; ``layer_fn(args)``
        names the layer, or returns None to leave the call untimed."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            layer = layer_fn(args)
            t0 = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                if layer:
                    self.add(layer, t0, time.time())

        setattr(owner, attr, timed)


def install_layer_timers(timers: Timers, spark) -> None:
    """Timers around the calls the task runner makes into each module.
    Each task also gets its own Spark job group, so its jobs can be
    found in the event log."""
    from dasladen_spark import connections, tasks

    def kind(args, pos):
        return args[1]["type"].split("-")[pos]

    timers.wrap(tasks, "_read_source", lambda a: f"sources.read_s.{kind(a, 0)}")
    timers.wrap(tasks, "_write_sink", lambda a: f"sinks.write_s.{kind(a, -1)}")
    timers.wrap(tasks, "apply_transforms", lambda a: "transforms.compile_s")
    timers.wrap(
        connections.Connection, "write_table",
        lambda a: "connections.jdbc_write_s" if a[0].is_jdbc else None,
    )
    timers.wrap(
        connections.Connection, "read_sql", lambda a: "connections.read_sql_s"
    )
    sc = spark.sparkContext
    for ttype, fn in list(tasks.TASK_TYPES.items()):

        def run_task(ctx, task, _fn=fn):
            name = task.get("name")
            sc.setJobGroup(f"{timers.current_op()}/{name}", f"task {name}")
            t0 = time.time()
            try:
                return _fn(ctx, task)
            finally:
                timers.add(f"tasks.wall_s.{name}", t0, time.time())

        tasks.TASK_TYPES[ttype] = run_task


# --------------------------------------------------------------- eventlog

PY_TIME_NAMES = ("time to run Python workers",)  # a timing metric, in ms
PY_SENT_NAMES = ("data sent to Python workers",)


def read_event_log(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _union_s(intervals) -> float:
    """Length in seconds of the union of (start_ms, end_ms) spans."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def attribute_jobs(events: list[dict], ops: list[dict]) -> dict[int, dict]:
    """Map each Spark job id to the operation that ran it.

    ``ops`` are dicts with ``group`` (the job group the benchmark set),
    ``start`` and ``end`` (epoch seconds). A job whose group is an
    operation's group, or ``<group>/<task>`` for a task inside it, goes
    to that operation; a job without one (a streaming query's own jobs
    run under the query's id) goes to the operation whose time window
    holds its submission."""
    by_group = {op["group"]: op for op in ops}
    out = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
        op = by_group.get(group.split("/")[0])
        if op is None:
            t = ev["Submission Time"] / 1000.0
            op = next((o for o in ops if o["start"] <= t <= o["end"]), None)
        if op is not None:
            out[ev["Job ID"]] = op
    return out


def _acc(task_info: dict, names) -> float:
    total = 0.0
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") in names:
            try:
                total += float(a.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return total


def spark_layers(events: list[dict], ops: list[dict], cores: int) -> dict[int, dict]:
    """Per operation (keyed by ``id(op)``): Spark job, stage and task
    counts, executor time, shuffle, spill, Python-worker time and the
    driver time no job covered."""
    job_op = attribute_jobs(events, ops)
    stage_job: dict[int, int] = {}
    job_span: dict[int, list] = {}
    for ev in events:
        e = ev.get("Event")
        if e == "SparkListenerJobStart" and ev["Job ID"] in job_op:
            for s in ev.get("Stage IDs", ()):
                stage_job[s] = ev["Job ID"]
            job_span[ev["Job ID"]] = [ev["Submission Time"], None]
        elif e == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][1] = ev["Completion Time"]
    res: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for jid, op in job_op.items():
        res[id(op)]["spark.jobs"] += 1
    for ev in events:
        e = ev.get("Event")
        if e == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                res[id(job_op[stage_job[sid]])]["spark.stages"] += 1
        elif e == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
            r = res[id(job_op[stage_job[ev["Stage ID"]]])]
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            r["spark.tasks"] += 1
            r["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            r["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            r["spark.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 2**20
            r["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            r["spark.spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 2**20
            r["spark.input_mb"] += (
                (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
            )
            r["spark.python_run_s"] += _acc(info, PY_TIME_NAMES) / 1e3
            r["spark.python_sent_mb"] += _acc(info, PY_SENT_NAMES) / 2**20
    for op in ops:
        spans = [
            (max(s, op["start"] * 1e3), min(e, op["end"] * 1e3))
            for jid, (s, e) in job_span.items()
            if job_op[jid] is op and e is not None
        ]
        job_wall = _union_s(sp for sp in spans if sp[1] > sp[0])
        r = res[id(op)]
        r["driver.nojob_s"] = max(op["end"] - op["start"] - job_wall, 0.0)
        r["spark.idle_core_s"] = max(cores * job_wall - r["spark.executor_run_s"], 0.0)
    return res


def streaming_progress(events: list[dict]) -> list[dict]:
    """The streaming queries' progress records (one per micro-batch)."""
    return [
        ev["progress"]
        for ev in events
        if ev.get("Event", "").endswith("QueryProgressEvent")
    ]
