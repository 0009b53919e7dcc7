"""Run the benchmark over several seeds and report each metric's median
and spread (quartile distance ÷ median), the way two sets of runs are
compared.

    python3 roundbench/spread.py --workload etl_tasks --seeds 501-510 --out runs.jsonl
    python3 roundbench/spread.py --from runs.jsonl

Run it from the repository root. Each run's result line is appended to
``--out`` as ``{"seed", "elapsed_s", "result"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join("roundbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return {"seed": seed, "elapsed_s": time.perf_counter() - t0, "result": result}


def summarize(records: list[dict]) -> None:
    ok = [r["result"] for r in records if r["result"]]
    print(f"{len(ok)} of {len(records)} runs gave a result;"
          f" all correct: {all(r['correct'] for r in ok)};"
          f" failed/attempted: {sorted({(r['failed'], r['attempted']) for r in ok})}")
    print("elapsed s: " + " ".join(f"{r['elapsed_s']:.0f}" for r in records))
    for name in ok[0]["metrics"] if ok else ():
        vals = [r["metrics"][name]["value"] for r in ok]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = f"{(q3 - q1) / med:.3f}" if med else "-"
        print(f"{name:28s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}"
              f"  spread {spread}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seeds", help="first-last, e.g. 501-510")
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="append each run's record to this file")
    p.add_argument("--from", dest="src", help="summarize records of this file")
    args = p.parse_args()
    if args.src:
        with open(args.src) as fh:
            records = [json.loads(line) for line in fh if line.strip()]
    elif args.workload and args.seeds:
        records = []
        for seed in seeds(args.seeds):
            records.append(run(args.workload, seed, args.seconds, args.trace))
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(records[-1]) + "\n")
    else:
        p.error("give --workload and --seeds, or --from")
    summarize(records)
    return 0


if __name__ == "__main__":
    sys.exit(main())
