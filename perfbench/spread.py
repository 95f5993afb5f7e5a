"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (IQR / median, from
``statistics.quantiles(values, n=4)``), the check the benchmark must
pass before it is trusted.  With ``--traced N`` it then makes traced runs
on the first N seeds and reports the tracing overhead: the difference
between the traced and untraced medians of each end-to-end metric.

    python3 perfbench/spread.py --workload cdc_egress --seeds 1-10 [--traced 3]

Runs are sequential; each run's JSON lines are appended to ``--log``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int,
             log_path: str) -> tuple[dict, dict]:
    t = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    stamp = json.loads(lines[-2])["stamp"] if len(lines) > 1 else {}
    result = json.loads(lines[-1])
    with open(log_path, "a") as f:
        f.write(json.dumps({"wall_s": time.time() - t, "stamp": stamp,
                            "result": result}) + "\n")
    return stamp, result


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main(argv: list[str]) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", type=int, default=0, metavar="N")
    ap.add_argument("--log", default=os.path.join(ROOT, ".perfbench", "spread.jsonl"))
    args = ap.parse_args(argv)
    os.makedirs(os.path.dirname(args.log), exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {k: [] for k in bounds}
    traced: dict[str, list[float]] = {k: [] for k in bounds}
    for seed in seeds(args.seeds):
        _, result = run_once(args.workload, seed, bench["run_seconds"], 0, args.log)
        if not result["correct"]:
            print(f"seed {seed}: {result['failed']} of {result['attempted']} failed")
        for k in bounds:
            values[k].append(result["metrics"][k]["value"])
    for seed in seeds(args.seeds)[:args.traced]:
        stamp, result = run_once(args.workload, seed, bench["run_seconds"], 1, args.log)
        if not result["correct"]:
            print(f"traced seed {seed}: {result['failed']} of {result['attempted']} failed")
        for k in bounds:
            if k in stamp["end_to_end"]:
                traced[k].append(stamp["end_to_end"][k])
    for k, bound in bounds.items():
        v = values[k]
        line = (f"{args.workload:24s} {k:16s} median {statistics.median(v):10.4g} "
                f"spread {spread(v):6.3f} bound {bound}")
        if traced[k]:
            line += f" tracing overhead {statistics.median(traced[k]) - statistics.median(v):+.4g}"
        print(line, flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
