"""Run one workload over several seeds and report, per metric, the
median and the spread (interquartile range over median, from
``statistics.quantiles(values, n=4)``) — the steadiness figure the
bounds in ``BENCHMARK.json`` are set against.

    python3 perfbench/spread.py --workload llm-sf0.1 --seeds 1-10 --seconds 20 [--out FILE]

Runs are sequential; each one's last stdout line is the result.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="20")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        env = json.loads(lines[0])["environment"]
        detail = json.loads(lines[-2])["detail"]
        steal = detail["cpu_steal_of_running"]
        runs.append({"seed": seed, "wall_s": wall, "environment": env, "detail": detail,
                     "result": result})
        print(f"seed {seed}: {wall:.0f}s steal={steal:.3f} correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    summary = {}
    for name in runs[0]["result"]["metrics"]:
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4)
        summary[name] = {"median": med, "spread": (q3 - q1) / med if med else None}
    walls = [r["wall_s"] for r in runs]
    report = {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "all_correct": all(r["result"]["correct"] for r in runs),
        "run_wall_s": {"median": statistics.median(walls), "max": max(walls)},
        "metrics": summary,
        "runs": runs,
    }
    for name, s in summary.items():
        print(f"{name:24s} median={s['median']:.4g} spread={s['spread']}")
    print(f"run wall: median {report['run_wall_s']['median']:.1f}s max {max(walls):.1f}s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
