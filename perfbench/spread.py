"""Run-to-run spread of the end-to-end metrics across seeds.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds 10]

Runs ``perfbench/run.py`` once per seed (one after another, from the
current directory) and prints, per metric, the median and the distance
between the first and third quartiles as a share of the median, next to
the metric's bound from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--seconds", type=int, default=None)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        t0 = time.time()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
        ).stdout.strip().splitlines()
        res = json.loads(out[-1])
        print(f"seed {seed}: {time.time() - t0:.1f} s, correct={res['correct']}, "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
        for line in out[:-1]:
            if line.startswith(f"# {args.workload}:"):
                print("   " + line, flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        vs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med if med else float("inf")
        flag = "" if spread < m["bound"] / 3 else "  <-- above bound/3"
        print(f"{m['name']:<14} median {med:12.4f}  spread {spread:7.4f}  bound {m['bound']}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
