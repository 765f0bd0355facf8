"""Run the benchmark several times and report each metric's spread.

    python3 perfbench/repeat.py --workloads stream,curate --seeds 1-5 --seconds 10 [--trace 0]

For every workload and metric it prints the median over the runs and
the spread the acceptance rule uses: the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the metric's bound from BENCHMARK.json and each run's
wall time. With ``--trace 1`` the per-layer metrics are reported, and
the traced end-to-end numbers can be set against an untraced repeat to
read the tracing overhead. Results also go to ``.perfbench-out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json")) if os.path.exists("BENCHMARK.json") else {}
    seconds = args.seconds or bench.get("run_seconds", 10)
    bounds = {m["name"]: m.get("bound") for m in bench.get("end_to_end", [])}
    report = {}
    ok = True
    for wl in args.workloads.split(","):
        runs = []
        for seed in _seeds(args.seeds):
            cmd = [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(args.trace)]
            t = time.perf_counter()
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.perf_counter() - t
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {p.returncode}, no result", flush=True)
                ok = False
                continue
            out = json.loads(lines[-1])
            out["wall_s"] = wall
            runs.append(out)
            ok &= out["correct"]
            print(f"{wl} seed {seed}: correct={out['correct']} failed={out['failed']}/"
                  f"{out['attempted']} wall={wall:.1f}s", flush=True)
        if not runs:
            continue
        rows = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            med, sp = spread(vals)
            rows[name] = {"median": med, "spread": sp, "bound": bounds.get(name), "values": vals}
            b = bounds.get(name)
            flag = "" if b is None else ("  ok" if sp < b / 3 else ("  within bound" if sp < b else "  OVER BOUND"))
            print(f"  {name:34s} median {med:12.4f}  spread {sp:7.3f}{flag}", flush=True)
        walls = [r["wall_s"] for r in runs]
        print(f"  wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s", flush=True)
        report[wl] = {"metrics": rows, "wall_s": walls}
    os.makedirs(".perfbench-out", exist_ok=True)
    with open(os.path.join(".perfbench-out", f"repeat-trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
