"""Self-test of the benchmark itself (not of the program).

    python3 perfbench/smoke.py [--workloads stream,backfill,stream_sql,lakehouse_ops,curate] [--seconds 5]

For each workload it runs the benchmark briefly, untraced and traced.
It checks that the last stdout line is one JSON result with exactly the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``, and that
the verdict passes. Untraced, the metrics must be BENCHMARK.json's
``end_to_end``; traced, a workload of record must print BENCHMARK.json's
``per_layer`` with their units, and every one of those must read
non-zero on some workload of record. Other workloads may print only
known per-layer names. It also checks that ``perfbench.layers`` describes
exactly the metrics of record, that the backlog check trips when the
ingest job falls behind (``--slow-ingest``), that the command fails
without printing a result where the program is absent, and that no run
left files outside ``.perfbench-work``/``.perfbench-out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.getcwd())

from perfbench import layers  # noqa: E402


def _result(cmd: list[str], cwd: str | None = None) -> tuple[int, dict | None, str]:
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       cwd=cwd, timeout=180)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None, p.stderr
    except json.JSONDecodeError:
        return p.returncode, None, p.stderr


def _metric_problems(bench: dict, workload: str, trace: int, got: dict[str, str]) -> list[str]:
    if trace == 0:
        want = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    elif workload in layers.record_workloads():
        want = {m["name"]: m["unit"] for m in bench["per_layer"]}
    else:
        units = layers.units()
        unknown = sorted(n for n in got if n not in units)
        wrong = sorted(n for n in got if n in units and got[n] != units[n])
        return [f"unknown {unknown}, wrong unit {wrong}"] if unknown or wrong else []
    if got == want:
        return []
    return [f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
            f"wrong unit {sorted(n for n in set(want) & set(got) if want[n] != got[n])}"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--seconds", type=int, default=5)
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    before = set(os.listdir("."))
    problems = []
    described = set(layers.MOVES)
    of_record = {m["name"] for m in bench["per_layer"]}
    if described != of_record:
        problems.append(f"perfbench.layers describes {sorted(described ^ of_record)} "
                        "differently from BENCHMARK.json")
    nonzero: set[str] = set()
    for wl in workloads:
        for trace in (0, 1):
            cmd = [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", "7",
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            code, out, _ = _result(cmd)
            tag = f"{wl} trace={trace}"
            if code != 0 or out is None:
                problems.append(f"{tag}: exit {code}, result {out!r}")
                continue
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(out)}")
            if not (out["correct"] and out["failed"] == 0 and out["attempted"] >= 1):
                problems.append(f"{tag}: verdict {out['correct']} {out['failed']}/{out['attempted']}")
            got = {n: m["unit"] for n, m in out["metrics"].items()}
            problems += [f"{tag}: metrics differ: {p}" for p in _metric_problems(bench, wl, trace, got)]
            nonzero |= {n for n, m in out["metrics"].items() if m["value"]}
            print(f"{tag}: {len(got)} metrics, correct={out['correct']}", flush=True)
    if set(layers.record_workloads()) <= set(workloads) and of_record - nonzero:
        problems.append(f"per-layer metrics of record that read 0 on every workload of record: "
                        f"{sorted(of_record - nonzero)}")

    # an ingest job that falls behind the generator must invalidate the run
    code, out, err = _result([sys.executable, "perfbench/run.py", "--workload", "stream", "--seed", "7",
                              "--seconds", "16", "--trace", "0", "--slow-ingest"])
    if code != 0 or out is None or out["correct"] or "backlog grew" not in err:
        problems.append(f"slow ingest: exit {code}, result {out!r}, backlog check did not trip")
    print(f"slow ingest: correct={out and out['correct']}", flush=True)

    # without the program beside it, the command must fail and print nothing
    os.makedirs(".perfbench-out", exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.abspath(".perfbench-out"))
    try:
        shutil.copy("BENCHMARK.json", bare)
        for p in bench["paths"]:
            shutil.copytree(p, os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, out, _ = _result(bench["command"] + ["--workload", workloads[0], "--seed", "1",
                                                "--seconds", "1", "--trace", "0"], cwd=bare)
        if code == 0 or out is not None:
            problems.append(f"bare checkout: exit {code}, result {out!r}")
        print(f"bare checkout: exit {code}", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    left = set(os.listdir(".")) - before - {".perfbench-out"}
    if left:
        problems.append(f"runs left files behind: {sorted(left)}")
    for p in problems:
        print("FAIL", p)
    print("smoke: " + ("ok" if not problems else f"{len(problems)} problem(s)"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
