"""Benchmark of record: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload stream --seed 1 --seconds 16 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics (see BENCHMARK.json); ``--trace 1`` installs the span recorder
and prints the per-layer metrics instead, writing the spans to
``.perfbench-out/``. The last line of standard output is the result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.getcwd())

from perfbench import harness  # noqa: E402  (records the process start)

WORKLOADS = ("stream", "backfill", "stream_sql", "lakehouse_ops", "curate")


class Ctx:
    """What a workload gets: its seed and run length, the session, the
    result tally, the tracer, and the mark that ends set-up."""

    def __init__(self, args, spark, res, tr, workdir):
        self.seed, self.seconds = args.seed, args.seconds
        self.slow_ingest = args.slow_ingest
        self.spark, self.res, self.tr, self.workdir = spark, res, tr, workdir
        self.setup_end: float | None = None
        self.extra: dict = {}
        self.wall_offset = time.time() - time.perf_counter()

    def begin(self, at: float | None = None) -> None:
        """Set-up ends now, or at ``at`` (a perf_counter time); what
        follows is measured."""
        self.setup_end = time.perf_counter() if at is None else at
        self.extra.setdefault("phases", {})["setup"] = round(
            self.setup_end - harness.PROCESS_START, 2)

    def mark(self, phase: str) -> None:
        """Note when a phase ended (seconds since process start, stderr)."""
        self.extra.setdefault("phases", {})[phase] = round(
            time.perf_counter() - harness.PROCESS_START, 2)

    def job_count(self) -> int:
        """Spark jobs started so far: job ids are sequential, and the
        scheduler's next id is the one counter PySpark can reach."""
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def trigger_spans(self, query, name: str) -> list[dict]:
        from perfbench.trace import trigger_spans

        return trigger_spans(self.tr, query, name, self.wall_offset)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--slow-ingest", action="store_true",
                    help="self-test of the backlog check: the stream workloads' ingest "
                         "job takes one landed file per trigger and falls behind")
    args = ap.parse_args(argv)

    harness.require_program()
    from perfbench import layers
    from perfbench.trace import Tracer, install

    tr = Tracer(bool(args.trace))
    if tr.enabled:
        install(tr)
    workdir = harness.make_workdir(args.workload)
    res = harness.Result()
    spark = ctx = None
    try:
        with tr.span("session.start"):
            t = time.perf_counter()
            spark = harness.start_spark(workdir)
            get_spark_s = time.perf_counter() - t
            t = time.perf_counter()
            with tr.span("session.first_action"):
                spark.range(1).count()
            first_action_s = time.perf_counter() - t
        ctx = Ctx(args, spark, res, tr, workdir)
        ctx.extra.update(get_spark_s=get_spark_s, first_action_s=first_action_s)
        module = __import__(f"perfbench.wl_{args.workload}", fromlist=["run"])
        module.run(ctx)
        ctx.mark("checked")
        res.put("setup_s", ctx.setup_end - harness.PROCESS_START, "s")
        if tr.enabled:
            res.put("session.peak_rss_mb", harness.peak_rss_mb(spark), "MB")
            layers.common_layers(ctx)
            os.makedirs(harness.OUT_DIR, exist_ok=True)
            tr.dump(os.path.join(
                harness.OUT_DIR, f"trace-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        harness.cleanup(workdir)
        if ctx is not None:
            ctx.mark("stopped")
    names = (layers.names_for(args.workload, res.metrics) if tr.enabled
             else [m["name"] for m in layers.bench()["end_to_end"]])
    if tr.enabled:
        units = layers.units()
        for n in names:  # a layer this workload does not exercise reads 0
            res.metrics.setdefault(n, (0.0, units[n]))
    line = res.line(names)
    for p in res.problems:
        sys.stderr.write(f"perfbench: {p}\n")
    notes = {k: v for k, v in ctx.extra.items() if k != "tables"}
    sys.stderr.write("perfbench: " + json.dumps(notes, default=str) + "\n")
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
