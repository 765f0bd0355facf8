"""``backfill``: a closed loop that drains a landed backlog.

A seeded backlog of parquet files, 20k rows each (the reference's
volume per 20 s commit), is landed before the drain starts. The ingest
``Pipeline`` alone drains it into ``measurements`` (bucket 2) with
``availableNow``, one file per trigger, so the program sets the pace.
Large batches make the ``lakehouse.table`` write path — bucket shuffle,
parquet staging, manifest commit — the bottleneck; no lookup join runs.
This is the volume-bound twin of ``stream``.

The first ``WARM_FILES`` triggers run while the JVM is still compiling
the write path. Set-up ends when the last of them has committed;
everything after it is measured:

- ``rows_per_s``: rows committed after set-up ÷ the time from set-up's
  end to the last commit;
- ``latency_p50_s``: per batch, its trigger's execution time from
  ``recentProgress`` (read the file, write it, commit the snapshot,
  commit the offsets); the p90 is the per-layer
  ``backfill.trigger_p90_s``.

The number of files follows ``--seconds``, so a drain lasts about that
long on a 4-core machine.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np

from perfbench import gen
from perfbench.harness import median, steal_share, steal_ticks

ROWS = 20_000
# the JIT keeps speeding batches up for about the first ten of them
WARM_FILES = 8
FILES_PER_S = 1.25
DRAIN_TIMEOUT_S = 100.0


def run(ctx) -> None:
    from advent_of_code_flink_paimon_spark.lakehouse import Catalog
    from advent_of_code_flink_paimon_spark.streaming import Pipeline
    from advent_of_code_flink_paimon_spark.streaming.pipelines import stream_confs

    from perfbench.wl_stream import _live, _stop_queries

    spark, res, wd = ctx.spark, ctx.res, ctx.workdir
    rng = np.random.default_rng(ctx.seed)
    cat = Catalog(os.path.join(wd, "warehouse"))
    table = cat.create_table("measurements", gen.MEAS_DDL, {"bucket": "2", "bucket-key": "sensor_id"})
    files = WARM_FILES + math.ceil(ctx.seconds * FILES_PER_S)
    landing = os.path.join(wd, "landing", "measurements")
    os.makedirs(landing)
    for i in range(files):
        gen.write_parquet(gen.measurements(rng, ROWS, 1.7e9 + 20 * i),
                          os.path.join(landing, f"part-{i:04d}.parquet"))
    ctx.mark("landed")

    src = spark.readStream.schema(gen.MEAS_DDL).option("maxFilesPerTrigger", 1).parquet(landing)
    steal0 = steal_ticks()
    with stream_confs(spark):
        q = Pipeline("measurements_backfill", src, table, available_now=True,
                     checkpoint_dir=os.path.join(wd, "ckpt", "backfill")).start()
        try:
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                res.invalid(f"backfill did not finish within {DRAIN_TIMEOUT_S:.0f} s")
        finally:
            _stop_queries(q)
    steal = steal_share(steal0, steal_ticks())
    triggers = ctx.trigger_spans(q, "backfill")

    appends = sorted((s for s in table.snapshots() if s["commit_kind"] == "APPEND"),
                     key=lambda s: s["id"])
    warm, last = appends[WARM_FILES - 1], appends[-1]
    ctx.begin(at=warm["timestamp_ms"] / 1000.0 - ctx.wall_offset)
    rows_per_s = ((last["total_record_count"] - warm["total_record_count"])
                  / ((last["timestamp_ms"] - warm["timestamp_ms"]) / 1000.0))
    measured = [t for t in triggers if t["rows"] > 0 and t["batch"] >= WARM_FILES]
    lat = [t["triggerExecution"] for t in measured]
    if len(measured) != files - WARM_FILES:
        res.invalid(f"{len(measured)} measured triggers for {files - WARM_FILES} files")

    # -- correctness (DuckDB over the landed files) ------------------------------
    res.attempted += files * ROWS
    con = duckdb.connect()
    cols = "sensor_id, reading, epoch_us(event_time) AS t"
    live = _live(table)
    want = f"SELECT {cols} FROM read_parquet('{landing}/*.parquet')"
    got = f"SELECT {cols} FROM read_parquet({live})" if live else f"{want} WHERE false"
    res.fail(con.execute(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0],
             "backfill: landed rows missing from measurements")
    res.fail(con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0],
             "backfill: measurements rows duplicated or not landed")

    res.put("latency_p50_s", median(lat), "s")
    res.put("rows_per_s", rows_per_s, "rows/s")
    ctx.extra.update(files=files, steal_share=round(steal, 3),
                     batch_latencies=[round(v, 3) for v in lat])

    if not ctx.tr.enabled:
        return
    from perfbench import layers

    ctx.extra["tables"] = [table]
    layers.backfill_layers(ctx, measured)
