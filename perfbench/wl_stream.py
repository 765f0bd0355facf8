"""``stream``: the reference topology as an open loop at 1000 rows/s.

One generator thread lands a seeded parquet file every 100 ms. Two
continuous jobs share one session. The ingest ``Pipeline`` moves landing
files into ``measurements`` (bucket 2), one commit per 4 s trigger. The
``LookupJoinPipeline`` joins ``stream_table_files(measurements)`` to the
``sensor_info`` primary-key table into ``measurements_enriched``, on
Spark's default trigger. Set-up warms both jobs before the load starts.

Latency is the program's part of the freshness of the topology's
output, one sample per trigger interval: the ``timestamp_ms`` of the
``measurements_enriched`` snapshot that committed the interval's rows
minus the trigger boundary due to consume them (the first multiple of
the trigger interval after their due time). It spans both jobs: the
ingest trigger, then the lookup join that starts on its commit. The
wait for the boundary, which the 4 s schedule sets, is left out; a
trigger that starts late because an earlier one overran is counted.
The full due-time freshness and the ingest commit alone are per-layer
figures.

Throughput is the rows the window's triggers carried per second of the
two jobs' trigger execution (``recentProgress``): the generator sets the
rate rows arrive at, but not the time the jobs spend on them.
"""

from __future__ import annotations

import contextlib
import math
import os
import time
import types

import duckdb
import numpy as np

from perfbench import gen
from perfbench.harness import median, pct, steal_share, steal_ticks

RATE = 1000  # rows/s, the reference datagen rate
TICK_S = 0.1
# The ingest job commits on a fixed processing-time trigger, as the
# reference commits once per checkpoint interval (20 s there; 4 s here so
# a window holds several commits). Spark aligns triggers to multiples of
# the interval, so a window of whole intervals sees every phase once. The
# lookup join runs on Spark's default trigger: it starts as soon as an
# ingest commit lands, so the two jobs rarely queue on each other.
TRIGGER_S = 4
# Warm-up, all in set-up: each job first runs its cold trigger over a
# small pre-landed file (the lookup join as soon as the ingest job has
# committed it), so planning and code generation never build a backlog.
# Triggers then keep speeding up for their first ten or so while the JIT
# compiles planning and commit. At one trigger per interval that would
# take most of the run, so a copy of each job drains WARM_FILES small
# files back to back (availableNow) into scratch tables. The generator
# starts on the next trigger boundary after set-up, and WARM_INTERVALS
# of load precede the window, which spans whole intervals: the rows due
# in it are committed by the triggers at its later boundaries.
WARM_ROWS = 100
WARM_FILES = 6
WARM_INTERVALS = 1
COLD_TIMEOUT_S = 40.0
DRAIN_TIMEOUT_S = 30.0
LATE_LIMIT_S = 0.5  # generator p99 lateness beyond this invalidates a run
# Backlog growth over the window, read at the same trigger phase at both
# ends, beyond which the program did not keep up with the offered rate.
BACKLOG_GROWTH_LIMIT = RATE * TRIGGER_S


def _committed_rows(t) -> int:
    sid = t.latest_snapshot_id()
    return t.snapshot(sid)["total_record_count"] if sid else 0


def _wait_rows(t, n: int, timeout_s: float) -> None:
    deadline = time.time() + timeout_s
    while _committed_rows(t) < n and time.time() < deadline:
        time.sleep(0.05)


def _row_commits(con, table, lo: float, hi: float) -> list[tuple[float, float, int]]:
    """(commit time, event due time, rows) for the rows due in [lo, hi).
    The stream mirror names each appended file after the snapshot that
    committed it; one tick's file is committed whole by one snapshot."""
    ts = {s["id"]: s["timestamp_ms"] / 1000.0 for s in table.snapshots()}
    glob = os.path.join(table.paths.root, "stream", "*")
    rows = con.execute(
        f"""SELECT CAST(regexp_extract(filename, 'snapshot-0*([0-9]+)__', 1) AS BIGINT) sid,
                   epoch_us(event_time) / 1e6 ev, count(*) n
            FROM read_parquet('{glob}', filename = true)
            WHERE epoch_us(event_time) >= {int(lo * 1e6)} AND epoch_us(event_time) < {int(hi * 1e6)}
            GROUP BY 1, 2"""
    ).fetchall()
    return [(ts[sid], ev, int(n)) for sid, ev, n in rows]


def _boundary_latencies(commits) -> list[float]:
    """Commit time minus the trigger boundary due to consume the rows, in
    commit order: one sample per (commit, boundary), so a commit that
    caught up on two intervals gives each its own latency."""
    return [c - b for c, b in sorted({(c, math.ceil(ev / TRIGGER_S) * TRIGGER_S)
                                      for c, ev, _ in commits})]


def _spread(per_group) -> list[float]:
    """One value per row from (value, rows) groups."""
    return [v for v, n in per_group for _ in range(n)]


def _live(table) -> str:
    files = [os.path.join(table.paths.root, e["file_path"]) for e in table.manifest()]
    return "[" + ", ".join(f"'{f}'" for f in files) + "]" if files else None


def landing_source(ctx, landing: str):
    """The ingest job's file source. ``ctx.slow_ingest`` (self-test only)
    takes one landed file per trigger, so the job falls behind."""
    reader = ctx.spark.readStream.schema(gen.MEAS_DDL)
    if ctx.slow_ingest:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.parquet(landing)


def _topology_api(ctx, dim_files: list[str], landing: str):
    """Tables and jobs built with the Python API."""
    from advent_of_code_flink_paimon_spark.lakehouse import Catalog
    from advent_of_code_flink_paimon_spark.streaming import (
        LookupJoinPipeline,
        Pipeline,
        stream_table_files,
    )

    spark, wd = ctx.spark, ctx.workdir
    cat = Catalog(os.path.join(wd, "warehouse"))
    bucketed = {"bucket": "2", "bucket-key": "sensor_id"}
    meas = cat.create_table("measurements", gen.MEAS_DDL, bucketed)
    dim = cat.create_table("sensor_info", gen.SENSOR_DDL, {"primary-key": "sensor_id"})
    enr = cat.create_table("measurements_enriched", gen.ENRICHED_DDL)
    for path in dim_files:
        dim.upsert(spark.read.parquet(path))
    ingest = Pipeline(
        "measurements_ingestion", landing_source(ctx, landing), meas,
        trigger_seconds=TRIGGER_S, checkpoint_dir=os.path.join(wd, "ckpt", "ingest"),
    )
    lookup = LookupJoinPipeline(
        "measurements_enrichment", cat, stream_table_files(spark, meas), dim, enr,
        on="sensor_id", checkpoint_dir=os.path.join(wd, "ckpt", "lookup"),
    )
    return types.SimpleNamespace(catalog=cat, meas=meas, enr=enr,
                                 start_ingest=ingest.start, start_lookup=lookup.start)


def run(ctx, topology=_topology_api) -> None:
    from advent_of_code_flink_paimon_spark.streaming.pipelines import stream_confs

    spark, res, tr, wd = ctx.spark, ctx.res, ctx.tr, ctx.workdir
    rng = np.random.default_rng(ctx.seed)

    # -- set-up: tables, dimension in two upsert commits, cold triggers --------
    info = gen.sensor_info(rng, time.time())
    src = os.path.join(wd, "src")
    os.makedirs(src)
    dim_files = []
    for k in range(2):
        dim_files.append(os.path.join(src, f"sensor_info-{k}.parquet"))
        gen.write_parquet(info.slice(k * 500, 500), dim_files[-1])
    landing = os.path.join(wd, "landing", "measurements")
    os.makedirs(landing)
    top = topology(ctx, dim_files, landing)
    cat, meas, enr = top.catalog, top.meas, top.enr
    ctx.mark("tables")

    with contextlib.ExitStack() as stack:
        stack.enter_context(stream_confs(spark))
        gen.write_parquet(
            gen.measurements(rng, WARM_ROWS, time.time()),
            os.path.join(landing, "part-warmup.parquet"),
        )
        q_ingest = top.start_ingest()
        q_lookup = top.start_lookup()  # polls until the first ingest commit lands
        stack.callback(_stop_queries, q_ingest, q_lookup)
        _wait_rows(enr, 1, COLD_TIMEOUT_S)
        ctx.mark("cold")
        _warm_up(ctx, cat, np.random.default_rng([ctx.seed, 1]))
        ctx.begin()

        g0 = (time.time() // TRIGGER_S + 1) * TRIGGER_S
        w0 = g0 + WARM_INTERVALS * TRIGGER_S
        w1 = w0 + max(2, round(ctx.seconds / TRIGGER_S)) * TRIGGER_S
        # ticks sit mid-way between boundaries
        g = gen.OpenLoopGenerator(landing, ctx.seed, RATE, TICK_S, g0 + TICK_S / 2)
        landed = lambda: WARM_ROWS + sum(n for _, _, n in list(g.files))  # noqa: E731
        backlog = lambda: landed() - _committed_rows(meas)  # noqa: E731
        g.start()

        # -- measured window: [w0, w1), whole trigger intervals -----------------
        # the backlog is read at one trigger phase, just before the triggers
        # at w0 and at w1 fire
        time.sleep(max(0.0, w0 - TICK_S / 4 - time.time()))
        backlog_start = backlog()
        jobs0, steal0 = ctx.job_count(), steal_ticks()
        time.sleep(max(0.0, w1 - TICK_S / 4 - time.time()))
        g.stop()  # the last tick of the window has landed
        backlog_end = backlog()
        if g.error:
            raise g.error

        # -- drain: every landed row committed to both tables ------------------
        offered = WARM_ROWS + sum(n for _, _, n in g.files)
        _wait_rows(meas, offered, DRAIN_TIMEOUT_S)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW gen AS SELECT * FROM read_parquet('{landing}/*.parquet')")
        unmatched_total = con.execute("SELECT count(*) FROM gen WHERE sensor_id = 0").fetchone()[0]
        _wait_rows(enr, offered - unmatched_total, DRAIN_TIMEOUT_S)
        ctx.mark("drained")
        jobs1, steal = ctx.job_count(), steal_share(steal0, steal_ticks())
        _settle(q_ingest, q_lookup)
        triggers = {
            "ingest": ctx.trigger_spans(q_ingest, "ingest"),
            "lookup": ctx.trigger_spans(q_lookup, "lookup"),
        }

    # -- correctness (DuckDB over the generated files) -------------------------
    res.attempted += offered
    info_path = os.path.join(src, "sensor_info-*.parquet")
    con.execute(f"CREATE VIEW dim AS SELECT * FROM read_parquet('{info_path}')")
    cols = "sensor_id, reading, epoch_us(event_time) AS t"
    live = _live(meas)
    want = f"SELECT {cols} FROM gen"
    got = f"SELECT {cols} FROM read_parquet({live})" if live else f"{want} WHERE false"
    res.fail(con.execute(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0],
             "stream: generated rows missing from measurements")
    res.fail(con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0],
             "stream: measurements rows duplicated or not generated")

    ecols = "sensor_id, reading, epoch_us(event_time) AS t, latitude, longitude, generation, epoch_us(updated_at) AS u"
    elive = _live(enr)
    con.execute(
        f"CREATE VIEW enr AS SELECT {ecols} FROM read_parquet({elive})" if elive
        else f"CREATE VIEW enr AS SELECT {ecols} FROM gen, dim WHERE false"
    )
    con.execute(
        f"CREATE VIEW want AS SELECT g.sensor_id, g.reading, epoch_us(g.event_time) AS t, d.latitude, "
        f"d.longitude, d.generation, epoch_us(d.updated_at) AS u FROM gen g JOIN dim d USING (sensor_id)"
    )
    e_missing = con.execute("SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM enr)").fetchone()[0]
    e_extra = con.execute("SELECT count(*) FROM (SELECT * FROM enr EXCEPT ALL SELECT * FROM want)").fetchone()[0]
    res.fail(e_missing, "stream: matched rows missing from measurements_enriched")
    res.fail(e_extra, "stream: measurements_enriched rows duplicated or wrong")
    retry = cat.get_table("measurements_enriched_retry")
    rlive = _live(retry)
    # within a run no row reaches the retry limit, so the queue holds
    # exactly the generated sensor-0 rows
    queue = (f"SELECT sensor_id, reading, epoch_us(event_time) FROM read_parquet({rlive})" if rlive
             else f"SELECT {cols} FROM gen WHERE false")
    unmatched = f"SELECT {cols} FROM gen WHERE sensor_id = 0"
    res.fail(con.execute(f"SELECT count(*) FROM ({queue} EXCEPT ALL {unmatched})").fetchone()[0],
             "stream: retry queue holds matchable or unknown rows")
    res.fail(con.execute(f"SELECT count(*) FROM ({unmatched} EXCEPT ALL {queue})").fetchone()[0],
             "stream: unmatched rows lost from the retry queue")

    # -- validity of the open loop ---------------------------------------------
    late_p99 = pct(g.late, 99)
    if late_p99 > LATE_LIMIT_S:
        res.invalid(f"generator ran late (p99 {late_p99:.3f} s)")
    if backlog_end - backlog_start >= BACKLOG_GROWTH_LIMIT:
        res.invalid(f"backlog grew ({backlog_start} -> {backlog_end} rows)")

    # -- end-to-end metrics ------------------------------------------------------
    commits = _row_commits(con, meas, w0, w1)
    fresh = _spread((c - ev, n) for c, ev, n in commits)
    ingested = {ev: c for c, ev, _ in commits}
    ecommits = _row_commits(con, enr, w0, w1)
    efresh = _spread((c - ev, n) for c, ev, n in ecommits)
    elag = _spread((c - ingested[ev], n) for c, ev, n in ecommits)
    lat, elat = _boundary_latencies(commits), _boundary_latencies(ecommits)
    # the triggers that carried the window's rows start at its later
    # boundaries (perf_counter clock, like the trigger spans); the
    # generator has stopped, so no later trigger has rows
    t_lo = w0 + TRIGGER_S / 2 - ctx.wall_offset
    t_hi = w1 + TRIGGER_S / 2 - ctx.wall_offset
    window = {q: [t for t in ts if t["start"] >= t_lo and t["rows"] > 0]
              for q, ts in triggers.items()}
    busy = sum(t["triggerExecution"] for ts in window.values() for t in ts)
    res.put("latency_p50_s", median(elat), "s")
    res.put("rows_per_s", sum(t["rows"] for t in window["ingest"]) / busy, "rows/s")
    ctx.extra.update(backlog=(backlog_start, backlog_end), steal_share=round(steal, 3),
                     commit_latencies=[round(v, 3) for v in lat],
                     enriched_latencies=[round(v, 3) for v in elat])

    if not tr.enabled:
        return
    from perfbench import layers

    ctx.extra["tables"] = [meas, enr]
    layers.stream_layers(
        ctx, triggers, window, types.SimpleNamespace(
            meas=meas, enr=enr, retry=retry, jobs=jobs1 - jobs0, jobs_from=w0 - TICK_S / 4 - ctx.wall_offset,
            t_lo=t_lo, t_hi=t_hi, gen=g, lat=lat, elat=elat,
            backlog_end=backlog_end, fresh=fresh, efresh=efresh, elag=elag))


def _warm_up(ctx, cat, rng) -> None:
    """The scratch drains: ingest, then lookup join, one small file or
    commit per trigger."""
    from advent_of_code_flink_paimon_spark.streaming import (
        LookupJoinPipeline,
        Pipeline,
        stream_table_files,
    )

    spark, wd = ctx.spark, ctx.workdir
    landing = os.path.join(wd, "landing", "warm")
    os.makedirs(landing)
    for i in range(WARM_FILES):
        gen.write_parquet(gen.measurements(rng, RATE, time.time()),
                          os.path.join(landing, f"part-{i:04d}.parquet"))
    meas = cat.create_table("warm_measurements", gen.MEAS_DDL, {"bucket": "2", "bucket-key": "sensor_id"})
    enr = cat.create_table("warm_enriched", gen.ENRICHED_DDL)
    src = spark.readStream.schema(gen.MEAS_DDL).option("maxFilesPerTrigger", 1).parquet(landing)
    # one commit adds a file per bucket, so the lookup join also takes one
    # commit per trigger
    jobs = (lambda: Pipeline("warm_ingestion", src, meas, available_now=True,
                             checkpoint_dir=os.path.join(wd, "ckpt", "warm_ingest")),
            lambda: LookupJoinPipeline(
                "warm_enrichment", cat, stream_table_files(spark, meas, max_files_per_trigger=2),
                cat.get_table("sensor_info"), enr, on="sensor_id", available_now=True,
                checkpoint_dir=os.path.join(wd, "ckpt", "warm_lookup")))
    for job in jobs:
        q = job().start()
        try:
            if not q.awaitTermination(COLD_TIMEOUT_S):
                ctx.res.invalid("warm-up did not finish")
        finally:
            _stop_queries(q)


def _settle(*qs, timeout_s: float = 10.0) -> None:
    """Let in-flight triggers finish so their progress is reported."""
    deadline = time.time() + timeout_s
    while time.time() < deadline and any(q.status["isTriggerActive"] for q in qs):
        time.sleep(0.05)


def _stop_queries(*qs) -> None:
    for q in qs:
        try:
            q.stop()
        except Exception:
            pass
