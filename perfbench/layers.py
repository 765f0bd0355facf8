"""Per-layer metrics of the traced run, and what each should move.

BENCHMARK.json's ``per_layer`` is the one list of the metrics of record:
name, unit and better direction. ``MOVES`` adds what BENCHMARK.json
cannot hold, keyed by name: the program module a metric measures and the
end-to-end metric (and workload) a change to that layer should move.
``EXTRA`` lists the metrics only the runnable workloads outside
BENCHMARK.json print, with their unit and direction.
``python3 perfbench/layers.py`` prints the table.

Values are derived from the recorded spans (``perfbench.trace``) and,
for streaming, from the queries' ``recentProgress``. A metric with no
sample is left unset (``None``): the workloads of record print it as 0,
the other workloads leave it out.
"""

from __future__ import annotations

import json
import os
import sys

if not __package__:  # run as a script from the repository root
    sys.path.insert(0, os.getcwd())

from perfbench.harness import ROOT, median, pct  # noqa: E402
from perfbench.trace import union_seconds as _union  # noqa: E402

ST, BF, BOTH = "stream", "backfill", "stream, backfill"
# name -> (program module, end-to-end metric a change should move)
MOVES = {
    "session.get_spark_s": ("session", "setup_s, all"),
    "session.first_action_s": ("session", "setup_s, all"),
    "session.peak_rss_mb": ("session (driver + JVM VmHWM)", "-, all"),
    "sources.rows_generated": ("perfbench.gen (validity)", f"-, {ST}"),
    "sources.gen_late_p99_s": ("perfbench.gen (validity)", f"-, {ST}"),
    "sources.backlog_rows_end": ("perfbench.gen (validity)", f"-, {ST}"),
    "pipelines.triggers": ("streaming.pipelines", f"latency_p50_s, {ST}"),
    "pipelines.rows_per_trigger_p50": ("streaming.pipelines", f"latency_p50_s, {ST}"),
    "pipelines.trigger_p50_s": ("streaming.pipelines", f"latency_p50_s, rows_per_s, {ST}"),
    "pipelines.add_batch_p50_s": ("streaming.pipelines", f"latency_p50_s, rows_per_s, {ST}"),
    "pipelines.planning_p50_s": ("streaming.pipelines", f"latency_p50_s, rows_per_s, {ST}"),
    "pipelines.wal_commit_p50_s": ("streaming.pipelines", f"latency_p50_s, rows_per_s, {ST}"),
    "pipelines.idle_frac": ("streaming.pipelines", f"latency_p50_s, {ST}"),
    "pipelines.spark_jobs_per_trigger": ("streaming.pipelines", f"latency_p50_s, rows_per_s, {ST}"),
    "pipelines.freshness_p50_s": ("streaming.pipelines (event -> commit)", f"latency_p50_s, {ST}"),
    "pipelines.freshness_p90_s": ("streaming.pipelines (event -> commit)", f"-, {ST}"),
    "pipelines.commit_latency_p50_s": ("streaming.pipelines (boundary -> commit)", f"latency_p50_s, {ST}"),
    "pipelines.commit_latency_p90_s": ("streaming.pipelines (boundary -> commit)", f"-, {ST}"),
    "backfill.trigger_p50_s": ("streaming.pipelines (availableNow)", f"latency_p50_s, rows_per_s, {BF}"),
    "backfill.add_batch_p50_s": ("streaming.pipelines (availableNow)", f"latency_p50_s, rows_per_s, {BF}"),
    "backfill.planning_p50_s": ("streaming.pipelines (availableNow)", f"latency_p50_s, rows_per_s, {BF}"),
    "backfill.trigger_p90_s": ("streaming.pipelines (availableNow)", f"rows_per_s, {BF}"),
    "lookup_join.triggers": ("streaming.lookup_join", f"latency_p50_s, rows_per_s, {ST}"),
    "lookup_join.trigger_p50_s": ("streaming.lookup_join", f"latency_p50_s, rows_per_s, {ST}"),
    "lookup_join.add_batch_self_p50_s": ("streaming.lookup_join", f"latency_p50_s, rows_per_s, {ST}"),
    "lookup_join.dim_plan_p50_s": ("streaming.lookup_join", f"latency_p50_s, rows_per_s, {ST}"),
    "lookup_join.match_ratio": ("streaming.lookup_join", f"-, {ST}"),
    "lookup_join.retry_queue_rows_max": ("streaming.lookup_join", f"rows_per_s, {ST}"),
    "lookup_join.lag_p50_s": ("streaming.lookup_join (measurements commit -> enriched commit)", f"latency_p50_s, rows_per_s, {ST}"),
    "lookup_join.enriched_p50_s": ("streaming.lookup_join (event -> commit)", f"-, {ST}"),
    "lookup_join.enriched_p90_s": ("streaming.lookup_join (event -> commit)", f"-, {ST}"),
    "lookup_join.enriched_latency_p90_s": ("streaming.lookup_join (boundary -> enriched commit)", f"-, {ST}"),
    "table.append_p50_s": ("lakehouse.table (commit)", f"latency_p50_s, rows_per_s, {BOTH}"),
    "table.upsert_p50_s": ("lakehouse.table (commit)", f"setup_s, {ST}"),
    "table.overwrite_p50_s": ("lakehouse.table (commit)", f"rows_per_s, {ST}"),
    "table.files_written": ("lakehouse.table (commit)", f"rows_per_s, {BOTH}"),
    "table.bytes_per_row": ("lakehouse.table (commit)", f"rows_per_s, {BOTH}"),
    "table.snapshots_committed": ("lakehouse.table (commit)", f"rows_per_s, {BOTH}"),
    "table.read_plan_p50_s": ("lakehouse.table (read)", f"lookup_join.dim_plan_p50_s, {ST}"),
    "table.manifest_p50_s": ("lakehouse.table (read)", f"latency_p50_s, rows_per_s, {BOTH}"),
    "table.live_files_p50": ("lakehouse.table (read)", f"lookup_join.dim_plan_p50_s, {ST}"),
    "table.pk_merge_files_p50": ("lakehouse.table (read)", f"lookup_join.dim_plan_p50_s, {ST}"),
    "catalog.get_table_p50_s": ("lakehouse.catalog", f"setup_s, {ST}"),
    "catalog.create_table_p50_s": ("lakehouse.catalog", "setup_s, all"),
    "traced.setup_s": ("tracing overhead", "setup_s (traced), all"),
    "traced.latency_p50_s": ("tracing overhead", "latency_p50_s (traced), all"),
    "traced.rows_per_s": ("tracing overhead", "rows_per_s (traced), all"),
}
S, C, R = "s", "count", "ratio"
# printed only by stream_sql, lakehouse_ops and curate:
# name -> (unit, better, module, moves)
EXTRA = {
    "table.compact_files_in": (C, "lower", "lakehouse.table (maintenance)", "rows_per_s, stream_sql"),
    "table.compact_files_out": (C, "lower", "lakehouse.table (maintenance)", "rows_per_s, stream_sql"),
    "table.compact_bytes_rewritten": ("B", "lower", "lakehouse.table (maintenance)", "rows_per_s, stream_sql"),
    "table.expire_p50_s": (S, "lower", "lakehouse.table (maintenance)", "latency_p50_s, stream_sql"),
    "table.prune_kept_ratio": (R, "lower", "lakehouse.table (read)", "latency_p50_s, lakehouse_ops"),
    "table.files_table_p50_s": (S, "lower", "lakehouse.table (maintenance)", "latency_p50_s, lakehouse_ops"),
    "table.expired_snapshots": (C, "higher", "lakehouse.table (maintenance)", "frontend.insert_p50_s, lakehouse_ops"),
    "frontend.sql_calls": (C, "lower", "plans.frontend", "latency_p50_s, lakehouse_ops"),
    "frontend.select_p50_s": (S, "lower", "plans.frontend", "latency_p50_s, lakehouse_ops"),
    "frontend.insert_p50_s": (S, "lower", "plans.frontend", "rows_per_s, lakehouse_ops"),
    "frontend.call_p50_s": (S, "lower", "plans.frontend", "rows_per_s, lakehouse_ops"),
    "frontend.self_p50_s": (S, "lower", "plans.frontend", "latency_p50_s, lakehouse_ops"),
    "dedup.sink_p50_s": (S, "lower", "operators.dedup", "latency_p50_s, rows_per_s, curate"),
    "dedup.keep_ratio": (R, "higher", "operators.dedup", "rows_per_s, curate"),
    "dedup.quality_drop_ratio": (R, "higher", "operators.text", "rows_per_s, curate"),
    "dedup.index_rows_end": (C, "lower", "operators.dedup", "rows_per_s, curate"),
    "dedup.drop_recall": (R, "higher", "operators.dedup", "- (correctness), curate"),
    "dedup.drop_precision": (R, "higher", "operators.dedup", "- (correctness), curate"),
}


def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def record_workloads() -> list[str]:
    return [w["name"] for w in bench()["workloads"]]


def units() -> dict[str, str]:
    """Unit of every per-layer metric, of record or extra."""
    return {**{n: e[0] for n, e in EXTRA.items()},
            **{m["name"]: m["unit"] for m in bench()["per_layer"]}}


def names_for(workload: str, measured) -> list[str]:
    """Per-layer metrics a traced run of ``workload`` prints: every
    metric of record on a workload of record, else the ones measured."""
    if workload in record_workloads():
        return [m["name"] for m in bench()["per_layer"]]
    return [n for n in [*MOVES, *EXTRA] if n in measured]


def _p50(xs):
    return median(xs) if xs else None


def _in(span, lo, hi=None) -> bool:
    return span["start"] >= lo and (hi is None or span["start"] < hi)


def _descendants(tr, root: dict) -> list[dict]:
    idx = tr.spans.index(root)
    out, frontier = [], {idx}
    for i, s in enumerate(tr.spans[idx + 1:], start=idx + 1):
        if s["parent"] in frontier:
            frontier.add(i)
            out.append(s)
    return out


def _covered(tr, root: dict, pred) -> float:
    """Seconds of ``root``'s interval covered by descendants matching
    ``pred`` (the outermost matching span of each branch)."""
    idx = tr.spans.index(root)
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(tr.spans):
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(i)
    ivals, todo = [], list(kids.get(idx, []))
    while todo:
        i = todo.pop()
        s = tr.spans[i]
        if s["end"] is not None and pred(s):
            ivals.append((max(s["start"], root["start"]), min(s["end"], root["end"])))
        else:
            todo.extend(kids.get(i, []))
    return _union(ivals)


def putter(res):
    """``put(name, value)`` with the metric's unit; ``None`` is left unset."""
    u = units()

    def put(name: str, value) -> None:
        if value is not None:
            res.put(name, value, u[name])
    return put


def common_layers(ctx) -> None:
    """Layers every workload can report: session, catalog, table,
    frontend, and the traced copies of the end-to-end numbers."""
    tr, res, t0 = ctx.tr, ctx.res, ctx.setup_end
    put = putter(res)
    put("session.get_spark_s", ctx.extra["get_spark_s"])
    put("session.first_action_s", ctx.extra["first_action_s"])
    put("catalog.get_table_p50_s", _p50(tr.durations("catalog.get_table")))
    put("catalog.create_table_p50_s", _p50(tr.durations("catalog.create_table")))

    win = lambda name, **m: [s for s in tr.named(name, **m) if _in(s, t0)]  # noqa: E731
    dur = lambda spans: [s["end"] - s["start"] for s in spans]  # noqa: E731
    for op in ("append", "overwrite"):
        put(f"table.{op}_p50_s", _p50(dur(win(f"table.{op}"))))
    # the dimension's upserts happen during set-up only
    put("table.upsert_p50_s", _p50(tr.durations("table.upsert")))
    commits = win("table.append") + win("table.upsert") + win("table.overwrite") + win("table.compact")
    if commits:
        put("table.files_written", sum(s["attrs"].get("added_files", 0) for s in commits))
        put("table.snapshots_committed",
            sum(1 for s in commits if s["attrs"].get("snapshot") is not None))
    rows = bytes_ = 0
    for t in ctx.extra.get("tables", []):
        for e in tr.muted(t.manifest):
            rows += e["record_count"]
            bytes_ += e.get("file_size_in_bytes", 0)
    put("table.bytes_per_row", bytes_ / rows if rows else None)

    reads = win("table.read")
    put("table.read_plan_p50_s", _p50(dur(reads)))
    put("table.manifest_p50_s", _p50(dur(win("table.manifest"))))
    put("table.live_files_p50", _p50([s["attrs"]["files"] for s in reads]))
    put("table.pk_merge_files_p50", _p50([s["attrs"]["files"] for s in reads if s["attrs"].get("pk")]))
    # files the point lookup keeps after prune_entries; a lookup whose plan
    # never calls the pruner keeps every live file (ratio 1)
    ratios = []
    for st in win("frontend.statement", stmt="point"):
        prunes = [s for s in _descendants(tr, st) if s["name"] == "table.prune_entries"]
        fin = sum(s["attrs"]["files_in"] for s in prunes)
        ratios.append(sum(s["attrs"]["files_kept"] for s in prunes) / fin if fin else 1.0)
    put("table.prune_kept_ratio", _p50(ratios))

    comp = win("table.compact")
    if comp:
        put("table.compact_files_in", sum(s["attrs"].get("files_in", 0) for s in comp))
        put("table.compact_files_out", sum(s["attrs"].get("files_out", 0) for s in comp))
        put("table.compact_bytes_rewritten", sum(s["attrs"].get("bytes_in", 0) for s in comp))
    exp = win("table.expire_snapshots")
    put("table.expire_p50_s", _p50(dur(exp)))
    if exp:
        put("table.expired_snapshots", sum(s["attrs"].get("expired", 0) for s in exp))
    put("table.files_table_p50_s", _p50(dur(win("table.files_table"))))

    sql = win("frontend.sql")
    if sql:
        put("frontend.sql_calls", len(sql))
    stmts = win("frontend.statement")
    for kind, name in (("SELECT", "select"), ("INSERT", "insert"), ("CALL", "call")):
        put(f"frontend.{name}_p50_s", _p50(dur([s for s in stmts if s["attrs"]["kind"] == kind])))
    put("frontend.self_p50_s", _p50([
        (s["end"] - s["start"]) - _covered(
            tr, s, lambda c: c["name"].startswith("table.") or c["name"] == "action")
        for s in stmts
    ]))
    for n in ("setup_s", "latency_p50_s", "rows_per_s"):
        put(f"traced.{n}", res.metrics[n][0])


def _progress(trigs, name: str):
    return _p50([t.get(name, 0) for t in trigs])


def backfill_layers(ctx, triggers) -> None:
    """The ingest job's triggers in the closed-loop drain."""
    put = putter(ctx.res)
    put("backfill.trigger_p50_s", _progress(triggers, "triggerExecution"))
    put("backfill.add_batch_p50_s", _progress(triggers, "addBatch"))
    put("backfill.planning_p50_s", _p50([
        t.get("latestOffset", 0) + t.get("getBatch", 0) + t.get("queryPlanning", 0) for t in triggers]))
    put("backfill.trigger_p90_s", pct([t["triggerExecution"] for t in triggers], 90) if triggers else None)


def stream_layers(ctx, triggers, window, run) -> None:
    """Sources, pipelines and lookup-join layers of the stream
    workloads. ``window`` holds the triggers that carried the window's
    rows; ``run`` carries the tables and figures of the run."""
    tr = ctx.tr
    put = putter(ctx.res)
    t_lo, t_hi = run.t_lo, run.t_hi

    put("sources.rows_generated", sum(n for _, _, n in run.gen.files))
    put("sources.gen_late_p99_s", pct(run.gen.late, 99))
    put("sources.backlog_rows_end", run.backlog_end)

    ing = window["ingest"]
    put("pipelines.triggers", len(ing))
    put("pipelines.rows_per_trigger_p50", _p50([t["rows"] for t in ing]))
    put("pipelines.trigger_p50_s", _progress(ing, "triggerExecution"))
    put("pipelines.add_batch_p50_s", _progress(ing, "addBatch"))
    put("pipelines.planning_p50_s", _p50([
        t.get("latestOffset", 0) + t.get("getBatch", 0) + t.get("queryPlanning", 0) for t in ing]))
    put("pipelines.wal_commit_p50_s", _progress(ing, "walCommit"))
    busy = _union([(max(t["start"], t_lo), min(t["end"], t_hi)) for t in triggers["ingest"]
                   if t["end"] > t_lo and t["start"] < t_hi])
    put("pipelines.idle_frac", 1.0 - busy / (t_hi - t_lo))
    n_trig = sum(1 for ts in triggers.values() for t in ts if t["start"] >= run.jobs_from and t["rows"] > 0)
    put("pipelines.spark_jobs_per_trigger", run.jobs / n_trig if n_trig else None)
    put("pipelines.freshness_p50_s", _p50(run.fresh))
    put("pipelines.freshness_p90_s", pct(run.fresh, 90) if run.fresh else None)
    put("pipelines.commit_latency_p50_s", _p50(run.lat))
    put("pipelines.commit_latency_p90_s", pct(run.lat, 90) if run.lat else None)

    lk = window["lookup"]
    put("lookup_join.triggers", len(lk))
    put("lookup_join.trigger_p50_s", _progress(lk, "triggerExecution"))
    lk_tables = {run.enr.name, run.retry.name, "sensor_info"}
    # a trigger span's trace id ("<query>-<batch>") also marks the table
    # spans its foreachBatch body opened
    owned = {"ingest": {run.meas.name}, "lookup": lk_tables}
    for q, trigs in triggers.items():
        for t in trigs:
            for s in tr.spans:
                if (s["trace"] is None and s["attrs"].get("table") in owned[q]
                        and t["start"] <= s["start"] < t["end"]):
                    s["trace"] = f"{q}-{t['batch']}"
    top = [s for s in tr.spans if s["end"] is not None and s["parent"] is None
           and s["name"].startswith("table.") and s["attrs"].get("table") in lk_tables]
    selfs = []
    for t in lk:
        inside = [(s["start"], s["end"]) for s in top if t["start"] <= s["start"] < t["end"]]
        selfs.append(t.get("addBatch", 0) - _union(inside))
    put("lookup_join.add_batch_self_p50_s", _p50(selfs))
    put("lookup_join.dim_plan_p50_s", _p50([
        s["end"] - s["start"] for s in tr.named("table.read", table="sensor_info") if t_lo <= s["start"] < t_hi]))
    queue = [s["attrs"].get("added_rows", 0) for s in tr.named("table.overwrite", table=run.retry.name)]
    candidates = sum(t["rows"] for t in triggers["lookup"]) + sum(queue[:-1])
    matched = sum(s["attrs"].get("added_rows", 0) for s in tr.named("table.append", table=run.enr.name))
    put("lookup_join.match_ratio", matched / candidates if candidates else None)
    put("lookup_join.retry_queue_rows_max", max(queue, default=None))
    put("lookup_join.lag_p50_s", _p50(run.elag))
    put("lookup_join.enriched_p50_s", _p50(run.efresh))
    put("lookup_join.enriched_p90_s", pct(run.efresh, 90) if run.efresh else None)
    put("lookup_join.enriched_latency_p90_s", pct(run.elat, 90) if run.elat else None)


if __name__ == "__main__":
    for m in bench()["per_layer"]:
        module, moves = MOVES[m["name"]]
        print(" | ".join((m["name"], m["unit"], m["better"], module, moves)))
    for name, (unit, better, module, moves) in EXTRA.items():
        print(" | ".join((name, unit, better, module, moves)))
