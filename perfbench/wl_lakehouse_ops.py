"""``lakehouse_ops``: reads beside writes, one client, all through
``plans.frontend.Engine.sql``.

Each round inserts one seeded 20k-row batch (the reference's volume per
20 s commit), then runs the tutorial's batch statements: COUNT(*), a
per-sensor aggregate, a seeded point lookup, an aggregate joining
``measurements_enriched`` with ``sensor_info``, ``measurements$files``
and ``measurements$snapshots``. Every third round runs
``CALL sys.compact``. Retention and L0 compaction options are set with
``ALTER TABLE … SET`` during set-up, so INSERTs pay the automatic
maintenance they trigger.

Every statement's result is checked against DuckDB over the generated
batches after the measured window.
"""

from __future__ import annotations

import os
import time
from decimal import Decimal

import duckdb
import numpy as np

from perfbench import gen
from perfbench.harness import median, pct

BATCH_ROWS = 20_000
COMPACT_EVERY = 3

DDL = [
    """CREATE TABLE measurements (
        sensor_id BIGINT, reading DECIMAL(5, 1), event_time TIMESTAMP(3)
    ) WITH ('bucket' = '2', 'bucket-key' = 'sensor_id', 'file.format' = 'parquet')""",
    """CREATE TABLE sensor_info (
        sensor_id BIGINT, latitude DOUBLE, longitude DOUBLE, generation INT,
        updated_at TIMESTAMP(3), PRIMARY KEY (sensor_id) NOT ENFORCED
    )""",
    """CREATE TABLE measurements_enriched (
        sensor_id BIGINT, reading DECIMAL(5, 1), event_time TIMESTAMP(3),
        latitude DOUBLE, longitude DOUBLE, generation INT, updated_at TIMESTAMP(3)
    )""",
    """ALTER TABLE measurements SET (
        'snapshot.num-retained.min' = '2', 'snapshot.num-retained.max' = '4',
        'compaction.max.file-num' = '12'
    )""",
]

SELECTS = {
    "count": "SELECT COUNT(*) AS n FROM measurements",
    "per_sensor": (
        "SELECT sensor_id, COUNT(*) AS n, CAST(SUM(reading) AS DOUBLE) AS s, "
        "MAX(reading) AS mx FROM measurements GROUP BY sensor_id"
    ),
    "point": (
        "SELECT sensor_id, reading, unix_micros(event_time) AS t FROM measurements "
        "WHERE sensor_id = {k}"
    ),
    "enriched": (
        "SELECT d.generation, COUNT(*) AS n, CAST(SUM(e.reading) AS DOUBLE) AS s "
        "FROM measurements_enriched e JOIN sensor_info d ON e.sensor_id = d.sensor_id "
        "GROUP BY d.generation"
    ),
    "files": "SELECT SUM(record_count) AS n, COUNT(*) AS files FROM measurements$files",
    "snapshots": "SELECT snapshot_id, total_record_count FROM measurements$snapshots",
}
ORACLE = {
    "count": "SELECT COUNT(*) FROM m",
    "per_sensor": (
        "SELECT sensor_id, COUNT(*), CAST(SUM(reading) AS DOUBLE), MAX(reading) "
        "FROM m GROUP BY sensor_id"
    ),
    "point": "SELECT sensor_id, reading, epoch_us(event_time) FROM m WHERE sensor_id = {k}",
    "enriched": (
        "SELECT d.generation, COUNT(*), CAST(SUM(e.reading) AS DOUBLE) "
        "FROM enr e JOIN dim d USING (sensor_id) GROUP BY d.generation"
    ),
}


def _canon(rows) -> list[tuple]:
    """Order-insensitive multiset of rows; decimals compared exactly."""
    return sorted(
        (tuple(str(v) if isinstance(v, Decimal) else v for v in r) for r in rows), key=repr
    )


class Ops:
    """Set-up and one round of the closed loop."""

    def __init__(self, ctx, base: str):
        from advent_of_code_flink_paimon_spark.plans import Engine

        self.ctx, self.spark, self.tr = ctx, ctx.spark, ctx.tr
        self.src = os.path.join(base, "src")
        os.makedirs(self.src)
        self.engine = Engine(self.spark, os.path.join(base, "warehouse"))
        self.rng = np.random.default_rng(ctx.seed)
        self.batches: list[str] = []
        self.log: list[dict] = []  # one record per statement

    def setup(self) -> None:
        eng = self.engine
        for stmt in DDL:
            eng.sql(stmt)
        info = gen.sensor_info(self.rng, 1.7e9)
        for k in range(2):  # the dimension arrives in two upsert commits
            p = os.path.join(self.src, f"sensor_info-{k}.parquet")
            gen.write_parquet(info.slice(k * 500, 500), p)
            eng.register_source(f"sensor_src_{k}", self.spark.read.parquet(p))
            eng.sql(f"INSERT INTO sensor_info SELECT * FROM sensor_src_{k}")
        seed = os.path.join(self.src, "measurements-seed.parquet")
        gen.write_parquet(gen.measurements(self.rng, BATCH_ROWS, 1.7e9), seed)
        p = os.path.join(self.src, "enriched-seed.parquet")
        duckdb.sql(  # the enrichment a lookup join would have produced
            f"COPY (SELECT * FROM read_parquet('{seed}') m "
            f"JOIN read_parquet('{self.src}/sensor_info-*.parquet') d USING (sensor_id)) "
            f"TO '{p}' (FORMAT parquet)"
        )
        eng.register_source("enriched_src", self.spark.read.parquet(p))
        eng.sql("INSERT INTO measurements_enriched SELECT * FROM enriched_src")
        self.ctx.mark("tables")

    def _stmt(self, kind: str, name: str, sql: str, **meta) -> None:
        rec = {"kind": kind, "name": name, "round": len(self.batches), **meta}
        self.tr.set_trace(f"round{rec['round']}-{name}")
        t = time.perf_counter()
        try:
            with self.tr.span("frontend.statement", kind=kind, stmt=name):
                out = self.engine.sql(sql)
                if kind == "SELECT":
                    with self.tr.span("action"):
                        rec["rows"] = out.collect()
        except Exception as e:  # counted as a failed statement
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        rec["s"] = time.perf_counter() - t
        self.log.append(rec)

    def round(self) -> None:
        i = len(self.batches)
        p = os.path.join(self.src, f"batch-{i:04d}.parquet")
        gen.write_parquet(gen.measurements(self.rng, BATCH_ROWS, 1.7e9 + i), p)
        self.engine.register_source(f"batch_{i}", self.spark.read.parquet(p))
        self.batches.append(p)
        self._stmt("INSERT", "insert",
                   f"INSERT INTO measurements SELECT sensor_id, reading, event_time FROM batch_{i}")
        k = int(self.rng.integers(0, gen.N_SENSORS + 1))
        for name, sql in SELECTS.items():
            meta = {"k": k} if name == "point" else {}
            self._stmt("SELECT", name, sql.format(k=k), **meta)
            if name == "snapshots":
                t = self.engine.catalog.get_table("measurements")
                self.log[-1]["latest"] = self.tr.muted(t.latest_snapshot_id)
        if (i + 1) % COMPACT_EVERY == 0:
            before = self._live_totals()
            self._stmt("CALL", "compact", "CALL sys.compact('measurements')")
            self.log[-1]["totals"] = (before, self._live_totals())

    def _live_totals(self):
        t = self.engine.catalog.get_table("measurements")
        files = [os.path.join(t.paths.root, e["file_path"]) for e in self.tr.muted(t.manifest)]
        return duckdb.sql(
            f"SELECT COUNT(*), CAST(SUM(reading) AS DOUBLE) FROM read_parquet({files!r})"
        ).fetchone()


def run(ctx) -> None:
    res = ctx.res
    ops = Ops(ctx, os.path.join(ctx.workdir, "run"))
    ops.setup()
    ops.round()  # warm-up round: first-time planning and codegen
    ctx.begin()
    w0 = time.perf_counter()
    first = len(ops.log)
    while time.perf_counter() - w0 < ctx.seconds:
        ops.round()
    w1 = time.perf_counter()
    log = ops.log[first:]

    # -- correctness: every statement of the run against DuckDB ----------------
    con = duckdb.connect()
    dim = os.path.join(ops.src, "sensor_info-*.parquet")
    con.execute(f"CREATE VIEW dim AS SELECT * FROM read_parquet('{dim}')")
    con.execute(f"CREATE VIEW enr AS SELECT * FROM read_parquet('{ops.src}/enriched-seed.parquet')")
    res.attempted += len(log)
    for rec in log:
        if "error" in rec:
            res.fail(1, f"lakehouse_ops: {rec['name']} raised {rec['error']}")
            continue
        con.execute(
            "CREATE OR REPLACE VIEW m AS SELECT * FROM read_parquet("
            f"{ops.batches[: rec['round']]!r})"
        )
        n = con.execute("SELECT COUNT(*) FROM m").fetchone()[0]
        name = rec["name"]
        if name in ORACLE:
            want = _canon(con.execute(ORACLE[name].format(k=rec.get("k"))).fetchall())
            ok = _canon(rec["rows"]) == want
        elif name == "files":
            ok = rec["rows"][0]["n"] == n
        elif name == "snapshots":
            top = max(rec["rows"], key=lambda r: r["snapshot_id"])
            ok = top["snapshot_id"] == rec["latest"] and top["total_record_count"] == n
        elif name == "compact":
            (c0, s0), (c1, s1) = rec["totals"]
            ok = c0 == c1 == n and s0 == s1
        else:  # insert: its rows are checked by the statements after it
            ok = True
        res.fail(0 if ok else 1, f"lakehouse_ops: {name} disagrees with DuckDB (round {rec['round']})")

    sel = [r["s"] for r in log if r["kind"] == "SELECT"]
    res.put("latency_p50_s", median(sel), "s")
    res.put("latency_p90_s", pct(sel, 90), "s")
    inserted = BATCH_ROWS * sum(1 for r in log if r["kind"] == "INSERT")
    res.put("rows_per_s", inserted / (w1 - w0), "rows/s")
    ctx.extra.update(
        rounds=sum(1 for r in log if r["kind"] == "INSERT"), selects=len(sel),
        insert_p50=median([r["s"] for r in log if r["kind"] == "INSERT"]),
        compact_s=[round(r["s"], 3) for r in log if r["kind"] == "CALL"],
    )
    ctx.extra["tables"] = [ops.engine.catalog.get_table("measurements")]
