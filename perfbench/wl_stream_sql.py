"""``stream_sql``: the ``stream`` topology declared in the tutorial's SQL.

Tables, the dimension load and both continuous jobs go through
``plans.frontend.Engine.sql``: ``CREATE TABLE``, ``ALTER TABLE … SET``
with retention and full-compaction options, ``INSERT INTO … SELECT``
from a registered stream, and the lookup-join ``INSERT`` with
``FOR SYSTEM_TIME AS OF``. All of that runs in set-up, so the frontend's
own routing counts only in ``setup_s``. The frontend starts both jobs on
the checkpoint-interval trigger (4 s), so they fire together and queue
on the shared micro-batch lock. Every fourth commit of ``measurements``
runs a full compaction and every commit checks retention, so the commit
path pays the automatic maintenance. Generator, window, checks and
metrics are those of ``stream`` (see wl_stream.py).
"""

from __future__ import annotations

import os
import types

from perfbench import wl_stream

MEAS_COLUMNS = "sensor_id BIGINT, reading DECIMAL(5, 1), event_time TIMESTAMP(3)"
# retention is checked on every commit; the cap stays above the commits
# of a run so freshness can still read every snapshot
MAINTENANCE = "'full-compaction.delta-commits' = '4', 'snapshot.num-retained.max' = '100'"
DDL = [
    f"""CREATE TABLE measurements ({MEAS_COLUMNS})
        WITH ('bucket' = '2', 'bucket-key' = 'sensor_id', 'file.format' = 'parquet')""",
    f"ALTER TABLE measurements SET ({MAINTENANCE})",
    """CREATE TABLE sensor_info (
        sensor_id BIGINT, latitude DOUBLE, longitude DOUBLE, generation INT,
        updated_at TIMESTAMP(3), PRIMARY KEY (sensor_id) NOT ENFORCED
    )""",
    f"""CREATE TABLE measurements_enriched (
        {MEAS_COLUMNS}, latitude DOUBLE, longitude DOUBLE, generation INT, updated_at TIMESTAMP(3)
    )""",
    f"SET 'execution.checkpointing.interval' = '{wl_stream.TRIGGER_S}s'",
]
ENRICH = (
    "INSERT INTO measurements_enriched SELECT m.sensor_id, m.reading, m.event_time, "
    "s.latitude, s.longitude, s.generation, s.updated_at "
    "FROM measurements_stream AS m JOIN sensor_info FOR SYSTEM_TIME AS OF m.proc_time AS s "
    "ON m.sensor_id = s.sensor_id"
)


def _topology_sql(ctx, dim_files: list[str], landing: str):
    from advent_of_code_flink_paimon_spark.plans import Engine
    from advent_of_code_flink_paimon_spark.streaming import stream_table_files

    spark = ctx.spark
    eng = Engine(spark, os.path.join(ctx.workdir, "warehouse"))
    for stmt in DDL:
        eng.sql(stmt)
    for k, path in enumerate(dim_files):
        eng.register_source(f"sensor_src_{k}", spark.read.parquet(path))
        eng.sql(f"INSERT INTO sensor_info SELECT * FROM sensor_src_{k}")
    cat = eng.catalog
    meas = cat.get_table("measurements")
    eng.register_source("measurements_source", wl_stream.landing_source(ctx, landing))
    eng.register_source("measurements_stream", stream_table_files(spark, meas))

    def start(name: str, stmt: str):
        eng.sql(f"SET 'pipeline.name' = '{name}'")
        return eng.sql(stmt).handle

    return types.SimpleNamespace(
        catalog=cat, meas=meas, enr=cat.get_table("measurements_enriched"),
        start_ingest=lambda: start(
            "measurements_ingestion", "INSERT INTO measurements SELECT * FROM measurements_source"),
        start_lookup=lambda: start("measurements_enrichment", ENRICH),
    )


def run(ctx) -> None:
    wl_stream.run(ctx, _topology_sql)
