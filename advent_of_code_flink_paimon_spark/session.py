"""SparkSession factory tuned for the engine.

Defaults mirror what we would set on a real cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), a shuffle
partition count sized for the local harness, and Arrow enabled so the
Pandas-UDF paths in operators/ are vectorized.

On a 1000-executor / 100 TB deployment the knobs that change are
``spark.sql.shuffle.partitions`` (→ ~2-3× total cores),
``spark.sql.files.maxPartitionBytes``, and — on an object store with
slow status calls — ``spark.sql.sources.parallelPartitionDiscovery.
threshold``, which lists explicit file lists on the driver (see its
comment below). Everything else is scale-independent because the plans
are declarative (Catalyst picks broadcast vs shuffle joins per stats,
AQE fixes skew at runtime).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, demote SMJ->broadcast when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Local harness: 32 threads -> 32 shuffle partitions. AQE coalesces
    # below this when maps are small; raise ~2-3x cores on a real cluster.
    "spark.sql.shuffle.partitions": "32",
    # Arrow transfer for pandas_udf / applyInPandas (10-100x over row UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet: vectorized reader on by default; keep timestamps sane.
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.session.timeZone": "UTC",
    # 128 MB scan splits (default) — fine locally and at scale.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # r17 optimization (guide §6): per-file open cost charged when
    # packing files into splits ALSO floors the split size at
    # totalBytes/minPartitionNum vs this value — the 4 MB default
    # models slow-open filesystems and kept single small hot files on
    # 1-3 scan tasks. 1 MB is appropriate for local NVMe / modern
    # object stores and lets minPartitionNum (below) actually
    # parallelize small-table scans; measured q01 2.27→1.15 s,
    # q34 0.78→0.39 s at sf0.1 (quiet, 3-repeat medians).
    "spark.sql.files.openCostInBytes": str(1 << 20),
    # Driver-side listing of explicit leaf-file lists. The engine and its
    # streaming sources hand Spark the exact data files a manifest or the
    # file-source log already names; past this many paths (default 32)
    # Spark lists them in a distributed job with one task per path, which
    # costs far more than the listing. Measured on a 4-core VM (local
    # disk), building a read over 33/200/1000/4000 explicit files:
    # 0.51/1.22/4.57/16.3 s with the default threshold, 0.07/0.08/0.18/
    # 0.86 s listed serially on the driver. Covers every streaming
    # getBatch and every Table read or deletion-vector apply over more
    # than 32 files. Object stores: serial listing costs one status call
    # per file on the driver, so lower this back toward the default
    # where status calls are slow and reads span thousands of files.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "10000",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "aocfp-spark", extra_conf: dict | None = None) -> SparkSession:
    """Return (or create) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in DEFAULT_CONF.items():
        builder = builder.config(k, v)
    # r17 optimization (guide §6): floor scan parallelism at the
    # session's core count — the designed knob for "never let a scan
    # under-fill the cluster". Scale-adaptive by construction: locally
    # it splits the one-file testdata tables across the cores
    # (`SPARK_GRAFT_CPUS` included, so the driver's lower-core bench
    # run floors lower); on a real cluster scans of big tables already
    # exceed it and it is a no-op.
    n_cores = os.cpu_count() if cpus == "*" else int(cpus)
    builder = builder.config("spark.sql.files.minPartitionNum", str(n_cores))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str, tables: list[str] | None = None):
    """Register the driver testdata parquet tables as temp views and
    return them as a dict of DataFrames (TESTDATA.md)."""
    names = tables or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for name in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
