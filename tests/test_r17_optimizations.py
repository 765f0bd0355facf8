"""Focused tests for the round-17 optimization internals.

Each optimization that changed an operator's internals gets a parity or
behavior pin here (OPTIMIZATION_r17.md):
- Table.append_rows/overwrite_rows (driver-local commit fast path) must
  be observationally identical to the Spark write path, and fall back
  for layouts it cannot serve.
- Table.added_record_count must equal the count() it replaced.
- connected_components' driver union-find gate must produce exactly the
  distributed min-label relation.
- stream_confs must scope-and-restore the shuffle conf and honor the
  per-pipeline override.
- _staging_partitions must size the commit exchange to the data and
  never exceed the session cap.
"""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F
import pytest

from advent_of_code_flink_paimon_spark.lakehouse import Catalog
from advent_of_code_flink_paimon_spark.lakehouse.table import _staging_partitions


@pytest.fixture()
def wh(tmp_path):
    return Catalog(str(tmp_path / "wh"), "default")


def test_overwrite_rows_matches_spark_path(spark, wh):
    rows = [(1, [0.5, 1.25]), (2, [2.0, -3.5]), (3, [0.0, 7.0])]
    schema = "cid long, cent array<double>"
    fast = wh.create_table("fast", schema, {})
    slow = wh.create_table("slow", schema, {})
    fast.overwrite_rows(spark, rows)
    slow.overwrite(spark.createDataFrame(rows, schema))
    a = sorted(map(tuple, fast.read(spark).collect()))
    b = sorted(map(tuple, slow.read(spark).collect()))
    assert a == b
    # same manifest semantics: record counts and footer stats present
    fe, se = fast.manifest(), slow.manifest()
    assert sum(e["record_count"] for e in fe) == sum(e["record_count"] for e in se) == 3
    assert fe[0]["stats"]["cid"]["min"] == 1 and fe[0]["stats"]["cid"]["max"] == 3
    # schema fidelity through the pyarrow writer (array<double> survives)
    assert fast.read(spark).schema == slow.read(spark).schema


def test_append_rows_idempotent_and_counted(spark, wh):
    t = wh.create_table("ar", "k int, v string", {})
    sid = t.append_rows(spark, [(1, "a"), (2, "b")], commit_identifier=7)
    assert t.added_record_count(sid) == 2
    # replayed identifier is a no-op (exactly-once contract preserved)
    assert t.append_rows(spark, [(1, "a"), (2, "b")], commit_identifier=7) is None
    assert t.read(spark).count() == 2
    # empty rows commit nothing
    assert t.append_rows(spark, []) is None


def test_rows_fast_path_falls_back_for_pk_layout(spark, wh):
    t = wh.create_table("pkfb", "k long, v double", {"primary-key": "k", "bucket": "2"})
    t.overwrite_rows(spark, [(1, 1.0), (2, 2.0)])
    t.overwrite_rows(spark, [(1, 9.0)])
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {1: 9.0}  # PK overwrite semantics intact via fallback


def test_added_record_count_matches_count(spark, wh):
    t = wh.create_table("arc", "k long", {})
    s1 = t.append(spark.range(5).select(F.col("id").alias("k")))
    assert t.added_record_count(s1) == 5
    s2 = t.append(spark.range(3).select(F.col("id").alias("k")))
    assert t.added_record_count(s2) == 3
    s3 = t.overwrite(spark.range(4).select(F.col("id").alias("k")))
    assert t.added_record_count(s3) == 4
    assert t.added_record_count(None) == 0


def test_cc_union_find_equals_distributed(spark, monkeypatch):
    import advent_of_code_flink_paimon_spark.operators.dedup as dd

    # two components {1,2,3,4} (chain) and {10, 11}, plus a self-dup pair
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11), (4, 4)], "i long, j long"
    )
    fast = {
        (r.node, r.label)
        for r in dd.connected_components(pairs).collect()
    }
    monkeypatch.setattr(dd, "_CC_DRIVER_MAX_EDGES", 0)  # force the iterative loop
    slow = {
        (r.node, r.label)
        for r in dd.connected_components(pairs).collect()
    }
    assert fast == slow
    assert fast == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_stream_confs_scopes_and_restores(spark):
    from advent_of_code_flink_paimon_spark.streaming.pipelines import stream_confs

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with stream_confs(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        with stream_confs(spark, partitions=16):
            # a nested scope applies its own value and restores the outer one
            assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        assert spark.conf.get("spark.sql.shuffle.partitions") != before
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    with stream_confs(spark, partitions=16):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_staging_partitions_sizing(spark):
    small = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    n = _staging_partitions(small, spark)
    assert n == 1  # KB-sized input → one write task
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    big = spark.range(1)  # stats exist; force the cap arithmetic directly
    est_cap = _staging_partitions(big, spark)
    assert est_cap is None or 1 <= est_cap <= cap
