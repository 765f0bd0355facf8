"""Behavioral tests for the lakehouse table layer (SURVEY.md §5 [S]
capabilities — snapshot semantics, upsert invariant, compaction
invariant, system tables, changelog, retention)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from advent_of_code_flink_paimon_spark.lakehouse import Catalog
from advent_of_code_flink_paimon_spark.lakehouse.meta import now_millis
from advent_of_code_flink_paimon_spark.lakehouse.table import prune_entries


@pytest.fixture()
def catalog(tmp_path):
    return Catalog(str(tmp_path / "warehouse"))


def _measurements(spark, n, start=0):
    """Reference-shaped measurements rows (FIXTURES.md A1)."""
    return (
        spark.range(start, start + n)
        .select(
            F.pmod(F.col("id"), F.lit(1001)).alias("sensor_id"),
            (F.pmod(F.col("id") * 7, F.lit(450)) / 10.0).cast("decimal(5,1)").alias("reading"),
            F.timestamp_millis(F.lit(1700000000000) + F.col("id")).alias("event_time"),
        )
    )


def test_append_roundtrip_bucketed(spark, catalog):
    t = catalog.create_table(
        "measurements",
        "sensor_id long, reading decimal(5,1), event_time timestamp",
        {"bucket": "2", "bucket-key": "sensor_id", "file.format": "parquet"},
    )
    df = _measurements(spark, 1000)
    sid = t.append(df)
    assert sid == 1
    out = t.read(spark)
    assert out.count() == 1000
    assert set(out.columns) == {"sensor_id", "reading", "event_time"}
    # physical layout: hash-bucketed dirs, like assets/output4.png
    assert os.path.isdir(t.paths.bucket_dir(0)) and os.path.isdir(t.paths.bucket_dir(1))
    # bucket routing is consistent: same key never lands in two buckets
    b0 = spark.read.parquet(t.paths.bucket_dir(0)).select("sensor_id").distinct()
    b1 = spark.read.parquet(t.paths.bucket_dir(1)).select("sensor_id").distinct()
    assert b0.join(b1, "sensor_id").count() == 0


def test_one_snapshot_per_commit_and_time_travel(spark, catalog):
    t = catalog.create_table("m", "sensor_id long, reading decimal(5,1), event_time timestamp")
    for i in range(3):
        t.append(_measurements(spark, 100, start=i * 100))
    assert t.latest_snapshot_id() == 3
    assert [s["id"] for s in t.snapshots()] == [1, 2, 3]
    assert t.read(spark).count() == 300
    assert t.read(spark, snapshot_id=2).count() == 200  # time travel
    assert t.incremental_read(spark, 1, 2).count() == 100  # snapshot diff


def test_exactly_once_commit_identifier(spark, catalog):
    t = catalog.create_table("m", "sensor_id long, reading decimal(5,1), event_time timestamp")
    df = _measurements(spark, 50)
    assert t.append(df, commit_identifier=7) == 1
    assert t.append(df, commit_identifier=7) is None  # replayed batch → no-op
    assert t.read(spark).count() == 50
    assert t.latest_snapshot_id() == 1


def test_replay_guard_is_commit_kind_keyed(spark, catalog):
    """A replay is a retry of the SAME operation: an OVERWRITE sharing
    an identifier with an earlier APPEND is a NEW operation and must
    commit (an index rebuild re-stamps the full consumed range an
    earlier write-through already stamped — round 12); a replayed
    OVERWRITE is still a no-op against its own kind."""
    t = catalog.create_table("mk", "sensor_id long, reading decimal(5,1), event_time timestamp")
    df = _measurements(spark, 50)
    assert t.append(df, commit_identifier=9) == 1
    assert t.overwrite(_measurements(spark, 20), commit_identifier=9) == 2
    assert t.read(spark).count() == 20
    assert t.overwrite(_measurements(spark, 30), commit_identifier=9) is None  # replay
    assert t.append(df, commit_identifier=9) is None  # append replay still guarded
    assert t.read(spark).count() == 20 and t.latest_snapshot_id() == 2


def test_upsert_invariant_count_equals_distinct_keys(spark, catalog):
    """The reference invariant (tutorial/guide.md:90-96): a PK table's
    COUNT(*) equals distinct keys ever written, however many upserts."""
    t = catalog.create_table(
        "sensor_info",
        "sensor_id long, latitude double, longitude double, generation int, updated_at timestamp",
        {"primary-key": "sensor_id", "bucket": "1", "changelog-producer": "input"},
    )
    base = spark.range(0, 1000).select(
        F.col("id").alias("sensor_id"),
        (F.col("id") * 0.1).alias("latitude"),
        (F.col("id") * 0.2).alias("longitude"),
        F.lit(1).alias("generation"),
        F.timestamp_millis(F.lit(1700000000000)).alias("updated_at"),
    )
    t.upsert(base)
    # overwrite 400 keys, add 100 new → 1100 distinct
    upd = spark.range(600, 1100).select(
        F.col("id").alias("sensor_id"),
        F.lit(-1.0).alias("latitude"),
        F.lit(-2.0).alias("longitude"),
        F.lit(2).alias("generation"),
        F.timestamp_millis(F.lit(1700000001000)).alias("updated_at"),
    )
    t.upsert(upd)
    out = t.read(spark)
    assert out.count() == 1100
    assert out.count() == out.select("sensor_id").distinct().count()
    # last-write-wins
    assert out.filter("sensor_id = 700").collect()[0].generation == 2
    assert out.filter("sensor_id = 100").collect()[0].generation == 1


def test_upsert_delete(spark, catalog):
    t = catalog.create_table(
        "s", "k long, v string", {"primary-key": "k"}
    )
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string"))
    dels = spark.createDataFrame([(2, "b")], "k long, v string").withColumn("__op", F.lit("D"))
    t.upsert(dels)
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 3]


def test_changelog_producer_input(spark, catalog):
    t = catalog.create_table(
        "s", "k long, v string", {"primary-key": "k", "changelog-producer": "input"}
    )
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.upsert(spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"))
    cl = t.read_changelog(spark).collect()
    kinds = sorted((r.k, r._change_type) for r in cl)
    assert kinds == [(1, "+I"), (2, "+I"), (2, "+U"), (2, "-U"), (3, "+I")]
    # changelog reconstructs table state: apply +I/+U keep-last, drop -U/-D
    assert sorted((r.k, r.v) for r in cl if r._change_type in ("+I", "+U") and (r.k, r._change_type) != (2, "+I")) == [
        (1, "a"),
        (2, "B"),
        (3, "c"),
    ]


def test_changelog_null_valued_column_and_delete(spark, catalog):
    """ADVICE.md regression: pre-image presence must come from an
    explicit marker, not value-column null tests — a pre-existing key
    whose FIRST value column is NULL previously emitted +I with no -U,
    and its delete was silently dropped from the changelog."""
    t = catalog.create_table(
        "s", "k long, v string, w string", {"primary-key": "k", "changelog-producer": "input"}
    )
    t.upsert(spark.createDataFrame([(1, None, "x")], "k long, v string, w string"))
    t.upsert(spark.createDataFrame([(1, None, "y")], "k long, v string, w string"))
    dels = spark.createDataFrame([(1, None, "y")], "k long, v string, w string").withColumn(
        "__op", F.lit("D")
    )
    t.upsert(dels)
    kinds = sorted((r.k, r._change_type) for r in t.read_changelog(spark).collect())
    assert kinds == [(1, "+I"), (1, "+U"), (1, "-D"), (1, "-U")], kinds


def test_changelog_pk_only_table(spark, catalog):
    """A PK-only table (no value columns) must still produce -U/+U on
    re-upsert and -D on delete (had_pre was constantly False before)."""
    t = catalog.create_table("ids", "k long", {"primary-key": "k", "changelog-producer": "input"})
    t.upsert(spark.createDataFrame([(1,), (2,)], "k long"))
    t.upsert(spark.createDataFrame([(2,)], "k long"))
    dels = spark.createDataFrame([(1,)], "k long").withColumn("__op", F.lit("D"))
    t.upsert(dels)
    kinds = sorted((r.k, r._change_type) for r in t.read_changelog(spark).collect())
    assert kinds == [(1, "+I"), (1, "-D"), (2, "+I"), (2, "+U"), (2, "-U")], kinds


def test_upsert_batch_delete_after_update_wins_by_input_order(spark, catalog):
    """A batch holding an update then a delete for the same key must
    resolve by input order (delete wins), not by value comparison —
    a D row with NULL values previously lost to any U row."""
    t = catalog.create_table("s", "k long, v string", {"primary-key": "k"})
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    batch = spark.createDataFrame(
        [(1, "zzz", "U"), (1, None, "D")], "k long, v string, __op string"
    ).coalesce(1)
    t.upsert(batch)
    assert sorted(r.k for r in t.read(spark).collect()) == [2]


def test_changelog_pre_image_reads_scale_with_batch(spark, catalog):
    """The pre-image for a changelog commit must be bucket-pruned to the
    batch's keys: a 1-key batch against a 4-bucket table may read only
    the one bucket that key hashes into."""
    t = catalog.create_table(
        "s", "k long, v string",
        {"primary-key": "k", "bucket": "4", "changelog-producer": "input"},
    )
    t.upsert(
        spark.range(0, 400).select(F.col("id").alias("k"), F.lit("v").alias("v"))
    )
    batch = spark.createDataFrame([(7, "new", "U")], "k long, v string, __op string")
    batch = batch.withColumn("__seq", F.lit(0).cast("long"))  # schema parity for pre-image path
    pre = t._pre_image_for(batch.drop("__seq"))
    files_read = pre._jdf.queryExecution().optimizedPlan().toString()
    # the pruned read must reference exactly one bucket directory
    import re
    buckets = set(re.findall(r"bucket-(\d)", files_read))
    assert len(buckets) <= 1, files_read[:2000]
    assert [r.k for r in pre.collect()] == [7]
    kinds = [r._change_type for r in t.read_changelog(spark).collect() if r.k == 7]
    assert sorted(kinds) == ["+I"]


def test_compaction_preserves_rows_reduces_files(spark, catalog):
    """The reference compaction invariant (tutorial/guide.md:212-231 vs
    255-261): record counts preserved, file count drops, level rises."""
    t = catalog.create_table(
        "m",
        "sensor_id long, reading decimal(5,1), event_time timestamp",
        {"bucket": "2", "bucket-key": "sensor_id"},
    )
    for i in range(5):
        t.append(_measurements(spark, 200, start=i * 200))
    before = t.files_table(spark).collect()
    rows_before = sum(r.record_count for r in before)
    assert len(before) >= 10  # ≥ 2 buckets × 5 commits
    assert all(r.level == 0 for r in before)

    t.compact()
    after = t.files_table(spark).collect()
    assert sum(r.record_count for r in after) == rows_before == 1000
    assert len(after) == 2  # one file per bucket
    assert all(r.level == 5 for r in after)
    assert t.read(spark).count() == 1000
    assert t.snapshots()[-1]["commit_kind"] == "COMPACT"


def test_pk_compaction_collapses_to_merged_image(spark, catalog):
    t = catalog.create_table("s", "k long, v string", {"primary-key": "k"})
    t.upsert(spark.createDataFrame([(i, "v0") for i in range(100)], "k long, v string"))
    t.upsert(spark.createDataFrame([(i, "v1") for i in range(50)], "k long, v string"))
    t.compact()
    assert t.read(spark).count() == 100
    assert t.read(spark).filter("v = 'v1'").count() == 50
    assert len(t.manifest()) == 1
    # further upserts after compaction still win
    t.upsert(spark.createDataFrame([(0, "v2")], "k long, v string"))
    assert t.read(spark).filter("k = 0").collect()[0].v == "v2"


def test_auto_compact_on_delta_commits(spark, catalog):
    t = catalog.create_table(
        "m",
        "sensor_id long, reading decimal(5,1), event_time timestamp",
        {"full-compaction.delta-commits": "3"},
    )
    for i in range(3):
        t.append(_measurements(spark, 10, start=i * 10))
    kinds = [s["commit_kind"] for s in t.snapshots()]
    assert kinds[-1] == "COMPACT" and kinds[:-1] == ["APPEND"] * 3
    assert t.read(spark).count() == 30


def test_expire_snapshots(spark, catalog):
    t = catalog.create_table("m", "sensor_id long, reading decimal(5,1), event_time timestamp")
    for i in range(4):
        t.append(_measurements(spark, 10, start=i * 10))
    expired = t.expire_snapshots(retain_min=2, retain_max=2)
    assert expired == [1, 2]
    assert t.paths.read_pointer("EARLIEST") == 3
    assert t.read(spark).count() == 40  # latest unaffected
    with pytest.raises(FileNotFoundError):
        t.snapshot(1)


def test_auto_expiry_honors_retention_options(spark, catalog):
    """Paimon expires snapshots automatically at commit time from the
    table's retention options — the tutorial sets
    snapshot.time-retained='20s' via ALTER and relies on old snapshots
    disappearing on their own (guide.md:181-183,266-268)."""
    t = catalog.create_table(
        "ae", "k long", {"snapshot.num-retained.max": "3", "snapshot.num-retained.min": "2"}
    )
    for i in range(6):
        t.append(spark.createDataFrame([(i,)], "k long"))
    assert [s["id"] for s in t.snapshots()] == [4, 5, 6]
    assert t.read(spark).count() == 6  # data untouched, history trimmed
    # time-retained kicks in via ALTER, exactly the tutorial's flow
    t2 = catalog.create_table("ae2", "k long")
    for i in range(3):
        t2.append(spark.createDataFrame([(i,)], "k long"))
    assert len(t2.snapshots()) == 3  # no options -> no auto-expiry
    catalog.alter_table("ae2", {"snapshot.time-retained": "0 s"})
    t2 = catalog.get_table("ae2")
    t2.append(spark.createDataFrame([(9,)], "k long"))
    assert [s["id"] for s in t2.snapshots()] == [4]  # only the fresh commit survives
    # malformed duration is a clean error
    with pytest.raises(ValueError, match="duration"):
        t2._parse_duration_ms("soon")


def test_auto_partition_expiry(spark, catalog):
    """'partition.expiration-time': partitions whose date value falls
    outside the retention window are dropped automatically at commit
    time (Paimon's partition expiry); fresh partitions and unparseable
    values survive."""
    t = catalog.create_table(
        "pe", "day string, k long",
        {"partition-by": "day", "bucket": "1",
         "partition.expiration-time": "7 d"},
    )
    import datetime

    today = datetime.datetime.utcnow().strftime("%Y-%m-%d")
    old = (datetime.datetime.utcnow() - datetime.timedelta(days=30)).strftime("%Y-%m-%d")
    t.append(spark.createDataFrame([(old, 1), (old, 2)], "day string, k long"))
    # the stale partition is gone after the NEXT commit triggers expiry
    t.append(spark.createDataFrame([(today, 3)], "day string, k long"))
    got = [(r.day, r.k) for r in t.read(spark).collect()]
    assert got == [(today, 3)], got
    # steady state: another commit doesn't thrash (no expired partitions)
    sid_before = t.latest_snapshot_id()
    t.append(spark.createDataFrame([(today, 4)], "day string, k long"))
    assert t.latest_snapshot_id() == sid_before + 1  # exactly one commit
    assert t.read(spark).count() == 2


def test_registered_consumer_protects_snapshots_from_expiry(spark, catalog):
    """Paimon consumer-id semantics: a registered streaming reader's
    unconsumed snapshot window survives expire_snapshots even under the
    reference's aggressive retention (snapshot.time-retained='20s',
    tutorial/guide.md:181-183); unregistered tables expire as before."""
    t = catalog.create_table("mc", "sensor_id long, reading decimal(5,1), event_time timestamp")
    for i in range(4):
        t.append(_measurements(spark, 10, start=i * 10))
    # a reader that has consumed snapshot 1 and will read 2 next
    t.register_consumer("job-a", next_snapshot_id=2)
    # time-based retention that would otherwise drop everything but LATEST
    future = int(__import__("time").time() * 1000) + 60_000
    expired = t.expire_snapshots(retain_min=1, older_than_ms=future)
    assert expired == [1]  # 2,3 pinned by the consumer, 4 is LATEST
    assert {s["id"] for s in t.snapshots()} == {2, 3, 4}
    # $consumers system table (and the $ SQL spelling) exposes the bookmark
    rows = catalog.sql(
        spark, "SELECT consumer_id, next_snapshot_id FROM mc$consumers"
    ).collect()
    assert [(r.consumer_id, r.next_snapshot_id) for r in rows] == [("job-a", 2)]
    # progress advances; dropping the consumer releases the pin
    t.register_consumer("job-a", next_snapshot_id=4)
    assert t.expire_snapshots(retain_min=1, older_than_ms=future) == [2, 3]
    t.drop_consumer("job-a")
    assert t.consumers() == {}


def test_options_and_audit_log_system_tables(spark, catalog):
    """$options lists the option set as key/value rows; $audit_log is
    the stored changelog with Paimon's rowkind column name."""
    t = catalog.create_table(
        "oa", "k long, v string",
        {"primary-key": "k", "changelog-producer": "input", "bucket": "2"},
    )
    opts = {
        r.key: r.value
        for r in catalog.sql(spark, "SELECT * FROM oa$options").collect()
    }
    assert opts["changelog-producer"] == "input"
    assert opts["primary-key"] == "k"  # list renders as csv
    t.upsert(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.upsert(spark.createDataFrame([(1, "b")], "k long, v string"))
    rows = catalog.sql(
        spark, "SELECT k, v, rowkind FROM oa$audit_log ORDER BY rowkind"
    ).collect()
    assert [(r.k, r.v, r.rowkind) for r in rows] == [
        (1, "a", "+I"), (1, "b", "+U"), (1, "a", "-U")
    ]
    # empty-but-typed for tables without a stored changelog
    catalog.create_table("oa2", "k long")
    assert catalog.sql(spark, "SELECT * FROM oa2$audit_log").count() == 0


def test_alter_table_bumps_schema_version(spark, catalog):
    catalog.create_table("m", "k long, v string", {"bucket": "1"})
    t = catalog.get_table("m")
    assert t.schema_version == 0
    catalog.alter_table("m", {"snapshot.num-retained.min": "1"})
    assert t.schema_version == 1
    assert t.options["snapshot.num-retained.min"] == "1"
    assert t.options["bucket"] == "1"  # previous options carried forward


def test_files_system_table_schema(spark, catalog):
    """$files column contract per FIXTURES.md A4 / tutorial/guide.md:200-208."""
    t = catalog.create_table("m", "sensor_id long, reading decimal(5,1), event_time timestamp")
    t.append(_measurements(spark, 100))
    ft = t.files_table(spark)
    assert [f.name for f in ft.schema.fields] == [
        "file_path",
        "partition",
        "level",
        "record_count",
        "file_size_in_bytes",
        "min_value_stats",
        "min_sequence_number",
        "creation_time",
    ]
    row = ft.collect()[0]
    assert row.record_count == 100
    assert row.file_size_in_bytes > 0
    assert "sensor_id" in row.min_value_stats


def test_sql_system_table_rewrite(spark, catalog):
    t = catalog.create_table("m", "sensor_id long, reading decimal(5,1), event_time timestamp")
    t.append(_measurements(spark, 100))
    got = catalog.sql(spark, "SELECT SUM(record_count) AS rc FROM m$files").collect()
    assert got[0].rc == 100
    snaps = catalog.sql(spark, "SELECT COUNT(*) AS n FROM m$snapshots").collect()
    assert snaps[0].n == 1
    cnt = catalog.sql(spark, "SELECT COUNT(*) AS n FROM m").collect()
    assert cnt[0].n == 100


def test_manifest_file_pruning(spark, catalog):
    t = catalog.create_table("m", "sensor_id long, reading decimal(5,1), event_time timestamp")
    # three commits with disjoint sensor_id ranges → prunable files
    for lo in (0, 1000, 2000):
        df = spark.range(lo, lo + 500).select(
            F.col("id").alias("sensor_id"),
            F.lit(1.0).cast("decimal(5,1)").alias("reading"),
            F.timestamp_millis(F.lit(1700000000000)).alias("event_time"),
        )
        t.append(df)
    entries = t.manifest()
    assert len(prune_entries(entries, "sensor_id >= 2000")) == 1
    # files cover [0,499], [1000,1499], [2000,2499] → only the middle one
    assert len(prune_entries(entries, "sensor_id >= 500 AND sensor_id < 1500")) == 1
    assert len(prune_entries(entries, "sensor_id <= 1200")) == 2
    # unsupported predicate shapes keep everything (pruning is safe)
    assert len(prune_entries(entries, "sensor_id % 2 = 0")) == 3
    got = t.read(spark, where="sensor_id >= 2000")
    assert got.count() == 500


def test_partitioned_table_layout_and_pruning(spark, catalog):
    """partition-by: Hive-style <col>=<val> dirs above bucket dirs,
    partition columns preserved in data files, manifest pruning skips
    non-matching partitions, compaction keeps the layout."""
    import os

    t = catalog.create_table(
        "ev",
        "event_id long, day string, v double",
        {"partition-by": "day", "bucket": "2", "bucket-key": "event_id"},
    )
    df = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 3:02d}", float(i)) for i in range(300)],
        "event_id long, day string, v double",
    )
    t.append(df)

    # layout: day=<val>/bucket-<n>/
    days = sorted(
        d for d in os.listdir(t.paths.root) if d.startswith("day=")
    )
    assert days == ["day=2024-01-01", "day=2024-01-02", "day=2024-01-03"]
    assert sorted(os.listdir(os.path.join(t.paths.root, days[0]))) == ["bucket-0", "bucket-1"]

    # partition metadata in the manifest + $files
    parts = {e["partition"]["day"] for e in t.manifest()}
    assert parts == {"2024-01-01", "2024-01-02", "2024-01-03"}

    # read roundtrip keeps partition column values
    assert t.read(spark).count() == 300
    assert t.read(spark).filter("day = '2024-01-02'").count() == 100

    # manifest pruning: a day predicate must cut the file list ~3x
    all_files = t._live_files()
    pruned = t._live_files(where="day = '2024-01-02'")
    assert len(pruned) * 3 <= len(all_files) + 2, (len(pruned), len(all_files))

    # compaction preserves rows and the partitioned layout
    t.compact()
    assert t.read(spark).count() == 300
    assert {e["partition"]["day"] for e in t.manifest()} == parts


def test_time_travel_sql(spark, catalog):
    """`VERSION AS OF n` reads the table as of snapshot n (MVCC log)."""
    t = catalog.create_table("m", "k long, v long")
    t.append(spark.createDataFrame([(1, 1)], "k long, v long"))
    t.append(spark.createDataFrame([(2, 2)], "k long, v long"))
    assert catalog.sql(spark, "SELECT COUNT(*) AS c FROM m VERSION AS OF 1").collect()[0].c == 1
    assert catalog.sql(spark, "SELECT COUNT(*) AS c FROM m VERSION AS OF 2").collect()[0].c == 2
    assert catalog.sql(spark, "SELECT COUNT(*) AS c FROM m").collect()[0].c == 2


def test_remove_orphan_files(spark, catalog):
    """Files outside every snapshot's manifest (crash residue) are
    removed; referenced files and newer-than-cutoff files survive."""
    import time as _time

    t = catalog.create_table("m", "k long, v long")
    t.append(spark.createDataFrame([(1, 1), (2, 2)], "k long, v long"))
    # plant an orphan data file + an abandoned staging dir
    orphan = os.path.join(t.paths.bucket_dir(0), "data-orphan.parquet")
    spark.createDataFrame([(9, 9)], "k long, v long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(t.paths.root, ".staging-crashed-123"))
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")

    # a crashed upsert writer's changelog staging dir is an orphan too
    cl_staging = os.path.join(t.paths.root, "changelog", ".staging-crashed-456")
    os.makedirs(cl_staging, exist_ok=True)

    future = int(_time.time() * 1000) + 60_000  # everything is "old enough"
    removed = t.remove_orphan_files(older_than_ms=future)
    assert any("data-orphan" in r for r in removed)
    assert any(".staging-crashed-123" in r for r in removed)
    assert any(".staging-crashed-456" in r for r in removed)
    assert not os.path.exists(orphan)
    assert not os.path.exists(cl_staging)
    # live data intact
    assert t.read(spark).count() == 2


def test_minor_compaction_max_file_num(spark, catalog):
    """'compaction.max.file-num' triggers a minor L0-only merge: fresh
    files collapse to level 1, compacted files stay untouched, rows
    preserved (tutorial/guide.md:269-270)."""
    t = catalog.create_table(
        "m",
        "sensor_id long, reading decimal(5,1), event_time timestamp",
        {"bucket": "1", "compaction.max.file-num": "3"},
    )
    for i in range(5):
        t.append(_measurements(spark, 100, start=i * 100))
    levels = sorted(e["level"] for e in t.manifest())
    assert 1 in levels  # minor compaction ran
    assert levels.count(0) <= 3  # L0 population bounded
    assert t.read(spark).count() == 500
    assert any(s["commit_kind"] == "COMPACT" for s in t.snapshots())


def test_minor_compaction_pk_preserves_merge(spark, catalog):
    """Minor compaction of a PK table must not disturb merge-on-read:
    the rewritten rows keep their own __seq, so later upserts still win
    and earlier images stay shadowed."""
    t = catalog.create_table("s", "k long, v string", {"primary-key": "k"})
    t.upsert(spark.createDataFrame([(1, "v1"), (2, "v1")], "k long, v string"))
    t.upsert(spark.createDataFrame([(1, "v2")], "k long, v string"))
    t.compact_minor()
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {1: "v2", 2: "v1"}
    t.upsert(spark.createDataFrame([(2, "v3")], "k long, v string"))
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {1: "v2", 2: "v3"}


def test_add_column_schema_evolution(spark, catalog):
    """ADD COLUMN bumps the schema version; old files read back with the
    new column null-filled, new writes carry it (assets/output5.png)."""
    t = catalog.create_table("m", "k long, v long")
    t.append(spark.createDataFrame([(1, 10)], "k long, v long"))
    catalog.add_column("m", "tag string")
    assert t.schema_version == 1
    assert [f.name for f in t.schema.fields] == ["k", "v", "tag"]
    # old file: tag is null
    rows = {r.k: r.tag for r in t.read(spark).collect()}
    assert rows == {1: None}
    # new write carries the column
    t.append(spark.createDataFrame([(2, 20, "fresh")], "k long, v long, tag string"))
    rows = {r.k: r.tag for r in t.read(spark).collect()}
    assert rows == {1: None, 2: "fresh"}


def test_composite_pk_and_bucket_key(spark, catalog):
    """Composite primary key + multi-column bucket key: merge-on-read
    dedups on the full key tuple; bucket routing uses both columns."""
    t = catalog.create_table(
        "s",
        "a long, b long, v long",
        {"primary-key": ["a", "b"], "bucket": "4", "bucket-key": "a,b"},
    )
    t.upsert(spark.createDataFrame([(1, 1, 10), (1, 2, 20), (2, 1, 30)], "a long, b long, v long"))
    t.upsert(spark.createDataFrame([(1, 2, 99)], "a long, b long, v long"))
    got = {(r.a, r.b): r.v for r in t.read(spark).collect()}
    assert got == {(1, 1): 10, (1, 2): 99, (2, 1): 30}


def test_sort_by_tightens_stats_for_pruning(spark, catalog):
    """'sort-by' clusters rows within bucket files: with multiple files
    per bucket (maxRecordsPerFile), sorted writes give disjoint min/max
    ranges and a point predicate prunes to few files; unsorted writes
    leave every file covering the whole range (no pruning)."""
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "250")
    try:
        data = spark.createDataFrame(
            [((i * 7919) % 1000, i) for i in range(1000)], "k long, v long"
        )
        plain = catalog.create_table("plain", "k long, v long", {"bucket": "1"})
        plain.append(data)
        sorted_t = catalog.create_table(
            "clustered", "k long, v long", {"bucket": "1", "sort-by": "k"}
        )
        sorted_t.append(data)
        assert len(plain._live_files()) >= 4 and len(sorted_t._live_files()) >= 4
        pred = "k >= 100 AND k <= 120"
        assert len(plain._live_files(where=pred)) == len(plain._live_files())
        assert len(sorted_t._live_files(where=pred)) == 1
        # correctness unaffected
        assert sorted_t.read(spark, where=pred).count() == plain.read(spark, where=pred).count()
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")


def test_delete_where_append_table_copy_on_write(spark, catalog):
    """DELETE on an append table rewrites only the files the predicate
    can touch (manifest-pruned copy-on-write)."""
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "250")
    try:
        t = catalog.create_table("m", "k long, v long", {"bucket": "1", "sort-by": "k"})
        t.append(spark.createDataFrame([(i, i) for i in range(1000)], "k long, v long"))
        files_before = set(t._live_files())
        assert len(files_before) >= 4
        t.delete_where(spark, "k >= 100 AND k < 120")
        assert t.read(spark).count() == 980
        assert t.read(spark).filter("k >= 100 AND k < 120").count() == 0
        # COW: most files untouched
        untouched = set(t._live_files()) & files_before
        assert len(untouched) >= len(files_before) - 1
        assert t.snapshots()[-1]["commit_kind"] == "OVERWRITE"
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")


def test_delete_where_pk_table_retraction(spark, catalog):
    t = catalog.create_table("s", "k long, v long", {"primary-key": "k"})
    t.upsert(spark.createDataFrame([(i, i) for i in range(10)], "k long, v long"))
    t.delete_where(spark, "k % 2 = 0")
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 3, 5, 7, 9]


def test_update_where_both_table_kinds(spark, catalog):
    a = catalog.create_table("a", "k long, v long")
    a.append(spark.createDataFrame([(i, 0) for i in range(10)], "k long, v long"))
    a.update_where(spark, {"v": "v + 100"}, "k < 3")
    got = {r.k: r.v for r in a.read(spark).collect()}
    assert all(got[k] == 100 for k in range(3)) and all(got[k] == 0 for k in range(3, 10))

    p = catalog.create_table("p", "k long, v long", {"primary-key": "k"})
    p.upsert(spark.createDataFrame([(i, 0) for i in range(10)], "k long, v long"))
    p.update_where(spark, {"v": "42"}, "k >= 8")
    got = {r.k: r.v for r in p.read(spark).collect()}
    assert got[8] == got[9] == 42 and got[0] == 0 and len(got) == 10


def test_tags_pin_read_and_survive_expiry(spark, catalog):
    """Tags: named immutable snapshot refs; tag reads see the tagged
    image; expire_snapshots never drops a tagged snapshot (Paimon tag
    semantics)."""
    t = catalog.create_table("m", "sensor_id long, reading decimal(5,1), event_time timestamp", {})
    t.append(_measurements(spark, 100))
    t.create_tag("v1")  # pins snapshot 1
    t.append(_measurements(spark, 50, start=100))
    t.append(_measurements(spark, 25, start=150))
    assert t.read(spark, snapshot_id="v1").count() == 100
    assert t.read(spark).count() == 175
    # idempotent re-create ok; retarget forbidden
    t.create_tag("v1", 1)
    with pytest.raises(AssertionError):
        t.create_tag("v1", 2)
    # expiry keeps the tagged snapshot alive even when out of window
    t.expire_snapshots(retain_max=1)
    assert t.read(spark, snapshot_id="v1").count() == 100
    kept = {s["id"] for s in t.snapshots()}
    assert 1 in kept and 3 in kept and 2 not in kept
    # $tags system table + SQL surface
    tags = {r["tag_name"]: r for r in t.tags_table(spark).collect()}
    assert tags["v1"]["snapshot_id"] == 1 and tags["v1"]["record_count"] == 100
    n = catalog.sql(spark, "SELECT COUNT(*) AS n FROM m VERSION AS OF 'v1'").collect()[0]["n"]
    assert n == 100
    assert catalog.sql(spark, "SELECT * FROM m$tags").count() == 1
    t.delete_tag("v1")
    assert t.tags() == {}


def test_rollback_to_snapshot(spark, catalog):
    """rollback_to: later snapshots and their exclusive data files are
    deleted, LATEST resets, and the table keeps working after."""
    t = catalog.create_table("m", "sensor_id long, reading decimal(5,1), event_time timestamp", {})
    t.append(_measurements(spark, 100))
    t.append(_measurements(spark, 50, start=100))
    t.append(_measurements(spark, 25, start=150))
    assert t.read(spark).count() == 175
    t.rollback_to(1)
    assert t.latest_snapshot_id() == 1
    assert t.read(spark).count() == 100
    assert not os.path.exists(t.paths.snapshot_path(2))
    assert not os.path.exists(t.paths.snapshot_path(3))
    # no orphan data files remain on disk beyond the live manifest
    live = {e["file_path"] for e in t.manifest()}
    on_disk = set()
    import glob as _glob
    for f in _glob.glob(os.path.join(t.paths.root, "bucket-*", "*.parquet")):
        on_disk.add(os.path.relpath(f, t.paths.root))
    assert on_disk == live
    # writes continue from the rolled-back point
    t.append(_measurements(spark, 10, start=200))
    assert t.latest_snapshot_id() == 2
    assert t.read(spark).count() == 110


def test_partitions_system_table(spark, catalog):
    """$partitions aggregates the manifest per partition value."""
    t = catalog.create_table(
        "pm",
        "day string, sensor_id long, reading decimal(5,1), event_time timestamp",
        {"partition-by": "day", "bucket": "1", "bucket-key": "sensor_id"},
    )
    df = _measurements(spark, 100).withColumn(
        "day", F.when(F.col("sensor_id") % 2 == 0, "2024-01-01").otherwise("2024-01-02")
    ).select("day", "sensor_id", "reading", "event_time")
    t.append(df)
    rows = {tuple(sorted(r["partition"].items())): r for r in t.partitions_table(spark).collect()}
    assert len(rows) == 2
    total = sum(r["record_count"] for r in rows.values())
    assert total == 100
    assert all(r["file_count"] >= 1 for r in rows.values())
    # SQL surface
    n = catalog.sql(spark, "SELECT SUM(record_count) AS n FROM pm$partitions").collect()[0]["n"]
    assert n == 100


def test_overwrite_pk_table_reads_back(spark, catalog):
    """OVERWRITE on a PK table must stamp merge metadata — without
    __op/__seq the merge-on-read filter dropped every row."""
    t = catalog.create_table("pko", "k long, v string", {"primary-key": "k"})
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.overwrite(spark.createDataFrame([(3, "c")], "k long, v string"))
    assert sorted((r.k, r.v) for r in t.read(spark).collect()) == [(3, "c")]
    # upserts keep working on top of the overwritten image
    t.upsert(spark.createDataFrame([(3, "C"), (4, "d")], "k long, v string"))
    assert sorted((r.k, r.v) for r in t.read(spark).collect()) == [(3, "C"), (4, "d")]


def test_delete_update_respect_schema_evolution(spark, catalog):
    """Copy-on-write DELETE/UPDATE must read old files with their
    write-time schema: reading by current name after a RENAME would
    null-fill the column and PERSIST the loss in the rewritten files."""
    t = catalog.create_table("ev2", "k long, a string")
    t.append(spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "k long, a string"))
    catalog.rename_column("ev2", "a", "label")
    t = catalog.get_table("ev2")
    t.delete_where(spark, "k = 2")
    rows = sorted((r.k, r.label) for r in t.read(spark).collect())
    assert rows == [(1, "x"), (3, "z")]
    t.update_where(spark, {"label": "upper(label)"}, "k = 3")
    rows = sorted((r.k, r.label) for r in t.read(spark).collect())
    assert rows == [(1, "x"), (3, "Z")]


def test_update_where_pk_casts_to_declared_type(spark, catalog):
    """SET expressions on a PK table must cast back to the declared
    column type — an uncast v/2 (double) staged mistyped parquet that
    bricked every later schema-pinned read."""
    t = catalog.create_table("pkc", "k long, v int", {"primary-key": "k"})
    t.upsert(spark.createDataFrame([(1, 10)], "k long, v int"))
    t.update_where(spark, {"v": "v / 2"}, "k = 1")
    assert [(r.k, r.v) for r in t.read(spark).collect()] == [(1, 5)]


def test_minor_compaction_respects_added_columns(spark, catalog):
    """L0 files written before and after an ADD COLUMN must merge
    without losing the new column (schema inference picked one file's
    schema and silently dropped the other's columns)."""
    t = catalog.create_table("mc", "k long, a long")
    t.append(spark.createDataFrame([(1, 10)], "k long, a long"))
    catalog.add_column("mc", "b long")
    t = catalog.get_table("mc")
    t.append(spark.createDataFrame([(2, 20, 200)], "k long, a long, b long"))
    assert t.compact_minor() is not None
    rows = sorted((r.k, r.a, r.b) for r in t.read(spark).collect())
    assert rows == [(1, 10, None), (2, 20, 200)]


def test_rollback_removes_changelog_of_rolled_back_commits(spark, catalog):
    t = catalog.create_table(
        "clr", "k long, v string", {"primary-key": "k", "changelog-producer": "input"}
    )
    t.upsert(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.upsert(spark.createDataFrame([(1, "b")], "k long, v string"))
    assert len(t.read_changelog(spark).collect()) == 3  # +I, -U, +U
    t.rollback_to(1)
    kinds = [(r.k, r._change_type) for r in t.read_changelog(spark).collect()]
    assert kinds == [(1, "+I")], kinds


def test_rollback_unlinks_stream_mirror_of_rolled_back_appends(spark, catalog):
    """The stream/ append-log mirror must forget rolled-back APPEND
    commits, or stream_table_files subscribers (fresh ones included)
    replay rows from commits that no longer exist — while keeping the
    mirror files of surviving commits (even if later compacted)."""
    t = catalog.create_table("rbs", "k long, v string", {})
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    sdir = os.path.join(t.paths.root, "stream")
    assert len(os.listdir(sdir)) == 3
    survivors = {
        f"snapshot-000001__{os.path.basename(e['file_path'])}" for e in t.manifest(1)
    }
    t.rollback_to(1)
    assert set(os.listdir(sdir)) == survivors
    # compaction keeps mirror files; a later rollback over the compact
    # snapshot still only removes genuinely rolled-back appends
    t.append(spark.createDataFrame([(4, "d")], "k long, v string"))
    t.compact()
    t.append(spark.createDataFrame([(5, "e")], "k long, v string"))
    before = set(os.listdir(sdir))
    t.rollback_to(3)  # drop only the (5, 'e') append
    assert len(before - set(os.listdir(sdir))) == 1


# ----------------------------------------------------------------------
# Concurrent-writer commit conflicts (VERDICT r3 ask #4): with multiple
# continuous pipelines writing one table at 100 TB, a lost-update must
# be impossible — clean appends rebase, dirty writers abort loudly.
# ----------------------------------------------------------------------
def _interleave(table, other_commit):
    """Make `other_commit` run inside `table`'s next write, between its
    read of LATEST and its _commit — a real two-writer race, forced
    deterministically."""
    orig = table._stage_write

    def hooked(df, **kwargs):
        staged = orig(df, **kwargs)
        table._stage_write = orig  # fire once
        other_commit()
        return staged

    table._stage_write = hooked


def test_concurrent_appends_rebase_and_both_survive(spark, catalog):
    """Two racing APPENDs have disjoint file sets: the loser of the
    snapshot-publish race rebases onto the winner's base instead of
    clobbering it, and both commits' rows survive."""
    a = catalog.create_table("cc_app", "k long, v string", {})
    b = catalog.get_table("cc_app")
    _interleave(a, lambda: b.append(spark.createDataFrame([(2, "b")], "k long, v string")))
    a.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    assert a.latest_snapshot_id() == 2
    assert {r["k"] for r in a.read(spark).collect()} == {1, 2}
    # snapshot 2 (the rebased winner-after-retry) contains BOTH file sets
    assert len(a.manifest(2)) == 2


def test_concurrent_upsert_loser_raises_not_clobbers(spark, catalog):
    """PK upserts bake __seq into their files; the loser must raise
    CommitConflictError (Paimon aborts the dirty writer) and leave the
    winner's image intact — no silent lost update, no orphan files or
    changelog rows from the aborted commit."""
    from advent_of_code_flink_paimon_spark.lakehouse import CommitConflictError

    a = catalog.create_table(
        "cc_pk", "k long, v string",
        {"primary-key": "k", "changelog-producer": "input"},
    )
    b = catalog.get_table("cc_pk")
    _interleave(a, lambda: b.upsert(spark.createDataFrame([(1, "winner")], "k long, v string")))
    with pytest.raises(CommitConflictError):
        a.upsert(spark.createDataFrame([(1, "loser")], "k long, v string"))
    assert a.latest_snapshot_id() == 1
    rows = {(r["k"], r["v"]) for r in a.read(spark).collect()}
    assert rows == {(1, "winner")}
    # aborted commit left no data files beyond the winner's manifest
    live = {os.path.basename(e["file_path"]) for e in a.manifest(1)}
    on_disk = {
        os.path.basename(p)
        for p in __import__("glob").glob(os.path.join(a.paths.root, "bucket-*", "*.parquet"))
    }
    assert on_disk == live
    # and no changelog rows for the never-published sequence
    assert a.read_changelog(spark).count() == 1  # the winner's +I only


def test_concurrent_overwrite_and_compact_losers_raise(spark, catalog):
    from advent_of_code_flink_paimon_spark.lakehouse import CommitConflictError

    a = catalog.create_table("cc_ow", "k long, v string", {})
    a.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    b = catalog.get_table("cc_ow")
    # OVERWRITE loser: replaced-set computed against a stale manifest
    _interleave(a, lambda: b.append(spark.createDataFrame([(2, "b")], "k long, v string")))
    with pytest.raises(CommitConflictError):
        a.overwrite(spark.createDataFrame([(9, "z")], "k long, v string"))
    assert {r["k"] for r in a.read(spark).collect()} == {1, 2}
    # COMPACT loser: file set to replace changed under it
    _interleave(a, lambda: b.append(spark.createDataFrame([(3, "c")], "k long, v string")))
    with pytest.raises(CommitConflictError):
        a.compact()
    assert {r["k"] for r in a.read(spark).collect()} == {1, 2, 3}
    # after the conflicts, a clean retry of each succeeds
    assert a.compact() is not None
    assert a.read(spark).count() == 3


def test_exactly_once_survives_append_rebase(spark, catalog):
    """commit_identifier dedup must still hold when the identified
    commit was published via the rebase path."""
    a = catalog.create_table("cc_eo", "k long, v string", {})
    b = catalog.get_table("cc_eo")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    _interleave(a, lambda: b.append(spark.createDataFrame([(2, "b")], "k long, v string")))
    assert a.append(df, commit_identifier=42) == 2  # rebased onto b's snapshot 1
    assert a.append(df, commit_identifier=42) is None  # replay → no-op
    assert a.read(spark).count() == 2


# ----------------------------------------------------------------------
# Incremental (delta) manifests: APPEND commits write O(commit) deltas,
# not the O(table) full file list — at 100 TB / 1M files a full manifest
# is ~100 MB of driver JSON per 20 s streaming commit.
# ----------------------------------------------------------------------
def test_append_manifests_are_deltas_with_periodic_full(spark, catalog):
    import json

    t = catalog.create_table("dm", "k long, v string", {})
    for i in range(12):
        t.append(spark.createDataFrame([(i, "x")], "k long, v string"))
    docs = {
        sid: json.load(open(t.paths.manifest_path(sid))) for sid in range(1, 13)
    }
    # snapshot 1 (no base) and snapshot 10 (chain bound) are full images
    assert "files" in docs[1] and "files" in docs[10]
    for sid in (2, 3, 4, 5, 6, 7, 8, 9, 11, 12):
        assert docs[sid]["base_snapshot"] == sid - 1, sid
        assert len(docs[sid]["added"]) >= 1 and "files" not in docs[sid]
    # reconstruction equals reality at every snapshot
    for sid in range(1, 13):
        assert len(t.manifest(sid)) == sid
        assert t.read(spark, snapshot_id=sid).count() == sid
    # a replacing commit (compact) writes a full image again
    t.compact()
    assert "files" in json.load(open(t.paths.manifest_path(13)))
    assert t.read(spark).count() == 12


def test_expire_materializes_kept_delta_manifests(spark, catalog):
    """Expiring a delta's base snapshot must not strand the kept
    snapshots — their manifests are rewritten as full images first."""
    import json

    t = catalog.create_table("dme", "k long, v string", {})
    for i in range(7):
        t.append(spark.createDataFrame([(i, "x")], "k long, v string"))
    # keep only the 3 newest: snapshots 5..7 survive, 1..4 (including
    # snapshot 5's base chain 1→…→4) are deleted
    expired = t.expire_snapshots(retain_min=3, retain_max=3)
    assert expired == [1, 2, 3, 4]
    assert "files" in json.load(open(t.paths.manifest_path(5)))
    for sid in (5, 6, 7):
        assert t.read(spark, snapshot_id=sid).count() == sid
    # and the table keeps appending deltas on top afterwards
    t.append(spark.createDataFrame([(99, "y")], "k long, v string"))
    assert t.read(spark).count() == 8


def test_rollback_across_delta_manifests(spark, catalog):
    t = catalog.create_table("dmr", "k long, v string", {})
    for i in range(6):
        t.append(spark.createDataFrame([(i, "x")], "k long, v string"))
    t.rollback_to(2)
    assert t.read(spark).count() == 2
    # re-issued snapshot ids after rollback must not see stale cached
    # reconstructions
    t.append(spark.createDataFrame([(50, "y")], "k long, v string"))
    assert t.latest_snapshot_id() == 3
    assert {r.k for r in t.read(spark).collect()} == {0, 1, 50}
    assert t.read(spark, snapshot_id=2).count() == 2


def test_incremental_read_uses_delta_manifests(spark, catalog):
    """Pure-append ranges are answered from the delta manifests alone;
    ranges crossing a full/replacing manifest fall back to the diff —
    both must return exactly the (from, to] rows."""
    t = catalog.create_table("dinc", "k long, v string", {})
    for i in range(6):
        t.append(spark.createDataFrame([(i, "x")], "k long, v string"))
    # pure-append fast path
    assert t._delta_added_paths(2, 5) is not None
    assert {r.k for r in t.incremental_read(spark, 2, 5).collect()} == {2, 3, 4}
    # a compact inside the range forces the fallback
    t.compact()  # snapshot 7, full image
    t.append(spark.createDataFrame([(60, "y")], "k long, v string"))
    assert t._delta_added_paths(5, 8) is None
    got = {r.k for r in t.incremental_read(spark, 7, 8).collect()}
    assert got == {60}
    # tag names resolve on both ends (Paimon incremental-between tags)
    t.create_tag("start", 2)
    t.create_tag("stop", 5)
    assert {r.k for r in t.incremental_read(spark, "start", "stop").collect()} == {2, 3, 4}
    # wall-clock spelling (Paimon incremental-between-timestamp): both
    # ends resolve to the last snapshot committed at or before them
    ts2 = t.snapshot(2)["timestamp_ms"]
    ts5 = t.snapshot(5)["timestamp_ms"]
    assert {r.k for r in t.incremental_read_between_timestamps(spark, ts2, ts5).collect()} == {2, 3, 4}
    # a from-timestamp before the first snapshot reads from genesis
    assert {r.k for r in t.incremental_read_between_timestamps(spark, 0, ts2).collect()} == {0, 1}


def test_incremental_read_from_expired_snapshot_on_fresh_handle(spark, catalog, tmp_path):
    """Expiry materializes the kept delta manifests as full images; they
    must keep their added-file lists, so an incremental read from an
    expired snapshot works on a handle that never cached its manifest."""
    t = catalog.create_table("t", "k long", {})
    for k in range(1, 5):
        t.append_rows(spark, [(k,)])
    assert t.expire_snapshots(retain_max=2) == [1, 2]
    fresh = Catalog(str(tmp_path / "warehouse")).get_table("t")
    assert {r.k for r in fresh.incremental_read(spark, 2, 4).collect()} == {3, 4}
    # the materialized manifest still reads as a full image
    assert {r.k for r in fresh.read(spark).collect()} == {1, 2, 3, 4}


def test_manifests_system_table(spark, catalog):
    """$manifests exposes the incremental-manifest shape: full vs delta,
    base chain, per-commit added counts, manifest bytes."""
    t = catalog.create_table("msys", "k long, v string", {})
    for i in range(3):
        t.append(spark.createDataFrame([(i, "x")], "k long, v string"))
    t.compact()
    rows = {r.snapshot_id: r for r in t.manifests_table(spark).collect()}
    assert rows[1].kind == "full" and rows[1].base_snapshot is None
    assert rows[2].kind == "delta" and rows[2].base_snapshot == 1
    assert rows[2].added_or_total_files == 1 and rows[2].removed_files == 0
    assert rows[4].kind == "full"  # compact rewrites the image
    assert all(r.manifest_bytes > 0 for r in rows.values())
    # delta manifests stay O(commit): the 3rd delta (table holds 3
    # files) is the same ~one-entry size as the 2nd, not cumulative
    assert rows[3].manifest_bytes < rows[2].manifest_bytes * 1.5
    # SQL spelling through the catalog
    out = catalog.sql(spark, "SELECT COUNT(*) AS c FROM msys$manifests").collect()
    assert out[0].c == 4


def test_delta_manifests_preserve_schema_evolution(spark, catalog):
    """Entries written before ADD/RENAME COLUMN carry their schema_id
    through delta-manifest reconstruction, so evolution-aware reads keep
    mapping old files correctly across a delta chain."""
    t = catalog.create_table("dmev", "k long, v string", {})
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    t = catalog.add_column("dmev", "w int")
    t.append(spark.createDataFrame([(2, "b", 20)], "k long, v string, w int"))
    t = catalog.rename_column("dmev", "v", "label")
    t.append(spark.createDataFrame([(3, "c", 30)], "k long, label string, w int"))
    sids = {e["file_path"]: e["schema_id"] for e in t.manifest()}
    assert sorted(sids.values()) == [0, 1, 2]
    rows = {r.k: (r.label, r.w) for r in t.read(spark).collect()}
    assert rows == {1: ("a", None), 2: ("b", 20), 3: ("c", 30)}


def test_zorder_clustering_prunes_on_both_columns(spark, catalog):
    """'sort-by' = 'zorder(a,b)' interleaves quantile-rank bits so BOTH
    columns get tight per-file ranges: range predicates on either column
    prune files, where a lexicographic sort only prunes its prefix."""
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "250")
    try:
        data = spark.createDataFrame(
            [((i * 7919) % 1000, (i * 104729) % 1000) for i in range(2000)],
            "a long, b long",
        )
        lex = catalog.create_table("zlex", "a long, b long", {"bucket": "1", "sort-by": "a"})
        lex.append(data)
        zt = catalog.create_table(
            "zt", "a long, b long", {"bucket": "1", "sort-by": "zorder(a,b)"}
        )
        zt.append(data)
        n_lex, n_z = len(lex._live_files()), len(zt._live_files())
        assert n_lex >= 8 and n_z >= 8
        pa, pb = "a >= 100 AND a <= 150", "b >= 100 AND b <= 150"
        # lexicographic: prunes on the prefix, blind on b
        assert len(lex._live_files(where=pa)) < n_lex
        assert len(lex._live_files(where=pb)) == n_lex
        # zorder: prunes on BOTH axes
        assert len(zt._live_files(where=pa)) < n_z
        assert len(zt._live_files(where=pb)) < n_z
        # correctness unaffected
        for pred in (pa, pb):
            assert zt.read(spark, where=pred).count() == lex.read(spark, where=pred).count()
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")


def test_sort_compact_reclusters_without_changing_options(spark, catalog):
    """compact(cluster_by=…) is Paimon's SORT COMPACT: a one-off
    zorder/lexicographic re-cluster of historical data during the full
    rewrite, leaving the standing 'sort-by' option untouched."""
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "250")
    try:
        data = spark.createDataFrame(
            [((i * 7919) % 1000, (i * 104729) % 1000) for i in range(2000)],
            "a long, b long",
        )
        t = catalog.create_table("sc", "a long, b long", {"bucket": "1"})
        t.append(data)
        n_before = len(t._live_files())
        pb = "b >= 100 AND b <= 150"
        # unsorted: footer ranges overlap, b-predicates prune nothing
        assert len(t._live_files(where=pb)) == n_before
        t.compact(cluster_by="zorder(a,b)")
        n_after = len(t._live_files())
        assert n_after >= 8
        assert len(t._live_files(where=pb)) < n_after
        assert len(t._live_files(where="a >= 100 AND a <= 150")) < n_after
        assert t.read(spark).count() == 2000  # append compaction row invariant
        assert "sort-by" not in t.options  # one-off, not a standing option
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")


def test_timestamp_as_of_time_travel(spark, catalog):
    import time

    t = catalog.create_table("tts", "k long, v string", {})
    for i in range(3):
        t.append(spark.createDataFrame([(i, "x")], "k long, v string"))
        time.sleep(0.01)  # distinct commit timestamps
    snaps = {s["id"]: s["timestamp_ms"] for s in t.snapshots()}
    assert t.snapshot_as_of_timestamp(snaps[2]) == 2
    assert t.snapshot_as_of_timestamp(str(snaps[3])) == 3
    with pytest.raises(ValueError, match="no snapshot at or before"):
        t.snapshot_as_of_timestamp(snaps[1] - 1)
    # SQL spelling, both millis and ISO wall-clock forms
    n = catalog.sql(
        spark, f"SELECT COUNT(*) AS c FROM tts TIMESTAMP AS OF {snaps[2]}"
    ).collect()[0].c
    assert n == 2
    import datetime

    iso = datetime.datetime.fromtimestamp(
        snaps[1] / 1000.0, tz=datetime.timezone.utc
    ).replace(tzinfo=None).isoformat(sep=" ", timespec="milliseconds")
    n1 = catalog.sql(
        spark, f"SELECT COUNT(*) AS c FROM tts TIMESTAMP AS OF '{iso}'"
    ).collect()[0].c
    assert n1 == 1


def test_changelog_producer_full_compaction(spark, catalog):
    """Paimon's third producer mode: upserts write NO per-commit
    changelog; each full compaction emits the NET key-wise changes
    since the previous compaction (+I / -U,+U / -D)."""
    t = catalog.create_table(
        "fc", "k long, v string",
        {"primary-key": "k", "changelog-producer": "full-compaction"},
    )
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.upsert(spark.createDataFrame([(2, "B")], "k long, v string"))
    assert t.read_changelog(spark).count() == 0  # nothing until compaction
    t.compact()
    first = sorted((r.k, r.v, r._change_type) for r in t.read_changelog(spark).collect())
    # first compaction: whole image as +I (net of the intermediate 2→B churn)
    assert first == [(1, "a", "+I"), (2, "B", "+I")]
    # second window: update 1, delete 2, insert 3 → net -U/+U, -D, +I
    t.upsert(spark.createDataFrame([(1, "A")], "k long, v string"))
    t.upsert(
        spark.createDataFrame([(2, "B")], "k long, v string").withColumn("__op", F.lit("D"))
    )
    t.upsert(spark.createDataFrame([(3, "c")], "k long, v string"))
    prev_count = t.read_changelog(spark).count()
    t.compact()
    rows = sorted((r.k, r.v, r._change_type) for r in t.read_changelog(spark).collect())
    assert rows == [
        (1, "A", "+U"), (1, "a", "+I"), (1, "a", "-U"),
        (2, "B", "+I"), (2, "B", "-D"), (3, "c", "+I"),
    ]
    assert len(rows) == prev_count + 4
    # streaming read accepts the mode
    from advent_of_code_flink_paimon_spark.streaming import stream_table_changelog

    assert stream_table_changelog(spark, t).isStreaming


def test_full_compaction_changelog_survives_interleaved_minor_compact(spark, catalog):
    """A minor (L0) compaction also commits kind=COMPACT but emits no
    changelog. The full-compaction diff must baseline on the last
    changelog-EMITTING compaction, not on max(all COMPACT snapshots) —
    otherwise every upsert between the previous full compaction and an
    interleaved minor compaction silently vanishes from the next
    emitted diff (round-4 advice, high)."""
    t = catalog.create_table(
        "fcmix", "k long, v string",
        {"primary-key": "k", "changelog-producer": "full-compaction"},
    )
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.compact()  # baseline image {1:a, 2:b} emitted as +I
    # two upserts land, then a MINOR compaction merges their L0 files
    t.upsert(spark.createDataFrame([(1, "A")], "k long, v string"))
    t.upsert(spark.createDataFrame([(3, "c")], "k long, v string"))
    assert t.compact_minor() is not None
    # worse variant guarded too: the minor compact is the latest COMPACT
    t.compact()
    rows = sorted((r.k, r.v, r._change_type) for r in t.read_changelog(spark).collect())
    assert rows == [
        (1, "A", "+U"), (1, "a", "+I"), (1, "a", "-U"),
        (2, "b", "+I"), (3, "c", "+I"),
    ]


def test_changelog_producer_lookup_alias(spark, catalog):
    """'lookup' spells the same derived-changelog implementation as
    'input' here (pre-images are always looked up per commit). The
    TIMING is pinned as a deliberate design decision (SURVEY §2.9,
    round-5): emission happens at COMMIT time — changelog rows are
    visible immediately after each upsert, with NO compaction — because
    the per-commit derivation is already bucket-pruned and
    batch-proportional, so Paimon's defer-to-compaction latency trade
    buys nothing in this engine. Compaction-time emission is the
    'full-compaction' producer's contract."""
    t = catalog.create_table(
        "lkp", "k long, v string", {"primary-key": "k", "changelog-producer": "lookup"}
    )
    t.upsert(spark.createDataFrame([(1, "a")], "k long, v string"))
    # commit-time emission: the first upsert's +I is already readable
    assert [(r.k, r._change_type) for r in t.read_changelog(spark).collect()] == [(1, "+I")]
    t.upsert(spark.createDataFrame([(1, "b")], "k long, v string"))
    kinds = sorted((r.k, r._change_type) for r in t.read_changelog(spark).collect())
    assert kinds == [(1, "+I"), (1, "+U"), (1, "-U")]
    # and a later compaction re-emits nothing (no double counting)
    t.compact()
    assert t.read_changelog(spark).count() == 3


# ----------------------------------------------------------------------
# Merge engines beyond deduplicate (Paimon 0.5: partial-update,
# aggregation) — per-column combine at read AND within each batch.
# ----------------------------------------------------------------------
def test_merge_engine_partial_update(spark, catalog):
    t = catalog.create_table(
        "pu", "k long, a string, b string",
        {"primary-key": "k", "merge-engine": "partial-update"},
    )
    # within ONE batch: later non-nulls fill, earlier non-nulls survive
    t.upsert(
        spark.createDataFrame(
            [(1, "a1", None), (1, None, "b1"), (2, "a2", None)],
            "k long, a string, b string",
        ).coalesce(1)
    )
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "a1", "b1"), (2, "a2", None)
    ]
    # across commits: new non-null overrides, NULL leaves the old value
    t.upsert(spark.createDataFrame([(1, None, "b2"), (2, None, "bb")], "k long, a string, b string"))
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "a1", "b2"), (2, "a2", "bb")
    ]
    # time travel sees the old fill; compaction preserves the image
    assert sorted(tuple(r) for r in t.read(spark, snapshot_id=1).collect())[0] == (1, "a1", "b1")
    t.compact()
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "a1", "b2"), (2, "a2", "bb")
    ]
    t.upsert(spark.createDataFrame([(1, "a3", None)], "k long, a string, b string"))
    assert sorted(tuple(r) for r in t.read(spark).collect())[0] == (1, "a3", "b2")


def test_merge_engine_aggregation(spark, catalog):
    t = catalog.create_table(
        "ag", "k long, total long, peak long, note string",
        {
            "primary-key": "k", "merge-engine": "aggregation",
            "fields.total.aggregate-function": "sum",
            "fields.peak.aggregate-function": "max",
            # note: default last_non_null
        },
    )
    t.upsert(spark.createDataFrame(
        [(1, 10, 5, "x"), (1, 15, 9, None), (2, 1, 1, "y")],
        "k long, total long, peak long, note string").coalesce(1))
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, 25, 9, "x"), (2, 1, 1, "y")
    ]
    t.upsert(spark.createDataFrame([(1, 5, 7, "z")], "k long, total long, peak long, note string"))
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, 30, 9, "z"), (2, 1, 1, "y")
    ]
    # compaction collapses to the aggregate, further writes keep adding
    t.compact()
    t.upsert(spark.createDataFrame([(2, 4, 8, None)], "k long, total long, peak long, note string"))
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, 30, 9, "z"), (2, 5, 8, "y")
    ]


def test_merge_engine_aggregation_count_bool_listagg(spark, catalog):
    """Paimon 0.5's remaining documented aggregate-functions: count
    (non-null inputs across writes), bool_or/bool_and, listagg
    (write-order ',' concatenation, all-null stays NULL)."""
    ddl = "k long, hits int, seen boolean, every boolean, trail string"
    t = catalog.create_table(
        "agx", ddl,
        {
            "primary-key": "k", "merge-engine": "aggregation",
            "fields.hits.aggregate-function": "count",
            "fields.seen.aggregate-function": "bool_or",
            "fields.every.aggregate-function": "bool_and",
            "fields.trail.aggregate-function": "listagg",
        },
    )
    t.upsert(spark.createDataFrame(
        [(1, 7, True, True, "a"), (1, None, False, False, "b"), (2, 3, False, True, None)],
        ddl).coalesce(1))
    # count = non-null inputs (k=1 saw 7 and NULL → 1); listagg in write order
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, 1, True, False, "a,b"), (2, 1, False, True, None)
    ]
    t.upsert(spark.createDataFrame([(2, 9, True, True, "z")], ddl))
    # stored partial counts re-combine by SUM, not count-of-counts
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, 1, True, False, "a,b"), (2, 2, True, True, "z")
    ]
    # compaction collapses to the aggregate; further writes keep folding
    t.compact()
    t.upsert(spark.createDataFrame([(1, 25, None, None, "c")], ddl))
    # a fresh input row adds 1 (its VALUE 25 must not leak into count)
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, 2, True, False, "a,b,c"), (2, 2, True, True, "z")
    ]
    # first/last value pack (Paimon aliases): first_value pins the
    # first write, first_non_null_value skips leading NULLs, last_value
    # keeps a trailing NULL
    ddl2 = "k long, fv string, fnn string, lv string"
    t2 = catalog.create_table(
        "agf", ddl2,
        {
            "primary-key": "k", "merge-engine": "aggregation",
            "fields.fv.aggregate-function": "first_value",
            "fields.fnn.aggregate-function": "first_non_null_value",
            "fields.lv.aggregate-function": "last_value",
        },
    )
    t2.upsert(spark.createDataFrame([(1, None, None, "a")], ddl2))
    t2.upsert(spark.createDataFrame([(1, "x", "x", None)], ddl2))
    assert [tuple(r) for r in t2.read(spark).collect()] == [(1, None, "x", None)]
    t2.compact()
    t2.upsert(spark.createDataFrame([(1, "y", "y", "z")], ddl2))
    assert [tuple(r) for r in t2.read(spark).collect()] == [(1, None, "x", "z")]
    # type guards
    with pytest.raises(ValueError, match="BOOLEAN"):
        catalog.create_table(
            "agb", "k long, v string",
            {"primary-key": "k", "merge-engine": "aggregation",
             "fields.v.aggregate-function": "bool_or"},
        ).upsert(spark.createDataFrame([(1, "a")], "k long, v string"))
    with pytest.raises(ValueError, match="STRING"):
        catalog.create_table(
            "agl", "k long, v long",
            {"primary-key": "k", "merge-engine": "aggregation",
             "fields.v.aggregate-function": "listagg"},
        ).upsert(spark.createDataFrame([(1, 1)], "k long, v long"))


def test_merge_engine_aggregation_with_full_compaction_changelog(spark, catalog):
    """The documented consumer path for non-default merge engines (the
    upsert-stream guard points here): full-compaction diffs the MERGED
    images, so the emitted rows carry fully-aggregated values, never
    per-batch partials."""
    ddl = "k long, total long"
    t = catalog.create_table(
        "agc", ddl,
        {"primary-key": "k", "merge-engine": "aggregation",
         "fields.total.aggregate-function": "sum",
         "changelog-producer": "full-compaction"},
    )
    t.upsert(spark.createDataFrame([(1, 10)], ddl))
    t.upsert(spark.createDataFrame([(1, 5)], ddl))
    t.compact()
    assert [(r.k, r.total, r._change_type) for r in t.read_changelog(spark).collect()] == [
        (1, 15, "+I")
    ]
    t.upsert(spark.createDataFrame([(1, 2)], ddl))
    t.compact()
    rows = sorted(
        (r.k, r.total, r._change_type) for r in t.read_changelog(spark).collect()
    )
    assert rows == [(1, 15, "+I"), (1, 15, "-U"), (1, 17, "+U")]


def test_file_format_orc(spark, catalog):
    """'file.format' = 'orc' (tutorial/guide.md:30 option surface):
    data files are written and read as ORC through the full table
    lifecycle — PK upserts, merge-on-read, time travel, compaction.
    ORC entries carry no column stats (pyarrow exposes no ORC min/max),
    so predicate reads still answer correctly via the post-scan filter;
    partition pruning is unaffected. Format is immutable post-create,
    and unsupported formats are refused rather than silently ignored."""
    ddl = "k long, v string"
    t = catalog.create_table(
        "orct", ddl, {"primary-key": "k", "file.format": "orc"}
    )
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ddl))
    t.upsert(spark.createDataFrame([(1, "a2"), (3, "c")], ddl))
    import glob as _glob
    import os as _os
    files = _glob.glob(_os.path.join(t.paths.root, "bucket-*", "*"))
    assert files and all(f.endswith(".orc") for f in files)
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "a2"), (2, "b"), (3, "c")
    ]
    assert [r.v for r in t.read(spark, where="k = 2").collect()] == ["b"]
    assert sorted(r.k for r in t.read(spark, snapshot_id=1).collect()) == [1, 2]
    t.compact()
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "a2"), (2, "b"), (3, "c")
    ]
    # partitioned + orc: partition pruning still prunes whole files
    pt = catalog.create_table(
        "orcpt", "day string, k long",
        {"partition-by": "day", "file.format": "orc"},
    )
    pt.append(spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2)], "day string, k long"))
    assert len(pt._live_files(where="day = '2024-01-01'")) < len(pt._live_files())
    # guards
    with pytest.raises(ValueError, match="unsupported file.format"):
        catalog.create_table("orcbad", ddl, {"file.format": "avro"})
    with pytest.raises(ValueError, match="immutable"):
        catalog.alter_table("orct", {"file.format": "parquet"})


def test_write_only_skips_auto_compaction(spark, catalog):
    """'write-only' = 'true' (Paimon): the writer never auto-compacts,
    even when compaction triggers are configured — ingest latency is
    protected and a dedicated compactor (explicit compact()) does the
    rewrites."""
    t = catalog.create_table(
        "wo", "k long, v string",
        {"bucket": "1", "compaction.max.file-num": "2",
         "full-compaction.delta-commits": "2", "write-only": "true",
         "snapshot.num-retained.max": "2"},
    )
    for i in range(5):
        t.append(spark.createDataFrame([(i, "x")], "k long, v string"))
    kinds = {s["commit_kind"] for s in t.snapshots()}
    assert kinds == {"APPEND"}  # no COMPACT despite both triggers
    # ...and no automatic snapshot expiry either (Paimon's write-only
    # covers all commit-time maintenance) — all 5 snapshots survive
    assert len(t.snapshots()) == 5
    # the dedicated-compactor path still works
    t.compact()
    assert t.snapshots()[-1]["commit_kind"] == "COMPACT"
    assert t.read(spark).count() == 5


def test_dynamic_bucket_assignment(spark, catalog):
    """'bucket' = '-1' (Paimon dynamic bucket mode): keys route through
    a persisted key→bucket index; new keys fill each assigner task's
    buckets to 'dynamic-bucket.target-row-num' before the task opens its
    next bucket (task t owns buckets t, t+A, t+2A, …)."""
    ddl = "k long, v string"
    t = catalog.create_table(
        "dyn", ddl,
        {"primary-key": "k", "bucket": "-1",
         "dynamic-bucket.target-row-num": "5",
         "dynamic-bucket.assigner-parallelism": "2"},
    )
    t.upsert(spark.createDataFrame([(i, f"v{i}") for i in range(20)], ddl))
    assert t.read(spark).count() == 20
    # per-bucket NEW-key loads respect the target; task residue classes hold
    import collections
    idx = {r["__khash"]: r["__bucket"] for r in t._read_index(spark).collect()}
    assert len(idx) == 20
    loads = collections.Counter(idx.values())
    assert all(n <= 5 for n in loads.values())
    assert len(loads) >= 4  # 20 keys / target 5 needs ≥4 buckets
    # updating existing keys must NOT move them or open new buckets
    t.upsert(spark.createDataFrame([(i, "upd") for i in range(20)], ddl))
    idx2 = {r["__khash"]: r["__bucket"] for r in t._read_index(spark).collect()}
    assert idx2 == idx
    rows = {r.k: r.v for r in t.read(spark).collect()}
    assert rows == {i: "upd" for i in range(20)}
    # new keys open FURTHER buckets in the same residue classes
    t.upsert(spark.createDataFrame([(100 + i, "n") for i in range(10)], ddl))
    idx3 = t._read_index(spark).collect()
    assert len(idx3) == 30
    assert all(n <= 5 for n in collections.Counter(r["__bucket"] for r in idx3).values())
    # every key's rows live where its index entry points (file layout)
    by_bucket = {e["bucket"] for e in t.manifest()}
    assert by_bucket <= {r["__bucket"] for r in idx3}
    # compaction preserves routing and data
    t.compact()
    assert t.read(spark).count() == 30
    assert {r["__khash"]: r["__bucket"] for r in t._read_index(spark).collect()} == {
        r["__khash"]: r["__bucket"] for r in idx3
    }


def test_dynamic_bucket_changelog_pre_images(spark, catalog):
    """Pre-image derivation under dynamic bucket prunes via the key
    index (not a hash modulus): updates still emit exact -U/+U pairs."""
    ddl = "k long, v string"
    t = catalog.create_table(
        "dyncl", ddl,
        {"primary-key": "k", "bucket": "-1", "changelog-producer": "input",
         "dynamic-bucket.target-row-num": "3"},
    )
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c"), (4, "d")], ddl))
    t.upsert(spark.createDataFrame([(2, "B"), (9, "new")], ddl))
    rows = sorted((r.k, r.v, r._change_type) for r in t.read_changelog(spark).collect())
    assert (2, "b", "-U") in rows and (2, "B", "+U") in rows and (9, "new", "+I") in rows
    assert (1, "a", "+I") in rows and len(rows) == 7
    # delete routes through the index too
    t.delete_where(spark, "k = 3")
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2, 4, 9]
    # full compaction also compacts the index: deltas fold to one file
    # and the deleted key's entry is dropped (it held bucket capacity)
    import glob as _glob
    import os as _os
    assert len(_glob.glob(_os.path.join(t._index_dir(), "*.parquet"))) > 1
    t.compact()
    files = _glob.glob(_os.path.join(t._index_dir(), "*.parquet"))
    assert len(files) == 1
    idx = t._read_index(spark).collect()
    assert len(idx) == 4  # keys 1, 2, 4, 9 — k=3's entry is gone
    # routing still stable after index GC: update stays in place
    before = {r["__khash"]: r["__bucket"] for r in idx}
    t.upsert(spark.createDataFrame([(2, "B2")], ddl))
    after = {r["__khash"]: r["__bucket"] for r in t._read_index(spark).collect()}
    assert after == before
    assert {r.v for r in t.read(spark).filter("k = 2").collect()} == {"B2"}


def test_dynamic_bucket_guards(spark, catalog):
    with pytest.raises(ValueError, match="requires a primary key"):
        catalog.create_table("dg1", "k long", {"bucket": "-1"})
    with pytest.raises(ValueError, match="bucket-key"):
        catalog.create_table(
            "dg2", "k long, v string",
            {"primary-key": "k", "bucket": "-1", "bucket-key": "v"},
        )
    catalog.create_table("dg3", "k long, v string", {"primary-key": "k", "bucket": "-1"})
    with pytest.raises(ValueError, match="fixed and dynamic"):
        catalog.alter_table("dg3", {"bucket": "4"})
    catalog.create_table("dg4", "k long, v string", {"primary-key": "k", "bucket": "2"})
    with pytest.raises(ValueError, match="fixed and dynamic"):
        catalog.alter_table("dg4", {"bucket": "-1"})


def test_bucket_rescale_requires_full_rewrite(spark, catalog):
    """Paimon's rescale-bucket contract: ALTER ('bucket'='N') alone
    leaves old files hashed under the old modulus, so incremental
    writes (and minor compaction) are refused until a full rewrite —
    compact() or INSERT OVERWRITE — rescales; afterwards writes resume
    and bucket-pruned changelog pre-images stay correct."""
    ddl = "k long, v string"
    t = catalog.create_table(
        "rsc", ddl,
        {"primary-key": "k", "bucket": "2", "changelog-producer": "input"},
    )
    t.upsert(spark.createDataFrame([(i, f"v{i}") for i in range(20)], ddl))
    catalog.alter_table("rsc", {"bucket": "4"})
    t = catalog.get_table("rsc")
    # reads keep working mid-rescale (merge-on-read is modulus-blind)
    assert t.read(spark).count() == 20
    # incremental writes and minor compaction are refused
    with pytest.raises(ValueError, match="rescale"):
        t.upsert(spark.createDataFrame([(1, "x")], ddl))
    with pytest.raises(ValueError, match="rescale"):
        t.compact_minor()
    # full compaction IS the rescale
    t.compact()
    buckets = {e["bucket"] for e in t.manifest()}
    assert buckets <= set(range(4)) and len(buckets) > 2
    assert all(e["total_buckets"] == 4 for e in t.manifest())
    assert t.read(spark).count() == 20
    # writes resume; the bucket-pruned pre-image lookup uses the new
    # modulus, so the changelog still sees the old image (-U carries it)
    t.upsert(spark.createDataFrame([(1, "new")], ddl))
    rows = {(r.k, r.v, r._change_type) for r in t.read_changelog(spark).collect()}
    assert (1, "v1", "-U") in rows and (1, "new", "+U") in rows
    # time travel to the pre-rescale snapshot still reads old-modulus files
    assert t.read(spark, snapshot_id=1).count() == 20


def test_merge_engine_first_row(spark, catalog):
    """Paimon 0.5 'first-row': the FIRST row per key wins — in-batch,
    across commits, and through compaction; later writes are ignored."""
    ddl = "k long, v string"
    t = catalog.create_table(
        "fr", ddl, {"primary-key": "k", "merge-engine": "first-row"}
    )
    # in-batch: the first INPUT row per key wins
    t.upsert(spark.createDataFrame([(1, "first"), (1, "second"), (2, "b")], ddl).coalesce(1))
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "first"), (2, "b")
    ]
    # cross-commit: a later upsert of an existing key is ignored;
    # genuinely-new keys land
    t.upsert(spark.createDataFrame([(1, "later"), (3, "c")], ddl))
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "first"), (2, "b"), (3, "c")
    ]
    # time travel sees the same first rows; compaction preserves them
    assert sorted(tuple(r) for r in t.read(spark, snapshot_id=1).collect()) == [
        (1, "first"), (2, "b")
    ]
    t.compact()
    t.upsert(spark.createDataFrame([(2, "post-compact"), (4, "d")], ddl))
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "first"), (2, "b"), (3, "c"), (4, "d")
    ]


def test_merge_engine_first_row_insert_only_changelog(spark, catalog):
    """first-row is the one non-default engine ALLOWED a per-commit
    changelog (Paimon requires 'lookup' for first-row streams): the
    emitted rows are insert-only — +I when a key first appears, nothing
    for later writes to the same key."""
    ddl = "k long, v string"
    t = catalog.create_table(
        "frc", ddl,
        {"primary-key": "k", "merge-engine": "first-row",
         "changelog-producer": "lookup"},
    )
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ddl))
    assert sorted((r.k, r.v, r._change_type) for r in t.read_changelog(spark).collect()) == [
        (1, "a", "+I"), (2, "b", "+I")
    ]
    # existing key → no event at all; new key → +I with ITS first value
    t.upsert(spark.createDataFrame([(1, "ignored"), (3, "c")], ddl))
    rows = sorted((r.k, r.v, r._change_type) for r in t.read_changelog(spark).collect())
    assert rows == [(1, "a", "+I"), (2, "b", "+I"), (3, "c", "+I")]


def test_merge_engine_first_row_guards(spark, catalog):
    with pytest.raises(ValueError, match="requires a primary key"):
        catalog.create_table("frg1", "k long", {"merge-engine": "first-row"})
    with pytest.raises(ValueError, match="merge-engine=deduplicate"):
        catalog.create_table(
            "frg2", "k long, v string, ver long",
            {"primary-key": "k", "merge-engine": "first-row",
             "sequence.field": "ver"},
        )
    t = catalog.create_table(
        "frg3", "k long, v string", {"primary-key": "k", "merge-engine": "first-row"}
    )
    t.upsert(spark.createDataFrame([(1, "a")], "k long, v string"))
    with pytest.raises(ValueError, match="retraction"):
        t.upsert(
            spark.createDataFrame([(1, "a")], "k long, v string").withColumn("__op", F.lit("D"))
        )
    with pytest.raises(ValueError, match="DELETE"):
        t.delete_where(spark, "k = 1")
    with pytest.raises(ValueError, match="first-row"):
        t.update_where(spark, {"v": "'x'"}, "k = 1")
    # still the first image after all the refused operations
    assert [(r.k, r.v) for r in t.read(spark).collect()] == [(1, "a")]


def test_merge_engine_first_row_with_full_compaction_changelog(spark, catalog):
    """first-row also composes with the full-compaction producer: the
    compaction diff of first-wins images is insert-only by construction
    (an existing key's image can never change)."""
    ddl = "k long, v string"
    t = catalog.create_table(
        "frfc", ddl,
        {"primary-key": "k", "merge-engine": "first-row",
         "changelog-producer": "full-compaction"},
    )
    t.upsert(spark.createDataFrame([(1, "a")], ddl))
    t.upsert(spark.createDataFrame([(1, "ignored"), (2, "b")], ddl))
    t.compact()
    rows = sorted((r.k, r.v, r._change_type) for r in t.read_changelog(spark).collect())
    assert rows == [(1, "a", "+I"), (2, "b", "+I")]
    t.upsert(spark.createDataFrame([(1, "late"), (3, "c")], ddl))
    t.compact()
    rows = sorted((r.k, r.v, r._change_type) for r in t.read_changelog(spark).collect())
    assert rows == [(1, "a", "+I"), (2, "b", "+I"), (3, "c", "+I")]


def test_dynamic_bucket_partitioned_table(spark, catalog):
    """Dynamic bucket under a partitioned layout: partition dirs sit
    above the index-routed bucket dirs, partition pruning still works,
    and a key's bucket is stable across partitions' commits."""
    ddl = "day string, k long, v string"
    t = catalog.create_table(
        "dynpt", ddl,
        {"primary-key": "k", "bucket": "-1", "partition-by": "day",
         "dynamic-bucket.target-row-num": "4"},
    )
    t.upsert(spark.createDataFrame(
        [("2024-01-01", i, f"a{i}") for i in range(6)]
        + [("2024-01-02", 100 + i, f"b{i}") for i in range(6)], ddl))
    assert t.read(spark).count() == 12
    # partition pruning still prunes whole files
    all_files = t._live_files()
    jan1 = t._live_files(where="day = '2024-01-01'")
    assert 0 < len(jan1) < len(all_files)
    # updates keep keys in place (same index entry, same bucket dir)
    before = {r["__khash"]: r["__bucket"] for r in t._read_index(spark).collect()}
    t.upsert(spark.createDataFrame([("2024-01-01", 3, "upd")], ddl))
    after = {r["__khash"]: r["__bucket"] for r in t._read_index(spark).collect()}
    assert after == before
    assert [r.v for r in t.read(spark).filter("k = 3").collect()] == ["upd"]


def test_merge_engine_guards(spark, catalog):
    with pytest.raises(ValueError, match="requires a primary key"):
        catalog.create_table("g1", "k long", {"merge-engine": "partial-update"})
    with pytest.raises(ValueError, match="full-compaction"):
        catalog.create_table(
            "g2", "k long, v string",
            {"primary-key": "k", "merge-engine": "aggregation",
             "changelog-producer": "input"},
        )
    t = catalog.create_table(
        "g3", "k long, v string", {"primary-key": "k", "merge-engine": "partial-update"}
    )
    t.upsert(spark.createDataFrame([(1, "a")], "k long, v string"))
    with pytest.raises(ValueError, match="retraction"):
        t.upsert(
            spark.createDataFrame([(1, "a")], "k long, v string").withColumn("__op", F.lit("D"))
        )
    with pytest.raises(ValueError, match="DELETE"):
        t.delete_where(spark, "k = 1")


def test_sequence_field_orders_upserts(spark, catalog):
    """Paimon 'sequence.field': the upsert order key comes from a data
    column — the row with the largest value wins regardless of commit
    order, so out-of-order arrivals resolve deterministically (round-4
    verdict stretch #7)."""
    ddl = "k long, v string, ver long"
    t = catalog.create_table(
        "sqf", ddl, {"primary-key": "k", "sequence.field": "ver"}
    )
    # cross-commit: the LOWER-versioned row arrives LAST and must lose
    t.upsert(spark.createDataFrame([(1, "new", 5)], ddl))
    t.upsert(spark.createDataFrame([(1, "stale", 3)], ddl))
    # in-batch: higher version wins within one commit too
    t.upsert(spark.createDataFrame([(2, "b", 6), (2, "a", 7)], ddl))
    got = sorted((r.k, r.v, r.ver) for r in t.read(spark).collect())
    assert got == [(1, "new", 5), (2, "a", 7)]
    # a delete carrying a LOWER version than the live row is ignored...
    t.upsert(
        spark.createDataFrame([(1, "x", 4)], ddl).withColumn("__op", F.lit("D"))
    )
    assert [(r.k, r.v) for r in t.read(spark).filter("k = 1").collect()] == [(1, "new")]
    # ...and one carrying a HIGHER version deletes
    t.upsert(
        spark.createDataFrame([(1, "x", 9)], ddl).withColumn("__op", F.lit("D"))
    )
    assert t.read(spark).filter("k = 1").count() == 0
    # NULL sequence values lose to any concrete value
    t.upsert(spark.createDataFrame([(2, "nullver", None)], ddl))
    assert [(r.v) for r in t.read(spark).filter("k = 2").collect()] == ["a"]
    # the ordering survives compaction (sequence data rides in the rows)
    t.compact()
    t.upsert(spark.createDataFrame([(2, "older", 1)], ddl))
    assert [(r.v) for r in t.read(spark).filter("k = 2").collect()] == ["a"]


def test_sequence_field_guards(spark, catalog):
    with pytest.raises(ValueError, match="requires a primary key"):
        catalog.create_table("sg1", "k long, ver long", {"sequence.field": "ver"})
    with pytest.raises(ValueError, match="not a table column"):
        catalog.create_table(
            "sg2", "k long, v string", {"primary-key": "k", "sequence.field": "nope"}
        )
    with pytest.raises(ValueError, match="primary-key column"):
        catalog.create_table(
            "sg3", "k long, v string", {"primary-key": "k", "sequence.field": "k"}
        )
    with pytest.raises(ValueError, match="deduplicate"):
        catalog.create_table(
            "sg4", "k long, v long",
            {"primary-key": "k", "merge-engine": "aggregation",
             "fields.v.aggregate-function": "sum", "sequence.field": "v"},
        )
    catalog.create_table(
        "sg5", "k long, v string, ver long", {"primary-key": "k", "sequence.field": "ver"}
    )
    with pytest.raises(ValueError, match="immutable"):
        catalog.alter_table("sg5", {"sequence.field": "v"})
    with pytest.raises(ValueError, match="sequence.field"):
        catalog.drop_column("sg5", "ver")
    # rename follows the option reference
    catalog.rename_column("sg5", "ver", "version")
    assert catalog.get_table("sg5").sequence_field == "version"


def test_alter_table_revalidates_options(spark, catalog):
    """ALTER TABLE SET merges into the existing options — the merged
    set must pass CREATE TABLE's validation, and merge-engine is
    immutable (Paimon semantics: on-disk __op rows were written under
    the declared engine)."""
    catalog.create_table("av", "k long, v string", {"primary-key": "k"})
    with pytest.raises(ValueError, match="immutable"):
        catalog.alter_table("av", {"merge-engine": "aggregation"})
    catalog.create_table(
        "av2", "k long, v string", {"primary-key": "k", "merge-engine": "partial-update"}
    )
    with pytest.raises(ValueError, match="full-compaction"):
        catalog.alter_table("av2", {"changelog-producer": "input"})
    # a legal SET still lands as schema-N+1
    t = catalog.alter_table("av", {"snapshot.num-retained.min": "1"})
    assert t.schema_version == 1


def test_malformed_incremental_timestamp_raises(spark, catalog):
    """Round-6 ADVICE (low): a MALFORMED from-timestamp must raise, not
    silently hit the genesis fallback and read the whole history."""
    t = catalog.create_table("tsparse", "k long", {})
    t.append(spark.createDataFrame([(1,)], "k long"))
    t.append(spark.createDataFrame([(2,)], "k long"))
    with pytest.raises(ValueError):
        t.incremental_read_between_timestamps(spark, "2026-13-99 99:99:99", "9999999999999")
    # the legitimate genesis fallback still works: a VALID t1 before the
    # first snapshot reads from the beginning
    early = t.snapshot(1)["timestamp_ms"] - 10_000
    got = {r.k for r in t.incremental_read_between_timestamps(
        spark, early, t.snapshot(2)["timestamp_ms"]).collect()}
    assert got == {1, 2}


def test_index_gc_retains_keys_in_live_files(spark, catalog):
    """Round-6 ADVICE (low): index GC keys retention on RAW file
    contents, not the merged image — a key whose merged image is
    'absent' (delete tombstone still in a live file) keeps its bucket
    entry, so pre-image pruning can never miss a bucket that still
    physically holds the key."""
    ddl = "k long, v string"
    t = catalog.create_table(
        "gcidx", ddl,
        {"primary-key": "k", "bucket": "-1",
         "dynamic-bucket.target-row-num": "100",
         "changelog-producer": "input"},
    )
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ddl))
    idx_before = {r["__khash"]: r["__bucket"] for r in t._read_index(spark).collect()}
    assert len(idx_before) == 2
    # delete key 1: the tombstone row now lives in a data file while the
    # merged image no longer contains the key
    t.delete_where(spark, "k = 1")
    raw_keys = {r.k for r in t._raw(spark).collect()}
    if 1 in raw_keys:
        # tombstone (or pre-image row) physically present → the entry
        # must survive index GC
        t._compact_index(spark)
        idx_after = {r["__khash"]: r["__bucket"] for r in t._read_index(spark).collect()}
        assert set(idx_before) <= set(idx_after)
    # after a FULL compaction rewrites the files to the merged image the
    # key's rows are physically gone — only then may GC drop the entry
    t.compact()
    idx_final = {r["__khash"]: r["__bucket"] for r in t._read_index(spark).collect()}
    assert len(idx_final) == 1  # key 2 retained, key 1 dropped


def test_consumer_expiration_time(spark, catalog):
    """Round-6 VERDICT ask #5 ('consumer.expiration-time'): a consumer
    whose bookmark hasn't been touched within the window stops pinning
    snapshots (its file is deleted during expiry, Paimon semantics); a
    freshly-touched consumer still pins."""
    from advent_of_code_flink_paimon_spark.lakehouse.meta import atomic_write_json, read_json

    t = catalog.create_table(
        "cexp", "k long", {"consumer.expiration-time": "1 h"}
    )
    for i in range(5):
        t.append(spark.createDataFrame([(i,)], "k long"))

    t.register_consumer("stale", next_snapshot_id=1)
    t.register_consumer("fresh", next_snapshot_id=3)
    # age the stale consumer past the window by editing its file time
    p = t.paths.consumer_path("stale")
    doc = read_json(p)
    doc["update_time_ms"] -= 2 * 3600 * 1000
    atomic_write_json(p, doc)

    expired = t.expire_snapshots(retain_min=1, retain_max=1)
    # the stale consumer no longer pins 1..2; the fresh one pins 3+
    assert "stale" not in t.consumers()
    assert "fresh" in t.consumers()
    assert set(expired) == {1, 2}
    assert {s["id"] for s in t.snapshots()} == {3, 4, 5}

    # a table WITHOUT the option keeps even ancient consumers pinned
    t2 = catalog.create_table("cexp2", "k long", {})
    for i in range(3):
        t2.append(spark.createDataFrame([(i,)], "k long"))
    t2.register_consumer("old", next_snapshot_id=1)
    p2 = t2.paths.consumer_path("old")
    doc2 = read_json(p2)
    doc2["update_time_ms"] = 0
    atomic_write_json(p2, doc2)
    assert t2.expire_snapshots(retain_min=1, retain_max=1) == []
    assert "old" in t2.consumers()


# ---------------------------------------------------------------------------
# partial-update sequence groups (Paimon fields.<seq>.sequence-group)
# ---------------------------------------------------------------------------

def _seq_group_table(catalog, name="sg"):
    return catalog.create_table(
        name,
        "id long, a string, b string, g1 long, c string, g2 long",
        {
            "primary-key": "id",
            "merge-engine": "partial-update",
            "fields.g1.sequence-group": "a,b",
            "fields.g2.sequence-group": "c",
        },
    )


def test_sequence_group_stale_update_rejected(spark, catalog):
    """A stale group-sequence rejects the WHOLE group's update while
    other groups on the same row still apply (Paimon sequence-group)."""
    t = _seq_group_table(catalog)
    t.upsert(spark.createDataFrame(
        [(1, "a1", "b1", 10, "c1", 10)], t.schema))
    # g1=5 < 10: a/b/g1 unchanged; g2=20 >= 10: c/g2 apply
    t.upsert(spark.createDataFrame(
        [(1, "a2", None, 5, "c2", 20)], t.schema))
    [r] = t.read(spark).collect()
    assert (r.a, r.b, r.g1) == ("a1", "b1", 10)
    assert (r.c, r.g2) == ("c2", 20)


def test_sequence_group_null_values_do_not_override(spark, catalog):
    """Within an ACCEPTED update, partial-update's non-null rule still
    holds: a newer-sequence row with a NULL member keeps the old value
    while the group's sequence still advances."""
    t = _seq_group_table(catalog)
    t.upsert(spark.createDataFrame([(1, "a1", "b1", 10, "c1", 10)], t.schema))
    t.upsert(spark.createDataFrame([(1, None, "b2", 20, None, 30)], t.schema))
    [r] = t.read(spark).collect()
    assert (r.a, r.b, r.g1) == ("a1", "b2", 20)
    assert (r.c, r.g2) == ("c1", 30)


def test_sequence_group_null_seq_never_applies(spark, catalog):
    """A NULL sequence value cannot be compared, so the update is
    rejected for that group even though the table was empty-keyed
    before only in other groups."""
    t = _seq_group_table(catalog)
    t.upsert(spark.createDataFrame([(1, "a1", "b1", 10, "c1", 10)], t.schema))
    t.upsert(spark.createDataFrame([(1, "a2", "b2", None, "c2", 20)], t.schema))
    [r] = t.read(spark).collect()
    assert (r.a, r.b, r.g1) == ("a1", "b1", 10)
    assert (r.c, r.g2) == ("c2", 20)


def test_sequence_group_stale_nonnull_cannot_resurrect_past_accepted_null(spark, catalog):
    """The accept gate is SEQUENTIAL (fold in write order), not a sort
    by sequence: after an accepted update with a NULL member, a later
    REJECTED row's non-null value must not surface (a plain
    (seq, ord)-sorted last-non-null would wrongly pick it)."""
    t = _seq_group_table(catalog)
    t.upsert(spark.createDataFrame([(1, None, "b1", 10, "c1", 1)], t.schema))
    t.upsert(spark.createDataFrame([(1, "aX", "b2", 5, "c2", 2)], t.schema))
    [r] = t.read(spark).collect()
    assert (r.a, r.b, r.g1) == (None, "b1", 10)


def test_sequence_group_stale_row_cannot_ride_in_on_later_advance(spark, catalog):
    """A batch row whose group sequence loses to the STORED one stays
    rejected even when a later row of the same batch advances the
    group with a NULL member: the batch folds onto the stored state,
    not onto its own partial (which would accept the stale row)."""
    t = _seq_group_table(catalog)
    t.upsert(spark.createDataFrame([(1, None, "b1", 3, "c1", 1)], t.schema).coalesce(1))
    t.upsert(spark.createDataFrame(
        [(1, "aX", None, 0, None, 2), (1, None, None, 7, None, 3)], t.schema
    ).coalesce(1))
    [r] = t.read(spark).collect()
    assert (r.a, r.b, r.g1) == (None, "b1", 7)
    assert (r.c, r.g2) == ("c1", 3)


def test_sequence_group_in_batch_matches_cross_commit(spark, catalog):
    """The same rows produce the same merged image whether they arrive
    as one batch or as per-row commits — the stored/in-batch combine
    consistency every merge engine in this table guarantees."""
    rows = [
        (1, "a1", "b1", 10, "c1", 10),
        (1, "a2", None, 5, "c2", 20),
        (1, None, "b3", 20, None, 15),
        (2, "x", None, None, "y", 1),
    ]
    t1 = _seq_group_table(catalog, "sg_batch")
    t1.upsert(spark.createDataFrame(rows, t1.schema))
    t2 = _seq_group_table(catalog, "sg_commits")
    for row in rows:
        t2.upsert(spark.createDataFrame([row], t2.schema))
    got1 = sorted(map(tuple, t1.read(spark).collect()))
    got2 = sorted(map(tuple, t2.read(spark).collect()))
    assert got1 == got2
    assert got1[0] == (1, "a1", "b3", 20, "c2", 20)
    # key 2's only row carries a NULL g1: the a-column update is
    # rejected (no sequence to compare), g2=1 accepts y
    assert got1[1] == (2, None, None, None, "y", 1)


def test_sequence_group_validation(spark, catalog):
    with pytest.raises(ValueError, match="partial-update"):
        catalog.create_table(
            "bad1", "id long, a string, g long",
            {"primary-key": "id", "fields.g.sequence-group": "a"},
        )
    with pytest.raises(ValueError, match="not a table column"):
        catalog.create_table(
            "bad2", "id long, a string, g long",
            {"primary-key": "id", "merge-engine": "partial-update",
             "fields.g.sequence-group": "nope"},
        )
    with pytest.raises(ValueError, match="primary-key"):
        catalog.create_table(
            "bad3", "id long, a string, g long",
            {"primary-key": "id", "merge-engine": "partial-update",
             "fields.g.sequence-group": "id"},
        )
    with pytest.raises(ValueError, match="two sequence groups"):
        catalog.create_table(
            "bad4", "id long, a string, g long, h long",
            {"primary-key": "id", "merge-engine": "partial-update",
             "fields.g.sequence-group": "a", "fields.h.sequence-group": "a"},
        )


# ---------------------------------------------------------------------------
# changelog-producer.row-deduplicate
# ---------------------------------------------------------------------------

def test_changelog_row_deduplicate(spark, catalog):
    """With 'changelog-producer.row-deduplicate', an upsert that leaves
    a key's values unchanged emits NO -U/+U pair; a real change still
    emits both; +I is untouched (Paimon's lookup-producer option)."""
    t = catalog.create_table(
        "rd", "k long, v string",
        {"primary-key": "k", "changelog-producer": "lookup",
         "changelog-producer.row-deduplicate": "true"},
    )
    t.upsert(spark.createDataFrame([(1, "a")], t.schema))
    t.upsert(spark.createDataFrame([(1, "a")], t.schema))   # no-op churn
    t.upsert(spark.createDataFrame([(1, "b")], t.schema))   # real change
    per_commit = {
        seq: sorted(
            r._change_type
            for r in t.read_changelog(spark, from_seq=seq - 1, to_seq=seq).collect()
        )
        for seq in (1, 2, 3)
    }
    assert per_commit[1] == ["+I"]
    assert per_commit[2] == []          # suppressed: values unchanged
    assert per_commit[3] == ["+U", "-U"]


def test_row_deduplicate_requires_lookup_or_full_compaction(spark, catalog):
    with pytest.raises(ValueError, match="row-deduplicate"):
        catalog.create_table(
            "rd_bad", "k long, v string",
            {"primary-key": "k", "changelog-producer": "input",
             "changelog-producer.row-deduplicate": "true"},
        )


def test_partial_update_ignore_delete(spark, catalog):
    """'partial-update.ignore-delete': retraction rows in the input are
    silently dropped instead of rejected (Paimon's option for CDC
    sources that interleave deletes with partial columns); without the
    option the same input raises."""
    t = catalog.create_table(
        "pid", "k long, a string, b string",
        {"primary-key": "k", "merge-engine": "partial-update",
         "partial-update.ignore-delete": "true"},
    )
    t.upsert(spark.createDataFrame([(1, "a1", None)], t.schema))
    # a delete arrives mid-stream: dropped; the partial update applies
    mixed = spark.createDataFrame(
        [(1, None, "b2", "D"), (1, None, "b9", "U")],
        "k long, a string, b string, __op string",
    )
    t.upsert(mixed)
    [r] = t.read(spark).collect()
    assert (r.a, r.b) == ("a1", "b9")

    strict = catalog.create_table(
        "pid_strict", "k long, a string, b string",
        {"primary-key": "k", "merge-engine": "partial-update"},
    )
    with pytest.raises(ValueError, match="retraction"):
        strict.upsert(mixed)
    with pytest.raises(ValueError, match="ignore-delete"):
        catalog.create_table(
            "pid_bad", "k long, v string",
            {"primary-key": "k", "partial-update.ignore-delete": "true"},
        )


def test_file_compression_option(spark, catalog):
    """'file.compression' maps to the data-file codec: zstd parquet
    files round-trip and carry the codec in their footers."""
    t = catalog.create_table(
        "zc", "k long, v string", {"file.compression": "zstd"}
    )
    t.append(spark.createDataFrame([(i, "x" * 50) for i in range(100)], "k long, v string"))
    assert t.read(spark).count() == 100
    import glob as _glob

    import pyarrow.parquet as _pq

    files = [
        p
        for p in _glob.glob(os.path.join(t.paths.root, "**", "*.parquet"), recursive=True)
        if "manifest" not in p and "snapshot" not in p
    ]
    assert files
    codecs = {
        _pq.ParquetFile(f).metadata.row_group(0).column(0).compression.lower()
        for f in files
        if _pq.ParquetFile(f).metadata.num_row_groups
    }
    assert codecs == {"zstd"}


def test_sequence_field_changelog_ignores_losing_rows(spark, catalog):
    """A late-arriving row whose sequence.field LOSES to the stored
    image changes nothing at merge-on-read — so it must emit NO
    changelog (round-6 fix: it used to emit -U(stored)/+U(loser),
    making a downstream materialization diverge from the table). A
    winning row and an ineffective old-sequence delete follow the same
    rule."""
    t = catalog.create_table(
        "seqcl", "k long, v string, seq long",
        {"primary-key": "k", "sequence.field": "seq",
         "changelog-producer": "input"},
    )
    ddl = t.schema
    t.upsert(spark.createDataFrame([(1, "new", 10)], ddl))        # +I
    t.upsert(spark.createDataFrame([(1, "late", 5)], ddl))        # loses: nothing
    t.upsert(spark.createDataFrame([(1, "newer", 12)], ddl))      # wins: -U/+U
    d = spark.createDataFrame(
        [(1, None, 3, "D")], "k long, v string, seq long, __op string"
    )
    t.upsert(d)                                                   # old-seq delete: nothing
    assert [r.v for r in t.read(spark).collect()] == ["newer"]
    cl = sorted((r.v, r.seq, r._change_type) for r in t.read_changelog(spark).collect())
    assert cl == [("new", 10, "+I"), ("new", 10, "-U"), ("newer", 12, "+U")]
    # a changelog materialization now reproduces the merged image


def test_sequence_group_full_compaction_changelog(spark, catalog):
    """Composition: partial-update sequence groups under the
    full-compaction producer — each compaction's diff reflects the
    GATED merge (losing-sequence updates invisible), so the emitted
    changelog replays to the merged image."""
    t = catalog.create_table(
        "sgfc", "k long, a string, g long",
        {"primary-key": "k", "merge-engine": "partial-update",
         "fields.g.sequence-group": "a", "changelog-producer": "full-compaction"},
    )
    t.upsert(spark.createDataFrame([(1, "a1", 10)], t.schema))
    t.compact()
    t.upsert(spark.createDataFrame([(1, "a2", 5)], t.schema))    # loses its group gate
    t.upsert(spark.createDataFrame([(1, "a3", 20)], t.schema))   # wins
    t.compact()
    cl = sorted((r.k, r.a, r.g, r._change_type) for r in t.read_changelog(spark).collect())
    assert cl == [(1, "a1", 10, "+I"), (1, "a1", 10, "-U"), (1, "a3", 20, "+U")]
    assert [(r.a, r.g) for r in t.read(spark).collect()] == [("a3", 20)]


def test_row_level_dml_emits_replayable_changelog(spark, catalog):
    """Row-level DELETE and UPDATE on a changelog-producer table emit
    the events a subscriber needs (-D with the deleted image, -U/+U
    around an update), so a changelog materialization tracks the table
    through DML, not just upserts."""
    t = catalog.create_table(
        "dmlcl", "k long, v string", {"primary-key": "k", "changelog-producer": "input"}
    )
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], t.schema))
    t.delete_where(spark, "k = 1")
    t.update_where(spark, {"v": "'z'"}, "k = 2")
    cl = sorted((r.k, r.v, r._change_type) for r in t.read_changelog(spark).collect())
    assert cl == [
        (1, "a", "+I"), (1, "a", "-D"),
        (2, "b", "+I"), (2, "b", "-U"), (2, "z", "+U"),
    ]
    # fold by commit: replay the per-commit events
    state = {}
    for sid in range(1, t.latest_snapshot_id() + 1):
        for r in t.read_changelog(spark, from_seq=sid - 1, to_seq=sid).collect():
            if r._change_type == "-D":
                state.pop(r.k, None)
            elif r._change_type in ("+I", "+U"):
                state[r.k] = r.v
    assert state == {r.k: r.v for r in t.read(spark).collect()}


# ---------------------------------------------------------------------------
# Bloom-filter file index (file-index.bloom-filter.columns)
# ---------------------------------------------------------------------------

def _interleaved(spark, residue, n=1000, modulus=4):
    """1000 rows whose sensor_id ≡ residue (mod 4) over [0, 4000) —
    every commit's min/max spans nearly the full range, so footer
    stats CANNOT tell the files apart; only the bloom index can."""
    return spark.range(n).select(
        (F.col("id") * modulus + residue).alias("sensor_id"),
        F.concat(F.lit("tag-"), (F.col("id") * modulus + residue)).alias("tag"),
    )


def test_bloom_file_index_point_prune(spark, catalog):
    t = catalog.create_table(
        "bf",
        "sensor_id long, tag string",
        {
            "bucket": "1",
            "file-index.bloom-filter.columns": "sensor_id,tag",
            "file-index.bloom-filter.fpp": "0.01",
        },
    )
    for r in range(4):
        t.append(_interleaved(spark, r))
    entries = t.manifest()
    assert len(entries) == 4
    assert all(e.get("file_index", "").endswith(".bfx") for e in entries)
    for e in entries:
        assert os.path.exists(os.path.join(t.paths.root, e["file_index"]))

    # stats alone keep every file (interleaved ranges)
    assert len(prune_entries(entries, "sensor_id = 1234")) == 4
    # the bloom sidecar prunes to (almost) only the true file, which
    # must ALWAYS survive — a bloom miss is never false
    kept = prune_entries(entries, "sensor_id = 1234", root=t.paths.root)
    assert 1 <= len(kept) <= 2, [e["file_path"] for e in kept]
    true_file = {
        e["file_path"] for e in entries
        if t._read_entries(spark, [e]).filter("sensor_id = 1234").count() == 1
    }
    assert true_file <= {e["file_path"] for e in kept}

    # string column: same behavior through the str canonical form
    kept_s = prune_entries(entries, "tag = 'tag-1234'", root=t.paths.root)
    assert 1 <= len(kept_s) <= 2
    assert true_file <= {e["file_path"] for e in kept_s}

    # absent value: every file prunable (deterministic hashing may
    # leave a false positive, never more than the fpp-scale tail)
    kept_a = prune_entries(entries, "sensor_id = 999999", root=t.paths.root)
    assert len(kept_a) <= 1

    # end-to-end read correctness is unchanged by pruning
    got = t.read(spark, where="sensor_id = 1234").collect()
    assert [(r.sensor_id, r.tag) for r in got] == [(1234, "tag-1234")]
    # range predicates don't consult the bloom (and stay correct):
    # 3996..3999 land one per interleaved commit
    assert t.read(spark, where="sensor_id >= 3996").count() == 4


def test_bloom_file_index_reaches_dml_and_compaction(spark, catalog):
    t = catalog.create_table(
        "bfd",
        "sensor_id long, tag string",
        {"bucket": "1", "file-index.bloom-filter.columns": "sensor_id",
         "file-index.bloom-filter.fpp": "0.01"},
    )
    for r in range(4):
        t.append(_interleaved(spark, r))
    before = {e["file_path"] for e in t.manifest()}

    # DELETE with a point predicate: copy-on-write must rewrite ONLY
    # the bloom-identified file(s); the others keep their identity
    t.delete_where(spark, "sensor_id = 1234")
    after = {e["file_path"] for e in t.manifest()}
    assert len(before & after) >= 2, (before, after)
    assert t.read(spark).filter("sensor_id = 1234").count() == 0
    assert t.read(spark).count() == 3999

    # compaction rewrites still index their output files
    t.compact()
    entries = t.manifest()
    assert all(e.get("file_index") for e in entries)
    for e in entries:
        assert os.path.exists(os.path.join(t.paths.root, e["file_index"]))


def test_bloom_sidecar_lifecycle(spark, catalog):
    import glob as _glob

    t = catalog.create_table(
        "bfl",
        "sensor_id long, tag string",
        {"bucket": "1", "file-index.bloom-filter.columns": "sensor_id"},
    )
    t.append(_interleaved(spark, 0))
    sid1_files = {e["file_path"] for e in t.manifest()}
    t.append(_interleaved(spark, 1))
    new_files = {e["file_path"] for e in t.manifest()} - sid1_files

    # rollback deletes the rolled-back data files AND their sidecars
    t.rollback_to(1)
    for fp in new_files:
        assert not os.path.exists(os.path.join(t.paths.root, fp))
        assert not os.path.exists(os.path.join(t.paths.root, fp + ".bfx"))
    for fp in sid1_files:
        assert os.path.exists(os.path.join(t.paths.root, fp + ".bfx"))

    # a dangling sidecar (data file gone) is an orphan
    bucket_dir = os.path.dirname(
        os.path.join(t.paths.root, next(iter(sid1_files)))
    )
    dangling = os.path.join(bucket_dir, "deadbeef.parquet.bfx")
    with open(dangling, "w") as fh:
        fh.write("{}")
    removed = t.remove_orphan_files(older_than_ms=now_millis() + 3_600_000)
    assert not os.path.exists(dangling)
    assert any(p.endswith("deadbeef.parquet.bfx") for p in removed)
    # live sidecars survive the sweep
    assert _glob.glob(os.path.join(bucket_dir, "*.bfx"))


def test_bloom_index_off_by_default(spark, catalog):
    t = catalog.create_table("nobf", "sensor_id long, tag string", {"bucket": "1"})
    t.append(_interleaved(spark, 0))
    entries = t.manifest()
    assert all("file_index" not in e for e in entries)
    import glob as _glob
    assert not _glob.glob(os.path.join(t.paths.root, "**", "*.bfx"), recursive=True)


# ---------------------------------------------------------------------------
# Metadata-only COUNT(*) (aggregate pushdown from manifest record_count)
# ---------------------------------------------------------------------------

def test_metadata_count_answers_without_scanning(spark, catalog):
    import shutil as _shutil

    t = catalog.create_table(
        "mc", "k long, day string, v string",
        {"bucket": "1", "partition-by": "day"},
    )
    for day in ("d1", "d2"):
        t.append(spark.range(100).select(
            F.col("id").alias("k"), F.lit(day).alias("day"),
            F.lit("x").alias("v")))

    # parity with the scanned plan first (name AND value)
    df = catalog.sql(spark, "SELECT COUNT(*) FROM mc")
    assert df.columns == ["count(1)"]
    assert df.collect()[0][0] == 200
    assert catalog.sql(spark, "SELECT COUNT(*) AS n FROM mc").collect()[0].n == 200
    # partition predicate: decided entirely by manifest metadata
    assert catalog.sql(
        spark, "SELECT COUNT(*) AS n FROM mc WHERE day = 'd1'"
    ).collect()[0].n == 100

    # the PROOF it never touches data: remove the data files; the
    # metadata answer still works, while a predicate on a
    # non-partition column (which must scan) now cannot
    for d in os.listdir(t.paths.root):
        if d.startswith("day="):
            _shutil.rmtree(os.path.join(t.paths.root, d))
    assert catalog.sql(spark, "SELECT COUNT(*) AS n FROM mc").collect()[0].n == 200
    assert t.metadata_count(where="k < 10") is None  # non-partition col


def test_metadata_count_stays_exact_through_dml(spark, catalog):
    t = catalog.create_table("mcd", "k long, v string", {"bucket": "1"})
    t.append(spark.range(500).select(F.col("id").alias("k"), F.lit("a").alias("v")))
    t.delete_where(spark, "k < 100")
    # append-table DELETE is copy-on-write: the live manifest counts
    # exactly the surviving rows
    assert t.metadata_count() == 400
    assert catalog.sql(spark, "SELECT COUNT(*) AS n FROM mcd").collect()[0].n == 400


def test_metadata_count_refuses_pk_tables(spark, catalog):
    t = catalog.create_table(
        "mcpk", "k long, v string",
        {"bucket": "1", "primary-key": "k"},
    )
    df = spark.range(100).select(F.pmod(F.col("id"), F.lit(10)).alias("k"),
                                 F.col("id").cast("string").alias("v"))
    t.upsert(df)
    t.upsert(df)  # duplicate keys across commits: record_count sums lie
    assert t.metadata_count() is None
    # the SQL path falls through to the merged read and stays correct
    assert catalog.sql(spark, "SELECT COUNT(*) AS n FROM mcpk").collect()[0].n == 10


# ---------------------------------------------------------------------------
# File-level metadata DELETE (drop fully-covered files without rewrite)
# ---------------------------------------------------------------------------

def test_metadata_delete_drops_whole_partition_without_rewrite(spark, catalog):
    t = catalog.create_table(
        "md", "k long, day string",
        {"bucket": "1", "partition-by": "day"},
    )
    for day in ("d1", "d2", "d3"):
        t.append(spark.range(100).select(F.col("id").alias("k"), F.lit(day).alias("day")))
    before = {e["file_path"] for e in t.manifest()}
    old_sid = t.latest_snapshot_id()

    t.delete_where(spark, "day = 'd1'")
    after = {e["file_path"] for e in t.manifest()}
    # metadata-only: live set is a strict SUBSET of the old one — no
    # file was written, the covered file was dropped from the manifest
    assert after < before and len(after) == 2, (before, after)
    assert t.read(spark).count() == 200
    assert t.read(spark).filter("day = 'd1'").count() == 0
    # time travel still sees the dropped partition
    assert t.read(spark, snapshot_id=old_sid).count() == 300


def test_metadata_delete_numeric_stats_coverage_and_straddle(spark, catalog):
    t = catalog.create_table("mds", "k long, v string", {"bucket": "1"})
    for lo in (0, 1000, 2000):
        t.append(spark.range(lo, lo + 500).select(
            F.col("id").alias("k"), F.lit("x").alias("v")))
    before = {e["file_path"] for e in t.manifest()}

    # fully covered by footer min/max ([0,499] < 600): dropped, no write
    t.delete_where(spark, "k < 600")
    after1 = {e["file_path"] for e in t.manifest()}
    assert after1 < before and len(after1) == 2
    assert t.read(spark).count() == 1000

    # straddling predicate: [1000,1499] is only half-covered → that one
    # file is rewritten; [2000,2499] must keep its identity
    t.delete_where(spark, "k < 1200")
    after2 = {e["file_path"] for e in t.manifest()}
    assert len(after2) == 2
    assert len(after2 & after1) == 1  # the untouched high file
    assert t.read(spark).count() == 800
    assert t.read(spark).agg(F.min("k")).collect()[0][0] == 1200


def test_metadata_delete_never_drops_null_rows(spark, catalog):
    t = catalog.create_table("mdn", "k long, v string", {"bucket": "1"})
    rows = spark.range(500).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    nulls = spark.range(3).select(F.lit(None).cast("long").alias("k"), F.lit("n").alias("v"))
    t.append(rows.unionAll(nulls))
    before = {e["file_path"] for e in t.manifest()}

    # min/max ([0,499]) lies fully under 600, but the file has NULL k
    # rows whose predicate is unknown — they must SURVIVE, so the file
    # is rewritten, never metadata-dropped
    t.delete_where(spark, "k < 600")
    after = {e["file_path"] for e in t.manifest()}
    assert not (after <= before)  # a rewrite happened
    got = t.read(spark).collect()
    assert len(got) == 3 and all(r.k is None and r.v == "n" for r in got)


def test_metadata_min_max_pushdown(spark, catalog):
    import shutil as _shutil

    t = catalog.create_table(
        "mmx", "k long, day string",
        {"bucket": "1", "partition-by": "day"},
    )
    t.append(spark.range(100, 200).select(F.col("id").alias("k"), F.lit("d1").alias("day")))
    t.append(spark.range(500, 600).select(F.col("id").alias("k"), F.lit("d2").alias("day")))

    df = catalog.sql(spark, "SELECT MIN(k) FROM mmx")
    assert df.columns == ["min(k)"] and df.collect()[0][0] == 100
    assert catalog.sql(spark, "SELECT MAX(k) AS m FROM mmx").collect()[0].m == 599
    # partition-filtered: exact file selection through partition values
    assert catalog.sql(
        spark, "SELECT MAX(k) AS m FROM mmx WHERE day = 'd1'"
    ).collect()[0].m == 199

    # metadata-only proof: remove the data, the stats still answer
    for d in os.listdir(t.paths.root):
        if d.startswith("day="):
            _shutil.rmtree(os.path.join(t.paths.root, d))
    assert catalog.sql(spark, "SELECT MIN(k) AS m FROM mmx").collect()[0].m == 100

    # refusals: string stats (may be truncated) and non-partition preds
    assert t.metadata_min_max("min", "day") is None
    assert t.metadata_min_max("min", "k", where="k > 10") is None


def test_metadata_min_max_refuses_pk_tables(spark, catalog):
    t = catalog.create_table(
        "mmxpk", "k long, v long", {"bucket": "1", "primary-key": "k"})
    t.upsert(spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 100).alias("v")))
    t.upsert(spark.range(10).select(F.col("id").alias("k"), F.lit(5).cast("long").alias("v")))
    # stats still contain the overwritten v=900 image — metadata must refuse
    assert t.metadata_min_max("max", "v") is None
    # and the SQL path falls through to the merged read: every key's
    # live image has v=5
    assert catalog.sql(spark, "SELECT MAX(v) AS m FROM mmxpk").collect()[0].m == 5


# ---------------------------------------------------------------------------
# Branches (Paimon branch surface: isolated snapshot chains, shared data)
# ---------------------------------------------------------------------------

def _kv(spark, lo, n, v="a"):
    return spark.range(lo, lo + n).select(F.col("id").alias("k"), F.lit(v).alias("v"))


def test_branch_lifecycle_and_isolation(spark, catalog):
    t = catalog.create_table("br", "k long, v string", {"bucket": "1"})
    t.append(_kv(spark, 0, 100))
    t.append(_kv(spark, 100, 100))
    anchor = t.create_branch("dev")
    assert anchor == 2
    dev = t.use_branch("dev")
    assert dev.read(spark).count() == 200  # branch starts at the anchor image

    # divergence: branch and main write independently
    dev.append(_kv(spark, 1000, 50, "branch"))
    t.append(_kv(spark, 2000, 70, "main"))
    assert dev.read(spark).count() == 250
    assert t.read(spark).count() == 270
    assert dev.read(spark).filter("v = 'main'").count() == 0
    assert t.read(spark).filter("v = 'branch'").count() == 0
    # time travel inside the branch chain
    assert dev.read(spark, snapshot_id=anchor).count() == 200

    # system table + SQL branch scan
    rows = catalog.sql(spark, "SELECT * FROM br$branches").collect()
    assert len(rows) == 1 and rows[0].branch_name == "dev"
    assert rows[0].created_from_snapshot == 2 and rows[0].latest_snapshot == 3
    got = catalog.sql(
        spark, "SELECT COUNT(*) AS n FROM br$branch_dev WHERE v = 'branch'"
    ).collect()
    assert got[0].n == 50


def test_branch_protects_files_from_main_rollback_and_expiry(spark, catalog):
    t = catalog.create_table("brp", "k long, v string", {"bucket": "1"})
    t.append(_kv(spark, 0, 100))      # s1
    t.append(_kv(spark, 100, 100))    # s2
    t.create_branch("keep")           # anchored at s2 → references both files

    # main rollback would normally delete s2's exclusively-referenced
    # file — the branch still reads it, so it must survive
    t.rollback_to(1)
    assert t.read(spark).count() == 100
    assert t.use_branch("keep").read(spark).count() == 200

    # main expiry likewise cannot delete branch-referenced files
    t.append(_kv(spark, 200, 100))
    t.expire_snapshots(retain_min=1, retain_max=1)
    assert t.use_branch("keep").read(spark).count() == 200


def test_branch_fast_forward(spark, catalog):
    t = catalog.create_table("brf", "k long, v string", {"bucket": "1"})
    t.append(_kv(spark, 0, 100))
    t.create_branch("feature")
    dev = t.use_branch("feature")
    dev.append(_kv(spark, 1000, 30, "feat"))
    dev.append(_kv(spark, 2000, 20, "feat"))
    t.append(_kv(spark, 5000, 99, "main-diverged"))

    head = t.fast_forward("feature")
    assert head == 3
    assert t.read(spark).count() == 150
    assert t.read(spark).filter("v = 'feat'").count() == 50
    assert t.read(spark).filter("v = 'main-diverged'").count() == 0
    # main keeps working after adoption
    t.append(_kv(spark, 9000, 10))
    assert t.read(spark).count() == 160
    assert t.latest_snapshot_id() == 4


def test_branch_write_guards(spark, catalog):
    t = catalog.create_table(
        "brg", "k long, v string",
        {"bucket": "1", "primary-key": "k", "changelog-producer": "lookup"},
    )
    t.upsert(_kv(spark, 0, 10))
    t.create_branch("nochangelog")
    with pytest.raises(ValueError, match="changelog"):
        t.use_branch("nochangelog").upsert(_kv(spark, 0, 5, "b"))

    # append-table branch writes must not pollute the main stream mirror
    a = catalog.create_table("brs", "k long, v string", {"bucket": "1"})
    a.append(_kv(spark, 0, 10))
    a.create_branch("side")
    import glob as _glob
    before = set(_glob.glob(os.path.join(a.paths.root, "stream", "*")))
    a.use_branch("side").append(_kv(spark, 100, 10))
    after = set(_glob.glob(os.path.join(a.paths.root, "stream", "*")))
    assert before == after


def test_branch_delete_then_orphan_sweep(spark, catalog):
    t = catalog.create_table("brd", "k long, v string", {"bucket": "1"})
    t.append(_kv(spark, 0, 100))
    t.create_branch("tmp")
    dev = t.use_branch("tmp")
    dev.append(_kv(spark, 1000, 50))
    branch_files = {
        e["file_path"] for e in dev.manifest()
    } - {e["file_path"] for e in t.manifest()}
    assert branch_files

    # while the branch lives, its files are protected from the sweep
    future = now_millis() + 3_600_000
    t.remove_orphan_files(older_than_ms=future)
    for fp in branch_files:
        assert os.path.exists(os.path.join(t.paths.root, fp))

    # after deletion they are unreferenced and get swept
    t.delete_branch("tmp")
    assert t.branches() == {}
    removed = t.remove_orphan_files(older_than_ms=future)
    for fp in branch_files:
        assert fp in removed
        assert not os.path.exists(os.path.join(t.paths.root, fp))
    assert t.read(spark).count() == 100


def test_branch_pk_upsert_independent(spark, catalog):
    t = catalog.create_table(
        "brk", "k long, v string", {"bucket": "1", "primary-key": "k"})
    t.upsert(_kv(spark, 0, 10, "base"))
    t.create_branch("exp")
    dev = t.use_branch("exp")
    dev.upsert(_kv(spark, 0, 10, "branch-img"))
    assert {r.v for r in dev.read(spark).collect()} == {"branch-img"}
    assert {r.v for r in t.read(spark).collect()} == {"base"}


def test_branch_and_main_commit_concurrently(spark, catalog):
    """Per-branch commit arbitration: a branch's LATEST pointer is its
    own, so main and branch writers committing AT THE SAME TIME never
    see each other as conflicts and never lose a commit."""
    import threading

    t = catalog.create_table("brc", "k long, v string", {"bucket": "1"})
    t.append(_kv(spark, 0, 50))
    t.create_branch("side")
    dev = t.use_branch("side")
    errors: list = []

    def writer(table, lo, tag):
        try:
            for i in range(3):
                table.append(_kv(spark, lo + i * 100, 50, tag))
        except Exception as ex:  # pragma: no cover - failure evidence
            errors.append(ex)

    th1 = threading.Thread(target=writer, args=(t, 10_000, "main"))
    th2 = threading.Thread(target=writer, args=(dev, 50_000, "branch"))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert not errors, errors
    assert t.read(spark).filter("v = 'main'").count() == 150
    assert t.read(spark).filter("v = 'branch'").count() == 0
    assert dev.read(spark).filter("v = 'branch'").count() == 150
    assert dev.read(spark).filter("v = 'main'").count() == 0
    assert t.latest_snapshot_id() == 4 and dev.latest_snapshot_id() == 4


# ---------------------------------------------------------------------------
# Deletion vectors (merge-on-read positional deletes for append tables)
# ---------------------------------------------------------------------------

def test_deletion_vector_delete_keeps_file_identity(spark, catalog):
    t = catalog.create_table(
        "dv1", "k long, v string",
        {"bucket": "1", "deletion-vectors.enabled": "true"},
    )
    for lo in (0, 1000):
        t.append(_kv(spark, lo, 500))
    before = {e["file_path"] for e in t.manifest()}
    old_sid = t.latest_snapshot_id()

    # straddling predicate: [0,499] covered in full (metadata drop),
    # [1000,1499] straddles — DV mode must re-publish the SAME file
    # with a vector instead of rewriting it
    t.delete_where(spark, "k < 1200")
    entries = t.manifest()
    assert {e["file_path"] for e in entries} < before  # no new data file
    assert len(entries) == 1
    e = entries[0]
    assert e["deletion_vector"].startswith("dv/")
    assert e["record_count"] == 300  # live rows, metadata_count stays exact
    assert t.metadata_count() == 300
    got = t.read(spark)
    assert got.count() == 300
    assert got.agg(F.min("k")).collect()[0][0] == 1200
    # time travel predates the vector
    assert t.read(spark, snapshot_id=old_sid).count() == 1000


def test_deletion_vector_stacks_across_deletes(spark, catalog):
    t = catalog.create_table(
        "dv2", "k long, v string",
        {"bucket": "1", "deletion-vectors.enabled": "true"},
    )
    t.append(_kv(spark, 0, 1000))
    t.delete_where(spark, "k < 100")
    assert t.read(spark).count() == 900
    t.delete_where(spark, "k >= 100 AND k < 250")  # second vector on the same file
    assert t.read(spark).count() == 750
    assert t.metadata_count() == 750
    assert t.read(spark).agg(F.min("k")).collect()[0][0] == 250
    e = t.manifest()[0]
    assert e["record_count"] == 750

    # compaction applies and clears the vectors
    t.compact()
    entries = t.manifest()
    assert all("deletion_vector" not in e or not e["deletion_vector"] for e in entries)
    assert t.read(spark).count() == 750

    # once no snapshot needs them (post-expiry), the dv dirs are orphans
    t.expire_snapshots(retain_min=1, retain_max=1)
    removed = t.remove_orphan_files(older_than_ms=now_millis() + 3_600_000)
    assert any(p.startswith("dv/") for p in removed), removed
    assert t.read(spark).count() == 750


def test_deletion_vector_null_rows_survive(spark, catalog):
    t = catalog.create_table(
        "dv3", "k long, v string",
        {"bucket": "1", "deletion-vectors.enabled": "true"},
    )
    rows = spark.range(100).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    nulls = spark.range(2).select(F.lit(None).cast("long").alias("k"), F.lit("n").alias("v"))
    t.append(rows.unionAll(nulls))
    t.delete_where(spark, "k < 1000")
    got = t.read(spark).collect()
    assert len(got) == 2 and all(r.k is None for r in got)


def test_deletion_vector_refused_for_pk_tables(spark, catalog):
    with pytest.raises(ValueError, match="deletion-vectors"):
        catalog.create_table(
            "dvpk", "k long, v string",
            {"bucket": "1", "primary-key": "k", "deletion-vectors.enabled": "true"},
        )


def test_deletion_vector_update_appends_patches(spark, catalog):
    t = catalog.create_table(
        "dvu", "k long, v string",
        {"bucket": "1", "deletion-vectors.enabled": "true"},
    )
    t.append(_kv(spark, 0, 1000))
    before = {e["file_path"] for e in t.manifest()}

    # UPDATE in DV mode: the original file keeps its identity with a
    # vector over the matched positions; the patched images APPEND
    t.update_where(spark, {"v": "'patched'"}, "k >= 900")
    entries = t.manifest()
    paths = {e["file_path"] for e in entries}
    assert before < paths and len(paths) == 2  # original + patch file
    orig = next(e for e in entries if e["file_path"] in before)
    patch = next(e for e in entries if e["file_path"] not in before)
    assert orig["deletion_vector"].startswith("dv/")
    assert orig["record_count"] == 900 and patch["record_count"] == 100
    assert t.metadata_count() == 1000
    got = t.read(spark)
    assert got.count() == 1000
    assert got.filter("v = 'patched'").count() == 100
    assert got.filter("k >= 900 AND v <> 'patched'").count() == 0
    assert got.filter("k < 900 AND v <> 'a'").count() == 0

    # a DELETE after the UPDATE stacks onto both files' vectors
    t.delete_where(spark, "k >= 950")
    assert t.read(spark).count() == 950
    assert t.metadata_count() == 950
    assert t.read(spark).filter("v = 'patched'").count() == 50


def test_deletion_vector_read_plans_broadcast_antijoin(spark, catalog):
    """The DV apply must plan as a BROADCAST anti-join (bounded by
    total deleted rows), never a shuffled join or cartesian — the
    Iceberg v2 positional-delete apply shape the docstring claims."""
    t = catalog.create_table(
        "dvp", "k long, v string",
        {"bucket": "1", "deletion-vectors.enabled": "true"},
    )
    t.append(_kv(spark, 0, 1000))
    t.delete_where(spark, "k < 100")
    df = t.read(spark)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert df.count() == 900


# ---------------------------------------------------------------------------
# Round-14 hardening: ADVICE r13 #1-#5 + VERDICT r13 ask #2
# ---------------------------------------------------------------------------

def test_metadata_min_max_refuses_dv_tables(spark, catalog):
    """ADVICE r13 #1: _dv_republish keeps the original footer stats, so
    on a DV table MIN/MAX from metadata would answer from DV-deleted
    rows (append [0,1500) then DELETE k<1200 → footer min says 1000,
    truth is 1200). metadata_min_max must refuse whenever any selected
    entry carries a vector; the SQL path falls through to the scan."""
    t = catalog.create_table(
        "dvmm", "k long, v string",
        {"bucket": "1", "deletion-vectors.enabled": "true"},
    )
    for lo in (0, 1000):
        t.append(_kv(spark, lo, 500))
    assert t.metadata_min_max("min", "k") == (True, 0)

    t.delete_where(spark, "k < 1200")  # [0,500) drops whole-file; [1000,1500) gets a DV
    assert t.metadata_count() == 300  # count stays exact (live record_count)
    assert t.metadata_min_max("min", "k") is None  # stats are pre-DV → refuse
    assert t.metadata_min_max("max", "k") is None
    # SQL falls through to the DV-applied scan and answers the truth
    assert catalog.sql(spark, "SELECT MIN(k) AS m FROM dvmm").collect()[0].m == 1200

    # compaction applies + clears the vectors; fresh footers answer again
    t.compact()
    assert t.metadata_min_max("min", "k") == (True, 1200)


def test_branch_name_path_traversal_rejected(spark, catalog):
    """ADVICE r13 #2: delete_branch rmtree-s the branch meta dir; a
    name like 'x/../../..' would resolve outside it and delete the
    table (or database). Validation lives in TablePaths so EVERY
    branch-addressed surface is covered."""
    t = catalog.create_table("brsec", "k long, v string", {"bucket": "1"})
    t.append(_kv(spark, 0, 10))
    for bad in ("x/../../..", "../evil", "a/b", "", "dot dot"):
        with pytest.raises(ValueError, match="branch name"):
            t.delete_branch(bad)
        with pytest.raises(ValueError, match="branch name"):
            t.use_branch(bad)
        with pytest.raises(ValueError, match="branch name"):
            t.fast_forward(bad)
        with pytest.raises(ValueError):
            t.create_branch(bad)
    # nothing was deleted by the attempts
    assert t.read(spark).count() == 10
    assert os.path.exists(t.paths.root)


def test_compact_index_keeps_other_chain_keys(spark, catalog):
    """ADVICE r13 #3: the dynamic-bucket key→bucket index is SHARED by
    all branches, but index GC used to key retention on the calling
    chain's raw files only — compact() on main would drop entries for
    keys live only on a branch, so a later branch re-upsert could pick
    a different bucket than the one physically holding the key's rows
    (duplicate images from index-trusting pre-image pruning)."""
    t = catalog.create_table(
        "dynbr", "k long, v string", {"bucket": "-1", "primary-key": "k"})
    t.upsert(_kv(spark, 0, 50))
    t.create_branch("dev")
    dev = t.use_branch("dev")

    # kill keys 0..24 on MAIN, then full-compact (runs index GC)
    t.delete_where(spark, "k < 25")
    t.compact()
    assert t.read(spark).count() == 25

    # the index must still know keys 0..24 — they are live on dev
    import glob as _glob
    idx_files = _glob.glob(os.path.join(t._index_dir(), "*.parquet"))
    idx = {r[0] for r in spark.read.parquet(*idx_files).select("__khash").collect()}
    want = {
        r[0]
        for r in spark.range(0, 25)
        .select(F.col("id").alias("k"))
        .select(F.xxhash64("k"))
        .collect()
    }
    assert want <= idx, f"index lost {len(want - idx)} branch-live keys"

    # and the functional consequence: re-upserting a branch-live key
    # yields exactly ONE merged image on the branch
    dev.upsert(_kv(spark, 5, 1, "patched"))
    got = dev.read(spark).filter("k = 5").collect()
    assert len(got) == 1 and got[0].v == "patched"
    assert dev.read(spark).count() == 50


def test_fast_forward_mirrors_adopted_appends_to_stream(spark, catalog):
    """ADVICE r13 #4: branch writes skip the stream/ mirror by design,
    and fast_forward copies snapshots directly (bypassing _publish) —
    the adopted APPENDs must be hard-linked into the mirror or
    subscribers replaying from genesis never see the adopted rows."""
    t = catalog.create_table("brffs", "k long, v string", {"bucket": "1"})
    t.append(_kv(spark, 0, 10))
    t.create_branch("feat")
    dev = t.use_branch("feat")
    dev.append(_kv(spark, 100, 10, "feat"))
    dev.append(_kv(spark, 200, 5, "feat"))
    t.append(_kv(spark, 9000, 7, "main-diverged"))  # rolled back by adoption

    t.fast_forward("feat")

    sdir = os.path.join(t.paths.root, "stream")
    names = sorted(os.listdir(sdir))
    assert any(n.startswith("snapshot-000002__") for n in names), names
    assert any(n.startswith("snapshot-000003__") for n in names), names
    # the mirror IS the genesis replay: exactly the main-chain appends,
    # adopted rows included, diverged-then-rolled-back rows gone
    mirror = spark.read.parquet(sdir)
    assert mirror.count() == 25
    assert mirror.filter("v = 'feat'").count() == 15
    assert mirror.filter("v = 'main-diverged'").count() == 0


def test_deletion_vector_rejected_for_orc(spark, catalog):
    """ADVICE r13 #5: DV position capture needs _metadata.row_index,
    which Spark's ORC source does not expose — reject at CREATE TABLE
    instead of failing deep in the first DV-mode scan."""
    with pytest.raises(ValueError, match="parquet"):
        catalog.create_table(
            "dvorc", "k long, v string",
            {"bucket": "1", "deletion-vectors.enabled": "true",
             "file.format": "orc"},
        )


def test_dv_apply_plan_shapes(spark, catalog):
    """VERDICT r13 ask #2: the DV apply broadcasts only under the size
    gate; above it the SAME rows come back through a shuffled anti-join
    instead of an executor-OOM broadcast."""
    from advent_of_code_flink_paimon_spark.lakehouse import table as table_mod

    t = catalog.create_table(
        "dvgate", "k long, v string",
        {"bucket": "1", "deletion-vectors.enabled": "true"},
    )
    t.append(_kv(spark, 0, 1000))
    t.delete_where(spark, "k < 100")

    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    def plan_of(df):
        return df._jdf.queryExecution().explainString(jmode)

    # small DV: broadcast shape (the default-path assertion also lives
    # in test_deletion_vector_read_plans_broadcast_antijoin)
    small = t.read(spark)
    p = plan_of(small)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p
    rows_small = sorted(r.k for r in small.collect())

    # force the gate shut and pin auto-broadcast off so the planner
    # can't pick broadcast on its own size estimate
    old_gate = table_mod._DV_BROADCAST_MAX_BYTES
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    table_mod._DV_BROADCAST_MAX_BYTES = 0
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = t.read(spark)
        p2 = plan_of(big)
        assert "BroadcastHashJoin" not in p2, p2
        assert ("SortMergeJoin" in p2 or "ShuffledHashJoin" in p2) and "LeftAnti" in p2, p2
        rows_big = sorted(r.k for r in big.collect())
    finally:
        table_mod._DV_BROADCAST_MAX_BYTES = old_gate
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)

    assert rows_small == rows_big == list(range(100, 1000))


def test_bloom_prune_executor_side_above_threshold(spark, catalog, monkeypatch):
    """VERDICT r13 ask #3: above _BLOOM_DRIVER_PROBE_MAX candidates,
    sidecar evaluation runs on executors — the driver performs ZERO
    per-file sidecar reads at planning time — and prunes exactly the
    same files the driver path does."""
    from advent_of_code_flink_paimon_spark.lakehouse import table as table_mod

    t = catalog.create_table(
        "bfx_dist",
        "sensor_id long, tag string",
        {
            "bucket": "1",
            "file-index.bloom-filter.columns": "sensor_id",
            "file-index.bloom-filter.fpp": "0.01",
        },
    )
    for r in range(4):
        t.append(_interleaved(spark, r))
    entries = t.manifest()
    assert len(entries) == 4

    where = "sensor_id = 1234"
    driver_kept = [
        e["file_path"]
        for e in table_mod.prune_entries(entries, where, root=t.paths.root)
    ]
    assert 1 <= len(driver_kept) <= 2  # bloom pruned; true file survives

    # force the distributed path and spy on DRIVER-side sidecar reads.
    # Executors are separate worker processes importing the module
    # fresh, so the monkeypatch is invisible to them — any recorded
    # call is by definition driver I/O.
    calls: list[str] = []
    real = table_mod._read_bloom_sidecar

    def spying(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(table_mod, "_read_bloom_sidecar", spying)
    monkeypatch.setattr(table_mod, "_BLOOM_DRIVER_PROBE_MAX", 0)
    dist_kept = [
        e["file_path"]
        for e in table_mod.prune_entries(entries, where, root=t.paths.root)
    ]
    assert dist_kept == driver_kept  # identical pruning decisions
    assert calls == []  # zero per-file sidecar reads on the driver

    # below the threshold the driver path (mtime-cached reads) is used
    monkeypatch.setattr(table_mod, "_BLOOM_DRIVER_PROBE_MAX", 256)
    small_kept = [
        e["file_path"]
        for e in table_mod.prune_entries(entries, where, root=t.paths.root)
    ]
    assert small_kept == driver_kept
    assert len(calls) == 4  # one cached read per candidate, driver-side


def test_dv_gate_measures_part_file_bytes(spark, catalog, monkeypatch):
    """The DV size gate must sum the PART FILES inside each DV parquet
    directory — os.path.getsize on the directory itself returns the
    ~4 KiB inode size, which would keep the gate permanently open (the
    round-14 review catch). Pin it by setting the threshold one byte
    on either side of the true part-file total and asserting the plan
    flips."""
    import glob as _glob

    from advent_of_code_flink_paimon_spark.lakehouse import table as table_mod

    t = catalog.create_table(
        "dvsz", "k long, v string",
        {"bucket": "1", "deletion-vectors.enabled": "true"},
    )
    t.append(_kv(spark, 0, 20000))
    t.delete_where(spark, "k < 5000")
    dv_dirs = {e["deletion_vector"] for e in t.manifest() if e.get("deletion_vector")}
    assert dv_dirs
    real_total = sum(
        os.path.getsize(f)
        for d in sorted(dv_dirs)
        for f in _glob.glob(os.path.join(t.paths.root, d, "*.parquet"))
    )
    # precondition: the true vector bytes dominate the inode sizes, so
    # the buggy measurement (4096/dir) and the real one disagree
    assert real_total > 4096 * len(dv_dirs)

    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    def plan_of(df):
        return df._jdf.queryExecution().explainString(jmode)

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        monkeypatch.setattr(table_mod, "_DV_BROADCAST_MAX_BYTES", real_total - 1)
        assert "BroadcastHashJoin" not in plan_of(t.read(spark))
        monkeypatch.setattr(table_mod, "_DV_BROADCAST_MAX_BYTES", real_total)
        assert "BroadcastHashJoin" in plan_of(t.read(spark))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    assert t.read(spark).count() == 15000


def test_decimal_and_timestamp_columns_roundtrip_with_safe_stats(spark, tmp_path):
    """Round 15 (found by x135's windowed-aggregate sink): manifest
    stats must be JSON-safe for EVERY column type. Decimal footer
    bounds become floats widened one ulp outward (float rounding can
    never narrow the range); datetime bounds are skipped entirely (an
    ISO-string bound could compare lexicographically against a
    differently-formatted predicate literal and wrongly prune).
    metadata_min_max refuses decimal columns — its recorded bound may
    be strictly outside the true value."""
    from decimal import Decimal

    from advent_of_code_flink_paimon_spark.lakehouse import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    # precision > 18 forces the FIXED_LEN_BYTE_ARRAY physical type,
    # where pyarrow CAN extract stats and returns Decimal objects (a
    # <=18 decimal is INT64-backed and pyarrow refuses stats for it —
    # that path was already safely skipped)
    t = cat.create_table(
        "dts", "k long, d decimal(28,6), ts timestamp", {"bucket": "1"}
    )
    rows = [
        (1, Decimal("1.000001"), "2024-01-01 00:00:00"),
        (2, Decimal("2.999999"), "2024-02-01 12:34:56"),
    ]
    df = spark.createDataFrame(rows, "k long, d decimal(28,6), ts string").withColumn(
        "ts", __import__("pyspark.sql.functions", fromlist=["col"]).col("ts").cast("timestamp")
    )
    t.append(df)  # pre-fix: TypeError (Decimal is not JSON serializable)
    (entry,) = t.manifest()
    d_stats = entry["stats"]["d"]
    assert isinstance(d_stats["min"], float) and isinstance(d_stats["max"], float)
    assert d_stats["min"] <= 1.000001 and d_stats["max"] >= 2.999999
    assert "ts" not in entry["stats"]  # datetime stats skipped, not stored
    assert t.metadata_min_max("min", "d") is None  # widened bound: refuse
    assert t.metadata_min_max("min", "k") == (True, 1)  # untouched path
    got = {(r.k, r.d) for r in t.read(spark).collect()}
    assert got == {(1, Decimal("1.000001")), (2, Decimal("2.999999"))}


def _two_handles_after_foreign_rollback(spark, catalog):
    """Handle A appends k=1,2,3 (identifiers 1,2,3); handle B rolls back
    to snapshot 1 and appends k=10, k=11, re-issuing ids 2 and 3 — so
    A's caches hold reconstructions for ids that now name different
    snapshots."""
    catalog.create_table("rb", "k long", {})
    a, b = catalog.get_table("rb"), catalog.get_table("rb")
    for k in (1, 2, 3):
        a.append_rows(spark, [(k,)], commit_identifier=k)
    # warm both of A's caches at snapshot 3: the manifest and the
    # replay guard's identifier set
    assert sorted(r.k for r in a.read(spark).collect()) == [1, 2, 3]
    assert a.append_rows(spark, [(3,)], commit_identifier=3) is None
    b.rollback_to(1)
    for k in (10, 11):
        b.append_rows(spark, [(k,)])
    assert b.latest_snapshot_id() == a.latest_snapshot_id() == 3
    return a, b


def test_stale_handle_reads_after_foreign_rollback(spark, catalog):
    """Snapshot caches key on snapshot identity (id + commit time +
    schema), not the bare id that rollback_to reuses: the stale
    handle must read the new chain, not files rollback deleted."""
    a, _ = _two_handles_after_foreign_rollback(spark, catalog)
    assert sorted(r.k for r in a.read(spark).collect()) == [1, 10, 11]
    fresh = catalog.get_table("rb")
    assert sorted(r.k for r in fresh.read(spark).collect()) == [1, 10, 11]


def test_stale_handle_replays_rolled_back_identifier(spark, catalog):
    """The replay guard's identifier cache must not outlive a foreign
    rollback: identifier 2 was rolled back, so replaying it commits."""
    a, _ = _two_handles_after_foreign_rollback(spark, catalog)
    assert a.append_rows(spark, [(2,)], commit_identifier=2) == 4
    assert a.append_rows(spark, [(3,)], commit_identifier=3) == 5
    assert a.append_rows(spark, [(3,)], commit_identifier=3) is None
    got = sorted(r.k for r in catalog.get_table("rb").read(spark).collect())
    assert got == [1, 2, 3, 10, 11]


def test_rollback_drops_own_identifier_cache(spark, catalog):
    """rollback_to on the committing handle forgets the rolled-back
    identifiers, even once later commits reuse the cached LATEST id
    (fast_forward already dropped the cache)."""
    t = catalog.create_table("rbi", "k long", {})
    for k in (1, 2, 3):
        t.append_rows(spark, [(k,)], commit_identifier=k)
    assert ("APPEND", 3) in t._committed_identifiers()
    t.rollback_to(1)
    assert t._ids_cache is None
    for k in (10, 11):
        t.append_rows(spark, [(k,)])
    assert ("APPEND", 2) not in t._committed_identifiers()
    assert t.append_rows(spark, [(2,)], commit_identifier=2) == 4


def _jobs_launched(spark, build) -> int:
    """Spark jobs ``build()`` launches on this thread, counted through a
    job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"no-listing-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan-only read construction")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_reads_over_many_files_launch_no_listing_job(spark, catalog):
    """Past Spark's default 32-path threshold an explicit file list was
    listed by a distributed job with one task per path; the session
    lists manifest-named files on the driver instead, so building a
    read launches no job at all."""
    t = catalog.create_table("many", "k long, v string", {})
    for i in range(40):
        t.append_rows(spark, [(i, "x")])
    assert len(t.manifest()) >= 40
    assert _jobs_launched(spark, lambda: t.read(spark)) == 0
    paths = [os.path.join(t.paths.root, e["file_path"]) for e in t.manifest()]
    # schema given: inferring one costs a footer-reading job of its own
    assert _jobs_launched(spark, lambda: spark.read.schema(t.schema).parquet(*paths)) == 0
    assert t.read(spark).count() == 40
