"""Processing-time temporal (lookup) join pipeline.

Reference semantics (tutorial/guide.md:119-141): each measurement joins
the sensor_info row current *at processing time*; on lookup miss, retry
up to max-attempts (`retry-predicate=lookup_miss`, `max-attempts=50`,
tutorial/guide.md:122-129); output order unconstrained
(`allow_unordered`).

Micro-batch Spark equivalent (SURVEY.md §3 EP3): per batch,

1. candidates = new stream rows ∪ retry queue
2. the dimension's LATEST snapshot (merged-on-read) → broadcast. The
   merged image is persisted and reused by later batches until the
   dimension's snapshot identity (id + commit time + schema version)
   changes — the role of Paimon's lookup cache, which refreshes only
   when a new dimension snapshot lands. Every batch still joins the
   dimension as of its own processing time: the identity is checked
   per batch, and a batch that sees a new one re-reads.
3. left join on the key: matches → append to the enriched table;
   misses with attempts < max → back to the retry queue (attempts+1);
   misses at max attempts → dropped without a record (a dead-letter
   table is ROADMAP direction 4)
4. one snapshot commit per trigger on the enriched table

The async/thread-count hints (lookup.async*, tutorial/guide.md:138) are
moot here — the batch join is set-oriented; they are accepted and
ignored, as SURVEY.md §2.3 documents.
"""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener
from pyspark.sql.types import StructType

from advent_of_code_flink_paimon_spark.lakehouse.catalog import Catalog
from advent_of_code_flink_paimon_spark.lakehouse.table import Table
from advent_of_code_flink_paimon_spark.streaming.pipelines import start_foreach_batch


class LookupJoinPipeline:
    def __init__(
        self,
        name: str,
        catalog: Catalog,
        source: DataFrame,
        dim_table: Table,
        target_table: Table,
        on: str,
        max_attempts: int = 50,
        trigger_seconds: int | None = None,
        available_now: bool = False,
        checkpoint_dir: str | None = None,
    ):
        self.name, self.catalog = name, catalog
        self.source, self.dim, self.target, self.on = source, dim_table, target_table, on
        self.max_attempts = max_attempts
        self.trigger_seconds, self.available_now = trigger_seconds, available_now
        self.checkpoint_dir = checkpoint_dir or f"{target_table.paths.root}/.checkpoint-{name}"
        self.retry = self._retry_table()
        # the persisted dimension image and the identity it was read at;
        # batches refresh it on the stream thread, query termination
        # releases it from the listener thread
        self._dim_lock = threading.RLock()
        self._dim_image: DataFrame | None = None
        self._dim_key: tuple | None = None

    def _retry_table(self) -> Table:
        """Persistent retry queue: stream schema + attempts counter."""
        name = f"{self.target.name}_retry"
        stream_schema = StructType([f for f in self.source.schema.fields])
        try:
            return self.catalog.get_table(name)
        except KeyError:
            retry_schema = StructType(
                stream_schema.fields + StructType.fromDDL("__attempts int").fields
            )
            return self.catalog.create_table(name, retry_schema)

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # NO early return on a replayed batch id: exactly-once spans TWO
        # commits (target append + queue overwrite). After a crash
        # between them, the target's own identifier check makes its
        # append a no-op while the queue overwrite still runs — an early
        # return here would leave matched rows in the queue to be
        # re-joined and double-appended under the NEXT batch id.
        # (Residual window: if the dimension changed between the
        # original run and the replay, rows matching only at replay time
        # leave the queue without an append — the inherent limit of
        # non-atomic two-table commits; Paimon closes it with a single
        # transactional commit spanning both tables.)
        stream_cols = [f.name for f in self.source.schema.fields]

        new_rows = batch_df.select(*stream_cols).withColumn("__attempts", F.lit(0))
        pending = self.retry.read(spark)
        candidates = new_rows.unionByName(pending)

        # the temporal aspect: the dimension as of *this* batch's
        # processing time — merged-on-read LATEST snapshot
        dim = self._dimension(spark)
        dim_cols = [c for c in dim.columns if c not in (self.on, "__matched")]

        # TWO consumers (target append + queue overwrite): persist the
        # joined batch so the micro-batch scan ∪ queue read ∪ broadcast
        # join runs once per trigger, not once per commit (r18, guide
        # §5 — the same two-consumer pin upsert() uses for changelogs)
        joined = candidates.join(F.broadcast(dim), on=self.on, how="left").persist()
        try:
            miss = F.col("__matched").isNull()  # explicit marker: dim NULLs ≠ miss

            matched = joined.filter(~miss).select(*stream_cols, *dim_cols)
            self.target.append(matched, commit_identifier=batch_id)

            retry_next = (
                joined.filter(miss)
                .filter(F.col("__attempts") + 1 < F.lit(self.max_attempts))
                .select(*stream_cols, (F.col("__attempts") + 1).alias("__attempts"))
            )
            # OVERWRITE commit: the queue is replaced wholesale each batch
            self.retry.overwrite(retry_next, commit_identifier=batch_id)
        finally:
            joined.unpersist()

    def _dimension(self, spark: SparkSession) -> DataFrame:
        """The dimension's merged LATEST image plus the ``__matched``
        marker, persisted across batches. Re-read only when the
        snapshot identity or the schema version moved (an ALTER TABLE
        changes the read without a new snapshot). The persist is lazy:
        the batch's own join materializes it, so a refresh costs no
        extra action. A dimension commit landing between the identity
        check and the read only makes the image newer than its key, so
        the next batch refreshes again — never the stale way round."""
        key = (self.dim.snapshot_identity(), self.dim.schema_version)
        with self._dim_lock:
            if self._dim_image is None or key != self._dim_key:
                self._release_dimension()
                self._dim_image = self.dim.read(spark).withColumn("__matched", F.lit(True)).persist()
                self._dim_key = key
            return self._dim_image

    def _release_dimension(self) -> None:
        with self._dim_lock:
            if self._dim_image is not None:
                self._dim_image.unpersist()
                self._dim_image = self._dim_key = None

    def start(self) -> StreamingQuery:
        q = start_foreach_batch(
            self.source, self.name, self._process_batch, self.checkpoint_dir,
            trigger_seconds=self.trigger_seconds, available_now=self.available_now,
        )
        # the cached dimension image must not outlive the query
        _OnTerminated(self.source.sparkSession, q, self._release_dimension)
        return q

    def run(self) -> StreamingQuery:
        """start() + awaitTermination(); returns the terminated query."""
        q = self.start()
        q.awaitTermination()
        return q


class _OnTerminated(StreamingQueryListener):
    """Runs ``callback`` once when ``query`` terminates, however it
    ends (stop, failure, availableNow drained), then deregisters."""

    def __init__(self, spark: SparkSession, query: StreamingQuery, callback):
        self.query_id, self.callback = str(query.id), callback
        self.streams = spark.streams
        self._once = threading.Lock()
        self.streams.addListener(self)
        if not query.isActive:  # ended before the listener was added
            self._fire()

    def _fire(self) -> None:
        if self._once.acquire(blocking=False):
            self.callback()
            self.streams.removeListener(self)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        if str(event.id) == self.query_id:
            self._fire()
