"""Table: bucketed parquet storage + MVCC snapshot log + merge-on-read.

The write path mirrors the reference job DAG `Source → shuffle by
bucket → Writer → Global Committer` (assets/output1.png): executors
write staged parquet partitioned by bucket hash; the driver — the
single "global committer" — renames files into place, collects footer
stats into the manifest, and atomically publishes snapshot-N
(tutorial/guide.md:3, one snapshot per checkpoint/trigger).

PK tables implement Paimon's last-write-wins merge: every commit gets a
monotone sequence number stored in a ``__seq`` column; merge-on-read is
a ranking window (rn=1 by __seq desc) — exactly the semantic of
`PRIMARY KEY NOT ENFORCED` + min_sequence_number ordering
(tutorial/guide.md:65,206). ``__op`` ∈ {'U','D'} supports retractions.

Commit kinds: APPEND (ingest), COMPACT (rewrite), OVERWRITE.
Exactly-once for streaming sinks: commits carry an optional
``commit_identifier`` (micro-batch id); a replayed batch with an
already-committed identifier is a no-op (SURVEY.md §7 watch list).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import glob
import math
import os
import re
import shutil
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import LongType, StringType, StructField, StructType

from advent_of_code_flink_paimon_spark.lakehouse.meta import (
    TablePaths,
    atomic_write_json,
    exclusive_write_json,
    new_file_name,
    now_millis,
    read_json,
)

META_COLS = ("__seq", "__op")
COMPACT_LEVEL = 5  # files produced by full compaction (L0 = fresh writes)
FULL_MANIFEST_EVERY = 10  # delta-chain length bound (manifest() docstring)
# Broadcast cap for the deletion-vector apply (bytes of DV parquet,
# summed driver-side): small accumulations broadcast (one-pass MoR
# filter, no shuffle of the data side), large ones fall back to a
# shuffled anti-join instead of OOMing the executors. 32 MiB of
# positional-delete parquet ≈ tens of millions of (file, pos) pairs —
# past any sane broadcast. Module-level so tests can lower it to force
# the shuffle shape without writing gigabytes.
_DV_BROADCAST_MAX_BYTES = 32 << 20

# sentinel: caller did not capture a base snapshot (self-conflict only)
_UNSET = object()

# sentinel: the driver-local commit fast path does not apply (fall back
# to the executor staging write) — distinct from None (= empty commit)
_NOT_LOCAL = object()


def _pa_type(dt):
    """Spark type → pyarrow type for the driver-local commit fast path;
    None = unsupported (caller falls back to the Spark write). Only the
    types the tiny driver-resident relations (centroids, codebooks,
    index params) actually use — timestamps/decimals/structs keep the
    Spark path so their parquet encodings stay byte-compatible with
    every existing reader expectation."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.ArrayType):
        inner = _pa_type(dt.elementType)
        return pa.list_(inner) if inner is not None else None
    return None


class CommitConflictError(RuntimeError):
    """Another committer published a snapshot between this writer's read
    of LATEST and its publish attempt, and the commit cannot be safely
    rebased: PK upserts baked a sequence number into their data files,
    and OVERWRITE/COMPACT/row-level rewrites replace files computed from
    table state the concurrent commit may have changed. Paimon's
    optimistic commit protocol makes the same split — retry clean
    appends, abort dirty writers (the caller re-runs against the new
    snapshot)."""


class Table:
    def __init__(self, warehouse: str, db: str, name: str, branch: str | None = None):
        self.warehouse, self.db, self.name = warehouse, db, name
        self.branch_name = branch
        self.paths = TablePaths(warehouse, db, name, branch=branch)
        # dynamic-bucket assignment persists its batch×index join until
        # the staging write materializes it (then _stage_write unpins)
        self._assign_persists: list = []

    # ------------------------------------------------------------------
    # branches (Paimon branch surface: an isolated snapshot chain over
    # SHARED data files — create from any ref, read/write/time-travel
    # on the branch, fast-forward main to adopt it, delete when done)
    # ------------------------------------------------------------------
    def create_branch(self, name: str, from_ref: int | str | None = None) -> int:
        """Create branch ``name`` anchored at ``from_ref`` (snapshot id,
        tag name, or None = latest). The branch gets COPIES of the
        snapshot/manifest chain up to the anchor and of the schema
        history — metadata only; data files are shared by root-relative
        path, so branching is O(metadata), independent of table size."""
        import re as _re

        if self.branch_name is not None:
            raise ValueError(f"{self.name}: create branches from the main table")
        if not _re.fullmatch(r"[A-Za-z0-9_.-]+", name):
            raise ValueError(f"invalid branch name {name!r}")
        bp = TablePaths(self.warehouse, self.db, self.name, branch=name)
        if os.path.exists(bp.branch_meta_path()):
            raise ValueError(f"{self.name}: branch {name!r} already exists")
        anchor = self.resolve_ref(from_ref) if from_ref is not None else self.latest_snapshot_id()
        if anchor is None or not os.path.exists(self.paths.snapshot_path(anchor)):
            raise ValueError(f"{self.name}: cannot branch from {from_ref!r}")
        for d in ("snapshot", "manifest", "schema"):
            os.makedirs(os.path.join(bp.meta, d), exist_ok=True)
        for v in range(self.schema_version + 1):
            sp = self.paths.schema_path(v)
            if os.path.exists(sp):
                shutil.copyfile(sp, bp.schema_path(v))
        earliest = self.paths.read_pointer("EARLIEST") or 1
        for sid in range(earliest, anchor + 1):
            sp = self.paths.snapshot_path(sid)
            if os.path.exists(sp):
                shutil.copyfile(sp, bp.snapshot_path(sid))
                shutil.copyfile(self.paths.manifest_path(sid), bp.manifest_path(sid))
        for ptr, val in (("EARLIEST", earliest), ("LATEST", anchor)):
            with open(bp.pointer_path(ptr), "w") as f:
                f.write(str(val))
        atomic_write_json(
            bp.branch_meta_path(),
            {"branch": name, "created_from_snapshot": anchor,
             "creation_time_ms": now_millis()},
        )
        return anchor

    def use_branch(self, name: str) -> "Table":
        """A Table handle whose metadata chain is branch ``name``."""
        bp = TablePaths(self.warehouse, self.db, self.name, branch=name)
        if not os.path.exists(bp.branch_meta_path()):
            raise KeyError(f"{self.name}: no branch {name!r}")
        return Table(self.warehouse, self.db, self.name, branch=name)

    def branches(self) -> dict[str, dict]:
        out = {}
        for p in glob.glob(os.path.join(self.paths.branch_dir(), "branch-*", "BRANCH")):
            doc = read_json(p)
            out[doc["branch"]] = doc
        return out

    def delete_branch(self, name: str) -> None:
        """Drop the branch's metadata. Data files only its commits
        created become unreferenced — remove_orphan_files (which scans
        every branch chain) sweeps them on its next age-gated pass."""
        bp = TablePaths(self.warehouse, self.db, self.name, branch=name)
        if os.path.exists(bp.meta):
            shutil.rmtree(bp.meta)

    def fast_forward(self, name: str) -> int:
        """Adopt branch ``name`` into main (Paimon fast_forward): main
        rolls back to the branch's anchor (branch-referenced data files
        protected by the cross-chain reference guard), then the
        branch's post-anchor snapshots/manifests copy into the main
        chain and LATEST advances. The branch remains and can keep
        diverging or be deleted."""
        if self.branch_name is not None:
            raise ValueError(f"{self.name}: fast_forward applies to the main table")
        bp = TablePaths(self.warehouse, self.db, self.name, branch=name)
        if not os.path.exists(bp.branch_meta_path()):
            raise KeyError(f"{self.name}: no branch {name!r}")
        anchor = read_json(bp.branch_meta_path())["created_from_snapshot"]
        if not os.path.exists(self.paths.snapshot_path(anchor)):
            raise ValueError(
                f"{self.name}: branch {name!r} anchor snapshot {anchor} no longer "
                "exists on main (expired) — cannot fast-forward"
            )
        bt = self.use_branch(name)
        b_latest = bt.latest_snapshot_id() or anchor
        self.rollback_to(anchor)
        # Branch writes intentionally skip the main stream/ append-log
        # mirror, and the snapshot/manifest copies below bypass
        # _publish — so the adopted APPENDs must be mirrored HERE or
        # stream_table_files subscribers (including fresh ones
        # replaying from genesis) silently never see the adopted rows,
        # breaking the mirror invariant rollback_to documents (every
        # main-chain APPEND is mirrored). Diff each adopted APPEND
        # manifest against its predecessor and hard-link the new files
        # with the snapshot-prefixed names _publish uses (ADVICE r13
        # #4).
        def _files_at(sid: int) -> set[str] | None:
            # None = manifest chain unreadable at sid (expired on the
            # branch) — mirror linking for the affected diff is skipped
            # rather than crashing the adoption (copy-only fallback,
            # the pre-round-14 behavior)
            try:
                return {e["file_path"] for e in bt.manifest(sid)}
            except (OSError, ValueError, KeyError):
                return None

        prev_files = _files_at(anchor)
        for sid in range(anchor + 1, b_latest + 1):
            sp = bt.paths.snapshot_path(sid)
            if not os.path.exists(sp):
                continue
            shutil.copyfile(sp, self.paths.snapshot_path(sid))
            shutil.copyfile(bt.paths.manifest_path(sid), self.paths.manifest_path(sid))
            cur_files = _files_at(sid)
            if (
                cur_files is not None
                and prev_files is not None
                and read_json(sp).get("commit_kind") == "APPEND"
            ):
                for rel in sorted(cur_files - prev_files):
                    self._mirror_link(sid, rel)
            prev_files = cur_files
        with open(self.paths.pointer_path("LATEST"), "w") as f:
            f.write(str(b_latest))
        getattr(self, "_manifest_cache", {}).clear()
        self._ids_cache = None
        return b_latest

    def _mirror_link(self, sid: int, rel: str) -> None:
        """Hard-link (or copy) data file ``rel`` into the stream/
        append-log mirror under the snapshot-prefixed name the mirror
        contract is keyed by (rollback_to unlinks by the same format).
        The ONE writer of that contract — used by _publish for live
        APPENDs and by fast_forward for adopted branch APPENDs."""
        sdir = os.path.join(self.paths.root, "stream")
        os.makedirs(sdir, exist_ok=True)
        dst = os.path.join(sdir, f"snapshot-{sid:06d}__{os.path.basename(rel)}")
        if not os.path.exists(dst):
            src = os.path.join(self.paths.root, rel)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)

    def _external_referenced_files(self) -> set[str]:
        """Data files referenced by OTHER snapshot chains of this table
        (every branch, from main's view; main plus sibling branches,
        from a branch's view). Unioned into every 'safe to delete this
        file?' decision — rollback, snapshot expiry, orphan removal —
        so no chain can delete data another chain still reads."""
        refs: set[str] = set()
        chains = [
            b for b in self.branches() if b != self.branch_name
        ]
        others = [self.use_branch(b) for b in chains]
        if self.branch_name is not None:
            others.append(Table(self.warehouse, self.db, self.name))
        for t in others:
            for s in t.snapshots():
                refs |= {e["file_path"] for e in t.manifest(s["id"])}
        return refs

    # ------------------------------------------------------------------
    # schema / options
    # ------------------------------------------------------------------
    @property
    def schema_version(self) -> int:
        versions = [
            int(os.path.basename(p).split("-")[1])
            for p in glob.glob(os.path.join(self.paths.schema_dir(), "schema-*"))
        ]
        return max(versions) if versions else -1

    def schema_doc(self, version: int | None = None) -> dict:
        v = self.schema_version if version is None else version
        return read_json(self.paths.schema_path(v))

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(self.schema_doc()["schema"])

    @property
    def options(self) -> dict:
        return self.schema_doc()["options"]

    @property
    def primary_key(self) -> list[str]:
        return self.options.get("primary-key", [])

    @property
    def num_buckets(self) -> int:
        return int(self.options.get("bucket", "1"))

    @property
    def data_format(self) -> str:
        """'file.format' option (tutorial/guide.md:30): the DATA file
        format — 'parquet' (default) or 'orc', both written/read by
        Spark's native sources. Metadata artifacts (manifests,
        changelog, dynamic-bucket index) stay parquet regardless — they
        are engine-internal, not user data. ORC trade documented at
        _stage_write: pyarrow's ORC reader exposes row counts but not
        per-column min/max, so ORC tables skip manifest stats pruning
        (partition pruning still applies); immutable post-create."""
        return self.options.get("file.format", "parquet")

    @property
    def is_dynamic_bucket(self) -> bool:
        """'bucket' = '-1' (Paimon dynamic bucket mode): rows are routed
        by a persisted key→bucket index instead of a fixed hash modulus;
        new keys are assigned by deterministic per-task bucket filling
        ('dynamic-bucket.target-row-num' keys per bucket,
        'dynamic-bucket.assigner-parallelism' concurrent assigners)."""
        return self.num_buckets == -1

    @property
    def bucket_key(self) -> list[str]:
        bk = self.options.get("bucket-key")
        if bk:
            return bk.split(",") if isinstance(bk, str) else list(bk)
        return self.primary_key  # PK tables bucket by key by default

    @property
    def partition_keys(self) -> list[str]:
        """'partition-by' option → Hive-style partition dirs above the
        bucket dirs (Paimon's PARTITIONED BY). Partition columns STAY in
        the data files, so every file's footer stats carry min=max for
        them and the manifest pruner gets partition pruning for free —
        the dominant scan reducer at 100 TB."""
        pk = self.options.get("partition-by")
        if not pk:
            return []
        return pk.split(",") if isinstance(pk, str) else list(pk)

    # ------------------------------------------------------------------
    # snapshots
    # ------------------------------------------------------------------
    def latest_snapshot_id(self) -> int | None:
        return self.paths.read_pointer("LATEST")

    def snapshot(self, snapshot_id: int) -> dict:
        return read_json(self.paths.snapshot_path(snapshot_id))

    def snapshots(self) -> list[dict]:
        earliest, latest = self.paths.read_pointer("EARLIEST"), self.latest_snapshot_id()
        if latest is None:
            return []
        return [
            self.snapshot(i)
            for i in range(earliest or 1, latest + 1)
            if os.path.exists(self.paths.snapshot_path(i))
        ]

    def manifest(self, snapshot_id: int | None = None) -> list[dict]:
        """Live-file entries at a snapshot.

        Storage is INCREMENTAL (Paimon/Iceberg manifest-delta shape):
        APPEND commits write ``{"base_snapshot": N, "added": [...],
        "removed": [...]}`` — O(commit), not O(table) — while
        OVERWRITE/COMPACT commits and every FULL_MANIFEST_EVERY-th
        snapshot write the full ``{"files": [...]}`` image, bounding
        every reconstruction to a short delta chain. At 100 TB (~10⁶
        live files) a full manifest is ~100 MB of driver JSON per
        commit; a streaming pipeline committing every 20 s would spend
        more time serializing manifests than writing data without
        this."""
        sid = self.latest_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            return []
        return self._entries_at(sid)

    def snapshot_identity(self, snapshot_id: int | None = None) -> tuple | None:
        """What a cache of state derived from a snapshot must key on:
        (id, timestamp_ms, schema_id). The bare id is not enough —
        ``rollback_to`` deletes snapshots and later commits reuse
        their ids, from this handle or any other — but a reused id
        never carries the same commit time. None when there is no such
        snapshot (empty table, or the id was rolled back / expired)."""
        sid = self.latest_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            return None
        try:
            s = self.snapshot(sid)
        except FileNotFoundError:
            return None
        return sid, s["timestamp_ms"], s.get("schema_id")

    def _entries_at(self, sid: int) -> list[dict]:
        cache = getattr(self, "_manifest_cache", None)
        if cache is None:
            cache = self._manifest_cache = {}
        key = self.snapshot_identity(sid)
        hit = cache.get(sid)
        # an entry cached before its snapshot expired stays that
        # snapshot's true file list: commits only take ids above LATEST,
        # so an id below EARLIEST is never reused
        if hit is not None and (
            hit[0] == key
            or (key is None and sid < (self.paths.read_pointer("EARLIEST") or 0))
        ):
            return list(hit[1])
        doc = read_json(self.paths.manifest_path(sid))
        if "files" in doc:
            entries = list(doc["files"])
        else:
            base = doc["base_snapshot"]
            entries = self._entries_at(base) if base is not None else []
            removed = set(doc.get("removed", ()))
            if removed:
                entries = [e for e in entries if e["file_path"] not in removed]
            entries += list(doc["added"])
        if key is not None:
            cache.pop(sid, None)
            while len(cache) >= 16:  # bound driver memory on long histories
                cache.pop(next(iter(cache)))
            cache[sid] = (key, entries)
        return list(entries)

    def _manifest_chain(self, sid: int) -> set[int]:
        """Snapshot ids this manifest's delta chain depends on."""
        out: set[int] = set()
        doc = read_json(self.paths.manifest_path(sid))
        while "files" not in doc:
            base = doc["base_snapshot"]
            if base is None:
                break
            out.add(base)
            doc = read_json(self.paths.manifest_path(base))
        return out

    # ------------------------------------------------------------------
    # tags (Paimon tag surface: named immutable references to snapshots;
    # tagged snapshots are protected from expiry)
    # ------------------------------------------------------------------
    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin a snapshot under a human name (release/backup points).
        Defaults to LATEST. Idempotent re-create of an identical tag is
        a no-op; retargeting an existing tag is an error (tags are
        immutable, like Paimon's)."""
        sid = self.latest_snapshot_id() if snapshot_id is None else snapshot_id
        assert sid is not None, f"{self.name}: no snapshot to tag"
        assert os.path.exists(self.paths.snapshot_path(sid)), f"no snapshot-{sid}"
        existing = self.tags().get(name)
        if existing is not None:
            assert existing["snapshot_id"] == sid, (
                f"tag {name} already points at snapshot {existing['snapshot_id']}"
            )
            return sid
        atomic_write_json(
            self.paths.tag_path(name),
            {"tag_name": name, "snapshot_id": sid, "creation_time_ms": now_millis()},
        )
        return sid

    def delete_tag(self, name: str) -> None:
        p = self.paths.tag_path(name)
        if os.path.exists(p):
            os.unlink(p)

    def tags(self) -> dict[str, dict]:
        out = {}
        for p in glob.glob(os.path.join(self.paths.tag_dir(), "tag-*")):
            doc = read_json(p)
            out[doc["tag_name"]] = doc
        return out

    # ------------------------------------------------------------------
    # consumers (Paimon consumer-id surface: a streaming subscriber
    # registers its read progress table-side, and expire_snapshots will
    # not expire its unconsumed window — guide.md:181-183's 20 s
    # retention would otherwise outrun any briefly-stalled reader)
    # ------------------------------------------------------------------
    def register_consumer(self, consumer_id: str, next_snapshot_id: int | None = None) -> int:
        """Record that ``consumer_id`` has consumed everything BEFORE
        ``next_snapshot_id`` (Paimon's consumer file stores the next
        snapshot the subscriber will read). Re-registering advances the
        progress — unlike tags, consumers are mutable bookmarks. The
        default is the current LATEST + 1, i.e. 'caught up; protect
        only what comes next'."""
        if next_snapshot_id is None:
            next_snapshot_id = (self.latest_snapshot_id() or 0) + 1
        os.makedirs(self.paths.consumer_dir(), exist_ok=True)
        atomic_write_json(
            self.paths.consumer_path(consumer_id),
            {
                "consumer_id": consumer_id,
                "next_snapshot_id": next_snapshot_id,
                "update_time_ms": now_millis(),
            },
        )
        return next_snapshot_id

    def drop_consumer(self, consumer_id: str) -> None:
        p = self.paths.consumer_path(consumer_id)
        if os.path.exists(p):
            os.unlink(p)

    def consumers(self) -> dict[str, dict]:
        out = {}
        for p in glob.glob(os.path.join(self.paths.consumer_dir(), "consumer-*")):
            doc = read_json(p)
            out[doc["consumer_id"]] = doc
        return out

    def resolve_ref(self, ref: int | str | None) -> int | None:
        """Snapshot id (int / digit-string) or tag name → snapshot id."""
        if ref is None:
            return None
        if isinstance(ref, int):
            return ref
        if ref.isdigit():
            return int(ref)
        tag = self.tags().get(ref)
        assert tag is not None, f"{self.name}: no tag '{ref}'"
        return tag["snapshot_id"]

    @staticmethod
    def _ts_to_millis(ts: int | str) -> int:
        """Epoch millis / digit-string / ISO wall-clock (read as UTC) →
        epoch millis. A MALFORMED timestamp raises ValueError here —
        deliberately outside any snapshot-lookup try/except, so a typo'd
        timestamp can never be mistaken for the legitimate
        'no snapshot at or before t' condition (round-6 ADVICE fix)."""
        if isinstance(ts, str) and not ts.isdigit():
            import datetime

            return int(
                datetime.datetime.fromisoformat(ts)
                .replace(tzinfo=datetime.timezone.utc)
                .timestamp()
                * 1000
            )
        return int(ts)

    def snapshot_as_of_timestamp(self, ts: int | str) -> int:
        """`TIMESTAMP AS OF` resolution (Paimon scan.timestamp-millis):
        the LAST snapshot committed at or before ``ts`` — epoch millis,
        a digit string of millis, or an ISO 'YYYY-MM-DD HH:MM:SS[.fff]'
        wall-clock read as UTC (snapshots are stamped with UTC epoch
        millis)."""
        ms = self._ts_to_millis(ts)
        cands = [s["id"] for s in self.snapshots() if s["timestamp_ms"] <= ms]
        if not cands:
            # a real error, not an assert: callers catch it (the
            # from-genesis fallback) and -O must not change behavior
            raise ValueError(f"{self.name}: no snapshot at or before {ts}")
        return max(cands)

    def rollback_to(self, ref: int | str) -> int:
        """Roll the table back to an earlier snapshot (Paimon's
        rollback action): snapshots after the target are deleted, along
        with data files only they reference, and LATEST resets. The
        target must still exist (not expired)."""
        target = self.resolve_ref(ref)
        assert target is not None and os.path.exists(self.paths.snapshot_path(target)), (
            f"{self.name}: snapshot {ref} does not exist"
        )
        latest = self.latest_snapshot_id() or 0
        if target >= latest:
            return target
        referenced: set[str] = set()
        for s in self.snapshots():
            if s["id"] <= target:
                referenced |= {e["file_path"] for e in self.manifest(s["id"])}
        # no chain may delete data another chain still reads
        referenced |= self._external_referenced_files()
        # the stream/ append-log mirror hard-links every APPENDed file;
        # rolled-back appends must leave it too, or stream_table_files
        # subscribers (fresh ones included) replay rows from commits
        # that no longer exist. Diff each rolled-back APPEND manifest
        # against its predecessor BEFORE the deletion loop below
        # destroys the predecessor manifests.
        rolled_back_appends: set[tuple[int, str]] = set()
        for sid in range(target + 1, latest + 1):
            if not os.path.exists(self.paths.snapshot_path(sid)):
                continue
            if self.snapshot(sid).get("commit_kind") != "APPEND":
                continue
            prev = (
                {e["file_path"] for e in self.manifest(sid - 1)}
                if os.path.exists(self.paths.manifest_path(sid - 1))
                else set()
            )
            rolled_back_appends |= {
                (sid, fp)
                for fp in {e["file_path"] for e in self.manifest(sid)} - prev
            }
        sdir = os.path.join(self.paths.root, "stream")
        for sid, fp in rolled_back_appends:
            base = os.path.basename(fp)
            for name in (f"snapshot-{sid:06d}__{base}", base):
                sp = os.path.join(sdir, name)
                if os.path.exists(sp):
                    os.unlink(sp)
        # materialize every doomed snapshot's file list BEFORE deleting
        # any manifest: a delta manifest reconstructs through a base
        # that may be earlier in the deletion order
        doomed_entries = {
            sid: self.manifest(sid)
            for sid in range(target + 1, latest + 1)
            if os.path.exists(self.paths.snapshot_path(sid))
        }
        for sid, entries in doomed_entries.items():
            for e in entries:
                if e["file_path"] not in referenced:
                    _unlink_with_sidecar(os.path.join(self.paths.root, e["file_path"]))
            os.unlink(self.paths.manifest_path(sid))
            os.unlink(self.paths.snapshot_path(sid))
        # rolled-back snapshot ids WILL be reused by later commits.
        # The caches check snapshot identity, so entries for them can
        # never match again; dropping them here just frees the memory
        getattr(self, "_manifest_cache", {}).clear()
        self._ids_cache = None
        # tags pinned to now-deleted snapshots would dangle — drop them
        # (Paimon's rollback removes later tags the same way)
        for doc in self.tags().values():
            if doc["snapshot_id"] > target:
                self.delete_tag(doc["tag_name"])
        # changelog rows of rolled-back commits must go with them, or
        # read_changelog/stream_table_changelog replays events for
        # commits that no longer exist (changelog dirs key on SEQUENCE)
        target_seq = self.snapshot(target)["sequence_number"]
        for d in glob.glob(os.path.join(self.paths.root, "changelog", "snapshot-*")):
            if int(os.path.basename(d).split("-")[1]) > target_seq:
                shutil.rmtree(d, ignore_errors=True)
        self.paths.write_pointer("LATEST", target)
        return target

    def _committed_identifiers(self) -> set:
        """(commit_kind, identifier) pairs of already-committed
        micro-batches (exactly-once replay guard). Keyed by KIND as
        well: a replay is a retry of the SAME operation, so an
        OVERWRITE (e.g. an index rebuild re-stamping the full consumed
        range) must never be skipped because an earlier APPEND (a
        write-through that stamped the same range) happened to share
        the identifier — that collision silently dropped mid-stream
        index rebuilds (round 12). Cached per LATEST snapshot identity:
        a long-running pipeline calls this every commit, and re-parsing
        every snapshot JSON is O(history) per batch — O(N²) over a
        stream's life. The bare LATEST id would not do: after another
        handle's rollback_to plus new commits reuse it, the cache
        would still hold the rolled-back identifiers and skip their
        replays."""
        latest = self.snapshot_identity()
        cached = getattr(self, "_ids_cache", None)
        if cached is not None and latest is not None and cached[0] == latest:
            return cached[1]
        ids = {
            (s.get("commit_kind"), s.get("commit_identifier"))
            for s in self.snapshots()
            if s.get("commit_identifier") is not None
        }
        self._ids_cache = (latest, ids)
        return ids

    # ------------------------------------------------------------------
    # write path
    # ------------------------------------------------------------------
    def _check_bucket_rescale(self) -> None:
        """Refuse incremental writes while the table holds files hashed
        under a DIFFERENT bucket count than the current 'bucket' option
        (i.e. after ALTER TABLE SET ('bucket'='N') but before the
        rescaling rewrite). Mixing moduli would route a key's new rows
        to a bucket its old rows aren't in, breaking bucket-pruned
        pre-image lookups and co-located reads. Paimon has the same
        contract: rescale via INSERT OVERWRITE (here: overwrite() or
        compact()) before writing again."""
        cur = self.num_buckets
        stale = {e.get("total_buckets", cur) for e in self.manifest()} - {cur}
        if stale:
            raise ValueError(
                f"{self.name}: bucket count changed to {cur} but live files "
                f"were written under bucket={sorted(stale)}; rescale with "
                "compact() or INSERT OVERWRITE before further writes"
            )

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        if "__bucket" in df.columns:
            return df  # caller pre-assigned (dynamic re-stage paths)
        if self.is_dynamic_bucket:
            return self._assign_dynamic_buckets(df)
        key = self.bucket_key
        if not key or self.num_buckets <= 1:
            return df.withColumn("__bucket", F.lit(0))
        return df.withColumn(
            "__bucket", F.pmod(F.xxhash64(*key), F.lit(self.num_buckets)).cast("int")
        )

    # ------------------------------------------------------------------
    # dynamic bucket mode ('bucket' = '-1')
    # ------------------------------------------------------------------
    def _index_dir(self) -> str:
        return os.path.join(self.paths.root, "index")

    def _read_index(self, spark: SparkSession):
        """The key→bucket index: union of per-commit delta files under
        index/ (executor-side parquet scan — the index is DATA, never
        driver state). Rows: (__khash long, __bucket int)."""
        files = sorted(glob.glob(os.path.join(self._index_dir(), "*.parquet")))
        schema = "__khash long, __bucket int"
        if not files:
            return spark.createDataFrame([], schema)
        return spark.read.schema(StructType.fromDDL(schema)).parquet(*files)

    def _assign_dynamic_buckets(self, df: DataFrame) -> DataFrame:
        """Route each row through the key index; assign NEW keys by
        Paimon's HashBucketAssigner scheme — assigner task
        t = hash(key) % A owns buckets {t, t+A, t+2A, …} and fills its
        current bucket to 'dynamic-bucket.target-row-num' keys before
        opening the next, so assignment is deterministic AND parallel
        (no global sequence — the classic scale killer this scheme
        exists to avoid).

        New assignments are appended to index/ as one parquet delta per
        call, EAGERLY (before the data commit). Paimon commits index
        files inside the snapshot; here an orphaned assignment (its
        commit lost a conflict race) is harmless by construction:
        routing correctness derives from the index itself — whatever it
        says, a key's rows all land where it points and the pre-image
        pruner looks there — so a stale entry costs only bucket-capacity
        skew, never wrong results. Index files grow O(keys); GC via a
        full index rewrite is future work (Paimon compacts index files
        during compaction)."""
        spark = df.sparkSession
        pk = self.primary_key
        a_par = int(self.options.get("dynamic-bucket.assigner-parallelism", "4"))
        target = int(self.options.get("dynamic-bucket.target-row-num", "2000000"))
        # canonical route = MIN bucket per key: the raw index can hold
        # two buckets for one key (two racing writers both rebase-commit
        # an assignment for it) — new rows must route to ONE of them
        # deterministically, while the pre-image pruner keeps using the
        # raw multi-bucket view so the other bucket's rows stay visible
        idx = self._read_index(spark).groupBy("__khash").agg(
            F.min("__bucket").alias("__bucket")
        )
        with_hash = df.withColumn("__khash", F.xxhash64(*pk))
        # the batch×index join is the dominant cost and would otherwise
        # run 3× per write (isEmpty probe, index-delta write, staged
        # data write); persist and let _stage_write unpersist after the
        # staging action materializes
        joined = with_hash.join(idx, "__khash", "left").persist()
        self._assign_persists.append(joined)
        known = joined.filter(F.col("__bucket").isNotNull())
        new = joined.filter(F.col("__bucket").isNull()).drop("__bucket")
        if new.isEmpty():
            return known.drop("__khash")
        # per-task fill levels from the index (A scalars to the driver —
        # bounded by assigner parallelism, never by key count)
        fill = {
            int(r.t): int(r.n)
            for r in idx.groupBy(F.pmod("__bucket", F.lit(a_par)).alias("t"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        fill_df = spark.createDataFrame(
            [(t, fill.get(t, 0)) for t in range(a_par)], "__task int, __fill long"
        )
        w = Window.partitionBy("__task").orderBy("__khash", *pk)
        assigned_new = (
            new.withColumn("__task", F.pmod(F.col("__khash"), F.lit(a_par)).cast("int"))
            .join(F.broadcast(fill_df), "__task")
            .withColumn("__slot", F.col("__fill") + F.row_number().over(w) - 1)
            .withColumn(
                "__bucket",
                (F.col("__task") + a_par * F.floor(F.col("__slot") / target)).cast("int"),
            )
            .drop("__slot", "__fill", "__task")
        )
        os.makedirs(self._index_dir(), exist_ok=True)
        delta = os.path.join(
            self._index_dir(), f".staging-{now_millis()}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        )
        assigned_new.select("__khash", "__bucket").write.mode("overwrite").parquet(delta)
        for f in glob.glob(os.path.join(delta, "*.parquet")):
            shutil.move(f, os.path.join(self._index_dir(), f"index-{uuid.uuid4().hex}.parquet"))
        shutil.rmtree(delta, ignore_errors=True)
        return known.unionByName(assigned_new).drop("__khash")

    def _compact_index(self, spark: SparkSession) -> None:
        """Index GC, run after a successful full compaction (Paimon
        compacts its index files the same way): fold every index delta
        into ONE file, dropping entries whose key appears in NO live
        data file (deleted keys would otherwise hold bucket capacity
        forever). Retention keys on RAW file contents — tombstones
        included — not the merged image (round-6 ADVICE fix): a racing
        writer that read the old index may commit rows (even a delete
        whose merged image is 'key absent') for a dropped key into the
        OLD bucket; keying retention on raw presence means an entry
        survives as long as any live file holds rows for its key, so
        dynamic-mode pre-image pruning (which trusts the index alone)
        can never miss a bucket that still physically holds the key.
        Only the delta files READ are deleted, so an assignment
        published concurrently by a racing writer survives the sweep
        untouched. A key whose entry is dropped and later re-upserted
        simply gets a fresh assignment — routing correctness always
        derives from whatever the index currently says."""
        files = sorted(glob.glob(os.path.join(self._index_dir(), "*.parquet")))
        if not files:
            return
        idx = spark.read.schema(StructType.fromDDL("__khash long, __bucket int")).parquet(*files)
        raw = self._raw(spark)  # empty DF (never None) when no live files
        live = raw.select(F.xxhash64(*self.primary_key).alias("__khash")).distinct()
        # The key→bucket index at <root>/index is shared by EVERY
        # snapshot chain of the table, but self._raw is only the
        # calling chain's files (ADVICE r13 #3): compact() on a branch
        # must not drop entries for keys live only on main (or vice
        # versa) — a later re-upsert of such a key could get a fresh
        # bucket while its rows sit in the old one, and index-trusting
        # pre-image pruning would then merge against the wrong bucket.
        # Union the other chains' live keys, the index analogue of the
        # _external_referenced_files data-file guard.
        # Each chain hashes its OWN primary-key column names (a rename
        # after branching diverges the schema histories), and no
        # distinct is needed on this probe side — left_semi is
        # duplicate-insensitive, so the extra shuffle-aggregates would
        # buy nothing.
        others = [
            self.use_branch(b) for b in self.branches() if b != self.branch_name
        ]
        if self.branch_name is not None:
            others.append(Table(self.warehouse, self.db, self.name))
        for other in others:
            live = live.unionByName(
                other._raw(spark).select(
                    F.xxhash64(*other.primary_key).alias("__khash")
                )
            )
        # distinct PAIRS, never one-per-key: a key racing writers
        # left in two buckets keeps both entries so pre-image
        # pruning still sees every bucket its rows can live in
        compacted = idx.join(live, "__khash", "left_semi").distinct()
        staging = os.path.join(
            self._index_dir(), f".staging-{now_millis()}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        )
        # one file locally; a cluster deployment would keep this
        # partitioned (Paimon: one index file per bucket) — the fold is
        # executor-side either way
        compacted.coalesce(1).write.mode("overwrite").parquet(staging)
        moved = []
        for f in glob.glob(os.path.join(staging, "*.parquet")):
            dest = os.path.join(self._index_dir(), f"index-compact-{uuid.uuid4().hex}.parquet")
            shutil.move(f, dest)
            moved.append(dest)
        shutil.rmtree(staging, ignore_errors=True)
        for f in files:
            if f not in moved:
                os.unlink(f)

    def _stage_local(self, rows: list) -> list[dict] | object:
        """Driver-local staging fast path (r17 optimization, guide §5:
        the driver should do almost no data work — and these rows ARE
        driver-resident already, so shipping them through
        createDataFrame + a Spark write job buys nothing and costs a
        full job round-trip, ~0.4 s per commit locally). Used by
        append_rows/overwrite_rows for the tiny driver-built relations
        (IVF centroids, PQ codebooks, index params — always small by
        construction). Applies only when the table layout needs no
        executor-side work: unpartitioned, single fixed bucket,
        parquet, no sort-by / bloom-index / compression option, not
        PK, and every column type has an exact pyarrow twin.
        Everything else — including the footer-stats manifest entry,
        which goes through the same pyarrow metadata read as the
        Spark-written path — is identical. Returns manifest entries,
        or _NOT_LOCAL when the fast path does not apply (caller falls
        back to the createDataFrame + _stage_write path)."""
        if (
            self.primary_key
            or self.partition_keys
            or self.num_buckets != 1
            or self.data_format != "parquet"
            or self.options.get("sort-by")
            or self.options.get("file.compression")
            or _bloom_index_columns(self.options)
        ):
            return _NOT_LOCAL
        import pyarrow as pa
        import pyarrow.parquet as pq

        fields = list(self.schema.fields)
        pa_types = [_pa_type(f.dataType) for f in fields]
        if any(t is None for t in pa_types):
            return _NOT_LOCAL
        if not rows:
            return []
        cols = [
            pa.array([r[i] for r in rows], type=t) for i, t in enumerate(pa_types)
        ]
        table = pa.Table.from_arrays(cols, names=[f.name for f in fields])
        dest_dir = os.path.join(self.paths.root, "bucket-0")
        os.makedirs(dest_dir, exist_ok=True)
        dest = os.path.join(dest_dir, new_file_name("parquet"))
        pq.write_table(table, dest, compression="snappy")
        meta = pq.ParquetFile(dest).metadata
        return [
            {
                "file_path": os.path.relpath(dest, self.paths.root),
                "bucket": 0,
                "total_buckets": 1,
                "partition": {},
                "record_count": meta.num_rows,
                "file_size_in_bytes": os.path.getsize(dest),
                "level": 0,
                "stats": _footer_stats(meta),
                "creation_time": now_millis(),
            }
        ]

    def added_record_count(self, sid: int | None) -> int:
        """Rows the commit ``sid`` added: the record count of the files
        it wrote, for every commit kind (Paimon's deltaRecordCount) — a
        partial OVERWRITE counts only its rewritten partitions, a
        COMPACT its rewritten files. Read from snapshot metadata alone
        (no Spark job — r17 optimization: build/refresh paths used to
        pay a persist + count() pass for a number the manifest already
        knows). None (= empty/no-op commit) → 0. Snapshots written
        before the ``added_record_count`` stamp fall back to totals: a
        non-APPEND's total_record_count, an APPEND's delta vs the
        previous snapshot."""
        if sid is None:
            return 0
        snap = self.snapshot(sid)
        if "added_record_count" in snap:
            return int(snap["added_record_count"])
        # pre-r18 snapshots: derive from the predecessor's totals
        if snap.get("commit_kind") != "APPEND" or sid == 1:
            return int(snap["total_record_count"])
        prev = self.snapshot(sid - 1)
        return int(snap["total_record_count"]) - int(prev["total_record_count"])

    def append_rows(
        self, spark: SparkSession, rows: list, commit_identifier: int | None = None
    ) -> int | None:
        """APPEND commit of driver-resident rows (tuples in schema
        order) without a Spark job when the layout allows (see
        _stage_local); falls back to createDataFrame + append."""
        if commit_identifier is not None and (
            ("APPEND", commit_identifier) in self._committed_identifiers()
        ):
            return None
        entries = self._stage_local(rows)
        if entries is _NOT_LOCAL:
            return self.append(
                spark.createDataFrame(rows, self.schema),
                commit_identifier=commit_identifier,
            )
        if not entries:
            return None
        self._check_bucket_rescale()
        return self._commit(
            entries, "APPEND", commit_identifier=commit_identifier,
            expected_latest=self.latest_snapshot_id(),
        )

    def overwrite_rows(
        self, spark: SparkSession, rows: list, commit_identifier: int | None = None
    ) -> int | None:
        """OVERWRITE commit of driver-resident rows (tuples in schema
        order) without a Spark job when the layout allows (see
        _stage_local); falls back to createDataFrame + overwrite."""
        if commit_identifier is not None and (
            ("OVERWRITE", commit_identifier) in self._committed_identifiers()
        ):
            return None
        entries = self._stage_local(rows)
        if entries is _NOT_LOCAL:
            return self.overwrite(
                spark.createDataFrame(rows, self.schema),
                commit_identifier=commit_identifier,
            )
        expected = self.latest_snapshot_id()
        old = {e["file_path"] for e in self.manifest()} if expected else set()
        return self._commit(
            entries, "OVERWRITE", replaced=old,
            commit_identifier=commit_identifier, expected_latest=expected,
        )

    def _stage_write(
        self, df: DataFrame, sort_by_override: str | None = None
    ) -> tuple[str, list[dict]]:
        """Executors write parquet partitioned by (partitions, bucket)
        into a staging dir; driver moves files into
        [<p>=<v>/...]bucket-N/ and reads footers for manifest stats
        (metadata-only I/O on the driver).

        Partition dirs are staged from ``__pt_*`` COPIES of the
        partition columns so the originals stay in the data files
        (partitionBy drops its columns from file contents)."""
        staging = os.path.join(
            self.paths.root, f".staging-{now_millis()}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        )
        pcols = self.partition_keys
        staged = self._with_bucket(df)
        for c in pcols:
            staged = staged.withColumn(f"__pt_{c}", F.col(c).cast("string"))
        part_by = [f"__pt_{c}" for c in pcols] + ["__bucket"]
        # r17 optimization (guide §2.2): size the staging exchange to the
        # DATA instead of the session-wide shuffle default — a commit of
        # a few MB used to fan into 32 near-empty write tasks (one Spark
        # task per shuffle partition, scheduled whether or not it holds
        # rows). n = est_bytes / 128 MB, capped at the session default so
        # corpus-sized writes keep their full fan-out; rows still hash on
        # (partition, bucket), so which file a row lands in is unchanged
        # for every n. Unknown/absurd estimates fall back to the default.
        n_parts = _staging_partitions(df, staged.sparkSession)
        writer = (
            staged.repartition(n_parts, *part_by)
            if n_parts
            else staged.repartition(*part_by)
        )
        # 'sort-by': cluster rows within each file so footer min/max
        # ranges are tight and disjoint → manifest + row-group pruning
        # skip far more files on those columns. Two spellings:
        #   'sort-by' = 'a,b'          lexicographic (prunes on the prefix)
        #   'sort-by' = 'zorder(a,b)'  Z-order curve (prunes on EVERY
        #                              listed column — Paimon's
        #                              sort-compact zorder strategy)
        sort_by = sort_by_override if sort_by_override is not None else self.options.get("sort-by")
        if isinstance(sort_by, str) and sort_by.strip().lower().startswith("zorder("):
            zcols = [c.strip() for c in sort_by.strip()[7:-1].split(",")]
            writer = (
                writer.withColumn("__zorder", _zorder_key(staged, zcols))
                .sortWithinPartitions(*part_by, "__zorder")
                .drop("__zorder")  # projection after sort: order preserved
            )
        elif sort_by:
            cols = sort_by.split(",") if isinstance(sort_by, str) else list(sort_by)
            writer = writer.sortWithinPartitions(*part_by, *cols)
        fmt = self.data_format
        w = writer.write.partitionBy(*part_by).mode("overwrite").format(fmt)
        codec = self.options.get("file.compression")
        if codec:
            # Paimon 'file.compression' (e.g. zstd/snappy/gzip): passed
            # straight to the format's codec option; Spark validates
            # the name at write time. Data files only — metadata stays
            # on the source defaults.
            w = w.option("compression", codec)
        w.save(staging)
        # staging is materialized: release any pinned assignment joins
        while self._assign_persists:
            self._assign_persists.pop().unpersist()
        import pyarrow.parquet as pq

        entries = []
        for part_dir in sorted(glob.glob(os.path.join(staging, *["__pt_*=*"] * len(pcols), "__bucket=*"))):
            bucket = int(os.path.basename(part_dir).split("=")[1])
            rel = os.path.relpath(part_dir, staging)
            partition = {}
            for seg in rel.split(os.sep)[:-1]:
                k, v = seg.split("=", 1)
                partition[k[len("__pt_"):]] = v
            dest_dir = os.path.join(
                self.paths.root,
                *[f"{k}={v}" for k, v in partition.items()],
                f"bucket-{bucket}",
            )
            os.makedirs(dest_dir, exist_ok=True)
            for fpath in sorted(glob.glob(os.path.join(part_dir, f"*.{fmt}"))):
                if fmt == "orc":
                    # pyarrow's ORC API exposes row counts but not
                    # per-column min/max → ORC entries carry no stats
                    # (prune_entries keeps stats-less files; partition
                    # pruning is unaffected)
                    from pyarrow import orc as _orc

                    num_rows, stats = _orc.ORCFile(fpath).nrows, {}
                else:
                    meta = pq.ParquetFile(fpath).metadata
                    num_rows, stats = meta.num_rows, _footer_stats(meta)
                if num_rows == 0:
                    continue
                dest = os.path.join(dest_dir, new_file_name(fmt))
                shutil.move(fpath, dest)
                entries.append(
                    {
                        "file_path": os.path.relpath(dest, self.paths.root),
                        "bucket": bucket,
                        # the bucket COUNT this file was hashed under —
                        # after ALTER ('bucket'='N') old files keep their
                        # old-modulus assignment, so writers must refuse
                        # until a full rewrite rescales (Paimon's
                        # rescale-bucket contract) and the pre-image
                        # pruner must not hash-prune mixed-modulus sets
                        "total_buckets": self.num_buckets,
                        "partition": partition,
                        "record_count": num_rows,
                        "file_size_in_bytes": os.path.getsize(dest),
                        "level": 0,
                        "stats": stats,
                        "creation_time": now_millis(),
                    }
                )
        shutil.rmtree(staging, ignore_errors=True)
        # bloom-filter file index: sidecars are part of the write (a
        # distributed pass over the just-moved files), so every path
        # that creates data files — append, upsert, compaction,
        # overwrite — indexes them before the commit publishes
        bf_cols = _bloom_index_columns(self.options)
        if bf_cols and entries:
            fpp = float(
                self.options.get("file-index.bloom-filter.fpp", _BFX_DEFAULT_FPP)
            )
            _build_bloom_sidecars(
                df.sparkSession,
                [os.path.join(self.paths.root, e["file_path"]) for e in entries],
                bf_cols,
                fpp,
            )
            for e in entries:
                e["file_index"] = e["file_path"] + _BFX_SUFFIX
        return staging, entries

    def _commit(
        self,
        new_entries: list[dict],
        kind: str,
        replaced: set[str] | None = None,
        commit_identifier: int | None = None,
        sequence_number: int | None = None,
        expected_latest: int | None | object = _UNSET,
        snapshot_extra: dict | None = None,
    ) -> int:
        """Optimistic snapshot publish (the 'Global Committer').

        Concurrency: the per-snapshot manifest is created with a
        create-if-absent primitive (``exclusive_write_json``), so two
        committers racing on the same base snapshot get exactly ONE
        winner — no silent lost update. ``expected_latest`` is the
        LATEST the caller observed before staging; drift between it and
        the pointer at publish time is a conflict. The loser REBASES
        when that is provably safe — a plain APPEND's file set is
        disjoint from every concurrent commit, so its manifest entries
        graft onto the new base unchanged — and raises
        :class:`CommitConflictError` otherwise (PK upserts bake ``__seq``
        into data files; OVERWRITE/COMPACT replace files computed from
        possibly-stale state). Mirrors Paimon's optimistic conflict
        resolution: retry clean appends, abort dirty writers."""
        rebasable = (
            kind == "APPEND"
            and not replaced
            and sequence_number is None
            and not self.primary_key
        )
        # entries this call owns the stamping of (a rebase must restamp
        # them with the new attempt's sequence; entries arriving with
        # their own min_sequence_number keep it forever)
        unstamped = [e for e in new_entries if "min_sequence_number" not in e]
        for e in new_entries:
            # files are forever read with the schema they were written
            # under (rename/drop evolution maps names at read time)
            e.setdefault("schema_id", self.schema_version)
        def _abort(msg: str):
            # the loser's staged data files were never published; drop
            # them so the conflict leaves no orphans to GC
            for e in new_entries:
                _unlink_with_sidecar(os.path.join(self.paths.root, e["file_path"]))
            raise CommitConflictError(f"{self.name}: {msg}")

        for _attempt in range(16):
            latest = self.latest_snapshot_id()
            if (
                expected_latest is not _UNSET
                and latest != expected_latest
                and not rebasable
            ):
                _abort(
                    f"{kind} built against snapshot {expected_latest} "
                    f"but LATEST is now {latest}"
                )
            sid = (latest or 0) + 1
            seq = sequence_number if sequence_number is not None else sid
            for e in unstamped:
                e["min_sequence_number"] = seq
            # APPENDs write an O(commit) manifest delta; commits that
            # replace files (and every K-th snapshot, to bound chain
            # length) write the full O(table) image — they already did
            # O(table) work staging the rewrite
            if kind == "APPEND" and not replaced and latest is not None and sid % FULL_MANIFEST_EVERY != 0:
                prev = self.snapshot(latest)
                doc = {"base_snapshot": latest, "added": new_entries, "removed": []}
                total_files = prev["total_files"] + len(new_entries)
                total_records = prev["total_record_count"] + sum(
                    e["record_count"] for e in new_entries
                )
            else:
                base = [] if latest is None else self.manifest(latest)
                if replaced:
                    base = [e for e in base if e["file_path"] not in replaced]
                files = base + new_entries
                doc = {"files": files}
                total_files = len(files)
                total_records = sum(e["record_count"] for e in files)
            if exclusive_write_json(self.paths.manifest_path(sid), doc):
                break  # this committer owns snapshot `sid`
            if not rebasable:
                _abort(f"lost the snapshot-{sid} publish race ({kind} cannot be rebased)")
            # lost the create race: loop rebases onto the winner's base
        else:
            _abort("APPEND gave up after 16 rebase attempts")
        atomic_write_json(
            self.paths.snapshot_path(sid),
            {
                "id": sid,
                "schema_id": self.schema_version,
                "commit_kind": kind,
                "commit_identifier": commit_identifier,
                "sequence_number": seq,
                "timestamp_ms": now_millis(),
                "added_files": len(new_entries),
                # stamped so added_record_count() never needs the
                # PREDECESSOR snapshot (which aggressive
                # snapshot.num-retained.max/time-retained settings can
                # expire in the same _commit — ADVICE r17 #4)
                "added_record_count": sum(e["record_count"] for e in new_entries),
                "total_files": total_files,
                "total_record_count": total_records,
                **(snapshot_extra or {}),
            },
        )
        os.makedirs(self.paths.snapshot_dir(), exist_ok=True)
        if self.paths.read_pointer("EARLIEST") is None:
            self.paths.write_pointer("EARLIEST", sid)
        # forward-only pointer advance: a rebased loser publishing sid+1
        # must never be clobbered back to sid by the slower winner's
        # pointer write (on an object store this is the CAS the
        # conditional-PUT of the pointer key provides)
        cur = self.paths.read_pointer("LATEST")
        if cur is None or cur < sid:
            self.paths.write_pointer("LATEST", sid)
        if kind == "APPEND" and self.branch_name is None:
            # append-log mirror for streaming file readers (MAIN chain
            # only: a branch's appends must not surface in the main
            # stream mirror — subscribers would replay rows from
            # commits the main chain never published): hard-link each
            # newly APPENDED data file into stream/. COMPACT/OVERWRITE
            # rewrites are never linked, so a file-source subscriber
            # (streaming/pipelines.stream_table_files) sees each row once
            # — the 'streaming read skips compaction snapshots' semantic.
            # The link name carries the COMMITTING snapshot id
            # (snapshot-NNNNNN__<basename>) so streaming scan start
            # modes (Paimon 'scan.mode', round-6 ask #3) can open the
            # stream at a snapshot boundary by file-path filter alone.
            for e in new_entries:
                self._mirror_link(sid, e["file_path"])
        self._maybe_auto_compact()
        self._maybe_auto_expire()
        self._maybe_auto_expire_partitions()
        return sid

    def append(self, df: DataFrame, commit_identifier: int | None = None) -> int | None:
        """Append commit (bucketed). Idempotent on commit_identifier."""
        if commit_identifier is not None and (
            ("APPEND", commit_identifier) in self._committed_identifiers()
        ):
            return None  # replayed micro-batch → no-op (exactly-once)
        if self.primary_key:
            return self.upsert(df, commit_identifier=commit_identifier)
        self._check_bucket_rescale()
        expected = self.latest_snapshot_id()
        _, entries = self._stage_write(df.select(*[f.name for f in self.schema.fields]))
        if not entries:
            return None  # empty append: nothing staged, commit nothing
        return self._commit(
            entries, "APPEND", commit_identifier=commit_identifier, expected_latest=expected
        )

    def overwrite(self, df: DataFrame, commit_identifier: int | None = None) -> int | None:
        """Replace the whole table image in one OVERWRITE commit (used
        e.g. for retry-queue state; INSERT OVERWRITE semantics). PK
        tables stamp the merge metadata (__op/__seq) like any other PK
        write — without it the merge-on-read filter (__op != 'D') sees
        NULLs and drops every row."""
        if commit_identifier is not None and (
            ("OVERWRITE", commit_identifier) in self._committed_identifiers()
        ):
            return None
        expected = self.latest_snapshot_id()
        old = {e["file_path"] for e in self.manifest()} if expected else set()
        out = df.select(*[f.name for f in self.schema.fields])
        if self.primary_key:
            seq = (self.snapshot(expected)["sequence_number"] + 1) if expected else 1
            out = out.withColumn("__op", F.lit("U")).withColumn("__seq", F.lit(seq).cast("long"))
            _, entries = self._stage_write(out)
            return self._commit(
                entries, "OVERWRITE", replaced=old,
                commit_identifier=commit_identifier, sequence_number=seq,
                expected_latest=expected,
            )
        _, entries = self._stage_write(out)
        return self._commit(
            entries, "OVERWRITE", replaced=old,
            commit_identifier=commit_identifier, expected_latest=expected,
        )

    def upsert(self, df: DataFrame, commit_identifier: int | None = None) -> int | None:
        """PK commit: in-batch last-write-wins dedup, then append files
        carrying (__seq, __op); merge happens on read. Optionally emits
        a changelog (changelog-producer=input, tutorial/guide.md:69-74).
        """
        if commit_identifier is not None and (
            ("APPEND", commit_identifier) in self._committed_identifiers()
        ):
            return None
        pk = self.primary_key
        assert pk, f"{self.name} has no primary key"
        self._check_bucket_rescale()
        latest = self.latest_snapshot_id()
        seq = (self.snapshot(latest)["sequence_number"] + 1) if latest else 1

        cols = [f.name for f in self.schema.fields]
        if self.merge_engine != "deduplicate":
            # Paimon 0.5 parity: partial-update/aggregation accept
            # insert/update images only — a caller-supplied __op column
            # (retractions; delete_where's D rows) has no defined merge
            if "__op" in df.columns:
                if (
                    self.merge_engine == "partial-update"
                    and str(self.options.get("partial-update.ignore-delete", "false")).lower()
                    == "true"
                ):
                    # Paimon partial-update.ignore-delete: delete
                    # records in the input stream are silently dropped
                    # instead of rejected (a CDC source interleaving
                    # retractions with partial columns keeps flowing)
                    df = df.filter(F.col("__op") != "D").drop("__op")
                else:
                    raise ValueError(
                        f"{self.name}: merge-engine '{self.merge_engine}' does not "
                        "accept retraction (__op) inputs; replace rows via "
                        "overwrite() instead"
                    )
            ordered = df.select(*cols).withColumn("__ord", F.monotonically_increasing_id())
            if self.merge_engine == "partial-update" and self.sequence_groups:
                # a per-commit partial cannot carry a sequence group
                # across commits: it keeps one <seq> per group, not the
                # <seq> at which each member was set, so a member value
                # whose <seq> loses to the STORED group sequence would
                # ride in on a later row that advances the group. Fold
                # the batch onto the merged image of its keys instead
                # (ordered ahead of every input row), so the stored row
                # is the key's full state and the window gate sees the
                # stored <seq>.
                prior = self._pre_image_for(df, merged=True)
                if prior is not None:
                    ordered = prior.withColumn("__ord", F.lit(-1).cast("long")).unionByName(
                        ordered
                    )
            combined = self._merge_combine(ordered, "__ord")
            deduped = combined.withColumn("__op", F.lit("U"))
        else:
            if "__op" not in df.columns:
                df = df.withColumn("__op", F.lit("U"))
            # batch-local dedup: LAST INPUT ROW per key wins (Paimon
            # sequence semantics) — the ordinal is captured before the
            # window so a batch holding both an update and a delete for
            # one key resolves by arrival order, never by value
            # comparison (a D row with NULL values must beat an earlier
            # U row). The ordinal is (partition, offset)-ordered;
            # callers needing a total order across shuffled
            # multi-partition batches declare 'sequence.field', which
            # takes precedence over arrival order here and on read.
            w = Window.partitionBy(*pk).orderBy(*self._merge_order("__ord"))
            deduped = (
                df.withColumn("__ord", F.monotonically_increasing_id())
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__ord")
            )
        batch = deduped.select(*cols, "__op").withColumn("__seq", F.lit(seq).cast("long"))

        pending_changelog = None
        # 'input' and 'lookup' share this implementation: the changelog
        # is DERIVED per commit by looking up the batch keys' pre-images
        # (bucket-pruned, key-semi-joined — _pre_image_for), which is
        # Paimon's lookup-mode derivation; Paimon's literal input mode
        # instead trusts the source stream to carry complete retractions,
        # and this engine's sinks always derive, so both spellings give
        # the same (correct) rows here.
        pinned = None
        if self.options.get("changelog-producer") in ("input", "lookup"):
            if self.branch_name is not None:
                raise ValueError(
                    f"{self.name}: branch writes do not support changelog "
                    "producers (the changelog stream belongs to the main "
                    "chain) — write through the main table or drop the "
                    "'changelog-producer' option"
                )
            # TWO consumers ahead (changelog write + staging write):
            # persist the deduped batch so (a) the window dedup runs
            # once, not twice (r17 optimization), and (b) the two
            # writes can never diverge — the dedup's __ord tiebreak is
            # monotonically_increasing_id(), which independent
            # re-executions are not guaranteed to reproduce for a batch
            # carrying several rows per key; the cache pins one winner
            # set for both the changelog post-images and the data files
            pinned = batch = batch.persist()
            # stage pre-commit (the pre-image must reflect the table
            # BEFORE this batch), publish only after the commit wins
            # uuid component: two threads of one process can commit in
            # the same millisecond, and millis+pid alone would collide
            pending_changelog = os.path.join(
                self.paths.root, "changelog",
                f".staging-{now_millis()}-{os.getpid()}-{uuid.uuid4().hex[:8]}",
            )
            self._write_changelog(batch, seq, target_dir=pending_changelog)

        try:
            _, entries = self._stage_write(batch)
            sid = self._commit(
                entries, "APPEND", commit_identifier=commit_identifier,
                sequence_number=seq, expected_latest=latest,
            )
        except CommitConflictError:
            # the changelog rows for this never-published seq must not
            # survive (_commit already dropped the staged data files)
            if pending_changelog:
                shutil.rmtree(pending_changelog, ignore_errors=True)
            raise
        finally:
            if pinned is not None:
                pinned.unpersist()
        if pending_changelog:
            final = self.paths.changelog_dir(seq)
            shutil.rmtree(final, ignore_errors=True)
            os.rename(pending_changelog, final)
        return sid

    def _pre_image_for(self, batch: DataFrame, merged: bool = False):
        """Merged pre-image restricted to rows that can share a key with
        ``batch`` — per-commit cost scales with the BATCH, not the table.

        Paimon's changelog-producer=input derives pre-images per bucket;
        the equivalent here is (a) manifest pruning to the buckets the
        batch's keys hash into (rows for a key always land in its
        bucket-key hash bucket, so no other file can hold its pre-image)
        and (b) a left-semi join to the batch's distinct keys BEFORE the
        merge-on-read window, so the rank shuffle carries only affected
        keys' rows. The bucket-set collect is bounded by num_buckets.
        ``merged=True`` combines the rows under the table's merge engine
        (:meth:`merge_raw`) instead of taking the latest stored row.
        Returns None for an empty table."""
        if self.latest_snapshot_id() is None:
            return None
        spark = batch.sparkSession
        pk = self.primary_key
        entries = self.manifest()
        if self.is_dynamic_bucket:
            # dynamic mode prunes through the key INDEX, not a hash: the
            # batch keys' index entries name the only buckets whose files
            # can hold their pre-images (collect is bounded by the
            # number of live buckets, ~keys/target-row-num)
            idx = self._read_index(spark)
            hit = {
                r["__bucket"]
                for r in batch.select(F.xxhash64(*pk).alias("__khash"))
                .distinct()
                .join(idx, "__khash")
                .select("__bucket")
                .distinct()
                .collect()
            }
            entries = [e for e in entries if e["bucket"] in hit]
        else:
            same_modulus = all(
                e.get("total_buckets", self.num_buckets) == self.num_buckets
                for e in entries
            )
            if self.num_buckets > 1 and same_modulus and set(self.bucket_key) <= set(pk):
                hit = {
                    r["__bucket"]
                    for r in self._with_bucket(batch).select("__bucket").distinct().collect()
                }
                entries = [e for e in entries if e["bucket"] in hit]
        if not entries:
            return None
        raw = self._read_entries(spark, entries)
        raw = raw.join(batch.select(*pk).distinct(), on=pk, how="left_semi")
        if merged:
            return self.merge_raw(raw)
        cols = [f.name for f in self.schema.fields]
        w = Window.partitionBy(*pk).orderBy(*self._merge_order("__seq"))
        return (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & (F.col("__op") != "D"))
            .select(*cols)
        )

    def _write_changelog(self, batch: DataFrame, seq: int, target_dir: str | None = None) -> None:
        """Emit +I/-U/+U/-D rows for this commit by joining the batch
        against the (bucket-pruned, key-restricted) pre-image of the
        affected keys (executor-side). ``target_dir`` lets the caller
        stage the rows outside the published changelog layout until its
        commit wins (two racing upserts share a sequence number, so
        writing the final dir pre-commit would let the loser's rows —
        or its conflict cleanup — clobber the winner's)."""
        pk = self.primary_key
        cols = [f.name for f in self.schema.fields]
        sid_dir = target_dir or self.paths.changelog_dir(seq)
        pre = self._pre_image_for(batch)
        if self.merge_engine == "first-row":
            # first-row changelog is INSERT-ONLY: the first write per
            # key emits +I, later writes are dropped by the merge so
            # they emit nothing (Paimon's first-row + lookup contract —
            # no -U/+U/-D can exist; retractions were rejected upstream)
            fresh = (
                batch
                if pre is None
                else batch.join(pre.select(*pk), on=pk, how="left_anti")
            )
            fresh.withColumn("_change_type", F.lit("+I")).select(
                *cols, "_change_type"
            ).write.mode("overwrite").parquet(sid_dir)
            return
        if pre is None:
            changelog = batch.withColumn(
                "_change_type", F.when(F.col("__op") == "D", "-D").otherwise("+I")
            )
            out = changelog.filter(F.col("_change_type") != "-D")  # delete of absent key: no-op
            out.select(*cols, "_change_type").write.mode("overwrite").parquet(sid_dir)
            return
        # explicit presence marker: isNotNull() tests are never NULL, so
        # coalescing them would always return the FIRST value column's
        # test — wrong for NULL-valued columns and for PK-only tables
        pre_keys = pre.select(
            *pk,
            F.lit(True).alias("__had_pre"),
            *[F.col(c).alias(f"__pre_{c}") for c in cols if c not in pk],
        )
        joined = batch.join(pre_keys, on=pk, how="left")
        had_pre = F.coalesce(F.col("__had_pre"), F.lit(False))
        sf = self.sequence_field
        if sf:
            # 'sequence.field' (round-6 fix): a batch row that LOSES to
            # the stored image — its sequence is older — changes
            # nothing at merge-on-read, so it must emit NO changelog
            # (emitting -U(stored)/+U(loser) would make a consumer
            # materialize the wrong image). Win rule mirrors
            # _merge_order exactly: NULLs lose to any value, ties go to
            # the later commit (this batch). Applies to deletes too —
            # an older-sequence -D is ineffective.
            sp, sb = F.col(f"__pre_{sf}"), F.col(sf)
            batch_wins = sp.isNull() | (sb.isNotNull() & (sb >= sp))
            joined = joined.filter(~had_pre | batch_wins)
        if str(self.options.get("changelog-producer.row-deduplicate", "false")).lower() == "true":
            # Paimon changelog-producer.row-deduplicate (lookup
            # producer): an upsert whose values equal the pre-image
            # emits NO -U/+U pair — downstream consumers skip no-op
            # churn. One filter before emission covers both rows; +I
            # (no pre-image) and -D pass through untouched. The
            # full-compaction producer needs no flag here: its diff
            # already drops unchanged keys (~same in
            # _write_compaction_changelog).
            same = F.lit(True)
            for c in cols:
                if c not in pk:
                    same = same & F.col(c).eqNullSafe(F.col(f"__pre_{c}"))
            joined = joined.filter(~(had_pre & (F.col("__op") != "D") & same))
        post = joined.withColumn(
            "_change_type",
            F.when(F.col("__op") == "D", F.lit("-D"))
            .when(had_pre, F.lit("+U"))
            .otherwise(F.lit("+I")),
        ).select(*cols, "_change_type")
        pre_rows = (
            joined.filter(had_pre & (F.col("__op") != "D"))
            .select(*pk, *[F.col(f"__pre_{c}").alias(c) for c in cols if c not in pk])
            .withColumn("_change_type", F.lit("-U"))
            .select(*cols, "_change_type")
        )
        post.filter((F.col("_change_type") != "-D") | had_pre).unionByName(pre_rows).write.mode(
            "overwrite"
        ).parquet(sid_dir)

    # ------------------------------------------------------------------
    # read path
    # ------------------------------------------------------------------
    def _live_files(self, snapshot_id: int | None = None, where: str | None = None) -> list[str]:
        entries = self.manifest(snapshot_id)
        if where:
            entries = prune_entries(entries, where, root=self.paths.root)
        return [os.path.join(self.paths.root, e["file_path"]) for e in entries]

    def metadata_count(self, where: str | None = None, snapshot_id: int | None = None) -> int | None:
        """Answer ``SELECT COUNT(*)`` from manifest metadata alone —
        the Paimon/Iceberg aggregate-pushdown optimization that turns
        counting a 100 TB table into summing a few thousand manifest
        integers instead of scanning every file.

        Exact ONLY when metadata decides every row, so it returns None
        (callers fall through to a data scan) unless BOTH hold:
        - the table is append-only — a PK table's merge-on-read
          collapses duplicate keys and applies '__op' retractions, so
          per-file record_count sums over-count;
        - the predicate (if any) is a conjunction of simple conds on
          PARTITION columns only — a file's partition value decides
          all of its rows at once; any other column would need the
          rows themselves.
        Row-level DML on append tables keeps this exact: DELETE/UPDATE
        are copy-on-write rewrites, so the live manifest always counts
        exactly the surviving rows."""
        if self.primary_key:
            return None
        entries = self.manifest(snapshot_id)
        if where is None:
            return sum(e["record_count"] for e in entries)
        conds = parse_simple_conds(where)
        if conds is None or not all(c[0] in self.partition_keys for c in conds):
            return None
        total = 0
        for e in entries:
            keep = True
            for col, op, value in conds:
                pval = (e.get("partition") or {}).get(col)
                if pval is None:
                    return None  # metadata incomplete — never guess
                if isinstance(value, float):
                    try:
                        p: object = float(pval)
                    except (TypeError, ValueError):
                        return None
                else:
                    p = str(pval)
                if op in ("=", "=="):
                    keep = p == value
                elif op == "<":
                    keep = p < value
                elif op == "<=":
                    keep = p <= value
                elif op == ">":
                    keep = p > value
                elif op == ">=":
                    keep = p >= value
                if not keep:
                    break
            if keep:
                total += e["record_count"]
        return total

    def metadata_min_max(
        self, func: str, col: str, where: str | None = None, snapshot_id: int | None = None
    ) -> tuple[bool, object] | None:
        """Answer ``SELECT MIN(col)`` / ``MAX(col)`` from footer stats
        alone (the companion of :meth:`metadata_count`). Returns
        ``(True, value)`` when metadata decides exactly, None when it
        cannot (callers fall through to a scan). Exact-or-refuse:

        - append-only tables only (a PK table's merge-on-read hides
          overwritten rows whose values still sit in the stats);
        - NUMERIC stats only — parquet string min/max may be truncated;
        - every live file must carry stats for the column (a file of
          all NULLs has none — conservative refusal, though MIN/MAX
          ignore NULLs, because 'absent stats' is indistinguishable
          from 'stats not collected');
        - a predicate must be partition-only conds selecting files
          EXACTLY (same rule as metadata_count).
        An empty selection answers SQL's empty-aggregate NULL:
        ``(True, None)``."""
        if self.primary_key or func not in ("min", "max"):
            return None
        # Decimal columns: their manifest stats are floats widened one
        # ulp outward (_footer_stats — JSON can't carry Decimal), so
        # the recorded bound may be strictly outside the true value.
        # Exact-or-refuse: fall through to the scan.
        try:
            from pyspark.sql.types import DecimalType

            if isinstance(self.schema[col].dataType, DecimalType):
                return None
        except KeyError:
            return None
        entries = self.manifest(snapshot_id)
        if where is not None:
            conds = parse_simple_conds(where)
            if conds is None or not all(c[0] in self.partition_keys for c in conds):
                return None
            entries = [
                e for e in entries if entry_fully_covered(e, conds, self.partition_keys)
            ]
        if not entries:
            return (True, None)
        vals = []
        for e in entries:
            # A deletion vector hides rows whose values still sit in the
            # file's footer stats (ADVICE r13 #1: after append [0,1500)
            # then DV-DELETE k<1200, the footer min is still 1000).
            # metadata_count stays exact because _dv_republish rewrites
            # record_count, but min/max cannot be adjusted without
            # reading the file — refuse, fall through to the scan.
            if e.get("deletion_vector"):
                return None
            st = (e.get("stats") or {}).get(col)
            if st is None or not isinstance(st.get(func), (int, float)) or isinstance(st.get(func), bool):
                return None
            vals.append(st[func])
        return (True, min(vals) if func == "min" else max(vals))

    def _physical_name(self, name: str, at_version: int) -> str | None:
        """Walk RENAME COLUMN history backwards: the physical (on-file)
        name a current column had when schema ``at_version`` was live —
        or None if the column did not exist CONTINUOUSLY since then
        (dropped-then-readded names are a new column identity, so old
        bytes under the reused name must not resurrect)."""
        for v in range(self.schema_version, at_version, -1):
            doc = self.schema_doc(v)
            ren = doc.get("renames") or {}
            name = ren.get(name, name)
            prev_names = {f["name"] for f in self.schema_doc(v - 1)["schema"]["fields"]}
            if name not in prev_names:
                return None  # column was created at version v
        return name

    def _read_entries(self, spark: SparkSession, entries: list[dict], with_positions: bool = False):
        """Read manifest entries under the CURRENT schema, applying
        schema evolution per file group (assets/output5.png semantics,
        extended to the full evolution family):

        - ADD COLUMN: old files lack the field → reader null-fills.
        - DROP COLUMN: old files carry the extra field → projection
          ignores it (never read off disk).
        - RENAME COLUMN: files are read with the physical name their
          write-time schema used (entry.schema_id + the per-version
          rename log), then aliased to the current name — metadata-only
          evolution, no file rewrite. A column added AFTER a same-named
          column was dropped is null-filled for old files (presence is
          checked against the write-time schema, so stale bytes under a
          reused name are never resurrected).
        - MODIFY (type widening, e.g. INT→BIGINT): old file groups are
          read with their write-time dtype (the parquet encoding on
          disk) and cast to the current, wider dtype — a no-op cast for
          unwidened columns, so the common path is unchanged."""
        base_fields = list(self.schema.fields)
        meta_fields = (
            StructType.fromDDL("__op string, __seq long").fields if self.primary_key else []
        )
        out_schema = StructType(base_fields + list(meta_fields))
        pos_cols = ["__file", "__pos"] if with_positions else []
        if not entries:
            empty = StructType(
                list(out_schema.fields)
                + ([StructField("__file", StringType(), True),
                    StructField("__pos", LongType(), True)] if with_positions else [])
            )
            return spark.createDataFrame([], empty)
        cur = self.schema_version
        groups: dict[int, list[tuple[str, str | None]]] = {}
        for e in entries:
            groups.setdefault(int(e.get("schema_id", cur)), []).append(
                (os.path.join(self.paths.root, e["file_path"]), e.get("deletion_vector"))
            )
        parts = []
        for v, group in sorted(groups.items()):
            files = [p for p, _ in group]
            dvs = {d for _, d in group if d}
            # row positions ride as hidden parquet metadata: the file's
            # BASENAME (uuid-unique per table) + the in-file row index —
            # needed to APPLY deletion vectors and to COMPUTE new ones
            need_pos = with_positions or bool(dvs)
            tag = lambda df: df.select(
                "*",
                F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("__file"),
                F.col("_metadata.row_index").alias("__pos"),
            )
            if v == cur:
                df = spark.read.schema(out_schema).format(self.data_format).load(list(files))
                if need_pos:
                    df = tag(df)
            else:
                at_v = {
                    f["name"]: StructField.fromJson(f).dataType
                    for f in self.schema_doc(v)["schema"]["fields"]
                }
                present, absent = [], []
                for f in base_fields:
                    phys = self._physical_name(f.name, v)
                    (present if phys is not None and phys in at_v else absent).append((phys, f))
                read_schema = StructType(
                    [StructField(phys, at_v[phys], True) for phys, f in present]
                    + list(meta_fields)
                )
                df = spark.read.schema(read_schema).format(self.data_format).load(list(files))
                if need_pos:
                    df = tag(df)
                extra = ["__file", "__pos"] if need_pos else []
                df = df.select(
                    *[F.col(phys).cast(f.dataType).alias(f.name) for phys, f in present],
                    *[F.lit(None).cast(f.dataType).alias(f.name) for _, f in absent],
                    *[F.col(m.name) for m in meta_fields],
                    *extra,
                ).select(*([f.name for f in out_schema.fields] + extra))
            if dvs:
                df = self._apply_deletion_vectors(spark, df, dvs)
            if need_pos and not with_positions:
                df = df.drop("__file", "__pos")
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _apply_deletion_vectors(self, spark: SparkSession, df, dv_paths: set[str]):
        """Filter out rows whose (file basename, row index) appear in
        the given deletion-vector files — the merge-on-read half of the
        DV design. The DV relation is bounded by TOTAL DELETED ROWS
        (not table size), so it usually broadcasts; at cluster scale
        this is the standard Iceberg v2 positional-delete apply.

        SIZE-GATED (VERDICT r13 ask #2): "bounded by deleted rows" is
        no bound at all once a user DV-deletes a few percent of a
        100 TB table before compaction — an unconditional broadcast
        OOMs the executors exactly when the feature matters most. The
        gate sums the DV parquet file sizes (driver-side metadata,
        O(#dv files)) and falls back to a plain shuffled anti-join
        above ``_DV_BROADCAST_MAX_BYTES`` (the x92 auto-gate pattern:
        same results, different physical shape — asserted by
        tests/test_lakehouse.py::test_dv_apply_plan_shapes)."""
        paths = [os.path.join(self.paths.root, p) for p in sorted(dv_paths)]
        dv = spark.read.parquet(*paths)
        keys = dv.select(
            F.col("file_name").alias("__file"),
            F.col("row_index").alias("__pos"),
        )
        try:
            # each DV path is a Spark-written parquet DIRECTORY —
            # getsize on the dir itself would return the ~4 KiB inode
            # size and the gate could never trip; sum the part files
            total = 0
            for p in paths:
                if os.path.isdir(p):
                    total += sum(
                        os.path.getsize(f)
                        for f in glob.glob(os.path.join(p, "*.parquet"))
                    )
                else:
                    total += os.path.getsize(p)
        except OSError:
            total = _DV_BROADCAST_MAX_BYTES + 1  # unknown size: be safe
        if total <= _DV_BROADCAST_MAX_BYTES:
            keys = F.broadcast(keys)
        return df.join(keys, ["__file", "__pos"], "left_anti")

    def _raw(self, spark: SparkSession, snapshot_id: int | None = None, where: str | None = None):
        entries = self.manifest(snapshot_id)
        if where:
            entries = prune_entries(entries, where, root=self.paths.root)
        return self._read_entries(spark, entries)

    @property
    def sequence_field(self) -> str | None:
        """'sequence.field' option (Paimon): the upsert ORDER KEY comes
        from this data column instead of commit order — the row with
        the largest value wins merge-on-read, so out-of-order arrivals
        (late retries, shuffled sources) resolve deterministically.
        Commit sequence stays the tiebreak."""
        return self.options.get("sequence.field")

    def _merge_order(self, tiebreak: str) -> list:
        """ORDER BY for every last-write-wins window (in-batch dedup,
        merge-on-read, pre-image lookup — all three MUST agree or
        in-batch and cross-commit semantics drift): sequence.field
        first when declared (NULLs lose to any value), then the
        arrival-order tiebreak column."""
        sf = self.sequence_field
        order = [F.col(sf).desc_nulls_last()] if sf else []
        return order + [F.col(tiebreak).desc()]

    @property
    def merge_engine(self) -> str:
        """'merge-engine' option: 'deduplicate' (default, last-write-
        wins), 'partial-update' (per-column last NON-NULL wins;
        'fields.<seq>.sequence-group' gates listed columns on a data
        sequence column), 'aggregation' (per-column aggregate across writes, from
        'fields.<col>.aggregate-function' ∈ {sum,max,min,last_non_null/
        last_non_null_value,last_value,first_value,first_non_null_value,
        count,bool_or,bool_and,listagg}), or 'first-row' (FIRST row per
        key wins; later writes are ignored) — Paimon 0.5's merge
        engines with the documented aggregate-function set."""
        return self.options.get("merge-engine", "deduplicate")

    @property
    def sequence_groups(self) -> dict[str, str]:
        """Paimon partial-update sequence groups
        ('fields.<seq>.sequence-group'='colA,colB'): maps every group
        MEMBER — and the sequence column itself — to the group's
        sequence column. An update's values for the group apply only
        when its <seq> is >= every previously-seen <seq> for that key
        (a NULL <seq> never applies); the non-null-wins rule still
        holds within accepted updates, and <seq> itself advances with
        its group. Columns in no group keep plain last-non-null."""
        out: dict[str, str] = {}
        for k, v in self.options.items():
            m = re.fullmatch(r"fields\.(.+)\.sequence-group", k)
            if m:
                g = m.group(1)
                out[g] = g
                for c in str(v).split(","):
                    if c.strip():
                        out[c.strip()] = g
        return out

    def _merge_combine(self, df: DataFrame, order_col: str, stored: bool = False) -> DataFrame:
        """One row per key under the non-default merge engines, from
        rows ordered by ``order_col`` (input ordinal within a batch,
        commit sequence across commits — the SAME combine both places,
        so in-batch and merge-on-read semantics cannot drift).
        Everything is window projections over the key partitioning:
        one shuffle, no join.

        ``stored=True`` marks rows that are already per-commit PARTIAL
        aggregates (every committed row passed the in-batch combine).
        All functions re-combine with themselves (sum of sums, max of
        maxes, concat of concats) EXCEPT count, whose partials re-
        combine by SUM — count-of-counts would collapse any stored
        partial to 1."""
        engine = self.merge_engine
        pk = self.primary_key
        cols = [f.name for f in self.schema.fields]
        if engine == "first-row":
            # Paimon first-row: the FIRST row per key wins and every
            # later write is ignored. Stored rows are already per-commit
            # firsts, so first-of-firsts by commit order is the same
            # combine in-batch and at merge-on-read — no stored split.
            w_first_row = Window.partitionBy(*pk).orderBy(F.col(order_col).asc())
            return (
                df.withColumn("__rn", F.row_number().over(w_first_row))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
                .select(*cols)
            )
        vals = [c for c in cols if c not in pk]
        fields = {f.name: f for f in self.schema.fields}
        w_ord = (
            Window.partitionBy(*pk)
            .orderBy(F.col(order_col).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy(*pk)
        proj = []
        seq_groups = self.sequence_groups if engine == "partial-update" else {}
        for c in vals:
            if engine == "partial-update":
                g = seq_groups.get(c)
                if g == c:
                    # the group's sequence column: it advances with
                    # every ACCEPTED update, and the row carrying the
                    # global max always accepts, so the final value is
                    # the plain max (NULL-carrying rows never accept
                    # and max() ignores them)
                    proj.append(F.max(c).over(w_all).alias(c))
                    continue
                if g is not None:
                    # sequential accept gate, not a sort by <seq>: a
                    # row accepts iff its <seq> is >= all EARLIER rows'
                    # (== the running max including itself) — matching
                    # Paimon's fold in write order, where a stale
                    # update is rejected wholesale (its column values
                    # never enter the state, so a later-rejected
                    # non-null can't resurrect past an accepted NULL
                    # that a plain (<seq>, ord) sort would let win)
                    run_max = F.max(F.col(g)).over(w_ord)
                    applies = F.col(g).isNotNull() & (F.col(g) == run_max)
                    w_full = (
                        Window.partitionBy(*pk)
                        .orderBy(F.col(order_col).asc())
                        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
                    )
                    e = F.last(F.when(applies, F.col(c)), ignorenulls=True).over(w_full)
                    proj.append(e.alias(c))
                    continue
                spec = "last_non_null"
            else:
                spec = self.options.get(f"fields.{c}.aggregate-function", "last_non_null")
            if spec in ("last_non_null", "last_non_null_value"):
                e = F.last(c, ignorenulls=True).over(w_ord)
            elif spec == "last_value":
                e = F.last(c, ignorenulls=False).over(w_ord)
            elif spec in ("first_value", "first_non_null_value"):
                # first-in-write-order: frame anchored at the partition
                # start so every row sees the same answer
                w_first = (
                    Window.partitionBy(*pk)
                    .orderBy(F.col(order_col).asc())
                    .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
                )
                e = F.first(c, ignorenulls=spec == "first_non_null_value").over(w_first)
            elif spec == "sum":
                # cast back to the declared type: SUM widens (int→long,
                # decimal precision) and schema-pinned writes reject it
                e = F.sum(c).over(w_all).cast(fields[c].dataType)
            elif spec == "max":
                e = F.max(c).over(w_all)
            elif spec == "min":
                e = F.min(c).over(w_all)
            elif spec == "count":
                # Paimon count agg: number of non-null inputs across
                # writes. Fresh input rows contribute 1 per non-null
                # value; stored rows are already partial counts and SUM
                # (cast back: count/sum widen, column may be int)
                agg = F.sum(c) if stored else F.count(c)
                e = agg.over(w_all).cast(fields[c].dataType)
            elif spec in ("bool_or", "bool_and"):
                if fields[c].dataType.simpleString() != "boolean":
                    raise ValueError(
                        f"{self.name}: fields.{c}.aggregate-function {spec!r} "
                        f"requires a BOOLEAN column, got {fields[c].dataType.simpleString()}"
                    )
                e = (F.bool_or(c) if spec == "bool_or" else F.bool_and(c)).over(w_all)
            elif spec == "listagg":
                if fields[c].dataType.simpleString() != "string":
                    raise ValueError(
                        f"{self.name}: fields.{c}.aggregate-function 'listagg' "
                        f"requires a STRING column, got {fields[c].dataType.simpleString()}"
                    )
                # write-order concatenation, ',' delimiter (Paimon 0.5's
                # fixed listagg delimiter); all-null input stays NULL
                w_full = (
                    Window.partitionBy(*pk)
                    .orderBy(F.col(order_col).asc())
                    .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
                )
                lst = F.collect_list(c).over(w_full)
                e = F.when(F.size(lst) > 0, F.array_join(lst, ",")).otherwise(F.lit(None))
            else:
                raise ValueError(
                    f"{self.name}: unsupported fields.{c}.aggregate-function {spec!r}"
                )
            proj.append(e.alias(c))
        w_last = Window.partitionBy(*pk).orderBy(F.col(order_col).desc())
        return (
            df.select(*pk, *proj, F.row_number().over(w_last).alias("__rn"))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .select(*cols)
        )

    def _merged(self, spark: SparkSession, snapshot_id: int | None = None, where: str | None = None):
        """Merge-on-read for PK tables: latest row per key by commit
        sequence, deletes dropped (deduplicate engine); the
        partial-update / aggregation engines combine per column via
        :meth:`_merge_combine`. None if the table is empty."""
        if self.latest_snapshot_id() is None:
            return None
        raw = self._raw(spark, snapshot_id)
        pk = self.primary_key
        cols = [f.name for f in self.schema.fields]
        if self.merge_engine != "deduplicate":
            # retraction rows are rejected at write time for these
            # engines, so the raw stream is insert/update images only
            merged = self._merge_combine(raw, "__seq", stored=True)
            return merged.filter(where) if where else merged
        w = Window.partitionBy(*pk).orderBy(*self._merge_order("__seq"))
        merged = (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & (F.col("__op") != "D"))
            .select(*cols)
        )
        return merged.filter(where) if where else merged

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | str | None = None,
        where: str | None = None,
    ) -> DataFrame:
        """Batch read of a snapshot (default LATEST; accepts a snapshot
        id or a tag name). ``where`` both prunes whole files via
        manifest min/max stats AND applies as a normal filter (Catalyst
        then pushes it into the parquet scan — two pruning layers,
        SURVEY.md §4)."""
        snapshot_id = self.resolve_ref(snapshot_id)
        if self.primary_key:
            merged = self._merged(spark, snapshot_id, where)
            if merged is None:
                return spark.createDataFrame([], self.schema)
            return merged
        df = self._raw(spark, snapshot_id, where)
        df = df.select(*[f.name for f in self.schema.fields])
        return df.filter(where) if where else df

    def read_changelog(
        self, spark: SparkSession, from_seq: int = 0, to_seq: int | None = None
    ) -> DataFrame:
        """Changelog read (changelog-producer=input): stored +I/-U/+U/-D
        rows for commits with from_seq < sequence <= to_seq (to_seq
        None = unbounded)."""
        dirs = sorted(glob.glob(os.path.join(self.paths.root, "changelog", "snapshot-*")))
        dirs = [
            d
            for d in dirs
            if int(os.path.basename(d).split("-")[1]) > from_seq
            and (to_seq is None or int(os.path.basename(d).split("-")[1]) <= to_seq)
        ]
        if not dirs:
            schema = StructType(
                self.schema.fields + StructType.fromDDL("_change_type string").fields
            )
            return spark.createDataFrame([], schema)
        return spark.read.parquet(*dirs)

    def _delta_added_paths(self, from_snapshot: int, to_snapshot: int) -> list[str] | None:
        """Added file paths over (from, to] read straight off the delta
        manifests — O(commits in range), no O(table) reconstruction.
        Expiry keeps the delta fields of the manifests it materializes,
        so this works when ``from`` itself has expired. Returns None
        when the range crosses a manifest without them
        (OVERWRITE/COMPACT or a periodic full image): those change the
        live set in ways a pure added-union cannot represent, so the
        caller falls back to the manifest diff."""
        added: list[str] = []
        sid = to_snapshot
        while sid > from_snapshot:
            doc = read_json(self.paths.manifest_path(sid))
            if "added" not in doc or doc["base_snapshot"] != sid - 1 or doc.get("removed"):
                return None
            added.extend(e["file_path"] for e in doc["added"])
            sid -= 1
        return added

    def incremental_read(
        self,
        spark: SparkSession,
        from_snapshot: int | str,
        to_snapshot: int | str | None = None,
    ) -> DataFrame:
        """Files added in (from_snapshot, to_snapshot] — the batch
        equivalent of one streaming micro-batch over the snapshot log.
        Accepts snapshot ids or tag names (Paimon's
        ``incremental-between('tag1','tag2')`` spelling). Pure-append
        ranges are answered from the delta manifests alone (the
        per-trigger hot path for changelog subscribers: O(batch)
        metadata, independent of table size)."""
        from_snapshot = self.resolve_ref(from_snapshot)
        to_snapshot = self.resolve_ref(to_snapshot) or self.latest_snapshot_id()
        added = (
            self._delta_added_paths(from_snapshot, to_snapshot)
            if from_snapshot
            else None
        )
        if added is None:
            before = (
                {e["file_path"] for e in self.manifest(from_snapshot)}
                if from_snapshot
                else set()
            )
            added = [
                e["file_path"]
                for e in self.manifest(to_snapshot)
                if e["file_path"] not in before
            ]
        if not added:
            return self._raw(spark, to_snapshot).limit(0)
        return spark.read.format(self.data_format).load(
            [os.path.join(self.paths.root, p) for p in added]
        )

    def incremental_read_between_timestamps(
        self, spark: SparkSession, from_ts: int | str, to_ts: int | str
    ) -> DataFrame:
        """Paimon's ``incremental-between-timestamp('t1','t2')``: files
        added by snapshots whose commit time falls in (t1, t2] — both
        ends accept epoch millis or the ISO wall-clock spelling
        ``snapshot_as_of_timestamp`` takes. A t1 before the first
        snapshot means "from the beginning" (a t2 before it is an
        error); resolution is snapshot-granular, exactly as the id/tag
        spelling. Timestamps are parsed BEFORE the genesis-fallback
        check, so a malformed t1 raises instead of silently reading the
        whole history (round-6 ADVICE fix)."""
        from_ms = self._ts_to_millis(from_ts)  # parse errors propagate
        snaps = self.snapshots()
        if snaps and from_ms < min(s["timestamp_ms"] for s in snaps):
            from_id = 0  # genuinely before the first snapshot → genesis
        else:
            from_id = self.snapshot_as_of_timestamp(from_ms)
        return self.incremental_read(
            spark, from_id, self.snapshot_as_of_timestamp(to_ts)
        )

    def incremental_changelog(
        self,
        spark: SparkSession,
        from_snapshot: int | str,
        to_snapshot: int | str | None = None,
    ) -> DataFrame:
        """Paimon's ``incremental-between-scan-mode='changelog'``
        (round-6 VERDICT ask #7): the STORED changelog rows — with
        Paimon's ``rowkind`` (+I/-U/+U/-D) — emitted by commits in
        (from, to], instead of the merged delta ``incremental_read``
        returns. Requires a changelog-producing table; accepts snapshot
        ids or tag names like the id/tag spelling."""
        assert self.options.get("changelog-producer") in ("input", "lookup", "full-compaction"), (
            f"{self.name}: incremental-between-scan-mode='changelog' needs a "
            "changelog producer ('changelog-producer'='input'/'lookup'/'full-compaction')"
        )
        from_id = self.resolve_ref(from_snapshot) or 0
        to_id = self.resolve_ref(to_snapshot) or self.latest_snapshot_id() or 0
        return self.read_changelog(spark, from_seq=from_id, to_seq=to_id).withColumnRenamed(
            "_change_type", "rowkind"
        )

    def merge_raw(self, df: DataFrame) -> DataFrame:
        """Collapse RAW rows (carrying __op/__seq) to their merged
        image under this table's merge engine — the per-key semantics of
        :meth:`_merged`, applicable to any raw subset (e.g. an
        incremental range, where Paimon's batch read returns the merged
        delta per changed key with deletes filtered, never tombstones)."""
        cols = [f.name for f in self.schema.fields]
        if "__op" not in df.columns:
            return df.select(*[c for c in df.columns if c in cols])
        if self.merge_engine != "deduplicate":
            return self._merge_combine(df, "__seq", stored=True)
        w = Window.partitionBy(*self.primary_key).orderBy(*self._merge_order("__seq"))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & (F.col("__op") != "D"))
            .select(*cols)
        )

    # ------------------------------------------------------------------
    # operations: compaction, expiry (tutorial/guide.md:172-185,236-272)
    # ------------------------------------------------------------------
    def compact(self, cluster_by: str | None = None) -> int | None:
        """Full compaction: rewrite all live files into one file per
        bucket at COMPACT_LEVEL. Append tables preserve exact row counts
        (the reference's invariant, tutorial/guide.md:212-231 vs
        255-261); PK tables collapse to the merged image with the
        current max sequence retained.

        ``cluster_by`` is Paimon's SORT COMPACT (the action jar's
        order/zorder strategies): the rewrite clusters rows by the
        given spec — ``'a,b'`` lexicographic or ``'zorder(a,b)'`` —
        without changing the table's standing 'sort-by' option, so a
        one-off re-cluster of historical data doesn't commit future
        writes to the same order."""
        spark = SparkSession.getActiveSession()
        latest = self.latest_snapshot_id()
        if latest is None:
            return None
        old = {e["file_path"] for e in self.manifest(latest)}
        if not old:
            return None
        if self.primary_key:
            seq = self.snapshot(latest)["sequence_number"]
            merged = self._merged(spark).withColumn("__op", F.lit("U")).withColumn(
                "__seq", F.lit(seq).cast("long")
            )
            _, entries = self._stage_write(merged, sort_by_override=cluster_by)
        else:
            _, entries = self._stage_write(self._raw(spark), sort_by_override=cluster_by)
        for e in entries:
            e["level"] = COMPACT_LEVEL
        sid = self._commit(
            entries, "COMPACT", replaced=old, expected_latest=latest,
            snapshot_extra={"compaction": "full"},
        )
        if (
            self.primary_key
            and self.options.get("changelog-producer") == "full-compaction"
            and self.branch_name is None  # changelog belongs to the main chain
        ):
            self._write_compaction_changelog(spark, latest, sid)
        if self.is_dynamic_bucket:
            self._compact_index(spark)
        return sid

    def _write_compaction_changelog(self, spark: SparkSession, latest: int, sid: int) -> None:
        """changelog-producer=full-compaction (Paimon's third producer
        mode): upserts write NO per-commit changelog; each full
        compaction emits the NET key-wise changes since the previous
        compaction — +I for new keys, -U/+U for changed values, -D for
        deletes. The diff is one key-wise full-outer join of two merged
        images; consumers trade per-commit latency for the cheapest
        possible write path (the mode streaming-lax pipelines pick when
        the sink is compaction-driven anyway)."""
        def _is_full_compaction(s: dict) -> bool:
            # Only FULL compactions emit a changelog, so only they can
            # serve as the diff baseline. A minor (L0) compaction also
            # commits kind=COMPACT but emits nothing — baselining on it
            # would silently drop every upsert between the last full
            # compaction and the minor one from the next emitted diff.
            # Snapshots carry a 'compaction' marker (full|minor); for
            # legacy snapshots without it, fall back to whether that
            # snapshot actually has a changelog directory on disk.
            marker = s.get("compaction")
            if marker is not None:
                return marker == "full"
            return os.path.isdir(self.paths.changelog_dir(s["sequence_number"]))

        compacts = [
            s["id"]
            for s in self.snapshots()
            if s["commit_kind"] == "COMPACT"
            and s["id"] <= latest
            and _is_full_compaction(s)
        ]
        prev_compact = max(compacts, default=None)
        after = self._merged(spark, snapshot_id=latest)
        cols = [f.name for f in self.schema.fields]
        pk = self.primary_key
        vals = [c for c in cols if c not in pk]
        if prev_compact is None:
            changelog = after.withColumn("_change_type", F.lit("+I"))
        else:
            before = self._merged(spark, snapshot_id=prev_compact)
            b = before.select(
                *pk,
                F.lit(True).alias("__had_pre"),
                *[F.col(c).alias(f"__pre_{c}") for c in vals],
            )
            j = after.withColumn("__in_after", F.lit(True)).join(b, on=pk, how="full")
            in_after = F.coalesce(F.col("__in_after"), F.lit(False))
            had_pre = F.coalesce(F.col("__had_pre"), F.lit(False))
            same = F.lit(True)
            for c in vals:
                same = same & F.col(c).eqNullSafe(F.col(f"__pre_{c}"))
            inserts = j.filter(in_after & ~had_pre).select(*cols).withColumn(
                "_change_type", F.lit("+I")
            )
            changed = j.filter(in_after & had_pre & ~same)
            pre_rows = changed.select(
                *pk, *[F.col(f"__pre_{c}").alias(c) for c in vals]
            ).withColumn("_change_type", F.lit("-U"))
            post_rows = changed.select(*cols).withColumn("_change_type", F.lit("+U"))
            gone = j.filter(~in_after & had_pre).select(
                *pk, *[F.col(f"__pre_{c}").alias(c) for c in vals]
            ).withColumn("_change_type", F.lit("-D"))
            changelog = (
                inserts.unionByName(pre_rows).unionByName(post_rows).unionByName(gone)
            )
        seq = self.snapshot(sid)["sequence_number"]
        changelog.select(*cols, "_change_type").write.mode("overwrite").parquet(
            self.paths.changelog_dir(seq)
        )

    # ------------------------------------------------------------------
    # row-level DML (DELETE / UPDATE)
    # ------------------------------------------------------------------
    def _dv_republish(
        self, spark: SparkSession, rewrite_entries: list[dict], doomed
    ) -> list[dict]:
        """Write a commit's deletion vector and re-publish the affected
        entries against it. ``doomed`` is a DataFrame(file_name,
        row_index) of NEWLY dead positions; the written vector is the
        union with each file's PRIOR vector (rows once deleted stay
        deleted), and every entry's record_count keeps tracking LIVE
        rows so the metadata COUNT pushdown stays exact. Entries whose
        live count reaches zero are dropped entirely."""
        old_dvs = sorted(
            {e["deletion_vector"] for e in rewrite_entries if e.get("deletion_vector")}
        )
        prior_counts: dict[str, int] = {}
        prior = None
        if old_dvs:
            basenames = [os.path.basename(e["file_path"]) for e in rewrite_entries]
            prior = spark.read.parquet(
                *[os.path.join(self.paths.root, p) for p in old_dvs]
            ).filter(F.col("file_name").isin(basenames))
            prior = prior.persist()
            prior_counts = {
                r["file_name"]: r["n"]
                for r in prior.groupBy("file_name").agg(F.count("*").alias("n")).collect()
            }
            doomed = doomed.unionByName(prior)
        dv_rel = os.path.join("dv", f"dv-{uuid.uuid4().hex}")
        doomed.write.mode("overwrite").parquet(os.path.join(self.paths.root, dv_rel))
        if prior is not None:
            prior.unpersist()
        dv_written = spark.read.parquet(os.path.join(self.paths.root, dv_rel))
        counts = {
            r["file_name"]: r["n"]
            for r in dv_written.groupBy("file_name").agg(F.count("*").alias("n")).collect()
        }
        entries = []
        for e in rewrite_entries:
            base = os.path.basename(e["file_path"])
            # prior-vector rows are already discounted from the entry's
            # record_count; the new vector's per-file count is
            # CUMULATIVE — subtract only the newly-dead delta
            newly = counts.get(base, 0) - prior_counts.get(base, 0)
            live = e["record_count"] - newly
            ne = dict(e)
            ne["deletion_vector"] = dv_rel
            ne["record_count"] = live
            if live > 0:
                entries.append(ne)
        return entries

    def delete_where(self, spark: SparkSession, predicate: str) -> int | None:
        """Row-level DELETE.

        PK tables: retraction upsert (__op='D') for the matching keys —
        O(matching rows), merge-on-read hides them immediately.
        Append tables: copy-on-write — manifest pruning narrows to the
        files that *can* contain matches, only those are rewritten
        without the matching rows; untouched files stay in place. At
        100 TB a selective predicate rewrites a handful of files, never
        the table."""
        if self.primary_key:
            if self.merge_engine != "deduplicate":
                raise ValueError(
                    f"{self.name}: DELETE is undefined under merge-engine "
                    f"'{self.merge_engine}' (no retraction semantics); "
                    "rewrite via overwrite()"
                )
            victims = self.read(spark, where=predicate)
            if victims.isEmpty():
                return None
            return self.upsert(victims.withColumn("__op", F.lit("D")))
        expected = self.latest_snapshot_id()
        affected_entries = prune_entries(self.manifest(), predicate, root=self.paths.root)
        if not affected_entries:
            return None
        # file-level metadata delete: a file the predicate provably
        # covers in full (partition value / all-rows-in-range numeric
        # stats, see entry_fully_covered) is DROPPED from the manifest
        # — no read, no rewrite. Dropping a whole partition of a
        # 100 TB table is a metadata commit; only boundary-straddling
        # files pay the copy-on-write.
        conds = parse_simple_conds(predicate)
        pkeys = self.partition_keys
        rewrite_entries = (
            affected_entries
            if conds is None
            else [e for e in affected_entries if not entry_fully_covered(e, conds, pkeys)]
        )
        affected = {e["file_path"] for e in affected_entries}
        dv_mode = (
            str(self.options.get("deletion-vectors.enabled", "false")).lower() == "true"
        )
        if rewrite_entries and dv_mode:
            # deletion vectors (Paimon 0.9 / Iceberg v2 positional
            # deletes): instead of rewriting a straddling file, record
            # the POSITIONS of its matching rows in a dv/ parquet and
            # re-publish the entry pointing at it — the delete costs
            # O(matching rows), not O(file bytes). _read_entries with
            # positions already applies each file's EXISTING vector, so
            # the new positions are only the newly-deleted rows; the
            # commit's vector is the union (old rows stay deleted).
            tagged = self._read_entries(spark, rewrite_entries, with_positions=True)
            doomed = tagged.filter(f"({predicate}) IS TRUE").select(
                F.col("__file").alias("file_name"), F.col("__pos").alias("row_index")
            )
            entries = self._dv_republish(spark, rewrite_entries, doomed)
            return self._commit(
                entries, "OVERWRITE", replaced=affected, expected_latest=expected
            )
        if rewrite_entries:
            # evolution-aware read: rewriting old files with the CURRENT
            # schema by name would null-fill renamed columns and persist
            # the loss (the rewritten files get stamped schema_id=current).
            # IS NOT TRUE, not NOT(...): DELETE removes rows where the
            # predicate is TRUE — a NULL predicate (e.g. `k < 600` on a
            # NULL k) must SURVIVE, and NOT(NULL) is NULL, which a plain
            # filter would silently drop
            survivors = self._read_entries(spark, rewrite_entries).filter(
                f"({predicate}) IS NOT TRUE"
            )
            _, entries = self._stage_write(survivors)
        else:
            entries = []
        return self._commit(
            entries, "OVERWRITE", replaced=affected, expected_latest=expected
        )

    def update_where(self, spark: SparkSession, set_exprs: dict, predicate: str) -> int | None:
        """Row-level UPDATE (SET col = sql_expr WHERE predicate).

        PK tables: upsert the updated images of matching rows.
        Append tables: copy-on-write of the pruned file set, applying
        the SET expressions to matching rows and passing the rest
        through unchanged."""
        def apply_set(df):
            cols = []
            for f in self.schema.fields:
                if f.name in set_exprs:
                    cols.append(
                        F.when(F.expr(predicate), F.expr(set_exprs[f.name]))
                        .otherwise(F.col(f.name))
                        .cast(f.dataType)
                        .alias(f.name)
                    )
                else:
                    cols.append(F.col(f.name))
            return df.select(*cols)

        fields = {f.name: f for f in self.schema.fields}
        if self.primary_key:
            if self.merge_engine == "aggregation":
                raise ValueError(
                    f"{self.name}: UPDATE under merge-engine 'aggregation' "
                    "would re-aggregate the updated image into itself; "
                    "rewrite via overwrite()"
                )
            if self.merge_engine == "first-row":
                # the updated image would be a LATER row per key, which
                # first-wins silently ignores — refuse rather than no-op
                raise ValueError(
                    f"{self.name}: UPDATE under merge-engine 'first-row' "
                    "is ignored by the first-wins merge; rewrite via "
                    "overwrite()"
                )
            updated = self.read(spark, where=predicate)
            if updated.isEmpty():
                return None
            for col, expr in set_exprs.items():
                # cast back to the declared type: an uncast SET (v = v/2
                # → double) would stage mistyped parquet that every later
                # schema-pinned read rejects
                updated = updated.withColumn(col, F.expr(expr).cast(fields[col].dataType))
            return self.upsert(updated)
        expected = self.latest_snapshot_id()
        affected_entries = prune_entries(self.manifest(), predicate, root=self.paths.root)
        if not affected_entries:
            return None
        affected = {e["file_path"] for e in affected_entries}
        if str(self.options.get("deletion-vectors.enabled", "false")).lower() == "true":
            # DV-mode UPDATE (the Paimon MoR pairing): vector the OLD
            # positions of matching rows and APPEND their patched
            # images as new files — O(matching rows), never an
            # O(file bytes) rewrite of the untouched remainder
            tagged = self._read_entries(spark, affected_entries, with_positions=True)
            matched = tagged.filter(f"({predicate}) IS TRUE").persist()
            try:
                if matched.isEmpty():
                    return None
                patched = apply_set(matched.drop("__file", "__pos"))
                _, new_files = self._stage_write(patched)
                doomed = matched.select(
                    F.col("__file").alias("file_name"),
                    F.col("__pos").alias("row_index"),
                )
                entries = self._dv_republish(spark, affected_entries, doomed)
            finally:
                matched.unpersist()
            return self._commit(
                entries + new_files, "OVERWRITE", replaced=affected,
                expected_latest=expected,
            )
        rewritten = apply_set(self._read_entries(spark, affected_entries))
        _, entries = self._stage_write(rewritten)
        return self._commit(
            entries, "OVERWRITE", replaced=affected, expected_latest=expected
        )

    def compact_minor(self) -> int | None:
        """Minor (L0) compaction: merge only the level-0 files of each
        bucket into one file, leaving already-compacted higher-level
        files untouched — the incremental LSM merge the reference tunes
        with 'compaction.max.file-num' (tutorial/guide.md:269-270). At
        scale this bounds write amplification: a full rewrite touches
        the whole table; a minor pass touches only the fresh commits."""
        spark = SparkSession.getActiveSession()
        latest = self.latest_snapshot_id()
        if latest is None:
            return None
        # a minor pass rewrites only a SUBSET of files — during a
        # pending bucket rescale that would re-hash the subset under the
        # new modulus while the rest keeps the old one; only the full
        # rewrite (compact / INSERT OVERWRITE) may rescale
        self._check_bucket_rescale()
        l0 = [e for e in self.manifest(latest) if e["level"] == 0]
        if len(l0) <= 1:
            return None
        # evolution-aware read (never schema inference: with mixed-schema
        # L0 files, inference picks ONE file's schema and silently drops
        # or misreads the others' columns in the rewritten output)
        df = self._read_entries(spark, l0)
        _, entries = self._stage_write(df)
        for e in entries:
            e["level"] = 1
        if self.primary_key:
            # preserve merge ordering: rewritten rows keep their own __seq
            # values (they are in the data), commit sequence stays monotone
            seq = self.snapshot(latest)["sequence_number"]
            return self._commit(
                entries, "COMPACT", replaced={e["file_path"] for e in l0},
                sequence_number=seq, expected_latest=latest,
                snapshot_extra={"compaction": "minor"},
            )
        return self._commit(
            entries, "COMPACT", replaced={e["file_path"] for e in l0},
            expected_latest=latest, snapshot_extra={"compaction": "minor"},
        )

    _DURATION_UNITS = {
        "ms": 1, "s": 1000, "sec": 1000, "second": 1000, "seconds": 1000,
        "m": 60_000, "min": 60_000, "minute": 60_000, "minutes": 60_000,
        "h": 3_600_000, "hour": 3_600_000, "hours": 3_600_000,
        "d": 86_400_000, "day": 86_400_000, "days": 86_400_000,
    }

    @classmethod
    def _parse_duration_ms(cls, spec: str) -> int:
        """Flink duration spelling: '20s', '20 s', '1 h', '30 min'…"""
        m = re.match(r"^\s*(\d+)\s*([a-zA-Z]+)\s*$", str(spec))
        if not m or m.group(2).lower() not in cls._DURATION_UNITS:
            raise ValueError(f"unparseable duration {spec!r}")
        return int(m.group(1)) * cls._DURATION_UNITS[m.group(2).lower()]

    def _maybe_auto_expire(self) -> None:
        """Honor 'snapshot.num-retained.max' / 'snapshot.time-retained'
        at commit time — Paimon expires snapshots automatically as part
        of every commit, and the reference tutorial RELIES on that
        (ALTER TABLE SET time-retained='20s' then watches old snapshots
        disappear, tutorial/guide.md:181-183,266-268). Explicit
        expire_snapshots() remains available; consumer/tag pins apply
        to both paths."""
        o = self.options
        # write-only writers skip automatic expiration too (Paimon's
        # write-only contract covers compaction AND snapshot expiry):
        # the ingest job must not expire snapshots out from under the
        # dedicated compactor or changelog/incremental consumers
        if str(o.get("write-only", "false")).lower() == "true":
            return
        rmax = o.get("snapshot.num-retained.max")
        tret = o.get("snapshot.time-retained")
        if rmax is None and tret is None:
            return
        rmin = o.get("snapshot.num-retained.min")
        self.expire_snapshots(
            retain_min=int(rmin) if rmin else 1,
            retain_max=int(rmax) if rmax else None,
            older_than_ms=(
                now_millis() - self._parse_duration_ms(tret) if tret else None
            ),
        )

    def _maybe_auto_expire_partitions(self) -> None:
        """Honor 'partition.expiration-time' (+ optional
        'partition.timestamp-formatter', default '%Y-%m-%d'): partitions
        whose FORMATTED-DATE value falls before now - expiration are
        dropped at commit time (Paimon's automatic partition expiry).
        The check is metadata-only (manifest partition values); a
        delete commit happens only when something actually expired, so
        steady-state commits pay one manifest scan and nothing else."""
        spec = self.options.get("partition.expiration-time")
        if not spec or not self.partition_keys:
            return
        if str(self.options.get("write-only", "false")).lower() == "true":
            return  # write-only: no automatic maintenance of any kind
        import datetime

        fmt = self.options.get("partition.timestamp-formatter", "%Y-%m-%d")
        pcol = self.partition_keys[0]
        cutoff_dt = datetime.datetime.utcfromtimestamp(
            (now_millis() - self._parse_duration_ms(spec)) / 1000.0
        )
        cutoff = cutoff_dt.strftime(fmt)
        latest = self.latest_snapshot_id()
        if latest is None:
            return
        live = {
            str(e.get("partition", {}).get(pcol))
            for e in self.manifest(latest)
            if e.get("partition")
        }

        def _expired(v: str) -> bool:
            try:
                return datetime.datetime.strptime(v, fmt) < cutoff_dt
            except ValueError:
                return False  # unparseable partition values never expire

        if any(_expired(v) for v in live):
            # reentrancy guard: the delete's own commit re-enters this
            # hook, and on PK tables the retraction files keep the old
            # partition value in the manifest until compaction
            if getattr(self, "_expiring_partitions", False):
                return
            self._expiring_partitions = True
            try:
                spark = SparkSession.getActiveSession()
                # string comparison matches date order for the supported
                # zero-padded formatter family; the predicate rides the
                # manifest pruner so only expired partitions' files rewrite
                self.delete_where(spark, f"{pcol} < '{cutoff}'")
            finally:
                self._expiring_partitions = False

    def _maybe_auto_compact(self) -> None:
        """Honor 'full-compaction.delta-commits' (full rewrite every N
        commits) and 'compaction.max.file-num' (minor L0 merge when the
        fresh-file count exceeds the bound) — tutorial/guide.md:269-270.

        'write-only' = 'true' (Paimon 0.5): the writer skips ALL
        automatic compaction so ingest latency never pays a rewrite —
        the deployment pairs it with a dedicated compactor job (here:
        explicit compact()/compact_minor() calls or CALL sys.compact)."""
        if str(self.options.get("write-only", "false")).lower() == "true":
            return
        delta = self.options.get("full-compaction.delta-commits")
        if delta:
            snaps = self.snapshots()
            since = 0
            for s in reversed(snaps):
                if s["commit_kind"] == "COMPACT":
                    break
                since += 1
            if since >= int(delta) and self.latest_snapshot_id() is not None:
                self.compact()
                return
        max_files = self.options.get("compaction.max.file-num")
        if max_files:
            latest = self.latest_snapshot_id()
            if latest is not None:
                l0 = [e for e in self.manifest(latest) if e["level"] == 0]
                if len(l0) > int(max_files):
                    self.compact_minor()

    def remove_orphan_files(self, older_than_ms: int | None = None) -> list[str]:
        """Delete data files on disk that no live snapshot references —
        the residue of a writer that crashed between staging and commit
        (Paimon's remove_orphan_files action). ``older_than_ms`` is an
        epoch-millis cutoff guarding against racing an in-flight commit:
        only files with mtime strictly before it are removed. Defaults
        to 1 h ago; pass a FUTURE timestamp to clean everything in tests
        (0 would make the cutoff the epoch and remove nothing)."""
        import time as _time

        cutoff = (
            older_than_ms
            if older_than_ms is not None
            else int(_time.time() * 1000) - 3_600_000
        )
        referenced: set[str] = set()
        for s in self.snapshots():
            referenced |= {e["file_path"] for e in self.manifest(s["id"])}
        referenced |= self._external_referenced_files()  # cross-chain guard
        removed = []
        pdirs = ["*"] * len(self.partition_keys)
        for ext in ("parquet", "orc"):
            for f in glob.glob(
                os.path.join(self.paths.root, *pdirs, "bucket-*", f"*.{ext}")
            ):
                rel = os.path.relpath(f, self.paths.root)
                if rel not in referenced and os.path.getmtime(f) * 1000 < cutoff:
                    _unlink_with_sidecar(f)
                    removed.append(rel)
        # deletion-vector dirs no chain references (compacted away,
        # rolled back, or crash residue) are orphans
        referenced_dv = {
            e["deletion_vector"]
            for s in self.snapshots()
            for e in self.manifest(s["id"])
            if e.get("deletion_vector")
        }
        for b in self.branches():
            bt = self.use_branch(b)
            referenced_dv |= {
                e["deletion_vector"]
                for s in bt.snapshots()
                for e in bt.manifest(s["id"])
                if e.get("deletion_vector")
            }
        for d in glob.glob(os.path.join(self.paths.root, "dv", "dv-*")):
            rel = os.path.relpath(d, self.paths.root)
            if rel not in referenced_dv and os.path.getmtime(d) * 1000 < cutoff:
                shutil.rmtree(d, ignore_errors=True)
                removed.append(rel)
        # bloom sidecars whose data file is gone (deleted by an older
        # engine version, or the sidecar outlived a crash) are orphans
        for f in glob.glob(
            os.path.join(self.paths.root, *pdirs, "bucket-*", f"*{_BFX_SUFFIX}")
        ):
            if not os.path.exists(f[: -len(_BFX_SUFFIX)]) and os.path.getmtime(f) * 1000 < cutoff:
                os.unlink(f)
                removed.append(os.path.relpath(f, self.paths.root))
        # abandoned staging dirs are orphans too — both the data staging
        # at the root and changelog staging left by a crashed upsert
        # writer (its pending dir is renamed into place only post-commit)
        for pat in (
            ".staging-*",
            os.path.join("changelog", ".staging-*"),
            os.path.join("index", ".staging-*"),
        ):
            for d in glob.glob(os.path.join(self.paths.root, pat)):
                if os.path.getmtime(d) * 1000 < cutoff:
                    shutil.rmtree(d, ignore_errors=True)
                    removed.append(os.path.relpath(d, self.paths.root))
        return removed

    def expire_snapshots(
        self, retain_min: int = 1, retain_max: int | None = None, older_than_ms: int | None = None
    ) -> list[int]:
        """Retention (snapshot.num-retained / time-retained,
        tutorial/guide.md:181-183,266-268): drop expired snapshots and
        any data files referenced only by them."""
        snaps = self.snapshots()
        if not snaps:
            return []
        latest = snaps[-1]["id"]
        keep: set[int] = set()
        for s in snaps:
            age_ok = older_than_ms is None or s["timestamp_ms"] >= older_than_ms
            if age_ok:
                keep.add(s["id"])
        # always retain at least retain_min newest, at most retain_max
        ids = [s["id"] for s in snaps]
        for sid in ids[-retain_min:]:
            keep.add(sid)
        if retain_max is not None:
            keep = set(sorted(keep)[-retain_max:])
        keep.add(latest)
        # tagged snapshots are pinned: a tag is a promise the snapshot
        # stays readable (Paimon tag semantics)
        keep |= {t["snapshot_id"] for t in self.tags().values() if t["snapshot_id"] in set(ids)}
        # registered consumers pin their unconsumed window: every
        # snapshot at or past the slowest consumer's next-to-read id
        # survives, so aggressive time-retention (guide.md:181-183,
        # snapshot.time-retained='20s') cannot outrun a stalled reader.
        # 'consumer.expiration-time' (Paimon; round-6 VERDICT ask #5)
        # bounds that pin: a consumer whose bookmark has not been
        # touched (register/advance refreshes update_time_ms) within
        # the window is considered dead — its file is deleted here and
        # it stops pinning, so a crashed subscriber cannot hold
        # snapshots forever
        cexp = self.options.get("consumer.expiration-time")
        consumers = self.consumers()
        if cexp is not None:
            cutoff = now_millis() - self._parse_duration_ms(cexp)
            for cid, doc in list(consumers.items()):
                if doc.get("update_time_ms", 0) < cutoff:
                    self.drop_consumer(cid)
                    del consumers[cid]
        nexts = [c["next_snapshot_id"] for c in consumers.values()]
        if nexts:
            floor = min(nexts)
            keep |= {sid for sid in ids if sid >= floor}
        expired = [sid for sid in ids if sid not in keep]
        if not expired:
            return []
        referenced: set[str] = set()
        for sid in keep:
            referenced |= {e["file_path"] for e in self.manifest(sid)}
        referenced |= self._external_referenced_files()  # cross-chain guard
        kept_seqs = {self.snapshot(sid)["sequence_number"] for sid in keep}
        # a kept snapshot whose manifest delta-chains through an expired
        # base must be materialized as a full manifest first, or it
        # becomes unreadable the moment the base is deleted. The delta
        # fields stay beside the image (readers prefer ``files``), so
        # incremental reads from an expired snapshot still see what
        # each kept commit added
        expired_set = set(expired)
        for sid in sorted(keep):
            if sid in set(ids) and self._manifest_chain(sid) & expired_set:
                path = self.paths.manifest_path(sid)
                atomic_write_json(path, {**read_json(path), "files": self.manifest(sid)})
        # and every doomed delta must be materialized before ANY
        # manifest deletion (its base may be deleted first)
        expired_entries = {sid: self.manifest(sid) for sid in expired}
        for sid in expired:
            seq = self.snapshot(sid)["sequence_number"]
            for e in expired_entries[sid]:
                if e["file_path"] not in referenced:
                    _unlink_with_sidecar(os.path.join(self.paths.root, e["file_path"]))
            os.unlink(self.paths.manifest_path(sid))
            os.unlink(self.paths.snapshot_path(sid))
            # expired commits' changelog rows expire with them (kept
            # sequence numbers may be shared by COMPACT snapshots — only
            # remove a changelog dir no retained snapshot claims)
            if seq not in kept_seqs:
                shutil.rmtree(self.paths.changelog_dir(seq), ignore_errors=True)
        self.paths.write_pointer("EARLIEST", min(keep))
        return expired

    # ------------------------------------------------------------------
    # system tables (tutorial/guide.md:200-234; FIXTURES.md A4)
    # ------------------------------------------------------------------
    def files_table(self, spark: SparkSession) -> DataFrame:
        rows = [
            (
                e["file_path"],
                e.get("partition", {}),
                e["level"],
                e["record_count"],
                e["file_size_in_bytes"],
                {k: str(v["min"]) for k, v in e.get("stats", {}).items()},
                e.get("min_sequence_number", 0),
                e["creation_time"],
            )
            for e in self.manifest()
        ]
        schema = (
            "file_path string, partition map<string,string>, level int, record_count long, "
            "file_size_in_bytes long, "
            "min_value_stats map<string,string>, min_sequence_number long, creation_time timestamp"
        )
        import datetime

        rows = [
            r[:7] + (datetime.datetime.fromtimestamp(r[7] / 1000.0),)
            for r in rows
        ]
        return spark.createDataFrame(rows, schema)

    def schemas_table(self, spark: SparkSession) -> DataFrame:
        """$schemas: one row per schema version (schema-0, schema-1, …
        — assets/output5.png)."""
        import datetime
        import json as _json

        rows = []
        for v in range(self.schema_version + 1):
            doc = self.schema_doc(v)
            rows.append(
                (
                    v,
                    ",".join(f.name for f in StructType.fromJson(doc["schema"]).fields),
                    _json.dumps(doc["options"], sort_keys=True),
                    datetime.datetime.fromtimestamp(doc["created_ms"] / 1000.0),
                )
            )
        return spark.createDataFrame(
            rows, "schema_id long, fields string, options string, update_time timestamp"
        )

    def tags_table(self, spark: SparkSession) -> DataFrame:
        """$tags: one row per tag (name, pinned snapshot, its commit
        facts) — Paimon's tags system table."""
        import datetime

        rows = []
        for doc in sorted(self.tags().values(), key=lambda d: d["tag_name"]):
            snap = self.snapshot(doc["snapshot_id"])
            rows.append(
                (
                    doc["tag_name"],
                    doc["snapshot_id"],
                    snap["schema_id"],
                    datetime.datetime.fromtimestamp(doc["creation_time_ms"] / 1000.0),
                    snap["total_record_count"],
                )
            )
        return spark.createDataFrame(
            rows,
            "tag_name string, snapshot_id long, schema_id long, "
            "create_time timestamp, record_count long",
        )

    def options_table(self, spark: SparkSession) -> DataFrame:
        """$options: the table's option set as (key, value) rows —
        Paimon's options system table (list-typed values render in
        their canonical csv spelling)."""
        rows = [
            (k, ",".join(v) if isinstance(v, list) else str(v))
            for k, v in sorted(self.options.items())
        ]
        return spark.createDataFrame(rows, "key string, value string")

    def audit_log_table(self, spark: SparkSession) -> DataFrame:
        """$audit_log: the stored changelog with Paimon's ``rowkind``
        column name (+I/-U/+U/-D) — the batch-queryable audit trail of
        a changelog-producing PK table. Empty (correct schema) when no
        changelog exists."""
        return self.read_changelog(spark).withColumnRenamed("_change_type", "rowkind")

    def branches_table(self, spark: SparkSession) -> DataFrame:
        """$branches: one row per branch (Paimon's branches system
        table) — name, anchor snapshot, creation time, and the
        branch's current head."""
        import datetime

        rows = []
        for doc in sorted(self.branches().values(), key=lambda d: d["branch"]):
            head = self.use_branch(doc["branch"]).latest_snapshot_id()
            rows.append(
                (
                    doc["branch"],
                    doc["created_from_snapshot"],
                    head,
                    datetime.datetime.fromtimestamp(doc["creation_time_ms"] / 1000.0),
                )
            )
        return spark.createDataFrame(
            rows,
            "branch_name string, created_from_snapshot long, "
            "latest_snapshot long, create_time timestamp",
        )

    def consumers_table(self, spark: SparkSession) -> DataFrame:
        """$consumers: one row per registered streaming consumer
        (Paimon's consumers system table) — the bookmark that pins its
        unconsumed snapshot window against expiry."""
        import datetime

        rows = [
            (
                doc["consumer_id"],
                doc["next_snapshot_id"],
                datetime.datetime.fromtimestamp(doc["update_time_ms"] / 1000.0),
            )
            for doc in sorted(self.consumers().values(), key=lambda d: d["consumer_id"])
        ]
        return spark.createDataFrame(
            rows, "consumer_id string, next_snapshot_id long, update_time timestamp"
        )

    def partitions_table(self, spark: SparkSession) -> DataFrame:
        """$partitions: per-partition file/row/byte totals from the
        LATEST manifest — the scan-planning view of a partitioned table
        (Paimon's partitions system table). Unpartitioned tables get one
        row with an empty partition map."""
        import datetime
        from collections import defaultdict

        agg: dict[tuple, dict] = defaultdict(
            lambda: {"record_count": 0, "file_size_in_bytes": 0, "file_count": 0, "last_ms": 0}
        )
        for e in self.manifest():
            part = e.get("partition", {}) or {}
            key = tuple(sorted((k, str(v)) for k, v in part.items()))
            a = agg[key]
            a["record_count"] += e["record_count"]
            a["file_size_in_bytes"] += e["file_size_in_bytes"]
            a["file_count"] += 1
            a["last_ms"] = max(a["last_ms"], e.get("creation_time", 0))
        rows = [
            (
                dict(k),
                a["record_count"],
                a["file_size_in_bytes"],
                a["file_count"],
                datetime.datetime.fromtimestamp(a["last_ms"] / 1000.0),
            )
            for k, a in sorted(agg.items())
        ]
        return spark.createDataFrame(
            rows,
            "partition map<string,string>, record_count long, file_size_in_bytes long, "
            "file_count long, last_update_time timestamp",
        )

    def snapshots_table(self, spark: SparkSession) -> DataFrame:
        import datetime

        rows = [
            (
                s["id"],
                s["schema_id"],
                s["commit_kind"],
                s.get("commit_identifier"),
                s["sequence_number"],
                datetime.datetime.fromtimestamp(s["timestamp_ms"] / 1000.0),
                s["total_record_count"],
                s["total_files"],
            )
            for s in self.snapshots()
        ]
        schema = (
            "snapshot_id long, schema_id long, commit_kind string, commit_identifier long, "
            "sequence_number long, commit_time timestamp, total_record_count long, total_files long"
        )
        return spark.createDataFrame(rows, schema)

    def manifests_table(self, spark: SparkSession) -> DataFrame:
        """$manifests: one row per snapshot's manifest document —
        exposes the incremental-manifest shape (full image vs delta,
        base chain, added/removed counts, on-disk bytes) so operators
        can see commit metadata cost directly (Paimon's $manifests
        analogue over this layout's one-document-per-snapshot form)."""
        rows = []
        for s in self.snapshots():
            sid = s["id"]
            path = self.paths.manifest_path(sid)
            doc = read_json(path)
            full = "files" in doc
            rows.append(
                (
                    sid,
                    "full" if full else "delta",
                    None if full else doc["base_snapshot"],
                    len(doc["files"]) if full else len(doc["added"]),
                    0 if full else len(doc.get("removed", ())),
                    os.path.getsize(path),
                )
            )
        schema = (
            "snapshot_id long, kind string, base_snapshot long, "
            "added_or_total_files long, removed_files long, manifest_bytes long"
        )
        return spark.createDataFrame(rows, schema)


_ZORDER_BITS = 8  # quantile buckets per column (2^8 → 256 ranks)


def _zorder_key(df: DataFrame, cols: list[str], bits: int = _ZORDER_BITS) -> F.Column:
    """Z-order (Morton) key over ``cols`` as a pure codegen expression.

    Each column is rank-bucketed through its own approximate quantile
    boundaries (ONE df.stat.approxQuantile pass for all columns; 2^bits
    − 1 boundary literals each — a few KB on the driver), then the
    per-column bucket bits are interleaved. Quantile bucketing makes
    the curve distribution-proof: skewed or non-uniform columns still
    split into equal-mass ranks, which is what gives every listed
    column tight per-file min/max ranges. No global sort, no extra
    shuffle — the cost over a plain write is the quantile sketch pass
    plus a per-row O(2^bits · |cols|) literal fold (the same pattern as
    the IVF literal centroids). Sort-compact zorder in Paimon plays the
    same role for its LSM files."""
    n = 1 << bits
    qs = df.stat.approxQuantile(cols, [i / n for i in range(1, n)], 0.01)

    def _bucket(cname: str, arr):
        # rank = #boundaries ≤ value (a 2-arg lambda: F.aggregate
        # dispatches on the callable's arity)
        return F.aggregate(
            arr,
            F.lit(0),
            lambda acc, b: acc
            + F.when(F.col(cname).cast("double") >= b, 1).otherwise(0),
        )

    z = F.lit(0).cast("long")
    for ci, (c, bounds) in enumerate(zip(cols, qs)):
        if not bounds:  # empty batch / all-null column: no boundaries
            continue
        bucket = _bucket(c, F.array(*[F.lit(float(b)) for b in bounds]))
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(bucket, i).bitwiseAND(F.lit(1)).cast("long"),
                i * len(cols) + ci,
            )
    return z


# ----------------------------------------------------------------------
# manifest stats + pruning
# ----------------------------------------------------------------------
def _staging_partitions(df: DataFrame, spark: SparkSession) -> int | None:
    """Partition count for the staging exchange, sized to the input's
    Catalyst size estimate at ~128 MB per write task (guide §2.2/§6) and
    capped at the session shuffle default (corpus-scale writes keep full
    fan-out; the cap also guards against Catalyst's join-product
    estimates, which can be absurd). None = no usable estimate."""
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        est = int(size if isinstance(size, int) else size.toString())
    except Exception:
        return None
    if est <= 0 or est > (1 << 50):  # unknown/absurd → session default
        return None
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, min(est // (128 << 20) + 1, cap))


def _footer_stats(meta) -> dict:
    """Aggregate parquet row-group min/max into per-column stats."""
    stats: dict[str, dict] = {}
    schema_names = [meta.row_group(0).column(i).path_in_schema for i in range(meta.num_columns)] if meta.num_row_groups else []
    for rg in range(meta.num_row_groups):
        for i in range(meta.num_columns):
            col = meta.row_group(rg).column(i)
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                _ = st.min, st.max  # may raise for exotic physical types
            except Exception:
                continue  # stats are optional; skip columns arrow can't decode
            name = schema_names[i]
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    continue
            # Manifest stats must be JSON + comparison-safe (round 15,
            # found by the x135 decimal/timestamp sink):
            # - datetime stats are SKIPPED: an ISO-string bound would
            #   compare lexicographically against whatever format a
            #   predicate literal uses — a format mismatch could prune
            #   a file that matches. No stats = no pruning = correct.
            # - decimal stats become floats widened ONE ULP OUTWARD, so
            #   float rounding can never narrow the range (a bound
            #   rounded inward would let the pruner drop a file whose
            #   true min/max equals the query literal).
            if isinstance(mn, (_dt.datetime, _dt.date)):
                continue
            if isinstance(mn, _decimal.Decimal):
                f_mn, f_mx = float(mn), float(mx)
                if _decimal.Decimal(f_mn) > mn:
                    f_mn = math.nextafter(f_mn, -math.inf)
                if _decimal.Decimal(f_mx) < mx:
                    f_mx = math.nextafter(f_mx, math.inf)
                mn, mx = f_mn, f_mx
            try:
                nulls = st.null_count if st.has_null_count else None
            except Exception:
                nulls = None
            cur = stats.get(name)
            if cur is None:
                stats[name] = {"min": mn, "max": mx, "nulls": nulls}
            else:
                cur["min"] = min(cur["min"], mn)
                cur["max"] = max(cur["max"], mx)
                # per-file null count only if every row group reports one
                cur["nulls"] = (
                    cur["nulls"] + nulls
                    if cur["nulls"] is not None and nulls is not None
                    else None
                )
    return {
        k: {"min": _jsonable(v["min"]), "max": _jsonable(v["max"]), "nulls": v["nulls"]}
        for k, v in stats.items()
    }


def _jsonable(v):
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


# ---------------------------------------------------------------------------
# Bloom-filter file index (Paimon's file-index.bloom-filter.* surface).
#
# min/max footer stats prune range predicates well ONLY when values are
# clustered (sort-by / zorder); a point lookup on an unsorted
# high-cardinality column — the PK-side probe of every enrichment and
# upsert pre-image read — sees near-full-range stats in every file and
# prunes nothing. Paimon's answer is a per-file bloom filter index;
# this is that design:
#
# - WRITE: when the table option 'file-index.bloom-filter.columns' is
#   set, every data file gets a sidecar `<file>.bfx` (JSON: per-column
#   m/k/kind + base64 bits, sized from the file's row count and
#   'file-index.bloom-filter.fpp', default 0.05). Sidecars are built
#   DISTRIBUTED — a mapInPandas pass over the staged file list, each
#   executor reading only ITS files' indexed columns — so the driver
#   stays metadata-only no matter the commit size.
# - READ: prune_entries(root=...) tests equality predicates against
#   the sidecar of every file min/max could not eliminate; a definite
#   bloom miss skips the file. Sidecars are immutable once written
#   (same lifecycle as data files) and cached per (path, size, mtime).
# - LIFECYCLE: sidecars ride their data file — unlinked together on
#   rollback / snapshot expiry / commit abort, swept by
#   remove_orphan_files when the data file is gone.
#
# Hashing: blake2b(canonical bytes) → Kirsch–Mitzenmacher double
# hashing (h1 + i·h2 mod m). Canonical form is kind-tagged: numerics
# (int/float/decimal/bool) pack as IEEE float64 — the prune-predicate
# parser produces floats for numeric literals, so both sides round
# identically and a miss is never false; strings hash utf-8. Columns
# of any other type are not indexed (the pruner keeps the file).
# NULLs are never inserted (an equality literal never matches NULL).
# ---------------------------------------------------------------------------

_BFX_SUFFIX = ".bfx"
_BFX_DEFAULT_FPP = 0.05


def _bloom_index_columns(options: dict) -> list[str]:
    raw = (options or {}).get("file-index.bloom-filter.columns")
    if not raw:
        return []
    return [c.strip() for c in str(raw).split(",") if c.strip()]


def _bloom_canon(value, kind: str) -> bytes | None:
    """Kind-tagged canonical bytes (see block comment); None = cannot
    canonicalize under this column's kind → caller keeps the file."""
    import struct as _struct

    if kind == "num":
        if isinstance(value, bool):
            value = float(value)
        if isinstance(value, (int, float)):
            try:
                return _struct.pack("<d", float(value))
            except (OverflowError, ValueError):
                return None
        return None
    if kind == "str" and isinstance(value, str):
        return value.encode("utf-8")
    return None


def _bloom_positions(canon: bytes, m: int, k: int):
    import hashlib as _hashlib

    d = _hashlib.blake2b(canon, digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """Optimal (m bits, k hashes) for n insertions at false-positive
    rate fpp: m = -n·ln p / ln²2, k = (m/n)·ln 2."""
    import math as _math

    n = max(n, 1)
    m = max(64, int(_math.ceil(-n * _math.log(fpp) / (_math.log(2) ** 2))))
    k = max(1, round(m / n * _math.log(2)))
    return m, k


def _write_bloom_sidecar(file_path: str, cols: list[str], fpp: float) -> None:
    """Build `<file_path>.bfx` for the indexed columns present in the
    file's schema. Runs on EXECUTORS (one call per staged file inside
    the mapInPandas pass) — reads only the indexed columns."""
    import base64 as _base64

    import pyarrow as _pa

    if file_path.endswith(".orc"):
        from pyarrow import orc as _orc

        f = _orc.ORCFile(file_path)
        schema = f.schema
        present = [c for c in cols if c in schema.names]
        tbl = f.read(columns=present) if present else None
    else:
        import pyarrow.parquet as _pq

        f = _pq.ParquetFile(file_path)
        schema = f.schema_arrow
        present = [c for c in cols if c in schema.names]
        tbl = f.read(columns=present) if present else None

    doc: dict = {"fpp": fpp, "columns": {}}
    for col in present:
        typ = schema.field(col).type
        if _pa.types.is_integer(typ) or _pa.types.is_floating(typ) or \
                _pa.types.is_decimal(typ) or _pa.types.is_boolean(typ):
            kind = "num"
        elif _pa.types.is_string(typ) or _pa.types.is_large_string(typ):
            kind = "str"
        else:
            continue  # unsupported type: column not indexed, file kept
        vals = [v for v in tbl.column(col).to_pylist() if v is not None]
        m, k = _bloom_params(len(vals), fpp)
        bits = bytearray((m + 7) // 8)
        for v in vals:
            canon = _bloom_canon(float(v) if kind == "num" else v, kind)
            if canon is None:
                continue
            for pos in _bloom_positions(canon, m, k):
                bits[pos >> 3] |= 1 << (pos & 7)
        doc["columns"][col] = {
            "m": m,
            "k": k,
            "kind": kind,
            "bits": _base64.b64encode(bytes(bits)).decode("ascii"),
        }
    atomic_write_json(file_path + _BFX_SUFFIX, doc)


def _build_bloom_sidecars(spark, abs_paths: list[str], cols: list[str], fpp: float) -> None:
    """Distributed sidecar build: executors each read their files'
    indexed columns and write the sidecars; the driver ships only the
    path list (metadata-sized)."""
    if not abs_paths:
        return
    import pandas as _pd

    def _build(batches):
        for pdf in batches:
            for p in pdf["path"]:
                _write_bloom_sidecar(p, cols, fpp)
            yield _pd.DataFrame({"path": pdf["path"]})

    sdf = spark.createDataFrame([(p,) for p in abs_paths], "path string")
    sdf.repartition(min(len(abs_paths), 64)).mapInPandas(_build, "path string").collect()


_BFX_CACHE: dict[str, tuple[tuple[int, int], dict]] = {}


def _read_bloom_sidecar(abs_path: str) -> dict | None:
    """Sidecar JSON, cached by (size, mtime_ns) — sidecars are
    immutable once written, but tmp-dir reuse across tests must not
    serve stale bits."""
    try:
        st = os.stat(abs_path)
    except OSError:
        return None
    key = (st.st_size, st.st_mtime_ns)
    hit = _BFX_CACHE.get(abs_path)
    if hit is not None and hit[0] == key:
        return hit[1]
    try:
        doc = read_json(abs_path)
    except (OSError, ValueError):
        return None
    if len(_BFX_CACHE) > 65536:
        _BFX_CACHE.clear()
    _BFX_CACHE[abs_path] = (key, doc)
    return doc


def _bloom_doc_may_contain(doc: dict | None, col: str, value) -> bool:
    """Doc-level membership test shared by the driver and executor
    probe paths. False ⇒ the file DEFINITELY lacks `col = value`
    (prunable); any missing/unreadable/mismatched piece ⇒ True."""
    import base64 as _base64

    if doc is None:
        return True
    spec = (doc.get("columns") or {}).get(col)
    if not spec:
        return True
    canon = _bloom_canon(value, spec["kind"])
    if canon is None:
        return True
    bits = _base64.b64decode(spec["bits"])
    for pos in _bloom_positions(canon, spec["m"], spec["k"]):
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def _bloom_may_contain(entry: dict, root: str, col: str, value) -> bool:
    """False ⇒ the file DEFINITELY lacks `col = value` (prunable).
    Any missing/unreadable/mismatched piece ⇒ True (keep the file)."""
    rel = entry.get("file_index")
    if not rel or root is None:
        return True
    return _bloom_doc_may_contain(_read_bloom_sidecar(os.path.join(root, rel)), col, value)


def _unlink_with_sidecar(path: str) -> None:
    """Remove a data file together with its bloom sidecar (if any)."""
    if os.path.exists(path):
        os.unlink(path)
    sidecar = path + _BFX_SUFFIX
    if os.path.exists(sidecar):
        os.unlink(sidecar)


def parse_simple_conds(where: str) -> list[tuple[str, str, object]] | None:
    """Parse a conjunction of `col <op> literal` conds (op ∈ {=, <,
    <=, >, >=}; literal = 'string' or number). None = unsupported
    shape — callers treat that as "cannot reason about the predicate"
    (pruners keep everything, metadata answers fall through to a
    scan)."""
    import re

    conds: list[tuple[str, str, object]] = []
    for part in re.split(r"(?i)\s+and\s+", where.strip()):
        m = re.match(r"^\s*(\w+)\s*(<=|>=|=|==|<|>)\s*('([^']*)'|[-0-9.eE]+)\s*$", part)
        if not m:
            return None
        col, op, lit_raw, lit_str = m.groups()
        value = lit_str if lit_str is not None else float(lit_raw)
        conds.append((col, op, value))
    return conds


def entry_fully_covered(entry: dict, conds: list[tuple[str, str, object]], partition_keys: list[str]) -> bool:
    """True ⇒ the predicate is TRUE for EVERY row of the file, decided
    by metadata alone — the file-level DELETE fast path (Iceberg
    metadata delete / Paimon drop-partition semantics). Decidable two
    ways, both conservative:
    - a PARTITION column: its value is constant (and non-null) across
      the file, so the cond evaluates exactly;
    - a numeric column whose footer min/max lie entirely inside the
      predicate range AND whose recorded null_count is 0 (stats ignore
      NULLs, and a NULL row must SURVIVE a delete — predicate unknown);
      strings are excluded (parquet string stats may be truncated).
    Any undecidable cond ⇒ False (the file is rewritten, never
    metadata-dropped)."""
    for col, op, value in conds:
        pval = (entry.get("partition") or {}).get(col)
        if pval is not None:
            if isinstance(value, float):
                try:
                    p: object = float(pval)
                except (TypeError, ValueError):
                    return False
            else:
                p = str(pval)
            if op in ("=", "=="):
                ok = p == value
            elif op == "<":
                ok = p < value
            elif op == "<=":
                ok = p <= value
            elif op == ">":
                ok = p > value
            else:
                ok = p >= value
            if not ok:
                return False
            continue
        st = (entry.get("stats") or {}).get(col)
        if (
            st is None
            or st.get("nulls") != 0
            or not isinstance(value, float)
            or not isinstance(st["min"], (int, float))
            or not isinstance(st["max"], (int, float))
        ):
            return False
        mn, mx = st["min"], st["max"]
        if op in ("=", "=="):
            ok = mn == value and mx == value
        elif op == "<":
            ok = mx < value
        elif op == "<=":
            ok = mx <= value
        elif op == ">":
            ok = mn > value
        else:
            ok = mn >= value
        if not ok:
            return False
    return True


# Above this many bloom-probe candidates, sidecar evaluation moves to
# EXECUTORS (one planning-time Spark job over the path list) instead of
# per-file driver JSON reads — at millions of files a cold plan must
# not pay O(candidate files) driver I/O (VERDICT r13 ask #3). Below it
# the driver's mtime-cached reads win (no job-scheduling overhead for
# a handful of files). Module-level so tests can force either path.
_BLOOM_DRIVER_PROBE_MAX = 256


def _bloom_prune_distributed(
    spark, probes: list[tuple[int, str]], eq_conds: list[tuple[str, object]]
) -> set[int]:
    """Executor-side sidecar evaluation: ships (idx, sidecar path)
    pairs — metadata-sized — and returns the indexes of files a bloom
    filter DEFINITELY rules out. Each executor reads only its own
    sidecars (the distributed-planning shape of Iceberg's metadata
    tree; chosen over a per-snapshot summary file because a summary
    over millions of files is itself a large object that the driver
    would read whole, while this path scales with executor count)."""
    import pandas as _pd

    def _eval(batches):
        for pdf in batches:
            dropped = []
            for idx, p in zip(pdf["idx"], pdf["path"]):
                doc = _read_bloom_sidecar(p)
                if doc is not None and not all(
                    _bloom_doc_may_contain(doc, col, value) for col, value in eq_conds
                ):
                    dropped.append(int(idx))
            yield _pd.DataFrame({"idx": _pd.Series(dropped, dtype="int64")})

    sdf = spark.createDataFrame(probes, "idx long, path string")
    rows = (
        sdf.repartition(min(len(probes), 64))
        .mapInPandas(_eval, "idx long")
        .collect()
    )
    return {r.idx for r in rows}


def prune_entries(entries: list[dict], where: str, root: str | None = None) -> list[dict]:
    """File-level pruning for conjunctions of `col <op> literal`
    (op ∈ {=, <, <=, >, >=}). Anything unparseable keeps the file
    (pruning is an optimization, never a filter). With ``root``,
    equality predicates additionally consult each surviving file's
    bloom sidecar (see the file-index block comment above) — driver-
    side below _BLOOM_DRIVER_PROBE_MAX candidates, executor-side
    above it."""
    conds = parse_simple_conds(where)
    if conds is None:
        return entries  # unsupported shape → no pruning

    def keep(entry: dict) -> bool:
        for col, op, value in conds:
            # partition values prune from the MANIFEST entry itself —
            # metadata-only, independent of footer stats, so formats
            # without column stats (ORC) still get partition pruning
            pval = (entry.get("partition") or {}).get(col)
            if pval is not None:
                if isinstance(value, float):
                    try:
                        pnum = float(pval)
                    except (TypeError, ValueError):
                        continue
                    st = {"min": pnum, "max": pnum}
                else:
                    st = {"min": str(pval), "max": str(pval)}
            else:
                st = entry.get("stats", {}).get(col)
            if st is None:
                continue
            mn, mx = st["min"], st["max"]
            if isinstance(value, float) and isinstance(mn, (int, float)):
                pass
            elif isinstance(value, str) and isinstance(mn, str):
                pass
            else:
                continue
            if op in ("=", "==") and (value < mn or value > mx):
                return False
            if op == "<" and mn >= value:
                return False
            if op == "<=" and mn > value:
                return False
            if op == ">" and mx <= value:
                return False
            if op == ">=" and mx < value:
                return False
        return True

    # phase 1: partition/stats pruning (pure metadata, no file I/O)
    survivors = [e for e in entries if keep(e)]
    # phase 2: point predicates get a second chance via the bloom
    # sidecars (unsorted columns have near-full-range stats in every
    # file)
    if root is None:
        return survivors
    eq_conds = [(col, value) for col, op, value in conds if op in ("=", "==")]
    if not eq_conds:
        return survivors
    probes = [
        (i, os.path.join(root, e["file_index"]))
        for i, e in enumerate(survivors)
        if e.get("file_index")
    ]
    if not probes:
        return survivors
    if len(probes) > _BLOOM_DRIVER_PROBE_MAX:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            dropped = _bloom_prune_distributed(spark, probes, eq_conds)
            return [e for i, e in enumerate(survivors) if i not in dropped]
    return [
        e
        for e in survivors
        if all(_bloom_may_contain(e, root, col, v) for col, v in eq_conds)
    ]
