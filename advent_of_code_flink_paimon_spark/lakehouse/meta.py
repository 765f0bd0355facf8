"""On-disk metadata primitives: JSON documents with atomic-rename commit.

Layout per table (mirrors the reference warehouse, SURVEY.md §1.2 /
assets/output2-5.png):

    <warehouse>/<db>.db/<table>/
      bucket-<n>/data-<uuid>.parquet      data files, hash-bucketed
      changelog/<snapshot>/...parquet     _change_type rows (PK tables
                                          with changelog-producer=input)
      manifest/manifest-<n>.json          live-file manifest per snapshot:
                                          full {"files": [...]} image, or an
                                          O(commit) append delta
                                          {"base_snapshot", "added", "removed"}
                                          (Table.manifest() reconstructs)
      schema/schema-<n>.json              versioned schema + options
      snapshot/snapshot-<n>               commit metadata
      snapshot/EARLIEST, LATEST           pointer files
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import time
import uuid


def atomic_write_json(path: str, doc: dict) -> None:
    """Write-then-rename: readers never observe a torn file. On POSIX
    rename is atomic within a filesystem; on object stores this maps to
    a conditional PUT of the snapshot key (single-committer assumption,
    SURVEY.md §7 watch list)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(doc, f, separators=(",", ":"))
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def exclusive_write_json(path: str, doc: dict) -> bool:
    """Create-if-absent commit arbiter: write a temp file, then
    hard-link it to ``path``. ``link(2)`` fails with EEXIST when the
    target already exists, so exactly ONE of two racing committers
    observes success — the POSIX equivalent of an object store's
    conditional PUT-if-absent (which is what this maps to on S3/GCS).
    Returns False when another committer won the race."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(doc, f, separators=(",", ":"))
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        return True
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def read_json(path: str) -> dict:
    # binary read + loads: about a quarter cheaper than a text-mode
    # json.load on the small snapshot documents that every manifest()
    # and commit reads to check a cache's snapshot identity
    with open(path, "rb") as f:
        return json.loads(f.read())


def new_file_name(ext: str = "parquet") -> str:
    return f"data-{uuid.uuid4().hex}.{ext}"


def now_millis() -> int:
    return int(time.time() * 1000)


class TablePaths:
    """Path layout. DATA lives at the table root (bucket/partition
    dirs) and is SHARED by every branch — branch manifests reference
    the same root-relative file paths, so branching never copies data
    (the Paimon branch design). METADATA (snapshot / manifest / schema
    / changelog / tag / consumer) resolves under ``meta``: the table
    root for the main branch, ``<root>/branch/branch-<name>/`` for a
    named branch — each branch is its own snapshot chain."""

    def __init__(self, warehouse: str, db: str, table: str, branch: str | None = None):
        self.root = os.path.join(warehouse, f"{db}.db", table)
        # Validate HERE, not only in create_branch (ADVICE r13 #2):
        # every branch-addressed operation builds a TablePaths, and a
        # name like 'x/../../..' would otherwise resolve self.meta
        # outside the branch dir — delete_branch's rmtree would then
        # delete the table or database directory.
        if branch is not None and not re.fullmatch(r"[A-Za-z0-9_.-]+", branch):
            raise ValueError(f"invalid branch name {branch!r}")
        self.branch = branch
        self.meta = (
            self.root if branch is None
            else os.path.join(self.root, "branch", f"branch-{branch}")
        )

    def bucket_dir(self, n: int) -> str:
        return os.path.join(self.root, f"bucket-{n}")

    def branch_dir(self) -> str:
        return os.path.join(self.root, "branch")

    def branch_meta_path(self) -> str:
        return os.path.join(self.meta, "BRANCH")

    def schema_path(self, version: int) -> str:
        return os.path.join(self.meta, "schema", f"schema-{version}")

    def schema_dir(self) -> str:
        return os.path.join(self.meta, "schema")

    def manifest_path(self, snapshot_id: int) -> str:
        return os.path.join(self.meta, "manifest", f"manifest-{snapshot_id}.json")

    def snapshot_path(self, snapshot_id: int) -> str:
        return os.path.join(self.meta, "snapshot", f"snapshot-{snapshot_id}")

    def snapshot_dir(self) -> str:
        return os.path.join(self.meta, "snapshot")

    def pointer_path(self, name: str) -> str:  # EARLIEST / LATEST
        return os.path.join(self.meta, "snapshot", name)

    def changelog_dir(self, snapshot_id: int) -> str:
        return os.path.join(self.meta, "changelog", f"snapshot-{snapshot_id}")

    def tag_dir(self) -> str:
        return os.path.join(self.meta, "tag")

    def tag_path(self, name: str) -> str:
        return os.path.join(self.meta, "tag", f"tag-{name}")

    def consumer_dir(self) -> str:
        return os.path.join(self.meta, "consumer")

    def consumer_path(self, consumer_id: str) -> str:
        return os.path.join(self.meta, "consumer", f"consumer-{consumer_id}")

    def read_pointer(self, name: str) -> int | None:
        try:
            with open(self.pointer_path(name), "rb") as f:
                return int(f.read())
        except FileNotFoundError:
            return None

    def write_pointer(self, name: str, snapshot_id: int) -> None:
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.pointer_path(name)), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(str(snapshot_id))
        os.replace(tmp, self.pointer_path(name))
