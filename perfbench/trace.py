"""Span recorder for the traced run (``--trace 1``).

Installed from outside the program: ``install()`` wraps the public
functions each layer exposes (``Table``, ``Catalog``, ``Engine``,
``DedupIngestPipeline``, ``session.get_spark``, ``prune_entries``)
with a recorder, and ``trigger_spans()`` turns a streaming query's
public ``recentProgress`` into trigger spans. Spans stay in memory and
are written as JSON lines when the run ends.

A span is (name, start, end, parent, thread, trace, attrs). A layer's
self time is its duration minus the part of it that its direct children
cover.
"""

from __future__ import annotations

import datetime
import functools
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- recording -------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_trace(self, trace_id: str | None) -> None:
        """Spans this thread opens from now on belong to ``trace_id``."""
        self._local.trace = trace_id

    def span(self, name: str, **attrs):
        if not self.enabled or getattr(self._local, "mute", 0):
            return _NULL
        return _Span(self, name, attrs)

    def muted(self, fn, *args):
        """Call ``fn`` without recording the spans it would open (the
        recorder's own bookkeeping calls)."""
        self._local.mute = getattr(self._local, "mute", 0) + 1
        try:
            return fn(*args)
        finally:
            self._local.mute -= 1

    def add_span(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (trigger spans)."""
        if self.enabled:
            with self._lock:
                self.spans.append(
                    {"name": name, "start": start, "end": end, "parent": None,
                     "thread": "spark-stream", "trace": attrs.pop("trace", None),
                     "attrs": attrs}
                )

    # -- queries over the recorded spans ---------------------------------
    def named(self, name: str, **match) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None
            and all(s["attrs"].get(k) == v for k, v in match.items())
        ]

    def durations(self, name: str, **match) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name, **match)]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s}, default=str) + "\n")

    # -- instrumentation ---------------------------------------------------
    def wrap(self, owner, attr: str, name: str, label=None, after=None) -> None:
        """Replace ``owner.attr`` with a recording wrapper. ``label(args)``
        adds attributes before the call; ``after(span, args, out)`` may
        add more from the result."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = label(args, kwargs) if label else {}
            with tracer.span(name, **attrs) as sp:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, args, kwargs, out)
                return out

        setattr(owner, attr, wrapper)


class _Span:
    __slots__ = ("tr", "rec", "idx")

    def __init__(self, tr: Tracer, name: str, attrs: dict):
        self.tr = tr
        stack = tr._stack()
        self.rec = {
            "name": name, "start": None, "end": None,
            "parent": stack[-1] if stack else None,
            "thread": threading.current_thread().name,
            "trace": getattr(tr._local, "trace", None),
            "attrs": attrs,
        }

    def __enter__(self):
        with self.tr._lock:
            self.idx = len(self.tr.spans)
            self.tr.spans.append(self.rec)
        self.tr._stack().append(self.idx)
        self.rec["start"] = time.perf_counter()
        return self

    def set(self, **attrs) -> None:
        self.rec["attrs"].update(attrs)

    def __exit__(self, et, ev, tb):
        self.rec["end"] = time.perf_counter()
        if et is not None:
            self.rec["attrs"]["error"] = et.__name__
        self.tr._stack().pop()
        return False


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def set(self, **attrs) -> None:
        pass


_NULL = _NullSpan()


def union_seconds(ivals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(ivals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _table_label(args, kwargs) -> dict:
    return {"table": getattr(args[0], "name", None)}


def install(tr: Tracer) -> None:
    """Wrap every public layer entry point the benchmark measures."""
    from advent_of_code_flink_paimon_spark import session
    from advent_of_code_flink_paimon_spark.lakehouse import catalog as catalog_mod
    from advent_of_code_flink_paimon_spark.lakehouse import table as table_mod
    from advent_of_code_flink_paimon_spark.operators import dedup as dedup_mod
    from advent_of_code_flink_paimon_spark.plans import frontend as frontend_mod

    T = table_mod.Table

    commit_names = {"table.append", "table.upsert", "table.overwrite"}

    def committed(sp, args, kwargs, out):
        sp.set(snapshot=out)
        parent = sp.rec["parent"] if sp is not _NULL else None
        if out is None or (parent is not None and tr.spans[parent]["name"] in commit_names
                           and sp.rec["name"] in commit_names):
            return  # nothing committed, or append delegating to upsert
        try:
            snap = tr.muted(args[0].snapshot, out)
            sp.set(added_files=snap.get("added_files", 0),
                   added_rows=snap.get("added_record_count", 0))
        except (OSError, KeyError, ValueError):
            pass  # already expired by the commit's own retention

    for attr in ("append", "upsert", "overwrite"):
        tr.wrap(T, attr, f"table.{attr}", label=_table_label, after=committed)

    def read_label(args, kwargs):
        t = args[0]
        return {"table": t.name, "files": len(tr.muted(t.manifest)),
                "pk": bool(t.primary_key)}

    tr.wrap(T, "read", "table.read", label=read_label)
    tr.wrap(T, "manifest", "table.manifest", label=_table_label,
            after=lambda sp, a, k, out: sp.set(files=len(out)))

    def compact_label(args, kwargs):
        entries = tr.muted(args[0].manifest)
        return {"table": args[0].name, "files_in": len(entries),
                "bytes_in": sum(e.get("file_size_in_bytes", 0) for e in entries)}

    def compact_after(sp, args, kwargs, out):
        committed(sp, args, kwargs, out)
        if out is not None:
            sp.set(files_out=len(tr.muted(args[0].manifest)))

    tr.wrap(T, "compact", "table.compact", label=compact_label, after=compact_after)
    tr.wrap(T, "expire_snapshots", "table.expire_snapshots", label=_table_label,
            after=lambda sp, a, k, out: sp.set(expired=len(out)))
    tr.wrap(T, "files_table", "table.files_table", label=_table_label)

    def prune_after(sp, args, kwargs, out):
        sp.set(files_in=len(args[0]), files_kept=len(out), where=args[1])

    tr.wrap(table_mod, "prune_entries", "table.prune_entries", after=prune_after)

    C = catalog_mod.Catalog
    tr.wrap(C, "create_table", "catalog.create_table",
            label=lambda a, k: {"table": a[1]})
    tr.wrap(C, "get_table", "catalog.get_table", label=lambda a, k: {"table": a[1]})

    def sql_label(args, kwargs):
        stmt = args[1].strip().split(None, 1)[0].upper() if args[1].strip() else ""
        return {"kind": stmt, "internal": bool(kwargs.get("_internal") or
                                                 (len(args) > 2 and args[2]))}

    tr.wrap(frontend_mod.Engine, "sql", "frontend.sql", label=sql_label)
    tr.wrap(dedup_mod.DedupIngestPipeline, "sink", "dedup.sink")
    tr.wrap(session, "get_spark", "session.get_spark")


def trigger_spans(tr: Tracer, query, name: str, wall_offset: float) -> list[dict]:
    """Trigger spans from ``recentProgress``. ``wall_offset`` maps epoch
    seconds onto the perf_counter clock spans use."""
    out = []
    for p in query.recentProgress:
        ts = datetime.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start = ts.replace(tzinfo=datetime.timezone.utc).timestamp() - wall_offset
        d = p.get("durationMs", {})
        rec = {
            "query": name, "batch": p["batchId"], "rows": p.get("numInputRows", 0),
            **{k: v / 1000.0 for k, v in d.items()},
        }
        end = start + d.get("triggerExecution", 0) / 1000.0
        tr.add_span("streaming.trigger", start, end, trace=f"{name}-{p['batchId']}", **rec)
        out.append({"start": start, "end": end, **rec})
    return out
