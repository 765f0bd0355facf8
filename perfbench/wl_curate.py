"""``curate``: a closed loop of ``DedupIngestPipeline.sink`` with the
Gopher quality filter on and near-duplicate verification from the
persisted shingle store.

A seeded corpus shaped like the repo's ``documents`` table is split into
micro-batches of 250 documents and offered one batch at a time; the next
batch is offered when the previous sink call returns. The corpus plants
exact copies, near copies and too-short documents, so the end state has
a known answer: every original kept, every low-quality document dropped,
and (up to LSH recall) every copy dropped.
"""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow as pa

from perfbench import gen
from perfbench.harness import median, pct

BATCH_DOCS = 250
MAX_BATCHES = 60
# drop_recall floor: with this seeded corpus (3 of ~90 words edited per
# near copy) MinHash-LSH finds every planted copy; a lower recall is a
# dedup regression, not noise.
RECALL_FLOOR = 0.95


def run(ctx) -> None:
    from advent_of_code_flink_paimon_spark.lakehouse import Catalog
    from advent_of_code_flink_paimon_spark.operators.dedup import (
        DedupIngestPipeline,
        minhash_index_name,
    )

    spark, res, tr = ctx.spark, ctx.res, ctx.tr
    base = os.path.join(ctx.workdir, "run")
    src = os.path.join(base, "src")
    os.makedirs(src)
    ids, texts, kind = gen.documents(ctx.seed, BATCH_DOCS * MAX_BATCHES)
    cat = Catalog(os.path.join(base, "warehouse"))
    pipe = DedupIngestPipeline(
        spark, cat, "docs", os.path.join(base, "ckpt"),
        verify_from_storage=True, quality_filter=True,
    )

    def offer(b: int) -> float:
        lo = b * BATCH_DOCS
        path = os.path.join(src, f"batch-{b:04d}.parquet")
        gen.write_parquet(
            pa.table({"doc_id": ids[lo: lo + BATCH_DOCS], "text": texts[lo: lo + BATCH_DOCS]}),
            path,
        )
        df = spark.read.parquet(path)
        tr.set_trace(f"batch{b}")
        t = time.perf_counter()
        pipe.sink(df, b)
        return time.perf_counter() - t

    offer(0)  # warm-up batch: first-time planning and codegen
    ctx.begin()
    w0 = time.perf_counter()
    lat = []
    b = 1
    while time.perf_counter() - w0 < ctx.seconds and b < MAX_BATCHES:
        lat.append(offer(b))
        b += 1
    w1 = time.perf_counter()
    if b >= MAX_BATCHES:
        res.invalid("corpus exhausted before the window ended")

    # -- correctness: the end state against the planted answer -----------------
    docs = cat.get_table("docs")
    files = [os.path.join(docs.paths.root, e["file_path"]) for e in docs.manifest()]
    kept = (
        {r[0] for r in duckdb.sql(f"SELECT doc_id FROM read_parquet({files!r})").fetchall()}
        if files else set()
    )
    offered = range(b * BATCH_DOCS)
    res.attempted += len(offered)
    false_drops = sum(1 for i in offered if kind[i] == "orig" and i not in kept)
    lowq_kept = sum(1 for i in offered if kind[i] == "lowq" and i in kept)
    dups = [i for i in offered if kind[i] in ("near", "exact")]
    dropped_dups = sum(1 for i in dups if i not in kept)
    dropped = len(offered) - len(kept)
    recall = dropped_dups / len(dups) if dups else 1.0
    precision = (dropped - false_drops) / dropped if dropped else 1.0
    res.fail(false_drops, "curate: original documents falsely dropped")
    res.fail(lowq_kept, "curate: low-quality documents kept")
    res.fail(len(kept - set(offered)), "curate: documents kept that were never offered")
    if recall < RECALL_FLOOR:
        res.fail(len(dups) - dropped_dups, f"curate: drop_recall {recall:.3f} < {RECALL_FLOOR}")

    window_docs = (b - 1) * BATCH_DOCS
    res.put("latency_p50_s", median(lat), "s")
    res.put("latency_p90_s", pct(lat, 90), "s")
    res.put("rows_per_s", window_docs / (w1 - w0), "rows/s")
    ctx.extra.update(batches=len(lat), recall=recall, precision=precision)
    ctx.extra["tables"] = [docs]
    if tr.enabled:
        from perfbench.layers import putter

        put = putter(res)
        put("dedup.sink_p50_s", median([s["end"] - s["start"] for s in tr.named("dedup.sink")
                                        if s["start"] >= ctx.setup_end]))
        put("dedup.keep_ratio", len(kept) / len(offered))
        put("dedup.quality_drop_ratio",
            sum(1 for i in offered if kind[i] == "lowq" and i not in kept) / len(offered))
        idx = cat.get_table(minhash_index_name("docs"))
        put("dedup.index_rows_end", idx.snapshot(idx.latest_snapshot_id())["total_record_count"])
        put("dedup.drop_recall", recall)
        put("dedup.drop_precision", precision)
