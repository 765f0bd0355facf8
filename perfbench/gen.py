"""Seeded input generators. The program only ever sees what these write.

- ``measurements`` rows follow the reference datagen (sensor_id uniform
  in 0..1000, reading DECIMAL(5,1) in 0..45); sensor 0 has no
  ``sensor_info`` row, so it never matches the lookup join.
- ``sensor_info`` covers sensors 1..1000.
- ``documents`` mimic the corpus shape of the repo's sf0.1 documents
  table (space-separated words from a small vocabulary) with planted
  exact and near duplicates and planted low-quality documents, so the
  curation result has a known answer.
"""

from __future__ import annotations

import collections
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MEAS_SCHEMA = pa.schema(
    [
        ("sensor_id", pa.int64()),
        ("reading", pa.decimal128(5, 1)),
        ("event_time", pa.timestamp("us", tz="UTC")),
    ]
)
MEAS_DDL = "sensor_id bigint, reading decimal(5,1), event_time timestamp"
SENSOR_DDL = (
    "sensor_id bigint, latitude double, longitude double, generation int, "
    "updated_at timestamp"
)
ENRICHED_DDL = MEAS_DDL + ", latitude double, longitude double, generation int, updated_at timestamp"
N_SENSORS = 1000


def measurements(rng: np.random.Generator, n: int, event_time_s: float) -> pa.Table:
    """``n`` seeded rows sharing one ``event_time``."""
    sensor = rng.integers(0, N_SENSORS + 1, n, dtype=np.int64)
    # a decimal128 value is its unscaled integer in 16 little-endian bytes
    unscaled = np.zeros((n, 2), dtype=np.int64)
    unscaled[:, 0] = rng.integers(0, 451, n)
    reading = pa.Array.from_buffers(pa.decimal128(5, 1), n, [None, pa.py_buffer(unscaled)])
    us = np.full(n, int(event_time_s * 1e6), dtype=np.int64)
    return pa.table(
        [pa.array(sensor), reading, pa.array(us, type=pa.timestamp("us", tz="UTC"))],
        schema=MEAS_SCHEMA,
    )


def sensor_info(rng: np.random.Generator, base_time_s: float) -> pa.Table:
    ids = np.arange(1, N_SENSORS + 1, dtype=np.int64)
    return pa.table(
        {
            "sensor_id": ids,
            "latitude": np.round(rng.uniform(-90, 90, N_SENSORS), 6),
            "longitude": np.round(rng.uniform(-180, 180, N_SENSORS), 6),
            "generation": pa.array(rng.integers(0, 4, N_SENSORS).astype(np.int32)),
            "updated_at": pa.array(
                np.full(N_SENSORS, int(base_time_s * 1e6), dtype=np.int64),
                type=pa.timestamp("us", tz="UTC"),
            ),
        }
    )


def write_parquet(table: pa.Table, path: str) -> None:
    """Write to a temporary name beside ``path``'s directory, then
    rename, so a watching file source never sees a partial file."""
    d = os.path.dirname(path)
    tmp = os.path.join(os.path.dirname(d), f".tmp-{os.path.basename(path)}")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


class OpenLoopGenerator(threading.Thread):
    """One thread landing one seeded parquet file per tick at a fixed
    row rate, whatever the consumer does. ``event_time`` of a file's
    rows is the tick's due time; lateness is when the write started
    minus the due time."""

    def __init__(self, landing: str, seed: int, rows_per_s: int, tick_s: float, t0: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.landing, self.rows_per_tick = landing, int(rows_per_s * tick_s)
        self.tick_s, self.t0 = tick_s, t0
        self.rng = np.random.default_rng(seed)
        self.halt = threading.Event()
        self.files: list[tuple[float, str, int]] = []  # (due, path, rows)
        self.late: list[float] = []
        self.error: BaseException | None = None
        os.makedirs(landing, exist_ok=True)

    def run(self) -> None:
        try:
            i = 0
            while not self.halt.is_set():
                due = self.t0 + i * self.tick_s
                wait = due - time.time()
                if wait > 0 and self.halt.wait(wait):
                    break
                self.late.append(max(0.0, time.time() - due))
                path = os.path.join(self.landing, f"part-{i:07d}.parquet")
                write_parquet(measurements(self.rng, self.rows_per_tick, due), path)
                self.files.append((due, path, self.rows_per_tick))
                i += 1
        except BaseException as e:  # surfaced by the workload
            self.error = e

    def stop(self) -> None:
        self.halt.set()
        self.join()


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------
_VOCAB = (
    "spark stream table batch column order value filter group query window "
    "merge join vector scan hash sort index shard commit snapshot manifest "
    "bucket sensor reading engine planner shuffle partition record schema "
    "storage parquet compaction retention lookup latency throughput cluster "
    "executor driver memory network buffer cache replica leader follower "
    "quorum ledger gossip beacon cursor tensor kernel packet socket signal"
).split()
_VOCAB = [w + s for w in _VOCAB for s in ("", "s", "ed", "er")]
_STOPS = ["the", "a", "of", "to", "and"]


def _doc_words(rng: np.random.Generator, n: int) -> list[str]:
    """Words of a document that passes the Gopher rules by construction:
    several distinct stop words and no word above 8% of the document."""
    while True:
        words = list(rng.choice(_VOCAB, n))
        if max(collections.Counter(words).values()) <= max(1.0, 0.08 * n):
            break
    for j, pos in enumerate(rng.choice(n, 4, replace=False)):
        words[pos] = _STOPS[j]
    return words


def documents(seed: int, n: int, dup_frac: float = 0.15, lowq_frac: float = 0.05):
    """Return (doc_ids, texts, kind) with kind in {'orig', 'near', 'exact',
    'lowq'}. A 'near' copy swaps 3 of ~90 words of an earlier original
    (3-shingle Jaccard well above the 0.5 dedup threshold); an 'exact'
    copy repeats it; 'lowq' documents are too short for the Gopher
    word-count rule."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    kind: list[str] = []
    origs: list[int] = []
    for i in range(n):
        r = rng.random()
        if origs and r < dup_frac:
            src = texts[origs[int(rng.integers(0, len(origs)))]].split(" ")
            if r < dup_frac / 3:
                texts.append(" ".join(src))
                kind.append("exact")
            else:
                w = list(src)
                for pos in rng.choice(len(w), 3, replace=False):
                    w[pos] = "edited"
                texts.append(" ".join(w))
                kind.append("near")
        elif r < dup_frac + lowq_frac:
            texts.append(" ".join(_doc_words(rng, int(rng.integers(10, 30)))))
            kind.append("lowq")
        else:
            texts.append(" ".join(_doc_words(rng, int(rng.integers(70, 110)))))
            kind.append("orig")
            origs.append(i)
    return np.arange(n, dtype=np.int64), texts, kind
