"""Seeded inputs in the layout of the ``sf*/`` testdata directories (one
parquet file per table, same column names and types), so the package reads
them exactly as it reads those.

Everything is a pure function of the seed: the same seed writes the same
bytes. Sizes are kept small because a pipeline tick costs about the same
at 50 rows as at 5,000 (its time is the per-job floor, not data volume).
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
N_DAYS = 30  # distinct event dates -> dim_date rows
N_USERS = 1500  # user_id % 7 venues x user_id % 5 cities -> 35 dim_venue rows
VOCAB = (
    "a the data spark query table row column value key group filter join "
    "sort hash scan stream batch window order part line customer vector "
    "fast slow big small agg merge"
).split()

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


class EventStream:
    """A stream of events drawn from the seed: the first ``n_base`` form the
    base warehouse, each following ``n_batch`` form one incremental batch.
    Every event's fields come from an RNG seeded by (seed, position)."""

    def __init__(self, seed: int, n_base: int, n_batch: int):
        self.seed = seed
        self.n_base = n_base
        self.n_batch = n_batch

    def _rows(self, start: int, n: int) -> list[tuple]:
        out = []
        t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        for pos in range(start, start + n):
            # one private RNG per event position: batch k never depends on
            # how many batches were drawn before it
            r = random.Random(self.seed * 1_000_003 + pos)
            out.append((
                pos,
                t0 + dt.timedelta(seconds=r.randrange(N_DAYS * 86400),
                                  microseconds=r.randrange(1_000_000)),
                r.randrange(N_USERS),
                r.choice(EVENT_TYPES),
                r.randrange(56_000) / 100,
                '{"k": %d}' % r.randrange(100),
            ))
        return out

    def _table(self, start: int, n: int) -> pa.Table:
        cols = list(zip(*self._rows(start, n)))
        return pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, EVENTS_SCHEMA)],
            schema=EVENTS_SCHEMA,
        )

    def base(self) -> pa.Table:
        return self._table(0, self.n_base)

    def batch(self, k: int) -> pa.Table:
        return self._table(self.n_base + k * self.n_batch, self.n_batch)


def write_table(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    pq.write_table(table, path)
    return os.path.getsize(path)


def write_documents(seed: int, sf_dir: str, n_docs: int) -> None:
    """``documents`` (doc_id, text, lang, source, n_chars) for one seed."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    lengths = rng.integers(8, 90, n_docs)
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k))
             for k in lengths]
    write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [("en", "de", "fr", "es", "zh")[i]
                 for i in rng.integers(0, 5, n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(sf_dir, "documents.parquet"))
