#!/usr/bin/env python3
"""The fixture tables the benchmark reads, and the follow batches.

The tables are cuts of the repository's generated test data, committed
under `perfbench/data/` so a run reads nothing outside the checkout:

- `data/smoke/`: the sf0.001 `events`, `documents` and `embeddings` as
  they are (1,000 events);
- `data/full/`: the first 50,000 `events` rows of sf0.1 (half of it, so a
  full export is about 8 MB) and its first 300 `documents` and
  `embeddings` rows (so a pipeline pass is bound by per-query overhead
  rather than data).

The cuts keep the source files' physical schema. To remake them:

    python3 perfbench/fixtures.py SF0.1_DIR SF0.001_DIR

The follow batches are parquet files written at set-up with the schema of
the fixture's `events.parquet`, each holding the records of one batch
under a marker user id no fixture row uses, with event ids above the
fixture's maximum.
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
SCALES = ("full", "smoke")
TABLES = ("events", "documents", "embeddings")
FULL_ROWS = {"events": 50_000, "documents": 300, "embeddings": 300}

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
MARKER_USER = 987_654_321  # the follow key; fixture user ids stay below 10^4
FOLLOW_SEED = 20261017


def fixture_dir(scale):
    """The directory of the fixture tables at `scale`."""
    return os.path.join(DATA, scale)


def fingerprint(fixture):
    """A short hash of the fixture's tables, which keys cached answers."""
    h = hashlib.sha1()
    for t in TABLES:
        with open(os.path.join(fixture, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def write_follow_batches(fixture, out_dir, n_batches, records_per_batch):
    """Write `n_batches` parquet files `b<NNNN>.parquet` of marker records,
    with the schema of `fixture`'s `events.parquet`.

    Each record's `props` (the record value) is `{"batch": b, "i": i}`, so
    the client can tell which batch a record belongs to. Event ids run
    upwards from one million above the fixture's row count, timestamps
    from one day after its last. Returns the list of (batch id, path,
    event ids).
    """
    events = pq.read_table(os.path.join(fixture, "events.parquet"), columns=["event_id", "ts"])
    schema = pq.read_schema(os.path.join(fixture, "events.parquet"))
    last_us = pc.max(events["ts"]).cast(pa.timestamp("us")).value
    eid = max(pc.max(events["event_id"]).as_py(), events.num_rows) + 1_000_000
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(FOLLOW_SEED)
    batches = []
    for b in range(n_batches):
        ids = np.arange(eid, eid + records_per_batch, dtype=np.int64)
        eid += records_per_batch
        ts = last_us + 86_400_000_000 + b * 1_000_000 + np.arange(records_per_batch)
        table = pa.table({
            "event_id": ids,
            "ts": pa.array(ts, pa.timestamp("us")).cast(schema.field("ts").type),
            "user_id": np.full(records_per_batch, MARKER_USER, dtype=np.int64),
            "event_type": pa.array(np.array(EVENT_TYPES)[
                rng.integers(0, 5, records_per_batch)]),
            "value": np.round(rng.uniform(0, 200, records_per_batch), 2),
            "props": [json.dumps({"batch": b, "i": i}, separators=(", ", ": "))
                      for i in range(records_per_batch)],
        }).cast(schema)
        path = os.path.join(out_dir, f"b{b:04d}.parquet")
        pq.write_table(table, path)
        batches.append((b, path, ids.tolist()))
    return batches


def cut(sf01, sf0001):
    """Rewrite `data/` from the sf0.1 and sf0.001 test-data directories."""
    for scale in SCALES:
        os.makedirs(fixture_dir(scale), exist_ok=True)
    for t in TABLES:
        shutil.copyfile(os.path.join(sf0001, f"{t}.parquet"),
                        os.path.join(fixture_dir("smoke"), f"{t}.parquet"))
        src = pq.ParquetFile(os.path.join(sf01, f"{t}.parquet"))
        table = src.read().slice(0, FULL_ROWS[t])
        pq.write_table(table, os.path.join(fixture_dir("full"), f"{t}.parquet"),
                       compression="snappy", version=src.metadata.format_version)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    cut(sys.argv[1], sys.argv[2])
