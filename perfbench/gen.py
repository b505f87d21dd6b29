"""Seeded stream input for the benchmark.

The batch workloads read the repository's test tables as they are: byte
copies of them live under `perfbench/data/` (see `DATA_DIR`), and the seed
only permutes the query order.  The stream workload reads the sf0.1 `events`
table from there and `write_stream` splits it, in time order, into many
parquet files, adding a seeded share of exact duplicate rows inside the
streaming watermark.  The same seed gives the same bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# Fixed base for the stream files' mtimes, so the file source's
# modification-time order is the time order.
EPOCH_2024_S = 1_704_067_200


@dataclass(frozen=True)
class StreamInput:
    """What the stream generator wrote: `rows` rows (duplicates included) in
    `files` files, of which `distinct` have a distinct (event_id, ts)."""

    dir: str
    files: int
    rows: int
    distinct: int
    duplicates: int


def write_stream(out_dir: str, events_path: str, seed: int, files: int = 24,
                 dup_share: float = 0.05) -> StreamInput:
    """Split the events table at `events_path` (sorted by `ts`) into `files`
    parquet files named `events_NNNN.parquet` and add about `dup_share`
    exact duplicate rows.

    Each duplicate is placed right after its original, so its timestamp is
    never older than the newest row read before it: it stays inside the
    watermark however the source groups files into micro-batches.  File
    mtimes increase one second per file, so the file source reads them in
    time order.
    """
    os.makedirs(out_dir, exist_ok=True)
    events = pq.read_table(events_path)
    events = events.take(pc.sort_indices(events, [("ts", "ascending"), ("event_id", "ascending")]))
    rng = np.random.default_rng([seed, 99])
    n = events.num_rows
    dup = rng.random(n) < dup_share
    # Row i is emitted once, or twice in a row when it is duplicated.
    take = np.repeat(np.arange(n), np.where(dup, 2, 1))
    rows = events.take(pa.array(take))
    bounds = np.linspace(0, rows.num_rows, files + 1).astype(int)
    for k in range(files):
        path = os.path.join(out_dir, f"events_{k:04d}.parquet")
        pq.write_table(rows.slice(bounds[k], bounds[k + 1] - bounds[k]), path, compression="snappy")
        mtime = EPOCH_2024_S + k
        os.utime(path, (mtime, mtime))
    distinct = len(set(zip(events["event_id"].to_pylist(), events["ts"].to_pylist())))
    return StreamInput(out_dir, files, rows.num_rows, distinct, int(dup.sum()))
