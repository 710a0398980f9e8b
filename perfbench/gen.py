"""Seeded input generators. The workload seed changes every generated value;
the same seed gives byte-identical inputs.

Both tables are written with pyarrow straight into the run's own work
directory, one thread per output file. Nothing is cached between runs, so a
second seed can never reuse the first seed's table.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_000
N_SOURCES = 12
SOURCES = np.array([f"s{i:02d}" for i in range(N_SOURCES)])

N_EVENT_TYPES = 8
EVENT_TYPES = np.array([f"e{i}" for i in range(N_EVENT_TYPES)])
EVENT_DAYS = 60
# a Monday, so week buckets start on the first day
EVENT_EPOCH_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))

SEQUENCES_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)
EVENTS_SCHEMA = pa.schema(
    [
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
    ]
)


def _write_files(path: str, n_files: int, write_one) -> None:
    os.makedirs(path, exist_ok=True)
    with ThreadPoolExecutor(max_workers=min(n_files, 4)) as pool:
        for fut in [pool.submit(write_one, f) for f in range(n_files)]:
            fut.result()


def sequences(path: str, seed: int, n_rows: int, rg_rows: int, n_files: int) -> None:
    """FIXTURES §1 shape: token arrays of length 8-256 over a 50k vocabulary,
    12 Zipf(1.5) sources (s00 ≈ 60 % of rows). ``n_rows`` is split into
    ``rg_rows`` row groups spread round-robin over ``n_files`` files."""
    blocks = [(b, min(rg_rows, n_rows - b * rg_rows)) for b in range(-(-n_rows // rg_rows))]

    def write_one(f: int) -> None:
        with pq.ParquetWriter(
            os.path.join(path, f"part-{f:03d}.parquet"), SEQUENCES_SCHEMA, compression="zstd"
        ) as w:
            for b, n in blocks[f::n_files]:
                rng = np.random.default_rng([seed, b])
                lengths = rng.integers(8, 257, size=n).astype(np.int32)
                src = np.minimum(rng.zipf(1.5, size=n) - 1, N_SOURCES - 1)
                flat = rng.integers(0, VOCAB, size=int(lengths.sum()), dtype=np.int32)
                offsets = np.zeros(n + 1, dtype=np.int32)
                np.cumsum(lengths, out=offsets[1:])
                base = b * rg_rows
                table = pa.table(
                    [
                        pa.array([f"doc{base + i:09d}" for i in range(n)]),
                        pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
                        pa.array(lengths),
                        pa.array(SOURCES[src]),
                    ],
                    schema=SEQUENCES_SCHEMA,
                )
                w.write_table(table, row_group_size=rg_rows)

    _write_files(path, n_files, write_one)


def events(path: str, seed: int, n_rows: int, rg_rows: int, n_files: int) -> None:
    """Events shape: ``ts`` uniform over 60 days, Zipf(1.3) ``user_id``,
    8 ``event_type`` values with 1/(i+1) weights, log-normal ``value``."""
    per_file = -(-n_rows // n_files)
    weights = 1.0 / np.arange(1, N_EVENT_TYPES + 1)
    weights /= weights.sum()

    def write_one(f: int) -> None:
        n = min(per_file, n_rows - f * per_file)
        rng = np.random.default_rng([seed, f])
        ts = EVENT_EPOCH_US + rng.integers(0, EVENT_DAYS * 86_400 * 10**6, size=n)
        table = pa.table(
            [
                pa.array(ts, pa.timestamp("us", tz="UTC")),
                pa.array(rng.zipf(1.3, size=n).astype(np.int64)),
                pa.array(EVENT_TYPES[rng.choice(N_EVENT_TYPES, size=n, p=weights)]),
                pa.array(rng.lognormal(3.0, 1.0, size=n)),
            ],
            schema=EVENTS_SCHEMA,
        )
        pq.write_table(
            table, os.path.join(path, f"part-{f:03d}.parquet"),
            row_group_size=rg_rows, compression="zstd",
        )

    _write_files(path, n_files, write_one)


def read_columns(path: str, columns: list[str]) -> pa.Table:
    """Whole-table read of ``columns`` (gate references, single process)."""
    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    return pa.concat_tables(pq.read_table(f, columns=columns) for f in files)
