"""Deterministic synthetic `sequences` table + documents tokenizer.

Canonical input shape (BASELINE.json ``input_hint``)::

    doc_id: string, tokens: array<int32>, n_tok: int32, source: string

Generation follows FIXTURES.md §1 exactly: numpy ``default_rng(42 + block)``
keyed by 10k-row block so the table is reproducible *and* embarrassingly
parallel — at bench scale each Spark task generates its own blocks
(``sequences_df``), so no driver bottleneck and no data movement. Sources are
Zipf-skewed (s00 is hot, ≈60% of rows) to exercise salted-merge skew handling.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOCK_ROWS = 10_000
VOCAB = 50_000
N_SOURCES = 12

SEQUENCES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

ROWS_BY_SF = {"sf0.001": 2_000, "sf0.01": 20_000, "sf0.1": 200_000}

# load_table's unconditional input-skew rescue floor (see load_table):
# a SINGLE-row-group file at least this large forces one task to stream
# the whole decode+compute pipeline alone — repartition right after the
# read no matter who the consumer is.
_AUTO_RESCUE_BYTES = 16 << 20


def rows_for_sf_dir(sf_dir: str, default: int = 20_000) -> int:
    tail = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return ROWS_BY_SF.get(tail, default)


def gen_block(block_id: int, n_rows: int) -> pd.DataFrame:
    """One deterministic 10k-row block (FIXTURES.md §1 generator)."""
    rng = np.random.default_rng(42 + block_id)
    lengths = rng.integers(8, 257, size=n_rows)
    zipf = np.minimum(rng.zipf(1.5, size=n_rows) - 1, N_SOURCES - 1)
    flat = rng.integers(0, VOCAB, size=int(lengths.sum()), dtype=np.int32)
    bounds = np.cumsum(lengths)[:-1]
    base = block_id * BLOCK_ROWS
    return pd.DataFrame(
        {
            "doc_id": [f"doc{base + i:08d}" for i in range(n_rows)],
            "tokens": np.split(flat, bounds),
            "n_tok": lengths.astype(np.int32),
            "source": [f"s{z:02d}" for z in zipf],
        }
    )


def gen_sequences_pandas(n_rows: int) -> pd.DataFrame:
    """Driver-side generation for tests (tiny/small scales)."""
    blocks = []
    for block_id in range((n_rows + BLOCK_ROWS - 1) // BLOCK_ROWS):
        take = min(BLOCK_ROWS, n_rows - block_id * BLOCK_ROWS)
        blocks.append(gen_block(block_id, take))
    return pd.concat(blocks, ignore_index=True)


def sequences_df(spark: SparkSession, n_rows: int, partitions: int | None = None) -> DataFrame:
    """Distributed generation: one task per block set; fully deterministic.

    Each executor task generates its assigned blocks locally — the pattern a
    100 TB synthetic load uses (no driver materialization, no shuffle).
    """
    n_blocks = (n_rows + BLOCK_ROWS - 1) // BLOCK_ROWS
    partitions = partitions or min(n_blocks, max(spark.sparkContext.defaultParallelism, 1))
    blocks = spark.range(n_blocks, numPartitions=partitions).withColumnRenamed("id", "block_id")
    total = n_rows

    def gen(batches):
        for batch in batches:
            for block_id in batch.column("block_id").to_pylist():
                take = min(BLOCK_ROWS, total - block_id * BLOCK_ROWS)
                if take <= 0:
                    continue
                import pyarrow as pa

                yield pa.RecordBatch.from_pandas(
                    gen_block(block_id, take), preserve_index=False
                )

    return blocks.mapInArrow(gen, SEQUENCES_SCHEMA)


def sequences_parquet(
    spark: SparkSession, n_rows: int, cache_root: str | None = None
) -> str:
    """Materialize the deterministic sequences table to parquet once,

    return its path. Queries scan this like any production table — so the
    engine benchmarks measure scan+sketch, not data synthesis. Writes are
    atomic-ish: build under a temp name, rename into place.
    """
    import shutil

    root = cache_root or os.environ.get("SKETCHLIB_CACHE", "/tmp/sketchlib_cache")
    path = os.path.join(root, f"sequences_{n_rows}")
    if os.path.isdir(path) and os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    os.makedirs(root, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    # fix the file count independent of the generating session's cores so the
    # shard layout (scan parallelism grain) is deterministic and fine enough
    # for any local[N]: ~1 block (10k rows, ~5 MB) per file up to 128 files
    n_blocks = (n_rows + BLOCK_ROWS - 1) // BLOCK_ROWS
    parts = min(n_blocks, 128)
    sequences_df(spark, n_rows, partitions=parts).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # another process won the race
    return path


def tokenize_documents(docs: DataFrame) -> DataFrame:
    """Tokenize the driver `documents` table into the sequences shape.

    Token ids via the hashing trick: id = xxhash64(word) folded into
    [0, 2^31) — deterministic, stateless, and a pure narrow projection
    (transform over the split array). No vocabulary pass, no window, no
    join, no shuffle: the tokenizer is embarrassingly parallel at any
    corpus size, which is the property that matters at 10^12 documents
    (a dense-rank vocab would funnel 10^8+ distinct words through a sort).

    Collisions (~n_vocab^2 / 2^32) only merge two word identities for
    downstream *approximate* operators — the per-row invariant
    ``n_tok == size(tokens) == whitespace word count`` is exact and is what
    the oracle checks. ``words`` is kept as its own projection so Catalyst
    does not re-expand the regexp split into both consumers.
    """
    words = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("source"),
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != "").alias("words"),
    )
    return words.select(
        "doc_id",
        F.transform(
            "words", lambda w: F.pmod(F.xxhash64(w), F.lit(2147483648)).cast("int")
        ).alias("tokens"),
        F.size("words").cast("int").alias("n_tok"),
        "source",
    )


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool = False
) -> DataFrame:
    """Read one driver table. ``parallelize=True`` opts into the input-skew
    rescue (optimization guide §2.5 "one huge unsplittable file"): a
    single-file table with one (or few) row groups scans as ONE task no
    matter how it is split by bytes — parquet tasks only yield the row
    groups whose midpoint lands in their range — so every expression
    pipelined above the scan (regex word splits, gram construction,
    explodes) runs on one core while the rest of the session idles. The
    rescue round-robin repartitions to session parallelism right after the
    read when the file's own layout caps scan parallelism below half the
    cores. It is OPT-IN per query because the exchange is only a win when
    the pipelined per-row work dominates (measured: the gram-heavy document
    queries gain 0.5-1.6 s each, while fan-out to 32 tasks across the many
    small jobs of collect-heavy queries costs more than the scan itself).
    Scale-adaptive by construction: a production table (many files / many
    row groups) never triggers the condition and the plan is untouched."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    try:
        if "://" in path:
            return df  # remote paths: no local probe, plain scan
        size = os.path.getsize(path)
        # two tiers: the opt-in tier fires from 256 KB (callers that know
        # their pipelined per-row work dominates); the UNCONDITIONAL tier
        # fires from 16 MB — a single-row-group file that large means one
        # task streams >= 16 MB of decode+compute while every other core
        # idles, which is pathological at any scale and any consumer
        # (scans this size are what the driver's larger scale factors
        # produce; sub-16 MB single-task scans cost less than the exchange
        # for collect-heavy consumers, hence the opt-in tier). Projections
        # and deterministic filters still prune/push through the
        # round-robin exchange, so cheap consumers stay cheap.
        floor = 256 * 1024 if parallelize else _AUTO_RESCUE_BYTES
        if size >= floor:
            import pyarrow.parquet as _pq

            n_rg = _pq.ParquetFile(path).metadata.num_row_groups
            par = spark.sparkContext.defaultParallelism
            if n_rg * 2 <= par:
                return df.repartition(par)
    except OSError:
        pass  # unreadable path probes: keep the plain scan
    return df
