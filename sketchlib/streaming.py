"""Structured Streaming: incremental per-key sketches.

The reference object is incrementally updatable (`add` mutates shared state,
src/hll.c:630-649) — exactly the property Structured Streaming's keyed state
needs. Here the per-key state IS the sketch blob: each micro-batch updates it
via ``applyInPandasWithState`` and emits the refreshed estimate. Restarting
from the stream checkpoint resumes the sketch (state is durable), the
streaming analogue of io.CheckpointedBuild.

Batch/stream parity law (tested): after consuming the whole stream, the state
sketch is byte-identical to a batch build over the same rows — merge
associativity again.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from .agg import HllAggregator
from .kernels import DEFAULT_SEED

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("sketch", T.BinaryType(), True),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("n_items", T.LongType(), True),
    ]
)


def _values_from_pandas(series: pd.Series, kind: str):
    if kind == "tokens":
        if len(series) == 0:
            return np.empty(0, dtype=np.int32), 0
        # null token lists contribute no items (batch-path parity: the Arrow
        # extractor fills null list lengths with 0)
        flat = np.concatenate(
            [np.asarray(a if a is not None else [], dtype=np.int32) for a in series]
        )
        return flat, len(flat)
    vals = series.dropna()
    if kind == "string":
        import pyarrow as pa

        arr = pa.array(vals, type=pa.string())
        return arr, len(arr)
    dtype = {"int64": np.int64, "int32": np.int32, "double": np.float64}[kind]
    return vals.to_numpy().astype(dtype), len(vals)


def sketch_streaming(
    stream: DataFrame,
    agg,
    key_col: str,
    finalize_fields,
    finalize_fn,
) -> DataFrame:
    """Generic per-key streaming sketch: works for ANY SketchAggregator.

    State = the sketch blob (+ row/item counts); each micro-batch updates it
    via the aggregator's ``_update`` and emits ``finalize_fn(sketch) ->
    dict`` columns. The same mergeable-sketch discipline as batch — a
    streaming CMS/KLL/Bloom costs one function argument, not a new operator.
    """
    value_col, value_kind = agg.value_col, agg.value_kind
    key_field = stream.schema[key_col]
    out_schema = T.StructType(
        [key_field]
        + list(finalize_fields)
        + [
            T.StructField("n_rows", T.LongType(), False),
            T.StructField("n_items", T.LongType(), False),
        ]
    )
    from_blob = agg._merge_blobs  # blobs -> sketch (single-blob decode incl.)
    empty = agg._empty
    update = agg._update

    def update_fn(key, pdfs, state: GroupState):
        if state.exists:
            blob, n_rows, n_items = state.get
            sketch = from_blob([bytes(blob)])
        else:
            sketch, n_rows, n_items = empty(), 0, 0
        for pdf in pdfs:
            values, n_new = _values_from_pandas(pdf[value_col], value_kind)
            update(sketch, values)
            n_rows += len(pdf)
            n_items += n_new
        state.update((sketch.to_bytes(), n_rows, n_items))
        out = {key_col: [key[0]], "n_rows": [n_rows], "n_items": [n_items]}
        out.update({k: [v] for k, v in finalize_fn(sketch).items()})
        yield pd.DataFrame(out)[[f.name for f in out_schema.fields]]

    return (
        stream.select(key_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update_fn,
            outputStructType=out_schema,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _hll_args(p: int, seed: int, value_col: str, value_kind: str) -> dict:
    """The HLL aggregator and ``est_distinct`` finalizer the hll_* wrappers
    hand to the generic state machines."""
    return dict(
        agg=HllAggregator(p=p, seed=seed, key_cols=[], value_col=value_col, value_kind=value_kind),
        finalize_fields=[T.StructField("est_distinct", T.LongType(), False)],
        finalize_fn=lambda s: {"est_distinct": s.cardinality()},
    )


def hll_streaming_estimates(
    stream: DataFrame,
    p: int = 14,
    seed: int = DEFAULT_SEED,
    key_col: str = "source",
    value_col: str = "tokens",
    value_kind: str = "tokens",
) -> DataFrame:
    """Per-key running HLL distinct estimates over a streaming DataFrame.

    Output (update mode): key_col, est_distinct, n_rows, n_items — one row
    per key per micro-batch in which that key appeared. Thin wrapper over
    ``sketch_streaming``.
    """
    return sketch_streaming(stream, key_col=key_col, **_hll_args(p, seed, value_col, value_kind))


def hll_windowed_streaming_estimates(
    stream: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    p: int = 14,
    seed: int = DEFAULT_SEED,
    key_col: str = "event_type",
    value_col: str = "user_id",
    value_kind: str = "int64",
) -> DataFrame:
    """Event-time windowed per-key HLL with watermark-driven late-data
    handling.

    State key = (window_start, key); late rows beyond the watermark are
    dropped by Spark before they reach the state function, and window state
    is evicted once the watermark passes the window end (event-time timeout)
    — the standard Structured Streaming windowed-aggregate discipline, but
    the aggregate value is a mergeable sketch. Output (update mode):
    window_start, key_col, est_distinct, n_rows. Thin wrapper over
    ``sketch_streaming_windowed``.
    """
    return sketch_streaming_windowed(
        stream,
        ts_col=ts_col,
        key_col=key_col,
        window_duration=window_duration,
        watermark=watermark,
        **_hll_args(p, seed, value_col, value_kind),
    )


def hll_windowed_finalized_estimates(
    stream: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 day",
    watermark: str = "1 hour",
    p: int = 14,
    seed: int = DEFAULT_SEED,
    key_col: str = "event_type",
    value_col: str = "user_id",
    value_kind: str = "int64",
) -> DataFrame:
    """APPEND-mode windowed HLL: exactly ONE final row per (window, key),
    emitted only when the event-time watermark passes the window end.

    The production sink shape ("window closed, final answer") the update-mode
    variant can't provide: micro-batches silently accumulate per-window
    sketch state and emit nothing; when the watermark passes a window's end
    its state times out, the finalized row (estimate + exact row count) is
    appended, and the state is evicted. Late rows beyond the watermark are
    dropped by Spark before reaching the state function. Windows still open
    when the stream ends are never emitted — by design; feed a heartbeat row
    past (max window end + watermark) to flush everything (the driver query
    does exactly that with a sentinel key).

    Thin wrapper over ``sketch_streaming_windowed(mode="append")`` — the one
    windowed-state machine serves every aggregator.
    """
    return sketch_streaming_windowed(
        stream,
        ts_col=ts_col,
        key_col=key_col,
        window_duration=window_duration,
        watermark=watermark,
        mode="append",
        **_hll_args(p, seed, value_col, value_kind),
    )


def sketch_streaming_windowed(
    stream: DataFrame,
    agg,
    ts_col: str,
    key_col: str,
    finalize_fields,
    finalize_fn,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    mode: str = "update",
) -> DataFrame:
    """Generic event-time windowed streaming sketch for any aggregator.

    State key = (window_start, key); late rows beyond the watermark are
    dropped by Spark; state evicts on event-time timeout when the watermark
    passes the window end. Same finalize contract as sketch_streaming.

    ``mode``: "update" emits the refreshed row every micro-batch the window
    received data; "append" emits exactly ONE final row per window when the
    watermark passes its end (the hll_windowed_finalized_estimates shape,
    generalized to any aggregator).
    """
    if mode not in ("update", "append"):
        raise ValueError(f"mode must be 'update' or 'append', got {mode!r}")
    from pyspark.sql import functions as F

    value_col, value_kind = agg.value_col, agg.value_kind
    key_field = stream.schema[key_col]
    out_schema = T.StructType(
        [T.StructField("window_start", T.TimestampType(), False), key_field]
        + list(finalize_fields)
        + [T.StructField("n_rows", T.LongType(), False)]
    )
    empty = agg._empty
    update = agg._update
    from_blob = agg._merge_blobs
    names = [f.name for f in out_schema.fields]

    def finalize_row(sketch, window_start, key_val, n_rows):
        out = {"window_start": [window_start], key_col: [key_val], "n_rows": [n_rows]}
        out.update({k: [v] for k, v in finalize_fn(sketch).items()})
        return pd.DataFrame(out)[names]

    def update_fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            if mode == "append":
                blob, n_rows, _ = state.get
                sketch = from_blob([bytes(blob)])
                state.remove()
                yield finalize_row(sketch, key[0], key[1], n_rows)
            else:
                state.remove()
            return
        if state.exists:
            blob, n_rows, _ = state.get
            sketch = from_blob([bytes(blob)])
        else:
            sketch, n_rows = empty(), 0
        for pdf in pdfs:
            values, _ = _values_from_pandas(pdf[value_col], value_kind)
            update(sketch, values)
            n_rows += len(pdf)
        state.update((sketch.to_bytes(), n_rows, 0))
        window_start = key[0]
        end_ms = int(pd.Timestamp(window_start).value // 10**6) + int(
            pd.Timedelta(window_duration).total_seconds() * 1000
        )
        state.setTimeoutTimestamp(end_ms)
        if mode == "update":
            yield finalize_row(sketch, window_start, key[1], n_rows)

    windowed = (
        stream.withWatermark(ts_col, watermark)
        .withColumn("window_start", F.window(ts_col, window_duration)["start"])
        .select("window_start", key_col, value_col, ts_col)
    )
    return windowed.groupBy("window_start", key_col).applyInPandasWithState(
        update_fn,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_first_seen(
    stream: DataFrame, fp_col: str = "fp", keep_col: str = "doc_id"
) -> DataFrame:
    """Streaming EXACT dedup: one surviving row per distinct fingerprint.

    Per-fingerprint keyed state = the minimum ``keep_col`` seen so far plus
    the TOTAL occurrence count (first sighting included — renamed from
    dup_count, ADVICE r04); each micro-batch folds its rows in and emits the
    refreshed survivor (update mode). Because ``min`` is associative and
    commutative, the final emission per key equals the batch
    ``groupBy(fp).min(keep)`` REGARDLESS of how rows split into
    micro-batches — the same provable stream/batch parity law the sketch
    states carry (this module's docstring), extended to the dedup operator.

    Scale shape: the shuffle carries (fp, keep) pairs — never document
    payloads — and state is one tiny row per DISTINCT fingerprint, the
    irreducible cost of *exact* streaming dedup. At 10^12 docs run it on
    the RocksDB state store provider and bound retention with a state TTL
    (drop-oldest is the standard trade: a dup of a very old doc survives);
    the sketch-sized alternative is a streaming Bloom gate
    (``sketch_streaming`` with a BloomAggregator), which trades exactness
    for O(bits) state.
    """
    fp_field = stream.schema[fp_col]
    keep_field = stream.schema[keep_col]
    out_schema = T.StructType(
        [
            fp_field,
            T.StructField(keep_col, keep_field.dataType, True),
            T.StructField("n_occurrences", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("keep", keep_field.dataType, True),
            T.StructField("n_rows", T.LongType(), True),
        ]
    )

    def update_fn(key, pdfs, state: GroupState):
        batch_min = None
        n = 0
        for pdf in pdfs:
            col = pdf[keep_col].dropna()
            n += len(pdf)
            if len(col):
                m = col.min()
                batch_min = m if batch_min is None else min(batch_min, m)
        if state.exists:
            prev, n_rows = state.get
            keep = prev if batch_min is None else min(prev, batch_min)
            n_rows += n
        else:
            keep, n_rows = batch_min, n
        state.update((keep, n_rows))
        yield pd.DataFrame({fp_col: [key[0]], keep_col: [keep], "n_occurrences": [n_rows]})

    return (
        stream.select(fp_col, keep_col)
        .groupBy(fp_col)
        .applyInPandasWithState(
            update_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_bloom_dedup(
    stream: DataFrame,
    fp_col: str = "fp",
    keep_col: str = "doc_id",
    shards: int = 64,
    m_log2: int = 20,
    k: int = 7,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Streaming APPROXIMATE dedup with O(bits) state: the sketch-sized
    alternative to :func:`streaming_first_seen`'s exact per-fingerprint
    state.

    The fingerprint space is hash-sharded (``fp mod shards``); each shard's
    keyed state is ONE Bloom filter (2^m_log2 bits) over the fingerprints it
    has seen. Per micro-batch and shard: probe the filter, keep each
    not-seen fingerprint's minimum ``keep_col`` row (batch-local exact
    dedup), fold the kept fingerprints into the filter, persist the blob.
    Emitted rows are the APPEND-only survivors of their first-seen batch.

    Guarantees (both directions provable from Bloom's no-false-negative
    law, and pinned by the driver query):

    - a TRUE duplicate never survives twice: once a fingerprint's bits are
      set they stay set, so every later occurrence is detected — survivor
      fingerprints are globally unique;
    - only false POSITIVES lose docs: a unique doc is erroneously dropped
      with probability ~fpp (fill-dependent), so
      ``n_exact_distinct >= survivors >= n_exact_distinct - drops`` with
      drops bounded by the filter's measured fpp_estimate.

    Scale shape: state is ``shards x 2^m_log2 / 8`` bytes TOTAL regardless
    of corpus size (vs one state row per distinct fingerprint for the exact
    operator); rows shuffle by shard — set ``shards`` >= cluster
    parallelism so no task owns more than one filter's traffic.
    """
    from pyspark.sql import functions as F

    from .bloom import BloomFilter

    keep_field = stream.schema[keep_col]
    fp_field = stream.schema[fp_col]
    out_schema = T.StructType(
        [
            T.StructField("shard", T.IntegerType(), False),
            fp_field,
            T.StructField(keep_col, keep_field.dataType, True),
        ]
    )
    state_schema = T.StructType([T.StructField("bloom", T.BinaryType(), True)])

    def update_fn(key, pdfs, state: GroupState):
        if state.exists:
            bf = BloomFilter.from_bytes(bytes(state.get[0]))
        else:
            bf = BloomFilter.empty(m_log2, k, seed)
        # buffer the WHOLE micro-batch for this shard before deduping: the
        # group's rows can arrive split across several Arrow chunks (a
        # function of parallelism/batch size), and a chunk-at-a-time gate
        # would keep the first chunk's occurrence even when a later chunk
        # holds the smaller keep value — the survivor set must not depend
        # on chunking. Memory = one micro-batch's shard rows, bounded.
        chunks = [pdf[[fp_col, keep_col]] for pdf in pdfs if len(pdf)]
        kept_fp: list = []
        kept_keep: list = []
        if chunks:
            local = (
                pd.concat(chunks, ignore_index=True)
                .groupby(fp_col, as_index=False)[keep_col]
                .min()
                .sort_values(fp_col)
            )
            fps = local[fp_col].to_numpy(dtype=np.int64)
            fresh = ~bf.contains_batch(fps, kind="int64")
            if fresh.any():
                new_fps = fps[fresh]
                bf.update_batch(new_fps, kind="int64")
                kept_fp = [int(x) for x in new_fps]
                kept_keep = list(local[keep_col].to_numpy()[fresh])
        # only persist when the filter changed (or on first sight): an
        # all-duplicate micro-batch otherwise pays shards x ~128 KB of
        # serialization + state-store writes for nothing (review catch)
        if kept_fp or not state.exists:
            state.update((bf.to_bytes(),))
        if kept_fp:
            yield pd.DataFrame(
                {
                    "shard": [key[0]] * len(kept_fp),
                    fp_col: kept_fp,
                    keep_col: kept_keep,
                }
            )

    shard_col = "__shard"
    return (
        stream.select(
            F.pmod(F.col(fp_col), F.lit(shards)).cast("int").alias(shard_col),
            fp_col,
            keep_col,
        )
        .groupBy(shard_col)
        .applyInPandasWithState(
            update_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
