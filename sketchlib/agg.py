"""Distributed sketch aggregation — the Spark shape of the library.

The reference is a single-process accumulator (`add` one value at a time under
the GIL, src/hll.c:630-649). The distributed equivalent is the classic
partial/combine/finalize aggregate, expressed with Spark's Arrow-batched
Python surfaces and *no per-row Python anywhere*:

    scan (column-pruned to key+value)                  -- Catalyst, codegen'd
      -> mapInArrow(build partials)                    -- numpy kernel per batch;
         one output row per (task-partition, key):        map-side combine by
         (key..., sketch binary, n_rows, n_items)         construction
      -> repartition(key).sortWithinPartitions(key)    -- the one shuffle
      -> mapInArrow(merge runs of equal keys)          -- np.maximum/elementwise,
                                                          one call per batch
      -> finalize pandas_udf (estimate, quantile, ...)

PLANS.md §1 shows this plan. ``partials_from_parquet`` replaces the scan and
the first mapInArrow with pyarrow row-group reads inside the tasks; its
per-shard mode is also what ``io.CheckpointedBuild`` appends.

Physical property that makes this scale: the shuffle payload is *sketches*
(KB each), never raw values. At 100 TB input the shuffle is
#partitions x #keys x sketch_size — megabytes. Skewed/hot keys are handled by
an optional salted two-stage merge (safe because every sketch merge here is
associative + commutative, src/hll.c:776-815 semantics).
"""

from __future__ import annotations

import math
import os
import time
from typing import Callable, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as papq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type, to_arrow_type

from .bloom import BloomFilter
from .cms import CountMinSketch
from .fi import FrequentItemsSketch
from .functions import _hll_estimates
from .hll import DENSE_MAX_P, HllSketch, registers_from_blobs, registers_to_blobs
from .kernels import DEFAULT_SEED, hll_build_into, murmur64a, rechunk_record_batches
from .kll import KllSketch
from .kmv import KmvSketch
from .profile import ProfileSketch
from .tdigest import TDigest

_COUNT_FIELDS = [
    T.StructField("sketch", T.BinaryType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("n_items", T.LongType(), False),
]

# lineage a per-shard partial row carries: the checkpoint table's row format
_LINEAGE_FIELDS = [
    T.StructField("shard_id", T.StringType(), False),
    T.StructField("wall_secs", T.DoubleType(), False),
]

# past this many files partials_from_parquet plans whole files, not row groups
_RG_PLAN_MAX_FILES = 512

VALUE_KINDS = ("tokens", "int64", "int32", "double", "string")

# Arrow and Spark type of ONE value of each kind, for operators that emit or
# probe raw values (CMS heavy hitters / point estimates, Bloom membership);
# "double" values only feed quantile sketches, which never emit them.
_VALUE_TYPES = {
    "tokens": (pa.int32(), T.IntegerType()),
    "int32": (pa.int32(), T.IntegerType()),
    "int64": (pa.int64(), T.LongType()),
    "string": (pa.string(), T.StringType()),
}


def _adjacent_not_equal(arr: pa.Array) -> np.ndarray:
    """bool[n-1]: element i True iff arr[i+1] != arr[i], with null==null and
    NaN==NaN (group-key semantics). Vectorized Arrow compare over slices."""
    n = len(arr)
    a, b = arr.slice(0, n - 1), arr.slice(1)
    ne = pc.fill_null(pc.not_equal(a, b), True)  # null vs value -> not equal
    both_null = pc.and_(pc.is_null(a), pc.is_null(b))
    ne = pc.and_(ne, pc.invert(both_null))
    if pa.types.is_floating(arr.type):
        both_nan = pc.and_(
            pc.fill_null(pc.is_nan(a), False), pc.fill_null(pc.is_nan(b), False)
        )
        ne = pc.and_(ne, pc.invert(both_nan))
    return ne.to_numpy(zero_copy_only=False)


def _run_starts(cols: list) -> np.ndarray:
    """Row positions where a run of equal keys starts in key-sorted Arrow
    columns (row 0 always does); null and NaN keys equal themselves."""
    new_run = np.zeros(len(cols[0]), dtype=bool)
    new_run[0] = True
    if len(new_run) > 1:
        for arr in cols:
            new_run[1:] |= _adjacent_not_equal(arr)
    return np.flatnonzero(new_run)


def _group_codes(batch: pa.RecordBatch, key_cols: list[str]):
    """(codes int64 per row, unique key tuples) with Spark groupBy null
    semantics: null is a valid group key. Only distinct values ever become
    Python objects; int keys stay ints (no pandas float coercion).

    Single key: Arrow dictionary_encode, null rows in an appended null group.

    Multi key: codes in first-appearance order of the key tuple, null one
    group per column. Each column is dictionary-encoded (nulls encoded as
    their own entry) and folded into the running code as ``code * len(dict)
    + index``, re-factorized after every column so the mixed-radix value
    stays below rows x dictionary size and cannot overflow int64. Float
    columns encode ``x + 0.0``, so -0.0 and 0.0 form one group as under
    Python equality (NaN is already one dictionary entry); their key values
    are read raw from each group's first row. Other columns' key values come
    from their dictionary, converted once per distinct value.
    """
    if len(key_cols) == 1:
        enc = batch.column(key_cols[0]).dictionary_encode()
        uniq_tuples = [(u,) for u in enc.dictionary.to_pylist()]
        idx = enc.indices
        if idx.null_count:
            codes = (
                pc.fill_null(idx, len(uniq_tuples))
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            uniq_tuples.append((None,))
        else:
            codes = idx.to_numpy(zero_copy_only=False).astype(np.int64)
        return codes, uniq_tuples
    cols, indices, lookups = [], [], []
    codes = None
    for k in key_cols:
        col = batch.column(k)
        floating = pa.types.is_floating(col.type)
        enc = (pc.add(col, 0.0) if floating else col).dictionary_encode(null_encoding="encode")
        idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        if codes is None:
            codes = idx  # dictionary order is first-appearance order
        else:
            codes, _ = pd.factorize(codes * len(enc.dictionary) + idx, sort=False)
        cols.append(col)
        indices.append(idx)
        lookups.append(None if floating else enc.dictionary.to_pylist())
    # codes number groups in first-appearance order, so a row is its group's
    # first iff its code exceeds every earlier code
    first = np.flatnonzero(np.diff(np.maximum.accumulate(codes), prepend=-1) > 0)
    uniq_cols = [
        col.take(pa.array(first)).to_pylist()
        if lookup is None
        else [lookup[i] for i in idx[first].tolist()]
        for col, idx, lookup in zip(cols, indices, lookups)
    ]
    return codes, list(zip(*uniq_cols))


def _extract_values(batch: pa.RecordBatch, value_col: str, kind: str):
    """Return (flat numpy values, per-row item counts) for one Arrow batch.

    'tokens' flattens list<int32> zero-copy; scalar kinds drop nulls. The
    per-row counts let us np.repeat group codes onto the flattened values —
    still fully vectorized.
    """
    col = batch.column(value_col)
    if kind == "tokens":
        lengths = pc.list_value_length(col)
        lengths = pc.fill_null(lengths, 0).to_numpy(zero_copy_only=False).astype(np.int64)
        flat = col.flatten()
        values = flat.to_numpy(zero_copy_only=False)
        if values.dtype != np.int32:
            values = values.astype(np.int32)
        return values, lengths
    arr = col
    counts = np.ones(len(arr), dtype=np.int64)
    if arr.null_count:
        valid = pc.is_valid(arr).to_numpy(zero_copy_only=False)
        counts = valid.astype(np.int64)
        arr = arr.drop_null()
    if kind == "string":
        # keep the arrow array: the murmur kernel hashes its (offsets, data)
        # buffers directly with no per-key Python
        return arr, counts
    np_dtype = {"int64": np.int64, "int32": np.int32, "double": np.float64}[kind]
    return arr.to_numpy(zero_copy_only=False).astype(np_dtype), counts


def _batch_groups(batch: pa.RecordBatch, key_cols: list[str]):
    """(row codes, unique key tuples) of one batch: the group code of every
    row. No key columns is one group, ``()``."""
    if key_cols:
        return _group_codes(batch, key_cols)
    return np.zeros(batch.num_rows, dtype=np.int64), [()]


def _value_codes(codes: np.ndarray, counts: np.ndarray, kind: str) -> np.ndarray:
    """The code of every value ``_extract_values`` returned (``counts`` per
    row), from its row's code: repeated per row, never gathered per value."""
    if kind == "tokens":
        # int32 codes: halves the per-token code-stream traffic (codes are
        # far below 2^31)
        return np.repeat(codes.astype(np.int32), counts)
    return codes[counts.astype(bool)]


def _group_slices(values, codes: np.ndarray, n_groups: int) -> list:
    """One slice of ``values`` per group code 0..n_groups-1, each in batch
    order: a stable argsort of ``codes``, then ``searchsorted`` bounds, so
    the split is one sort rather than a pass over the batch per group.
    Numpy values are gathered by indexing, Arrow arrays (strings) by
    ``take``; empty groups get empty slices."""
    order = np.argsort(codes, kind="stable")
    bounds = np.searchsorted(codes[order], np.arange(n_groups + 1)).tolist()
    grouped = values.take(pa.array(order)) if isinstance(values, pa.Array) else values[order]
    return [grouped[lo:hi] for lo, hi in zip(bounds[:-1], bounds[1:])]


def enumerate_shards(source: str | pads.Dataset) -> list[tuple[str, int]]:
    """(file, row_group) work units for a parquet table (a path, or the
    pyarrow dataset already open on it) — the lineage grain.

    Zero-row row groups are skipped: pyarrow writes an empty table as one,
    it builds no partial row, and a checkpoint would wait for it forever.
    """
    if isinstance(source, str):
        source = pads.dataset(source, format="parquet")
    shards = []
    for frag in source.get_fragments():
        md = frag.metadata
        shards.extend(
            (frag.path, rg) for rg in range(md.num_row_groups) if md.row_group(rg).num_rows
        )
    return shards


def _jvm_arrow_type(t: pa.DataType) -> pa.DataType:
    """The Arrow type Spark itself writes for the Spark type of ``t``, when
    the JVM reads ``t`` as that type: large strings and binaries as the
    plain ones, a timestamp in any zone as one in UTC."""
    if pa.types.is_large_string(t):
        return pa.string()
    if pa.types.is_large_binary(t):
        return pa.binary()
    if pa.types.is_timestamp(t) and t.tz is not None:
        return pa.timestamp(t.unit, tz="UTC")
    return t


def _task_key_field(name: str, t: pa.DataType) -> T.StructField:
    """The partial-schema field of key column ``name`` as the direct-parquet
    task emits it: the Arrow type the file yields (a dictionary decoded to
    its value type), nullable, mapped as pyspark maps Arrow to Spark.

    Spark reads a task's Arrow column back only in the Arrow form it would
    write for that Spark type itself (``_jvm_arrow_type``). Any other type
    raises here, on the driver, naming the column: a timestamp Spark wrote
    as INT96 (pyarrow reads it as ``timestamp[ns]``), other non-microsecond
    timestamps, unsigned ints, fixed-size binary. In the executor it would
    fail as UNSUPPORTED_ARROWTYPE."""
    if pa.types.is_dictionary(t):
        t = t.value_type
    try:
        spark_type = from_arrow_type(t, prefer_timestamp_ntz=True)
        readable = to_arrow_type(spark_type) == _jvm_arrow_type(t)
    except TypeError:  # pyspark maps no Spark type to it (PySparkTypeError)
        readable = False
    if not readable:
        raise ValueError(
            f"key column {name!r} has Arrow type {t}, which a partial row cannot "
            f"carry to Spark; cast it in the parquet files, or sketch "
            f"spark.read.parquet(...) through the DataFrame path"
        )
    return T.StructField(name, spark_type, True)


def _decoded(batch: pa.RecordBatch) -> pa.RecordBatch:
    """``batch`` with every dictionary column decoded to its value type.
    pyarrow restores a dictionary column from the Arrow schema a file
    stores; a batch's dictionary may hold values no row of the batch has,
    and neither the key grouping nor Spark's Arrow reader takes it."""
    if not any(pa.types.is_dictionary(t) for t in batch.schema.types):
        return batch
    return pa.RecordBatch.from_arrays(
        [c.dictionary_decode() if pa.types.is_dictionary(c.type) else c for c in batch.columns],
        names=batch.schema.names,
    )


def shard_id(file: str, rg: int) -> str:
    return f"{os.path.basename(file)}#rg{rg}"


def _shard_table(spark, shards: list, parallelism: int | None = None):
    """Deal ``(file, row_group)`` shards round-robin into one group per task
    and return ``(spark.range(n, numPartitions=n), groups)``.

    Range puts exactly id i in partition i, so the task that reads id i
    builds ``groups[i]`` (looked up in the mapInArrow closure): exactly one
    group per task, deterministically, with no Python RDD stage and no
    shuffle. Every Python task pays a fixed start-up on top of its work,
    ≈0.08 s of worker time once its worker has imported sketchlib (PLANS.md
    §6); one task per core still beat 2x and 4x cores on the bulk partial
    stage, so the task count is the session's parallelism, not a multiple
    of it. The max-merge law makes merged sketches independent of the
    shard-to-task assignment. The closure carries the whole shard list;
    pyspark ships commands over 1 MB as a broadcast, once per executor. No
    shards (a table with no rows) still gets one, empty, task.
    """
    n = max(1, min(len(shards), parallelism or spark.sparkContext.defaultParallelism))
    return spark.range(n, numPartitions=n), [shards[i::n] for i in range(n)]


# largest (keys x 2^p) HLL register matrix a task holds: each of the keyed
# build's task matrices, and each batch of merged runs
_MATRIX_BYTES = 64 << 20


class _KeySketches:
    """A partial task's sketches, one object per key (task row)."""

    def __init__(self, agg: "SketchAggregator"):
        self.agg = agg
        self.sketches: list = []
        # optional composite-sketch hook: aggregators that also sketch the
        # per-ROW shape (e.g. ProfileAggregator's token-count quantiles) get
        # the row-grain (counts, codes) the flat value batch can't carry
        self.rows_hook = getattr(agg, "_update_rows_grouped", None)

    def reserve(self, n_keys: int):
        """This state, holding ``n_keys`` rows."""
        self.sketches.extend(self.agg._empty() for _ in range(n_keys - len(self.sketches)))
        return self

    def update(self, rows, values, counts, codes) -> None:
        """Fold one batch in: batch group g is task row ``rows[g]``."""
        group = [self.sketches[r] for r in rows.tolist()]
        value_codes = _value_codes(codes, counts, self.agg.value_kind)
        self.agg._update_grouped(group, values, value_codes, len(group))
        if self.rows_hook is not None:
            self.rows_hook(group, counts, codes, len(group))

    def blobs(self) -> pa.Array:
        return pa.array([s.to_bytes() for s in self.sketches], type=pa.binary())


class _RegisterMatrix:
    """A partial task's HLL registers at dense p: key row r is row r %
    chunk_rows of matrix r // chunk_rows, each at most ``_MATRIX_BYTES`` and
    the last grown by doubling. Each batch scatter-maxes straight into them;
    one vectorized encode per matrix turns them into blobs."""

    def __init__(self, agg: "HllAggregator"):
        self.agg = agg
        self.chunk_rows = max(1, _MATRIX_BYTES >> agg.p)
        self.chunks: list[np.ndarray] = []
        self.n = 0

    def reserve(self, n_keys: int):
        c, m = self.chunk_rows, 1 << self.agg.p
        self.chunks += [np.zeros((0, m), np.uint8)] * (-(-n_keys // c) - len(self.chunks))
        for k, have in enumerate(self.chunks):
            need = min(c, n_keys - k * c)
            if len(have) < need:
                grown = np.zeros((min(c, max(need, 2 * len(have))), m), np.uint8)
                grown[: len(have)] = have
                self.chunks[k] = grown
        self.n = n_keys
        return self

    def update(self, rows, values, counts, codes) -> None:
        a, c = self.agg, self.chunk_rows
        if len(rows) == 1:
            k, r = divmod(int(rows[0]), c)
            hll_build_into(self.chunks[k][r], values, None, a.seed, a.p, a.value_kind)
            return
        value_rows = _value_codes(rows[codes], counts, a.value_kind)
        lo, hi = int(rows.min()) // c, int(rows.max()) // c
        for k in range(lo, hi + 1):
            vals, vrows = values, value_rows
            if lo < hi:  # the batch's keys span matrices: this one's values
                at = np.flatnonzero(value_rows // c == k)
                vals = values[at] if isinstance(values, np.ndarray) else values.take(at)
                vrows = value_rows[at]
            if k:
                vrows = vrows - k * c
            hll_build_into(self.chunks[k].reshape(-1), vals, vrows, a.seed, a.p, a.value_kind)

    def blobs(self) -> pa.Array:
        a, c = self.agg, self.chunk_rows
        out = [
            registers_to_blobs(regs[: self.n - k * c], a.p, a.seed)
            for k, regs in enumerate(self.chunks)
        ]
        return out[0] if len(out) == 1 else pa.concat_arrays(out)


class SketchAggregator:
    """Base distributed aggregator for any MergeableSketch.

    Subclasses define ``_empty() -> sketch``, ``_update(sketch, values)`` and
    the finalize UDFs; everything Spark-shaped (partial build, salted tree
    merge) lives here once.
    """

    def __init__(
        self,
        key_cols: Sequence[str] = ("source",),
        value_col: str = "tokens",
        value_kind: str = "tokens",
    ):
        if value_kind not in VALUE_KINDS:
            raise ValueError(f"value_kind {value_kind!r} not in {VALUE_KINDS}")
        self.key_cols = list(key_cols)
        self.value_col = value_col
        self.value_kind = value_kind

    # -- subclass hooks -------------------------------------------------------

    def _empty(self):
        raise NotImplementedError

    def _update(self, sketch, values) -> None:
        raise NotImplementedError

    def _merge_blobs(self, blobs):
        raise NotImplementedError

    def _update_grouped(self, sketches, values, value_codes, n_groups: int) -> None:
        """Update one sketch per group from a flattened value batch.

        ``value_codes`` gives each value's group. Every group's values reach
        ``_update`` as one slice in batch order (``_group_slices``), so
        order-sensitive sketches (KLL, t-digest, frequent items) see the same
        sequence as a per-group scan would give them. (HllAggregator at
        dense p scatters into its task's ``_RegisterMatrix`` instead.)
        """
        if n_groups == 1:
            self._update(sketches[0], values)
            return
        for s, gvals in zip(sketches, _group_slices(values, value_codes, n_groups)):
            self._update(s, gvals)

    # -- schemas --------------------------------------------------------------

    def _partial_schema(self, df: DataFrame) -> T.StructType:
        by_name = {f.name: f for f in df.schema.fields}
        return T.StructType([by_name[k] for k in self.key_cols] + _COUNT_FIELDS)

    # -- partial build ----------------------------------------------------------

    def _task_sketches(self):
        """A partial task's empty sketch state (``_KeySketches``)."""
        return _KeySketches(self)

    def _make_build_fn(self):
        """Shared Arrow-batch accumulator: one sketch per key per task.

        Used by both the DataFrame path (mapInArrow over a Spark scan) and
        the direct-parquet path (pyarrow row-group reads inside the task).
        Each key gets a task row on first sight; rows come out in that
        order, with their sketches from ``_task_sketches``.
        """
        key_cols, value_col, kind = self.key_cols, self.value_col, self.value_kind

        # token-array rows carry ~10^2 values each: slice big Arrow batches
        # (Spark's default is 10k rows) down to cache-resident chunks before
        # the kernels — zero-copy, same fix as _default_batch_rows for the
        # task-local reader (measured ~1.5x at 32 cores)
        def sliced(batches):
            return rechunk_record_batches(batches) if kind == "tokens" else batches

        def build(batches):
            keys: dict[tuple, int] = {}  # key tuple -> task row
            state = self._task_sketches()
            n_rows = n_items = np.zeros(0, dtype=np.int64)
            key_types = None
            for batch in sliced(batches):
                if batch.num_rows == 0:
                    continue
                if key_types is None:
                    key_types = [batch.schema.field(k).type for k in key_cols]
                values, counts = _extract_values(batch, value_col, kind)
                codes, uniq_tuples = _batch_groups(batch, key_cols)
                rows = np.fromiter(
                    (keys.setdefault(k, len(keys)) for k in uniq_tuples),
                    dtype=np.int64, count=len(uniq_tuples),
                )
                if len(keys) > len(n_rows):
                    grow = np.zeros(len(keys) - len(n_rows), dtype=np.int64)
                    n_rows, n_items = np.append(n_rows, grow), np.append(n_items, grow)
                    state = state.reserve(len(keys))
                n_rows[rows] += np.bincount(codes, minlength=len(rows))
                n_items[rows] += np.bincount(codes, weights=counts, minlength=len(rows)).astype(np.int64)
                state.update(rows, values, counts, codes)
            if not keys:
                return
            arrays = [
                pa.array([kt[j] for kt in keys], type=key_types[j]) for j in range(len(key_cols))
            ]
            arrays += [state.blobs(), pa.array(n_rows), pa.array(n_items)]
            yield pa.RecordBatch.from_arrays(
                arrays, names=key_cols + ["sketch", "n_rows", "n_items"]
            )

        return build

    def partials(self, df: DataFrame) -> DataFrame:
        """One sketch per (task partition, key): the map-side combine.

        Input partitioning is whatever the scan produced — no shuffle of raw
        values, ever. Column pruning happens here via select().
        """
        build = self._make_build_fn()
        pruned = df.select(*(self.key_cols + [self.value_col]))
        return pruned.mapInArrow(build, self._partial_schema(df))

    def _default_batch_rows(self) -> int:
        """Reader batch size in ROWS, sized so per-batch kernel intermediates
        stay cache-resident: token-array rows carry ~10^2 values each, and at
        16384 rows the ~17 MB of hash/index scratch per worker spills to DRAM
        — measured on the 2.1B-token scaling job: 16384 -> 303 M tokens/s at
        local[32], 1024 -> 552 M (and +35% at local[8]). Scalar kinds carry
        one value per row, so larger row batches amortize per-batch overhead
        with tiny intermediates."""
        return 1024 if self.value_kind == "tokens" else 16384

    def partials_from_parquet(
        self, spark, path: str, parallelism: int | None = None, per_shard: bool = False
    ) -> DataFrame:
        """Partial build with task-local vectorized parquet IO.

        Spark still owns scheduling/shuffle/merge, but each task reads its
        assigned parquet *row groups* directly with pyarrow instead of going
        through the JVM scan. Rationale (measured): Spark's InternalRow ->
        Arrow re-encode of array<int32> columns costs ~10x the sketch kernel;
        reading the columnar file straight into Arrow recovers that. Columns
        are pruned at the reader (only key+value are decoded). Row-group
        granularity matches what Spark's own split planning uses, so skew
        and parallelism behave the same at cluster scale.

        ``per_shard=True`` emits one partial per ROW GROUP instead of one per
        task. The partial multiset then depends only on the input file layout
        — NOT on how many tasks/executors ran — which, combined with the
        canonical sorted-blob merge order in ``merge_blobs``, makes the
        merged KLL/t-digest sketch byte-identical at any parallelism (the
        property HLL/CMS/Bloom get for free from their order-exact algebra).
        Each row also carries its lineage (``shard_id``, ``wall_secs``): these
        are exactly the rows ``io.CheckpointedBuild`` appends, and
        ``merged(is_partials=True)`` ignores the extra columns.
        """
        dataset = pads.dataset(path, format="parquet")
        files = dataset.files
        if not files:
            raise ValueError(f"no parquet files under {path}")
        # Shard granularity: row groups give the best load balance, but
        # discovering them means one footer read PER FILE on the driver —
        # O(files) round trips, prohibitive at 10^5-10^6 files. Past the
        # threshold, plan by whole file (rg = -1 -> the task iterates that
        # file's row groups itself; it opens the footer anyway to read).
        if len(files) <= _RG_PLAN_MAX_FILES:
            shards = enumerate_shards(dataset)
        else:
            shards = [(f, -1) for f in files]
        return self._scan_shards(spark, dataset.schema, shards, parallelism, per_shard)

    def _scan_shards(
        self, spark, schema: pa.Schema, shards: list, parallelism: int | None, per_shard: bool
    ) -> DataFrame:
        """The one direct-parquet build: ``(file, row_group)`` shards dealt
        over ``_shard_table`` tasks, each reading its row groups with pyarrow
        into ``_make_build_fn``. One partial per task, or with ``per_shard``
        one per row group tagged with ``shard_id`` and ``wall_secs`` (the
        seconds spent reading and sketching it).

        ``schema`` is the table's Arrow schema, as the pyarrow dataset the
        caller planned the shards from read it from a parquet footer. The
        partial schema is derived from it (``_task_key_field`` per key
        column, then the count and lineage fields): these are the types the
        tasks yield, so Spark never runs a schema-inference job for the
        input, and a key column Spark could not read back fails here, before
        any job runs."""
        cols = self.key_cols + [self.value_col]
        missing = [c for c in cols if c not in schema.names]
        if missing:
            raise ValueError(f"columns {missing} are not in the parquet files")
        fields = [_task_key_field(k, schema.field(k).type) for k in self.key_cols]
        fields += _COUNT_FIELDS + (_LINEAGE_FIELDS if per_shard else [])
        batch_rows = self._default_batch_rows()
        build = self._make_build_fn()
        source, groups = _shard_table(spark, shards, parallelism)

        def shard_units(batches):
            for b in batches:
                for task in b.column("id").to_pylist():
                    for f, rg in groups[task]:
                        pf = papq.ParquetFile(f)
                        row_groups = (
                            list(range(pf.metadata.num_row_groups)) if rg < 0 else [rg]
                        )
                        yield f, pf, row_groups

        def read(pf, row_groups):
            batches = pf.iter_batches(batch_size=batch_rows, row_groups=row_groups, columns=cols)
            return map(_decoded, batches)

        def scan_and_build(batches):
            if not per_shard:
                yield from build(b for _, pf, rgs in shard_units(batches) for b in read(pf, rgs))
                return
            for f, pf, row_groups in shard_units(batches):
                for rg in row_groups:
                    t0 = time.perf_counter()
                    for out in build(read(pf, [rg])):
                        n = out.num_rows
                        lineage = [
                            pa.array([shard_id(f, rg)] * n, type=pa.string()),
                            pa.array([time.perf_counter() - t0] * n, type=pa.float64()),
                        ]
                        yield pa.RecordBatch.from_arrays(
                            list(out.columns) + lineage,
                            names=out.schema.names + ["shard_id", "wall_secs"],
                        )

        return source.mapInArrow(scan_and_build, T.StructType(fields))

    # -- tree merge -------------------------------------------------------------

    def _merged_runs(self, blobs: pa.Array, starts: np.ndarray, merge_blobs) -> pa.Array:
        """One merged blob per run of ``blobs``; run i is the rows from
        ``starts[i]`` to the next start. One ``merge_blobs`` call per run."""
        vals = blobs.to_pylist()
        bounds = np.append(starts, len(vals)).tolist()
        return pa.array(
            [merge_blobs(vals[lo:hi]).to_bytes() for lo, hi in zip(bounds[:-1], bounds[1:])],
            type=pa.binary(),
        )

    def _merge_stage(
        self, partials: DataFrame, group_cols: Sequence[str], *, final: bool = True
    ) -> DataFrame:
        """Reduce partials to one row per key: repartition on the key, sort
        within partitions, and merge consecutive runs in mapInArrow.

        Same shuffle as a groupBy, but ONE Python invocation per Arrow batch
        instead of one per key — groupBy().applyInPandas pays a per-group
        pandas/Arrow round trip that dominates when keys are high-cardinality
        (measured ~15 s for 5000 single-partial keys; runs-merge ~0.5 s).
        Each batch is merged whole: run keys are an Arrow ``take`` at the run
        starts, counts an ``np.add.reduceat``, and sketches
        ``_merged_runs`` (for HLL one batch decode, max-fold and encode).
        Batches within a partition arrive in order, so the rows of a
        batch's last run are held back and merged with the next batch's
        rows of the same key (or at the end of the partition).

        ``final=False`` marks an INTERMEDIATE stage (the salted stage-1):
        aggregators whose finalize step is lossy (FiAggregator's trim)
        override ``_merge_blobs_intermediate`` with an exact no-finalize
        merge so the salted tree stays byte-identical to the flat merge;
        for every other sketch the merge is already associative-exact and
        the default (same as ``_merge_blobs``) applies.
        """
        merge_blobs = (
            self._merge_blobs
            if final
            else getattr(self, "_merge_blobs_intermediate", self._merge_blobs)
        )
        group_cols = list(group_cols)
        names = group_cols + ["sketch", "n_rows", "n_items"]
        by_name = {f.name: f for f in partials.schema.fields}
        schema = T.StructType([by_name[c] for c in group_cols] + _COUNT_FIELDS)

        def merge_block(pieces: list, starts: np.ndarray) -> pa.RecordBatch:
            cols = {c: pa.concat_arrays([b.column(c) for b in pieces]) for c in names}
            at = pa.array(starts)
            counts = [
                pa.array(np.add.reduceat(cols[c].to_numpy(zero_copy_only=False), starts))
                for c in ("n_rows", "n_items")
            ]
            sketches = self._merged_runs(cols["sketch"], starts, merge_blobs)
            return pa.RecordBatch.from_arrays(
                [cols[c].take(at) for c in group_cols] + [sketches] + counts, names=names
            )

        def merge_runs(batches):
            held: list = []  # the open run's rows: it may go on in the next batch
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                starts = _run_starts([batch.column(c) for c in group_cols])
                if held:
                    last = held[-1].slice(held[-1].num_rows - 1)
                    seam = [pa.concat_arrays([last.column(c), batch.column(c)[:1]]) for c in group_cols]
                    if len(_run_starts(seam)) == 1:
                        starts = starts[1:]  # row 0 continues the held run
                if not len(starts):
                    held.append(batch)
                    continue
                block = held + [batch.slice(0, int(starts[-1]))]
                block_starts = starts[:-1] + sum(b.num_rows for b in held)
                if held:
                    block_starts = np.r_[0, block_starts]
                held = [batch.slice(int(starts[-1]))]
                if len(block_starts):
                    yield merge_block(block, block_starts)
            if held:
                yield merge_block(held, np.zeros(1, dtype=np.int64))

        arranged = partials.repartition(*group_cols).sortWithinPartitions(*group_cols)
        return arranged.mapInArrow(merge_runs, schema)

    def merged(
        self,
        source: DataFrame | str,
        salt: int | None = None,
        *,
        is_partials: bool = False,
        spark=None,
    ) -> DataFrame:
        """Tree-merge partials down to one sketch row per key.

        ``source`` may be a DataFrame (generic path) or a parquet path string
        (task-local vectorized IO path, see partials_from_parquet).

        ``salt > 1`` inserts a fan-in-bounding intermediate stage: partials
        first merge within (key, salt) groups, then across salts. Use for
        hot keys / very high partial counts (axis A skew handling); safe for
        any associative+commutative merge. ``spark_partition_id() % salt``
        spreads partials of the same key over salts deterministically-enough
        without hashing sketch bytes.
        """
        if isinstance(source, str):
            from pyspark.sql import SparkSession

            spark = spark or SparkSession.getActiveSession()
            partials = self.partials_from_parquet(spark, source)
        elif is_partials:
            partials = source
        else:
            partials = self.partials(source)
        auto_persisted = None
        if salt == "auto":
            # stats-driven (SURVEY.md §4.2): bound reduce-task fan-in by the
            # observed max partials-per-key. Persist so the stats pass and the
            # merge share one build; released below once the merge result is
            # materialized (eager localCheckpoint) so executor storage isn't
            # pinned for the rest of the session.
            partials = auto_persisted = partials.persist()
            if self.key_cols:
                hottest = (
                    partials.groupBy(*self.key_cols)
                    .count()
                    .agg(F.max("count").alias("m"))
                    .collect()[0]["m"]
                )
            else:
                hottest = partials.count()
            salt = max(2, -(-int(hottest) // 64)) if hottest and hottest > 64 else None
        if salt and salt > 1:
            salted = partials.withColumn(
                "__salt", F.pmod(F.spark_partition_id(), F.lit(salt)).cast("int")
            )
            stage1 = self._merge_stage(salted, self.key_cols + ["__salt"], final=False)
            partials = stage1.drop("__salt")
        if not self.key_cols:
            const = partials.withColumn("__g", F.lit(0))
            out = self._merge_stage(const, ["__g"]).drop("__g")
        else:
            out = self._merge_stage(partials, self.key_cols)
        if auto_persisted is not None:
            # merged output is sketch-sized (one row per key): materialize it
            # now, then release the cached partials
            out = out.localCheckpoint(eager=True)
            auto_persisted.unpersist()
        return out

    def rollup_total(self, merged: DataFrame) -> DataFrame:
        """Grand-total sketch row (sketch, n_rows, n_items) from per-key
        merged rows — computed DISTRIBUTED by a second keyless merge stage
        over the KB-sized per-key rows (one extra tiny shuffle), never a
        driver-side merge loop, so group-key cardinality is unbounded
        (VERDICT r02 #3: rollup/overlap finalization previously collected
        every per-key sketch to the driver). Merge is associative and
        commutative, so the result is byte-identical to any merge order.
        """
        const = merged.withColumn("__g", F.lit(0))
        return self._merge_stage(const, ["__g"]).drop("__g")

    def grouping_sets(self, merged: DataFrame, sets: Sequence[Sequence[str]]) -> DataFrame:
        """CUBE / ROLLUP / GROUPING SETS over sketches from ONE data scan.

        ``merged`` is the finest-grain per-key merged DataFrame (one sketch
        row per key tuple); each coarser grouping set re-merges those
        KB-sized rows through the distributed merge stage — the input data
        is never rescanned, and no sketch ever touches the driver.
        Aggregated-out key columns come back NULL, like Spark's native
        ``cube()``/``rollup()``, and a ``grouping_id`` column (same bitmask
        semantics as Spark's ``grouping_id()``: bit set = column aggregated
        out, key_cols[0] highest bit) disambiguates a rollup NULL from a
        GENUINE NULL group key — the library treats null keys as valid
        groups, so without it a real day=NULL row and the day-rollup row
        would be indistinguishable. The exact path needs one full shuffle of
        raw values PER SET; the sketch path pays one tiny per-set shuffle —
        the gap widens with every added set at 100 TB.

        Persist/localCheckpoint ``merged`` first if it is expensive to
        recompute: each set references it once.
        """
        by_name = {f.name: f for f in merged.schema.fields}
        full = set(self.key_cols)
        outs = []
        for s in sets:
            s = list(s)
            if set(s) - full:
                raise ValueError(f"grouping set {s} not a subset of {self.key_cols}")
            if set(s) == full:
                sub = merged
            elif s:
                sub = self._merge_stage(merged, s)
            else:
                sub = self.rollup_total(merged)
            gid = 0
            for c in self.key_cols:
                gid = (gid << 1) | (0 if c in s else 1)
            cols = [
                F.col(c)
                if c in s or set(s) == full
                else F.lit(None).cast(by_name[c].dataType).alias(c)
                for c in self.key_cols
            ]
            outs.append(
                sub.select(
                    *cols,
                    F.lit(gid).cast("long").alias("grouping_id"),
                    "sketch",
                    "n_rows",
                    "n_items",
                )
            )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    def cube(self, merged: DataFrame) -> DataFrame:
        """All 2^len(key_cols) grouping sets (the full CUBE) from one scan."""
        from itertools import combinations

        sets: list[list[str]] = []
        for r in range(len(self.key_cols), -1, -1):
            sets.extend(list(c) for c in combinations(self.key_cols, r))
        return self.grouping_sets(merged, sets)

    def rollup(self, merged: DataFrame) -> DataFrame:
        """Hierarchical ROLLUP (each key-prefix grouping set) from one scan —
        Spark's rollup() semantics over sketches."""
        sets = [self.key_cols[:i] for i in range(len(self.key_cols), -1, -1)]
        return self.grouping_sets(merged, sets)

    def time_rollup(
        self,
        df: DataFrame,
        ts_col: str,
        grains: Sequence[str] = ("hour", "day", "week"),
        bucket_col: str | None = None,
        salt: int | str | None = None,
    ) -> DataFrame:
        """Hypertable-style continuous aggregate: sketches per time bucket
        at every requested grain, from ONE scan of the data.

        The finest grain (``grains[0]``) is built once — ``bucket_col``
        (default: the last key column) receives ``date_trunc(grain,
        ts_col)`` and the normal partial/merge pipeline runs. Every coarser
        grain then re-merges the FINEST merged rows (one KB-sized row per
        key x bucket), never the data: at 10^12 events the marginal cost of
        adding a grain is a shuffle of hours-per-retention x keys sketch
        rows. Merge associativity makes each coarser sketch byte-identical
        to one built from raw data directly at that grain — so any window
        (day/week dashboards over an hour-grain store) is answerable
        without rescanning, the TimescaleDB/continuous-aggregate pattern
        re-expressed over mergeable sketches.

        Every coarser grain must be derivable from the finest by
        truncation (its bucket boundaries must lie on the finest grid):
        second/minute/hour/day chains freely, week/month/quarter/year
        derive from day or finer, but month is NOT derivable from week —
        validated up front with a LOUD error, because a silent
        wrong-grid re-merge would double-count boundary buckets.

        Returns (grain, *key_cols, sketch, n_rows, n_items); the result is
        eagerly checkpointed (release with ``session.release``) so the
        intermediate finest-grain table can be freed immediately.
        """
        from .session import release

        grains = list(grains)
        if not grains:
            raise ValueError("grains must be non-empty")
        if len(set(grains)) != len(grains):
            raise ValueError(f"duplicate grains {grains} would emit rows twice")
        order = {"second": 0, "minute": 1, "hour": 2, "day": 3,
                 "week": 10, "month": 20, "quarter": 21, "year": 22}
        for g in grains:
            if g not in order:
                raise ValueError(f"unknown grain {g!r}; choose from {sorted(order)}")
        fine = grains[0]
        for g in grains[1:]:
            ok = (
                g == fine
                or (fine in ("second", "minute", "hour", "day") and order[g] > order[fine])
                or (fine == "month" and g in ("quarter", "year"))
                or (fine == "quarter" and g == "year")
            )
            if not ok:
                raise ValueError(
                    f"grain {g!r} is not derivable from finest grain {fine!r} "
                    f"by truncation (e.g. month is not week-aligned)"
                )
        if not self.key_cols:
            raise ValueError("time_rollup needs key_cols including the bucket column")
        bucket_col = bucket_col or self.key_cols[-1]
        if bucket_col not in self.key_cols:
            raise ValueError(f"bucket_col {bucket_col!r} must be one of key_cols")
        if "grain" in self.key_cols:
            raise ValueError("key_cols may not contain 'grain' (the output tag column)")

        ts_type = df.schema[ts_col].dataType
        base = df.withColumn(
            bucket_col, F.date_trunc(fine, F.col(ts_col)).cast(ts_type)
        )
        # salt='auto'/int bounds reduce fan-in when hot buckets receive one
        # partial per scan task (unbounded at data scale)
        finest = self.merged(base, salt=salt).localCheckpoint(eager=True)
        try:
            outs = [finest.select(F.lit(fine).alias("grain"), "*")]
            for g in grains[1:]:
                coarser = finest.withColumn(
                    bucket_col, F.date_trunc(g, F.col(bucket_col)).cast(ts_type)
                )
                outs.append(
                    self._merge_stage(coarser, self.key_cols).select(
                        F.lit(g).alias("grain"), "*"
                    )
                )
            out = outs[0]
            for o in outs[1:]:
                out = out.unionByName(o)
            result = out.localCheckpoint(eager=True)
        finally:
            release(finest)
        return result

    def finalize_rows(
        self,
        merged: DataFrame,
        row_fn: Callable,
        extra_fields: Sequence[T.StructField],
    ) -> DataFrame:
        """Expand each merged sketch row into result rows, distributed.

        ``row_fn(sketch_bytes) -> pd.DataFrame[extra cols]`` runs where the
        merged row already lives: ``merged`` has exactly one row per key, so
        this is a shuffle-FREE mapInPandas (round 1 used
        groupBy().applyInPandas here, which re-shuffled the sketch rows and
        paid a pandas/Arrow round trip per key — waste at millions of keys).
        """
        key_cols = self.key_cols
        by_name = {f.name: f for f in merged.schema.fields}
        schema = T.StructType([by_name[c] for c in key_cols] + list(extra_fields))
        extra_names = [f.name for f in extra_fields]

        def expand(pdfs):
            for pdf in pdfs:
                outs = []
                for _, row in pdf.iterrows():
                    out = row_fn(bytes(row["sketch"]))
                    for c in key_cols:
                        out[c] = row[c]
                    outs.append(out[key_cols + extra_names])
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        return merged.mapInPandas(expand, schema)


class _DistinctAggregator(SketchAggregator):
    """Aggregators finalized to one distinct-count estimate per key;
    subclasses define ``estimate_udf``."""

    def estimate_udf(self) -> Callable:
        raise NotImplementedError

    def estimates(
        self,
        source: DataFrame | str,
        salt: int | None = None,
        *,
        is_partials: bool = False,
        spark=None,
    ) -> DataFrame:
        """key cols + ``est_distinct`` (+ n_rows/n_items rollups)."""
        merged = self.merged(source, salt=salt, is_partials=is_partials, spark=spark)
        return merged.select(
            *self.key_cols,
            self.estimate_udf()(F.col("sketch")).alias("est_distinct"),
            "n_rows",
            "n_items",
        )


class _QuantileAggregator(SketchAggregator):
    """Aggregators finalized to per-key quantiles; ``_sketch_cls`` is the
    sketch class whose ``from_bytes``/``quantiles`` answer them."""

    _sketch_cls: type

    def quantiles(
        self, source, qs, *, salt: int | None = None, spark=None
    ) -> DataFrame:
        qs = [float(q) for q in qs]
        sketch_cls = self._sketch_cls

        def row_fn(blob: bytes) -> pd.DataFrame:
            s = sketch_cls.from_bytes(blob)
            return pd.DataFrame({"q": qs, "value": s.quantiles(qs)})

        fields = [
            T.StructField("q", T.DoubleType(), False),
            T.StructField("value", T.DoubleType(), False),
        ]
        return self.finalize_rows(self.merged(source, salt=salt, spark=spark), row_fn, fields)


class HllAggregator(_DistinctAggregator):
    """Distributed HyperLogLog distinct-count over any key grouping."""

    def __init__(
        self,
        p: int = 14,
        seed: int = DEFAULT_SEED,
        key_cols: Sequence[str] = ("source",),
        value_col: str = "tokens",
        value_kind: str = "tokens",
    ):
        super().__init__(key_cols, value_col, value_kind)
        if value_kind == "double":
            # fail fast on the driver: there is no double hash to sketch
            raise ValueError("HLL does not support value_kind='double'")
        if not (2 <= int(p) <= 63):
            # fail fast on the driver, not inside an executor task
            raise ValueError(f"p={p} is out of range [2, 63]")
        self.p = int(p)
        self.seed = int(seed)

    def _empty(self) -> HllSketch:
        return HllSketch.empty(self.p, self.seed)

    def _update(self, sketch: HllSketch, values) -> None:
        sketch.update_hashes(murmur64a(values, self.value_kind, self.seed))

    def _merge_blobs(self, blobs) -> HllSketch:
        return HllSketch.merge_blobs(blobs, self.p, self.seed)

    def _task_sketches(self):
        """A register matrix at dense p; per-key sketches above it."""
        return _RegisterMatrix(self) if self.p <= DENSE_MAX_P else super()._task_sketches()

    def _merged_runs(self, blobs: pa.Array, starts: np.ndarray, merge_blobs) -> pa.Array:
        """At dense p: per ``_MATRIX_BYTES`` of runs, one batch decode that
        max-folds each blob into its run's row (``registers_from_blobs``)
        and one encode (``registers_to_blobs``), byte-identical to
        ``merge_blobs`` per run. Per-run ``merge_blobs`` above it."""
        if self.p > DENSE_MAX_P:
            return super()._merged_runs(blobs, starts, merge_blobs)
        run_of = np.repeat(np.arange(len(starts)), np.diff(np.append(starts, len(blobs))))
        if blobs.null_count:  # a NULL partial merges as the empty sketch
            valid = blobs.is_valid()
            blobs, run_of = blobs.filter(valid), run_of[valid.to_numpy(zero_copy_only=False)]
        step = max(1, _MATRIX_BYTES >> self.p)  # runs per register matrix
        out = []
        for lo in range(0, len(starts), step):
            hi = min(lo + step, len(starts))
            a, b = np.searchsorted(run_of, [lo, hi]).tolist()
            if a == b:  # every run here is all NULL
                regs, p, seed = np.zeros((hi - lo, 1 << self.p), np.uint8), self.p, self.seed
            else:
                regs, p, seed = registers_from_blobs(blobs.slice(a, b - a), run_of[a:b] - lo, hi - lo)
            if (p, seed) != (self.p, self.seed):
                raise ValueError(
                    f"cannot merge HLL blobs of p={p}, seed={seed} into p={self.p}, seed={self.seed}"
                )
            out.append(registers_to_blobs(regs, p, seed))
        return out[0] if len(out) == 1 else pa.concat_arrays(out)

    # -- finalize ---------------------------------------------------------------

    def estimate_udf(self) -> Callable:
        return F.pandas_udf(_hll_estimates, T.LongType())


class CmsAggregator(SketchAggregator):
    """Distributed count-min: frequency point queries / heavy hitters.

    SIZING (VERDICT r03 #9): a sketch costs depth * 2^width_log2 * 8 bytes
    (uint64 counters) — 2^18 x 5 is ~10 MB, fine for ONE global sketch but
    100 GB checkpointed across 10^4 per-key sketches. Per-key widths should
    come from the eps you need (``width_log2_for_eps``), not the global
    default: the point-query bound is overcount <= eps * N with N the
    KEY'S OWN stream mass, so a per-key sketch needs the same width only
    for the same RELATIVE error — and its absolute error shrinks with the
    key's (much smaller) mass. E.g. eps=2e-4 -> width 2^14 -> 655 KB/key,
    6.5 GB at 10^4 keys instead of 100 GB.
    """

    @staticmethod
    def width_log2_for_eps(eps: float) -> int:
        """Smallest width_log2 whose point-query bound e/width <= eps.

        Raises when no representable width achieves the requested eps
        (review catch: silently clamping to the 2^30 codec max would hand
        back a bound up to 25x looser than asked for, and every downstream
        assertion derived from the REQUESTED eps would be wrong)."""
        if not (0 < eps < 1):
            raise ValueError(f"eps={eps} out of range (0, 1)")
        w = max(4, math.ceil(math.log2(math.e / eps)))
        if w > 30:
            raise ValueError(
                f"eps={eps} needs width 2^{w}, beyond the codec max 2^30 "
                f"(achievable bound floor: {math.e / (1 << 30):.3g})"
            )
        return w

    def __init__(
        self,
        width_log2: int | None = None,
        depth: int = 5,
        seed: int = DEFAULT_SEED,
        key_cols: Sequence[str] = (),
        value_col: str = "tokens",
        value_kind: str = "tokens",
        eps: float | None = None,
    ):
        super().__init__(key_cols, value_col, value_kind)
        if eps is not None and width_log2 is not None:
            raise ValueError("pass width_log2 OR eps, not both")
        if width_log2 is None:
            # eps-first sizing (the class-docstring rule); default keeps the
            # historical 2^16 width
            width_log2 = 16 if eps is None else self.width_log2_for_eps(eps)
        self.width_log2, self.depth, self.seed = int(width_log2), int(depth), int(seed)
        CountMinSketch.empty(self.width_log2, self.depth, self.seed)  # validate

    def _empty(self) -> CountMinSketch:
        return CountMinSketch.empty(self.width_log2, self.depth, self.seed)

    def _update(self, sketch: CountMinSketch, values) -> None:
        sketch.update_batch(values, kind=self.value_kind)

    def _merge_blobs(self, blobs) -> CountMinSketch:
        return CountMinSketch.merge_blobs(blobs, self.width_log2, self.depth, self.seed)

    def heavy_hitters(
        self,
        source,
        topk: int = 20,
        candidates_per_task: int = 200,
        *,
        spark=None,
        merged_df: DataFrame | None = None,
    ) -> DataFrame:
        """Scalable approximate top-k: (value, est_freq) rows.

        Candidate generation is the classic per-partition exact top-C per key
        (a global heavy hitter is a local one in some partition slice at
        C >> k), deduplicated, then scored against the merged count-min
        sketch — per key when key_cols are set, globally otherwise. Fully
        distributed: candidates never leave the cluster; the shuffle carries
        tasks x keys x C candidate rows + one sketch row per key.
        """
        if isinstance(source, str):
            from pyspark.sql import SparkSession

            spark = spark or SparkSession.getActiveSession()
            df = spark.read.parquet(source)
        else:
            df = source
        key_cols, value_col, kind = self.key_cols, self.value_col, self.value_kind

        arrow_type, value_field = _VALUE_TYPES[kind]
        by_name = {f.name: f for f in df.schema.fields}
        cand_schema = T.StructType(
            [by_name[k] for k in key_cols] + [T.StructField("value", value_field, False)]
        )

        def local_candidates(batches):
            from collections import Counter

            # numeric kinds: per-key list of (values, counts) chunks,
            # compacted by a vectorized unique + bincount only when the
            # buffered length doubles the last compacted size (amortized one
            # O(D log D) pass total) — never a per-element Python loop (the
            # Counter merge was the hot spot at data scale). Memory stays
            # O(per-key distinct). Strings keep the Counter path (hash-map
            # domain) with the same deterministic tie-break.
            counts: dict[tuple, Counter] = {}
            acc: dict[tuple, list] = {}  # keyt -> [chunks, buffered, base]
            key_types = None

            def compact(st):
                allv = np.concatenate([u for u, _ in st[0]])
                allc = np.concatenate([c for _, c in st[0]])
                u2, inv = np.unique(allv, return_inverse=True)
                tot = np.bincount(inv, weights=allc).astype(np.int64)
                st[0] = [(u2, tot)]
                st[1] = st[2] = len(u2)
                return u2, tot

            def fold(keyt, uniq, cnt):
                st = acc.setdefault(keyt, [[], 0, 0])
                st[0].append((uniq, cnt.astype(np.int64)))
                st[1] += len(uniq)
                if st[1] > max(2 * st[2], 4096):
                    compact(st)

            for batch in batches:
                if batch.num_rows == 0:
                    continue
                if key_types is None:
                    key_types = [batch.schema.field(k).type for k in key_cols]
                values, item_counts = _extract_values(batch, value_col, kind)
                codes, uniq_tuples = _batch_groups(batch, key_cols)
                groups = _group_slices(values, _value_codes(codes, item_counts, kind), len(uniq_tuples))
                for keyt, gvals in zip(uniq_tuples, groups):
                    if kind == "string":
                        counts.setdefault(keyt, Counter()).update(gvals.to_pylist())
                    else:
                        uniq, cnt = np.unique(gvals, return_counts=True)
                        fold(keyt, uniq, cnt)
            keys_out, vals_out = [], []
            # deterministic top-C everywhere: (count desc, value asc) —
            # tie-breaks must not depend on accumulation order, or candidate
            # sets (and downstream heavy-hitter results) vary run to run
            for keyt, c in counts.items():
                top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
                for v, _ in top[:candidates_per_task]:
                    keys_out.append(keyt)
                    vals_out.append(v)
            for keyt, st in acc.items():
                vals, cnts = compact(st)
                order = np.lexsort((vals, -cnts))[:candidates_per_task]
                keys_out.extend([keyt] * len(order))
                vals_out.extend(vals[order].tolist())
            if not vals_out:
                return
            arrays = [
                pa.array([kt[j] for kt in keys_out], type=key_types[j])
                for j in range(len(key_cols))
            ]
            arrays.append(pa.array(vals_out, type=arrow_type))
            yield pa.RecordBatch.from_arrays(arrays, names=key_cols + ["value"])

        cands = (
            df.select(*(key_cols + [value_col]))
            .mapInArrow(local_candidates, cand_schema)
            .distinct()
        )

        # one unified fully-distributed path: join candidate lists onto
        # merged sketches and score in an applyInPandas task per key —
        # nothing funnels through the driver. The keyless case runs the same
        # shape under a constant __g key (one candidate list, one sketch).
        group_cols = key_cols if key_cols else ["__g"]
        # callers that already hold the merged sketch rows (e.g. a query
        # also doing point estimates) pass them in — skips a second full
        # partial build over the input
        merged = merged_df if merged_df is not None else self.merged(source, spark=spark)
        if not key_cols:
            merged = merged.withColumn("__g", F.lit(0))
            cands = cands.withColumn("__g", F.lit(0))
            by_name["__g"] = T.StructField("__g", T.IntegerType(), False)
        cand_lists = cands.groupBy(*group_cols).agg(
            F.collect_list("value").alias("__probes")
        )
        # eqNullSafe: a null group key is a valid group and must survive the join
        cond = [merged[k].eqNullSafe(cand_lists[k]) for k in group_cols]
        joined = merged.join(cand_lists, cond).select(
            *[merged[k] for k in group_cols], merged["sketch"], cand_lists["__probes"]
        )
        out_schema = T.StructType(
            [by_name[k] for k in group_cols]
            + [
                T.StructField("value", value_field, False),
                T.StructField("est_freq", T.LongType(), False),
            ]
        )
        width_log2, depth, seed, vkind = self.width_log2, self.depth, self.seed, kind

        def score(pdfs):
            # joined has exactly one row per key: expand in place, no
            # re-shuffle, one Python call per batch (same rationale as
            # finalize_rows / the runs-merge stage)
            for pdf in pdfs:
                outs = []
                for _, row in pdf.iterrows():
                    sketch = CountMinSketch.from_bytes(bytes(row["sketch"]))
                    probes = list(row["__probes"])
                    if vkind == "string":
                        est = sketch.query_batch(probes, kind=vkind)
                    else:
                        np_t = {"tokens": np.int32, "int32": np.int32, "int64": np.int64}[vkind]
                        est = sketch.query_batch(np.asarray(probes, dtype=np_t), kind=vkind)
                    out = pd.DataFrame({"value": probes, "est_freq": est.astype("int64")})
                    out = out.sort_values(
                        ["est_freq", "value"], ascending=[False, True]
                    ).head(topk)
                    for k in group_cols:
                        out[k] = row[k]
                    outs.append(out[group_cols + ["value", "est_freq"]])
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        result = joined.mapInPandas(score, out_schema)
        return result.drop("__g") if not key_cols else result

    def point_estimates(
        self, source, probes, *, salt: int | None = None, spark=None
    ) -> DataFrame:
        """key cols + (value, est_freq) for each probe value."""
        kind = self.value_kind
        probes_arr = (
            list(probes) if kind == "string" else np.asarray(probes)
        )
        probe_field = _VALUE_TYPES[kind][1]

        def row_fn(blob: bytes) -> pd.DataFrame:
            s = CountMinSketch.from_bytes(blob)
            est = s.query_batch(probes_arr, kind=kind)
            return pd.DataFrame({"value": probes_arr, "est_freq": est.astype("int64")})

        fields = [
            T.StructField("value", probe_field, False),
            T.StructField("est_freq", T.LongType(), False),
        ]
        return self.finalize_rows(self.merged(source, salt=salt, spark=spark), row_fn, fields)


class BloomAggregator(SketchAggregator):
    """Distributed Bloom filter: set membership over huge key sets."""

    def __init__(
        self,
        m_log2: int = 22,
        k: int = 7,
        seed: int = DEFAULT_SEED,
        key_cols: Sequence[str] = (),
        value_col: str = "tokens",
        value_kind: str = "tokens",
    ):
        super().__init__(key_cols, value_col, value_kind)
        self.m_log2, self.k, self.seed = int(m_log2), int(k), int(seed)
        BloomFilter.empty(self.m_log2, self.k, self.seed)  # validate

    def _empty(self) -> BloomFilter:
        return BloomFilter.empty(self.m_log2, self.k, self.seed)

    def _update(self, sketch: BloomFilter, values) -> None:
        sketch.update_batch(values, kind=self.value_kind)

    def _merge_blobs(self, blobs) -> BloomFilter:
        return BloomFilter.merge_blobs(blobs, self.m_log2, self.k, self.seed)

    def membership(
        self, source, probes, *, salt: int | None = None, spark=None
    ) -> DataFrame:
        """key cols + (value, present) for each probe value."""
        kind = self.value_kind
        probes_arr = list(probes) if kind == "string" else np.asarray(probes)
        probe_field = _VALUE_TYPES[kind][1]

        def row_fn(blob: bytes) -> pd.DataFrame:
            s = BloomFilter.from_bytes(blob)
            present = s.contains_batch(probes_arr, kind=kind)
            return pd.DataFrame({"value": probes_arr, "present": present})

        fields = [
            T.StructField("value", probe_field, False),
            T.StructField("present", T.BooleanType(), False),
        ]
        return self.finalize_rows(self.merged(source, salt=salt, spark=spark), row_fn, fields)

    def filter_column_udf(self):
        """Scalar pandas UDF factory: broadcast one merged Bloom blob and use

        it to pre-filter a huge table (the classic semi-join pushdown)."""
        kind = self.value_kind

        def make(blob: bytes):
            sketch = BloomFilter.from_bytes(blob)

            @F.pandas_udf(T.BooleanType())
            def maybe_member(vals: pd.Series) -> pd.Series:
                if kind == "string":
                    got = sketch.contains_batch(vals.tolist(), kind=kind)
                else:
                    got = sketch.contains_batch(vals.to_numpy(), kind=kind)
                return pd.Series(got)

            return maybe_member

        return make


class KllAggregator(_QuantileAggregator):
    """Distributed KLL: rank/quantile queries over numeric columns."""

    _sketch_cls = KllSketch

    def __init__(
        self,
        k: int = 200,
        seed: int = 0,
        key_cols: Sequence[str] = (),
        value_col: str = "n_tok",
        value_kind: str = "double",
    ):
        super().__init__(key_cols, value_col, value_kind)
        self.k, self.seed = int(k), int(seed)
        KllSketch.empty(self.k, self.seed)  # validate

    def _empty(self) -> KllSketch:
        return KllSketch.empty(self.k, self.seed)

    def _update(self, sketch: KllSketch, values) -> None:
        sketch.update_batch(np.asarray(values, dtype=np.float64))

    def _merge_blobs(self, blobs) -> KllSketch:
        return KllSketch.merge_blobs(blobs, self.k, self.seed)


class KmvAggregator(_DistinctAggregator):
    """Distributed KMV/theta sketch: distinct counts with native set
    intersection/Jaccard (no inclusion–exclusion), order-exact merge."""

    def __init__(
        self,
        k: int = 4096,
        seed: int = DEFAULT_SEED,
        key_cols: Sequence[str] = ("source",),
        value_col: str = "tokens",
        value_kind: str = "tokens",
    ):
        super().__init__(key_cols, value_col, value_kind)
        self.k, self.seed = int(k), int(seed)
        KmvSketch.empty(self.k, self.seed)  # validate

    def _empty(self) -> KmvSketch:
        return KmvSketch.empty(self.k, self.seed)

    def _update(self, sketch: KmvSketch, values) -> None:
        sketch.update_batch(values, kind=self.value_kind)

    def _merge_blobs(self, blobs) -> KmvSketch:
        return KmvSketch.merge_blobs(blobs, self.k, self.seed)

    def estimate_udf(self) -> Callable:
        @F.pandas_udf(T.LongType())
        def est(blobs: pd.Series) -> pd.Series:
            return blobs.map(
                lambda b: KmvSketch.from_bytes(bytes(b)).estimate()
            ).astype("int64")

        return est


class ProfileAggregator(SketchAggregator):
    """ONE-scan corpus profile: HLL distinct values + KLL row-length
    quantiles per key from a single pass over a token-array column.

    At 100 TB the scan dominates; separate distinct/quantile queries pay it
    twice. The composite ProfileSketch rides the exact same partial/merge
    machinery (one blob column), and the optional ``_update_rows_grouped``
    hook feeds the per-ROW token counts that the flattened value batch
    can't carry.
    """

    def __init__(
        self,
        p: int = 14,
        kll_k: int = 200,
        seed: int = DEFAULT_SEED,
        key_cols: Sequence[str] = ("source",),
        value_col: str = "tokens",
    ):
        super().__init__(key_cols, value_col, "tokens")
        self.p, self.kll_k, self.seed = int(p), int(kll_k), int(seed)
        ProfileSketch.empty(self.p, self.kll_k, self.seed)  # validate

    def _empty(self) -> ProfileSketch:
        return ProfileSketch.empty(self.p, self.kll_k, self.seed)

    def _update(self, sketch: ProfileSketch, values) -> None:
        if len(values):
            sketch.update_values(values)

    def _update_rows_grouped(self, sketches, counts, codes, n_groups: int) -> None:
        for s, group_counts in zip(sketches, _group_slices(counts, codes, n_groups)):
            s.update_row_lengths(group_counts)

    def _merge_blobs(self, blobs) -> ProfileSketch:
        return ProfileSketch.merge_blobs(blobs, self.p, self.kll_k, self.seed)

    def profile(
        self,
        source,
        qs=(0.5, 0.9),
        *,
        salt: int | None = None,
        spark=None,
        merged_df: DataFrame | None = None,
    ) -> DataFrame:
        """key cols + distinct estimate + length quantiles + exact counts.

        Pass ``merged_df`` (a pre-materialized ``merged()`` result) to reuse
        sketches you already built and manage their lifecycle yourself;
        otherwise profile() materializes its own, and releases the
        intermediate checkpoint before returning (ADVICE r03: previously the
        eager localCheckpoint accumulated block-manager storage across
        calls) — the returned per-key result is itself a small eager
        checkpoint, releasable via ``sketchlib.session.release``.
        """
        qs = [float(q) for q in qs]

        # round, don't truncate: float literals like 0.29 sit just below
        # their decimal value, so int(q*100) would mislabel the column
        names = [f"len_p{int(round(q * 100))}" for q in qs]

        def row_fn(blob: bytes) -> pd.DataFrame:
            s = ProfileSketch.from_bytes(blob)
            out = {"est_distinct": [s.distinct_values()]}
            for name, q in zip(names, qs):
                out[name] = [s.length_quantile(q)]
            return pd.DataFrame(out)

        fields = [T.StructField("est_distinct", T.LongType(), False)] + [
            T.StructField(name, T.DoubleType(), False) for name in names
        ]
        # materialize: the per-key sketch rows feed BOTH the finalize pass
        # and the counts join — without it the second reference would
        # re-scan and re-sketch the whole input
        own_merged = merged_df is None
        merged = (
            self.merged(source, salt=salt, spark=spark).localCheckpoint(eager=True)
            if own_merged
            else merged_df
        )
        prof = self.finalize_rows(merged, row_fn, fields)
        out = prof.join(merged.select(*self.key_cols, "n_rows", "n_items"), self.key_cols)
        if own_merged:
            # the joined result is per-key scalars (tiny): pin it, then free
            # the sketch-blob checkpoint so repeated calls don't accumulate
            out = out.localCheckpoint(eager=True)
            from .session import release

            release(merged)
        return out


class TDigestAggregator(_QuantileAggregator):
    """Distributed t-digest: quantile/CDF queries, tight at the tails."""

    _sketch_cls = TDigest

    def __init__(
        self,
        delta: float = 200.0,
        key_cols: Sequence[str] = (),
        value_col: str = "value",
        value_kind: str = "double",
    ):
        super().__init__(key_cols, value_col, value_kind)
        self.delta = float(delta)
        TDigest.empty(self.delta)  # validate

    def _empty(self) -> TDigest:
        return TDigest.empty(self.delta)

    def _update(self, sketch: TDigest, values) -> None:
        sketch.update_batch(np.asarray(values, dtype=np.float64))

    def _merge_blobs(self, blobs) -> TDigest:
        return TDigest.merge_blobs(blobs, self.delta)


class FiAggregator(SketchAggregator):
    """Distributed frequent-items (Misra–Gries): guaranteed heavy hitters
    with certified two-sided frequency bounds, hash-free and deterministic.

    Complements CmsAggregator on the frequency axis: CMS answers point
    queries over an unbounded domain (never undercounts, needs a candidate
    stream to ENUMERATE heavy hitters); MG ENUMERATES its own candidates
    with a lower-bound count and one scalar ``error`` that certifies every
    undercount — any item with true frequency > error is provably retained.
    At 100 TB the shuffle payload per key is O(capacity) pairs (~16 KB at
    capacity=1024), and the merged bound error <= N/(capacity+1) is
    topology-free (the trim mass argument, fi.py), so the estimate quality
    is identical on 1 or 1000 executors.

    Byte-determinism: merge_blobs is a pure function of the partial blob
    multiset (exact accumulation, ONE final trim), and the salted stage-1
    uses the exact untrimmed intermediate merge (``final=False`` in
    _merge_stage) — so salted and unsalted merges are byte-identical, and
    with layout-determined partials (partials_from_parquet(per_shard=True))
    the merged bytes are invariant to parallelism, same law as KLL.
    """

    def __init__(
        self,
        capacity: int = 1024,
        key_cols: Sequence[str] = ("source",),
        value_col: str = "tokens",
        value_kind: str = "tokens",
    ):
        super().__init__(key_cols, value_col, value_kind)
        if value_kind == "double":
            # fi._as_items has no float domain — fail here, not deep inside
            # an executor task on the first batch
            raise ValueError(
                "FiAggregator counts discrete items; value_kind 'double' is "
                "not supported (use int64/int32/tokens/string)"
            )
        self.capacity = int(capacity)
        self.item_kind = "string" if value_kind == "string" else "int64"
        FrequentItemsSketch.empty(self.capacity, self.item_kind)  # validate

    def _empty(self) -> FrequentItemsSketch:
        return FrequentItemsSketch.empty(self.capacity, self.item_kind)

    def _update(self, sketch: FrequentItemsSketch, values) -> None:
        sketch.update_batch(values, kind=self.value_kind)

    def _merge_blobs(self, blobs) -> FrequentItemsSketch:
        return FrequentItemsSketch.merge_blobs(blobs, self.capacity, self.item_kind)

    def _merge_blobs_intermediate(self, blobs) -> FrequentItemsSketch:
        # exact pair-union, no trim: keeps the salted merge tree equal to
        # one flat merge (fi.py merge_blobs docstring)
        return FrequentItemsSketch.merge_blobs(
            blobs, self.capacity, self.item_kind, trim=False
        )

    def top_items(
        self,
        source: DataFrame | str,
        k: int | None = None,
        *,
        salt: int | None = None,
        spark=None,
    ) -> DataFrame:
        """Per-key heavy hitters: (key..., item, lower_bound, upper_bound,
        guaranteed) rows, (count desc, item asc) within each key.

        ``upper_bound = lower_bound + error`` (two-sided certificate);
        ``guaranteed`` marks items whose lower_bound already exceeds the
        sketch error — provably above the N/(capacity+1) line, impossible
        to be a trim artifact."""
        k_ = k
        item_type = T.LongType() if self.item_kind == "int64" else T.StringType()

        def row_fn(blob: bytes) -> pd.DataFrame:
            s = FrequentItemsSketch.from_bytes(blob)
            pairs = s.top_items(k_)
            return pd.DataFrame(
                {
                    "item": [p[0] for p in pairs],
                    "lower_bound": [p[1] for p in pairs],
                    "upper_bound": [p[1] + s.error for p in pairs],
                    "guaranteed": [p[1] > s.error for p in pairs],
                }
            )

        fields = [
            T.StructField("item", item_type, False),
            T.StructField("lower_bound", T.LongType(), False),
            T.StructField("upper_bound", T.LongType(), False),
            T.StructField("guaranteed", T.BooleanType(), False),
        ]
        return self.finalize_rows(self.merged(source, salt=salt, spark=spark), row_fn, fields)
