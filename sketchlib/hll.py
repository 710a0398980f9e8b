"""HyperLogLog sketch — the parity core.

From-scratch numpy implementation matching the semantics of the reference
(``/root/reference/src/hll.c``): MurmurHash64A keys (seed 314), top-p-bit
register index, clz-rank registers, element-wise-max merge
(src/hll.c:776-815), and the reference's tau/sigma estimator
(src/hll.c:653-678, 1167-1204). Golden-vector parity is locked by
tests/test_hll.py against FIXTURES.md §3 (captured from the built C
extension).

Representation: dense ``uint8[2^p]`` numpy registers by default for
p <= 26, or — with ``sparse=True``, the reference's constructor default
(src/hll.c:696-760) — the full sparse lifecycle: a sorted (index, rank)
pair array plus a bounded insertion buffer of pending max-updates, flushed
into the sorted array when full or on any read (reference
flushRegisterBuffer, src/hll.c:315-407 / getSparseRegister,
src/hll.c:456-485), and a sparse→dense transform once the sorted array
reaches ``max_sparse_list_size`` (reference transformToDense,
src/hll.c:409-455, trigger src/hll.c:513-524; default sizing
min(2^p/4, 2^20), src/hll.c:726-760). The distributed aggregation paths
(agg.py) always build dense partials — there the Arrow batch is the buffer
and vectorization makes the object-local sparse machinery moot
(SURVEY.md §4.1) — so ``sparse=True`` is the single-object parity surface,
not the hot path. For p > 26 (where a dense array would exceed 64 MiB, up
to 2^63 at the contract maximum) the sketch is held sparse unconditionally
and the transform never fires, mirroring how the reference's sparse list
is what makes its p=63 contract usable (src/hll.c:36-40, 708-712); all
operations (add/update/merge/estimate/codec) work on it without ever
allocating 2^p registers.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from .codec import (
    HEADER_LEN,
    KIND_HLL,
    MAGIC,
    VERSION,
    PayloadReader,
    checked_indices,
    pack_header,
    unpack_header,
)
from .kernels import (
    DEFAULT_SEED,
    hll_index_rank,
    murmur64a_bytes,
    murmur64a_int32,
    murmur64a_int64,
    update_registers,
)

DEFAULT_P = 12  # reference default, src/hll.c:702
# largest p held as a dense register array (64 MiB); beyond this the sketch
# uses the sorted sparse (index, rank) representation — the same dense/sparse
# duality as the reference (src/hll.c:708-760), keyed on p instead of fill
DENSE_MAX_P = 26

# the codec header (codec._HEADER) as a numpy record, for whole-batch reads
_HEADER_DTYPE = np.dtype(
    [("magic", "<u4"), ("version", "<u2"), ("kind", "u1"), ("p", "u1"), ("seed", "<i8")]
)


def _sigma(x: float) -> float:
    """Linear-counting power series; sigma(1) = +inf (src/hll.c:1167-1184)."""
    if x == 1.0:
        return math.inf
    y = 1.0
    z = x
    while True:
        x *= x
        z_prime = z
        z += x * y
        y += y
        if z == z_prime:
            return z


def _tau(x: float) -> float:
    """High-end correction power series; tau(0)=tau(1)=0 (src/hll.c:1187-1204)."""
    if x == 0.0 or x == 1.0:
        return 0.0
    y = 1.0
    z = 1.0 - x
    while True:
        x = math.sqrt(x)
        z_prime = z
        y *= 0.5
        z -= (1.0 - x) ** 2 * y
        if z == z_prime:
            return z / 3.0


def _sigma_vec(x: np.ndarray) -> np.ndarray:
    """Vectorized ``_sigma`` — element-wise identical to the scalar series.

    Each element's loop is run until EVERY element converges; extra
    iterations past an element's own fixed point are no-ops (x squares
    toward 0 so the added term x*y stays below that element's double-
    precision resolution once z == z_prime held), so results are
    bit-identical to per-element scalar evaluation (pinned by
    tests/test_vectorized_builders.py).
    """
    x = np.asarray(x, dtype=np.float64).copy()
    inf_mask = x == 1.0
    x[inf_mask] = 0.0  # keep the series finite; patched to inf below
    y = np.ones_like(x)
    z = x.copy()
    while True:
        x *= x
        z_prime = z.copy()
        z += x * y
        y += y
        if np.array_equal(z, z_prime):
            break
    z[inf_mask] = np.inf
    return z


def _tau_vec(x: np.ndarray) -> np.ndarray:
    """Vectorized ``_tau`` — element-wise identical to the scalar series."""
    x = np.asarray(x, dtype=np.float64).copy()
    zero_mask = (x == 0.0) | (x == 1.0)
    x[zero_mask] = 0.25  # arbitrary interior point; masked out below
    y = np.ones_like(x)
    z = 1.0 - x
    while True:
        x = np.sqrt(x)
        z_prime = z.copy()
        y *= 0.5
        z -= (1.0 - x) ** 2 * y
        if np.array_equal(z, z_prime):
            break
    z = z / 3.0
    z[zero_mask] = 0.0
    return z


def estimates_from_histograms(hists: np.ndarray, p: int) -> np.ndarray:
    """Vectorized ``estimate_from_histogram`` over an (n, 65) histogram
    matrix -> (n,) int64 estimates, bit-identical to the scalar loop (same
    arithmetic order; the k-loop is already row-independent).

    This is the K²-pairwise-matrix hot path (VERDICT r03 #5): the SQL
    union/intersection UDFs route every pair through the estimator, so at
    10³ sources the scalar power series would run 10⁶ times in Python.
    """
    hists = np.asarray(hists, dtype=np.float64)
    n = hists.shape[0]
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    alpha = 0.7213475
    m = float(1 << p)
    z = m * _tau_vec((m - hists[:, p + 1]) / m)
    for k in range(64 - p, 0, -1):
        z += hists[:, k]
        z *= 0.5
    z += m * _sigma_vec(hists[:, 0] / m)
    with np.errstate(divide="ignore"):
        est = np.round(alpha * m * (m / z))
    if not np.isfinite(est).all():
        # z == 0 (every register saturated) divides by zero; the scalar
        # estimate_from_histogram raises ZeroDivisionError on the float
        # m/z — fail identically here instead of letting the int64 cast
        # silently wrap the inf to INT64_MIN (ADVICE r04).
        raise ZeroDivisionError(
            "HLL estimate undefined: z == 0 (every register saturated)"
        )
    return est.astype(np.int64)


def histograms_from_registers(regs: np.ndarray) -> np.ndarray:
    """(n, m) uint8 register matrix -> (n, 65) histogram matrix.

    A per-row ``np.bincount`` over the uint8 registers beats the
    offset-into-one-flat-bincount trick ~4.5×: the latter must widen the
    whole matrix to int64 (8× the memory traffic) to form disjoint ranges.
    """
    n = regs.shape[0]
    out = np.empty((n, 65), dtype=np.int64)
    for i in range(n):
        out[i] = np.bincount(regs[i], minlength=65)[:65]
    return out


def _check_ranks(ranks: np.ndarray, p: int) -> None:
    """``ValueError`` on a rank above 64-p+1, the largest the index/rank split
    can produce at ``p`` (src/hll.c:639-641)."""
    if ranks.size and int(ranks.max()) > 65 - p:
        raise ValueError(f"HLL rank {int(ranks.max())} exceeds 64-p+1 = {65 - p} at p={p}")


def _read(blob: bytes):
    """The HLL blob parser for one blob -> (p, seed, regs, pairs): the
    uint8[2^p] registers of a dense mode-0 (a read-only view) or packed6
    mode-2 blob, or the (indices, ranks) of a sparse mode-1 or mode-3 blob.
    Consumers fold it through ``_checked`` (codec module docstring). It is
    ``registers_from_blobs`` for one blob, at any p and without the batch
    set-up; tests hold the two to the same checks and registers."""
    p, seed, payload = unpack_header(blob, KIND_HLL)
    r = PayloadReader(payload)
    (mode,) = r.unpack("<B")
    regs = pairs = None
    if mode in (1, 3):
        (n,) = r.unpack("<I" if mode == 1 else "<Q")
        idx = r.array(np.uint32 if mode == 1 else np.int64, n)
        pairs = (idx, r.array(np.uint8, n))
    elif p > DENSE_MAX_P:
        raise ValueError(f"dense HLL encoding {mode} is invalid at sparse-only p={p}")
    elif mode == 0:
        regs = r.array(np.uint8, 1 << p)
    elif mode == 2:
        m = 1 << p
        regs = _unpack6(r.array(np.uint8, (6 * m + 7) // 8)[None], m)[0]
    else:
        raise ValueError(f"unknown HLL register encoding {mode}")
    r.end()
    return p, seed, regs, pairs


def _checked(p: int, regs, pairs):
    """``(regs, pairs)`` with int64 indices once every index lies on the
    2^p grid and every rank is at most 64-p+1; ``ValueError`` otherwise."""
    if pairs is not None:
        pairs = (checked_indices(pairs[0], 1 << p), pairs[1])
    _check_ranks(regs if pairs is None else pairs[1], p)
    return regs, pairs


def _fold_dense(target: np.ndarray, regs, pairs) -> None:
    """Max-fold one parsed blob into a dense register array."""
    if regs is not None:
        np.maximum(target, regs, out=target)
    else:
        update_registers(target, *pairs)


def _blob_buffer(blobs):
    """(data, starts, lengths) of a binary ``pa.Array`` or a list of bytes:
    the uint8 bytes of every blob back to back, and each blob's offset and
    length in them. The Arrow array is read in place through its buffers;
    a list is joined once."""
    if isinstance(blobs, pa.Array):
        if blobs.null_count:
            raise ValueError("cannot batch-decode a NULL HLL blob")
        _, offsets, data = blobs.buffers()
        offsets = np.frombuffer(
            offsets, dtype=np.int32, count=len(blobs) + 1, offset=blobs.offset * 4
        ).astype(np.int64)
        data = np.zeros(0, np.uint8) if data is None else np.frombuffer(data, np.uint8)
    else:
        blobs = [bytes(b) for b in blobs]
        offsets = np.zeros(len(blobs) + 1, dtype=np.int64)
        np.cumsum([len(b) for b in blobs], out=offsets[1:])
        data = np.frombuffer(b"".join(blobs), np.uint8)
    return data, offsets[:-1], np.diff(offsets)


def _gather(data: np.ndarray, at: np.ndarray, width: int) -> np.ndarray:
    """(len(at), width) uint8 copy of the ``width`` bytes at each offset."""
    return data[at[:, None] + np.arange(width)]


def _unpack6(packed: np.ndarray, m: int) -> np.ndarray:
    """(k, m) uint8 registers of k packed6 (mode-2) payloads, (k, 3m/4):
    every 3 bytes hold 4 registers of 6 bits, little-endian."""
    b = packed.reshape(len(packed), m // 4, 3).astype(np.uint32)
    word = b[..., 0] | (b[..., 1] << 8) | (b[..., 2] << 16)
    shifts = np.array([0, 6, 12, 18], dtype=np.uint32)
    return ((word[..., None] >> shifts) & 63).astype(np.uint8).reshape(len(packed), m)


# packed6 blobs are unpacked at about 9 bytes of scratch per register: this
# much scratch per chunk of blobs
_UNPACK_BYTES = 16 << 20


def _check_size(size: np.ndarray, want: np.ndarray, mode: int) -> None:
    """``ValueError`` unless every payload is exactly as long as its fields."""
    bad = size != want
    if bad.any():
        i = int(np.argmax(bad))
        raise ValueError(
            f"HLL mode-{mode} payload of {int(size[i])} bytes, its fields need {int(want[i])}"
        )


def registers_from_blobs(blobs, rows=None, n_out: int | None = None):
    """The batch HLL blob parser -> ((n_out, 2^p) uint8 matrix, p, seed).

    Blob i max-folds into row ``rows[i]`` (default: row i of n rows), so
    the blobs mapped to one row are their merge, and a row no blob maps to
    stays empty. Headers, modes, payload lengths and sparse fields are read
    for the whole batch at once, with the checks of ``_read`` plus
    ``_checked``: the header, a known mode, each payload exactly as long as
    its fields, every sparse index on the 2^p grid and every rank at most
    64-p+1 (pinned against the per-blob decoders by tests/test_properties.py).
    Dense payloads fold one blob at a time, straight from the blob bytes
    (packed6 ones unpacked ``_UNPACK_BYTES`` of scratch at a time). Mixed p
    or seed raises (like ``merge``'s size guard, src/hll.c:781-788), and so
    does p > DENSE_MAX_P, where 2^p registers per row cannot be allocated.
    ``blobs`` is a list of bytes or a binary Arrow array, without NULLs.
    """
    data, starts, lengths = _blob_buffer(blobs)
    n = len(starts)
    if n == 0:
        return np.zeros((0, 0), dtype=np.uint8), 0, DEFAULT_SEED
    if (lengths <= HEADER_LEN).any():
        short = int(lengths.min())
        raise ValueError(f"HLL blob of {short} bytes is shorter than its header and mode byte")
    head = _gather(data, starts, HEADER_LEN).view(_HEADER_DTYPE)[:, 0]
    known = (head["magic"] == MAGIC) & (head["version"] == VERSION) & (head["kind"] == KIND_HLL)
    if not known.all():
        i = int(np.argmin(known))
        unpack_header(data[starts[i] : starts[i] + HEADER_LEN].tobytes(), KIND_HLL)  # raises
    p, seed = int(head["p"][0]), int(head["seed"][0])
    if ((head["p"] != p) | (head["seed"] != seed)).any():
        raise ValueError("cannot batch-decode HLL blobs with mixed p/seed")
    if not 2 <= p <= DENSE_MAX_P:
        raise ValueError(
            f"batch register decode needs a dense-representable p in [2, {DENSE_MAX_P}], "
            f"got p={p}; decode sparse sketches one at a time via from_bytes"
        )
    m = 1 << p
    rows = np.arange(n) if rows is None else np.asarray(rows, dtype=np.int64)
    out = np.zeros((n if n_out is None else n_out, m), dtype=np.uint8)
    mode = data[starts + HEADER_LEN]
    body = starts + HEADER_LEN + 1  # first payload byte after the mode
    size = lengths - HEADER_LEN - 1
    unknown = ~np.isin(mode, (0, 1, 2, 3))
    if unknown.any():
        raise ValueError(f"unknown HLL register encoding {int(mode[np.argmax(unknown)])}")
    # a row's first dense blob is copied in, later ones max-folded: writing
    # a fresh row without reading its zeros first touches each page once
    filled = np.zeros(len(out), dtype=bool)
    for code, width in ((0, m), (2, (6 * m + 7) // 8)):
        sel = np.flatnonzero(mode == code)
        if not len(sel):
            continue
        _check_size(size[sel], np.full(len(sel), width), code)
        step = len(sel) if code == 0 else max(1, _UNPACK_BYTES // (9 * m))
        for lo in range(0, len(sel), step):
            part = sel[lo : lo + step]
            regs = [data[a : a + width] for a in body[part].tolist()]
            if code == 2:
                regs = _unpack6(np.stack(regs), m)
            for r, reg in zip(rows[part].tolist(), regs):
                if filled[r]:
                    np.maximum(out[r], reg, out=out[r])
                else:
                    out[r], filled[r] = reg, True
    for code, count_dtype, idx_dtype in ((1, "<u4", "<u4"), (3, "<u8", "<i8")):
        sel = np.flatnonzero(mode == code)
        if not len(sel):
            continue
        cw, iw = np.dtype(count_dtype).itemsize, np.dtype(idx_dtype).itemsize
        _check_size(np.minimum(size[sel], cw), np.full(len(sel), cw), code)
        # a count beyond the payload fails the size check whatever its
        # width, so clamping it there first keeps the arithmetic in int64
        count = _gather(data, body[sel], cw).view(count_dtype)[:, 0]
        count = np.minimum(count, size[sel].astype(count.dtype)).astype(np.int64)
        _check_size(size[sel], cw + count * (iw + 1), code)
        owner = np.repeat(np.arange(len(sel)), count)
        j = np.arange(len(owner)) - np.repeat(np.cumsum(count) - count, count)
        first = body[sel][owner] + cw
        idx = checked_indices(_gather(data, first + iw * j, iw).view(idx_dtype)[:, 0], m)
        update_registers(out.reshape(-1), rows[sel][owner] * m + idx, data[first + iw * count[owner] + j])
    # the max-fold keeps every input rank, so one check of the output
    # bounds them all (as in merge_blobs)
    _check_ranks(out, p)
    return out, p, seed


def registers_to_blobs(regs: np.ndarray, p: int, seed: int = DEFAULT_SEED) -> pa.BinaryArray:
    """The blobs of a (n, 2^p) register matrix, one per row, in one pass:
    byte-identical to ``HllSketch(p, seed, registers=row).to_bytes()``. A
    row whose set registers cost 5 bytes each plus the count below 2^p is
    mode 1 (sorted u32 indices, then ranks), any other row mode 0."""
    regs = np.ascontiguousarray(regs)
    n, m = regs.shape
    # set registers are found a 64-bit word at a time (8x fewer cells to
    # scan), and only in rows that can be sparse: a row's set registers
    # are at least its nonzero words
    words = regs.view(np.uint64 if m >= 8 else np.uint8)
    set_words = words != 0
    may_be_sparse = np.count_nonzero(set_words, axis=1) * 5 + 5 < m
    wrow, wcol = np.nonzero(set_words)
    keep = may_be_sparse[wrow]
    wrow, wcol = wrow[keep], wcol[keep]
    width = words.itemsize
    k, j = np.nonzero(words[wrow, wcol].view(np.uint8).reshape(-1, width) != 0)
    row, idx = wrow[k], wcol[k] * width + j  # row-major: indices ascend per row
    nnz = np.bincount(row, minlength=n)
    sparse = may_be_sparse & (nnz * 5 + 5 < m)
    keep = sparse[row]
    row, idx = row[keep], idx[keep]
    lengths = np.where(sparse, HEADER_LEN + 5 + 5 * nnz, HEADER_LEN + 1 + m)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    data = np.empty(int(offsets[-1]), dtype=np.uint8)
    at = offsets[:-1]
    data[at[:, None] + np.arange(HEADER_LEN)] = np.frombuffer(
        pack_header(KIND_HLL, p, seed), dtype=np.uint8
    )
    data[at + HEADER_LEN] = sparse
    for r in np.flatnonzero(~sparse).tolist():
        o = int(at[r]) + HEADER_LEN + 1
        data[o : o + m] = regs[r]
    first = at + HEADER_LEN + 5  # first index byte of a sparse row
    sp = np.flatnonzero(sparse)
    data[(first[sp] - 4)[:, None] + np.arange(4)] = (
        nnz[sp].astype("<u4").view(np.uint8).reshape(-1, 4)
    )
    kept = np.where(sparse, nnz, 0)
    pos = np.arange(len(row)) - (np.cumsum(kept) - kept)[row]  # entry number within its row
    data[(first[row] + 4 * pos)[:, None] + np.arange(4)] = (
        idx.astype("<u4").view(np.uint8).reshape(-1, 4)
    )
    data[first[row] + 4 * nnz[row] + pos] = regs[row, idx]
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)]
    )


def estimate_from_histogram(hist: np.ndarray, p: int) -> int:
    """Bias-corrected estimate from a 65-bin register-value histogram.

    Exactly the reference arithmetic (src/hll.c:661-672) including its use
    of ``hist[p+1]`` in the tau term (where Ertl Alg. 6 has ``hist[q+1]``;
    verified to round to identical integers — SURVEY.md §2A estimator note).
    """
    alpha = 0.7213475
    m = float(1 << p)
    z = m * _tau((m - float(hist[p + 1])) / m)
    for k in range(64 - p, 0, -1):
        z += float(hist[k])
        z *= 0.5
    z += m * _sigma(float(hist[0]) / m)
    return int(round(alpha * m * (m / z)))


# The estimates each pair op reads: |A| ("a"), |B| ("b") and |A ∪ B| ("u").
PAIR_SIDES = {"union": "u", "difference": "bu", "intersection": "abu", "jaccard": "abu"}


def pair_estimates(ests: dict, op: str) -> np.ndarray:
    """The one implementation of HLL pair algebra: ``op`` ("union",
    "intersection", "difference" = |A \\ B|, or "jaccard") from the
    estimates ``ests["a"]`` = |A|, ``ests["b"]`` = |B| and ``ests["u"]`` =
    |A ∪ B| (the register-max union), elementwise over arrays. Only the
    sides ``PAIR_SIDES[op]`` are read, so callers estimate no others. The
    sketch methods and the SQL pair functions call it.

    Intersection (|A|+|B|-|A∪B|) and difference (|A∪B|-|B|) are
    inclusion–exclusion, clamped at 0. Their absolute error scales with
    |A ∪ B| (three ±1.04/√m estimates combine), so the relative error blows
    up for small intersections (SURVEY.md §2B set ops). Jaccard is
    |A∩B|/|A∪B|, and 1.0 when the union estimate is 0: both sets are empty,
    and two empty sets are identical (the KMV empty-set algebra, ADVICE r04).
    """
    e = {side: np.asarray(ests[side], dtype=np.int64) for side in PAIR_SIDES[op]}
    if op == "union":
        return e["u"]
    if op == "difference":
        return np.maximum(0, e["u"] - e["b"])
    inter = np.maximum(0, e["a"] + e["b"] - e["u"])
    if op == "intersection":
        return inter
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(e["u"] > 0, inter / e["u"], 1.0)


def sketch_pair_estimate(a: "HllSketch", b: "HllSketch", op: str):
    """``pair_estimates`` of one sketch pair, estimating only the sketches
    ``op`` reads; a (p, seed) mismatch raises, as in ``merge``."""
    sides = {"a": a, "b": b, "u": a | b}
    return pair_estimates({s: sides[s].cardinality() for s in PAIR_SIDES[op]}, op)


@dataclass
class HllSketch:
    """A mergeable HyperLogLog sketch over 64-bit MurmurHash64A hashes.

    Implements the ``MergeableSketch`` discipline shared by every sketch in
    this library: empty / update_batch / merge / finalize / to_bytes /
    from_bytes. merge is associative, commutative, and idempotent
    (element-wise max), which is what makes the distributed aggregation
    shuffle-order- and partitioning-invariant.
    """

    p: int = DEFAULT_P
    seed: int = DEFAULT_SEED
    registers: np.ndarray = field(default=None, repr=False)  # type: ignore[assignment]
    sparse: bool = False
    max_sparse_list_size: int = 0
    max_sparse_buffer_size: int = 0

    def __post_init__(self) -> None:
        if not (2 <= int(self.p) <= 63):
            # same contract as the reference (src/hll.c:708-712)
            raise ValueError(f"p={self.p} is out of range [2, 63]")
        self.p = int(self.p)
        self.seed = int(self.seed)
        if self.p > DENSE_MAX_P:
            # sparse-only territory: never allocate 2^p registers
            if self.registers is not None:
                raise ValueError(
                    f"p={self.p} > {DENSE_MAX_P} is held sparse; "
                    f"dense register arrays are not supported there"
                )
        elif self.sparse and self.registers is not None:
            raise ValueError("sparse=True cannot wrap a dense register array")
        if self.sparse or self.p > DENSE_MAX_P:
            self.registers = None
            self.sparse_indices = np.empty(0, dtype=np.int64)
            self.sparse_ranks = np.empty(0, dtype=np.uint8)
            self._pending: dict[int, int] = {}
            # reference default sizing, src/hll.c:726-760
            if self.max_sparse_list_size > 0:
                self._max_list = int(self.max_sparse_list_size)
            else:
                default = (1 << self.p) // 4
                if default > (1 << 20):
                    self._max_list = 1 << 20
                elif default <= 4:
                    self._max_list = 2
                else:
                    self._max_list = default
            if self.max_sparse_buffer_size > 0:
                self._max_buf = int(self.max_sparse_buffer_size)
            else:
                self._max_buf = max(1, min(self._max_list // 2, 200_000))
        elif self.registers is None:
            self.registers = np.zeros(1 << self.p, dtype=np.uint8)
        else:
            self.registers = np.asarray(self.registers, dtype=np.uint8)
            if self.registers.shape != (1 << self.p,):
                raise ValueError(
                    f"registers shape {self.registers.shape} != (2^{self.p},)"
                )

    @property
    def is_sparse(self) -> bool:
        """True while registers live as sorted (idx, rank) pairs (plus a
        pending-update buffer) and ``self.registers`` is None: always for
        p > DENSE_MAX_P, and for ``sparse=True`` sketches until the
        sparse→dense transform fires."""
        return self.registers is None

    def _sparse_update(self, idx: np.ndarray, ranks: np.ndarray) -> None:
        """Fold (idx, rank) pairs into the sorted sparse arrays, max-combining
        duplicates — the vectorized analogue of the reference's sparse-list
        insert (src/hll.c:257-507), minus the list walk."""
        all_idx = np.concatenate([self.sparse_indices, np.asarray(idx, dtype=np.int64)])
        all_rank = np.concatenate([self.sparse_ranks, np.asarray(ranks, dtype=np.uint8)])
        uniq, inv = np.unique(all_idx, return_inverse=True)
        maxv = np.zeros(len(uniq), dtype=np.uint8)
        np.maximum.at(maxv, inv, all_rank)
        self.sparse_indices, self.sparse_ranks = uniq, maxv

    def _flush_buffer(self) -> None:
        """Apply buffered register max-updates to the sorted sparse arrays
        (reference flushRegisterBuffer, src/hll.c:315-407). Reads flush too,
        exactly like the reference's getSparseRegister (src/hll.c:456-463)."""
        if not self._pending:
            return
        idx = np.fromiter(self._pending.keys(), dtype=np.int64, count=len(self._pending))
        rnk = np.fromiter(self._pending.values(), dtype=np.uint8, count=len(self._pending))
        self._pending.clear()
        self._sparse_update(idx, rnk)

    def _maybe_densify(self) -> None:
        """Sparse→dense transform at the reference threshold: once the sorted
        list reaches ``max_sparse_list_size`` (transformToDense,
        src/hll.c:409-455; trigger src/hll.c:513-524). Never fires at
        p > DENSE_MAX_P, where 2^p registers must not be allocated."""
        if self.p > DENSE_MAX_P or not self.is_sparse:
            return
        if len(self.sparse_indices) >= self._max_list:
            self.registers = self._dense_registers()
            self.sparse_indices = None  # type: ignore[assignment]
            self.sparse_ranks = None  # type: ignore[assignment]
            self._pending = {}

    def _sparse_lookup(self, i: int) -> int:
        """Register value from the (flushed) sorted sparse arrays."""
        pos = int(np.searchsorted(self.sparse_indices, i))
        if pos < len(self.sparse_indices) and int(self.sparse_indices[pos]) == i:
            return int(self.sparse_ranks[pos])
        return 0

    def copy(self) -> "HllSketch":
        """Representation-preserving deep copy."""
        if not self.is_sparse:
            return HllSketch(p=self.p, seed=self.seed, registers=self.registers.copy())
        self._flush_buffer()
        out = HllSketch(
            p=self.p,
            seed=self.seed,
            sparse=True,
            max_sparse_list_size=self.max_sparse_list_size,
            max_sparse_buffer_size=self.max_sparse_buffer_size,
        )
        out.sparse_indices = self.sparse_indices.copy()
        out.sparse_ranks = self.sparse_ranks.copy()
        return out

    # -- constructors -------------------------------------------------------

    @classmethod
    def empty(cls, p: int = DEFAULT_P, seed: int = DEFAULT_SEED) -> "HllSketch":
        return cls(p=p, seed=seed)

    # -- properties ---------------------------------------------------------

    @property
    def size(self) -> int:
        """Number of registers, 2^p (reference ``size()``, src/hll.c:989-992)."""
        return 1 << self.p

    def get_register(self, i: int) -> int:
        """Read one register; IndexError beyond 2^p-1 (src/hll.c:1217-1228)."""
        if not (0 <= i < self.size):
            raise IndexError(f"register index {i} out of range [0, {self.size})")
        if self.is_sparse:
            self._flush_buffer()
            return self._sparse_lookup(i)
        return int(self.registers[i])

    def histogram(self) -> np.ndarray:
        """65-bin register-value histogram (reference ``_histogram()``,

        src/hll.c:595-605 — maintained incrementally there; recomputed here
        in one branch-free pass, SURVEY.md §4.1). Sparse mode returns
        float64 (the zero-bin count 2^p - nnz can exceed int64 at p=63;
        the estimator consumes the bins as floats anyway)."""
        if self.is_sparse:
            self._flush_buffer()
            hist = np.bincount(self.sparse_ranks, minlength=65)[:65].astype(np.float64)
            hist[0] = float(1 << self.p) - float(len(self.sparse_indices))
            return hist
        return np.bincount(self.registers, minlength=65)[:65]

    # -- updates ------------------------------------------------------------

    def update_hashes(self, hashes: np.ndarray) -> None:
        """Max-update registers from precomputed 64-bit hashes."""
        if len(hashes) == 0:
            return
        self._fold(None, hll_index_rank(np.asarray(hashes, dtype=np.uint64), self.p))

    def update_batch(self, tokens: np.ndarray) -> None:
        """Vectorized equivalent of reference ``add()`` per int32 token

        (src/hll.c:630-649): token hashed as its 4-byte LE encoding."""
        if len(tokens) == 0:
            return
        self.update_hashes(murmur64a_int32(tokens, self.seed))

    def update_batch_int64(self, values: np.ndarray) -> None:
        """Like update_batch but 8-byte LE keys (e.g. int64 user ids)."""
        if len(values) == 0:
            return
        self.update_hashes(murmur64a_int64(values, self.seed))

    def add(self, value: bytes | str | int) -> bool:
        """Single-item parity API (reference ``add``, src/hll.c:630-649).

        int values are hashed as 4-byte LE int32 (the library convention for
        tokens); str/bytes exactly as the reference's buffer parse. Returns
        True iff a register grew — in sparse mode the growing update is
        buffered (reference setSparseRegister, src/hll.c:488-506) and only
        folded into the sorted pair array when the buffer fills or on the
        next read. (The reference's own add() returns False for every
        sparse-mode call, src/hll.c:513-545 — this library keeps the more
        informative dense-mode contract in both representations; the compat
        shim reproduces the reference quirk.)
        """
        if isinstance(value, (bytearray, memoryview)):
            # reference parses any buffer via "s#" (src/hll.c:636)
            value = bytes(value)
        if isinstance(value, (bytes, str)):
            h = murmur64a_bytes(value, self.seed)
        else:
            h = int(murmur64a_int32(np.array([value], dtype=np.int32), self.seed)[0])
        idx = h >> (64 - self.p)
        payload = (h << self.p) & ((1 << 64) - 1)
        rank = min((64 - payload.bit_length() if payload else 64) + 1, 64 - self.p + 1)
        if self.is_sparse:
            # pending entries always dominate the sorted list for their index
            # (they are only created when strictly larger), so checking the
            # buffer first is exact without a flush
            cur = self._pending.get(idx)
            if cur is None:
                cur = self._sparse_lookup(idx)
            if rank > cur:
                self._pending[idx] = rank
                if len(self._pending) >= self._max_buf:
                    self._flush_buffer()
                    self._maybe_densify()
                return True
            return False
        if rank > self.registers[idx]:
            self.registers[idx] = rank
            return True
        return False

    def hash(self, value: bytes | str) -> int:
        """Reference ``hash()`` parity (src/hll.c:682-691)."""
        return murmur64a_bytes(value, self.seed)

    # -- merge / finalize ---------------------------------------------------

    def _check_mergeable(self, p: int, seed: int) -> None:
        if self.p != p:
            # reference raises on size mismatch (src/hll.c:781-788)
            raise ValueError(f"cannot merge sketches of different size: 2^{self.p} vs 2^{p}")
        if self.seed != seed:
            raise ValueError(f"cannot merge sketches with different seeds: {self.seed} vs {seed}")

    def _fold(self, regs, pairs) -> None:
        """Max-fold dense registers ``regs`` or (index, rank) ``pairs`` —
        a parsed blob, another sketch or a hashed batch — into this
        sketch, whatever its representation."""
        if not self.is_sparse:
            _fold_dense(self.registers, regs, pairs)
            return
        self._flush_buffer()
        if regs is not None:
            idx = np.flatnonzero(regs != 0)
            self._sparse_update(idx, regs[idx])
        else:
            idx, ranks = pairs
            keep = ranks > 0
            self._sparse_update(idx[keep], ranks[keep])
        self._maybe_densify()

    def merge(self, other: "HllSketch") -> "HllSketch":
        """In-place element-wise max merge (src/hll.c:776-815); returns self.

        Handles every representation combination like the reference's merge
        loop (which reads/writes through the repr-agnostic get/setRegister,
        src/hll.c:791-811): a sparse self can densify mid-merge once the
        merged pair list crosses the transform threshold."""
        self._check_mergeable(other.p, other.seed)
        if other.is_sparse:
            other._flush_buffer()
            self._fold(None, (other.sparse_indices, other.sparse_ranks))
        else:
            self._fold(other.registers, None)
        return self

    def __or__(self, other: "HllSketch") -> "HllSketch":
        return self.copy().merge(other)

    def cardinality(self) -> int:
        """Bias-corrected cardinality estimate (src/hll.c:653-678)."""
        return estimate_from_histogram(self.histogram(), self.p)

    # -- codec ---------------------------------------------------------------

    def to_bytes(self, mode: str | None = None) -> bytes:
        """Versioned at-rest blob: header + registers.

        The distributed analogue of the reference pickle (src/hll.c:847-909),
        minus derivable state (histogram, cache) — SURVEY.md §3.4. Four
        encodings, selected by the mode byte after the header:

        - mode 0 (dense): raw uint8 registers;
        - mode 1 (sparse): u32 count + sorted u32 indices + u8 ranks of the
          set registers — picked automatically when 5 bytes per set
          register plus the count undercut 2^p (about 1/5 filled: per-doc
          sketches at p>=14), mirroring the reference's dense/sparse
          duality *at rest only* (in flight is always dense, SURVEY.md
          §4.1). The choice is made from ``np.count_nonzero``, before any
          pair is gathered;
        - mode 2 (packed6, ``mode="packed6"``): 6 bits per register, the
          reference's defining dense representation (src/hll.c:44-254
          semantics — ranks <= 64-p+1 <= 63 always fit) at 75% of the raw
          size. Explicit opt-in: for automatic blobs sparse already beats it
          where it matters, but storage parity with the reference is kept;
        - mode 3 (sparse64): u64 count + sorted i64 indices + u8 ranks,
          always and only for p > DENSE_MAX_P, where indices above p=32
          don't fit mode 1's u32.

        ``mode=None`` auto-picks min(dense, sparse), so existing checkpoint
        bytes are unchanged. Runtime-sparse sketches at dense-representable
        p (``sparse=True``) encode byte-identically to their dense twin —
        the at-rest codec is representation-agnostic, like the rest of the
        library's blobs.
        """
        if mode not in (None, "dense", "sparse", "packed6"):
            raise ValueError(f"unknown HLL encoding mode {mode!r}")
        head = pack_header(KIND_HLL, self.p, self.seed)
        if self.is_sparse:
            self._flush_buffer()
        if self.p > DENSE_MAX_P:
            if mode not in (None, "sparse"):
                raise ValueError(
                    f"p={self.p} sketches are sparse-only; mode {mode!r} unsupported"
                )
            return (
                head
                + b"\x03"
                + struct.pack("<Q", len(self.sparse_indices))
                + self.sparse_indices.astype(np.int64).tobytes()
                + self.sparse_ranks.tobytes()
            )
        if mode == "packed6":
            bits = np.unpackbits(
                self._dense_registers()[:, None], axis=1, bitorder="little"
            )[:, :6]
            return head + b"\x02" + np.packbits(bits.reshape(-1), bitorder="little").tobytes()
        values = self.sparse_ranks if self.is_sparse else self.registers
        if mode == "sparse" or (mode is None and np.count_nonzero(values) * 5 + 5 < self.size):
            if self.is_sparse:  # folds and flushes hold ranks >= 1 only
                nz, nzv = self.sparse_indices, self.sparse_ranks
            else:
                # on a bool mask: numpy's nonzero is ~5x slower on uint8
                nz = np.flatnonzero(self.registers != 0)
                nzv = self.registers[nz]
            return (
                head
                + b"\x01"
                + struct.pack("<I", len(nz))
                + nz.astype(np.uint32).tobytes()
                + nzv.tobytes()
            )
        return head + b"\x00" + self._dense_registers().tobytes()

    def _dense_registers(self) -> np.ndarray:
        """Dense register view: the live array, or a scatter of the (flushed)
        sparse pairs for runtime-sparse sketches at dense-representable p."""
        if self.registers is not None:
            return self.registers
        if self.p > DENSE_MAX_P:
            raise ValueError(f"p={self.p} cannot materialize 2^p registers")
        self._flush_buffer()
        regs = np.zeros(1 << self.p, dtype=np.uint8)
        regs[self.sparse_indices] = self.sparse_ranks
        return regs

    @classmethod
    def from_bytes(cls, blob: bytes) -> "HllSketch":
        """The blob max-folded into an empty sketch of its own config:
        ``merge_blobs([blob], p, seed)`` by construction."""
        p, seed, regs, pairs = _read(blob)
        out = cls.empty(p, seed)
        out._fold(*_checked(p, regs, pairs))
        return out

    @staticmethod
    def merge_blobs(blobs, p: int, seed: int = DEFAULT_SEED) -> "HllSketch":
        """Merge many at-rest blobs into one sketch (tree-merge leaf op):
        each blob max-folds straight into the output, no per-blob sketch.
        The max is order-free, so the sparse blobs' pairs are range-checked
        and folded once, concatenated, and the dense blobs' ranks are
        checked once, on the merged registers."""
        out = HllSketch.empty(p, seed)
        sparse: list[tuple] = []
        for b in blobs:
            if b is None:
                continue
            bp, bseed, regs, pairs = _read(bytes(b))
            out._check_mergeable(bp, bseed)
            if regs is not None:
                out._fold(regs, None)
            else:
                sparse.append(pairs)
        if sparse:
            out._fold(*_checked(p, None, tuple(map(np.concatenate, zip(*sparse)))))
        if not out.is_sparse:
            _check_ranks(out.registers, p)
        return out

    # The four pair methods are ``sketch_pair_estimate``: the one
    # implementation of HLL pair algebra, shared with the SQL pair functions.

    @staticmethod
    def union_estimate(a: "HllSketch", b: "HllSketch") -> int:
        """|A ∪ B| — exact register-max union (reference merge semantics,
        README.md:138-148): lossless, same error bound as a single sketch."""
        return int(sketch_pair_estimate(a, b, "union"))

    @staticmethod
    def intersection_estimate(a: "HllSketch", b: "HllSketch") -> int:
        """|A ∩ B| by inclusion–exclusion, clamped at 0 (``pair_estimates``)."""
        return int(sketch_pair_estimate(a, b, "intersection"))

    @staticmethod
    def difference_estimate(a: "HllSketch", b: "HllSketch") -> int:
        """|A \\ B| by inclusion–exclusion, clamped at 0 (``pair_estimates``).
        KmvSketch.difference_estimate is the tighter native ratio estimator
        when a KMV sketch is available."""
        return int(sketch_pair_estimate(a, b, "difference"))

    @staticmethod
    def jaccard_estimate(a: "HllSketch", b: "HllSketch") -> float:
        """|A ∩ B| / |A ∪ B|, 1.0 for two empty sketches (``pair_estimates``)."""
        return float(sketch_pair_estimate(a, b, "jaccard"))

    @staticmethod
    def std_error(p: int) -> float:
        """Published 1-sigma relative error bound 1.04/sqrt(2^p)

        (reference README.md:92-97; Flajolet et al. 2007)."""
        return 1.04 / math.sqrt(1 << p)
