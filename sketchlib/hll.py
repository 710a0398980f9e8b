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

from .codec import HEADER_LEN, KIND_HLL, PayloadReader, pack_header, unpack_header
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


def registers_from_blobs(blobs) -> tuple[np.ndarray, int, int]:
    """Decode a batch of at-rest HLL blobs -> ((n, 2^p) uint8 matrix, p, seed).

    All three encodings (dense / sparse / packed6) decode into one
    preallocated matrix; the common all-dense-same-length case is a single
    ``np.frombuffer`` reshape over the concatenated payloads. Mixed p or
    seed raises (pairwise matrices are same-config by construction, like
    ``merge``'s size guard, src/hll.c:781-788).
    """
    blobs = [bytes(b) for b in blobs]
    n = len(blobs)
    if n == 0:
        return np.zeros((0, 0), dtype=np.uint8), 0, DEFAULT_SEED
    p0, seed0, _ = unpack_header(blobs[0], KIND_HLL)
    if p0 > DENSE_MAX_P:
        raise ValueError(
            f"batch register decode needs a dense-representable p <= {DENSE_MAX_P}, "
            f"got p={p0}; decode sparse sketches one at a time via from_bytes"
        )
    m = 1 << p0
    first_len = len(blobs[0])
    hdr = HEADER_LEN  # mode byte sits right after the fixed-width header
    if first_len == hdr + 1 + m and all(len(b) == first_len for b in blobs):
        buf = np.frombuffer(b"".join(blobs), dtype=np.uint8).reshape(n, first_len)
        if (buf[:, hdr] == 0).all():
            # every blob dense: headers must agree (vectorized check)
            if not (buf[:, :hdr] == buf[0, :hdr]).all():
                raise ValueError("cannot batch-decode HLL blobs with mixed p/seed")
            return np.ascontiguousarray(buf[:, hdr + 1 :]), p0, seed0
    regs = np.zeros((n, m), dtype=np.uint8)
    for i, b in enumerate(blobs):
        s = HllSketch.from_bytes(b)
        if (s.p, s.seed) != (p0, seed0):
            raise ValueError("cannot batch-decode HLL blobs with mixed p/seed")
        regs[i] = s.registers
    return regs, p0, seed0


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
            regs = np.zeros(1 << self.p, dtype=np.uint8)
            regs[self.sparse_indices] = self.sparse_ranks
            self.registers = regs
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
        idx, rank = hll_index_rank(np.asarray(hashes, dtype=np.uint64), self.p)
        if self.is_sparse:
            self._flush_buffer()
            self._sparse_update(idx, rank)
            self._maybe_densify()
        else:
            update_registers(self.registers, idx, rank)

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

    def _check_mergeable(self, other: "HllSketch") -> None:
        if self.size != other.size:
            # reference raises on size mismatch (src/hll.c:781-788)
            raise ValueError(
                f"cannot merge sketches of different size: 2^{self.p} vs 2^{other.p}"
            )
        if self.seed != other.seed:
            raise ValueError(f"cannot merge sketches with different seeds: {self.seed} vs {other.seed}")

    def merge(self, other: "HllSketch") -> "HllSketch":
        """In-place element-wise max merge (src/hll.c:776-815); returns self.

        Handles every representation combination like the reference's merge
        loop (which reads/writes through the repr-agnostic get/setRegister,
        src/hll.c:791-811): a sparse self can densify mid-merge once the
        merged pair list crosses the transform threshold."""
        self._check_mergeable(other)
        if other.is_sparse:
            other._flush_buffer()
        if self.is_sparse:
            self._flush_buffer()
            if other.is_sparse:
                self._sparse_update(other.sparse_indices, other.sparse_ranks)
            else:
                nz = np.flatnonzero(other.registers)
                self._sparse_update(nz, other.registers[nz])
            self._maybe_densify()
            return self
        if other.is_sparse:
            update_registers(self.registers, other.sparse_indices, other.sparse_ranks)
            return self
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def __or__(self, other: "HllSketch") -> "HllSketch":
        self._check_mergeable(other)
        if not self.is_sparse and not other.is_sparse:
            return HllSketch(
                p=self.p, seed=self.seed, registers=np.maximum(self.registers, other.registers)
            )
        return self.copy().merge(other)

    def cardinality(self) -> int:
        """Bias-corrected cardinality estimate (src/hll.c:653-678)."""
        return estimate_from_histogram(self.histogram(), self.p)

    # -- codec ---------------------------------------------------------------

    def to_bytes(self, mode: str | None = None) -> bytes:
        """Versioned at-rest blob: header + registers.

        The distributed analogue of the reference pickle (src/hll.c:847-909),
        minus derivable state (histogram, cache) — SURVEY.md §3.4. Three
        encodings:

        - mode 0 (dense): raw uint8 registers;
        - mode 1 (sparse): sorted (idx:u32, rank:u8) pairs — picked
          automatically when fewer than ~1/6 of registers are set (per-doc
          sketches at p>=14), mirroring the reference's dense/sparse duality
          *at rest only* (in flight is always dense, SURVEY.md §4.1);
        - mode 2 (packed6, ``mode="packed6"``): 6 bits per register, the
          reference's defining dense representation (src/hll.c:44-254
          semantics — ranks <= 64-p+1 <= 63 always fit) at 75% of the raw
          size. Explicit opt-in: for automatic blobs sparse already beats it
          where it matters, but storage parity with the reference is kept.

        ``mode=None`` auto-picks min(dense, sparse) as in round 1, so
        existing checkpoint bytes are unchanged.

        Sparse-representation sketches at p > DENSE_MAX_P always encode as
        mode 3 (sparse64: u64 count + sorted i64 indices + u8 ranks —
        register indices above p=32 don't fit mode 1's u32). Runtime-sparse
        sketches at dense-representable p (``sparse=True``) encode
        byte-identically to their dense twin — the at-rest codec is
        representation-agnostic, like the rest of the library's blobs.
        """
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
            keep = self.sparse_ranks > 0
            nz = self.sparse_indices[keep]
            nzv = self.sparse_ranks[keep]
        else:
            nz = np.flatnonzero(self.registers)
            nzv = self.registers[nz] if len(nz) else np.empty(0, dtype=np.uint8)
        dense_size = 1 << self.p
        if mode == "packed6":
            bits = np.unpackbits(
                self._dense_registers()[:, None], axis=1, bitorder="little"
            )[:, :6]
            return head + b"\x02" + np.packbits(bits.reshape(-1), bitorder="little").tobytes()
        if mode not in (None, "dense", "sparse"):
            raise ValueError(f"unknown HLL encoding mode {mode!r}")
        sparse_wins = len(nz) * 5 + 5 < dense_size
        if mode == "sparse" or (mode is None and sparse_wins):
            body = (
                b"\x01"
                + struct.pack("<I", len(nz))
                + nz.astype(np.uint32).tobytes()
                + nzv.tobytes()
            )
            return head + body
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
        p, seed, payload = unpack_header(blob, KIND_HLL)
        r = PayloadReader(payload)
        (mode,) = r.unpack("<B")
        if mode == 3 or p > DENSE_MAX_P:
            out = cls.empty(p, seed)
            if mode == 3:
                (n,) = r.unpack("<Q")
                idx = r.array(np.int64, n)
                ranks = r.array(np.uint8, n)
            elif mode == 1:  # defensive: u32-index sparse blob at sparse-repr p
                (n,) = r.unpack("<I")
                idx = r.array(np.uint32, n).astype(np.int64)
                ranks = r.array(np.uint8, n)
            else:
                raise ValueError(
                    f"dense HLL encoding {mode} is invalid at sparse-only p={p}"
                )
            r.end()
            if out.is_sparse:
                out._sparse_update(idx, ranks)
            else:  # mode-3 blob at dense-representable p
                update_registers(out.registers, idx.astype(np.int64), ranks)
            return out
        if mode == 0:
            regs = r.array(np.uint8, 1 << p).copy()
        elif mode == 1:
            (n,) = r.unpack("<I")
            idx = r.array(np.uint32, n)
            ranks = r.array(np.uint8, n)
            regs = np.zeros(1 << p, dtype=np.uint8)
            regs[idx.astype(np.int64)] = ranks
        elif mode == 2:
            m = 1 << p
            bits = np.unpackbits(
                r.array(np.uint8, (6 * m + 7) // 8), bitorder="little"
            )[: 6 * m].reshape(m, 6)
            regs = np.packbits(
                np.pad(bits, ((0, 0), (0, 2))), axis=1, bitorder="little"
            ).reshape(m)
        else:
            raise ValueError(f"unknown HLL register encoding {mode}")
        r.end()
        return cls(p=p, seed=seed, registers=regs)

    @staticmethod
    def merge_blobs(blobs, p: int, seed: int = DEFAULT_SEED) -> "HllSketch":
        """Merge many at-rest blobs into one sketch (tree-merge leaf op)."""
        out = HllSketch.empty(p, seed)
        for b in blobs:
            if b is None:
                continue
            out.merge(HllSketch.from_bytes(bytes(b)))
        return out

    @staticmethod
    def union_estimate(a: "HllSketch", b: "HllSketch") -> int:
        """|A ∪ B| — exact register-max union (reference merge semantics,

        README.md:138-148): lossless, same error bound as a single sketch."""
        return (a | b).cardinality()

    @staticmethod
    def intersection_estimate(a: "HllSketch", b: "HllSketch") -> int:
        """|A ∩ B| by inclusion–exclusion: |A|+|B|-|A∪B|.

        Documented caveat (SURVEY.md §2B set ops): the absolute error scales
        with |A ∪ B| (three ±1.04/√m estimates combine), so relative error
        blows up for small intersections. Clamped at 0.
        """
        return max(0, a.cardinality() + b.cardinality() - HllSketch.union_estimate(a, b))

    @staticmethod
    def difference_estimate(a: "HllSketch", b: "HllSketch") -> int:
        """|A \\ B| by inclusion–exclusion: |A∪B| - |B| (clamped at 0).

        Completes the set algebra alongside union/intersection/jaccard;
        same caveat as intersection — the absolute error scales with
        |A ∪ B|. KmvSketch.difference_estimate is the tighter native
        ratio estimator when a KMV sketch is available."""
        return max(0, HllSketch.union_estimate(a, b) - b.cardinality())

    @staticmethod
    def jaccard_estimate(a: "HllSketch", b: "HllSketch") -> float:
        """|A ∩ B| / |A ∪ B| with the same inclusion–exclusion caveat.

        Empty-set algebra (unified with KmvSketch.jaccard, ADVICE r04):
        union estimate 0 means both sketches are empty — two empty sets are
        identical, so jaccard is 1.0."""
        union = HllSketch.union_estimate(a, b)
        if union == 0:
            return 1.0
        return HllSketch.intersection_estimate(a, b) / union

    @staticmethod
    def std_error(p: int) -> float:
        """Published 1-sigma relative error bound 1.04/sqrt(2^p)

        (reference README.md:92-97; Flajolet et al. 2007)."""
        return 1.04 / math.sqrt(1 << p)
