"""Count-min sketch — token frequency point queries (Cormode–Muthukrishnan 2005).

Mergeable-sketch discipline identical to HLL (SURVEY.md §2C): numpy counter
matrix in flight, element-wise ``+`` merge (associative/commutative), binary
blob at rest. Hashing is the same MurmurHash64A family as the reference HLL,
with the Kirsch–Mitzenmacher double-hashing construction
(g_j(x) = h1(x) + j*h2(x) mod w, h2 forced odd for power-of-two w) so each
batch needs two hash passes instead of depth passes.

Published bound: point estimate overcounts by at most eps*N with probability
>= 1 - delta, where eps = e/w and delta = e^-depth.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from .codec import KIND_CMS, PayloadReader, pack_header, unpack_header
from .kernels import (
    DEFAULT_SEED,
    murmur64a_int32,
    murmur64a_int64,
    murmur64a_str_array,
)

_H2_SEED_XOR = 0x9E3779B97F4A7C15  # golden-ratio constant, second hash family


@dataclass
class CountMinSketch:
    width_log2: int = 16
    depth: int = 5
    seed: int = DEFAULT_SEED
    counters: np.ndarray = field(default=None, repr=False)  # type: ignore[assignment]

    def __post_init__(self) -> None:
        if not (4 <= int(self.width_log2) <= 30):
            raise ValueError(f"width_log2={self.width_log2} out of range [4, 30]")
        if not (1 <= int(self.depth) <= 16):
            raise ValueError(f"depth={self.depth} out of range [1, 16]")
        self.width_log2 = int(self.width_log2)
        self.depth = int(self.depth)
        self.seed = int(self.seed)
        if self.counters is None:
            self.counters = np.zeros((self.depth, self.width), dtype=np.uint64)
        else:
            self.counters = np.asarray(self.counters, dtype=np.uint64)
            if self.counters.shape != (self.depth, self.width):
                raise ValueError("counters shape mismatch")

    @classmethod
    def empty(cls, width_log2: int = 16, depth: int = 5, seed: int = DEFAULT_SEED) -> "CountMinSketch":
        return cls(width_log2=width_log2, depth=depth, seed=seed)

    @property
    def width(self) -> int:
        return 1 << self.width_log2

    @property
    def total(self) -> int:
        """N — total weight added (row sums are all equal)."""
        return int(self.counters[0].sum())

    # -- hashing ---------------------------------------------------------------

    def _hash_pair(self, values, kind: str) -> tuple[np.ndarray, np.ndarray]:
        seed2 = (self.seed ^ _H2_SEED_XOR) & ((1 << 64) - 1)
        if kind in ("tokens", "int32"):
            h1 = murmur64a_int32(values, self.seed)
            h2 = murmur64a_int32(values, seed2)
        elif kind == "int64":
            h1 = murmur64a_int64(values, self.seed)
            h2 = murmur64a_int64(values, seed2)
        elif kind == "string":
            h1 = murmur64a_str_array(values, self.seed)
            h2 = murmur64a_str_array(values, seed2)
        else:
            raise ValueError(f"unsupported kind {kind!r}")
        return h1, h2 | np.uint64(1)

    def _positions(self, h1: np.ndarray, h2: np.ndarray, j: int) -> np.ndarray:
        mask = np.uint64(self.width - 1)
        return ((h1 + np.uint64(j) * h2) & mask).astype(np.int64)

    # -- update / query ----------------------------------------------------------

    def update_batch(self, values, kind: str = "tokens", weights: np.ndarray | None = None) -> None:
        if len(values) == 0:
            return
        if weights is not None:
            weights = np.asarray(weights)
            if not np.issubdtype(weights.dtype, np.integer):
                # counters are integer: silently flooring float mass would
                # undercount totals and drift the row-sum invariant
                raise TypeError(
                    f"weights must be an integer array (got {weights.dtype}); "
                    "round explicitly before updating"
                )
        h1, h2 = self._hash_pair(values, kind)
        for j in range(self.depth):
            pos = self._positions(h1, h2, j)
            if weights is None:
                row = np.bincount(pos, minlength=self.width)
            else:
                row = np.bincount(pos, weights=weights, minlength=self.width)
            self.counters[j] += row.astype(np.uint64)

    def query_batch(self, values, kind: str = "tokens") -> np.ndarray:
        """Estimated frequency per value: min over depth rows (never undercounts)."""
        if len(values) == 0:
            return np.zeros(0, dtype=np.uint64)
        h1, h2 = self._hash_pair(values, kind)
        est = self.counters[0][self._positions(h1, h2, 0)]
        for j in range(1, self.depth):
            np.minimum(est, self.counters[j][self._positions(h1, h2, j)], out=est)
        return est

    # -- merge / bounds ------------------------------------------------------------

    def _check(self, other: "CountMinSketch") -> None:
        if (self.width_log2, self.depth, self.seed) != (other.width_log2, other.depth, other.seed):
            raise ValueError("cannot merge count-min sketches with different configs")

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        self._check(other)
        self.counters += other.counters
        return self

    @property
    def epsilon(self) -> float:
        return math.e / self.width

    @property
    def delta(self) -> float:
        return math.exp(-self.depth)

    # -- codec ----------------------------------------------------------------------

    @staticmethod
    def _exact_dot_u64(x: np.ndarray, y: np.ndarray) -> int:
        """Exact dot product of two uint64 vectors as an arbitrary-precision
        Python int, via 16-bit limb decomposition: every partial dot's terms
        are < 2^32 and are summed in <=2^20-element chunks, so each float64
        partial sum stays < 2^52 — exactly representable — and the limb
        shifts recombine in Python ints. Zero limbs (counters < 2^16, the
        common case) are skipped, so the typical cost is one BLAS dot."""
        total = 0
        xs = [((x >> np.uint64(16 * i)) & np.uint64(0xFFFF)) for i in range(4)]
        ys = [((y >> np.uint64(16 * j)) & np.uint64(0xFFFF)) for j in range(4)]
        xs = [v.astype(np.float64) if v.any() else None for v in xs]
        ys = [v.astype(np.float64) if v.any() else None for v in ys]
        chunk = 1 << 20
        n = len(x)
        for i, xv in enumerate(xs):
            if xv is None:
                continue
            for j, yv in enumerate(ys):
                if yv is None:
                    continue
                s = 0
                for lo in range(0, n, chunk):
                    s += int(np.dot(xv[lo : lo + chunk], yv[lo : lo + chunk]))
                total += s << (16 * (i + j))
        return total

    @staticmethod
    def inner_product(a: "CountMinSketch", b: "CountMinSketch") -> int:
        """Join-size / inner-product estimate (Cormode & Muthukrishnan 2005
        §4.2): min over depth rows of dot(row_a, row_b). NEVER undercounts
        the true inner product sum_v f_a(v) * f_b(v) (each row's dot adds
        only non-negative collision terms); overcounts by at most
        eps * N_a * N_b with probability 1 - delta. With a == b this is the
        self-join size sum f(v)^2 — the skew statistic query optimizers use.
        Accumulation is EXACT integer math at any scale (ADVICE r03: a
        float64 accumulator rounds past 2^53 and can round BELOW the true
        value, silently breaking the never-undercounts guarantee): see
        ``_exact_dot_u64``."""
        a._check(b)
        return min(
            CountMinSketch._exact_dot_u64(a.counters[j], b.counters[j])
            for j in range(a.depth)
        )

    _SPARSE_FLAG = 0x8000  # set in the depth field (depth itself is <= 16)

    def to_bytes(self) -> bytes:
        """Dense (depth x width uint64) or SPARSE at rest — (flat idx uint64,
        count uint64) pairs — whichever is smaller. A task-local partial over
        a modest value set is mostly zeros, so sparse cuts the merge-shuffle
        payload (the dominant cost of a wide CMS at scale: bytes ~= tasks x
        keys x depth x width x 8, independent of data volume); a saturated
        merged sketch stays dense. Backward compatible: the sparse flag
        rides a high bit of the depth field, which dense blobs never set."""
        head = pack_header(KIND_CMS, self.width_log2, self.seed)
        flat = self.counters.reshape(-1)
        nz = np.flatnonzero(flat)
        if len(nz) * 16 < flat.size * 8:
            return (
                head
                + struct.pack("<HI", self.depth | self._SPARSE_FLAG, len(nz))
                + nz.astype(np.uint64).tobytes()
                + np.ascontiguousarray(flat[nz]).tobytes()
            )
        return head + struct.pack("<H", self.depth) + self.counters.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CountMinSketch":
        width_log2, seed, payload = unpack_header(blob, KIND_CMS)
        r = PayloadReader(payload)
        (dfield,) = r.unpack("<H")
        depth = dfield & ~cls._SPARSE_FLAG
        n_cells = depth * (1 << width_log2)
        if dfield & cls._SPARSE_FLAG:
            (nnz,) = r.unpack("<I")
            idx = r.array(np.uint64, nnz)
            vals = r.array(np.uint64, nnz)
            flat = np.zeros(n_cells, dtype=np.uint64)
            flat[idx.astype(np.int64)] = vals
            counters = flat.reshape(depth, 1 << width_log2)
        else:
            counters = r.array(np.uint64, n_cells).reshape(depth, 1 << width_log2).copy()
        r.end()
        return cls(width_log2=width_log2, depth=depth, seed=seed, counters=counters)

    @staticmethod
    def merge_blobs(blobs, width_log2: int, depth: int, seed: int = DEFAULT_SEED) -> "CountMinSketch":
        """Accumulate partials; SPARSE blobs scatter-add their (idx, count)
        pairs straight into the accumulator instead of densifying first —
        a task-local partial is ~3-5% filled at a wide CMS, so this skips
        both the 10 MB zero-fill and the full-width add per partial (the
        dominant merge cost at depth 5 x 2^18; counts are identical either
        way — addition is the same arithmetic in any order)."""
        out = CountMinSketch.empty(width_log2, depth, seed)
        flat = out.counters.reshape(-1)
        for b in blobs:
            if b is None:
                continue
            b = bytes(b)
            b_width, b_seed, payload = unpack_header(b, KIND_CMS)
            r = PayloadReader(payload)
            (dfield,) = r.unpack("<H")
            b_depth = dfield & ~CountMinSketch._SPARSE_FLAG
            if (b_width, b_depth, b_seed) != (width_log2, depth, seed):
                raise ValueError("cannot merge count-min sketches with different configs")
            if dfield & CountMinSketch._SPARSE_FLAG:
                (nnz,) = r.unpack("<I")
                idx = r.array(np.uint64, nnz)
                vals = r.array(np.uint64, nnz)
                r.end()
                np.add.at(flat, idx.astype(np.int64), vals)
            else:
                out.merge(CountMinSketch.from_bytes(b))
        return out
