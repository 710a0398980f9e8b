"""KMV (k-minimum-values / theta) sketch — order-exact distinct counting
with NATIVE set algebra: union, intersection, and Jaccard without
inclusion–exclusion.

Complements the HLL core (reference semantics, src/hll.c:776-815, whose
merge is union-ONLY — README.md:138-148 documents that intersections must
go through inclusion–exclusion with compounded error): a KMV sketch keeps
the k smallest distinct 64-bit MurmurHash64A values seen. The k smallest
elements of a set are a pure function of the set, so the sketch is
order-exact — byte-identical at any partitioning/merge order, the same
distributed-safety property the HLL register array has.

Estimator (Beyer et al., "On Synopses for Distinct Value Estimation Under
Multiset Operations", SIGMOD 2007; Bar-Yossef et al. 2002):

- fewer than k distinct hashes seen -> the count is EXACT (the sketch IS
  the distinct hash set);
- otherwise ``E[D] = (k-1)/theta`` with ``theta`` = the kth smallest hash
  mapped to (0,1]; relative std error ~ 1/sqrt(k-2).

Set operations on two sketches with equal (k, seed):

- union sketch = k smallest of the value-set union (lossless merge);
- K_cap = |{v in union sketch : v in A and v in B}|; then
  ``jaccard ~= K_cap / |union sketch|`` and
  ``|A n B| ~= jaccard * union_estimate`` (ratio estimator from the paper).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from .codec import KIND_KMV, PayloadReader, pack_header, unpack_header
from .kernels import DEFAULT_SEED, murmur64a

_TWO64 = float(1 << 64)


@dataclass
class KmvSketch:
    k: int = 1024
    seed: int = DEFAULT_SEED
    # sorted ascending, distinct, len <= k
    values: np.ndarray = field(default=None, repr=False)  # type: ignore[assignment]

    def __post_init__(self) -> None:
        if not (8 <= int(self.k) <= 1 << 22):
            raise ValueError(f"k={self.k} out of range [8, 2^22]")
        self.k = int(self.k)
        self.seed = int(self.seed)
        if self.values is None:
            self.values = np.zeros(0, dtype=np.uint64)
        else:
            self.values = np.asarray(self.values, dtype=np.uint64)

    @classmethod
    def empty(cls, k: int = 1024, seed: int = DEFAULT_SEED) -> "KmvSketch":
        return cls(k=k, seed=seed)

    @staticmethod
    def std_error(k: int) -> float:
        """Published relative standard error ~ 1/sqrt(k-2) (Beyer 2007)."""
        return 1.0 / np.sqrt(max(k - 2, 1))

    # -- update / merge ---------------------------------------------------------

    def _absorb(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        if len(self.values) == self.k:
            # steady state: one vectorized compare rejects almost everything
            hashes = hashes[hashes < self.values[-1]]
            if len(hashes) == 0:
                return
        self.values = _union_values(self.values, hashes, self.k)

    def update_batch(self, values, kind: str = "tokens") -> None:
        if len(values) == 0:
            return
        self._absorb(murmur64a(values, kind, self.seed))

    def _check(self, other: "KmvSketch") -> None:
        if (self.k, self.seed) != (other.k, other.seed):
            raise ValueError("cannot merge KMV sketches with different (k, seed)")

    def merge(self, other: "KmvSketch") -> "KmvSketch":
        self._check(other)
        self._absorb(other.values)
        return self

    # -- estimates --------------------------------------------------------------

    def estimate(self) -> int:
        return _estimate_values(self.values, self.k)

    # Pair algebra: each method is one row of ``pair_set_algebra``, the one
    # implementation the kmv_* SQL functions also call; ``union`` returns
    # the union sketch itself.

    @staticmethod
    def union(a: "KmvSketch", b: "KmvSketch") -> "KmvSketch":
        a._check(b)
        return KmvSketch(k=a.k, seed=a.seed, values=_union_values(a.values, b.values, a.k))

    @staticmethod
    def jaccard(a: "KmvSketch", b: "KmvSketch") -> float:
        """K_cap / k' ratio estimator over the union sketch's value set."""
        return float(_pair_row(a, b)[2])

    @staticmethod
    def intersection_estimate(a: "KmvSketch", b: "KmvSketch") -> int:
        return int(_pair_row(a, b)[1])

    @staticmethod
    def difference_estimate(a: "KmvSketch", b: "KmvSketch") -> int:
        """|A \\ B|: the fraction of the union sketch's hashes that came from
        ``a`` only, scaled by the union estimate."""
        return int(_pair_row(a, b)[3])

    # -- codec ------------------------------------------------------------------
    # header 'p' field is log2-shaped elsewhere; k need not be a power of two,
    # so p carries 0 (raw) or 1 (delta-compressed) and k rides the payload.

    def to_bytes(self, mode: str | None = None) -> bytes:
        """At-rest blob; two encodings, auto-picking the smaller.

        - raw (header p=0): k u32 | n u32 | n raw uint64 values;
        - delta/FOR (header p=1, ``mode="delta"`` to force): k u32 | n u32 |
          width u8 | first value u64 | (n-1) consecutive deltas at the
          smallest fixed byte width that fits the largest delta
          (frame-of-reference). The stored values are the k smallest of N
          uniform hashes, so consecutive gaps concentrate near 2^64/N —
          at large N the width drops to 4-6 bytes and the blob shrinks
          30-45%, which is what a 2^20-k sketch checkpoint pays per row.

        Both encodings are pure functions of the sketch state, so the
        byte-determinism law (same values -> same bytes at any
        partitioning/merge order) holds unchanged; old raw blobs parse
        forever (p=0 dispatch).
        """
        if mode not in (None, "raw", "delta"):
            raise ValueError(f"unknown KMV encoding mode {mode!r}")
        n = len(self.values)
        raw = (
            pack_header(KIND_KMV, 0, self.seed)
            + struct.pack("<II", self.k, n)
            + self.values.tobytes()
        )
        if mode == "raw" or (mode is None and n < 2):
            return raw
        deltas = np.diff(self.values)
        width = 1
        if n >= 2:
            max_delta = int(deltas.max()) if len(deltas) else 0
            width = max(1, (max_delta.bit_length() + 7) // 8)
        if mode is None and 1 + 8 + (n - 1) * width >= 8 * n:
            return raw  # compression doesn't win (small n / huge gaps)
        # little-endian fixed-width pack: view the u64 deltas' low bytes
        body = (
            deltas.astype("<u8").view(np.uint8).reshape(-1, 8)[:, :width].tobytes()
            if n >= 2
            else b""
        )
        return (
            pack_header(KIND_KMV, 1, self.seed)
            + struct.pack("<IIB", self.k, n, width)
            + struct.pack("<Q", int(self.values[0]) if n else 0)
            + body
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "KmvSketch":
        k, seed, values = _parse(blob)
        return cls(k=k, seed=seed, values=values.copy())

    @staticmethod
    def merge_blobs(blobs, k: int, seed: int = DEFAULT_SEED) -> "KmvSketch":
        out = KmvSketch.empty(k, seed)
        for b in blobs:
            if b is not None:
                out.merge(KmvSketch.from_bytes(bytes(b)))
        return out


def _parse(blob: bytes) -> tuple[int, int, np.ndarray]:
    """The one KMV blob parser -> (k, seed, values). The values fold by the
    merge law (codec.py): sorted, distinct, the k smallest. Canonical raw
    values, the only ones the encoder writes, are a read-only view of
    ``blob``."""
    p, seed, payload = unpack_header(blob, KIND_KMV)
    r = PayloadReader(payload)
    k, n = r.unpack("<II")
    if p == 0:
        values = r.array(np.uint64, n)
    elif p == 1:
        width, first = r.unpack("<BQ")
        packed = r.array(np.uint8, max(n - 1, 0) * width).reshape(-1, width)
        deltas = np.zeros((len(packed), 8), dtype=np.uint8)
        deltas[:, :width] = packed
        values = np.empty(n, dtype=np.uint64)
        if n:
            values[0] = first
            np.cumsum(deltas.view("<u8").reshape(-1), out=values[1:])
            values[1:] += np.uint64(first)
    else:
        raise ValueError(f"unknown KMV encoding {p}")
    r.end()
    if n > k or np.any(values[1:] <= values[:-1]):
        values = np.unique(values)[:k]
    return k, seed, values


def values_from_blobs(blobs) -> tuple[list[np.ndarray], int, int]:
    """Batch-decode non-null KMV blobs -> (value arrays, k, seed).

    One ``_parse`` per row, no dataclass construction — the
    K²-pairwise-matrix path (VERDICT r03 #5). Mixed (k, seed) raises,
    matching the ``merge`` contract.
    """
    vals: list[np.ndarray] = []
    k0 = seed0 = None
    for b in blobs:
        k, seed, values = _parse(bytes(b))
        if k0 is None:
            k0, seed0 = k, seed
        elif (k, seed) != (k0, seed0):
            raise ValueError("cannot batch-decode KMV blobs with mixed (k, seed)")
        vals.append(values)
    return vals, (k0 if k0 is not None else 1024), (seed0 if seed0 is not None else DEFAULT_SEED)


def _estimate_values(values: np.ndarray, k: int) -> int:
    n = len(values)
    if n < k:
        return n  # exact: the sketch holds every distinct hash
    return int(round((k - 1) / ((float(values[k - 1]) + 1.0) / _TWO64)))


def _union_values(a: np.ndarray, b: np.ndarray, k: int) -> np.ndarray:
    """The values of the union sketch: the k smallest distinct hashes of
    both, sorted (what ``merge``, ``union`` and the pair algebra keep)."""
    return np.union1d(a, b)[:k]


def _pair_row(a: KmvSketch, b: KmvSketch) -> list:
    """(union, intersection, jaccard, difference) of one checked pair."""
    a._check(b)
    return [col[0] for col in pair_set_algebra([a.values], [b.values], a.k)]


def pair_set_algebra(
    a_vals: list[np.ndarray], b_vals: list[np.ndarray], k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The one implementation of KMV pair algebra: (union_est,
    intersection_est, jaccard, difference_est) arrays for pre-decoded
    pairs; difference is |A \\ B| (order matters). The KmvSketch methods
    and the kmv_* SQL functions call it.

    Jaccard is K_cap / k' over the union sketch's k' retained hashes, and
    the intersection and difference scale the fractions in both / in ``a``
    only by the union estimate. A\\B + B\\A + A∩B partition the union, so
    the three ratio estimates share one denominator and are
    self-consistent. Two empty sketches have jaccard 1.0 (identical sets).

    Per-pair work is pure numpy set ops over <=k-element arrays; the Python
    loop only sequences them (no blob decode, no object construction).
    """
    n = len(a_vals)
    est_u = np.zeros(n, dtype=np.int64)
    est_i = np.zeros(n, dtype=np.int64)
    jac = np.zeros(n, dtype=np.float64)
    est_d = np.zeros(n, dtype=np.int64)
    for i in range(n):
        u = _union_values(a_vals[i], b_vals[i], k)
        eu = _estimate_values(u, k)
        if len(u) == 0:
            j = 1.0  # both empty: identical sets
            d = 0.0
        else:
            in_a = np.isin(u, a_vals[i], assume_unique=True)
            in_b = np.isin(u, b_vals[i], assume_unique=True)
            j = float((in_a & in_b).sum()) / float(len(u))
            d = float((in_a & ~in_b).sum()) / float(len(u))
        est_u[i] = eu
        est_i[i] = int(round(j * eu))
        jac[i] = j
        est_d[i] = int(round(d * eu))
    return est_u, est_i, jac, est_d
