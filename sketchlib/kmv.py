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
from .kernels import (
    DEFAULT_SEED,
    murmur64a_int32,
    murmur64a_int64,
    murmur64a_str_array,
)

_TWO64 = float(1 << 64)


def _hash_kind(values, kind: str, seed: int) -> np.ndarray:
    if kind in ("tokens", "int32"):
        return murmur64a_int32(values, seed)
    if kind == "int64":
        return murmur64a_int64(values, seed)
    if kind == "string":
        return murmur64a_str_array(values, seed)
    raise ValueError(f"unsupported kind {kind!r}")


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
        merged = np.union1d(self.values, hashes)  # sorted + distinct
        self.values = merged[: self.k]

    def update_batch(self, values, kind: str = "tokens") -> None:
        if len(values) == 0:
            return
        self._absorb(_hash_kind(values, kind, self.seed))

    def _check(self, other: "KmvSketch") -> None:
        if (self.k, self.seed) != (other.k, other.seed):
            raise ValueError("cannot merge KMV sketches with different (k, seed)")

    def merge(self, other: "KmvSketch") -> "KmvSketch":
        self._check(other)
        self._absorb(other.values)
        return self

    # -- estimates --------------------------------------------------------------

    def estimate(self) -> int:
        n = len(self.values)
        if n < self.k:
            return n  # exact: we have every distinct hash
        theta = (float(self.values[self.k - 1]) + 1.0) / _TWO64
        return int(round((self.k - 1) / theta))

    @staticmethod
    def union(a: "KmvSketch", b: "KmvSketch") -> "KmvSketch":
        a._check(b)
        out = KmvSketch.empty(a.k, a.seed)
        out._absorb(a.values)
        out._absorb(b.values)
        return out

    @staticmethod
    def jaccard(a: "KmvSketch", b: "KmvSketch") -> float:
        """K_cap / k' ratio estimator over the union sketch's value set."""
        u = KmvSketch.union(a, b)
        if len(u.values) == 0:
            return 1.0  # both empty: identical sets
        both = np.isin(u.values, a.values, assume_unique=True) & np.isin(
            u.values, b.values, assume_unique=True
        )
        return float(both.sum()) / float(len(u.values))

    @staticmethod
    def intersection_estimate(a: "KmvSketch", b: "KmvSketch") -> int:
        u = KmvSketch.union(a, b)
        return int(round(KmvSketch.jaccard(a, b) * u.estimate()))

    @staticmethod
    def difference_estimate(a: "KmvSketch", b: "KmvSketch") -> int:
        """|A \\ B| estimate — the same union-sketch ratio estimator as
        jaccard/intersection: the fraction of the union sketch's retained
        hashes that came from ``a`` only, scaled by the union estimate.
        Completes the set algebra (union/intersection/jaccard/difference);
        A\\B + B\\A + A∩B partition the union by construction, so the three
        ratio estimates are self-consistent (they share one denominator)."""
        a._check(b)
        u = KmvSketch.union(a, b)
        if len(u.values) == 0:
            return 0
        only_a = np.isin(u.values, a.values, assume_unique=True) & ~np.isin(
            u.values, b.values, assume_unique=True
        )
        return int(round(float(only_a.sum()) / float(len(u.values)) * u.estimate()))

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
        p, seed, payload = unpack_header(blob, KIND_KMV)
        r = PayloadReader(payload)
        k, n = r.unpack("<II")
        if p == 0:
            values = r.array(np.uint64, n).copy()
            r.end()
            return cls(k=k, seed=seed, values=values)
        if p != 1:
            raise ValueError(f"unknown KMV encoding {p}")
        width, first = r.unpack("<BQ")
        if n == 0:
            r.end()
            return cls(k=k, seed=seed, values=np.zeros(0, dtype=np.uint64))
        packed = r.array(np.uint8, (n - 1) * width).reshape(n - 1, width)
        r.end()
        deltas = np.zeros((n - 1, 8), dtype=np.uint8)
        deltas[:, :width] = packed
        values = np.empty(n, dtype=np.uint64)
        values[0] = first
        np.cumsum(deltas.view("<u8").reshape(-1), out=values[1:])
        values[1:] += np.uint64(first)
        return cls(k=k, seed=seed, values=values)

    @staticmethod
    def merge_blobs(blobs, k: int, seed: int = DEFAULT_SEED) -> "KmvSketch":
        out = KmvSketch.empty(k, seed)
        for b in blobs:
            if b is not None:
                out.merge(KmvSketch.from_bytes(bytes(b)))
        return out


def values_from_blobs(blobs) -> tuple[list[np.ndarray], int, int]:
    """Batch-decode non-null KMV blobs -> (value arrays, k, seed).

    One header parse + frombuffer slice per row, no dataclass construction
    — the K²-pairwise-matrix path (VERDICT r03 #5). Mixed (k, seed) raises,
    matching the ``merge`` contract.
    """
    vals: list[np.ndarray] = []
    k0 = seed0 = None
    for b in blobs:
        b = bytes(b)
        p, seed, payload = unpack_header(b, KIND_KMV)
        r = PayloadReader(payload)
        k, n = r.unpack("<II")
        if k0 is None:
            k0, seed0 = k, seed
        elif (k, seed) != (k0, seed0):
            raise ValueError("cannot batch-decode KMV blobs with mixed (k, seed)")
        if p == 0:
            vals.append(r.array(np.uint64, n))
            r.end()
        else:
            # delta-compressed: reuse the full decoder (rare on the hot
            # matrix path, which reads freshly-merged in-memory sketches)
            vals.append(KmvSketch.from_bytes(b).values)
    return vals, (k0 if k0 is not None else 1024), (seed0 if seed0 is not None else DEFAULT_SEED)


def _estimate_values(values: np.ndarray, k: int) -> int:
    n = len(values)
    if n < k:
        return n
    return int(round((k - 1) / ((float(values[k - 1]) + 1.0) / _TWO64)))


def _union_values(a: np.ndarray, b: np.ndarray, k: int) -> np.ndarray:
    return np.union1d(a, b)[:k]


def pair_set_algebra(
    a_vals: list[np.ndarray], b_vals: list[np.ndarray], k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(union_est, intersection_est, jaccard, difference_est) arrays for
    pre-decoded pairs; difference is |A \\ B| (order matters).

    Per-pair work is pure numpy set ops over <=k-element arrays; the Python
    loop only sequences them (no blob decode, no object construction).
    Estimators identical to the KmvSketch methods (pinned by tests).
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
