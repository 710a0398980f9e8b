"""Bloom filter — distributed membership tests.

Mergeable-sketch discipline (SURVEY.md §2C): boolean bit array in flight
(vectorized fancy indexing), element-wise OR merge, packed bits at rest.
Same MurmurHash64A family + Kirsch–Mitzenmacher double hashing as count-min.

Laws: no false negatives, ever; false-positive probability
fpp ≈ (1 - e^(-k*n/m))^k.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from .codec import KIND_BLOOM, PayloadReader, pack_header, unpack_header
from .cms import _H2_SEED_XOR
from .kernels import (
    DEFAULT_SEED,
    murmur64a_int32,
    murmur64a_int64,
    murmur64a_str_array,
)


def optimal_params(n_expected: int, fpp: float) -> tuple[int, int]:
    """(m_log2, k) minimizing space for a target false-positive rate."""
    m = max(64.0, -n_expected * math.log(fpp) / (math.log(2) ** 2))
    m_log2 = max(6, math.ceil(math.log2(m)))
    k = max(1, round((1 << m_log2) / max(n_expected, 1) * math.log(2)))
    return m_log2, min(k, 16)


@dataclass
class BloomFilter:
    m_log2: int = 20
    k: int = 7
    seed: int = DEFAULT_SEED
    bits: np.ndarray = field(default=None, repr=False)  # type: ignore[assignment]

    def __post_init__(self) -> None:
        if not (6 <= int(self.m_log2) <= 33):
            raise ValueError(f"m_log2={self.m_log2} out of range [6, 33]")
        if not (1 <= int(self.k) <= 32):
            raise ValueError(f"k={self.k} out of range [1, 32]")
        self.m_log2 = int(self.m_log2)
        self.k = int(self.k)
        self.seed = int(self.seed)
        if self.bits is None:
            self.bits = np.zeros(1 << self.m_log2, dtype=bool)
        else:
            self.bits = np.asarray(self.bits, dtype=bool)
            if self.bits.shape != (1 << self.m_log2,):
                raise ValueError("bits shape mismatch")

    @classmethod
    def empty(cls, m_log2: int = 20, k: int = 7, seed: int = DEFAULT_SEED) -> "BloomFilter":
        return cls(m_log2=m_log2, k=k, seed=seed)

    @property
    def m(self) -> int:
        return 1 << self.m_log2

    def _hash_pair(self, values, kind: str) -> tuple[np.ndarray, np.ndarray]:
        seed2 = (self.seed ^ _H2_SEED_XOR) & ((1 << 64) - 1)
        if kind in ("tokens", "int32"):
            h1, h2 = murmur64a_int32(values, self.seed), murmur64a_int32(values, seed2)
        elif kind == "int64":
            h1, h2 = murmur64a_int64(values, self.seed), murmur64a_int64(values, seed2)
        elif kind == "string":
            h1, h2 = murmur64a_str_array(values, self.seed), murmur64a_str_array(values, seed2)
        else:
            raise ValueError(f"unsupported kind {kind!r}")
        return h1, h2 | np.uint64(1)

    def update_batch(self, values, kind: str = "tokens") -> None:
        if len(values) == 0:
            return
        h1, h2 = self._hash_pair(values, kind)
        mask = np.uint64(self.m - 1)
        for j in range(self.k):
            self.bits[((h1 + np.uint64(j) * h2) & mask).astype(np.int64)] = True

    def contains_batch(self, values, kind: str = "tokens") -> np.ndarray:
        if len(values) == 0:
            return np.zeros(0, dtype=bool)
        h1, h2 = self._hash_pair(values, kind)
        mask = np.uint64(self.m - 1)
        out = np.ones(len(h1), dtype=bool)
        for j in range(self.k):
            out &= self.bits[((h1 + np.uint64(j) * h2) & mask).astype(np.int64)]
        return out

    def _check(self, other: "BloomFilter") -> None:
        if (self.m_log2, self.k, self.seed) != (other.m_log2, other.k, other.seed):
            raise ValueError("cannot merge bloom filters with different configs")

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        self._check(other)
        self.bits |= other.bits
        return self

    def fill_ratio(self) -> float:
        return float(self.bits.mean())

    def fpp_estimate(self) -> float:
        """Current false-positive probability from the observed fill ratio."""
        return self.fill_ratio() ** self.k

    # -- codec ----------------------------------------------------------------------

    _SPARSE_FLAG = 0x8000  # set in the k field (k itself is <= 32)

    def to_bytes(self) -> bytes:
        """Packed bitmap, or SPARSE set-bit indices (uint64) when far below
        fill — a task-local partial sets ~n_task x k of 2^m bits, so sparse
        cuts the merge-shuffle payload the same way the CMS sparse mode
        does; a well-filled merged filter stays a bitmap. Backward
        compatible: the flag rides a spare bit of the k field."""
        head = pack_header(KIND_BLOOM, self.m_log2, self.seed)
        idx = np.flatnonzero(self.bits)
        if len(idx) * 8 < (1 << self.m_log2) // 8:
            return (
                head
                + struct.pack("<HI", self.k | self._SPARSE_FLAG, len(idx))
                + idx.astype(np.uint64).tobytes()
            )
        return head + struct.pack("<H", self.k) + np.packbits(self.bits).tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BloomFilter":
        m_log2, seed, payload = unpack_header(blob, KIND_BLOOM)
        r = PayloadReader(payload)
        (kfield,) = r.unpack("<H")
        k = kfield & ~cls._SPARSE_FLAG
        if kfield & cls._SPARSE_FLAG:
            (nnz,) = r.unpack("<I")
            idx = r.array(np.uint64, nnz)
            bits = np.zeros(1 << m_log2, dtype=bool)
            bits[idx.astype(np.int64)] = True
        else:
            bits = np.unpackbits(r.array(np.uint8, (1 << m_log2) // 8)).astype(bool)
        r.end()
        return cls(m_log2=m_log2, k=k, seed=seed, bits=bits)

    @staticmethod
    def merge_blobs(blobs, m_log2: int, k: int, seed: int = DEFAULT_SEED) -> "BloomFilter":
        out = BloomFilter.empty(m_log2, k, seed)
        for b in blobs:
            if b is not None:
                out.merge(BloomFilter.from_bytes(bytes(b)))
        return out
