"""Composite profile sketch — ONE scan, many statistics.

The data-profiling shape that matters at 100 TB: a single pass over the
corpus that simultaneously maintains several mergeable sketches. At petabyte
scale the scan IS the cost — running HLL (distinct tokens) and KLL
(token-count quantiles) as separate queries doubles it; a composite sketch
rides the same partial/combine/finalize machinery (agg.SketchAggregator)
with zero extra scans and one blob column.

The composite follows the same MergeableSketch discipline as its parts
(SURVEY.md §2C): empty / update / merge / to_bytes / from_bytes, where each
law (merge associativity, round-trip identity) holds component-wise.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from .codec import KIND_PROFILE, PayloadReader, pack_header, unpack_header
from .hll import HllSketch
from .kernels import DEFAULT_SEED
from .kll import KllSketch


@dataclass
class ProfileSketch:
    """HLL over the flattened token values + KLL over per-row token counts."""

    hll: HllSketch
    kll: KllSketch

    @classmethod
    def empty(
        cls, p: int = 14, k: int = 200, seed: int = DEFAULT_SEED
    ) -> "ProfileSketch":
        return cls(hll=HllSketch.empty(p, seed), kll=KllSketch.empty(k, 0))

    def update_values(self, values: np.ndarray) -> None:
        self.hll.update_batch(values)

    def update_row_lengths(self, lengths: np.ndarray) -> None:
        if len(lengths):
            self.kll.update_batch(np.asarray(lengths, dtype=np.float64))

    def merge(self, other: "ProfileSketch") -> "ProfileSketch":
        self.hll.merge(other.hll)
        self.kll.merge(other.kll)
        return self

    # -- finalizers --------------------------------------------------------------

    def distinct_values(self) -> int:
        return self.hll.cardinality()

    def length_quantile(self, q: float) -> float:
        return self.kll.quantile(q)

    # -- codec -------------------------------------------------------------------
    # outer header (kind=KIND_PROFILE) + length-prefixed component blobs;
    # components keep their own versioned headers so the composite inherits
    # their forward-compat story.

    def to_bytes(self) -> bytes:
        h, k = self.hll.to_bytes(), self.kll.to_bytes()
        return (
            pack_header(KIND_PROFILE, self.hll.p, self.hll.seed)
            + struct.pack("<II", len(h), len(k))
            + h
            + k
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "ProfileSketch":
        _, _, payload = unpack_header(blob, KIND_PROFILE)
        r = PayloadReader(payload)
        lh, lk = r.unpack("<II")
        hll = HllSketch.from_bytes(r.raw(lh))
        kll = KllSketch.from_bytes(r.raw(lk))
        r.end()
        return cls(hll=hll, kll=kll)

    @staticmethod
    def merge_blobs(
        blobs, p: int = 14, k: int = 200, seed: int = DEFAULT_SEED
    ) -> "ProfileSketch":
        """Merge in CANONICAL (bytewise-sorted) order, like KllSketch
        .merge_blobs: the HLL component is order-exact anyway, and with the
        KLL's content-seeded compaction parity the composite becomes a pure
        function of the blob multiset — byte-identical at any
        partitioning when partials are per-shard."""
        out = ProfileSketch.empty(p, k, seed)
        for b in sorted(bytes(b) for b in blobs if b is not None):
            out.merge(ProfileSketch.from_bytes(b))
        return out
