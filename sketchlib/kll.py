"""KLL quantile sketch (Karnin–Lang–Liberty 2016, as deployed in the

DataSketches lineage). Mergeable-sketch discipline (SURVEY.md §2C).

State: a stack of "compactor" levels; items at level i carry weight 2^i.
Level capacities shrink geometrically (c = 2/3) from k at the top. A level
over capacity is sorted and every other item (random parity) is promoted up
— halving count, doubling weight, unbiased rank error.

Published bound: rank error eps with constant ~O(1/k); k=200 gives ~1.65%
worst-case single-sided at 99% confidence (DataSketches' published figure);
in practice ~<1% mid-range. Tests assert the empirical bound.

Determinism: compaction parity is CONTENT-SEEDED — a hash of the sorted
level being compacted (plus the sketch seed) picks the promoted offset, so
compaction is a pure function of the data it sees. Combined with a
parallelism-independent partial grain (per-row-group partials) and
canonical sorted-blob merge order (merge_blobs), a distributed build is
byte-identical at ANY parallelism — the same order-exactness law
HLL/CMS/Bloom get for free from their idempotent-max/add algebra
(SURVEY.md §7 hard part 7). Parity remains unbiased across compactions
because level contents differ.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from .codec import KIND_KLL, PayloadReader, pack_header, unpack_header
from .kernels import murmur64a_int64

_C = 2.0 / 3.0


@dataclass
class KllSketch:
    k: int = 200
    seed: int = 0
    levels: list = field(default_factory=list, repr=False)  # list[np.ndarray float64]
    n: int = 0
    min_v: float = np.inf
    max_v: float = -np.inf
    # per-object compaction ordinal: parity salt only — derivable state,
    # never serialized (a fresh object re-derives it deterministically)
    _compactions: int = 0

    def __post_init__(self) -> None:
        if not (8 <= int(self.k) <= 65535):
            raise ValueError(f"k={self.k} out of range [8, 65535]")
        self.k = int(self.k)
        if not self.levels:
            self.levels = [np.empty(0, dtype=np.float64)]

    @classmethod
    def empty(cls, k: int = 200, seed: int = 0) -> "KllSketch":
        return cls(k=k, seed=seed)

    # -- internals ---------------------------------------------------------------

    def _capacity(self, level: int) -> int:
        # top level has capacity k; lower levels shrink by factor c
        depth = len(self.levels)
        return max(2, int(self.k * (_C ** (depth - 1 - level))))

    def _parity(self, arr_sorted: np.ndarray, level: int) -> int:
        """Promoted-offset parity as a pure function of (compacted data,
        level index, items-seen count, per-sketch compaction ordinal): hash
        the sorted level contents (xor-reduced MurmurHash64A) with the
        sketch seed, mixed with the compaction counter, the level being
        compacted, and ``n``. All four inputs evolve deterministically from
        the update/merge sequence, so any execution path that performs the
        same compactions makes the same promote/drop choices — distributed
        builds stay byte-reproducible (canonical merge order + per-shard
        partials fix the sequence). The counter/level/n terms keep the
        parity varying even when IDENTICAL level contents recur (e.g. a
        periodic input repeating one block of values), so compaction errors
        still cancel like the unbiased coin the KLL analysis assumes.

        STATISTICAL CAVEAT (ADVICE r03): unlike the randomized textbook
        KLL, the parity here is a function of the data being compacted, so
        the classic error analysis's independence assumption does not hold
        verbatim — an adversary with knowledge of the hash could construct
        inputs whose compaction errors correlate instead of canceling. The
        level/n/ordinal mixing decorrelates all structured-but-non-
        adversarial inputs we can construct (periodic blocks, sorted runs,
        duplicated shards — see tests/test_determinism.py and the rank-
        error audits in tests/test_kll.py, which are the operative guard);
        the trade buys byte-identical results at any partitioning, which
        the distributed checkpoint/resume contract requires."""
        self._compactions += 1
        h = murmur64a_int64(arr_sorted.view(np.int64), self.seed)
        x = np.bitwise_xor.reduce(h) if len(h) else np.uint64(0)
        x ^= np.uint64(self._compactions * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF)
        x ^= np.uint64(((level + 1) * 0xC2B2AE3D27D4EB4F + self.n * 0x165667B19E3779F9) & 0xFFFFFFFFFFFFFFFF)
        return int(x & np.uint64(1))

    def _compact(self) -> None:
        while sum(len(lv) for lv in self.levels) > sum(
            self._capacity(i) for i in range(len(self.levels))
        ):
            for i, lv in enumerate(self.levels):
                if len(lv) > self._capacity(i):
                    arr = np.sort(lv)
                    promoted = arr[self._parity(arr, i) :: 2]
                    self.levels[i] = np.empty(0, dtype=np.float64)
                    if i + 1 == len(self.levels):
                        self.levels.append(np.empty(0, dtype=np.float64))
                    self.levels[i + 1] = np.concatenate([self.levels[i + 1], promoted])
                    break
            else:
                break

    # -- updates -------------------------------------------------------------------

    def update_batch(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return
        self.n += len(v)
        self.min_v = min(self.min_v, float(v.min()))
        self.max_v = max(self.max_v, float(v.max()))
        self.levels[0] = np.concatenate([self.levels[0], v])
        self._compact()

    def merge(self, other: "KllSketch") -> "KllSketch":
        if self.k != other.k:
            raise ValueError("cannot merge KLL sketches with different k")
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for i, lv in enumerate(other.levels):
            if len(lv):
                self.levels[i] = np.concatenate([self.levels[i], lv])
        self.n += other.n
        self.min_v = min(self.min_v, other.min_v)
        self.max_v = max(self.max_v, other.max_v)
        self._compact()
        return self

    # -- queries --------------------------------------------------------------------

    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for i, lv in enumerate(self.levels):
            if len(lv):
                items.append(lv)
                weights.append(np.full(len(lv), 1 << i, dtype=np.int64))
        if not items:
            return np.empty(0), np.empty(0, dtype=np.int64)
        it = np.concatenate(items)
        wt = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], wt[order]

    def quantile(self, q: float) -> float:
        """Value whose rank is ~q*n (returns an actual stored item)."""
        if self.n == 0:
            return float("nan")
        if q <= 0.0:
            return self.min_v
        if q >= 1.0:
            return self.max_v
        items, weights = self._weighted()
        cum = np.cumsum(weights)
        target = q * cum[-1]
        idx = int(np.searchsorted(cum, target, side="left"))
        return float(items[min(idx, len(items) - 1)])

    def quantiles(self, qs) -> np.ndarray:
        return np.array([self.quantile(q) for q in qs])

    def rank(self, x: float) -> float:
        """Estimated fraction of values <= x."""
        if self.n == 0:
            return float("nan")
        items, weights = self._weighted()
        idx = np.searchsorted(items, x, side="right")
        return float(weights[:idx].sum() / weights.sum())

    # -- codec -----------------------------------------------------------------------

    # layout version, carried in the header's p byte (unused by KLL):
    # v1 dropped the serialized _ops counter (round 3); v0 blobs would
    # misparse silently, so from_bytes rejects them loudly
    _LAYOUT_V = 1

    def to_bytes(self) -> bytes:
        head = pack_header(KIND_KLL, self._LAYOUT_V, self.seed)
        meta = struct.pack(
            "<HQddI", self.k, self.n, self.min_v, self.max_v, len(self.levels)
        )
        lens = struct.pack(f"<{len(self.levels)}I", *(len(lv) for lv in self.levels))
        body = b"".join(np.ascontiguousarray(lv).tobytes() for lv in self.levels)
        return head + meta + lens + body

    @classmethod
    def from_bytes(cls, blob: bytes) -> "KllSketch":
        layout_v, seed, payload = unpack_header(blob, KIND_KLL)
        if layout_v != cls._LAYOUT_V:
            raise ValueError(
                f"unsupported KLL blob layout v{layout_v} (expected v{cls._LAYOUT_V}; "
                f"v0 blobs carry a serialized compaction counter this version dropped)"
            )
        r = PayloadReader(payload)
        k, n, min_v, max_v, n_levels = r.unpack("<HQddI")
        lens = r.array(np.uint32, n_levels)
        levels = [r.array(np.float64, ln).copy() for ln in lens]
        r.end()
        return cls(k=k, seed=seed, levels=levels, n=n, min_v=min_v, max_v=max_v)

    @staticmethod
    def merge_blobs(blobs, k: int, seed: int = 0) -> "KllSketch":
        """Merge serialized sketches in CANONICAL (bytewise-sorted) order:
        with content-seeded compaction parity, the merged result is then a
        pure function of the blob MULTISET — any permutation of the same
        partials yields byte-identical output."""
        out = KllSketch.empty(k, seed)
        for b in sorted(bytes(b) for b in blobs if b is not None):
            out.merge(KllSketch.from_bytes(b))
        return out
