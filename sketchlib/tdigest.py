"""t-digest — quantile/CDF sketch with tight tails (Dunning & Ertl 2019,

"Computing extremely accurate quantiles using t-digests"). Merging variant:
values buffer locally, then centroids are rebuilt by a single sorted sweep
bounded by the k1 scale function, which allots more resolution near q=0/1.

Mergeable-sketch discipline (SURVEY.md §2C): merge = concatenate centroids +
recompress. The sweep has no RNG, so merging blobs in canonical
(bytewise-sorted) order makes the result a pure function of the partial
MULTISET; with a parallelism-independent partial grain (per-row-group
partials) the distributed build is byte-identical at any parallelism, same
as HLL/CMS/Bloom and the content-seeded KLL.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from .codec import KIND_TDIGEST, PayloadReader, pack_header, unpack_header

_BUFFER_FACTOR = 5


def _k1(q: float, delta: float) -> float:
    return delta / (2.0 * math.pi) * math.asin(2.0 * min(max(q, 0.0), 1.0) - 1.0)


@dataclass
class TDigest:
    delta: float = 200.0
    means: np.ndarray = field(default=None, repr=False)  # type: ignore[assignment]
    weights: np.ndarray = field(default=None, repr=False)  # type: ignore[assignment]
    min_v: float = np.inf
    max_v: float = -np.inf
    _buf: list = field(default_factory=list, repr=False)

    def __post_init__(self) -> None:
        if not (10 <= float(self.delta) <= 10000):
            raise ValueError(f"delta={self.delta} out of range [10, 10000]")
        self.delta = float(self.delta)
        if self.means is None:
            self.means = np.empty(0, dtype=np.float64)
            self.weights = np.empty(0, dtype=np.float64)

    @classmethod
    def empty(cls, delta: float = 200.0) -> "TDigest":
        return cls(delta=delta)

    @property
    def n(self) -> float:
        return float(self.weights.sum()) + float(sum(len(b) for b in self._buf))

    # -- compression -----------------------------------------------------------------

    def _flush(self) -> None:
        if not self._buf and len(self.means) <= int(2 * self.delta):
            return
        parts_m = [self.means] + [np.asarray(b, dtype=np.float64) for b in self._buf]
        parts_w = [self.weights] + [np.ones(len(b), dtype=np.float64) for b in self._buf]
        self._buf = []
        m = np.concatenate(parts_m)
        w = np.concatenate(parts_w)
        if len(m) == 0:
            return
        order = np.argsort(m, kind="stable")
        m, w = m[order], w[order]
        total = w.sum()
        out_m: list[float] = []
        out_w: list[float] = []
        cur_m, cur_w = m[0], w[0]
        q_left = 0.0
        k_left = _k1(0.0, self.delta)
        for i in range(1, len(m)):
            q_right = (q_left * total + cur_w + w[i]) / total
            if _k1(q_right, self.delta) - k_left <= 1.0:
                # weighted-mean merge keeps the centroid the mass centroid
                cur_m += (m[i] - cur_m) * (w[i] / (cur_w + w[i]))
                cur_w += w[i]
            else:
                out_m.append(cur_m)
                out_w.append(cur_w)
                q_left += cur_w / total
                k_left = _k1(q_left, self.delta)
                cur_m, cur_w = m[i], w[i]
        out_m.append(cur_m)
        out_w.append(cur_w)
        self.means = np.array(out_m, dtype=np.float64)
        self.weights = np.array(out_w, dtype=np.float64)

    # -- updates ------------------------------------------------------------------------

    def update_batch(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return
        self.min_v = min(self.min_v, float(v.min()))
        self.max_v = max(self.max_v, float(v.max()))
        self._buf.append(v)
        if sum(len(b) for b in self._buf) >= _BUFFER_FACTOR * self.delta:
            self._flush()

    def merge(self, other: "TDigest") -> "TDigest":
        if self.delta != other.delta:
            raise ValueError("cannot merge t-digests with different delta")
        other._flush()
        self.min_v = min(self.min_v, other.min_v)
        self.max_v = max(self.max_v, other.max_v)
        if len(other.means):
            self.means = np.concatenate([self.means, other.means])
            self.weights = np.concatenate([self.weights, other.weights])
        self._flush()
        return self

    # -- queries --------------------------------------------------------------------------

    def quantile(self, q: float) -> float:
        self._flush()
        if len(self.means) == 0:
            return float("nan")
        if q <= 0.0:
            return self.min_v
        if q >= 1.0:
            return self.max_v
        m, w = self.means, self.weights
        total = w.sum()
        target = q * total
        # cumulative weight at each centroid's center
        cum = np.cumsum(w) - w / 2.0
        if target <= cum[0]:
            lo_w = w[0] / 2.0
            frac = target / lo_w if lo_w > 0 else 0.0
            return float(self.min_v + (m[0] - self.min_v) * min(frac, 1.0))
        if target >= cum[-1]:
            hi_w = w[-1] / 2.0
            frac = (target - cum[-1]) / hi_w if hi_w > 0 else 0.0
            return float(m[-1] + (self.max_v - m[-1]) * min(frac, 1.0))
        idx = int(np.searchsorted(cum, target, side="right")) - 1
        span = cum[idx + 1] - cum[idx]
        frac = (target - cum[idx]) / span if span > 0 else 0.0
        return float(m[idx] + (m[idx + 1] - m[idx]) * frac)

    def quantiles(self, qs) -> np.ndarray:
        return np.array([self.quantile(q) for q in qs])

    def cdf(self, x: float) -> float:
        self._flush()
        if len(self.means) == 0:
            return float("nan")
        if x < self.min_v:
            return 0.0
        if x >= self.max_v:
            return 1.0
        m, w = self.means, self.weights
        total = w.sum()
        cum = np.cumsum(w) - w / 2.0
        idx = int(np.searchsorted(m, x, side="right")) - 1
        if idx < 0:
            return float(cum[0] / total * (x - self.min_v) / max(m[0] - self.min_v, 1e-300))
        if idx >= len(m) - 1:
            base = cum[-1]
            return float(
                min(1.0, (base + (x - m[-1]) / max(self.max_v - m[-1], 1e-300) * w[-1] / 2.0) / total)
            )
        span = m[idx + 1] - m[idx]
        frac = (x - m[idx]) / span if span > 0 else 0.0
        return float((cum[idx] + frac * (cum[idx + 1] - cum[idx])) / total)

    # -- codec -----------------------------------------------------------------------------

    def to_bytes(self) -> bytes:
        self._flush()
        head = pack_header(KIND_TDIGEST, 0, 0)
        meta = struct.pack("<dddI", self.delta, self.min_v, self.max_v, len(self.means))
        return head + meta + self.means.tobytes() + self.weights.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "TDigest":
        _, _, payload = unpack_header(blob, KIND_TDIGEST)
        r = PayloadReader(payload)
        delta, min_v, max_v, n_c = r.unpack("<dddI")
        means = r.array(np.float64, n_c).copy()
        weights = r.array(np.float64, n_c).copy()
        r.end()
        return cls(delta=delta, means=means, weights=weights, min_v=min_v, max_v=max_v)

    @staticmethod
    def merge_blobs(blobs, delta: float = 200.0) -> "TDigest":
        """Merge serialized digests in CANONICAL (bytewise-sorted) order:
        the t-digest recompression sweep is fully deterministic (no RNG), so
        a canonical merge order makes the result a pure function of the blob
        MULTISET — any permutation of the same partials yields byte-identical
        output."""
        out = TDigest.empty(delta)
        for b in sorted(bytes(b) for b in blobs if b is not None):
            out.merge(TDigest.from_bytes(b))
        return out
