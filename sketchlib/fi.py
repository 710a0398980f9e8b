"""Frequent-items sketch — Misra–Gries heavy hitters (Misra & Gries 1982,
merge rule from Agarwal et al. 2012, "Mergeable Summaries").

Eighth sketch in the family; same mergeable-sketch discipline as the rest
(SURVEY.md §2C): numpy state in flight, associative merge, versioned binary
blob at rest. Unlike CMS (the other frequency sketch) MG is HASH-FREE and
DETERMINISTIC: it retains at most ``capacity`` (item, count) pairs where
``count`` is a certified LOWER bound, plus one scalar ``error`` that bounds
every undercount. The guarantees are point-wise and two-sided::

    count(v) <= f(v) <= count(v) + error        for every item v
    error    <= N // (capacity + 1)             (N = total stream weight)

so any item with true frequency f(v) > error is GUARANTEED retained (no
false negatives above the error line) — the complement of CMS, whose point
estimates never UNDERcount but can overcount and which cannot enumerate its
own heavy hitters without a candidate stream.

Why the error bound survives merging: every trim that subtracts threshold
``t`` removes at least ``t * (capacity + 1)`` units of retained mass (the
(capacity+1)-th largest count is ``t``, so >= capacity+1 items lose ``t``
each), and total removable mass over the sketch's whole history — updates
AND merges — is N. Hence sum(thresholds) = error <= N / (capacity + 1)
regardless of how many sketches were merged in what order.

Determinism discipline (the library's byte-identity law, SURVEY.md §4.3):
updates keep EXACT counts until the retained set exceeds ``4 * capacity``
(so a task whose distinct item count stays under that is exact, error=0),
and ``merge_blobs`` accumulates ALL partials exactly before ONE final trim
— the merged sketch is a pure function of the partial multiset, independent
of merge order or tree topology (unlike textbook pairwise MG merging, where
intermediate trims make the result order-dependent).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from .codec import KIND_FI, PayloadReader, pack_header, unpack_header

_MODE_INT64 = 1
_MODE_STRING = 2


def _canonical_order(items: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """(count desc, item asc) permutation. Two stable argsorts instead of
    lexsort — object (string) item arrays sort via Python comparisons,
    which lexsort does not support."""
    o1 = np.argsort(items, kind="stable")
    o2 = np.argsort(-counts[o1], kind="stable")
    return o1[o2]


def _sum_by_unique(values: np.ndarray, weights: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact int64 (unique, summed-weight) — np.add.at, not bincount(weights=),
    whose float64 accumulator would round past 2^53."""
    uniq, inv = np.unique(values, return_inverse=True)
    summed = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(summed, inv, np.asarray(weights, dtype=np.int64))
    return uniq, summed


def _as_items(values, kind: str) -> np.ndarray:
    """Normalize an input batch to the sketch's item domain."""
    if kind in ("tokens", "int32", "int64"):
        return np.asarray(values, dtype=np.int64)
    if kind == "string":
        arr = np.asarray(values, dtype=object)
        return arr
    raise ValueError(f"unsupported kind {kind!r}")


@dataclass
class FrequentItemsSketch:
    """Bounded-size (item -> lower-bound count) summary with certified error.

    ``item_kind`` fixes the item domain at rest: "int64" (token ids and any
    integer keys) or "string". ``items``/``counts`` hold the retained pairs;
    ``error`` is the max undercount applied so far; ``total`` is N.
    """

    capacity: int = 256
    item_kind: str = "int64"
    items: np.ndarray = field(default=None, repr=False)  # type: ignore[assignment]
    counts: np.ndarray = field(default=None, repr=False)  # type: ignore[assignment]
    error: int = 0
    total: int = 0

    def __post_init__(self) -> None:
        if not (1 <= int(self.capacity) <= 1 << 24):
            raise ValueError(f"capacity={self.capacity} out of range [1, 2^24]")
        if self.item_kind not in ("int64", "string"):
            raise ValueError(f"item_kind must be 'int64' or 'string', got {self.item_kind!r}")
        self.capacity = int(self.capacity)
        self.error = int(self.error)
        self.total = int(self.total)
        if self.items is None:
            self.items = self._empty_items()
        else:
            self.items = np.asarray(
                self.items, dtype=np.int64 if self.item_kind == "int64" else object
            )
        if self.counts is None:
            self.counts = np.zeros(0, dtype=np.int64)
        self.counts = np.asarray(self.counts, dtype=np.int64)
        if len(self.items) != len(self.counts):
            raise ValueError("items/counts length mismatch")

    def _empty_items(self) -> np.ndarray:
        return (
            np.zeros(0, dtype=np.int64)
            if self.item_kind == "int64"
            else np.zeros(0, dtype=object)
        )

    @classmethod
    def empty(cls, capacity: int = 256, item_kind: str = "int64") -> "FrequentItemsSketch":
        return cls(capacity=capacity, item_kind=item_kind)

    # -- update -----------------------------------------------------------------

    @property
    def _trim_at(self) -> int:
        # exact until 4x over: keeps updates O(D log D) with bounded memory
        # while leaving small-domain tasks fully exact (error stays 0)
        return max(4 * self.capacity, self.capacity + 1)

    def _combine(self, new_items: np.ndarray, new_counts: np.ndarray) -> None:
        """Exact multiset-sum of (items, counts) into the retained arrays.

        Always reduces by unique: ``new_items`` may carry duplicates (e.g.
        merge_blobs concatenates pending partials, where the same item
        appears once per partial) — a skip-if-empty fast path here silently
        kept only one copy per item."""
        if len(self.items):
            new_items = np.concatenate([self.items, new_items])
            new_counts = np.concatenate([self.counts, new_counts])
        self.items, self.counts = _sum_by_unique(new_items, new_counts)

    def update_batch(self, values, kind: str = "int64", weights=None) -> None:
        """Fold a batch of items (optionally integer-weighted) into the sketch.

        Vectorized: one np.unique + bincount per batch, one exact combine
        with the retained arrays, one conditional trim. Never a per-element
        Python loop.
        """
        vals = _as_items(values, kind)
        if len(vals) == 0:
            return
        if weights is not None:
            weights = np.asarray(weights)
            if not np.issubdtype(weights.dtype, np.integer):
                raise TypeError(
                    f"weights must be an integer array (got {weights.dtype}); "
                    "round explicitly before updating"
                )
            if np.any(weights < 0):
                raise ValueError("weights must be non-negative")
            # exact int64 sum (np.add.at) — bincount(weights=)'s float64
            # accumulator would round past 2^53; zero-weight items are
            # dropped so they neither occupy retained slots nor perturb the
            # canonical bytes (a weight-0 sighting is no sighting)
            uniq, cnt = _sum_by_unique(vals, weights)
            keep = cnt > 0
            uniq, cnt = uniq[keep], cnt[keep]
            mass = int(cnt.sum())
            if len(uniq) == 0:
                self.total += mass
                return
        else:
            uniq, cnt = np.unique(vals, return_counts=True)
            cnt = cnt.astype(np.int64)
            mass = len(vals)
        self._combine(uniq, cnt)
        self.total += mass
        if len(self.items) > self._trim_at:
            self._trim(self.capacity)

    def _trim(self, cap: int) -> None:
        """Decrement-all by the (cap+1)-th largest count; drop non-positive.

        The classic MG step, batched: at most ``cap`` items survive (ties
        below the threshold all die; ties AT it may leave fewer than cap).
        Adds the threshold to ``error`` — the certified max undercount.
        """
        n = len(self.items)
        if n <= cap:
            return
        t = int(np.partition(self.counts, n - cap - 1)[n - cap - 1])
        keep = self.counts > t
        self.items = self.items[keep]
        self.counts = self.counts[keep] - t
        self.error += t

    # -- query ------------------------------------------------------------------

    def estimate_batch(self, values, kind: str = "int64") -> np.ndarray:
        """Lower-bound counts (0 for absent items). Upper bound = lower + error."""
        vals = _as_items(values, kind)
        out = np.zeros(len(vals), dtype=np.int64)
        if len(self.items) == 0 or len(vals) == 0:
            return out
        order = np.argsort(self.items, kind="stable")
        sitems, scounts = self.items[order], self.counts[order]
        pos = np.searchsorted(sitems, vals)
        pos = np.minimum(pos, len(sitems) - 1)
        hit = sitems[pos] == vals
        out[hit] = scounts[pos[hit]]
        return out

    def top_items(self, k: int | None = None) -> list[tuple]:
        """Retained (item, lower_bound) pairs, (count desc, item asc) order."""
        order = _canonical_order(self.items, self.counts)
        if k is not None:
            order = order[:k]
        return [(self.items[i], int(self.counts[i])) for i in order]

    # -- merge ------------------------------------------------------------------

    def _check(self, other: "FrequentItemsSketch") -> None:
        if (self.capacity, self.item_kind) != (other.capacity, other.item_kind):
            raise ValueError("cannot merge frequent-items sketches with different configs")

    def merge(self, other: "FrequentItemsSketch") -> "FrequentItemsSketch":
        """Pairwise merge: exact sum of retained pairs, error/total add,
        trim back to capacity only past the 4x exact threshold (Agarwal et
        al. 2012 §3, with update_batch's trim policy so merging stays exact
        for small domains). For topology-independent bulk merging use
        ``merge_blobs``."""
        self._check(other)
        self._combine(other.items.copy(), other.counts.copy())
        self.error += other.error
        self.total += other.total
        if len(self.items) > self._trim_at:
            self._trim(self.capacity)
        return self

    # -- codec ------------------------------------------------------------------

    def to_bytes(self) -> bytes:
        """Canonical at-rest form: (count desc, item asc) ordered — a pure
        function of the retained multiset, byte-identical for equal sketch
        states regardless of the in-memory accumulation history.

        Serializes the CURRENT retained set without trimming: update_batch
        keeps it <= 4*capacity and ``merge_blobs`` trims on finalize, so
        blobs stay O(capacity); an exact-regime sketch (error=0) stays exact
        at rest, and intermediate (salted stage-1) merge results can round-
        trip without a lossy trim — the property that makes the salted merge
        tree byte-identical to the unsalted one (see FiAggregator)."""
        order = _canonical_order(self.items, self.counts)
        items, counts = self.items[order], self.counts[order]
        mode = _MODE_INT64 if self.item_kind == "int64" else _MODE_STRING
        head = pack_header(KIND_FI, mode, 0)
        body = struct.pack("<IIqq", self.capacity, len(items), self.error, self.total)
        body += counts.tobytes()
        if self.item_kind == "int64":
            body += items.astype(np.int64).tobytes()
        else:
            encoded = [s.encode("utf-8") for s in items]
            offs = np.cumsum([0] + [len(e) for e in encoded]).astype(np.uint32)
            body += offs.tobytes() + b"".join(encoded)
        return head + body

    @classmethod
    def from_bytes(cls, blob: bytes) -> "FrequentItemsSketch":
        mode, _seed, payload = unpack_header(blob, KIND_FI)
        r = PayloadReader(payload)
        capacity, n, error, total = r.unpack("<IIqq")
        counts = r.array(np.int64, n).copy()
        if mode == _MODE_INT64:
            items = r.array(np.int64, n).copy()
            kind = "int64"
        elif mode == _MODE_STRING:
            offs = r.array(np.uint32, n + 1)
            raw = r.raw(offs[-1])
            items = np.array(
                [raw[offs[i] : offs[i + 1]].decode("utf-8") for i in range(n)],
                dtype=object,
            )
            kind = "string"
        else:
            raise ValueError(f"unknown frequent-items mode {mode}")
        r.end()
        return cls(
            capacity=capacity,
            item_kind=kind,
            items=items,
            counts=counts,
            error=error,
            total=total,
        )

    @staticmethod
    def merge_blobs(
        blobs, capacity: int, item_kind: str = "int64", *, trim: bool = True
    ) -> "FrequentItemsSketch":
        """Topology-independent bulk merge: accumulate every partial's
        retained pairs EXACTLY (periodic unique+bincount compaction, never a
        lossy intermediate trim), sum errors/totals, then ONE final trim to
        capacity — applied only past the 4x exact threshold, the same policy
        as update_batch, so (a) small-domain merges stay EXACT (error 0) and
        (b) a single-blob decode (the streaming state restore path) is an
        IDENTITY — streaming state bytes equal batch bytes. The result is a
        pure function of the blob multiset — the property the distributed
        merge stage needs for byte-deterministic results at any parallelism
        (same approach as KLL's canonical sorted-blob merges, SURVEY.md
        §4.3).

        ``trim=False`` skips the final trim: used for INTERMEDIATE (salted
        stage-1) merges, whose exact pair-union keeps the whole salted merge
        tree equal to one flat merge of all partials — the retained set is
        bounded by the stage's input pairs (#partials x capacity / fan-out),
        KBs on the wire."""
        out = FrequentItemsSketch.empty(capacity, item_kind)
        pend_i: list[np.ndarray] = []
        pend_c: list[np.ndarray] = []
        pending = 0
        for b in blobs:
            if b is None:
                continue
            s = FrequentItemsSketch.from_bytes(bytes(b))
            if (s.capacity, s.item_kind) != (capacity, item_kind):
                raise ValueError(
                    "cannot merge frequent-items sketches with different configs"
                )
            out.error += s.error
            out.total += s.total
            if len(s.items):
                pend_i.append(s.items)
                pend_c.append(s.counts)
                pending += len(s.items)
            # compact when the buffer is 4x the retained set (amortized
            # O(D log D) total); exactness is preserved — only the FINAL
            # trim below is lossy
            if pending > max(4 * len(out.items), 4 * capacity):
                out._combine(np.concatenate(pend_i), np.concatenate(pend_c))
                pend_i, pend_c, pending = [], [], 0
        if pending:
            out._combine(np.concatenate(pend_i), np.concatenate(pend_c))
        if trim and len(out.items) > out._trim_at:
            out._trim(capacity)
        return out
