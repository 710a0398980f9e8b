"""Drop-in emulation of the reference `HyperLogLog` class surface.

A user of the reference extension (``from HLL import HyperLogLog``) can
switch to ``from sketchlib.compat import HyperLogLog`` and keep their code:
same constructor signature (src/hll.c:694-771), same method set
(src/hll.c:1000-1032), same pickle round-trip semantics. ``sparse=True``
(the reference default) runs HllSketch's real sparse lifecycle — buffered
register updates flushed on read or when the buffer fills
(src/hll.c:315-507), and the sparse→dense transform at
``max_sparse_list_size`` (src/hll.c:409-455, 513-524) — including the
reference quirk that ``add()`` returns False for every sparse-mode call
(setRegister returns 0 on the sparse branch, src/hll.c:513-545).
Estimates, hashes, register contents and merge results are bit-identical
to the reference (tests/test_reference_live locks that for the core, in
both representations; test_compat locks this shim).
"""

from __future__ import annotations

import sys

import numpy as np

from .hll import HllSketch

_HLL_VERSION = "2.3.0"  # reference version whose semantics we match (setup.py)


class HyperLogLog:
    """Reference-API shim over :class:`sketchlib.hll.HllSketch`."""

    def __init__(
        self,
        p: int = 12,
        seed: int = 314,
        sparse: bool = True,
        max_sparse_list_size: int = 0,
        max_sparse_buffer_size: int = 0,
    ):
        self._sketch = HllSketch(
            p=int(p),
            seed=int(seed),
            sparse=bool(sparse),
            max_sparse_list_size=int(max_sparse_list_size),
            max_sparse_buffer_size=int(max_sparse_buffer_size),
        )
        self._added = 0
        # remembered so _get_meta reports sizing even for sparse=False ctors
        if max_sparse_list_size > 0:
            self._max_list_size = int(max_sparse_list_size)
        else:
            # reference default sizing (src/hll.c:729-744)
            default = (1 << int(p)) // 4
            if default > (1 << 20):
                self._max_list_size = 1 << 20
            elif default <= 4:
                self._max_list_size = 2
            else:
                self._max_list_size = default
        if max_sparse_buffer_size > 0:
            self._max_buffer_size = int(max_sparse_buffer_size)
        else:
            self._max_buffer_size = min(self._max_list_size // 2, 200_000)

    # -- reference methods (src/hll.c:1000-1032) ------------------------------

    def add(self, value) -> bool:
        """Add a str/bytes/buffer element; True iff a register grew —
        except in sparse mode, where the reference always returns False
        (the buffered set can't report growth, src/hll.c:513-545)."""
        self._added += 1
        was_sparse = self._sketch.is_sparse
        changed = self._sketch.add(value)
        return changed and not was_sparse

    def cardinality(self) -> int:
        return self._sketch.cardinality()

    def merge(self, other: "HyperLogLog") -> None:
        """In-place merge; the other object is unaffected (returns None,
        exactly like the reference). ``added`` grows by the number of
        registers the merge actually updated: the reference's merge loop
        (src/hll.c:795-811) calls setRegister only where other > self, and
        setRegister increments the counter once per call (src/hll.c:516)."""
        a, b = self._sketch, other._sketch
        if not a.is_sparse and not b.is_sparse:
            self._added += int((b.registers > a.registers).sum())
        else:
            # other's nonzero registers that beat self's current value,
            # whatever representation each side is in — fully vectorized
            # (a scalar get_register loop here is O(nnz) interpreted Python)
            if b.is_sparse:
                b._flush_buffer()
                b_idx, b_val = b.sparse_indices, b.sparse_ranks
            else:
                b_idx = np.flatnonzero(b.registers != 0)
                b_val = b.registers[b_idx]
            if a.is_sparse:
                a._flush_buffer()
                pos = np.searchsorted(a.sparse_indices, b_idx)
                safe = np.minimum(pos, max(len(a.sparse_indices) - 1, 0))
                cur = np.zeros(len(b_idx), dtype=np.uint8)
                if len(a.sparse_indices):
                    hit = (pos < len(a.sparse_indices)) & (
                        a.sparse_indices[safe] == b_idx
                    )
                    cur[hit] = a.sparse_ranks[safe[hit]]
            else:
                cur = a.registers[b_idx]
            self._added += int((b_val > cur).sum())
        a.merge(b)

    def hash(self, value) -> int:
        return self._sketch.hash(value)

    def seed(self) -> int:
        return self._sketch.seed

    def size(self) -> int:
        return self._sketch.size

    def get_register(self, i: int) -> int:
        return self._sketch.get_register(i)

    def _histogram(self) -> list[int]:
        return [int(x) for x in self._sketch.histogram()]

    def _get_meta(self) -> dict:
        """Reference debug-metadata dict (src/hll.c:569-591): same keys;
        list/buffer/sparse fields report the live representation state
        (cache fields report 0 — estimates are never cached here)."""
        v = sys.version_info
        sk = self._sketch
        return {
            "added": self._added,
            "list_size": len(sk.sparse_indices) if sk.is_sparse else 0,
            "buffer_size": len(sk._pending) if sk.is_sparse else 0,
            "cache": 0,
            "is_cached": 0,
            "is_sparse": int(sk.is_sparse),
            "max_list_size": self._max_list_size,
            # the reference reports maxListSize under both keys (src/hll.c:586)
            "max_buffer_size": self._max_list_size,
            "node_cache_index": 0,
            "node_cache_value": 0,
            "py_version": f"{v.major}.{v.minor}.{v.micro}",
            "hll_version": _HLL_VERSION,
        }

    # -- pickle (reference __reduce__/__setstate__, src/hll.c:826-985) --------

    def __getstate__(self) -> dict:
        return {
            "blob": self._sketch.to_bytes(),
            "added": self._added,
            # live representation flag, like the reference pickle's isSparse
            # field (src/hll.c:826-909)
            "is_sparse": int(self._sketch.is_sparse),
            "max_list_size": self._max_list_size,
            "max_buffer_size": self._max_buffer_size,
        }

    def __setstate__(self, state: dict) -> None:
        sk = HllSketch.from_bytes(state["blob"])
        if state["is_sparse"] and not sk.is_sparse:
            # the blob codec is representation-agnostic (decodes dense at
            # dense-representable p); restore the pickled sparse mode like
            # the reference's __setstate__ (src/hll.c:915-985)
            sp = HllSketch(
                p=sk.p,
                seed=sk.seed,
                sparse=True,
                max_sparse_list_size=state["max_list_size"],
                max_sparse_buffer_size=state["max_buffer_size"],
            )
            nz = np.flatnonzero(sk.registers != 0)
            sp._sparse_update(nz, sk.registers[nz])
            sk = sp
        self._sketch = sk
        self._added = state["added"]
        self._max_list_size = state["max_list_size"]
        self._max_buffer_size = state["max_buffer_size"]
