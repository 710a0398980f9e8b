"""Shared at-rest binary codec for all sketches.

Every sketch serializes to a BinaryType cell as::

    magic u32 | version u16 | kind u8 | p u8 | seed u64 (little-endian)
    + kind-specific payload

This replaces the reference's pickle protocol (src/hll.c:826-985) with an
explicit, versioned, language-agnostic layout suitable for checkpoint tables
(SURVEY.md §3.4). Derivable state (histograms, caches) is never persisted.

Decoders read the payload through ``PayloadReader``, so every blob must be
exactly as long as its own fields say: a truncated or over-long blob raises
``ValueError`` instead of decoding garbage.

Each layout has exactly one parser, and every consumer (``from_bytes``,
``merge_blobs``, the batch decoders) folds that parser's output into its
target with the sketch's own merge operator: HLL takes the max, count-min
adds, Bloom ORs. ``from_bytes(b)`` is therefore ``merge_blobs([b])`` under
the blob's own config. The HLL layout's parser is ``hll.registers_from_blobs``,
which reads a whole batch of blobs at once; ``hll._read`` is its one-blob
form for ``from_bytes`` and ``merge_blobs`` (and for p > 26, which has no
register matrix), held to the same checks and results by
tests/test_properties.py. The same fold fixes what input the encoders never
write means: a sparse (index, value) list need not be sorted or unique,
and a repeated index folds by the merge law, exactly as if each entry
came from its own blob. A KMV value list folds the same way, to its
sorted distinct k smallest values. An index outside the sketch's grid raises
``ValueError`` (``checked_indices``), and so does an HLL rank above
64-p+1, in any encoding.
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = 0x534B4C53  # "SKLS"
VERSION = 1

KIND_HLL = 1
KIND_CMS = 2
KIND_BLOOM = 3
KIND_KLL = 4
KIND_TDIGEST = 5
KIND_KMV = 6
KIND_PROFILE = 7
KIND_FI = 8

_HEADER = struct.Struct("<IHBBq")  # magic, version, kind, p, seed
HEADER_LEN = _HEADER.size


def pack_header(kind: int, p: int, seed: int) -> bytes:
    return _HEADER.pack(MAGIC, VERSION, kind, p, seed)


def unpack_header(blob: bytes, expect_kind: int) -> tuple[int, int, bytes]:
    """Return (p, seed, payload); raises ValueError on corrupt/mismatched blobs."""
    if len(blob) < HEADER_LEN:
        raise ValueError(f"blob too short ({len(blob)} bytes) for sketch header")
    magic, version, kind, p, seed = _HEADER.unpack_from(blob, 0)
    if magic != MAGIC:
        raise ValueError(f"bad magic 0x{magic:08x}")
    if version != VERSION:
        raise ValueError(f"unsupported codec version {version}")
    if kind != expect_kind:
        raise ValueError(f"kind mismatch: blob has {kind}, expected {expect_kind}")
    return p, seed, blob[HEADER_LEN:]


def checked_indices(idx: np.ndarray, size: int) -> np.ndarray:
    """Sparse-entry positions as int64; ``ValueError`` unless every one lies
    in ``[0, size)``."""
    if len(idx):
        lo = int(idx.min()) if idx.dtype.kind == "i" else 0
        hi = int(idx.max())
        if lo < 0 or hi >= size:
            raise ValueError(f"sparse index range [{lo}, {hi}] outside a grid of {size} cells")
    return idx.astype(np.int64)


class PayloadReader:
    """Cursor over a sketch payload that enforces the exact-length rule.

    Every read raises ``ValueError`` when the payload is too short for it,
    and ``end()`` raises when bytes are left over once the decoder has read
    every field."""

    def __init__(self, payload: bytes):
        self._buf = payload
        self._off = 0

    def _advance(self, n: int) -> int:
        start = self._off
        if n < 0 or start + n > len(self._buf):
            raise ValueError(
                f"truncated sketch payload: field of {n} bytes at offset {start}, "
                f"payload is {len(self._buf)} bytes"
            )
        self._off = start + n
        return start

    def unpack(self, fmt: str) -> tuple:
        """struct-unpack the next ``struct.calcsize(fmt)`` bytes."""
        return struct.unpack_from(fmt, self._buf, self._advance(struct.calcsize(fmt)))

    def array(self, dtype, count: int) -> np.ndarray:
        """Read-only view of the next ``count`` items of ``dtype``."""
        dtype = np.dtype(dtype)
        start = self._advance(dtype.itemsize * int(count))
        return np.frombuffer(self._buf, dtype=dtype, count=int(count), offset=start)

    def raw(self, n: int) -> bytes:
        """The next ``n`` bytes."""
        start = self._advance(int(n))
        return self._buf[start : self._off]

    def end(self) -> None:
        """Raise unless the whole payload has been read."""
        if self._off != len(self._buf):
            raise ValueError(
                f"{len(self._buf) - self._off} trailing bytes after sketch payload"
            )
