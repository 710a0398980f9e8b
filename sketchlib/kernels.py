"""Vectorized numpy kernels shared by all sketches.

Semantics anchor: the reference MurmurHash64A (``lib/murmur2.c:18-59``) and
the HLL index/rank split (``src/hll.c:639-641``). The code here is a
from-scratch numpy implementation of the *published* MurmurHash64A algorithm
(Austin Appleby, public domain), bit-identical to the reference on golden
vectors (FIXTURES.md §3.1).

One path per decision:
- ``murmur64a(values, kind, seed)`` is the only place a ``value_kind`` picks
  its hash (int32/tokens, int64, Arrow strings); ``hash_pair`` derives the
  odd-h2 double hash that count-min and Bloom probe with.
- ``hll_build_into`` is the one HLL batch kernel: per cache-sized window,
  ``hll_index_rank(murmur64a(...))`` then one ``np.maximum.at`` into a flat
  register array, grouped or not, for every kind and every dense p.
- ``vclz64`` is an *exact* count-leading-zeros. Never float ``log2`` on a
  raw uint64: it is off by one at 2^k boundaries, which breaks bit-parity
  with the reference.

Every kernel works on a whole Arrow batch at once; there is no per-row
Python in the hot path.
"""

from __future__ import annotations

import numpy as np

_M64 = np.uint64(0xC6A4A7935BD1E995)
_R47 = np.uint64(47)
_MASK64 = (1 << 64) - 1

DEFAULT_SEED = 314  # reference default, src/hll.c:701


def murmur64a_int32(tokens: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    """MurmurHash64A of each int32 token's 4-byte little-endian encoding.

    Bit-identical to reference ``hll.hash(struct.pack('<i', t))`` for every t
    (golden vectors in FIXTURES.md §3.1). For a 4-byte key the algorithm has
    no 8-byte block loop — only the tail xor (the uint32 bit pattern of the
    token) followed by one multiply and the final avalanche.
    """
    t = np.ascontiguousarray(tokens, dtype=np.int32)
    h0 = np.uint64((seed ^ (4 * 0xC6A4A7935BD1E995)) & _MASK64)
    h = h0 ^ t.view(np.uint32).astype(np.uint64)
    h *= _M64
    h ^= h >> _R47
    h *= _M64
    h ^= h >> _R47
    return h


def murmur64a_int64(values: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    """MurmurHash64A of each int64 value's 8-byte little-endian encoding.

    One full 8-byte block, no tail. Used for 64-bit keys (e.g. user ids).
    """
    v = np.ascontiguousarray(values, dtype=np.int64)
    k = v.view(np.uint64).copy()
    k *= _M64
    k ^= k >> _R47
    k *= _M64
    h = np.uint64((seed ^ ((8 * 0xC6A4A7935BD1E995) & _MASK64)) & _MASK64) ^ k
    h *= _M64
    # block loop ends; avalanche
    h ^= h >> _R47
    h *= _M64
    h ^= h >> _R47
    return h


def murmur64a_bytes(data: bytes | str, seed: int = DEFAULT_SEED) -> int:
    """Scalar MurmurHash64A over arbitrary bytes (parity with reference

    ``hash(str|bytes)``, src/hll.c:682-691). str is UTF-8 encoded, matching
    CPython's ``s#`` argument parsing of str objects.
    """
    if isinstance(data, str):
        data = data.encode("utf-8")
    m = 0xC6A4A7935BD1E995
    h = (seed ^ ((len(data) * m) & _MASK64)) & _MASK64
    nblocks = len(data) // 8
    for i in range(nblocks):
        k = int.from_bytes(data[i * 8 : i * 8 + 8], "little")
        k = (k * m) & _MASK64
        k ^= k >> 47
        k = (k * m) & _MASK64
        h ^= k
        h = (h * m) & _MASK64
    tail = data[nblocks * 8 :]
    if tail:
        h ^= int.from_bytes(tail, "little")
        h = (h * m) & _MASK64
    h ^= h >> 47
    h = (h * m) & _MASK64
    h ^= h >> 47
    return h


def murmur64a_varlen(offsets: np.ndarray, data: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Vectorized MurmurHash64A over variable-length byte strings laid out

    Arrow-style: ``data`` is the concatenated utf8/byte buffer, ``offsets``
    (n+1 entries) delimits each key. Block loops are vectorized by iterating
    block INDEX (few per key for word-sized keys) and gathering each round's
    8-byte blocks for all still-active keys at once. Bit-identical to
    :func:`murmur64a_bytes` (property-tested).
    """
    offs = np.asarray(offsets, dtype=np.int64)
    data = np.asarray(data, dtype=np.uint8)
    n = len(offs) - 1
    lens = (offs[1:] - offs[:-1]).astype(np.uint64)
    h = (np.uint64(seed) ^ (lens * _M64)).astype(np.uint64)
    nblocks = (lens >> np.uint64(3)).astype(np.int64)
    starts = offs[:-1]
    max_blocks = int(nblocks.max()) if n else 0
    for blk in range(max_blocks):
        mask = nblocks > blk
        idx = (starts[mask] + blk * 8)[:, None] + np.arange(8)
        k = np.ascontiguousarray(data[idx]).view(np.uint64)[:, 0].copy()
        k *= _M64
        k ^= k >> _R47
        k *= _M64
        hm = h[mask]
        hm ^= k
        hm *= _M64
        h[mask] = hm
    tlens = (lens & np.uint64(7)).astype(np.int64)
    tmask = tlens > 0
    if tmask.any():
        tstarts = starts[tmask] + nblocks[tmask] * 8
        cols = np.arange(7)
        idx = np.minimum(tstarts[:, None] + cols, len(data) - 1)
        raw = data[idx].astype(np.uint64)
        valid = cols[None, :] < tlens[tmask][:, None]
        shifts = (np.uint64(8) * np.arange(7, dtype=np.uint64))[None, :]
        t = np.where(valid, raw << shifts, np.uint64(0)).sum(axis=1, dtype=np.uint64)
        hm = h[tmask]
        hm ^= t
        hm *= _M64
        h[tmask] = hm
    h ^= h >> _R47
    h *= _M64
    h ^= h >> _R47
    return h


def murmur64a_str_array(values, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Vectorized MurmurHash64A over string keys.

    Accepts a pyarrow String/Binary Array (zero-copy buffer path — the hot
    path for string-key sketches) or any iterable of str/bytes (scalar
    fallback). Identical output to :func:`murmur64a_bytes` per key.
    """
    try:
        import pyarrow as pa

        if isinstance(values, pa.ChunkedArray):
            values = values.combine_chunks()
        if isinstance(values, pa.Array):
            t = values.type
            small = pa.types.is_string(t) or pa.types.is_binary(t)
            large = pa.types.is_large_string(t) or pa.types.is_large_binary(t)
            if small or large:
                if values.null_count:
                    values = values.drop_null()
                obuf = np.frombuffer(
                    values.buffers()[1], dtype=np.int64 if large else np.int32
                )
                offsets = obuf[values.offset : values.offset + len(values) + 1]
                data = np.frombuffer(values.buffers()[2], dtype=np.uint8)
                return murmur64a_varlen(offsets, data, seed)
    except ImportError:
        pass
    out = np.empty(len(values), dtype=np.uint64)
    for i, v in enumerate(values):
        out[i] = murmur64a_bytes(v, seed)
    return out


def murmur64a(values, kind: str, seed: int = DEFAULT_SEED) -> np.ndarray:
    """MurmurHash64A of a batch of one value kind: the one place a
    ``value_kind`` picks its hash. ``tokens``/``int32`` hash 4-byte and
    ``int64`` 8-byte little-endian encodings; ``string`` hashes the UTF-8
    bytes of a pyarrow string array (or an iterable of str/bytes)."""
    if kind in ("tokens", "int32"):
        return murmur64a_int32(values, seed)
    if kind == "int64":
        return murmur64a_int64(values, seed)
    if kind == "string":
        return murmur64a_str_array(values, seed)
    raise ValueError(f"unsupported kind {kind!r}")


_H2_SEED_XOR = 0x9E3779B97F4A7C15  # golden-ratio constant, second hash family


def hash_pair(values, kind: str, seed: int = DEFAULT_SEED) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) for Kirsch–Mitzenmacher double hashing, g_j = h1 + j*h2:
    h2 is a second MurmurHash64A family (seed xor a golden-ratio constant)
    forced odd, so its multiples cycle through every slot of a power-of-two
    table. Count-min and Bloom probe with it."""
    seed2 = (seed ^ _H2_SEED_XOR) & _MASK64
    return murmur64a(values, kind, seed), murmur64a(values, kind, seed2) | np.uint64(1)


def vclz64(x: np.ndarray) -> np.ndarray:
    """Exact count-leading-zeros of each uint64; clz(0) == 64.

    Semantics of reference ``clz`` (src/hll.c:1107-1164) including the zero
    case. Method: smear the highest set bit downward, isolate it, convert to
    float64 (EXACT — a single set bit always converts exactly, unlike a raw
    uint64, which is why naive float log2 is banned), and read the IEEE
    exponent field directly from the bit pattern. Branch-free, no fancy
    indexing, no libm. Exhaustively tested at every bit boundary.
    """
    y = x.copy()
    y |= y >> np.uint64(1)
    y |= y >> np.uint64(2)
    y |= y >> np.uint64(4)
    y |= y >> np.uint64(8)
    y |= y >> np.uint64(16)
    y |= y >> np.uint64(32)
    top = y - (y >> np.uint64(1))  # isolated highest bit; 0 stays 0
    exp = top.astype(np.float64).view(np.uint64) >> np.uint64(52)  # biased exponent
    # nonzero: clz = 63 - (exp - 1023) = 1086 - exp ; zero: exp==0 -> 1086 -> clamp
    n = np.uint64(1086) - exp
    np.minimum(n, np.uint64(64), out=n)
    return n.astype(np.uint8)


def hll_index_rank(hashes: np.ndarray, p: int) -> tuple[np.ndarray, np.ndarray]:
    """Split 64-bit hashes into (register index, rank).

    index = top p bits; rank = clz(remaining 64-p bits) + 1, capped at
    64-p+1 (Ertl's convention) for the all-zero payload. The reference
    (src/hll.c:639-641) would emit rank 65 there, overflowing its 6-bit
    register — probability ≤ 2^-(64-p) per item; documented deviation
    (SURVEY.md §2A row 4 note).
    """
    q = 64 - p
    idx = (hashes >> np.uint64(q)).astype(np.int64)
    if q <= 52:
        # the q payload bits fit float64's 53-bit mantissa, so the uint->float
        # conversion is EXACT and the IEEE exponent field gives bit_length
        # directly: rank = q - bit_length(payload) + 1, capped at q+1 for
        # payload==0 (which lands exactly on the cap after the clamp).
        v = hashes & np.uint64((1 << q) - 1)
        exp = v.astype(np.float64).view(np.uint64) >> np.uint64(52)
        rank64 = np.uint64(q + 1023) - exp
        np.minimum(rank64, np.uint64(q + 1), out=rank64)
        return idx, rank64.astype(np.uint8)
    payload = hashes << np.uint64(p)
    rank = vclz64(payload) + np.uint8(1)
    np.minimum(rank, np.uint8(q + 1), out=rank)
    return idx, rank


def hll_build_into(
    flat_regs: np.ndarray,
    values,
    value_codes: np.ndarray | None,
    seed: int,
    p: int,
    kind: str = "int32",
    window: int = 1 << 15,
) -> None:
    """Hash + index/rank split + scatter-max of ``values`` into ``flat_regs``.

    ``flat_regs`` is the uint8 register array: 2^p for one sketch, or
    n_groups * 2^p with ``value_codes`` giving each value's group, which
    scatters to address ``code * 2^p + index``. Any ``kind`` that
    :func:`murmur64a` takes and any dense p (<= 26).

    ``values`` is processed in ``window``-element slices so each slice's
    temporaries (hashes, indices, ranks) stay cache-resident instead of
    streaming a whole batch's worth through the shared cache (PLANS.md §6).
    Results are byte-identical at any window size: scatter-max is
    associative and commutative.
    """
    n = len(values)
    for lo in range(0, n, window):
        hi = min(lo + window, n)
        idx, rank = hll_index_rank(murmur64a(values[lo:hi], kind, seed), p)
        if value_codes is not None:
            idx += value_codes[lo:hi].astype(np.int64) << p
        np.maximum.at(flat_regs, idx, rank)


def update_registers(registers: np.ndarray, idx: np.ndarray, rank: np.ndarray) -> None:
    """Scatter-max ``registers[idx] = max(registers[idx], rank)`` in place.

    ``np.ufunc.at`` got an indexed-loop fastpath in numpy 1.25+; measured at
    ~600M updates/s on uint8 registers here — 16x faster than a pack-sort-
    dedupe scheme and with far less memory traffic (one pass, no temporaries).
    """
    np.maximum.at(registers, idx, rank)


def rechunk_record_batches(batches, rows_cap: int = 1024):
    """Zero-copy re-chunking of Arrow RecordBatches into cache-resident
    pieces. Spark hands mapInArrow ~10k-row batches; for token-array rows
    the vectorized kernels' per-batch scratch then spills L2 into DRAM —
    measured on the 2.1B-token scaling job: 16384-row chunks -> 303M
    tokens/s at local[32], 1024 -> 552M. Shared by the partial builders
    (agg) and the shingle/MinHash/SimHash builders (dedup)."""
    for batch in batches:
        if batch.num_rows <= rows_cap:
            yield batch
        else:
            for off in range(0, batch.num_rows, rows_cap):
                yield batch.slice(off, rows_cap)
