"""Golden-vector parity for the hash/clz kernels (FIXTURES.md §3.1).

Golden values were captured from the built reference C extension
(ascv/HyperLogLog, lib/murmur2.c MurmurHash64A) hashing the 4-byte
little-endian encoding of each int32 token.
"""

import numpy as np
import pytest

from sketchlib.kernels import (
    hll_index_rank,
    murmur64a_bytes,
    murmur64a_int32,
    murmur64a_int64,
    update_registers,
    vclz64,
)

# FIXTURES.md §3.1 — token -> (hash@seed=314, hash@seed=0)
GOLDEN_INT32 = {
    0: (4050024411209805326, 6960269033020761575),
    1: (1327499423512206217, 17666132492028397833),
    2: (9009933024843493920, 253491741380333740),
    42: (16557664861075360107, 5448172522176930526),
    12345: (2811949428685878034, 15567257461240915579),
    2147483647: (14209282587304138425, 13426336580491720044),
    -1: (10378531208501560563, 6877762905250664532),
    -2147483648: (8655174204966252919, 1887120997060179682),
}


def test_murmur64a_int32_golden():
    toks = np.array(list(GOLDEN_INT32), dtype=np.int32)
    h314 = murmur64a_int32(toks, seed=314)
    h0 = murmur64a_int32(toks, seed=0)
    for i, t in enumerate(GOLDEN_INT32):
        assert int(h314[i]) == GOLDEN_INT32[t][0], f"token {t} seed=314"
        assert int(h0[i]) == GOLDEN_INT32[t][1], f"token {t} seed=0"


def test_murmur64a_bytes_matches_int32_on_packed_le():
    import struct

    for t in GOLDEN_INT32:
        assert murmur64a_bytes(struct.pack("<i", t), 314) == GOLDEN_INT32[t][0]


def test_murmur64a_bytes_str_is_utf8():
    assert murmur64a_bytes("abc", 314) == murmur64a_bytes(b"abc", 314)
    # multi-block + tail path
    data = b"the quick brown fox jumps over the lazy dog"
    assert murmur64a_bytes(data, 314) != murmur64a_bytes(data, 315)
    # 8-byte aligned (no tail) differs from 7-byte
    assert murmur64a_bytes(b"12345678", 314) != murmur64a_bytes(b"1234567", 314)


def test_murmur64a_int64_matches_bytes():
    import struct

    vals = np.array([0, 1, -1, 2**62, -(2**62), 987654321012345], dtype=np.int64)
    got = murmur64a_int64(vals, seed=314)
    for i, v in enumerate(vals.tolist()):
        assert int(got[i]) == murmur64a_bytes(struct.pack("<q", v), 314)


def test_vclz64_exact_everywhere():
    # every bit position, plus boundary neighbors (the float-log2 trap)
    xs, expect = [], []
    for b in range(64):
        for delta in (0, 1):
            v = (1 << b) + delta
            if v >> 64:
                continue
            xs.append(v)
            expect.append(64 - v.bit_length())
    xs.append(0)
    expect.append(64)
    xs.append((1 << 64) - 1)
    expect.append(0)
    got = vclz64(np.array(xs, dtype=np.uint64))
    assert got.tolist() == expect


def test_hll_index_rank_matches_scalar_definition():
    rng = np.random.default_rng(7)
    h = rng.integers(0, 2**64, size=5000, dtype=np.uint64)
    for p in (4, 12, 14):
        idx, rank = hll_index_rank(h, p)
        for j in (0, 1, 17, 4999):
            hv = int(h[j])
            assert int(idx[j]) == hv >> (64 - p)
            payload = (hv << p) & ((1 << 64) - 1)
            exp_rank = (64 - payload.bit_length() if payload else 64) + 1
            assert int(rank[j]) == min(exp_rank, 64 - p + 1)


@pytest.mark.parametrize("n", [1, 100, 2047, 2048, 50000])
def test_update_registers_equals_naive(n):
    rng = np.random.default_rng(n)
    p = 10
    idx = rng.integers(0, 1 << p, size=n).astype(np.int64)
    rank = rng.integers(1, 55, size=n).astype(np.uint8)
    fast = np.zeros(1 << p, dtype=np.uint8)
    update_registers(fast, idx, rank)
    naive = np.zeros(1 << p, dtype=np.uint8)
    np.maximum.at(naive, idx, rank)
    assert np.array_equal(fast, naive)


def test_varlen_string_hash_parity():
    """Arrow buffer-path string hashing == scalar murmur64a_bytes per key."""
    import pyarrow as pa

    from sketchlib.kernels import murmur64a_str_array

    rng = np.random.default_rng(3)
    keys = []
    for n in [0, 1, 3, 7, 8, 9, 15, 16, 17, 40, 100]:
        keys.append("x" * n)
    keys += ["héllo wörld", "日本語テキスト", "a b c", "\x00\x01bin"]
    keys += ["".join(chr(rng.integers(32, 1000)) for _ in range(rng.integers(0, 50))) for _ in range(200)]
    arr = pa.array(keys, type=pa.string())
    got = murmur64a_str_array(arr)
    for i, k in enumerate(keys):
        assert int(got[i]) == murmur64a_bytes(k, 314), (i, repr(k))
    # sliced arrays (non-zero arrow offset) and nulls
    arr2 = pa.array(keys[:10] + [None] + keys[10:], type=pa.string()).slice(3, 40)
    got2 = murmur64a_str_array(arr2)
    expect = [murmur64a_bytes(k, 314) for k in arr2.drop_null().to_pylist()]
    assert got2.tolist() == expect
    # list fallback still works
    got3 = murmur64a_str_array(keys[:5])
    assert got3.tolist() == [murmur64a_bytes(k, 314) for k in keys[:5]]


def test_hll_build_into_window_invariance():
    """The windowed build kernel must be byte-identical to the classic
    hash -> index/rank -> scatter-max pipeline at ANY window size
    (scatter-max is associative/commutative), for every value kind, for p
    on both sides of the exact-float split (p < 12 takes the vclz path),
    grouped and ungrouped."""
    import pyarrow as pa

    from sketchlib.kernels import hll_build_into, murmur64a_str_array

    rng = np.random.default_rng(41)
    seed = 314
    n = 100_001  # deliberately not a multiple of any window size
    ints = rng.integers(0, 500_000, n).astype(np.int32)
    cases = (
        ("int32", ints, murmur64a_int32),
        ("tokens", ints, murmur64a_int32),
        ("int64", rng.integers(0, 1 << 40, n).astype(np.int64), murmur64a_int64),
        ("string", pa.array([f"k{v}" for v in ints[:20_001]]), murmur64a_str_array),
    )
    for kind, vals, murmur in cases:
        codes = rng.integers(0, 7, len(vals)).astype(np.int32)
        for p in (4, 11, 13):
            m = 1 << p
            idx, rank = hll_index_rank(murmur(vals, seed), p)
            ref = np.zeros(m, dtype=np.uint8)
            update_registers(ref, idx, rank)
            for window in (1 << 10, 1 << 15, 1 << 20):
                got = np.zeros(m, dtype=np.uint8)
                hll_build_into(got, vals, None, seed, p, kind, window=window)
                assert np.array_equal(got, ref), (kind, p, window)
            # grouped: codes scatter into a (groups x m) flat matrix
            ref_g = np.zeros(7 * m, dtype=np.uint8)
            np.maximum.at(ref_g, codes.astype(np.int64) * m + idx, rank)
            got_g = np.zeros(7 * m, dtype=np.uint8)
            hll_build_into(got_g, vals, codes, seed, p, kind, window=1 << 14)
            assert np.array_equal(got_g, ref_g), (kind, p)
