"""Property-based tests (hypothesis): the algebraic laws hold for arbitrary

inputs, not just the fixtures."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sketchlib.bloom import BloomFilter
from sketchlib.cms import CountMinSketch
from sketchlib.hll import HllSketch
from sketchlib.kernels import murmur64a_bytes, murmur64a_int32, murmur64a_int64

token_lists = st.lists(st.integers(-(2**31), 2**31 - 1), min_size=0, max_size=300)


@given(st.integers(-(2**31), 2**31 - 1), st.integers(0, 2**32 - 1))
@settings(max_examples=200, deadline=None)
def test_vector_hash_equals_bytes_hash(token, seed):
    vec = int(murmur64a_int32(np.array([token], dtype=np.int32), seed)[0])
    assert vec == murmur64a_bytes(struct.pack("<i", token), seed)


@given(st.integers(-(2**63), 2**63 - 1))
@settings(max_examples=100, deadline=None)
def test_int64_hash_equals_bytes_hash(v):
    vec = int(murmur64a_int64(np.array([v], dtype=np.int64), 314)[0])
    assert vec == murmur64a_bytes(struct.pack("<q", v), 314)


@given(token_lists, token_lists, token_lists)
@settings(max_examples=30, deadline=None)
def test_hll_merge_laws(a, b, c):
    def sk(toks):
        s = HllSketch.empty(8)
        s.update_batch(np.array(toks, dtype=np.int32))
        return s

    sa, sb, sc = sk(a), sk(b), sk(c)
    assert np.array_equal(((sa | sb) | sc).registers, (sa | (sb | sc)).registers)
    assert np.array_equal((sa | sb).registers, (sb | sa).registers)
    assert np.array_equal((sa | sa).registers, sa.registers)
    whole = sk(a + b)
    assert np.array_equal((sa | sb).registers, whole.registers)


@given(token_lists)
@settings(max_examples=30, deadline=None)
def test_hll_codec_roundtrip_any_fill(toks):
    s = HllSketch.empty(10, seed=7)
    s.update_batch(np.array(toks, dtype=np.int32))
    r = HllSketch.from_bytes(s.to_bytes())
    assert np.array_equal(r.registers, s.registers)
    assert (r.p, r.seed) == (10, 7)


@given(token_lists)
@settings(max_examples=30, deadline=None)
def test_cms_never_undercounts(toks):
    s = CountMinSketch.empty(8, 3)
    arr = np.array(toks, dtype=np.int32)
    s.update_batch(arr)
    if len(arr):
        uniq, cnt = np.unique(arr, return_counts=True)
        est = s.query_batch(uniq)
        assert (est >= cnt.astype(np.uint64)).all()
    assert s.total == len(arr)


@given(token_lists, token_lists)
@settings(max_examples=30, deadline=None)
def test_bloom_union_and_no_false_negatives(a, b):
    fa, fb = BloomFilter.empty(10, 3), BloomFilter.empty(10, 3)
    fa.update_batch(np.array(a, dtype=np.int32))
    fb.update_batch(np.array(b, dtype=np.int32))
    whole = BloomFilter.empty(10, 3)
    whole.update_batch(np.array(a + b, dtype=np.int32))
    fa.merge(fb)
    assert np.array_equal(fa.bits, whole.bits)
    if a:
        assert whole.contains_batch(np.array(a, dtype=np.int32)).all()


ragged_docs = st.lists(
    st.lists(st.integers(-(2**31), 2**31 - 1), min_size=0, max_size=40),
    min_size=1,
    max_size=25,
)


@given(ragged_docs, st.sampled_from([2, 3, 5]))
@settings(max_examples=40, deadline=None)
def test_shingles_flat_equals_per_doc(docs, n):
    from sketchlib.minhash import shingles_flat, token_shingles

    arrs = [np.array(d, dtype=np.int64) for d in docs]
    flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
    lengths = np.array([len(d) for d in arrs], dtype=np.int64)
    got_e, got_c = shingles_flat(flat, lengths, n)
    exp_e = np.concatenate([token_shingles(a, n) for a in arrs])
    exp_c = np.concatenate(
        [np.full(len(token_shingles(a, n)), i, np.int64) for i, a in enumerate(arrs)]
    )
    assert np.array_equal(got_e, exp_e) and np.array_equal(got_c, exp_c)


@given(ragged_docs)
@settings(max_examples=25, deadline=None)
def test_simhash_batch_equals_per_doc(docs):
    from sketchlib.minhash import (
        shingles_flat,
        simhash64,
        simhash64_batch,
        token_shingles,
    )

    arrs = [np.array(d, dtype=np.int64) for d in docs]
    flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
    lengths = np.array([len(d) for d in arrs], dtype=np.int64)
    e, c = shingles_flat(flat, lengths, 2)
    got = simhash64_batch(e, c, len(arrs), seed=314)
    for i, a in enumerate(arrs):
        assert int(got[i]) == simhash64(token_shingles(a, 2), seed=314)


@given(st.lists(st.integers(0, 2**31 - 1), min_size=0, max_size=300))
@settings(max_examples=30, deadline=None)
def test_packed6_roundtrip_any_fill(toks):
    s = HllSketch.empty(8)
    s.update_batch(np.array(toks, dtype=np.int32))
    r = HllSketch.from_bytes(s.to_bytes(mode="packed6"))
    assert np.array_equal(r.registers, s.registers)


@given(
    st.lists(token_lists, min_size=1, max_size=8),
    st.sampled_from([16, 64, 128]),
    st.integers(0, 2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_minhash_blob_batch_codec_roundtrip(docs, k, seed):
    """encode_minhash_blobs / decode_minhash_blobs / band_keys_batch are
    byte-faithful to the per-row paths for ARBITRARY signatures."""
    from sketchlib.minhash import (
        MinHashSketch,
        band_keys,
        band_keys_batch,
        decode_minhash_blobs,
        encode_minhash_blobs,
        token_shingles,
    )

    sigs = []
    for toks in docs:
        s = MinHashSketch.empty(k, seed=seed)
        s.update_elements(token_shingles(np.array(toks, dtype=np.int64)))
        sigs.append(s.sig)
    sigs = np.stack(sigs)
    blobs = encode_minhash_blobs(sigs, seed=seed)
    expected = [MinHashSketch(k=k, seed=seed, sig=sigs[i]).to_bytes() for i in range(len(docs))]
    assert blobs.to_pylist() == expected
    dec, kk, ss = decode_minhash_blobs(blobs.to_pylist())
    assert (kk, ss) == (k, seed) and np.array_equal(dec, sigs)
    bands = 16 if k % 16 == 0 else 8
    bk = band_keys_batch(sigs, bands)
    for i in range(len(docs)):
        assert np.array_equal(bk[i], band_keys(sigs[i], bands))


@given(
    st.lists(st.lists(st.floats(-1e6, 1e6), min_size=1, max_size=400), min_size=1, max_size=6)
)
@settings(max_examples=20, deadline=None)
def test_kll_merge_permutation_invariant_any_data(parts):
    """Canonical sorted-blob merges: any permutation of the same KLL partials
    yields byte-identical output, for arbitrary float data."""
    from sketchlib.kll import KllSketch

    blobs = []
    for vals in parts:
        s = KllSketch.empty(64)
        s.update_batch(np.array(vals, dtype=np.float64))
        blobs.append(s.to_bytes())
    ref = KllSketch.merge_blobs(blobs, 64).to_bytes()
    assert KllSketch.merge_blobs(list(reversed(blobs)), 64).to_bytes() == ref


@given(token_lists, token_lists, token_lists)
@settings(max_examples=30, deadline=None)
def test_kmv_merge_laws(a, b, c):
    from sketchlib.kmv import KmvSketch

    def sk(toks):
        s = KmvSketch.empty(64)
        s.update_batch(np.array(toks, dtype=np.int32))
        return s

    ab_c = sk(a).merge(sk(b)).merge(sk(c))
    a_bc = sk(a).merge(sk(b).merge(sk(c)))
    c_ba = sk(c).merge(sk(b)).merge(sk(a))
    assert ab_c.to_bytes() == a_bc.to_bytes() == c_ba.to_bytes()  # assoc + comm
    # the sketch is a pure function of the SET: duplicates and order free
    whole = sk(list(a) + list(b) + list(c))
    assert whole.to_bytes() == ab_c.to_bytes()
    # idempotence + exactness below k
    aa = sk(a).merge(sk(a))
    assert aa.to_bytes() == sk(a).to_bytes()
    distinct = len(set(np.array(a, dtype=np.int32).tolist()))
    if distinct < 64:
        assert sk(a).estimate() == distinct


@given(token_lists)
@settings(max_examples=30, deadline=None)
def test_kmv_roundtrip_property(a):
    from sketchlib.kmv import KmvSketch

    s = KmvSketch.empty(32, seed=7)
    s.update_batch(np.array(a, dtype=np.int32))
    r = KmvSketch.from_bytes(s.to_bytes())
    assert r.to_bytes() == s.to_bytes()
    assert r.estimate() == s.estimate()


@given(token_lists, token_lists)
@settings(max_examples=30, deadline=None)
def test_profile_merge_hll_component_exact(a, b):
    from sketchlib.profile import ProfileSketch

    def sk(toks):
        s = ProfileSketch.empty(p=8, k=64)
        s.update_values(np.array(toks, dtype=np.int32))
        s.update_row_lengths(np.array([len(toks)], dtype=np.int64))
        return s

    m = sk(a).merge(sk(b))
    whole = ProfileSketch.empty(p=8, k=64)
    whole.update_values(np.array(list(a) + list(b), dtype=np.int32))
    assert np.array_equal(m.hll.registers, whole.hll.registers)
    assert m.kll.n == 2
    r = ProfileSketch.from_bytes(m.to_bytes())
    assert np.array_equal(r.hll.registers, m.hll.registers)
    assert r.kll.n == m.kll.n


@given(
    st.lists(
        st.lists(st.integers(-(2**31), 2**31 - 1), min_size=0, max_size=40),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=40, deadline=None)
def test_shingles_flat_equals_per_doc(docs):
    from sketchlib.minhash import shingles_flat, token_shingles

    flat = np.array([t for d in docs for t in d], dtype=np.int32)
    lengths = np.array([len(d) for d in docs], dtype=np.int64)
    fps, owner = shingles_flat(flat, lengths, n=3)
    # must be byte-identical to the per-doc rolling hash, in doc order
    expected = []
    exp_owner = []
    for i, d in enumerate(docs):
        per = token_shingles(np.array(d, dtype=np.int32), n=3)
        expected.extend(per.tolist())
        exp_owner.extend([i] * len(per))
    assert fps.tolist() == expected
    assert owner.tolist() == exp_owner


@given(
    st.lists(st.integers(0, 2**64 - 1), min_size=0, max_size=200, unique=True),
    st.integers(8, 4096),
)
@settings(max_examples=60, deadline=None)
def test_kmv_delta_codec_roundtrip_property(values, k):
    """Arbitrary sorted distinct uint64 value sets roundtrip exactly
    through BOTH encodings, and auto never exceeds raw."""
    from sketchlib.kmv import KmvSketch

    vals = np.array(sorted(values), dtype=np.uint64)[:k]
    s = KmvSketch(k=k, values=vals)
    for mode in (None, "raw", "delta"):
        r = KmvSketch.from_bytes(s.to_bytes(mode=mode))
        assert np.array_equal(r.values, s.values), mode
        assert (r.k, r.seed) == (s.k, s.seed)
    assert len(s.to_bytes()) <= len(s.to_bytes(mode="raw"))


@given(
    st.lists(st.integers(0, 2**64 - 1), min_size=1, max_size=64),
    st.lists(st.integers(0, 2**64 - 1), min_size=1, max_size=64),
)
@settings(max_examples=60, deadline=None)
def test_exact_dot_u64_property(xs, ys):
    """_exact_dot_u64 equals arbitrary-precision Python math for ANY
    uint64 vectors (the never-undercounts guarantee's foundation)."""
    n = min(len(xs), len(ys))
    x = np.array(xs[:n], dtype=np.uint64)
    y = np.array(ys[:n], dtype=np.uint64)
    assert CountMinSketch._exact_dot_u64(x, y) == sum(
        int(a) * int(b) for a, b in zip(x, y)
    )


@given(
    st.lists(
        st.tuples(st.integers(0, 2**32 - 1), st.integers(1, 2000)),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=30, deadline=None)
def test_registers_from_blobs_property(specs):
    """Batch blob decode reproduces per-row registers for sketches of
    arbitrary fill levels across all at-rest encodings."""
    from sketchlib.hll import registers_from_blobs

    rng = np.random.default_rng(1)
    sketches = []
    for seed_off, n_items in specs:
        s = HllSketch(p=10)
        s.update_batch(
            rng.integers(0, seed_off % 100_000 + 2, n_items).astype(np.int32)
        )
        sketches.append(s)
    for mode in ("dense", None, "packed6"):
        regs, p, _ = registers_from_blobs([s.to_bytes(mode=mode) for s in sketches])
        assert p == 10
        for i, s in enumerate(sketches):
            assert np.array_equal(regs[i], s.registers), (mode, i)


@given(
    st.lists(
        st.one_of(
            st.tuples(st.just("add"), st.integers(-(2**31), 2**31 - 1)),
            st.tuples(st.just("batch"), token_lists),
            st.tuples(st.just("merge"), token_lists),
        ),
        min_size=0,
        max_size=12,
    ),
    st.integers(2, 10),
    st.integers(0, 64),
    st.integers(0, 16),
)
@settings(max_examples=60, deadline=None)
def test_sparse_dense_equivalence_any_op_sequence(ops, p, max_list, max_buf):
    """The sparse-runtime sketch (buffered adds, flush-on-read, transform at
    max_sparse_list_size) is observationally identical to its dense twin
    under ARBITRARY interleavings of scalar adds, vectorized batches, and
    merges — any buffer/threshold sizing (0 = reference defaults)."""
    sp = HllSketch(
        p=p, sparse=True, max_sparse_list_size=max_list, max_sparse_buffer_size=max_buf
    )
    dn = HllSketch.empty(p)
    for kind, arg in ops:
        if kind == "add":
            sp.add(arg)
            dn.add(arg)
        elif kind == "batch":
            arr = np.array(arg, dtype=np.int32)
            sp.update_batch(arr)
            dn.update_batch(arr)
        else:
            osp = HllSketch(p=p, sparse=True)
            odn = HllSketch.empty(p)
            arr = np.array(arg, dtype=np.int32)
            osp.update_batch(arr)
            odn.update_batch(arr)
            # alternate which representation arrives as the merge operand
            sp.merge(odn if len(arg) % 2 else osp)
            dn.merge(odn)
    assert sp.cardinality() == dn.cardinality()
    assert sp.to_bytes() == dn.to_bytes()
    if sp.is_sparse:
        assert np.array_equal(sp._dense_registers(), dn.registers)
    else:
        assert np.array_equal(sp.registers, dn.registers)


def _codec_cases():
    """(name, blob builder from a token list, decoder) for every at-rest
    sketch encoding."""
    from sketchlib.fi import FrequentItemsSketch
    from sketchlib.kll import KllSketch
    from sketchlib.kmv import KmvSketch
    from sketchlib.minhash import MinHashSketch, token_shingles
    from sketchlib.profile import ProfileSketch
    from sketchlib.tdigest import TDigest

    def hll(mode, p=10):
        def build(arr):
            s = HllSketch.empty(p)
            s.update_batch(arr)
            return s.to_bytes(mode=mode)

        return build

    def cms(arr):
        s = CountMinSketch.empty(6, 3)
        s.update_batch(arr)
        return s.to_bytes()

    def bloom(arr):
        s = BloomFilter.empty(10, 3)
        s.update_batch(arr)
        return s.to_bytes()

    def kll(arr):
        s = KllSketch.empty(16)
        s.update_batch(arr.astype(np.float64))
        return s.to_bytes()

    def tdigest(arr):
        s = TDigest.empty(20.0)
        s.update_batch(arr.astype(np.float64))
        return s.to_bytes()

    def kmv(mode):
        def build(arr):
            s = KmvSketch.empty(16)
            s.update_batch(arr)
            return s.to_bytes(mode=mode)

        return build

    def fi(kind):
        def build(arr):
            s = FrequentItemsSketch.empty(8, kind)
            vals = arr.astype(np.int64) if kind == "int64" else [str(v) for v in arr]
            s.update_batch(vals, kind=kind)
            return s.to_bytes()

        return build

    def profile(arr):
        s = ProfileSketch.empty(p=8, k=16)
        s.update_values(arr)
        s.update_row_lengths(np.array([len(arr)]))
        return s.to_bytes()

    def minhash(arr):
        s = MinHashSketch.empty(16)
        s.update_elements(token_shingles(arr.astype(np.int64)))
        return s.to_bytes()

    return [
        ("hll_dense", hll("dense"), HllSketch.from_bytes),
        ("hll_sparse", hll("sparse"), HllSketch.from_bytes),
        ("hll_packed6", hll("packed6"), HllSketch.from_bytes),
        ("hll_sparse64", hll(None, p=30), HllSketch.from_bytes),
        ("cms", cms, CountMinSketch.from_bytes),
        ("bloom", bloom, BloomFilter.from_bytes),
        ("kll", kll, KllSketch.from_bytes),
        ("tdigest", tdigest, TDigest.from_bytes),
        ("kmv_raw", kmv("raw"), KmvSketch.from_bytes),
        ("kmv_delta", kmv("delta"), KmvSketch.from_bytes),
        ("fi_int64", fi("int64"), FrequentItemsSketch.from_bytes),
        ("fi_string", fi("string"), FrequentItemsSketch.from_bytes),
        ("profile", profile, ProfileSketch.from_bytes),
        ("minhash", minhash, MinHashSketch.from_bytes),
    ]


_CODEC_CASES = _codec_cases()


@given(
    st.sampled_from(_CODEC_CASES),
    token_lists,
    st.binary(min_size=1, max_size=16),
    st.integers(1, 1 << 16),
)
@settings(max_examples=300, deadline=None)
def test_decoders_reject_trailing_and_truncated_bytes(case, toks, extra, cut):
    """Every decoder consumes its payload exactly: a valid blob decodes, the
    same blob with bytes appended or cut off raises ValueError (not
    struct.error/IndexError, and never a silent decode of garbage)."""
    name, build, decode = case
    blob = build(np.array(toks, dtype=np.int32))
    decode(blob)
    with pytest.raises(ValueError):
        decode(blob + extra)
    with pytest.raises(ValueError):
        decode(blob[: len(blob) - min(cut, len(blob))])
