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


def _tuple_group_codes(batch, key_cols):
    """Oracle for multi-key ``_group_codes``: every row as a Python tuple,
    factorized by pandas in first-appearance order."""
    import pandas as pd

    tuples = pd.Series(list(zip(*[batch.column(k).to_pylist() for k in key_cols])))
    codes, uniques = pd.factorize(tuples, sort=False)
    return codes.astype(np.int64), list(uniques)


def _assert_group_codes_match_oracle(batch, key_cols):
    from sketchlib.agg import _group_codes

    codes, uniq = _group_codes(batch, key_cols)
    want_codes, want_uniq = _tuple_group_codes(batch, key_cols)
    assert codes.dtype == np.int64
    assert np.array_equal(codes, want_codes)
    # repr keeps what == hides: NaN vs NaN, -0.0 vs 0.0, True vs 1, tz
    assert repr(uniq) == repr(want_uniq)


def _key_kinds():
    import datetime as dt

    import pyarrow as pa

    berlin = dt.timezone(dt.timedelta(hours=1))
    stamps = [dt.datetime(2024, 1, 1, h, tzinfo=berlin) for h in (0, 1, 23)]
    return {
        "string": (pa.string(), st.sampled_from(["a", "b", "", "é"])),
        "int64": (pa.int64(), st.sampled_from([0, 1, -1, 2**62])),
        "float": (pa.float64(), st.sampled_from([0.0, -0.0, 1.5, float("nan"), float("inf")])),
        "timestamp": (pa.timestamp("us", tz="Europe/Berlin"), st.sampled_from(stamps)),
        "bool": (pa.bool_(), st.booleans()),
        "binary": (pa.binary(), st.sampled_from([b"", b"\x00", b"ab"])),
    }


_KEY_KINDS = _key_kinds()


@given(
    st.lists(st.sampled_from(sorted(_KEY_KINDS)), min_size=2, max_size=4),
    st.integers(1, 60),
    st.data(),
)
@settings(max_examples=150, deadline=None)
def test_group_codes_equal_tuple_oracle(kinds, n, data):
    """Vectorized multi-key group codes equal the row-tuple factorize, codes
    and unique key tuples alike, in value and order, for every key type mix
    with nulls (one group), NaN (one group) and -0.0 (grouped with 0.0)."""
    import pyarrow as pa

    cols = {}
    for j, kind in enumerate(kinds):
        typ, values = _KEY_KINDS[kind]
        vals = data.draw(st.lists(st.none() | values, min_size=n, max_size=n))
        cols[f"k{j}"] = pa.array(vals, type=typ)
    batch = pa.RecordBatch.from_pydict(cols)
    _assert_group_codes_match_oracle(batch, list(cols))


def test_group_codes_wide_keys_do_not_overflow():
    """Five key columns of 10^4 distinct values each: a one-shot mixed-radix
    code would need 10^20 > 2^63 slots, the folded code stays small."""
    import datetime as dt

    import pyarrow as pa

    rng = np.random.default_rng(7)
    d = 10_000
    perms = [rng.permutation(d) for _ in range(5)]
    order = np.concatenate([np.arange(d), rng.permutation(d)])  # each tuple twice
    epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    batch = pa.RecordBatch.from_pydict(
        {
            "a": pa.array(perms[0][order], pa.int64()),
            "b": pa.array([f"s{v}" for v in perms[1][order]]),
            "c": pa.array(perms[2][order] / 7.0),
            "d": pa.array(
                [epoch + dt.timedelta(hours=int(v)) for v in perms[3][order]],
                pa.timestamp("us", tz="UTC"),
            ),
            "e": pa.array(perms[4][order] - d // 2, pa.int64()),
        }
    )
    assert np.prod([float(len(set(c.to_pylist()))) for c in batch.columns]) > 2.0**63
    _assert_group_codes_match_oracle(batch, batch.schema.names)


@given(
    st.sampled_from(["int", "float", "string"]),
    st.integers(1, 6),
    st.lists(st.integers(0, 5), min_size=0, max_size=80),
    st.data(),
)
@settings(max_examples=150, deadline=None)
def test_group_slices_equal_mask_oracle(kind, n_groups, raw_codes, data):
    """``_group_slices`` hands each group exactly the values a boolean mask
    over the batch would, in batch order: numpy ints and floats and Arrow
    strings, groups with no values, and a single group."""
    import pyarrow as pa

    from sketchlib.agg import _group_slices

    codes = np.array([c % n_groups for c in raw_codes], dtype=np.int64)
    n = len(codes)
    draw = lambda elems: data.draw(st.lists(elems, min_size=n, max_size=n))  # noqa: E731
    if kind == "int":
        values = np.array(draw(st.integers(-(2**40), 2**40)), dtype=np.int64)
    elif kind == "float":
        values = np.array(draw(st.floats(allow_nan=False)), dtype=np.float64)
    else:
        values = pa.array(draw(st.text(max_size=4)), type=pa.string())
    slices = _group_slices(values, codes, n_groups)
    assert len(slices) == n_groups
    for g, got in enumerate(slices):
        mask = codes == g
        if kind == "string":
            assert isinstance(got, pa.Array)
            assert got.to_pylist() == values.filter(pa.array(mask)).to_pylist()
        else:
            assert got.dtype == values.dtype
            assert np.array_equal(got, values[mask])



def test_noncanonical_blobs_fold_by_the_merge_law():
    """Hand-built sparse blobs the encoders never write: a repeated index
    decodes exactly as the merge of one blob per entry (HLL max, count-min
    sum, Bloom OR, KMV union), through ``from_bytes`` and ``merge_blobs``
    alike; an index outside the grid and an HLL rank above 64-p+1 (sparse,
    dense or packed6) raise ValueError from every decoder."""
    import functools

    from sketchlib.codec import KIND_BLOOM, KIND_CMS, KIND_HLL, KIND_KMV, pack_header
    from sketchlib.hll import registers_from_blobs
    from sketchlib.kernels import DEFAULT_SEED
    from sketchlib.kmv import KmvSketch, values_from_blobs

    def sparse_blob(kind, p, field, count_fmt, idx_dtype, val_dtype=None):
        def build(entries):
            idx = np.array([i for i, _ in entries], dtype=idx_dtype)
            vals = np.array([v for _, v in entries], dtype=val_dtype or np.uint8)
            return (
                pack_header(kind, p, DEFAULT_SEED)
                + field
                + struct.pack(count_fmt, len(entries))
                + idx.tobytes()
                + (vals.tobytes() if val_dtype else b"")
            )

        return build

    cms_field = struct.pack("<H", 3 | 0x8000)  # depth 3, sparse flag
    bloom_field = struct.pack("<H", 3 | 0x8000)  # k 3, sparse flag
    cases = [
        # name, builder, from_bytes, merge_blobs at the blob's config, grid size, HLL p
        ("hll mode 1 p=10", sparse_blob(KIND_HLL, 10, b"\x01", "<I", "<u4", np.uint8),
         HllSketch.from_bytes, functools.partial(HllSketch.merge_blobs, p=10), 1 << 10, 10),
        ("hll mode 3 p=10", sparse_blob(KIND_HLL, 10, b"\x03", "<Q", "<i8", np.uint8),
         HllSketch.from_bytes, functools.partial(HllSketch.merge_blobs, p=10), 1 << 10, 10),
        ("hll mode 3 p=30", sparse_blob(KIND_HLL, 30, b"\x03", "<Q", "<i8", np.uint8),
         HllSketch.from_bytes, functools.partial(HllSketch.merge_blobs, p=30), 1 << 30, 30),
        ("cms", sparse_blob(KIND_CMS, 6, cms_field, "<I", "<u8", "<u8"), CountMinSketch.from_bytes,
         functools.partial(CountMinSketch.merge_blobs, width_log2=6, depth=3), 3 << 6, None),
        ("bloom", sparse_blob(KIND_BLOOM, 10, bloom_field, "<I", "<u8"), BloomFilter.from_bytes,
         functools.partial(BloomFilter.merge_blobs, m_log2=10, k=3), 1 << 10, None),
    ]
    for name, build, decode, merge, size, p in cases:
        decoders = [decode, lambda b, merge=merge: merge([b])]
        if p == 10:
            decoders.append(lambda b: registers_from_blobs([b]))
        # index 5 twice, larger value first: "last write wins" would differ
        entries = [(5, 7), (size - 1, 2), (5, 3)]
        want = merge([build([e]) for e in entries]).to_bytes()
        assert decode(build(entries)).to_bytes() == want, name
        assert merge([build(entries)]).to_bytes() == want, name
        if p == 10:
            regs, _, _ = registers_from_blobs([build(entries)])
            assert np.array_equal(regs[0], decode(build(entries)).registers), name
        for bad in [size, size + 12345] + ([-1] if "mode 3" in name else []):
            for fn in decoders:
                with pytest.raises(ValueError):
                    fn(build([(1, 1), (bad, 1)]))
        if p is not None:
            for fn in decoders:
                fn(build([(1, 65 - p)]))  # the largest rank at p is valid
                with pytest.raises(ValueError):
                    fn(build([(1, 66 - p)]))
    # the same rank bound on dense and packed6 blobs; [b, b] takes the
    # batched mode-0 read of registers_from_blobs
    decoders = [
        HllSketch.from_bytes,
        lambda b: HllSketch.merge_blobs([b], 10),
        lambda b: registers_from_blobs([b, b]),
    ]
    for mode in ("dense", "packed6"):
        for rank in (55, 56):
            regs = np.zeros(1 << 10, dtype=np.uint8)
            regs[3] = rank
            blob = HllSketch(p=10, registers=regs).to_bytes(mode=mode)
            for fn in decoders:
                if rank == 55:
                    fn(blob)
                else:
                    with pytest.raises(ValueError):
                        fn(blob)

    # KMV raw (p=0) and delta (p=1, 8-byte deltas that wrap for unsorted
    # values) blobs with duplicate, unsorted and more-than-k values
    def kmv_blob(mode, values, k=8):
        vals = np.array(values, dtype=np.uint64)
        if mode == "raw":
            head = struct.pack("<II", k, len(vals))
            return pack_header(KIND_KMV, 0, DEFAULT_SEED) + head + vals.tobytes()
        head = struct.pack("<IIBQ", k, len(vals), 8, int(vals[0]))
        return pack_header(KIND_KMV, 1, DEFAULT_SEED) + head + np.diff(vals).tobytes()

    for mode in ("raw", "delta"):
        for values in ([9, 5, 5, 5], [40, 3, 2**64 - 1, 17, 3, 8, 1, 99, 17, 64, 2, 5, 7]):
            want = KmvSketch.merge_blobs([kmv_blob(mode, [v]) for v in values], k=8)
            blob = kmv_blob(mode, values)
            for got in (
                KmvSketch.from_bytes(blob).values,
                KmvSketch.merge_blobs([blob], k=8).values,
                values_from_blobs([blob])[0][0],
            ):
                assert np.array_equal(got, want.values), (mode, values)
            assert KmvSketch.from_bytes(blob).estimate() == want.estimate()


def test_batch_parser_shares_the_per_blob_checks():
    """registers_from_blobs (the batch parser) rejects every malformed HLL
    blob that from_bytes and merge_blobs (the per-blob parser, ``_read``)
    reject, alone or behind a valid blob, and decodes valid ones to the
    same registers: truncated and over-long payloads in every mode, a
    short header, bad magic/version/kind, an unknown mode, a sparse count
    past the payload, an index equal to 2^p and a rank of 64-p+2."""
    from sketchlib.codec import HEADER_LEN, KIND_CMS, KIND_HLL, pack_header
    from sketchlib.hll import registers_from_blobs

    p, m = 10, 1 << 10
    s = HllSketch(p=p)
    s.update_batch(np.arange(40, dtype=np.int32))
    mode3 = lambda idx, ranks: (  # noqa: E731
        pack_header(KIND_HLL, p, s.seed) + b"\x03" + struct.pack("<Q", len(idx))
        + np.array(idx, "<i8").tobytes() + np.array(ranks, np.uint8).tobytes()
    )
    mode1 = lambda idx, ranks: (  # noqa: E731
        pack_header(KIND_HLL, p, s.seed) + b"\x01" + struct.pack("<I", len(idx))
        + np.array(idx, "<u4").tobytes() + np.array(ranks, np.uint8).tobytes()
    )
    high = np.zeros(m, np.uint8)
    high[7] = 66 - p
    valid = [s.to_bytes(mode=mode) for mode in ("sparse", "dense", "packed6")] + [
        mode3([3, 9, 3], [2, 5, 4])
    ]
    bad = []
    for b in valid:
        bad += [b[:-1], b + b"\x00", b[: HEADER_LEN + 1] if b[HEADER_LEN] in (1, 3) else b[:-7]]
    bad += [
        valid[0][:10],
        valid[0][:HEADER_LEN],
        b"\x00" + valid[0][1:],
        valid[0][:4] + b"\x07\x00" + valid[0][6:],
        pack_header(KIND_CMS, p, s.seed) + valid[0][HEADER_LEN:],
        valid[0][:HEADER_LEN] + b"\x07" + valid[0][HEADER_LEN + 1 :],
        mode1([1, 2], [1, 1]).replace(struct.pack("<I", 2), struct.pack("<I", 9), 1),
        mode3([1, 2], [1, 1]).replace(struct.pack("<Q", 2), struct.pack("<Q", 2**63), 1),
        mode1([m], [1]),
        mode3([m], [1]),
        mode3([-1], [1]),
        mode1([7], [66 - p]),
        mode3([7], [66 - p]),
        HllSketch(p=p, registers=high).to_bytes(mode="dense"),
        HllSketch(p=p, registers=high).to_bytes(mode="packed6"),
    ]
    decoders = [
        HllSketch.from_bytes,
        lambda b: HllSketch.merge_blobs([b], p),
        lambda b: registers_from_blobs([b]),
        lambda b: registers_from_blobs([valid[0], b]),
        lambda b: registers_from_blobs([b, valid[1]], [0, 0], 1),
    ]
    for b in bad:
        for fn in decoders:
            with pytest.raises(ValueError):
                fn(b)
    regs, got_p, _ = registers_from_blobs(valid)
    assert got_p == p
    for row, b in zip(regs, valid):
        assert np.array_equal(row, HllSketch.from_bytes(b).registers)
        assert np.array_equal(row, HllSketch.merge_blobs([b], p).registers)
    other = HllSketch(p=p + 1).to_bytes()
    reseeded = HllSketch(p=p, seed=s.seed + 1).to_bytes()
    for b in (other, reseeded):
        with pytest.raises(ValueError):
            registers_from_blobs([valid[0], b])
        with pytest.raises(ValueError):
            HllSketch.merge_blobs([valid[0], b], p)
