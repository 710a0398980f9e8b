"""Byte-determinism of KLL/t-digest distributed builds (VERDICT r02 #7).

HLL/CMS/Bloom are byte-invariant for free (idempotent max / commutative add).
KLL and t-digest get the same law from three ingredients, each pinned here:
1. content-seeded KLL compaction parity (a pure function of the compacted
   data, not of execution history);
2. canonical sorted-blob merge order in merge_blobs (permutation-invariant);
3. a parallelism-independent partial grain (per-row-group partials in
   partials_from_parquet(per_shard=True)).
"""

import numpy as np
import pandas as pd
import pytest

from sketchlib.kll import KllSketch
from sketchlib.tdigest import TDigest


def _kll_blobs(n_parts=7, per=500, seed=3):
    rng = np.random.default_rng(seed)
    blobs = []
    for _ in range(n_parts):
        s = KllSketch.empty(200)
        s.update_batch(rng.normal(100, 25, per))
        blobs.append(s.to_bytes())
    return blobs


def test_kll_merge_is_permutation_invariant():
    blobs = _kll_blobs()
    ref = KllSketch.merge_blobs(blobs, 200).to_bytes()
    rng = np.random.default_rng(0)
    for _ in range(5):
        perm = [blobs[i] for i in rng.permutation(len(blobs))]
        assert KllSketch.merge_blobs(perm, 200).to_bytes() == ref


def test_tdigest_merge_is_permutation_invariant():
    rng = np.random.default_rng(9)
    blobs = []
    for _ in range(6):
        d = TDigest.empty(100)
        d.update_batch(rng.normal(0, 1, 800))
        blobs.append(d.to_bytes())
    ref = TDigest.merge_blobs(blobs, 100).to_bytes()
    for _ in range(5):
        perm = [blobs[i] for i in rng.permutation(len(blobs))]
        assert TDigest.merge_blobs(perm, 100).to_bytes() == ref


def test_kll_rejects_old_layout_blobs():
    """Layout v0 blobs (serialized compaction counter) must fail LOUDLY, not
    misparse: the v1 codec reads level lengths where v0 stored the counter."""
    import struct

    from sketchlib.codec import KIND_KLL, pack_header

    s = KllSketch.empty(64)
    s.update_batch(np.arange(100.0))
    # forge a v0 blob: old header (p byte = 0) + old meta layout with the
    # extra '<q' ops field
    meta = struct.pack("<HQddIq", s.k, s.n, s.min_v, s.max_v, len(s.levels), 7)
    lens = struct.pack(f"<{len(s.levels)}I", *(len(lv) for lv in s.levels))
    body = b"".join(np.ascontiguousarray(lv).tobytes() for lv in s.levels)
    old_blob = pack_header(KIND_KLL, 0, s.seed) + meta + lens + body
    with pytest.raises(ValueError, match="layout"):
        KllSketch.from_bytes(old_blob)
    # round-trip of the current layout still works
    assert KllSketch.from_bytes(s.to_bytes()).n == s.n


def test_kll_parity_varies_for_identical_recurring_content():
    """A periodic input repeating ONE block of values must not compact with
    a constant parity (one-directional error drift): the per-sketch
    compaction ordinal keeps the coin flipping even for identical level
    contents, while staying fully deterministic."""
    block = np.arange(400, dtype=np.float64)
    a = KllSketch.empty(64)
    parities = []
    orig = KllSketch._parity

    def spy(self, arr, level):
        p = orig(self, arr, level)
        parities.append(p)
        return p

    KllSketch._parity = spy
    try:
        for _ in range(50):
            a.update_batch(block)
    finally:
        KllSketch._parity = orig
    assert len(set(parities)) == 2, "parity stuck constant on periodic input"
    # determinism unchanged: an identical build yields identical bytes
    b = KllSketch.empty(64)
    for _ in range(50):
        b.update_batch(block)
    assert a.to_bytes() == b.to_bytes()
    # rank error stays inside the k=64 bound on the periodic stream
    vals = np.tile(block, 50)
    for q in (0.1, 0.5, 0.9):
        est = a.quantile(q)
        true_rank = (vals <= est).mean()
        assert abs(true_rank - q) < 0.08, (q, est, true_rank)


def test_kll_compaction_parity_is_content_seeded():
    """The same value multiset reaches the same sketch bytes regardless of
    how it was chunked into update calls that trigger the same compactions
    of the same contents (parity no longer depends on an op counter)."""
    rng = np.random.default_rng(5)
    vals = rng.normal(0, 1, 3000)
    a = KllSketch.empty(64)
    a.update_batch(vals)
    b = KllSketch.empty(64)
    b.update_batch(vals)  # independent object, same content
    assert a.to_bytes() == b.to_bytes()


def test_hll_merged_bytes_invariant_to_batch_size(spark, tmp_path, monkeypatch):
    """The cache-sizing knobs (reader batch rows, Arrow batch slicing) must
    never change HLL results: register max is batching-independent, so the
    merged bytes are identical at any chunking."""
    from sketchlib.agg import HllAggregator
    from sketchlib.data import SEQUENCES_SCHEMA, gen_sequences_pandas

    path = str(tmp_path / "seqs.parquet")
    spark.createDataFrame(gen_sequences_pandas(4_000), schema=SEQUENCES_SCHEMA).repartition(
        4
    ).write.parquet(path)
    agg = HllAggregator(p=12, key_cols=["source"])
    outs = []
    for br in (256, 1024, 16384):
        monkeypatch.setattr(agg, "_default_batch_rows", lambda br=br: br)
        merged = agg.merged(agg.partials_from_parquet(spark, path), is_partials=True)
        outs.append({r["source"]: bytes(r["sketch"]) for r in merged.collect()})
    assert outs[0] == outs[1] == outs[2]


@pytest.mark.parametrize("Agg", ["kll", "tdigest"])
def test_per_shard_build_byte_identical_across_parallelism(spark, tmp_path, Agg):
    """merged() over per-row-group partials is byte-identical whether the
    scan planned 2 tasks or 32 — the in-session proxy for the N vs 4N
    cluster-size law (the scaling job re-proves it across real local[8] /
    local[32] sessions)."""
    from sketchlib.agg import KllAggregator, TDigestAggregator

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], 30_000),
            "value": rng.normal(50, 12, 30_000),
        }
    )
    path = str(tmp_path / "vals.parquet")
    import pyarrow as pa
    import pyarrow.parquet as papq

    papq.write_table(pa.Table.from_pandas(pdf), path, row_group_size=2_048)

    if Agg == "kll":
        agg = KllAggregator(k=200, key_cols=["k"], value_col="value", value_kind="double")
    else:
        agg = TDigestAggregator(delta=100, key_cols=["k"], value_col="value", value_kind="double")

    results = []
    for par in (2, 32):
        partials = agg.partials_from_parquet(spark, path, parallelism=par, per_shard=True)
        merged = agg.merged(partials, is_partials=True)
        results.append(
            {r["k"]: bytes(r["sketch"]) for r in merged.collect()}
        )
    assert set(results[0]) == {"a", "b", "c"}
    assert results[0] == results[1]
