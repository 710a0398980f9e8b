"""SQL-facing UDF surface: every registered function answers correctly over
BinaryType sketch columns in PURE SQL (the checkpoint-table consumer path)."""

import numpy as np
import pytest

from sketchlib.cms import CountMinSketch
from sketchlib.functions import register
from sketchlib.hll import HllSketch
from sketchlib.kll import KllSketch
from sketchlib.minhash import MinHashSketch, hamming64, token_shingles
from sketchlib.tdigest import TDigest


@pytest.fixture(scope="module")
def sql(spark):
    register(spark)
    return spark


def _one_row_view(spark, name, cols: dict):
    from pyspark.sql import types as T

    fields, row = [], []
    for c, v in cols.items():
        if isinstance(v, (bytes, bytearray)):
            fields.append(T.StructField(c, T.BinaryType(), False))
            row.append(bytearray(v))
        elif isinstance(v, float):
            fields.append(T.StructField(c, T.DoubleType(), False))
            row.append(v)
        else:
            fields.append(T.StructField(c, T.LongType(), False))
            row.append(int(v))
    spark.createDataFrame([tuple(row)], T.StructType(fields)).createOrReplaceTempView(name)


def test_quantile_functions_parametrized(sql):
    rng = np.random.default_rng(3)
    vals = rng.normal(100, 10, 20_000)
    k = KllSketch.empty(200)
    k.update_batch(vals)
    td = TDigest.empty(200)
    td.update_batch(vals)
    _one_row_view(sql, "qview", {"kll": k.to_bytes(), "td": td.to_bytes(), "q": 0.9})
    r = sql.sql(
        "SELECT kll_quantile(kll, q) AS kq, tdigest_quantile(td, q) AS tq, "
        "kll_median(kll) AS km FROM qview"
    ).collect()[0]
    exact_p90 = np.quantile(vals, 0.9)
    assert abs(r["kq"] - exact_p90) < 1.0
    assert abs(r["tq"] - exact_p90) < 1.0
    assert abs(r["km"] - np.median(vals)) < 1.0


def test_cms_point_function(sql):
    c = CountMinSketch.empty(width_log2=16, depth=5)
    c.update_batch(np.array([7] * 1000 + [9] * 10, dtype=np.int64), kind="int64")
    _one_row_view(sql, "cview", {"cms": c.to_bytes(), "v": 7})
    r = sql.sql("SELECT cms_point(cms, v) AS f, cms_total(cms) AS t FROM cview").collect()[0]
    assert r["f"] >= 1000  # never undercounts
    assert r["t"] == 1010


def test_minhash_jaccard_function(sql):
    rng = np.random.default_rng(5)
    a_toks = rng.integers(0, 5000, 300).astype(np.int64)
    b_toks = a_toks.copy()
    b_toks[:30] = rng.integers(5000, 9000, 30)  # ~90% overlap
    sa = MinHashSketch.empty(128)
    sa.update_elements(token_shingles(a_toks))
    sb = MinHashSketch.empty(128)
    sb.update_elements(token_shingles(b_toks))
    _one_row_view(sql, "mview", {"a": sa.to_bytes(), "b": sb.to_bytes()})
    r = sql.sql("SELECT minhash_jaccard(a, b) AS j, minhash_jaccard(a, a) AS self FROM mview").collect()[0]
    assert r["self"] == 1.0
    assert 0.5 < r["j"] < 1.0
    assert abs(r["j"] - MinHashSketch.jaccard(sa, sb)) < 1e-12


def test_simhash_hamming_function(sql):
    a, b = np.int64(-4611686018427387904), np.int64(255)
    _one_row_view(sql, "sview", {"a": int(a), "b": int(b)})
    r = sql.sql(
        "SELECT simhash_hamming(a, b) AS d, simhash_hamming(a, a) AS z FROM sview"
    ).collect()[0]
    assert r["z"] == 0
    assert r["d"] == hamming64(int(a), int(b))


def test_hll_sql_functions_still_work(sql):
    h1 = HllSketch.empty(12)
    h1.update_batch(np.arange(1000, dtype=np.int32))
    h2 = HllSketch.empty(12)
    h2.update_batch(np.arange(500, 1500, dtype=np.int32))
    _one_row_view(sql, "hview", {"a": h1.to_bytes(), "b": h2.to_bytes()})
    r = sql.sql(
        "SELECT hll_estimate(a) AS ea, hll_estimate(hll_merge_pair(a, b)) AS eu, "
        "hll_union_estimate(a, b) AS u, hll_intersection_estimate(a, b) AS i "
        "FROM hview"
    ).collect()[0]
    bound = 3 * 1.04 / 2**6
    assert abs(r["ea"] - 1000) <= bound * 1000
    assert abs(r["eu"] - 1500) <= bound * 1500
    assert r["u"] == r["eu"]  # union == merge-then-estimate by definition
    assert abs(r["i"] - 500) <= 3 * bound * 1500  # inclusion-exclusion error


def test_two_arg_sketch_functions_null_safe(sql):
    """FULL OUTER JOIN of per-key sketch tables yields NULL blobs for keys
    present on one side only — the set-algebra UDFs must degrade gracefully
    (union -> the present side; intersection -> 0; inner product -> NULL),
    never crash the task."""
    import numpy as np
    from pyspark.sql import types as T

    h = HllSketch.empty(12)
    h.update_batch(np.arange(300, dtype=np.int32))
    schema = T.StructType(
        [
            T.StructField("a", T.BinaryType(), True),
            T.StructField("b", T.BinaryType(), True),
        ]
    )
    sql.createDataFrame(
        [(bytearray(h.to_bytes()), None), (None, None)], schema
    ).createOrReplaceTempView("nullview")
    rows = sql.sql(
        "SELECT hll_union_estimate(a, b) AS u, hll_intersection_estimate(a, b) AS i, "
        "cms_inner_product(a, b) AS ip FROM nullview"
    ).collect()
    one_side = next(r for r in rows if r["u"] is not None)
    both_null = next(r for r in rows if r is not one_side)
    assert abs(one_side["u"] - 300) <= 3 * 1.04 / 2**6 * 300
    assert one_side["i"] == 0 and one_side["ip"] is None
    assert both_null["u"] is None and both_null["i"] is None and both_null["ip"] is None


def test_cms_inner_product_sql(sql):
    c1 = CountMinSketch.empty(width_log2=16, depth=5)
    c1.update_batch(np.array([1, 1, 2, 3], dtype=np.int64), kind="int64")
    c2 = CountMinSketch.empty(width_log2=16, depth=5)
    c2.update_batch(np.array([1, 2, 2, 9], dtype=np.int64), kind="int64")
    _one_row_view(sql, "ipview", {"a": c1.to_bytes(), "b": c2.to_bytes()})
    r = sql.sql("SELECT cms_inner_product(a, b) AS ip FROM ipview").collect()[0]
    assert r["ip"] >= 2 * 1 + 1 * 2  # f1: {1:2,2:1,3:1} x f2: {1:1,2:2,9:1} = 4


def test_kmv_set_algebra_functions(sql):
    from sketchlib.kmv import KmvSketch

    k = 2048
    a = KmvSketch.empty(k)
    a.update_batch(np.arange(0, 60_000, dtype=np.int32))
    b = KmvSketch.empty(k)
    b.update_batch(np.arange(40_000, 100_000, dtype=np.int32))
    _one_row_view(sql, "kmvview", {"a": a.to_bytes(), "b": b.to_bytes()})
    r = sql.sql(
        "SELECT kmv_estimate(a) AS ea, kmv_union_estimate(a, b) AS u, "
        "kmv_intersection_estimate(a, b) AS i, kmv_jaccard(a, b) AS j FROM kmvview"
    ).collect()[0]
    se = KmvSketch.std_error(k)
    assert abs(r["ea"] / 60_000 - 1.0) <= 3 * se
    assert abs(r["u"] / 100_000 - 1.0) <= 3 * se
    true_j = 20_000 / 100_000
    assert abs(r["j"] - true_j) <= 4 * np.sqrt(true_j * (1 - true_j) / k)
    assert abs(r["i"] - 20_000) <= 4 * np.sqrt(true_j * (1 - true_j) / k) * 100_000 + 3 * se * 20_000


def test_kmv_functions_null_convention(sql):
    from pyspark.sql import types as T

    from sketchlib.kmv import KmvSketch

    # 1000 distinct < k=1024: the estimate is exact, so the one-sided union
    # must equal exactly 1000
    s = KmvSketch.empty(1024)
    s.update_batch(np.arange(1000, dtype=np.int32))
    schema = T.StructType(
        [T.StructField("a", T.BinaryType(), True), T.StructField("b", T.BinaryType(), True)]
    )
    sql.createDataFrame(
        [(bytearray(s.to_bytes()), None), (None, None)], schema
    ).createOrReplaceTempView("kmvnulls")
    rows = sql.sql(
        "SELECT kmv_union_estimate(a, b) AS u, kmv_intersection_estimate(a, b) AS i, "
        "kmv_jaccard(a, b) AS j FROM kmvnulls"
    ).collect()
    one_sided = next(r for r in rows if r["u"] is not None)
    assert one_sided["u"] == 1000 and one_sided["i"] == 0 and one_sided["j"] == 0.0
    both_null = next(r for r in rows if r["u"] is None)
    assert both_null["i"] is None and both_null["j"] is None


def test_single_blob_functions_null_safe(sql):
    """ADVICE r03: every UDF must map NULL blobs to SQL NULL (outer-join
    convention), never an executor TypeError."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("b", T.BinaryType(), True),
            T.StructField("q", T.DoubleType(), True),
            T.StructField("v", T.LongType(), True),
        ]
    )
    sql.createDataFrame([(None, None, None)], schema).createOrReplaceTempView("nullrow")
    row = sql.sql(
        """
        SELECT hll_estimate(b) AS he, kll_median(b) AS km, kll_quantile(b, q) AS kq,
               tdigest_p99(b) AS tp, tdigest_quantile(b, q) AS tq,
               cms_total(b) AS ct, cms_point(b, v) AS cp, bloom_fpp(b) AS bf,
               kmv_estimate(b) AS ke, minhash_jaccard(b, b) AS mj,
               simhash_hamming(v, v) AS sh, hll_merge_pair(b, b) AS hm
        FROM nullrow
        """
    ).collect()[0]
    assert all(row[c] is None for c in row.asDict())


def test_hll_pair_functions_batch_parity(sql):
    """The vectorized pair path (registers_from_blobs + estimates_from_
    histograms) must return the SAME integers as per-row scalar algebra for
    a full pairwise matrix, including mixed at-rest encodings; p=30 rows
    (above the dense range) go through sketch objects to the same answers."""
    rng = np.random.default_rng(11)
    sketches = []
    for i in range(15):
        s = HllSketch(p=10 if i < 12 else 30)
        s.update_batch(rng.integers(0, 2000 * (i + 1), 5000).astype(np.int32))
        sketches.append(s)
    rows = []
    for i, s in enumerate(sketches):
        mode = (None, "dense", "packed6")[i % 3] if s.p == 10 else None
        rows.append((i, s.p, bytearray(s.to_bytes(mode=mode))))
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("p", T.LongType(), False),
            T.StructField("sk", T.BinaryType(), False),
        ]
    )
    sql.createDataFrame(rows, schema).createOrReplaceTempView("hllmat")
    got = sql.sql(
        """
        SELECT a.id AS ia, b.id AS ib,
               hll_estimate(a.sk) AS ea,
               hll_union_estimate(a.sk, b.sk) AS u,
               hll_intersection_estimate(a.sk, b.sk) AS i,
               hll_difference_estimate(a.sk, b.sk) AS d,
               hll_jaccard_estimate(a.sk, b.sk) AS j
        FROM hllmat a JOIN hllmat b ON a.id < b.id AND a.p = b.p
        """
    ).collect()
    assert len(got) == 66 + 3
    for r in got:
        sa, sb = sketches[r["ia"]], sketches[r["ib"]]
        assert r["ea"] == sa.cardinality()
        assert r["u"] == HllSketch.union_estimate(sa, sb)
        assert r["i"] == HllSketch.intersection_estimate(sa, sb)
        assert r["d"] == HllSketch.difference_estimate(sa, sb)
        assert r["j"] == HllSketch.jaccard_estimate(sa, sb)


def test_kmv_pair_functions_batch_parity(sql):
    """Batch-decoded KMV set algebra == per-row KmvSketch methods."""
    from sketchlib.kmv import KmvSketch

    rng = np.random.default_rng(13)
    sketches = []
    for i in range(10):
        s = KmvSketch(k=256)
        s.update_batch(rng.integers(0, 900 * (i + 1), 4000).astype(np.int32))
        sketches.append(s)
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("id", T.LongType(), False), T.StructField("sk", T.BinaryType(), False)]
    )
    sql.createDataFrame(
        [(i, bytearray(s.to_bytes())) for i, s in enumerate(sketches)], schema
    ).createOrReplaceTempView("kmvmat")
    got = sql.sql(
        """
        SELECT a.id AS ia, b.id AS ib,
               kmv_union_estimate(a.sk, b.sk) AS u,
               kmv_intersection_estimate(a.sk, b.sk) AS i,
               kmv_jaccard(a.sk, b.sk) AS j
        FROM kmvmat a JOIN kmvmat b ON a.id < b.id
        """
    ).collect()
    assert len(got) == 45
    for r in got:
        sa, sb = sketches[r["ia"]], sketches[r["ib"]]
        assert r["u"] == KmvSketch.union(sa, sb).estimate()
        assert r["i"] == KmvSketch.intersection_estimate(sa, sb)
        assert r["j"] == pytest.approx(KmvSketch.jaccard(sa, sb), abs=0)


def test_pair_functions_mixed_configs_across_rows(sql):
    """Review catch: a sketch column unioned from checkpoint tables built at
    different p (or k) is legitimate as long as each ROW's pair matches —
    the batch decode must group by config, not assume uniformity. A row
    whose own pair mismatches still raises (merge contract)."""
    import pyspark.errors
    from pyspark.sql import types as T

    from sketchlib.kmv import KmvSketch

    rng = np.random.default_rng(5)
    rows = []
    expected = []
    for i, p in enumerate((10, 12, 10, 12)):
        a, b = HllSketch(p=p), HllSketch(p=p)
        a.update_batch(rng.integers(0, 3000, 2000).astype(np.int32))
        b.update_batch(rng.integers(1000, 4000, 2000).astype(np.int32))
        rows.append((i, bytearray(a.to_bytes()), bytearray(b.to_bytes())))
        expected.append(HllSketch.union_estimate(a, b))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("a", T.BinaryType(), False),
            T.StructField("b", T.BinaryType(), False),
        ]
    )
    sql.createDataFrame(rows, schema).createOrReplaceTempView("mixed_hll")
    got = {
        r["id"]: r["u"]
        for r in sql.sql(
            "SELECT id, hll_union_estimate(a, b) AS u FROM mixed_hll"
        ).collect()
    }
    assert [got[i] for i in range(4)] == expected

    # KMV: same property
    krows, kexp = [], []
    for i, k in enumerate((128, 256, 128)):
        a, b = KmvSketch(k=k), KmvSketch(k=k)
        a.update_batch(rng.integers(0, 3000, 2000).astype(np.int32))
        b.update_batch(rng.integers(1000, 4000, 2000).astype(np.int32))
        krows.append((i, bytearray(a.to_bytes()), bytearray(b.to_bytes())))
        kexp.append(KmvSketch.union(a, b).estimate())
    sql.createDataFrame(krows, schema).createOrReplaceTempView("mixed_kmv")
    got = {
        r["id"]: r["u"]
        for r in sql.sql(
            "SELECT id, kmv_union_estimate(a, b) AS u FROM mixed_kmv"
        ).collect()
    }
    assert [got[i] for i in range(3)] == kexp

    # a row whose OWN pair mismatches still fails loudly
    bad_a, bad_b = HllSketch(p=10), HllSketch(p=12)
    sql.createDataFrame(
        [(0, bytearray(bad_a.to_bytes()), bytearray(bad_b.to_bytes()))], schema
    ).createOrReplaceTempView("bad_pair")
    with pytest.raises(Exception, match="different config"):
        sql.sql("SELECT hll_union_estimate(a, b) FROM bad_pair").collect()


def test_hll_merge_pair_byte_parity_batched(sql):
    """The batched hll_merge_pair must produce bytes IDENTICAL to the
    scalar merge().to_bytes() in both the dense and sparse-at-rest
    regimes, across mixed configs, p=30 (sparse-only) included."""
    from pyspark.sql import types as T

    rng = np.random.default_rng(23)
    rows, expected = [], []
    configs = ((10, 4000), (14, 20), (10, 3000), (14, 30), (30, 50), (30, 2000))
    for i, (p, n_items) in enumerate(configs):
        a, b = HllSketch(p=p), HllSketch(p=p)
        a.update_batch(rng.integers(0, 100_000, n_items).astype(np.int32))
        b.update_batch(rng.integers(50_000, 150_000, n_items).astype(np.int32))
        rows.append((i, bytearray(a.to_bytes()), bytearray(b.to_bytes())))
        expected.append(
            HllSketch.from_bytes(a.to_bytes()).merge(HllSketch.from_bytes(b.to_bytes())).to_bytes()
        )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("a", T.BinaryType(), False),
            T.StructField("b", T.BinaryType(), False),
        ]
    )
    sql.createDataFrame(rows, schema).createOrReplaceTempView("merge_pairs")
    got = {
        r["id"]: bytes(r["m"])
        for r in sql.sql("SELECT id, hll_merge_pair(a, b) AS m FROM merge_pairs").collect()
    }
    for i, exp in enumerate(expected):
        assert got[i] == exp, i


def test_hll_jaccard_estimate_function(sql):
    """hll_jaccard_estimate == scalar jaccard_estimate per pair; NULL
    convention: both-NULL -> NULL, one-sided -> 0.0."""
    from pyspark.sql import types as T

    rng = np.random.default_rng(29)
    a, b = HllSketch(p=12), HllSketch(p=12)
    a.update_batch(rng.integers(0, 6000, 20_000).astype(np.int32))
    b.update_batch(rng.integers(3000, 9000, 20_000).astype(np.int32))
    schema = T.StructType(
        [
            T.StructField("a", T.BinaryType(), True),
            T.StructField("b", T.BinaryType(), True),
        ]
    )
    sql.createDataFrame(
        [
            (bytearray(a.to_bytes()), bytearray(b.to_bytes())),
            (bytearray(a.to_bytes()), None),
            (None, None),
        ],
        schema,
    ).createOrReplaceTempView("jacc_pairs")
    rows = sql.sql("SELECT hll_jaccard_estimate(a, b) AS j FROM jacc_pairs").collect()
    assert rows[0]["j"] == pytest.approx(HllSketch.jaccard_estimate(a, b), abs=0)
    assert rows[1]["j"] == 0.0
    assert rows[2]["j"] is None


def test_fi_functions(sql):
    from sketchlib.fi import FrequentItemsSketch

    s = FrequentItemsSketch.empty(capacity=8)
    s.update_batch(
        np.concatenate(
            [
                np.repeat(np.arange(3, dtype=np.int64), 500),  # 3 heavy items
                np.arange(100, 400, dtype=np.int64),  # 300 singletons force trims
            ]
        )
    )
    _one_row_view(sql, "fview", {"fi": s.to_bytes(), "v": 1})
    r = sql.sql(
        "SELECT fi_point_lower(fi, v) AS lo, fi_point_lower(fi, 999999) AS miss, "
        "fi_error(fi) AS err FROM fview"
    ).collect()[0]
    # two-sided certificate in pure SQL: lo <= 500 <= lo + err, absent item
    # lower-bounds to 0, error bounded by the trim-mass law
    assert r["lo"] <= 500 <= r["lo"] + r["err"]
    assert r["miss"] == 0
    assert 0 < r["err"] <= s.total // (s.capacity + 1)


def test_fi_functions_string_mode(sql):
    from sketchlib.fi import FrequentItemsSketch

    s = FrequentItemsSketch.empty(capacity=16, item_kind="string")
    s.update_batch(["alpha"] * 40 + ["beta"] * 7, kind="string")
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("fi", T.BinaryType(), False),
            T.StructField("w", T.StringType(), False),
        ]
    )
    sql.createDataFrame([(bytearray(s.to_bytes()), "alpha")], schema).createOrReplaceTempView(
        "fsview"
    )
    r = sql.sql(
        "SELECT fi_point_lower(fi, w) AS lo, fi_point_lower(fi, 'nope') AS miss, "
        "fi_error(fi) AS err FROM fsview"
    ).collect()[0]
    assert r["lo"] == 40 and r["miss"] == 0 and r["err"] == 0


def test_fi_functions_null_guard(sql):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("fi", T.BinaryType(), True),
            T.StructField("v", T.LongType(), True),
        ]
    )
    sql.createDataFrame([(None, 5)], schema).createOrReplaceTempView("fnull")
    r = sql.sql(
        "SELECT fi_point_lower(fi, v) AS lo, fi_error(fi) AS err FROM fnull"
    ).collect()[0]
    assert r["lo"] is None and r["err"] is None


def test_kmv_difference_function(sql):
    from sketchlib.kmv import KmvSketch

    a = KmvSketch.empty(1024)
    a.update_batch(np.arange(0, 60_000, dtype=np.int32))
    b = KmvSketch.empty(1024)
    b.update_batch(np.arange(30_000, 90_000, dtype=np.int32))
    _one_row_view(sql, "dview", {"a": a.to_bytes(), "b": b.to_bytes()})
    r = sql.sql(
        "SELECT kmv_difference_estimate(a, b) AS dab, "
        "kmv_difference_estimate(b, a) AS dba, "
        "kmv_difference_estimate(a, a) AS self FROM dview"
    ).collect()[0]
    assert r["self"] == 0
    assert r["dab"] == KmvSketch.difference_estimate(a, b)
    assert r["dba"] == KmvSketch.difference_estimate(b, a)
    # NULL convention: A minus absent = estimate(A); absent minus B = 0
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("a", T.BinaryType(), True), T.StructField("b", T.BinaryType(), True)]
    )
    sql.createDataFrame(
        [(bytearray(a.to_bytes()), None), (None, bytearray(b.to_bytes())), (None, None)],
        schema,
    ).createOrReplaceTempView("dnull")
    rows = sql.sql(
        "SELECT kmv_difference_estimate(a, b) AS d FROM dnull"
    ).collect()
    assert rows[0]["d"] == a.estimate()
    assert rows[1]["d"] == 0
    assert rows[2]["d"] is None


def test_hll_difference_function(sql):
    from sketchlib.hll import HllSketch

    a = HllSketch.empty(12)
    a.update_batch(np.arange(0, 40_000, dtype=np.int32))
    b = HllSketch.empty(12)
    b.update_batch(np.arange(20_000, 60_000, dtype=np.int32))
    _one_row_view(sql, "hdview", {"a": a.to_bytes(), "b": b.to_bytes()})
    r = sql.sql(
        "SELECT hll_difference_estimate(a, b) AS dab, "
        "hll_difference_estimate(a, a) AS self FROM hdview"
    ).collect()[0]
    assert r["self"] == 0
    assert r["dab"] == HllSketch.difference_estimate(a, b)
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("a", T.BinaryType(), True), T.StructField("b", T.BinaryType(), True)]
    )
    sql.createDataFrame(
        [(bytearray(a.to_bytes()), None), (None, bytearray(b.to_bytes())), (None, None)],
        schema,
    ).createOrReplaceTempView("hdnull")
    rows = sql.sql("SELECT hll_difference_estimate(a, b) AS d FROM hdnull").collect()
    assert rows[0]["d"] == a.cardinality()
    assert rows[1]["d"] == 0
    assert rows[2]["d"] is None
