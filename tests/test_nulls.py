"""Null handling: null group keys are valid groups (Spark groupBy
semantics), null values are skipped, and null token lists behave as [].

Locks the ADVICE r01 fix: pd.factorize's -1 NA sentinel used to crash the
partial build (np.bincount on negative codes) for any nullable key column.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sketchlib.agg import HllAggregator, CmsAggregator


@pytest.fixture(scope="module")
def null_df(spark):
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), True),
            T.StructField("v", T.LongType(), True),
            T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        ]
    )
    rows = []
    rng = np.random.default_rng(9)
    for i in range(600):
        k = None if i % 5 == 0 else f"k{i % 3}"
        v = None if i % 7 == 0 else int(rng.integers(0, 200))
        toks = None if i % 11 == 0 else [int(t) for t in rng.integers(0, 500, 5)]
        rows.append((k, v, toks))
    return spark.createDataFrame(rows, schema).repartition(4)


def test_hll_null_string_key_matches_spark_groupby(spark, null_df):
    agg = HllAggregator(p=14, key_cols=["k"], value_col="v", value_kind="int64")
    est = {r["k"]: r for r in agg.estimates(null_df).collect()}
    exact = {
        r["k"]: r
        for r in null_df.groupBy("k")
        .agg(F.countDistinct("v").alias("d"), F.count("*").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)  # includes the None group
    assert None in est
    for k, r in exact.items():
        assert est[k]["n_rows"] == r["n"]
        # p=14 on <=200 distinct: linear counting is essentially exact
        assert abs(est[k]["est_distinct"] - r["d"]) <= 2


def test_hll_null_tokens_lists_and_null_key(spark, null_df):
    agg = HllAggregator(p=14, key_cols=["k"], value_col="tokens", value_kind="tokens")
    est = {r["k"]: r for r in agg.estimates(null_df).collect()}
    exact = {
        r["k"]: r["d"]
        for r in null_df.select("k", F.explode("tokens").alias("t"))
        .groupBy("k")
        .agg(F.countDistinct("t").alias("d"))
        .collect()
    }
    for k, d in exact.items():
        assert abs(est[k]["est_distinct"] - d) / max(d, 1) <= 0.05


def test_multi_key_with_nulls(spark, null_df):
    df = null_df.withColumn("k2", F.when(F.col("v") % 2 == 0, "even"))
    agg = HllAggregator(p=12, key_cols=["k", "k2"], value_col="v", value_kind="int64")
    est = {(r["k"], r["k2"]): r["n_rows"] for r in agg.estimates(df).collect()}
    exact = {
        (r["k"], r["k2"]): r["n"]
        for r in df.groupBy("k", "k2").agg(F.count("*").alias("n")).collect()
    }
    assert est == exact


def test_float_nan_key_is_one_group(spark):
    """A float NaN group key must merge into ONE row (Spark groupBy
    normalizes NaN into a single group); Python tuple comparison in the
    run-merge used to split NaN partials into unmerged rows (ADVICE r02)."""
    schema = T.StructType(
        [
            T.StructField("fk", T.DoubleType(), True),
            T.StructField("v", T.LongType(), False),
        ]
    )
    rows = [(float("nan"), i) for i in range(200)]
    rows += [(1.5, i) for i in range(100)]
    rows += [(None, i) for i in range(50)]
    df = spark.createDataFrame(rows, schema).repartition(8)
    agg = HllAggregator(p=10, key_cols=["fk"], value_col="v", value_kind="int64")
    got = agg.estimates(df).collect()
    assert len(got) == 3  # NaN group, 1.5 group, null group
    by_key = {}
    for r in got:
        k = "nan" if (r["fk"] is not None and r["fk"] != r["fk"]) else r["fk"]
        by_key[k] = r
    assert by_key["nan"]["n_rows"] == 200
    assert by_key[1.5]["n_rows"] == 100
    assert by_key[None]["n_rows"] == 50
    # p=10 linear-counting regime: within 3 sigma of the 200 distinct values
    assert abs(by_key["nan"]["est_distinct"] - 200) <= 3 * 1.04 / (2**5) * 200


def test_cms_heavy_hitters_null_key(spark, null_df):
    agg = CmsAggregator(
        width_log2=12, depth=4, key_cols=["k"], value_col="v", value_kind="int64"
    )
    hh = agg.heavy_hitters(null_df, topk=3)
    keys = {r["k"] for r in hh.collect()}
    assert None in keys


def test_streaming_values_null_tokens():
    from sketchlib.streaming import _values_from_pandas

    s = pd.Series([np.array([1, 2], dtype=np.int32), None, np.array([3], dtype=np.int32)])
    flat, n = _values_from_pandas(s, "tokens")
    assert n == 3
    assert flat.tolist() == [1, 2, 3]


def test_cms_float_weights_rejected():
    from sketchlib.cms import CountMinSketch

    s = CountMinSketch.empty(8, 3)
    with pytest.raises(TypeError):
        s.update_batch(
            np.array([1, 2], dtype=np.int32), weights=np.array([1.5, 2.0])
        )
    s.update_batch(
        np.array([1, 2], dtype=np.int32), weights=np.array([3, 4], dtype=np.int64)
    )
    assert s.query_batch(np.array([1], dtype=np.int32))[0] >= 3


def test_zero_payload_rank_pinned():
    """Documented deviation (ADVICE r01): all-zero payload rank caps at
    64-p+1 where the reference would emit clz(0)+1 = 65 and mangle it in
    6-bit storage. Pin our chosen behavior."""
    from sketchlib.kernels import hll_index_rank

    for p in (4, 12, 14, 40, 60):
        # a hash whose payload (low 64-p bits) is exactly zero
        h = np.array([0, 1 << (64 - p)], dtype=np.uint64)
        idx, rank = hll_index_rank(h, p)
        assert rank[0] == 64 - p + 1
        assert rank[1] == 64 - p + 1
        assert idx.tolist() == [0, 1]


def test_kmv_nulls_match_exact_distinct(spark, null_df):
    from sketchlib.agg import KmvAggregator

    agg = KmvAggregator(k=2048, key_cols=["k"], value_col="v", value_kind="int64")
    rows = {r["k"]: r for r in agg.merged(null_df).collect()}
    exact = {
        r["k"]: r["d"]
        for r in null_df.groupBy("k").agg(F.countDistinct("v").alias("d")).collect()
    }
    from sketchlib.kmv import KmvSketch

    assert set(rows) == set(exact) and None in rows
    for k, r in rows.items():
        # <=200 distinct < k: KMV is EXACT; null values are skipped like
        # Spark's countDistinct
        assert KmvSketch.from_bytes(bytes(r["sketch"])).estimate() == exact[k], k


def test_profile_null_token_lists_count_as_empty(spark, null_df):
    from sketchlib.agg import ProfileAggregator
    from sketchlib.profile import ProfileSketch

    agg = ProfileAggregator(p=14, key_cols=[], value_col="tokens")
    row = agg.merged(null_df).collect()[0]
    s = ProfileSketch.from_bytes(bytes(row["sketch"]))
    n_rows = null_df.count()
    # every row (null lists included, as length 0) lands in the KLL
    assert s.kll.n == n_rows
    # rank of 0 equals the null fraction: null token lists ARE the zeros
    null_frac = null_df.where(F.col("tokens").isNull()).count() / n_rows
    assert abs(s.kll.rank(0.0) - null_frac) < 0.03
    exact_distinct = (
        null_df.select(F.explode("tokens").alias("t")).distinct().count()
    )
    assert abs(s.distinct_values() - exact_distinct) <= max(2, 0.03 * exact_distinct)


def test_hll_estimate_udf_null_blob_is_null(spark):
    """HllAggregator.estimate_udf is the batch estimate path of
    ``hll_estimate``: a NULL sketch estimates to NULL."""
    from sketchlib.hll import HllSketch

    s = HllSketch(p=12)
    s.update_batch(np.arange(1000, dtype=np.int32))
    df = spark.createDataFrame([(s.to_bytes(),), (None,)], "sketch binary")
    est = HllAggregator(p=12).estimate_udf()
    got = [r[0] for r in df.select(est("sketch")).collect()]
    assert got == [s.cardinality(), None]
