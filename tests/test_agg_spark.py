"""Distributed aggregation tests: the Spark pipeline must be bit-identical to

the single-threaded numpy oracle at ANY partitioning (the property that makes
the design safe on a 1000-executor cluster), and the salted tree-merge must
change nothing but the plan shape.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib.agg import HllAggregator
from sketchlib.data import SEQUENCES_SCHEMA, gen_sequences_pandas, sequences_df
from sketchlib.hll import HllSketch

P = 12


@pytest.fixture(scope="module")
def tiny_pdf():
    return gen_sequences_pandas(2_000)


@pytest.fixture(scope="module")
def tiny_df(spark, tiny_pdf):
    return spark.createDataFrame(tiny_pdf, schema=SEQUENCES_SCHEMA)


def numpy_oracle_per_source(pdf, p=P):
    out = {}
    for src, grp in pdf.groupby("source"):
        s = HllSketch.empty(p)
        s.update_batch(np.concatenate(grp["tokens"].to_list()).astype(np.int32))
        out[src] = s
    return out


def test_per_source_sketches_match_numpy_oracle(spark, tiny_df, tiny_pdf):
    agg = HllAggregator(p=P, key_cols=["source"])
    merged = {r["source"]: r for r in agg.merged(tiny_df).collect()}
    oracle = numpy_oracle_per_source(tiny_pdf)
    assert set(merged) == set(oracle)
    for src, row in merged.items():
        got = HllSketch.from_bytes(bytes(row["sketch"]))
        assert np.array_equal(got.registers, oracle[src].registers), src
        assert got.cardinality() == oracle[src].cardinality()


def test_partitioning_invariance(spark, tiny_df):
    """Identical final registers regardless of partition count — merge

    associativity/commutativity in action (SURVEY.md §4.2)."""
    agg = HllAggregator(p=P, key_cols=["source"])
    a = {r["source"]: bytes(r["sketch"]) for r in agg.merged(tiny_df.repartition(3)).collect()}
    b = {r["source"]: bytes(r["sketch"]) for r in agg.merged(tiny_df.repartition(17)).collect()}
    assert a == b


def test_salted_merge_equals_unsalted(spark, tiny_df):
    agg = HllAggregator(p=P, key_cols=["source"])
    plain = {r["source"]: bytes(r["sketch"]) for r in agg.merged(tiny_df).collect()}
    salted = {r["source"]: bytes(r["sketch"]) for r in agg.merged(tiny_df, salt=5).collect()}
    assert plain == salted


def test_keyless_global_rollup(spark, tiny_df, tiny_pdf):
    agg = HllAggregator(p=P, key_cols=[])
    row = agg.estimates(tiny_df, salt=4).collect()[0]
    oracle = HllSketch.empty(P)
    oracle.update_batch(np.concatenate(tiny_pdf["tokens"].to_list()).astype(np.int32))
    assert row["est_distinct"] == oracle.cardinality()
    assert row["n_rows"] == len(tiny_pdf)
    assert row["n_items"] == int(tiny_pdf["n_tok"].sum())


def test_global_equals_merge_of_per_source(spark, tiny_df):
    """Set-union rollup: global sketch == merge of per-source sketches."""
    agg = HllAggregator(p=P, key_cols=["source"])
    per_source = [bytes(r["sketch"]) for r in agg.merged(tiny_df).collect()]
    rollup = HllSketch.merge_blobs(per_source, P)
    g = HllAggregator(p=P, key_cols=[]).merged(tiny_df).collect()[0]
    assert np.array_equal(HllSketch.from_bytes(bytes(g["sketch"])).registers, rollup.registers)


def test_int64_and_string_kinds(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "k": ["a"] * 50 + ["b"] * 50,
            "v64": np.arange(100, dtype=np.int64) * 10**10,
            "vs": [f"user-{i}" for i in range(100)],
        }
    )
    df = spark.createDataFrame(pdf)
    for col, kind in [("v64", "int64"), ("vs", "string")]:
        agg = HllAggregator(p=10, key_cols=["k"], value_col=col, value_kind=kind)
        rows = {r["k"]: r for r in agg.merged(df).collect()}
        for key, grp in pdf.groupby("k"):
            oracle = HllSketch.empty(10)
            if kind == "int64":
                oracle.update_batch_int64(grp[col].to_numpy())
            else:
                from sketchlib.kernels import murmur64a_str_array

                oracle.update_hashes(murmur64a_str_array(grp[col].tolist()))
            got = HllSketch.from_bytes(bytes(rows[key]["sketch"]))
            assert np.array_equal(got.registers, oracle.registers), (col, key)


def test_nulls_are_dropped(spark):
    import pandas as pd

    pdf = pd.DataFrame({"k": ["a"] * 4, "v": pd.array([1, None, 3, None], dtype="Int64")})
    df = spark.createDataFrame(pdf)
    agg = HllAggregator(p=8, key_cols=["k"], value_col="v", value_kind="int64")
    row = agg.estimates(df).collect()[0]
    oracle = HllSketch.empty(8)
    oracle.update_batch_int64(np.array([1, 3], dtype=np.int64))
    assert row["est_distinct"] == oracle.cardinality()
    assert row["n_rows"] == 4 and row["n_items"] == 2


def test_per_row_invariant_tokens_unmutated(spark):
    """input_hint invariant: the pipeline never mutates the tokens arrays."""
    df = sequences_df(spark, 2_000).cache()
    before = df.selectExpr("sum(hash(doc_id, tokens)) as h").collect()[0]["h"]
    HllAggregator(p=P, key_cols=["source"]).estimates(df).collect()
    after = df.selectExpr("sum(hash(doc_id, tokens)) as h").collect()[0]["h"]
    assert before == after
    df.unpersist()


def test_distributed_generator_matches_pandas(spark, tiny_pdf):
    got = sequences_df(spark, 2_000, partitions=2).toPandas().sort_values("doc_id")
    exp = tiny_pdf.sort_values("doc_id")
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["source"].tolist() == exp["source"].tolist()
    assert got["n_tok"].tolist() == exp["n_tok"].tolist()
    a = np.concatenate([np.asarray(t) for t in got["tokens"]])
    b = np.concatenate([np.asarray(t) for t in exp["tokens"]])
    assert np.array_equal(a, b)


def test_high_cardinality_grouping(spark, tiny_pdf):
    """Per-doc grouping (2000 keys) exercises the per-group slice path

    and must agree with the numpy oracle per key."""
    from sketchlib.agg import HllAggregator
    from sketchlib.data import SEQUENCES_SCHEMA
    from sketchlib.hll import HllSketch

    df = spark.createDataFrame(tiny_pdf, schema=SEQUENCES_SCHEMA).repartition(3)
    # p=16: 2000 groups x 64KB registers = 131MB > the 64MB dense-matrix
    # budget, forcing the per-group slice path
    agg = HllAggregator(p=16, key_cols=["doc_id"])
    rows = agg.merged(df).collect()
    assert len(rows) == len(tiny_pdf)
    got = {r["doc_id"]: bytes(r["sketch"]) for r in rows}
    rng_rows = tiny_pdf.sample(n=25, random_state=7)
    for _, row in rng_rows.iterrows():
        oracle = HllSketch.empty(16)
        oracle.update_batch(np.asarray(row["tokens"], dtype=np.int32))
        assert got[row["doc_id"]] == oracle.to_bytes(), row["doc_id"]


def test_build_above_dense_p_equals_direct_sketch(tiny_pdf):
    """p=30 sketches are held sparse (no register array): the partial build
    must still give, per key, the bytes of a direct HllSketch build."""
    import pyarrow as pa

    sub = tiny_pdf.head(300)
    batch = pa.RecordBatch.from_pandas(sub[["source", "tokens"]], preserve_index=False)
    agg = HllAggregator(p=30, key_cols=["source"])
    rows = [r for b in agg._make_build_fn()(iter([batch])) for r in b.to_pylist()]
    assert {r["source"] for r in rows} == set(sub["source"])
    for r in rows:
        direct = HllSketch(p=30)
        toks = sub.loc[sub["source"] == r["source"], "tokens"].to_list()
        direct.update_batch(np.concatenate(toks).astype(np.int32))
        assert r["sketch"] == direct.to_bytes(), r["source"]


def test_estimates_above_dense_p_are_exact(spark, tiny_pdf):
    """At p=30 a few thousand distinct tokens per key never share a
    register, so the estimate is the exact distinct count."""
    sub = tiny_pdf.head(300)
    df = spark.createDataFrame(sub, schema=SEQUENCES_SCHEMA).repartition(3)
    got = {
        r["source"]: r["est_distinct"]
        for r in HllAggregator(p=30, key_cols=["source"]).estimates(df).collect()
    }
    exact = {
        src: len(np.unique(np.concatenate(grp["tokens"].to_list())))
        for src, grp in sub.groupby("source")
    }
    assert got == exact


def test_auto_salt_equals_unsalted(spark, tiny_pdf):
    df = spark.createDataFrame(tiny_pdf, schema=SEQUENCES_SCHEMA).repartition(70)
    agg = HllAggregator(p=P, key_cols=["source"])
    plain = {r["source"]: bytes(r["sketch"]) for r in agg.merged(df).collect()}
    auto = {r["source"]: bytes(r["sketch"]) for r in agg.merged(df, salt="auto").collect()}
    assert plain == auto
    # keyless too, with >64 partials to actually trigger the salted stage
    g = HllAggregator(p=P, key_cols=[])
    a = bytes(g.merged(df, salt="auto").collect()[0]["sketch"])
    b = bytes(g.merged(df).collect()[0]["sketch"])
    assert a == b


def test_cube_grouping_sets_from_one_scan(spark):
    """agg.cube() derives every grouping set by re-merging the finest-grain
    sketch rows — estimates must equal a direct build of each set, and the
    NULL-filled key layout must match Spark's native cube()."""
    import pandas as pd

    rng = np.random.default_rng(13)
    pdf = pd.DataFrame(
        {
            "a": rng.choice(["x", "y"], 5_000),
            "b": rng.choice(["u", "v", "w"], 5_000),
            "val": rng.integers(0, 1200, 5_000),
        }
    )
    df = spark.createDataFrame(pdf).repartition(8)
    agg = HllAggregator(p=12, key_cols=["a", "b"], value_col="val", value_kind="int64")
    merged = agg.merged(df).localCheckpoint(eager=True)
    rows = agg.cube(merged).collect()
    got = {
        (r["a"], r["b"]): HllSketch.from_bytes(bytes(r["sketch"])).cardinality()
        for r in rows
    }
    # 2*3 + 2 + 3 + 1 grouping-set rows
    assert len(got) == 12
    # every set's estimate equals an independent direct build of that set
    for keys in (["a", "b"], ["a"], ["b"], []):
        sub = HllAggregator(p=12, key_cols=keys, value_col="val", value_kind="int64")
        for r in sub.estimates(df).collect():
            full_key = tuple(r[k] if k in keys else None for k in ["a", "b"])
            assert got[full_key] == r["est_distinct"], full_key
    # exact parity with native cube() row counts at p=12 on 1200 values
    exact = {
        (r["a"], r["b"]): r["n"]
        for r in df.cube("a", "b").agg(F.countDistinct("val").alias("n")).collect()
    }
    assert set(exact) == set(got)
    # grouping_id uses Spark's bitmask convention (bit set = aggregated out)
    gids = {(r["a"] is None, r["b"] is None): r["grouping_id"] for r in rows}
    assert gids == {(False, False): 0, (False, True): 1, (True, False): 2, (True, True): 3}
    # rollup = the prefix subset of the cube's grouping sets (no (None, b) set)
    roll = agg.rollup(merged).collect()
    assert {r["grouping_id"] for r in roll} == {0, 1, 3}
    assert len(roll) == 6 + 2 + 1


def test_cube_grouping_id_disambiguates_genuine_null_keys(spark):
    """A real NULL group key must stay distinguishable from the rollup row
    that NULLs the same column (the library supports null keys as groups)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "a": [None, None, "x", "x"] * 50,
            "val": list(range(200)),
        }
    )
    df = spark.createDataFrame(pdf)
    agg = HllAggregator(p=12, key_cols=["a"], value_col="val", value_kind="int64")
    merged = agg.merged(df).localCheckpoint(eager=True)
    rows = agg.cube(merged).collect()
    # 2 finest rows (a=NULL genuine, a='x') + 1 total row (a=NULL, gid=1)
    assert len(rows) == 3
    by = {(r["a"], r["grouping_id"]): r for r in rows}
    assert set(by) == {(None, 0), ("x", 0), (None, 1)}
    # exact counts prove the split; estimates within 3 sigma at p=12
    assert by[(None, 0)]["n_rows"] == 100  # the genuine NULL group
    assert by[("x", 0)]["n_rows"] == 100
    assert by[(None, 1)]["n_rows"] == 200  # the grand total
    bound = 3 * 1.04 / 2**6
    est = lambda r: HllSketch.from_bytes(bytes(r["sketch"])).cardinality()
    assert abs(est(by[(None, 0)]) / 100 - 1) <= bound
    assert abs(est(by[(None, 1)]) / 200 - 1) <= bound


def test_file_granularity_shard_planning(spark, tmp_path, monkeypatch):
    """Past the footer-read threshold the planner shards by whole file
    (rg=-1 -> task iterates its file's row groups); results identical to
    row-group planning (VERDICT-class 100TB item: no O(files) driver
    footer reads)."""
    from sketchlib import agg as agg_mod
    from sketchlib.data import sequences_parquet

    path = sequences_parquet(spark, 2_000, cache_root=str(tmp_path))
    agg = HllAggregator(p=10, key_cols=["source"])
    by_rg = {
        r["source"]: bytes(r["sketch"])
        for r in agg.partials_from_parquet(spark, path)
        .groupBy("source")
        .count()
        .join(agg.merged(path, spark=spark), "source")
        .select("source", "sketch")
        .collect()
    }
    a = {r["source"]: bytes(r["sketch"]) for r in agg.merged(path, spark=spark).collect()}
    # force file-granularity planning
    monkeypatch.setattr(agg_mod, "_RG_PLAN_MAX_FILES", 0)
    partials = agg.partials_from_parquet(spark, path)
    b = {
        r["source"]: bytes(r["sketch"])
        for r in agg.merged(partials, is_partials=True).collect()
    }
    assert a == b
    assert set(by_rg) == set(a)


def test_source_mask_histogram_guards(spark):
    """Two guards (VERDICT r03 #6 + review): >63 sources can't fit the long
    bit_or mask at all (fail fast, driver-side); the driver-collect budget
    is enforced on the ACTUAL histogram size (limit + post-check), since
    observed masks are data-dependent — a 25-source corpus with few mask
    patterns must NOT be rejected on the 2^K worst case."""
    import pytest

    import sketchlib.queries as Qmod
    from sketchlib.data import SEQUENCES_SCHEMA, gen_sequences_pandas
    from sketchlib.queries import _source_mask_histogram

    with pytest.raises(ValueError, match="63-bit"):
        _source_mask_histogram(None, [f"s{i}" for i in range(64)])
    df = spark.createDataFrame(gen_sequences_pandas(300), schema=SEQUENCES_SCHEMA)
    srcs = sorted(r["source"] for r in df.select("source").distinct().collect())
    # within budget: works
    masks, cnts = _source_mask_histogram(df, srcs)
    assert cnts.sum() > 0
    # shrink the budget below the observed mask count: the overflow raises
    orig = Qmod._MASK_BUDGET
    try:
        Qmod._MASK_BUDGET = max(1, len(masks) - 1)
        with pytest.raises(ValueError, match="driver-collect"):
            _source_mask_histogram(df, srcs)
    finally:
        Qmod._MASK_BUDGET = orig


def test_time_rollup_coarser_grains_byte_identical(spark):
    """Hypertable law: a day/week sketch derived by re-merging the hour
    rows must be BYTE-identical to one built from the raw events directly
    at that grain (merge associativity), and the returned checkpoint is
    releasable. Underivable grain combinations fail loudly."""
    import datetime as dt

    from sketchlib.session import release

    rows = [
        (i % 7, dt.datetime(2024, 1, 1 + (i % 9), hour=i % 24, minute=i % 60))
        for i in range(500)
    ]
    events = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz")
    agg = HllAggregator(p=12, key_cols=["bucket"], value_col="user_id", value_kind="int64")
    roll = agg.time_rollup(events, "ts", grains=("hour", "day", "week"))
    got = {
        (r["grain"], r["bucket"]): bytes(r["sketch"]) for r in roll.collect()
    }
    for grain in ("hour", "day", "week"):
        direct = agg.merged(
            events.withColumn(
                "bucket", F.date_trunc(grain, "ts").cast("timestamp_ntz")
            )
        )
        want = {r["bucket"]: bytes(r["sketch"]) for r in direct.collect()}
        assert {b: s for (g, b), s in got.items() if g == grain} == want, grain
    assert release(roll) is True
    with pytest.raises(ValueError, match="not derivable"):
        agg.time_rollup(events, "ts", grains=("week", "month"))
    with pytest.raises(ValueError, match="unknown grain"):
        agg.time_rollup(events, "ts", grains=("fortnight",))
    with pytest.raises(ValueError, match="duplicate grains"):
        agg.time_rollup(events, "ts", grains=("hour", "day", "day"))


def test_time_rollup_multi_key_byte_identical_across_batches(spark):
    """Two-key rollup over (event_type, hour) on a tz-aware ``ts``, with a
    null event_type and Arrow batches of 7 rows so groups and merge runs
    straddle batches: every grain equals a direct build at that grain,
    byte for byte."""
    import datetime as dt

    from sketchlib.session import release

    utc = dt.timezone.utc
    rows = [
        (
            None if i == 11 else f"e{i % 3}",
            i % 13,
            dt.datetime(2024, 1, 1 + i % 9, i % 24, i % 60, tzinfo=utc),
        )
        for i in range(600)
    ]
    events = spark.createDataFrame(rows, "event_type string, user_id long, ts timestamp")
    agg = HllAggregator(
        p=10, key_cols=["event_type", "hour"], value_col="user_id", value_kind="int64"
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf, None)
    spark.conf.set(conf, "7")
    try:
        roll = agg.time_rollup(events, "ts", grains=("hour", "day", "week"))
        rolled = roll.collect()
        got = {
            (r["grain"], r["event_type"], r["hour"]): (bytes(r["sketch"]), r["n_rows"])
            for r in rolled
        }
        assert len(got) == len(rolled)  # one row per key and grain
        for grain in ("hour", "day", "week"):
            direct = agg.merged(
                events.withColumn("hour", F.date_trunc(grain, "ts").cast("timestamp"))
            ).collect()
            want = {
                (r["event_type"], r["hour"]): (bytes(r["sketch"]), r["n_rows"])
                for r in direct
            }
            assert len(want) == len(direct)
            assert {k[1:]: v for k, v in got.items() if k[0] == grain} == want, grain
            assert any(et is None for et, _ in want), grain
        release(roll)
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)


def test_keyed_build_and_merge_past_the_matrix_bound(tiny_pdf, monkeypatch):
    """A task whose keys outgrow the register-matrix bound spreads them
    over several matrices (batches whose keys span matrices included), and
    a merge batch with more runs than the bound holds is folded one matrix
    at a time: both give the bytes of the unbounded path (bound shrunk to 3
    keys of p=10 registers here), for token and string values."""
    import pyarrow as pa

    import sketchlib.agg as A

    sub = tiny_pdf.head(400).assign(word=lambda d: d["tokens"].map(lambda t: f"w{t[0] % 50}"))
    assert len(set(sub["source"])) > 3
    table = pa.Table.from_pandas(sub[["source", "tokens", "word"]], preserve_index=False)
    for value_col, kind in (("tokens", "tokens"), ("word", "string")):
        agg = HllAggregator(p=10, key_cols=["source"], value_col=value_col, value_kind=kind)
        # 2-row batches: the first keys fit the bound, later ones outgrow
        # it; 7-row batches: one batch's keys span matrices
        for size in (2, 7):
            monkeypatch.setattr(A, "_MATRIX_BYTES", 64 << 20)
            build = lambda: list(agg._make_build_fn()(iter(table.to_batches(max_chunksize=size))))  # noqa: E731
            unbounded = pa.Table.from_batches(build())
            monkeypatch.setattr(A, "_MATRIX_BYTES", 3 << 10)
            assert pa.Table.from_batches(build()).to_pylist() == unbounded.to_pylist(), (kind, size)
    agg = HllAggregator(p=10, key_cols=["source"])
    batches = table.to_batches(max_chunksize=2)
    bounded = pa.Table.from_batches(list(agg._make_build_fn()(iter(batches))))
    blobs = pa.array([HllSketch.empty(10).to_bytes()] + bounded.column("sketch").to_pylist())
    starts = np.array([0, 1, 2, 4, 5, 9])
    merged = agg._merged_runs(blobs, starts, None)
    monkeypatch.setattr(A, "_MATRIX_BYTES", 64 << 20)
    assert agg._merged_runs(blobs, starts, None).to_pylist() == merged.to_pylist()
    for r in bounded.to_pylist():
        direct = HllSketch(p=10)
        toks = sub.loc[sub["source"] == r["source"], "tokens"].to_list()
        direct.update_batch(np.concatenate(toks).astype(np.int32))
        assert r["sketch"] == direct.to_bytes(), r["source"]


def test_source_mask_histogram_of_a_source_subset(spark):
    """Sources outside ``srcs`` are left out of the histogram, instead of
    giving their tokens a NULL mask (which used to raise TypeError)."""
    from sketchlib.data import SEQUENCES_SCHEMA, gen_sequences_pandas
    from sketchlib.queries import _source_mask_histogram

    pdf = gen_sequences_pandas(200)
    df = spark.createDataFrame(pdf, schema=SEQUENCES_SCHEMA)
    srcs = sorted(set(pdf["source"]))
    assert len(srcs) > 1
    masks, cnts = _source_mask_histogram(df, srcs[:1])
    own = pdf.loc[pdf["source"] == srcs[0], "tokens"].to_list()
    assert masks.tolist() == [1]
    assert cnts.tolist() == [len(np.unique(np.concatenate(own)))]
