"""Streaming incremental sketches: micro-batch updates converge to the exact

batch-build answer (stream/batch parity)."""

import os

import numpy as np
import pytest

from sketchlib.data import SEQUENCES_SCHEMA, gen_sequences_pandas
from sketchlib.hll import HllSketch
from sketchlib.streaming import hll_streaming_estimates

P = 12


def test_streaming_matches_batch_oracle(spark, tmp_path):
    pdf = gen_sequences_pandas(2_000)
    b1, b2 = pdf.iloc[:1_000], pdf.iloc[1_000:]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(b1, schema=SEQUENCES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    stream = (
        spark.readStream.schema(SEQUENCES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    est = hll_streaming_estimates(stream, p=P)
    q = (
        est.writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {
            r["source"]: r
            for r in spark.sql(
                "select * from hll_stream"
            ).collect()
        }
        for src, grp in b1.groupby("source"):
            oracle = HllSketch.empty(P)
            oracle.update_batch(np.concatenate(grp["tokens"].to_list()).astype(np.int32))
            assert got1[src]["est_distinct"] == oracle.cardinality(), f"batch1 {src}"
            assert got1[src]["n_rows"] == len(grp)

        # second micro-batch arrives; state must accumulate
        spark.createDataFrame(b2, schema=SEQUENCES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        q.processAllAvailable()
        rows = spark.sql("select * from hll_stream").collect()
        # latest emission per source = the one with max n_rows
        latest = {}
        for r in rows:
            if r["source"] not in latest or r["n_rows"] > latest[r["source"]]["n_rows"]:
                latest[r["source"]] = r
        for src, grp in pdf.groupby("source"):
            oracle = HllSketch.empty(P)
            oracle.update_batch(np.concatenate(grp["tokens"].to_list()).astype(np.int32))
            assert latest[src]["est_distinct"] == oracle.cardinality(), f"cumulative {src}"
            assert latest[src]["n_rows"] == len(grp)
            assert latest[src]["n_items"] == int(grp["n_tok"].sum())
    finally:
        q.stop()


def test_hll_rejects_double_values_on_the_driver(spark):
    """HLL hashes integers and strings only: a double value column must fail
    at construction, on the driver, instead of answering est_distinct 0 in
    the streaming wrapper (or failing inside an executor task in batch)."""
    from sketchlib.agg import HllAggregator

    with pytest.raises(ValueError, match="double"):
        HllAggregator(value_col="v", value_kind="double")
    df = spark.createDataFrame([("a", 1.5)], "source string, v double")
    with pytest.raises(ValueError, match="double"):
        hll_streaming_estimates(df, value_col="v", value_kind="double")


def test_windowed_streaming_with_watermark(spark, tmp_path):
    """Event-time windowed sketches: per-(window, key) estimates match the

    batch oracle; late data beyond the watermark is dropped."""
    import pandas as pd
    from pyspark.sql import types as T

    from sketchlib.streaming import hll_windowed_streaming_estimates

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("user_id", T.LongType(), False),
        ]
    )
    base = pd.Timestamp("2026-01-01 00:00:00")
    rng = np.random.default_rng(0)

    def batch(hours, n):
        return pd.DataFrame(
            {
                "ts": [base + pd.Timedelta(hours=h) for h in rng.choice(hours, n)],
                "event_type": rng.choice(["click", "view"], n),
                "user_id": rng.integers(0, 500, n),
            }
        )

    in_dir = str(tmp_path / "win_in")
    os.makedirs(in_dir)
    b1 = batch([0.1, 0.5, 1.2], 2_000)
    spark.createDataFrame(b1, schema=schema).coalesce(1).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    est = hll_windowed_streaming_estimates(
        stream, ts_col="ts", window_duration="1 hour", watermark="30 minutes", p=12
    )
    q = (
        est.writeStream.format("memory")
        .queryName("win_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from win_stream").collect()
        latest = {}
        for r in rows:
            k = (r["window_start"], r["event_type"])
            if k not in latest or r["n_rows"] > latest[k]["n_rows"]:
                latest[k] = r
        # batch oracle per (window, key)
        from sketchlib.hll import HllSketch

        b1w = b1.assign(win=b1["ts"].dt.floor("1h"))
        for (win, et), grp in b1w.groupby(["win", "event_type"]):
            oracle = HllSketch.empty(12)
            oracle.update_batch_int64(grp["user_id"].to_numpy())
            key = (win.to_pydatetime(), et)
            got = {(k[0], k[1]): v for k, v in latest.items()}[key]
            assert got["est_distinct"] == oracle.cardinality(), (win, et)
            assert got["n_rows"] == len(grp)
    finally:
        q.stop()


def test_finalized_windows_append_mode(spark, tmp_path):
    """Append-mode windowed HLL: a window's final row is emitted exactly once
    when the watermark passes its end; late rows beyond the watermark don't
    contaminate it; still-open windows emit nothing."""
    import pandas as pd
    from pyspark.sql import types as T

    from sketchlib.hll import HllSketch
    from sketchlib.streaming import hll_windowed_finalized_estimates

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("user_id", T.LongType(), False),
        ]
    )
    base = pd.Timestamp("2026-03-01 00:00:00")
    rng = np.random.default_rng(7)

    def mk(hours, n):
        return pd.DataFrame(
            {
                "ts": [base + pd.Timedelta(hours=h) for h in rng.choice(hours, n)],
                "event_type": rng.choice(["click", "view"], n),
                "user_id": rng.integers(0, 300, n),
            }
        )

    in_dir = str(tmp_path / "fin_in")
    os.makedirs(in_dir)

    def feed(pdf, q=None):
        spark.createDataFrame(pdf, schema=schema).coalesce(1).write.mode("append").parquet(
            in_dir
        )
        if q is not None:
            q.processAllAvailable()

    b1 = mk([0.1, 0.6, 1.2, 1.7], 1_500)  # windows W0 [00,01) and W1 [01,02)
    feed(b1)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    fin = hll_windowed_finalized_estimates(
        stream, ts_col="ts", window_duration="1 hour", watermark="30 minutes", p=12
    )
    q = (
        fin.writeStream.format("memory")
        .queryName("fin_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "fin_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # nothing closed yet: watermark = 01:42 - 30m = 01:12 < W1 end,
        # W0 end (01:00) < 01:12 -> W0 fires only on the NEXT batch
        heartbeat = mk([3.0], 50)  # advances watermark to 02:30
        feed(heartbeat, q)
        late = mk([0.2], 100)  # behind the 02:30 watermark -> dropped
        feed(late, q)
        feed(mk([6.0], 5), q)  # watermark -> 05:30 (fires W0/W1/W2/W3 closes)
        feed(mk([6.0], 5), q)  # one more batch so 05:30 timeouts fire
        rows = spark.sql("select * from fin_test").collect()
    finally:
        q.stop()

    got = {}
    for r in rows:
        k = (r["window_start"], r["event_type"])
        assert k not in got, f"window {k} emitted twice in append mode"
        got[k] = r
    # oracle: b1 + heartbeat rows, NOT the late batch (dropped), NOT the
    # 06:00 window (still open when the stream ended)
    closed = pd.concat([b1, heartbeat]).assign(win=lambda d: d["ts"].dt.floor("1h"))
    expected_keys = set()
    for (win, et), grp in closed.groupby(["win", "event_type"]):
        key = (win.to_pydatetime(), et)
        expected_keys.add(key)
        oracle = HllSketch.empty(12)
        oracle.update_batch_int64(grp["user_id"].to_numpy())
        assert key in got, key
        assert got[key]["est_distinct"] == oracle.cardinality(), key
        assert got[key]["n_rows"] == len(grp), key
    assert set(got) == expected_keys  # open 06:00 windows never emitted


def test_generic_streaming_cms_and_kll(spark, tmp_path):
    """The generic streaming wrapper runs CMS totals and KLL medians per key

    with exact/bounded agreement against batch oracles."""
    import pandas as pd
    from pyspark.sql import types as T

    from sketchlib.agg import CmsAggregator, KllAggregator
    from sketchlib.cms import CountMinSketch
    from sketchlib.streaming import sketch_streaming

    rng = np.random.default_rng(1)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b"], 4_000),
            "v": rng.normal(50, 10, 4_000),
        }
    )
    schema = T.StructType(
        [T.StructField("k", T.StringType(), False), T.StructField("v", T.DoubleType(), False)]
    )
    in_dir = str(tmp_path / "gen_in")
    os.makedirs(in_dir)
    half = len(pdf) // 2
    spark.createDataFrame(pdf.iloc[:half], schema=schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    spark.createDataFrame(pdf.iloc[half:], schema=schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    kagg = KllAggregator(k=200, key_cols=[], value_col="v", value_kind="double")
    est = sketch_streaming(
        stream,
        kagg,
        key_col="k",
        finalize_fields=[T.StructField("median", T.DoubleType(), False)],
        finalize_fn=lambda s: {"median": s.quantile(0.5)},
    )
    q = (
        est.writeStream.format("memory")
        .queryName("kll_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "gen_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from kll_stream").collect()
        latest = {}
        for r in rows:
            if r["k"] not in latest or r["n_rows"] > latest[r["k"]]["n_rows"]:
                latest[r["k"]] = r
        for key, grp in pdf.groupby("k"):
            med = latest[key]["median"]
            rank = (grp["v"] <= med).mean()
            assert abs(rank - 0.5) < 0.05, (key, med, rank)
            assert latest[key]["n_rows"] == len(grp)
    finally:
        q.stop()


def test_generic_windowed_append_mode_kll(spark, tmp_path):
    """The generic wrapper's append mode: one finalized row per closed
    window with a KLL median, matching the per-window batch oracle."""
    import pandas as pd
    from pyspark.sql import types as T

    from sketchlib.agg import KllAggregator
    from sketchlib.streaming import sketch_streaming_windowed

    rng = np.random.default_rng(6)
    base = pd.Timestamp("2026-04-01")
    pdf = pd.DataFrame(
        {
            "ts": [base + pd.Timedelta(minutes=int(m)) for m in rng.integers(0, 120, 3000)],
            "k": rng.choice(["x", "y"], 3000),
            "v": rng.normal(20, 4, 3000),
        }
    )
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.DoubleType(), False),
        ]
    )
    in_dir = str(tmp_path / "ga_in")
    os.makedirs(in_dir)
    spark.createDataFrame(pdf, schema=schema).coalesce(1).write.mode("append").parquet(in_dir)
    agg = KllAggregator(k=200, key_cols=[], value_col="v", value_kind="double")
    est = sketch_streaming_windowed(
        stream=spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir),
        agg=agg,
        ts_col="ts",
        key_col="k",
        finalize_fields=[T.StructField("median", T.DoubleType(), False)],
        finalize_fn=lambda s: {"median": s.quantile(0.5)},
        window_duration="1 hour",
        watermark="10 minutes",
        mode="append",
    )
    q = (
        est.writeStream.format("memory")
        .queryName("ga_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ga_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # two heartbeat batches flush every real window
        hb = pd.DataFrame(
            {"ts": [base + pd.Timedelta(days=30)], "k": ["__hb__"], "v": [0.0]}
        )
        for _ in range(2):
            spark.createDataFrame(hb, schema=schema).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)
            q.processAllAvailable()
        rows = [r for r in spark.sql("select * from ga_stream").collect() if r["k"] != "__hb__"]
    finally:
        q.stop()
    got = {}
    for r in rows:
        key = (r["window_start"], r["k"])
        assert key not in got, "append mode emitted a window twice"
        got[key] = r
    pdfw = pdf.assign(win=pdf["ts"].dt.floor("1h"))
    for (win, kk), grp in pdfw.groupby(["win", "k"]):
        g = got[(win.to_pydatetime(), kk)]
        assert g["n_rows"] == len(grp)
        rank = (grp["v"] <= g["median"]).mean()
        assert abs(rank - 0.5) < 0.06, (win, kk, rank)
    assert len(got) == pdfw.groupby(["win", "k"]).ngroups


def test_generic_windowed_streaming_tdigest(spark, tmp_path):
    """Windowed generic wrapper with a t-digest: per-(window, key) p50 within

    bound of the batch oracle."""
    import pandas as pd
    from pyspark.sql import types as T

    from sketchlib.agg import TDigestAggregator
    from sketchlib.streaming import sketch_streaming_windowed

    rng = np.random.default_rng(4)
    base = pd.Timestamp("2026-02-01")
    pdf = pd.DataFrame(
        {
            "ts": [base + pd.Timedelta(minutes=int(m)) for m in rng.integers(0, 120, 3000)],
            "k": rng.choice(["x", "y"], 3000),
            "v": rng.normal(10, 2, 3000),
        }
    )
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.DoubleType(), False),
        ]
    )
    in_dir = str(tmp_path / "wg_in")
    os.makedirs(in_dir)
    spark.createDataFrame(pdf, schema=schema).coalesce(1).write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    agg = TDigestAggregator(delta=100, key_cols=[], value_col="v", value_kind="double")
    est = sketch_streaming_windowed(
        stream,
        agg,
        ts_col="ts",
        key_col="k",
        finalize_fields=[T.StructField("p50", T.DoubleType(), False)],
        finalize_fn=lambda s: {"p50": s.quantile(0.5)},
        window_duration="1 hour",
        watermark="30 minutes",
    )
    q = (
        est.writeStream.format("memory")
        .queryName("wg_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "wg_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from wg_stream").collect()
        latest = {}
        for r in rows:
            kk = (r["window_start"], r["k"])
            if kk not in latest or r["n_rows"] > latest[kk]["n_rows"]:
                latest[kk] = r
        pdfw = pdf.assign(win=pdf["ts"].dt.floor("1h"))
        for (win, kk), grp in pdfw.groupby(["win", "k"]):
            got = latest[(win.to_pydatetime(), kk)]
            rank = (grp["v"] <= got["p50"]).mean()
            assert abs(rank - 0.5) < 0.06, (win, kk, rank)
            assert got["n_rows"] == len(grp)
    finally:
        q.stop()

def test_generic_streaming_kmv_byte_parity(spark, tmp_path):
    """KMV through the generic streaming wrapper: the final per-key state
    must be BYTE-identical to the batch sketch (order-exact k-smallest-hash
    algebra — the same law the batch parallelism-invariance test pins)."""
    import pandas as pd
    from pyspark.sql import types as T

    from sketchlib.agg import KmvAggregator
    from sketchlib.kmv import KmvSketch
    from sketchlib.streaming import sketch_streaming

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b"], 4_000),
            "v": rng.integers(0, 50_000, 4_000).astype("int64"),
        }
    )
    schema = T.StructType(
        [T.StructField("k", T.StringType(), False), T.StructField("v", T.LongType(), False)]
    )
    in_dir = str(tmp_path / "kmv_in")
    os.makedirs(in_dir)
    half = len(pdf) // 2
    for part in (pdf.iloc[:half], pdf.iloc[half:]):
        spark.createDataFrame(part, schema=schema).coalesce(1).write.mode("append").parquet(
            in_dir
        )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    agg = KmvAggregator(k=512, key_cols=[], value_col="v", value_kind="int64")
    est = sketch_streaming(
        stream,
        agg,
        key_col="k",
        finalize_fields=[
            T.StructField("est_distinct", T.LongType(), False),
            T.StructField("blob", T.BinaryType(), False),
        ],
        finalize_fn=lambda s: {"est_distinct": s.estimate(), "blob": s.to_bytes()},
    )
    q = (
        est.writeStream.format("memory")
        .queryName("kmv_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "kmv_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from kmv_stream").collect()
    finally:
        q.stop()
    latest = {}
    for r in rows:
        if r["k"] not in latest or r["n_rows"] > latest[r["k"]]["n_rows"]:
            latest[r["k"]] = r
    for key, grp in pdf.groupby("k"):
        batch = KmvSketch.empty(512)
        batch.update_batch(grp["v"].to_numpy(), kind="int64")
        assert bytes(latest[key]["blob"]) == batch.to_bytes(), key
        assert latest[key]["est_distinct"] == batch.estimate()
        assert latest[key]["n_rows"] == len(grp)


def test_streaming_first_seen_matches_batch_dedup(spark, tmp_path):
    """streaming_first_seen: the final per-fingerprint survivor equals the
    batch groupBy(fp).min(keep) at ANY micro-batch split (min associativity
    — the dedup analogue of the sketch parity law), duplicates counted
    exactly, and a dup arriving in a LATER batch still loses to the earlier
    smaller doc_id (cross-batch state)."""
    import pandas as pd
    from pyspark.sql import types as T

    from sketchlib.streaming import streaming_first_seen

    rows1 = pd.DataFrame(
        {"doc_id": ["d003", "d001", "d005"], "fp": [10, 20, 30]}
    )
    # batch 2: d000 is a dup of fp=10 with a SMALLER id than batch 1's d003;
    # d009 dups fp=20 with a larger id (must lose to d001)
    rows2 = pd.DataFrame(
        {"doc_id": ["d000", "d009", "d007"], "fp": [10, 20, 40]}
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("fp", T.LongType(), False),
        ]
    )
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    ckpt = str(tmp_path / "ckpt")
    for b in (rows1, rows2):
        spark.createDataFrame(b, schema=schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        streaming_first_seen(stream, "fp", "doc_id")
        .writeStream.format("memory")
        .queryName("first_seen")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    rows = spark.sql("SELECT * FROM first_seen").collect()
    final = {}
    for r in rows:
        if r["fp"] not in final or r["n_occurrences"] > final[r["fp"]]["n_occurrences"]:
            final[r["fp"]] = r
    assert {(k, v["doc_id"], v["n_occurrences"]) for k, v in final.items()} == {
        (10, "d000", 2),
        (20, "d001", 2),
        (30, "d005", 1),
        (40, "d007", 1),
    }
    spark.catalog.dropTempView("first_seen")


def test_streaming_bloom_dedup_cross_batch(spark, tmp_path):
    """Bloom-gated streaming dedup: a fingerprint seen in batch 1 is
    dropped in batch 2 (no false negatives, ever); a fresh fingerprint in
    batch 2 survives; survivors are unique per fingerprint."""
    import pandas as pd
    from pyspark.sql import types as T

    from sketchlib.streaming import streaming_bloom_dedup

    rows1 = pd.DataFrame({"doc_id": [3, 1, 5], "fp": [10, 20, 30]})
    rows2 = pd.DataFrame({"doc_id": [9, 7], "fp": [10, 40]})  # 10 is a dup
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("fp", T.LongType(), False),
        ]
    )
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for b in (rows1, rows2):
        spark.createDataFrame(b, schema=schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        streaming_bloom_dedup(stream, "fp", "doc_id", shards=4, m_log2=16)
        .writeStream.format("memory")
        .queryName("bloom_dedup")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    rows = spark.sql("SELECT fp, doc_id FROM bloom_dedup").collect()
    got = {(r["fp"], r["doc_id"]) for r in rows}
    assert got == {(10, 3), (20, 1), (30, 5), (40, 7)}
    assert len(rows) == len({r["fp"] for r in rows})  # unique survivors
    spark.catalog.dropTempView("bloom_dedup")

def test_generic_streaming_fi_byte_parity(spark, tmp_path):
    """Frequent-items through the generic streaming wrapper. In the exact
    regime (distinct domain < 4x capacity: no trims ever) the per-key state
    is chunking-independent, so the final streaming state must be
    BYTE-identical to the one-shot batch sketch — which also pins that the
    state restore path (merge_blobs on a single blob) is an identity and
    never applies a spurious trim between micro-batches."""
    import pandas as pd
    from pyspark.sql import types as T

    from sketchlib.agg import FiAggregator
    from sketchlib.fi import FrequentItemsSketch
    from sketchlib.streaming import sketch_streaming

    rng = np.random.default_rng(12)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b"], 4_000),
            "v": rng.integers(0, 1_000, 4_000).astype("int64"),  # < 4*512 distinct
        }
    )
    schema = T.StructType(
        [T.StructField("k", T.StringType(), False), T.StructField("v", T.LongType(), False)]
    )
    in_dir = str(tmp_path / "fi_in")
    os.makedirs(in_dir)
    half = len(pdf) // 2
    for part in (pdf.iloc[:half], pdf.iloc[half:]):
        spark.createDataFrame(part, schema=schema).coalesce(1).write.mode("append").parquet(
            in_dir
        )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    agg = FiAggregator(capacity=512, key_cols=[], value_col="v", value_kind="int64")
    est = sketch_streaming(
        stream,
        agg,
        key_col="k",
        finalize_fields=[
            T.StructField("err", T.LongType(), False),
            T.StructField("blob", T.BinaryType(), False),
        ],
        finalize_fn=lambda s: {"err": s.error, "blob": s.to_bytes()},
    )
    q = (
        est.writeStream.format("memory")
        .queryName("fi_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "fi_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from fi_stream").collect()
    finally:
        q.stop()
    latest = {}
    for r in rows:
        if r["k"] not in latest or r["n_rows"] > latest[r["k"]]["n_rows"]:
            latest[r["k"]] = r
    for key, grp in pdf.groupby("k"):
        batch = FrequentItemsSketch.empty(512)
        batch.update_batch(grp["v"].to_numpy(), kind="int64")
        assert bytes(latest[key]["blob"]) == batch.to_bytes(), key
        assert latest[key]["err"] == 0  # exact regime end-to-end
        assert latest[key]["n_rows"] == len(grp)


def test_streaming_sketch_on_unbounded_rate_source(spark, tmp_path):
    """The keyed streaming sketch runs on a genuinely UNBOUNDED built-in
    source (rate-micro-batch — deterministic monotone values, no files, the
    closest sandbox stand-in for a Kafka topic): stop after a few
    micro-batches and the per-key state must equal a batch sketch built
    over exactly the values the source emitted (consecutive from 0)."""
    import time

    import pyspark.sql.functions as F

    from sketchlib.agg import HllAggregator
    from sketchlib.streaming import sketch_streaming
    from pyspark.sql import types as T

    rows_per_batch = 600
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
        .select(
            F.pmod("value", F.lit(3)).cast("string").alias("key"),
            F.col("value").alias("uid"),
        )
    )
    agg = HllAggregator(p=12, key_cols=["key"], value_col="uid", value_kind="int64")
    out = sketch_streaming(
        stream,
        agg,
        key_col="key",
        finalize_fields=[T.StructField("estimate", T.LongType(), False)],
        finalize_fn=lambda sk: {"estimate": sk.cardinality()},
    )
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName("rate_sketches")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        deadline = time.time() + 120
        while time.time() < deadline:
            if any(p["batchId"] >= 2 for p in q.recentProgress):
                break
            time.sleep(0.3)
        q.stop()
        q.awaitTermination(30)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before_parts)
    rows = spark.sql("select * from rate_sketches").collect()
    assert rows, "no micro-batch output captured"
    latest = {}
    for r in rows:  # update mode appends one row per (batch, key): keep latest
        if r["key"] not in latest or r["n_rows"] > latest[r["key"]]["n_rows"]:
            latest[r["key"]] = r
    n_total = sum(r["n_rows"] for r in latest.values())
    assert n_total % rows_per_batch == 0 and n_total >= 3 * rows_per_batch
    # the source emitted exactly the values 0..n_total-1: rebuild per key
    import numpy as np

    from sketchlib.hll import HllSketch

    values = np.arange(n_total, dtype=np.int64)
    for key, r in latest.items():
        expect = HllSketch.empty(12)
        expect.update_batch_int64(values[values % 3 == int(key)])
        assert r["estimate"] == expect.cardinality(), key
        assert r["n_items"] == int((values % 3 == int(key)).sum()), key


class _CompanionFailed(RuntimeError):
    pass


def _fail(*args, **kwargs):
    raise _CompanionFailed("batch companion failed")


@pytest.mark.parametrize(
    "query, companion",
    [
        ("streaming_hll_parity", "HllAggregator.estimates"),
        ("streaming_windowed_users", "HllAggregator.estimates"),
        ("streaming_finalized_windows", "HllAggregator.estimates"),
        ("streaming_dedup_docs", "load_table"),
    ],
)
def test_failed_companion_stops_streams_and_drops_sink_views(
    spark, tmp_path, monkeypatch, query, companion
):
    """The stream-parity queries start their memory-sink streams, then run
    the batch companion while they drain. When the companion raises, the
    error must propagate with every stream stopped, every sink view
    dropped and every stream checkpoint removed."""
    import pandas as pd

    from sketchlib import queries as Q
    from sketchlib.agg import HllAggregator

    sf_dir = tmp_path / "sf0.001"
    sf_dir.mkdir()
    n = 300
    pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=n, freq="37min").astype("datetime64[us]"),
            "user_id": np.arange(n, dtype=np.int64) % 17,
            "event_type": np.array(["click", "view", "purchase"])[np.arange(n) % 3],
        }
    ).to_parquet(sf_dir / "events.parquet")
    pd.DataFrame(
        {"doc_id": np.arange(60, dtype=np.int64), "text": [f"doc {i % 25}" for i in range(60)]}
    ).to_parquet(sf_dir / "documents.parquet")
    sf_dir = str(sf_dir)
    scratch = tmp_path / "scratch"
    monkeypatch.setenv("SKETCHLIB_SCRATCH", str(scratch))
    # the documents stream source is dataset prep built through load_table
    # before any stream starts; build it now so only the companion fails
    Q._docs_fp_stream_dir(spark, sf_dir)
    if companion == "load_table":
        monkeypatch.setattr(Q, "load_table", _fail)
    else:
        monkeypatch.setattr(HllAggregator, "estimates", _fail)

    views_before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    with pytest.raises(_CompanionFailed):
        getattr(Q, query)(spark, sf_dir)
    assert spark.streams.active == []
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == views_before
    # only the cached stream sources (dataset prep) stay in the scratch root
    prep = ("sketchlib_stream_src_", "sketchlib_stream_docs_")
    assert [d for d in os.listdir(scratch) if not d.startswith(prep)] == []
