"""Partial schemas declared, not inferred: the direct-parquet build derives
its schema from the parquet footer, and checkpoint reads use the schema
Spark wrote. Both must equal what Spark's own inference gives."""

import datetime as dt
import decimal
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as papq
import pytest

from sketchlib.agg import _LINEAGE_FIELDS, HllAggregator
from sketchlib.io import CheckpointedBuild
from test_plans import _jobs

N_ROWS = 40_000


def _keys(kind: str) -> pa.Array:
    """Three key values in sorted runs, every 7th row NULL. A dictionary
    column's dictionary also holds a value no row uses (it survives the
    parquet round trip), and the runs are longer than a reader batch, so
    its batches hold dictionary values none of their rows use."""
    make, arrow_type = {
        "int": (int, pa.int32()),
        "long": (int, pa.int64()),
        "short": (int, pa.int16()),
        "bool": (lambda x: x == 1, pa.bool_()),
        "string": (lambda x: f"k{x}", pa.string()),
        "large_string": (lambda x: f"k{x}", pa.large_string()),
        "dictionary": (lambda x: f"k{x}", pa.string()),
        "double": (lambda x: x * 0.5, pa.float64()),
        "date": (lambda x: dt.date(2024, 1, 1 + x), pa.date32()),
        "decimal": (lambda x: decimal.Decimal(f"{x}.25"), pa.decimal128(10, 2)),
        "timestamp_tz": (lambda x: dt.datetime(2024, 1, 1, x), pa.timestamp("us", tz="UTC")),
        "timestamp_naive": (lambda x: dt.datetime(2024, 1, 1, x), pa.timestamp("us")),
    }[kind]
    runs = (np.arange(N_ROWS) * 3 // N_ROWS).tolist()
    keys = pa.array([None if r % 7 == 0 else make(x) for r, x in enumerate(runs)], arrow_type)
    if kind != "dictionary":
        return keys
    enc = keys.dictionary_encode()
    return pa.DictionaryArray.from_arrays(
        enc.indices, pa.concat_arrays([enc.dictionary, pa.array(["unused"])])
    )


KINDS = [
    "int", "long", "short", "bool", "string", "large_string", "dictionary",
    "double", "date", "decimal", "timestamp_tz", "timestamp_naive",
]


@pytest.mark.parametrize("kind", KINDS)
def test_derived_partial_schema_equals_spark_inference(spark, tmp_path, kind):
    """For each key type the derived schema is the one Spark infers for the
    same columns, and the direct-parquet merge gives the DataFrame path's
    rows (a dictionary key included: its unused entries make no rows)."""
    keys = _keys(kind)
    table = pa.table({"k": keys, "v": pa.array(np.arange(N_ROWS, dtype=np.int64))})
    papq.write_table(table, str(tmp_path / "part-0.parquet"), row_group_size=N_ROWS // 2)
    assert papq.read_schema(str(tmp_path / "part-0.parquet")).field("k").type == keys.type
    path = str(tmp_path)

    agg = HllAggregator(p=8, key_cols=["k"], value_col="v", value_kind="int64")
    inferred = spark.read.parquet(path)
    for per_shard in (False, True):
        derived = agg.partials_from_parquet(spark, path, per_shard=per_shard).schema
        expected = agg._partial_schema(inferred.select("k", "v")).fields
        if per_shard:
            expected = expected + _LINEAGE_FIELDS
        assert derived.fields == expected, kind

    def rows(df):
        return sorted(
            (tuple(r) for r in df.select("k", "sketch", "n_rows", "n_items").collect()),
            key=repr,
        )

    direct = rows(agg.merged(path, spark=spark))
    assert direct == rows(agg.merged(inferred))
    assert sum(r[2] for r in direct) == N_ROWS
    assert all(r[2] > 0 for r in direct)


def _spark_timestamp_table(spark, root) -> str:
    """A Spark-written table with a timestamp key: Spark writes INT96."""
    path = str(root / "spark_ts")
    spark.range(1_000).selectExpr(
        "timestamp_seconds(id % 3 * 3600) AS ts", "id AS v"
    ).write.parquet(path)
    return path


def _unsigned_table(root) -> str:
    path = root / "uint"
    path.mkdir()
    papq.write_table(
        pa.table({"k": pa.array(np.arange(100) % 3, pa.uint32()), "v": pa.array(np.arange(100))}),
        str(path / "part-0.parquet"),
    )
    return str(path)


@pytest.mark.parametrize("table,arrow_type", [("int96", r"timestamp\[ns\]"), ("uint32", "uint32")])
def test_unreadable_key_type_fails_on_the_driver(spark, tmp_path, table, arrow_type):
    """A key column whose Arrow type Spark cannot read back from a task
    (an INT96 timestamp, which pyarrow reads as timestamp[ns]; an unsigned
    int) raises ValueError naming the column and type before any job runs,
    instead of UNSUPPORTED_ARROWTYPE in the executor."""
    path = _spark_timestamp_table(spark, tmp_path) if table == "int96" else _unsigned_table(tmp_path)
    key = "ts" if table == "int96" else "k"
    agg = HllAggregator(p=8, key_cols=[key], value_col="v", value_kind="int64")

    def build_both():
        with pytest.raises(ValueError, match=rf"'{key}' has Arrow type {arrow_type}"):
            agg.merged(path, spark=spark)
        with pytest.raises(ValueError, match=rf"'{key}' has Arrow type {arrow_type}"):
            CheckpointedBuild(agg, str(tmp_path / "ckpt")).run(spark, path)

    assert _jobs(spark, build_both) == 0


def test_missing_column_fails_on_the_driver(spark, tmp_path):
    path = _unsigned_table(tmp_path)
    agg = HllAggregator(p=8, key_cols=["nope"], value_col="v", value_kind="int64")
    with pytest.raises(ValueError, match="nope"):
        agg.partials_from_parquet(spark, path)


def test_checkpoint_reads_with_the_schema_spark_wrote(spark, tmp_path):
    """The checkpoint's partials schema is the one Spark infers, for a
    timestamp key Spark wrote as INT96, a naive (NTZ) timestamp key and a
    string key, over a checkpoint appended in two runs; rows and merged
    sketches read back the same as through inference."""
    n = 3_000
    i = np.arange(n)
    table = pa.table({
        "ts": pa.array((i % 3 * 3600 * 10**6).astype(np.int64)).cast(pa.timestamp("us", tz="UTC")),
        "local": pa.array((i % 2 * 60 * 10**6).astype(np.int64)).cast(pa.timestamp("us")),
        "k": pa.array([f"k{x % 2}" for x in i]),
        "v": pa.array(i.astype(np.int64)),
    })
    (tmp_path / "input").mkdir()
    papq.write_table(table, str(tmp_path / "input" / "part-0.parquet"), row_group_size=1_000)
    path = str(tmp_path / "input")

    agg = HllAggregator(p=8, key_cols=["ts", "local", "k"], value_col="v", value_kind="int64")
    ckpt = CheckpointedBuild(agg, str(tmp_path / "ckpt"), run_id="ts")
    assert ckpt.run(spark, path, max_shards=1) == 1
    assert ckpt.run(spark, path) == 2

    parts = sorted(f for f in os.listdir(ckpt.ckpt_dir) if f.startswith("part-"))
    physical = papq.ParquetFile(os.path.join(ckpt.ckpt_dir, parts[0])).schema.column(0)
    assert (physical.name, physical.physical_type) == ("ts", "INT96")

    inferred = spark.read.parquet(ckpt.ckpt_dir)
    assert ckpt.partials(spark).schema == inferred.schema
    assert sorted(map(tuple, ckpt.partials(spark).collect())) == sorted(map(tuple, inferred.collect()))

    def blobs(df):
        return sorted((r["ts"], r["local"], r["k"], bytes(r["sketch"])) for r in df.collect())

    assert blobs(ckpt.merged(spark)) == blobs(agg.merged(path, spark=spark))
    assert blobs(ckpt.merged(spark)) == blobs(
        agg.merged(inferred.drop("shard_id", "wall_secs"), is_partials=True)
    )
