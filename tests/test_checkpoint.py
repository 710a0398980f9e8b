"""Checkpoint/resume: interrupted builds resume to byte-identical answers."""

import numpy as np
import pytest

from sketchlib.agg import HllAggregator
from sketchlib.data import sequences_parquet
from sketchlib.hll import HllSketch
from sketchlib.io import CheckpointedBuild, enumerate_shards


@pytest.fixture(scope="module")
def seq_path(spark, tmp_path_factory):
    return sequences_parquet(
        spark, 20_000, cache_root=str(tmp_path_factory.mktemp("seqcache"))
    )


def test_resume_produces_identical_sketches(spark, seq_path, tmp_path):
    agg = HllAggregator(p=12, key_cols=["source"])
    direct = {r["source"]: bytes(r["sketch"]) for r in agg.merged(seq_path, spark=spark).collect()}

    ckpt = CheckpointedBuild(agg, str(tmp_path), run_id="t1")
    n_shards = len(enumerate_shards(seq_path))
    assert n_shards > 1
    # simulate interruption: one shard at a time across separate invocations
    done1 = ckpt.run(spark, seq_path, max_shards=1)
    assert done1 == 1
    assert len(ckpt.pending_shards(spark, seq_path)) == n_shards - 1
    total = ckpt.run_to_completion(spark, seq_path)
    assert total == n_shards - 1
    # idempotent: nothing pending on re-run
    assert ckpt.run(spark, seq_path) == 0

    resumed = {r["source"]: bytes(r["sketch"]) for r in ckpt.merged(spark).collect()}
    assert resumed == direct


def test_lineage_metrics(spark, seq_path, tmp_path):
    agg = HllAggregator(p=10, key_cols=["source"])
    ckpt = CheckpointedBuild(agg, str(tmp_path), run_id="t2")
    ckpt.run_to_completion(spark, seq_path)
    m = ckpt.metrics(spark).collect()[0]
    assert m["shards"] == len(enumerate_shards(seq_path))
    assert m["rows"] == 20_000
    assert m["items"] > 0 and m["sketch_build_secs"] > 0
    # lineage present per partial row
    cols = set(ckpt.partials(spark).columns)
    assert {"shard_id", "wall_secs", "sketch", "n_rows", "n_items", "source"} <= cols


def test_checkpointed_estimates_match_oracle(spark, seq_path, tmp_path):
    import pandas as pd

    agg = HllAggregator(p=12, key_cols=[])
    ckpt = CheckpointedBuild(agg, str(tmp_path), run_id="t3")
    ckpt.run_to_completion(spark, seq_path)
    est = ckpt.merged(spark, salt=4).collect()[0]
    pdf = pd.read_parquet(seq_path)
    oracle = HllSketch.empty(12)
    oracle.update_batch(np.concatenate(pdf["tokens"].to_list()).astype(np.int32))
    got = HllSketch.from_bytes(bytes(est["sketch"]))
    assert np.array_equal(got.registers, oracle.registers)


def test_iceberg_probe_and_parquet_fallback(spark, tmp_path):
    """No Iceberg jar in this sandbox: the probe must say so and
    append_partials must take the parquet path; with a jar + catalog the
    same call switches to writeTo().append() (dual-path contract)."""
    from sketchlib.io import append_partials, iceberg_available

    assert iceberg_available(spark) is False
    df = spark.range(5).selectExpr("cast(id as string) AS shard_id", "id AS n")
    sink = append_partials(df, str(tmp_path / "partials"), spark)
    assert sink == "parquet"
    assert spark.read.parquet(str(tmp_path / "partials")).count() == 5


def test_table_target_without_catalog_raises(spark):
    """A '/'-free (table-identifier) checkpoint target with no Iceberg
    catalog must fail LOUDLY: a silent parquet fallback would desync writes
    from read_partials(spark.table), so completed_shards() stays empty and
    every resume re-appends duplicate partials."""
    import pytest as _pytest

    from sketchlib.io import append_partials

    df = spark.range(3).selectExpr("cast(id as string) AS shard_id", "id AS n")
    with _pytest.raises(ValueError, match="catalog"):
        append_partials(df, "db.ckpt_no_catalog", spark)


def test_checkpoint_is_aggregator_generic_kmv_and_profile(spark, seq_path, tmp_path):
    """The resume machinery is sketch-agnostic: a KMV build interrupted
    after one shard resumes to BYTE-identical per-source sketches
    (order-exact algebra), and a composite ProfileSketch build checkpoints
    and answers through the same path."""
    from sketchlib.agg import KmvAggregator, ProfileAggregator
    from sketchlib.kmv import KmvSketch
    from sketchlib.profile import ProfileSketch

    kagg = KmvAggregator(k=1024, key_cols=["source"])
    direct = {
        r["source"]: bytes(r["sketch"]) for r in kagg.merged(seq_path, spark=spark).collect()
    }
    ckpt = CheckpointedBuild(kagg, str(tmp_path / "kmv"), run_id="k1")
    assert ckpt.run(spark, seq_path, max_shards=1) == 1
    ckpt.run_to_completion(spark, seq_path)
    resumed = {r["source"]: bytes(r["sketch"]) for r in ckpt.merged(spark).collect()}
    assert resumed == direct
    # sanity: the resumed sketch answers
    est = KmvSketch.from_bytes(next(iter(resumed.values()))).estimate()
    assert est > 0

    pagg = ProfileAggregator(p=12, key_cols=["source"])
    pck = CheckpointedBuild(pagg, str(tmp_path / "prof"), run_id="p1")
    pck.run_to_completion(spark, seq_path)
    rows = {r["source"]: r for r in pck.merged(spark).collect()}
    for src, r in rows.items():
        s = ProfileSketch.from_bytes(bytes(r["sketch"]))
        assert s.distinct_values() > 0
        assert s.kll.n == r["n_rows"]  # every row's length landed in the KLL


@pytest.fixture(scope="module")
def sharded_path(tmp_path_factory):
    """8 (file, row group) shards: 2 files x 4 row groups of 1000 rows."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from sketchlib.data import gen_sequences_pandas

    root = tmp_path_factory.mktemp("sharded")
    table = pa.Table.from_pandas(gen_sequences_pandas(8_000), preserve_index=False)
    for i in range(2):
        papq.write_table(
            table.slice(i * 4_000, 4_000), str(root / f"part-{i}.parquet"), row_group_size=1_000
        )
    return str(root)


def test_corrupt_checkpoint_raises_instead_of_reappending(spark, sharded_path, tmp_path):
    """A checkpoint that exists but cannot be read must fail the resume: if
    it read as empty, run() would re-sketch every shard and append a second
    copy, doubling every merged count."""
    from sketchlib.agg import CmsAggregator

    agg = CmsAggregator(width_log2=8, key_cols=["source"])
    ckpt = CheckpointedBuild(agg, str(tmp_path), run_id="bad")
    assert ckpt.run(spark, sharded_path) == 8
    with open(f"{ckpt.ckpt_dir}/part-zz-garbage.parquet", "wb") as f:
        f.write(b"not a parquet file" * 8)
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        ckpt.run(spark, sharded_path)


def test_corrupt_first_part_file_raises_instead_of_reappending(spark, sharded_path, tmp_path):
    """A garbage part file that sorts before every real one (the file whose
    footer a schema would be read from) fails the resume too, and nothing
    is appended; the answers raise rather than read around it."""
    import os

    from sketchlib.agg import CmsAggregator

    agg = CmsAggregator(width_log2=8, key_cols=["source"])
    ckpt = CheckpointedBuild(agg, str(tmp_path), run_id="bad-first")
    assert ckpt.run(spark, sharded_path) == 8
    garbage = f"{ckpt.ckpt_dir}/part-0-garbage.parquet"
    with open(garbage, "wb") as f:
        f.write(b"not a parquet file" * 8)
    files = sorted(f for f in os.listdir(ckpt.ckpt_dir) if not f.startswith(("_", ".")))
    assert files[0] == os.path.basename(garbage)
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        ckpt.run(spark, sharded_path)
    with pytest.raises(Exception):
        ckpt.merged(spark).collect()
    assert sorted(f for f in os.listdir(ckpt.ckpt_dir) if not f.startswith(("_", "."))) == files
    os.remove(garbage)
    assert len(ckpt.completed_shards(spark)) == 8
    assert ckpt.partials(spark).groupBy("shard_id", "source").count().where("count > 1").count() == 0


def test_empty_checkpoint_dir_reads_as_nothing_done(spark, sharded_path, tmp_path):
    """The empty output directory a failed first append leaves behind holds
    no partials: resuming sketches every shard, exactly once."""
    import os

    from sketchlib.agg import CmsAggregator

    ckpt = CheckpointedBuild(CmsAggregator(width_log2=8, key_cols=["source"]), str(tmp_path))
    os.makedirs(ckpt.ckpt_dir)
    assert ckpt.completed_shards(spark) == set()
    assert ckpt.run(spark, sharded_path) == 8
    assert ckpt.run(spark, sharded_path) == 0


@pytest.mark.parametrize("parallelism", [1, 3, None, 11])
def test_every_shard_checkpointed_exactly_once(spark, sharded_path, tmp_path, parallelism):
    """Whatever the task count (one task, fewer tasks than shards, the
    session default, more tasks than shards), every shard lands in the
    checkpoint once, the row counts add up to the input's, and the merged
    sketches are byte-identical to the default-parallelism builds."""
    from collections import Counter

    from sketchlib.agg import KllAggregator
    from sketchlib.io import shard_id

    hll = HllAggregator(p=12, key_cols=["source"])
    kll = KllAggregator(k=200, key_cols=["source"], value_col="n_tok")
    all_shards = {shard_id(*s) for s in enumerate_shards(sharded_path)}
    assert len(all_shards) == 8

    def blobs(df):
        return {r["source"]: bytes(r["sketch"]) for r in df.collect()}

    def lineage_rows(df):
        cols = ["shard_id", "source", "sketch", "n_rows", "n_items"]
        return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())

    expected = {
        "hll": blobs(hll.merged(sharded_path, spark=spark)),
        "kll": blobs(kll.merged(
            kll.partials_from_parquet(spark, sharded_path, per_shard=True), is_partials=True
        )),
    }
    for name, agg in (("hll", hll), ("kll", kll)):
        ckpt = CheckpointedBuild(agg, str(tmp_path), run_id=name)
        assert ckpt.run(spark, sharded_path, parallelism=parallelism) == 8
        rows = ckpt.partials(spark).select("shard_id", "source", "n_rows").collect()
        assert {r["shard_id"] for r in rows} == all_shards
        assert max(Counter((r["shard_id"], r["source"]) for r in rows).values()) == 1
        assert sum(r["n_rows"] for r in rows) == 8_000
        assert blobs(ckpt.merged(spark)) == expected[name]
        # the checkpoint rows ARE the per-shard partials of the direct build
        per_shard = agg.partials_from_parquet(
            spark, sharded_path, parallelism=parallelism, per_shard=True
        )
        assert lineage_rows(ckpt.partials(spark)) == lineage_rows(per_shard)

    partials = hll.partials_from_parquet(spark, sharded_path, parallelism=parallelism)
    assert sum(r["n_rows"] for r in partials.select("n_rows").collect()) == 8_000
    assert blobs(hll.merged(partials, is_partials=True)) == expected["hll"]


def test_empty_file_does_not_stall_the_checkpoint(spark, tmp_path):
    """pyarrow writes an empty table as one zero-row row group. It builds no
    partial row, so as a shard it would never be recorded and every resume
    would retry it: it is not a shard, and a bounded resume finishes."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from sketchlib.data import gen_sequences_pandas

    root = tmp_path / "input"
    root.mkdir()
    table = pa.Table.from_pandas(gen_sequences_pandas(100), preserve_index=False)
    papq.write_table(table, str(root / "part-0.parquet"))
    papq.write_table(table.slice(0, 0), str(root / "part-1.parquet"))
    assert papq.ParquetFile(str(root / "part-1.parquet")).metadata.num_row_groups == 1

    agg = HllAggregator(p=10, key_cols=["source"])
    ckpt = CheckpointedBuild(agg, str(tmp_path), run_id="empty")
    assert [ckpt.run(spark, str(root), max_shards=1) for _ in range(3)] == [1, 0, 0]
    assert ckpt.run_to_completion(spark, str(root), max_shards=1) == 0
    direct = {r["source"]: bytes(r["sketch"]) for r in agg.merged(str(root), spark=spark).collect()}
    resumed = {r["source"]: bytes(r["sketch"]) for r in ckpt.merged(spark).collect()}
    assert resumed == direct and len(direct) > 0
    # a table of nothing but the empty file sketches to no rows
    assert agg.merged(str(root / "part-1.parquet"), spark=spark).count() == 0
