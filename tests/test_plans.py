"""Physical-plan quality: pruning reaches the scan, merges stay sketch-sized.

These lock in the properties that matter at 100 TB — a regression that
widens the scan or shuffles raw tokens should fail here, not in production.
"""

import pytest

from sketchlib.agg import HllAggregator
from sketchlib.data import sequences_parquet


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_partials_scan_prunes_columns(spark, tmp_path):
    path = sequences_parquet(spark, 2_000, cache_root=str(tmp_path))
    df = spark.read.parquet(path)
    agg = HllAggregator(p=10, key_cols=["source"])
    plan = _plan(agg.partials(df))
    scan = plan[plan.index("Scan parquet") :]
    read_schema = scan[scan.index("ReadSchema") : scan.index("\n", scan.index("ReadSchema"))]
    # only the key and value columns may be read — doc_id and n_tok pruned
    assert "source" in read_schema and "tokens" in read_schema
    assert "doc_id" not in read_schema and "n_tok" not in read_schema


def test_merge_shuffle_carries_sketches_not_tokens(spark, tmp_path):
    path = sequences_parquet(spark, 2_000, cache_root=str(tmp_path))
    df = spark.read.parquet(path)
    agg = HllAggregator(p=10, key_cols=["source"])
    plan = _plan(agg.merged(df))
    # shape: runs-merge MapInArrow <- Sort <- Exchange(hashpartitioning(key))
    # <- partial-build MapInArrow. The shuffle input rows are
    # (key, sketch, counts) — tokens never cross the wire.
    assert "hashpartitioning(source" in plan
    assert plan.index("Exchange") < plan.index("Sort") or plan.index("Sort") < plan.index(
        "Exchange"
    )  # both present
    exch_detail = plan.index(") Exchange")
    input_line = plan[plan.index("Input", exch_detail) : plan.index("\n", plan.index("Input", exch_detail))]
    assert "sketch#" in input_line and "tokens" not in input_line
    # exactly one shuffle in the whole merged() plan
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]


def test_tokenizer_is_a_pure_projection(spark):
    """tokenize_documents must stay a narrow map: no shuffle, no window, no
    join — the round-1 dense_rank vocab single-threaded every
    documents-derived query through one task (VERDICT r01 #1)."""
    from sketchlib.data import tokenize_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(tokenize_documents(docs))
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Join" not in plan


def test_broadcast_join_for_small_probe_side(spark):
    from sketchlib.similarity import lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(lsh_topk(emb, [0, 1], k=3))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_lsh_bucket_cap_shape(spark):
    """The bucket-size guard must never land a hot bucket's rows on one
    task: the over-cap keys come from a map-side-combined HashAggregate on
    band_key (partial_count before its Exchange), the exclusion is a
    BroadcastHashJoin (no extra shuffle of the banded rows), and no Window
    appears anywhere (the r01/r02 Window guard shipped B rows to one task)."""
    from sketchlib.data import SEQUENCES_SCHEMA, gen_sequences_pandas
    from sketchlib.dedup import lsh_candidate_pairs, minhash_signatures

    df = spark.createDataFrame(gen_sequences_pandas(500), schema=SEQUENCES_SCHEMA)
    # materialize=False: the pure lazy plan (the default eager path persists
    # banded rows once and returns a checkpointed result whose plan is an
    # RDD scan — the shape assertions need the logical pipeline)
    plan = _plan(
        lsh_candidate_pairs(minhash_signatures(df), bands=16, materialize=False)
    )
    assert "Window" not in plan
    assert "hashpartitioning(band_key" in plan
    # map-side combine: a partial_count aggregate exists (runs before the
    # aggregate's Exchange, so a degenerate bucket is counted per task)
    assert "partial_count" in plan
    # over-cap keys reach the banded rows via broadcast, not a shuffle
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    # banding happens inside mapInArrow (vectorized over blob buffers) —
    # no per-row explode stage remains
    assert "Generate" not in plan


def test_cube_grouping_sets_never_rescan_the_data(spark):
    """agg.cube() must derive every grouping set from the checkpointed
    per-key sketch rows — zero parquet rescans in the whole cube plan (the
    exact-SQL cube pays one raw-data shuffle PER SET)."""
    from sketchlib.agg import HllAggregator

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    agg = HllAggregator(
        p=10, key_cols=["event_type"], value_col="user_id", value_kind="int64"
    )
    merged = agg.merged(events).localCheckpoint(eager=True)
    plan = _plan(agg.cube(merged))
    assert "Scan parquet" not in plan
    # the derived total row re-merges via the distributed merge stage
    assert "MapInArrow" in plan


def test_weighted_sample_is_distributed_topk(spark):
    """weighted_sample_docs must execute as scan -> projection ->
    TakeOrderedAndProject: per-partition top-k heaps + a driver merge of k
    rows. A full global Sort/Exchange of the corpus would be the wrong plan
    at 10^12 docs."""
    from sketchlib import queries as Q

    df = Q.weighted_sample_docs(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    # the only data movement is the k-row result (the final orderBy of 100
    # rows); the corpus itself never shuffles
    assert "Exchange hashpartitioning" not in plan
    scan = plan[plan.index("Scan parquet") :]
    read_schema = scan[scan.index("ReadSchema") : scan.index("\n", scan.index("ReadSchema"))]
    assert "doc_id" in read_schema and "n_tok" in read_schema
    assert "tokens" not in read_schema  # pruned: weights need no payload


def test_partitioned_table_prunes_partitions(spark, tmp_path):
    """The production layout (SURVEY §1.2: table partitioned by source) must
    prune unselected partitions AT PLANNING — a source-filtered sketch build
    then reads only that source's files, the property the overlap queries'
    scan-side filters rely on at 100 TB."""
    from sketchlib.agg import HllAggregator
    from sketchlib.data import SEQUENCES_SCHEMA, gen_sequences_pandas

    path = str(tmp_path / "seq_by_source")
    df = spark.createDataFrame(gen_sequences_pandas(2_000), schema=SEQUENCES_SCHEMA)
    df.write.partitionBy("source").mode("overwrite").parquet(path)
    part = spark.read.parquet(path)
    agg = HllAggregator(p=10, key_cols=["source"])
    plan = _plan(agg.partials(part.where("source = 's00'")))
    scan = plan[plan.index("Scan parquet") :]
    pf_line = scan[scan.index("PartitionFilters") : scan.index("\n", scan.index("PartitionFilters"))]
    assert "s00" in pf_line, pf_line


def test_curation_pipeline_is_single_scan(spark):
    """The curation funnel must read the corpus ONCE: text reduces to
    (fp, counts) in a codegen'd projection, dedup is a window on the
    fingerprint shuffle (not a groupBy + join-back that re-scans), and all
    four funnel counts come from one conditional aggregation. The naive
    4-stage formulation scanned the parquet 12 times."""
    import re

    from sketchlib import queries as Q

    df = Q.curation_pipeline(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    main = plan.split("===== Subqueries")[0]
    # formatted output lists each node once in the tree and once in the
    # detail section — count the numbered detail headers
    assert len(re.findall(r"\(\d+\) Scan parquet", main)) == 1
    assert "Join" not in main
    # shuffles: two windows + the aggregation pair + the final tiny sort
    assert len(re.findall(r"\(\d+\) Exchange", main)) <= 4


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """io.write_bucketed: co-bucketed tables join as SortMergeJoin with
    ZERO Exchange (neither corpus shuffles), and a groupBy on the bucket
    column also skips its exchange — the co-location layout every doc-keyed
    100 TB join should use."""
    import re

    from sketchlib.data import SEQUENCES_SCHEMA, gen_sequences_pandas
    from sketchlib.io import write_bucketed

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.createDataFrame(gen_sequences_pandas(3000), schema=SEQUENCES_SCHEMA)
        write_bucketed(df, "seq_bkt", "doc_id", n_buckets=8, path=str(tmp_path / "a"))
        write_bucketed(
            df.select("doc_id", "n_tok"),
            "meta_bkt",
            "doc_id",
            n_buckets=8,
            path=str(tmp_path / "b"),
        )
        j = spark.table("seq_bkt").join(spark.table("meta_bkt"), "doc_id")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan[:1200]
        g = spark.table("seq_bkt").groupBy("doc_id").count()
        assert len(re.findall(r"\(\d+\) Exchange", _plan(g))) == 0
        assert j.count() == 3000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS seq_bkt")
        spark.sql("DROP TABLE IF EXISTS meta_bkt")


def test_write_sorted_enables_file_skipping(spark, tmp_path):
    """io.write_sorted: range layout leaves every parquet file covering a
    DISJOINT key slice, so a point predicate's [min,max] stats admit ~one
    file — while the same data written unsorted leaves every file spanning
    the whole key range (no skipping possible). Asserted directly on the
    files' parquet footer statistics, i.e. exactly what any reader's
    row-group pruning consults."""
    import pathlib

    import pyarrow.parquet as pq

    from sketchlib.data import SEQUENCES_SCHEMA, gen_sequences_pandas
    from sketchlib.io import write_sorted

    pdf = gen_sequences_pandas(4000)
    df = spark.createDataFrame(pdf, schema=SEQUENCES_SCHEMA).select("doc_id", "n_tok")
    # deterministic mid-range probe key taken from the data itself
    probe = sorted(pdf["doc_id"])[2000]

    def files_admitting(path: str) -> tuple[int, int]:
        n_files, admitting = 0, 0
        for f in pathlib.Path(path).glob("*.parquet"):
            md = pq.ParquetFile(f).metadata
            if md.num_rows == 0:
                continue
            n_files += 1
            lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
            if lo <= probe <= hi:
                admitting += 1
        return n_files, admitting

    sorted_path = str(tmp_path / "range_layout")
    write_sorted(df, sorted_path, ["doc_id"], n_files=8)
    n_sorted, admit_sorted = files_admitting(sorted_path)
    assert n_sorted >= 6 and admit_sorted == 1, (n_sorted, admit_sorted)

    unsorted_path = str(tmp_path / "unsorted")
    df.repartition(8).write.parquet(unsorted_path)
    n_plain, admit_plain = files_admitting(unsorted_path)
    assert admit_plain == n_plain  # every file spans the probe: no pruning

    # the layout is a pure reorder: filtered reads stay correct
    from pyspark.sql import functions as F

    got = spark.read.parquet(sorted_path).where(F.col("doc_id") == probe).count()
    assert got == int((pdf["doc_id"] == probe).sum())


def test_pack_pipeline_has_no_global_window_sort(spark):
    """The mixture-selection/packing prefix-sum must never plan a Window or
    a single-partition Exchange — the exact shapes the two-phase design
    exists to avoid (a global cumsum Window collapses onto ONE partition).
    The range exchange it DOES use is the scalable distributed sort."""
    import numpy as np
    import pandas as pd

    from sketchlib.pack import doc_priority, mixture_budgets, select_mixture
    from sketchlib.session import release
    import pyspark.sql.functions as F

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(400, dtype=np.int64),
            "source": [f"s{i}" for i in rng.integers(0, 4, 400)],
            "n_tok": rng.integers(1, 100, 400).astype(np.int64),
        }
    )
    df = spark.createDataFrame(pdf)
    sel = select_mixture(spark, df, mixture_budgets({f"s{i}": 5000 for i in range(4)}),
                         num_partitions=4)
    try:
        # the selection result is checkpointed; audit the LAYOUT plan the
        # prefix-sum passes consume instead (same shape both passes use)
        base = df.where(F.col("n_tok") > 0).select(
            "doc_id", "source", "n_tok", doc_priority(F.col("doc_id")).alias("prio")
        )
        layout = base.repartitionByRange(4, "prio").sortWithinPartitions("prio")
        plan = _plan(layout)
        assert "Window" not in plan
        assert "SinglePartition" not in plan
        assert "rangepartitioning" in plan.lower()
        # local sort only: the Sort node's second argument is the global
        # flag — "], false, 0" is a partition-local sort
        assert "Sort" in plan and "], false, 0" in plan
    finally:
        release(sel)


def test_ngram_edges_plan_shape(spark):
    """Exact n-gram similarity join: inverted-index shape — exactly the two
    aggregate shuffles (gram posting lists, pair intersection counts), no
    cartesian/nested-loop join, no window, gram strings built in the
    projection (zip_with chain, not Python)."""
    from sketchlib.dedup import ngram_jaccard_edges

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(ngram_jaccard_edges(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "mapInArrow" not in plan and "ArrowEvalPython" not in plan
    # two shuffle boundaries: groupBy(gram) and groupBy(a, b, na, nb)
    import re

    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 2, plan


def test_repetition_signals_zero_shuffle(spark):
    """Gopher repetition signals are a pure projection over the scan."""
    from sketchlib.textstats import repetition_signals

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(repetition_signals(docs, ns=(2, 3)))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def _row_group_layout(root, n_files: int, rgs_per_file: int, rg_rows: int = 200) -> str:
    """n_files parquet files of rgs_per_file row groups each, under root/input."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from sketchlib.data import gen_sequences_pandas

    per_file = rgs_per_file * rg_rows
    table = pa.Table.from_pandas(gen_sequences_pandas(n_files * per_file), preserve_index=False)
    (root / "input").mkdir()
    for i in range(n_files):
        out = str(root / "input" / f"part-{i}.parquet")
        papq.write_table(table.slice(i * per_file, per_file), out, row_group_size=rg_rows)
    return str(root / "input")


@pytest.mark.parametrize("n_files,rgs_per_file", [(1, 2), (2, 3)])
def test_parquet_and_checkpoint_partials_read_a_range_shard_table(
    spark, tmp_path, monkeypatch, n_files, rgs_per_file
):
    """Both shard planners (partials_from_parquet in either mode, and the
    checkpointed build) feed the partial MapInArrow from a Range source with
    one task per shard group: no Python-RDD scan, no Exchange before the
    build, and min(#row groups, defaultParallelism) partitions."""
    import sketchlib.io as sio
    from sketchlib.io import CheckpointedBuild

    path = _row_group_layout(tmp_path, n_files, rgs_per_file)
    n_tasks = min(n_files * rgs_per_file, spark.sparkContext.defaultParallelism)
    agg = HllAggregator(p=10, key_cols=["source"])
    captured = []
    monkeypatch.setattr(sio, "append_partials", lambda df, target, spark: captured.append(df))
    CheckpointedBuild(agg, str(tmp_path / "ckpt")).run(spark, path)
    partials = [
        agg.partials_from_parquet(spark, path),
        agg.partials_from_parquet(spark, path, per_shard=True),
        captured[0],
    ]
    for df in partials:
        plan = _plan(df)
        assert "Range" in plan and "Scan ExistingRDD" not in plan, plan
        assert "MapInArrow" in plan and "Exchange" not in plan, plan
        assert df.rdd.getNumPartitions() == n_tasks


def _jobs(spark, action) -> int:
    """Spark jobs ``action`` launches, counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_sketch_builds_launch_no_schema_inference_job(spark, tmp_path):
    """The direct-parquet build and the checkpoint reads tell Spark the
    schema instead of asking it to infer one (a one-task parquet job per
    read): a fresh checkpoint build is its one append job, planning the
    checkpoint's answers runs no job, collecting them runs the merge's jobs
    alone, and a direct-parquet partial stage is one job."""
    from sketchlib.io import CheckpointedBuild

    path = _row_group_layout(tmp_path, 2, 3)
    agg = HllAggregator(p=10, key_cols=["source"])
    ckpt = CheckpointedBuild(agg, str(tmp_path / "ckpt"))
    assert _jobs(spark, lambda: ckpt.run(spark, path)) == 1

    assert _jobs(spark, lambda: ckpt.merged(spark)) == 0
    parts = spark.read.parquet(ckpt.ckpt_dir).drop("shard_id", "wall_secs")
    merge_jobs = _jobs(spark, lambda: agg.merged(parts, is_partials=True).collect())
    assert _jobs(spark, lambda: ckpt.merged(spark).collect()) == merge_jobs

    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    assert _jobs(spark, lambda: noop(agg.partials_from_parquet(spark, path))) == 1
