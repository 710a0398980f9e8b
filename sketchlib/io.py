"""Checkpointed sketch builds with per-shard lineage — resumable runs.

The distributed analogue of the reference's pickle persistence
(src/hll.c:847-985) plus its `_get_meta()` debug metadata (src/hll.c:569-591),
made durable: every parquet row-group shard that has been sketched is recorded
as its partial-sketch rows with lineage (shard id, row/item counts, wall time).
These rows ARE the per-shard partials of
``SketchAggregator.partials_from_parquet(per_shard=True)`` — one build,
restricted to the pending shards. Resuming a run:

    pending = all input shards  ANTI-JOIN  checkpointed shard ids
    build only pending -> append to the checkpoint table
    final answer = tree-merge of ALL checkpointed partials

Merge associativity means a resumed run produces byte-identical sketches to
an uninterrupted one (tested). Storage is parquet by default; the layout is
Iceberg-ready (append-only partials keyed by shard) — swap the writer for
``df.writeTo(tbl).append()`` when an Iceberg catalog is configured.

No read here asks Spark to infer a schema it can be told (inference is one
Spark job per read). The shard build derives its partial schema from the
input's parquet footer (``SketchAggregator._scan_shards``). The resume check
reads the checkpoint with the one column it needs declared
(``shard_id STRING``). The answers (``partials``, ``merged``, ``metrics``)
read a local checkpoint directory with the StructType Spark wrote into its
first part file's footer. A scheme-qualified checkpoint path (hdfs://,
s3a://, file:) cannot be listed from the driver's file system, so Spark
still infers its schema; an Iceberg table's schema is in the catalog.
"""

from __future__ import annotations

import json
import os
import uuid

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as papq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .agg import SketchAggregator, enumerate_shards, shard_id

# the parquet footer key under which Spark stores the StructType it wrote
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

# reader error conditions that mean "no partial committed yet"
_NOTHING_CHECKPOINTED = frozenset(
    {"PATH_NOT_FOUND", "TABLE_OR_VIEW_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}
)


def scratch_dir(prefix: str) -> str:
    """Fresh ephemeral scratch directory on the fastest local medium.

    The driver queries' stream checkpoints, interrupted-build partials and
    scratch tables are write-heavy and fsync-bound when /tmp sits on a real
    disk (guide §6 I/O): a RAM-backed tmpfs serves the same small-file
    commit traffic at memory speed. These paths are per-run scratch — every
    query run creates a fresh one and nothing is reused across runs — so
    durability is irrelevant here; production callers pass their own
    durable checkpoint locations explicitly. Override the root with
    ``SKETCHLIB_SCRATCH`` (set it to a disk path to opt out of tmpfs).

    tmpfs is only picked with no active session or a ``local`` master. On a
    cluster /dev/shm is node memory the executors compete for (often a
    64 MB container mount), so the default there is the ordinary temp
    directory.
    """
    import tempfile

    root = os.environ.get("SKETCHLIB_SCRATCH")
    if root is None and os.path.isdir("/dev/shm"):
        active = SparkSession.getActiveSession()
        if active is None or active.sparkContext.master.startswith("local"):
            root = "/dev/shm/sketchlib_scratch"
    if root:
        try:
            os.makedirs(root, exist_ok=True)
            return tempfile.mkdtemp(prefix=prefix, dir=root)
        except OSError:
            pass  # unwritable override/tmpfs: fall through to the default
    return tempfile.mkdtemp(prefix=prefix)


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg runtime + catalog is on the classpath/config.

    The canonical production input (SURVEY.md §1.2, BASELINE north rule) is
    an Iceberg table; this sandbox ships no iceberg-spark-runtime jar, so the
    probe gates the ``writeTo().append()`` path and everything falls back to
    plain parquet with identical layout (append-only partials keyed by
    shard).
    """
    # Utils.classIsLoadable returns a plain boolean — unlike Class.forName,
    # whose ClassNotFoundException gets logged JVM-side as a py4j stack
    # trace, polluting the driver's captured stdout (VERDICT r04 #8)
    try:
        if not spark._jvm.org.apache.spark.util.Utils.classIsLoadable(
            "org.apache.iceberg.spark.SparkCatalog"
        ):
            return False
    except Exception:
        return False
    confs = spark.sparkContext.getConf().getAll()
    return any(k.startswith("spark.sql.catalog.") for k, _ in confs)


def append_partials(df: DataFrame, target: str, spark: SparkSession) -> str:
    """Append partial-sketch rows to the checkpoint: Iceberg table when the
    target is a table identifier and a catalog is live (atomic snapshot
    append, time-travelable lineage), parquet directory otherwise. Returns
    the sink kind used. First Iceberg append creates the table."""
    if "/" not in target:
        # a table identifier REQUIRES a live catalog: silently falling back
        # to a parquet dir named like the table would desynchronize writes
        # from read_partials (spark.table), making completed_shards() always
        # empty -> every resume re-sketches and appends duplicates
        if not iceberg_available(spark):
            raise ValueError(
                f"checkpoint target {target!r} is a table identifier but no "
                f"Iceberg catalog is configured — use a path for the parquet "
                f"sink, or configure spark.sql.catalog.*"
            )
        if spark.catalog.tableExists(target):
            df.writeTo(target).append()
        else:
            df.writeTo(target).using("iceberg").create()
        return "iceberg"
    df.write.mode("append").parquet(target)
    return "parquet"


def _written_schema(path: str) -> T.StructType | None:
    """The StructType Spark wrote into the footer of the first part file of
    the local directory ``path`` (the file Spark's own inference reads), or
    None when there is none to read: no part file, a footer without Spark's
    row metadata, or one pyarrow cannot parse (a corrupt file: Spark's
    inference then raises its own error)."""
    names = sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))
    files = [f for f in (os.path.join(path, n) for n in names) if os.path.isfile(f)]
    if not files:
        return None
    try:
        written = (papq.read_schema(files[0]).metadata or {}).get(_SPARK_ROW_METADATA)
        return None if written is None else T.StructType.fromJson(json.loads(written))
    except (pa.ArrowException, OSError, ValueError):
        return None


def read_partials(
    spark: SparkSession, target: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """Read checkpoint partials back from either sink kind.

    A path target is read with ``schema`` when given (a DDL string or
    StructType; columns it leaves out are not read), else, for a local
    directory, with the schema Spark wrote into its first part file
    (``_written_schema``). Either way Spark runs no schema-inference job.
    A scheme-qualified target (hdfs://, s3a://, file:) cannot be listed
    here, so without ``schema`` Spark infers it, one job. A table
    identifier reads through the catalog, which holds its schema.

    A path target that doesn't exist yet (first run of a fresh checkpoint)
    raises FileNotFoundError client-side INSTEAD of letting Spark probe it —
    the JVM-side probe logs a WARN FileStreamSink stack trace into stdout,
    which the driver's bench tail capture must stay clean of (VERDICT r04 #8).
    """
    if "/" not in target:
        return spark.table(target)
    # only LOCAL paths get the client-side existence probe — scheme-qualified
    # targets (hdfs://, s3a://, file:/) can't be os.path-checked and must go
    # straight to the Spark reader (which raises its own error if absent)
    if "://" not in target and not target.startswith("file:"):
        if not os.path.isdir(target):
            raise FileNotFoundError(f"checkpoint partials path {target!r} does not exist yet")
        if schema is None:
            schema = _written_schema(target)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(target)


class CheckpointedBuild:
    """Resumable partial-sketch build over a parquet table.

    Each call to :meth:`run` sketches only shards not yet checkpointed and
    appends them (one partial row per (shard, key), with lineage). ``merged``
    then answers from the checkpoint alone. ``max_shards`` bounds one
    invocation's work — the unit tests use it to simulate interruption.
    """

    def __init__(
        self,
        agg: SketchAggregator,
        ckpt_root: str | None = None,
        run_id: str | None = None,
        table: str | None = None,
    ):
        """``ckpt_root``: parquet directory root (a per-run subdir is
        created). ``table``: an Iceberg table identifier instead — appends
        become atomic snapshot commits and lineage is time-travelable; the
        caller owns identifier uniqueness. Exactly one must be given."""
        if (ckpt_root is None) == (table is None):
            raise ValueError("exactly one of ckpt_root / table must be given")
        self.agg = agg
        self.run_id = run_id or uuid.uuid4().hex[:12]
        if table is not None:
            self.ckpt_dir = table  # table identifier ('/'-free) -> Iceberg sink
        else:
            self.ckpt_dir = os.path.join(ckpt_root, self.run_id, "partials")

    # -- state ------------------------------------------------------------------

    def completed_shards(self, spark: SparkSession) -> set[str]:
        """Shard ids already in the checkpoint. Only a checkpoint that holds
        nothing yet reads as empty: a missing path or table, or the empty
        directory a failed first append leaves behind. Any other error
        (a corrupt file, an unreadable store) raises — swallowing it would
        make :meth:`run` re-sketch every shard and append duplicates."""
        try:
            done = read_partials(spark, self.ckpt_dir, "shard_id STRING")
            rows = done.select("shard_id").distinct().collect()
        except FileNotFoundError:
            return set()
        except AnalysisException as e:
            if e.getCondition() not in _NOTHING_CHECKPOINTED:
                raise
            return set()
        return {r["shard_id"] for r in rows}

    def pending_shards(
        self, spark: SparkSession, input_path: str | pads.Dataset
    ) -> list[tuple[str, int]]:
        done = self.completed_shards(spark)
        return [s for s in enumerate_shards(input_path) if shard_id(*s) not in done]

    # -- build ------------------------------------------------------------------

    def run(
        self,
        spark: SparkSession,
        input_path: str,
        max_shards: int | None = None,
        parallelism: int | None = None,
    ) -> int:
        """Sketch pending shards into the checkpoint; returns #shards done now.

        The rows appended are ``partials_from_parquet(per_shard=True)``'s,
        restricted to the pending shards."""
        dataset = pads.dataset(input_path, format="parquet")
        pending = self.pending_shards(spark, dataset)[:max_shards]
        if not pending:
            return 0
        partials = self.agg._scan_shards(spark, dataset.schema, pending, parallelism, per_shard=True)
        append_partials(partials, self.ckpt_dir, spark)
        return len(pending)

    def run_to_completion(self, spark: SparkSession, input_path: str, **kw) -> int:
        total = 0
        while True:
            done = self.run(spark, input_path, **kw)
            total += done
            # an unbounded run() sketches every pending shard in one pass, so
            # completion is guaranteed — skip the no-op verification pass
            # (checkpoint re-read + shard enumeration + schema probe per
            # call; the r02 sql_over_checkpoint regression)
            if done == 0 or kw.get("max_shards") is None:
                return total

    # -- answers ------------------------------------------------------------------

    def partials(self, spark: SparkSession) -> DataFrame:
        return read_partials(spark, self.ckpt_dir)

    def merged(self, spark: SparkSession, salt: int | None = None) -> DataFrame:
        parts = self.partials(spark).drop("shard_id", "wall_secs")
        return self.agg.merged(parts, salt=salt, is_partials=True)

    def metrics(self, spark: SparkSession) -> DataFrame:
        """Per-run lineage rollup: shards, rows, items, build seconds.

        wall_secs repeats on every key row of a shard, so roll up to shard
        grain first (max = the shard's total build time) before summing.
        """
        per_shard = self.partials(spark).groupBy("shard_id").agg(
            F.sum("n_rows").alias("rows"),
            F.sum("n_items").alias("items"),
            F.max("wall_secs").alias("wall_secs"),
        )
        return per_shard.agg(
            F.count("*").alias("shards"),
            F.sum("rows").alias("rows"),
            F.sum("items").alias("items"),
            F.sum("wall_secs").alias("sketch_build_secs"),
            F.max("wall_secs").alias("max_shard_secs"),
        )


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist parquet in RANGE layout for min/max data skipping: global
    ``repartitionByRange`` on ``sort_cols`` followed by
    ``sortWithinPartitions``, so every output file — and every row group
    inside it — covers a narrow, DISJOINT slice of the key space.

    Parquet readers (Spark's vectorized scan, pyarrow, DuckDB) prune row
    groups whose min/max statistics exclude the predicate, but pruning only
    bites when the stats are tight: an unsorted corpus leaves every file's
    [min, max] spanning the whole key range, so a point or range predicate
    still opens every file. After this layout the same predicate touches
    ~1 file out of N — at 100 TB that is the difference between a full
    scan and reading a few hundred MB, paid once at write time with ONE
    range shuffle (sampled range boundaries keep the files evenly sized,
    skew included). Sorting within partitions additionally tightens
    per-row-group stats and improves encoding (RLE/dictionary runs), which
    shrinks the files themselves. Layout sibling of ``write_bucketed``:
    bucketing co-locates equi-JOIN keys, range layout serves range/point
    FILTER pruning on the sort key.
    """
    out = (
        df.repartitionByRange(n_files, *sort_cols)
        if n_files
        else df.repartitionByRange(*sort_cols)
    )
    out.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str = "doc_id",
    n_buckets: int = 512,
    sort: bool = True,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist a table bucketed (and sorted) by ``bucket_col`` — the
    co-location layout for 100 TB joins.

    Two tables bucketed on the same key with the same bucket count join as
    a SortMergeJoin with ZERO Exchange (neither side shuffles; plan-pinned
    by tests/test_plans.py::test_bucketed_tables_join_without_shuffle), and
    aggregations keyed on the bucket column skip their exchange too. At
    10^12 sequences that is the difference between shuffling the corpus
    per join and never shuffling it: pay one bucketed write, then every
    doc-keyed join (quality scores, embeddings, dedup verdicts) is
    scan + merge. Size ``n_buckets`` so a bucket's rows fit an executor
    (corpus_bytes / n_buckets ≲ a few GB); both tables must agree on it.
    """
    w = df.write.bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    if path is not None:
        # external table at an explicit location (warehouse.dir is a
        # STATIC config, unchangeable per-session)
        w = w.option("path", path)
    w.mode(mode).saveAsTable(table)
