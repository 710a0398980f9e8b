"""Round-6 optimization internals: input-skew rescue gating + scratch dirs."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import sketchlib.data as D
from sketchlib.io import scratch_dir


def _write_single_rg(path: str, n_rows: int) -> None:
    """One parquet file, ONE row group — the driver-table layout."""
    t = pa.table({"x": np.arange(n_rows, dtype=np.int64), "y": np.ones(n_rows)})
    pq.write_table(t, path, row_group_size=max(n_rows, 1), compression="none")


def test_load_table_rescue_gating(spark, tmp_path):
    par = spark.sparkContext.defaultParallelism

    # big-enough single-row-group file + opt-in -> repartitioned to cores
    _write_single_rg(str(tmp_path / "big.parquet"), 40_000)  # ~640 KB raw
    assert os.path.getsize(tmp_path / "big.parquet") >= 256 * 1024
    df = D.load_table(spark, str(tmp_path), "big", parallelize=True)
    assert df.rdd.getNumPartitions() == par
    # ... and the rescue preserves every row
    assert df.count() == 40_000

    # without opt-in (and below the unconditional floor): plain scan
    plain = D.load_table(spark, str(tmp_path), "big")
    assert plain.rdd.getNumPartitions() < par or par == 1

    # tiny file: below the opt-in size floor -> no exchange even when asked
    _write_single_rg(str(tmp_path / "tiny.parquet"), 100)
    tiny = D.load_table(spark, str(tmp_path), "tiny", parallelize=True)
    assert tiny.rdd.getNumPartitions() < par or par == 1

    # well-split file (row groups >= cores/2): rescue is a no-op by design
    t = pa.table({"x": np.arange(40_000, dtype=np.int64)})
    pq.write_table(t, str(tmp_path / "split.parquet"), row_group_size=40_000 // (par * 2) + 1)
    n_rg = pq.ParquetFile(str(tmp_path / "split.parquet")).metadata.num_row_groups
    assert n_rg * 2 > par
    split = D.load_table(spark, str(tmp_path), "split", parallelize=True)
    # not round-robin-repartitioned: partition count follows the file splits
    assert "RoundRobinPartitioning" not in split._jdf.queryExecution().toString()


def test_load_table_unconditional_tier(spark, tmp_path, monkeypatch):
    """A single-row-group file past the auto floor rescues EVERY consumer."""
    _write_single_rg(str(tmp_path / "huge.parquet"), 50_000)
    monkeypatch.setattr(D, "_AUTO_RESCUE_BYTES", 100_000)  # test-sized floor
    df = D.load_table(spark, str(tmp_path), "huge")  # no opt-in
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert df.count() == 50_000


def test_scratch_dir_fresh_and_overridable(tmp_path, monkeypatch):
    monkeypatch.setenv("SKETCHLIB_SCRATCH", str(tmp_path / "root"))
    a, b = scratch_dir(prefix="t_"), scratch_dir(prefix="t_")
    assert a != b and os.path.isdir(a) and os.path.isdir(b)
    probe = os.path.join(a, "probe")
    open(probe, "w").write("x")  # writable
    assert os.path.exists(probe)
    monkeypatch.setenv("SKETCHLIB_SCRATCH", str(tmp_path / "override"))
    c = scratch_dir(prefix="t_")
    assert c.startswith(str(tmp_path / "override"))


def test_scratch_dir_tmpfs_only_under_a_local_master(monkeypatch):
    """/dev/shm is the default only with no session or a local master; a
    cluster master (yarn here, stubbed) gets the ordinary temp directory."""
    import tempfile
    from types import SimpleNamespace

    from pyspark.sql import SparkSession

    monkeypatch.delenv("SKETCHLIB_SCRATCH", raising=False)
    tmpfs = os.path.isdir("/dev/shm")

    made = []  # the default roots are real: remove what the test makes there

    def with_master(master):
        session = None if master is None else SimpleNamespace(
            sparkContext=SimpleNamespace(master=master)
        )
        monkeypatch.setattr(SparkSession, "getActiveSession", lambda: session)
        made.append(scratch_dir(prefix="t_"))
        return made[-1]

    try:
        for master in (None, "local[4]", "local"):
            assert with_master(master).startswith("/dev/shm/") == tmpfs, master
        cluster = with_master("yarn")
        assert not cluster.startswith("/dev/shm/")
        assert os.path.dirname(cluster) == tempfile.gettempdir()
    finally:
        for d in made:
            os.rmdir(d)


def test_queries_remove_their_scratch_dirs(spark, tmp_path, monkeypatch):
    """The ``queries()`` entries that take a scratch dir (checkpoints, bucketed
    tables) remove it before they return; their rows are collected or
    materialized first."""
    from test_entry import SF

    import sketchlib.queries as Q

    monkeypatch.setenv("SKETCHLIB_SCRATCH", str(tmp_path))
    for name in ("sql_over_checkpoint", "merge_law_identity", "bucketed_join_docs"):
        rows = getattr(Q, name)(spark, SF).collect()
        assert rows, name
        assert os.listdir(tmp_path) == [], name


def test_stream_sources_removed_at_exit(tmp_path):
    """The cached stream-source copies live as long as the process that
    made them: its exit hook removes them, files and all."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sketchlib.queries as Q\n"
        "from sketchlib.io import scratch_dir\n"
        "d = scratch_dir(prefix='sketchlib_stream_src_')\n"
        "open(d + '/part-0.parquet', 'w').write('x')\n"
        "Q._STREAM_SRC_CACHE[('sf', 0)] = d\n"
        "print(d)\n"
    )
    env = {**os.environ, "SKETCHLIB_SCRATCH": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, env=env, capture_output=True, text=True, check=True
    )
    src_dir = out.stdout.strip()
    assert src_dir.startswith(str(tmp_path)), out
    assert not os.path.exists(src_dir)
    assert os.listdir(tmp_path) == []
