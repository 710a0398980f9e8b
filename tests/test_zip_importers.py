"""The worker-side cache invalidation that sketchlib installs at import:
unchanged zip archives keep their importers across tasks, a rewritten
archive, a new ``.py`` file and a new ``.zip`` still import fresh, and
nothing outside a pyspark worker is patched."""

import importlib
import os
import subprocess
import sys
import types
import uuid
import zipfile

import sketchlib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_worker_util(monkeypatch):
    """A stand-in for ``pyspark.worker_util`` as a worker process holds it."""
    mod = types.ModuleType("pyspark.worker_util")
    mod.importlib = importlib
    monkeypatch.setitem(sys.modules, "pyspark.worker_util", mod)
    sketchlib._keep_unchanged_zip_importers()
    return mod


def _write_zip(path, name, value, mtime_ns):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", f"VALUE = {value!r}\n")
    os.utime(path, ns=(mtime_ns, mtime_ns))


def _zip_on_path(tmp_path, monkeypatch):
    name = f"zmod_{uuid.uuid4().hex}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, name, 1, 1_000_000_000_000_000_000)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module(name).VALUE == 1
    return name, archive


def test_rewritten_zip_serves_new_content(tmp_path, monkeypatch):
    worker_util = _fake_worker_util(monkeypatch)
    name, archive = _zip_on_path(tmp_path, monkeypatch)
    worker_util.importlib.invalidate_caches()  # first sight: records the archive
    _write_zip(archive, name, "rewritten, and longer", 2_000_000_000_000_000_000)
    worker_util.importlib.invalidate_caches()
    del sys.modules[name]
    assert importlib.import_module(name).VALUE == "rewritten, and longer"


def test_unchanged_zip_keeps_its_directory(tmp_path, monkeypatch):
    worker_util = _fake_worker_util(monkeypatch)
    name, archive = _zip_on_path(tmp_path, monkeypatch)
    plain = tmp_path / "plain"
    plain.mkdir()
    plain_name = f"pmod_{uuid.uuid4().hex}"
    (plain / f"{plain_name}.py").write_text("")
    monkeypatch.syspath_prepend(str(plain))
    monkeypatch.delitem(sys.modules, plain_name, raising=False)
    importlib.import_module(plain_name)  # caches a FileFinder for the plain directory
    worker_util.importlib.invalidate_caches()
    files = sys.path_importer_cache[archive]._files
    for _ in range(3):
        worker_util.importlib.invalidate_caches()
        assert sys.path_importer_cache[archive]._files is files
        # every other finder is still invalidated
        assert sys.path_importer_cache[str(plain)]._path_mtime == -1
        sys.path_importer_cache[str(plain)]._path_mtime = 0
    importlib.invalidate_caches()  # the real call re-reads the directory
    assert sys.path_importer_cache[archive]._files is not files


def test_patches_only_a_worker_and_only_once(monkeypatch):
    worker_util = _fake_worker_util(monkeypatch)
    shim = worker_util.importlib
    assert shim is not importlib
    assert shim.import_module is importlib.import_module
    sketchlib._keep_unchanged_zip_importers()
    assert worker_util.importlib is shim
    # a driver never loads worker_util, so importing sketchlib patches nothing
    probe = (
        "import sys, importlib, sketchlib, sketchlib.agg\n"
        "assert 'pyspark.worker_util' not in sys.modules\n"
        "import pyspark.worker_util as w\n"
        "assert w.importlib is importlib\n"
    )
    subprocess.run([sys.executable, "-c", probe], cwd=ROOT, check=True)


def test_tasks_import_py_and_zip_files_added_after_a_library_op(spark, tmp_path):
    import pyarrow as pa

    from sketchlib.agg import HllAggregator

    df = spark.createDataFrame([(f"k{i % 4}", i) for i in range(400)], "k string, v long")
    rows = HllAggregator(p=8, key_cols=["k"], value_col="v", value_kind="int64").estimates(
        df.repartition(8)
    ).collect()
    assert len(rows) == 4

    tag = uuid.uuid4().hex
    py_name, zip_name = f"added_py_{tag}", f"added_zip_{tag}"
    (tmp_path / f"{py_name}.py").write_text("VALUE = 'py'\n")
    with zipfile.ZipFile(tmp_path / f"{zip_name}.zip", "w") as z:
        z.writestr(f"{zip_name}.py", "VALUE = 'zip'\n")
    spark.sparkContext.addPyFile(str(tmp_path / f"{py_name}.py"))
    spark.sparkContext.addPyFile(str(tmp_path / f"{zip_name}.zip"))

    def probe(batches):
        import importlib
        import sys

        # sketchlib loaded by an earlier task: this task's setup ran the patch
        patched = "sketchlib" in sys.modules
        values = [importlib.import_module(n).VALUE for n in (py_name, zip_name)]
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"patched": [patched], "py": [values[0]], "zip": [values[1]]}
        )

    out = (
        spark.range(8, numPartitions=8)
        .mapInArrow(probe, "patched boolean, py string, zip string")
        .collect()
    )
    assert len(out) == 8
    assert {(r["py"], r["zip"]) for r in out} == {("py", "zip")}
    assert any(r["patched"] for r in out)
    # the driver ran those jobs unpatched
    worker_util = sys.modules.get("pyspark.worker_util")
    assert worker_util is None or worker_util.importlib is importlib
