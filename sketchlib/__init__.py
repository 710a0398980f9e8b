"""sketchlib — a PySpark-native distributed sketch / approximate-aggregation
library (HyperLogLog, count-min, Bloom, KLL, t-digest, KMV, frequent-items,
MinHash/SimHash).

Built from scratch on the semantics of ascv/HyperLogLog (reference at
/root/reference, surveyed in SURVEY.md): MurmurHash64A keys, dense register
arrays, element-wise-max merge, bias-corrected estimator. The architecture is
idiomatic Spark — Arrow-batched partial sketches built with ``mapInArrow``,
merged by a key repartition + ``sortWithinPartitions`` and a runs-merge
``mapInArrow`` — never per-row Python.
"""

from .bloom import BloomFilter, optimal_params
from .cms import CountMinSketch
from .fi import FrequentItemsSketch
from .hll import HllSketch, estimate_from_histogram
from .kernels import (
    DEFAULT_SEED,
    murmur64a_bytes,
    murmur64a_int32,
    murmur64a_int64,
    vclz64,
)
from .kll import KllSketch
from .kmv import KmvSketch
from .minhash import MinHashSketch
from .tdigest import TDigest

__all__ = [
    "HllSketch",
    "CountMinSketch",
    "BloomFilter",
    "KllSketch",
    "KmvSketch",
    "TDigest",
    "MinHashSketch",
    "FrequentItemsSketch",
    "estimate_from_histogram",
    "optimal_params",
    "murmur64a_bytes",
    "murmur64a_int32",
    "murmur64a_int64",
    "vclz64",
    "DEFAULT_SEED",
]

__version__ = "0.1.0"


def _keep_unchanged_zip_importers() -> None:
    """Inside a pyspark Python worker, stop the per-task cache invalidation
    from re-reading zip archives that have not changed.

    pyspark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of every task, and each
    ``zipimporter`` in ``sys.path_importer_cache`` then re-reads its whole
    archive directory: 14-16 importers over the 1 328-entry
    ``pyspark.zip`` take 0.25-0.35 s, most of what a Python task costs
    before it does any work. This swaps ``worker_util``'s ``importlib`` for
    a namespace whose ``invalidate_caches`` holds back every zipimporter
    whose archive ``(st_mtime_ns, st_size)`` equals the one recorded at
    this process's last invalidation; every other finder, and every archive
    seen for the first time or changed since, is invalidated as before.

    A no-op unless ``pyspark.worker_util`` is already loaded and still
    holds the real ``importlib``. A worker has loaded it before its first
    task and a classic driver never does, so the driver is not patched,
    and a second call patches nothing. A reused worker keeps the patch for
    every later task; a fresh one pays the old cost in the task that
    imports sketchlib and in the next, which records each archive."""
    import importlib
    import os
    import sys
    import types
    import zipimport

    worker_util = sys.modules.get("pyspark.worker_util")
    if worker_util is None or getattr(worker_util, "importlib", None) is not importlib:
        return
    seen: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches() -> None:
        stats: dict[str, tuple[int, int] | None] = {}
        held = {}
        for path, finder in list(sys.path_importer_cache.items()):
            if not isinstance(finder, zipimport.zipimporter):
                continue
            archive = finder.archive
            if archive not in stats:
                try:
                    st = os.stat(archive)
                    stats[archive] = (st.st_mtime_ns, st.st_size)
                except OSError:
                    stats[archive] = None
            # relative entries are left to the real call, which drops them
            unchanged = stats[archive] is not None and seen.get(archive) == stats[archive]
            if unchanged and os.path.isabs(path):
                held[path] = sys.path_importer_cache.pop(path)
        try:
            importlib.invalidate_caches()
        finally:
            sys.path_importer_cache.update(held)
        seen.update(stats)

    worker_util.importlib = types.SimpleNamespace(
        **{**vars(importlib), "invalidate_caches": invalidate_caches}
    )


_keep_unchanged_zip_importers()


def __getattr__(name):
    # Spark-dependent surfaces load lazily so the numpy core stays importable
    # without a JVM (e.g. inside plain-python tooling).
    if name in ("HllAggregator", "CmsAggregator", "BloomAggregator", "KllAggregator",
                "TDigestAggregator", "KmvAggregator", "ProfileAggregator",
                "FiAggregator", "SketchAggregator"):
        from . import agg

        return getattr(agg, name)
    if name == "CheckpointedBuild":
        from .io import CheckpointedBuild

        return CheckpointedBuild
    raise AttributeError(f"module 'sketchlib' has no attribute {name!r}")
