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
