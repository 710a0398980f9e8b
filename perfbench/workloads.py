"""The three workloads. Each one generates its seeded inputs, runs one kind
of op against sketchlib's public API, checks every op's output outside the
timed region, and (traced runs only) stops Spark jobs after each stage and
hands the layer probes its own inputs and merged sketches.

Input sizes keep a run near one minute on a 4-core host; README.md records
why each workload and size was chosen.
"""

from __future__ import annotations

import functools
import math
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sketchlib import BloomFilter, CountMinSketch, HllSketch, KllSketch
from sketchlib import functions as sql_functions
from sketchlib.agg import BloomAggregator, CmsAggregator, HllAggregator, KllAggregator
from sketchlib.hll import registers_from_blobs
from sketchlib.io import CheckpointedBuild
from sketchlib.session import release

from . import gen

KLL_RANK_BOUND = 0.03  # the empirical bound tests/test_kll.py asserts for k=200


def hll_bound(p: int) -> float:
    """3 x 1.04/sqrt(m): the relative error every HLL estimate must meet."""
    return 3 * 1.04 / math.sqrt(1 << p)


def noop(df) -> None:
    """Run a DataFrame's jobs to the end and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _registers(blobs) -> np.ndarray:
    return registers_from_blobs(list(blobs))[0]


# -- finalize row functions (module level, so workers import them by name) --

def _cms_points(blob: bytes, probes: tuple) -> pd.DataFrame:
    values = np.asarray(probes, dtype=np.int32)
    est = CountMinSketch.from_bytes(blob).query_batch(values, kind="tokens")
    return pd.DataFrame({"value": values, "est_freq": est.astype("int64")})


def _kll_quantiles(blob: bytes, qs: tuple) -> pd.DataFrame:
    return pd.DataFrame({"q": list(qs), "value": KllSketch.from_bytes(blob).quantiles(list(qs))})


def _bloom_members(blob: bytes, probes: tuple) -> pd.DataFrame:
    values = np.asarray(probes, dtype=np.int32)
    present = BloomFilter.from_bytes(blob).contains_batch(values, kind="tokens")
    return pd.DataFrame({"value": values, "present": present})


_FREQ_FIELDS = [T.StructField("value", T.IntegerType()), T.StructField("est_freq", T.LongType())]
_QUANTILE_FIELDS = [T.StructField("q", T.DoubleType()), T.StructField("value", T.DoubleType())]
_MEMBER_FIELDS = [T.StructField("value", T.IntegerType()), T.StructField("present", T.BooleanType())]


class Workload:
    name = ""
    sizes: dict[str, dict] = {}
    key_cols: list[str] = []

    stage_every = 1  # traced runs: stop jobs after each stage every n-th traced op
    ckpt_bytes = 0  # bytes of the last checkpoint written

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.size = self.sizes[ctx.scale]
        self.path = os.path.join(ctx.work, "input")

    # set-up: generate(), prepare() and warm() are timed into setup_s
    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def warm(self) -> None:
        """One untimed op on the real input: the first full-size op after a
        cold start runs ~20 % slower than the ones after it."""
        with self.tr.paused():
            self.op(-1)

    # gate references, computed once per run outside every timed region
    def reference(self) -> None:
        raise NotImplementedError

    def op(self, i: int):
        """The timed part of one op."""
        raise NotImplementedError

    def collect(self, raw) -> dict:
        """Untimed: turn an op's output into what the gate reads. The dict
        carries ``items``, the values the op folded or answered over."""
        return raw

    def gate(self, result: dict) -> list[str]:
        raise NotImplementedError

    def stages(self, i: int) -> None:
        raise NotImplementedError

    # layer-probe hooks (traced runs)
    def read_spec(self) -> tuple[list[str], int]:
        raise NotImplementedError

    def kernel_inputs(self):
        raise NotImplementedError

    def partials_df(self):
        raise NotImplementedError

    def codec_blobs(self, last: dict) -> dict:
        raise NotImplementedError

    def hll_pairs_df(self, last: dict):
        raise NotImplementedError

    def ref_queries(self) -> dict:
        raise NotImplementedError


class _Sequences(Workload):
    """Shared pieces of the two workloads over the FIXTURES §1 sequences."""

    key_cols = ["source"]
    P = 14

    def generate(self) -> None:
        gen.sequences(self.path, self.ctx.seed, **self.size)

    def reference(self) -> None:
        """Single-process per-source HLL registers, exact token presence
        and counts, n_tok values, read back from the parquet the pipeline
        reads."""
        regs = [HllSketch.empty(self.P) for _ in range(gen.N_SOURCES)]
        counts = np.zeros((gen.N_SOURCES, gen.VOCAB), dtype=np.int64)
        n_tok = [[] for _ in range(gen.N_SOURCES)]
        self.total_rows = 0
        for f in sorted(os.listdir(self.path)):
            pf = pq.ParquetFile(os.path.join(self.path, f))
            for batch in pf.iter_batches(batch_size=65_536, columns=["tokens", "n_tok", "source"]):
                src = np.searchsorted(gen.SOURCES, batch.column("source").to_numpy(zero_copy_only=False))
                lengths = batch.column("n_tok").to_numpy()
                flat = batch.column("tokens").flatten().to_numpy()
                codes = np.repeat(src.astype(np.int8), lengths)
                for g in range(gen.N_SOURCES):
                    regs[g].update_batch(flat[codes == g])
                    n_tok[g].append(lengths[src == g])
                counts += np.bincount(
                    codes.astype(np.int64) * gen.VOCAB + flat,
                    minlength=gen.N_SOURCES * gen.VOCAB,
                ).reshape(gen.N_SOURCES, gen.VOCAB)
                self.total_rows += batch.num_rows
        self.ref_regs = _registers([s.to_bytes() for s in regs])
        self.ref_counts = counts
        self.ref_present = counts > 0
        self.ref_distinct = self.ref_present.sum(axis=1)
        self.ref_total_distinct = int(self.ref_present.any(axis=0).sum())
        self.ref_mass = counts.sum(axis=1)
        self.ref_n_tok = [np.sort(np.concatenate(v)) if v else np.zeros(0) for v in n_tok]

    def _check_hll_rows(self, rows, errors: list[str]) -> None:
        """Per-source and total HLL rows against the single-process
        reference: merge law (identical registers) and the 3-sigma bound."""
        bound = hll_bound(self.P)
        by_src = {r["source"]: r for r in rows}
        total = by_src.pop(None, None)
        if sorted(by_src) != list(gen.SOURCES[self.ref_distinct > 0]):
            errors.append(f"sources {sorted(by_src)} differ from the input's")
            return
        for name, row in by_src.items():
            g = int(np.searchsorted(gen.SOURCES, name))
            if not np.array_equal(_registers([row["sketch"]])[0], self.ref_regs[g]):
                errors.append(f"{name}: merged registers differ from the single-process build")
            exact = int(self.ref_distinct[g])
            if abs(row["est_distinct"] - exact) > bound * exact:
                errors.append(f"{name}: estimate {row['est_distinct']} vs exact {exact}")
        if total is not None:
            if not np.array_equal(_registers([total["sketch"]])[0], self.ref_regs.max(axis=0)):
                errors.append("total: registers differ from the max of per-source registers")
            exact = self.ref_total_distinct
            if abs(total["est_distinct"] - exact) > bound * exact:
                errors.append(f"total: estimate {total['est_distinct']} vs exact {exact}")

    def read_spec(self):
        return ["source", "tokens"], 1024

    def kernel_inputs(self):
        """Tokens and per-token source codes of the first row groups."""
        pf = pq.ParquetFile(os.path.join(self.path, sorted(os.listdir(self.path))[0]))
        batch = pf.read_row_groups([0], columns=["source", "tokens"])
        src = np.searchsorted(gen.SOURCES, batch.column("source").to_numpy())
        lengths = pc.list_value_length(batch.column("tokens")).to_numpy()
        values = pc.list_flatten(batch.column("tokens")).to_numpy()
        codes = np.repeat(src.astype(np.int32), lengths)
        return values, codes, gen.N_SOURCES, "tokens", self.P

    def ref_queries(self) -> dict:
        df = self.spark.read.parquet(self.path)
        tok = df.select("source", F.explode("tokens").alias("tok"))
        return {
            "ref.approx_count_distinct_s": lambda: tok.groupBy("source")
            .agg(F.approx_count_distinct("tok", rsd=1.04 / 128))
            .collect(),
            "ref.hll_sketch_agg_s": lambda: tok.groupBy("source")
            .agg(F.hll_sketch_estimate(F.hll_sketch_agg("tok", self.P)))
            .collect(),
            "ref.percentile_approx_s": lambda: df.groupBy("source")
            .agg(F.percentile_approx("n_tok", [0.1, 0.5, 0.9, 0.99]))
            .collect(),
        }


class BulkTokens(_Sequences):
    """Per-source HLL p=14 over token arrays, read straight from parquet."""

    name = "bulk_tokens"
    sizes = {
        "full": dict(n_rows=500_000, rg_rows=10_000, n_files=8),
        "tiny": dict(n_rows=4_000, rg_rows=1_000, n_files=2),
    }

    def __init__(self, ctx):
        super().__init__(ctx)
        self.agg = HllAggregator(p=self.P, key_cols=["source"])
        self.digests = None

    def _query(self, path: str):
        agg, est = self.agg, self.agg.estimate_udf()
        merged = agg.merged(path, spark=self.spark)
        cols = [est("sketch").alias("est_distinct"), "sketch", "n_rows", "n_items"]
        per_key = merged.select("source", *cols)
        total = agg.rollup_total(merged).select(F.lit(None).cast("string").alias("source"), *cols)
        return per_key.unionByName(total)

    def op(self, i: int) -> dict:
        tr = self.tr
        with tr.span("op", op=i, group=True):
            with tr.span("agg.plan"):
                df = self._query(self.path)
            with tr.span("spark.collect"):
                rows = df.collect()
        items = sum(r["n_items"] for r in rows if r["source"] is not None)
        return {"rows": rows, "items": items}

    def gate(self, result: dict) -> list[str]:
        errors: list[str] = []
        rows = result["rows"]
        self._check_hll_rows(rows, errors)
        per_key = [r for r in rows if r["source"] is not None]
        if sum(r["n_items"] for r in per_key) != int(self.ref_mass.sum()):
            errors.append("n_items does not add up to the input's token count")
        if sum(r["n_rows"] for r in per_key) != self.total_rows:
            errors.append("n_rows does not add up to the input's row count")
        digests = {r["source"]: bytes(r["sketch"]) for r in rows}
        if self.digests is None:
            self.digests = digests
        elif digests != self.digests:
            errors.append("merged sketches differ from the first op's")
        return errors

    def stages(self, i: int) -> None:
        tr = self.tr
        with tr.span("stages", op=i):
            with tr.span("agg.partials", group=True):
                noop(self.agg.partials_from_parquet(self.spark, self.path))
            with tr.span("agg.merged", group=True):
                noop(self.agg.merged(self.path, spark=self.spark))
            with tr.span("agg.finalize", group=True):
                self._query(self.path).collect()

    def partials_df(self):
        return self.agg.partials_from_parquet(self.spark, self.path)

    def codec_blobs(self, last: dict) -> dict:
        blobs = [bytes(r["sketch"]) for r in last["rows"] if r["source"] is not None]
        return {"hll": (blobs, functools.partial(HllSketch.merge_blobs, p=self.P))}

    def hll_pairs_df(self, last: dict):
        rows = [(r["source"], bytes(r["sketch"])) for r in last["rows"] if r["source"] is not None]
        return self.spark.createDataFrame(rows, "k string, sketch binary")


class KeyedRollup(Workload):
    """HLL p=12 distinct users per (event_type, hour) through time_rollup,
    plus checkpointed CMS(user_id), KLL(value) and Bloom(user_id) per
    event_type."""

    name = "keyed_rollup"
    sizes = {
        "full": dict(n_rows=400_000, rg_rows=50_000, n_files=8),
        "tiny": dict(n_rows=20_000, rg_rows=4_096, n_files=2),
    }
    key_cols = ["event_type", "hour"]
    GRAINS = ("hour", "day", "week")
    GRAIN_SECONDS = {"hour": 3600, "day": 86_400}
    P = 12
    CMS_WIDTH_LOG2 = 12

    def __init__(self, ctx):
        super().__init__(ctx)
        self.hll = HllAggregator(
            p=self.P, key_cols=self.key_cols, value_col="user_id", value_kind="int64"
        )
        self.cms = CmsAggregator(
            width_log2=self.CMS_WIDTH_LOG2, key_cols=["event_type"],
            value_col="user_id", value_kind="int64",
        )
        self.kll = KllAggregator(key_cols=["event_type"], value_col="value", value_kind="double")
        self.bloom = BloomAggregator(
            m_log2=20, key_cols=["event_type"], value_col="user_id", value_kind="int64"
        )
        self.digests = None

    def generate(self) -> None:
        gen.events(self.path, self.ctx.seed, **self.size)

    def _rollup(self, path: str):
        df = self.spark.read.parquet(path)
        return self.hll.time_rollup(df, "ts", grains=self.GRAINS, bucket_col="hour")

    def _checkpoint(self, path: str, root: str):
        builds = {
            "cms": CheckpointedBuild(self.cms, ckpt_root=root, run_id="cms"),
            "kll": CheckpointedBuild(self.kll, ckpt_root=root, run_id="kll"),
            "bloom": CheckpointedBuild(self.bloom, ckpt_root=root, run_id="bloom"),
        }
        for b in builds.values():
            b.run(self.spark, path)
        return builds

    def reference(self) -> None:
        t = gen.read_columns(self.path, ["ts", "user_id", "event_type", "value"])
        secs = t.column("ts").cast("int64").to_numpy() // 10**6
        uid = t.column("user_id").to_numpy()
        et = np.searchsorted(gen.EVENT_TYPES, t.column("event_type").to_numpy())
        value = t.column("value").to_numpy()
        self.ref_hll: dict[tuple, np.ndarray] = {}
        self.ref_rows: dict[tuple, int] = {}
        self.ref_week_distinct: dict[tuple, int] = {}
        days = secs // 86_400
        for grain in self.GRAINS:
            if grain == "week":  # Monday-aligned (1970-01-05 was a Monday)
                bucket = (days - (days + 3) % 7) * 86_400
            else:
                bucket = secs - secs % self.GRAIN_SECONDS[grain]
            order = np.lexsort((bucket, et))
            k_et, k_b, k_uid = et[order], bucket[order], uid[order]
            new = np.ones(len(order), dtype=bool)
            new[1:] = (k_et[1:] != k_et[:-1]) | (k_b[1:] != k_b[:-1])
            starts = np.flatnonzero(new)
            ends = np.append(starts[1:], len(order))
            sketches, keys = [], []
            for s, e in zip(starts, ends):
                sk = HllSketch.empty(self.P)
                sk.update_batch_int64(k_uid[s:e])
                sketches.append(sk.to_bytes())
                key = (grain, gen.EVENT_TYPES[k_et[s]], int(k_b[s]))
                keys.append(key)
                self.ref_rows[key] = int(e - s)
                if grain == "week":
                    self.ref_week_distinct[key] = int(np.unique(k_uid[s:e]).size)
            for key, regs in zip(keys, _registers(sketches)):
                self.ref_hll[key] = regs
        self.ref_uid = {}
        self.ref_value = {}
        for g, name in enumerate(gen.EVENT_TYPES):
            self.ref_uid[name] = uid[et == g]
            self.ref_value[name] = np.sort(value[et == g])
        self.cms_probes = np.concatenate(
            [np.arange(1, 11), np.random.default_rng([self.ctx.seed, 3]).choice(uid, 10), [-1, -2]]
        ).astype(np.int64)

    def _build(self, path: str, root: str):
        tr = self.tr
        with tr.span("agg.time_rollup"):
            rolled = self._rollup(path)
        with tr.span("io.ckpt_write"):
            builds = self._checkpoint(path, root)
        with tr.span("agg.merged_collect"):
            merged = {k: b.merged(self.spark).collect() for k, b in builds.items()}
        return rolled, merged

    def warm(self) -> None:
        """A small input is enough here: ops after it show no first-op
        penalty, and a full-size warm-up op would add ~25 s of set-up."""
        small = os.path.join(self.ctx.work, "warm")
        gen.events(small, self.ctx.seed, n_rows=20_000, rg_rows=5_000, n_files=2)
        with self.tr.paused():
            rolled, _ = self._build(small, os.path.join(self.ctx.work, "warm-ckpt"))
        release(rolled)

    def op(self, i: int):
        root = os.path.join(self.ctx.work, f"ckpt-{i}")
        with self.tr.span("op", op=i, group=True):
            rolled, merged = self._build(self.path, root)
        return rolled, merged, root

    def collect(self, raw) -> dict:
        rolled, merged, root = raw
        hll_rows = rolled.select(
            "grain", "event_type", F.col("hour").cast("long").alias("bucket"),
            "sketch", "n_rows", "n_items",
        ).collect()
        release(rolled)
        self.ckpt_bytes = _dir_bytes(root)
        shutil.rmtree(root, ignore_errors=True)
        # every row feeds four sketches: HLL, CMS and Bloom of user_id, KLL of value
        return {**merged, "hll": hll_rows, "items": 4 * self.size["n_rows"]}

    def gate(self, result: dict) -> list[str]:
        errors: list[str] = []
        rows = result["hll"]
        keys = [(r["grain"], r["event_type"], r["bucket"]) for r in rows]
        if sorted(keys) != sorted(self.ref_hll):
            errors.append(f"{len(keys)} rollup keys vs {len(self.ref_hll)} expected")
            return errors
        regs = _registers([r["sketch"] for r in rows])
        bad = [k for k, reg in zip(keys, regs) if not np.array_equal(reg, self.ref_hll[k])]
        if bad:
            errors.append(f"{len(bad)} rollup keys with registers unlike the single-process build, e.g. {bad[0]}")
        if any(r["n_rows"] != self.ref_rows[k] for k, r in zip(keys, rows)):
            errors.append("rollup n_rows differ from exact counts")
        bound = hll_bound(self.P)
        for k, r in zip(keys, rows):
            exact = self.ref_week_distinct.get(k)
            if exact is not None:
                est = HllSketch.from_bytes(bytes(r["sketch"])).cardinality()
                if abs(est - exact) > bound * exact:
                    errors.append(f"{k}: estimate {est} vs exact {exact}")
        for r in result["cms"]:
            cms = CountMinSketch.from_bytes(bytes(r["sketch"]))
            uid = self.ref_uid[r["event_type"]]
            exact = np.array([(uid == p).sum() for p in self.cms_probes])
            est = cms.query_batch(self.cms_probes, kind="int64")
            if (est < exact).any():
                errors.append(f"cms {r['event_type']}: undercount")
            if (est - exact > math.e / cms.width * len(uid)).any():
                errors.append(f"cms {r['event_type']}: overcount beyond eps*N")
        for r in result["kll"]:
            vals = self.ref_value[r["event_type"]]
            qs = (0.01, 0.1, 0.5, 0.9, 0.99)
            err = _rank_error(KllSketch.from_bytes(bytes(r["sketch"])).quantiles(list(qs)), vals, qs)
            if err > KLL_RANK_BOUND:
                errors.append(f"kll {r['event_type']}: rank error {err:.4f}")
        present = self.cms_probes[self.cms_probes > 0]
        for r in result["bloom"]:
            bloom = BloomFilter.from_bytes(bytes(r["sketch"]))
            expect = np.isin(present, self.ref_uid[r["event_type"]])
            if (expect & ~bloom.contains_batch(present, kind="int64")).any():
                errors.append(f"bloom {r['event_type']}: false negative")
        for kind in ("cms", "kll", "bloom"):
            if sorted(r["event_type"] for r in result[kind]) != sorted(self.ref_uid):
                errors.append(f"checkpointed {kind} sketches do not cover every event type")
        digests = {k: bytes(r["sketch"]) for k, r in zip(keys, rows)}
        if self.digests is None:
            self.digests = digests
        elif digests != self.digests:
            errors.append("rollup sketches differ from the first op's")
        return errors

    def stages(self, i: int) -> None:
        tr = self.tr
        df = self.spark.read.parquet(self.path)
        base = df.withColumn("hour", F.date_trunc("hour", "ts").cast("timestamp"))
        root = os.path.join(self.ctx.work, f"stage-ckpt-{i}")
        with tr.span("stages", op=i):
            with tr.span("agg.partials", group=True):
                noop(self.hll.partials(base))
            with tr.span("agg.merged", group=True):
                noop(self.hll.merged(base))
            with tr.span("agg.finalize", group=True):
                release(self._rollup(self.path))
            build = CheckpointedBuild(self.cms, ckpt_root=root, run_id="cms")
            build.run(self.spark, self.path)
            with tr.span("io.read_partials", group=True):
                noop(build.partials(self.spark))
        shutil.rmtree(root, ignore_errors=True)

    def read_spec(self):
        return ["ts", "event_type", "user_id"], 16_384

    def kernel_inputs(self):
        pf = pq.ParquetFile(os.path.join(self.path, sorted(os.listdir(self.path))[0]))
        t = pf.read_row_groups([0], columns=["ts", "event_type", "user_id"])
        hours = t.column("ts").cast("int64").to_numpy() // (3600 * 10**6)
        et = np.searchsorted(gen.EVENT_TYPES, t.column("event_type").to_numpy())
        _, codes = np.unique(et * 10**7 + hours, return_inverse=True)
        return t.column("user_id").to_numpy(), codes.astype(np.int32), int(codes.max()) + 1, "int64", self.P

    def partials_df(self):
        df = self.spark.read.parquet(self.path)
        return self.hll.partials(df.withColumn("hour", F.date_trunc("hour", "ts").cast("timestamp")))

    def codec_blobs(self, last: dict) -> dict:
        return {
            "hll": (
                [bytes(r["sketch"]) for r in last["hll"] if r["grain"] == "hour"],
                functools.partial(HllSketch.merge_blobs, p=self.P),
            ),
            "cms": (
                [bytes(r["sketch"]) for r in last["cms"]],
                functools.partial(CountMinSketch.merge_blobs, width_log2=self.cms.width_log2, depth=self.cms.depth),
            ),
            "kll": (
                [bytes(r["sketch"]) for r in last["kll"]],
                functools.partial(KllSketch.merge_blobs, k=self.kll.k, seed=self.kll.seed),
            ),
            "bloom": (
                [bytes(r["sketch"]) for r in last["bloom"]],
                functools.partial(BloomFilter.merge_blobs, m_log2=self.bloom.m_log2, k=self.bloom.k),
            ),
        }

    def hll_pairs_df(self, last: dict):
        rows = [
            (f"{r['event_type']}/{r['bucket']}", bytes(r["sketch"]))
            for r in last["hll"] if r["grain"] == "day"
        ]
        return self.spark.createDataFrame(rows, "k string, sketch binary")

    def ref_queries(self) -> dict:
        df = self.spark.read.parquet(self.path).withColumn("hour", F.date_trunc("hour", "ts"))
        return {
            "ref.approx_count_distinct_s": lambda: noop(
                df.groupBy("event_type", "hour").agg(F.approx_count_distinct("user_id", rsd=1.04 / 64))
            ),
            "ref.hll_sketch_agg_s": lambda: noop(
                df.groupBy("event_type", "hour").agg(
                    F.hll_sketch_estimate(F.hll_sketch_agg("user_id", self.P))
                )
            ),
            "ref.percentile_approx_s": lambda: df.groupBy("event_type")
            .agg(F.percentile_approx("value", [0.01, 0.1, 0.5, 0.9, 0.99]))
            .collect(),
        }


def _rank_error(answers, sorted_values: np.ndarray, qs) -> float:
    """Largest distance between q and the exact rank interval of the value
    answered for q (ties make the exact rank an interval)."""
    n = len(sorted_values)
    worst = 0.0
    for q, v in zip(qs, answers):
        lo = np.searchsorted(sorted_values, v, side="left") / n
        hi = np.searchsorted(sorted_values, v, side="right") / n
        worst = max(worst, lo - q if q < lo else (q - hi if q > hi else 0.0))
    return worst


class SketchAnswers(_Sequences):
    """Answers read from a checkpointed HLL/CMS/KLL/Bloom store, one small
    Spark job chain per answer, kinds in a fixed rotation."""

    name = "sketch_answers"
    sizes = {
        "full": dict(n_rows=50_000, rg_rows=5_000, n_files=5),
        "tiny": dict(n_rows=4_000, rg_rows=1_000, n_files=2),
    }
    KINDS = ("distinct", "freq", "quantile", "member", "setalg")
    stage_every = len(KINDS)
    QS = (0.1, 0.5, 0.9, 0.99)
    CMS_WIDTH_LOG2 = 12

    def __init__(self, ctx):
        super().__init__(ctx)
        self.aggs = {
            "hll": HllAggregator(p=self.P, key_cols=["source"]),
            "cms": CmsAggregator(width_log2=self.CMS_WIDTH_LOG2, key_cols=["source"]),
            "kll": KllAggregator(key_cols=["source"], value_col="n_tok", value_kind="double"),
            "bloom": BloomAggregator(m_log2=20, key_cols=["source"]),
        }
        self.store = {
            k: CheckpointedBuild(a, ckpt_root=os.path.join(ctx.work, "store"), run_id=k)
            for k, a in self.aggs.items()
        }

    def prepare(self) -> None:
        """Build the sketch store and register the SQL functions."""
        for b in self.store.values():
            with self.tr.span("io.ckpt_write", group=True):
                b.run(self.spark, self.path)
        self.ckpt_bytes = _dir_bytes(os.path.join(self.ctx.work, "store"))
        sql_functions.register(self.spark)

    def warm(self) -> None:
        with self.tr.paused():
            for i in range(len(self.KINDS)):
                self._answer(i)

    def _distinct_query(self):
        agg, est = self.aggs["hll"], self.aggs["hll"].estimate_udf()
        merged = self.store["hll"].merged(self.spark)
        cols = [est("sketch").alias("est_distinct"), "sketch", "n_items"]
        per_key = merged.select("source", *cols)
        total = agg.rollup_total(merged).select(F.lit(None).cast("string").alias("source"), *cols)
        return per_key.unionByName(total)

    def _answer(self, i: int) -> dict:
        kind = self.KINDS[i % len(self.KINDS)]
        rng = np.random.default_rng([self.ctx.seed, 11, i])
        tr, spark = self.tr, self.spark
        out = {"kind": kind}
        if kind == "distinct":
            with tr.span("agg.plan"):
                df = self._distinct_query()
            with tr.span("spark.collect"):
                out["rows"] = df.collect()
        elif kind == "freq":
            probes = tuple(int(x) for x in rng.integers(0, gen.VOCAB, 16))
            with tr.span("agg.plan"):
                df = self.aggs["cms"].finalize_rows(
                    self.store["cms"].merged(spark),
                    functools.partial(_cms_points, probes=probes), _FREQ_FIELDS,
                )
            with tr.span("spark.collect"):
                out["rows"] = df.collect()
        elif kind == "quantile":
            with tr.span("agg.plan"):
                df = self.aggs["kll"].finalize_rows(
                    self.store["kll"].merged(spark),
                    functools.partial(_kll_quantiles, qs=self.QS), _QUANTILE_FIELDS,
                )
            with tr.span("spark.collect"):
                out["rows"] = df.collect()
        elif kind == "member":
            present = rng.integers(0, gen.VOCAB, 8)  # present in the big sources
            absent = gen.VOCAB + rng.integers(0, gen.VOCAB, 8)  # never generated
            probes = tuple(int(x) for x in np.concatenate([present, absent]))
            with tr.span("agg.plan"):
                df = self.aggs["bloom"].finalize_rows(
                    self.store["bloom"].merged(spark),
                    functools.partial(_bloom_members, probes=probes), _MEMBER_FIELDS,
                )
            with tr.span("spark.collect"):
                out["rows"] = df.collect()
        else:
            a, b = rng.choice(gen.N_SOURCES, 2, replace=False)
            out["pair"] = (gen.SOURCES[a], gen.SOURCES[b])
            with tr.span("agg.plan"):
                self.store["hll"].merged(spark).createOrReplaceTempView("perfbench_hll")
                df = spark.sql(
                    "SELECT hll_union_estimate(a.sketch, b.sketch) AS u, "
                    "hll_jaccard_estimate(a.sketch, b.sketch) AS j "
                    "FROM perfbench_hll a JOIN perfbench_hll b "
                    f"ON a.source = '{out['pair'][0]}' AND b.source = '{out['pair'][1]}'"
                )
            with tr.span("functions.udf_call"):
                out["rows"] = df.collect()
        return out

    def op(self, i: int) -> dict:
        with self.tr.span("op", op=i, group=True):
            out = self._answer(i)
        # every answer reads sketches that summarize the whole input
        out["items"] = int(self.input_tokens)
        return out

    @property
    def input_tokens(self) -> int:
        return int(self.ref_mass.sum())

    def gate(self, result: dict) -> list[str]:
        errors: list[str] = []
        kind, rows = result["kind"], result["rows"]
        seen = [s for s in gen.SOURCES if self.ref_distinct[np.searchsorted(gen.SOURCES, s)] > 0]
        if kind == "distinct":
            self._check_hll_rows(rows, errors)
        elif kind == "freq":
            for r in rows:
                g = int(np.searchsorted(gen.SOURCES, r["source"]))
                exact = self.ref_counts[g, r["value"]]
                if r["est_freq"] < exact:
                    errors.append(f"cms {r['source']}/{r['value']}: undercount")
                elif r["est_freq"] - exact > math.e / (1 << self.CMS_WIDTH_LOG2) * self.ref_mass[g]:
                    errors.append(f"cms {r['source']}/{r['value']}: overcount beyond eps*N")
        elif kind == "quantile":
            by_src: dict[str, dict] = {}
            for r in rows:
                by_src.setdefault(r["source"], {})[r["q"]] = r["value"]
            for name, got in by_src.items():
                vals = self.ref_n_tok[int(np.searchsorted(gen.SOURCES, name))]
                err = _rank_error([got[q] for q in self.QS], vals, self.QS)
                if err > KLL_RANK_BOUND:
                    errors.append(f"kll {name}: rank error {err:.4f}")
        elif kind == "member":
            for r in rows:
                g = int(np.searchsorted(gen.SOURCES, r["source"]))
                if r["value"] < gen.VOCAB and self.ref_present[g, r["value"]] and not r["present"]:
                    errors.append(f"bloom {r['source']}/{r['value']}: false negative")
        else:
            ga, gb = (int(np.searchsorted(gen.SOURCES, s)) for s in result["pair"])
            a, b = self.ref_present[ga], self.ref_present[gb]
            union = int((a | b).sum())
            jac = (a & b).sum() / union if union else 1.0
            if len(rows) != 1:
                errors.append(f"set algebra returned {len(rows)} rows")
            else:
                eps = hll_bound(self.P)
                u, j = rows[0]["u"], rows[0]["j"]
                if abs(u - union) > eps * union:
                    errors.append(f"union {u} vs exact {union}")
                if abs(j - jac) > eps * (a.sum() + b.sum() + union * (1 + jac)) / union:
                    errors.append(f"jaccard {j:.4f} vs exact {jac:.4f}")
        if kind in ("freq", "quantile", "member") and sorted({r["source"] for r in rows}) != seen:
            errors.append(f"{kind}: answer sources differ from the input's")
        return errors

    def stages(self, i: int) -> None:
        tr = self.tr
        with tr.span("stages", op=i):
            # the partial stage of an answer is the checkpoint read
            with tr.span("agg.partials", group=True), tr.span("io.read_partials"):
                noop(self.store["hll"].partials(self.spark))
            with tr.span("agg.merged", group=True):
                noop(self.store["hll"].merged(self.spark))
            with tr.span("agg.finalize", group=True):
                self._distinct_query().collect()

    def partials_df(self):
        return self.store["hll"].partials(self.spark).drop("shard_id", "wall_secs")

    def codec_blobs(self, last: dict) -> dict:
        merges = {
            "hll": functools.partial(HllSketch.merge_blobs, p=self.P),
            "cms": functools.partial(CountMinSketch.merge_blobs, width_log2=self.CMS_WIDTH_LOG2, depth=5),
            "kll": functools.partial(KllSketch.merge_blobs, k=200, seed=0),
            "bloom": functools.partial(BloomFilter.merge_blobs, m_log2=20, k=7),
        }
        return {
            k: ([bytes(r["sketch"]) for r in self.store[k].merged(self.spark).collect()], merges[k])
            for k in merges
        }

    def hll_pairs_df(self, last: dict):
        return self.store["hll"].merged(self.spark).select(F.col("source").alias("k"), "sketch")


WORKLOADS = {w.name: w for w in (BulkTokens, KeyedRollup, SketchAnswers)}
