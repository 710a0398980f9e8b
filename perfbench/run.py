#!/usr/bin/env python3
"""sketchlib benchmark entry point.

    python3 perfbench/run.py --workload bulk_tokens --seed 1 --seconds 15 --trace 0

Run from the repository root. One process: it starts Spark in-process at
``local[<usable cores>]``, generates the seed's inputs under
``.perfbench_work/``, warms the JVM and the Python workers, then runs one
closed-loop client (each op starts after the previous one returns) until the
ops have taken ``--seconds``. Every op's output is checked outside its timed
interval. The last stdout line is one JSON object; the lines above it are
the same numbers for people.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run that records spans, turns on the Spark event log, stops jobs after each
stage and probes single layers; it reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (name, unit), in BENCHMARK.json order
END_TO_END = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("items_per_s", "values/s"),
    ("peak_rss_mb", "MB"),
]
CODEC_KINDS = ("hll", "cms", "kll", "bloom")
PER_LAYER = (
    [
        ("session.start_s", "s"),
        ("session.warm_s", "s"),
        ("data.gen_s", "s"),
        ("data.read_rows_per_s", "rows/s"),
        ("data.row_groups", "count"),
        ("data.input_bytes", "bytes"),
        ("kernels.hash_items_per_s", "values/s"),
        ("kernels.build_items_per_s", "values/s"),
        ("agg.partials_s", "s"),
        ("agg.partial_rows", "count"),
        ("agg.merge_s", "s"),
        ("agg.keys", "count"),
        ("agg.fan_in_max", "count"),
        ("agg.finalize_s", "s"),
        ("spark.task_skew", "ratio"),
        ("spark.shuffle_write_bytes", "bytes"),
        ("spark.shuffle_read_bytes", "bytes"),
        ("spark.spill_bytes", "bytes"),
        ("spark.executor_run_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.jobs_per_op", "count"),
        ("spark.stages_per_op", "count"),
        ("spark.tasks_per_op", "count"),
    ]
    + [
        (f"{k}.{m}", u)
        for k in CODEC_KINDS
        for m, u in (("to_bytes_s", "s"), ("from_bytes_s", "s"), ("merge_blobs_s", "s"), ("blob_bytes", "bytes"))
    ]
    + [
        ("hll.cardinality_s", "s"),
        ("io.ckpt_write_s", "s"),
        ("io.ckpt_bytes", "bytes"),
        ("io.read_partials_s", "s"),
        ("functions.register_s", "s"),
        ("functions.udf_call_s", "s"),
        ("unattributed_s", "s"),
        ("trace.op_p50_s", "s"),
        ("trace.overhead_s", "s"),
        ("ref.approx_count_distinct_s", "s"),
        ("ref.hll_sketch_agg_s", "s"),
        ("ref.percentile_approx_s", "s"),
    ]
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["bulk_tokens", "keyed_rollup", "sketch_answers"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is for the self-tests")
    return ap.parse_args(argv)


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work: str) -> None:
    """Make the repository importable in the driver and in every Python
    worker, and keep every scratch file inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SKETCHLIB_SCRATCH"] = tmp
    os.environ.setdefault("SKETCHLIB_DRIVER_MEM", "3g")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str, trace: bool):
    from sketchlib.session import get_spark

    extra = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app="perfbench", master=f"local[{usable_cores()}]", extra=extra)


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    children = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    alive = children
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


class Ctx:
    def __init__(self, args, work, tracer):
        self.seed = args.seed
        self.scale = args.scale
        self.work = work
        self.tracer = tracer
        self.spark = None


def layer_probes(wl, spark, tracer, last: dict) -> dict:
    """Single-layer measurements on the workload's own inputs and merged
    sketches, taken once per traced run after the ops."""
    import numpy as np
    import pyarrow.parquet as pq

    from sketchlib import BloomFilter, CountMinSketch, HllSketch, KllSketch
    from sketchlib import functions as sql_functions
    from sketchlib.kernels import DEFAULT_SEED, hll_build_into, murmur64a_int32, murmur64a_int64

    from perfbench.trace import median

    out: dict[str, float] = {}

    def median_of(fn, reps=3) -> float:
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return median(times)

    # data: the direct-parquet read the partial build does, single process
    cols, batch_rows = wl.read_spec()
    files = sorted(os.path.join(wl.path, f) for f in os.listdir(wl.path))
    out["data.row_groups"] = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    out["data.input_bytes"] = sum(os.path.getsize(f) for f in files)

    def read_all():
        for f in files:
            for _ in pq.ParquetFile(f).iter_batches(batch_size=batch_rows, columns=cols):
                pass

    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    out["data.read_rows_per_s"] = rows / median_of(read_all)

    # kernels: hash, then the fused grouped build, single process
    values, codes, n_groups, kind, p = wl.kernel_inputs()
    murmur = murmur64a_int32 if kind == "tokens" else murmur64a_int64
    out["kernels.hash_items_per_s"] = len(values) / median_of(lambda: murmur(values, DEFAULT_SEED), 5)
    flat = np.zeros(n_groups << p, dtype=np.uint8)
    out["kernels.build_items_per_s"] = len(values) / median_of(
        lambda: hll_build_into(flat, values, codes, DEFAULT_SEED, p, kind), 5
    )

    # partial rows, keys and fan-in (one untimed pass over the partials)
    counts = [r["count"] for r in wl.partials_df().groupBy(*wl.key_cols).count().collect()]
    out["agg.partial_rows"] = sum(counts)
    out["agg.keys"] = len(counts)
    out["agg.fan_in_max"] = max(counts) if counts else 0

    # blob codec on the merged sketches, seconds per blob
    classes = {"hll": HllSketch, "cms": CountMinSketch, "kll": KllSketch, "bloom": BloomFilter}
    for kind_name, (blobs, merge) in wl.codec_blobs(last).items():
        cls, n = classes[kind_name], len(blobs)
        if not n:
            continue
        sketches = [cls.from_bytes(b) for b in blobs]
        out[f"{kind_name}.from_bytes_s"] = median_of(lambda: [cls.from_bytes(b) for b in blobs]) / n
        out[f"{kind_name}.to_bytes_s"] = median_of(lambda: [s.to_bytes() for s in sketches]) / n
        out[f"{kind_name}.merge_blobs_s"] = median_of(lambda: merge(blobs)) / n
        out[f"{kind_name}.blob_bytes"] = sum(len(b) for b in blobs) / n
        if kind_name == "hll":
            out["hll.cardinality_s"] = median_of(lambda: [s.cardinality() for s in sketches]) / n

    # SQL functions: registration, then the set-algebra UDFs over pairs
    out["functions.register_s"] = median_of(lambda: sql_functions.register(spark, force=True))
    wl.hll_pairs_df(last).orderBy("k").limit(16).createOrReplaceTempView("perfbench_pairs")
    pairs = spark.sql(
        "SELECT hll_union_estimate(a.sketch, b.sketch) AS u, "
        "hll_jaccard_estimate(a.sketch, b.sketch) AS j "
        "FROM perfbench_pairs a JOIN perfbench_pairs b ON a.k < b.k"
    )
    with tracer.span("functions.udf_call"):
        pairs.collect()

    # Spark's own built-ins on the same input, same session (reference only)
    for name, fn in wl.ref_queries().items():
        t0 = time.perf_counter()
        fn()
        out[name] = time.perf_counter() - t0
    return out


def per_layer_metrics(wl, tracer, folded, phases, probe, counts, untraced_times) -> dict:
    from perfbench.trace import median, task_skew

    out = dict(probe)
    out["session.start_s"] = phases["session.start"]
    out["session.warm_s"] = phases["session.warm"]
    out["data.gen_s"] = phases["data.gen"]

    ops = tracer.roots("op")
    out["trace.op_p50_s"] = median(tracer.duration(s) for s in ops)
    out["trace.overhead_s"] = out["trace.op_p50_s"] - median(untraced_times)
    out["unattributed_s"] = median(tracer.self_time(s) for s in ops)

    def stage(name):
        return median(tracer.duration(s) for s in tracer.by_name(name))

    partials, merged, final = stage("agg.partials"), stage("agg.merged"), stage("agg.finalize")
    out["agg.partials_s"] = partials
    out["agg.merge_s"] = merged - partials
    out["agg.finalize_s"] = final - merged
    out["io.read_partials_s"] = stage("io.read_partials")

    # a layer's self time per op; layers used only in set-up or in the
    # probes (op None) count as one group
    def per_op_self(name):
        groups: dict = {}
        for s in tracer.by_name(name):
            groups[s["op"]] = groups.get(s["op"], 0.0) + tracer.self_time(s)
        with_op = [v for k, v in groups.items() if k is not None]
        return median(with_op) if with_op else groups.get(None, 0.0)

    out["io.ckpt_write_s"] = per_op_self("io.ckpt_write")
    out["functions.udf_call_s"] = per_op_self("functions.udf_call")

    op_folds = [folded.get(s["group"], {}) for s in ops]
    out["spark.shuffle_write_bytes"] = median(f.get("shuffle_write", 0) for f in op_folds)
    out["spark.shuffle_read_bytes"] = median(f.get("shuffle_read", 0) for f in op_folds)
    out["spark.spill_bytes"] = median(f.get("spill", 0) for f in op_folds)
    out["spark.executor_run_s"] = median(f.get("run_ms", 0) / 1000 for f in op_folds)
    out["spark.gc_s"] = median(f.get("gc_ms", 0) / 1000 for f in op_folds)
    out["spark.task_skew"] = median(
        task_skew(folded.get(s["group"], {})) for s in tracer.by_name("agg.partials")
    )
    out["io.ckpt_bytes"] = wl.ckpt_bytes
    for i, key in enumerate(("spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op")):
        out[key] = median(c[i] for c in counts)
    return out


def run(args, work: str) -> dict:
    from perfbench.trace import RssSampler, Tracer, fold_event_log, job_counts, median, percentile
    from perfbench.workloads import WORKLOADS

    trace = bool(args.trace)
    tracer = Tracer(enabled=trace)
    ctx = Ctx(args, work, tracer)
    phases: dict[str, float] = {}

    def phase(name, fn):
        t0 = time.perf_counter()
        with tracer.span(name):
            result = fn()
        phases[name] = time.perf_counter() - t0
        return result

    spark = None
    with RssSampler() as rss:
        try:
            t_setup = time.perf_counter()
            spark = phase("session.start", lambda: start_session(work, trace))
            ctx.spark = spark
            tracer.sc = spark.sparkContext
            wl = WORKLOADS[args.workload](ctx)
            phase("data.gen", wl.generate)
            phase("io.prepare", wl.prepare)
            phase("session.warm", wl.warm)
            setup_s = time.perf_counter() - t_setup

            wl.reference()

            records, counts = [], []
            attempted = failed = 0
            measured, i = 0.0, 0
            last_ok = None
            # traced runs alternate an untraced op with a traced one (the
            # difference is the tracing overhead) and stop jobs after each
            # stage following every stage_every-th traced op
            while True:
                traced_op = trace and i % 2 == 1
                tracer.enabled = traced_op
                attempted += 1
                t0 = time.perf_counter()
                try:
                    raw = wl.op(i)
                    elapsed = time.perf_counter() - t0
                    result = wl.collect(raw)
                except Exception:
                    elapsed = time.perf_counter() - t0
                    failed += 1
                    print(f"op {i} raised:\n{traceback.format_exc()}", file=sys.stderr)
                    result = None
                tracer.enabled = trace
                measured += elapsed
                if result is not None:
                    errors = wl.gate(result)
                    if errors:
                        failed += 1
                        print(f"op {i} failed the gate: {errors[:5]}", file=sys.stderr)
                    else:
                        last_ok = result
                    records.append({"t": elapsed, "items": result["items"],
                                    "kind": result.get("kind"), "traced": traced_op})
                    if traced_op:
                        counts.append(job_counts(spark.sparkContext, tracer.roots("op")[-1]["group"]))
                        if (i // 2) % wl.stage_every == 0:
                            wl.stages(i)
                i += 1
                if measured >= args.seconds and (not trace or i >= 2):
                    break

            probe = layer_probes(wl, spark, tracer, last_ok) if trace and last_ok else {}
        finally:
            if spark is not None:
                stop_session(spark)

    timed = [r for r in records if not r["traced"]]
    op_times = [r["t"] for r in timed]
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": median(op_times),
        "items_per_s": median(r["items"] / r["t"] for r in timed),
        "peak_rss_mb": rss.peak / 2**20,
    }
    kinds: dict[str, list] = {}
    for r in records:
        if r["kind"] and not r["traced"]:
            kinds.setdefault(r["kind"], []).append(r["t"])
    report = {
        "ops": len(op_times),
        "op_times": op_times,
        "op_p90_s": percentile(op_times, 90),
        "op_p95_s": percentile(op_times, 95),
        "ops_per_s": len(op_times) / sum(op_times) if op_times else 0.0,
        "failed_frac": failed / attempted,
        "answer_p50_s": {k: median(v) for k, v in kinds.items()},
    }
    layers = {}
    if trace:
        folded = fold_event_log(os.path.join(work, "eventlog"))
        layers = per_layer_metrics(wl, tracer, folded, phases, probe, counts, op_times)
        # a layer the workload does not exercise reads 0
        layers = {name: float(layers.get(name, 0.0)) for name, _ in PER_LAYER}
        tracer.dump(os.path.join(ROOT, ".perfbench_work", "traces", f"{args.workload}-seed{args.seed}.json"))
    return {"e2e": e2e, "layers": layers, "report": report,
            "attempted": attempted, "failed": failed, "setup_phases": phases}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sketchlib", "__init__.py")):
        print(f"perfbench: no sketchlib package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(work)
    try:
        res = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = dict(END_TO_END + PER_LAYER)
    rep = res["report"]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} ops={rep['ops']} "
          f"attempted={res['attempted']} failed={res['failed']} failed_frac={rep['failed_frac']:.4f}")
    print("# set-up phases: " + ", ".join(f"{k}={v:.3f}s" for k, v in res["setup_phases"].items()))
    print("# untraced op times (s): " + " ".join(f"{t:.3f}" for t in rep["op_times"]))
    for name, value in res["e2e"].items():
        print(f"{name:>28} = {value:.6g} {units[name]}")
    print(f"{'op_p90_s':>28} = {rep['op_p90_s']:.6g} s (n={rep['ops']})")
    print(f"{'op_p95_s':>28} = {rep['op_p95_s']:.6g} s (n={rep['ops']})")
    print(f"{'ops_per_s':>28} = {rep['ops_per_s']:.6g} 1/s")
    for k, v in rep["answer_p50_s"].items():
        print(f"{k + '_p50_s':>28} = {v:.6g} s")
    for name, value in res["layers"].items():
        print(f"{name:>28} = {value:.6g} {units[name]}")

    chosen = PER_LAYER if args.trace else END_TO_END
    source = res["layers"] if args.trace else res["e2e"]
    metrics = {name: {"value": float(source[name]), "unit": unit} for name, unit in chosen}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
