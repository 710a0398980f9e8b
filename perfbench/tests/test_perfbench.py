"""Self-tests for the benchmark (not part of the library's tier-1 suite).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each test starts Spark at tiny input sizes; the whole file takes a few
minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def _bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [(w, 0) for w in ("bulk_tokens", "keyed_rollup", "sketch_answers")]
    + [(w["name"], 1) for w in BENCHMARK["workloads"]],
)
def test_every_named_metric_prints_with_its_unit(workload, trace):
    proc = _bench(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    named = BENCHMARK["per_layer"] if trace else BENCHMARK["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in named}
    for m in named:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
        assert any(
            line.split("=")[0].strip() == m["name"] and line.rstrip().endswith(" " + m["unit"])
            for line in lines[:-1]
        ), f"{m['name']} not printed with its unit"
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in named)


def test_fails_without_the_library():
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    try:
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = _bench("bulk_tokens", 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert not proc.stdout.strip()


@pytest.fixture(scope="module")
def bulk():
    """A tiny bulk_tokens workload on an in-process Spark session."""
    from perfbench.trace import Tracer

    class Args:
        seed, scale = 5, "tiny"

    work = os.path.join(ROOT, ".perfbench_work", f"test-{os.getpid()}")
    run.prepare_environment(work)
    from perfbench.workloads import BulkTokens

    ctx = run.Ctx(Args, work, Tracer())
    ctx.spark = run.start_session(work, trace=False)
    try:
        wl = BulkTokens(ctx)
        wl.generate()
        wl.reference()
        yield wl
    finally:
        run.stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)


def test_gate_fails_an_op_with_a_corrupted_register(bulk):
    from sketchlib import HllSketch
    from sketchlib.hll import registers_from_blobs

    result = bulk.op(0)
    assert bulk.gate(result) == []

    rows = [r.asDict() for r in result["rows"]]
    victim = next(r for r in rows if r["source"] == "s00")
    regs, p, seed = registers_from_blobs([victim["sketch"]])
    regs = regs[0].copy()
    i = int((regs < 40).argmax())
    regs[i] += 1
    victim["sketch"] = HllSketch(p=p, seed=seed, registers=regs).to_bytes()
    errors = bulk.gate({**result, "rows": rows})
    assert any("s00: merged registers differ" in e for e in errors), errors
