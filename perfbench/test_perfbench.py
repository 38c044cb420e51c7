"""Self-tests of the benchmark (not part of the library's test suite).

    python3 -m pytest perfbench -q

Tiny-scale smoke runs of every workload pass their gates, the seed
changes the inputs and the gate references, a corrupted answer fails its
gate, and every metric the benchmark prints is declared in
BENCHMARK.json with the same unit.
"""

from __future__ import annotations

import contextlib
import json
import shutil
import subprocess
import sys

import pytest

from perfbench import harness, run
from perfbench.workloads import WORKLOADS, Ctx

TINY = "0.05"  # of each workload's input size


def _declared():
    with open(harness.ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def _run(workload: str, trace: int, seed: int = 3) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", TINY],
        cwd=harness.ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_declared_names_match_the_code():
    spec = _declared()
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_passes_gates(workload, trace):
    res = _run(workload, trace)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.fixture(scope="module")
def spark():
    run_dir = harness.prepare_run_dir()
    session = harness.build_session(2, run_dir)
    yield session, run_dir
    harness.shutdown_jvm()
    shutil.rmtree(run_dir, ignore_errors=True)
    with contextlib.suppress(OSError):
        harness.WORK.rmdir()


def _setup(spark, workload: str, seed: int):
    session, run_dir = spark
    wl = WORKLOADS[workload](Ctx(session, run_dir / f"s{seed}", seed, float(TINY)))
    (run_dir / f"s{seed}").mkdir(exist_ok=True)
    wl.setup(0)
    return wl


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_seed_changes_inputs_and_references(spark, workload):
    a, b = _setup(spark, workload, 11), _setup(spark, workload, 12)
    assert not a.raw.equals(b.raw)
    if workload == "rollup_build":
        assert a.refs != b.refs
    else:
        # the generator emits conv ids 0..N-1 at every seed, so the distinct
        # set behind the flagship reference depends on the scale only
        assert a.ref == b.ref


def test_corrupted_answer_fails_the_gate(spark):
    wl = _setup(spark, "flagship_sha1", 13)
    regs, est = wl.op()
    assert wl.check((regs, est))
    bad = bytes([regs[0] ^ 1]) + regs[1:]
    assert not wl.check((bad, est))
