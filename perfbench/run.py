"""hyper_spark benchmark: four seeded sketch workloads on local[<cores>].

    python3 perfbench/run.py --workload flagship_sha1 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ledger (event logging on, prefix plans, single-core
baseline). Every timed operation is checked against kernel references;
a failed check fails the run (exit code 1). Without the library next to
this directory the run exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import harness  # noqa: E402


END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "sketch_bytes": "bytes",
    "peak_rss_mb": "MB",
}

MODULES = ("scan", "hashing", "hll_agg", "rollup", "merge", "serve", "hll_serde")
_COUNTER_UNITS = {
    "task_cpu_s": "s",
    "task_run_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
    "python_bytes_sent": "bytes",
    "tasks": "count",
    "busy_share": "ratio",
}

PER_LAYER = {
    "job.s": "s",
    "job.rows_per_s": "rows/s",
    "job.cpu_s": "s",
    "scan.s": "s",
    "hashing.self_s": "s",
    "hashing.rows": "count",
    "hashing.wall_share": "ratio",
    "hll_agg.register_table.self_s": "s",
    "hll_agg.register_table.rows_out": "count",
    "hll_agg.register_table.compaction": "ratio",
    "hll_agg.sketch_by.self_s": "s",
    "hll_agg.sketch_by.groups": "count",
    "hll_agg.sketch_by.python_rows_in": "count",
    "hll_agg.sketch_by.wall_share": "ratio",
    "hll_agg.union_sketches.self_s": "s",
    "hll_agg.union_sketches.blobs_in": "count",
    "hll_agg.cardinality_col.s": "s",
    "hll_agg.sketch_collect.s": "s",
    "serve.query_p50_ms": "ms",
    "serve.scan.s": "s",
    "serve.union_sketches.self_s": "s",
    "serve.union_sketches.blobs_in": "count",
    "serve.cardinality_col.s": "s",
    "serve.sketch_collect.s": "s",
    "kernel.hll.from_blob_s": "s",
    "kernel.hll.estimate_s": "s",
    "hll_serde.to_json.s": "s",
    "hll_serde.bytes_out": "bytes",
    "rollup.grain.hour.s": "s",
    "rollup.grain.day.s": "s",
    "rollup.grain.week.s": "s",
    "rollup.sparse_share": "ratio",
    "rollup.stored_bytes": "bytes",
    "merge.level0.s": "s",
    "merge.levels_rest.s": "s",
    "merge.levels": "count",
    "merge.ckpt_bytes": "bytes",
    "merge.python_rows_in": "count",
    "merge.partial_skew": "ratio",
    "estimate.rel_error": "ratio",
    "layers.unaccounted_share": "ratio",
    "tracing.overhead": "ratio",
    "spark.scaling_eff": "ratio",
    **{f"spark.{c}": u for c, u in _COUNTER_UNITS.items()},
    **{f"spark.{m}.{c}": u for m in MODULES for c, u in _COUNTER_UNITS.items()},
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies every workload's input size (self-tests, scaling baseline)")
    ap.add_argument("--cores", type=int, default=0, help="local[N]; default: all usable cores")
    ap.add_argument("--setup-reps", type=int, default=3,
                    help="set-ups timed in a --trace 0 run; setup_s is their median")
    return ap.parse_args(argv)


class Tally:
    """Attempted/failed operations; wall and CPU seconds per timed one."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.latencies: list[float] = []
        self.cpu: list[float] = []

    def one(self, wl, timed: bool) -> None:
        self.attempted += 1
        try:
            c0 = harness.tree_cpu_s()
            t0 = time.perf_counter()
            res = wl.op()
            dt = time.perf_counter() - t0
            cpu = harness.tree_cpu_s() - c0
            ok = wl.check(res)
            wl.release(res)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            return
        if not ok:
            print(f"gate failed: {wl.name} operation {self.attempted}", file=sys.stderr)
            self.failed += 1
        if timed:
            self.latencies.append(dt)
            self.cpu.append(cpu)


def measure(ctx, wl, seconds: float, desc: str | None = None) -> Tally:
    """``wl.warmup_ops`` untimed operations, then timed operations back to
    back until ``seconds`` have passed and ``wl.timed_ops`` were timed.
    JIT compilation keeps speeding up (and costs CPU in) the first
    several operations, so both phases count operations: the timed ones
    sit at the same point of the warm-up curve in every run."""
    tally = Tally()
    for _ in range(wl.warmup_ops):
        tally.one(wl, timed=False)
    warm = tally.attempted
    deadline = time.monotonic() + seconds
    while True:
        if desc:
            with ctx.described(desc):
                tally.one(wl, timed=True)
        else:
            tally.one(wl, timed=True)
        if time.monotonic() >= deadline and tally.attempted - warm >= wl.timed_ops:
            return tally


def end_to_end(wl, tally: Tally, setup_times, rss_mb: float) -> dict:
    return {
        "setup_s": harness.median(setup_times),
        "cpu_s_per_op": harness.median(tally.cpu) if tally.cpu else 0.0,
        "sketch_bytes": harness.median(wl.bytes_seen) if wl.bytes_seen else 0.0,
        "peak_rss_mb": rss_mb,
    }


def _module_counters(ledger: dict, counters: dict, n_cores: int) -> dict:
    ch = ledger["chain"]

    def per_rep(desc):
        tot = counters.get(desc, {})
        return {c: tot.get(c, 0.0) / ch.reps(desc) for c in harness.COUNTERS}

    out = {}
    for mod, pairs in ledger["self"].items():
        acc = dict.fromkeys(harness.COUNTERS, 0.0)
        wall = 0.0
        for step, base in pairs:
            top = per_rep(step)
            bot = per_rep(base) if base else dict.fromkeys(harness.COUNTERS, 0.0)
            for c in harness.COUNTERS:
                acc[c] += top[c] - bot[c]
            wall += ch.wall(step) - (ch.wall(base) if base else 0.0)
        acc["busy_share"] = acc["task_run_s"] / (wall * n_cores) if wall > 0 else 0.0
        out.update({f"spark.{mod}.{c}": v for c, v in acc.items()})
    return out


WALL_TAG = "median wall per operation (s):"


def _untraced_p50_s(args, n_cores: int, scale: float) -> float:
    """Median operation wall time of a ``--trace 0`` run of the same
    workload and seed in a child process (its own JVM), read from the
    child's log."""
    cmd = [
        sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", "1",
        "--trace", "0", "--cores", str(n_cores), "--scale", str(scale), "--setup-reps", "1",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=120,
                         cwd=harness.ROOT, check=True)
    line = next(ln for ln in out.stderr.splitlines() if WALL_TAG in ln)
    return float(line.split(WALL_TAG)[1])


def traced(ctx, wl, run_dir: Path, n_cores: int, seconds: float) -> tuple[Tally, dict]:
    """Set up once, time the operation under the "job" description, then
    the layer ledger; counters come from the session's event log."""
    wl.setup(0)
    tally = measure(ctx, wl, seconds, desc="job")
    job_s = harness.median(tally.latencies)
    harness.log(f"timed operations (s): {[round(t, 3) for t in tally.latencies]}")
    ledger = wl.layers(job_s)
    harness.log("layers done")
    ctx.spark.stop()
    counters = harness.parse_event_log(run_dir / "events")
    job = {c: v / len(tally.latencies) for c, v in counters.get("job", {}).items()}

    unknown = set(ledger["metrics"]) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    metrics.update(ledger["metrics"])
    metrics["job.s"] = job_s
    metrics["job.rows_per_s"] = wl.n_rows / job_s
    metrics["job.cpu_s"] = harness.median(tally.cpu)
    metrics["estimate.rel_error"] = max(wl.rel_errors) if wl.rel_errors else 0.0
    metrics.update({f"spark.{c}": job.get(c, 0.0) for c in harness.COUNTERS})
    metrics["spark.busy_share"] = job.get("task_run_s", 0.0) / (job_s * n_cores)
    metrics.update(_module_counters(ledger, counters, n_cores))
    gates = ledger.get("gates", (0, 0))
    tally.attempted += gates[0]
    tally.failed += gates[1]
    return tally, metrics


def main(argv=None) -> int:
    args = _parse(argv)
    if not harness.library_present():
        print(f"hyper_spark not found under {harness.ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; pick from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    n_cores = args.cores or harness.cores()
    run_dir = harness.prepare_run_dir()
    events = run_dir / "events" if args.trace else None
    try:
        with harness.RssSampler() as rss:
            spark = harness.build_session(n_cores, run_dir, events)
            try:
                harness.log("session ready")
                ctx = Ctx(spark, run_dir, args.seed, args.scale)
                wl = WORKLOADS[args.workload](ctx)
                if args.trace:
                    tally, metrics = traced(ctx, wl, run_dir, n_cores, args.seconds)
                else:
                    setup_times = []
                    for rep in range(args.setup_reps):
                        t0 = time.perf_counter()
                        wl.setup(rep)
                        setup_times.append(time.perf_counter() - t0)
                    harness.log(f"set-up {setup_times}")
                    tally = measure(ctx, wl, args.seconds)
                    harness.log(f"timed operations: wall (s) {[round(t, 3) for t in tally.latencies]}"
                                f", cpu (s) {[round(t, 3) for t in tally.cpu]}")
                    harness.log(f"{WALL_TAG} {harness.median(tally.latencies)}")
            finally:
                harness.shutdown_jvm()
        if args.trace:
            # one child run per traced workload, after the JVM has stopped
            # so that it measures alone
            if args.workload == "flagship_sha1":
                # weak scaling: local[1] over a quarter of the input
                metrics["spark.scaling_eff"] = (
                    _untraced_p50_s(args, 1, args.scale / 4) / metrics["job.s"]
                )
            else:
                plain_s = _untraced_p50_s(args, n_cores, args.scale)
                metrics["tracing.overhead"] = metrics["job.s"] / plain_s
            units = PER_LAYER
        else:
            metrics = end_to_end(wl, tally, setup_times, rss.peak_mb)
            units = END_TO_END
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            harness.WORK.rmdir()
        except OSError:
            pass
    correct = tally.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
