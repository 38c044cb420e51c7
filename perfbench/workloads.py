"""The benchmark workloads and the layers traced with them.

Each workload materialises its inputs from ``transcripts_df(sf, seed)``
(the library sees only the generated tables), computes kernel references
for its correctness gate, and exposes one timed operation. The traced
mode splits that operation into layers from the outside: it times
*prefix plans* (each step adds one library layer and is forced with a
``noop`` write) and isolated calls, and tags every Spark job with a job
description so the event log attributes engine counters to layers.
"""

from __future__ import annotations

import shutil
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import harness

P_FLAGSHIP = 14
P_ROLLUP = 12
P_MERGE = 14
DAY = 86_400


class Ctx:
    """What a workload needs from the run: session, work dir, seed."""

    def __init__(self, spark, run_dir: Path, seed: int, scale: float):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.scale = scale
        self.rng = np.random.default_rng(seed)

    @contextmanager
    def described(self, desc: str):
        sc = self.spark.sparkContext
        sc.setJobDescription(desc)
        try:
            yield
        finally:
            sc.setJobDescription(None)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _blob_bytes(path: Path) -> tuple[int, int, int]:
    """(total blob bytes, sketches, sparse sketches) of a stored table."""
    t = pq.read_table(path, columns=["p", "registers"])
    lens = pc.binary_length(t["registers"]).to_numpy()
    dense = (1 << t["p"].to_numpy()).astype(np.int64)
    return int(lens.sum()), len(lens), int((lens != dense).sum())


def _epoch_s(col) -> np.ndarray:
    return col.cast("timestamp[s]").cast("int64").to_numpy()


def _kernel_ref(p: int, values) -> bytes:
    from hyper_spark.kernel.hll import HllSketch

    sk = HllSketch(p)
    sk.insert_many([v.encode() for v in values])
    return sk.registers.tobytes()


class Workload:
    name = ""
    sf = 0.1  # transcripts scale factor; ~4.66M turns per unit
    columns: tuple[str, ...] = ()  # the generated columns the workload reads
    warmup_ops = 1  # untimed operations before the timed ones
    timed_ops = 1  # at least this many timed operations

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.input_path: Path | None = None
        self.n_rows = 0
        self.rel_errors: list[float] = []
        self.bytes_seen: list[int] = []
        self._n_ops = 0

    # -- set-up -----------------------------------------------------------
    def materialise(self, rep: int) -> None:
        from hyper_spark.sources.transcripts import transcripts_df

        path = self.ctx.run_dir / f"{self.name}-input-{rep}"
        if self.input_path is not None:
            shutil.rmtree(self.input_path, ignore_errors=True)
        sf = self.sf * self.ctx.scale
        transcripts_df(self.ctx.spark, sf=sf, seed=self.ctx.seed).select(
            *self.columns
        ).write.parquet(str(path))
        self.input_path = path
        self.raw = pq.read_table(path).to_pandas()
        self.n_rows = len(self.raw)

    def setup(self, rep: int) -> None:
        self.materialise(rep)
        self.prepare()

    def prepare(self) -> None:
        """Kernel references for the gate (part of set-up)."""

    def input_df(self):
        return self.ctx.spark.read.parquet(str(self.input_path))

    def fresh_dir(self, tag: str) -> Path:
        self._n_ops += 1
        return self.ctx.run_dir / f"{self.name}-{tag}-{self._n_ops}"

    # -- the timed operation --------------------------------------------
    def op(self):
        raise NotImplementedError

    def check(self, result) -> bool:
        raise NotImplementedError

    def release(self, result) -> None:
        """Drop files an operation left behind (after its gate)."""

    # -- traced ledger ----------------------------------------------------
    def layers(self, job_s: float) -> dict:
        raise NotImplementedError


class Chain:
    """Prefix plans and isolated calls, each tagged with a job
    description; walls are medians over repetitions."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.walls: dict[str, list[float]] = {}

    def run(self, desc: str, fn):
        with self.ctx.described(desc):
            out, dt = _timed(fn)
        self.walls.setdefault(desc, []).append(dt)
        return out

    def wall(self, desc: str) -> float:
        return harness.median(self.walls[desc]) if desc in self.walls else 0.0

    def reps(self, desc: str) -> int:
        return len(self.walls.get(desc, ())) or 1


# -- flagship_sha1 ---------------------------------------------------------


class FlagshipSha1(Workload):
    """sketch_by(role) -> union_sketches -> sketch_collect -> estimate."""

    name = "flagship_sha1"
    sf = 0.1
    columns = ("conv_id", "role", "tool")
    warmup_ops = 4
    timed_ops = 3

    def prepare(self) -> None:
        ids = self.raw["conv_id"].dropna().unique()
        self.exact = len(ids)
        self.ref = _kernel_ref(P_FLAGSHIP, ids)

    def _sketches(self, df):
        from hyper_spark.operators.hll_agg import sketch_by

        return sketch_by(df, ["role"], "conv_id", p=P_FLAGSHIP)

    def op(self):
        from hyper_spark.operators.hll_agg import sketch_collect, union_sketches

        sk = sketch_collect(union_sketches(self._sketches(self.input_df()), []))
        return sk.registers.tobytes(), sk.cardinality()

    def check(self, result) -> bool:
        regs, est = result
        self.rel_errors.append(abs(est - self.exact) / self.exact)
        self.bytes_seen.append(len(regs))
        return regs == self.ref

    def layers(self, job_s: float) -> dict:
        from pyspark.sql import functions as F

        from hyper_spark.functions.hashing import hll_prepare
        from hyper_spark.kernel.hll import HllSketch
        from hyper_spark.operators.hll_agg import (
            register_table,
            sketch_collect,
            union_sketches,
        )

        df = self.input_df()
        idx, rho = hll_prepare(F.col("conv_id"), P_FLAGSHIP)
        steps = [
            ("scan", lambda: _noop(df.select("role", "conv_id"))),
            ("hashing", lambda: _noop(
                df.filter(F.col("conv_id").isNotNull()).select("role", idx, rho)
            )),
            ("register_table", lambda: _noop(
                register_table(df, ["role"], "conv_id", p=P_FLAGSHIP)
            )),
            ("sketch_by", lambda: _noop(self._sketches(df))),
            ("union_sketches", lambda: _noop(union_sketches(self._sketches(df), []))),
        ]
        stored = self.ctx.run_dir / "flagship-union"
        union_sketches(self._sketches(df), []).write.mode("overwrite").parquet(str(stored))
        ch = Chain(self.ctx)
        for desc, fn in steps:
            ch.run(desc, fn)
        sk = ch.run("sketch_collect", lambda: sketch_collect(
            self.ctx.spark.read.parquet(str(stored))
        ))
        merge = MergeLayer(self)
        merge_metrics = merge.layers(ch, df)
        blob = sk.registers.tobytes()
        from_blob = [_timed(lambda: HllSketch.from_blob(P_FLAGSHIP, blob))[1] for _ in range(21)]
        estimate = [_timed(sk.cardinality)[1] for _ in range(21)]

        reg_rows = register_table(df, ["role"], "conv_id", p=P_FLAGSHIP).count()
        groups = self._sketches(df).count()
        w = ch.wall
        accounted = w("union_sketches") + w("sketch_collect") + harness.median(
            from_blob
        ) + harness.median(estimate)
        return {
            "chain": ch,
            "gates": (merge.attempted, merge.failed),
            "self": {  # module -> [(step, base step)]
                "scan": [("scan", None)],
                "hashing": [("hashing", "scan")],
                "hll_agg": [
                    ("register_table", "hashing"),
                    ("sketch_by", "register_table"),
                    ("union_sketches", "sketch_by"),
                    ("sketch_collect", None),
                ],
                "merge": [("merge.all", None)],
            },
            "metrics": {
                **merge_metrics,
                "scan.s": w("scan"),
                "hashing.self_s": w("hashing") - w("scan"),
                "hashing.rows": self.n_rows,
                "hashing.wall_share": (w("hashing") - w("scan")) / job_s,
                "hll_agg.register_table.self_s": w("register_table") - w("hashing"),
                "hll_agg.register_table.rows_out": reg_rows,
                "hll_agg.register_table.compaction": reg_rows / self.n_rows,
                "hll_agg.sketch_by.self_s": w("sketch_by") - w("register_table"),
                "hll_agg.sketch_by.groups": groups,
                "hll_agg.sketch_by.python_rows_in": reg_rows,
                "hll_agg.sketch_by.wall_share": (w("sketch_by") - w("register_table")) / job_s,
                "hll_agg.union_sketches.self_s": w("union_sketches") - w("sketch_by"),
                "hll_agg.union_sketches.blobs_in": groups,
                "hll_agg.sketch_collect.s": w("sketch_collect"),
                "kernel.hll.from_blob_s": harness.median(from_blob),
                "kernel.hll.estimate_s": harness.median(estimate),
                "layers.unaccounted_share": (job_s - accounted) / job_s,
            },
        }


# -- rollup_build ------------------------------------------------------------


class RollupBuild(Workload):
    """sketch_time_rollup(hour -> day -> week, keys=[role], auto encoding,
    checkpointed) + rollup_estimates."""

    name = "rollup_build"
    sf = 0.025
    columns = ("conv_id", "role", "ts")
    warmup_ops = 3
    timed_ops = 2
    grains = ("hour", "day", "week")
    n_hour_checks = 24
    n_day_checks = 8

    def prepare(self) -> None:
        raw = self.raw
        raw_h = raw["ts"].dt.floor("h")
        raw_d = raw["ts"].dt.floor("D")
        self.refs = {}  # (grain, role, bucket epoch s) -> (blob, exact)
        for grain, n, buckets in (
            ("hour", self.n_hour_checks, raw_h),
            ("day", self.n_day_checks, raw_d),
        ):
            epoch = buckets.astype("int64").to_numpy() // 10**9
            keys = sorted(set(zip(raw["role"], epoch)))
            pick = self.ctx.rng.choice(len(keys), size=min(n, len(keys)), replace=False)
            for i in sorted(pick):
                role, b = keys[i]
                ids = raw["conv_id"][(raw["role"] == role) & (epoch == b)].unique()
                self.refs[(grain, role, int(b))] = (
                    _encode_auto(_kernel_ref(P_ROLLUP, ids)),
                    len(ids),
                )

    def _rollup(self, df, ckpt: Path, grains=None):
        from hyper_spark.operators.rollup import sketch_time_rollup

        return sketch_time_rollup(
            df, "ts", "conv_id", p=P_ROLLUP, grains=grains or self.grains,
            keys=["role"], encoding="auto", checkpoint_dir=str(ckpt),
        )

    def _estimates(self, rollup_df):
        from pyspark.sql import functions as F

        from hyper_spark.operators.rollup import rollup_estimates

        return rollup_estimates(rollup_df).select(
            "grain", "role", F.col("bucket").cast("long").alias("b"), "estimate"
        ).collect()

    def op(self):
        ckpt = self.fresh_dir("rollup")
        est = self._estimates(self._rollup(self.input_df(), ckpt))
        return ckpt, est

    def check(self, result) -> bool:
        ckpt, est = result
        estimates = {(r["grain"], r["role"], r["b"]): r["estimate"] for r in est}
        stored = {}
        total = 0
        for grain in self.grains:
            path = ckpt / f"grain_{grain}"
            total += _blob_bytes(path)[0]
            if grain == "week":
                continue
            t = pq.read_table(path, columns=["role", "__bucket", "registers"])
            for role, b, blob in zip(
                t["role"].to_pylist(), _epoch_s(t["__bucket"]), t["registers"].to_pylist()
            ):
                stored[(grain, role, int(b))] = blob
        self.bytes_seen.append(total)
        ok = True
        for key, (blob, exact) in self.refs.items():
            ok &= stored.get(key) == blob
            if key in estimates:
                self.rel_errors.append(abs(estimates[key] - exact) / exact)
            else:
                ok = False
        return ok

    def release(self, result) -> None:
        shutil.rmtree(result[0], ignore_errors=True)

    def layers(self, job_s: float) -> dict:
        from pyspark.sql import functions as F

        from hyper_spark.functions.hashing import hll_prepare
        from hyper_spark.operators.hll_agg import register_table, sketch_by

        df = self.input_df()
        bucketed = df.withColumn("__bucket", F.date_trunc("hour", F.col("ts")))
        idx, rho = hll_prepare(F.col("conv_id"), P_ROLLUP)
        keys = ["role", "__bucket"]
        steps = [
            ("scan", lambda: _noop(df.select("ts", "role", "conv_id"))),
            ("hashing", lambda: _noop(
                bucketed.filter(F.col("conv_id").isNotNull()).select(*keys, idx, rho)
            )),
            ("register_table", lambda: _noop(
                register_table(bucketed, keys, "conv_id", p=P_ROLLUP)
            )),
            ("sketch_by", lambda: _noop(
                sketch_by(bucketed, keys, "conv_id", p=P_ROLLUP, encoding="auto")
            )),
        ]
        ch = Chain(self.ctx)
        for desc, fn in steps:
            ch.run(desc, fn)
        for i, g in enumerate(self.grains):
            if i:
                shutil.rmtree(ckpt)
            ckpt = self.fresh_dir("layer")
            ch.run(f"grain.{g}", lambda: self._rollup(df, ckpt, self.grains[: i + 1]))
        # a complete checkpoint resumes by reading back: estimates only
        ch.run("cardinality_col", lambda: self._estimates(self._rollup(df, ckpt)))
        hour_bytes, hour_n, hour_sparse = _blob_bytes(ckpt / "grain_hour")
        day_bytes, day_n, day_sparse = _blob_bytes(ckpt / "grain_day")
        week_bytes, week_n, week_sparse = _blob_bytes(ckpt / "grain_week")
        serve = ServeLayer(self, ckpt)
        serve_metrics = serve.layers(ch)
        shutil.rmtree(ckpt)
        reg_rows = register_table(bucketed, keys, "conv_id", p=P_ROLLUP).count()
        w = ch.wall
        n_sk = hour_n + day_n + week_n
        return {
            "chain": ch,
            "gates": (serve.attempted, serve.failed),
            "self": {
                "scan": [("scan", None)],
                "hashing": [("hashing", "scan")],
                "hll_agg": [
                    ("register_table", "hashing"),
                    ("sketch_by", "register_table"),
                    ("cardinality_col", None),
                ],
                "rollup": [("grain.week", "sketch_by")],
                "serve": [("serve.query", None)],
                "hll_serde": [("serve.to_json", "serve.export_scan")],
            },
            "metrics": {
                **serve_metrics,
                "scan.s": w("scan"),
                "hashing.self_s": w("hashing") - w("scan"),
                "hashing.rows": self.n_rows,
                "hashing.wall_share": (w("hashing") - w("scan")) / job_s,
                "hll_agg.register_table.self_s": w("register_table") - w("hashing"),
                "hll_agg.register_table.rows_out": reg_rows,
                "hll_agg.register_table.compaction": reg_rows / self.n_rows,
                "hll_agg.sketch_by.self_s": w("sketch_by") - w("register_table"),
                "hll_agg.sketch_by.groups": hour_n,
                "hll_agg.sketch_by.python_rows_in": reg_rows,
                "hll_agg.sketch_by.wall_share": (w("sketch_by") - w("register_table")) / job_s,
                "hll_agg.union_sketches.self_s": w("grain.week") - w("grain.hour"),
                "hll_agg.union_sketches.blobs_in": hour_n + day_n,
                "hll_agg.cardinality_col.s": w("cardinality_col"),
                "rollup.grain.hour.s": w("grain.hour"),
                "rollup.grain.day.s": w("grain.day") - w("grain.hour"),
                "rollup.grain.week.s": w("grain.week") - w("grain.day"),
                "rollup.sparse_share": (hour_sparse + day_sparse + week_sparse) / n_sk,
                "rollup.stored_bytes": hour_bytes + day_bytes + week_bytes,
                "layers.unaccounted_share": (
                    job_s - w("grain.week") - w("cardinality_col")
                ) / job_s,
            },
        }


def _encode_auto(dense: bytes) -> bytes:
    from hyper_spark.kernel.hll import encode_registers

    return encode_registers(np.frombuffer(dense, dtype=np.uint8), "auto")


# -- plans.merge (traced with flagship_sha1) -----------------------------------


class MergeLayer:
    """plans.merge.checkpointed_sketch_build(keys=[tool], salted, auto
    encoding) over the flagship input: about 85% of turns carry a NULL
    tool, the rest follow the power-law tool vocabulary, and every raw
    (idx, rho) row reaches Python at level 0. Gate: each tool's sketch,
    the NULL-tool group included, equals the kernel build."""

    def __init__(self, wl: Workload):
        self.wl = wl
        self.refs = {}
        for tool, ids in wl.raw.groupby("tool", dropna=False)["conv_id"]:
            ids = ids.unique()
            key = None if isinstance(tool, float) else tool  # NaN group = NULL tool
            self.refs[key] = _kernel_ref(P_MERGE, ids)
        self.attempted = self.failed = 0

    def build(self, df, ckpt: Path):
        from hyper_spark.plans.merge import checkpointed_sketch_build

        return checkpointed_sketch_build(
            self.wl.ctx.spark, df, ["tool"], "conv_id", str(ckpt), p=P_MERGE, encoding="auto"
        )

    def estimates(self, sk):
        from pyspark.sql import functions as F

        from hyper_spark.operators.hll_agg import cardinality_col

        return sk.select(
            "tool", "registers", cardinality_col(F.col("p"), F.col("registers")).alias("estimate")
        ).collect()

    def check(self, rows) -> None:
        from hyper_spark.kernel.hll import decode_register_blob

        got = {r["tool"]: decode_register_blob(P_MERGE, r["registers"]).tobytes() for r in rows}
        self.attempted += 1
        if len(got) != len(rows) or got != self.refs:
            harness.log("gate failed: plans.merge output differs from the kernel build")
            self.failed += 1

    def layers(self, ch: "Chain", df) -> dict:
        ckpt = self.wl.fresh_dir("merge")
        sk = ch.run("merge.all", lambda: self.build(df, ckpt))
        self.check(ch.run("merge.cardinality_col", lambda: self.estimates(sk)))
        levels = sorted(d for d in ckpt.iterdir() if d.name.startswith("level_"))
        ckpt_bytes = _parquet_bytes(ckpt)
        lineage = pq.read_table(levels[0], columns=["rows_in"])["rows_in"].to_numpy()
        # a rerun resumes after the last complete level: keep level 0 only
        for d in levels[1:]:
            shutil.rmtree(d)
        ch.run("merge.levels_rest", lambda: self.build(df, ckpt))
        shutil.rmtree(ckpt)
        w = ch.wall
        return {
            "merge.level0.s": w("merge.all") - w("merge.levels_rest"),
            "merge.levels_rest.s": w("merge.levels_rest"),
            "merge.levels": len(levels),
            "merge.ckpt_bytes": ckpt_bytes,
            "merge.python_rows_in": int(self.wl.raw["conv_id"].notna().sum()),
            "merge.partial_skew": float(lineage.max() / np.median(lineage)),
        }


def _parquet_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*.parquet"))


# -- the read side (traced with rollup_build) ----------------------------------


class ServeLayer:
    """Queries against the stored hour/day sketch tables of a rollup, one
    at a time: range unions, 7-day sliding unions, week-over-week
    intersections, JSON export. No raw scan, no hashing. Gate: every
    answer equals the kernel merge of the same stored blobs."""

    # one cycle of the query mix: range unions over 1, 7 and 30 days (4),
    # sliding (2), intersect (2), export (2); the seed picks each query's
    # role and start day
    cycle = (("range", 1), ("sliding", 0), ("range", 7), ("intersect", 14), ("export", 7),
             ("range", 30), ("sliding", 0), ("range", 1), ("intersect", 14), ("export", 7))

    def __init__(self, wl: Workload, store: Path):
        from hyper_spark.kernel.hll import decode_register_blob

        self.wl = wl
        self.ctx = wl.ctx
        self.store = store
        self.tables = {}
        for grain in ("hour", "day"):
            t = pq.read_table(store / f"grain_{grain}", columns=["role", "__bucket", "registers"])
            roles = np.array(t["role"].to_pylist(), dtype=object)
            regs = np.stack([
                decode_register_blob(P_ROLLUP, b) for b in t["registers"].to_pylist()
            ])
            self.tables[grain] = (roles, _epoch_s(t["__bucket"]), regs)
        days = self.tables["day"][1]
        self.day_lo, self.day_hi = int(days.min()), int(days.max())
        self.roles = sorted(set(self.tables["day"][0]))
        self.raw_epoch = wl.raw["ts"].astype("int64").to_numpy() // 10**9
        self.attempted = self.failed = 0

    def queries(self):
        rng = self.ctx.rng
        n_days = (self.day_hi - self.day_lo) // DAY + 1
        for kind, length in self.cycle:
            length = length or n_days
            role = self.roles[rng.integers(len(self.roles))]
            start = self.day_lo + DAY * int(rng.integers(max(1, n_days - length + 1)))
            yield kind, role, start, start + length * DAY

    def _stored(self, grain: str):
        return self.ctx.spark.read.parquet(str(self.store / f"grain_{grain}"))

    def _between(self, grain, lo, hi, role=None):
        from pyspark.sql import functions as F

        b = F.col("__bucket")
        cond = (b >= F.timestamp_seconds(F.lit(lo))) & (b < F.timestamp_seconds(F.lit(hi)))
        if role is not None:
            cond &= F.col("role") == role
        return self._stored(grain).filter(cond)

    def _rows_between(self, grain, lo, hi, role=None):
        roles, buckets, regs = self.tables[grain]
        sel = (buckets >= lo) & (buckets < hi)
        if role is not None:
            sel &= roles == role
        return roles[sel], buckets[sel], regs[sel]

    def _with_estimate(self, df, *cols):
        from pyspark.sql import functions as F

        from hyper_spark.operators.hll_agg import cardinality_col

        return df.select(*cols, "registers", cardinality_col(F.col("p"), F.col("registers")).alias("est"))

    def run_query(self, q):
        from pyspark.sql import functions as F

        from hyper_spark.operators.hll_agg import intersect_card, union_sketches
        from hyper_spark.operators.hll_serde import hll_to_json_col
        from hyper_spark.operators.rollup import sliding_sketch_union

        kind, role, lo, hi = q
        if kind == "range":
            u = union_sketches(self._between("hour", lo, hi), ["role"])
            return self._with_estimate(u, "role").collect()
        if kind == "sliding":
            s = sliding_sketch_union(self._stored("day"), bucket_col="__bucket", window=7, keys=["role"])
            return self._with_estimate(s, "role", F.col("__bucket").cast("long").alias("b")).collect()
        if kind == "intersect":
            mid = lo + 7 * DAY
            a = union_sketches(self._between("day", lo, mid, role), [])
            b = union_sketches(self._between("day", mid, hi, role), [])
            return intersect_card(a, b).collect()
        days = self._between("day", lo, hi, role)
        return days.select(
            F.col("__bucket").cast("long").alias("b"), hll_to_json_col("p", "registers").alias("json")
        ).collect()

    def _merged(self, grain, lo, hi, role):
        from hyper_spark.kernel.hll import HllSketch

        regs = self._rows_between(grain, lo, hi, role)[2]
        return HllSketch(P_ROLLUP, regs.max(axis=0)) if len(regs) else None

    def check(self, q, rows) -> bool:
        from hyper_spark.kernel.hll import HllSketch, decode_register_blob

        kind, role, lo, hi = q

        def same(row, ref):
            return (
                ref is not None
                and decode_register_blob(P_ROLLUP, row["registers"]).tobytes() == ref.registers.tobytes()
                and row["est"] == ref.cardinality()
            )

        if kind == "range":
            ok = sorted(r["role"] for r in rows) == sorted(set(self._rows_between("hour", lo, hi)[0]))
            raw = self.wl.raw
            for r in rows:
                ok &= same(r, self._merged("hour", lo, hi, r["role"]))
                sel = (raw["role"].to_numpy() == r["role"]) & (self.raw_epoch >= lo) & (self.raw_epoch < hi)
                exact = raw["conv_id"][sel].nunique()
                self.wl.rel_errors.append(abs(r["est"] - exact) / exact)
            return bool(ok)
        if kind == "sliding":
            # a target exists for every observed day on which the role has
            # a source bucket in the 7-day window ending there
            days = sorted(set(self.tables["day"][1].tolist()))
            want = {
                (rl, t) for rl in self.roles for t in days
                if self._merged("day", t - 6 * DAY, t + 1, rl) is not None
            }
            ok = {(r["role"], r["b"]) for r in rows} == want and len(rows) == len(want)
            for r in rows:
                ok &= same(r, self._merged("day", r["b"] - 6 * DAY, r["b"] + 1, r["role"]))
            return bool(ok)
        if kind == "intersect":
            mid = lo + 7 * DAY
            a, b = self._merged("day", lo, mid, role), self._merged("day", mid, hi, role)
            if a is None or b is None:
                return rows == []
            return len(rows) == 1 and rows[0][0] == a.intersect_cardinality(b)
        _, buckets, regs = self._rows_between("day", lo, hi, role)
        want = {int(b): g.tobytes() for b, g in zip(buckets, regs)}
        got = {}
        for r in rows:
            sk = HllSketch.from_json(r["json"])
            got[r["b"]] = sk.registers.tobytes() if sk.p == P_ROLLUP else None
        return got == want

    def layers(self, ch: Chain) -> dict:
        from hyper_spark.kernel.hll import HllSketch
        from hyper_spark.operators.hll_agg import union_sketches
        from hyper_spark.operators.hll_serde import hll_to_json_col

        for q in self.queries():
            rows = ch.run("serve.query", lambda: self.run_query(q))
            self.attempted += 1
            if not self.check(q, rows):
                harness.log(f"gate failed: serve query {q[0]}")
                self.failed += 1

        blobs_in, json_bytes = [], []
        n_days = (self.day_hi - self.day_lo) // DAY + 1
        for _ in range(3):
            lo = self.day_lo + DAY * int(self.ctx.rng.integers(max(1, n_days - 6)))
            hi = lo + 7 * DAY
            hours = lambda: self._between("hour", lo, hi)  # noqa: E731
            ch.run("serve.scan", lambda: _noop(hours()))
            ch.run("serve.union_sketches", lambda: _noop(union_sketches(hours(), ["role"])))
            ch.run("serve.cardinality_col", lambda: _noop(
                self._with_estimate(union_sketches(hours(), ["role"]), "role")
            ))
            rows = ch.run("serve.sketch_collect", lambda: self._with_estimate(
                union_sketches(hours(), ["role"]), "role"
            ).collect())
            blobs_in.append(len(self._rows_between("hour", lo, hi)[0]))
            days = lambda: self._between("day", lo, hi)  # noqa: E731
            ch.run("serve.export_scan", lambda: _noop(days()))
            ch.run("serve.to_json", lambda: _noop(days().select(hll_to_json_col("p", "registers"))))
            docs = days().select(hll_to_json_col("p", "registers").alias("j")).collect()
            json_bytes.append(sum(len(r["j"]) for r in docs))
        blob = rows[0]["registers"]
        sk = HllSketch.from_blob(P_ROLLUP, blob)
        from_blob = [_timed(lambda: HllSketch.from_blob(P_ROLLUP, blob))[1] for _ in range(21)]
        estimate = [_timed(sk.cardinality)[1] for _ in range(21)]
        w = ch.wall
        return {
            "serve.query_p50_ms": w("serve.query") * 1e3,
            "serve.scan.s": w("serve.scan"),
            "serve.union_sketches.self_s": w("serve.union_sketches") - w("serve.scan"),
            "serve.union_sketches.blobs_in": harness.median(blobs_in),
            "serve.cardinality_col.s": w("serve.cardinality_col") - w("serve.union_sketches"),
            "serve.sketch_collect.s": w("serve.sketch_collect") - w("serve.cardinality_col"),
            "kernel.hll.from_blob_s": harness.median(from_blob),
            "kernel.hll.estimate_s": harness.median(estimate),
            "hll_serde.to_json.s": w("serve.to_json") - w("serve.export_scan"),
            "hll_serde.bytes_out": harness.median(json_bytes),
        }


WORKLOADS = {w.name: w for w in (FlagshipSha1, RollupBuild)}
