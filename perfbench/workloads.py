"""The benchmark's workloads.

Each workload loads one group of layers and skips another:

- ``store``: the tier-store side. Each cycle runs the north-rule batch
  job (``pipeline.run``: clean -> salted 1m/1h/1d cascade -> TierStore
  writes -> gap-fill -> Gorilla pack) and a validation-only rule pass,
  then one client's reads of a 30-day store — routed reads, Gorilla
  window decodes, gap-fill reads — interleaved with late-data refreshes
  (``pipeline.ingest_late``) and streaming-cascade drains. Skips
  operators.
- ``analytics``: a fixed, ordered list of entry queries
  (``__spark_entry__.queries()``) in one long-lived session. Skips the
  tier store, router and streaming.

A workload provides ``inputs`` (seeded generation, repeatable),
``prepare`` (one-off set-up and warm-up), ``cycle`` (the operations of
one cycle), ``verify`` (output checks, after the timed loop), ``named``
(its metrics under their issue names) and, for the traced run,
``layers``; ``Workload`` gives the optional parts as no-ops.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time

import numpy as np
import pandas as pd

import checks
import inputs

CAP = 250.0  # token cap of the validation rule: flags n_tok > 250

#: per-layer metric prefix -> the workload metrics it should move (the
#: gated end-to-end metrics carry them: cycle_s and op_geomean_ms of the
#: workload named first)
LAYER_MAP = {
    "rules.": ["store: ingest_points_per_s", "validate_points_per_s",
               "serve_refresh_p50_s"],
    "rollup.": ["store: ingest_points_per_s", "serve_refresh_p50_s"],
    "tierstore.": ["store: ingest_points_per_s", "serve_read_p90_ms",
                   "serve_refresh_p50_s"],
    "compress.pack_s": ["store: ingest_points_per_s"],
    "compress.ratio": ["store: ingest_points_per_s"],
    "compress.unpack_s": ["store: serve_read_p50_ms"],
    "compress.blocks_decoded_ratio": ["store: serve_read_p50_ms"],
    "router.": ["store: serve_read_p50_ms", "serve_read_p90_ms"],
    "gapfill.": ["store: serve_read_p50_ms", "serve_read_p90_ms"],
    "pipeline.": ["store: serve_refresh_p50_s"],
    "streaming.": ["store: serve_stream_rows_per_s"],
    "operators.": ["analytics: analytics_geomean_s", "analytics_total_s"],
}


def local_ruleset():
    """Token cap only: a local rule, as ``ingest_late``'s parity
    contract requires."""
    from traval_spark.plans.ruleset import SparkRuleSet

    rs = SparkRuleSet("perfbench-local")
    rs.add_rule("toklen_max", "rule_hardmax", apply_to=0,
                kwargs={"threshold": CAP})
    return rs


def north_ruleset():
    """The pipeline's default cleaning rules with the token cap at 250."""
    from traval_spark.pipeline import default_ruleset

    rs = default_ruleset()
    rs.update_rule("toklen_max", "rule_hardmax", apply_to=0,
                   kwargs={"threshold": CAP})
    return rs


def frame(table) -> pd.DataFrame:
    return table.select(["doc_id", "source", "ts", "n_tok"]).to_pandas()


def median_or0(vals) -> float:
    vals = list(vals)
    return statistics.median(vals) if vals else 0.0


# -- span wrappers for the traced run ------------------------------------------


class Instrumentation:
    """Wraps attributes of the program's modules so each call opens a
    span (only while the tracer is active); ``close`` restores them."""

    def __init__(self, tracer):
        self.tracer = tracer
        self._undo = []

    def wrap(self, owner, attr: str, name: str, note=None) -> None:
        orig = getattr(owner, attr)
        tracer = self.tracer

        def wrapper(*a, **kw):
            with tracer.span(name) as rec:
                out = orig(*a, **kw)
                if note is not None and rec:
                    rec.update(note(a, kw, out))
                return out

        setattr(owner, attr, wrapper)
        self._undo.append(lambda: setattr(owner, attr, orig))

    def close(self) -> None:
        while self._undo:
            self._undo.pop()()


def span_total(tracer, op: dict, prefix: str) -> float:
    """Seconds spent in spans named ``prefix`` under the op's span,
    counting nested spans of the same layer once."""
    root = next(s for s in tracer.spans if s["id"] == op["span"])
    inner = [s for s in tracer.subtree(root) if s["name"] == prefix
             or s["name"].startswith(prefix + ".")]
    ids = {s["id"] for s in inner}
    return sum(s["end"] - s["start"] for s in inner if s["parent"] not in ids)


def traced(ctx, *kinds: str) -> list[dict]:
    return [o for o in ctx.ops_of(*kinds) if o["traced"]]


def tier_files(root: str, tiers=("1m", "1h", "1d")) -> tuple[int, int, int]:
    """(parquet files, bytes, day partitions) under the store's tiers."""
    files = size = days = 0
    for t in tiers:
        for dirpath, _dirs, names in os.walk(os.path.join(root, t)):
            if os.path.basename(dirpath).startswith("day="):
                days += 1
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
    return files, size, days


class Workload:
    """The parts of a workload that only one workload needs, as no-ops."""

    #: seconds of ``prepare`` spent checking outputs, not setting up
    untimed_s = 0.0

    def probe(self, ctx) -> None:
        """Isolated layer runs after the timed loop, traced runs only."""

    def reference(self, ctx, start_spark) -> dict:
        """Runs in sessions of their own at the end of a traced run."""
        return {}

    def close(self) -> None:
        """Undo what ``prepare`` changed outside the workload."""


# -- store ------------------------------------------------------------------------


#: days each read kind covers; the seed picks where the range starts
READ_KINDS = {"read_1m": 2, "read_1h": 7, "read_1d": 30, "unpack": 1,
              "gapfill": 1}
#: the reads before and after the refresh in every cycle: a fixed mix,
#: so runs with different seeds do the same work
READ_MIX = (("read_1m", "read_1h", "unpack"), ("read_1d", "gapfill", "read_1h"))


class Store(Workload):
    """The tier-store workload. Each cycle runs the north-rule batch job
    (``pipeline.run`` over a pre-materialized sequences parquet) and a
    validation-only pass of the same rules with a flagged-row count, then
    one client's reads of a 30-day store built in set-up, with late-data
    refreshes and streaming drains interleaved. Every run builds the same
    store from its seed."""

    JOB_ROWS, JOB_DAYS = 120_000, 2
    DAYS, PER_DAY = 30, 1_000
    LATE_ROWS, STREAM_ROWS = 400, 1_500
    WATERMARK_S = 120
    NAMED = ("ingest_points_per_s", "validate_points_per_s",
             "serve_read_p50_ms", "serve_read_p90_ms", "serve_refresh_p50_s",
             "serve_stream_rows_per_s")
    LAYERS = ("rules.exec_s", "rules.points_per_s", "rules.flagged_points",
              "rollup.exec_s", "rollup.shuffle_write_bytes",
              "rollup.task_skew", "tierstore.write_s", "tierstore.manifest_s",
              "tierstore.files_written", "tierstore.files_per_day",
              "tierstore.bytes_per_point", "compress.pack_s",
              "compress.ratio", "compress.unpack_s",
              "compress.blocks_decoded_ratio", "router.plan_s",
              "router.exec_s", "router.segments", "gapfill.exec_s",
              "pipeline.refresh_days", "pipeline.refresh_exec_s",
              "streaming.drain_s", "streaming.batches", "streaming.rows",
              "ingest.local1_points_per_s", "ingest.scaling_efficiency")

    def __init__(self):
        self.instr = None

    def inputs(self, ctx, d: str) -> None:
        s = ctx.seed
        t = inputs.sequences(s, self.JOB_ROWS, 0, self.JOB_DAYS)
        self.src = os.path.join(d, "sequences")
        inputs.write(t, os.path.join(self.src, "part-0.parquet"))
        self.raw = frame(t)
        self.flagged = int((self.raw["n_tok"] > CAP).sum())

        hist = inputs.sequences(s, self.DAYS * self.PER_DAY, 0, self.DAYS,
                                prefix="hist")
        self.hist_dir = os.path.join(d, "history")
        inputs.write(hist, os.path.join(self.hist_dir, "part-0.parquet"))
        self.hist = frame(hist)
        rng = np.random.default_rng(s)
        # enough writes for the longest run: one refresh and one drain
        # (one arriving file) per cycle, a cycle taking >= 5 s
        n = max(2, math.ceil(ctx.seconds / 5)) + 2
        self.late, self.late_dirs = [], []
        for j in range(n):
            day = int(rng.integers(1, self.DAYS - 1))
            t = inputs.sequences(s * 1000 + j, self.LATE_ROWS, day, 1,
                                 prefix=f"late{j}")
            self.late_dirs.append(os.path.join(d, f"late-{j}"))
            inputs.write(t, os.path.join(self.late_dirs[-1], "part-0.parquet"))
            self.late.append(frame(t))
        self.arrivals, self.arrival_files = [], []
        for k in range(n):  # each file one later day
            t = inputs.sequences(s * 1000 + 500 + k, self.STREAM_ROWS,
                                 self.DAYS + k, 1, prefix=f"live{k}")
            self.arrival_files.append(os.path.join(d, "arrivals",
                                                   f"part-{k:04d}.parquet"))
            inputs.write(t, self.arrival_files[-1])
            self.arrivals.append(frame(t))

    def prepare(self, ctx) -> None:
        """Builds the 30-day store, which also warms ``pipeline.run``,
        then warms one read of each kind and the validation pass."""
        from traval_spark import pipeline
        from traval_spark.sources.tierstore import TierStore

        spark = ctx.spark
        self.north_rs, self.local_rs = north_ruleset(), local_ruleset()
        self.raw_root, self.root = ctx.path("raw"), ctx.path("store")
        self.stream_in = ctx.path("stream-in")
        self.stream_root, self.ckpt = ctx.path("stream"), ctx.path("ckpt")
        os.makedirs(self.stream_in)
        pipeline.init_raw(spark.read.parquet(self.hist_dir), self.raw_root)
        pipeline.run(spark, self.root, input_path=self.raw_root,
                     ruleset=self.local_rs)
        self.store = TierStore(self.root, spark)
        self.applied: list[int] = []  # late batches merged, in order
        self.arrived = 0
        self._tiers: dict[tuple, pd.DataFrame] = {}
        for kind in READ_KINDS:
            self.read(ctx, kind, "2024-01-02", "2024-01-02")
        warm = ctx.path("warm", "sequences")
        inputs.write(inputs.sequences(ctx.seed + 1, 1_000, 0, 1),
                     os.path.join(warm, "part-0.parquet"))
        self.flag_count(ctx, warm)
        if ctx.trace:
            self.instrument(Instrumentation(ctx.tracer))

    def instrument(self, instr: Instrumentation) -> None:
        from traval_spark import pipeline, router
        from traval_spark.sources import tierstore

        tier = lambda a, kw, out: {"tier": a[1]}  # noqa: E731
        instr.wrap(pipeline, "clean_sequences", "rules.build")
        instr.wrap(tierstore.TierStore, "write_tier", "tierstore.write", tier)
        instr.wrap(tierstore.TierStore, "stale_days", "tierstore.manifest")
        instr.wrap(tierstore.TierStore, "manifests", "tierstore.manifest")
        instr.wrap(pipeline, "partition_fingerprints", "tierstore.manifest")
        instr.wrap(tierstore.fsutil, "write_text", "tierstore.manifest")
        instr.wrap(router, "coverage_of", "router.plan.coverage")
        instr.wrap(router, "route_plan", "router.plan.route",
                   lambda a, kw, out: {"segments": len(out.segments)})
        self.instr = instr

    def close(self) -> None:
        if self.instr is not None:
            self.instr.close()

    # -- operations --

    def flag_count(self, ctx, path: str) -> int:
        from pyspark.sql import functions as F

        from traval_spark.pipeline import clean_sequences

        df = ctx.spark.read.parquet(path)
        with ctx.tracer.span("rules.validate"):
            return clean_sequences(df, self.north_rs).filter(
                F.col("n_tok").isNull()).count()

    def job(self, ctx, i: int) -> dict:
        from traval_spark import pipeline

        out = ctx.path("stores", f"job-{i}")
        m = pipeline.run(ctx.spark, out, input_path=self.src,
                         ruleset=self.north_rs)
        return {"store": out, "metrics": m}

    def read(self, ctx, kind: str, d0: str, d1: str) -> dict:
        from pyspark.sql import functions as F

        from traval_spark import router
        from traval_spark.compress import unpack_tier
        from traval_spark.rollup import gap_fill

        spark = ctx.spark
        if kind.startswith("read_"):
            pdf = router.read_resolution(self.store, kind[5:], d0, d1,
                                         spark=spark).toPandas()
        elif kind == "unpack":
            packed = spark.read.parquet(os.path.join(self.root, "1m_gorilla"))
            pdf = unpack_tier(packed, ts_min=d0,
                              ts_max=f"{d1} 23:59:59").toPandas()
        else:
            t1m = self.store.read_tier("1m", spark).drop("day").filter(
                F.col("bucket").cast("date").between(d0, d1))
            pdf = gap_fill(t1m, "1m").toPandas()
        return {"kind": kind, "d0": d0, "d1": d1, "pdf": pdf,
                "version": len(self.applied)}

    def refresh(self, ctx, j: int) -> dict:
        from traval_spark import pipeline

        late = ctx.spark.read.parquet(self.late_dirs[j])
        m = pipeline.ingest_late(ctx.spark, self.raw_root, self.root, late,
                                 ruleset=self.local_rs)
        self.applied.append(j)
        return {"late": j, "refreshed": m["refreshed_days"]}

    def arrive(self, k: int) -> None:
        shutil.copy(self.arrival_files[k], self.stream_in)
        self.arrived = k + 1

    def drain(self, ctx) -> dict:
        from traval_spark.streaming.rollup_stream import run_streaming_cascade

        q = run_streaming_cascade(ctx.spark, self.stream_in, self.stream_root,
                                  self.ckpt, watermark=f"{self.WATERMARK_S} "
                                  "seconds", available_now=True)
        rows = [p["numInputRows"] if isinstance(p, dict) else p.numInputRows
                for p in q.recentProgress]
        return {"batches": sum(r > 0 for r in rows), "rows": int(sum(rows))}

    def cycle(self, ctx, i: int):
        rng = random.Random(ctx.seed * 7919 + i)

        def reads(kinds):
            out = []
            for kind in kinds:
                span = READ_KINDS[kind]
                a = rng.randint(0, self.DAYS - span)
                d0, d1 = (str(inputs.EPOCH.date() + pd.Timedelta(days=x))[:10]
                          for x in (a, a + span - 1))
                out.append((kind, lambda k=kind, x=d0, y=d1:
                            self.read(ctx, k, x, y)))
            return out

        return ([("job", lambda: self.job(ctx, i)),
                 ("validate", lambda: {"flagged": self.flag_count(ctx,
                                                                 self.src)})]
                + reads(READ_MIX[0])
                + [("refresh", lambda: self.refresh(ctx, i))]
                + reads(READ_MIX[1])
                + [("_arrive", lambda: self.arrive(i)),
                   ("drain", lambda: self.drain(ctx))])

    # -- checks --

    def model(self, version: int) -> pd.DataFrame:
        """The store's raw rows after the first ``version`` late batches."""
        return pd.concat([self.hist] + [self.late[j]
                                        for j in self.applied[:version]],
                         ignore_index=True)

    def tier(self, version: int, res: str) -> pd.DataFrame:
        key = (version, res)
        if key not in self._tiers:
            self._tiers[key] = checks.rollup(self.model(version), res, CAP)
        return self._tiers[key]

    def verify(self, ctx) -> None:
        self.verify_jobs(ctx)
        self.verify_reads(ctx)
        self.verify_writes(ctx)

    def verify_jobs(self, ctx) -> None:
        from traval_spark.sources.tierstore import TierStore, verify_cascade

        kept = self.JOB_ROWS - self.flagged
        for o in ctx.ops_of("validate"):
            got = o["info"]["flagged"]
            ctx.check("ingest.flagged_points", got == self.flagged,
                      f"{got} flagged != {self.flagged} rows with n_tok > 250",
                      op=o)
        jobs = ctx.ops_of("job")
        for o in jobs:
            got = o["info"]["metrics"]["input_rows"]
            ctx.check("ingest.n_points_sum", got == kept,
                      f"1m n_points sum {got} != {kept}", op=o)
        if not jobs:
            ctx.check("ingest.jobs", False, "no job completed")
            return
        store = TierStore(jobs[-1]["info"]["store"], ctx.spark)
        t1m = store.read_tier("1m").drop("day")
        diff = checks.diff(t1m.toPandas(), checks.rollup(self.raw, "1m", CAP),
                           ["source", "bucket"])
        ctx.check("ingest.1m_tier", diff is None, diff)
        for fine, coarse in (("1m", "1h"), ("1h", "1d")):
            n = verify_cascade(store, fine, coarse, ctx.spark).count()
            ctx.check(f"ingest.cascade_{fine}_{coarse}", n == 0,
                      f"{n} mismatches")

    def verify_reads(self, ctx) -> None:
        for o in ctx.ops_of(*READ_KINDS):
            r = o["info"]
            keys = ["source", "bucket"]
            if r["kind"].startswith("read_"):
                want = checks.in_days(self.tier(r["version"], r["kind"][5:]),
                                      "bucket", r["d0"], r["d1"])
            elif r["kind"] == "unpack":  # the packed view as built
                want = checks.unpacked(
                    checks.in_days(self.tier(0, "1m"), "bucket", r["d0"],
                                   r["d1"]), ["sum_tok", "n_points"])
                keys = ["source", "measure", "bucket"]
            else:
                want = checks.gap_fill(checks.in_days(
                    self.tier(r["version"], "1m"), "bucket", r["d0"], r["d1"]))
            d = checks.diff(r.pop("pdf"), want, keys)  # free the frame
            ctx.check(f"serve.{r['kind']}", d is None, d, op=o)

    def verify_writes(self, ctx) -> None:
        keys = ["source", "bucket"]
        # refreshed days equal a rebuild over the merged raw data
        days = sorted({d for o in ctx.ops_of("refresh")
                       for d in o["info"]["refreshed"]})
        final = len(self.applied)
        for res in ("1m", "1h", "1d"):
            got = self.store.read_tier(res, ctx.spark)
            got = got.filter(got["day"].cast("string").isin(days)).drop(
                "day").toPandas()
            want = self.tier(final, res)
            want = want[want["bucket"].dt.strftime("%Y-%m-%d").isin(days)]
            d = checks.diff(got, want, keys)
            ctx.check(f"serve.refresh_{res}", d is None, d)

        # the streaming cascade equals the batch cascade of the drained
        # files, up to the windows the watermark has not closed yet
        if not self.arrived:
            return
        rows = pd.concat(self.arrivals[:self.arrived], ignore_index=True)
        want = checks.rollup(rows, "1m")
        closed = rows["ts"].max() - pd.Timedelta(seconds=self.WATERMARK_S)
        want = want[want["bucket"] + pd.Timedelta(minutes=1) <= closed]
        drop = ["day", "batch_id", "qid"]
        for res in ("1m", "1h", "1d"):
            got = ctx.spark.read.parquet(os.path.join(self.stream_root, res))
            got = got.drop(*[c for c in drop if c in got.columns]).toPandas()
            if res != "1m":
                want = checks.cascade(want, res)
            d = checks.diff(got, want, keys)
            ctx.check(f"serve.stream_{res}", d is None, d)

    # -- metrics --

    def named(self, ctx) -> dict:
        job, val = ctx.lat("job"), ctx.lat("validate")
        reads = [1000 * x for x in ctx.lat(*READ_KINDS)]
        ref = ctx.lat("refresh")
        drains = ctx.ops_of("drain")
        drain_s = sum(o["lat_s"] for o in drains)
        rows = sum(o["info"]["rows"] for o in drains)
        return {
            "ingest_points_per_s": (self.JOB_ROWS / statistics.median(job)
                                    if job else 0.0, "1/s", len(job)),
            "validate_points_per_s": (self.JOB_ROWS / statistics.median(val)
                                      if val else 0.0, "1/s", len(val)),
            "serve_read_p50_ms": (median_or0(reads), "ms", len(reads)),
            "serve_read_p90_ms": (np.percentile(reads, 90) if reads else 0.0,
                                  "ms", len(reads)),
            "serve_refresh_p50_s": (median_or0(ref), "s", len(ref)),
            "serve_stream_rows_per_s": (rows / drain_s if drain_s else 0.0,
                                        "1/s", len(drains)),
        }

    def probe(self, ctx) -> None:
        """Isolated layer runs for layers whose work Spark fuses into the
        job's writes: the salted 1m rollup alone (rules bypassed) and the
        Gorilla pack of a stored 1m tier, both into the noop sink."""
        from traval_spark.compress import pack_tier
        from traval_spark.rollup import salted_rollup
        from traval_spark.sources.tierstore import TierStore

        raw = ctx.spark.read.parquet(self.src)
        with ctx.tracer.span("rollup.probe"):
            salted_rollup(raw, "1m").write.format("noop").mode(
                "overwrite").save()
        t1m = TierStore(ctx.ops_of("job")[-1]["info"]["store"],
                        ctx.spark).read_tier("1m").drop("day")
        with ctx.tracer.span("compress.probe"):
            pack_tier(t1m, measures=["sum_tok", "n_points"]).write.format(
                "noop").mode("overwrite").save()

    def layers(self, ctx) -> dict:
        return {**self.job_layers(ctx), **self.serve_layers(ctx)}

    def job_layers(self, ctx) -> dict:
        tr = ctx.tracer
        val = traced(ctx, "validate")
        rules_s = median_or0(span_total(tr, o, "rules.validate") for o in val)
        out = {
            "rules.exec_s": rules_s,
            "rules.points_per_s": self.JOB_ROWS / rules_s if rules_s else 0.0,
            "rules.flagged_points": val[-1]["info"]["flagged"] if val else 0,
        }
        roll = tr.named("rollup.probe")
        if roll:
            out["rollup.exec_s"] = roll[-1]["end"] - roll[-1]["start"]
            out["rollup.shuffle_write_bytes"] = tr.engine(roll)[
                "shuffle_write_bytes"]
            stages = [s for s in tr.stages(roll) if "task_p50_s" in s]
            if stages:
                hot = max(stages, key=lambda s: s["task_s"])
                out["rollup.task_skew"] = (hot["task_max_s"]
                                           / max(hot["task_p50_s"], 1e-3))
        pack = tr.named("compress.probe")
        if pack:
            out["compress.pack_s"] = pack[-1]["end"] - pack[-1]["start"]
        # tierstore.* describe the batch job's writes
        jobs = traced(ctx, "job")
        if jobs:
            files, size, days = tier_files(jobs[-1]["info"]["store"])
            out.update({
                "tierstore.write_s": median_or0(
                    span_total(tr, o, "tierstore.write") for o in jobs),
                "tierstore.manifest_s": median_or0(
                    span_total(tr, o, "tierstore.manifest") for o in jobs),
                "tierstore.files_written": files,
                "tierstore.files_per_day": files / days if days else 0.0,
                "tierstore.bytes_per_point": size / self.JOB_ROWS,
                "compress.ratio": jobs[-1]["info"]["metrics"][
                    "compression_ratio"] or 0.0,
            })
        return out

    def serve_layers(self, ctx) -> dict:
        from pyspark.sql import functions as F

        tr = ctx.tracer
        routed = traced(ctx, "read_1m", "read_1h", "read_1d")
        plan = [span_total(tr, o, "router.plan") for o in routed]
        segs = [s["segments"] for s in tr.spans
                if s["name"] == "router.plan.route"]
        out = {
            "router.plan_s": median_or0(plan),
            "router.exec_s": median_or0(o["lat_s"] - p
                                        for o, p in zip(routed, plan)),
            "router.segments": statistics.fmean(segs) if segs else 0.0,
            "gapfill.exec_s": median_or0(o["lat_s"]
                                         for o in traced(ctx, "gapfill")),
            "compress.unpack_s": median_or0(o["lat_s"]
                                            for o in traced(ctx, "unpack")),
        }
        unpacks = traced(ctx, "unpack")
        if unpacks:
            packed = ctx.spark.read.parquet(os.path.join(self.root,
                                                         "1m_gorilla"))
            r = unpacks[-1]["info"]
            kept = packed.filter(
                (F.col("ts_max") >= F.lit(r["d0"]).cast("timestamp_ntz"))
                & (F.col("ts_min") <= F.lit(f"{r['d1']} 23:59:59")
                   .cast("timestamp_ntz"))).count()
            out["compress.blocks_decoded_ratio"] = kept / packed.count()
        refs = traced(ctx, "refresh")
        out["pipeline.refresh_days"] = median_or0(
            len(o["info"]["refreshed"]) for o in refs)
        out["pipeline.refresh_exec_s"] = median_or0(o["lat_s"] for o in refs)
        drains = traced(ctx, "drain")
        out["streaming.drain_s"] = median_or0(o["lat_s"] for o in drains)
        out["streaming.batches"] = median_or0(o["info"]["batches"]
                                              for o in drains)
        out["streaming.rows"] = median_or0(o["info"]["rows"] for o in drains)
        return out

    def reference(self, ctx, start_spark) -> dict:
        """The same job at local[1], the single-core reference for the
        scaling criterion (recorded, not gated). The JVM stays warm."""
        from traval_spark import pipeline

        spark = start_spark(1)
        try:
            t0 = time.perf_counter()
            pipeline.run(spark, ctx.path("stores", "local1"),
                         input_path=self.src, ruleset=self.north_rs)
            pps1 = self.JOB_ROWS / (time.perf_counter() - t0)
        finally:
            spark.stop()
        pps4 = self.JOB_ROWS / statistics.median(ctx.lat("job"))
        return {"ingest.local1_points_per_s": pps1,
                "ingest.scaling_efficiency": pps4 / pps1 / 4}


# -- analytics ----------------------------------------------------------------------


class Analytics(Workload):
    """A fixed, ordered list of entry queries in one session: each query
    timed as build (the ``queries()[name](spark, dir)`` call) plus
    execution (the noop write)."""

    QUERIES = ["spike_detection", "offset_detection", "binary_classifier",
               "drift_report", "lttb_6h", "dup_clusters"]
    EVENTS, EVENT_DAYS, USERS, DOCS, VECTORS = 3_000, 30, 40, 400, 400
    NAMED = ("analytics_geomean_s", "analytics_total_s")
    LAYERS = tuple(f"operators.{q}.{m}" for q in QUERIES
                   for m in ("build_s", "build_jobs", "exec_s", "jobs"))

    def inputs(self, ctx, d: str) -> None:
        s = ctx.seed
        inputs.write(inputs.events(s, self.EVENTS, self.EVENT_DAYS,
                                   self.USERS), os.path.join(d, "events.parquet"))
        inputs.write(inputs.documents(s + 1, self.DOCS),
                     os.path.join(d, "documents.parquet"))
        inputs.write(inputs.embeddings(s + 2, self.VECTORS),
                     os.path.join(d, "embeddings.parquet"))
        self.dir = d

    def prepare(self, ctx) -> None:
        """Warm-up pass: every query once, collected and compared with
        its DuckDB oracle (the comparison itself is not set-up time)."""
        import duckdb

        import __spark_entry__
        from tools.check_entry import compare

        # the entry module zips the package into /tmp for its workers;
        # local workers already import it through the session's PYTHONPATH
        __spark_entry__._SHIPPED.add(id(ctx.spark.sparkContext))
        self.fns = __spark_entry__.queries()
        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        for t in ("events", "documents", "embeddings"):
            con.sql(f"create view {t} as select * from "
                    f"'{os.path.join(self.dir, t)}.parquet'")
        self.results = {}
        self.untimed_s = 0.0
        for q in self.QUERIES:
            got = self.fns[q](ctx.spark, self.dir).toPandas()
            t0 = time.perf_counter()
            self.results[q] = compare(got, con.sql(oracles[q]).df())
            self.untimed_s += time.perf_counter() - t0
        con.close()

    def query(self, ctx, q: str) -> dict:
        t0 = time.perf_counter()
        with ctx.tracer.span(f"operators.{q}.build"):
            df = self.fns[q](ctx.spark, self.dir)
        t1 = time.perf_counter()
        with ctx.tracer.span(f"operators.{q}.exec"):
            df.write.format("noop").mode("overwrite").save()
        return {"build_s": t1 - t0, "exec_s": time.perf_counter() - t1}

    def cycle(self, ctx, i: int):
        return [(q, lambda q=q: self.query(ctx, q)) for q in self.QUERIES]

    def verify(self, ctx) -> None:
        for q, diff in self.results.items():
            ctx.check(f"analytics.oracle.{q}", diff is None, diff)

    def per_query(self, ctx) -> dict[str, float]:
        return {q: statistics.median(ctx.lat(q)) for q in self.QUERIES
                if ctx.lat(q)}

    def named(self, ctx) -> dict:
        lat = self.per_query(ctx)
        n = len(ctx.ops_of(*self.QUERIES))
        return {
            "analytics_geomean_s": (
                math.exp(statistics.fmean(math.log(v) for v in lat.values()))
                if lat else 0.0, "s", n),
            "analytics_total_s": (sum(lat.values()), "s", n),
        }

    def layers(self, ctx) -> dict:
        tr = ctx.tracer
        out = {}
        for q in self.QUERIES:
            ops = traced(ctx, q)
            if not ops:
                continue
            build = [s for s in tr.spans if s["name"] == f"operators.{q}.build"]
            exe = [s for s in tr.spans if s["name"] == f"operators.{q}.exec"]
            out[f"operators.{q}.build_s"] = median_or0(
                o["info"]["build_s"] for o in ops)
            out[f"operators.{q}.exec_s"] = median_or0(
                o["info"]["exec_s"] for o in ops)
            out[f"operators.{q}.build_jobs"] = tr.engine(build)["jobs"] / len(ops)
            out[f"operators.{q}.jobs"] = tr.engine(exe)["jobs"] / len(ops)
        return out


WORKLOADS = {"store": Store, "analytics": Analytics}
