"""The repository benchmark: the ``store`` and ``analytics`` workloads
(``workloads.py``) on ``local[4]``.

    python3 perfbench/run.py --workload store --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

Run from the repository root. One driver process, one SparkSession at
``local[4]``, one client issuing operations in a closed loop: the next
operation starts when the previous one returns. Inputs are generated
from ``--seed`` (``perfbench/inputs.py``); the program sees only the
generated parquet files. Everything the run writes lives under
``.perfbench/`` in the repository root.

A run: start the session, generate the inputs (not timed), set up (the
workload's one-off preparation and warm-up), run whole cycles of the
workload's operations until ``--seconds`` have passed, then check every
output against an independent reference. ``setup_s`` is the session
start plus the set-up.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.
``--trace 1`` runs the same operations, one of each pair of same-kind
operations inside spans (see ``spans.py``), and prints the per-layer
metrics; the spans are written to ``.perfbench/traces/``. The last line
of stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the lines before it name every metric with its unit and
sample count. Exit status is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import collections
import json
import math
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
#: end-to-end metrics, measured untraced on every workload
E2E = ("setup_s", "cycle_s", "op_geomean_ms")


def geomean(vals: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


class Context:
    """Everything one run shares: session, tracer, seed, work dir, and
    the record of operations and checks."""

    def __init__(self, spark, tracer, seed: int, seconds: float,
                 work: str, trace: bool):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.trace = trace
        self.ops: list[dict] = []
        self.checks: list[dict] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, name: str, ok: bool, detail: str = "",
              op: dict | None = None) -> None:
        """Record one output check; ``op`` ties it to a timed operation."""
        self.checks.append({"name": name, "ok": bool(ok), "op": op is not None,
                            "detail": "" if ok else str(detail)[:400]})
        if op is not None and not ok:
            op["ok"] = False
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)

    def ops_of(self, *kinds: str) -> list[dict]:
        return [o for o in self.ops if o["kind"] in kinds and o["ok"]]

    def lat(self, *kinds: str) -> list[float]:
        return [o["lat_s"] for o in self.ops_of(*kinds)]


def measure(ctx: Context, wl) -> None:
    """Closed loop, one client: whole cycles until ``seconds`` have
    passed (at least one; two when tracing, so every op kind runs both
    traced and untraced). A cycle entry whose kind starts
    with ``_`` is an untimed step, such as new files arriving.

    When tracing, the ops of each kind are taken in pairs, first and
    second, and the seed picks which of the two is traced, so the
    traced-minus-untraced difference is not always first-minus-second."""
    from spans import cached_bytes

    seen: collections.Counter = collections.Counter()
    deadline = time.perf_counter() + ctx.seconds
    min_cycles = 2 if ctx.trace else 1
    i = 0
    while i < min_cycles or time.perf_counter() < deadline:
        for kind, fn in wl.cycle(ctx, i):
            if kind.startswith("_"):
                fn()
                continue
            pair, second = divmod(seen[kind], 2)
            seen[kind] += 1
            pick = random.Random(f"{ctx.seed}:{kind}:{pair}").randrange(2)
            traced = ctx.trace and second == pick
            op = {"kind": kind, "cycle": i, "pair": pair, "traced": traced,
                  "ok": True, "error": None, "info": None}
            ctx.tracer.active = traced
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span(f"op.{kind}") as rec:
                    op["info"] = fn()
                    op["span"] = rec.get("id")
            except Exception as e:  # one failed op must not end the run
                traceback.print_exc(file=sys.stderr)
                op["ok"], op["error"] = False, repr(e)[:400]
            op["lat_s"] = time.perf_counter() - t0
            ctx.tracer.active = False
            # after every operation, outside its timing: cache left behind
            op["cached_bytes"] = cached_bytes(ctx.spark)
            ctx.ops.append(op)
        i += 1


def stop_jvm() -> None:
    """Shut down the JVM the session started and wait for it to exit
    (stopping a SparkContext keeps the JVM for a later context)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def environment(spark) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": os.cpu_count(),
        "master": sc.master,
        "spark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
    }


def start_spark(work: str, cores: int, trace: bool):
    from traval_spark.session import get_spark

    conf = {
        # the VM has 15 GB shared with other tenants; get_spark's 48g
        # default is more than the machine has
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "ckpt"),
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "20000",
                     "spark.ui.retainedStages": "50000"})
    spark = get_spark(f"perfbench-{os.getpid()}", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def process_dir() -> str:
    """This process's scratch directory under ``.perfbench/work``. Every
    temporary file of Python, the JVM and the Python workers goes to its
    ``tmp`` (no /tmp, no hsperfdata); ``main`` removes it at exit."""
    base = os.path.join(ROOT, ".perfbench", "work", str(os.getpid()))
    tmp = os.path.join(base, "tmp")
    if not os.path.isdir(tmp):
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    return base


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    """One workload in its own session; returns the result record."""
    import workloads
    from spans import Tracer, cached_bytes

    work = os.path.join(process_dir(), name)
    os.makedirs(work)
    spark = wl = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, CORES, trace)
        session_s = time.perf_counter() - t0
        ctx = Context(spark, Tracer(spark), seed, seconds, work, trace)
        wl = workloads.WORKLOADS[name]()

        # the benchmark's own work, so not part of setup_s
        t0 = time.perf_counter()
        wl.inputs(ctx, ctx.path("inputs"))
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare(ctx)
        setup = {"session_s": session_s,
                 "warmup_s": time.perf_counter() - t0 - wl.untimed_s}

        measure(ctx, wl)
        if trace:
            ctx.tracer.active = True
            try:
                wl.probe(ctx)
            finally:
                ctx.tracer.active = False
        ctx.tracer.attribute()
        wl.verify(ctx)
        named = wl.named(ctx)
        env = environment(spark)
        timed = [o["lat_s"] for o in ctx.ops if o["ok"]]
        cycles = collections.defaultdict(float)
        for o in ctx.ops:
            cycles[o["cycle"]] += o["lat_s"]
        # (value, unit, samples), as in ``named``
        e2e = {
            "setup_s": (sum(setup.values()), "s", 1),
            "cycle_s": (statistics.median(cycles.values()) if cycles else 0.0,
                        "s", len(cycles)),
            "op_geomean_ms": (1000 * geomean(timed) if timed else 0.0, "ms",
                              len(timed)),
        }
        failed_ops = sum(not o["ok"] for o in ctx.ops)
        global_checks = [c for c in ctx.checks if not c.get("op")]
        attempted = len(ctx.ops) + len(global_checks)
        failed = failed_ops + sum(not c["ok"] for c in global_checks)
        named["error_rate"] = (failed / attempted if attempted else 1.0,
                               "ratio", attempted)
        layers = {}
        if trace:
            layers = {**wl.layers(ctx), **engine_layers(ctx),
                      **{f"setup.{k}": v for k, v in setup.items()},
                      "setup.inputs_s": inputs_s}
            path = os.path.join(ROOT, ".perfbench", "traces",
                                f"{name}-seed{seed}.json")
            ctx.tracer.write(path, {
                "workload": name, "seed": seed, "env": env, "setup": setup,
                "layer_map": workloads.LAYER_MAP,
                "ops": [{k: v for k, v in o.items() if k != "info"}
                        for o in ctx.ops],
                "checks": ctx.checks,
                "cached_bytes_end": cached_bytes(spark),
            })
            # the reference runs in sessions of its own
            spark.stop()
            spark = None
            layers.update(wl.reference(ctx, lambda c: start_spark(work, c,
                                                                  False)))
        return {"name": name, "env": env,
                "setup": {**setup, "inputs_s": inputs_s}, "e2e": e2e,
                "named": named, "layers": layers, "attempted": attempted,
                "failed": failed, "ops": ctx.ops, "checks": ctx.checks}
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)


ENGINE_LAYERS = (
    "spark.jobs", "spark.tasks", "spark.task_s", "spark.gc_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.cached_bytes_left", "setup.session_s",
    "setup.inputs_s", "setup.warmup_s", "trace.overhead_ms", "trace.spans",
    "error_rate",
)


def engine_layers(ctx: Context) -> dict:
    """Engine-wide counters over every traced operation."""
    roots = [s for s in ctx.tracer.spans if s["name"].startswith("op.")]
    eng = ctx.tracer.engine(roots)
    out = {f"spark.{k}": v for k, v in eng.items()}
    out["spark.cached_bytes_left"] = ctx.ops[-1]["cached_bytes"] if ctx.ops else 0
    # traced minus untraced within each pair of same-kind ops. The two
    # ops of a pair differ in their data (day range, late batch) and in
    # order, so this is an estimate of the tracing cost.
    pairs = collections.defaultdict(dict)
    for o in ctx.ops:
        if o["ok"]:
            pairs[o["kind"], o["pair"]][o["traced"]] = o["lat_s"]
    deltas = [1000 * (p[True] - p[False]) for p in pairs.values()
              if len(p) == 2]
    out["trace.overhead_ms"] = statistics.median(deltas) if deltas else 0.0
    out["trace.spans"] = len(ctx.tracer.spans)
    return out


def emit(result: dict, spec: dict, trace: bool) -> tuple[dict, list[str]]:
    """The metrics object for the last line, plus any disagreement with
    BENCHMARK.json. A per-layer metric of a layer the workload skips
    reads 0."""
    import workloads

    if trace:
        wanted = spec["per_layer"]
        values = {**{k: v[0] for k, v in result["named"].items()},
                  **result["layers"]}
        declared = set(ENGINE_LAYERS) | {
            n for w in workloads.WORKLOADS.values()
            for n in (*w.NAMED, *w.LAYERS)}
    else:
        wanted = spec["end_to_end"]
        values = {k: v[0] for k, v in result["e2e"].items()}
        declared = set(E2E)
    names = {m["name"] for m in wanted}
    problems = [f"metric {k!r} is not in BENCHMARK.json"
                for k in sorted(set(values) - names)]
    problems += [f"BENCHMARK.json metric {k!r} is measured by no workload"
                 for k in sorted(names - declared)]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    return metrics, problems


def summary(result: dict) -> None:
    """Human-readable lines: environment, set-up parts, every metric
    with its unit and sample count, and each operation kind."""
    w = result["name"]
    print(f"[{w}] env " + " ".join(f"{k}={v}"
                                   for k, v in result["env"].items()))
    print(f"[{w}] setup " + " ".join(
        f"{k}={v:.3f}s" for k, v in result["setup"].items()))
    for k, (v, unit, n) in {**result["e2e"], **result["named"]}.items():
        print(f"[{w}] {k} = {v:.6g} {unit} (n={n})")
    kinds = collections.defaultdict(list)
    for o in result["ops"]:
        kinds[o["kind"]].append(o)
    for kind, ops in kinds.items():
        lat = [o["lat_s"] for o in ops]
        print(f"[{w}] op {kind}: n={len(ops)} failed="
              f"{sum(not o['ok'] for o in ops)} "
              f"p50={statistics.median(lat):.3f}s max={max(lat):.3f}s "
              f"spark.cached_bytes_left={ops[-1]['cached_bytes']}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "traval_spark")):
        print(f"no traval_spark package under {ROOT}: run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import workloads

    names = (list(workloads.WORKLOADS) if args.workload == "all"
             else [args.workload])
    if any(n not in workloads.WORKLOADS for n in names):
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    spec = load_spec()
    trace = bool(args.trace)

    results, problems = [], []
    try:
        for n in names:
            r = run_workload(n, args.seed, args.seconds, trace)
            summary(r)
            results.append(r)
    finally:
        stop_jvm()
        shutil.rmtree(process_dir(), ignore_errors=True)
    metrics = {}
    for r in results:
        m, p = emit(r, spec, trace)
        problems += p
        # with several workloads the metrics of each are prefixed
        metrics.update(m if len(results) == 1
                       else {f"{r['name']}.{k}": v for k, v in m.items()})
    for p in problems:
        print(f"SPEC MISMATCH {p}", file=sys.stderr)
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results) + len(problems)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
