"""SparkSession factory with pandas-parity + scale-oriented defaults.

Configuration rationale (SURVEY.md §4.2):

- ``spark.sql.session.timeZone=UTC``: the reference operates on tz-naive
  ``DatetimeIndex`` (/root/reference/traval/ruleset.py:66-67); pinning UTC
  makes TimestampType round-trips deterministic.
- Arrow enabled: every Python-side kernel is an Arrow-batched
  ``applyInPandas``/``pandas_udf`` — never per-row Python UDFs.
- AQE + skew-join on: runtime re-planning for the skewed ``source`` keys
  (the graft input is Zipfian); we additionally salt explicitly in
  :mod:`traval_spark.rollup`.
- shuffle partitions default to the core count: the engine is designed for
  a 1000-executor cluster where this would be raised to O(cores*2-3); the
  value here only serves local runs and is overridable.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark wraps
  every ``F.*`` function and ``Column`` method in a call-site capture
  that looks up the active session, reads a conf, walks the Python
  stack and sets then clears an origin in the JVM, several py4j round
  trips per Column node. Off, building the ``dup_clusters`` entry
  query's plan made 4,558 round trips instead of 11,646,
  ``drift_report`` 1,291 instead of 5,979 and ``binary_classifier``
  725 instead of 2,785 (medians of 3 warm builds on a 400-document,
  3,000-event input, ``local[4]``). The cost is that an analysis error
  carries no Python file:line "DataFrame query context"; its error
  class and message are unchanged. Pass ``extra_conf={"spark.python.
  sql.dataFrameDebugging.enabled": "true"}`` to turn it back on
  (PySpark reads it once per process, at the first Column call with
  an active session).

Operator caches have one owner. Every operator that reads one of its
intermediate frames more than once caches it through :func:`hold`, and
the caller decides when those caches go by running the consuming
actions inside ``with held():``. On exit the scope unpersists every
frame held inside it, by the caller or by any operator it called. A
frame belongs to the innermost open scope. Without a scope a held frame
stays cached until ``unpersist()`` or ``spark.catalog.clearCache()``,
exactly as a bare ``persist()``. Operators return lazy frames, so only
the caller knows when the last action on them has run: that is why the
release is a scope around the actions and not a handle the operator
returns.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

# one scope stack per thread: a streaming foreachBatch body runs on its
# own callback thread, and its scope must not collect the frames of a
# scope the driver thread has open
_scopes = threading.local()


def get_spark(
    app_name: str = "traval-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Parameters
    ----------
    master : str, optional
        e.g. ``local[8]``; defaults to ``local[$SPARK_GRAFT_CPUS]`` or
        ``local[*]``. Ignored when an active session already exists.
    shuffle_partitions : int, optional
        defaults to the local core count (a cluster deployment should set
        this to ~2-3x total cores via spark-submit conf instead).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    # make the package importable inside Python workers (applyInPandas
    # kernels pickle functions by module reference). Local mode workers
    # inherit env, not the driver's runtime sys.path; cluster deployments
    # ship the package via ``spark-submit --py-files`` instead.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_pythonpath = os.pathsep.join(
        p for p in (pkg_parent, os.environ.get("PYTHONPATH")) if p
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # rollup tiers are rewritten idempotently per partition on resume
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # generous broadcast threshold: params/bounds/manual-obs tables are
        # tiny dimensions and must broadcast, never sort-merge
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # give up whole-stage codegen at HotSpot's DontCompileHugeMethods
        # threshold (8000 bytecodes) instead of Spark's 64KB default: a
        # fused stage whose generated method passes 8000 bytecodes is
        # NEVER JIT-compiled and runs in the bytecode interpreter, which
        # measured 4-5x slower than the per-operator compiled fallback
        # on the wide dot-product/join stages (scale-independent JVM
        # property, not a local-mode tune)
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def hold(df: DataFrame) -> DataFrame:
    """Persist ``df`` at Spark's default level, owned by the innermost
    open :func:`held` scope; outside any scope, a plain persist."""
    df = df.persist()
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].append(df)
    return df


@contextmanager
def held() -> Iterator[None]:
    """Unpersist, on exit, every frame :func:`hold` cached inside this
    scope and not inside a nested one. Spark keys its cache by plan, so
    the release also drops an equal plan cached elsewhere."""
    stack = _scopes.__dict__.setdefault("stack", [])
    frames: list[DataFrame] = []
    stack.append(frames)
    try:
        yield
    finally:
        stack.pop()
        for df in frames:
            df.unpersist()
