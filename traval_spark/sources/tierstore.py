"""TierStore: partitioned-parquet retention tiers with lineage manifests
and per-partition checkpoint/resume.

SURVEY.md §2.8: no Iceberg runtime jar ships in this sandbox, so the
default backend is partitioned Parquet + self-written JSON manifests;
:class:`IcebergTierStore` runs the SAME contract against a live Iceberg
catalog (dynamic partition overwrite == ``overwritePartitions``,
retention == ``DELETE WHERE``) wherever ``iceberg-spark-runtime`` is on
the classpath — exercised by the jar-gated integration test in
tests/test_rollup.py (skipped here; see ``use_iceberg``).

Checkpoint/resume contract (north_rule):

- tiers are partitioned by ``day`` (derived from the bucket);
- each written partition gets a manifest JSON recording its
  fingerprint (count + order-insensitive hash-sum of the partition's own
  tier rows, day included), row count, bucket range, and measure
  checksums;
- a resumed run fingerprints the tier it would write and recomputes only
  partitions whose fingerprint changed or whose manifest is missing —
  writes are idempotent via dynamic partition overwrite, so a crashed
  run re-runs at most its in-flight partitions.

The manifests are the commit log: a day has landed only if its
``day=….json`` exists, so :meth:`TierStore.days` (the landed days, from
one listing of the manifest directory) is all that coverage and
retention need; only ``stale_days`` and ``tier_freshness`` read manifest
contents. Next to the manifests, the parquet backend keeps the tier's
stored schema in ``_schema.json`` (``StructType.json()``, ``day``
last), rewritten only when a landing's schema differs. Reads take the
schema from it instead of running Spark's footer-inference job; a tier
without one (written before the sidecar existed) is read with
inference. Manifests, schema and retention state assume a single
writer per tier: concurrent writers to one tier are not supported.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from traval_spark.functions.ts import ensure_ntz
from traval_spark.sources import fsutil

MANIFEST_DIR = "_manifests"
SCHEMA_FILE = "_schema.json"


def use_iceberg(warehouse: str, catalog: str = "tiers") -> dict[str, str]:
    """Session-builder config for running TierStore tiers as Iceberg
    tables — the north-rule deployment target. Returns the conf dict to
    apply before session creation::

        builder = SparkSession.builder
        for k, v in use_iceberg("s3://bucket/wh").items():
            builder = builder.config(k, v)

    plus ``--packages org.apache.iceberg:iceberg-spark-runtime-<ver>``
    on spark-submit (no runtime jar ships in this sandbox, so the
    catalog cannot be smoke-tested here; the dict is plain Spark conf —
    the only part constructible without the jar). With the catalog up,
    the parquet TierStore maps 1:1: ``write_tier``'s dynamic partition
    overwrite == ``df.writeTo(f"{catalog}.{tier}").overwritePartitions()``,
    day partitioning == ``PARTITIONED BY (days(bucket))``, retention ==
    ``DELETE WHERE``, and the JSON manifests' fingerprints ride in
    snapshot summary properties.
    """
    return {
        f"spark.sql.catalog.{catalog}":
            "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions"
            ".IcebergSparkSessionExtensions",
    }

#: days of history each tier keeps (None = forever) — the downsample
#: story: raw ages out fast, coarser tiers keep (cheaper) history longer.
DEFAULT_RETENTION: dict[str, int | None] = {
    "raw": 7, "1m": 30, "1h": 365, "1d": None,
}


def _fingerprint_aggs(cols: list[Column]) -> list[Column]:
    """The fingerprint aggregates over ``cols``: ``rows`` and ``hashsum``."""
    return [
        F.count("*").alias("rows"),
        # decimal(38,0) sum: order-insensitive and overflow-free under
        # ANSI mode (int64 hash sums overflow at ~2^63)
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("hashsum"),
    ]


def partition_fingerprints(df: DataFrame, day_col: str = "day") -> dict[str, dict]:
    """Per-day input fingerprint: row count + order-insensitive hash sum.

    One cheap aggregation over the input; the hash covers every column so
    any upstream change flips the fingerprint.
    """
    rows = (
        # day keys are 'YYYY-MM-DD' strings everywhere (manifest filenames,
        # stale_days comparisons, partition dirs)
        df.groupBy(F.to_date(F.col(day_col)).cast("string").alias("day"))
        .agg(*_fingerprint_aggs([F.col(c) for c in df.columns]))
        .collect()
    )
    return {
        r["day"]: {"rows": r["rows"], "hashsum": str(r["hashsum"])} for r in rows
    }


class TierStore:
    """Tier storage rooted at a directory — any scheme the session's
    Hadoop FileSystem can write (local path, ``hdfs://``, ``s3a://``...):
    the parquet data goes through Spark writers and every sidecar file
    (manifests, retention state) through :mod:`fsutil`, never builtin
    ``open()``/``os.path``."""

    def __init__(self, root: str, spark=None):
        self.root = root
        self._spark = spark

    @property
    def spark(self):
        return fsutil.active_spark(self._spark)

    def tier_path(self, tier: str) -> str:
        return os.path.join(self.root, tier)

    def _manifest_path(self, tier: str, day: str) -> str:
        return os.path.join(
            self.root, tier, MANIFEST_DIR, f"day={day}.json"
        )

    def _schema_path(self, tier: str) -> str:
        return os.path.join(self.tier_path(tier), MANIFEST_DIR, SCHEMA_FILE)

    def _stored_schema(self, spark, tier: str) -> StructType | None:
        p = self._schema_path(tier)
        if not fsutil.exists(spark, p):
            return None
        return StructType.fromJson(json.loads(fsutil.read_text(spark, p)))

    # -- data plane (overridden by IcebergTierStore; manifests/retention
    # -- state stay fsutil JSON in both backends) ----------------------------

    def _write_data(self, sub: DataFrame, tier: str) -> None:
        # dynamic overwrite ENFORCED per-writer (not just the session
        # default): a --resume subset write under a STATIC-default
        # session would truncate every day partition NOT in ``todo``
        (
            sub.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day").parquet(self.tier_path(tier))
        )
        # as a reread sees it: the partition column comes last, and
        # parquet reads every column as nullable
        fields = [f for f in sub.schema.fields if f.name != "day"] + [
            f for f in sub.schema.fields if f.name == "day"]
        schema = StructType([StructField(f.name, f.dataType, True, f.metadata)
                             for f in fields])
        spark = sub.sparkSession
        if self._stored_schema(spark, tier) != schema:
            fsutil.write_text(spark, self._schema_path(tier), schema.json())

    def _read_data(self, spark, tier: str) -> DataFrame:
        # the stored schema skips Spark's footer-inference job
        schema = self._stored_schema(spark, tier)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.tier_path(tier))

    def _drop_day(self, tier: str, day: str) -> None:
        part_dir = os.path.join(self.tier_path(tier), f"day={day}")
        if fsutil.exists(self.spark, part_dir):
            fsutil.delete(self.spark, part_dir, recursive=True)

    def read_manifest(self, tier: str, day: str) -> dict | None:
        p = self._manifest_path(tier, day)
        if not fsutil.exists(self.spark, p):
            return None
        return json.loads(fsutil.read_text(self.spark, p))

    def days(self, tier: str) -> list[str]:
        """The tier's landed days (YYYY-MM-DD), sorted: one listing of
        its manifest directory, no manifest read."""
        # derive the dir from _manifest_path so backend subclasses that
        # relocate manifests (IcebergTierStore's _tiermeta) inherit this
        # listing unchanged
        d = os.path.dirname(self._manifest_path(tier, "x"))
        return sorted(fn[4:-5] for fn in fsutil.list_names(self.spark, d)
                      if fn.startswith("day=") and fn.endswith(".json"))

    def manifests(self, tier: str) -> dict[str, dict]:
        return {
            day: json.loads(
                fsutil.read_text(self.spark, self._manifest_path(tier, day)))
            for day in self.days(tier)
        }

    def write_tier(
        self,
        tier: str,
        df: DataFrame,
        input_fps: dict[str, dict] | None = None,
        days: list[str] | None = None,
        sort_within: tuple[str, ...] | None = ("source", "bucket"),
    ) -> dict:
        """Write (a subset of days of) a tier + manifests; returns metrics
        (``written_partitions``, ``rows``). The parquet backend also
        records the tier's schema sidecar, so rereads skip schema
        inference.

        ``input_fps`` are the fingerprints the manifests record, as
        :func:`partition_fingerprints` computes them. With ``days=None``
        every day in ``input_fps`` is written; otherwise only the listed
        partitions are (over)written — idempotent via dynamic partition
        overwrite (spark.sql.sources.partitionOverwriteMode).

        ``input_fps=None`` executes ``df``'s plan once: the write learns
        which days it landed from an observation on the written frame
        (no extra Spark job), and the manifests' fingerprints come from
        the post-write stats aggregation over the landed partitions —
        equal to ``partition_fingerprints`` of ``df`` plus its
        TIMESTAMP_NTZ ``day``. Every landed day (within ``days`` if
        given) is written; days already on disk that ``df`` lacks keep
        their partitions and manifests.

        ``sort_within`` clusters each write task's rows by (day, *cols)
        before writing — no shuffle (sortWithinPartitions), two layout
        wins at scale: parquet row-group min/max stats on the sort keys
        become tight, so a later source/bucket predicate (the tier
        router's reads, unpack_tier's hull prune) skips whole row groups
        at scan time; and the dynamic-partition writer streams one open
        file at a time per task instead of one per day (the many-open-
        writers memory spike on wide day ranges). Pass None to keep
        arrival order.
        """
        df = ensure_ntz(df, "bucket").withColumn(
            "day", F.date_trunc("day", F.col("bucket")).cast("date")
        )
        nothing = {"written_partitions": [], "rows": 0}
        day = F.col("day").cast("string")
        cutoff = self.retention_cutoff(tier)
        todo = None
        if input_fps is not None or days is not None:
            todo = sorted(input_fps if days is None else days)
            # aged-out days are tombstoned, never rewritten
            if cutoff is not None:
                todo = [d for d in todo if d >= cutoff]
            if not todo:
                return nothing
            sub = df.filter(day.isin(todo))
        else:
            sub = df if cutoff is None else df.filter(day >= cutoff)
        if input_fps is None:
            # a set, so tasks that Spark re-executes cannot skew it
            landed = Observation()
            sub = sub.observe(landed, F.collect_set(day).alias("days"))
        if sort_within:
            cols = [c for c in sort_within if c in sub.columns]
            sub = sub.sortWithinPartitions("day", *cols)
        self._write_data(sub, tier)
        if input_fps is None:
            got = set(landed.get["days"])
            todo = sorted(got if todo is None else got.intersection(todo))
            if not todo:
                return nothing
        # per-partition output metrics (and, without input_fps, the
        # fingerprints) for the manifests
        spark = df.sparkSession
        written = self._read_data(spark, tier).filter(day.isin(todo))
        # sum_tok_total only exists for the measure tiers; sketch/histogram
        # tiers (sketch.py, hist.py) have no sum_tok column
        stat_aggs = _fingerprint_aggs(
            [F.col(c) for c in written.columns if c != "day"]
            + [F.col("day").cast("timestamp_ntz")]
        ) + [
            F.min("bucket").cast("string").alias("min_bucket"),
            F.max("bucket").cast("string").alias("max_bucket"),
        ]
        if "sum_tok" in written.columns:
            stat_aggs.append(F.sum("sum_tok").alias("sum_tok_total"))
        stats = {
            r["day"]: r
            for r in written.groupBy(day.alias("day"))
            .agg(*stat_aggs)
            .collect()
        }
        total_rows = 0
        for d in todo:
            st = stats.get(d)
            if input_fps is not None:
                fp = input_fps.get(d, {})
            else:
                fp = {"rows": st["rows"], "hashsum": str(st["hashsum"])}
            manifest = {
                "tier": tier,
                "day": d,
                "input": fp,
                "rows": st["rows"] if st else 0,
                "min_bucket": st["min_bucket"] if st else None,
                "max_bucket": st["max_bucket"] if st else None,
                "sum_tok_total": (
                    st["sum_tok_total"]
                    if st is not None and "sum_tok_total" in st.asDict()
                    else None
                ),
                "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            fsutil.write_text(spark, self._manifest_path(tier, d),
                              json.dumps(manifest, indent=2))
            total_rows += manifest["rows"]
        return {"written_partitions": todo, "rows": total_rows}

    def stale_days(self, tier: str, input_fps: dict[str, dict]) -> list[str]:
        """Partitions whose manifest is missing or whose input changed.

        Days behind the tier's retention cutoff are never stale: a resumed
        run must not resurrect partitions that retention dropped (the
        cutoff is a durable tombstone, see ``apply_retention``).
        """
        have = self.manifests(tier)
        cutoff = self.retention_cutoff(tier)
        return sorted(
            day
            for day, fp in input_fps.items()
            if (cutoff is None or day >= cutoff)
            and (day not in have or have[day].get("input") != fp)
        )

    # -- retention ----------------------------------------------------------

    def _retention_path(self, tier: str) -> str:
        return os.path.join(self.root, tier, MANIFEST_DIR, "_retention.json")

    def _retention_state(self, tier: str) -> dict:
        p = self._retention_path(tier)
        if not fsutil.exists(self.spark, p):
            return {"cutoff": None, "events": []}
        return json.loads(fsutil.read_text(self.spark, p))

    def retention_cutoff(self, tier: str) -> str | None:
        """First day (YYYY-MM-DD) still retained, or None if no TTL applied."""
        return self._retention_state(tier).get("cutoff")

    def apply_retention(
        self, tier: str, keep_days: int | None, as_of: str | dt.date
    ) -> dict:
        """Drop day partitions older than ``as_of - keep_days`` (TTL).

        ``as_of`` is explicit (callers pass the max data day, not wall
        clock) so retention is deterministic and testable. Deletion =
        removing the partition directory + its manifest — the parquet
        equivalent of Iceberg's ``DELETE WHERE day < cutoff`` +
        ``expireSnapshots``. The cutoff persists in the tier's retention
        state: ``stale_days``/``write_tier`` treat it as a tombstone, so
        resumed runs do not recompute aged-out partitions.
        """
        if keep_days is None:
            return {"tier": tier, "cutoff": None, "dropped": []}
        if isinstance(as_of, str):
            as_of = dt.date.fromisoformat(as_of)
        cutoff = (as_of - dt.timedelta(days=keep_days)).isoformat()
        drop = [d for d in self.days(tier) if d < cutoff]
        for day in drop:
            self._drop_day(tier, day)
            fsutil.delete(self.spark, self._manifest_path(tier, day),
                          recursive=False)
        state = self._retention_state(tier)
        # cutoffs only move forward (late re-apply with a longer TTL must
        # not resurrect already-dropped history)
        state["cutoff"] = max(cutoff, state["cutoff"] or cutoff)
        state["events"].append(
            {
                "as_of": as_of.isoformat(),
                "keep_days": keep_days,
                "cutoff": cutoff,
                "dropped": drop,
                "applied_at": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
            }
        )
        fsutil.write_text(self.spark, self._retention_path(tier),
                          json.dumps(state, indent=2))
        return {"tier": tier, "cutoff": state["cutoff"], "dropped": drop}

    def read_tier(self, tier: str, spark=None) -> DataFrame:
        """The stored tier, ``day`` last. The parquet backend takes the
        schema from the tier's ``_schema.json``, so the read launches no
        footer-inference job; a tier written before the sidecar existed
        is read with inference."""
        # self.spark honors an injected session and raises a clear
        # error when none is resolvable (bare getActiveSession() would
        # hand _read_data a None)
        return self._read_data(spark or self.spark, tier)


class IcebergTierStore(TierStore):
    """TierStore with the DATA plane on an Iceberg catalog — the
    north-rule deployment target, runnable wherever
    ``iceberg-spark-runtime`` is on the classpath (the session must be
    built with :func:`use_iceberg`'s conf; see the jar-gated
    tests/test_rollup.py integration test).

    Only the four data-plane hooks differ from the parquet store:

    - write = DataFrameWriterV2 ``overwritePartitions()`` on
      ``{catalog}.{namespace}.{tier}`` — Iceberg's dynamic partition
      overwrite is a property of the COMMIT (snapshot-atomic,
      replaces exactly the day partitions present in the frame), so
      the STATIC-session-default hazard the parquet writer guards
      against cannot occur here;
    - read = ``spark.table``;
    - retention = ``DELETE FROM ... WHERE day < cutoff`` (a metadata
      operation on day-aligned files);
    - table creation = ``create()`` partitioned by the ``day`` column.

    Fingerprint manifests and retention state stay the SAME fsutil JSON
    sidecars, rooted under ``{root}/_tiermeta`` (outside the catalog's
    table directories — Iceberg owns those); every resume/stale/TTL
    decision is inherited bit-for-bit from TierStore, so the two
    backends are behaviorally interchangeable above the data plane.
    The schema comes from the catalog, so no ``_schema.json`` sidecar
    is written.
    """

    def __init__(self, root: str, catalog: str = "tiers",
                 namespace: str = "tiers_db", spark=None):
        super().__init__(root, spark=spark)
        self.catalog = catalog
        self.namespace = namespace

    def table_name(self, tier: str) -> str:
        return f"{self.catalog}.{self.namespace}.{tier}"

    def _manifest_path(self, tier: str, day: str) -> str:
        return os.path.join(
            self.root, "_tiermeta", tier, MANIFEST_DIR, f"day={day}.json"
        )

    def _retention_path(self, tier: str) -> str:
        return os.path.join(
            self.root, "_tiermeta", tier, MANIFEST_DIR, "_retention.json"
        )

    def _write_data(self, sub: DataFrame, tier: str) -> None:
        spark = sub.sparkSession
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
        )
        name = self.table_name(tier)
        if not spark.catalog.tableExists(name):
            sub.writeTo(name).partitionedBy(F.col("day")).create()
        else:
            sub.writeTo(name).overwritePartitions()

    def _read_data(self, spark, tier: str) -> DataFrame:
        return spark.table(self.table_name(tier))  # schema from the catalog

    def _drop_day(self, tier: str, day: str) -> None:
        self.spark.sql(
            f"DELETE FROM {self.table_name(tier)} "
            f"WHERE day = DATE '{day}'"
        )


def verify_cascade(
    store: TierStore,
    finer: str,
    coarser: str,
    spark=None,
    tol: float = 1e-9,
) -> DataFrame:
    """Cross-tier consistency audit: re-aggregate the stored finer tier
    and compare it cell-by-cell against the stored coarser tier.

    The cascade invariant — a coarser tier is exactly the partial-
    aggregate merge of the finer one — is what makes downsample-on-read
    (router.py) and tier repair sound; silent drift (a partial rewrite
    that missed a day, a retention tombstone on one side) breaks it.
    This audit is the cheap detector: one re-aggregation of the finer
    tier + a full outer join on (source, bucket), both shuffles keyed
    the same way. Returns the mismatch frame (empty == consistent):

      source, bucket, status ('missing_in_coarser' | 'missing_in_finer'
      | 'value_drift'), plus the measure columns from both sides.

    Days past the finer tier's retention cutoff are excluded — the
    coarser tier legitimately keeps history the finer tier has aged out
    (DEFAULT_RETENTION's whole point), so those rows are not drift.
    Measure comparison covers the shared cascade measures; sum_tok uses
    ``tol`` (float partial sums are order-sensitive at the last ulp).
    """
    from traval_spark.rollup import rollup_cascade

    fine = store.read_tier(finer, spark).drop("day")
    coarse = store.read_tier(coarser, spark).drop("day")
    expected = rollup_cascade(fine, coarser)

    cutoff = store.retention_cutoff(finer)
    if cutoff is not None:
        lo = F.lit(cutoff).cast("date")
        expected = expected.filter(F.col("bucket").cast("date") >= lo)
        coarse = coarse.filter(F.col("bucket").cast("date") >= lo)

    measures = [c for c in ("n_points", "sum_tok", "min_tok", "max_tok")
                if c in coarse.columns and c in expected.columns]
    e = expected.select(
        "source", "bucket",
        *[F.col(m).alias(f"{m}_expected") for m in measures])
    g = coarse.select(
        "source", "bucket",
        *[F.col(m).alias(f"{m}_stored") for m in measures])
    j = e.join(g, ["source", "bucket"], "full_outer")

    # NULL-safe: a bucket whose every point was rule-flagged has NULL
    # sum/min/max on both sides, which is agreement, not drift
    drift = F.lit(False)
    for m in measures:
        a, b = F.col(f"{m}_expected"), F.col(f"{m}_stored")
        if m == "sum_tok":
            neq = F.when(a.isNull() & b.isNull(), F.lit(False)).otherwise(
                F.coalesce(F.abs(a - b) > tol, F.lit(True)))
        else:
            neq = ~a.eqNullSafe(b)
        drift = drift | neq
    status = (
        F.when(F.col(f"{measures[0]}_expected").isNull(),
               F.lit("missing_in_finer"))
        .when(F.col(f"{measures[0]}_stored").isNull(),
              F.lit("missing_in_coarser"))
        .when(drift, F.lit("value_drift"))
    )
    return j.withColumn("status", status).filter(F.col("status").isNotNull())


def retention_preview(
    df: DataFrame,
    keep_days: int,
    as_of: str | dt.date,
    ts_col: str = "ts",
) -> DataFrame:
    """Dry run of :meth:`TierStore.apply_retention`'s TTL rule over any
    timestamp-carrying frame — the read you run BEFORE retention
    mutates anything: per day, how many rows exist and whether the TTL
    would keep or drop them.  Uses the same cutoff arithmetic and the
    same strict ``day < cutoff`` comparison as ``apply_retention`` (one
    copy of the rule would be better, but the rule is one line and the
    coherence pytest pins them together: preview's drop set == the days
    apply_retention actually drops).

    One partial-aggregatable groupBy over the frame; at scale the day
    column is the partition key, so the scan prunes to footers.
    Output: ``day (YYYY-MM-DD), n_rows, action`` ('keep' | 'drop').
    """
    if isinstance(as_of, str):
        as_of = dt.date.fromisoformat(as_of)
    cutoff = (as_of - dt.timedelta(days=int(keep_days))).isoformat()
    day = F.date_format(F.date_trunc("day", F.col(ts_col)), "yyyy-MM-dd")
    return (
        df.groupBy(day.alias("day"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "day", "n_rows",
            F.when(F.col("day") < cutoff, F.lit("drop"))
            .otherwise(F.lit("keep")).alias("action"),
        )
    )


def tier_freshness(
    store: TierStore,
    tiers: list[str],
    as_of: str | dt.date,
) -> list[dict]:
    """Staleness census over the store's manifests — "is every tier
    still being fed?", the first question an on-call asks before
    trusting a dashboard served from tiers.  Per tier: day count, day
    span, total manifest rows, and ``staleness_days`` = as_of − max
    day (None for an empty tier, which is its own alert).

    Pure metadata: one manifest-directory listing per tier (the
    manifests ARE the commit log — a day partition without its
    manifest never counts as landed), nothing touches data files, so
    the read is namenode-only at any data scale.  Driver-sized output
    (|tiers| rows) returned as plain dicts sorted by tier.
    """
    as_of_d = dt.date.fromisoformat(as_of) if isinstance(as_of, str) else as_of
    out = []
    for tier in tiers:
        m = store.manifests(tier)
        days = sorted(m)
        holes = 0
        if days:
            lo = dt.date.fromisoformat(days[0])
            hi = dt.date.fromisoformat(days[-1])
            # interior holes: days inside the landed span with no
            # manifest — a tier with a hole serves silently wrong
            # range reads, worse than a stale one (retention tombstones
            # move min_day forward, so aged-out days never count)
            holes = (hi - lo).days + 1 - len(days)
        out.append({
            "tier": tier,
            "n_days": len(days),
            "min_day": days[0] if days else None,
            "max_day": days[-1] if days else None,
            "missing_days": holes,
            "rows_total": sum(v.get("rows", 0) for v in m.values()),
            "staleness_days": (
                (as_of_d - dt.date.fromisoformat(days[-1])).days
                if days else None
            ),
        })
    return sorted(out, key=lambda r: r["tier"])


def file_census(
    store: TierStore,
    tier: str,
    target_bytes: int = 128 << 20,
    max_files_per_day: int = 8,
) -> list[dict]:
    """Small-file census per day partition — the pre-flight read for
    tier maintenance: streaming/resume/late-data writers each land
    their own files, and a day fragmented into hundreds of small
    parquet files costs a task per file + a footer read per task on
    every downstream scan.  Per day: file count, bytes, mean file
    size, and ``needs_compaction`` (more than one file AND either mean
    size under ``target_bytes``/2 or more than ``max_files_per_day``
    files).

    Pure metadata (one listStatus per day directory; underscore
    markers and sidecar dirs excluded by Hadoop's hidden-file rule) —
    at scale this is the namenode listing a compaction scheduler polls,
    never a data read.  Driver-sized output (|days| rows).
    """
    spark = store.spark
    root = store.tier_path(tier)
    out = []
    for name in sorted(fsutil.list_names(spark, root)):
        if not name.startswith("day="):
            continue
        files = [
            (fn, sz)
            for fn, sz in fsutil.list_files(spark, os.path.join(root, name))
            if not fn.startswith(("_", "."))
        ]
        n, total = len(files), sum(sz for _, sz in files)
        out.append({
            "day": name[4:],
            "n_files": n,
            "bytes": total,
            "avg_bytes": (total // n) if n else 0,
            "needs_compaction": bool(
                n > 1 and (total // n < target_bytes // 2
                           or n > max_files_per_day)
            ),
        })
    return out


def compact_tier_day(
    store: TierStore,
    tier: str,
    day: str,
    target_files: int = 1,
) -> dict:
    """Rewrite ONE day partition of a tier into ``target_files`` files —
    the maintenance action :func:`file_census` schedules.  The data is
    read back from the store, repartitioned, re-sorted to the tier's
    layout convention (source, bucket — keeps the row-group zone maps
    tight), and rewritten through the store's own writer (dynamic
    partition overwrite ENFORCED per-writer, so sibling days are safe
    even under a STATIC-default session).

    The day's manifest is the verification contract: after the
    rewrite, the partition is re-read FROM DISK and its row count must
    equal the manifest's — a mismatch raises RuntimeError (alarm, not
    silent loss) and the manifest is left untouched so the resume
    machinery sees the day as suspect.  On success the manifest is
    rewritten with a ``compacted_at`` stamp (rows/min/max unchanged:
    compaction moves bytes, never values).
    """
    spark = store.spark
    manifest = store.read_manifest(tier, day)
    if manifest is None:
        raise ValueError(f"no manifest for {tier} day={day}: not a "
                         "landed partition (nothing to compact)")
    part = store._read_data(spark, tier).filter(
        F.col("day").cast("string") == day
    )
    before = file_census(store, tier)
    nb = next((r["n_files"] for r in before if r["day"] == day), 0)
    sub = part.repartition(int(target_files))
    cols = [c for c in ("source", "bucket") if c in sub.columns]
    if cols:
        sub = sub.sortWithinPartitions(*cols)
    store._write_data(sub, tier)
    reread = store._read_data(spark, tier).filter(
        F.col("day").cast("string") == day
    )
    rows_after = reread.count()
    if rows_after != manifest["rows"]:
        raise RuntimeError(
            f"compaction verification FAILED for {tier} day={day}: "
            f"{rows_after} rows on disk vs {manifest['rows']} in the "
            "manifest — partition left as-is, manifest untouched"
        )
    manifest = dict(manifest)
    manifest["compacted_at"] = time.strftime(
        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
    )
    fsutil.write_text(spark, store._manifest_path(tier, day),
                      json.dumps(manifest, indent=2))
    after = file_census(store, tier)
    na = next((r["n_files"] for r in after if r["day"] == day), 0)
    return {"tier": tier, "day": day, "rows": rows_after,
            "files_before": nb, "files_after": na, "verified": True}
