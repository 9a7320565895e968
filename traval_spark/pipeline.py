"""End-to-end rollup/retention job — the ``spark-submit --py-files`` entry.

    spark-submit --py-files traval_spark.zip traval_spark/pipeline.py \
        --synth-rows 1000000 --output /data/tiers --resume

Flow (north_rule): tokenized sequences -> rule-based cleaning (flagged
points excluded from aggregates, exactly traval's NaN semantics) ->
salted tumbling rollups raw->1m->1h->1d -> gap-fill -> Gorilla-packed
blocks -> TierStore partitions with lineage manifests; resumable per
partition.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# when executed as a plain script (python .../pipeline.py) rather than via
# spark-submit --py-files, make the package importable from its location
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from traval_spark.compress import pack_tier
from traval_spark.plans.ruleset import SparkRuleSet, apply_ruleset
from traval_spark.rollup import gap_fill, rollup_cascade, salted_rollup
from traval_spark.session import get_spark, held, hold
from traval_spark.sources import fsutil
from traval_spark.sources.synth import synth_sequences
from traval_spark.sources.tierstore import (
    TierStore, partition_fingerprints, read_days, write_days,
)


#: the measure tiers ``run`` and ``ingest_late`` land, finest first
TIER_NAMES = ("1m", "1h", "1d")


def default_ruleset() -> SparkRuleSet:
    """Cleaning rules applied to the n_tok-per-source series before rollup:
    hard token-length cap + spike screen (traval rules on the graft input)."""
    rs = SparkRuleSet("sequence-cleaning")
    rs.add_rule("toklen_max", "rule_hardmax", apply_to=0,
                kwargs={"threshold": 100_000.0})
    # chunked evaluation: exact for gap-aware rules and immune to the
    # hot-source skew (source_00 = 50% of rows would otherwise run its
    # whole window on ONE task — SURVEY.md §4.2)
    rs.add_rule("toklen_spike", "rule_spike_detection", apply_to=0,
                kwargs={"threshold": 1e7, "spike_tol": 1e7,
                        "max_gap": "10m", "chunk": "1h"})
    # skew-free per-series stats: agg + broadcast join, not a window sort
    rs.add_rule("toklen_sigma", "rule_outside_n_sigma", apply_to=0,
                kwargs={"n": 8.0, "via_join": True})
    rs.add_rule("final", "rule_combine_nan_or", apply_to=(1, 2, 3))
    return rs


def combined_sketch_leaf(
    df: DataFrame,
    tier: str = "1m",
    value_col: str = "n_tok",
    ts_col: str = "ts",
    ident_col: str = "doc_id",
    k: int = 256,
) -> DataFrame:
    """The kmv + M4 + first/last leaf aggregates in ONE
    groupBy(source, bucket) pass — three tier kinds share the exact
    same grouping key, so building them as three separate jobs scans
    the cleaned corpus three times for no reason.  The aggregates are
    the batch builders' own (``kmv_agg``, ``m4_aggs``, ``fl_aggs``).
    Per-kind NULL conventions are preserved by masking INPUTS, not rows
    (kmv keeps NULL-only buckets with an empty sketch, exactly like
    ``distinct_tier`` on the unfiltered frame; ``m4_aggs`` and
    ``fl_aggs`` mask rows with a NULL value, which the builders drop up
    front), so the three split projections
    (:func:`split_combined_leaf`) are row- and byte-identical to
    ``distinct_tier`` / ``m4_downsample`` / ``fl_rollup`` run
    separately — pinned by the parity pytest.
    """
    from traval_spark.functions.ts import ensure_ntz, unix_us
    from traval_spark.operators.downsample import m4_aggs
    from traval_spark.rollup import TIERS, fl_aggs
    from traval_spark.sketch import kmv_agg

    unit, _ = TIERS[tier]
    df = ensure_ntz(df, ts_col)
    src = df.select(
        "source",
        F.date_trunc(unit, F.col(ts_col)).cast("timestamp_ntz")
        .alias("bucket"),
        unix_us(F.col(ts_col)).alias("__us"),
        F.col(value_col).alias("__v"),
        F.col(ident_col).alias("__i"),
    )
    return src.groupBy("source", "bucket").agg(
        kmv_agg("__v", k).alias("kmv"),
        *m4_aggs(),
        *fl_aggs(F.col("__us"), F.col("__i"), F.col("__v")),
    )


def split_combined_leaf(agg: DataFrame) -> dict[str, DataFrame]:
    """Project the one-pass combined leaf into the three per-kind tier
    frames, byte-identical to the individual builders (see
    :func:`combined_sketch_leaf`)."""
    from traval_spark.operators.downsample import m4_project

    kmv = agg.select("source", "bucket", "kmv")
    # m4_downsample emits buckets only where a non-NULL value exists,
    # and its bucket column is TIMESTAMP (timestamp_micros of the
    # bucket start); NTZ->TIMESTAMP cast is value-preserving under the
    # UTC session
    m4 = m4_project(
        agg.filter(F.col("n_points") > 0),
        ["source", F.col("bucket").cast("timestamp").alias("bucket")],
    )
    fl = agg.filter(F.col("first").isNotNull()).select(
        "source", "bucket", "first", "last"
    )
    return {"kmv": kmv, "m4": m4, "fl": fl}


def clean_sequences(df: DataFrame, ruleset: SparkRuleSet | None) -> DataFrame:
    """Run the ruleset over (source, ts, n_tok) series; flagged points get
    NULL n_tok (kept as rows — SURVEY.md §1.4) so aggregates skip them."""
    if ruleset is None:
        return df
    series = df.select(
        F.col("source").alias("series_id"),
        "ts",
        F.col("n_tok").cast("double").alias("value"),
        "doc_id",
        "tokens",
        "n_tok",
    )
    wide = apply_ruleset(series, ruleset)
    last = f"step_{len(ruleset.rules)}"
    return wide.select(
        "doc_id",
        "tokens",
        F.col("series_id").alias("source"),
        "ts",
        F.when(F.col(last).isNotNull(), F.col("n_tok")).alias("n_tok"),
    )


def init_raw(df: DataFrame, raw_root: str) -> None:
    """Land a tokenized-sequence frame as the DAY-PARTITIONED raw table
    :func:`ingest_late` upserts into. Day partitioning is what makes the
    invalidation path partition-pruned: refreshing K late days scans K
    day directories, never the corpus."""
    write_days(df.withColumn("day", F.col("ts").cast("date")), raw_root)


def land_cascade(
    store: TierStore,
    first: DataFrame,
    cascade,
    tiers: tuple[str, ...] = TIER_NAMES,
    days: list[str] | None = None,
    resume: bool = False,
) -> dict[str, tuple[dict, list[str], list[str]]]:
    """Land ``first`` as ``tiers[0]``, then each coarser tier as
    ``cascade(prev, tier)``; returns, per tier, the write result, the
    tier's days and the days skipped as already current.

    ``prev`` is the finer tier reread from the store (pruned to
    ``days`` if given), so the plan behind ``first`` executes once. If
    retention already dropped a day of ``days`` from the finer tier,
    ``prev`` is the finer tier's plan instead. With ``days`` only those
    day partitions are (over)written. With ``resume`` each plan is first
    fingerprinted and only the stale days are written; without it the
    plan executes once, inside the write."""
    spark = first.sparkSession
    out: dict = {}
    df = first
    for i, tier in enumerate(tiers):
        if i:
            fine = tiers[i - 1]
            cutoff = store.retention_cutoff(fine) if days else None
            if cutoff is None or min(days) >= cutoff:
                df = store.read_tier(fine, spark)
                if days is not None:
                    df = df.filter(F.col("day").cast("string").isin(days))
                df = df.drop("day")
            df = cascade(df, tier)
        if resume:
            fps = partition_fingerprints(df.withColumn(
                "day",
                F.date_trunc("day", F.col("bucket")).cast("timestamp_ntz")))
            todo = store.stale_days(tier, fps)
            res = store.write_tier(tier, df, fps, days=todo)
            out[tier] = (res, sorted(fps), sorted(set(fps) - set(todo)))
        else:
            res = store.write_tier(tier, df, days=days)
            out[tier] = (res, res["written_partitions"], [])
    return out


def _expand_days(days: set[str], margin: int) -> set[str]:
    import datetime as dt

    out: set[str] = set()
    for d in days:
        base = dt.date.fromisoformat(d)
        for k in range(-margin, margin + 1):
            out.add((base + dt.timedelta(days=k)).isoformat())
    return out


def ingest_late(
    spark: SparkSession,
    raw_root: str,
    out_root: str,
    late: DataFrame,
    ruleset: SparkRuleSet | None = None,
    n_salt: int = 16,
    margin_days: int = 1,
    key: str = "doc_id",
) -> dict:
    """Late-data invalidation refresh: upsert a late/corrected batch into
    the day-partitioned raw table, then rebuild ONLY the invalidated day
    partitions of every tier — the continuous-aggregate refresh path.

    The dirty-day set comes from the LATE BATCH ALONE (one tiny distinct
    over its timestamps) — never from re-fingerprinting the corpus, so
    the cost of absorbing late data is proportional to the late batch's
    day span, not to history size. Compare ``run(resume=True)``, which
    re-executes the cleaning plan over ALL of raw just to recompute
    fingerprints: correct, but a full-corpus scan per refresh.

    Steps:

    1. **Upsert** (MERGE semantics on ``key``): the dirty days' existing
       raw partitions union the late batch; per key the winner is the
       row with max (is_late, ts, n_tok) — late rows beat stored rows,
       deterministic under replay. Dynamic partition overwrite rewrites
       only the dirty day directories, so replaying the same batch is
       idempotent (the second merge is a fixpoint).
    2. **Refresh**: days within ``margin_days`` of a dirty day are
       recomputed from a raw read that is partition-pruned to the
       refresh window plus one more margin (the cleaning context): clean
       -> salted 1m, written back via the tier store's dynamic partition
       overwrite + fresh manifests. The 1h and 1d partitions then
       cascade from the just-refreshed STORED finer tier, pruned to the
       refreshed days, as ``run()`` does, so the cleaning plan executes
       once. (If retention already dropped a refreshed day from the
       finer tier, the coarser one cascades from the plan instead.)
       Every aggregate in the cascade is integer-exact, so the refreshed
       partitions are BYTE-identical to a from-scratch rebuild over the
       merged corpus (parity-tested).

    Contract: exact full-rebuild parity requires every rule's temporal
    reach <= ``margin_days`` (spike/lag/lead/bounded windows qualify).
    Global-statistic rules — ``rule_outside_n_sigma(via_join=True)``
    computes sigma over the WHOLE series — invalidate every day by
    definition; for those, a late point legitimately changes history and
    only a full ``run()`` is faithful. Derived whole-table views
    (``1m_dense``, ``1m_gorilla``, sketch companion stores) are reads of
    the tiers; refresh them with their builders after this returns.
    """
    cols = [c for c in late.columns if c != "day"]
    dirty = sorted(
        r["d"]
        for r in late.select(
            F.col("ts").cast("date").cast("string").alias("d")
        ).distinct().collect()
    )
    if not dirty:
        return {"dirty_days": [], "refreshed_days": [], "partitions": {}}

    # -- 1. merge into the dirty raw day partitions ----------------------
    base = (
        read_days(spark, raw_root)
        .filter(F.col("day").cast("string").isin(dirty))
        .select(*cols)
        .withColumn("__pri", F.lit(0))
    )
    merged = (
        base.unionByName(late.select(*cols).withColumn("__pri", F.lit(1)))
        .groupBy(key)
        .agg(
            F.max_by(
                F.struct(*[c for c in cols if c != key]),
                F.struct("__pri", "ts", "n_tok"),
            ).alias("__r")
        )
        .select(key, "__r.*")
    )
    write_days(merged.withColumn("day", F.col("ts").cast("date")), raw_root)

    # -- 2. rebuild the invalidated tier partitions ----------------------
    affected = _expand_days(set(dirty), margin_days)
    window = sorted(_expand_days(affected, margin_days))
    raw = (
        read_days(spark, raw_root)
        .filter(F.col("day").cast("string").isin(window))
        .select(*cols)
    )
    cleaned = clean_sequences(raw, ruleset)
    todo = sorted(affected)
    landed = land_cascade(
        TierStore(out_root), salted_rollup(cleaned, "1m", n_salt=n_salt),
        rollup_cascade, days=todo)
    return {
        "dirty_days": dirty,
        "refreshed_days": todo,
        "partitions": {t: res["written_partitions"]
                       for t, (res, _, _) in landed.items()},
    }


def run(
    spark: SparkSession,
    out_root: str,
    input_path: str | None = None,
    synth_rows: int = 100_000,
    resume: bool = False,
    gapfill_method: str = "ffill",
    n_salt: int = 16,
    ruleset: SparkRuleSet | None = None,
    retention: dict[str, int | None] | None = None,
    sketches: bool = False,
) -> dict:
    """Execute the cascade; returns a metrics dict (also written to the
    store root as run_metrics.json). ``retention`` maps tier names
    (``1m``, ``1h``, ``1d``) to days kept; any other key raises
    ``ValueError`` before any Spark job runs."""
    unknown = sorted(set(retention or ()) - set(TIER_NAMES))
    if unknown:
        raise ValueError(f"retention names unknown tiers {unknown}; "
                         f"run lands {list(TIER_NAMES)}")
    t0 = time.time()
    if input_path:
        raw = spark.read.parquet(input_path)
        if "ts" not in raw.columns:
            raise ValueError("input must carry a ts column (see synth_sequences)")
    else:
        raw = synth_sequences(spark, synth_rows)

    cleaned = clean_sequences(raw, ruleset)

    # Stage materialization — the 100 TB shape of this job. The rule
    # stage (windows over raw) is the dominant cost; a lazy cascade +
    # four lazy sketch leaves would RE-EXECUTE raw->rules once per
    # write action (7x at --sketches). Instead: land the cleaned frame
    # once when several leaves will read it, and derive every coarser
    # tier from the STORED finer tier (exact: integer aggregates
    # re-aggregate bit-identically — the cascade-exactness pytests pin
    # this), so raw->rules runs EXACTLY ONCE per job.
    if sketches:
        cleaned_path = os.path.join(out_root, "cleaned")
        cleaned.write.mode("overwrite").parquet(cleaned_path)
        cleaned = spark.read.parquet(cleaned_path)

    store = TierStore(out_root)
    metrics: dict = {"partitions": {}, "rows": {}, "skipped": {}}

    def record(prefix: str, landed: dict) -> None:
        for t, (res, _, skipped) in landed.items():
            metrics["partitions"][prefix + t] = res["written_partitions"]
            metrics["rows"][prefix + t] = res["rows"]
            metrics["skipped"][prefix + t] = skipped

    landed = land_cascade(store, salted_rollup(cleaned, "1m", n_salt=n_salt),
                          rollup_cascade, resume=resume)
    record("", landed)
    max_day = max((d[-1] for _, d, _ in landed.values() if d), default=None)

    if sketches:
        # companion mergeable-tier stores (one root per tier kind; the
        # standard tier names inside, so the router reuses its planning):
        # KMV distinct-n_tok sketches, exact n_tok histograms, M4 and
        # first/last extremes. Each leaf reads the LANDED cleaned
        # parquet (one rule pass for the whole job, column-pruned
        # reads here), and each coarser tier cascades FROM the stored
        # finer tier — never from raw.
        from traval_spark.hist import hist_cascade, hist_tier
        from traval_spark.operators.downsample import m4_merge
        from traval_spark.rollup import fl_cascade
        from traval_spark.sketch import distinct_cascade

        # kmv + m4 + fl share the grouping key, so their leaves come
        # out of ONE pass over the landed cleaned frame; the combined
        # frame is tier-scale, cached so the three store writes do
        # not re-run the pass (and released when they are done, or
        # fail). hist groups by (source, bucket, bin) — its own
        # (column-pruned) pass.
        with held():
            combined = hold(combined_sketch_leaf(cleaned))
            leaves = split_combined_leaf(combined)
            for kind, leaf, casc in (
                ("kmv", leaves["kmv"], distinct_cascade),
                ("hist", hist_tier(cleaned, "1m"), hist_cascade),
                ("m4", leaves["m4"],
                 lambda cur, t: m4_merge(cur, t, bucket_col="bucket")),
                ("fl", leaves["fl"], fl_cascade),
            ):
                record(f"{kind}_", land_cascade(
                    TierStore(os.path.join(out_root, kind)), leaf, casc,
                    resume=resume))

    # gap-filled + packed views of the 1m tier
    t1m = store.read_tier("1m", spark).drop("day")
    dense = gap_fill(t1m, "1m", method=gapfill_method)
    dense.write.mode("overwrite").parquet(f"{out_root}/1m_dense")
    # byte totals observed on the packed write, not read back: the
    # observed node sits after pack_tier's applyInPandas, in the
    # write's result stage, whose retried tasks are counted once
    packed_bytes = Observation()
    pack_tier(t1m, measures=["sum_tok", "n_points"]).observe(
        packed_bytes, F.sum("raw_bytes").alias("raw"),
        F.sum("packed_bytes").alias("packed"),
    ).write.mode("overwrite").parquet(f"{out_root}/1m_gorilla")
    comp = packed_bytes.get
    # rolled-up (non-flagged) point count read back from the tiny
    # written 1m tier — never re-execute the full cleaning plan just
    # for a metrics field (it is the dominant stage of the job)
    n_input = int(t1m.agg(F.sum("n_points").alias("n")).collect()[0]["n"] or 0)

    if retention and max_day:
        # Last step of the job: TTL per tier, anchored on the newest data
        # day (not wall clock: deterministic, replayable); cutoffs
        # tombstone so --resume never resurrects aged-out partitions.
        metrics["retention"] = {
            t: store.apply_retention(t, keep, as_of=max_day)
            for t, keep in retention.items()
        }

    metrics.update(
        {
            # points aggregated into the 1m tier (flagged rows excluded);
            # sourced from the written tier, not a second plan execution
            "input_rows": n_input,
            "gorilla_raw_bytes": comp["raw"],
            "gorilla_packed_bytes": comp["packed"],
            "compression_ratio": (comp["raw"] / comp["packed"])
            if comp["packed"]
            else None,
            "wall_seconds": round(time.time() - t0, 3),
            "points_per_sec": round(n_input / (time.time() - t0), 1),
            # stage materialization: with --sketches the cleaned frame
            # is landed once and re-read by every leaf (raw->rules runs
            # exactly once per job); without, the single 1m leaf is the
            # only consumer and nothing extra is written
            "cleaned_landed": bool(sketches),
        }
    )
    # Hadoop FS API, not builtin open(): out_root may be hdfs://, s3://,
    # ... on a cluster (same rule as curation.write_curated)
    fsutil.write_text(spark, f"{out_root}/run_metrics.json",
                      json.dumps(metrics, indent=2, default=str))
    return metrics


def run_maintenance(
    spark: SparkSession,
    out_root: str,
    action: str,
    as_of: str | None = None,
    target_bytes: int = 128 << 20,
    max_files_per_day: int = 8,
) -> dict:
    """Maintenance pass over an EXISTING store (the spark-submit
    surface for the tier-trust ops): ``census`` reports per-day file
    fragmentation for every tier, ``compact`` rewrites the days the
    census flags (manifest-verified, values untouched), ``freshness``
    reports per-tier staleness from manifests alone, ``audit`` runs
    the verify_cascade cross-tier consistency check over every stored
    adjacent tier pair (1m->1h, 1h->1d) and reports mismatch counts
    by status.  Tiers are discovered by their ``_manifests`` commit
    log — a directory without one was never landed by this engine and
    is left alone.
    """
    import datetime as real_dt

    from traval_spark.sources.tierstore import (
        MANIFEST_DIR, compact_tier_day, file_census, tier_freshness,
    )

    store = TierStore(out_root, spark)
    tiers = sorted(
        t for t in fsutil.list_names(spark, out_root)
        if fsutil.exists(spark, os.path.join(out_root, t, MANIFEST_DIR))
    )
    if action == "freshness":
        ref = as_of or real_dt.datetime.now(real_dt.timezone.utc).strftime(
            "%Y-%m-%d")
        return {"action": "freshness", "as_of": ref,
                "tiers": tier_freshness(store, tiers, ref)}
    if action == "census":
        return {"action": "census",
                "tiers": {t: file_census(store, t, target_bytes,
                                         max_files_per_day)
                          for t in tiers}}
    if action == "compact":
        done = []
        for t in tiers:
            for rep in file_census(store, t, target_bytes,
                                   max_files_per_day):
                if rep["needs_compaction"]:
                    done.append(compact_tier_day(store, t, rep["day"]))
        return {"action": "compact", "compacted": done}
    if action == "audit":
        from traval_spark.sources.tierstore import verify_cascade

        order = [t for t in TIER_NAMES if t in tiers]
        pairs = list(zip(order, order[1:]))
        out = {}
        for fine, coarse in pairs:
            mism = verify_cascade(store, fine, coarse, spark)
            counts = {
                r["status"]: r["n"]
                for r in mism.groupBy("status")
                .agg(F.count("*").alias("n")).collect()
            }
            out[f"{fine}->{coarse}"] = {
                "mismatches": sum(counts.values()), **counts
            }
        return {"action": "audit", "pairs": out,
                "consistent": all(v["mismatches"] == 0
                                  for v in out.values())}
    raise ValueError(f"unknown maintenance action: {action!r}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", default=None, help="parquet input path")
    ap.add_argument("--synth-rows", type=int, default=100_000)
    ap.add_argument("--output", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--gapfill", default="ffill", choices=["ffill", "linear"])
    ap.add_argument("--n-salt", type=int, default=16)
    ap.add_argument("--no-clean", action="store_true")
    ap.add_argument("--sketches", action="store_true",
                    help="also write KMV distinct + histogram + M4 "
                         "downsample tier stores")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--maintenance", default=None,
        choices=["census", "compact", "freshness", "audit"],
        help="operate on the EXISTING store at --output instead of "
             "building: census = per-day small-file report, compact = "
             "rewrite the days the census flags (manifest-verified), "
             "freshness = per-tier staleness from manifests, audit = "
             "verify_cascade cross-tier consistency over stored pairs",
    )
    ap.add_argument("--as-of", default=None,
                    help="freshness reference day YYYY-MM-DD "
                         "(default: today UTC)")
    ap.add_argument(
        "--retention", default=None,
        help="per-tier TTL in days, e.g. '1m=30,1h=365' or 'default' "
             "(= tierstore.DEFAULT_RETENTION); omitted tiers keep forever",
    )
    args = ap.parse_args()

    retention = None
    if args.retention == "default":
        from traval_spark.sources.tierstore import DEFAULT_RETENTION

        retention = DEFAULT_RETENTION
    elif args.retention:
        retention = {
            k: int(v) for k, v in
            (kv.split("=", 1) for kv in args.retention.split(","))
        }

    spark = get_spark("traval-spark-pipeline", master=args.master)
    if args.maintenance:
        print(json.dumps(
            run_maintenance(spark, args.output, args.maintenance,
                            as_of=args.as_of),
            default=str,
        ))
        return
    rs = None if args.no_clean else default_ruleset()
    metrics = run(
        spark,
        args.output,
        input_path=args.input,
        synth_rows=args.synth_rows,
        resume=args.resume,
        gapfill_method=args.gapfill,
        n_salt=args.n_salt,
        ruleset=rs,
        retention=retention,
        sketches=args.sketches,
    )
    print(json.dumps(metrics, default=str))


if __name__ == "__main__":
    main()
