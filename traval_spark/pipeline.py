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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from traval_spark.compress import pack_tier
from traval_spark.plans.ruleset import SparkRuleSet, apply_ruleset
from traval_spark.rollup import gap_fill, rollup_cascade, salted_rollup
from traval_spark.session import get_spark, held, hold
from traval_spark.sources import fsutil
from traval_spark.sources.synth import synth_sequences
from traval_spark.sources.tierstore import TierStore, partition_fingerprints


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
    (
        df.withColumn("day", F.col("ts").cast("date"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(raw_root)
    )


def _stored(store: TierStore, tier: str, spark,
            days: list[str] | None = None) -> DataFrame:
    """Reread a tier ``write_tier`` just landed, pruned to ``days`` if
    given, without the ``day`` column."""
    df = store.read_tier(tier, spark)
    if days is not None:
        df = df.filter(F.col("day").cast("string").isin(days))
    return df.drop("day")


def _land(store: TierStore, tier: str, df: DataFrame,
          resume: bool) -> tuple[dict, list[str], list[str]]:
    """Write one tier of ``run``; returns the write result, the tier's
    days and the days skipped as already current. Without ``resume`` the
    plan executes once, inside the write; with it, the plan is first
    fingerprinted, because the skip decision needs the fingerprints."""
    if not resume:
        res = store.write_tier(tier, df)
        return res, res["written_partitions"], []
    fps = partition_fingerprints(df.withColumn(
        "day", F.date_trunc("day", F.col("bucket")).cast("timestamp_ntz")))
    todo = store.stale_days(tier, fps)
    res = store.write_tier(tier, df, fps, days=todo)
    return res, sorted(fps), sorted(set(fps) - set(todo))


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
        spark.read.parquet(raw_root)
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
    (
        merged.withColumn("day", F.col("ts").cast("date"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(raw_root)
    )

    # -- 2. rebuild the invalidated tier partitions ----------------------
    affected = _expand_days(set(dirty), margin_days)
    window = sorted(_expand_days(affected, margin_days))
    raw = (
        spark.read.parquet(raw_root)
        .filter(F.col("day").cast("string").isin(window))
        .select(*cols)
    )
    cleaned = clean_sequences(raw, ruleset)
    store = TierStore(out_root)
    todo = sorted(affected)
    metrics: dict = {
        "dirty_days": dirty,
        "refreshed_days": todo,
        "partitions": {},
    }
    for tier_name in ("1m", "1h", "1d"):
        tier_df = (
            salted_rollup(cleaned, "1m", n_salt=n_salt)
            if tier_name == "1m"
            else rollup_cascade(tier_df, tier_name)
        )
        res = store.write_tier(tier_name, tier_df, days=todo)
        metrics["partitions"][tier_name] = res["written_partitions"]
        # the next tier cascades from the refreshed stored one, unless
        # retention already dropped some affected day from it
        cutoff = store.retention_cutoff(tier_name)
        if cutoff is None or todo[0] >= cutoff:
            tier_df = _stored(store, tier_name, spark, todo)
    return metrics


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
    store root as run_metrics.json)."""
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
    max_day = None
    tier_names = ("1m", "1h", "1d")
    prev_stored = None
    for tier_name in tier_names:
        tier_df = (
            salted_rollup(cleaned, "1m", n_salt=n_salt)
            if tier_name == "1m"
            else rollup_cascade(prev_stored, tier_name)
        )
        res, tier_days, skipped = _land(store, tier_name, tier_df, resume)
        if tier_days:
            max_day = max(tier_days[-1], max_day or "")
        metrics["partitions"][tier_name] = res["written_partitions"]
        metrics["rows"][tier_name] = res["rows"]
        metrics["skipped"][tier_name] = skipped
        prev_stored = _stored(store, tier_name, spark)
        if tier_name == "1m":
            t1m = prev_stored

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
                sub = TierStore(os.path.join(out_root, kind))
                cur = leaf
                for tname in ("1m", "1h", "1d"):
                    if tname != "1m":
                        cur = casc(cur, tname)
                    res, _, skipped = _land(sub, tname, cur, resume)
                    metrics["partitions"][f"{kind}_{tname}"] = res[
                        "written_partitions"]
                    metrics["rows"][f"{kind}_{tname}"] = res["rows"]
                    metrics["skipped"][f"{kind}_{tname}"] = skipped
                    cur = _stored(sub, tname, spark)

    # gap-filled + packed views of the 1m tier
    dense = gap_fill(t1m, "1m", method=gapfill_method)
    dense.write.mode("overwrite").parquet(f"{out_root}/1m_dense")
    packed = pack_tier(t1m, measures=["sum_tok", "n_points"])
    packed.write.mode("overwrite").parquet(f"{out_root}/1m_gorilla")
    # byte totals from the written blocks, not a second pack
    comp = spark.read.schema(packed.schema).parquet(
        f"{out_root}/1m_gorilla").agg(
        F.sum("raw_bytes").alias("raw"), F.sum("packed_bytes").alias("packed")
    ).collect()[0]
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
            if t in tier_names
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

        order = [t for t in ("1m", "1h", "1d") if t in tiers]
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
        help="per-tier TTL in days, e.g. 'raw=7,1m=30,1h=365' or 'default' "
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
