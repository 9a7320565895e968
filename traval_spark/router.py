"""Tier router: downsample-on-read planning over the retention cascade.

The read-side complement of the rollup cascade (SURVEY.md §2.10): given a
requested output resolution and time range, pick — per day — the
COARSEST stored tier that can still serve that resolution, stitch the
chosen segments, and re-aggregate each to the requested resolution. This
is the Thanos/M3-style downsample-on-read pattern: recent history is
served from fine tiers (raw/1m), old history from coarse ones (1h/1d),
and the caller sees one seamless frame.

Why this is exactly correct (not approximately): count/sum/min/max
compose through the cascade (the partial+final aggregation identity
proven by test_rollup_cascade_identity), so ANY eligible tier produces
the identical answer for its days — tier choice is purely a scan-cost
decision. Eligibility is divisibility: a tier whose bucket width divides
the requested resolution re-aggregates exactly; one that doesn't (1d
asked at 1h) cannot and is never chosen.

Scale design:

- Planning is driver-side metadata only: day-level coverage per tier
  (from one listing of each tier's manifest directory,
  ``TierStore.days``, or explicit ranges) — O(tiers x days) scalars; no
  manifest is opened and no data is touched.
- Each plan segment becomes one partition-pruned scan: the day-range
  predicate lands on the tier's ``day`` partition column (stored tiers)
  or the bucket/ts column (parquet row-group pruning), so a 2-day read
  of a 10-year store opens 2 partitions.
- Segments cover disjoint day ranges and every supported resolution
  divides one day, so no output bucket spans two segments: per-segment
  aggregation + union is exact with no cross-segment merge shuffle.
- Uncoverable days are DISCLOSED in the plan (``gaps``), never silently
  dropped; ``read_routed(strict=True)`` raises on them. A non-strict
  read whose whole range is gaps returns an empty frame with a covered
  read's columns and types.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from traval_spark.functions.ts import ensure_ntz
from traval_spark.rollup import (
    TIERS,
    _agg_exprs_cascade,
    _agg_exprs_raw,
)

#: bucket width per tier; raw is width-0 (can serve any resolution).
TIER_SECONDS: dict[str, int] = {"raw": 0, "1m": 60, "1h": 3600, "1d": 86400}


def _day(d: str | dt.date) -> dt.date:
    return dt.date.fromisoformat(d) if isinstance(d, str) else d


def eligible_tiers(resolution: str) -> list[str]:
    """Tiers that can exactly serve ``resolution``, coarsest first.

    A tier is eligible iff its bucket width divides the resolution's
    (raw always is). Coarsest-first is the scan-cost preference order.
    """
    res_s = TIERS[resolution][1]
    elig = [
        t for t, s in TIER_SECONDS.items()
        if s == 0 or (s <= res_s and res_s % s == 0)
    ]
    return sorted(elig, key=lambda t: -TIER_SECONDS[t])


@dataclass
class RouteSegment:
    tier: str
    day_lo: str  # inclusive, YYYY-MM-DD
    day_hi: str  # inclusive


@dataclass
class RoutePlan:
    resolution: str
    segments: list[RouteSegment] = field(default_factory=list)
    gaps: list[str] = field(default_factory=list)  # uncoverable days


def route_plan(
    coverage: dict[str, tuple[str, str]],
    resolution: str,
    day_min: str | None = None,
    day_max: str | None = None,
) -> RoutePlan:
    """Driver-side segment plan for a (resolution, day-range) read.

    ``coverage`` maps tier -> (first_day, last_day) available, inclusive
    — what retention has left standing (see ``coverage_of``). For each
    day in [day_min, day_max] the coarsest eligible covering tier wins;
    consecutive days with the same choice merge into one segment (one
    pruned scan each). Days no eligible tier covers land in
    ``plan.gaps``. An open range over empty coverage raises ValueError.
    """
    if resolution not in TIERS:
        raise ValueError(f"Unknown resolution {resolution!r}")
    if not coverage and (day_min is None or day_max is None):
        raise ValueError("the store has no landed days (empty coverage): "
                         "nothing to route")
    order = [t for t in eligible_tiers(resolution) if t in coverage]
    if day_min is None:
        day_min = min(lo for lo, _ in coverage.values())
    if day_max is None:
        day_max = max(hi for _, hi in coverage.values())
    lo, hi = _day(day_min), _day(day_max)

    plan = RoutePlan(resolution=resolution)
    d = lo
    while d <= hi:
        key = d.isoformat()
        pick = next(
            (t for t in order
             if coverage[t][0] <= key <= coverage[t][1]),
            None,
        )
        if pick is None:
            plan.gaps.append(key)
        elif plan.segments and plan.segments[-1].tier == pick and not (
            plan.gaps and plan.gaps[-1] > plan.segments[-1].day_hi
        ):
            plan.segments[-1].day_hi = key
        else:
            plan.segments.append(RouteSegment(pick, key, key))
        d += dt.timedelta(days=1)
    return plan


def coverage_of(store, tiers: list[str] | None = None) -> dict[str, tuple[str, str]]:
    """Day coverage per tier from a TierStore's manifest listings
    (``TierStore.days``: driver-side, no manifest or data read). Tiers
    with no landed days are absent."""
    out: dict[str, tuple[str, str]] = {}
    for t in tiers or list(TIER_SECONDS):
        days = store.days(t)
        if days:
            out[t] = (days[0], days[-1])
    return out


def _segment_frame(
    frame: DataFrame, tier: str, seg: RouteSegment, resolution: str,
    ts_col: str,
) -> DataFrame:
    """One segment: day-pruned scan of its tier, re-aggregated to the
    requested resolution. Raw frames carry (source, ts, n_tok); tier
    frames carry the (source, bucket, n_points, sum_tok, min_tok,
    max_tok) rollup schema."""
    unit, _ = TIERS[resolution]
    lo = F.lit(seg.day_lo).cast("date")
    hi = F.lit(seg.day_hi).cast("date")
    if tier == "raw":
        df = ensure_ntz(frame, ts_col)
        tcol = F.col(ts_col)
        df = df.filter(tcol.cast("date").between(lo, hi))
        bucket = F.date_trunc(unit, tcol).cast("timestamp_ntz")
        return (
            df.groupBy("source", bucket.alias("bucket"))
            .agg(*_agg_exprs_raw())
        )
    if "day" in frame.columns:  # stored tier: prune on the partition column
        df = frame.filter(F.col("day").between(lo, hi))
    else:
        df = frame.filter(F.col("bucket").cast("date").between(lo, hi))
    bucket = F.date_trunc(unit, F.col("bucket")).cast("timestamp_ntz")
    return (
        df.groupBy("source", bucket.alias("bucket"))
        .agg(*_agg_exprs_cascade())
    )


def read_routed(
    frames: dict[str, DataFrame],
    plan: RoutePlan,
    ts_col: str = "ts",
    strict: bool = False,
    with_provenance: bool = False,
) -> DataFrame:
    """Execute a RoutePlan over per-tier frames into one frame at the
    plan's resolution: (source, bucket, n_points, sum_tok, min_tok,
    max_tok [, tier]).

    ``frames`` maps tier name -> its DataFrame (``TierStore.read_tier``
    results, or lazy cascade frames). Per-segment aggregate + union is
    exact — segments are day-disjoint and every resolution divides one
    day, so no output bucket spans segments. ``with_provenance`` adds the
    serving tier per row (observability; excluded from oracle-checked
    paths since tier choice is invisible in the answer by construction).
    A plan of gaps only reads the coarsest eligible tier in ``frames``
    over an empty day range: no rows, a covered read's schema.
    """
    _check_gaps(plan, strict)
    segments = _read_segments(plan, frames)
    missing = sorted({s.tier for s in segments} - set(frames))
    if missing:
        raise ValueError(f"plan needs tier frames not provided: {missing}")
    parts = []
    for seg in segments:
        part = _segment_frame(frames[seg.tier], seg.tier, seg,
                              plan.resolution, ts_col)
        if with_provenance:
            part = part.withColumn("tier", F.lit(seg.tier))
        parts.append(part)
    return _routed_union(parts)


def read_resolution(
    store,
    resolution: str,
    day_min: str | None = None,
    day_max: str | None = None,
    spark=None,
    raw: DataFrame | None = None,
    strict: bool = False,
    with_provenance: bool = False,
) -> DataFrame:
    """One-call router over a TierStore: plan from the manifest
    listings, read the chosen tiers, stitch. ``raw=`` supplies the raw
    frame if the store has a 'raw' tier serving recent days (its schema
    is the ingest (source, ts, n_tok), not a rollup)."""
    coverage = coverage_of(store)
    plan = route_plan(coverage, resolution, day_min, day_max)
    _check_gaps(plan, strict)
    frames = _plan_frames(store, _read_segments(plan, coverage), spark, raw)
    return read_routed(frames, plan, with_provenance=with_provenance)


def _check_gaps(plan: RoutePlan, strict: bool) -> None:
    if strict and plan.gaps:
        raise ValueError(
            f"route has {len(plan.gaps)} uncovered day(s): "
            f"{plan.gaps[:5]}{'...' if len(plan.gaps) > 5 else ''}"
        )


def _read_segments(plan: RoutePlan, available) -> list[RouteSegment]:
    """The segments a read scans: the plan's own, or, for a plan of gaps
    only, one segment of the coarsest eligible tier in ``available``
    (tier names) over an empty day range (lo > hi), so the empty result
    comes from the same per-segment code as a covered read and has its
    columns and types."""
    if plan.segments:
        return plan.segments
    tier = next(
        (t for t in eligible_tiers(plan.resolution) if t in available), None)
    if tier is None:
        raise ValueError(
            f"no tier that can serve {plan.resolution!r} has landed days: "
            "nothing to read")
    return [RouteSegment(tier, "0001-01-02", "0001-01-01")]


def _routed_union(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _plan_frames(store, segments, spark, raw):
    frames: dict[str, DataFrame] = {}
    for seg in segments:
        if seg.tier not in frames:
            frames[seg.tier] = (
                raw if seg.tier == "raw"
                else store.read_tier(seg.tier, spark=spark)
            )
            if frames[seg.tier] is None:
                raise ValueError("plan chose 'raw' but no raw= frame given")
    return frames


def _read_routed_kind(store, resolution, day_min, day_max, spark, raw,
                      strict, ts_col, raw_builder, extra_keys=None,
                      aggs=None, stored_builder=None):
    """Shared skeleton of the per-kind routed readers (sketch / hist /
    dds / m4): plan -> strict-gap check -> per-segment day pruning ->
    raw-tier leaf build vs stored-tier bucket re-truncation + merge.
    One copy so a routing fix cannot drift between tier kinds.
    ``raw_builder(df)`` builds the leaf tier at the requested
    resolution from raw rows; stored segments merge with ``aggs``
    grouped by (source, bucket, *extra_keys), or — for kinds whose
    merge is not a flat groupBy (M4's struct extremes) — with
    ``stored_builder(day_pruned_tier_df)``."""
    coverage = coverage_of(store)
    plan = route_plan(coverage, resolution, day_min, day_max)
    _check_gaps(plan, strict)
    segments = _read_segments(plan, coverage)
    frames = _plan_frames(store, segments, spark, raw)
    unit, _ = TIERS[resolution]
    parts = []
    for seg in segments:
        lo = F.lit(seg.day_lo).cast("date")
        hi = F.lit(seg.day_hi).cast("date")
        frame = frames[seg.tier]
        if seg.tier == "raw":
            df = ensure_ntz(frame, ts_col).filter(
                F.col(ts_col).cast("date").between(lo, hi))
            parts.append(raw_builder(df))
            continue
        if "day" in frame.columns:
            df = frame.filter(F.col("day").between(lo, hi)).drop("day")
        else:
            df = frame.filter(F.col("bucket").cast("date").between(lo, hi))
        if stored_builder is not None:
            parts.append(stored_builder(df))
            continue
        bucket = F.date_trunc(unit, F.col("bucket")).cast("timestamp_ntz")
        parts.append(
            df.groupBy("source", bucket.alias("bucket"), *extra_keys)
            .agg(*aggs)
        )
    return _routed_union(parts)


def read_routed_distinct(
    store,
    resolution: str,
    *,
    key_col: str = "n_tok",
    k: int = 256,
    day_min: str | None = None,
    day_max: str | None = None,
    spark=None,
    raw: DataFrame | None = None,
    strict: bool = False,
    ts_col: str = "ts",
) -> DataFrame:
    """Downsample-on-read over KMV distinct-sketch tiers (sketch.py).

    Store sketch tiers under the standard tier names in their own
    TierStore root (one root per tier kind); planning then reuses the
    measure router verbatim — eligibility is the same divisibility rule,
    and KMV merge composes through ANY coarsening, so tier choice stays
    a pure scan-cost decision.  Returns (source, bucket, kmv) at the
    requested resolution; extract counts with ``sketch.distinct_counts``.
    Every kind reader takes its parameters after ``resolution`` by
    keyword only, so a day bound cannot bind the kind's column.
    """
    from traval_spark.sketch import distinct_tier, kmv_merge

    return _read_routed_kind(
        store, resolution, day_min, day_max, spark, raw, strict, ts_col,
        raw_builder=lambda df: distinct_tier(df, resolution, key_col, k,
                                             ts_col=ts_col),
        extra_keys=[],
        aggs=[kmv_merge("kmv", k).alias("kmv")],
    )


def read_routed_hist(
    store,
    resolution: str,
    *,
    value_col: str = "n_tok",
    scale: int = 1,
    day_min: str | None = None,
    day_max: str | None = None,
    spark=None,
    raw: DataFrame | None = None,
    strict: bool = False,
    ts_col: str = "ts",
) -> DataFrame:
    """Downsample-on-read over exact histogram tiers (hist.py).

    Same contract as :func:`read_routed_distinct`: histogram counts add
    through any coarsening, so any eligible tier serves its days
    exactly.  Returns (source, bucket, bin, cnt) at the requested
    resolution; extract percentiles with ``hist.hist_quantiles``.
    """
    from traval_spark.hist import hist_tier

    return _read_routed_kind(
        store, resolution, day_min, day_max, spark, raw, strict, ts_col,
        raw_builder=lambda df: hist_tier(df, resolution, value_col, scale,
                                         ts_col=ts_col),
        extra_keys=[F.col("bin")],
        aggs=[F.sum("cnt").alias("cnt")],
    )


def read_routed_dds(
    store,
    resolution: str,
    *,
    value_col: str = "n_tok",
    alpha: float = 0.05,
    day_min: str | None = None,
    day_max: str | None = None,
    spark=None,
    raw: DataFrame | None = None,
    strict: bool = False,
    ts_col: str = "ts",
) -> DataFrame:
    """Downsample-on-read over DDSketch log-binned tiers (hist.py).

    Same contract as :func:`read_routed_hist` — DDSketch counts add
    through any coarsening and bins never move, so any eligible tier
    serves its days exactly.  Returns (source, bucket, sign, bin, cnt)
    at the requested resolution; extract quantile estimates with
    ``hist.dds_quantiles`` (same ``alpha``)."""
    from traval_spark.hist import dds_tier

    return _read_routed_kind(
        store, resolution, day_min, day_max, spark, raw, strict, ts_col,
        raw_builder=lambda df: dds_tier(df, resolution, value_col, alpha,
                                        ts_col=ts_col),
        extra_keys=[F.col("sign"), F.col("bin")],
        aggs=[F.sum("cnt").alias("cnt")],
    )


def read_routed_cms(
    store,
    resolution: str,
    *,
    key_col: str = "n_tok",
    depth: int = 4,
    width: int = 256,
    day_min: str | None = None,
    day_max: str | None = None,
    spark=None,
    raw: DataFrame | None = None,
    strict: bool = False,
    ts_col: str = "ts",
) -> DataFrame:
    """Downsample-on-read over count-min frequency-sketch tiers
    (sketch.py:cms_tier).

    Same contract as :func:`read_routed_hist` — CMS cell counts add
    through any coarsening and cell coordinates never move, so any
    eligible tier serves its days exactly.  Returns (source, bucket, d,
    w, cnt) at the requested resolution; extract per-key estimates with
    ``sketch.cms_point`` (same depth/width)."""
    from traval_spark.sketch import cms_tier

    return _read_routed_kind(
        store, resolution, day_min, day_max, spark, raw, strict, ts_col,
        raw_builder=lambda df: cms_tier(df, resolution, key_col, depth,
                                        width, ts_col=ts_col),
        extra_keys=[F.col("d"), F.col("w")],
        aggs=[F.sum("cnt").alias("cnt")],
    )


def read_routed_bloom(
    store,
    resolution: str,
    *,
    key_col: str = "n_tok",
    nhash: int = 4,
    nbits: int = 4096,
    day_min: str | None = None,
    day_max: str | None = None,
    spark=None,
    raw: DataFrame | None = None,
    strict: bool = False,
    ts_col: str = "ts",
) -> DataFrame:
    """Downsample-on-read over Bloom membership tiers
    (sketch.py:bloom_tier).

    Same contract as :func:`read_routed_cms` — set bits union through
    any coarsening and bit positions never move, so any eligible tier
    serves its days exactly.  Returns distinct (source, bucket, bit) at
    the requested resolution; probe membership with
    ``sketch.bloom_probe`` (same nhash/nbits)."""
    from traval_spark.sketch import bloom_tier

    return _read_routed_kind(
        store, resolution, day_min, day_max, spark, raw, strict, ts_col,
        raw_builder=lambda df: bloom_tier(df, resolution, key_col, nhash,
                                          nbits, ts_col=ts_col)
        .withColumn("__n", F.lit(1).cast("bigint")),
        extra_keys=[F.col("bit")],
        aggs=[F.count(F.lit(1)).alias("__n")],
    ).select("source", "bucket", "bit")


def read_routed_m4(
    store,
    resolution: str,
    *,
    value_col: str = "n_tok",
    day_min: str | None = None,
    day_max: str | None = None,
    spark=None,
    raw: DataFrame | None = None,
    strict: bool = False,
    ts_col: str = "ts",
) -> DataFrame:
    """Downsample-on-read over M4 visual-downsample tiers
    (operators/downsample.py).

    M4 columns are all algebraic extremes with pinned tie rules, so
    ``m4_merge`` composes EXACTLY through any coarsening — tier choice
    is a pure scan-cost decision and the stitched read is bit-identical
    to the direct M4 on raw (the routed pytest asserts it).  Raw-tier
    segments build the leaf at the requested resolution; stored
    segments re-merge.  Returns the M4 row shape with a ``bucket``
    column at the requested resolution.
    """
    from traval_spark.operators.downsample import m4_downsample, m4_merge

    return _read_routed_kind(
        store, resolution, day_min, day_max, spark, raw, strict, ts_col,
        raw_builder=lambda df: m4_downsample(
            df, bucket=resolution, ts=ts_col, val=value_col,
            bucket_col="bucket"),
        stored_builder=lambda df: m4_merge(
            df, bucket=resolution, bucket_col="bucket"),
    )


def read_routed_fl(
    store,
    resolution: str,
    *,
    value_col: str = "n_tok",
    ident_col: str = "doc_id",
    day_min: str | None = None,
    day_max: str | None = None,
    spark=None,
    raw: DataFrame | None = None,
    strict: bool = False,
    ts_col: str = "ts",
) -> DataFrame:
    """Downsample-on-read over first/last observation tiers
    (rollup.py:fl_rollup).

    The first/last structs are lexicographic extremes, so stored
    segments coarsen with a plain min/max groupBy and the stitched read
    is bit-identical to the direct fl_rollup on raw (routed pytest).
    Feed the result to ``rollup.locf_from_tier`` / ``rollup.fl_increase``
    for LOCF and counter-increase reads at the requested resolution."""
    from traval_spark.rollup import fl_rollup

    unit_bucket = resolution
    return _read_routed_kind(
        store, resolution, day_min, day_max, spark, raw, strict, ts_col,
        raw_builder=lambda df: fl_rollup(
            df, unit_bucket, value_col=value_col, ts_col=ts_col,
            ident_col=ident_col),
        extra_keys=[],
        aggs=[F.min("first").alias("first"), F.max("last").alias("last")],
    )
