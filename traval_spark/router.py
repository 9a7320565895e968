"""Tier router: downsample-on-read planning over the retention cascade.

The read-side complement of the rollup cascade (SURVEY.md §2.10): given a
requested output resolution and time range, pick — per day — the
COARSEST stored tier that can still serve that resolution, stitch the
chosen segments, and re-aggregate each to the requested resolution. This
is the Thanos/M3-style downsample-on-read pattern: recent history is
served from fine tiers (raw/1m), old history from coarse ones (1h/1d),
and the caller sees one seamless frame.

The router builds no aggregate of its own. Every routed read — the
measure read and the seven tier-kind readers (histogram, DDSketch, KMV,
count-min, Bloom, M4, first/last) — runs one per-segment loop
(``_read_plan``) that calls the kind's batch leaf builder on raw
segments (``rollup_raw``, ``hist_tier``, ...) and the kind's batch merge
on stored ones (``rollup_cascade``, ``hist_cascade``, ...), so a routed
read and a batch build of the same kind cannot disagree.

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

from traval_spark.rollup import TIERS, rollup_cascade, rollup_raw

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
    missing = sorted(
        {s.tier for s in _read_segments(plan, frames)} - set(frames))
    if missing:
        raise ValueError(f"plan needs tier frames not provided: {missing}")
    res = plan.resolution
    return _read_plan(
        frames, plan, ts_col,
        lambda df: rollup_raw(df, res, ts_col=ts_col),
        lambda df: rollup_cascade(df, res), with_provenance)


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
    return _read_routed_kind(
        store, resolution, day_min, day_max, spark, raw, strict, "ts",
        raw_builder=lambda df: rollup_raw(df, resolution),
        merge=lambda df: rollup_cascade(df, resolution),
        with_provenance=with_provenance,
    )


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
                      strict, ts_col, raw_builder, merge,
                      with_provenance=False):
    """Every routed read over a TierStore (the measure read and the
    seven kind readers): plan from the manifest listings -> strict-gap
    check -> the tier frames the plan scans -> :func:`_read_plan`.
    ``raw_builder`` and ``merge`` are the kind's own batch leaf builder
    and merge, bound to the requested resolution."""
    coverage = coverage_of(store)
    plan = route_plan(coverage, resolution, day_min, day_max)
    _check_gaps(plan, strict)
    frames = _plan_frames(store, _read_segments(plan, coverage), spark, raw)
    return _read_plan(frames, plan, ts_col, raw_builder, merge,
                      with_provenance)


def _read_plan(frames, plan, ts_col, raw_builder, merge, with_provenance):
    """The one per-segment loop: day-prune each segment's tier frame,
    then build the kind's leaf at the plan's resolution from raw rows
    (``raw_builder``) or re-aggregate a stored tier (``merge``), and
    union the parts. Stored frames prune on their ``day`` partition
    column when they have one, else on ``bucket``; every merge ignores
    the ``day`` column, and every leaf builder normalizes its own
    timestamps."""
    parts = []
    for seg in _read_segments(plan, frames):
        lo = F.lit(seg.day_lo).cast("date")
        hi = F.lit(seg.day_hi).cast("date")
        frame = frames[seg.tier]
        if seg.tier == "raw":
            day = F.col(ts_col).cast("date")
        elif "day" in frame.columns:  # stored tier: its partition column
            day = F.col("day")
        else:
            day = F.col("bucket").cast("date")
        pruned = frame.filter(day.between(lo, hi))
        part = raw_builder(pruned) if seg.tier == "raw" else merge(pruned)
        if with_provenance:
            part = part.withColumn("tier", F.lit(seg.tier))
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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
    from traval_spark.sketch import distinct_cascade, distinct_tier

    return _read_routed_kind(
        store, resolution, day_min, day_max, spark, raw, strict, ts_col,
        raw_builder=lambda df: distinct_tier(df, resolution, key_col, k,
                                             ts_col=ts_col),
        merge=lambda df: distinct_cascade(df, resolution, k),
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
    from traval_spark.hist import hist_cascade, hist_tier

    return _read_routed_kind(
        store, resolution, day_min, day_max, spark, raw, strict, ts_col,
        raw_builder=lambda df: hist_tier(df, resolution, value_col, scale,
                                         ts_col=ts_col),
        merge=lambda df: hist_cascade(df, resolution),
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
    from traval_spark.hist import dds_cascade, dds_tier

    return _read_routed_kind(
        store, resolution, day_min, day_max, spark, raw, strict, ts_col,
        raw_builder=lambda df: dds_tier(df, resolution, value_col, alpha,
                                        ts_col=ts_col),
        merge=lambda df: dds_cascade(df, resolution),
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
    from traval_spark.sketch import cms_cascade, cms_tier

    return _read_routed_kind(
        store, resolution, day_min, day_max, spark, raw, strict, ts_col,
        raw_builder=lambda df: cms_tier(df, resolution, key_col, depth,
                                        width, ts_col=ts_col),
        merge=lambda df: cms_cascade(df, resolution),
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
    from traval_spark.sketch import bloom_cascade, bloom_tier

    return _read_routed_kind(
        store, resolution, day_min, day_max, spark, raw, strict, ts_col,
        raw_builder=lambda df: bloom_tier(df, resolution, key_col, nhash,
                                          nbits, ts_col=ts_col),
        merge=lambda df: bloom_cascade(df, resolution),
    )


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
        merge=lambda df: m4_merge(df, bucket=resolution, bucket_col="bucket"),
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
    segments coarsen with ``fl_cascade`` (a plain min/max groupBy) and
    the stitched read is bit-identical to the direct fl_rollup on raw
    (routed pytest).
    Feed the result to ``rollup.locf_from_tier`` / ``rollup.fl_increase``
    for LOCF and counter-increase reads at the requested resolution."""
    from traval_spark.rollup import fl_cascade, fl_rollup

    return _read_routed_kind(
        store, resolution, day_min, day_max, spark, raw, strict, ts_col,
        raw_builder=lambda df: fl_rollup(
            df, resolution, value_col=value_col, ts_col=ts_col,
            ident_col=ident_col),
        merge=lambda df: fl_cascade(df, resolution),
    )
