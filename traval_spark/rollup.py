"""Continuous-aggregate rollup cascade + gap-fill + explicit skew salting.

The north-rule engine core (BASELINE.json): tumbling-window rollups of
``n_tok`` per ``source`` materialized as cascading retention tiers
raw -> 1m -> 1h -> 1d. Design points for 100 TB:

- **Cascade composes partial aggregates.** Tier N+1 aggregates tier N's
  (count, sum, min, max) — the partial+final-aggregation identity — so a
  coarser tier never rescans raw data: 1d reads 1h, not 10^12 raw rows.
- **Map-side combine is automatic** (Spark hash partial aggregation), but
  the Zipfian ``source`` key makes the *final* agg skewed: source_00 holds
  ~50% of rows, so one reducer would own half the shuffle. ``salted_rollup``
  makes the two-phase explicit: partial agg on (source, bucket, salt) —
  K-way fan-out of the hot key — then final agg on (source, bucket) over
  the tiny partial result. AQE skew handling stays on as the backstop.
- **Gap-fill never leaves the DataFrame API**: the bucket spine is
  ``sequence() + explode`` per source, fill is ``last(ignorenulls)``
  (ffill) or prev/next linear interpolation via the same window machinery
  as the rule engine — no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from traval_spark.functions.ts import ensure_ntz

#: tier name -> (truncation unit for date_trunc, seconds per bucket)
TIERS = {
    "1m": ("minute", 60),
    "1h": ("hour", 3600),
    "1d": ("day", 86400),
}

MEASURES = ["n_points", "sum_tok", "min_tok", "max_tok"]


def _agg_exprs_raw() -> list[Column]:
    return [
        F.count(F.col("n_tok")).alias("n_points"),
        F.sum(F.col("n_tok")).alias("sum_tok"),
        F.min(F.col("n_tok")).alias("min_tok"),
        F.max(F.col("n_tok")).alias("max_tok"),
    ]


def _agg_exprs_cascade() -> list[Column]:
    """Re-aggregation of an existing tier: counts/sums add, min/max nest."""
    return [
        F.sum("n_points").alias("n_points"),
        F.sum("sum_tok").alias("sum_tok"),
        F.min("min_tok").alias("min_tok"),
        F.max("max_tok").alias("max_tok"),
    ]


def rollup_raw(df: DataFrame, tier: str = "1m", value_col: str = "n_tok",
               ts_col: str = "ts") -> DataFrame:
    """Tumbling-window rollup of the raw sequence table.

    Returns (source, bucket, n_points, sum_tok, min_tok, max_tok). NULL
    values (rule-flagged rows) are excluded from count/sum/min/max exactly
    as pandas aggregation skips NaN.
    """
    unit, _ = TIERS[tier]
    df = ensure_ntz(df, ts_col)
    if value_col != "n_tok":
        df = df.withColumn("n_tok", F.col(value_col))
    bucket = F.date_trunc(unit, F.col(ts_col)).cast("timestamp_ntz")
    return (
        df.groupBy(F.col("source"), bucket.alias("bucket"))
        .agg(*_agg_exprs_raw())
    )


def rollup_cascade(tier_df: DataFrame, tier: str) -> DataFrame:
    """Aggregate a finer tier into a coarser one (1m -> 1h -> 1d).

    count/sum/min/max compose exactly, so this is tier-by-tier identical to
    aggregating raw data directly (proven by test_rollup_cascade_identity).
    """
    unit, _ = TIERS[tier]
    bucket = F.date_trunc(unit, F.col("bucket")).cast("timestamp_ntz")
    return (
        tier_df.groupBy(F.col("source"), bucket.alias("bucket"))
        .agg(*_agg_exprs_cascade())
    )


def _sets_aggs(dims: tuple[str, ...], value_col: str) -> list[Column]:
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(value_col).alias("sum_v"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
        *[F.grouping(d).cast("int").alias(f"g_{d}") for d in dims],
    ]


def rollup_sets(
    df: DataFrame,
    dims: tuple[str, ...] = ("source", "day"),
    value_col: str = "n_tok",
    cube: bool = False,
) -> DataFrame:
    """Multi-dimensional marginal tier in ONE pass: Spark's native
    ``rollup``/``cube`` grouping sets over ``dims``.  ``rollup(a, b)``
    emits (a,b), (a) and the grand total; ``cube`` adds (b) — every
    marginal a dashboard drill-down wants, computed together.

    Plan shape: Catalyst lowers grouping sets to ONE Expand (each input
    row fans out once per grouping) feeding a single partial+final
    hash aggregation — one shuffle for ALL marginals, not one scan per
    grouping.  The Expand multiplies pre-shuffle rows by the grouping
    count, but partial aggregation collapses them map-side, so the
    exchange carries per-grouping partials only.  At 100 TB prefer
    computing the FINEST grouping once, storing it, and deriving the
    coarser marginals from the stored tier — that is
    :func:`marginals_from_tier`, parity-tested equal to this operator
    (count/sum/min/max re-aggregate exactly, the cascade identity).

    Rolled-up rows carry NULL in the rolled dimension; the ``g_<dim>``
    grouping flags (0 = real key, 1 = rolled) disambiguate a rolled-up
    NULL from a genuine NULL key, so consumers never guess.  Aggregates
    stay exact: counts and integer sums in longs, min/max nest.
    Output: ``*dims, n_rows, sum_v, min_v, max_v, g_<dim>...``.
    """
    base = df.cube(*dims) if cube else df.rollup(*dims)
    return base.agg(*_sets_aggs(dims, value_col))


def marginals_from_tier(
    tier_df: DataFrame,
    dims: tuple[str, ...] = ("source", "day"),
    cube: bool = False,
) -> DataFrame:
    """The coarser grouping-set marginals served FROM the stored finest
    tier (the ``(dims...)`` grouping of :func:`rollup_sets`, i.e. rows
    with every ``g_<dim>`` = 0): counts and sums add, min/max nest, so
    each marginal is an exact re-aggregation of the tiny tier frame and
    raw is never re-scanned — the same tier-serving identity the 1m ->
    1h -> 1d cascade rides.  Returns finest ∪ all coarser groupings,
    byte-identical to :func:`rollup_sets` on raw (parity-tested).
    """
    aggs = [
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    ]
    finest = tier_df.select(
        *dims, "n_rows", "sum_v", "min_v", "max_v",
        *[F.lit(0).alias(f"g_{d}") for d in dims],
    )
    if cube:
        # every proper subset of dims, by descending size
        from itertools import combinations
        keeps = [list(c) for r in range(len(dims) - 1, -1, -1)
                 for c in combinations(dims, r)]
    else:
        keeps = [list(dims[:r]) for r in range(len(dims) - 1, -1, -1)]
    out = finest
    for keep in keeps:
        g = tier_df.groupBy(*keep).agg(*aggs)
        out = out.unionByName(g.select(
            *[F.col(d) if d in keep else
              F.lit(None).cast(tier_df.schema[d].dataType).alias(d)
              for d in dims],
            "n_rows", "sum_v", "min_v", "max_v",
            *[F.lit(0 if d in keep else 1).alias(f"g_{d}") for d in dims],
        ))
    return out


def fl_rollup(
    df: DataFrame,
    tier: str = "1m",
    value_col: str = "n_tok",
    ts_col: str = "ts",
    ident_col: str = "doc_id",
) -> DataFrame:
    """First/last observation per (source, bucket) — the TimescaleDB
    ``first(value, time)`` / ``last(value, time)`` continuous-aggregate
    measures, stored MERGEABLE: each is one struct column ``(u:
    epoch-micros, i: ident, v: value)`` whose lexicographic struct
    ordering IS the observation order, so a plain ``min``/``max``
    aggregates the leaf AND re-aggregates any coarser tier with zero
    extra machinery (the same partial-aggregatable shape as
    count/sum/min/max — no window, no sort). The ident tie-break makes
    equal-timestamp rows deterministic in both engines. NULL values are
    excluded, matching rollup_raw's NaN semantics.

    What it unlocks from stored tiers (never re-scanning raw): exact
    LOCF/boundary reads (the last sample at-or-before any bucket edge),
    and counter ``increase`` per bucket as ``last.v - first.v`` for
    reset-free ranges.
    """
    from traval_spark.functions.ts import unix_us

    unit, _ = TIERS[tier]
    df = ensure_ntz(df, ts_col)
    bucket = F.date_trunc(unit, F.col(ts_col)).cast("timestamp_ntz")
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col("source"), bucket.alias("bucket"))
        .agg(*fl_aggs(unix_us(F.col(ts_col)), F.col(ident_col),
                      F.col(value_col)))
    )


def fl_aggs(us: Column, ident: Column, value: Column) -> list[Column]:
    """The first/last aggregates: min/max of the ``(u: epoch-micros, i:
    ident, v: value as double)`` observation struct, rows with a NULL
    value masked out — the one definition :func:`fl_rollup`, the
    streaming 1m leaf and the pipeline's combined leaf aggregate with."""
    obs = F.when(value.isNotNull(), F.struct(
        us.alias("u"), ident.alias("i"), value.cast("double").alias("v")))
    return [F.min(obs).alias("first"), F.max(obs).alias("last")]


def fl_cascade(tier_df: DataFrame, tier: str) -> DataFrame:
    """Coarsen a first/last tier (1m -> 1h -> 1d): struct min/max nest
    exactly, so the cascade is identical to building the coarse tier
    from raw (test_fl_cascade_identity)."""
    unit, _ = TIERS[tier]
    bucket = F.date_trunc(unit, F.col("bucket")).cast("timestamp_ntz")
    return (
        tier_df.groupBy(F.col("source"), bucket.alias("bucket"))
        .agg(F.min("first").alias("first"), F.max("last").alias("last"))
    )


def locf_from_tier(fl_df: DataFrame, tier: str, mark: bool = True) -> DataFrame:
    """Dense last-observation-carried-forward read off a stored
    first/last tier: one row per (source, bucket) on the per-source
    bucket spine, carrying the TRUE latest raw observation at-or-before
    the bucket's end — not a bucket aggregate, the actual sample
    (``locf_us``/``locf_val`` from the carried ``last`` struct). This is
    the read :func:`fl_rollup` exists to serve: LOCF at any bucket edge
    without touching raw. Same spine convention and running-window shape
    as :func:`gap_fill`; the window runs over the TIER frame (buckets
    per source), never raw rows. ``mark`` adds the ``observed`` lineage
    flag (false = gap bucket, value carried)."""
    _, step_s = TIERS[tier]
    spine = (
        fl_df.groupBy("source")
        .agg(F.min("bucket").alias("b0"), F.max("bucket").alias("b1"))
        .select(
            "source",
            F.explode(
                F.sequence(
                    F.col("b0"), F.col("b1"),
                    F.expr(f"INTERVAL {step_s} SECONDS"),
                )
            ).alias("bucket"),
        )
    )
    dense = spine.join(fl_df, on=["source", "bucket"], how="left")
    w = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last("last", ignorenulls=True).over(w)
    out = dense.select(
        "source",
        "bucket",
        carried["u"].alias("locf_us"),
        carried["v"].alias("locf_val"),
        F.col("last").isNotNull().alias("observed"),
    )
    return out if mark else out.drop("observed")


def fl_increase(fl_df: DataFrame) -> DataFrame:
    """PromQL-style counter ``increase`` per bucket, served from a
    stored first/last tier (no raw scan): growth since the previous
    stored bucket's last sample, with the Prometheus reset rule at
    bucket boundaries —

        increase(b) = last.v(b) - last.v(prev)   if no reset
                    = last.v(b)                  if last.v(b) < last.v(prev)
        first bucket of a source: last.v - first.v (within-bucket growth)

    For reset-free counters this is EXACTLY the raw-derived increase
    (parity-tested against the raw lag chain): the bucket's growth is
    last-sample-minus-last-sample-before, and gaps are spanned the way
    counters mean them (growth since last seen). Resets INSIDE a bucket
    are invisible to first/last pairs — disclosed limit; use the raw
    counter operators (operators/monitor.py) when intra-bucket resets
    matter. The lag window runs on the tiny tier frame."""
    w = Window.partitionBy("source").orderBy("bucket")
    prev = F.lag(F.col("last")["v"]).over(w)
    cur, first = F.col("last")["v"], F.col("first")["v"]
    return fl_df.select(
        "source",
        "bucket",
        F.when(prev.isNull(), cur - first)
        .when(cur >= prev, cur - prev)
        .otherwise(cur)
        .alias("increase"),
    )


def salted_rollup(
    df: DataFrame,
    tier: str = "1m",
    n_salt: int = 16,
    salt_on: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Explicit two-phase salted rollup for skewed source keys.

    Phase 1 fans the hot (source, bucket) groups across ``n_salt``
    reducers (salt = hash of the row key, uniform within a group); phase 2
    merges the tiny per-salt partials. Result is exactly ``rollup_raw``
    (asserted in tests) — the salt changes the shuffle layout, never the
    answer.

    The salt hashes columns the rollup already consumes (ts + n_tok by
    default): hashing an otherwise-unused key like doc_id would defeat
    Catalyst column pruning and drag a fat unique string through every
    scan and the phase-1 shuffle (measured: doc_id was ~70% of the
    cleaning job's shuffle bytes at 64M rows). Pass ``salt_on`` to salt
    on a specific column instead.
    """
    unit, _ = TIERS[tier]
    df = ensure_ntz(df, ts_col)
    bucket = F.date_trunc(unit, F.col(ts_col)).cast("timestamp_ntz")
    salt_cols = (
        [F.col(salt_on)] if salt_on
        else [F.col(ts_col), F.col("n_tok")]
    )
    salt = F.pmod(F.xxhash64(*salt_cols), F.lit(n_salt))
    partial = (
        df.groupBy(F.col("source"), bucket.alias("bucket"), salt.alias("__salt"))
        .agg(*_agg_exprs_raw())
    )
    return (
        partial.groupBy("source", "bucket").agg(*_agg_exprs_cascade())
    )


def gap_fill(
    tier_df: DataFrame,
    tier: str,
    method: str = "ffill",
    mark: bool = True,
) -> DataFrame:
    """Densify a rollup tier onto its full bucket spine per source.

    Spine = every bucket between each source's min and max bucket
    (``sequence`` + ``explode`` — generated distributed, one row per
    bucket, no driver materialization). Missing buckets are filled:

    - method='ffill': carry the last observed measure forward
      (``last(ignorenulls)`` over the per-source bucket order);
    - method='linear': linear interpolation between the surrounding
      observed buckets (prev/next windows + time weight), ffill semantics
      at the trailing edge, bfill at the leading edge are NOT applied —
      outside the observed hull values stay NULL.

    mark=True adds ``gap_filled`` boolean lineage.
    """
    _, step_s = TIERS[tier]
    spine = (
        tier_df.groupBy("source")
        .agg(F.min("bucket").alias("b0"), F.max("bucket").alias("b1"))
        .select(
            "source",
            F.explode(
                F.sequence(
                    F.col("b0"), F.col("b1"),
                    F.expr(f"INTERVAL {step_s} SECONDS"),
                )
            ).alias("bucket"),
        )
    )
    dense = spine.join(tier_df, on=["source", "bucket"], how="left")
    # pin observedness BEFORE measures are overwritten by the fill
    dense = dense.withColumn("__observed", F.col("n_points").isNotNull())
    observed = F.col("__observed")

    if method == "ffill":
        w = (
            Window.partitionBy("source")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for m in MEASURES:
            dense = dense.withColumn(m, F.last(m, ignorenulls=True).over(w))
    elif method == "linear":
        us = F.unix_micros(F.col("bucket").cast("timestamp")).cast("double")
        dense = dense.withColumn("__us", us)
        w_prev = (
            Window.partitionBy("source")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # reversed running frame: forward-looking first() frames are O(n^2)
        w_next = (
            Window.partitionBy("source")
            .orderBy(F.col("bucket").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        prev_us = F.last(F.when(observed, F.col("__us")), ignorenulls=True).over(w_prev)
        next_us = F.last(F.when(observed, F.col("__us")), ignorenulls=True).over(w_next)
        for m in MEASURES:
            pv = F.last(m, ignorenulls=True).over(w_prev)
            nv = F.last(m, ignorenulls=True).over(w_next)
            ratio = (F.col("__us") - prev_us) / (next_us - prev_us)
            interp = F.when(observed, F.col(m)).otherwise(
                pv + (nv - pv) * ratio
            )
            dense = dense.withColumn(m, interp)
        dense = dense.drop("__us")
    else:
        raise ValueError(f"Unknown gap-fill method: {method}")

    if mark:
        dense = dense.withColumn("gap_filled", ~observed)
    return dense.drop("__observed")


def build_cascade(raw: DataFrame, salted: bool = True,
                  n_salt: int = 16) -> dict[str, DataFrame]:
    """raw -> {'1m', '1h', '1d'} lazy tier frames, each fed by the previous."""
    t1m = salted_rollup(raw, "1m", n_salt=n_salt) if salted else rollup_raw(raw, "1m")
    t1h = rollup_cascade(t1m, "1h")
    t1d = rollup_cascade(t1h, "1d")
    return {"1m": t1m, "1h": t1h, "1d": t1d}


def _sliding_us(window: str, slide: str) -> tuple[int, int]:
    """Validated (window, slide) microsecond pair for the pane trick."""
    from traval_spark.functions.ts import gap_micros

    w_us, s_us = gap_micros(window), gap_micros(slide)
    if w_us % s_us:
        raise ValueError("window must be a multiple of slide")
    return w_us, s_us


def expand_panes(
    panes: DataFrame, w_us: int, s_us: int, payload: list[str]
) -> DataFrame:
    """THE pane->window expansion, shared by every sliding operator
    (rollup, tier-served rollup, histogram quantiles, KMV distinct) so
    the window semantics — epoch-aligned to the slide, window exists
    iff >= 1 observed pane, NTZ window_start — cannot drift between
    them.  Input needs a ``__pane_us`` column; each pane row replicates
    into its k = window/slide covering windows."""
    k = w_us // s_us
    win = (
        F.col("__pane_us")
        - F.col("__i").cast("bigint") * F.lit(s_us).cast("bigint")
    )
    return panes.select(
        *[c for c in panes.columns if c != "__pane_us"],
        "__pane_us",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__i"),
    ).select(
        *payload,
        F.timestamp_micros(win).cast("timestamp_ntz")
        .alias("window_start"),
    )


def sliding_rollup(
    df: DataFrame,
    window: str = "1h",
    slide: str = "10m",
    value_col: str = "n_tok",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window rollup via stream slicing (panes — the
    Scotty/stream-slicing construction, EDBT'19/ICDE'18): raw rows
    aggregate ONCE into non-overlapping slide-width panes, then each
    pane's partial aggregate combines into the window/slide overlapping
    windows that contain it.

    Spark's built-in ``F.window(ts, window, slide)`` replicates every RAW
    ROW into all k = window/slide windows before aggregating — k x the
    shuffle volume. Here only the tiny pane rows replicate: raw data is
    scanned and shuffled exactly once regardless of the overlap factor,
    and the pane->window combine moves (sources x panes x k) partial
    rows. Exact: count/sum/min/max compose over the pane partition
    (asserted equal to the built-in formulation in tests). Requires
    window to be a multiple of slide; windows are epoch-aligned to the
    slide, and a window exists iff it contains >= 1 observation (the
    built-in's semantics).

    Returns (source, window_start, n_points, sum_tok, min_tok, max_tok).
    """
    from traval_spark.functions.ts import unix_us

    w_us, s_us = _sliding_us(window, slide)
    df = ensure_ntz(df, ts_col)
    if value_col != "n_tok":
        df = df.withColumn("n_tok", F.col(value_col))
    pane = (
        F.floor(unix_us(F.col(ts_col)) / F.lit(s_us)) * F.lit(s_us)
    ).alias("__pane_us")
    panes = df.groupBy(F.col("source"), pane).agg(*_agg_exprs_raw())
    expanded = expand_panes(panes, w_us, s_us, ["source", *MEASURES])
    return (
        expanded.groupBy("source", "window_start")
        .agg(*_agg_exprs_cascade())
    )


def session_rollup(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap: str = "30m",
) -> DataFrame:
    """Gap-based sessionization + per-session aggregates.

    Uses Spark's native ``session_window`` (merging state machine inside
    the aggregation — works identically in batch and Structured
    Streaming): events of one user belong to one session while
    consecutive gaps stay <= ``gap``. Cross-checked in tests against the
    classic lag+running-sum formulation (which is also the DuckDB oracle
    shape). Returns (user, session_start, session_end_ts, n_events,
    sum_value) where session_end_ts is the LAST EVENT's timestamp (the
    built-in's window.end = last_ts + gap; subtracting the gap makes the
    result gap-independent and oracle-friendly).
    """
    from traval_spark.functions.ts import gap_micros

    g_us = gap_micros(gap)
    df = ensure_ntz(df, ts_col)
    # normalize the pandas-style gap ("30m") to an unambiguous Spark
    # duration string — session_window's interval parser differs
    gap_str = f"{g_us} microseconds"
    out = (
        df.withColumn("__ts", F.col(ts_col).cast("timestamp"))
        .groupBy(
            F.col(user_col).alias("user"),
            F.session_window(F.col("__ts"), gap_str).alias("w"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col(value_col)).alias("sum_value"),
        )
    )
    return out.select(
        "user",
        F.col("w.start").cast("timestamp_ntz").alias("session_start"),
        (
            F.timestamp_micros(
                F.unix_micros(F.col("w.end")) - F.lit(g_us)
            ).cast("timestamp_ntz")
        ).alias("session_end_ts"),
        "n_events",
        "sum_value",
    )


def sliding_from_tier(
    tier_df: DataFrame,
    window: str = "1h",
    slide: str = "10m",
    tier: str = "1m",
) -> DataFrame:
    """Sliding-window rollup served FROM A STORED TIER instead of raw.

    The pane construction :func:`sliding_rollup` builds from raw rows
    already exists on disk as the 1m tier: tier buckets re-aggregate
    into slide-width panes (cascade exprs — counts/sums add, min/max
    nest), panes combine into the overlapping windows.  A dashboard
    asking for "1h window every 10m" therefore never touches raw —
    scan cost is the tier's row count, and the result is IDENTICAL to
    the raw-built sliding rollup (pytest) because every aggregate is
    mergeable over the pane decomposition.  ``slide`` must be a
    multiple of the tier bucket width (validated — a finer slide would
    silently misassign whole tier buckets to panes); windows exist iff
    they contain >= 1 observation, inherited from the tier's
    only-observed-buckets sparsity.
    """
    from traval_spark.functions.ts import unix_us

    w_us, s_us = _sliding_us(window, slide)
    tier_us = TIERS[tier][1] * 1_000_000
    if s_us % tier_us:
        raise ValueError(
            f"slide {slide} must be a multiple of the {tier} tier "
            "bucket width — a finer slide cannot be served from this "
            "tier without misassigning buckets"
        )
    pane = (
        F.floor(unix_us(F.col("bucket")) / F.lit(s_us)) * F.lit(s_us)
    ).alias("__pane_us")
    panes = tier_df.groupBy(F.col("source"), pane).agg(
        *_agg_exprs_cascade()
    )
    expanded = expand_panes(panes, w_us, s_us, ["source", *MEASURES])
    return expanded.groupBy("source", "window_start").agg(
        *_agg_exprs_cascade()
    )


def burst_dedup(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "ts",
    ident_col: str = "event_id",
    gap: str = "5m",
) -> DataFrame:
    """At-least-once ingest cleanup: collapse every burst of same-key
    events whose consecutive gaps stay <= ``gap`` into ONE row — the
    burst's first event (min over (ts, ident), deterministic under
    equal timestamps) plus how many duplicates were dropped. The
    retry/duplicate-delivery shape exact id-dedup cannot catch: a
    producer re-sends the same logical event seconds later under a
    fresh event_id.

    Built on the native ``session_window`` merging state machine (same
    as :func:`session_rollup`, so the operator is streaming-ready and
    the burst definition is transitive: A..B <= gap and B..C <= gap
    chain into one burst even when A..C > gap). Returns
    (*key_cols, first_ts, first_ident, n_dropped).
    """
    from traval_spark.functions.ts import gap_micros

    g_us = gap_micros(gap)
    df = ensure_ntz(df, ts_col)
    first = F.min(
        F.struct(F.col(ts_col).alias("t"), F.col(ident_col).alias("i"))
    ).alias("__f")
    return (
        df.withColumn("__ts", F.col(ts_col).cast("timestamp"))
        .groupBy(
            *key_cols,
            F.session_window(F.col("__ts"), f"{g_us} microseconds"),
        )
        .agg(first, (F.count(F.lit(1)) - F.lit(1)).alias("n_dropped"))
        .select(
            *key_cols,
            F.col("__f.t").alias("first_ts"),
            F.col("__f.i").alias("first_ident"),
            "n_dropped",
        )
    )
