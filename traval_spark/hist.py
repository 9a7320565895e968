"""Exact mergeable histogram tiers: percentile continuous aggregates.

Percentiles, like COUNT(DISTINCT), do not compose across rollup tiers —
a 1h p95 is not a function of 1m p95s.  What does compose is the value
*histogram*.  For discretized domains (integer token counts, fixed-
decimal measurements) the histogram is lossless, so every percentile
extracted from a merged tier is **exact** — the same trick TimescaleDB's
``percentile_agg``/UddSketch continuous aggregates use, except over an
integer domain no sketch approximation is needed at all.

Layout is deliberately LONG-FORM — ``(source, bucket, bin, cnt)`` rows,
not an array/map column:

- tier merge is a plain ``groupBy(source, coarser bucket, bin).sum(cnt)``
  — partial-aggregatable map-side, whole-stage codegen, no
  collect_list/UDF anywhere;
- sparse by construction: only observed bins exist, so a 256-value token
  domain costs ≤256 rows per bucket regardless of row count underneath;
- parquet + dictionary encoding compress the repeated keys; the bin
  column zone-maps, so a range predicate on value prunes row groups.

Quantile extraction mirrors DuckDB's ``quantile_disc``: the element at
1-based rank ``max(1, ceil(q * n))`` in sorted order (verified against
DuckDB 1.x on boundary cases) — one cumulative-sum window pass serves
every requested quantile.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from traval_spark.functions.ts import ensure_ntz
from traval_spark.rollup import TIERS


def hist_bin(v: Column, scale: int = 1) -> Column:
    """THE histogram bin, ``round(v * scale)`` as long — shared by every
    histogram tier, pane and drift snapshot, batch and streaming, so
    they all bin identically and merge."""
    return F.round(v * scale).cast("long")


def hist_tier(
    df: DataFrame,
    tier: str = "1m",
    value_col: str = "n_tok",
    scale: int = 1,
    ts_col: str = "ts",
) -> DataFrame:
    """Leaf histogram tier: (source, bucket, bin, cnt) from raw rows.

    ``bin = round(value * scale)`` as long — lossless for values with
    ≤ log10(scale) decimal places.  NULL values are dropped (matching
    aggregate semantics elsewhere in the cascade).
    """
    unit, _ = TIERS[tier]
    df = ensure_ntz(df, ts_col)
    bucket = F.date_trunc(unit, F.col(ts_col)).cast("timestamp_ntz")
    b = hist_bin(F.col(value_col), scale)
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col("source"), bucket.alias("bucket"), b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_cascade(hist_df: DataFrame, tier: str) -> DataFrame:
    """Merge a finer histogram tier into a coarser one: counts add."""
    unit, _ = TIERS[tier]
    bucket = F.date_trunc(unit, F.col("bucket")).cast("timestamp_ntz")
    return (
        hist_df.groupBy(F.col("source"), bucket.alias("bucket"), F.col("bin"))
        .agg(F.sum("cnt").alias("cnt"))
    )


def hist_quantiles(
    hist_df: DataFrame,
    qs: list[float],
    scale: int = 1,
    prefix: str = "p",
) -> DataFrame:
    """Exact discrete quantiles per (source, bucket) from a histogram tier.

    One cumulative-sum window pass + one groupBy serves all ``qs``.
    Output columns ``{prefix}{int(q*100)}`` hold ``bin/scale`` at rank
    ``max(1, ceil(q*n))`` — DuckDB ``quantile_disc`` semantics.
    """
    w_cum = (
        Window.partitionBy("source", "bucket")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source", "bucket")
    cum = F.sum("cnt").over(w_cum)
    n = F.sum("cnt").over(w_all)
    with_cum = hist_df.select(
        "source", "bucket", "bin",
        cum.alias("__cum"), n.alias("__n"),
    )
    aggs = []
    for q in qs:
        rank = F.greatest(F.ceil(F.lit(float(q)) * F.col("__n")), F.lit(1))
        hit = F.when(F.col("__cum") >= rank, F.col("bin"))
        aggs.append(
            (F.min(hit) / scale).alias(f"{prefix}{round(q * 100):d}")
        )
    return with_cum.groupBy("source", "bucket").agg(*aggs)


def hist_topk(hist_df: DataFrame, k: int = 5) -> DataFrame:
    """Top-k bins per (source, bucket) by count, served STRAIGHT from a
    histogram tier at any coarseness.

    Over a TOKEN-ID histogram (bin = token id: explode the tokens array
    into :func:`hist_tier`) this is the per-bucket heavy-hitter query —
    and it is EXACT at every tier, because the token domain is
    vocab-bounded: tier state is ≤ |vocab| rows per (source, bucket)
    no matter how many tokens flowed underneath, so the lossy
    Misra-Gries/SpaceSaving trade the unbounded-domain case forces is
    simply unnecessary. Ties break by bin ascending (deterministic,
    matches ORDER BY cnt DESC, bin)."""
    w = Window.partitionBy("source", "bucket").orderBy(
        F.col("cnt").desc(), F.col("bin")
    )
    return (
        hist_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# DDSketch-style log-binned quantile tiers (Masson et al., VLDB'19) — the
# unbounded-domain companion to the exact integer histograms above: the
# exact tiers need a discretized domain (bin = round(value*scale) is
# lossless only for fixed-decimal values); log-binning gives
# relative-error-bounded quantiles for ANY positive/negative double at
# the same long-form mergeable row shape (counts add, groupBy-sum merge).
# ---------------------------------------------------------------------------


def _dds_gamma(alpha: float) -> float:
    return (1.0 + alpha) / (1.0 - alpha)


def _sig_round(x, digits: int = 9):
    """Round to ``digits`` SIGNIFICANT digits (engine-portable): scale to
    [1, 10) by the decimal exponent, round at digits-1 dp, scale back.
    Fixed-dp rounding would impose an absolute grid that destroys the
    relative-error guarantee for small magnitudes (6dp turns 1e-7 into
    0.0 — a 100% error where alpha promises 5%); significant-digit
    rounding keeps 1e-9 relative precision at every magnitude, still
    far above libm ulp noise. Robust to a cross-engine ±1 disagreement
    in floor(log10|x|) at exact powers of ten: both sides scale to 1.0
    vs 10.0 and produce the identical product."""
    e = F.floor(F.log10(F.abs(x)))
    p = F.pow(F.lit(10.0), e)
    return F.when(x == 0, F.lit(0.0)).otherwise(
        F.round(x / p, digits - 1) * p
    )


def dds_sign_bin(v, alpha: float = 0.05):
    """(sign, bin) Columns of the DDSketch binning — THE bin definition
    for every DDSketch tier (batch and streaming leaf must bucket
    identically for the cascade to merge them; one copy, same rule as
    the SimHash band helper). The log ratio is rounded to 9dp before the
    ceil so binning is bit-identical across engines (raw float log can
    differ in the last ulp between libm implementations); the boundary
    shift this introduces is far below alpha."""
    import math

    g = _dds_gamma(alpha)
    sign = F.signum(v).cast("int")
    bin_ = F.when(v == 0, F.lit(0).cast("long")).otherwise(
        F.ceil(F.round(F.log(F.abs(v)) / math.log(g), 9))
    )
    return sign, bin_


def dds_tier(
    df: DataFrame,
    tier: str = "1m",
    value_col: str = "value",
    alpha: float = 0.05,
    ts_col: str = "ts",
) -> DataFrame:
    """Leaf DDSketch tier: (source, bucket, sign, bin, cnt).

    ``bin = ceil(log_gamma |v|)`` with gamma = (1+alpha)/(1-alpha)
    (see :func:`dds_sign_bin`), so every value in a bin is within
    relative error alpha of the bin's midpoint estimate — the DDSketch
    guarantee, preserved by merging (counts add; bins never move).
    Negative values mirror into sign=-1 bins, zeros sit in
    (sign=0, bin=0). NULLs are dropped (aggregate semantics, as in
    hist_tier).
    """
    from traval_spark.rollup import TIERS

    unit, _ = TIERS[tier]
    df = ensure_ntz(df, ts_col)
    v = F.col(value_col)
    bucket = F.date_trunc(unit, F.col(ts_col)).cast("timestamp_ntz")
    sign, bin_ = dds_sign_bin(v, alpha)
    return (
        df.filter(v.isNotNull())
        .groupBy(F.col("source"), bucket.alias("bucket"),
                 sign.alias("sign"), bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dds_cascade(dds_df: DataFrame, tier: str) -> DataFrame:
    """Merge a finer DDSketch tier into a coarser one: counts add."""
    from traval_spark.rollup import TIERS

    unit, _ = TIERS[tier]
    bucket = F.date_trunc(unit, F.col("bucket")).cast("timestamp_ntz")
    return (
        dds_df.groupBy(F.col("source"), bucket.alias("bucket"),
                       F.col("sign"), F.col("bin"))
        .agg(F.sum("cnt").alias("cnt"))
    )


def dds_quantiles(
    dds_df: DataFrame,
    qs: list[float],
    alpha: float = 0.05,
    prefix: str = "p",
) -> DataFrame:
    """Quantile estimates per (source, bucket) from a DDSketch tier,
    each within relative error alpha of the true quantile.

    Bin order (sign ASC, sign*bin ASC) is the value order — for
    negatives a larger |bin| is a smaller value, so sign*bin flips the
    walk. Same one-cumsum-pass rank extraction as :func:`hist_quantiles`
    (the estimate is monotone along the walk, so min-over-satisfying
    rows picks the rank bin); estimate = sign * 2*gamma^bin / (gamma+1),
    the bin midpoint in log space, rounded to 9 SIGNIFICANT digits for
    cross-engine float stability (see :func:`_sig_round` — fixed-dp
    rounding would break the alpha guarantee below ~1e-5)."""
    g = _dds_gamma(alpha)
    order = [F.col("sign").asc(), (F.col("sign") * F.col("bin")).asc()]
    w_cum = (
        Window.partitionBy("source", "bucket")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source", "bucket")
    est = _sig_round(
        F.col("sign") * 2.0 * F.pow(F.lit(g), F.col("bin")) / (g + 1.0)
    )
    with_cum = dds_df.select(
        "source", "bucket",
        est.alias("__est"),
        F.sum("cnt").over(w_cum).alias("__cum"),
        F.sum("cnt").over(w_all).alias("__n"),
    )
    aggs = []
    for q in qs:
        rank = F.greatest(F.ceil(F.lit(float(q)) * F.col("__n")), F.lit(1))
        hit = F.when(F.col("__cum") >= rank, F.col("__est"))
        aggs.append(F.min(hit).alias(f"{prefix}{round(q * 100):d}"))
    return with_cum.groupBy("source", "bucket").agg(*aggs)


def sliding_hist_quantiles(
    df: DataFrame,
    window: str = "1h",
    slide: str = "10m",
    qs: list[float] | None = None,
    value_col: str = "n_tok",
    scale: int = 1,
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window EXACT quantiles via histogram panes.

    The stream-slicing trick rollup.py:sliding_rollup uses for
    count/sum/min/max, applied to the mergeable histogram
    representation: raw rows bin ONCE into slide-width pane histograms,
    pane (source, pane, bin, cnt) rows replicate into the k =
    window/slide overlapping windows (counts add — the same cascade
    property that makes the tiers exact), and one cumulative-sum pass
    extracts every requested quantile.  Raw data is scanned and
    shuffled exactly once regardless of the overlap factor; only
    bounded histogram rows (sources x panes x |bins|) replicate.

    Same window semantics as sliding_rollup: epoch-aligned to the
    slide, window exists iff it contains >= 1 observation.  Output:
    (source, window_start, p{q}...) with DuckDB quantile_disc rank
    semantics on the discretized domain (bin = round(v*scale)).
    """
    from traval_spark.functions.ts import unix_us
    from traval_spark.rollup import _sliding_us, expand_panes

    if qs is None:
        qs = [0.5, 0.9, 0.99]
    w_us, s_us = _sliding_us(window, slide)
    df = ensure_ntz(df, ts_col)
    pane = (
        F.floor(unix_us(F.col(ts_col)) / F.lit(s_us)) * F.lit(s_us)
    ).alias("__pane_us")
    b = hist_bin(F.col(value_col), scale)
    panes = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col("source"), pane, b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hist = (
        expand_panes(panes, w_us, s_us, ["source", "bin", "cnt"])
        .withColumnRenamed("window_start", "bucket")
        .groupBy("source", "bucket", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return hist_quantiles(hist, qs, scale).withColumnRenamed(
        "bucket", "window_start"
    )


def percentile_ranks(
    df: DataFrame,
    value_col: str,
    by: tuple[str, ...] = (),
    out_col: str = "prank",
) -> DataFrame:
    """Percentile rank (cume_dist semantics: fraction of rows with
    value <= mine) for EVERY row — without a global sort.

    The naive formulation, ``cume_dist() over (order by v)``, plans a
    SINGLE-PARTITION window over all raw rows: the one construction
    this engine bans everywhere else.  Instead: aggregate to a
    value-count table (bounded by the value domain, not the row
    count), cumulative-sum THAT tiny frame, and broadcast-join ranks
    back — raw rows take one partial-aggregatable groupBy and one
    broadcast hash join; the only ordered pass runs over |distinct
    values| rows.  Exact: counts are integers, prank = cum/N is the
    identical double in any engine.

    For continuous doubles, discretize first (hist.py bin trick) —
    otherwise the value table degenerates toward row count.
    """
    cnts = df.groupBy(*by, value_col).agg(F.count("*").alias("__c"))
    w_cum = (
        Window.partitionBy(*by).orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*by)
    ranks = cnts.select(
        *by, value_col,
        (F.sum("__c").over(w_cum).cast("double")
         / F.sum("__c").over(w_all).cast("double")).alias(out_col),
    )
    # null-SAFE join: NULL-valued rows keep their rank (Spark window
    # ordering puts NULL first, so they rank as the smallest value —
    # cume_dist-with-NULLS-FIRST semantics) instead of silently
    # vanishing from a plain equi-join
    keys = [*by, value_col]
    r = ranks.select(
        *[F.col(c).alias(f"__r_{c}") for c in keys], out_col
    )
    cond = [df[c].eqNullSafe(r[f"__r_{c}"]) for c in keys]
    joined = df.join(F.broadcast(r), cond)
    return joined.drop(*[f"__r_{c}" for c in keys])


def hist_trimmed_mean(
    hist_df: DataFrame,
    alpha: float = 0.1,
    scale: int = 1,
) -> DataFrame:
    """Exact symmetric trimmed mean per (source, bucket) served STRAIGHT
    from a histogram tier: drop the ``floor(alpha * n)`` smallest and
    largest occurrences by rank and average the rest — the robust
    location estimate that normally needs a per-bucket sort of raw
    values, recovered EXACTLY from tier state because the bins are a
    lossless discretization of the domain.

    Per bin with cumulative range (cum - cnt, cum], the included
    multiplicity inside rank window (lo, hi] is
    ``max(0, min(cum, hi) - max(cum - cnt, lo))`` — pure integer
    arithmetic on cumulative counts: one window pass + one groupBy on
    the TIER frame (raw is never re-scanned, and the read composes
    through any cascade coarsening because counts add). The only
    double ops are the rank cut ``floor(alpha * n)`` and the final
    division, both identical IEEE in the SQL oracle. Output
    (source, bucket, n, trimmed_mean).
    """
    w_cum = (
        Window.partitionBy("source", "bucket")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source", "bucket")
    cum = F.sum("cnt").over(w_cum)
    n = F.sum("cnt").over(w_all)
    lo = F.floor(F.lit(float(alpha)) * n)
    hi = n - lo
    with_cum = hist_df.select(
        "source", "bucket", "bin", "cnt",
        cum.alias("__cum"), n.alias("__n"),
        lo.alias("__lo"), hi.alias("__hi"),
    )
    inc = F.greatest(
        F.lit(0),
        F.least(F.col("__cum"), F.col("__hi"))
        - F.greatest(F.col("__cum") - F.col("cnt"), F.col("__lo")),
    )
    return with_cum.groupBy("source", "bucket").agg(
        F.max("__n").alias("n"),
        F.round(
            F.sum(F.col("bin") * inc)
            / (F.max("__hi") - F.max("__lo"))
            / F.lit(float(scale)),
            9,
        ).alias("trimmed_mean"),
    )


def dds_rank(
    dds_df: DataFrame,
    value: float,
    alpha: float = 0.05,
    out_col: str = "frac_le",
) -> DataFrame:
    """Inverse-quantile (rank) read from a DDSketch tier: per (source,
    bucket), the fraction of observations <= ``value`` — the dual of
    :func:`dds_quantiles` ("what share of requests beat the 200ms SLO?"
    instead of "what is p95?"). Resolved at bin granularity: every
    observation outside the threshold's own bin is counted exactly;
    only the boundary bin's mass (relative width alpha) is attributed
    wholesale, so the answer carries the same relative-error contract
    as the sketch itself.

    The threshold maps through THE bin definition (:func:`dds_sign_bin`
    applied to the literal, inside the engine — never a driver-side
    float that could bin differently), and the read is ONE conditional
    aggregate over tier state in the sketch's value order
    (sign asc, sign*bin asc): no raw re-scan, composes through any
    cascade coarsening. frac_le = integer mass ratio rounded to 9 dp.
    """
    sv, bv = dds_sign_bin(F.lit(float(value)), alpha)
    le = (F.col("sign") < sv) | (
        (F.col("sign") == sv)
        & ((F.col("sign") * F.col("bin")) <= (sv * bv))
    )
    return dds_df.groupBy("source", "bucket").agg(
        F.round(
            F.sum(F.when(le, F.col("cnt")).otherwise(F.lit(0)))
            / F.sum("cnt"),
            9,
        ).alias(out_col)
    )


def _hist_rank_pick(hist_df: DataFrame, q: float, out: str) -> DataFrame:
    """Discrete-quantile pick in BIN UNITS (long, never divided): the
    bin at 1-based rank ``max(1, ceil(q*n))`` per (source, bucket) —
    the integer-exact core both the median/MAD read and the fence read
    build on (hist_quantiles divides by scale for presentation; these
    reads need the raw integer to keep later arithmetic exact)."""
    w_cum = (
        Window.partitionBy("source", "bucket")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source", "bucket")
    cum = F.sum("cnt").over(w_cum)
    n = F.sum("cnt").over(w_all)
    rank = F.greatest(F.ceil(F.lit(float(q)) * n), F.lit(1))
    hit = F.when(cum >= rank, F.col("bin"))
    return hist_df.select(
        "source", "bucket", hit.alias("__hit"), n.alias("__n")
    ).groupBy("source", "bucket").agg(
        F.min("__hit").alias(out), F.max("__n").alias("__n")
    )


def hist_mad(hist_df: DataFrame, scale: int = 1) -> DataFrame:
    """Median + MAD (median absolute deviation) per (source, bucket)
    served STRAIGHT from a histogram tier — the robust location AND
    dispersion pair (the Hampel identifier's ingredients) that normally
    needs TWO per-bucket sorts of raw values, recovered exactly from
    tier state:

    1. median = bin at rank ``max(1, ceil(n/2))`` (quantile_disc rule);
    2. fold the histogram onto deviations ``|bin - median|`` — bins
       equidistant from the median MERGE (counts add, still a lossless
       histogram, now of the deviation variable);
    3. MAD = the same rank pick over the deviation histogram.

    Everything is integer arithmetic on cumulative counts; raw is never
    re-scanned and the read composes through any cascade coarsening.
    The groupBys and window passes all run on the tier frame.  Output
    ``source, bucket, n, median, mad`` (bin units / scale).
    """
    med = _hist_rank_pick(hist_df, 0.5, "__med")
    dev = (
        hist_df.join(med.select("source", "bucket", "__med"),
                     ["source", "bucket"])
        .groupBy(
            "source", "bucket",
            F.abs(F.col("bin") - F.col("__med")).alias("bin"),
        )
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = _hist_rank_pick(dev, 0.5, "__mad")
    return (
        med.join(mad.select("source", "bucket", "__mad"),
                 ["source", "bucket"])
        .select(
            "source", "bucket", F.col("__n").alias("n"),
            (F.col("__med") / F.lit(int(scale))).alias("median"),
            (F.col("__mad") / F.lit(int(scale))).alias("mad"),
        )
    )


def robust_outliers(
    df: DataFrame,
    hist_df: DataFrame,
    tier: str = "1h",
    k: float = 3.0,
    scale: int = 1,
    value_col: str = "value",
    ts_col: str = "ts",
    ident: str = "event_id",
) -> DataFrame:
    """Hampel-style robust outlier flags where the med/MAD statistics
    come FROM THE STORED TIER: a raw point is flagged when

        |round(value*scale) - median_bin| > k * mad_bin

    — the rule the rolling Hampel applies locally, here with
    bucket-global fences served by :func:`hist_mad` so the flagging
    pass is ONE raw scan + ONE equi-join against the tiny per-(source,
    bucket) stats frame (broadcast: |sources| x |buckets| rows — the
    rule-from-tier shape, raw never sorted or window-scanned).  The
    deviation stays an exact integer in bin units; the only float op
    is the single ``k * mad_bin`` product both engines compute
    identically, so the flag boundary is engine-exact.

    MAD = 0 (>50% of the bucket's mass on one bin) flags every
    off-median point — the known degenerate Hampel regime, disclosed
    rather than patched (callers wanting a sigma fallback can gate on
    the emitted ``mad``).

    ``tier`` must name the bucketing ``hist_df`` was built/cascaded at
    (the join key is ``date_trunc(tier unit, ts)``).  Output for
    FLAGGED rows only: ``ident, source, ts, value, median, mad,
    robust_dev`` (median/mad/dev in value units).
    """
    unit, _ = TIERS[tier]
    stats = hist_mad(hist_df, scale=1)  # bin units: exact arithmetic
    df = ensure_ntz(df, ts_col)
    bucket = F.date_trunc(unit, F.col(ts_col)).cast("timestamp_ntz")
    b = hist_bin(F.col(value_col), scale)
    raw = df.filter(F.col(value_col).isNotNull()).select(
        F.col(ident), "source", F.col(ts_col).alias("ts"),
        F.col(value_col).alias("value"),
        bucket.alias("bucket"), b.alias("__bin"),
    )
    s = F.lit(int(scale))
    dev = F.abs(F.col("__bin") - F.col("median"))
    return (
        raw.join(
            F.broadcast(
                stats.select(
                    "source", "bucket",
                    F.col("median").cast("long").alias("median"),
                    F.col("mad").cast("long").alias("mad"),
                )
            ),
            ["source", "bucket"],
        )
        .filter(dev > F.lit(float(k)) * F.col("mad"))
        .select(
            ident, "source", "ts", "value",
            (F.col("median") / s).alias("median"),
            (F.col("mad") / s).alias("mad"),
            (dev / s).alias("robust_dev"),
        )
    )


def hist_quantile_drift(
    hist_df: DataFrame,
    in_a: Column,
    in_b: Column,
    qs: list[float] | tuple[float, ...] = (0.5, 0.95),
    scale: int = 1,
) -> DataFrame:
    """Quantile DRIFT between two bucket periods served from the STORED
    histogram tier — the "did p95 move?" SLO read next to the
    distributional verdicts (PSI weighs every bin, KS the worst CDF
    gap, Mann-Whitney the rank shift; this reports the shift IN VALUE
    UNITS, which is what an SLO owner actually acts on): each period's
    bin counts sum off the tier (counts add — the cascade identity),
    one rank-pick per period per q, deltas joined per source.  Raw is
    never re-scanned; cost is two tier-frame groupBys + the tiny
    per-period quantile extraction.

    ``in_a`` / ``in_b`` are boolean Columns over tier rows (bucket
    ranges).  Sources present in only one period drop (inner join —
    same policy as kmv_overlap).  Values are exact: bin/scale with the
    tier's lossless discretization, deltas differences of those.
    Output: ``source`` then per q: ``p{q}_a, p{q}_b, d_p{q}``.
    """
    def period(pred, tag):
        h = (
            hist_df.filter(pred)
            .groupBy("source", "bin")
            .agg(F.sum("cnt").alias("cnt"))
            .withColumn("bucket", F.lit(tag))
        )
        out = hist_quantiles(h, list(qs), scale=scale).drop("bucket")
        cols = [F.col("source")]
        for q in qs:
            name = f"p{round(q * 100):d}"
            cols.append(F.col(name).alias(f"{name}_{tag}"))
        return out.select(*cols)

    j = period(in_a, "a").join(period(in_b, "b"), "source")
    sel = [F.col("source")]
    for q in qs:
        name = f"p{round(q * 100):d}"
        sel += [
            F.col(f"{name}_a"), F.col(f"{name}_b"),
            (F.col(f"{name}_b") - F.col(f"{name}_a")).alias(f"d_{name}"),
        ]
    return j.select(*sel)


def topk_churn(hist_df: DataFrame, k: int = 5, ndigits: int = 9) -> DataFrame:
    """Period-over-period churn of the top-k bin SET, served straight
    from a histogram tier at whatever coarseness the caller cascaded to
    — over a token-id histogram this answers "how fast is each source's
    token head turning over?": a crawl source whose top-k churns every
    period is volatile news/chatter; one that never churns is static
    boilerplate (and a sudden churn spike is an ingest-change tripwire
    next to :func:`~traval_spark.operators.monitor.psi_drift`, which
    weighs the whole distribution — this isolates the HEAD, where
    training-token mass concentrates).

    Per (source, bucket): the top-k set under :func:`hist_topk`'s exact
    rule (count desc, bin asc — deterministic ties), compared to the
    source's PREVIOUS bucket's set: ``n_added``/``n_dropped`` set
    differences and ``jaccard`` overlap.  The first bucket of a source
    reports NULLs (nothing to churn against).

    Plan shape: the rank window runs on the tier frame (≤ |bins| rows
    per (source, bucket), never raw); per-bucket sets assemble via
    ``array_sort(collect_list)`` over exactly k rows; the lag window is
    one row per (source, bucket) — all three stages shuffle on the same
    source-dominant keys.  Set sizes are exact integers; jaccard is one
    division rounded ``ndigits``.  Output: ``source, bucket,
    prev_bucket, k_eff, n_added, n_dropped, jaccard``.
    """
    w = Window.partitionBy("source", "bucket").orderBy(
        F.col("cnt").desc(), F.col("bin")
    )
    tops = (
        hist_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .groupBy("source", "bucket")
        .agg(F.array_sort(F.collect_list("bin")).alias("__set"))
    )
    lw = Window.partitionBy("source").orderBy("bucket")
    cur, prev = F.col("__set"), F.lag("__set").over(lw)
    both = tops.select(
        "source", "bucket",
        F.lag("bucket").over(lw).alias("prev_bucket"),
        cur.alias("__cur"), prev.alias("__prev"),
    )
    inter = F.size(F.array_intersect(F.col("__cur"), F.col("__prev")))
    union = (
        F.size(F.col("__cur")) + F.size(F.col("__prev")) - inter
    )
    return both.select(
        "source", "bucket", "prev_bucket",
        F.size("__cur").alias("k_eff"),
        F.size(F.array_except(F.col("__cur"), F.col("__prev")))
        .alias("n_added"),
        F.size(F.array_except(F.col("__prev"), F.col("__cur")))
        .alias("n_dropped"),
        F.round(inter.cast("double") / union.cast("double"), ndigits)
        .alias("jaccard"),
    )
