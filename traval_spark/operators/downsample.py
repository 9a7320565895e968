"""Visualization-grade series downsampling: M4 and fixed-anchor LTTB.

Tiered retention (raw -> 1m -> 1h -> 1d) answers *aggregate* reads; a
dashboard rendering a million-point series needs *shape-preserving*
downsampling instead.  Two standard algorithms, both re-derived here as
single-shuffle DataFrame plans:

**M4** (Jugel et al., VLDB 2014): per (series, time bucket) keep the
first, last, minimum and maximum points — the exact set of rows needed
to rasterize the series onto ``width`` pixels without visual error.
Every M4 column is an algebraic aggregate (min/max/arg-extremes), so

- the plan is ONE partial-aggregatable groupBy (map-side combine, no
  window, no second shuffle), and
- M4 tiers CASCADE exactly: :func:`m4_merge` re-aggregates fine-bucket
  M4 rows into any coarser bucket with bit-identical results to running
  M4 on the raw points (``tests/test_downsample.py`` proves it; the
  ``m4_1h`` oracle query *is* the 1m->1h cascade against a direct-on-raw
  SQL oracle).  That makes M4 a first-class continuous-aggregate kernel:
  store the 1m M4 tier once, serve every coarser zoom level from it
  without touching raw.

Tie rules (and why they are pinned): timestamps may collide at
microsecond resolution at ingest scale, and argmin/argmax over doubles
is engine-nondeterministic under ties.  We define

- ``t_min`` = EARLIEST instant attaining the bucket minimum,
- ``t_max`` = LATEST instant attaining the bucket maximum (so the pair
  spans the widest extent of the extremes),
- ``v_first`` = smallest value among rows at the earliest instant,
- ``v_last`` = largest value among rows at the latest instant,

all computed as single ``min(struct(...))`` / ``max(struct(...))``
aggregates — deterministic, mergeable, and reproducible by any engine.

**LTTB** (Steinarsson 2013, largest-triangle-three-buckets) is
inherently sequential: bucket *k*'s chosen point depends on bucket
*k-1*'s choice.  The scalable variant implemented here is the
*fixed-anchor* (a.k.a. parallel) form used by MinMaxLTTB-style
pipelines: each bucket's candidate triangles are anchored on the MEAN
point of the previous and next buckets (which never depends on any
selection), so every bucket decides independently — one groupBy for the
bucket means, a lag/lead window over the tiny bucket-level frame, one
equi-join back to raw, one per-bucket argmax.

The argmax itself is computed in EXACT fixed-point integer arithmetic:
values are scaled to integers (``value_scale``), timestamps to
microseconds relative to the global minimum, and the triangle cross
product is evaluated on decimal(38,0) (Spark) / HUGEINT (DuckDB oracle)
— the numerator of the true floating-point area with the positive
denominator ``2*na^2*nb`` cleared:

    cross * na^2 * nb = (x*na - SXa) * (SYb*na - SYa*nb)
                      - (SXb*na - SXa*nb) * (y*na - SYa)

(a, b = previous/next bucket sums; x, y = the candidate point).  Exact
integers make the winning point identical on every engine and every
partitioning — a float mean would make the argmax flip on
sum-association noise.  Magnitude budget: |cross*na^2*nb| <=
rel_span_us * n_bucket^2 * value_scale * |v|_max * 4; keep it under
1e38 by choosing ``value_scale`` (1e3 default) and bucket width — at
1e14 us span (3 years), 1e6-row buckets and |v|<=1e4 that is ~4e33.

First/last buckets of each series keep their first/last point (the
classic LTTB endpoint rule).

Scale: both operators shuffle once on (series, bucket) — never
one-task-per-series; skewed series spread across buckets by
construction.  Reference note: the traval reference
(ArtesiaWater/traval) has no downsampling surface; this module is part
of the from-scratch "rollup + downsample + retention" engine the north
rule asks for (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from traval_spark.functions.ts import gap_micros, unix_us
from traval_spark.session import hold

__all__ = [
    "m4_downsample", "m4_merge", "m4_aggs", "m4_project",
    "lttb_downsample", "sax_words", "sax_pairs",
    "subsequence_words", "motif_pairs", "rare_windows", "discord_topk",
    "dtw_pairs",
    "symbol_stream", "symbol_transitions", "symbol_entropy",
    "symbol_mi",
]

_DEC = "decimal(38,0)"


def _bucket_start_us(ts_col, gus: int):
    return (F.floor(unix_us(ts_col) / F.lit(int(gus))) * F.lit(int(gus)))


def m4_aggs() -> list:
    """The M4 aggregate list over prepared ``__us``/``__v`` columns —
    shared by the batch operator, the streaming 1m leaf and the
    pipeline's combined leaf so the tie rules cannot drift between
    them.  Rows with a NULL ``__v`` are masked out of every aggregate
    (a bucket of only such rows has ``n_points`` 0 and NULL extremes);
    the batch operator and the stream drop them up front anyway."""
    nn = F.col("__v").isNotNull()
    us = F.when(nn, F.col("__us"))
    uv = F.when(nn, F.struct("__us", "__v"))
    vu = F.when(nn, F.struct("__v", "__us"))
    return [
        F.count("__v").alias("n_points"),
        F.min(us).alias("__t_first_us"),
        F.max(us).alias("__t_last_us"),
        # value at the earliest/latest instant (ties: min/max value there)
        F.min(uv)["__v"].alias("v_first"),
        F.max(uv)["__v"].alias("v_last"),
        F.min("__v").alias("v_min"),
        F.max("__v").alias("v_max"),
        # earliest instant attaining the min / latest attaining the max
        F.min(vu)["__us"].alias("__t_min_us"),
        F.max(vu)["__us"].alias("__t_max_us"),
    ]


def m4_project(df: DataFrame, head: list) -> DataFrame:
    """Final projection from the ``__*_us`` aggregate columns to the
    public timestamp columns."""
    return df.select(
        *head,
        "n_points",
        F.timestamp_micros(F.col("__t_first_us")).alias("t_first"),
        "v_first",
        F.timestamp_micros(F.col("__t_last_us")).alias("t_last"),
        "v_last",
        F.timestamp_micros(F.col("__t_min_us")).alias("t_min"),
        "v_min",
        F.timestamp_micros(F.col("__t_max_us")).alias("t_max"),
        "v_max",
    )


def m4_downsample(
    df: DataFrame,
    bucket: str = "1h",
    by: tuple[str, ...] = ("source",),
    ts: str = "ts",
    val: str = "value",
    bucket_col: str = "bucket_start",
) -> DataFrame:
    """Per (by, bucket): first/last/min/max points, one shuffle.

    Output: ``*by, bucket_start, n_points, t_first, v_first, t_last,
    v_last, t_min, v_min, t_max, v_max`` with the tie rules in the
    module docstring.  All columns are algebraic aggregates —
    map-side-combinable and exactly mergeable via :func:`m4_merge`.

    NULL values (e.g. rule-flagged points) are dropped up front — the
    same convention as the rollup/histogram tiers, and what keeps
    n_points consistent with the value extremes AND batch rows
    identical to the streaming leaf (whose scaffold pre-filters).
    """
    gus = gap_micros(bucket)
    src = df.filter(F.col(val).isNotNull()).select(
        *by,
        _bucket_start_us(F.col(ts), gus).alias("__bus"),
        unix_us(F.col(ts)).alias("__us"),
        F.col(val).alias("__v"),
    )
    out = src.groupBy(*by, "__bus").agg(*m4_aggs())
    return m4_project(
        out,
        [*by, F.timestamp_micros(F.col("__bus")).alias(bucket_col)],
    )


def m4_merge(
    m4: DataFrame,
    bucket: str,
    by: tuple[str, ...] = ("source",),
    bucket_col: str = "bucket_start",
) -> DataFrame:
    """Exactly re-aggregate fine-bucket M4 rows into coarser buckets.

    Bit-identical to :func:`m4_downsample` on the raw points because
    every M4 column is algebraic and the tie rules compose: equal-``us``
    raw rows always land in the SAME fine bucket, so cross-bucket merge
    never re-encounters a first/last timestamp tie, and the (value, us)
    struct extremes reduce associatively.
    """
    gus = gap_micros(bucket)
    src = m4.select(
        *by,
        _bucket_start_us(F.col(bucket_col), gus).alias("__bus"),
        F.col("n_points"),
        unix_us("t_first").alias("__f_us"), F.col("v_first"),
        unix_us("t_last").alias("__l_us"), F.col("v_last"),
        unix_us("t_min").alias("__m_us"), F.col("v_min"),
        unix_us("t_max").alias("__x_us"), F.col("v_max"),
    )
    out = src.groupBy(*by, "__bus").agg(
        F.sum("n_points").alias("n_points"),
        F.min(F.struct(F.col("__f_us"), F.col("v_first")))
        .alias("__first"),
        F.max(F.struct(F.col("__l_us"), F.col("v_last"))).alias("__last"),
        F.min(F.struct(F.col("v_min"), F.col("__m_us"))).alias("__min"),
        F.max(F.struct(F.col("v_max"), F.col("__x_us"))).alias("__max"),
    )
    return out.select(
        *by,
        F.timestamp_micros(F.col("__bus")).alias(bucket_col),
        "n_points",
        F.timestamp_micros(F.col("__first.__f_us")).alias("t_first"),
        F.col("__first.v_first").alias("v_first"),
        F.timestamp_micros(F.col("__last.__l_us")).alias("t_last"),
        F.col("__last.v_last").alias("v_last"),
        F.timestamp_micros(F.col("__min.__m_us")).alias("t_min"),
        F.col("__min.v_min").alias("v_min"),
        F.timestamp_micros(F.col("__max.__x_us")).alias("t_max"),
        F.col("__max.v_max").alias("v_max"),
    )


def lttb_downsample(
    df: DataFrame,
    bucket: str = "6h",
    by: tuple[str, ...] = ("source",),
    ts: str = "ts",
    val: str = "value",
    value_scale: int = 1000,
) -> DataFrame:
    """Fixed-anchor LTTB: one shape-preserving point per (by, bucket).

    Anchors are the mean points of the neighboring buckets; the triangle
    argmax runs on exact scaled integers (module docstring) so selection
    is engine- and partitioning-deterministic.  First/last buckets keep
    their first/last point.  Output: ``*by, bucket_start, n_points,
    t_sel, v_sel``.

    Plan: groupBy (by, bucket) for sums -> lag/lead window over the
    bucket-level frame (tiny: one row per bucket) -> equi-join back to
    raw on (by, bucket) -> per-bucket argmax window.  No per-series
    single-task stage; raw rows shuffle only on (by, bucket).
    """
    gus = gap_micros(bucket)
    # NULL values dropped up front (same convention as m4/hist tiers —
    # a NULL would poison the bucket sums and sort first in the argmax)
    df = df.filter(F.col(val).isNotNull())
    # persist the 1-row global-min scalar: ``src`` is consumed twice
    # (bucket sums + the join back), and each evaluation would re-run
    # the full raw min-scan embedded in the cross join
    gmin = hold(df.select(F.min(unix_us(F.col(ts))).alias("__g0")))
    # carry the ABSOLUTE microsecond alongside the g0-relative __x: the
    # final projection then reads t_sel straight off the row
    # (timestamp_micros(__us) == timestamp_micros(__x + g0), an exact
    # integer identity) instead of cross-joining gmin a second time —
    # which re-ran the full raw min-scan per reference
    src = (
        df.crossJoin(F.broadcast(gmin))
        .select(
            *by,
            unix_us(F.col(ts)).alias("__us"),
            (unix_us(F.col(ts)) - F.col("__g0")).alias("__x"),
            _bucket_start_us(F.col(ts), gus).alias("__bus"),
            F.col(val).alias("__v"),
            F.round(F.col(val) * F.lit(int(value_scale)))
            .cast("long").alias("__y"),
        )
    )
    sums = src.groupBy(*by, "__bus").agg(
        F.count("*").alias("__n"),
        F.sum(F.col("__x").cast(_DEC)).alias("__sx"),
        F.sum(F.col("__y").cast(_DEC)).alias("__sy"),
    )
    w = Window.partitionBy(*by).orderBy("__bus")
    anch = sums.select(
        *by, "__bus", "__n",
        F.lag("__n").over(w).alias("__na"),
        F.lag("__sx").over(w).alias("__sxa"),
        F.lag("__sy").over(w).alias("__sya"),
        F.lead("__n").over(w).alias("__nb"),
        F.lead("__sx").over(w).alias("__sxb"),
        F.lead("__sy").over(w).alias("__syb"),
    )
    j = src.join(anch, [*by, "__bus"])

    na = F.col("__na").cast(_DEC)
    nb = F.col("__nb").cast(_DEC)
    x = F.col("__x").cast(_DEC)
    y = F.col("__y").cast(_DEC)
    cross = (
        (x * na - F.col("__sxa")) * (F.col("__syb") * na - F.col("__sya") * nb)
        - (F.col("__sxb") * na - F.col("__sxa") * nb) * (y * na - F.col("__sya"))
    )
    zero = F.lit(0).cast(_DEC)
    first = F.col("__na").isNull()
    last = F.col("__nb").isNull()
    ranked = j.select(
        *by, "__bus", "__n", "__x", "__us", "__v",
        F.when(first | last, zero).otherwise(-F.abs(cross)).alias("__o1"),
        F.when(last, -F.col("__x")).otherwise(F.col("__x")).alias("__o2"),
    )
    pick = Window.partitionBy(*by, "__bus").orderBy("__o1", "__o2", "__v")
    sel = (
        ranked.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
    )
    return sel.select(
        *by,
        F.timestamp_micros(F.col("__bus")).alias("bucket_start"),
        F.col("__n").alias("n_points"),
        F.timestamp_micros(F.col("__us")).alias("t_sel"),
        F.col("__v").alias("v_sel"),
    )


def lttb_from_m4(
    m4_df: DataFrame,
    bucket: str = "6h",
    by: tuple[str, ...] = ("source",),
    value_scale: int = 1000,
) -> DataFrame:
    """LTTB downsample-on-read served FROM the stored M4 tier — the
    dashboard zoom-out path: the tier already keeps the four extreme
    points per fine bucket (real timestamped samples, not aggregates),
    so the shape-preserving pass runs over ≤4 candidate points per
    stored bucket instead of raw — at a 1m tier under a 6h read that
    is a ≥90× input reduction before the triangle pass, and raw is
    never re-scanned.

    The M4 envelope bounds the series' visual extent per fine bucket,
    so the candidate set contains every point a pixel-accurate
    renderer could need (the M4 paper's guarantee); LTTB over it is
    the standard tiered-visualization composition.  Candidates dedup
    on (series, t, v) — a single-point bucket posts four copies of
    itself.  Anchors/means and ``n_points`` are computed over the
    CANDIDATE points (disclosed: this is a read over tier state, not
    a raw re-scan — bit-exactness is against the same composition,
    pinned by the oracle, not against raw-LTTB).

    Reuses :func:`lttb_downsample` verbatim — same exact-integer
    triangle argmax, same tie rules, fully deterministic.
    Output: ``*by, bucket_start, n_points, t_sel, v_sel``.
    """
    pair = lambda t, v: F.struct(  # noqa: E731
        F.col(t).alias("ts"), F.col(v).alias("value")
    )
    pts = (
        m4_df.select(
            *by,
            F.explode(
                F.array(
                    pair("t_first", "v_first"), pair("t_min", "v_min"),
                    pair("t_max", "v_max"), pair("t_last", "v_last"),
                )
            ).alias("p"),
        )
        .select(*by, F.col("p.ts").alias("ts"),
                F.col("p.value").alias("value"))
        .dropDuplicates([*by, "ts", "value"])
    )
    return lttb_downsample(pts, bucket=bucket, by=by,
                           value_scale=value_scale)


_SAX_BREAKS = {
    3: (-0.4307272992954576, 0.4307272992954576),
    4: (-0.6744897501960817, 0.0, 0.6744897501960817),
    5: (-0.8416212335729143, -0.2533471031357997,
        0.2533471031357997, 0.8416212335729143),
}


def sax_words(
    df=None,
    bucket: str = "1h",
    segments: int = 4,
    alphabet: int = 4,
    by: str = "source",
    ts: str = "ts",
    counts=None,
) -> DataFrame:
    """SAX symbolization (Lin et al. 2003, Symbolic Aggregate
    approXimation) of each series' daily activity shape: the
    zero-filled bucket-count signal is z-normalized per SERIES, PAA-
    averaged into ``segments`` equal slices of each day, and each
    slice mean maps to a letter through the standard Gaussian
    equiprobable breakpoints — so a day's behavior collapses to a
    short word like ``'abdc'`` that equality-joins can compare,
    bucket, and mine (motifs, co-behaving series, regime labels)
    without ever touching raw again.

    Engine-exact symbol verdicts without trusting float z-scores: the
    comparison z >= beta is evaluated as

        round( (n*Cs - ns*S) / (ns*n), 9 )  >=  round( beta*sigma, 9 )

    where Cs = the slice's count sum, ns = its hour count, S/n the
    series totals — the LHS numerator is an exact decimal integer and
    sigma = sqrt(n*Q - S^2)/n is one sqrt of a double OF exact
    integers, so both sides are identical doubles in any engine and
    the 9dp fence keeps a last-ulp from flipping a letter (the house
    slo_burn guard).  Symbol index = #{breakpoints <= z}.  Constant
    series (zero variance) report a NULL word by rule — z-norm is
    undefined, not "all letters equal".

    Plan shape: one raw groupBy to the signal (or none: pass
    ``counts=`` straight off a stored rollup tier — the monitors'
    tier-served path), then everything runs on the tiny
    (|series| x days x segments) frame.  ``segments`` must divide 24.
    Output: ``g, day, n_hours, word``.

    Reference: traval has no symbolic layer; this serves the
    fleet-behavior reads (which wells behave alike today?) its
    per-series plots answer by eye.
    """
    if 24 % segments:
        raise ValueError("segments must divide 24")
    if alphabet not in _SAX_BREAKS:
        raise ValueError("alphabet must be one of 3, 4, 5")
    from traval_spark.operators.monitor import bucket_count_signal

    seg_h = 24 // segments
    sig = bucket_count_signal(df, bucket=bucket, by=by, ts=ts,
                              counts=counts)
    stats = sig.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c").cast(_DEC)).alias("s"),
        F.sum(F.col("c").cast(_DEC) * F.col("c")).alias("q"),
    )
    slc = sig.groupBy(
        "g",
        F.floor(F.col("h") / 24).alias("day"),
        F.floor((F.col("h") % 24) / seg_h).alias("seg"),
    ).agg(
        F.count(F.lit(1)).alias("ns"),
        F.sum(F.col("c").cast(_DEC)).alias("cs"),
    )
    j = slc.join(F.broadcast(stats), "g")
    nd = F.col("n").cast("double")
    varnum = (F.col("n") * F.col("q") - F.col("s") * F.col("s")).cast(
        "double"
    )
    sigma = F.sqrt(varnum) / nd
    lhs = F.round(
        (F.col("n") * F.col("cs") - F.col("ns") * F.col("s"))
        .cast("double")
        / (F.col("ns").cast("double") * nd),
        9,
    )
    idx = F.lit(0)
    for beta in _SAX_BREAKS[alphabet]:
        idx = idx + (lhs >= F.round(F.lit(beta) * sigma, 9)).cast("int")
    sym = F.when(varnum > 0, F.element_at(
        F.lit(list("abcde"[:alphabet])), idx + 1
    ))
    words = (
        j.select("g", "day", "ns", F.col("seg"), sym.alias("sym"))
        .groupBy("g", "day")
        .agg(
            F.sum("ns").alias("n_hours"),
            F.when(
                F.count(F.lit(1)) == F.count("sym"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("seg", "sym"))
                        ),
                        lambda st: st["sym"],
                    ),
                    "",
                ),
            ).alias("word"),
        )
    )
    return words.select(
        "g", F.date_from_unix_date(F.col("day").cast("int")).alias("day"),
        "n_hours", "word",
    )


def sax_pairs(
    df=None,
    bucket: str = "1h",
    segments: int = 4,
    alphabet: int = 4,
    by: str = "source",
    ts: str = "ts",
    counts=None,
    min_share: float = 0.0,
) -> DataFrame:
    """Co-behaving series pairs via SAX-word agreement: two series that
    emit the SAME word on the same day had the same z-shaped daily
    profile, so the share of matching days over the days both have
    words is a cheap, interpretable behavioral similarity — the
    series-level analog of the token near-dup families (candidate
    generation by equality join on (day, word), never all-pairs
    against raw).

    Everything runs on the words frame (|series| x days): one
    self-join on (day, word) keyed by the word bucket, then exact
    integer match / day counts and ONE division to the share.  Pairs
    emitted once (a < b); series pairs with zero matching days are
    dropped (the join is the candidate generator — absence IS the
    verdict), so ``min_share`` only tightens further.  Output: ``a, b,
    matches, days_a, days_b, share`` (share = matches / least(days)).
    """
    w = sax_words(df, bucket=bucket, segments=segments,
                  alphabet=alphabet, by=by, ts=ts, counts=counts)
    w = w.filter(F.col("word").isNotNull())
    days = w.groupBy("g").agg(F.count(F.lit(1)).alias("days"))
    pairs = (
        w.select(F.col("g").alias("a"), "day", "word")
        .join(w.select(F.col("g").alias("b"), "day", "word"),
              ["day", "word"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("matches"))
    )
    out = (
        pairs.join(days.select(F.col("g").alias("a"),
                               F.col("days").alias("days_a")), "a")
        .join(days.select(F.col("g").alias("b"),
                          F.col("days").alias("days_b")), "b")
        .select(
            "a", "b", "matches", "days_a", "days_b",
            (F.col("matches").cast("double")
             / F.least("days_a", "days_b").cast("double")).alias("share"),
        )
    )
    return out.filter(F.col("share") >= float(min_share))


def subsequence_words(
    df=None,
    m: int = 24,
    segments: int = 4,
    alphabet: int = 4,
    bucket: str = "1h",
    by: str = "source",
    ts: str = "ts",
    counts=None,
) -> DataFrame:
    """Sliding-window SAX symbolization (the subsequence form of
    :func:`sax_words`, Lin et al. 2003 / the HOT-SAX candidate
    machinery): every length-``m`` window of the zero-filled bucket-
    count signal is z-normalized AGAINST ITS OWN window statistics
    (the standard subsequence normalization — a window is a motif by
    its shape, not by where it sits on the series' overall level),
    PAA-averaged into ``segments`` slices and symbolized through the
    Gaussian equiprobable breakpoints.

    Output one row per (series, window start): ``g, h0, n_events``
    (window activity total), ``varnum`` (the exact integer variance
    numerator ``m*Q - S^2``; 0 = flat window, word NULL by the
    :func:`sax_words` rule), ``word``, and ``xs`` — the window's raw
    count vector (array<long>, for downstream exact verification).

    Engine exactness is the :func:`sax_words` contract with window
    stats substituted for series stats: slice verdicts compare

        round((m*Cs - ns*S) / (ns*m), 9)  >=  round(beta*sigma, 9)

    where every numerator is an exact integer and ``sigma =
    sqrt(m*Q - S^2)/m`` is one sqrt of a double OF exact integers.

    Plan shape: ONE raw groupBy to the signal (or none — pass
    ``counts=`` off a stored rollup tier and raw is never touched),
    then ONE ordered window pass over the tiny (|series| x span)
    signal frame builds every subsequence array; slice sums come from
    ``F.slice`` on the array, never a second shuffle.  Windows that
    would run past the series span (fewer than ``m`` buckets
    collected) are dropped.  ``segments`` must divide ``m``.

    Reference: traval has no subsequence layer; this is the candidate
    generator for :func:`motif_pairs` / :func:`rare_windows`.
    """
    if m % segments:
        raise ValueError("segments must divide m")
    if alphabet not in _SAX_BREAKS:
        raise ValueError("alphabet must be one of 3, 4, 5")
    from traval_spark.operators.monitor import bucket_count_signal

    ns = m // segments
    sig = bucket_count_signal(df, bucket=bucket, by=by, ts=ts,
                              counts=counts)
    w = (Window.partitionBy("g").orderBy("h")
         .rowsBetween(Window.currentRow, m - 1))
    xs = F.transform(
        F.array_sort(F.collect_list(F.struct("h", "c")).over(w)),
        lambda st: st["c"],
    )
    wins = (
        sig.select(F.col("g"), F.col("h").alias("h0"), xs.alias("xs"))
        .filter(F.size("xs") == m)
    )
    dec = lambda c: c.cast(_DEC)  # noqa: E731
    s_tot = F.aggregate("xs", F.lit(0).cast(_DEC),
                        lambda acc, x: acc + dec(x))
    q_tot = F.aggregate("xs", F.lit(0).cast(_DEC),
                        lambda acc, x: acc + dec(x) * dec(x))
    wins = wins.select(
        "g", "h0", "xs", s_tot.alias("s"), q_tot.alias("q"),
    )
    varnum = F.lit(m).cast(_DEC) * F.col("q") - F.col("s") * F.col("s")
    sigma = F.sqrt(varnum.cast("double")) / F.lit(float(m))
    syms = []
    for k in range(segments):
        cs = F.aggregate(F.slice("xs", k * ns + 1, ns),
                         F.lit(0).cast(_DEC), lambda acc, x: acc + dec(x))
        lhs = F.round(
            (F.lit(m).cast(_DEC) * cs
             - F.lit(ns).cast(_DEC) * F.col("s")).cast("double")
            / F.lit(float(ns * m)),
            9,
        )
        idx = F.lit(0)
        for beta in _SAX_BREAKS[alphabet]:
            idx = idx + (lhs >= F.round(F.lit(beta) * sigma, 9)).cast("int")
        syms.append(F.element_at(F.lit(list("abcde"[:alphabet])), idx + 1))
    word = F.when(varnum > 0, F.concat(*syms))
    return wins.select(
        "g", "h0",
        F.col("s").cast("long").alias("n_events"),
        varnum.cast("long").alias("varnum"),
        word.alias("word"),
        "xs",
    )


def motif_pairs(
    df=None,
    m: int = 24,
    segments: int = 4,
    alphabet: int = 4,
    bucket: str = "1h",
    by: str = "source",
    ts: str = "ts",
    counts=None,
    min_corr: float = 0.5,
    top_k: int = 5,
) -> DataFrame:
    """Motif discovery (recurring temporal patterns WITHIN a series,
    the SAX-motif shape of Lin et al. / Chiu et al. 2003): candidate
    window pairs come from an equality join on the subsequence SAX
    word — never all-pairs against the window set — and survive only
    if their exact z-normalized similarity confirms the symbolic
    match.  The verdict statistic is the Pearson correlation of the
    two raw count windows,

        r = (m*Sxy - Sx*Sy) / sqrt((m*Qx - Sx^2) * (m*Qy - Sy^2))

    whose numerator is an EXACT integer (the windows ride along as
    long arrays from :func:`subsequence_words`; the dot product is a
    ``zip_with``/``aggregate`` fold on decimal(38,0)) and whose
    denominator is one sqrt of a product of exact integer variance
    numerators (multiplied AS DOUBLE — the house chi2/centroid-L2
    overflow rule); the z-normalized Euclidean distance is then the
    standard identity ``d = sqrt(2*m*(1-r))``.  Identical float
    tails in any engine; ranking and the ``min_corr`` gate run on the
    9dp-rounded r (the slo_burn fence).

    Trivial matches are excluded the classic way: paired windows must
    not overlap (``h_b - h_a >= m``).  Output is the ``top_k`` best
    pairs per series by (r desc, h_a, h_b) — ``g, h_a, h_b, word,
    r, dist`` — so result size is |series| x k regardless of how
    hot a word bucket gets.

    Plan shape at 100 TB: raw is touched once (or never, via
    ``counts=`` from a stored tier); the join, fold and top-k window
    all run on the (|series| x span) words frame.  Within one
    (g, word) bucket the join is quadratic in that bucket's window
    count — bounded by the series span at signal grain (tier-sized),
    the same disclosed trade as :func:`sax_pairs` and the LSH
    families.
    """
    wds = subsequence_words(df, m=m, segments=segments,
                            alphabet=alphabet, bucket=bucket, by=by,
                            ts=ts, counts=counts)
    wds = wds.filter(F.col("word").isNotNull())
    a = wds.select("g", F.col("h0").alias("h_a"), "word",
                   F.col("xs").alias("xa"),
                   F.col("n_events").alias("sa"),
                   F.col("varnum").alias("va"))
    b = wds.select("g", F.col("h0").alias("h_b"), "word",
                   F.col("xs").alias("xb"),
                   F.col("n_events").alias("sb"),
                   F.col("varnum").alias("vb"))
    dec = lambda c: c.cast(_DEC)  # noqa: E731
    cand = a.join(b, ["g", "word"]).filter(
        F.col("h_b") - F.col("h_a") >= m
    )
    sxy = F.aggregate(
        F.zip_with("xa", "xb", lambda x, y: dec(x) * dec(y)),
        F.lit(0).cast(_DEC), lambda acc, v: acc + v,
    )
    num = (F.lit(m).cast(_DEC) * sxy
           - dec(F.col("sa")) * dec(F.col("sb")))
    den = F.sqrt(F.col("va").cast("double") * F.col("vb").cast("double"))
    r = F.round(num.cast("double") / den, 9)
    scored = cand.select(
        "g", "h_a", "h_b", "word", r.alias("r"),
    ).filter(F.col("r") >= float(min_corr))
    rn = F.row_number().over(
        Window.partitionBy("g")
        .orderBy(F.col("r").desc(), "h_a", "h_b")
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= top_k)
        .select(
            "g", "h_a", "h_b", "word", "r",
            F.round(F.sqrt(F.lit(2.0 * m) * (F.lit(1.0) - F.col("r"))),
                    6).alias("dist"),
        )
    )


def rare_windows(
    df=None,
    m: int = 24,
    segments: int = 4,
    alphabet: int = 4,
    bucket: str = "1h",
    by: str = "source",
    ts: str = "ts",
    counts=None,
    max_count: int = 1,
) -> DataFrame:
    """Discord CANDIDATES by symbolic rarity (the HOT-SAX outer-loop
    heuristic, Keogh et al. 2005): a window whose SAX word appears at
    most ``max_count`` times in its own series has a shape no other
    stretch of that series repeats — the cheap, mergeable screen a
    true discord search would order its exact-distance passes by, and
    on its own the "show me the strangest day-long stretches" read.

    Rarity is counted per (series, word) with ONE partial-aggregatable
    groupBy on the words frame, joined back by (g, word) — no window
    pairs are ever formed, so unlike a full discord verification this
    read stays linear in the window count.  Flat windows (NULL word:
    zero variance) are excluded — "no activity at all" is gap_stats'
    finding, not a shape anomaly.  Output: ``g, h0, word, word_count,
    n_events`` ordered deterministically by rarity then start.

    Plan shape: raw touched once for the signal (or never via
    ``counts=``); everything else runs on the (|series| x span) words
    frame.
    """
    wds = subsequence_words(df, m=m, segments=segments,
                            alphabet=alphabet, bucket=bucket, by=by,
                            ts=ts, counts=counts)
    wds = wds.filter(F.col("word").isNotNull())
    freq = wds.groupBy("g", "word").agg(
        F.count(F.lit(1)).alias("word_count")
    )
    return (
        wds.join(freq, ["g", "word"])
        .filter(F.col("word_count") <= max_count)
        .select("g", "h0", "word", "word_count", "n_events")
    )


def discord_topk(
    df=None,
    m: int = 24,
    segments: int = 4,
    alphabet: int = 4,
    bucket: str = "1h",
    by: str = "source",
    ts: str = "ts",
    counts=None,
    rare_max: int = 1,
    top_k: int = 5,
) -> DataFrame:
    """TRUE discord verification (the HOT-SAX inner loop, Keogh et al.
    2005): each rarity-screened candidate window (word count <=
    ``rare_max`` in its series — :func:`rare_windows`' finding) is
    scored by its EXACT nearest-neighbor distance against every
    non-overlapping window of the same series; the windows farthest
    from everything the series ever does are its discords.  Distance
    is the z-normalized Euclidean d = sqrt(2*m*(1-r)) with
    :func:`motif_pairs`' exact-integer-numerator Pearson r, so the
    nearest neighbor is argMAX r — computed as a per-candidate max of
    the 9dp-rounded r (identical doubles in any engine), with the
    neighbor start reported as the SMALLEST h0 attaining that max
    (deterministic under ties without trusting struct-max ordering).

    Cost model (why this stays feasible where full matrix-profile
    wouldn't): the quadratic inner loop runs only for |candidates| x
    |windows| per series, and rarity screening keeps |candidates|
    small by construction — the classic HOT-SAX economy.  Flat (NULL
    word) windows are excluded on BOTH sides; a candidate with no
    non-overlapping comparison window at all drops out (no neighbor
    -> no verdict).  Output: ``g, h0, word, nn_h0, nn_r, nn_dist``,
    the ``top_k`` largest nn_dist per series (ties: earlier h0 wins).

    Plan shape: the raw groupBy's exchange is shared across the three
    words-frame branches by ReuseExchange (or raw is never read, via
    ``counts=``, the motif-family rule); candidates, the NN join and
    both aggregations run on the (|series| x span) words frame.
    """
    wds = subsequence_words(df, m=m, segments=segments,
                            alphabet=alphabet, bucket=bucket, by=by,
                            ts=ts, counts=counts)
    wds = wds.filter(F.col("word").isNotNull())
    freq = wds.groupBy("g", "word").agg(
        F.count(F.lit(1)).alias("word_count")
    )
    cand = (
        wds.join(freq, ["g", "word"])
        .filter(F.col("word_count") <= rare_max)
        .select("g", "h0", "word", "xs",
                F.col("n_events").alias("sa"),
                F.col("varnum").alias("va"))
    )
    w = wds.select("g", F.col("h0").alias("h0_w"),
                   F.col("xs").alias("xw"),
                   F.col("n_events").alias("sw"),
                   F.col("varnum").alias("vw"))
    dec = lambda c: c.cast(_DEC)  # noqa: E731
    pairs = cand.join(w, "g").filter(
        F.abs(F.col("h0_w") - F.col("h0")) >= m
    )
    sxy = F.aggregate(
        F.zip_with("xs", "xw", lambda x, y: dec(x) * dec(y)),
        F.lit(0).cast(_DEC), lambda acc, v: acc + v,
    )
    num = (F.lit(m).cast(_DEC) * sxy
           - dec(F.col("sa")) * dec(F.col("sw")))
    den = F.sqrt(F.col("va").cast("double") * F.col("vw").cast("double"))
    scored = pairs.select(
        "g", "h0", "word", "h0_w",
        F.round(num.cast("double") / den, 9).alias("r"),
    )
    best = scored.groupBy("g", "h0", "word").agg(
        F.max("r").alias("nn_r")
    )
    nn = (
        scored.join(best, ["g", "h0", "word"])
        .filter(F.col("r") == F.col("nn_r"))
        .groupBy("g", "h0", "word", "nn_r")
        .agg(F.min("h0_w").alias("nn_h0"))
    )
    rn = F.row_number().over(
        Window.partitionBy("g")
        .orderBy(F.col("nn_r").asc(), "h0")
    )
    return (
        nn.withColumn("rn", rn)
        .filter(F.col("rn") <= top_k)
        .select(
            "g", "h0", "word", "nn_h0", "nn_r",
            F.round(F.sqrt(F.lit(2.0 * m)
                           * (F.lit(1.0) - F.col("nn_r"))),
                    6).alias("nn_dist"),
        )
    )


def dtw_pairs(
    df=None,
    m: int = 24,
    segments: int = 4,
    alphabet: int = 4,
    bucket: str = "1h",
    by: str = "source",
    ts: str = "ts",
    counts=None,
    band: int = 3,
    top_k: int = 5,
) -> DataFrame:
    """Elastic motif verification: recurring patterns that repeat with
    TIMING JITTER, found by random-projection SAX candidate generation
    (Chiu et al. 2003) and verified by an EXACT-integer Sakoe-Chiba
    banded Dynamic Time Warping distance.  :func:`motif_pairs` demands
    lock-step alignment (its Pearson r compares position i with
    position i); a daily pattern that drifts by an hour scores poorly
    there yet is the SAME behavior — DTW's elastic alignment (warp up
    to ``band`` buckets) is the standard fix, and the candidate
    generator must loosen to match: windows whose SAX words differ in
    at most ONE symbol become candidates, via ``segments`` masked
    equality joins (each drops one word position — two words share a
    mask iff they agree everywhere else), never all-pairs.

    Exactness end to end: the DTW cost is the squared difference of
    raw bucket counts — an exact decimal(38,0) integer — and the DP
    recurrence is pure integer min/plus, so the reported ``dtw`` is an
    exact integer identical in any engine (no float fences needed).
    Out-of-band cells pin to a 10^30 sentinel and are provably never
    on an optimal path (every in-band cell has an in-band predecessor),
    so the sentinel never contaminates a finite value.  The DP runs
    JVM-side as ONE anti-diagonal fold (``aggregate`` over 2m-1
    diagonals, each diagonal a ``transform`` reading only the previous
    two — the classic wavefront parallelization, here a wavefront
    SERIALIZATION that keeps state O(m) instead of O(m^2)); the DuckDB
    oracle replays the identical recurrence as a recursive CTE over
    diagonals.  ``d2`` (the lock-step squared distance, dtw's upper
    bound) and ``gain = d2 - dtw`` (how much warping explained) ride
    along from one ``zip_with`` fold; gain > 0 is the signature of a
    time-shifted repeat that motif_pairs under-scores.

    Trivial matches are excluded as in :func:`motif_pairs` (pairs must
    not overlap, ``h_b - h_a >= m``); flat (NULL-word) windows never
    pair.  Output: ``g, h_a, h_b, word_a, word_b, dtw, d2, gain`` —
    the ``top_k`` NEAREST pairs per series by (dtw asc, h_a, h_b),
    deterministic because dtw is an exact integer.

    Plan shape at 100 TB: raw is touched once for the signal (or never
    via ``counts=`` off a stored rollup tier); masked candidates,
    the DP fold and the top-k window all run on the (|series| x span
    x segments) words frame.  Per (g, mask-position, masked-word)
    bucket the join is quadratic in the bucket's window count — the
    same disclosed trade as :func:`motif_pairs`, widened by the
    ``segments`` projection masks; the DP itself is O(m^2) decimal ops
    per surviving candidate, driver-free and shuffle-free.

    Reference: traval has no elastic-distance layer; this serves the
    jitter-tolerant recurrence reads its per-series plots answer by
    eye.
    """
    if band < 0:
        raise ValueError("band must be >= 0")
    if m < 2:
        raise ValueError("m must be >= 2")
    wds = subsequence_words(df, m=m, segments=segments,
                            alphabet=alphabet, bucket=bucket, by=by,
                            ts=ts, counts=counts)
    wds = wds.filter(F.col("word").isNotNull())
    masks = wds.select(
        "g", "h0", "word", "xs",
        F.explode(F.array(*[
            F.struct(
                F.lit(k).alias("k"),
                F.concat(
                    F.substring("word", 1, k),
                    F.substring("word", k + 2, segments - k - 1),
                ).alias("mword"),
            )
            for k in range(segments)
        ])).alias("mk"),
    ).select("g", "h0", "word", "xs",
             F.col("mk.k").alias("k"), F.col("mk.mword").alias("mword"))
    a = masks.select("g", "k", "mword", F.col("h0").alias("h_a"),
                     F.col("word").alias("word_a"),
                     F.col("xs").alias("xa"))
    b = masks.select("g", "k", "mword", F.col("h0").alias("h_b"),
                     F.col("word").alias("word_b"),
                     F.col("xs").alias("xb"))
    # The per-pair DP below is pure compute on a tiny-in-bytes frame;
    # series-keyed upstream partitioning (and AQE byte-based
    # coalescing) would serialize it onto |series| tasks.  An explicit
    # pair-keyed repartition fans the DP out — and dropDuplicates
    # reuses the same hash partitioning, so this is the ONLY exchange
    # the dedup needs, not an extra one.
    npart = int(a.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                        "32"))
    cand = (
        a.join(b, ["g", "k", "mword"])
        .filter(F.col("h_b") - F.col("h_a") >= m)
        .select("g", "h_a", "h_b", "word_a", "word_b", "xa", "xb")
        .repartition(npart, "g", "h_a", "h_b")
        .dropDuplicates(["g", "h_a", "h_b"])
    )
    dec = lambda c: c.cast(_DEC)  # noqa: E731
    inf = F.lit("1" + "0" * 30).cast(_DEC)

    def _cost(i, j):
        d = dec(F.get("xa", i)) - dec(F.get("xb", j))
        return d * d

    # Diagonal arrays hold ONLY the in-band cells: for anti-diagonal
    # dd the cell (i, j=dd-i) is in the Sakoe-Chiba band iff
    # |2i - dd| <= band, so i spans [ceil((dd-band)/2),
    # floor((dd+band)/2)] intersected with the matrix bounds — at most
    # band+1 cells per diagonal instead of min(dd, m), an O(m/band)
    # compute saving.  Truncating int division stands in for
    # ceil((dd-band)/2) = trunc((dd-band+1)/2): exact when dd > band,
    # and when dd <= band the greatest(0, ...) clamp absorbs the
    # truncation error (the true ceil is <= 0 there too).
    def _lo(d):
        return F.greatest(
            F.lit(0), d - F.lit(m - 1),
            ((d - F.lit(band - 1)) / F.lit(2)).cast("int"),
        )

    def _hi(d):
        return F.least(
            d, F.lit(m - 1), ((d + F.lit(band)) / F.lit(2)).cast("int")
        )

    def _cell(cur, prev, dd, i):
        j = dd - i
        up = F.coalesce(F.get(cur, (i - 1) - _lo(dd - 1)), inf)
        left = F.coalesce(F.get(cur, i - _lo(dd - 1)), inf)
        dia = F.coalesce(F.get(prev, (i - 1) - _lo(dd - 2)), inf)
        return F.when(F.abs(i - j) > band, inf).otherwise(
            _cost(i, j) + F.least(up, left, dia)
        )

    # band=0 leaves odd diagonals with NO in-band cell (lo > hi); the
    # greatest() keeps the sequence ascending and the band guard in
    # _cell pins the one spurious cell to the sentinel, which the next
    # diagonal's coalesce treats exactly like an absent predecessor.
    dp = F.aggregate(
        F.sequence(F.lit(1), F.lit(2 * m - 2)),
        F.struct(
            F.array(_cost(F.lit(0), F.lit(0))).alias("cur"),
            F.lit(None).cast(f"array<{_DEC}>").alias("prev"),
        ),
        lambda acc, dd: F.struct(
            F.transform(
                F.sequence(_lo(dd), F.greatest(_lo(dd), _hi(dd))),
                lambda i: _cell(acc["cur"], acc["prev"], dd, i),
            ).alias("cur"),
            acc["cur"].alias("prev"),
        ),
    )
    d2 = F.aggregate(
        F.zip_with("xa", "xb",
                   lambda x, y: (dec(x) - dec(y)) * (dec(x) - dec(y))),
        F.lit(0).cast(_DEC), lambda acc, v: acc + v,
    )
    scored = cand.select(
        "g", "h_a", "h_b", "word_a", "word_b",
        F.element_at(dp["cur"], 1).cast("long").alias("dtw"),
        d2.cast("long").alias("d2"),
    ).withColumn("gain", F.col("d2") - F.col("dtw"))
    rn = F.row_number().over(
        Window.partitionBy("g").orderBy(F.col("dtw").asc(), "h_a", "h_b")
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= top_k)
        .select("g", "h_a", "h_b", "word_a", "word_b",
                "dtw", "d2", "gain")
    )


def symbol_stream(
    df=None,
    alphabet: int = 4,
    bucket: str = "1h",
    by: str = "source",
    ts: str = "ts",
    counts=None,
) -> DataFrame:
    """Per-BUCKET SAX symbol stream: every bucket of the zero-filled
    count signal z-normalized against the SERIES stats and mapped to a
    letter through the Gaussian equiprobable breakpoints — the
    single-symbol degenerate of :func:`sax_words`' per-slice PAA
    (slice length 1: ns = 1, cs = c), sharing its exact-integer
    verdict arithmetic so the letter assignment is engine-identical:

        round( (n*c - S) / n, 9 )  >=  round( beta * sigma, 9 )

    with S/n the series count sum / bucket count and sigma one sqrt of
    a double OF exact integers.  Constant series (zero variance) emit
    no rows by rule.  One raw groupBy (or none via ``counts=`` off a
    stored rollup tier); output ``g, h, c, sym`` on the tiny
    (|series| x span) frame — the regime-label feed
    :func:`symbol_transitions` models.
    """
    if alphabet not in _SAX_BREAKS:
        raise ValueError("alphabet must be one of 3, 4, 5")
    from traval_spark.operators.monitor import bucket_count_signal

    sig = bucket_count_signal(df, bucket=bucket, by=by, ts=ts,
                              counts=counts)
    stats = sig.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c").cast(_DEC)).alias("s"),
        F.sum(F.col("c").cast(_DEC) * F.col("c")).alias("q"),
    )
    j = sig.join(F.broadcast(stats), "g")
    nd = F.col("n").cast("double")
    varnum = (F.col("n") * F.col("q") - F.col("s") * F.col("s")).cast(
        "double"
    )
    sigma = F.sqrt(varnum) / nd
    lhs = F.round(
        (F.col("n") * F.col("c").cast(_DEC) - F.col("s"))
        .cast("double") / nd,
        9,
    )
    idx = F.lit(0)
    for beta in _SAX_BREAKS[alphabet]:
        idx = idx + (lhs >= F.round(F.lit(beta) * sigma, 9)).cast("int")
    sym = F.when(varnum > 0, F.element_at(
        F.lit(list("abcde"[:alphabet])), idx + 1
    ))
    return (
        j.select("g", "h", "c", sym.alias("sym"))
        .filter(F.col("sym").isNotNull())
    )


def symbol_transitions(
    df=None,
    alphabet: int = 4,
    bucket: str = "1h",
    by: str = "source",
    ts: str = "ts",
    counts=None,
) -> DataFrame:
    """First-order Markov TRANSITION MODEL of each series' regime
    labels: consecutive buckets of the :func:`symbol_stream` pair into
    (sym_from, sym_to) counts and conditional probabilities — the
    model behind "after a quiet hour, how often does this series
    spike?", the regime-dynamics read the symbolic family's static
    word censuses (:func:`sax_words`, :func:`rare_windows`) cannot
    answer.  Because the signal is zero-filled, consecutive h values
    are genuinely adjacent hours — no gap ever masquerades as a
    transition.

    Exactness: transition counts are exact integers off ONE lag window
    + groupBy on the symbol stream; ``p`` is one division of two exact
    integers (row-conditional: p(sym_to | sym_from), denominator the
    per-(g, sym_from) transition total), rounded 9dp as the fence.

    Plan shape: one raw groupBy to the signal (or none via ``counts=``
    off a stored tier), one window, one groupBy — all on the
    (|series| x span) frame; output is at most |series| x alphabet^2
    rows.  Output: ``g, sym_from, sym_to, cnt, p``.

    Reference: traval has no regime model; this is the transition
    structure its per-series plots let users eyeball.
    """
    st = symbol_stream(df, alphabet=alphabet, bucket=bucket, by=by,
                       ts=ts, counts=counts)
    w = Window.partitionBy("g").orderBy("h")
    pairs = (
        st.withColumn("sym_to", F.lead("sym").over(w))
        .filter(F.col("sym_to").isNotNull())
        .groupBy("g", F.col("sym").alias("sym_from"), "sym_to")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_from = Window.partitionBy("g", "sym_from")
    return pairs.select(
        "g", "sym_from", "sym_to", "cnt",
        F.round(
            F.col("cnt").cast("double")
            / F.sum("cnt").over(w_from).cast("double"),
            9,
        ).alias("p"),
    )


def symbol_entropy(
    df=None,
    alphabet: int = 4,
    bucket: str = "1h",
    by: str = "source",
    ts: str = "ts",
    counts=None,
) -> DataFrame:
    """Markov ENTROPY RATE per series — how predictable is the next
    hour's regime given this hour's?  Aggregates
    :func:`symbol_transitions` to

        H_rate = - sum_{s,s'} (n_ss' / T) * ln(n_ss' / n_s)

    (T total transitions, n_s the from-state total): 0 for a
    deterministic cycle, ln(alphabet) for i.i.d. noise — THE scalar
    that separates "duty-cycled but regular" from "genuinely erratic"
    where variance and ACF both conflate them.  ``h_max = ln(k_used)``
    (k_used = distinct from-states observed) and the ratio
    ``predictability = 1 - H_rate/h_max`` ride along (NULL when
    k_used = 1 — a single regime has no transition structure to
    score).

    Exactness: every n_ss'/n_s and n_ss'/T is a ratio of exact
    integers; each ln() term is a double of one exact division, and
    the <= alphabet^2-term sum is the only order-dependent float
    reduction, fenced by rounding to 6dp (the ljung_box convention).

    Same plan shape as :func:`symbol_transitions` plus one groupBy on
    the |series| x alphabet^2 frame.  Output: ``g, n_trans, k_used,
    h_rate, predictability``.
    """
    tr = symbol_transitions(df, alphabet=alphabet, bucket=bucket,
                            by=by, ts=ts, counts=counts)
    w_from = Window.partitionBy("g", "sym_from")
    w_g = Window.partitionBy("g")
    scored = tr.select(
        "g", "sym_from", "cnt",
        F.sum("cnt").over(w_from).alias("n_s"),
        F.sum("cnt").over(w_g).alias("t_tot"),
    )
    term = -(
        F.col("cnt").cast("double") / F.col("t_tot").cast("double")
    ) * F.log(
        F.col("cnt").cast("double") / F.col("n_s").cast("double")
    )
    g = scored.groupBy("g").agg(
        F.max("t_tot").cast("long").alias("n_trans"),
        F.countDistinct("sym_from").alias("k_used"),
        F.round(F.sum(term), 6).alias("h_rate"),
    )
    hmax = F.log(F.col("k_used").cast("double"))
    return g.select(
        "g", "n_trans", F.col("k_used").cast("int").alias("k_used"),
        "h_rate",
        F.when(
            F.col("k_used") > 1,
            F.round(1.0 - F.col("h_rate") / hmax, 6),
        ).alias("predictability"),
    )


def symbol_mi(
    df=None,
    alphabet: int = 4,
    bucket: str = "1h",
    by: str = "source",
    ts: str = "ts",
    counts=None,
) -> DataFrame:
    """Regime MUTUAL INFORMATION between series pairs: how much does
    knowing series a's hourly regime letter tell you about series b's,
    in nats — the nonlinear coupling read :func:`lead_lag`'s Pearson r
    cannot see (two series locked in an XOR-like regime relation have
    r near 0 and MI near ln 2) and :func:`sax_pairs`' word-equality
    share undercounts (systematically OPPOSITE regimes score 0 there
    but carry full information).

    Construction per unordered pair (a < b) over the shared zero-fill
    spine (same h set by construction, so the bucket join is exact
    alignment): joint counts n_st over hours where BOTH series emit a
    symbol, marginals n_s / n_t and total T from the SAME joint table
    (so conditioning on co-presence is consistent), and

        MI  = sum_st (n_st / T) * ln( n_st * T / (n_s * n_t) )
        NMI = MI / sqrt(H_a * H_b)      (1 = deterministic relation)

    with H the marginal regime entropies.  Every ratio inside every
    ``ln`` is exact-integer; the <= alphabet^2-term MI sum and the
    <= alphabet-term entropy sums are the only order-dependent float
    reductions, 6dp-fenced (the ljung_box convention).  NMI is NULL
    when either marginal entropy is 0 (a single-regime side carries no
    information to normalize by).  Constant series never appear
    (:func:`symbol_stream` drops them).

    Plan shape: one raw groupBy to the signal (or none via
    ``counts=``), the bucket self-join and all aggregations on the
    tiny symbol frame; output |series|^2/2 rows — the same disclosed
    quadratic-in-series trade as :func:`xcorr_lags`.

    Output: ``a, b, n, mi, h_a, h_b, nmi``.

    Reference: traval has no cross-series information measure; this
    quantifies the co-behavior its stacked plots show qualitatively.
    """
    st = symbol_stream(df, alphabet=alphabet, bucket=bucket, by=by,
                       ts=ts, counts=counts)
    a = st.select(F.col("g").alias("a"), "h", F.col("sym").alias("sa"))
    b = st.select(F.col("g").alias("b"), "h", F.col("sym").alias("sb"))
    joint = (
        a.join(b, "h")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "sa", "sb")
        .agg(F.count(F.lit(1)).alias("n_st"))
    )
    w_s = Window.partitionBy("a", "b", "sa")
    w_t = Window.partitionBy("a", "b", "sb")
    w_p = Window.partitionBy("a", "b")
    sc = joint.select(
        "a", "b", "n_st",
        F.sum("n_st").over(w_s).alias("n_s"),
        F.sum("n_st").over(w_t).alias("n_t"),
        F.sum("n_st").over(w_p).alias("t_tot"),
    )
    mi_term = (
        F.col("n_st").cast("double") / F.col("t_tot").cast("double")
    ) * F.log(
        F.col("n_st").cast("double") * F.col("t_tot").cast("double")
        / (F.col("n_s").cast("double") * F.col("n_t").cast("double"))
    )
    mi = sc.groupBy("a", "b").agg(
        F.max("t_tot").cast("long").alias("n"),
        F.round(F.sum(mi_term), 6).alias("mi"),
    )

    def _marginal_entropy(col, alias):
        m = joint.groupBy("a", "b", col).agg(
            F.sum("n_st").alias("n_m"))
        tt = F.sum("n_m").over(Window.partitionBy("a", "b"))
        term = -(
            F.col("n_m").cast("double") / F.col("t_tot").cast("double")
        ) * F.log(
            F.col("n_m").cast("double") / F.col("t_tot").cast("double")
        )
        return (
            m.withColumn("t_tot", tt)
            .groupBy("a", "b")
            .agg(F.round(F.sum(term), 6).alias(alias))
        )

    ha = _marginal_entropy("sa", "h_a")
    hb = _marginal_entropy("sb", "h_b")
    out = mi.join(ha, ["a", "b"]).join(hb, ["a", "b"])
    nmi = F.when(
        (F.col("h_a") > 0) & (F.col("h_b") > 0),
        F.round(F.col("mi")
                / F.sqrt(F.col("h_a") * F.col("h_b")), 6),
    )
    return out.select("a", "b", "n", "mi", "h_a", "h_b",
                      nmi.alias("nmi"))
