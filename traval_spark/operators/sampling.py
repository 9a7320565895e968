"""Deterministic sampling & data mixing for training-corpus curation.

Every sampler here is a pure function of (id, seed) via the md5 hash —
no RNG state, no ``rand()``: the same row is kept or dropped on every
run, at any parallelism, from any engine (md5 is bit-identical in
DuckDB, so each operator has a full value-level oracle). That
determinism is what makes sampling SAFE in a resumable pipeline: a
retry or a backfill selects exactly the same subset.

- :func:`hash_uniform` — U[0,1) from the first 8 md5 hex digits.
- :func:`deterministic_sample` — Bernoulli(fraction) corpus subsample.
- :func:`mixture_sample` — per-source keep-fractions (the data-mixing
  step: down-weight over-represented sources to hit target ratios).
- :func:`sample_k_per_group` — exact k-per-group "reservoir": rank by
  hash, keep the k smallest. Two-phase top-k by default (salted local
  heads, then a bounded global resolve) so a dominant group never
  serializes onto one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_DENOM = float(1 << 32)
#: widest hash_bucket grid whose buckets all fit an int
_MAX_WIDTH = 1 << 31


def hash_uniform(col: Column, seed: int = 0) -> Column:
    """Deterministic U[0,1): first 8 md5 hex digits of ``seed|value`` as
    a 32-bit integer over 2^32. Portable: DuckDB mirrors it with
    cast(('0x' || substr(md5(...), 1, 8)) as bigint) / 2^32.

    The preimage is only (seed, value) — there is NO per-operator
    domain separation, so two samplers sharing a seed draw PERFECTLY
    CORRELATED uniforms (a k-per-group reservoir on seed 0 picks
    exactly the docs that always survive a Bernoulli subsample on seed
    0: nested, not independent). Composed sampling stages MUST use
    distinct seeds (the entry queries do)."""
    h = F.md5(F.concat(F.lit(f"{seed}|"), col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(_DENOM)


def hash_bucket(col: Column, seed: int, width: int) -> Column:
    """``floor(hash_uniform(col, seed) * width)`` as int — the sketch
    grid/bit coordinate.  When ``width`` is a power of 16 the first
    ``log16(width)`` hex digits of the md5 ARE the bucket exactly
    (v = first 8 hex digits as a 32-bit int; floor(v/2^32 * 16^j) =
    v >> (32-4j) = the int value of the first j hex digits), so the
    shortcut parses j characters instead of 8 and skips the double
    division/multiply/floor — value-identical, just cheaper.  Any
    other width falls back to the full chain.

    The bucket is an int, so ``width`` may be at most 2^31 (the largest
    bucket is then 2^31 - 1); wider grids raise ``ValueError``. The hex
    shortcut stops at j = 7: eight hex digits can exceed int range."""
    w = int(width)
    if w > _MAX_WIDTH:
        raise ValueError(
            f"hash_bucket width {w} exceeds 2^31 = {_MAX_WIDTH}: buckets "
            "are int, so the largest supported width is 2^31")
    j = 0
    p = 1
    while p < w:
        p *= 16
        j += 1
    if p == w and 1 <= j <= 7:
        h = F.md5(F.concat(F.lit(f"{seed}|"), col.cast("string")))
        return F.conv(F.substring(h, 1, j), 16, 10).cast("int")
    return F.floor(hash_uniform(col, seed) * F.lit(w)).cast("int")


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Bernoulli(fraction) subsample, deterministic in (id, seed)."""
    return df.filter(
        hash_uniform(F.col(id_col), seed) < float(fraction)
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    default: float = 0.0,
) -> DataFrame:
    """Per-source keep-fractions — the data-mixing step of corpus
    curation: each source's rows survive with its own probability
    (sources absent from ``weights`` get ``default``). The weights dict
    is small (a handful of sources) and becomes a plan-time CASE chain
    of literals: no join, no broadcast variable, fully codegen."""
    keep = F.lit(float(default))
    for src, frac in sorted(weights.items()):
        keep = F.when(
            F.col(source_col) == src, F.lit(float(frac))
        ).otherwise(keep)
    return df.filter(hash_uniform(F.col(id_col), seed) < keep)


def sample_k_per_group(
    df: DataFrame,
    k: int,
    by: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    salt_buckets: int | None = 32,
) -> DataFrame:
    """Exactly min(k, group size) rows per group, chosen uniformly and
    deterministically: rank rows by hash_uniform within the group and
    keep the k smallest (ties broken by id — md5 collisions on distinct
    ids are negligible but the order must still be total for
    determinism).

    TWO-PHASE top-k (default): a single ``partitionBy(by)`` window sorts
    each group's entire corpus on one task — a dominant group serializes
    the job. Instead, phase 1 ranks within (group, salt) — a balanced
    exchange, salt = xxhash64(id) % salt_buckets, execution-only so it
    needs no cross-engine portability — and keeps each bucket's k
    smallest (any global top-k row is necessarily in its bucket's
    top-k, so this is EXACT, not approximate); phase 2 re-ranks the
    <= salt_buckets * k survivors per group — a one-task window whose
    input is now bounded by salt_buckets * k rows regardless of group
    size. ``salt_buckets=None`` keeps the legacy single-window plan."""
    u = hash_uniform(F.col(id_col), seed)
    return _two_phase_topk(df.withColumn("__u", u), k, by, id_col,
                           salt_buckets)


def _two_phase_topk(
    out: DataFrame, k: int, by: str, id_col: str,
    salt_buckets: int | None,
) -> DataFrame:
    """Keep the k smallest-``__u`` rows per group (ties by id), with the
    exact two-phase salted plan described in sample_k_per_group; drops
    the ``__u`` key column."""
    if salt_buckets and int(salt_buckets) > 1:
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(salt_buckets)))
        w1 = Window.partitionBy(by, "__salt").orderBy(
            F.col("__u").asc(), F.col(id_col).asc()
        )
        out = (
            out.withColumn("__salt", salt)
            .withColumn("__rn1", F.row_number().over(w1))
            .filter(F.col("__rn1") <= int(k))
            .drop("__rn1", "__salt")
        )
    w = Window.partitionBy(by).orderBy(
        F.col("__u").asc(), F.col(id_col).asc()
    )
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .drop("__rn", "__u")
    )


def weighted_sample_k(
    df: DataFrame,
    k: int,
    weight_col: str,
    by: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    salt_buckets: int | None = 32,
) -> DataFrame:
    """Exactly min(k, group size) rows per group, WITHOUT replacement,
    with inclusion probability proportional to ``weight_col`` — the
    Efraimidis-Spirakis (2006) exponential-key reservoir, deterministic
    via the portable hash: key = -ln(1 - u(id, seed)) / w, keep the k
    SMALLEST keys per group (an Exp(w) draw per row; higher weight →
    stochastically smaller key).  The quality-weighted counterpart of
    :func:`sample_k_per_group` for mixing stages that should prefer
    high-scoring documents without hard-cutting the tail.

    Same exact two-phase salted top-k plan (a dominant group never
    serializes onto one task).  Rows with NULL or non-positive weight
    are excluded — they have no defined draw."""
    w = F.col(weight_col).cast("double")
    key = -F.log(F.lit(1.0) - hash_uniform(F.col(id_col), seed)) / w
    return _two_phase_topk(
        df.filter(w > 0).withColumn("__u", key),
        k, by, id_col, salt_buckets,
    )


def split_assign(
    df: DataFrame,
    splits: list[tuple[str, float]],
    id_col: str = "doc_id",
    seed: int = 0,
    out: str = "split",
) -> DataFrame:
    """Deterministic dataset split column (train/val/test): each row is
    assigned by where its hash_uniform falls in the cumulative fraction
    ladder. ``splits`` is an ORDERED list of (name, fraction) summing to
    1 (validated); the last split absorbs the u ~ 1.0 edge. Being a pure
    hash of (id, seed), membership is stable across runs, re-shards, and
    engines — a doc can never silently migrate from test into train."""
    total = sum(f for _, f in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    u = hash_uniform(F.col(id_col), seed)
    expr = F.lit(splits[-1][0])
    cum = 0.0
    bounds = []
    for name, frac in splits[:-1]:
        cum += frac
        bounds.append((name, cum))
    for name, bound in reversed(bounds):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn(out, expr)


def epoch_upsample(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Repetition-factor data mixing (the up-sampling half of a mixture
    recipe, where :func:`mixture_sample` is the down-sampling half): a
    source with weight w contributes floor(w) full epochs of every doc
    plus one more with probability frac(w), decided per-doc by the
    deterministic hash — weight 2.5 means every doc twice and half the
    docs (always the same half) a third time. Adds an ``epoch`` int
    column (0-based copy index) so the loader/packer can keep copies
    distinguishable; sources absent from ``weights`` default to 1.0
    (kept once), NOT dropped — up-sampling a few sources must not
    silently discard the rest.

    Pure-JVM explode of a per-row int sequence: no shuffle, no Python,
    output size = sum of per-source ceil/floor mixes. Deterministic in
    (id, seed) — safe under retries and backfills like every sampler
    here (use a seed distinct from composed samplers; see
    :func:`hash_uniform` on correlated draws)."""
    if not weights:
        raise ValueError("weights must name at least one source")
    pairs: list[Column] = []
    for k, v in weights.items():
        if v < 0:
            raise ValueError(f"negative weight for {k!r}")
        pairs += [F.lit(k), F.lit(float(v))]
    w = F.coalesce(
        F.create_map(*pairs)[F.col(source_col)], F.lit(1.0)
    )
    nfull = F.floor(w).cast("int")
    extra = (
        hash_uniform(F.col(id_col), seed) < (w - F.floor(w))
    ).cast("int")
    return (
        df.withColumn("__reps", nfull + extra)
        .filter(F.col("__reps") > 0)
        .withColumn(
            "epoch",
            F.explode(F.sequence(F.lit(0), F.col("__reps") - F.lit(1))),
        )
        .drop("__reps")
    )


def token_budget_sample(
    seqs: DataFrame,
    budgets: dict[str, int],
    source_col: str = "source",
    n_tok_col: str = "n_tok",
    id_col: str = "doc_id",
    seed: int = 0,
    shards: int = 64,
) -> DataFrame:
    """Per-source TOKEN-budget cap ("take 10B tokens of src0"), the
    budget-denominated alternative to fraction mixing: documents are
    consumed in deterministic pseudo-random order (md5 shard, then id)
    until the source's budget is filled; the straddling document is
    kept (>= budget coverage when available — the same convention as
    packing's overflow rule). Sources absent from ``budgets`` are kept
    whole.

    The running token count is the SAME skew-safe two-level prefix sum
    as packing.assign_packs: per-(source, shard) local cumsum + tiny
    broadcast-scale shard offsets — two balanced exchanges, never a
    one-task-per-source sort, so a dominant source cannot serialize
    the job. Deterministic in (id, seed): a retry keeps exactly the
    same documents."""
    from traval_spark.packing import shard_key  # lazy: packing imports us

    if not budgets:
        raise ValueError("budgets must name at least one source")
    base = seqs.filter(F.col(n_tok_col).isNotNull()).withColumn(
        "__shard", shard_key(id_col, int(shards), seed)
    )
    w_loc = (
        Window.partitionBy(source_col, "__shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before_loc = (
        F.sum(F.col(n_tok_col).cast("long")).over(w_loc)
        - F.col(n_tok_col)
    ).cast("long")
    totals = base.groupBy(source_col, "__shard").agg(
        F.sum(F.col(n_tok_col).cast("long")).alias("__tot")
    )
    w_off = (
        Window.partitionBy(source_col)
        .orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        source_col,
        "__shard",
        F.coalesce(F.sum("__tot").over(w_off), F.lit(0)).alias("__off"),
    )
    pairs: list[Column] = []
    for k, v in budgets.items():
        if v < 0:
            raise ValueError(f"negative budget for {k!r}")
        pairs += [F.lit(k), F.lit(int(v)).cast("long")]
    budget = F.create_map(*pairs)[F.col(source_col)]
    joined = base.withColumn("__before_loc", before_loc).join(
        offsets, [source_col, "__shard"]
    )
    keep = budget.isNull() | (
        (F.col("__off") + F.col("__before_loc")) < budget
    )
    return joined.filter(keep).drop("__shard", "__before_loc", "__off")


def temperature_mix(
    df: DataFrame,
    alpha: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    ndigits: int = 6,
) -> DataFrame:
    """Temperature-based source mixing (the multilingual-LM rebalance:
    sample sources proportional to n_s^alpha instead of n_s, so
    alpha=1 keeps the natural mix and alpha->0 approaches uniform).

    Keep fraction per source: f_s = (n_s / n_min)^(alpha-1), anchored
    so the SMALLEST source keeps everything — expected kept counts are
    then exactly proportional to n_s^alpha.  Unlike
    :func:`mixture_sample` the weights are not caller literals; they
    derive from the corpus itself: one tiny groupBy-count, the
    fractions broadcast-joined back, rows surviving the usual
    deterministic ``hash_uniform`` draw (retry/backfill-safe).  The
    fraction is rounded to ``ndigits`` BEFORE the comparison so a
    last-ulp libm pow() disagreement between engines cannot flip a
    boundary row.
    """
    counts = df.groupBy(source_col).agg(F.count("*").alias("__n"))
    nmin = counts.agg(F.min("__n").alias("__nm"))
    fracs = (
        counts.crossJoin(F.broadcast(nmin))
        .select(
            source_col,
            F.round(
                F.pow(F.col("__n") / F.col("__nm"),
                      F.lit(float(alpha) - 1.0)),
                ndigits,
            ).alias("__f"),
        )
    )
    return (
        df.join(F.broadcast(fracs), source_col)
        .filter(hash_uniform(F.col(id_col), seed) < F.col("__f"))
        .drop("__f")
    )


def stratified_holdout(
    df: DataFrame,
    frac: float,
    by: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    salt_buckets: int | None = 32,
) -> DataFrame:
    """Exact-count stratified holdout: per group, EXACTLY
    ``ceil(frac * n_g)`` rows labeled ``'val'`` (the k_g smallest
    :func:`hash_uniform` draws, ties by id), everything else
    ``'train'`` — the eval-set split for when :func:`split_assign`'s
    hash-Bernoulli binomial jitter is not acceptable because every
    stratum must hit its quota exactly. Deterministic in (id, seed):
    retries and backfills land identical splits.

    Scale shape: group quotas come from ONE partial-aggregatable
    groupBy-count broadcast back onto the rows; candidate selection
    rides the same two-phase salted top-k as
    :func:`sample_k_per_group`, generalized to a per-group k — phase 1
    bounds each (group, salt) bucket to its group's k_g, phase 2
    resolves the <= salt_buckets * k_g survivors. The label lands via a
    left join of the val-id set onto the unfiltered input. Design
    point is the HOLDOUT regime (frac small, so k_g rows per group fit
    one task in phase 2); for large fractions use ``split_assign``.
    ``ceil`` runs on the same IEEE double product in Spark and the SQL
    oracle, so quota boundaries cannot drift cross-engine.
    """
    cnt = df.groupBy(by).agg(
        F.ceil(F.count(F.lit(1)) * F.lit(float(frac)))
        .cast("int")
        .alias("__k")
    )
    cand = (
        df.select(by, id_col)
        .withColumn("__u", hash_uniform(F.col(id_col), seed))
        .join(F.broadcast(cnt), by)
    )
    if salt_buckets and int(salt_buckets) > 1:
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(salt_buckets)))
        w1 = Window.partitionBy(by, "__salt").orderBy(
            F.col("__u").asc(), F.col(id_col).asc()
        )
        cand = (
            cand.withColumn("__salt", salt)
            .withColumn("__rn1", F.row_number().over(w1))
            .filter(F.col("__rn1") <= F.col("__k"))
            .drop("__rn1", "__salt")
        )
    w = Window.partitionBy(by).orderBy(
        F.col("__u").asc(), F.col(id_col).asc()
    )
    val = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.col("__k"))
        .select(F.col(id_col).alias("__vid"))
    )
    return (
        df.join(val, F.col(id_col) == F.col("__vid"), "left")
        .withColumn(
            "split",
            F.when(F.col("__vid").isNotNull(), F.lit("val")).otherwise(
                F.lit("train")
            ),
        )
        .drop("__vid")
    )


def recency_budget(
    seqs: DataFrame,
    budgets: dict[str, int],
    bucket_col: str,
    ts_col: str,
    source_col: str = "source",
    n_tok_col: str = "n_tok",
    id_col: str = "doc_id",
) -> DataFrame:
    """Newest-first per-source token budget ("train on the most recent
    10B tokens of src0"): documents are consumed in global recency
    order — (``bucket_col`` desc, ``ts_col`` desc, id) — until the
    source's budget fills; the straddling document is kept (the same
    >= budget convention as :func:`token_budget_sample`); sources
    absent from ``budgets`` are kept whole.

    Scale shape: the corpus never sees a global sort. Per-(source,
    bucket) token totals aggregate map-side into a CALENDAR-bounded
    frame; each bucket's newer-than-it cumulative total comes from one
    window over that tiny frame and joins back as an offset; the
    intra-bucket running count partitions by (source, bucket). This is
    the time-partitioned analog of the md5-shard prefix sum — needed
    because recency is a REAL global order the arbitrary shard
    decomposition cannot express. Pick the bucket granularity
    (day / hour) so one (source, bucket) slice fits a task; the
    operator is deterministic in the data alone (no seed — the order
    is the timeline)."""
    if not budgets:
        raise ValueError("budgets must name at least one source")
    base = seqs.filter(F.col(n_tok_col).isNotNull())
    w_loc = (
        Window.partitionBy(source_col, bucket_col)
        .orderBy(F.col(ts_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before_loc = (
        F.sum(F.col(n_tok_col).cast("long")).over(w_loc)
        - F.col(n_tok_col)
    ).cast("long")
    totals = base.groupBy(source_col, bucket_col).agg(
        F.sum(F.col(n_tok_col).cast("long")).alias("__tot")
    )
    w_off = (
        Window.partitionBy(source_col)
        .orderBy(F.col(bucket_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        source_col,
        bucket_col,
        F.coalesce(F.sum("__tot").over(w_off), F.lit(0)).alias("__off"),
    )
    pairs: list[Column] = []
    for k, v in budgets.items():
        if v < 0:
            raise ValueError(f"negative budget for {k!r}")
        pairs += [F.lit(k), F.lit(int(v)).cast("long")]
    budget = F.create_map(*pairs)[F.col(source_col)]
    joined = base.withColumn("__before_loc", before_loc).join(
        offsets, [source_col, bucket_col]
    )
    keep = budget.isNull() | (
        (F.col("__off") + F.col("__before_loc")) < budget
    )
    return joined.filter(keep).drop("__before_loc", "__off")


def mixture_concentration(
    df: DataFrame,
    weight_col: str,
    by: str = "source",
    ndigits: int = 9,
) -> DataFrame:
    """One-row concentration census of a training mixture — the "is one
    source about to dominate this blend?" read a mixture designer runs
    BEFORE picking :func:`mixture_sample` fractions or trusting a
    per-source dedup threshold.  Three standard concentration numbers
    over the per-group totals of ``weight_col`` (token counts, bytes,
    doc counts — any non-negative integer weight):

    - ``gini``: the Lorenz-curve Gini coefficient,
      ``(2·Σ i·w_(i) − (n+1)·W) / (n·W)`` with w ascending (0 = every
      source equal, →1 = one source holds everything);
    - ``hhi``: Herfindahl–Hirschman index ``Σ (w_g/W)²`` (the
      antitrust-literature number; 1/n at perfect balance, 1.0 at
      monopoly);
    - ``top_share``: the largest single group's weight fraction, with
      the group name (``top_g``; weight ties break to the
      lexicographically LARGEST name — max over the (w, g) struct).

    Plan shape for 100 TB: ONE partial-aggregatable groupBy(by) sum is
    the only corpus-scale pass; everything after runs on the
    |groups|-sized totals frame (the rank window sorts n rows, not the
    corpus).  Exactness: with integer weights, W, Σw², and the Gini
    numerator/denominator are EXACT decimal(38,0) integers — each
    ratio is ONE float division rounded ``ndigits``, engine-identical.
    Rank ties (equal weights) cannot perturb Gini: Σ i·w over a tied
    block is order-invariant because w is constant inside the block.
    Empty input returns an empty frame.  Output: ``n_groups, total_w,
    gini, hhi, top_share, top_g``.
    """
    totals = df.groupBy(F.col(by).alias("g")).agg(
        F.sum(F.col(weight_col).cast("decimal(38,0)")).alias("w")
    )
    rw = Window.orderBy(F.col("w").asc(), F.col("g").asc())
    ranked = totals.select(
        "g", "w", F.row_number().over(rw).cast("decimal(38,0)").alias("i")
    )
    g = ranked.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("w").alias("__W"),
        F.sum(F.col("w") * F.col("w")).alias("__Q"),
        F.sum(F.col("i") * F.col("w")).alias("__IW"),
        F.max(F.struct(F.col("w"), F.col("g"))).alias("__top"),
    )
    n = F.col("n_groups").cast("decimal(38,0)")
    W = F.col("__W")
    gini_num = F.lit(2).cast("decimal(38,0)") * F.col("__IW") - (
        n + F.lit(1).cast("decimal(38,0)")
    ) * W
    gini_den = n * W
    return g.select(
        "n_groups",
        W.cast("long").alias("total_w"),
        F.when(
            W > 0,
            F.round(
                gini_num.cast("double") / gini_den.cast("double"), ndigits
            ),
        ).alias("gini"),
        F.when(
            W > 0,
            F.round(
                F.col("__Q").cast("double")
                / (W.cast("double") * W.cast("double")),
                ndigits,
            ),
        ).alias("hhi"),
        F.when(
            W > 0,
            F.round(
                F.col("__top")["w"].cast("double") / W.cast("double"),
                ndigits,
            ),
        ).alias("top_share"),
        F.col("__top")["g"].alias("top_g"),
    )


def dsir_resample(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    logw_col: str = "logw",
    seed: int = 0,
    ndigits: int = 9,
) -> DataFrame:
    """Gumbel top-k importance resampling — the SECOND half of the
    DSIR recipe (lm.py:dsir_weights produces the log weights; this
    draws the k-document sample with inclusion probability
    proportional to the importance weight, WITHOUT replacement).

    The Gumbel-max trick on log weights:  key_d = logw_d + g_d with
    g_d = -ln(-ln(u_d))  a deterministic standard-Gumbel draw from
    the portable (id, seed) md5 uniform (:func:`hash_uniform`) —
    taking the k LARGEST keys is exactly the Efraimidis-Spirakis
    exponential-key reservoir of :func:`weighted_sample_k`, but
    STAYING IN LOG SPACE: w = exp(logw) for a strongly off-target
    document underflows to 0.0 (and the E-S key then divides by it);
    the Gumbel form never exponentiates, so a logw of -10^4 is as
    well-behaved as 0.  u = 0 (one md5 value in 2^32): Spark's ln(0)
    returns NULL (not -inf), so ``gumbel_key`` is NULL and the
    descending order's NULLS-LAST default means the row simply never
    wins — same outcome as the mathematical key = -inf, but note the
    stored key differs from DuckDB's -inf representation.

    Determinism: keys round to ``ndigits`` and the order is the total
    (key desc, id asc) — exact ties at the cut (astronomically rare
    but the fence makes them possible) resolve identically in any
    engine.  Output: the input row plus ``gumbel_key``, exactly
    min(k, |weights|) rows.

    Plan shape for 100 TB: global top-k lowers to
    TakeOrderedAndProject — per-partition k-heaps map-side, a
    k-bounded merge at the driver; nothing shuffles.  That bounds
    k to driver memory (fine for eval-set / probe sampling); for
    corpus-scale selection (k in the millions) prefer the threshold
    route instead: take the (1 - k/N) quantile of ``gumbel_key`` from
    a DDSketch tier (hist.py) and keep rows above it — same
    distribution, one scan, no driver k-merge.

    Reference: Xie et al. 2023 resample with Gumbel noise over the
    log ratios (public paper, public trick); traval has no analog.
    """
    u = hash_uniform(F.col(id_col), seed)
    key = F.round(F.col(logw_col) + (-F.log(-F.log(u))), ndigits)
    return (
        weights.withColumn("gumbel_key", key)
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col).asc())
        .limit(int(k))
    )


def unimax_budget(
    df: DataFrame,
    budget: int,
    max_epochs: int = 4,
    source_col: str = "source",
    n_tok_col: str = "n_tok",
    ndigits: int = 6,
) -> DataFrame:
    """UniMax budget allocation across sources (Chung et al. 2023,
    "UniMax: Fairer and More Effective Language Sampling for
    Large-Scale Multilingual Pretraining" — public paper): spread a
    total token ``budget`` as UNIFORMLY as possible across sources,
    except no source repeats more than ``max_epochs`` times — the
    principled answer to "temperature mixing over-samples tiny
    sources into memorization" (:func:`temperature_mix` has no epoch
    cap; UniMax IS the cap).

    Waterfilling closed form, no iteration: with per-source capacity
    c_s = max_epochs * n_s sorted ascending (source-name tie-break,
    total order), a source is CAPPED iff giving its capacity to every
    source at or above it still fits:

        c_i * (k - i + 1) + cum_{i-1} <= B        (exact integers)

    — capped sources take c_i epochs' worth exactly; the rest split
    the remainder at the water level t = (B - cum_m) / (k - m), ONE
    exact-integer division (``ndigits``-fenced).  If total capacity
    <= B the budget is unfillable at this epoch cap: every source
    caps and ``shortfall`` reports the unspent tokens (callers raise
    max_epochs or accept the smaller corpus — the disclosed choice,
    never silent over-sampling).

    Output per source: ``source, n_tok, cap, capped, alloc, epochs``
    (epochs = alloc/n_tok, the number a sampler like
    :func:`epoch_upsample` consumes; alloc sums to min(B, sum cap)).

    Plan shape: ONE partial-aggregatable groupBy(source) collapses
    the corpus to |sources| rows; the sort/cumsum/crossover windows
    and the water-level broadcast all run on that tiny frame — the
    corpus itself is never re-scanned or shuffled.
    """
    sizes = df.groupBy(source_col).agg(
        F.sum(F.col(n_tok_col)).cast("decimal(38,0)").alias("n_tok"))
    c = (F.lit(int(max_epochs)).cast("decimal(38,0)")
         * F.col("n_tok")).alias("cap")
    w = Window.orderBy(F.col("cap").asc(), F.col(source_col).asc())
    ranked = (
        sizes.select(source_col, "n_tok", c)
        .withColumn("i", F.row_number().over(w))
        .withColumn("k", F.count(F.lit(1)).over(
            Window.partitionBy()))
        .withColumn(
            "cum_before",
            F.coalesce(
                F.sum("cap").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0).cast("decimal(38,0)"),
            ),
        )
        .withColumn(
            "capped",
            (F.col("cap") * (F.col("k") - F.col("i") + 1)
             + F.col("cum_before") <= F.lit(int(budget))).cast("int"),
        )
    )
    lvl = ranked.groupBy().agg(
        F.sum("capped").alias("m"),
        F.max("k").alias("kk"),
        F.coalesce(
            F.sum(F.when(F.col("capped") == 1, F.col("cap"))),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("cum_m"),
    ).select(
        "m", "kk", "cum_m",
        F.when(
            F.col("kk") > F.col("m"),
            (F.lit(int(budget)) - F.col("cum_m")).cast("double")
            / (F.col("kk") - F.col("m")).cast("double"),
        ).alias("t"),
    )
    out = ranked.crossJoin(F.broadcast(lvl))
    alloc = F.when(F.col("capped") == 1, F.col("cap").cast("double")) \
             .otherwise(F.round(F.col("t"), ndigits))
    return out.select(
        source_col,
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("cap").cast("long").alias("cap"),
        "capped",
        alloc.alias("alloc"),
        F.round(alloc / F.col("n_tok").cast("double"),
                ndigits).alias("epochs"),
        F.when(
            F.col("m") == F.col("kk"),
            (F.lit(int(budget)) - F.col("cum_m")).cast("long"),
        ).otherwise(F.lit(0)).alias("shortfall"),
    )
