"""Mergeable distinct-count sketches for the retention-tier cascade.

The cascade's count/sum/min/max measures compose exactly (rollup.py), but
``COUNT(DISTINCT x)`` does not: a 1h tier cannot be built from 1m
distinct *counts*.  What does compose is a mergeable *sketch* stored as a
tier column — 1m tiers carry per-bucket sketches, coarser tiers merge
them, and the count is extracted at read time.  Two sketches, two
regimes:

- **KMV (k minimum values)** — the k smallest distinct ``xxhash64``
  values per group, kept as a sorted ``array<bigint>`` column.  While a
  group's true cardinality stays below ``k`` the sketch IS the distinct
  hash set and the extracted count is **exact** (this is what the DuckDB
  ``COUNT(DISTINCT ...)`` oracle pins); past ``k`` it degrades to the
  standard (k-1)/U(k) order-statistics estimator (Bar-Yossef et al. 2002,
  "Counting distinct elements in a data stream").  Merging tiers is
  ``array_distinct(flatten(...))`` + sort + slice — bounded at fan_in×k
  values, pure codegen, no Python.  Caveat for giant *leaf* groups: the
  leaf aggregation's partial state is the per-partition distinct hash set
  (Spark's ``collect_set``) and is only cut to k at the end; leaf groups
  here are minute-buckets of one source, which bounds it, but for
  unbounded groups use the HLL path below.

- **HLL (Apache DataSketches, Spark built-in)** — ``hll_sketch_agg`` /
  ``hll_union_agg`` / ``hll_sketch_estimate``.  State is O(2^lgk) bytes
  per group *at every stage* (bounded even for a billion-row group), all
  JVM-side.  The DataSketches HLL is exact while the sketch is still in
  sparse/coupon mode (measured: exact to ~400 distinct at lgk=12, ~800+
  at lgk=14 — verified in tests), then ~1.04/sqrt(2^lgk) relative error
  beyond; it is deterministic for a
  given input set, so tier-merge == direct-aggregation holds bit-for-bit.

Reference note: the traval reference (ArtesiaWater/traval) has no
distinct-count machinery at all — this is part of the from-scratch tier
engine (BASELINE.json north_star), not a ported operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from traval_spark.functions.ts import ensure_ntz
from traval_spark.rollup import TIERS

#: hash domain constants for the KMV estimator: xxhash64 is uniform over
#: signed 64-bit; u = (h + 2^63 + 1) / 2^64 maps it to (0, 1].
_HASH_OFFSET = float(2**63) + 1.0
_HASH_RANGE = float(2**64)


# -- KMV --------------------------------------------------------------------


def kmv_agg(col: Column | str, k: int = 256) -> Column:
    """Aggregate expression: sorted array of the k smallest distinct
    ``xxhash64`` values of ``col`` (NULLs excluded, matching
    ``COUNT(DISTINCT ...)``)."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.when(c.isNotNull(), F.xxhash64(c))
    return F.slice(F.array_sort(F.collect_set(h)), 1, k)


def kmv_merge(col: Column | str, k: int = 256) -> Column:
    """Aggregate expression merging KMV arrays from a finer tier.

    Union of ≤k-element sorted sets, re-cut to the k smallest — the KMV
    merge rule.  Partial-aggregation state is bounded by fan_in × k.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list(c)))), 1, k
    )


def kmv_estimate(col: Column | str, k: int = 256) -> Column:
    """Distinct-count from a KMV array: exact size while |S| < k, else
    the (k-1)/U(k) estimator on the k-th smallest normalized hash."""
    c = F.col(col) if isinstance(col, str) else col
    size = F.size(c)
    u_k = (F.element_at(c, k).cast("double") + F.lit(_HASH_OFFSET)) / F.lit(
        _HASH_RANGE
    )
    est = F.when(size < k, size.cast("double")).otherwise(F.lit(k - 1) / u_k)
    return F.round(est).cast("long")


# -- HLL (DataSketches built-ins) -------------------------------------------


def hll_agg(col: Column | str, lgk: int = 12) -> Column:
    """Aggregate expression: DataSketches HLL sketch (binary) of ``col``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.hll_sketch_agg(c, F.lit(lgk))


def hll_merge(col: Column | str) -> Column:
    """Aggregate expression merging HLL sketch columns from a finer tier."""
    c = F.col(col) if isinstance(col, str) else col
    return F.hll_union_agg(c, F.lit(False))


def hll_estimate(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.hll_sketch_estimate(c)


# -- tier wiring ------------------------------------------------------------


def distinct_tier(
    df: DataFrame,
    tier: str = "1m",
    key_col: str = "user_id",
    k: int = 256,
    lgk: int = 12,
    method: str = "kmv",
    ts_col: str = "ts",
) -> DataFrame:
    """Leaf distinct-sketch tier: (source, bucket, sketch) from raw rows.

    ``method='kmv'`` emits an ``array<bigint>`` sketch column named
    ``kmv``; ``method='hll'`` a ``binary`` column named ``hll``.
    """
    unit, _ = TIERS[tier]
    df = ensure_ntz(df, ts_col)
    bucket = F.date_trunc(unit, F.col(ts_col)).cast("timestamp_ntz")
    if method == "kmv":
        agg = kmv_agg(key_col, k).alias("kmv")
    elif method == "hll":
        agg = hll_agg(key_col, lgk).alias("hll")
    else:
        raise ValueError(f"unknown sketch method {method!r}")
    return df.groupBy(F.col("source"), bucket.alias("bucket")).agg(agg)


def distinct_cascade(
    tier_df: DataFrame, tier: str, k: int = 256, method: str = "kmv"
) -> DataFrame:
    """Merge a finer distinct-sketch tier into a coarser one.

    Exactly mirrors ``rollup_cascade``: the coarser tier never rescans
    raw rows, it merges the finer tier's sketch column.
    """
    unit, _ = TIERS[tier]
    bucket = F.date_trunc(unit, F.col("bucket")).cast("timestamp_ntz")
    if method == "kmv":
        agg = kmv_merge("kmv", k).alias("kmv")
    elif method == "hll":
        agg = hll_merge("hll").alias("hll")
    else:
        raise ValueError(f"unknown sketch method {method!r}")
    return tier_df.groupBy(F.col("source"), bucket.alias("bucket")).agg(agg)


def distinct_counts(
    tier_df: DataFrame, k: int = 256, method: str = "kmv",
    out_col: str = "n_distinct",
) -> DataFrame:
    """Read-time extraction: replace the sketch column with its count."""
    if method == "kmv":
        est = kmv_estimate("kmv", k)
        drop = "kmv"
    elif method == "hll":
        est = hll_estimate("hll")
        drop = "hll"
    else:
        raise ValueError(f"unknown sketch method {method!r}")
    return tier_df.withColumn(out_col, est).drop(drop)


def kmv_overlap(
    tier_df: DataFrame,
    in_a: Column,
    in_b: Column,
    by: tuple[str, ...] = ("source",),
    sketch_col: str = "kmv",
    k: int = 256,
) -> DataFrame:
    """Set ALGEBRA over stored KMV sketches — the Theta-sketch-family
    read Druid/DataSketches users reach for: from a stored distinct
    tier alone, estimate the overlap between two bucket periods (users
    active in both January and the last week; cohort retention without
    ever re-scanning raw).  ``in_a`` / ``in_b`` are boolean Columns
    over the tier rows (typically bucket-range predicates; they may
    overlap).

    Estimator (Beyer et al. 2007 / the Theta framework): merge each
    period's sketches, let M = the k smallest of A ∪ B (itself a valid
    KMV of the union); then

        jaccard  = |M ∩ A ∩ B| / |M|
        union    = KMV estimate of M
        intersect = round(jaccard * union)

    While true union cardinality < k every sketch is the full hash set
    and all four outputs are EXACT (the oracle pins this regime);
    beyond k the estimator regime takes over (relative-error pytest).
    All set ops run on the ≤k-element sorted integer arrays — array
    built-ins, engine-deterministic given the stored hashes.

    Sources missing from either period are dropped (inner join —
    overlap against an absent period is a policy question, not a 0).
    Output: ``*by, n_a_est, n_b_est, union_est, inter_est, jaccard``
    (jaccard rounded 6dp; NULL when both periods are empty sketches).
    """
    def side(pred, name):
        return (
            tier_df.filter(pred)
            .groupBy(*by)
            .agg(kmv_merge(sketch_col, k).alias(name))
        )

    j = side(in_a, "__a").join(side(in_b, "__b"), list(by))
    m = F.slice(
        F.array_sort(F.array_distinct(F.concat("__a", "__b"))), 1, k
    )
    j = j.withColumn("__m", m)
    matches = F.size(
        F.array_intersect("__m", F.array_intersect("__a", "__b"))
    )
    msize = F.size("__m")
    jac = F.when(msize > 0, matches.cast("double") / msize.cast("double"))
    union_est = kmv_estimate("__m", k)
    return j.select(
        *by,
        kmv_estimate("__a", k).alias("n_a_est"),
        kmv_estimate("__b", k).alias("n_b_est"),
        union_est.alias("union_est"),
        F.round(jac * union_est).cast("long").alias("inter_est"),
        F.round(jac, 6).alias("jaccard"),
    )


# -- Count-min (frequency sketch) --------------------------------------------
# The frequency twin of the distinct sketches above: per-key COUNTS over
# unbounded key domains (n-grams, user ids, URLs — anything too wide for
# the exact vocab-bounded heavy-hitter tiers in hist.py). A CMS is a
# depth x width counter grid; add = +1 at (d, hash_d(key)) for every d;
# merge = cell-wise sum; point estimate = min over d (Cormode &
# Muthukrishnan 2005, "An improved data stream summary: the count-min
# sketch"). Stored LONG-FORM like the histogram tiers — (source, bucket,
# d, w, cnt) rows — so the merge is a plain partial-aggregatable
# groupBy-sum and composes through any bucket coarsening. Hashes are the
# portable md5 ladder (hash_uniform with seed=d), bit-identical in
# DuckDB, so the whole sketch has a value-exact oracle.


def cms_cells(key: Column, depth: int = 4, width: int = 256) -> Column:
    """Array of the ``depth`` count-min cells ``(d, w)`` of ``key`` — THE
    cell definition the batch leaf and the streaming 1m leaf both count
    into, so their grids coincide.  ``width`` above 2^31 raises
    ``ValueError`` when the column is built (``hash_bucket``)."""
    from traval_spark.operators.sampling import hash_bucket

    return F.array(*[
        F.struct(
            F.lit(d).alias("d"),
            hash_bucket(key, seed=d, width=int(width)).alias("w"),
        )
        for d in range(int(depth))
    ])


def cms_tier(
    df: DataFrame,
    tier: str = "1m",
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 256,
    ts_col: str = "ts",
) -> DataFrame:
    """Leaf count-min tier: (source, bucket, d, w, cnt) from raw rows.
    Each input row contributes one count in each of ``depth`` rows of
    the grid (a depth-way explode that collapses map-side — at most
    source x buckets x depth x width reduced rows ever shuffle). NULL
    keys are excluded, matching COUNT(key)."""
    unit, _ = TIERS[tier]
    df = ensure_ntz(df, ts_col)
    bucket = F.date_trunc(unit, F.col(ts_col)).cast("timestamp_ntz")
    key = F.col(key_col).cast("string")
    return (
        df.filter(key.isNotNull())
        .select(F.col("source"), bucket.alias("bucket"),
                F.explode(cms_cells(key, depth, width)).alias("__c"))
        .groupBy("source", "bucket", F.col("__c.d").alias("d"),
                 F.col("__c.w").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_cascade(tier_df: DataFrame, tier: str) -> DataFrame:
    """Merge a finer CMS tier into a coarser one: cell-wise sum under
    the coarser bucket — the same groupBy-sum shape as the histogram
    cascade, lossless (merged sketch == sketch built directly from raw)."""
    unit, _ = TIERS[tier]
    bucket = F.date_trunc(unit, F.col("bucket")).cast("timestamp_ntz")
    return (
        tier_df.groupBy("source", bucket.alias("bucket"), "d", "w")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_point(
    tier_df: DataFrame,
    keys: list[str],
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point frequency estimates for ``keys``: (source, bucket, key,
    est) with est = min over d of the key's cell counts (0 when any of
    its cells is absent). The keys' cell coordinates are computed
    driver-side with the same portable hash and broadcast as a tiny
    (key, d, w) frame — the sketch table is filtered by a semi-joinable
    cell list, never scanned per key. Guarantee: est >= true count,
    with overestimates bounded by the standard e/width factor."""
    import hashlib

    spark = tier_df.sparkSession
    cells = []
    for kstr in keys:
        for d in range(int(depth)):
            h = hashlib.md5(f"{d}|{kstr}".encode()).hexdigest()[:8]
            w = int((int(h, 16) / float(1 << 32)) * int(width))
            cells.append((str(kstr), d, w))
    kdf = spark.createDataFrame(cells, "key string, d int, w int")
    joined = tier_df.join(F.broadcast(kdf), ["d", "w"])
    return (
        joined.groupBy("source", "bucket", "key")
        .agg(F.min("cnt").alias("__m"), F.count(F.lit(1)).alias("__n"))
        .select(
            "source", "bucket", "key",
            F.when(F.col("__n") < int(depth), F.lit(0))
            .otherwise(F.col("__m")).cast("long").alias("est"),
        )
    )


# -- Bloom filter (membership sketch) ----------------------------------------
# The membership twin of the sketches above: "did key X appear in this
# bucket?" over unbounded key domains, answerable per tier without
# rescanning raw rows (Bloom 1970, "Space/time trade-offs in hash coding
# with allowable errors"). A Bloom filter is an m-bit array with k set
# bits per key; stored LONG-FORM like the CMS grid — one (source,
# bucket, bit) row per SET bit — so the tier merge is a plain distinct
# union (set-OR of bitsets) that composes losslessly through any bucket
# coarsening: merging 60 1m filters IS the 1h filter of the union set,
# bit-for-bit. Long-form set-bits-only storage also means sparse
# filters cost rows proportional to distinct keys, not to m. Hashes are
# the portable md5 ladder (hash_uniform with its own seed base so bloom
# bits never correlate with CMS cells), bit-identical in DuckDB, so the
# whole sketch has a value-exact oracle. Guarantee: no false negatives;
# false positives at the standard (1 - e^(-kn/m))^k rate.

#: seed base for the bloom hash ladder — disjoint from CMS seeds 0..d-1
_BLOOM_SEED = 7000


def bloom_bits(key: Column, nhash: int = 4, nbits: int = 4096) -> Column:
    """Array of the ``nhash`` bit positions for ``key`` (may collide
    with each other — probe logic dedups driver-side)."""
    from traval_spark.operators.sampling import hash_bucket

    return F.array(*[
        hash_bucket(key, seed=_BLOOM_SEED + h, width=int(nbits))
        for h in range(int(nhash))
    ])


def bloom_tier(
    df: DataFrame,
    tier: str = "1m",
    key_col: str = "user_id",
    nhash: int = 4,
    nbits: int = 4096,
    ts_col: str = "ts",
) -> DataFrame:
    """Leaf Bloom tier: distinct (source, bucket, bit) set-bit rows from
    raw rows. The nhash-way explode collapses map-side (hash-distinct
    partial aggregation) — at most source x buckets x nbits reduced rows
    ever shuffle, regardless of input size. NULL keys are excluded."""
    unit, _ = TIERS[tier]
    df = ensure_ntz(df, ts_col)
    bucket = F.date_trunc(unit, F.col(ts_col)).cast("timestamp_ntz")
    key = F.col(key_col).cast("string")
    return (
        df.filter(key.isNotNull())
        .select(F.col("source"), bucket.alias("bucket"),
                F.explode(bloom_bits(key, nhash, nbits)).alias("bit"))
        .distinct()
    )


def bloom_cascade(tier_df: DataFrame, tier: str) -> DataFrame:
    """Merge a finer Bloom tier into a coarser one: distinct set-bit
    union under the coarser bucket — the set-OR of the finer bitsets.
    Lossless: merged filter == filter built directly from raw, because a
    key's bits depend only on the key."""
    unit, _ = TIERS[tier]
    bucket = F.date_trunc(unit, F.col("bucket")).cast("timestamp_ntz")
    return (
        tier_df.select("source", bucket.alias("bucket"), "bit").distinct()
    )


def bloom_probe(
    tier_df: DataFrame,
    keys: list[str],
    nhash: int = 4,
    nbits: int = 4096,
) -> DataFrame:
    """Membership probes for ``keys``: (source, bucket, key, present)
    with present=1 iff ALL of the key's (deduped) bit positions are set
    in that bucket's filter. The keys' bits are computed driver-side
    with the same portable hash and broadcast as a tiny (key, bit, need)
    frame — the sketch table is joined on bit, never scanned per key.
    Only (source, bucket, key) combinations where at least one bit
    matched appear (a key with zero matching bits is definitively
    absent everywhere it doesn't appear). Guarantee: present=1 for every
    key that truly occurred (no false negatives); present=0 rows and
    missing rows are definitive absence up to the filter's one-sided
    false-positive rate."""
    import hashlib

    spark = tier_df.sparkSession
    rows = []
    for kstr in keys:
        bits = set()
        for h in range(int(nhash)):
            hx = hashlib.md5(
                f"{_BLOOM_SEED + h}|{kstr}".encode()
            ).hexdigest()[:8]
            bits.add(int((int(hx, 16) / float(1 << 32)) * int(nbits)))
        for b in sorted(bits):
            rows.append((str(kstr), b, len(bits)))
    kframe = spark.createDataFrame(rows, "key string, bit int, need int")
    joined = tier_df.join(F.broadcast(kframe), ["bit"])
    return (
        joined.groupBy("source", "bucket", "key")
        .agg(F.count(F.lit(1)).alias("__hit"), F.max("need").alias("__need"))
        .select(
            "source", "bucket", "key",
            (F.col("__hit") == F.col("__need")).cast("int").alias("present"),
        )
    )


# -- KMV set operations -------------------------------------------------------
# Distinct-count ALGEBRA over the KMV tiers: union comes free (kmv_merge)
# but retention/overlap questions need INTERSECTION ("how many of
# yesterday's users returned today?"), which no count column can answer.
# The KMV estimator composes: take the k smallest hashes L of the UNION,
# count how many of them sit in BOTH input sketches, and scale —
# |A ∩ B| ≈ (|L ∩ A ∩ B| / |L|) · est(|A ∪ B|)
# (Beyer et al. 2007, "On synopses for distinct-value estimation under
# multiset operations"). While both true cardinalities stay below k the
# sketches ARE the distinct hash sets, |L| = |A ∪ B|, est is exact, and
# the whole expression collapses to the exact intersection count — the
# regime the oracle pins. Pure codegen: array_intersect / slice on the
# stored sketch arrays, no re-scan of raw rows.


def kmv_intersect_estimate(
    a: Column | str, b: Column | str, k: int = 256
) -> Column:
    """Estimated |A ∩ B| from two KMV sketch arrays (exact while both
    true cardinalities < k)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    merged = F.slice(
        F.array_sort(F.array_distinct(F.concat(ca, cb))), 1, k)
    common = F.size(F.array_intersect(F.array_intersect(ca, cb), merged))
    k_eff = F.size(merged)
    u_k = (F.element_at(merged, k).cast("double")
           + F.lit(_HASH_OFFSET)) / F.lit(_HASH_RANGE)
    union_est = F.when(
        k_eff < k, k_eff.cast("double")
    ).otherwise(F.lit(k - 1) / u_k)
    return F.round(
        common.cast("double") / k_eff.cast("double") * union_est
    ).cast("long")


def sliding_distinct(
    df: DataFrame,
    window: str = "1h",
    slide: str = "10m",
    key_col: str = "user_id",
    k: int = 256,
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window distinct counts via KMV panes (the stream-slicing
    construction rollup.py:sliding_rollup uses, applied to a MERGEABLE
    sketch): raw rows sketch ONCE into slide-width pane KMVs, pane
    sketches union into the k = window/slide overlapping windows
    (sketch union composes through any pane decomposition), one
    estimate extraction per window.  Raw data is scanned and shuffled
    exactly once regardless of the overlap factor — the built-in
    ``F.window(ts, window, slide)`` + countDistinct would replicate
    every RAW row k times AND pay an exact-distinct shuffle per window.

    Exactness regime: estimates are EXACT while a window holds fewer
    than k distinct keys ((k-1)/U(k) beyond — sketch.py header); the
    oracle pins the exact regime.  Output: (source, window_start,
    n_distinct).
    """
    from traval_spark.functions.ts import unix_us
    from traval_spark.rollup import _sliding_us, expand_panes

    w_us, s_us = _sliding_us(window, slide)
    df = ensure_ntz(df, ts_col)
    pane = (
        F.floor(unix_us(F.col(ts_col)) / F.lit(s_us)) * F.lit(s_us)
    ).alias("__pane_us")
    panes = df.groupBy(F.col("source"), pane).agg(
        kmv_agg(key_col, k).alias("kmv")
    )
    merged = (
        expand_panes(panes, w_us, s_us, ["source", "kmv"])
        .groupBy("source", "window_start")
        .agg(kmv_merge("kmv", k).alias("kmv"))
    )
    return distinct_counts(merged, k)


def kmv_difference_estimate(
    a: Column | str, b: Column | str, k: int = 256
) -> Column:
    """Estimated |A \\ B| from two KMV sketch arrays: |A| minus the
    intersection estimate — exact while both true cardinalities < k
    (both terms collapse to exact counts in that regime).  The churn
    twin of :func:`kmv_intersect_estimate`."""
    ca = F.col(a) if isinstance(a, str) else a
    return kmv_estimate(ca, k) - kmv_intersect_estimate(ca, b, k)
