"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` carries the
equivalent DuckDB SQL over the same parquet views. Column names and types
are aligned pairwise (the driver hashes values after sorting columns by
name). Floating aggregates are rounded (6dp sums, 4dp cosines, 9dp stats)
in BOTH engines so summation-order differences cannot flip the hash;
hashes (md5, the fold hash) are bit-portable and parity-tested.

Series model for the traval-core queries: the ``events`` table as the
long frame with series_id = event_type (5 series, ~2k points each at
sf=0.01; FIXTURES.md F7). 50 queries, all with full value-level oracles
(offset_detection's greedy pairing is re-expressed as a DuckDB recursive
CTE over per-series jump lists).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from traval_spark.session import hold

# ---------------------------------------------------------------------------
# shared constants (single source of truth for Spark + oracle SQL)
# ---------------------------------------------------------------------------

HARDMAX_THR = 12.0
HARDMIN_THR = 2.0
GRAD_STEP = 20.0
DIFF_THR = 50.0
DIFF_GAP_US = 3_600_000_000  # 1h
SPIKE_THR = 40.0
SPIKE_TOL = 20.0
SPIKE_GAP_US = 7_200_000_000  # 2h
NSIGMA = 2.0
FLAT_WINDOW_US = 86_400_000_000 - 1
FLAT_STD = 35.0
FLAT_MIN_OBS = 5
KEEP_PATTERN = '"k": 6'
MOBS_SAMPLE = 97           # every 97th view event is a "manual observation"
MOBS_MAX_DT_US = 1_800_000_000  # 30m nearest-obs mask
MOBS_THR = 20.0
PI_OFF = 20.0              # synthetic prediction interval: hourly avg +/- PI_OFF
PI_MIN_CI = 120.0          # binding: mean smoothed width ~91 < 120 -> widen
JACCARD_THR = 0.5
COS_DUP_THR = 0.35
TOPK = 10
N_PLANES = 6
LSH_SEED = 42
IVF_NLIST = 8
IVF_NPROBE = 2


_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make traval_spark importable inside Python workers regardless of the
    driver session's cwd/PYTHONPATH: zip the package once and addPyFile it.
    Needed by the applyInPandas/mapInPandas queries (offset kernel, Gorilla
    blocks, multimodal features); equivalent to spark-submit --py-files.
    """
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    import hashlib
    import zipfile

    root = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(root, "traval_spark")
    sources = []
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                st = os.stat(full)
                sources.append((full, st.st_mtime_ns, st.st_size))
    # key the zip on package content state: editing traval_spark must never
    # leave workers importing a stale zip (addPyFile shadows PYTHONPATH)
    h = hashlib.md5(repr(sorted(sources)).encode()).hexdigest()[:12]
    zpath = f"/tmp/traval_spark_pkg_{h}.zip"
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for full, _mt, _sz in sources:
                zf.write(full, os.path.relpath(full, root))
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # already added in this context
    _SHIPPED.add(key)


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from the parquet
    footer on the driver: Spark's own schema inference is a Spark job
    (about 0.1 s on a small table), the footer read none. Timestamps
    without a zone read as TIMESTAMP_NTZ, as Spark infers them."""
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = from_arrow_schema(ds.dataset(path, format="parquet").schema,
                               prefer_timestamp_ntz=True)
    return spark.read.schema(schema).parquet(path)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ship_package(spark)
    return _read(spark, f"{sf_dir}/events.parquet")


def _series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events(spark, sf_dir).select(
        F.col("event_type").alias("series_id"), "ts", "value"
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the testdata ships as one small parquet file -> one input partition;
    # repartition so per-row operators use every core (at real scale the
    # scan has thousands of splits and this is a no-op concern)
    _ship_package(spark)
    return _read(spark, f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, f"{sf_dir}/embeddings.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def _flagged(corr: DataFrame, out: str = "r") -> DataFrame:
    """Project a corrections frame to flagged (series_id, ts, code) rows."""
    return corr.filter(F.col(f"{out}_code") != 0).select(
        "series_id", "ts", F.col(f"{out}_code").cast("int").alias("code")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: clean events with a ruleset, roll up 1m -> 1h, on sf0.001.

    Exercises the full spine: parquet scan -> window rules -> NULL-flag
    semantics -> tumbling rollup -> cascade re-aggregation.
    """
    from traval_spark.plans.ruleset import SparkRuleSet, apply_ruleset
    from traval_spark.rollup import rollup_cascade, rollup_raw

    series = _series(spark, "/root/testdata/sf0.001")
    rs = SparkRuleSet("flagship")
    rs.add_rule("hardmax", "rule_hardmax", apply_to=0,
                kwargs={"threshold": 150.0})
    rs.add_rule("spike", "rule_spike_detection", apply_to=1,
                kwargs={"threshold": 100.0, "spike_tol": 50.0, "max_gap": "2h"})
    wide = apply_ruleset(series, rs)
    cleaned = wide.select(
        F.col("series_id").alias("source"), "ts",
        F.col("step_2").alias("n_tok"),
    )
    t1m = rollup_raw(cleaned, "1m")
    t1h = rollup_cascade(t1m, "1h")
    return t1h.select(
        "source", "bucket", "n_points",
        F.round("sum_tok", 6).alias("sum_val"),
        F.col("min_tok").alias("min_val"),
        F.col("max_tok").alias("max_val"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_hardmax(spark, sf_dir):
    from traval_spark.operators.rules import rule_hardmax

    return _flagged(rule_hardmax(_series(spark, sf_dir), "value", "r",
                                 threshold=HARDMAX_THR))


def q_hardmin(spark, sf_dir):
    from traval_spark.operators.rules import rule_hardmin

    return _flagged(rule_hardmin(_series(spark, sf_dir), "value", "r",
                                 threshold=HARDMIN_THR))


def q_max_gradient(spark, sf_dir):
    from traval_spark.operators.rules import rule_max_gradient

    return _flagged(rule_max_gradient(_series(spark, sf_dir), "value", "r",
                                      max_step=GRAD_STEP, max_timestep="1D"))


def q_diff_threshold(spark, sf_dir):
    from traval_spark.operators.rules import rule_diff_ufunc_threshold

    return _flagged(
        rule_diff_ufunc_threshold(_series(spark, sf_dir), "value", "r",
                                  ufunc="greater_equal", threshold=DIFF_THR,
                                  max_gap="1h")
    )


def q_spike(spark, sf_dir):
    from traval_spark.operators.rules import rule_spike_detection

    return _flagged(
        rule_spike_detection(_series(spark, sf_dir), "value", "r",
                             threshold=SPIKE_THR, spike_tol=SPIKE_TOL,
                             max_gap="2h")
    )


def q_outside_nsigma(spark, sf_dir):
    from traval_spark.operators.rules import rule_outside_n_sigma

    return _flagged(rule_outside_n_sigma(_series(spark, sf_dir), "value", "r",
                                         n=NSIGMA))


def q_diff_nsigma(spark, sf_dir):
    from traval_spark.operators.rules import rule_diff_outside_of_n_sigma

    return _flagged(
        rule_diff_outside_of_n_sigma(_series(spark, sf_dir), "value", "r",
                                     n=NSIGMA, max_gap="1h")
    )


def q_flat_signal(spark, sf_dir):
    from traval_spark.operators.rules import rule_flat_signal

    return _flagged(
        rule_flat_signal(_series(spark, sf_dir), "value", "r",
                         window=1, min_obs=FLAT_MIN_OBS, std_threshold=FLAT_STD,
                         chunk="4D")
    )


def q_keep_comments(spark, sf_dir):
    from traval_spark.operators.rules import rule_keep_comments

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("series_id"), "ts", "value",
        F.col("props").alias("comment"),
    )
    c = rule_keep_comments(ev, "value", "r", keep_comments=[KEEP_PATTERN],
                           comment_series="comment")
    return c.filter(F.col("r_code") != 0).select(
        "series_id", "ts",
        F.col("r_code").cast("int").alias("code"),
        F.col("r_cval").alias("matched"),
    )


def q_asof_resample(spark, sf_dir):
    """resample_short_series_to_long_series semantics: the sparse 'view'
    series as a threshold aligned onto the 'click' series index."""
    from traval_spark.functions.ts import align_resample_ffill_bfill

    ev = _events(spark, sf_dir)
    main = ev.filter(F.col("event_type") == "click").select(
        F.lit("click").alias("series_id"), "ts", "value"
    )
    aux = ev.filter(F.col("event_type") == "view").select(
        F.lit("click").alias("series_id"), "ts", "value"
    )
    out = align_resample_ffill_bfill(main, aux, "value", "thr")
    return out.select("ts", "thr")


def q_comparison_summary(spark, sf_dir):
    from traval_spark.comparison import compare_series, summarize_comparison

    ev = _events(spark, sf_dir)
    s1 = ev.filter(F.col("event_id") % 13 != 0).select(
        F.col("event_type").alias("series_id"), "ts",
        F.when(F.col("event_id") % 11 == 0, None).otherwise(F.col("value"))
        .alias("value"),
    )
    s2 = ev.filter(F.col("event_id") % 17 != 0).select(
        F.col("event_type").alias("series_id"), "ts",
        F.when(F.col("event_id") % 5 == 0, None)
        .otherwise(F.col("value")
                   + F.when(F.col("event_id") % 7 == 0, 1.0).otherwise(0.0))
        .alias("value"),
    )
    return summarize_comparison(compare_series(s1, s2), per_series=True)


def _relative_frames(ev):
    base = ev.filter(F.col("event_id") % 19 != 0).select(
        F.col("event_type").alias("series_id"), "ts",
        F.when(F.col("event_id") % 23 == 0, None).otherwise(F.col("value"))
        .alias("value"),
    )
    s1 = ev.filter(F.col("event_id") % 17 != 0).select(
        F.col("event_type").alias("series_id"), "ts",
        F.when(F.col("event_id") % 5 == 0, None).otherwise(F.col("value"))
        .alias("value"),
    )
    s2 = ev.filter(F.col("event_id") % 13 != 0).select(
        F.col("event_type").alias("series_id"), "ts",
        F.when(F.col("event_id") % 3 == 0, None).otherwise(F.col("value"))
        .alias("value"),
    )
    return s1, s2, base


def q_relative_summary(spark, sf_dir):
    from traval_spark.comparison import (
        compare_series_relative,
        summarize_relative,
    )

    s1, s2, base = _relative_frames(_events(spark, sf_dir))
    return summarize_relative(compare_series_relative(s1, s2, base))


def q_binary_classifier(spark, sf_dir):
    from traval_spark.comparison import (
        binary_classification,
        compare_series_relative,
        with_classifier_stats,
    )

    s1, s2, base = _relative_frames(_events(spark, sf_dir))
    bc = with_classifier_stats(
        binary_classification(compare_series_relative(s1, s2, base))
    )
    stats = ["sensitivity", "tpr", "fnr", "specificity", "tnr", "fpr", "ppv",
             "npv", "fdr", "for", "acc", "prev", "informedness", "mcc"]
    return bc.select(
        "tp", "fp", "tn", "fn",
        *[F.round(F.col(s), 9).alias(s) for s in stats],
    )


def _rollup_events(spark, sf_dir, tier):
    from traval_spark.rollup import rollup_raw

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts",
        F.col("value").alias("n_tok"),
    )
    t = rollup_raw(src, tier)
    return t.select(
        "source", "bucket", "n_points",
        F.round("sum_tok", 6).alias("sum_val"),
        F.col("min_tok").alias("min_val"),
        F.col("max_tok").alias("max_val"),
    )


def q_rollup_1m(spark, sf_dir):
    return _rollup_events(spark, sf_dir, "1m")


def q_rollup_1h_cascade(spark, sf_dir):
    """1h tier computed FROM the 1m tier (cascade identity vs the oracle,
    which aggregates raw rows directly)."""
    from traval_spark.rollup import rollup_cascade, rollup_raw

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts",
        F.col("value").alias("n_tok"),
    )
    t = rollup_cascade(rollup_raw(src, "1m"), "1h")
    return t.select(
        "source", "bucket", "n_points",
        F.round("sum_tok", 6).alias("sum_val"),
        F.col("min_tok").alias("min_val"),
        F.col("max_tok").alias("max_val"),
    )


def q_fl_tier(spark, sf_dir):
    """First/last observation tier, cascaded (rollup.py:fl_rollup /
    fl_cascade): TimescaleDB-style first(value, time)/last(value, time)
    stored as one lexicographically-ordered struct per extreme, so leaf
    build and every coarsening are plain min/max — partial-aggregatable,
    no window. The 1d result here is computed 1h -> 1d so the oracle
    (row_number over raw) checks leaf AND cascade in one query."""
    from traval_spark.rollup import fl_cascade, fl_rollup

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value", "event_id"
    )
    day = fl_cascade(
        fl_rollup(ev, "1h", value_col="value", ident_col="event_id"),
        "1d",
    )
    return day.select(
        "source", "bucket",
        F.col("first.u").alias("first_us"),
        F.col("first.i").alias("first_id"),
        F.col("first.v").alias("first_val"),
        F.col("last.u").alias("last_us"),
        F.col("last.i").alias("last_id"),
        F.col("last.v").alias("last_val"),
    )


def q_locf_from_tier(spark, sf_dir):
    """Dense LOCF read off the stored first/last tier
    (rollup.py:locf_from_tier): the carried value is the TRUE latest
    raw sample at-or-before each bucket end (from the tier's last
    struct), spine + running last(ignorenulls) over the tiny tier
    frame — raw is never re-scanned."""
    from traval_spark.rollup import fl_rollup, locf_from_tier

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value", "event_id"
    )
    t = fl_rollup(ev, "1h", value_col="value", ident_col="event_id")
    return locf_from_tier(t, "1h")


def q_fl_increase(spark, sf_dir):
    """PromQL increase served from the stored first/last tier
    (rollup.py:fl_increase): last-minus-previous-last with the
    Prometheus boundary reset rule; first bucket = within-bucket
    growth."""
    from traval_spark.rollup import fl_increase, fl_rollup

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value", "event_id"
    )
    return fl_increase(
        fl_rollup(ev, "1h", value_col="value", ident_col="event_id")
    )


def q_rollup_1d_salted(spark, sf_dir):
    """1d tier via the explicit two-phase salted aggregation (oracle is a
    plain GROUP BY: salting must never change the answer)."""
    from traval_spark.rollup import salted_rollup

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts",
        F.col("value").alias("n_tok"),
        F.col("event_id").alias("doc_id"),
    )
    t = salted_rollup(src, "1d", n_salt=8, salt_on="doc_id")
    return t.select(
        "source", "bucket", "n_points",
        F.round("sum_tok", 6).alias("sum_val"),
        F.col("min_tok").alias("min_val"),
        F.col("max_tok").alias("max_val"),
    )


def q_rollup_sets(spark, sf_dir):
    """Multi-dimensional marginal tier (rollup.py:rollup_sets): Spark's
    native CUBE over (source, day) — all four marginals (source x day,
    per source, per day, grand total) from ONE Expand + one shuffle,
    grouping flags disambiguating rolled-up NULLs. Values fixed-point
    scaled to exact longs so every sum is engine-exact. At 100 TB the
    coarser marginals re-aggregate off the stored finest grouping
    instead (marginals_from_tier, parity-tested == this)."""
    from traval_spark.rollup import rollup_sets

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 1000).cast("long").alias("v_i"),
    )
    out = rollup_sets(src, dims=("source", "day"), value_col="v_i",
                      cube=True)
    # DuckDB materializes sum(BIGINT) as HUGEINT -> float64 in pandas;
    # project the exact long sum to double (values << 2^53, lossless) so
    # both engines hand the checker the same representation.
    return out.withColumn("sum_v", F.col("sum_v").cast("double"))


def q_swing_compress(spark, sf_dir):
    """Swinging-door error-bounded compression (compress.py:
    swing_compress): the lossy industrial-historian reduction ahead of
    the lossless Gorilla packer — exact-integer rational-slope doors
    (cross-multiplied, sentinel infinities) make the kept set
    identical to the oracle's list_reduce fold; one Arrow kernel per
    bounded series, eps 2.0 value units at the x1000 fixed-point
    scale."""
    from traval_spark.compress import swing_compress

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value", "event_id"
    )
    return swing_compress(ev, eps_scaled=2000)


def q_swing_reconstruct(spark, sf_dir):
    """Interpolated reads served FROM the swinging-door representation
    (compress.py:swing_reconstruct): hourly probe instants evaluated
    against the kept-point polyline via the merged-stream bracket idiom
    (one union + two ordered windows, never probes x kept) — within
    2*eps of every original sample by the compressor's guarantee."""
    from traval_spark.compress import swing_compress, swing_reconstruct

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value", "event_id"
    )
    from traval_spark.functions.ts import unix_us

    kept = swing_compress(ev, eps_scaled=2000)
    probes = ev.select(
        "source", unix_us(F.date_trunc("hour", F.col("ts"))).alias("__u")
    ).select("source", F.expr("__u div 1000").alias("t_ms")).distinct()
    return swing_reconstruct(kept, probes)


def q_gapfill_ffill(spark, sf_dir):
    from traval_spark.rollup import gap_fill, rollup_raw

    src = _events(spark, sf_dir).filter(F.col("event_type") == "purchase").select(
        F.col("event_type").alias("source"), "ts",
        F.col("value").alias("n_tok"),
    )
    dense = gap_fill(rollup_raw(src, "1h"), "1h", method="ffill")
    return dense.select("source", "bucket", "n_points", "gap_filled")


def _distinct_users(spark, sf_dir, method):
    """Mergeable distinct-users tier: 1m sketches -> 1h merge -> counts.

    The 1h tier is built by MERGING the 1m sketch column (never rescanning
    raw rows) — the cascade identity that plain COUNT(DISTINCT) lacks.
    KMV is exact while per-bucket cardinality < k=256 (the oracle's
    COUNT(DISTINCT) regime; max observed 51 at sf0.1); DataSketches HLL
    is exact in its sparse regime (~400 at lgk=12) and bounded-state for
    arbitrarily large groups beyond.
    """
    from traval_spark.sketch import (
        distinct_cascade, distinct_counts, distinct_tier,
    )

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "user_id",
    )
    t1m = distinct_tier(src, "1m", "user_id", k=256, method=method)
    t1h = distinct_cascade(t1m, "1h", k=256, method=method)
    return distinct_counts(t1h, k=256, method=method).select(
        "source", "bucket", F.col("n_distinct").alias("n_users"),
    )


def q_distinct_users_1h(spark, sf_dir):
    return _distinct_users(spark, sf_dir, "kmv")


def q_kmv_overlap(spark, sf_dir):
    """Set algebra over STORED KMV sketches (sketch.py:kmv_overlap):
    overlap between two bucket periods — users active in the first two
    weeks vs the last four days — estimated from the stored 1h distinct
    tier alone (Theta-framework |M ∩ A ∩ B|/|M| with M = k-smallest of
    the merged union), raw never re-scanned. k=4096 keeps sf-scale
    cardinalities in the EXACT regime so the oracle is plain
    COUNT(DISTINCT) set arithmetic; the estimator regime is pinned by
    the relative-error pytest."""
    from traval_spark.sketch import distinct_tier, kmv_overlap

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "user_id",
    )
    t1h = distinct_tier(src, "1h", "user_id", k=4096, method="kmv")
    return kmv_overlap(
        t1h,
        F.col("bucket") < "2024-01-15",
        F.col("bucket") >= "2024-01-28",
        k=4096,
    )


CMS_KEYS = ["1", "7", "42", "9999"]


def q_cms_point_1h(spark, sf_dir):
    """Count-min frequency tiers: 1m long-form (source, bucket, d, w,
    cnt) grid, merged to 1h by plain groupBy-sum (cell counts add —
    the same lossless composition as the histogram tiers), then point
    estimates for a key list (min over depth rows; '9999' never occurs
    so its estimate is pure collision noise, identically computed by
    both engines). The frequency sketch for key domains too wide for
    the exact vocab-bounded heavy-hitter tiers."""
    from traval_spark.sketch import cms_cascade, cms_point, cms_tier

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "user_id",
    )
    t1m = cms_tier(src, "1m", "user_id", depth=4, width=256)
    t1h = cms_cascade(t1m, "1h")
    return cms_point(t1h, CMS_KEYS, depth=4, width=256)


FUNNEL_STEPS = ["signup", "click", "purchase"]


def q_funnel(spark, sf_dir):
    """Strict-order funnel (signup -> click -> purchase): per-user depth
    as a pure-JVM fold over the time-sorted step events (state = one
    int), then users-reaching-step counts. Non-step events are filtered
    BEFORE the one groupBy(user) shuffle, so per-user state is bounded
    by that user's step events."""
    from traval_spark.operators.funnel import funnel_counts

    return funnel_counts(_events(spark, sf_dir), FUNNEL_STEPS)


def q_cohort_retention(spark, sf_dir):
    """Cohort-retention triangle: cohort = first active day, cell =
    distinct users of that cohort active offset days later. distinct
    (user, day) collapses map-side before the join, so shuffles are
    bounded by user-days, not raw events."""
    from traval_spark.operators.funnel import cohort_retention

    return cohort_retention(_events(spark, sf_dir))


BM25_TERMS = [14337, 19646, 6231, 97]


def q_bm25(spark, sf_dir):
    """BM25 relevance of every document against a fixed query-term set
    (Lucene-style non-negative idf, tf saturation with corpus-mean
    length normalization). Plan shape for scale: the token explode
    filters to query terms before any shuffle, document frequencies and
    the (N, avg_len) scalars ride as broadcast frames, the per-doc sum
    is one map-side-combinable groupBy."""
    from traval_spark.operators.lm import bm25_scores

    s = _seqs_from(_docs(spark, sf_dir))
    return bm25_scores(s, BM25_TERMS, k1=1.2, b=0.75)


def q_retained_users_1d(spark, sf_dir):
    """Distinct-set ALGEBRA over the KMV tiers: day-over-day user
    retention per source — |active(d) ∩ active(d+1)| — computed entirely
    from stored sketch arrays (array_intersect codegen on the tier, no
    raw re-scan). Union/merge the tiers already had; intersection is the
    Beyer et al. 2007 KMV estimator, which collapses to the EXACT
    intersection count while per-(source,day) cardinality < k — the
    regime this data is in and the oracle pins. Zero-retention pairs are
    dropped, matching the oracle's inner join."""
    from traval_spark.sketch import distinct_tier, kmv_intersect_estimate

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "user_id",
    )
    t1d = distinct_tier(src, "1d", "user_id", k=4096)
    nxt = t1d.select(
        "source",
        (F.col("bucket") - F.make_dt_interval(F.lit(1))).alias("bucket"),
        F.col("kmv").alias("kmv_next"),
    )
    return (
        t1d.join(nxt, ["source", "bucket"])
        .select(
            "source", "bucket",
            kmv_intersect_estimate("kmv", "kmv_next", k=4096)
            .alias("n_retained"),
        )
        .filter(F.col("n_retained") > 0)
    )


def q_churned_users_1d(spark, sf_dir):
    """Set-DIFFERENCE over the KMV tiers: users active on day d but
    absent on d+1 — |active(d)| - |active(d) ∩ active(d+1)|, entirely
    from stored sketch arrays (sketch.py:kmv_difference_estimate),
    exact in the under-k regime the oracle pins. The churn twin of
    retained_users_1d; zero-churn pairs drop, matching the oracle's
    anti-join."""
    from traval_spark.sketch import distinct_tier, kmv_difference_estimate

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "user_id",
    )
    t1d = distinct_tier(src, "1d", "user_id", k=4096)
    nxt = t1d.select(
        "source",
        (F.col("bucket") - F.make_dt_interval(F.lit(1))).alias("bucket"),
        F.col("kmv").alias("kmv_next"),
    )
    return (
        t1d.join(nxt, ["source", "bucket"])
        .select(
            "source", "bucket",
            kmv_difference_estimate("kmv", "kmv_next", k=4096)
            .alias("n_churned"),
        )
        .filter(F.col("n_churned") > 0)
    )


def q_bloom_probe_1h(spark, sf_dir):
    """Bloom membership tiers: 1m long-form (source, bucket, bit)
    set-bit rows, merged to 1h by distinct union (set-OR of bitsets —
    lossless: the merged filter IS the filter of the union set), then
    membership probes for a key list (present iff ALL of the key's bits
    are set; '9999' never occurs so any present=1 for it would be the
    filter's one-sided false-positive, identically computed by both
    engines). The membership sketch for key domains too wide to store
    exactly — "did user X appear this hour?" without rescanning raw."""
    from traval_spark.sketch import bloom_cascade, bloom_probe, bloom_tier

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "user_id",
    )
    t1m = bloom_tier(src, "1m", "user_id", nhash=4, nbits=4096)
    t1h = bloom_cascade(t1m, "1h")
    return bloom_probe(t1h, CMS_KEYS, nhash=4, nbits=4096)


def _incident_intervals(ev):
    """Deterministic half-open incident windows derived from the events
    table: every 97th event opens a window of 1-3 hours on its own
    event_type. Pure column arithmetic — both engines derive the same
    intervals from the same parquet."""
    return ev.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("interval_id"),
        F.col("event_type").alias("source"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.make_dt_interval(
            F.lit(0), (F.lit(1) + F.col("event_id") % 3).cast("int"),
            F.lit(0), F.lit(0.0))).alias("end"),
    )


def q_interval_events(spark, sf_dir):
    """Scalable range join: label every event with the incident windows
    containing it, then aggregate per window. Spark plans a raw
    ts-BETWEEN join as BroadcastNestedLoopJoin (quadratic, driver-bound
    broadcast); interval_join rewrites it as a bucket equi-join —
    intervals explode into the 1h buckets they cover, points land in
    exactly one bucket, the original predicate post-filters — so each
    qualifying pair is produced exactly once with no dedup shuffle and
    the work spreads across (source, bucket) partitions."""
    from traval_spark.operators.interval import interval_join

    ev = _events(spark, sf_dir)
    iv = _incident_intervals(ev)
    pts = ev.select(F.col("event_type").alias("source"), "ts", "value")
    return (
        interval_join(pts, iv, granularity_s=3600)
        .groupBy("interval_id")
        .agg(F.count(F.lit(1)).alias("n_ev"),
             F.sum("value").alias("sum_val"))
    )


def q_interval_overlaps(spark, sf_dir):
    """Interval×interval overlap join with the first-common-bucket
    guard: two deterministic window sets (2h windows from every 61st
    event, 90m windows from every 73rd), overlapping pairs per source
    plus total overlap duration. Each overlapping pair is emitted
    exactly once — the guard keeps only the later start bucket — so no
    distinct pass is needed before the aggregate."""
    from traval_spark.functions.ts import unix_us
    from traval_spark.operators.interval import overlap_join

    ev = _events(spark, sf_dir)

    def windows(mod, hours):
        return ev.filter(F.col("event_id") % mod == 0).select(
            F.col("event_type").alias("source"),
            F.col("ts").alias("start"),
            (F.col("ts") + F.make_dt_interval(
                F.lit(0), F.lit(0), F.lit(int(hours * 60)), F.lit(0.0)
            )).alias("end"),
        )

    pairs = overlap_join(windows(61, 2.0), windows(73, 1.5),
                         granularity_s=3600)
    ov_us = unix_us(F.least("end", "end_r")) - unix_us(
        F.greatest("start", "start_r"))
    return (
        pairs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_pairs"),
             F.sum(ov_us).cast("long").alias("overlap_us"))
    )


def q_quantile_drift(spark, sf_dir):
    """Quantile drift served from the STORED histogram tier
    (hist.py:hist_quantile_drift): did p50/p95 move between the first
    two weeks and the last four days, in VALUE units — the SLO-owner
    companion to the PSI/KS/Mann-Whitney verdicts; each period's bin
    counts sum off the tier (cascade identity), raw never re-scanned,
    values exact at the tier's lossless x100 discretization."""
    from traval_spark.hist import hist_quantile_drift, hist_tier

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts",
        F.col("value").alias("n_tok"),
    )
    t1h = hist_tier(src, "1h", scale=100)
    return hist_quantile_drift(
        t1h,
        F.col("bucket") < "2024-01-15",
        F.col("bucket") >= "2024-01-28",
        qs=(0.5, 0.95), scale=100,
    )


def q_hist_quantiles_1h(spark, sf_dir):
    """Exact percentile continuous aggregate: long-form histogram tier at
    1m, merged to 1h by plain groupBy-sum (counts add; no percentile is
    ever recomputed from raw), quantiles extracted at read time with
    DuckDB quantile_disc rank semantics. Lossless because events.value
    has 2 decimals: bin = round(value*100).
    """
    from traval_spark.hist import hist_cascade, hist_quantiles, hist_tier

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts",
        F.col("value").alias("n_tok"),
    )
    t1h = hist_cascade(hist_tier(src, "1m", scale=100), "1h")
    return hist_quantiles(t1h, qs=[0.5, 0.95], scale=100)


def q_trimmed_mean_1h(spark, sf_dir):
    """Tier-served robust aggregate (hist.py:hist_trimmed_mean): the
    exact 10%-symmetric trimmed mean per (source, 1h bucket) computed
    from the SAME cascaded 1m->1h histogram tier the quantile read
    uses — rank cuts resolved by integer arithmetic on cumulative bin
    counts, raw never re-sorted. Oracle is the independent row-level
    formulation (row_number trim over raw values)."""
    from traval_spark.hist import hist_cascade, hist_tier, hist_trimmed_mean

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts",
        F.col("value").alias("n_tok"),
    )
    t1h = hist_cascade(hist_tier(src, "1m", scale=100), "1h")
    return hist_trimmed_mean(t1h, alpha=0.1, scale=100)


def q_hist_mad_1h(spark, sf_dir):
    """Tier-served robust location + dispersion (hist.py:hist_mad):
    median and MAD per (source, 1h) straight from the cascaded 1m->1h
    histogram tier — the deviation histogram folds bins equidistant
    from the median together (counts add, still lossless), then the
    same integer rank pick; raw never re-sorted. Oracle is the
    independent row-level formulation (row_number rank picks over raw
    values and raw deviations)."""
    from traval_spark.hist import hist_cascade, hist_mad, hist_tier

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts",
        F.col("value").alias("n_tok"),
    )
    # hist_mad reads its input tier twice (median pick + deviation
    # fold); the second read is a ReusedExchange of the first, so raw is
    # binned once with no cache (a cache here cost 2 more Spark jobs)
    t1h = hist_cascade(hist_tier(src, "1m", scale=100), "1h")
    return hist_mad(t1h, scale=100)


def q_robust_outliers(spark, sf_dir):
    """Hampel-style flags with med/MAD fences served FROM the stored
    tier (hist.py:robust_outliers): one raw scan + one broadcast join
    against the per-(source, 1h) stats frame, deviation kept as an
    exact integer in bin units so the k*MAD boundary is engine-exact.
    Oracle recomputes the fences row-level from raw."""
    from traval_spark.hist import hist_tier, robust_outliers

    src = _events(spark, sf_dir).select(
        "event_id", F.col("event_type").alias("source"), "ts", "value",
    )
    # the hist_mad stats inside robust_outliers read the tier twice,
    # the second as a ReusedExchange (see q_hist_mad_1h)
    t1h = hist_tier(
        src.withColumnRenamed("value", "n_tok"), "1h", scale=100,
        value_col="n_tok",
    )
    return robust_outliers(src, t1h, tier="1h", k=3.0, scale=100)


def q_distinct_users_hll_1h(spark, sf_dir):
    return _distinct_users(spark, sf_dir, "hll")


def q_tpch_late_orders(spark, sf_dir):
    """TPC-H Q4-shape order-priority check: orders in a half-year window
    with AT LEAST ONE line shipped > 30 days after the order date,
    counted per priority. The EXISTS becomes a LEFT SEMI join with a
    compound condition — no duplicate-orderkey inflation, no distinct."""
    o = _tpch(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    l = _tpch(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (o["o_orderkey"] == l["l_orderkey"])
        & (l["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_tpch_priority_lines(spark, sf_dir):
    """TPC-H Q12-shape: per ship-month, line counts split by order
    priority class (urgent/high vs rest) — fact-to-dim join + CASE
    aggregation, the canonical conditional-rollup plan."""
    o = _tpch(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    l = _tpch(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(
            # DuckDB materializes these sums as HUGEINT -> float64 in
            # pandas (the rollup_sets representation hazard); project
            # to double so both engines hand the checker one form
            F.sum(F.when(high, 1).otherwise(0)).cast("double")
            .alias("high_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("double")
            .alias("low_count"),
        )
    )


MIX_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}


def q_mix_sample(spark, sf_dir):
    """Data mixing: per-source deterministic keep-fractions (sources
    outside the weight map drop to 0) — md5-hash Bernoulli, so the kept
    subset is identical on every run and in the oracle."""
    from traval_spark.operators.sampling import mixture_sample

    return mixture_sample(
        _docs(spark, sf_dir), MIX_WEIGHTS, seed=7
    ).select("doc_id", "source")


def q_sample_k(spark, sf_dir):
    """Exact deterministic k-per-source sample (hash-rank reservoir)."""
    from traval_spark.operators.sampling import sample_k_per_group

    return sample_k_per_group(
        _docs(spark, sf_dir), k=5, seed=3
    ).select("doc_id", "source")


def q_weighted_sample(spark, sf_dir):
    """Weight-proportional k-per-source sample WITHOUT replacement
    (Efraimidis-Spirakis exponential keys on the portable hash, weight =
    n_chars): the quality-weighted mixing sampler. Same exact two-phase
    salted top-k plan as sample_k — a dominant source never serializes
    onto one task."""
    from traval_spark.operators.sampling import weighted_sample_k

    return weighted_sample_k(
        _docs(spark, sf_dir), k=8, weight_col="n_chars", seed=11
    ).select("doc_id", "source")


def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test split by hash ladder — stable
    membership across runs/re-shards (a doc can never migrate from test
    into train)."""
    from traval_spark.operators.sampling import split_assign

    return split_assign(
        _docs(spark, sf_dir),
        [("train", 0.9), ("val", 0.05), ("test", 0.05)], seed=11,
    ).select("doc_id", "split")


EPOCH_WEIGHTS = {"src0": 2.5, "src1": 2.0, "src2": 0.5}
TOKEN_BUDGETS = {"src0": 2000, "src1": 500}


def q_epoch_upsample(spark, sf_dir):
    """Repetition-factor mixing (the up-sampling half of a mixture
    recipe): weight 2.5 emits every src0 doc twice plus a deterministic
    half of them a third time, each copy tagged with a 0-based epoch;
    unlisted sources keep one epoch. Pure-JVM sequence explode — no
    shuffle."""
    from traval_spark.operators.sampling import epoch_upsample

    return epoch_upsample(_docs(spark, sf_dir), EPOCH_WEIGHTS,
                          seed=3).select("doc_id", "source", "epoch")


def q_token_budget(spark, sf_dir):
    """Per-source token-budget caps ("take N tokens of src0"): docs
    consumed in deterministic (md5-shard, id) order until the budget
    fills, straddling doc kept, unlisted sources kept whole. The
    running count is packing's skew-safe two-level prefix sum — never a
    one-task-per-source sort."""
    from traval_spark.operators.sampling import token_budget_sample

    s = _seqs_from(_docs(spark, sf_dir)).filter(
        F.col("tokens").isNotNull()
    )
    return token_budget_sample(s, TOKEN_BUDGETS, seed=5).select(
        "doc_id", "source", "n_tok"
    )


def q_pack_payloads(spark, sf_dir):
    """Loader-ready pack materialization: each 512-token pack's
    documents concatenated into ONE token row in pack_pos order
    (compared by md5 of the full payload — value-exact down to token
    order). The (source, pack_id) aggregation key is skew-free by
    construction: every pack holds ~target tokens regardless of source
    dominance."""
    from traval_spark.packing import assign_packs, materialize_packs

    s = _seqs_from(_docs(spark, sf_dir))
    m = materialize_packs(assign_packs(s, target_tokens=512))
    return m.select(
        "source", "pack_id",
        F.md5(
            F.concat_ws(",", F.col("tokens").cast("array<string>"))
        ).alias("tok_hash"),
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


def q_curate(spark, sf_dir):
    """End-to-end corpus curation in ONE lazy plan — the full shape a
    training-data job runs: exact token-sequence dedup (keep the
    smallest doc id per identical sequence), per-source mixture
    down-sampling, then contiguous 512-token pack assignment via the
    skew-safe two-level prefix sum (the mixture filter is shuffle-free;
    every packing exchange is keyed by (source, shard) or (source,
    pack_id) — no single-task-per-source sort even when one source
    dominates; exact dedup is a partial-aggregatable groupBy-min +
    semi-join on the unique id, so a viral dup group collapses map-side
    instead of sorting on one task). Every stage individually
    oracle-green and the composition verified end-to-end here."""
    from traval_spark.operators.sampling import mixture_sample
    from traval_spark.packing import assign_packs

    s = _seqs_from(_docs_with_dups(spark, sf_dir))
    nn = s.filter(F.col("tokens").isNotNull())
    winner_ids = (
        nn.groupBy(
            F.md5(F.concat_ws(",", F.col("tokens").cast("array<string>")))
            .alias("__k")
        )
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = nn.join(winner_ids, "doc_id", "left_semi")
    mixed = mixture_sample(kept, MIX_WEIGHTS, seed=7)
    # the packer's shard-totals pass reads its input twice: hand it the
    # narrow (id, source, n_tok) projection, persisted, so the
    # dedup+mixture chain runs once and the second pass re-reads 3
    # columns from cache (pack assignment never looks at the payload)
    narrow = hold(mixed.select("doc_id", "source", "n_tok"))
    return assign_packs(narrow, target_tokens=512).select(
        "doc_id", "source",
        F.col("n_tok").cast("long").alias("n_tok"),
        "pack_id",
        F.col("pack_pos").cast("long").alias("pack_pos"),
    )


def q_curate_tokens(spark, sf_dir):
    """TOKEN-native end-to-end curation — the full chain over the graft
    input shape (doc_id, tokens array<int32>, n_tok, source), run through
    curate_corpus itself: non-null tokens -> min_tok quality gate ->
    exact token-sequence dedup (smallest id per identical sequence) ->
    3-token-shingle benchmark decontamination (doc_id % 37 == 0 plays the
    eval suite; its distinct shingle set broadcasts) -> per-source
    mixture -> hash split -> skew-safe 512-token packing of the REAL
    n_tok. near_dup stays off here so the whole composition has an exact
    DuckDB oracle (the token-LSH + connected-components near-dup stage is
    pinned by its own oracles and the curation pytests);
    short_bench_containment off likewise (pytest-pinned driver-side
    literal scan)."""
    from traval_spark.curation import curate_corpus

    s = _seqs_from(_docs_with_dups(spark, sf_dir))
    bench = s.filter(F.col("doc_id") % 37 == 0)
    corpus = s.filter(F.col("doc_id") % 37 != 0)
    packed = curate_corpus(
        corpus,
        tokens_col="tokens",
        quality={"min_tok": 5},
        near_dup=False,
        benchmark=bench,
        decontaminate_k=5,
        short_bench_containment=False,
        weights=MIX_WEIGHTS,
        target_tokens=512,
        seed=0,
    )
    return packed.select(
        "doc_id", "source", "split",
        F.col("n_tok").cast("long").alias("n_tok"),
        "pack_id",
        F.col("pack_pos").cast("long").alias("pack_pos"),
    )


def q_pack_assign(spark, sf_dir):
    """Sequence packing: contiguous assignment of pre-tokenized docs to
    512-token training packs per source (pack_id = floor(running-total /
    target) over a deterministic doc order; one window pass, no Python).
    The LM batching step — overflow bounded by one straddling doc."""
    from traval_spark.packing import assign_packs

    s = _seqs_from(_docs(spark, sf_dir))
    return assign_packs(s, target_tokens=512).select(
        "doc_id", "source",
        F.col("n_tok").cast("long").alias("n_tok"),
        "pack_id",
        F.col("pack_pos").cast("long").alias("pack_pos"),
    )


def q_pack_stats(spark, sf_dir):
    """Per-pack utilization over the 512-token contiguous packing."""
    from traval_spark.packing import assign_packs, pack_stats

    s = _seqs_from(_docs(spark, sf_dir))
    # tok_total: DuckDB sum(BIGINT) -> HUGEINT -> float64 in pandas;
    # align the representation (see q_rollup_sets)
    return pack_stats(assign_packs(s, target_tokens=512), 512).withColumn(
        "tok_total", F.col("tok_total").cast("double"))


def q_dds_quantiles_1h(spark, sf_dir):
    """DDSketch-style continuous aggregate (Masson et al., VLDB'19): log-
    binned (relative-error 5%) sketch tier at 1m, merged to 1h by plain
    count-sum, p50/p95 estimates extracted at read time — the unbounded-
    domain companion to hist_quantiles_1h (whose exactness needs a
    fixed-decimal domain)."""
    from traval_spark.hist import dds_cascade, dds_quantiles, dds_tier

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    t1h = dds_cascade(dds_tier(src, "1m", value_col="value", alpha=0.05),
                      "1h")
    return dds_quantiles(t1h, qs=[0.5, 0.95], alpha=0.05)


def q_dds_rank_1h(spark, sf_dir):
    """Inverse-quantile read from the DDSketch tier (hist.py:dds_rank):
    per (source, 1h bucket), the fraction of values <= 50.0 — the SLO
    attainment dual of the p95 read, served from the SAME cascaded
    sketch state with one conditional aggregate (threshold binned
    inside the engine via the shared dds_sign_bin rule)."""
    from traval_spark.hist import dds_cascade, dds_rank, dds_tier

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    t1h = dds_cascade(dds_tier(src, "1m", value_col="value", alpha=0.05),
                      "1h")
    return dds_rank(t1h, 50.0, alpha=0.05)


def q_toptok_1h(spark, sf_dir):
    """Per-bucket token heavy hitters served from the HISTOGRAM TIER
    CASCADE: explode token ids into a 1m histogram tier (bin = token id),
    merge to 1h by plain count-sum, top-3 per (source, bucket) at read
    time. Exact at every tier — the token domain is vocab-bounded, so no
    heavy-hitter sketch is needed. Event time is derived
    deterministically from doc_id (documents carry no timestamp; both
    engines compute the same spread over 10 hours)."""
    from traval_spark.hist import hist_cascade, hist_tier, hist_topk

    s = _seqs_from(_docs(spark, sf_dir))
    ts = F.to_timestamp_ntz(F.lit("2024-01-01")) + F.make_dt_interval(
        F.lit(0), F.lit(0), (F.col("doc_id") % 600).cast("double"), F.lit(0.0)
    )
    tok_rows = s.select(
        "source", ts.alias("ts"), F.explode("tokens").alias("tok")
    )
    t1h = hist_cascade(hist_tier(tok_rows, "1m", value_col="tok"), "1h")
    return hist_topk(t1h, k=3)


def q_gorilla_roundtrip(spark, sf_dir):
    """pack -> unpack identity over the 1m tier: the compression path gets
    a full value-level oracle (the plain rollup the blocks encode)."""
    from traval_spark.compress import pack_tier, unpack_tier
    from traval_spark.rollup import rollup_raw

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts",
        F.col("value").alias("n_tok"),
    )
    t1m = rollup_raw(src, "1m")
    packed = pack_tier(t1m, measures=["sum_tok"])
    out = unpack_tier(packed).filter(F.col("measure") == "sum_tok")
    return out.select(
        "source", "bucket", F.round("value", 6).alias("sum_val")
    )


def q_other_threshold(spark, sf_dir):
    """rule_other_ufunc_threshold: flag where a second aligned series
    (here: the same index shifted by +10) violates the threshold."""
    from traval_spark.operators.rules import rule_other_ufunc_threshold

    s = _series(spark, sf_dir)
    other = s.select("series_id", "ts", (F.col("value") + 10.0).alias("value"))
    c = rule_other_ufunc_threshold(s, "value", "r", other=other,
                                   ufunc="greater", threshold=100.0)
    return _flagged(c)


def q_outside_bandwidth(spark, sf_dir):
    """rule_outside_bandwidth with same-index bounds (value +/- margin
    around the per-series mean) — the no-interpolation path."""
    from traval_spark.operators.rules import rule_outside_bandwidth

    s = _series(spark, sf_dir)
    from pyspark.sql import Window
    w = Window.partitionBy("series_id")
    m = F.avg("value").over(w)
    lb = s.select("series_id", "ts", (m - 20.0).alias("value"))
    ub = s.select("series_id", "ts", (m + 60.0).alias("value"))
    c = rule_outside_bandwidth(s, "value", "r", lowerbound=lb, upperbound=ub)
    return _flagged(c)


def q_combine_nan_or(spark, sf_dir):
    """Branching ruleset: two threshold rules OR-combined (union of flags)."""
    from traval_spark.plans.ruleset import SparkRuleSet, apply_ruleset

    rs = SparkRuleSet("combine")
    rs.add_rule("hi", "rule_ufunc_threshold", apply_to=0,
                kwargs={"ufunc": ("greater",), "threshold": HARDMAX_THR})
    rs.add_rule("lo", "rule_ufunc_threshold", apply_to=0,
                kwargs={"ufunc": ("less",), "threshold": HARDMIN_THR})
    rs.add_rule("both", "rule_combine_nan_or", apply_to=(1, 2))
    wide = apply_ruleset(_series(spark, sf_dir), rs)
    return wide.filter(F.col("step_3").isNull()).select("series_id", "ts")


def q_comparison_series(spark, sf_dir):
    """Per-timestamp status codes (the code-not-docstring quirk)."""
    from traval_spark.comparison import compare_series, comparison_series

    ev = _events(spark, sf_dir)
    s1 = ev.filter(F.col("event_id") % 13 != 0).select(
        F.col("event_type").alias("series_id"), "ts",
        F.when(F.col("event_id") % 11 == 0, None).otherwise(F.col("value"))
        .alias("value"),
    )
    s2 = ev.filter(F.col("event_id") % 17 != 0).select(
        F.col("event_type").alias("series_id"), "ts",
        F.when(F.col("event_id") % 5 == 0, None)
        .otherwise(F.col("value")
                   + F.when(F.col("event_id") % 7 == 0, 1.0).otherwise(0.0))
        .alias("value"),
    )
    return comparison_series(compare_series(s1, s2))


def q_linear_interp(spark, sf_dir):
    """interpolate_series_to_new_index (np.interp hull semantics): the
    'view' series linearly interpolated onto the 'click' index."""
    from traval_spark.functions.ts import align_interpolate

    ev = _events(spark, sf_dir)
    main = ev.filter(F.col("event_type") == "click").select(
        F.lit("click").alias("series_id"), "ts", "value"
    )
    aux = ev.filter(F.col("event_type") == "view").select(
        F.lit("click").alias("series_id"), "ts", "value"
    )
    out = align_interpolate(main.drop("value"), aux, "value", "interp")
    return out.select("ts", F.round("interp", 6).alias("interp"))


def q_hampel(spark, sf_dir):
    """Hampel filter: rolling median +/- k*MAD outliers (north-star op)."""
    from traval_spark.operators.rules import rule_hampel

    return _flagged(
        rule_hampel(_series(spark, sf_dir), "value", "r",
                    window="1D", k=5.0, min_obs=5, chunk="4D")
    )


def q_funcdict(spark, sf_dir):
    """rule_funcdict: arbitrary Python predicates via Arrow pandas_udf.
    The rule accepts ANY Python callable; this query instance uses
    SQL-expressible predicates so the full value-level oracle applies
    while the Spark side still exercises the pandas_udf dispatch path."""
    from traval_spark.operators.rules import rule_funcdict

    c = rule_funcdict(_series(spark, sf_dir), "value", "r",
                      funcdict={"low": lambda s: s < 1.0,
                                "high": lambda s: s > 200.0})
    return _flagged(c)


def _manual_frames(spark, sf_dir):
    """Main series = 'click'; manual observations = every MOBS_SAMPLE-th
    'view' event inside the click hull (kept distributed: the 1-row hull
    bounds broadcast-cross-join instead of a driver collect)."""
    ev = _events(spark, sf_dir)
    main = ev.filter(F.col("event_type") == "click").select(
        F.lit("click").alias("series_id"), "ts", "value"
    )
    bounds = ev.filter(F.col("event_type") == "click").agg(
        F.min("ts").alias("__t0"), F.max("ts").alias("__t1")
    )
    manual = (
        ev.filter(
            (F.col("event_type") == "view")
            & (F.col("event_id") % MOBS_SAMPLE == 0)
        )
        .crossJoin(F.broadcast(bounds))
        .filter((F.col("ts") >= F.col("__t0")) & (F.col("ts") <= F.col("__t1")))
        .select(F.lit("click").alias("series_id"), "ts", "value")
    )
    return main, manual


def q_manual_obs_compare(spark, sf_dir):
    """rule_compare_to_manual_obs (rulelib.py:661-704): time-interpolate
    the series onto manual-obs times, nearest-distance max_dt mask,
    positional re-interpolation of the diffs, flag |diff| > threshold."""
    from traval_spark.operators.rules import rule_compare_to_manual_obs

    main, manual = _manual_frames(spark, sf_dir)
    c = rule_compare_to_manual_obs(
        main, "value", "r", manual_obs=manual, threshold=MOBS_THR,
        max_dt="30m",
    )
    return c.filter(F.col("r_code") != 0).select(
        "series_id", "ts", F.col("r_code").cast("int").alias("code"),
        F.round("r_sval", 6).alias("diff_val"),
    )


def q_manual_obs_shift(spark, sf_dir):
    """rule_shift_to_manual_obs (rulelib.py:707-777): the adjusted series
    (series + interpolated manual diff) over the full index."""
    from traval_spark.operators.rules import rule_shift_to_manual_obs

    main, manual = _manual_frames(spark, sf_dir)
    c = rule_shift_to_manual_obs(
        main, "value", "r", hseries=manual, max_dt="30m"
    )
    # 4dp: the pandas-kernel vs DuckDB interpolation chains differ in the
    # last ulp; 6dp left ~1e-7-scale values sitting ON a rounding boundary
    return c.select(
        "series_id", "ts", F.round("r_corr", 4).alias("adjusted")
    )


def q_pastas_pi(spark, sf_dir):
    """rule_pastas_outside_pi (rulelib.py:494-601) without pastas: a
    synthetic precomputed PI (hourly avg +/- PI_OFF) drives the full
    adapter — smoothfreq bound smoothing, binding min_ci widening, and
    the outside-bandwidth delegation."""
    from traval_spark.operators.rules import rule_pastas_outside_pi

    ev = _events(spark, sf_dir)
    click = ev.filter(F.col("event_type") == "click").select(
        F.lit("click").alias("series_id"), "ts", "value"
    )
    b = click.groupBy(
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("ts")
    ).agg(F.avg("value").alias("av"))
    bounds = b.select(
        F.lit("click").alias("series_id"), "ts",
        (F.col("av") - PI_OFF).alias("lower"),
        (F.col("av") + PI_OFF).alias("upper"),
    )
    c = rule_pastas_outside_pi(click, "value", "r", bounds=bounds,
                               min_ci=PI_MIN_CI, smoothfreq="1D")
    return _flagged(c)


def _combine_ruleset(comb_rule):
    from traval_spark.plans.ruleset import SparkRuleSet

    rs = SparkRuleSet("combine")
    rs.add_rule("hi", "rule_ufunc_threshold", apply_to=0,
                kwargs={"ufunc": ("greater",), "threshold": HARDMAX_THR})
    rs.add_rule("sig", "rule_outside_n_sigma", apply_to=0,
                kwargs={"n": NSIGMA})
    rs.add_rule("comb", comb_rule, apply_to=(1, 2))
    return rs


def q_combine_nan_and(spark, sf_dir):
    """rule_combine_nan_and (rulelib.py:821-841): NULL where ALL inputs
    flagged — intersection of the hardmax and n-sigma masks."""
    from traval_spark.plans.ruleset import apply_ruleset

    wide = apply_ruleset(_series(spark, sf_dir),
                         _combine_ruleset("rule_combine_nan_and"))
    return wide.filter(F.col("step_3").isNull()).select("series_id", "ts")


def q_combine_corr_or(spark, sf_dir):
    """rule_combine_corrections_or (rulelib.py:801-818): code 99 where ANY
    input step's correction code != 0."""
    from traval_spark.plans.ruleset import apply_ruleset

    wide = apply_ruleset(_series(spark, sf_dir),
                         _combine_ruleset("rule_combine_corrections_or"))
    return wide.filter(F.col("step_3") == 99.0).select("series_id", "ts")


def q_combine_corr_and(spark, sf_dir):
    """rule_combine_corrections_and (rulelib.py:844-864): code 99 where ALL
    input steps' correction codes != 0."""
    from traval_spark.plans.ruleset import apply_ruleset

    wide = apply_ruleset(_series(spark, sf_dir),
                         _combine_ruleset("rule_combine_corrections_and"))
    return wide.filter(F.col("step_3") == 99.0).select("series_id", "ts")


def q_offset_detection(spark, sf_dir):
    """Greedy offset pairing — sequential per series in the engine
    (applyInPandas kernel); the oracle re-runs the same greedy loop as a
    DuckDB recursive CTE (see oracle_sql)."""
    from traval_spark.operators.rules import rule_offset_detection

    return _flagged(
        rule_offset_detection(_series(spark, sf_dir), "value", "r",
                              threshold=150.0, updown_diff=20.0, max_gap="7D")
    )


# -- training-data pipeline operators ---------------------------------------


def q_token_counts(spark, sf_dir):
    from traval_spark.operators.text import token_count_bpe, token_count_ws

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_ws"),
        token_count_bpe(F.col("text")).alias("n_bpe"),
    )


def q_top_tokens(spark, sf_dir):
    """Exact per-source token heavy hitters: map-side-combined counts
    then a top-k window over the vocab-sized counts table (never over
    raw tokens)."""
    from traval_spark.operators.text import top_tokens

    return top_tokens(_docs(spark, sf_dir), k=5, by="source")


def q_zipf_fit(spark, sf_dir):
    """Zipf exponent per source (text.py:zipf_fit): OLS of ln(count) on
    ln(rank) over the top-64 token ranks of the vocab-bounded count
    table — natural text decays near -1; flatter flags boilerplate,
    steeper flags vocabulary starvation. Mixture diagnostic next to
    source_entropy; sums rounded 6dp (the k-term float reductions are
    the only order-dependent step)."""
    from traval_spark.operators.text import zipf_fit

    return zipf_fit(_docs(spark, sf_dir), k=64)


def q_doc_entropy(spark, sf_dir):
    """Per-doc unigram entropy (text.py:doc_entropy): distributional-
    collapse quality signal, computed SHUFFLE-FREE — the token multiset
    never leaves its row (sorted-array run-length fold, whole-stage
    codegen projection; the per-source read explodes because its
    groups span rows, a per-doc group IS the row)."""
    from traval_spark.operators.text import doc_entropy

    return doc_entropy(_docs(spark, sf_dir))


def q_quality(spark, sf_dir):
    from traval_spark.operators.text import quality_columns

    d = _docs(spark, sf_dir)
    cols = quality_columns(F.col("text"))
    return d.select("doc_id", *[v.alias(k) for k, v in cols.items()])


def q_lang_id(spark, sf_dir):
    from traval_spark.operators.text import lang_id

    return _docs(spark, sf_dir).select(
        "doc_id", lang_id(F.col("text")).alias("lang_pred")
    )


def q_fingerprint(spark, sf_dir):
    from traval_spark.operators.text import doc_fingerprint

    return _docs(spark, sf_dir).select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fp")
    )


def _docs_with_dups(spark, sf_dir):
    """documents + synthetic exact duplicates (every 25th doc re-appended
    with a shifted id) — the testdata has no natural exact dups, and a
    0-row result would make the dedup oracle trivially green."""
    d = _docs(spark, sf_dir)
    dups = d.filter(F.col("doc_id") % 25 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return d.unionByName(dups)


def q_dedup_exact(spark, sf_dir):
    from traval_spark.operators.dedup import exact_dup_groups

    return exact_dup_groups(_docs_with_dups(spark, sf_dir))


def _docs_with_near_dups(spark, sf_dir):
    """documents + NEAR duplicates: every 25th doc re-appended with two
    extra tokens — high Jaccard / low Hamming pairs for the banded
    near-dup operators (exact dups alone would make banding trivial)."""
    d = _docs(spark, sf_dir)
    dups = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" qq zz")))
    )
    return d.unionByName(dups)


def q_lev_verify(spark, sf_dir):
    """Blocking -> EXACT edit-distance verify (dedup.py:
    length_block_pairs + lev_verify_pairs): candidate pairs from the
    SQL-trivial (lang, length-div-64) blocking key, then JVM-side
    Levenshtein on 128-char prefixes with normalized similarity >= 0.8
    — the exact-verify stage any candidate generator (LSH bands,
    SimHash buckets) composes with; DP cost bounded by prefix^2 per
    CANDIDATE, never corpus-quadratic. Run on the near-dup fixture so
    true near-pairs exist."""
    from traval_spark.operators.dedup import (
        length_block_pairs,
        lev_verify_pairs,
    )

    d = _docs_with_near_dups(spark, sf_dir).withColumn(
        "len", F.length("text"))
    pairs = length_block_pairs(d, block_cols=("lang",), len_col="len",
                               width=64)
    return lev_verify_pairs(d, pairs, threshold=0.8, prefix=128)


def q_minhash_sig(spark, sf_dir):
    from traval_spark.operators.dedup import with_minhash

    return with_minhash(_docs(spark, sf_dir), n_hashes=4, k=3)


def q_lsh_buckets(spark, sf_dir):
    from traval_spark.operators.dedup import lsh_buckets

    return lsh_buckets(_docs(spark, sf_dir), n_hashes=4, k=3)


def q_ngram_jaccard(spark, sf_dir):
    from traval_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=JACCARD_THR, k=3)


def q_simhash(spark, sf_dir):
    from traval_spark.operators.dedup import with_simhash16

    return with_simhash16(_docs(spark, sf_dir)).select("doc_id", "simhash")


def q_simhash64(spark, sf_dir):
    """64-bit SimHash (two 32-bit halves) — the web-scale fingerprint
    config (16 bits = 65k buckets is useless at 10^10 docs)."""
    from traval_spark.operators.dedup import with_simhash64

    return with_simhash64(_docs(spark, sf_dir))


def q_simhash64_dups(spark, sf_dir):
    """Banded Hamming near-dup search: 4x16-bit bands (pigeonhole-exact
    for hamming <= 3), xor+bit_count verification. The oracle is the
    brute-force all-pairs Hamming filter — banding must find exactly the
    same pairs."""
    from traval_spark.operators.dedup import simhash64_dup_pairs

    return simhash64_dup_pairs(_docs_with_near_dups(spark, sf_dir),
                               max_hamming=3)


def q_lsh_banded(spark, sf_dir):
    """MinHash LSH with explicit (b=4, r=2) banding — the recall knob the
    single-band lsh_buckets config lacks."""
    from traval_spark.operators.dedup import lsh_banded_pairs

    return lsh_banded_pairs(_docs_with_near_dups(spark, sf_dir), b=4, r=2)


def q_dedup_incremental(spark, sf_dir):
    """Incremental new-vs-corpus dedup — the daily-ingest shape: docs with
    doc_id % 10 == 0 form the 'new batch', the rest are the corpus whose
    SimHash fingerprints are PRECOMPUTED (the persisted-table side); the
    batch probes corpus+batch bands without ever re-pairing the corpus
    with itself. Oracle: the full banded pair set restricted to pairs
    with >= 1 new member — the defining equivalence of the incremental
    path (dedup.py:simhash64_incremental_pairs)."""
    from traval_spark.operators.dedup import (
        simhash64_incremental_pairs,
        with_simhash64,
    )

    d = _docs_with_near_dups(spark, sf_dir)
    new = d.filter(F.col("doc_id") % 10 == 0)
    corpus_fp = with_simhash64(d.filter(F.col("doc_id") % 10 != 0))
    return simhash64_incremental_pairs(new, corpus_fp, max_hamming=3)


def q_minhash_incremental(spark, sf_dir):
    """Incremental new-vs-corpus dedup, MinHash-banded family: same
    daily-ingest split as dedup_incremental (doc_id % 10 == 0 = new
    batch), but the persisted corpus state is the (b*r)-column MinHash
    signature table and candidates come from (b=4, r=2) banding. Oracle:
    the full lsh_banded pair set restricted to pairs with >= 1 new
    member (dedup.py:minhash_incremental_pairs)."""
    from traval_spark.operators.dedup import (
        minhash_incremental_pairs,
        with_minhash,
    )

    d = _docs_with_near_dups(spark, sf_dir)
    new = d.filter(F.col("doc_id") % 10 == 0)
    corpus_sig = with_minhash(d.filter(F.col("doc_id") % 10 != 0),
                              n_hashes=8)
    return minhash_incremental_pairs(new, corpus_sig, b=4, r=2)


from traval_spark.sources.synth import VOCAB as TOKEN_VOCAB  # one token-id space


def _seqs_from(docs):
    """Derive the graft input shape (doc_id, tokens array<int>, n_tok,
    source — BASELINE.json input_hint) DETERMINISTICALLY from a documents
    frame: token id = fold_hash(word) % TOKEN_VOCAB per whitespace word.
    Both engines run the identical derivation (DuckDB mirrors fold_hash —
    parity-tested), so the token-sequence operators get full value-level
    oracles even though the testdata ships no tokens column. Staged
    select: the token transform materializes once; n_tok reads the real
    column instead of re-running it."""
    from traval_spark.operators.text import fold_hash, ws_tokens

    toks = F.transform(
        ws_tokens(F.col("text")),
        lambda t: (fold_hash(t) % F.lit(TOKEN_VOCAB)).cast("int"),
    )
    s = docs.select("doc_id", "source", toks.alias("tokens"))
    return s.select(
        "doc_id", "tokens",
        F.size("tokens").cast("int").alias("n_tok"), "source",
    )


#: fixed BPE merge table for the apply-side oracle: the top-3 merges
#: learned by bpe_train on the sf0.001 corpus (a, b) -> new id, chained
#: so later merges may consume earlier output ids. Constants in BOTH
#: engines — the oracle pins the greedy apply fold, training is pinned
#: separately by bpe_pairs + pytest.
BPE_MERGES = [(14337, 19646, 50257), (6231, 97, 50258),
              (10333, 15323, 50259)]


def q_lm_score(spark, sf_dir):
    """N-gram LM quality scoring (the CCNet/KenLM-style filter): train
    an add-k-smoothed bigram model on the corpus itself, score every
    document by average token log-probability. Gram counting is explode
    -> map-side-combined groupBy; scoring joins per-occurrence grams to
    the (possibly corpus-sized) count tables on string gram keys —
    sort-merge joins, nothing assumes a broadcastable model; the vocab
    scalar rides as a broadcast 1-row frame."""
    from traval_spark.operators.lm import lm_score

    s = _seqs_from(_docs(spark, sf_dir)).filter("n_tok >= 2")
    return lm_score(s, n=2, add_k=0.5)


def q_bpe_pairs(spark, sf_dir):
    """One BPE training iteration's statistics: adjacent token-pair
    frequencies over the corpus (explode + groupBy-count, shuffle
    bounded by distinct pairs), repeated-pairs only."""
    from traval_spark.operators.lm import bpe_pair_counts

    s = _seqs_from(_docs(spark, sf_dir))
    return bpe_pair_counts(s).filter("cnt > 1")


def q_bpe_apply(spark, sf_dir):
    """BPE apply: greedy left-to-right non-overlapping pair-merge folds
    (pure JVM array aggregate, one pass per merge, later merges see
    earlier output ids) over the fixed BPE_MERGES table. The oracle
    mirrors the greedy fold with sequential left-to-right string
    replaces on a double-delimiter token encoding — value-exact down to
    the full rewritten sequence hash."""
    from traval_spark.operators.lm import bpe_apply

    s = _seqs_from(_docs(spark, sf_dir)).filter("n_tok >= 1")
    out = bpe_apply(s, BPE_MERGES)
    return out.select(
        "doc_id",
        F.size("tokens").cast("int").alias("n_tok_new"),
        F.md5(F.concat_ws(
            ",", F.transform(F.col("tokens"), lambda t: t.cast("string"))
        )).alias("tok_hash"),
    )


def q_token_dedup_exact(spark, sf_dir):
    """Exact dedup on the PRE-TOKENIZED input shape: hash-groupBy over
    md5 of the ','-joined token-id array (fixed-width shuffle key) with
    synthetic exact dups appended — exact_dup_groups for sequences of
    token ids rather than text."""
    from traval_spark.operators.dedup import exact_token_dup_groups

    return exact_token_dup_groups(_seqs_from(_docs_with_dups(spark, sf_dir)))


def q_token_minhash_sig(spark, sf_dir):
    """MinHash signatures over k-TOKEN shingles of the token-id arrays —
    the LM-pipeline n-gram fingerprint (13-gram over token ids in the
    classic config; k=3 here so small-sf shingle sets stay non-trivial)."""
    from traval_spark.operators.dedup import with_minhash_tokens

    return with_minhash_tokens(_seqs_from(_docs(spark, sf_dir)),
                               n_hashes=4, k=3)


def q_token_lsh_pairs(spark, sf_dir):
    """Banded MinHash LSH near-dup candidates over token-id shingles —
    lsh_banded_pairs for the pre-tokenized corpus shape (near-dups append
    two tokens, so banding must still bucket them together)."""
    from traval_spark.operators.dedup import token_lsh_banded_pairs

    return token_lsh_banded_pairs(
        _seqs_from(_docs_with_near_dups(spark, sf_dir)), b=4, r=2, k=3)


def q_dup_spans(spark, sf_dir):
    """Exact-substring duplication spans (the Lee et al. 2021
    suffix-array dedup family re-expressed as a k-token window index):
    maximal [start, end) token intervals covered by 8-token windows
    occurring >= 2x corpus-wide. The appended near-dup copies share
    their entire original token run, so each original/copy pair is
    flagged end to end; natural cross-doc 8-gram repeats surface too.
    Plan shape: window explode (the shingling cost) -> partial-agg
    gram counts -> left-semi hit join -> per-doc interval merge."""
    from traval_spark.operators.dedup import duplicated_spans

    return duplicated_spans(
        _seqs_from(_docs_with_near_dups(spark, sf_dir)), k=8)


def q_trim_spans(spark, sf_dir):
    """Corpus rewrite with every duplicated span removed (all
    occurrences — the order-free conservative variant); emits the md5
    of each trimmed sequence + its new token count so the oracle
    compares the full rewritten payload value-exactly."""
    from traval_spark.operators.dedup import trim_duplicated_spans

    s = _seqs_from(_docs_with_near_dups(spark, sf_dir)).filter(
        F.col("tokens").isNotNull()
    )
    t = trim_duplicated_spans(s, k=8)
    return t.select(
        "doc_id",
        F.md5(
            F.concat_ws(",", F.col("tokens").cast("array<string>"))
        ).alias("tok_hash"),
        "n_tok",
    )


def q_span_incremental(spark, sf_dir):
    """Incremental exact-substring dedup: the near-dup copies play a
    NEW ingest batch probed against the standing corpus's persisted
    gram index — only the batch is windowed, the corpus joins as its
    distinct-gram table. Oracle = full-recompute spans over the union
    restricted to batch docs (the incremental-family contract)."""
    from traval_spark.operators.dedup import (
        duplicated_spans_incremental,
        token_gram_index,
    )

    s = _seqs_from(_docs_with_near_dups(spark, sf_dir))
    corpus = s.filter(F.col("doc_id") < 1_000_000)
    batch = s.filter(F.col("doc_id") >= 1_000_000)
    return duplicated_spans_incremental(
        batch, token_gram_index(corpus, k=8), k=8
    )


def q_span_coverage(spark, sf_dir):
    """Duplication observability: per source, the fraction of corpus
    tokens sitting inside duplicated spans — the number a curation run
    reads to decide whether the trim stage is worth its pass. One
    aggregate over the spans frame joined to per-doc totals; rounded so
    cross-engine double summation order can't flip the hash."""
    from traval_spark.operators.dedup import duplicated_spans

    s = _seqs_from(_docs_with_near_dups(spark, sf_dir)).filter(
        F.col("tokens").isNotNull()
    )
    sp = duplicated_spans(s, k=8)
    per_doc = sp.groupBy("doc_id").agg(
        F.sum(F.col("span_end") - F.col("span_start")).alias("__dup")
    )
    return (
        s.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.sum("n_tok").cast("long").alias("tok_total"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0)))
            .cast("long").alias("tok_dup"),
            F.round(
                F.sum(F.coalesce(F.col("__dup"), F.lit(0)))
                / F.sum("n_tok"), 6
            ).alias("dup_fraction"),
        )
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: sequences with doc_id % 37 == 0 play the
    eval suite; every other sequence sharing >= 1 3-token shingle with it
    is flagged with its shared-shingle count. Plan shape: the benchmark's
    distinct shingle set broadcasts; the corpus explode side never
    shuffles by shingle."""
    from traval_spark.operators.dedup import contaminated_docs

    s = _seqs_from(_docs(spark, sf_dir))
    bench = s.filter(F.col("doc_id") % 37 == 0)
    corpus = s.filter(F.col("doc_id") % 37 != 0)
    return contaminated_docs(corpus, bench, k=3)


def q_decontaminate_bloom(spark, sf_dir):
    """Bloom-prefiltered decontamination
    (dedup.py:contaminated_docs_bloom): the eval suite compresses to a
    constant-size bitmask, corpus shingles probe it (no false
    negatives), only survivors pay the exact verify — value-equal to
    the exact operator, so the oracle is the same SQL."""
    from traval_spark.operators.dedup import contaminated_docs_bloom

    s = _seqs_from(_docs(spark, sf_dir))
    bench = s.filter(F.col("doc_id") % 37 == 0)
    corpus = s.filter(F.col("doc_id") % 37 != 0)
    return contaminated_docs_bloom(corpus, bench, k=3)


def q_ngram_novelty(spark, sf_dir):
    """Per-doc n-gram novelty vs the standing corpus
    (dedup.py:ngram_novelty): sequences with doc_id % 37 == 0 play the
    new batch, every other sequence is the corpus; each new doc gets
    the fraction of its distinct 3-token shingles the corpus has never
    seen. Plan shape: corpus collapses once to its distinct-shingle
    index, ONE equi-join on the shingle key, partial-aggregatable
    per-doc counts — neither side broadcast (the reference set is the
    full corpus, not a tiny eval suite)."""
    from traval_spark.operators.dedup import ngram_novelty

    s = _seqs_from(_docs(spark, sf_dir))
    new = s.filter(F.col("doc_id") % 37 == 0)
    corpus = s.filter(F.col("doc_id") % 37 != 0)
    return ngram_novelty(new, corpus, k=3)


def q_gram_growth(spark, sf_dir):
    """Heaps-law vocabulary growth (dedup.py:gram_growth): doc_id % 10
    plays the ingest-cohort axis; per cohort, the count of 3-token
    shingles first seen there plus the running distinct-gram total.
    One explode + partial-aggregatable groupBy-min over the gram
    domain; the cumulative pass runs on the 10-row cohort frame."""
    from traval_spark.operators.dedup import gram_growth

    s = _seqs_from(_docs(spark, sf_dir)).withColumn(
        "cohort", (F.col("doc_id") % 10).cast("int")
    )
    return gram_growth(s, cohort_col="cohort", k=3)


def q_burst_dedup(spark, sf_dir):
    """At-least-once ingest cleanup (rollup.py:burst_dedup): same
    (user, event_type) events within 1d-gap bursts collapse to the
    burst's first event + dropped-duplicate count — the
    fresh-id retry shape exact id-dedup can't catch. Native
    session_window (streaming-ready, transitive bursts); oracle is the
    classic lag + running-sum session formulation."""
    from traval_spark.rollup import burst_dedup

    return burst_dedup(
        _events(spark, sf_dir),
        key_cols=("user_id", "event_type"),
        gap="1d",
    )


def q_recency_budget(spark, sf_dir):
    """Newest-first token budget (sampling.py:recency_budget): doc_id %
    30 plays the ingest-day axis (doc_id itself the intra-day clock);
    src1 capped at its most recent 800 tokens, src3 at 400 (straddling
    doc kept), every other source whole. Calendar-bounded offset frame
    + per-(source, day) local cumsum — no global sort, no
    one-task-per-source window."""
    from traval_spark.operators.sampling import recency_budget

    s = _seqs_from(_docs(spark, sf_dir)).withColumn(
        "bucket", (F.col("doc_id") % 30).cast("int")
    )
    out = recency_budget(
        s,
        {"src1": 800, "src3": 400},
        bucket_col="bucket",
        ts_col="doc_id",
    )
    return out.select("doc_id", "source", "n_tok", "bucket")


def q_vocab_coverage(spark, sf_dir):
    """Token-frequency coverage curve (text.py:vocab_coverage): the
    cumulative corpus fraction covered by the r most frequent token
    ids, top 100 ranks — the pre-migration read for vocab sizing. One
    explode+groupBy over raw; the ranking window runs over the
    vocab-bounded count frame only."""
    from traval_spark.operators.text import vocab_coverage

    s = _seqs_from(_docs(spark, sf_dir))
    return vocab_coverage(s, top_n=100)


def q_stratified_split(spark, sf_dir):
    """Exact-count stratified holdout (sampling.py:stratified_holdout):
    per source, exactly ceil(0.02 * n) docs labeled 'val' by smallest
    hash_uniform(seed=7), the rest 'train' — quota-exact where
    split_assign is binomial. Two-phase salted top-k, no
    one-task-per-group sort."""
    from traval_spark.operators.sampling import stratified_holdout

    d = _docs(spark, sf_dir)
    out = stratified_holdout(d, 0.02, by="source", id_col="doc_id",
                             seed=7)
    return out.select("doc_id", "source", "split")


def q_slo_burn(spark, sf_dir):
    """Multi-window SLO burn-rate alerting (monitor.py:slo_burn):
    hourly error-ratio burn vs a 0.1 error budget, alert only when the
    1h AND the trailing-6h burn both exceed 2x — the SRE multiwindow
    rule. Raw scanned once into buckets; the trailing window runs on
    the calendar-bounded bucket frame."""
    from traval_spark.operators.monitor import slo_burn

    ev = _events(spark, sf_dir)
    return slo_burn(
        ev,
        is_error=F.col("event_type") == "error",
        budget=0.1,
        window="1h",
        long_windows=6,
        threshold=2.0,
    )


def q_remap_tokens(spark, sf_dir):
    """Tokenizer migration: every id through a dense old->new table
    (here new = (old*7+3) mod V with the top 257 ids retired ->
    dropped), one array-literal O(1) JVM lookup per token. Compared by
    md5 of each remapped sequence + its new length."""
    from traval_spark.operators.text import remap_tokens

    v = TOKEN_VOCAB
    mapping = [((i * 7 + 3) % v) if i < v - 257 else -1 for i in range(v)]
    s = _seqs_from(_docs(spark, sf_dir)).filter(
        F.col("tokens").isNotNull()
    )
    out = remap_tokens(s, mapping)
    return out.select(
        "doc_id",
        F.md5(
            F.concat_ws(",", F.col("tokens").cast("array<string>"))
        ).alias("tok_hash"),
        "n_tok",
    )


def q_token_repetition(spark, sf_dir):
    """Intra-sequence duplicate-bigram fraction over token ids (the
    token-level Gopher repetition analog); every 20th sequence is also
    re-appended self-concatenated (id + 2M) so high-repetition rows
    exist — a doubled sequence repeats every interior bigram."""
    from traval_spark.operators.text import token_repetition_fraction

    s = _seqs_from(_docs(spark, sf_dir))
    doubled = s.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("tokens"), F.col("tokens")).alias("tokens"),
    )
    u = s.select("doc_id", "tokens").unionByName(doubled)
    return u.select(
        "doc_id", token_repetition_fraction(F.col("tokens"), k=2).alias("rep2")
    )


def _query_vec(spark, sf_dir):
    row = _emb(spark, sf_dir).filter(F.col("vec_id") == 0).select(
        "embedding"
    ).collect()[0]
    return [float(x) for x in row[0]]


def q_ann_scores(spark, sf_dir):
    from traval_spark.operators.similarity import cosine_to_query

    q = _query_vec(spark, sf_dir)
    return cosine_to_query(_emb(spark, sf_dir), q).select("vec_id", "cos")


def q_ann_topk(spark, sf_dir):
    from traval_spark.operators.similarity import cosine_topk

    q = _query_vec(spark, sf_dir)
    return cosine_topk(_emb(spark, sf_dir), q, k=TOPK)


def q_ann_lsh_topk(spark, sf_dir):
    from traval_spark.operators.similarity import lsh_topk

    q = _query_vec(spark, sf_dir)
    return lsh_topk(_emb(spark, sf_dir), q, k=TOPK, n_planes=N_PLANES,
                    seed=LSH_SEED)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF scale path: deterministic md5-seeded coarse centroids, JVM
    argmax assignment, nprobe-of-n_list probing, exact re-rank inside the
    probed lists. Oracle replicates seeding/assignment/probing verbatim."""
    from traval_spark.operators.similarity import ivf_topk

    q = _query_vec(spark, sf_dir)
    return ivf_topk(_emb(spark, sf_dir), q, k=TOPK, n_list=IVF_NLIST,
                    nprobe=IVF_NPROBE)


def q_label_sim(spark, sf_dir):
    """Pairwise cosine between per-label embedding centroids
    (similarity.py:label_centroid_sim): the are-my-labels-actually-
    distinct read ahead of label-level mixture/dedup decisions; one
    partial-aggregatable posexplode->avg corpus pass, everything else
    on |labels|-sized frames with ordered folds."""
    from traval_spark.operators.similarity import label_centroid_sim

    return label_centroid_sim(_emb(spark, sf_dir))


def q_ann_recall(spark, sf_dir):
    """Recall@k audit of the IVF-probed KNN join against the exact
    brute join (similarity.py:knn_recall): per query-batch row, how
    much of the true top-5 the probed path returned — the
    observability read that keeps the approximate retrieval path
    honest; missed-entirely queries report recall 0 on the brute-side
    spine. Oracle composes the two existing path oracles verbatim."""
    from traval_spark.operators.similarity import (
        ivf_knn_join,
        knn_join,
        knn_recall,
    )

    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") % 50 == 0)
    c = e.filter(F.col("vec_id") % 50 != 0)
    brute = knn_join(q, c, k=5)
    approx = ivf_knn_join(q, c, k=5, n_list=IVF_NLIST, nprobe=IVF_NPROBE)
    return knn_recall(brute, approx, k=5)


PQ_M = 8
PQ_KSUB = 16


def q_pq_codes(spark, sf_dir):
    """Product-quantization encode: every embedding compressed to
    PQ_M subspace codes (squared-L2 argmin against md5-order-seeded
    codebooks — deterministic, so the oracle replicates seeding and
    assignment verbatim). Long form (vec_id, sub, code) for value-exact
    comparison; the storage shape is with_pq_codes' array column —
    m bytes per vector instead of dim floats, the scan-side compression
    that makes 100 TB of embeddings streamable."""
    from traval_spark.operators.similarity import (
        pq_seed_codebooks,
        with_pq_codes,
    )

    e = _emb(spark, sf_dir)
    books = pq_seed_codebooks(e, m=PQ_M, ksub=PQ_KSUB)
    return (
        with_pq_codes(e, books)
        .select("vec_id", F.posexplode("codes"))
        .select(
            "vec_id",
            F.col("pos").cast("int").alias("sub"),
            F.col("col").cast("int").alias("code"),
        )
    )


def q_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance top-k over the PQ codes: the query's
    per-subspace dot-product lookup tables are inlined as literals, each
    row costs m array lookups + adds over the m-byte code column, and
    the top-k is a TakeOrderedAndProject — the ADC shortlist stage of
    IVF-PQ (callers exact-re-rank the shortlist; see
    test_pq_shortlist_recall)."""
    from traval_spark.operators.similarity import (
        pq_adc_topk,
        pq_seed_codebooks,
        with_pq_codes,
    )

    e = _emb(spark, sf_dir)
    books = pq_seed_codebooks(e, m=PQ_M, ksub=PQ_KSUB)
    q = _query_vec(spark, sf_dir)
    return pq_adc_topk(with_pq_codes(e, books), q, books, k=TOPK)


def q_ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ — the full FAISS-style scale composition
    (similarity.py:ivfpq_topk): coarse IVF routing to nprobe lists,
    then ADC top-k over the PQ codes of those lists only; ~nprobe/
    n_list of the table scanned, only the m-byte code column read.
    Deterministic end to end, so the oracle replicates seeding,
    assignment, probing, coding and the LUT scoring verbatim."""
    from traval_spark.operators.similarity import (
        ivfpq_topk,
        pq_seed_codebooks,
    )

    e = _emb(spark, sf_dir)
    books = pq_seed_codebooks(e, m=PQ_M, ksub=PQ_KSUB)
    q = _query_vec(spark, sf_dir)
    return ivfpq_topk(e, q, books, k=TOPK, n_list=IVF_NLIST,
                      nprobe=IVF_NPROBE)


def q_knn_join(spark, sf_dir):
    """Exact batch KNN join: every query-batch row (vec_id % 50 == 0)
    gets its top-5 corpus neighbors by rounded cosine — the
    retrieval-pipeline shape where a whole batch needs neighbors, not
    one driver-side vector (similarity.py:knn_join; brute baseline,
    ivf variant is the scale path)."""
    from traval_spark.operators.similarity import knn_join

    e = _emb(spark, sf_dir)
    return knn_join(e.filter(F.col("vec_id") % 50 == 0),
                    e.filter(F.col("vec_id") % 50 != 0), k=5)


def q_knn_join_ivf(spark, sf_dir):
    """IVF-probed batch KNN join: each query scores only its nprobe
    nearest inverted lists of the CORPUS-built index; probe lists are
    computed distributed from centroid literals (no driver collect of
    the batch). Oracle replicates seeding/assignment/probing per query
    (similarity.py:ivf_knn_join)."""
    from traval_spark.operators.similarity import ivf_knn_join

    e = _emb(spark, sf_dir)
    return ivf_knn_join(e.filter(F.col("vec_id") % 50 == 0),
                        e.filter(F.col("vec_id") % 50 != 0), k=5,
                        n_list=IVF_NLIST, nprobe=IVF_NPROBE)


def q_cos_dup_pairs(spark, sf_dir):
    from traval_spark.operators.similarity import cosine_dup_pairs

    return cosine_dup_pairs(_emb(spark, sf_dir), threshold=COS_DUP_THR,
                            bucketed=False)


def q_cos_dup_pairs_lsh(spark, sf_dir):
    """The scale path of cosine_dup_pairs: hyperplane-bucketed join (only
    within-bucket pairs materialize); oracle embeds the same plane
    literals, so the recall trade is value-level checked, not assumed."""
    from traval_spark.operators.similarity import cosine_dup_pairs

    return cosine_dup_pairs(_emb(spark, sf_dir), threshold=COS_DUP_THR,
                            n_planes=N_PLANES, seed=LSH_SEED,
                            bucketed=True, dim=64)


ROC_THRESHOLDS = [4.0, 8.0, 12.0, 16.0, 20.0]


def q_roc_sweep(spark, sf_dir):
    """threshold_sweep: classifier counts for 5 candidate thresholds in
    ONE scan (posexplode + partial agg), chained through
    with_classifier_stats for the tpr/fpr arrays roc_plot consumes.
    Synthetic truth: values above HARDMAX_THR are the 'real' errors."""
    from traval_spark.comparison import threshold_sweep, with_classifier_stats

    s = _series(spark, sf_dir)
    truth = s.withColumn(
        "value",
        F.when(F.col("value") > HARDMAX_THR, F.lit(None)).otherwise(
            F.col("value")),
    )
    sw = with_classifier_stats(threshold_sweep(s, truth, ROC_THRESHOLDS))
    return sw.select(
        "threshold", "tp", "fp", "tn", "fn",
        F.round("tpr", 9).alias("tpr"), F.round("fpr", 9).alias("fpr"),
    )


def q_cos_dup_pairs_multi(spark, sf_dir):
    """Multi-table LSH recall knob: 2 independent plane sets (seeds
    LSH_SEED, LSH_SEED+1), a pair counts if ANY table buckets it together
    (OR across tables, distinct pairs) — recall strictly a superset of
    the single-table path; the oracle embeds both plane sets and unions
    the bucket joins."""
    from traval_spark.operators.similarity import cosine_dup_pairs

    return cosine_dup_pairs(_emb(spark, sf_dir), threshold=COS_DUP_THR,
                            n_planes=N_PLANES, seed=LSH_SEED,
                            bucketed=True, dim=64, n_tables=2)


def q_semantic_dup_pairs(spark, sf_dir):
    """SemDeDup-shape semantic near-dup pairs (Abbas et al. 2023):
    deterministic md5-seeded k-means clusters (IVF_NLIST lists, the same
    seeding ann_ivf_topk pins), pairwise rounded cosine computed only
    WITHIN a cluster (similarity.py:semantic_dup_pairs) — the quadratic
    term is local to each cluster. Carries each member's centroid cosine
    (the keep rule's ranking key); the oracle recomputes centroids +
    argmax assignment in SQL."""
    from traval_spark.operators.similarity import semantic_dup_pairs

    return semantic_dup_pairs(_emb(spark, sf_dir), threshold=COS_DUP_THR,
                              n_list=IVF_NLIST)


def q_semantic_keep(spark, sf_dir):
    """SemDeDup keep set: for every semantic-dup pair the member CLOSER
    to its centroid is dropped (SemDeDup keeps the low-centroid-
    similarity example), ties to the larger id — ids touching no pair
    survive unchanged (similarity.py:semantic_keep_ids)."""
    from traval_spark.operators.similarity import semantic_keep_ids

    return semantic_keep_ids(_emb(spark, sf_dir), threshold=COS_DUP_THR,
                             n_list=IVF_NLIST)


def q_semantic_incremental(spark, sf_dir):
    """Incremental semantic dedup — the daily-ingest shape: corpus rows
    (vec_id % 10 != 0, the same split dedup_incremental pins) live as a
    persisted assigned index at FIXED corpus-seeded centroids; the new
    batch is assigned once and probed within-cluster against corpus +
    batch, never re-pairing the corpus
    (similarity.py:semantic_incremental_pairs). Oracle = full
    within-cluster pair set at the same centroids restricted to pairs
    with >= 1 new member."""
    from traval_spark.operators.similarity import (
        ivf_seed_centroids,
        semantic_incremental_pairs,
        with_semantic_assignment,
    )

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    new = emb.filter(F.col("vec_id") % 10 == 0)
    cents = ivf_seed_centroids(corpus, IVF_NLIST)
    return semantic_incremental_pairs(
        new, with_semantic_assignment(corpus, cents), cents,
        threshold=COS_DUP_THR,
    )


def q_kmeans_components(spark, sf_dir):
    """Distributed k-means TRAINING state after two Lloyd passes from
    the md5-seeded IVF centroids (similarity.py:kmeans_components) —
    the iterative loop ivf_seed_centroids' one-pass seeding defers.
    Per-iteration 6dp-rounded component means pin the whole trajectory
    engine-exact (Spark side exact decimal sums, oracle avg noise
    absorbed by the round), so the oracle unrolls BOTH passes in SQL:
    seed -> argmax round(cos, 9) assignment (ties to smallest cid) ->
    per-dim rounded avg -> repeat, then reads off the same
    (cid, dim, m, n) long-form model artifact, empty clusters carried
    at their previous centroid with n = 0."""
    from traval_spark.operators.similarity import kmeans_components

    return kmeans_components(_emb(spark, sf_dir), k=IVF_NLIST, iters=2)


def _tpch(spark, sf_dir, name):
    _ship_package(spark)
    return _read(spark, f"{sf_dir}/{name}.parquet")


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization of the events stream per user via the
    native session_window aggregation (rollup.py:session_rollup; oracle
    = the classic lag + running-sum session-id formulation). Sums
    rounded for float stability."""
    from traval_spark.rollup import session_rollup

    out = session_rollup(_events(spark, sf_dir), gap="30m")
    return out.select(
        "user", "session_start", "session_end_ts", "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


def q_sliding_rollup(spark, sf_dir):
    """Sliding-window rollup via stream slicing (panes): raw rows
    aggregate once into 10m panes, panes combine into overlapping 1h
    windows — k x less shuffle than the built-in row-replicating
    F.window (rollup.py:sliding_rollup; oracle = the DIRECT sliding
    definition, independent of the pane construction)."""
    from traval_spark.rollup import sliding_rollup

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts",
        F.col("value").alias("n_tok"),
    )
    out = sliding_rollup(src, window="1h", slide="10m")
    return out.select(
        "source", "window_start", "n_points",
        F.round("sum_tok", 6).alias("sum_tok"), "min_tok", "max_tok",
    )


def q_tier_routed(spark, sf_dir):
    """Downsample-on-read tier routing (router.py): a 1h-resolution read
    over the full range is served by stitching the COARSEST tier able to
    serve each day — 1h rollup for settled history, the 1m tier for the
    not-yet-cascaded day, raw for the live tail (the materialization-lag
    shape every tiered TSDB has). The cascade-composition identity makes
    tier choice invisible in the answer, so the oracle is the plain
    direct-from-raw hourly rollup: the query proves stitched == direct."""
    import datetime as dt

    from traval_spark.router import read_routed, route_plan
    from traval_spark.rollup import rollup_cascade, rollup_raw

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts",
        F.col("value").alias("n_tok"),
    )
    # two scalars driver-side (like the IVF centroids): the data's day span
    span = src.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    ).collect()[0]
    lo, hi = span["lo"], span["hi"]
    cov = {
        "1h": (lo.isoformat(), (hi - dt.timedelta(days=2)).isoformat()),
        "1m": ((hi - dt.timedelta(days=6)).isoformat(),
               (hi - dt.timedelta(days=1)).isoformat()),
        "raw": ((hi - dt.timedelta(days=1)).isoformat(), hi.isoformat()),
    }
    t1m = rollup_raw(src, "1m")
    frames = {"raw": src, "1m": t1m, "1h": rollup_cascade(t1m, "1h")}
    out = read_routed(frames, route_plan(cov, "1h"), strict=True)
    return out.select(
        "source", "bucket", "n_points",
        F.round("sum_tok", 6).alias("sum_val"),
        F.col("min_tok").alias("min_val"),
        F.col("max_tok").alias("max_val"),
    )


def q_contract_check(spark, sf_dir):
    """Data-contract gate (operators/contract.py): the dbt-test family
    over the warehouse tables in minimum scans — all row-level orders
    predicates in ONE aggregate scan (not-null, accepted enum, range,
    a deliberately tight price cap that actually fires), key
    uniqueness as count minus count-distinct, and lineitem->orders
    referential integrity as one left-anti join. Long-form
    (check, n_violations) report."""
    from traval_spark.operators.contract import (
        column_checks,
        contract_report,
        fk_check,
        unique_check,
    )

    o = _tpch(spark, sf_dir, "orders")
    li = _tpch(spark, sf_dir, "lineitem")
    parts = [
        column_checks(
            o,
            {
                "orders_custkey_not_null": F.col("o_custkey").isNotNull(),
                "orders_status_accepted": F.col("o_orderstatus").isin(
                    "O", "F", "P"
                ),
                "orders_price_positive": F.col("o_totalprice") > 0,
                "orders_price_cap_300k": F.col("o_totalprice") <= 300000,
            },
        ),
        unique_check(o, ("o_orderkey",), "orders_key_unique"),
        fk_check(
            li, "l_orderkey", o, "o_orderkey", "lineitem_orderkey_fk"
        ),
    ]
    return contract_report(parts)


def q_tpch_pricing(spark, sf_dir):
    """TPC-H Q1-style pricing summary over lineitem: single-scan groupBy
    with partial aggregation; sums rounded for cross-engine float-sum
    stability (magnitudes ~1e8, double-summation order error ~1e-6)."""
    l = _tpch(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(charge), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


def q_tpch_top_orders(spark, sf_dir):
    """TPC-H Q3-style shipping priority: broadcast the filtered customer
    dim into the orders x lineitem join, top-10 via
    TakeOrderedAndProject (fully deterministic tie-break)."""
    c = _tpch(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = _tpch(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15"))
    l = _tpch(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15"))
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    )
    g = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(rev, 2).alias("revenue"))
    return g.orderBy(
        F.desc("revenue"), "o_orderdate", "l_orderkey").limit(10)


def q_tpch_returned_revenue(spark, sf_dir):
    """TPC-H Q10-style returned-item report: which customers returned
    the most revenue in a quarter — lineitem(R) x orders(quarter) with
    customer and nation dims BROADCAST, top-20 via
    TakeOrderedAndProject with a full deterministic tie-break."""
    c = _tpch(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey")
    n = _tpch(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _tpch(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01")))
    l = _tpch(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    j = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    g = j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.round(rev, 2).alias("revenue"))
    return g.orderBy(F.desc("revenue"), "c_custkey").limit(20)


def q_tpch_promo_share(spark, sf_dir):
    """TPC-H Q14-style promo revenue share: one month of lineitem
    joined to the BROADCAST part dim, conditional-aggregate ratio (the
    case-when-inside-sum shape) — 100 * promo revenue / total revenue,
    single global row, rounded 6dp."""
    p = _tpch(spark, sf_dir, "part").select("p_partkey", "p_type")
    l = _tpch(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01")))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev)
                    .otherwise(F.lit(0.0)))
            / F.sum(rev), 6
        ).alias("promo_share")
    )


def q_tpch_regional_revenue(spark, sf_dir):
    """TPC-H Q5-style local-supplier volume: the full 6-table join chain
    with every dimension broadcast; per-nation revenue."""
    r = _tpch(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _tpch(spark, sf_dir, "nation")
    c = _tpch(spark, sf_dir, "customer")
    su = _tpch(spark, sf_dir, "supplier")
    o = _tpch(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01")))
    l = _tpch(spark, sf_dir, "lineitem")
    j = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c),
              (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return j.groupBy("n_name").agg(F.round(rev, 2).alias("revenue"))


def q_tpch_forecast_revenue(spark, sf_dir):
    """TPC-H Q6-style forecast revenue: pure scan-side query — every
    predicate (shipdate range, discount band, quantity cap) pushes to
    the parquet scan (PushedFilters), only 4 columns read, one partial+
    final agg, no shuffle of row data. The canonical predicate-pushdown
    showcase."""
    l = _tpch(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01"))
        & (F.col("l_shipdate") < F.lit("1995-01-01"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24))
    return l.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
        .alias("revenue"),
        F.count("*").alias("n_rows"),
    )


def q_tpch_cust_dist(spark, sf_dir):
    """TPC-H Q13-style customer order-count distribution (the
    left-outer + double-aggregation shape; status<>'P' stands in for
    the kit's o_comment NOT LIKE filter — this schema carries no
    comment column).  Plan: the aggregate is PUSHED THROUGH the join —
    orders pre-collapse to one (custkey, count) row each (partial-
    aggregatable, shrinks the probe side ~|orders|/|customers|×) and
    the left join runs customer × counts instead of customer × orders;
    coalesce(count, 0) restores the zero-order customers the kit's
    LEFT JOIN keeps.  Exact: pure integer counts."""
    c = _tpch(spark, sf_dir, "customer").select("c_custkey")
    per = (
        _tpch(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") != "P")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    j = c.join(per, F.col("c_custkey") == F.col("o_custkey"), "left")
    per_cust = j.select(
        F.coalesce(F.col("__n"), F.lit(0)).alias("c_count"))
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist"))


def q_tpch_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17-style small-quantity-order revenue (the correlated
    scalar-subquery shape: lineitems below 20% of their part's average
    quantity).  Plan: the correlated avg is ONE window over the
    brand-filtered join — never a second scan or a re-join of the
    aggregate (partition = partkey, bounded ~30-row groups, no skew).
    Exact: l_quantity is integer-valued, so the per-part avg is an
    exact-integer sum / count — correctly rounded identically in any
    engine regardless of order — and 0.2*avg is the same IEEE product
    both sides; only the final revenue sum needs the 2dp guard."""
    p = (
        _tpch(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    l = _tpch(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    from pyspark.sql import Window

    lp = l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    keep = lp.withColumn("__aq", F.avg("l_quantity").over(w)).filter(
        F.col("l_quantity") < F.lit(0.2) * F.col("__aq"))
    return keep.agg(
        F.round(F.sum("l_extendedprice") / F.lit(7.0), 2)
        .alias("avg_yearly"))


def q_tpch_big_orders(spark, sf_dir):
    """TPC-H Q18-style large-volume customers (the group-HAVING-IN
    shape).  Plan: lineitem collapses FIRST to per-order quantity sums
    (partial-aggregatable) and the HAVING filter shrinks it to the
    handful of big orders BEFORE any join; the qualifying-order frame
    then joins orders, and the customer dim is broadcast; top-100 via
    TakeOrderedAndProject with a full deterministic tie-break
    (orderkey is unique).  Exact: quantity sums are integer-valued."""
    big = (
        _tpch(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    o = _tpch(spark, sf_dir, "orders")
    c = _tpch(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    )
    out = j.select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                   "o_totalprice", "sum_qty")
    return out.orderBy(
        F.desc("o_totalprice"), "o_orderdate", "o_orderkey").limit(100)


def q_tpch_disjunct_revenue(spark, sf_dir):
    """TPC-H Q19-style disjunctive-predicate revenue (the OR-of-
    conjuncts shape the kit hand-optimizes; brand/size/quantity bands
    stand in for the kit's container/shipmode columns this schema
    doesn't carry).  Plan: the per-side ENVELOPES of the disjunction
    are pushed redundantly — part pre-filters to the brand set + the
    size hull, lineitem to the quantity hull (both reach the parquet
    scan as PushedFilters) — then the exact OR runs on the joined rows
    with the small filtered part dim broadcast."""
    brands = ["Brand#12", "Brand#23", "Brand#34"]
    p = (
        _tpch(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin(brands)
                & F.col("p_size").between(1, 15))
        .select("p_partkey", "p_brand", "p_size")
    )
    l = _tpch(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    ).select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    j = l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    disj = (
        ((F.col("p_brand") == "Brand#12")
         & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23")
           & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34")
           & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return j.filter(disj).agg(F.round(rev, 2).alias("revenue"))


def q_tpch_quiet_customers(spark, sf_dir):
    """TPC-H Q22-style dormant-value customers (the global-scalar-
    subquery + ANTI-join shape): above-average-balance customers with
    no urgent order, per market segment (segment stands in for the
    kit's phone country code).  Plan: the positive-balance average is
    ONE scalar row broadcast-crossed in (the audited global-scalar
    class), the no-urgent-order test is a LEFT ANTI join against the
    priority-filtered orders projection.  Exact: the above-average
    test clears the denominator — round(bal*100) int64 cents, compare
    cents*n > sum_cents as exact integers, so no float-avg ulp can
    flip a membership cross-engine; only the reported balance total
    carries the 2dp guard."""
    c = _tpch(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    tot = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.sum(cents).cast("decimal(38,0)").alias("__s"),
             F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"))
    )
    urgent = (
        _tpch(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    rich = (
        c.crossJoin(F.broadcast(tot))
        .filter(cents.cast("decimal(38,0)") * F.col("__n") > F.col("__s"))
    )
    keep = rich.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    return keep.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


def q_tpch_waiting_supplier(spark, sf_dir):
    """TPC-H Q21-shape suppliers-who-kept-orders-waiting (the
    EXISTS + NOT-EXISTS double self-join shape — the hardest plan in
    the kit's join family): for finished orders, count per supplier
    the line items that shipped late (> 75 days after the order date
    — the testdata has no receipt/commit dates, so lateness adapts to
    ship-vs-order-date, same shape) where the order HAD other
    suppliers (EXISTS -> LEFT SEMI on orderkey with a suppkey
    inequality) but NO OTHER supplier was late (NOT EXISTS -> LEFT
    ANTI against the late subset, same compound condition).  Both
    self-joins key on l_orderkey — one shuffle key, no row inflation
    (semi/anti preserve l1 multiplicity like the kit's count(*)).
    Supplier + nation resolve as broadcast dims AFTER the heavy
    self-joins cut the fact side to sole-late rows."""
    o = _tpch(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    l = _tpch(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    lo = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey", "l_suppkey",
        (F.col("l_shipdate")
         > F.col("o_orderdate") + F.expr("INTERVAL 75 DAYS"))
        .alias("late"),
    )
    l1 = lo.filter(F.col("late"))
    l2 = lo.select(F.col("l_orderkey").alias("ok2"),
                   F.col("l_suppkey").alias("sk2"))
    l3 = l1.select(F.col("l_orderkey").alias("ok3"),
                   F.col("l_suppkey").alias("sk3"))
    cand = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("ok2"))
        & (F.col("l_suppkey") != F.col("sk2")),
        "left_semi",
    )
    sole = cand.join(
        l3,
        (F.col("l_orderkey") == F.col("ok3"))
        & (F.col("l_suppkey") != F.col("sk3")),
        "left_anti",
    )
    n = _tpch(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7").select("n_nationkey")
    s = (
        _tpch(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        sole.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


def q_tpch_nation_volume(spark, sf_dir):
    """TPC-H Q7-style bilateral shipping volume (the two-dimension-
    lookup + symmetric-pair shape): revenue NATION_1 ↔ NATION_2 per
    ship year.  Plan: supplier and customer each pre-filter to the two
    nations BEFORE their broadcast (the join fans lineitem down ~25×
    per side at the scan), nation lookups resolve inside the broadcast
    dims, the exact symmetric-pair OR runs on the joined rows."""
    pair = ["NATION_1", "NATION_2"]
    n = _tpch(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(pair)).select("n_nationkey", "n_name")
    s = (
        _tpch(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _tpch(spark, sf_dir, "customer")
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = _tpch(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _tpch(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01")))
    j = (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == pair[0])
             & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1])
               & (F.col("cust_nation") == pair[0])))
    )
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return j.groupBy(
        "supp_nation", "cust_nation",
        F.year("l_shipdate").alias("l_year"),
    ).agg(F.round(rev, 2).alias("revenue"))


def q_tpch_market_share(spark, sf_dir):
    """TPC-H Q8-style market share (the share-of-one-group-inside-a-
    filtered-market shape): NATION_3's fraction of ECONOMY-part revenue
    sold into AMERICA-region customers, per order year.  Plan: region→
    nation resolves inside the broadcast customer dim, part pre-filters
    to the type before ITS broadcast, the supplier nation arrives as
    one more broadcast lookup, and the share is a conditional-aggregate
    ratio (the Q14 shape) — one corpus pass, no second scan for the
    denominator."""
    n = _tpch(spark, sf_dir, "nation")
    r = _tpch(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    c = (
        _tpch(spark, sf_dir, "customer")
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    p = _tpch(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY").select("p_partkey")
    s = (
        _tpch(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    o = _tpch(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01")))
    l = _tpch(spark, sf_dir, "lineitem")
    j = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", rev)
                  .otherwise(F.lit(0.0))) / F.sum(rev), 6
        ).alias("mkt_share"))


def q_tpch_top_supplier(spark, sf_dir):
    """TPC-H Q15-style top supplier (the aggregate-equals-MAX-of-
    aggregate shape the kit phrases as a view + scalar subquery).
    Exact: per-row revenue is fixed-point cents (round(ep·(1−disc)·100)
    — the same IEEE product and half-away round in both engines), so
    per-supplier totals are exact integers and the == MAX tie test can
    never be flipped by float-sum association; the reported revenue is
    one descale division.  Plan: one partial-aggregatable quarter scan,
    the MAX is a 1-row broadcast cross (the audited global-scalar
    class), supplier dim broadcast."""
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = (
        _tpch(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= F.lit("1996-01-01"))
                & (F.col("l_shipdate") < F.lit("1996-04-01")))
        .groupBy("l_suppkey")
        .agg(F.sum(cents).alias("__rc"))
    )
    mx = rev.agg(F.max("__rc").alias("__mx"))
    s = _tpch(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    top = rev.crossJoin(F.broadcast(mx)).filter(
        F.col("__rc") == F.col("__mx"))
    return top.join(
        F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")
    ).select(
        "s_suppkey", "s_name",
        (F.col("__rc").cast("double") / 100.0).alias("total_revenue"),
    )


def q_json_props(spark, sf_dir):
    """Semi-structured extraction: parse the events.props JSON column
    JVM-side (get_json_object — codegen'd, no Python) and aggregate per
    event_type."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


def q_doc_filter_chain(spark, sf_dir):
    """Composite Gopher/C4-style cleaning chain: per-gate fail flags
    (word-count band, mean-word-length band, dup-word fraction,
    top-bigram mass, stopword lang-ID) + the final kept verdict, all in
    one pass over documents (text.py:filter_documents). Thresholds
    chosen to split the synthetic corpus so every gate actually fires."""
    from traval_spark.operators.text import filter_documents

    return filter_documents(
        _docs(spark, sf_dir),
        min_words=20, max_words=90,
        mean_word_length_range=(4.4, 10.0),
        max_dup_word_fraction=0.5,
        max_top_bigram_fraction=0.2,
        allowed_langs=("en",),
    )


def q_dup_clusters(spark, sf_dir):
    """Connected components over the banded SimHash near-dup pairs:
    every doc labeled with its cluster representative (min reachable
    doc id) — large-star/small-star contraction in Spark (O(log n)
    rounds regardless of component diameter, dedup.py:
    connected_components), transitive closure via recursive CTE in the
    oracle."""
    from traval_spark.operators.dedup import dup_clusters, simhash64_dup_pairs

    d = _docs_with_near_dups(spark, sf_dir)
    pairs = simhash64_dup_pairs(d, max_hamming=3)
    return dup_clusters(d, pairs)


def q_unimax_budget(spark, sf_dir):
    """UniMax waterfilling allocation (sampling.py:unimax_budget):
    spread a 200k-char budget as uniformly as possible across
    sources with a 3-epoch repeat cap — capped prefix by the exact
    integer crossover test, water level ONE exact-integer division,
    shortfall disclosed when capacity can't fill the budget."""
    from traval_spark.operators.sampling import unimax_budget

    d = _docs(spark, sf_dir).select(
        "source", F.col("n_chars").alias("n_tok"))
    return unimax_budget(d, budget=200_000, max_epochs=3)


def q_cluster_cohesion(spark, sf_dir):
    """Near-dup cluster QA (dedup.py:cluster_cohesion): every
    non-root member's exact SimHash64 Hamming distance to its
    cluster root (member-vs-root, linear — never within-cluster
    all-pairs), per-cluster mean/max, loose flag where transitive
    chaining pushed a member beyond the pair radius."""
    from traval_spark.operators.dedup import (
        cluster_cohesion, dup_clusters, simhash64_dup_pairs)

    d = _docs_with_near_dups(spark, sf_dir)
    pairs = simhash64_dup_pairs(d, max_hamming=3)
    clusters = dup_clusters(d, pairs)
    return cluster_cohesion(d, clusters, max_hamming=3)


def q_strip_boilerplate(spark, sf_dir):
    """CCNet-style line-level boilerplate dedup (dedup.py:
    strip_boilerplate_lines): a synthetic footer on every 3rd doc and
    header on every 5th cross the min_df=5 census and are stripped
    from every document; unique body lines survive; reassembly by
    original position."""
    from traval_spark.operators.dedup import strip_boilerplate_lines

    d = _docs(spark, sf_dir)
    d = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"),
                     F.lit("\nsubscribe to our newsletter")),
        ).otherwise(F.col("text")),
    ).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("breaking news update\n"), F.col("text")),
        ).otherwise(F.col("text")),
    )
    return strip_boilerplate_lines(d, min_df=5)


def q_gopher_repetition(spark, sf_dir):
    """Gopher-style within-doc repetition filters: per-row word stats +
    the aggregation-shaped top-bigram character fraction (operators/
    text.py:repetition_columns, top_bigram_fraction)."""
    from traval_spark.operators.text import (
        repetition_columns,
        top_bigram_fraction,
    )

    d = _docs(spark, sf_dir)
    cols = repetition_columns(F.col("text"))
    per_row = d.select("doc_id", *[v.alias(k) for k, v in cols.items()])
    return per_row.join(top_bigram_fraction(d), on="doc_id")


def q_multimodal_meta(spark, sf_dir):
    from traval_spark.operators.multimodal import attach_payload, extract_features

    d = attach_payload(_docs(spark, sf_dir))
    return extract_features(d).select("doc_id", "n_bytes", "format")


def q_frame_sample(spark, sf_dir):
    """sample_frames: 1->N mapInPandas frame sampling. The fake decoder's
    duration is md5-derived, so DuckDB replays the sampling logic exactly
    (doc_id/frame_idx/ts_ms; frame bytes excluded — binary md5 chaining
    is not portably expressible in the oracle dialect)."""
    from traval_spark.operators.multimodal import attach_payload, sample_frames

    d = attach_payload(_docs(spark, sf_dir))
    f = sample_frames(d, every_ms=1000, max_frames=8)
    return f.select("doc_id", "frame_idx", "ts_ms")


def q_m4_1h(spark, sf_dir):
    """M4 visual downsample (Jugel et al.) SERVED FROM THE TIER: the
    query computes the 1-minute M4 tier and merges it to 1h
    (downsample.py:m4_merge); the oracle is the direct 1h M4 on raw
    points — so the correctness gate itself proves the M4 cascade
    identity (store fine once, serve every zoom level exactly)."""
    from traval_spark.operators.downsample import m4_downsample, m4_merge

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    return m4_merge(m4_downsample(ev, bucket="1m"), bucket="1h")


def q_lttb_6h(spark, sf_dir):
    """Fixed-anchor LTTB downsample (downsample.py:lttb_downsample):
    one shape-preserving point per (series, 6h bucket), the triangle
    argmax evaluated in exact scaled-integer arithmetic (decimal(38,0)
    here, HUGEINT in the oracle) so the selected points are
    engine-identical."""
    from traval_spark.operators.downsample import lttb_downsample

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    return lttb_downsample(ev, bucket="6h")


def q_counter_rate(spark, sf_dir):
    """PromQL-style counter semantics (monitor.py:counter_windows):
    per-series increase / rate / resets over 1h tumbling windows with
    the Prometheus reset rule (negative step credits the new value)."""
    from traval_spark.operators.monitor import counter_windows

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value", "event_id"
    )
    return counter_windows(ev, window="1h")


def q_gap_stats(spark, sf_dir):
    """Per-series gap census + uptime fraction (monitor.py:gap_stats):
    inter-arrival deltas over 30m count as outages for the excess
    above threshold; all-integer micros until the final ratio."""
    from traval_spark.operators.monitor import gap_stats

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "event_id"
    )
    return gap_stats(ev, max_gap="30m")


def q_cusum_change(spark, sf_dir):
    """Exact-integer max-|CUSUM| level-shift candidate per series
    (monitor.py:cusum_changepoint): D_i = N*C_i - i*S on fixed-point
    values — the argmax is engine-exact, no float-association noise."""
    from traval_spark.operators.monitor import cusum_changepoint

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value", "event_id"
    )
    # d_max_scaled: DuckDB HUGEINT -> float64 in pandas; align (see
    # q_rollup_sets)
    return cusum_changepoint(ev).withColumn(
        "d_max_scaled", F.col("d_max_scaled").cast("double"))


def q_seasonal_profile(spark, sf_dir):
    """Per (series, hour-of-day) seasonal baseline (monitor.py:
    seasonal_profile): mean/std from exact fixed-point moments
    (var_num = n*sum(y^2) - sum(y)^2 on decimal/HUGEINT) — one
    partial-aggregatable groupBy producing a tiny broadcastable
    profile."""
    from traval_spark.operators.monitor import seasonal_profile

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    return seasonal_profile(ev).select(
        "source", "hod", "n_points", "mean_value", "std_value"
    )


def q_seasonal_anomaly(spark, sf_dir):
    """Seasonal-baseline anomaly read (monitor.py:seasonal_anomaly):
    points > 3 sigma from their (series, hour-of-day) profile; z is
    derived from exact integers so the flag set is engine-identical.
    The point stream takes ONE broadcast join — no shuffle."""
    from traval_spark.operators.monitor import seasonal_anomaly

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    return seasonal_anomaly(ev, threshold=2.5)


def q_ewma_daily(spark, sf_dir):
    """Per-(series, day) exponential smoothing as a pure-JVM ordered
    array fold (monitor.py:ewma_daily) — literal coefficients, same
    operation order as the oracle's list_reduce, so the doubles are
    BIT-identical (no rounding slack in this oracle)."""
    from traval_spark.operators.monitor import ewma_daily

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value", "event_id"
    )
    return ewma_daily(ev, alpha=0.3)


def q_holt_daily(spark, sf_dir):
    """Holt linear (level+trend) smoothing per (series, day)
    (monitor.py:holt_daily): struct-accumulator JVM fold; the oracle
    folds a two-double LIST accumulator because DuckDB's list_reduce
    updates struct fields in place (field 2 would see field 1's new
    value) — the list form is order-safe and bit-identical."""
    from traval_spark.operators.monitor import holt_daily

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value", "event_id"
    )
    return holt_daily(ev, alpha=0.3, beta=0.1)


def q_holt_winters_daily(spark, sf_dir):
    """Holt-Winters additive seasonal smoothing per (series, day)
    (monitor.py:holt_winters_daily): flat double-ARRAY accumulator
    [level, trend, consumed, s_0..s_{m-1}] folded entirely JVM-side;
    the consumed counter yields each element's seasonal slot inside the
    fold, and the list accumulator sidesteps DuckDB's in-place
    struct-field mutation so the oracle's list_reduce is bit-identical
    for the same repr'd coefficients."""
    from traval_spark.operators.monitor import holt_winters_daily

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value", "event_id"
    )
    return holt_winters_daily(ev, alpha=0.3, beta=0.1, gamma=0.2,
                              period=24)


def q_key_skew(spark, sf_dir):
    """Shuffle-key skew profiler (layout.py:skew_report) over the
    documents language key: max/top-k shares, normalized entropy and
    the suggested salt fan-out — the pre-flight read that decides
    whether a join/agg on this key needs salting."""
    from traval_spark.sources.layout import skew_report

    return skew_report(_docs(spark, sf_dir), "lang", top_k=5)


def q_psi_drift(spark, sf_dir):
    """Distribution-drift monitor (monitor.py:psi_drift): PSI between
    the first two weeks and the rest of the month per series —
    Laplace-smoothed over the union bin table, everything derived from
    exact integer counts."""
    from traval_spark.operators.monitor import psi_drift

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    cut = "2024-01-15"
    return psi_drift(
        ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut),
        scale=1,
    )


def q_twa_1h(spark, sf_dir):
    """Time-weighted average per (series, hour)
    (monitor.py:time_weighted_avg, LOCF convention): each observation
    weighted by how long it held; numerator exact decimal, denominator
    exact integer — the division is the only double op."""
    from traval_spark.operators.monitor import time_weighted_avg

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value", "event_id"
    )
    return time_weighted_avg(ev, bucket="1h")


def q_spearman_pairs(spark, sf_dir):
    """Spearman rank correlation between every pair of hourly count
    signals (monitor.py:spearman_pairs): tie-corrected exactly via
    DOUBLED average ranks (2*rank + ties - 1 stays integer; Pearson is
    affine-invariant), moments in decimal — engine-identical rho."""
    from traval_spark.operators.monitor import spearman_pairs

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return spearman_pairs(ev, bucket="1h")


def q_series_health(spark, sf_dir):
    """The ops-dashboard ONE READ: per series — gap census + uptime,
    the CUSUM level-shift candidate, and the count of seasonal
    >2.5-sigma anomalies, three tiny per-source frames joined (each
    engine-exact on its own; the join is on the source key)."""
    from traval_spark.operators.monitor import (
        cusum_changepoint,
        gap_stats,
        seasonal_anomaly,
    )

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value", "event_id"
    )
    g = gap_stats(ev.drop("value"), max_gap="30m").select(
        "source", "n_points", "n_gaps", "uptime_frac"
    )
    c = cusum_changepoint(ev).select("source", "t_change", "score")
    a = (
        seasonal_anomaly(ev.drop("event_id"), threshold=2.5)
        .groupBy("source").agg(F.count("*").alias("n_anomalies"))
    )
    return (
        g.join(c, "source")
        .join(a, "source", "left")
        .withColumn("n_anomalies",
                    F.coalesce(F.col("n_anomalies"), F.lit(0)))
    )


def q_hysteresis(spark, sf_dir):
    """Two-threshold latched alerting (monitor.py:hysteresis_daily):
    alerts fire above 400 and release below 300 — the debounced alarm
    as a pure-JVM ordered array fold per (series, day); transitions
    compare doubles against literals, so the oracle's identical
    list_reduce lands on the same counts."""
    from traval_spark.operators.monitor import hysteresis_daily

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value", "event_id"
    )
    return hysteresis_daily(ev, hi=400.0, lo=300.0)


def q_change_points(spark, sf_dir):
    """Run-length compaction (monitor.py:changes_only): keep only the
    rows where the value changes per series — the storage dual of
    gap-fill (asof_join/ffill reconstructs exactly, pytest-proven)."""
    from traval_spark.operators.monitor import changes_only

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts",
        F.round(F.col("value") / 50).alias("value"),  # coarse: real runs
        "event_id",
    )
    return changes_only(ev)


def q_trend_slope(spark, sf_dir):
    """Per-(series, day) least-squares trend slope from exact
    fixed-point moments (monitor.py:trend_slope): numerator and
    denominator are exact decimal integers, the final division is
    engine-identical."""
    from traval_spark.operators.monitor import trend_slope

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    return trend_slope(ev, bucket="1d")


def q_theil_sen(spark, sf_dir):
    """Theil–Sen robust trend slope per series over the zero-filled
    hourly bucket-count signal (monitor.py:theil_sen): median of all
    pairwise slopes; each slope is a double of two exact integers and
    the even-count median averages the two middle doubles — DuckDB
    median() semantics exactly. Only raw-scale work is ONE groupBy;
    the O(m^2) pair join and the median window run on the tiny signal
    frame."""
    from traval_spark.operators.monitor import theil_sen

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return theil_sen(ev, bucket="1h")


def q_pmi_bigrams(spark, sf_dir):
    """PMI collocations over adjacent word pairs (text.py:pmi_bigrams):
    unigram and bigram streams each collapse map-side into
    vocab-bounded count tables before any shuffle; the PMI log runs on
    one exact decimal(38,0) ratio so the double is engine-identical.
    min_count gates the bigram table BEFORE the assembly joins."""
    from traval_spark.operators.text import pmi_bigrams

    return pmi_bigrams(_docs(spark, sf_dir), min_count=3)


def q_source_overlap(spark, sf_dir):
    """Pairwise k-gram Jaccard between sources (text.py:source_overlap,
    the mixture-design redundancy read): distinct (source, shingle)
    via partial-aggregatable dedup, intersections as a self-join keyed
    on the shingle (per-shingle fan-out bounded by the source count),
    zero-overlap pairs kept via the tiny per-source-size cross."""
    from traval_spark.operators.text import source_overlap

    return source_overlap(_docs(spark, sf_dir), k=2)


def q_retention_preview(spark, sf_dir):
    """TTL dry run (sources/tierstore.py:retention_preview): per-day
    row counts with the keep/drop verdict under apply_retention's
    exact cutoff rule (as_of - keep_days, strict day < cutoff) — the
    read that sizes a retention pass before it mutates anything."""
    from traval_spark.sources.tierstore import retention_preview

    return retention_preview(
        _events(spark, sf_dir), keep_days=20, as_of="2024-01-31"
    )


def q_lttb_from_m4(spark, sf_dir):
    """Tiered visualization read (downsample.py:lttb_from_m4): LTTB
    6h served from the 1m->1h-merged M4 tier — raw never re-scanned,
    the triangle pass sees <=4 candidate points per stored bucket.
    Oracle replicates the composition: 1h M4 candidates from raw
    (exact-merge property makes 1m->1h == direct 1h), distinct, then
    the same exact-integer LTTB."""
    from traval_spark.operators.downsample import (
        lttb_from_m4, m4_downsample, m4_merge,
    )

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    tier = m4_merge(m4_downsample(ev, bucket="1m"), "1h")
    return lttb_from_m4(tier, bucket="6h")


def q_forecast_backtest(spark, sf_dir):
    """Walk-forward Holt backtest (monitor.py:forecast_backtest): each
    step scores the standing l+t forecast against the arriving daily
    count BEFORE consuming it (no leakage), MASE vs the naive
    yesterday's-value forecast — one pure-JVM array fold per series,
    bit-identical error sums in both engines."""
    from traval_spark.operators.monitor import forecast_backtest

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return forecast_backtest(ev, bucket="1d", alpha=0.3, beta=0.1)


def q_seasonal_strength(spark, sf_dir):
    """Seasonality-strength gate (monitor.py:seasonal_strength):
    variance fraction explained by the hour-of-day profile via the
    one-way-ANOVA identity on the zero-filled bucket-count signal —
    count/squared-count sums exact decimal, the only order-dependent
    float reduction is the 24-term sum of s_h^2/n_h (rounded with the
    result). One raw groupBy; ANOVA runs on the tiny signal frame."""
    from traval_spark.operators.monitor import seasonal_strength

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return seasonal_strength(ev, bucket="1h", period=24)


def q_corpus_diff(spark, sf_dir):
    """Snapshot CDC audit (contract.py:corpus_diff): synthetic 'new
    crawl' derived from the corpus (drop doc_id%11, upper-case
    doc_id%13, re-id doc_id%17 as additions) diffed against the
    original — each side collapses to (id, md5) in the scan
    projection, one full-outer equi-join, delta-only output."""
    from traval_spark.operators.contract import corpus_diff

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    base = docs.filter(did % 11 != 0).withColumn(
        "text",
        F.when(did % 13 == 0, F.upper(F.col("text")))
        .otherwise(F.col("text")),
    )
    added = docs.filter(did % 17 == 0).withColumn(
        "doc_id", did + F.lit(1000000)
    )
    new = base.unionByName(added)
    return corpus_diff(docs, new)


def q_phrase_search(spark, sf_dir):
    """Index-served phrase containment (dedup.py:phrase_search): the
    phrase's k-shingles filter the inverted index (plan-time literal
    list — pushes to a stored index's parquet scan), ALL-shingles
    candidates verified by word-boundary containment on a left-semi
    pruned documents scan. Oracle is the full-scan containment the
    index replaces."""
    from traval_spark.operators.dedup import phrase_search, shingle_index

    docs = _docs(spark, sf_dir)
    idx = shingle_index(docs, k=3)
    return phrase_search(idx, docs, "slow hash batch", k=3)


def q_source_entropy(spark, sf_dir):
    """Per-source token-distribution diversity + idiosyncrasy
    (text.py:source_entropy): Shannon entropy and KL(source || corpus)
    from one raw explode->groupBy; corpus marginals derived FROM the
    vocab-bounded count frame, never a second raw pass."""
    from traval_spark.operators.text import source_entropy

    return source_entropy(_docs(spark, sf_dir))


def q_join_blowup(spark, sf_dir):
    """Pre-flight join-cardinality predictor
    (sources/layout.py:join_blowup): exact inner-join output size
    sum_k ca_k*cb_k from the two key-count tables WITHOUT running the
    join — per-key products in decimal(38,0), worst key named, the
    amplification trigger. view x purchase on user_id."""
    from traval_spark.sources.layout import join_blowup

    ev = _events(spark, sf_dir)
    return join_blowup(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        "user_id",
    )


def q_asof_join(spark, sf_dir):
    """General point-to-point AS-OF join (functions/ts.py:asof_join):
    every view event picks the user's latest purchase at-or-before it
    — union-tag + one last(ignorenulls) window per key, no nested
    loop, no row replication. Oracle: DuckDB's native ASOF LEFT JOIN."""
    from traval_spark.functions.ts import asof_join

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(left, right, by=("user_id",))


def q_temperature_mix(spark, sf_dir):
    """Temperature-based rebalance (sampling.py:temperature_mix, the
    multilingual-LM n^alpha mix — run over the LANGUAGE axis, where the
    corpus is genuinely skewed): fractions (n_g/n_min)^(alpha-1)
    derived from the corpus itself via one tiny groupBy-count and
    broadcast back; deterministic hash draw; fraction rounded before
    the comparison so libm pow noise cannot flip a boundary row."""
    from traval_spark.operators.sampling import temperature_mix

    return temperature_mix(
        _docs(spark, sf_dir).select("doc_id", "lang"),
        alpha=0.5, seed=11, source_col="lang",
    )


def q_pad_sequences(spark, sf_dir):
    """Loader-final pad/truncate (text.py:pad_sequences): every token
    sequence shaped to exactly 48 ids + attention mask, pure array
    codegen with zero shuffle. Arrays serialized as CSV strings for
    the value-hash compare."""
    from traval_spark.operators.text import pad_sequences

    s = _seqs_from(_docs(spark, sf_dir))
    out = pad_sequences(s, max_len=48, pad_id=0)
    isnull = F.col("tokens").isNull()
    return out.select(
        "doc_id", "n_real",
        F.when(isnull, F.lit(None))
        .otherwise(F.concat_ws(",", "input_ids")).alias("input_ids"),
        F.when(isnull, F.lit(None))
        .otherwise(F.concat_ws(",", "attention_mask"))
        .alias("attention_mask"),
    )


def q_sliding_from_tier(spark, sf_dir):
    """Sliding windows served FROM THE STORED 1m TIER
    (rollup.py:sliding_from_tier) — the query builds the tier and
    re-panes it; the oracle is the DIRECT raw sliding definition, so
    the gate proves tier-served == raw-built."""
    from traval_spark.rollup import rollup_raw, sliding_from_tier

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts",
        F.col("value").alias("n_tok"),
    )
    out = sliding_from_tier(rollup_raw(src, "1m"), window="1h",
                            slide="10m")
    return out.select(
        "source", "window_start", "n_points",
        F.round("sum_tok", 6).alias("sum_tok"), "min_tok", "max_tok",
    )


def q_percentile_rank(spark, sf_dir):
    """Global percentile rank of every document's length WITHOUT a
    global sort (hist.py:percentile_ranks): value-count table ->
    cumsum over the tiny distinct-value frame -> broadcast join back.
    The oracle is the naive single-partition cume_dist the operator
    exists to avoid."""
    from traval_spark.hist import percentile_ranks

    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return percentile_ranks(d, "n_chars")


def q_percentile_rank_grouped(spark, sf_dir):
    """GROUP-LOCAL percentile rank (hist.py:percentile_ranks, by=lang):
    each document's length percentile within its own language — the
    score-calibration step before mixing heterogeneous sources (a raw
    quality score is not comparable across languages; its within-group
    percentile is). Same no-global-sort construction, windows now
    partitioned by the group key; the skewed lang axis exercises it."""
    from traval_spark.hist import percentile_ranks

    d = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    return percentile_ranks(d, "n_chars", by=("lang",))


def q_sliding_distinct(spark, sf_dir):
    """Sliding-window distinct users via KMV panes
    (sketch.py:sliding_distinct): pane sketches union into overlapping
    windows — raw scanned once regardless of overlap. Oracle = exact
    per-window COUNT DISTINCT; sf0.01 windows hold < k=256 distinct
    users, the sketch's exact regime."""
    from traval_spark.sketch import sliding_distinct

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "user_id"
    )
    return sliding_distinct(ev, window="1h", slide="10m", k=256)


def q_chunk_docs(spark, sf_dir):
    """Context-window chunking (text.py:chunk_documents): one row per
    32-token window, split on whitespace-token boundaries, last chunk
    ragged — a pure map (sequence+explode), zero shuffle."""
    from traval_spark.operators.text import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_tokens=32)


def q_redact_pii(spark, sf_dir):
    """PII redaction ladder (text.py:redact_pii) over documents text
    augmented with deterministic synthetic PII (the corpus itself is
    digit-free, so the fixture embeds an email, a phone and a numeric
    ref per row): sequential regexp_count + regexp_replace, each
    pattern counted on the already-redacted text."""
    from traval_spark.operators.text import redact_pii

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ref "), (F.col("doc_id") * 7919).cast("string"),
        ).alias("t0"),
    )
    r = redact_pii(F.col("t0"))
    return d.select(
        "doc_id",
        r["n_redactions"].alias("n_redactions"),
        r["redacted"].alias("redacted"),
    )


def q_sliding_quantiles(spark, sf_dir):
    """Sliding-window exact percentiles via histogram panes
    (hist.py:sliding_hist_quantiles): raw rows bin once into 10m pane
    histograms, pane rows combine into overlapping 1h windows (counts
    add), one cumsum pass extracts p50/p90 — the oracle is the DIRECT
    per-window quantile_disc, independent of the pane construction."""
    from traval_spark.hist import sliding_hist_quantiles

    src = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts",
        F.col("value").alias("n_tok"),
    )
    return sliding_hist_quantiles(
        src, window="1h", slide="10m", qs=[0.5, 0.9], scale=100
    )


def q_xcorr_lags(spark, sf_dir):
    """Lagged Pearson cross-correlation between per-series hourly
    count signals (monitor.py:xcorr_lags): zero-filled bucket spines,
    exact integer moments, r = num/sqrt(d1*d2) from exact ints —
    engine-identical. Only raw-scale work is ONE groupBy; the pair
    x lag join runs on the tiny signal frame."""
    from traval_spark.operators.monitor import xcorr_lags

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return xcorr_lags(ev, max_lag=3, bucket="1h")


def q_zorder_key(spark, sf_dir):
    """Morton Z-order clustering key (sources/layout.py:zorder_key):
    bit-interleave of (user bucket, hour bucket) as a static shift/and
    expression tree — the multi-dimensional file-clustering key
    write_zordered lays data out by.  Pure integer arithmetic, term-
    identical in the oracle."""
    from traval_spark.functions.ts import unix_us
    from traval_spark.sources.layout import zorder_key

    ev = _events(spark, sf_dir)
    x = (F.col("user_id") % 256).alias("x")
    y = (F.floor(unix_us(F.col("ts")) / F.lit(3_600_000_000)) % 256
         ).alias("y")
    return ev.select("event_id", x, y).select(
        "event_id", zorder_key(["x", "y"], bits=8).alias("zkey")
    )


def q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov drift (monitor.py:ks_drift):
    worst CDF gap between the first two weeks and the rest of the
    month per series — PSI's rank-based companion, same hist.py bin
    discretization so the read also serves from a stored hist tier
    (ks_from_hists, parity-tested). D's numerator stays an exact
    decimal integer per bin; argmax bin deterministic (struct-max)."""
    from traval_spark.operators.monitor import ks_drift

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    cut = "2024-01-15"
    return ks_drift(
        ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut),
        scale=1,
    )


def q_mann_whitney(spark, sf_dir):
    """Mann–Whitney rank-sum location drift (monitor.py:mw_from_hists):
    did the measure systematically move between the first two weeks and
    the rest of the month, per series — KS's signed companion on the
    SAME hist-tier bin discretization (so the read also serves from a
    stored hist tier, parity-tested). 2R/2U/variance numerator stay
    exact decimal integers assembled off the bin table (no per-row
    ranking anywhere); one fixed-parenthesization double combine to
    the tie-corrected continuity-corrected z."""
    from traval_spark.operators.monitor import mann_whitney

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    cut = "2024-01-15"
    return mann_whitney(
        ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut),
        scale=1,
    )


def q_mann_kendall(spark, sf_dir):
    """Mann–Kendall monotone-trend test per series on the zero-filled
    hourly bucket-count signal (monitor.py:mann_kendall) — the
    significance gate for theil_sen's slope: S is an exact integer sum
    of signs, the tie-corrected variance numerator an exact integer,
    z doubles-of-exact-integers (continuity-corrected, NULL when the
    variance is 0)."""
    from traval_spark.operators.monitor import mann_kendall

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return mann_kendall(ev, bucket="1h")


def q_acf_lags(spark, sf_dir):
    """Classic full-series-mean ACF per series at lags 1..6 on the
    zero-filled hourly bucket-count signal (monitor.py:acf_lags):
    cleared-denominator construction d_t = n*c_t - S keeps both the
    autocovariance numerator and the SS_tot denominator exact decimal
    integers — one division, engine-identical r_k."""
    from traval_spark.operators.monitor import acf_lags

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return acf_lags(ev, max_lag=6, bucket="1h")


def q_fano_dispersion(spark, sf_dir):
    """Burstiness gate per series (monitor.py:fano_dispersion): index
    of dispersion variance/mean of the zero-filled hourly bucket
    counts — Poisson sits at 1, bursty above, machine-paced below; the
    one-number input to the should-this-source-be-salted decision.
    Cleared-denominator exactness: (n*Q - S^2)/(n*S) on exact decimal
    integers, one division."""
    from traval_spark.operators.monitor import fano_dispersion

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return fano_dispersion(ev, bucket="1h")


def q_dominant_period(spark, sf_dir):
    """Seasonality-period detection (monitor.py:dominant_period): the
    arg-max ACF lag in [2, 30] on the zero-filled hourly bucket-count
    signal, with the 1.96/sqrt(n) white-noise band verdict — finds the
    P that seasonal_profile/seasonal_strength then score. Exact ties
    break to the smallest lag (fundamental over harmonics)."""
    from traval_spark.operators.monitor import dominant_period

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return dominant_period(ev, max_lag=30, bucket="1h")


def q_stl_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition (monitor.py:
    stl_decompose): c = trend + seasonal + resid over the zero-filled
    hourly bucket-count signal at period 24 — centered 2xP moving-
    average trend as the exact integer T2/(2P), per-phase seasonal
    means of the exact integer detrended values centered by the global
    interior mean (all single divisions, 9dp-fenced), edges trimmed to
    NULL by the standard rule."""
    from traval_spark.operators.monitor import stl_decompose

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return stl_decompose(ev, period=24, bucket="1h")


def q_stl_anomaly(spark, sf_dir):
    """Seasonally-adjusted robust anomalies (monitor.py:stl_anomaly):
    stl_decompose residuals scored with the Iglewicz-Hoaglin modified
    z-score 0.6745(resid - median)/MAD — median/MAD as selections over
    the engine-identical 9dp residual multiset, |mz| > 3.5 flags,
    MAD == 0 series emit nothing by rule."""
    from traval_spark.operators.monitor import stl_anomaly

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return stl_anomaly(ev, period=24, bucket="1h", threshold=3.5)


def q_ljung_box(spark, sf_dir):
    """Ljung–Box white-noise test per series (monitor.py:ljung_box):
    Q = n(n+2) * sum r_k^2/(n-k) over the acf_lags autocorrelations —
    the is-there-structure-at-all gate for the smoothing/seasonal
    monitors; rounded 6dp (the K-term sum is the only order-dependent
    float reduction)."""
    from traval_spark.operators.monitor import ljung_box

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return ljung_box(ev, max_lag=6, bucket="1h")


def q_theil_sen_tiered(spark, sf_dir):
    """Theil–Sen served FROM the rollup tier (monitor.py:counts_from_tier
    -> bucket_count_signal counts= path): the hourly count signal is
    re-aggregated from the 1m tier's n_points — integer sums are
    lossless, so the tier-served slope equals the raw-served one
    EXACTLY and the oracle is the same raw construction. Monitoring
    without re-scanning raw: the 100 TB read path."""
    from traval_spark.operators.monitor import counts_from_tier, theil_sen
    from traval_spark.rollup import rollup_raw

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts",
        F.lit(1).alias("n_tok"),  # count rows: n_points == count(*)
    )
    tier = rollup_raw(ev, "1m")
    return theil_sen(counts=counts_from_tier(tier, bucket="1h"),
                     bucket="1h")


def q_acf_tiered(spark, sf_dir):
    """ACF served FROM the rollup tier: same counts_from_tier feed at
    the 1h grain — bit-identical to the raw-served acf_lags (oracle is
    the same raw SQL), raw scanned once into the tier and never
    again."""
    from traval_spark.operators.monitor import acf_lags, counts_from_tier
    from traval_spark.rollup import rollup_raw

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts",
        F.lit(1).alias("n_tok"),  # count rows: n_points == count(*)
    )
    tier = rollup_raw(ev, "1m")
    return acf_lags(counts=counts_from_tier(tier, bucket="1h"),
                    max_lag=6, bucket="1h")




def q_mixture_conc(spark, sf_dir):
    """One-row mixture-concentration census (sampling.py:
    mixture_concentration): Gini / HHI / top-share of the per-source
    whitespace-token totals — the is-one-source-about-to-dominate read
    a mixture designer runs before picking mixture_sample fractions.
    ONE partial-aggregatable corpus pass; the rank window sorts the
    |sources|-sized totals frame, never raw; Gini and HHI assembled
    from exact decimal integers, one division each (9dp)."""
    from traval_spark.operators.sampling import mixture_concentration
    from traval_spark.operators.text import token_count_ws

    d = _docs(spark, sf_dir).select(
        "source", token_count_ws(F.col("text")).alias("w")
    )
    return mixture_concentration(d, "w")


def q_benford(spark, sf_dir):
    """Benford first-digit audit per event_type (monitor.py:
    benford_digits): chi-square of the leading-significant-digit
    distribution of |value| against log10(1+1/d) — the data-forensics
    tripwire that needs no baseline window (PSI/KS compare two
    periods; this tests SHAPE against an absolute law). Digits extract
    engine-exactly via fixed-point int64 -> decimal string (no
    log10/pow float tricks); one partial-aggregatable groupBy(g, digit)
    over raw, then a <=9-rows-per-group assembly."""
    from traval_spark.operators.monitor import benford_digits

    return benford_digits(
        _events(spark, sf_dir), value_col="value", by="event_type"
    )


def q_topk_churn(spark, sf_dir):
    """Head-of-distribution churn served from the TOKEN HISTOGRAM TIER
    (hist.py:topk_churn): per (source, 1h bucket), the exact top-5
    token set vs the previous bucket's — n_added/n_dropped/jaccard.
    The rank window runs on the vocab-bounded tier (raw scanned once
    into the 1m tier, cascaded to 1h by count-sum, never re-read);
    first bucket per source reports NULLs. Same tier feed as
    toptok_1h."""
    from traval_spark.hist import hist_cascade, hist_tier, topk_churn

    s = _seqs_from(_docs(spark, sf_dir))
    ts = F.to_timestamp_ntz(F.lit("2024-01-01")) + F.make_dt_interval(
        F.lit(0), F.lit(0), (F.col("doc_id") % 600).cast("double"), F.lit(0.0)
    )
    tok_rows = s.select(
        "source", ts.alias("ts"), F.explode("tokens").alias("tok")
    )
    t1h = hist_cascade(hist_tier(tok_rows, "1m", value_col="tok"), "1h")
    return topk_churn(t1h, k=5)


def q_rbo_drift(spark, sf_dir):
    """Rank-biased overlap between two hash-split corpus halves' top-32
    token rankings per source (text.py:rbo_overlap, Webber RBO_ext
    p=0.9; the halves split on hash_uniform(doc_id) — the synth data's
    source IS a function of doc_id, so a parity split would put every
    source wholly in one half):
    the top-weighted is-the-HEAD-still-the-same-list drift read next
    to PSI/KS (which weigh the whole distribution). The per-token
    regrouping turns the depth sum into ONE equi-join of two
    k-rows-per-group frames + an element_at over driver-computed tail
    literals — no d-spine, no range join; sources present in only one
    half report rbo 0 over the union spine."""
    from traval_spark.operators.sampling import hash_uniform
    from traval_spark.operators.text import rbo_overlap, ws_tokens

    d = _docs(spark, sf_dir)
    u = hash_uniform(F.col("doc_id"), seed=7)

    def counts(cond):
        return (
            d.filter(cond)
            .select(
                "source",
                F.explode(ws_tokens(F.col("text"))).alias("tok"),
            )
            .groupBy("source", "tok")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    return rbo_overlap(counts(u < 0.5), counts(u >= 0.5), k=32, p=0.9)


def q_bigram_entropy(spark, sf_dir):
    """Conditional next-token entropy per source (text.py:
    bigram_entropy): the sequence-PREDICTABILITY diagnostic unigram
    entropy misses — rich vocabulary with near-zero H(next|prev) is
    templated markup/logs/boilerplate. Bigrams form ROW-LOCALLY (a
    sequence transform over each doc's token array, no self-join) and
    feed one partial-aggregatable groupBy(source, prev, next) count —
    the only corpus-scale pass; marginals + assembly run on the
    bigram-vocab-bounded frame; c*ln c sums rounded 6dp."""
    from traval_spark.operators.text import bigram_entropy

    return bigram_entropy(_docs(spark, sf_dir))


def q_emd_drift(spark, sf_dir):
    """1-D Wasserstein-1 drift (monitor.py:emd_from_hists): how FAR did
    the measure's distribution move between the first two weeks and the
    rest of the month, per series — KS's magnitude companion on the
    same hist-tier bin discretization (so the read also serves from a
    stored hist tier, parity-tested).  Per-step numerators |CA*nb -
    CB*na| * bin_gap stay exact decimal integers; their sum is exact;
    ONE final division — no rounding guard anywhere."""
    from traval_spark.operators.monitor import emd_drift

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    cut = "2024-01-15"
    return emd_drift(
        ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut),
        scale=1,
    )


def q_jsd_drift(spark, sf_dir):
    """Jensen-Shannon drift (monitor.py:jsd_from_hists): the bounded
    symmetric divergence between the same two snapshots — finite on
    one-sided bins without PSI's Laplace smoothing, capped at ln 2 so
    thresholds transfer across measures.  Per-bin terms are doubles of
    exact integers; the term sum is the one order-dependent float
    reduction (6dp round, the source_entropy convention)."""
    from traval_spark.operators.monitor import jsd_drift

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    cut = "2024-01-15"
    return jsd_drift(
        ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut),
        scale=1,
    )


def q_chi2_drift(spark, sf_dir):
    """Chi-square homogeneity drift (monitor.py:chi2_from_hists): the
    SIGNIFICANCE member of the drift family on the same snapshots —
    exact-decimal per-bin difference ca*nb - cb*na squared as a double
    (the square can exceed decimal(38) at design scale), 6dp-rounded
    term sum, Wilson-Hilferty alpha=0.05 verdict and Cramer's V effect
    size."""
    from traval_spark.operators.monitor import chi2_drift

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    cut = "2024-01-15"
    return chi2_drift(
        ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut),
        scale=1,
    )


def q_welch_ttest(spark, sf_dir):
    """Welch's t mean-shift test (monitor.py:welch_ttest): did the MEAN
    of the measure move between the two snapshots, in value units with
    a significance verdict — the parametric companion to mann_whitney.
    Fixed-point moments are exact decimal aggregates; one fixed-
    parenthesization double combine to t and the Welch-Satterthwaite
    df; |t| > 1.96 verdict at 9dp rounding."""
    from traval_spark.operators.monitor import welch_ttest

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    cut = "2024-01-15"
    return welch_ttest(
        ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut),
        value_scale=1000,
    )


def q_kendall_pairs(spark, sf_dir):
    """Kendall tau-b co-movement (monitor.py:kendall_pairs): concordant
    minus discordant bucket pairs between every pair of hourly
    bucket-count signals — spearman_pairs' concordance companion on the
    same zero-filled spine.  S and both tie corrections are exact
    integers; the one float op is the final division by the sqrt of a
    product of exact decimals."""
    from traval_spark.operators.monitor import kendall_pairs

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return kendall_pairs(ev, bucket="1h")


def q_tfidf_top(spark, sf_dir):
    """Per-source TF-IDF signature tokens (text.py:tfidf_top): top-5
    DISTINCTIVE tokens per source — idf = ln(S/df) at group granularity
    zeroes out the corpus-wide stopword head that dominates top_tokens.
    tf/S/df exact integers, one deterministic ln+product per row (no
    sums), ranking on 9dp-rounded scores with token-ascending ties."""
    from traval_spark.operators.text import tfidf_top

    return tfidf_top(_docs(spark, sf_dir), k=5)


def q_threshold_episodes(spark, sf_dir):
    """Above-threshold excursion episodes (monitor.py:
    threshold_episodes): contiguous runs of fixed-point value > 90
    collapsed to one row per breach with duration / peak / integrated
    excess — the SLO breach-EPISODE audit (hysteresis counts latches,
    rules flag points; a postmortem wants episodes).  Gaps-and-islands
    over ONE per-series sort; peak/excess exact integer aggregates
    descaled by one division."""
    from traval_spark.operators.monitor import threshold_episodes

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value", "event_id"
    )
    # episode: DuckDB HUGEINT -> float64 in pandas; align (see
    # q_rollup_sets)
    return threshold_episodes(ev, threshold=90.0).withColumn(
        "episode", F.col("episode").cast("double"))


def q_decayed_topk(spark, sf_dir):
    """Time-decayed heavy hitters (monitor.py:decayed_topk): per-type
    top-5 users by activity weight halving every 7 days — "who matters
    NOW", the freshness ranking recency budgets and review queues
    consume.  EXACT decay: whole half-life units u clamped to [0,63],
    score Σ 2^(63−u) an exact decimal integer, ranking compares exact
    integers with key-ascending ties, ONE division to the reported
    weight."""
    from traval_spark.operators.monitor import decayed_topk

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "user_id"
    )
    return decayed_topk(ev, k=5, asof="2024-02-01", half_life_days=7)


def q_sax_words(spark, sf_dir):
    """SAX daily-shape words (downsample.py:sax_words): per-series
    z-normalized PAA over 6h slices of the hourly count signal mapped
    to Gaussian-breakpoint letters — each day collapses to a 4-letter
    word equality joins can mine.  Symbol verdicts compare exact-
    integer cleared-denominator z numerators against 9dp-rounded
    beta*sigma fences; zero-variance series report NULL words by
    rule."""
    from traval_spark.operators.downsample import sax_words

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return sax_words(ev, bucket="1h", segments=4, alphabet=4)


def q_sax_pairs(spark, sf_dir):
    """Co-behaving series via SAX-word agreement (downsample.py:
    sax_pairs): equality join on (day, word) generates candidates —
    never all-pairs against raw — then exact match/day counts and ONE
    division to the matching-day share."""
    from traval_spark.operators.downsample import sax_pairs

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return sax_pairs(ev, bucket="1h", segments=4, alphabet=4)


def q_motif_words(spark, sf_dir):
    """Sliding-window SAX subsequence words (downsample.py:
    subsequence_words): every 24h window of the hourly count signal
    z-normalized against ITS OWN window stats (the standard
    subsequence normalization), PAA'd into four 6h slices and
    symbolized — the candidate frame for motif/discord reads.  Same
    exact-integer cleared-denominator symbol verdicts as sax_words,
    with window (S, Q) substituted for series stats; ONE raw groupBy
    then one ordered window pass over the tiny signal frame."""
    from traval_spark.operators.downsample import subsequence_words

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    w = subsequence_words(ev, m=24, segments=4, alphabet=4)
    return w.select("g", "h0", "n_events", "varnum", "word")


def q_motif_pairs(spark, sf_dir):
    """Motif discovery (downsample.py:motif_pairs, the Lin/Chiu SAX-
    motif shape): candidates by equality join on the subsequence word
    — never all-pairs — verified by the exact-integer-numerator
    Pearson correlation of the raw count windows (zip_with/aggregate
    decimal fold; variance numerators multiplied AS DOUBLE per the
    house overflow rule), non-overlap h_b-h_a >= m enforced, top-5
    pairs per series on the 9dp-rounded r."""
    from traval_spark.operators.downsample import motif_pairs

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return motif_pairs(ev, m=24, segments=4, alphabet=4,
                       min_corr=0.5, top_k=5)


def q_rare_windows(spark, sf_dir):
    """Discord candidates by symbolic rarity (downsample.py:
    rare_windows, the HOT-SAX outer-loop screen): windows whose SAX
    word is unique within their series — one partial-aggregatable
    groupBy on the words frame, no pairs ever formed, linear in the
    window count."""
    from traval_spark.operators.downsample import rare_windows

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return rare_windows(ev, m=24, segments=4, alphabet=4, max_count=1)


def q_discord_topk(spark, sf_dir):
    """True discord verification (downsample.py:discord_topk, the
    HOT-SAX inner loop): rarity-screened candidate windows scored by
    EXACT nearest-neighbor z-normalized distance against every
    non-overlapping same-series window — the quadratic inner loop runs
    only |candidates| x |windows|, the HOT-SAX economy.  NN = argmax
    of the 9dp-rounded exact-numerator Pearson r; neighbor start =
    smallest h0 attaining the max (deterministic without struct-max
    ordering); top-5 largest nn_dist per series."""
    from traval_spark.operators.downsample import discord_topk

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return discord_topk(ev, m=24, segments=4, alphabet=4,
                        rare_max=1, top_k=5)


def q_dtw_pairs(spark, sf_dir):
    """Elastic motif verification (downsample.py:dtw_pairs): random-
    projection SAX candidates (Chiu et al. masked equality joins —
    words differing in <= 1 symbol pair, never all-pairs) verified by
    an EXACT-integer Sakoe-Chiba banded DTW (band=3) computed as one
    JVM anti-diagonal fold over the raw count windows; d2 (lock-step
    squared distance) and gain = d2 - dtw ride along; top-5 nearest
    pairs per series by the exact integer dtw."""
    from traval_spark.operators.downsample import dtw_pairs

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return dtw_pairs(ev, m=24, segments=4, alphabet=4, band=3,
                     top_k=5)


def q_kruskal_drift(spark, sf_dir):
    """Kruskal-Wallis omnibus k-group drift (monitor.py:kw_from_hists):
    do the weeks of the month differ in the value distribution, per
    series, in ONE tie-corrected rank test (H = (N-1)*SSB/SST of ranks
    in exact half-units; the ANOVA-on-ranks identity absorbs the tie
    correction)?  Rank sums assembled straight off the bin table —
    no per-row ranking; chi-square 0.05 verdict at df = k-1."""
    from traval_spark.operators.monitor import kruskal_drift

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"),
        F.floor((F.dayofmonth("ts") - 1) / 7).cast("int").alias("grp"),
        "value",
    )
    return kruskal_drift(ev, by=("source",), grp="grp", val="value",
                         scale=1)


def q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test (monitor.py:runs_test): is each
    series' hourly count signal random around its median?  2c vs the
    exact-integer 2*median (continuous 0.5-quantile selection), ties
    drop, run count exact, z from one fixed parenthesization of exact
    integers with the cleared-mu numerator R*n - 2*n1*n2 - n."""
    from traval_spark.operators.monitor import runs_test

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return runs_test(ev, bucket="1h")


def q_symbol_transitions(spark, sf_dir):
    """First-order Markov regime model (downsample.py:
    symbol_transitions): per-bucket SAX symbols (series-level z-norm,
    exact-integer verdicts, constant series emit nothing) paired by
    ONE lag window into (sym_from, sym_to) counts and row-conditional
    probabilities — zero-fill guarantees adjacency, so no gap ever
    fakes a transition."""
    from traval_spark.operators.downsample import symbol_transitions

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return symbol_transitions(ev, alphabet=4, bucket="1h")


def q_symbol_entropy(spark, sf_dir):
    """Markov entropy rate per series (downsample.py:symbol_entropy):
    H = -sum (n_ss'/T) ln(n_ss'/n_s) over the symbol transition
    counts — 0 for a deterministic cycle, ln(k) for i.i.d. noise;
    predictability = 1 - H/ln(k_used) rides along (NULL at a single
    regime).  Every ratio exact-integer; the <= alphabet^2-term sum is
    the one order-dependent reduction, 6dp-fenced."""
    from traval_spark.operators.downsample import symbol_entropy

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return symbol_entropy(ev, alphabet=4, bucket="1h")


def q_lead_lag(spark, sf_dir):
    """Dominant lead-lag per ordered series pair (monitor.py:
    lead_lag): argmax of the 9dp-rounded |r| over xcorr_lags'
    correlogram, ties to the smallest |lag| then lag (contemporaneous
    over displaced), 1.96/sqrt(n) white-noise gate at the winning
    lag's own aligned-pair count; self-pairs excluded."""
    from traval_spark.operators.monitor import lead_lag

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return lead_lag(ev, max_lag=3, bucket="1h")


def q_symbol_mi(spark, sf_dir):
    """Regime mutual information between series pairs (downsample.py:
    symbol_mi): joint symbol counts over the shared zero-fill spine,
    MI = sum (n_st/T) ln(n_st*T/(n_s*n_t)) in nats with marginal
    entropies and NMI = MI/sqrt(H_a*H_b); every log argument an
    exact-integer ratio, sums 6dp-fenced."""
    from traval_spark.operators.downsample import symbol_mi

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return symbol_mi(ev, alphabet=4, bucket="1h")


def q_turning_points(spark, sf_dir):
    """Turning-point randomness test (monitor.py:turning_points): how
    often does each series' hourly count signal change direction?
    Strict-inequality turns on exact integer counts (ties are null
    events — conservative on heavily tied signals), exact-decimal z
    numerator 3T - 2n + 4 against E[T] = 2(n-2)/3 and
    Var[T] = (16n-29)/90, 9dp fence, |z| <= 1.96 verdict."""
    from traval_spark.operators.monitor import turning_points

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return turning_points(ev, bucket="1h")


def q_variance_ratio(spark, sf_dir):
    """Lo-MacKinlay variance ratio VR(q=4) (monitor.py:
    variance_ratio): variance of overlapping 4h changes over 4x the
    variance of 1h changes — >1 trending persistence, <1 mean
    reversion.  Exact-decimal variance numerators via the
    cleared-mean identity, two-ratio fixed parenthesization, the
    homoskedastic z with phi(q) = 2(2q-1)(q-1)/(3q), 9dp fence."""
    from traval_spark.operators.monitor import variance_ratio

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return variance_ratio(ev, q=4, bucket="1h")


def q_seasonal_mk(spark, sf_dir):
    """Seasonal Mann-Kendall (monitor.py:seasonal_mk): Hirsch-Slack
    trend test over the hourly count signal with period=24 — only
    same-phase pairs vote, so the daily cycle contributes S=0 and
    day-over-day drift keeps full strength; exact-integer S and
    per-season variance numerators, one /18 + sqrt, 9dp fence."""
    from traval_spark.operators.monitor import seasonal_mk

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return seasonal_mk(ev, period=24, bucket="1h")


def q_seasonal_sen(spark, sf_dir):
    """Seasonal Sen slope (monitor.py:seasonal_sen): median of the
    WITHIN-season pairwise slopes (period=24) — the Hirsch-Slack
    estimator companion to seasonal_mk's verdict; exact-integer
    slope ratios, DuckDB-median-identical middle averaging."""
    from traval_spark.operators.monitor import seasonal_sen

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return seasonal_sen(ev, period=24, bucket="1h")


def q_dsir_resample(spark, sf_dir):
    """Gumbel top-k importance resample over the DSIR weights
    (sampling.py:dsir_resample composing lm.py:dsir_weights): key =
    logw + standard-Gumbel from the portable (id, seed) md5 uniform,
    k=100 largest keys (key desc, id asc total order), all in log
    space — no exp underflow however off-target a doc is."""
    from traval_spark.operators.lm import dsir_weights
    from traval_spark.operators.sampling import dsir_resample

    docs = _read(spark, f"{sf_dir}/documents.parquet")
    w = dsir_weights(docs, docs.filter(F.col("lang") == "en"),
                     buckets=1024)
    return dsir_resample(w, k=100, seed=7)


def q_pettitt_change(spark, sf_dir):
    """Pettitt single change-point per series (monitor.py:
    pettitt_change): U_t over every split of the hourly count signal
    via the exact midrank identity (half-unit-rank trick, O(n) not
    O(n^2)), K = max|U_t|, change point the smallest h attaining K,
    p = min(1, 2 exp(-6K^2/(n^3+n^2))) 9dp-fenced, alpha 0.05."""
    from traval_spark.operators.monitor import pettitt_change

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return pettitt_change(ev, bucket="1h")


def q_merge_intervals(spark, sf_dir):
    """Interval union sweep (interval.py:merge_intervals): every
    event holds a 120s activity lease; overlapping/touching leases
    consolidate into per-source activity windows — ONE ordered
    window pass on exact epoch-microsecond longs, no self-join."""
    from traval_spark.operators.interval import merge_intervals

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 120 SECONDS")).alias("end"),
    )
    return merge_intervals(ev)


def q_drift_report(spark, sf_dir):
    """The drift panel (monitor.py:drift_report): eight two-sample
    monitors (KS/CvM/MW/Cliff/PSI/JSD/EMD/chi2+V) as ONE groupBy over
    one aligned bin table built from one pair of histograms — at 100 TB
    the panel costs two hist-tier reads, never eight raw scans."""
    from traval_spark.operators.monitor import drift_report

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    cut = "2024-01-15"
    return drift_report(
        ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut),
        by=("source",), val="value", scale=1,
    )


def q_cliffs_delta(spark, sf_dir):
    """Cliff's delta effect size (monitor.py:cliffs_delta): how BIG
    is the first-two-weeks vs rest shift, per series — MW's
    sample-size-free magnitude companion off the same hist-tier bin
    table; exact-integer 2U via the midrank identity, one division,
    Romano magnitude buckets on the fenced value."""
    from traval_spark.operators.monitor import cliffs_delta

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    cut = "2024-01-15"
    return cliffs_delta(
        ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut),
        by=("source",), val="value", scale=1,
    )


def q_cvm_drift(spark, sf_dir):
    """Cramer-von Mises drift (monitor.py:cvm_drift): integrated
    squared CDF gap between the first two weeks and the rest per
    series — KS's integrated companion (catches spread-out
    deviations that never form one big gap), same hist.py bin
    discretization so the read also serves from a stored hist tier
    (cvm_from_hists, parity-tested); exact-integer d_j per bin,
    chi2-rule squares, one division, 6dp fence."""
    from traval_spark.operators.monitor import cvm_drift

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts", "value"
    )
    cut = "2024-01-15"
    return cvm_drift(
        ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut),
        by=("source",), val="value", scale=1,
    )


def q_heaps_fit(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit per source (text.py:
    heaps_fit): one-pass nested dyadic samples via the portable
    (id, seed) uniform — a token enters the ladder at fu = min doc
    u, so V(f) and n(f) fall out of one min-groupBy; OLS of ln V on
    ln n gives beta (diversity: ~1 fresh vocabulary, ~0 saturated
    boilerplate)."""
    from traval_spark.operators.text import heaps_fit

    return heaps_fit(_docs(spark, sf_dir), seed=5)


def q_sen_slope_ci(spark, sf_dir):
    """Rank-based Sen slope CI (monitor.py:sen_slope_ci): Gilbert's
    order-statistic interval on the pairwise-slope multiset — C =
    1.96*sqrt(Var(S)) from the exact MK tie-corrected variance,
    endpoints at floor((N-C)/2)+1 and ceil((N+C)/2) ascending ranks,
    significant iff the CI excludes zero."""
    from traval_spark.operators.monitor import sen_slope_ci

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return sen_slope_ci(ev, bucket="1h")


def q_fleet_report(spark, sf_dir):
    """The fleet health panel (monitor.py:fleet_report): ten
    counts=-family monitors over ONE raw groupBy to the zero-filled
    signal — dispersion, robust trend (Sen slope and MK z from one
    pair pass), seasonality, randomness, persistence, stationarity,
    change detection — left-joined on g from the always-total fano
    base (degenerate-series monitors contribute NULLs, absence
    reported not dropped).  Each counts=-fed monitor re-zero-fills the
    signal; a run holds three cached frames, released by the enclosing
    held() and kept until unpersist()/clearCache() without one."""
    from traval_spark.operators.monitor import fleet_report

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return fleet_report(ev, bucket="1h")


def q_kpss_level(spark, sf_dir):
    """KPSS level-stationarity test (monitor.py:kpss_level): the
    inverted null — H0 IS stationarity; one exact-integer ratio
    sum(n*S_t)^2 / (n^2*(n*q - s^2)) via the cleared-denominator
    cumsum identity, 0.463 asymptotic gate, l=0 variant."""
    from traval_spark.operators.monitor import kpss_level

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return kpss_level(ev, bucket="1h")


def q_hurst_rs(spark, sf_dir):
    """Hurst exponent via rescaled range (monitor.py:hurst_rs):
    dyadic window sizes 8..n/4, per chunk ONE exact-integer ratio
    pair (w*Z_t range over sqrt of the cleared variance numerator),
    per-scale 6dp-fenced mean, zipf_fit-style closed-form OLS of
    ln(R/S) on ln(w) — H>0.5 long-range persistence."""
    from traval_spark.operators.monitor import hurst_rs

    ev = _events(spark, sf_dir).select(
        F.col("event_type").alias("source"), "ts"
    )
    return hurst_rs(ev, min_w=8, bucket="1h")


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (lm.py:dsir_weights): hashed
    unigram+bigram bag log-likelihood ratio of each document under
    the English slice (target) vs the whole corpus (raw) — Laplace
    +1 over 1024 md5 buckets, each bucket's log-ratio ONE log of an
    exact-integer ratio, per-doc dot product 6dp-fenced."""
    from traval_spark.operators.lm import dsir_weights

    docs = _read(spark, f"{sf_dir}/documents.parquet")
    return dsir_weights(docs, docs.filter(F.col("lang") == "en"),
                        buckets=1024)


def q_embedding_cov(spark, sf_dir):
    """Embedding component covariance/correlation audit (similarity.py:
    embedding_cov): long-form upper-triangle (i, j, n, cov, corr) —
    the redundancy read ahead of trusting cosine thresholds, and the
    exact input of a driver-side PCA/whitening step.  Fixed-point
    components make every moment an exact decimal aggregate; one cast
    to double per numerator, variance product multiplied as doubles
    (the decimal product can pass 1e38 at design scale); NO self-join
    (the pair stream is row-local posexplode -> tail-slice
    posexplode)."""
    from traval_spark.operators.similarity import embedding_cov

    return embedding_cov(_emb(spark, sf_dir))


def q_embedding_cov_merged(spark, sf_dir):
    """Covariance served FROM stored moment tiers (similarity.py:
    embedding_moments / cov_from_moments): moments build per
    vec_id-parity half (standing in for per-day / per-ingest-batch
    tiers), the serve merges the halves by exact integer sums — BIT-
    identical to the direct read because integer sums re-associate
    losslessly and the float tail is the same three ops.  The oracle
    is the DIRECT computation, so the gate proves the tier identity:
    covariance monitoring never re-scans the embedding corpus."""
    from traval_spark.operators.similarity import (
        cov_from_moments,
        embedding_moments,
    )

    e = _emb(spark, sf_dir).withColumn(
        "h", (F.col("vec_id") % 2).cast("int"))
    return cov_from_moments(embedding_moments(e, by=["h"]))


def _proj_matrix(k: int, d: int) -> list:
    """Deterministic data-independent k×d test matrix in [-1, 1) from
    md5 — generated identically into the Spark plan literals and the
    oracle SQL text (the rbo tail-literal convention), so both engines
    project with the exact same doubles."""
    import hashlib

    return [
        [int(hashlib.md5(f"proj:{r}:{c}".encode()).hexdigest()[:12], 16)
         / float(1 << 48) * 2.0 - 1.0
         for c in range(d)]
        for r in range(k)
    ]


def q_embedding_project(spark, sf_dir):
    """Distributed fixed-matrix projection (similarity.py:
    embedding_project — the serving half of the PCA/whitening path;
    the eigensolve itself is driver-side O(d³), pytest-gated): each
    output coordinate is one plan-literal zip_with/aggregate fold,
    pure whole-stage codegen, row-local, no shuffle; long-form
    (vec_id, r, y) with the 6dp dot guard (fold order is
    deterministic, a serving engine's dot order may not be)."""
    from traval_spark.operators.similarity import embedding_project

    out = embedding_project(_emb(spark, sf_dir), _proj_matrix(4, 64))
    return out.select("vec_id", F.posexplode("proj").alias("r", "y"))


def q_centroid_drift(spark, sf_dir):
    """Embedding-centroid drift between consecutive periods, served
    FROM the stored moment tier's DIAGONAL cells (similarity.py:
    centroid_drift — the drift read for the embedding column itself,
    next to PSI/KS for value columns): centroid cosine needs no
    division by n (the n's cancel), so dot and norms are EXACT decimal
    integers with one double cast each; the L2 shift clears
    denominators chi2-style (exact term, squared as double, 6dp
    guard).  vec_id%4 stands in for the ingest-period key; everything
    after the tier build runs on the |periods|×d diagonal frame."""
    from traval_spark.operators.similarity import (
        centroid_drift,
        embedding_moments,
    )

    e = _emb(spark, sf_dir).withColumn(
        "period", (F.col("vec_id") % 4).cast("int"))
    return centroid_drift(
        embedding_moments(e, by=["period"]), "period")


def q_cluster_drift(spark, sf_dir):
    """Embedding SHAPE drift (similarity.py:cluster_occupancy_drift):
    PSI over IVF coarse-list occupancy between consecutive periods —
    centroid_drift watches the mean, this watches the mass (and the
    ANN index's own inverted lists going stale); assignment is the
    same md5-seeded plan-literal argmax every IVF path uses, occupancy
    one partial-aggregatable corpus pass, PSI on the |periods|×n_list
    frame.  vec_id%4 stands in for the ingest-period key."""
    from traval_spark.operators.similarity import (
        cluster_occupancy_drift,
        ivf_seed_centroids,
    )

    e = _emb(spark, sf_dir).withColumn(
        "period", (F.col("vec_id") % 4).cast("int"))
    cents = ivf_seed_centroids(e, n_list=IVF_NLIST)
    return cluster_occupancy_drift(e, cents, "period")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "hardmax": q_hardmax,
        "hardmin": q_hardmin,
        "max_gradient": q_max_gradient,
        "diff_threshold": q_diff_threshold,
        "spike_detection": q_spike,
        "outside_nsigma": q_outside_nsigma,
        "diff_nsigma": q_diff_nsigma,
        "flat_signal": q_flat_signal,
        "keep_comments": q_keep_comments,
        "asof_resample": q_asof_resample,
        "comparison_summary": q_comparison_summary,
        "relative_summary": q_relative_summary,
        "binary_classifier": q_binary_classifier,
        "rollup_1m": q_rollup_1m,
        "rollup_1h_cascade": q_rollup_1h_cascade,
        "fl_tier": q_fl_tier,
        "locf_from_tier": q_locf_from_tier,
        "fl_increase": q_fl_increase,
        "rollup_1d_salted": q_rollup_1d_salted,
        "rollup_sets": q_rollup_sets,
        "swing_compress": q_swing_compress,
        "swing_reconstruct": q_swing_reconstruct,
        "lev_verify": q_lev_verify,
        "zipf_fit": q_zipf_fit,
        "doc_entropy": q_doc_entropy,
        "mixture_conc": q_mixture_conc,
        "benford": q_benford,
        "topk_churn": q_topk_churn,
        "rbo_drift": q_rbo_drift,
        "bigram_entropy": q_bigram_entropy,
        "gapfill_ffill": q_gapfill_ffill,
        "gorilla_roundtrip": q_gorilla_roundtrip,
        "offset_detection": q_offset_detection,
        "other_threshold": q_other_threshold,
        "outside_bandwidth": q_outside_bandwidth,
        "combine_nan_or": q_combine_nan_or,
        "comparison_series": q_comparison_series,
        "hampel": q_hampel,
        "linear_interp": q_linear_interp,
        "funcdict": q_funcdict,
        "manual_obs_compare": q_manual_obs_compare,
        "manual_obs_shift": q_manual_obs_shift,
        "pastas_pi_bounds": q_pastas_pi,
        "combine_nan_and": q_combine_nan_and,
        "combine_corr_or": q_combine_corr_or,
        "combine_corr_and": q_combine_corr_and,
        "token_counts": q_token_counts,
        "top_tokens": q_top_tokens,
        "quality_score": q_quality,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "dedup_exact": q_dedup_exact,
        "minhash_sig": q_minhash_sig,
        "lsh_buckets": q_lsh_buckets,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash": q_simhash,
        "simhash64": q_simhash64,
        "simhash64_dups": q_simhash64_dups,
        "lsh_banded": q_lsh_banded,
        "dedup_incremental": q_dedup_incremental,
        "minhash_incremental": q_minhash_incremental,
        "lm_score": q_lm_score,
        "bpe_pairs": q_bpe_pairs,
        "bpe_apply": q_bpe_apply,
        "token_dedup_exact": q_token_dedup_exact,
        "token_minhash_sig": q_token_minhash_sig,
        "token_lsh_pairs": q_token_lsh_pairs,
        "dup_spans": q_dup_spans,
        "trim_spans": q_trim_spans,
        "span_coverage": q_span_coverage,
        "span_incremental": q_span_incremental,
        "decontaminate": q_decontaminate,
        "decontaminate_bloom": q_decontaminate_bloom,
        "ngram_novelty": q_ngram_novelty,
        "vocab_coverage": q_vocab_coverage,
        "stratified_split": q_stratified_split,
        "slo_burn": q_slo_burn,
        "gram_growth": q_gram_growth,
        "burst_dedup": q_burst_dedup,
        "trimmed_mean_1h": q_trimmed_mean_1h,
        "contract_check": q_contract_check,
        "recency_budget": q_recency_budget,
        "percentile_rank_grouped": q_percentile_rank_grouped,
        "dds_rank_1h": q_dds_rank_1h,
        "token_repetition": q_token_repetition,
        "remap_tokens": q_remap_tokens,
        "toptok_1h": q_toptok_1h,
        "dds_quantiles_1h": q_dds_quantiles_1h,
        "pack_assign": q_pack_assign,
        "pack_stats": q_pack_stats,
        "pack_payloads": q_pack_payloads,
        "mix_sample": q_mix_sample,
        "sample_k": q_sample_k,
        "weighted_sample": q_weighted_sample,
        "split_assign": q_split_assign,
        "epoch_upsample": q_epoch_upsample,
        "token_budget": q_token_budget,
        "curate": q_curate,
        "curate_tokens": q_curate_tokens,
        "ann_scores": q_ann_scores,
        "ann_topk": q_ann_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "pq_codes": q_pq_codes,
        "pq_adc_topk": q_pq_adc_topk,
        "ann_ivfpq_topk": q_ann_ivfpq_topk,
        "knn_join": q_knn_join,
        "knn_join_ivf": q_knn_join_ivf,
        "ann_recall": q_ann_recall,
        "label_sim": q_label_sim,
        "cos_dup_pairs": q_cos_dup_pairs,
        "cos_dup_pairs_lsh": q_cos_dup_pairs_lsh,
        "cos_dup_pairs_multi": q_cos_dup_pairs_multi,
        "semantic_dup_pairs": q_semantic_dup_pairs,
        "semantic_keep": q_semantic_keep,
        "semantic_incremental": q_semantic_incremental,
        "kmeans_components": q_kmeans_components,
        "roc_sweep": q_roc_sweep,
        "gopher_repetition": q_gopher_repetition,
        "dup_clusters": q_dup_clusters,
        "doc_filter_chain": q_doc_filter_chain,
        "json_props": q_json_props,
        "tpch_pricing": q_tpch_pricing,
        "sliding_rollup": q_sliding_rollup,
        "sessionize": q_sessionize,
        "tpch_top_orders": q_tpch_top_orders,
        "tpch_regional_revenue": q_tpch_regional_revenue,
        "tpch_returned_revenue": q_tpch_returned_revenue,
        "tpch_promo_share": q_tpch_promo_share,
        "tpch_forecast_revenue": q_tpch_forecast_revenue,
        "tpch_late_orders": q_tpch_late_orders,
        "tpch_priority_lines": q_tpch_priority_lines,
        "tpch_cust_dist": q_tpch_cust_dist,
        "tpch_small_qty_revenue": q_tpch_small_qty_revenue,
        "tpch_big_orders": q_tpch_big_orders,
        "tpch_disjunct_revenue": q_tpch_disjunct_revenue,
        "tpch_quiet_customers": q_tpch_quiet_customers,
        "tpch_waiting_supplier": q_tpch_waiting_supplier,
        "tpch_nation_volume": q_tpch_nation_volume,
        "tpch_market_share": q_tpch_market_share,
        "tpch_top_supplier": q_tpch_top_supplier,
        "tier_routed": q_tier_routed,
        "distinct_users_1h": q_distinct_users_1h,
        "kmv_overlap": q_kmv_overlap,
        "cms_point_1h": q_cms_point_1h,
        "bloom_probe_1h": q_bloom_probe_1h,
        "retained_users_1d": q_retained_users_1d,
        "churned_users_1d": q_churned_users_1d,
        "funnel": q_funnel,
        "cohort_retention": q_cohort_retention,
        "bm25": q_bm25,
        "interval_events": q_interval_events,
        "interval_overlaps": q_interval_overlaps,
        "distinct_users_hll_1h": q_distinct_users_hll_1h,
        "hist_quantiles_1h": q_hist_quantiles_1h,
        "quantile_drift": q_quantile_drift,
        "multimodal_meta": q_multimodal_meta,
        "frame_sample": q_frame_sample,
        "m4_1h": q_m4_1h,
        "lttb_6h": q_lttb_6h,
        "counter_rate": q_counter_rate,
        "gap_stats": q_gap_stats,
        "cusum_change": q_cusum_change,
        "seasonal_profile": q_seasonal_profile,
        "seasonal_anomaly": q_seasonal_anomaly,
        "zorder_key": q_zorder_key,
        "ewma_daily": q_ewma_daily,
        "holt_daily": q_holt_daily,
        "holt_winters_daily": q_holt_winters_daily,
        "xcorr_lags": q_xcorr_lags,
        "sliding_quantiles": q_sliding_quantiles,
        "chunk_docs": q_chunk_docs,
        "redact_pii": q_redact_pii,
        "sliding_distinct": q_sliding_distinct,
        "percentile_rank": q_percentile_rank,
        "sliding_from_tier": q_sliding_from_tier,
        "pad_sequences": q_pad_sequences,
        "temperature_mix": q_temperature_mix,
        "asof_join": q_asof_join,
        "change_points": q_change_points,
        "trend_slope": q_trend_slope,
        "hysteresis": q_hysteresis,
        "series_health": q_series_health,
        "spearman_pairs": q_spearman_pairs,
        "twa_1h": q_twa_1h,
        "psi_drift": q_psi_drift,
        "key_skew": q_key_skew,
        "theil_sen": q_theil_sen,
        "hist_mad_1h": q_hist_mad_1h,
        "robust_outliers": q_robust_outliers,
        "pmi_bigrams": q_pmi_bigrams,
        "source_overlap": q_source_overlap,
        "source_entropy": q_source_entropy,
        "join_blowup": q_join_blowup,
        "phrase_search": q_phrase_search,
        "corpus_diff": q_corpus_diff,
        "seasonal_strength": q_seasonal_strength,
        "forecast_backtest": q_forecast_backtest,
        "lttb_from_m4": q_lttb_from_m4,
        "retention_preview": q_retention_preview,
        "ks_drift": q_ks_drift,
        "mann_whitney": q_mann_whitney,
        "mann_kendall": q_mann_kendall,
        "acf_lags": q_acf_lags,
        "ljung_box": q_ljung_box,
        "dominant_period": q_dominant_period,
        "stl_decompose": q_stl_decompose,
        "stl_anomaly": q_stl_anomaly,
        "fano_dispersion": q_fano_dispersion,
        "theil_sen_tiered": q_theil_sen_tiered,
        "acf_tiered": q_acf_tiered,
        "emd_drift": q_emd_drift,
        "jsd_drift": q_jsd_drift,
        "chi2_drift": q_chi2_drift,
        "welch_ttest": q_welch_ttest,
        "kendall_pairs": q_kendall_pairs,
        "tfidf_top": q_tfidf_top,
        "threshold_episodes": q_threshold_episodes,
        "decayed_topk": q_decayed_topk,
        "sax_words": q_sax_words,
        "sax_pairs": q_sax_pairs,
        "motif_words": q_motif_words,
        "motif_pairs": q_motif_pairs,
        "rare_windows": q_rare_windows,
        "discord_topk": q_discord_topk,
        "dtw_pairs": q_dtw_pairs,
        "kruskal_drift": q_kruskal_drift,
        "runs_test": q_runs_test,
        "turning_points": q_turning_points,
        "variance_ratio": q_variance_ratio,
        "dsir_weights": q_dsir_weights,
        "pettitt_change": q_pettitt_change,
        "dsir_resample": q_dsir_resample,
        "seasonal_mk": q_seasonal_mk,
        "seasonal_sen": q_seasonal_sen,
        "hurst_rs": q_hurst_rs,
        "kpss_level": q_kpss_level,
        "fleet_report": q_fleet_report,
        "sen_slope_ci": q_sen_slope_ci,
        "heaps_fit": q_heaps_fit,
        "cvm_drift": q_cvm_drift,
        "cliffs_delta": q_cliffs_delta,
        "drift_report": q_drift_report,
        "merge_intervals": q_merge_intervals,
        "cluster_cohesion": q_cluster_cohesion,
        "unimax_budget": q_unimax_budget,
        "strip_boilerplate": q_strip_boilerplate,
        "symbol_transitions": q_symbol_transitions,
        "symbol_entropy": q_symbol_entropy,
        "lead_lag": q_lead_lag,
        "symbol_mi": q_symbol_mi,
        "embedding_cov": q_embedding_cov,
        "embedding_cov_merged": q_embedding_cov_merged,
        "embedding_project": q_embedding_project,
        "centroid_drift": q_centroid_drift,
        "cluster_drift": q_cluster_drift,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; views pre-registered by the driver)
# ---------------------------------------------------------------------------

_WINDOW_SERIES = "partition by event_type order by ts"

_FOLD = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "[CAST(ascii(c) AS BIGINT) for c in string_split({col}, '')]), "
    "(acc, c) -> (acc * 31 + c) % 1000000007)"
)

_TOKS = "regexp_split_to_array(text, '\\s+')"

_SHINGLES = (
    "list_distinct([array_to_string(toks[i:i+2], ' ') "
    "for i in range(1, greatest(len(toks) - 2, 1) + 1)])"
)


def _stopword_sql(lang: str) -> str:
    from traval_spark.operators.text import STOPWORDS

    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(toks, t -> list_contains([{words}], t)))"


def _lang_id_sql() -> str:
    from traval_spark.operators.text import STOPWORDS

    # mirror the strict-'>' in-order argmax of text.lang_id
    parts = [f"{_stopword_sql(lang)} AS s_{lang}" for lang in STOPWORDS]
    langs = list(STOPWORDS)
    case = "CASE "
    # best = first lang with score strictly greater than all previous bests:
    # equivalent formulation — pick the first lang whose score equals the
    # running max and the max > 0, with earlier langs winning ties
    greatest = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    for lang in langs:
        case += f"WHEN s_{lang} = {greatest} AND s_{lang} > 0 THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
    with t as (select doc_id, {_TOKS} toks from documents),
    s as (select doc_id, {", ".join(parts)} from t)
    select doc_id, {case} AS lang_pred from s
    """


def _rollup_sql(unit: str) -> str:
    return f"""
    select event_type AS source,
           date_trunc('{unit}', ts) AS bucket,
           count(value) AS n_points,
           round(sum(value), 6) AS sum_val,
           min(value) AS min_val,
           max(value) AS max_val
    from events group by 1, 2
    """


def _relative_sql_frames() -> str:
    return """
    base as (select event_type series_id, ts,
                    case when event_id % 23 = 0 then NULL else value end v
             from events where event_id % 19 != 0),
    s1 as (select event_type series_id, ts,
                  case when event_id % 5 = 0 then NULL else value end v
           from events where event_id % 17 != 0),
    s2 as (select event_type series_id, ts,
                  case when event_id % 3 = 0 then NULL else value end v
           from events where event_id % 13 != 0),
    j as (select coalesce(s1.series_id, s2.series_id, base.series_id) series_id,
                 coalesce(s1.ts, s2.ts, base.ts) ts,
                 s1.v v1, s2.v v2, base.v vb,
                 s1.series_id is not null p1,
                 s2.series_id is not null p2,
                 base.series_id is not null pb
          from s1
          full outer join s2 using (series_id, ts)
          full outer join base using (series_id, ts)),
    cat as (select *,
            case when pb and vb is not null then
                   case when p1 and v1 is not null and p2 and v2 is not null
                          then 'kept_in_both'
                        when p2 and v2 is not null then 'flagged_in_s1'
                        when p1 and v1 is not null then 'flagged_in_s2'
                        else 'flagged_in_both' end
                 when p1 and v1 is not null and p2 and v2 is not null
                   then 'introduced_in_both'
                 when p1 and v1 is not null then 'introduced_in_s1'
                 when p2 and v2 is not null then 'introduced_in_s2'
                 when pb then 'in_all_nan'
                 else NULL end AS rel_category
            from j)
    """


_BC_STATS_SQL = """
    select tp, fp, tn, fn,
      round(case when tp + fn > 0 then tp / (tp + fn + 0.0) end, 9) sensitivity,
      round(case when tp + fn > 0 then tp / (tp + fn + 0.0) end, 9) tpr,
      round(case when fn + tp > 0 then fn / (fn + tp + 0.0) end, 9) fnr,
      round(case when tn + fp > 0 then tn / (tn + fp + 0.0) end, 9) specificity,
      round(case when tn + fp > 0 then tn / (tn + fp + 0.0) end, 9) tnr,
      round(case when fp + tn > 0 then fp / (fp + tn + 0.0) end, 9) fpr,
      round(case when tp + fp > 0 then tp / (tp + fp + 0.0) end, 9) ppv,
      round(case when tn + fn > 0 then tn / (tn + fn + 0.0) end, 9) npv,
      round(case when fp + tp > 0 then fp / (fp + tp + 0.0) end, 9) fdr,
      round(case when fn + tn > 0 then fn / (fn + tn + 0.0) end, 9) "for",
      round(case when tp+fp+fn+tn > 0 then (tp + tn) / (tp+fp+fn+tn+0.0) end, 9) acc,
      round(case when tp+fp+fn+tn > 0 then (tp + fn) / (tp+fp+fn+tn+0.0) end, 9) prev,
      round(case when tn + fp > 0 then tn / (tn + fp + 0.0) end
            + case when tp + fn > 0 then tp / (tp + fn + 0.0) end - 1.0, 9)
        informedness,
      round(case when sqrt((tp+fp+0.0)*(tp+fn)*(tn+fp)*(tn+fn)) > 0
                 then (tp*tn - fp*fn) / sqrt((tp+fp+0.0)*(tp+fn)*(tn+fp)*(tn+fn))
            end, 9) mcc
"""


def oracle_sql() -> dict[str, str]:
    from traval_spark.operators.similarity import hyperplanes
    from traval_spark.operators.text import BPE_PATTERN, STOPWORDS
    from traval_spark.operators.monitor import BENFORD_P
    from traval_spark.operators.text import rbo_tail_weights

    sql: dict[str, str] = {}

    sql["hardmax"] = f"""
    select event_type AS series_id, ts, CAST(2 AS INTEGER) AS code
    from events where value > {HARDMAX_THR}
    """
    sql["hardmin"] = f"""
    select event_type AS series_id, ts, CAST(-2 AS INTEGER) AS code
    from events where value < {HARDMIN_THR}
    """
    sql["max_gradient"] = f"""
    with d as (
      select event_type, ts, value,
             (value - lag(value) over w)
               / ((epoch_us(ts) - lag(epoch_us(ts)) over w) / 1000000.0)
               * 86400.0 AS grad
      from events window w as ({_WINDOW_SERIES}))
    select event_type AS series_id, ts, CAST(2 AS INTEGER) AS code
    from d where grad > {GRAD_STEP}
    """
    sql["diff_threshold"] = f"""
    with d as (
      select event_type, ts,
             case when epoch_us(ts) - lag(epoch_us(ts)) over w > {DIFF_GAP_US}
                  then NULL else value - lag(value) over w end AS dd
      from events window w as ({_WINDOW_SERIES}))
    select event_type AS series_id, ts, CAST(2 AS INTEGER) AS code
    from d where dd >= {DIFF_THR}
    """
    sql["spike_detection"] = f"""
    with d as (
      select event_type, ts,
             case when epoch_us(ts) - lag(epoch_us(ts)) over w > {SPIKE_GAP_US}
                  then NULL else value - lag(value) over w end AS dd
      from events window w as ({_WINDOW_SERIES})),
    e as (
      select event_type, ts, dd,
             case when dd < 0 then NULL else dd end AS du,
             case when dd > 0 then NULL else dd end AS dn
      from d),
    f as (
      select event_type, ts, dd, du, dn,
             lead(du) over w AS du_next,
             lead(dn) over w AS dn_next
      from e window w as ({_WINDOW_SERIES}))
    select event_type AS series_id, ts, CAST(99 AS INTEGER) AS code
    from f
    where coalesce(abs(du + dn_next) <= {SPIKE_TOL} and dd > {SPIKE_THR}, false)
       or coalesce(abs(dn + du_next) <= {SPIKE_TOL} and dd < -{SPIKE_THR}, false)
    """
    sql["outside_nsigma"] = f"""
    with s as (
      select event_type, ts, value,
             avg(value) over w AS m, stddev_samp(value) over w AS sd
      from events
      window w as (partition by event_type))
    select event_type AS series_id, ts,
           CAST(case when value > m + {NSIGMA} * sd then 2 else -2 end
                AS INTEGER) AS code
    from s
    where value > m + {NSIGMA} * sd or value < m - {NSIGMA} * sd
    """
    sql["diff_nsigma"] = f"""
    with d as (
      select event_type, ts,
             case when epoch_us(ts) - lag(epoch_us(ts)) over w > {DIFF_GAP_US}
                  then NULL else value - lag(value) over w end AS dd
      from events window w as ({_WINDOW_SERIES})),
    s as (select event_type, ts, dd,
                 stddev_samp(dd) over (partition by event_type) AS sd
          from d)
    select event_type AS series_id, ts, CAST(2 AS INTEGER) AS code
    from s where abs(dd) > {NSIGMA} * sd
    """
    sql["flat_signal"] = f"""
    with s as (
      select event_type, ts, value,
             stddev_samp(value) over w AS rstd,
             count(value) over w AS rcnt
      from events
      window w as (partition by event_type order by epoch_us(ts)
                   range between {FLAT_WINDOW_US} preceding and current row))
    select event_type AS series_id, ts, CAST(99 AS INTEGER) AS code
    from s
    where value is not null and rcnt >= {FLAT_MIN_OBS} and rstd < {FLAT_STD}
    """
    sql["keep_comments"] = f"""
    select event_type AS series_id, ts, CAST(99 AS INTEGER) AS code,
           '{KEEP_PATTERN}' AS matched
    from events where contains(props, '{KEEP_PATTERN}')
    """
    sql["asof_resample"] = """
    with main as (select ts from events where event_type = 'click'),
    aux as (select ts, value from events where event_type = 'view'),
    u as (
      select ts, 1 AS is_main, CAST(NULL AS DOUBLE) AS aux_v from main
      union all
      select ts, 0, value from aux),
    f as (
      select ts, is_main,
             last_value(aux_v ignore nulls)
               over (order by ts, is_main
                     rows between unbounded preceding and current row) AS fwd
      from u),
    m as (select ts, fwd from f where is_main = 1)
    select ts,
           coalesce(fwd, first_value(fwd ignore nulls)
             over (order by ts
                   rows between current row and unbounded following)) AS thr
    from m
    """
    sql["comparison_summary"] = """
    with s1 as (select event_type series_id, ts,
                       case when event_id % 11 = 0 then NULL else value end v
                from events where event_id % 13 != 0),
    s2 as (select event_type series_id, ts,
                  case when event_id % 5 = 0 then NULL
                       else value + case when event_id % 7 = 0
                                         then 1.0 else 0.0 end end v
           from events where event_id % 17 != 0),
    j as (select coalesce(s1.series_id, s2.series_id) series_id,
                 s1.v v1, s2.v v2,
                 s1.series_id is not null p1, s2.series_id is not null p2
          from s1 full outer join s2 using (series_id, ts)),
    cat as (select series_id,
            case when p1 and v1 is not null and p2 and v2 is not null then
                   case when abs(v1 - v2) <= 0.0 then 'in_both_identical'
                        else 'in_both_different' end
                 when p1 and v1 is not null then 'in_s1'
                 when p2 and v2 is not null then 'in_s2'
                 else 'in_both_nan' end AS category
            from j)
    select series_id,
           count(*) filter (where category = 'in_both_identical') AS in_both_identical,
           count(*) filter (where category = 'in_both_different') AS in_both_different,
           count(*) filter (where category = 'in_s1') AS in_s1,
           count(*) filter (where category = 'in_s2') AS in_s2,
           count(*) filter (where category = 'in_both_nan') AS in_both_nan
    from cat group by series_id
    """
    sql["relative_summary"] = f"""
    with {_relative_sql_frames()}
    select
      count(*) filter (where rel_category = 'kept_in_both') AS kept_in_both,
      count(*) filter (where rel_category = 'flagged_in_s1') AS flagged_in_s1,
      count(*) filter (where rel_category = 'flagged_in_s2') AS flagged_in_s2,
      count(*) filter (where rel_category = 'flagged_in_both') AS flagged_in_both,
      count(*) filter (where rel_category = 'in_all_nan') AS in_all_nan,
      count(*) filter (where rel_category = 'introduced_in_s1') AS introduced_in_s1,
      count(*) filter (where rel_category = 'introduced_in_s2') AS introduced_in_s2,
      count(*) filter (where rel_category = 'introduced_in_both') AS introduced_in_both
    from cat
    """
    sql["binary_classifier"] = f"""
    with {_relative_sql_frames()},
    counts as (select
      count(*) filter (where rel_category = 'flagged_in_both') AS tp,
      count(*) filter (where rel_category = 'flagged_in_s1') AS fp,
      count(*) filter (where rel_category = 'kept_in_both') AS tn,
      count(*) filter (where rel_category = 'flagged_in_s2') AS fn
      from cat)
    {_BC_STATS_SQL}
    from counts
    """
    sql["rollup_1m"] = _rollup_sql("minute")
    # first/last tier: the oracle takes each bucket's extreme rows
    # straight off raw with (u, i)-ordered row_numbers — the engine's
    # struct-min/max must land on the same deterministic observations
    # through the 1h -> 1d cascade
    sql["fl_tier"] = """
    with s as (select event_type AS source, date_trunc('day', ts) AS bucket,
                      epoch_us(ts) AS u, event_id AS i, value AS v
               from events where value is not null),
    r as (select *,
                 row_number() over (partition by source, bucket
                                    order by u, i) AS rf,
                 row_number() over (partition by source, bucket
                                    order by u desc, i desc) AS rl
          from s)
    select source, bucket,
           max(case when rf = 1 then u end) AS first_us,
           max(case when rf = 1 then i end) AS first_id,
           max(case when rf = 1 then v end) AS first_val,
           max(case when rl = 1 then u end) AS last_us,
           max(case when rl = 1 then i end) AS last_id,
           max(case when rl = 1 then v end) AS last_val
    from r group by source, bucket
    """
    # the hourly first/last tier both fl reads below serve from
    _FL_1H = """
    s as (select event_type AS source, date_trunc('hour', ts) AS bucket,
                 epoch_us(ts) AS u, event_id AS i, value AS v
          from events where value is not null),
    r as (select *,
                 row_number() over (partition by source, bucket
                                    order by u, i) AS rf,
                 row_number() over (partition by source, bucket
                                    order by u desc, i desc) AS rl
          from s),
    fl as (select source, bucket,
                  max(case when rf = 1 then v end) AS first_val,
                  max(case when rl = 1 then u end) AS last_us,
                  max(case when rl = 1 then v end) AS last_val
           from r group by source, bucket)
    """
    sql["locf_from_tier"] = f"""
    with {_FL_1H},
    span as (select source, min(bucket) AS b0, max(bucket) AS b1
             from fl group by source),
    spine as (select source, unnest(generate_series(b0, b1,
                                    interval 1 hour)) AS bucket
              from span),
    dense as (select sp.source, sp.bucket, fl.last_us, fl.last_val,
                     fl.bucket is not null AS observed
              from spine sp left join fl
                on sp.source = fl.source and sp.bucket = fl.bucket)
    select source, bucket,
           last_value(last_us ignore nulls)
             over (partition by source order by bucket
                   rows unbounded preceding) AS locf_us,
           last_value(last_val ignore nulls)
             over (partition by source order by bucket
                   rows unbounded preceding) AS locf_val,
           observed
    from dense
    """
    sql["fl_increase"] = f"""
    with {_FL_1H},
    lagged as (select source, bucket, first_val, last_val,
                      lag(last_val) over (partition by source
                                          order by bucket) AS prev
               from fl)
    select source, bucket,
           case when prev is null then last_val - first_val
                when last_val >= prev then last_val - prev
                else last_val end AS increase
    from lagged
    """
    sql["rollup_1h_cascade"] = _rollup_sql("hour")
    sql["rollup_1d_salted"] = _rollup_sql("day")
    # Swinging-door: identical exact-integer door state machine as a
    # flat BIGINT LIST accumulator ([ta,va,tp,vp,un,ud,dn,dd] + kept
    # pairs); rational slopes compared by cross-multiplication so the
    # kept set is engine-identical; (+-1, 0) sentinel infinities need
    # no special case under the cross-multiply
    _sw_e = 2000
    _sw_sun = f"(e[2] + {_sw_e} - acc[2])"
    _sw_sdn = f"(e[2] - {_sw_e} - acc[2])"
    _sw_den = "(e[1] - acc[1])"
    _sw_ult = f"({_sw_sun} * acc[6] < acc[5] * {_sw_den})"
    _sw_un1 = f"CASE WHEN {_sw_ult} THEN {_sw_sun} ELSE acc[5] END"
    _sw_ud1 = f"CASE WHEN {_sw_ult} THEN {_sw_den} ELSE acc[6] END"
    _sw_dgt = f"({_sw_sdn} * acc[8] > acc[7] * {_sw_den})"
    _sw_dn1 = f"CASE WHEN {_sw_dgt} THEN {_sw_sdn} ELSE acc[7] END"
    _sw_dd1 = f"CASE WHEN {_sw_dgt} THEN {_sw_den} ELSE acc[8] END"
    _sw_closed = f"(({_sw_dn1}) * ({_sw_ud1}) > ({_sw_un1}) * ({_sw_dd1}))"
    _sw_closed_l = (
        f"[acc[3], acc[4], e[1], e[2], e[2] + {_sw_e} - acc[4], "
        f"e[1] - acc[3], e[2] - {_sw_e} - acc[4], e[1] - acc[3]] "
        "|| list_slice(acc, 9, len(acc)) || [acc[3], acc[4]]"
    )
    _sw_open_l = (
        f"[acc[1], acc[2], e[1], e[2], {_sw_un1}, {_sw_ud1}, "
        f"{_sw_dn1}, {_sw_dd1}] || list_slice(acc, 9, len(acc))"
    )
    sql["swing_compress"] = f"""
    with src as (select event_type AS source,
                        epoch_us(ts) // 1000 AS t,
                        cast(round(value * 1000) AS bigint) AS v,
                        event_id
                 from events),
    ded as (select source, t, arg_max(v, event_id) AS v
            from src group by source, t),
    arrs as (select source, array_agg([t, v] ORDER BY t) AS lst
             from ded group by source),
    r as (select source,
                 list_reduce(
                   [[lst[1][1], lst[1][2], lst[1][1], lst[1][2],
                     1::BIGINT, 0::BIGINT, -1::BIGINT, 0::BIGINT,
                     lst[1][1], lst[1][2]]]
                   || lst[2:],
                   (acc, e) -> CASE WHEN {_sw_closed}
                               THEN {_sw_closed_l}
                               ELSE {_sw_open_l} END) AS h
          from arrs),
    fin as (select source,
                   CASE WHEN h[3] = h[1] THEN list_slice(h, 9, len(h))
                        ELSE list_slice(h, 9, len(h)) || [h[3], h[4]]
                   END AS kept
            from r)
    select source, kept[2 * i - 1] AS t_ms, kept[2 * i] AS v_i
    from fin, unnest(generate_series(1, len(kept) // 2)) AS u(i)
    """
    # reads served from the swinging-door representation: nest the full
    # swing_compress query as the kept frame, identical merged-stream
    # bracket windows and interpolation arithmetic
    sql["swing_reconstruct"] = f"""
    with sk as (select * from ({sql["swing_compress"]}) x),
    probes as (select distinct event_type AS source,
                      epoch_us(date_trunc('hour', ts)) // 1000 AS t
               from events),
    m as (select source, t_ms AS t, v_i AS v, 1 AS is_kept from sk
          union all
          select source, t, NULL::BIGINT AS v, 0 AS is_kept from probes),
    br as (select source, t, is_kept,
                  last_value(case when is_kept = 1 then [t, v] end
                             IGNORE NULLS) over (
                      partition by source
                      order by t, is_kept desc
                      rows between unbounded preceding and current row)
                    AS l,
                  first_value(case when is_kept = 1 then [t, v] end
                              IGNORE NULLS) over (
                      partition by source
                      order by t, is_kept
                      rows between current row and unbounded following)
                    AS r
           from m)
    select source, t AS t_ms,
           case when l is not null and r is not null then
             round(case when r[1] = l[1] then cast(l[2] AS double)
                        else cast(l[2] AS double)
                             + cast(r[2] - l[2] AS double)
                               * cast(t - l[1] AS double)
                               / cast(r[1] - l[1] AS double) end, 6)
           end AS v_rec,
           cast(l is not null and r is not null AS int) AS covered
    from br where is_kept = 0
    """
    # CUBE marginals: same grouping-sets semantics in both engines;
    # fixed-point longs keep every sum exact, GROUPING() flags mark
    # rolled-up dimensions
    sql["rollup_sets"] = """
    with src as (select event_type AS source,
                        strftime(ts, '%Y-%m-%d') AS day,
                        cast(round(value * 1000) AS bigint) AS v_i
                 from events)
    select source, day,
           count(*) AS n_rows,
           sum(v_i) AS sum_v,
           min(v_i) AS min_v,
           max(v_i) AS max_v,
           cast(grouping(source) AS int) AS g_source,
           cast(grouping(day) AS int) AS g_day
    from src
    group by cube (source, day)
    """
    # distinct sketches: exact at oracle scale by construction (KMV k=256
    # and HLL sparse mode both exceed the max per-bucket cardinality)
    sql["distinct_users_1h"] = sql["distinct_users_hll_1h"] = """
    select event_type AS source,
           date_trunc('hour', ts) AS bucket,
           count(distinct user_id) AS n_users
    from events group by 1, 2
    """
    # exact-regime KMV set algebra: k=4096 > every period cardinality,
    # so sketch arithmetic degenerates to exact distinct-set arithmetic
    sql["kmv_overlap"] = """
    with ua as (select distinct event_type AS source, user_id
                from events where ts < '2024-01-15'),
    ub as (select distinct event_type AS source, user_id
           from events where ts >= '2024-01-28'),
    na as (select source, count(*) AS n_a from ua group by source),
    nb as (select source, count(*) AS n_b from ub group by source),
    ix as (select ua.source, count(*) AS ni
           from ua join ub on ua.source = ub.source
                          and ua.user_id = ub.user_id
           group by ua.source),
    un as (select source, count(distinct user_id) AS nu
           from (select * from ua union all select * from ub)
           group by source)
    select na.source,
           cast(n_a AS bigint) AS n_a_est,
           cast(n_b AS bigint) AS n_b_est,
           cast(nu AS bigint) AS union_est,
           cast(coalesce(ni, 0) AS bigint) AS inter_est,
           round(cast(coalesce(ni, 0) AS double)
                 / cast(nu AS double), 6) AS jaccard
    from na join nb using (source) join un using (source)
    left join ix using (source)
    """
    sql["quantile_drift"] = """
    with a as (select event_type AS source,
                      quantile_disc(CAST(round(value * 100) AS BIGINT),
                                    0.5) / 100.0 AS p50_a,
                      quantile_disc(CAST(round(value * 100) AS BIGINT),
                                    0.95) / 100.0 AS p95_a
               from events
               where value is not null and ts < '2024-01-15'
               group by 1),
    b as (select event_type AS source,
                 quantile_disc(CAST(round(value * 100) AS BIGINT),
                               0.5) / 100.0 AS p50_b,
                 quantile_disc(CAST(round(value * 100) AS BIGINT),
                               0.95) / 100.0 AS p95_b
          from events
          where value is not null and ts >= '2024-01-28'
          group by 1)
    select source, p50_a, p50_b, p50_b - p50_a AS d_p50,
           p95_a, p95_b, p95_b - p95_a AS d_p95
    from a join b using (source)
    """
    sql["hist_quantiles_1h"] = """
    select event_type AS source,
           date_trunc('hour', ts) AS bucket,
           quantile_disc(CAST(round(value * 100) AS BIGINT), 0.5) / 100.0
               AS p50,
           quantile_disc(CAST(round(value * 100) AS BIGINT), 0.95) / 100.0
               AS p95
    from events where value is not null group by 1, 2
    """
    sql["contract_check"] = """
    select 'orders_custkey_not_null' AS "check",
           count(*) filter (where o_custkey is null) AS n_violations
    from orders
    union all
    select 'orders_status_accepted',
           count(*) filter (where not coalesce(
             o_orderstatus in ('O', 'F', 'P'), true))
    from orders
    union all
    select 'orders_price_positive',
           count(*) filter (where not coalesce(o_totalprice > 0, true))
    from orders
    union all
    select 'orders_price_cap_300k',
           count(*) filter (where not coalesce(
             o_totalprice <= 300000, true))
    from orders
    union all
    select 'orders_key_unique',
           count(*) - count(distinct o_orderkey)
    from orders
    union all
    select 'lineitem_orderkey_fk',
           count(*) filter (where not exists (
             select 1 from orders where o_orderkey = l_orderkey))
    from lineitem
    """
    sql["trimmed_mean_1h"] = """
    with v as (select event_type AS source,
                      date_trunc('hour', ts) AS bucket,
                      CAST(round(value * 100) AS BIGINT) AS bin
               from events where value is not null),
    r as (select source, bucket, bin,
            row_number() over (partition by source, bucket
                               order by bin) AS rn,
            count(*) over (partition by source, bucket) AS n
          from v)
    select source, bucket, CAST(max(n) AS BIGINT) AS n,
           round(sum(case when rn > floor(0.1 * n)
                           and rn <= n - floor(0.1 * n)
                          then bin end) * 1.0
                 / sum(case when rn > floor(0.1 * n)
                             and rn <= n - floor(0.1 * n)
                            then 1 end)
                 / 100.0, 9) AS trimmed_mean
    from r group by 1, 2
    """
    sql["gapfill_ffill"] = """
    with t as (
      select event_type AS source, date_trunc('hour', ts) AS bucket,
             count(value) AS n_points
      from events where event_type = 'purchase' group by 1, 2),
    bounds as (select source, min(bucket) b0, max(bucket) b1 from t group by 1),
    spine as (
      select source, unnest(generate_series(b0, b1, interval 1 hour)) AS bucket
      from bounds),
    dense as (select spine.source, spine.bucket, t.n_points,
                     t.n_points is null AS gap_filled
              from spine left join t using (source, bucket))
    select source, bucket,
           last_value(n_points ignore nulls)
             over (partition by source order by bucket
                   rows between unbounded preceding and current row) AS n_points,
           gap_filled
    from dense
    """
    sql["gorilla_roundtrip"] = """
    select event_type AS source, date_trunc('minute', ts) AS bucket,
           round(sum(value), 6) AS sum_val
    from events group by 1, 2
    """
    # Offset detection: the greedy jump-pairing loop (reference
    # rulelib.py:330-371, search_method='time') re-expressed as a DuckDB
    # recursive CTE. State per step = (matched timestamps, emitted pairs);
    # each iteration processes jump js[pos]: skip if already matched, else
    # pair with the FIRST unmatched other jump whose |dh_i + dh_j| <=
    # updown_diff. list_filter preserves the time order of js, so "[1]"
    # is exactly the reference's matches.index[0]. The single-jump branch
    # (rulelib.py:372-381) flags from the jump to end-of-series. Constants
    # match q_offset_detection: threshold=150, updown_diff=20, max_gap=7D,
    # end of each period is exclusive of the closing jump by 30 seconds.
    sql["offset_detection"] = """
    WITH RECURSIVE
    base AS (
      SELECT event_type AS sid, ts, value,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL 7 DAY
                  THEN value - lag(value) OVER w END AS d
      FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts)
    ),
    jumps AS (
      SELECT sid, list(struct_pack(jts := ts, dh := d) ORDER BY ts) AS js
      FROM base WHERE d >= 150.0 OR d <= -150.0 GROUP BY sid
    ),
    pairing AS (
      SELECT sid, js, 1 AS pos,
             []::TIMESTAMP[] AS matched,
             []::STRUCT(s TIMESTAMP, e TIMESTAMP)[] AS pairs
      FROM jumps WHERE len(js) > 1
      UNION ALL
      SELECT sid, js, pos + 1,
             CASE WHEN hit IS NULL THEN matched
                  ELSE list_append(list_append(matched, cur.jts), hit.jts)
                  END,
             CASE WHEN hit IS NULL THEN pairs
                  ELSE list_append(pairs, struct_pack(s := cur.jts,
                                                      e := hit.jts)) END
      FROM (
        SELECT sid, js, pos, matched, pairs, cur,
               CASE WHEN list_contains(matched, cur.jts) THEN NULL
                    ELSE list_filter(js, x -> x.jts <> cur.jts
                                          AND NOT list_contains(matched,
                                                                x.jts)
                                          AND abs(x.dh + cur.dh) <= 20.0)[1]
               END AS hit
        FROM (SELECT *, js[pos] AS cur FROM pairing WHERE pos <= len(js))
      )
    ),
    final_pairs AS (
      SELECT sid, unnest(pairs) AS p FROM pairing WHERE pos = len(js) + 1
      UNION ALL
      SELECT j.sid, struct_pack(s := j.js[1].jts, e := m.last_ts) AS p
      FROM jumps j
      JOIN (SELECT sid, max(ts) AS last_ts FROM base GROUP BY sid) m
        USING (sid)
      WHERE len(j.js) = 1
    ),
    flagged AS (
      SELECT DISTINCT b.sid, b.ts
      FROM base b JOIN final_pairs f
        ON b.sid = f.sid
       AND b.ts >= f.p.s AND b.ts <= f.p.e - INTERVAL 30 SECOND
    )
    SELECT sid AS series_id, ts, CAST(99 AS INTEGER) AS code FROM flagged
    """

    sql["other_threshold"] = """
    select event_type AS series_id, ts, CAST(2 AS INTEGER) AS code
    from events where value + 10.0 > 100.0
    """
    sql["outside_bandwidth"] = """
    with s as (select event_type, ts, value,
                      avg(value) over (partition by event_type) AS m
               from events)
    select event_type AS series_id, ts,
           CAST(case when value > m + 60.0 then 2 else -2 end AS INTEGER)
             AS code
    from s where value > m + 60.0 or value < m - 20.0
    """
    sql["combine_nan_or"] = f"""
    select event_type AS series_id, ts from events
    where value > {HARDMAX_THR} or value < {HARDMIN_THR}
    """
    _NSIG_FRAME = f"""
    s as (select event_type, ts, value,
                 avg(value) over w AS m, stddev_samp(value) over w AS sd
          from events window w as (partition by event_type)),
    flags as (select event_type, ts,
                     value > {HARDMAX_THR} AS f1,
                     value > m + {NSIGMA} * sd or value < m - {NSIGMA} * sd AS f2
              from s)
    """
    # reference quirk (rulelib.py:838-840): result = s1.copy() with NaN
    # where ALL inputs are NaN — s1's own NaNs ride through the copy, so
    # the NULL set is exactly s1's NULL set (f1), not the intersection
    sql["combine_nan_and"] = f"""
    with {_NSIG_FRAME}
    select event_type AS series_id, ts from flags where f1
    """
    sql["combine_corr_or"] = f"""
    with {_NSIG_FRAME}
    select event_type AS series_id, ts from flags where f1 or f2
    """
    sql["combine_corr_and"] = f"""
    with {_NSIG_FRAME}
    select event_type AS series_id, ts from flags where f1 and f2
    """
    sql["funcdict"] = """
    select event_type AS series_id, ts, CAST(99 AS INTEGER) AS code
    from events where value < 1.0 or value > 200.0
    """
    # manual-obs rules: the exact pandas-kernel semantics
    # (interpolate-at-manual, nearest-distance mask, positional
    # re-interpolation with fillna(0) leading / clamp trailing) expressed
    # with the same union+window tricks as linear_interp — verified
    # 0-mismatch against the reference kernel at sf0.01
    _MOBS_FRAMES = f"""
    main as (select ts, value v from events where event_type='click'),
    bounds as (select min(ts) t0, max(ts) t1 from main),
    man as (
      select e.ts, e.value mv from events e, bounds b
      where e.event_type='view' and e.event_id % {MOBS_SAMPLE} = 0
        and e.ts between b.t0 and b.t1),
    kept as (
      select man.ts, man.mv from man
      where (select min(abs(epoch_us(man.ts) - epoch_us(main.ts))) from main)
            <= {MOBS_MAX_DT_US}),
    u as (
      select ts, 1 AS is_main, CAST(NULL AS DOUBLE) AS mv, v from main
      union all select ts, 0, mv, CAST(NULL AS DOUBLE) from kept),
    w1 as (
      -- NANOSECOND epoch as float64, exactly like pandas method='time':
      -- the index is viewed as int64 ns and np.interp converts to double
      -- (ns epochs exceed 2^53, so this conversion ROUNDS — replicating
      -- that rounding is required for bit-identical slopes)
      select *, CAST(epoch_ns(ts) AS DOUBLE) AS usec,
        last_value(case when is_main=1 then v end ignore nulls) over
          (order by ts, is_main
           rows between unbounded preceding and current row) AS pv,
        last_value(case when is_main=1 then usec end ignore nulls) over
          (order by ts, is_main
           rows between unbounded preceding and current row) AS pt
      from u),
    w2 as (
      select *,
        last_value(case when is_main=1 then v end ignore nulls) over
          (order by ts desc, is_main
           rows between unbounded preceding and current row) AS nv,
        last_value(case when is_main=1 then usec end ignore nulls) over
          (order by ts desc, is_main
           rows between unbounded preceding and current row) AS nt
      from w1),
    d as (
      -- np.interp evaluates slope FIRST: ((dy/dx) * (x-x0)) + y0; the
      -- naive pv + (nv-pv)*(usec-pt)/(nt-pt) association differs in the
      -- last ulp and flips round()'s 6th decimal on ~0.01% of rows
      select ts, is_main, v,
             case when is_main=0
                  then mv - (((nv - pv) / (nt - pt)) * (usec - pt) + pv)
             end AS dd
      from w2),
    pos as (select *, row_number() over (order by ts) AS rn from d),
    p2 as (
      select *,
        last_value(dd ignore nulls) over
          (order by rn rows between unbounded preceding and current row) AS prev_d,
        last_value(case when dd is not null then rn end ignore nulls) over
          (order by rn rows between unbounded preceding and current row) AS prev_rn,
        last_value(dd ignore nulls) over
          (order by rn desc rows between unbounded preceding and current row) AS next_d,
        last_value(case when dd is not null then rn end ignore nulls) over
          (order by rn desc rows between unbounded preceding and current row) AS next_rn
      from pos),
    full_d as (
      select ts, v,
        case when prev_d is null then 0.0
             when next_d is null then prev_d
             when next_rn = prev_rn then prev_d
             -- np.interp association again (pandas method='linear' is
             -- positional np.interp over row ranks)
             else ((next_d - prev_d) / (next_rn - prev_rn))
                  * (rn - prev_rn) + prev_d
        end AS fd
      from p2 where is_main = 1)
    """
    sql["manual_obs_compare"] = f"""
    with {_MOBS_FRAMES}
    select 'click' AS series_id, ts,
           CAST(case when fd > {MOBS_THR} then 2 else -2 end AS INTEGER) AS code,
           round(fd, 6) AS diff_val
    from full_d where fd > {MOBS_THR} or fd < -{MOBS_THR}
    """
    sql["manual_obs_shift"] = f"""
    with {_MOBS_FRAMES}
    select 'click' AS series_id, ts, round(v + fd, 4) AS adjusted
    from full_d
    """
    # pastas-PI adapter: the +/-PI_OFF offsets commute through the linear
    # positional interpolation and the max/min smoothing, so the oracle
    # smooths the BASE hourly average once with max and once with min and
    # offsets afterwards; min_ci widening is binding by construction
    sql["pastas_pi_bounds"] = f"""
    with b as (
      select date_trunc('hour', ts) AS bts, avg(value) AS av
      from events where event_type='click' group by 1),
    shift as (
      select bts - interval 1 day AS bts, av, 0 AS k from b
      union all select bts, av, 1 from b
      union all select bts + interval 1 day, av, 2 from b),
    piv as (
      select bts,
             max(case when k = 0 then av end) AS bwd,
             max(case when k = 1 then av end) AS orig,
             max(case when k = 2 then av end) AS fwd
      from shift group by bts),
    pos as (select *, row_number() over (order by bts) AS rn from piv),
    itp as (
      select bts, orig,
        last_value(bwd ignore nulls) over wf AS b_pv,
        last_value(case when bwd is not null then rn end ignore nulls)
          over wf AS b_pr,
        last_value(bwd ignore nulls) over wb AS b_nv,
        last_value(case when bwd is not null then rn end ignore nulls)
          over wb AS b_nr,
        last_value(fwd ignore nulls) over wf AS f_pv,
        last_value(case when fwd is not null then rn end ignore nulls)
          over wf AS f_pr,
        last_value(fwd ignore nulls) over wb AS f_nv,
        last_value(case when fwd is not null then rn end ignore nulls)
          over wb AS f_nr,
        rn
      from pos
      window
        wf as (order by rn rows between unbounded preceding and current row),
        wb as (order by rn desc rows between unbounded preceding and current row)),
    sm as (
      select bts, orig,
        case when b_pv is null then NULL
             when b_nv is null then b_pv
             when b_nr = b_pr then b_pv
             else b_pv + (b_nv - b_pv) * (rn - b_pr) / (b_nr - b_pr) end AS bi,
        case when f_pv is null then NULL
             when f_nv is null then f_pv
             when f_nr = f_pr then f_pv
             else f_pv + (f_nv - f_pv) * (rn - f_pr) / (f_nr - f_pr) end AS fi
      from itp where orig is not null),
    bnds as (
      select bts,
        greatest(coalesce(bi, -1e308), orig, coalesce(fi, -1e308))
          + {PI_OFF} + {PI_MIN_CI} / 2.0 AS ub,
        least(coalesce(bi, 1e308), orig, coalesce(fi, 1e308))
          - {PI_OFF} - {PI_MIN_CI} / 2.0 AS lb
      from sm),
    main as (select ts, value v from events where event_type='click'),
    u as (
      select ts, 1 AS is_main, v, CAST(NULL AS DOUBLE) AS lb,
             CAST(NULL AS DOUBLE) AS ub from main
      union all select bts, 0, NULL, lb, ub from bnds),
    a1 as (
      select *, epoch_us(ts) * 1.0 AS usec,
        last_value(lb ignore nulls) over wf AS lb_pv,
        last_value(ub ignore nulls) over wf AS ub_pv,
        last_value(case when is_main = 0 then epoch_us(ts) * 1.0 end
                   ignore nulls) over wf AS pt
      from u
      window wf as (order by ts, is_main
                    rows between unbounded preceding and current row)),
    a2 as (
      select *,
        last_value(lb ignore nulls) over wb AS lb_nv,
        last_value(ub ignore nulls) over wb AS ub_nv,
        last_value(case when is_main = 0 then epoch_us(ts) * 1.0 end
                   ignore nulls) over wb AS nt
      from a1
      window wb as (order by ts desc, is_main
                    rows between unbounded preceding and current row)),
    ib as (
      select ts, v,
        case when usec = pt then lb_pv
             else lb_pv + (lb_nv - lb_pv) * (usec - pt) / (nt - pt) end AS lbi,
        case when usec = pt then ub_pv
             else ub_pv + (ub_nv - ub_pv) * (usec - pt) / (nt - pt) end AS ubi
      from a2 where is_main = 1)
    select 'click' AS series_id, ts,
           CAST(case when v > ubi then 2 else -2 end AS INTEGER) AS code
    from ib where v > ubi or v < lbi
    """
    sql["hampel"] = f"""
    with m as (
      select event_type, ts, value,
             quantile_cont(value, 0.5) over w AS med,
             count(value) over w AS cnt
      from events
      window w as (partition by event_type order by epoch_us(ts)
                   range between {FLAT_WINDOW_US} preceding and current row)),
    d as (select event_type, ts, value, cnt, abs(value - med) AS dev,
                 epoch_us(ts) AS us
          from m),
    md as (
      select event_type, ts, dev, cnt,
             quantile_cont(dev, 0.5) over w AS mad
      from d
      window w as (partition by event_type order by us
                   range between {FLAT_WINDOW_US} preceding and current row))
    select event_type AS series_id, ts, CAST(99 AS INTEGER) AS code
    from md
    where cnt >= 5 and dev > 5.0 * 1.4826 * mad
    """
    sql["comparison_series"] = """
    with s1 as (select event_type series_id, ts,
                       case when event_id % 11 = 0 then NULL else value end v
                from events where event_id % 13 != 0),
    s2 as (select event_type series_id, ts,
                  case when event_id % 5 = 0 then NULL
                       else value + case when event_id % 7 = 0
                                         then 1.0 else 0.0 end end v
           from events where event_id % 17 != 0),
    j as (select coalesce(s1.series_id, s2.series_id) series_id,
                 coalesce(s1.ts, s2.ts) ts, s1.v v1, s2.v v2,
                 s1.series_id is not null p1, s2.series_id is not null p2
          from s1 full outer join s2 using (series_id, ts))
    select series_id, ts,
           case when p1 and v1 is not null and p2 and v2 is not null then
                  case when abs(v1 - v2) <= 0.0 then -1.0 else 0.0 end
                when p1 and v1 is not null then 1.0
                when p2 and v2 is not null then 2.0
                else -9999.0 end AS status
    from j
    """
    sql["linear_interp"] = """
    with main as (select ts from events where event_type = 'click'),
    aux as (select ts, value from events where event_type = 'view'),
    u as (
      select ts, 1 AS is_main, CAST(NULL AS DOUBLE) AS aux_v from main
      union all select ts, 0, value from aux),
    fwd as (
      select *, epoch_us(ts) * 1.0 AS usec,
        last_value(aux_v ignore nulls) over
          (order by ts, is_main
           rows between unbounded preceding and current row) AS pv,
        last_value(case when is_main = 0 then epoch_us(ts) * 1.0 end
                   ignore nulls) over
          (order by ts, is_main
           rows between unbounded preceding and current row) AS pt
      from u),
    bwd as (
      select *, 
        last_value(aux_v ignore nulls) over
          (order by ts desc, is_main
           rows between unbounded preceding and current row) AS nv,
        last_value(case when is_main = 0 then epoch_us(ts) * 1.0 end
                   ignore nulls) over
          (order by ts desc, is_main
           rows between unbounded preceding and current row) AS nt
      from fwd)
    select ts,
           round(case when usec = pt then pv
                      else pv + (nv - pv) * (usec - pt) / (nt - pt) end,
                 6) AS interp
    from bwd where is_main = 1
    """

    sql["token_counts"] = f"""
    select doc_id,
           len(regexp_split_to_array(text, '\\s+')) AS n_ws,
           len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe
    from documents
    """
    sql["top_tokens"] = """
    with t as (select source, unnest(regexp_split_to_array(text, '\\s+')) AS tok
               from documents),
    c as (select source, tok, count(*) AS cnt from t group by 1, 2),
    r as (select source, tok, cnt,
                 row_number() over (partition by source
                                    order by cnt desc, tok) AS rn
          from c)
    select source, tok, cnt from r where rn <= 5
    """
    # per-doc entropy: ln n - (sum c ln c)/n over per-doc token runs
    sql["doc_entropy"] = """
    with t as (select doc_id,
                      unnest(regexp_split_to_array(text, '\\s+')) AS tok
               from documents),
    c as (select doc_id, tok, count(*) AS c from t group by 1, 2),
    g as (select doc_id, cast(sum(c) AS bigint) AS n_toks,
                 count(*) AS n_distinct,
                 sum(cast(c AS double) * ln(c)) AS s
          from c group by doc_id)
    select d.doc_id,
           coalesce(g.n_toks, 0) AS n_toks,
           g.n_distinct,
           case when g.n_toks > 0
                then round(ln(g.n_toks) - g.s / g.n_toks, 6) end
             AS entropy
    from documents d left join g using (doc_id)
    """
    # Zipf OLS on the same count table: identical rank tie-break,
    # identical closed forms, 6dp rounding
    sql["zipf_fit"] = """
    with t as (select source,
                      unnest(regexp_split_to_array(text, '\\s+')) AS tok
               from documents),
    c as (select source, tok, count(*) AS cnt from t group by 1, 2),
    r as (select source, cnt,
                 row_number() over (partition by source
                                    order by cnt desc, tok) AS rn
          from c),
    xy as (select source, ln(cast(rn AS double)) AS x,
                  ln(cast(cnt AS double)) AS y
           from r where rn <= 64),
    g as (select source, count(*) AS n_ranks,
                 sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                 sum(x * x) AS sxx, sum(y * y) AS syy
          from xy group by source)
    select source, n_ranks,
           case when n_ranks * sxx - sx * sx > 0
                then round((n_ranks * sxy - sx * sy)
                           / (n_ranks * sxx - sx * sx), 6) end AS slope,
           case when n_ranks * sxx - sx * sx > 0
                then round((sy - (n_ranks * sxy - sx * sy)
                                 / (n_ranks * sxx - sx * sx) * sx)
                           / n_ranks, 6) end AS intercept,
           case when n_ranks * sxx - sx * sx > 0
                 and n_ranks * syy - sy * sy > 0
                then round((n_ranks * sxy - sx * sy)
                           * (n_ranks * sxy - sx * sy)
                           / ((n_ranks * sxx - sx * sx)
                              * (n_ranks * syy - sy * sy)), 6)
           end AS r2
    from g
    """
    en_words = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    sql["quality_score"] = f"""
    with t as (select doc_id, text, regexp_split_to_array(text, '\\s+') toks
               from documents)
    select doc_id,
           length(text) AS n_chars,
           len(toks) AS n_tokens,
           round(length(text) / (len(toks) + 0.0), 6) AS avg_token_len,
           round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                 / greatest(length(text) + 0.0, 1.0), 6) AS punct_ratio,
           round(len(list_filter(toks, t -> list_contains([{en_words}], t)))
                 / greatest(len(toks) + 0.0, 1.0), 6) AS stopword_ratio
    from t
    """
    sql["lang_id"] = _lang_id_sql()
    sql["fingerprint"] = f"""
    select doc_id, {_FOLD.format(col='text')} AS fp from documents
    """
    sql["dedup_exact"] = """
    with d as (
      select doc_id, text from documents
      union all
      select doc_id + 1000000, text from documents where doc_id % 25 = 0)
    select md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS min_doc_id
    from d group by 1 having count(*) > 1
    """
    minhash_cols = ", ".join(
        f"list_min([md5('{b}|' || s) for s in sh]) AS sig_{b}" for b in range(4)
    )
    sql["minhash_sig"] = f"""
    with t as (select doc_id, {_TOKS} toks from documents),
    s as (select doc_id, {_SHINGLES} sh from t)
    select doc_id, {minhash_cols} from s
    """
    sql["lsh_buckets"] = f"""
    with t as (select doc_id, {_TOKS} toks from documents),
    s as (select doc_id, {_SHINGLES} sh from t),
    sig as (select doc_id, {minhash_cols} from s)
    select md5(sig_0 || '|' || sig_1 || '|' || sig_2 || '|' || sig_3) AS bucket,
           count(*) AS n_docs, min(doc_id) AS min_doc_id
    from sig group by 1 having count(*) > 1
    """
    sql["ngram_jaccard"] = f"""
    with t as (select doc_id, {_TOKS} toks from documents),
    s as (select doc_id, {_SHINGLES} sh from t),
    inv as (select doc_id, len(sh) n_sh, unnest(sh) AS shingle from s),
    pairs as (
      select a.doc_id AS a, b.doc_id AS b, a.n_sh AS na, b.n_sh AS nb,
             count(*) AS inter
      from inv a join inv b using (shingle)
      where a.doc_id < b.doc_id
      group by 1, 2, 3, 4)
    select a, b, inter,
           round(inter / (na + nb - inter + 0.0), 6) AS jaccard
    from pairs
    where round(inter / (na + nb - inter + 0.0), 6) >= {JACCARD_THR}
    """
    fold_tok = _FOLD.format(col="w")
    bit_cols = " + ".join(
        f"(case when list_sum([case when (h >> {j}) & 1 = 1 then 1 else -1 end "
        f"for h in hs]) > 0 then {1 << j} else 0 end)"
        for j in range(16)
    )
    sql["simhash"] = f"""
    with t as (select doc_id, {_TOKS} toks from documents),
    h as (select doc_id, [{fold_tok} for w in toks] hs from t)
    select doc_id, CAST({bit_cols} AS BIGINT) AS simhash from h
    """
    sql["ann_scores"] = """
    with q as (select embedding::DOUBLE[] qe from embeddings where vec_id = 0)
    select vec_id,
           round(list_dot_product(embedding::DOUBLE[], qe)
                 / (sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qe, qe))), 4) AS cos
    from embeddings, q
    """
    sql["ann_topk"] = f"""
    with q as (select embedding::DOUBLE[] qe from embeddings where vec_id = 0),
    scored as (
      select vec_id,
             round(list_dot_product(embedding::DOUBLE[], qe)
                   / (sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qe, qe))), 4) AS cos
      from embeddings, q),
    ranked as (select vec_id, cos,
                      CAST(row_number() over (order by cos desc, vec_id)
                           AS INTEGER) AS rank
               from scored)
    select vec_id, cos, rank from ranked where rank <= {TOPK}
    """
    planes = hyperplanes(N_PLANES, 64, LSH_SEED)
    plane_lits = ", ".join(
        "[" + ", ".join(repr(x) for x in p) + "]" for p in planes
    )
    bucket_expr = " + ".join(
        f"(case when list_dot_product(embedding::DOUBLE[], planes[{p + 1}]) > 0 "
        f"then {1 << p} else 0 end)"
        for p in range(N_PLANES)
    )
    qbucket_expr = " + ".join(
        f"(case when list_dot_product(qe, planes[{p + 1}]) > 0 "
        f"then {1 << p} else 0 end)"
        for p in range(N_PLANES)
    )
    sql["ann_lsh_topk"] = f"""
    with p as (select [{plane_lits}]::DOUBLE[][] AS planes),
    q as (select embedding::DOUBLE[] qe from embeddings where vec_id = 0),
    cand as (
      select vec_id, embedding::DOUBLE[] v
      from embeddings, p, q
      where {bucket_expr} = {qbucket_expr}),
    scored as (
      select vec_id,
             round(list_dot_product(v, qe)
                   / (sqrt(list_dot_product(v, v))
                      * sqrt(list_dot_product(qe, qe))), 4) AS cos
      from cand, q),
    ranked as (select vec_id, cos,
                      CAST(row_number() over (order by cos desc, vec_id)
                           AS INTEGER) AS rank
               from scored)
    select vec_id, cos, rank from ranked where rank <= {TOPK}
    """
    sql["cos_dup_pairs"] = f"""
    with e as (select vec_id, embedding::DOUBLE[] v,
                      sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[])) n
               from embeddings)
    select a.vec_id AS a, b.vec_id AS b,
           round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) AS cos
    from e a, e b
    where a.vec_id < b.vec_id
      and round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) >= {COS_DUP_THR}
    """
    sql["cos_dup_pairs_lsh"] = f"""
    with p as (select [{plane_lits}]::DOUBLE[][] AS planes),
    e as (select vec_id, embedding::DOUBLE[] v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) n,
                 {bucket_expr} AS bucket
          from embeddings, p)
    select a.vec_id AS a, b.vec_id AS b,
           round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) AS cos
    from e a join e b on a.bucket = b.bucket and a.vec_id < b.vec_id
    where round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) >= {COS_DUP_THR}
    """

    thr_list = ", ".join(str(t) for t in ROC_THRESHOLDS)
    sql["roc_sweep"] = f"""
    with s as (select value from events where value is not null),
    j as (select value, threshold, (value > {HARDMAX_THR}) AS tf
          from s cross join (select unnest([{thr_list}]) AS threshold) th)
    select threshold,
           CAST(sum(case when value > threshold and tf then 1 else 0 end) AS BIGINT) AS tp,
           CAST(sum(case when value > threshold and not tf then 1 else 0 end) AS BIGINT) AS fp,
           CAST(sum(case when value <= threshold and not tf then 1 else 0 end) AS BIGINT) AS tn,
           CAST(sum(case when value <= threshold and tf then 1 else 0 end) AS BIGINT) AS fn,
           round(CAST(sum(case when value > threshold and tf then 1 else 0 end) AS DOUBLE)
                 / nullif(sum(case when tf then 1 else 0 end), 0), 9) AS tpr,
           round(CAST(sum(case when value > threshold and not tf then 1 else 0 end) AS DOUBLE)
                 / nullif(sum(case when not tf then 1 else 0 end), 0), 9) AS fpr
    from j group by threshold order by threshold
    """

    sql["gopher_repetition"] = """
    with t as (select doc_id, text,
                      regexp_split_to_array(text, '\\s+') w,
                      length(text) chars
               from documents),
    base as (select doc_id, text,
        len(w) AS n_words,
        round(CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum')
                   AS DOUBLE) / len(w), 6) AS mean_word_length,
        round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
          AS dup_word_fraction
      from t),
    bg as (select doc_id, chars, w[i] || ' ' || w[i + 1] AS bg
           from t, unnest(generate_series(1, len(w) - 1)) AS g(i)),
    cnts as (select doc_id, chars, bg, count(*) AS cnt
             from bg group by doc_id, chars, bg),
    top as (select doc_id, bg AS top_bigram,
                   round(least(1.0,
                               cnt * length(bg) / CAST(chars AS DOUBLE)), 6)
                     AS top_bigram_char_fraction
            from (select *, row_number() over (
                    partition by doc_id order by cnt desc, bg) AS rn
                  from cnts)
            where rn = 1)
    select base.doc_id, n_words, mean_word_length, dup_word_fraction,
           top_bigram,
           case when base.text is not null
                then coalesce(top_bigram_char_fraction, 0.0) end
             AS top_bigram_char_fraction
    from base left join top on base.doc_id = top.doc_id
    """

    # composite cleaning chain: thresholds mirror q_doc_filter_chain;
    # every gate NULL for NULL text (fail closed), rounding at 6dp on
    # both engines before each comparison
    lang_sub = _lang_id_sql()
    sql["doc_filter_chain"] = f"""
    with t as (select doc_id, text,
                      regexp_split_to_array(text, '\\s+') w,
                      length(text) chars
               from documents),
    base as (select doc_id, text, len(w) AS n_words,
        round(CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum')
                   AS DOUBLE) / len(w), 6) AS mwl,
        round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
          AS dupf
      from t),
    bg as (select doc_id, chars, w[i] || ' ' || w[i + 1] AS bg
           from t, unnest(generate_series(1, len(w) - 1)) AS g(i)),
    cnts as (select doc_id, chars, bg, count(*) AS cnt
             from bg group by doc_id, chars, bg),
    top as (select doc_id,
                   round(least(1.0,
                               cnt * length(bg) / CAST(chars AS DOUBLE)), 6)
                     AS tbf
            from (select *, row_number() over (
                    partition by doc_id order by cnt desc, bg) AS rn
                  from cnts)
            where rn = 1),
    lang as ({lang_sub}),
    flags as (select b.doc_id, b.text, b.n_words,
        case when b.text is null then NULL
             else b.n_words < 20 end AS f_short,
        case when b.text is null then NULL
             else b.n_words > 90 end AS f_long,
        case when b.text is null then NULL
             else coalesce(b.mwl < 4.4 or b.mwl > 10.0, false) end
          AS f_word_len,
        case when b.text is null then NULL
             else coalesce(b.dupf > 0.5, false) end AS f_dup_words,
        case when b.text is null then NULL
             else coalesce(top.tbf > 0.2, false) end AS f_top_bigram,
        case when b.text is null then NULL
             else lang.lang_pred not in ('en') end AS f_lang
      from base b
      left join top on b.doc_id = top.doc_id
      left join lang on b.doc_id = lang.doc_id)
    select doc_id, n_words, f_short, f_long, f_word_len, f_dup_words,
           f_top_bigram, f_lang,
           text is not null
             and not coalesce(f_short, true)
             and not coalesce(f_long, true)
             and not coalesce(f_word_len, true)
             and not coalesce(f_dup_words, true)
             and not coalesce(f_top_bigram, true)
             and not coalesce(f_lang, true) AS kept
    from flags
    """

    # multi-table LSH: second plane set from seed LSH_SEED+1; a pair
    # qualifies if EITHER table buckets it together (UNION dedups)
    planes_t1 = hyperplanes(N_PLANES, 64, LSH_SEED + 1)
    plane_lits_t1 = ", ".join(
        "[" + ", ".join(repr(x) for x in p) + "]" for p in planes_t1
    )
    bucket2_expr = " + ".join(
        f"(case when list_dot_product(embedding::DOUBLE[], planes2[{p + 1}]) > 0 "
        f"then {1 << p} else 0 end)"
        for p in range(N_PLANES)
    )
    sql["cos_dup_pairs_multi"] = f"""
    with p as (select [{plane_lits}]::DOUBLE[][] AS planes,
                      [{plane_lits_t1}]::DOUBLE[][] AS planes2),
    e as (select vec_id, embedding::DOUBLE[] v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) n,
                 {bucket_expr} AS b0,
                 {bucket2_expr} AS b1
          from embeddings, p),
    pr as (
      select a.vec_id AS a, b.vec_id AS b,
             round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) AS cos
      from e a join e b on a.b0 = b.b0 and a.vec_id < b.vec_id
      union
      select a.vec_id AS a, b.vec_id AS b,
             round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) AS cos
      from e a join e b on a.b1 = b.b1 and a.vec_id < b.vec_id
    )
    select a, b, cos from pr where cos >= {COS_DUP_THR}
    """

    # SemDeDup: centroids = the IVF seeding (md5-id order), every vector
    # assigned to its argmax round(cos, 9) centroid (ties to smallest
    # cid), pairwise rounded cosine within a cluster only; ccos is the
    # member's centroid cosine (the keep rule's key).
    _semdedup_cte = f"""
    with cent as (
      select row_number() over (order by md5(CAST(vec_id AS VARCHAR))) - 1
               AS cid,
             embedding::DOUBLE[] AS ce
      from embeddings order by md5(CAST(vec_id AS VARCHAR))
      limit {IVF_NLIST}),
    e as (select vec_id, embedding::DOUBLE[] v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) n
          from embeddings),
    assign as (
      select vec_id, cid, ccos from (
        select e.vec_id, c.cid,
               round(list_dot_product(e.v, c.ce)
                     / (e.n * sqrt(list_dot_product(c.ce, c.ce))), 9)
                 AS ccos,
               row_number() over (
                 partition by e.vec_id
                 order by round(list_dot_product(e.v, c.ce)
                                / (e.n * sqrt(list_dot_product(c.ce, c.ce))),
                                9) desc, c.cid) AS rn
        from e, cent c)
      where rn = 1),
    pe as (select e.vec_id, e.v, e.n, a.cid, a.ccos
           from e join assign a using (vec_id)),
    pairs as (
      select a.vec_id AS a, b.vec_id AS b,
             CAST(a.cid AS INTEGER) AS cid,
             round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) AS cos,
             a.ccos AS a_ccos, b.ccos AS b_ccos
      from pe a join pe b on a.cid = b.cid and a.vec_id < b.vec_id
      where round(list_dot_product(a.v, b.v) / (a.n * b.n), 6)
              >= {COS_DUP_THR})
    """
    sql["semantic_dup_pairs"] = (
        _semdedup_cte
        + "select a, b, cid, cos, a_ccos, b_ccos from pairs"
    )
    sql["semantic_keep"] = (
        _semdedup_cte
        + """,
    losers as (
      select distinct
             case when a_ccos > b_ccos then a
                  when a_ccos < b_ccos then b
                  else greatest(a, b) end AS vec_id
      from pairs)
    select vec_id from embeddings
    where vec_id not in (select vec_id from losers)
    """
    )

    # incremental SemDeDup: centroids seeded from the CORPUS split only
    # (the frozen index a daily ingest probes), assignment over all rows,
    # within-cluster pairs restricted to >= 1 new member — the invariant
    # semantic_incremental_pairs documents (union over batches == full
    # pair set at the same centroids).
    sql["semantic_incremental"] = f"""
    with cent as (
      select row_number() over (order by md5(CAST(vec_id AS VARCHAR))) - 1
               AS cid,
             embedding::DOUBLE[] AS ce
      from embeddings where vec_id % 10 != 0
      order by md5(CAST(vec_id AS VARCHAR))
      limit {IVF_NLIST}),
    e as (select vec_id, embedding::DOUBLE[] v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) n
          from embeddings),
    assign as (
      select vec_id, cid from (
        select e.vec_id, c.cid,
               row_number() over (
                 partition by e.vec_id
                 order by round(list_dot_product(e.v, c.ce)
                                / (e.n * sqrt(list_dot_product(c.ce, c.ce))),
                                9) desc, c.cid) AS rn
        from e, cent c)
      where rn = 1),
    pe as (select e.vec_id, e.v, e.n, a.cid
           from e join assign a using (vec_id))
    select a.vec_id AS a, b.vec_id AS b,
           CAST(a.cid AS INTEGER) AS cid,
           round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) AS cos
    from pe a join pe b on a.cid = b.cid and a.vec_id < b.vec_id
    where round(list_dot_product(a.v, b.v) / (a.n * b.n), 6)
            >= {COS_DUP_THR}
      and (a.vec_id % 10 = 0 or b.vec_id % 10 = 0)
    """

    # k-means training unrolled: two Lloyd passes from the md5-seeded
    # centroids. Each pass = argmax round(cos, 9) assignment (ties to
    # smallest cid — the ivf_assign_struct rule) then per-dim
    # round(avg, 6) means; a cluster with no members carries its
    # previous centroid (n = 0). The rounded means make iteration 2's
    # centroid literals identical on both engines, so the trajectory
    # (and the final (cid, dim, m, n) artifact) is engine-exact.
    sql["kmeans_components"] = f"""
    with cent0 as (
      select row_number() over (order by md5(CAST(vec_id AS VARCHAR))) - 1
               AS cid,
             embedding::DOUBLE[] AS ce
      from embeddings order by md5(CAST(vec_id AS VARCHAR))
      limit {IVF_NLIST}),
    e as (select vec_id, embedding::DOUBLE[] v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) n
          from embeddings),
    a1 as (
      select vec_id, cid from (
        select e.vec_id, c.cid,
               row_number() over (
                 partition by e.vec_id
                 order by round(list_dot_product(e.v, c.ce)
                                / (e.n * sqrt(list_dot_product(c.ce, c.ce))),
                                9) desc, c.cid) AS rn
        from e, cent0 c)
      where rn = 1),
    m1 as (
      select a1.cid, g.i - 1 AS dim, round(avg(e.v[g.i]), 6) AS m
      from e join a1 using (vec_id),
           unnest(generate_series(1, 64)) AS g(i)
      group by a1.cid, g.i),
    cent1 as (
      select c0.cid,
             case when count(m1.m) = 0 then c0.ce
                  else list(m1.m order by m1.dim) end AS ce
      from cent0 c0 left join m1 on m1.cid = c0.cid
      group by c0.cid, c0.ce),
    a2 as (
      select vec_id, cid from (
        select e.vec_id, c.cid,
               row_number() over (
                 partition by e.vec_id
                 order by round(list_dot_product(e.v, c.ce)
                                / (e.n * sqrt(list_dot_product(c.ce, c.ce))),
                                9) desc, c.cid) AS rn
        from e, cent1 c)
      where rn = 1),
    m2 as (
      select a2.cid, g.i - 1 AS dim, round(avg(e.v[g.i]), 6) AS m
      from e join a2 using (vec_id),
           unnest(generate_series(1, 64)) AS g(i)
      group by a2.cid, g.i),
    s2 as (select cid, count(*) AS n from a2 group by cid)
    select CAST(c1.cid AS INTEGER) AS cid,
           CAST(g.i - 1 AS INTEGER) AS dim,
           coalesce(m2.m, c1.ce[g.i]) AS m,
           CAST(coalesce(s2.n, 0) AS BIGINT) AS n
    from cent1 c1
    cross join unnest(generate_series(1, 64)) AS g(i)
    left join m2 on m2.cid = c1.cid and m2.dim = g.i - 1
    left join s2 on s2.cid = c1.cid
    """

    # IVF: centroids = IVF_NLIST rows with smallest md5(vec_id) (cid =
    # rank in that order); every vector assigned to argmax round(cos, 9)
    # centroid, ties to smallest cid; query probes the IVF_NPROBE nearest
    # centroids; exact rounded-cosine top-k within the probed lists —
    # identical arithmetic to similarity.ivf_topk.
    sql["ann_ivf_topk"] = f"""
    with cent as (
      select row_number() over (order by md5(CAST(vec_id AS VARCHAR))) - 1
               AS cid,
             embedding::DOUBLE[] AS ce
      from embeddings order by md5(CAST(vec_id AS VARCHAR))
      limit {IVF_NLIST}),
    q as (select embedding::DOUBLE[] qe from embeddings where vec_id = 0),
    e as (select vec_id, embedding::DOUBLE[] v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) n
          from embeddings),
    probes as (
      select cid from cent, q
      order by round(list_dot_product(ce, qe)
                     / (sqrt(list_dot_product(ce, ce))
                        * sqrt(list_dot_product(qe, qe))), 9) desc, cid
      limit {IVF_NPROBE}),
    assign as (
      select vec_id, cid from (
        select e.vec_id, c.cid,
               row_number() over (
                 partition by e.vec_id
                 order by round(list_dot_product(e.v, c.ce)
                                / (e.n * sqrt(list_dot_product(c.ce, c.ce))),
                                9) desc, c.cid) AS rn
        from e, cent c)
      where rn = 1),
    scored as (
      select e.vec_id,
             round(list_dot_product(e.v, qe)
                   / (e.n * sqrt(list_dot_product(qe, qe))), 4) AS cos
      from e join assign a using (vec_id), q
      where a.cid in (select cid from probes)),
    ranked as (select vec_id, cos,
                      CAST(row_number() over (order by cos desc, vec_id)
                           AS INTEGER) AS rank
               from scored)
    select vec_id, cos, rank from ranked where rank <= {TOPK}
    """

    # PQ: md5-order seed rows -> per-subspace codebooks (PQ_M subspaces
    # of dim/PQ_M each); encode = squared-L2 argmin per subspace (round 9,
    # ties to smallest code) — identical arithmetic to
    # similarity.pq_code_col; DuckDB 1-based slices: subspace s covers
    # v[s*d+1 .. (s+1)*d]
    _PQ_D = 64 // PQ_M
    _PQ_CODE_CTES = f"""
    cent as (
      select row_number() over (order by md5(CAST(vec_id AS VARCHAR))) - 1
               AS cid,
             embedding::DOUBLE[] AS ce
      from embeddings order by md5(CAST(vec_id AS VARCHAR))
      limit {PQ_KSUB}),
    e as (select vec_id, embedding::DOUBLE[] v from embeddings),
    dists as (
      select e.vec_id, s.i AS sub, c.cid,
             round(list_sum(list_transform(generate_series(1, {_PQ_D}),
                   j -> (v[s.i * {_PQ_D} + j] - ce[s.i * {_PQ_D} + j])
                        * (v[s.i * {_PQ_D} + j] - ce[s.i * {_PQ_D} + j]))),
                   9) AS dist
      from e, unnest(generate_series(0, {PQ_M - 1})) s(i), cent c),
    code as (
      select vec_id, sub, cid from (
        select vec_id, sub, cid,
               row_number() over (partition by vec_id, sub
                                  order by dist, cid) AS rn
        from dists)
      where rn = 1)
    """
    sql["pq_codes"] = f"""
    with {_PQ_CODE_CTES}
    select vec_id, CAST(sub AS INT) AS sub, CAST(cid AS INT) AS code
    from code
    """
    sql["pq_adc_topk"] = f"""
    with {_PQ_CODE_CTES},
    q as (select embedding::DOUBLE[] qe from embeddings where vec_id = 0),
    lut as (
      select c.cid, s.i AS sub,
             round(list_sum(list_transform(generate_series(1, {_PQ_D}),
                   j -> qe[s.i * {_PQ_D} + j] * ce[s.i * {_PQ_D} + j])),
                   9) AS v
      from cent c, unnest(generate_series(0, {PQ_M - 1})) s(i), q)
    select code.vec_id, round(sum(lut.v), 6) AS adc_dot
    from code join lut on code.sub = lut.sub and code.cid = lut.cid
    group by code.vec_id
    order by adc_dot desc, vec_id
    limit {TOPK}
    """

    # IVF-PQ composition: the PQ code/LUT CTEs verbatim + the IVF
    # routing CTEs under i-prefixed names (both reuse the md5 seed
    # order with their own limits)
    sql["ann_ivfpq_topk"] = f"""
    with {_PQ_CODE_CTES},
    q as (select embedding::DOUBLE[] qe from embeddings where vec_id = 0),
    icent as (
      select row_number() over (order by md5(CAST(vec_id AS VARCHAR))) - 1
               AS cid,
             embedding::DOUBLE[] AS ce
      from embeddings order by md5(CAST(vec_id AS VARCHAR))
      limit {IVF_NLIST}),
    ie as (select vec_id, embedding::DOUBLE[] v,
                  sqrt(list_dot_product(embedding::DOUBLE[],
                                        embedding::DOUBLE[])) n
           from embeddings),
    probes as (
      select cid from icent, q
      order by round(list_dot_product(ce, qe)
                     / (sqrt(list_dot_product(ce, ce))
                        * sqrt(list_dot_product(qe, qe))), 9) desc, cid
      limit {IVF_NPROBE}),
    assign as (
      select vec_id, cid from (
        select ie.vec_id, c.cid,
               row_number() over (
                 partition by ie.vec_id
                 order by round(list_dot_product(ie.v, c.ce)
                                / (ie.n
                                   * sqrt(list_dot_product(c.ce, c.ce))),
                                9) desc, c.cid) AS rn
        from ie, icent c)
      where rn = 1),
    lut as (
      select c.cid, s.i AS sub,
             round(list_sum(list_transform(generate_series(1, {_PQ_D}),
                   j -> qe[s.i * {_PQ_D} + j] * ce[s.i * {_PQ_D} + j])),
                   9) AS v
      from cent c, unnest(generate_series(0, {PQ_M - 1})) s(i), q)
    select code.vec_id, round(sum(lut.v), 6) AS adc_dot
    from code
    join lut on code.sub = lut.sub and code.cid = lut.cid
    join assign a on a.vec_id = code.vec_id
    where a.cid in (select cid from probes)
    group by code.vec_id
    order by adc_dot desc, code.vec_id
    limit {TOPK}
    """

    sql["knn_join"] = """
    with q as (select vec_id AS qid, embedding::DOUBLE[] AS qv
               from embeddings where vec_id % 50 = 0),
    c as (select vec_id AS nn_id, embedding::DOUBLE[] AS v
          from embeddings where vec_id % 50 != 0),
    scored as (
      select q.qid, c.nn_id,
             round(list_dot_product(v, qv)
                   / (sqrt(list_dot_product(v, v))
                      * sqrt(list_dot_product(qv, qv))), 4) AS cos
      from c, q),
    ranked as (select qid, nn_id, cos,
                      CAST(row_number() over (
                        partition by qid order by cos desc, nn_id)
                           AS INTEGER) AS rank
               from scored)
    select qid, nn_id, cos, rank from ranked where rank <= 5
    """

    # IVF batch KNN: centroids seeded from the CORPUS (md5 id order),
    # per-query probes = top-nprobe centroid cosines (9dp, ties cid asc),
    # assignment = per-corpus-row argmax (same tiebreak), exact re-rank
    # within probed lists — mirrors similarity.py:ivf_knn_join verbatim
    sql["knn_join_ivf"] = f"""
    with cent as (
      select row_number() over (order by md5(CAST(vec_id AS VARCHAR))) - 1
               AS cid,
             embedding::DOUBLE[] AS ce
      from embeddings where vec_id % 50 != 0
      order by md5(CAST(vec_id AS VARCHAR))
      limit {IVF_NLIST}),
    q as (select vec_id AS qid, embedding::DOUBLE[] AS qv
          from embeddings where vec_id % 50 = 0),
    e as (select vec_id AS nn_id, embedding::DOUBLE[] AS v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) AS n
          from embeddings where vec_id % 50 != 0),
    probes as (
      select qid, cid from (
        select q.qid, c.cid,
               row_number() over (
                 partition by q.qid
                 order by round(list_dot_product(c.ce, qv)
                                / (sqrt(list_dot_product(c.ce, c.ce))
                                   * sqrt(list_dot_product(qv, qv))), 9)
                          desc, c.cid) AS rn
        from q, cent c)
      where rn <= {IVF_NPROBE}),
    assign as (
      select nn_id, cid from (
        select e.nn_id, c.cid,
               row_number() over (
                 partition by e.nn_id
                 order by round(list_dot_product(e.v, c.ce)
                                / (e.n * sqrt(list_dot_product(c.ce, c.ce))),
                                9) desc, c.cid) AS rn
        from e, cent c)
      where rn = 1),
    scored as (
      select q.qid, e.nn_id,
             round(list_dot_product(e.v, qv)
                   / (e.n * sqrt(list_dot_product(qv, qv))), 4) AS cos
      from e
      join assign a using (nn_id)
      join probes p on a.cid = p.cid
      join q on q.qid = p.qid),
    ranked as (select qid, nn_id, cos,
                      CAST(row_number() over (
                        partition by qid order by cos desc, nn_id)
                           AS INTEGER) AS rank
               from scored)
    select qid, nn_id, cos, rank from ranked where rank <= 5
    """

    # centroid cosines: avg per (label, dim) then list_dot_product on
    # ordered re-assembled centroid lists
    sql["label_sim"] = """
    with pe as (select label AS lbl, t.i - 1 AS pos,
                       (embedding::DOUBLE[])[t.i] AS m
                from embeddings,
                     unnest(generate_series(1, len(embedding)))
                       AS t(i)),
    cent as (select lbl, pos, avg(m) AS m from pe group by 1, 2),
    arr as (select lbl, list(m ORDER BY pos) AS c from cent group by lbl),
    n as (select label AS lbl, count(*) AS n from embeddings group by 1),
    side as (select arr.lbl, arr.c, n.n from arr join n using (lbl))
    select a.lbl AS label_a, b.lbl AS label_b,
           cast(a.n AS bigint) AS n_a, cast(b.n AS bigint) AS n_b,
           round(list_dot_product(a.c, b.c)
                 / (sqrt(list_dot_product(a.c, a.c))
                    * sqrt(list_dot_product(b.c, b.c))), 6) AS cos
    from side a join side b on a.lbl < b.lbl
    """
    # recall audit = pure composition of the two path oracles: per
    # brute-side query, |approx ∩ brute| / k with missed queries kept
    sql["ann_recall"] = f"""
    with b as (select qid, nn_id from ({sql["knn_join"]}) x),
    a as (select qid, nn_id from ({sql["knn_join_ivf"]}) y),
    hits as (select b.qid, count(*) AS hits
             from b join a on b.qid = a.qid and b.nn_id = a.nn_id
             group by b.qid),
    base as (select distinct qid from b)
    select base.qid,
           cast(coalesce(hits.hits, 0) AS bigint) AS hits,
           round(cast(coalesce(hits.hits, 0) AS double) / 5.0, 6)
             AS recall
    from base left join hits using (qid)
    """

    # 64-bit SimHash: bit j of a token = bit (3 - j%4) of hex digit j//4 of
    # md5(token); fingerprint bit = majority vote — identical arithmetic to
    # dedup.with_simhash64
    _ND_DOCS = (
        "nd as (select doc_id, text from documents union all "
        "select doc_id + 1000000, text || ' qq zz' from documents "
        "where doc_id % 25 = 0)"
    )

    def _sh64_votes() -> str:
        votes = []
        for j in range(64):
            nib = (f"(strpos('0123456789abcdef', substr(h, {j // 4 + 1}, 1))"
                   " - 1)")
            bit = f"(({nib} // {1 << (3 - j % 4)}) % 2)"
            votes.append(
                f"sum(case when {bit} = 1 then 1 else -1 end) AS v{j}"
            )
        return ", ".join(votes)

    _sh64_lo = " + ".join(
        f"(case when v{j} > 0 then {1 << j} else 0 end)" for j in range(32)
    )
    _sh64_hi = " + ".join(
        f"(case when v{j + 32} > 0 then {1 << j} else 0 end)"
        for j in range(32)
    )
    _SH64_FP = f"""
    tok as (select doc_id, unnest({_TOKS}) AS t from {{src}}),
    hx as (select doc_id, md5(t) AS h from tok),
    vt as (select doc_id, {_sh64_votes()} from hx group by doc_id),
    fp as (select doc_id, CAST({_sh64_lo} AS BIGINT) AS fp_lo,
                  CAST({_sh64_hi} AS BIGINT) AS fp_hi from vt)
    """
    sql["simhash64"] = f"""
    with {_SH64_FP.format(src="documents")}
    select doc_id, fp_lo, fp_hi from fp
    """
    # oracle = brute-force all-pairs Hamming: the 4x16 banding is
    # pigeonhole-EXACT for hamming <= 3, so the bucketed join must return
    # the identical pair set
    sql["simhash64_dups"] = f"""
    with {_ND_DOCS},
    {_SH64_FP.format(src="nd")}
    select a.doc_id AS a, b.doc_id AS b,
           CAST(bit_count(xor(a.fp_lo, b.fp_lo))
                + bit_count(xor(a.fp_hi, b.fp_hi)) AS INTEGER) AS hamming
    from fp a, fp b
    where a.doc_id < b.doc_id
      and bit_count(xor(a.fp_lo, b.fp_lo))
          + bit_count(xor(a.fp_hi, b.fp_hi)) <= 3
    """
    # incremental path's defining equivalence: full pair set restricted to
    # pairs touching the new batch (doc_id % 10 = 0)
    sql["dedup_incremental"] = f"""
    with {_ND_DOCS},
    {_SH64_FP.format(src="nd")}
    select a.doc_id AS a, b.doc_id AS b,
           CAST(bit_count(xor(a.fp_lo, b.fp_lo))
                + bit_count(xor(a.fp_hi, b.fp_hi)) AS INTEGER) AS hamming
    from fp a, fp b
    where a.doc_id < b.doc_id
      and (a.doc_id % 10 = 0 or b.doc_id % 10 = 0)
      and bit_count(xor(a.fp_lo, b.fp_lo))
          + bit_count(xor(a.fp_hi, b.fp_hi)) <= 3
    """
    sql["sessionize"] = """
    with e as (select user_id, ts, value,
                      case when epoch(ts) - epoch(lag(ts) over
                             (partition by user_id order by ts)) > 1800
                           then 1 else 0 end AS ns
               from events),
    s as (select user_id, ts, value,
                 sum(ns) over (partition by user_id order by ts
                               rows unbounded preceding) AS sid
          from e)
    select user_id AS user,
           min(ts) AS session_start,
           max(ts) AS session_end_ts,
           count(*) AS n_events,
           round(sum(value), 6) AS sum_value
    from s group by user_id, sid
    """
    sql["sliding_rollup"] = """
    with src as (select event_type AS source, ts, value AS n_tok
                 from events),
    pb as (select distinct source,
                  make_timestamp(CAST(floor(epoch(ts) / 600) * 600
                                      AS BIGINT) * 1000000) AS p
           from src),
    w as (select distinct source,
                 p - (k * INTERVAL '10 minutes') AS window_start
          from pb, unnest(generate_series(0, 5)) AS g(k)),
    agg as (select w.source, w.window_start,
                   count(e.n_tok) AS n_points,
                   round(sum(e.n_tok), 6) AS sum_tok,
                   min(e.n_tok) AS min_tok,
                   max(e.n_tok) AS max_tok
            from w join src e
              on e.source = w.source
             and e.ts >= w.window_start
             and e.ts < w.window_start + INTERVAL '60 minutes'
            group by 1, 2)
    select * from agg
    """
    sql["tpch_pricing"] = """
    select l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)
             AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
             AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    from lineitem
    where l_shipdate <= TIMESTAMP '1998-09-02'
    group by l_returnflag, l_linestatus
    """
    sql["tpch_top_orders"] = """
    select l.l_orderkey, o.o_orderdate, o.o_orderpriority,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    from lineitem l
    join orders o on l.l_orderkey = o.o_orderkey
    join customer c on o.o_custkey = c.c_custkey
    where c.c_mktsegment = 'BUILDING'
      and o.o_orderdate < TIMESTAMP '1997-03-15'
      and l.l_shipdate > TIMESTAMP '1997-03-15'
    group by l.l_orderkey, o.o_orderdate, o.o_orderpriority
    order by revenue desc, o.o_orderdate, l.l_orderkey
    limit 10
    """
    sql["tpch_returned_revenue"] = """
    select c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
             AS revenue
    from lineitem l
    join orders o on l.l_orderkey = o.o_orderkey
    join customer c on o.o_custkey = c.c_custkey
    join nation n on c.c_nationkey = n.n_nationkey
    where l.l_returnflag = 'R'
      and o.o_orderdate >= '1996-10-01' and o.o_orderdate < '1997-01-01'
    group by 1, 2, 3
    order by revenue desc, c.c_custkey
    limit 20
    """
    sql["tpch_promo_share"] = """
    select round(100.0 * sum(case when p.p_type = 'PROMO'
                                  then l.l_extendedprice
                                       * (1 - l.l_discount)
                                  else 0.0 end)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 6)
             AS promo_share
    from lineitem l join part p on l.l_partkey = p.p_partkey
    where l.l_shipdate >= '1996-09-01' and l.l_shipdate < '1996-10-01'
    """
    sql["tpch_regional_revenue"] = """
    select n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    from lineitem l
    join orders o on l.l_orderkey = o.o_orderkey
    join supplier s on l.l_suppkey = s.s_suppkey
    join customer c on o.o_custkey = c.c_custkey
                   and c.c_nationkey = s.s_nationkey
    join nation n on s.s_nationkey = n.n_nationkey
    join region r on n.n_regionkey = r.r_regionkey
    where r.r_name = 'ASIA'
      and o.o_orderdate >= TIMESTAMP '1996-01-01'
      and o.o_orderdate < TIMESTAMP '1997-01-01'
    group by n.n_name
    """
    sql["tpch_late_orders"] = """
    select o_orderpriority, count(*) AS order_count
    from orders o
    where o.o_orderdate >= timestamp '1996-01-01'
      and o.o_orderdate <  timestamp '1996-07-01'
      and exists (select 1 from lineitem l
                  where l.l_orderkey = o.o_orderkey
                    and l.l_shipdate > o.o_orderdate + interval 30 day)
    group by 1
    """
    sql["tpch_priority_lines"] = """
    select month(l_shipdate) AS ship_month,
           sum(case when o_orderpriority in ('1-URGENT', '2-HIGH')
                    then 1 else 0 end) AS high_count,
           sum(case when o_orderpriority in ('1-URGENT', '2-HIGH')
                    then 0 else 1 end) AS low_count
    from lineitem join orders on l_orderkey = o_orderkey
    where l_shipdate >= timestamp '1997-01-01'
      and l_shipdate <  timestamp '1998-01-01'
    group by 1
    """
    sql["tpch_forecast_revenue"] = """
    select round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_rows
    from lineitem
    where l_shipdate >= TIMESTAMP '1994-01-01'
      and l_shipdate < TIMESTAMP '1995-01-01'
      and l_discount between 0.05 and 0.07
      and l_quantity < 24
    """
    sql["tpch_cust_dist"] = """
    select c_count, count(*) AS custdist
    from (select c.c_custkey, count(o.o_custkey) AS c_count
          from customer c
          left join orders o on c.c_custkey = o.o_custkey
                            and o.o_orderstatus <> 'P'
          group by 1)
    group by 1
    """
    # Q17: per-part avg is exact (integer-valued quantities -> exact
    # sum / count, correctly rounded identically in any engine), so
    # the 0.2*avg fence is the same IEEE double both sides
    sql["tpch_small_qty_revenue"] = """
    select round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    from (select l.l_extendedprice, l.l_quantity,
                 avg(l.l_quantity) over (partition by l.l_partkey) AS aq
          from lineitem l join part p on l.l_partkey = p.p_partkey
          where p.p_brand = 'Brand#23')
    where l_quantity < 0.2 * aq
    """
    sql["tpch_big_orders"] = """
    select c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, t.sum_qty
    from orders o
    join customer c on o.o_custkey = c.c_custkey
    join (select l_orderkey, sum(l_quantity) AS sum_qty
          from lineitem group by 1
          having sum(l_quantity) > 300) t
      on o.o_orderkey = t.l_orderkey
    order by o.o_totalprice desc, o.o_orderdate, o.o_orderkey
    limit 100
    """
    sql["tpch_disjunct_revenue"] = """
    select round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
             AS revenue
    from lineitem l join part p on l.l_partkey = p.p_partkey
    where (p.p_brand = 'Brand#12' and p.p_size between 1 and 5
           and l.l_quantity between 1 and 11)
       or (p.p_brand = 'Brand#23' and p.p_size between 1 and 10
           and l.l_quantity between 10 and 20)
       or (p.p_brand = 'Brand#34' and p.p_size between 1 and 15
           and l.l_quantity between 20 and 30)
    """
    # Q22: the above-average membership test clears the denominator
    # (cents * n > sum_cents on exact integers) so a float-avg last
    # ulp can never flip a customer in or out cross-engine
    sql["tpch_waiting_supplier"] = """
    with lo as (
      select l_orderkey, l_suppkey,
             l_shipdate > o_orderdate + interval 75 day AS late
      from lineitem join orders on l_orderkey = o_orderkey
      where o_orderstatus = 'F'),
    sole as (
      select l1.l_orderkey, l1.l_suppkey
      from lo l1
      where l1.late
        and exists (select 1 from lo l2
                    where l2.l_orderkey = l1.l_orderkey
                      and l2.l_suppkey <> l1.l_suppkey)
        and not exists (select 1 from lo l3
                        where l3.l_orderkey = l1.l_orderkey
                          and l3.l_suppkey <> l1.l_suppkey
                          and l3.late))
    select s_name, count(*) AS numwait
    from sole
    join supplier on l_suppkey = s_suppkey
    join nation on s_nationkey = n_nationkey
    where n_name = 'NATION_7'
    group by s_name
    order by numwait desc, s_name
    limit 100
    """
    sql["tpch_quiet_customers"] = """
    with t as (select cast(sum(cast(round(c_acctbal * 100) AS bigint))
                           AS hugeint) AS s,
                      cast(count(*) AS hugeint) AS n
               from customer where c_acctbal > 0.0)
    select c.c_mktsegment, count(*) AS numcust,
           round(sum(c.c_acctbal), 2) AS totacctbal
    from customer c, t
    where cast(round(c.c_acctbal * 100) AS hugeint) * t.n > t.s
      and not exists (select 1 from orders o
                      where o.o_custkey = c.c_custkey
                        and o.o_orderpriority = '1-URGENT')
    group by 1
    """
    sql["tpch_nation_volume"] = """
    select sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
             AS revenue
    from lineitem l
    join orders o on l.l_orderkey = o.o_orderkey
    join supplier s on l.l_suppkey = s.s_suppkey
    join nation sn on s.s_nationkey = sn.n_nationkey
    join customer c on o.o_custkey = c.c_custkey
    join nation cn on c.c_nationkey = cn.n_nationkey
    where l.l_shipdate >= TIMESTAMP '1996-01-01'
      and l.l_shipdate < TIMESTAMP '1998-01-01'
      and ((sn.n_name = 'NATION_1' and cn.n_name = 'NATION_2')
           or (sn.n_name = 'NATION_2' and cn.n_name = 'NATION_1'))
    group by 1, 2, 3
    """
    sql["tpch_market_share"] = """
    select year(o.o_orderdate) AS o_year,
           round(sum(case when sn.n_name = 'NATION_3'
                          then l.l_extendedprice * (1 - l.l_discount)
                          else 0.0 end)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 6)
             AS mkt_share
    from lineitem l
    join part p on l.l_partkey = p.p_partkey
    join orders o on l.l_orderkey = o.o_orderkey
    join customer c on o.o_custkey = c.c_custkey
    join nation cn on c.c_nationkey = cn.n_nationkey
    join region r on cn.n_regionkey = r.r_regionkey
    join supplier s on l.l_suppkey = s.s_suppkey
    join nation sn on s.s_nationkey = sn.n_nationkey
    where r.r_name = 'AMERICA' and p.p_type = 'ECONOMY'
      and o.o_orderdate >= TIMESTAMP '1996-01-01'
      and o.o_orderdate < TIMESTAMP '1998-01-01'
    group by 1
    """
    # Q15: exact-cents per-supplier totals make the == MAX tie test
    # float-association-proof; one descale division for the report
    sql["tpch_top_supplier"] = """
    with rev as (
      select l_suppkey,
             sum(cast(round(l_extendedprice * (1 - l_discount) * 100)
                      AS bigint)) AS rc
      from lineitem
      where l_shipdate >= TIMESTAMP '1996-01-01'
        and l_shipdate < TIMESTAMP '1996-04-01'
      group by 1)
    select s.s_suppkey, s.s_name,
           cast(rc AS double) / 100.0 AS total_revenue
    from rev join supplier s on rev.l_suppkey = s.s_suppkey
    where rc = (select max(rc) from rev)
    """
    # tier routing is answer-invariant in the serving tier (cascade
    # composition identity), so the stitched multi-tier read oracles
    # against the plain direct-from-raw hourly rollup
    sql["tier_routed"] = _rollup_sql("hour")
    sql["json_props"] = """
    select event_type,
           count(k) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k,
           round(avg(k), 6) AS avg_k
    from (select event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          from events)
    group by event_type
    """
    sql["dup_clusters"] = f"""
    with recursive {_ND_DOCS},
    {_SH64_FP.format(src="nd")},
    p as (select a.doc_id AS a, b.doc_id AS b
          from fp a, fp b
          where a.doc_id < b.doc_id
            and bit_count(xor(a.fp_lo, b.fp_lo))
                + bit_count(xor(a.fp_hi, b.fp_hi)) <= 3),
    e as (select a AS u, b AS v from p union select b, a from p),
    r(src, dst) as (
      select u, v from e
      union
      select r.src, e.v from r join e on r.dst = e.u
    )
    select nd.doc_id,
           least(nd.doc_id, coalesce(min(r.dst), nd.doc_id)) AS cluster
    from nd left join r on nd.doc_id = r.src
    group by nd.doc_id
    """
    # UniMax waterfilling: exact-integer crossover test, one division
    sql["unimax_budget"] = """
    with sz as (select source,
                       cast(sum(n_chars) AS hugeint) AS n_tok
                from documents group by source),
    rk as (select source, n_tok, 3 * n_tok AS cap,
                  row_number() over (order by 3 * n_tok asc,
                                     source asc) AS i,
                  count(*) over () AS k,
                  coalesce(sum(3 * n_tok) over (
                      order by 3 * n_tok asc, source asc
                      rows between unbounded preceding
                               and 1 preceding), 0) AS cum_before
           from sz),
    cp as (select *,
                  cast(cap * (k - i + 1) + cum_before <= 200000
                       AS int) AS capped
           from rk),
    lvl as (select sum(capped) AS m, max(k) AS k,
                   coalesce(sum(case when capped = 1 then cap end),
                            0) AS cum_m
            from cp),
    lv2 as (select m, k, cum_m,
                   case when k > m then
                     cast(200000 - cum_m AS double)
                     / cast(k - m AS double)
                   end AS t
            from lvl),
    fin as (select c.source, c.n_tok, c.cap, c.capped,
                   case when c.capped = 1
                        then cast(c.cap AS double)
                        else round(l.t, 6) end AS alloc,
                   l.m, l.k, l.cum_m
            from cp c, lv2 l)
    select source, cast(n_tok AS bigint) AS n_tok,
           cast(cap AS bigint) AS cap, capped, alloc,
           round(alloc / cast(n_tok AS double), 6) AS epochs,
           case when m = k
                then cast(200000 - cum_m AS bigint)
                else 0 end AS shortfall
    from fin
    """
    # cluster cohesion: the dup_clusters recursive closure + exact
    # member-vs-root Hamming off the same fp CTE
    sql["cluster_cohesion"] = f"""
    with recursive {_ND_DOCS},
    {_SH64_FP.format(src="nd")},
    p as (select a.doc_id AS a, b.doc_id AS b
          from fp a, fp b
          where a.doc_id < b.doc_id
            and bit_count(xor(a.fp_lo, b.fp_lo))
                + bit_count(xor(a.fp_hi, b.fp_hi)) <= 3),
    e as (select a AS u, b AS v from p union select b, a from p),
    r(src, dst) as (
      select u, v from e
      union
      select r.src, e.v from r join e on r.dst = e.u
    ),
    cl as (select nd.doc_id,
                  least(nd.doc_id, coalesce(min(r.dst), nd.doc_id))
                    AS cluster
           from nd left join r on nd.doc_id = r.src
           group by nd.doc_id),
    m as (select c.cluster,
                 bit_count(xor(mf.fp_lo, rf.fp_lo))
                   + bit_count(xor(mf.fp_hi, rf.fp_hi)) AS ham
          from cl c
          join fp mf on c.doc_id = mf.doc_id
          join fp rf on c.cluster = rf.doc_id
          where c.doc_id <> c.cluster)
    select cluster, cast(count(*) + 1 AS bigint) AS n_members,
           round(cast(sum(ham) AS double)
                 / cast(count(*) AS double), 9) AS mean_ham,
           cast(max(ham) AS int) AS max_ham,
           cast(max(ham) > 3 AS int) AS loose
    from m group by cluster
    """
    # line-level boilerplate dedup: df census over newline lines,
    # anti join, positional string_agg reassembly
    sql["strip_boilerplate"] = """
    with d0 as (select doc_id,
                       case when doc_id % 3 = 0
                            then text || chr(10)
                                 || 'subscribe to our newsletter'
                            else text end AS t0
                from documents),
    base as (select doc_id,
                    case when doc_id % 5 = 0
                         then 'breaking news update' || chr(10) || t0
                         else t0 end AS text
             from d0),
    lines as (select doc_id, r.i AS pos, sp[r.i] AS line
              from (select doc_id, string_split(text, chr(10)) AS sp
                    from base where text is not null) s,
                   unnest(range(1, len(sp) + 1)) AS r(i)),
    hot as (select line from lines group by line
            having count(distinct doc_id) >= 5),
    kept as (select l.doc_id, l.pos, l.line
             from lines l anti join hot h using (line)),
    reb as (select doc_id,
                   string_agg(line, chr(10) order by pos) AS clean,
                   count(*) AS n_kept
            from kept group by doc_id),
    st as (select doc_id, count(*) AS n_lines from lines group by doc_id)
    select b.doc_id,
           case when b.text is null then null
                else coalesce(reb.clean, '') end AS clean_text,
           cast(coalesce(st.n_lines, 0) AS bigint) AS n_lines,
           cast(coalesce(reb.n_kept, 0) AS bigint) AS n_kept
    from base b
    left join st using (doc_id)
    left join reb using (doc_id)
    """
    minhash8_cols = ", ".join(
        f"list_min([md5('{b}|' || s) for s in sh]) AS sig_{b}"
        for b in range(8)
    )
    _band_rows = " union all ".join(
        f"select doc_id, {i} AS band, "
        f"md5(sig_{2 * i} || '|' || sig_{2 * i + 1}) AS key from sig"
        for i in range(4)
    )
    # blocking -> exact Levenshtein verify: same (lang, len//64) block
    # key, same 128-char prefix window, same rounded normalized sim
    sql["lev_verify"] = """
    with ndl as (select doc_id, text, lang from documents
                 union all
                 select doc_id + 1000000, text || ' qq zz', lang
                 from documents where doc_id % 25 = 0),
    s as (select doc_id, lang, substr(text, 1, 128) AS t,
                 length(text) // 64 AS blk
          from ndl),
    p as (select a.doc_id AS id_a, b.doc_id AS id_b, a.t AS ta, b.t AS tb
          from s a join s b on a.lang = b.lang and a.blk = b.blk
                            and a.doc_id < b.doc_id),
    v as (select id_a, id_b, levenshtein(ta, tb) AS lev,
                 greatest(length(ta), length(tb)) AS mx
          from p)
    select id_a, id_b, lev,
           round(case when mx > 0 then 1.0 - lev / mx else 1.0 end, 6)
             AS sim
    from v
    where round(case when mx > 0 then 1.0 - lev / mx else 1.0 end, 6)
          >= 0.8
    """
    sql["lsh_banded"] = f"""
    with {_ND_DOCS},
    t as (select doc_id, {_TOKS} toks from nd),
    s as (select doc_id, {_SHINGLES} sh from t),
    sig as (select doc_id, {minhash8_cols} from s),
    bands as ({_band_rows})
    select distinct a.doc_id AS a, b.doc_id AS b
    from bands a join bands b on a.band = b.band and a.key = b.key
    where a.doc_id < b.doc_id
    """
    # the incremental MinHash path must emit EXACTLY the full banded pair
    # set restricted to pairs with >= 1 new-batch member
    sql["minhash_incremental"] = f"""
    with {_ND_DOCS},
    t as (select doc_id, {_TOKS} toks from nd),
    s as (select doc_id, {_SHINGLES} sh from t),
    sig as (select doc_id, {minhash8_cols} from s),
    bands as ({_band_rows})
    select distinct a.doc_id AS a, b.doc_id AS b
    from bands a join bands b on a.band = b.band and a.key = b.key
    where a.doc_id < b.doc_id
      and (a.doc_id % 10 = 0 or b.doc_id % 10 = 0)
    """
    # token-sequence dedup family: the same derivation both engines run
    # (token id = fold_hash(word) % TOKEN_VOCAB — see _seqs_from)
    _TOKSEQ = (f"[{_FOLD.format(col='t')} % {TOKEN_VOCAB} "
               f"for t in {_TOKS}]")
    _TOK_SHINGLES = (
        "list_distinct([array_to_string(tk[i:i+2], ' ') "
        "for i in range(1, greatest(len(tk) - 2, 1) + 1)])"
    )
    sql["lm_score"] = f"""
    with t0 as (select doc_id, {_TOKSEQ} tk from documents),
    t as (select doc_id, tk from t0 where len(tk) >= 2),
    occ as (
      select doc_id, CAST(tk[i] AS VARCHAR) AS prefix,
             CAST(tk[i] AS VARCHAR) || ',' || CAST(tk[i+1] AS VARCHAR)
               AS gram
      from t, unnest(range(1, len(tk))) r(i)),
    bg as (select prefix, gram, count(*) AS cnt from occ group by 1, 2),
    pc as (select prefix, sum(cnt) AS c_prefix from bg group by 1),
    v as (select count(distinct u) AS v
          from (select unnest(tk) AS u from t)),
    s as (
      select occ.doc_id,
             ln((bg.cnt + 0.5) / (pc.c_prefix + 0.5 * v.v)) AS lp
      from occ join bg using (prefix, gram) join pc using (prefix)
      cross join v)
    select doc_id, count(*) AS n_grams, avg(lp) AS avg_logp
    from s group by 1
    """
    sql["bpe_pairs"] = f"""
    with t as (select doc_id, {_TOKSEQ} tk from documents),
    occ as (select CAST(tk[i] AS INT) AS p, CAST(tk[i+1] AS INT) AS w
            from t, unnest(range(1, len(tk))) r(i))
    select p, w, count(*) AS cnt from occ group by 1, 2
    having count(*) > 1
    """
    # greedy fold == sequential left-to-right replace on a
    # double-delimiter encoding: token list -> ',t1,,t2,,t3,'; the
    # pattern ',a,,b,' -> ',c,' consumes exactly the shared boundary
    # commas, so scanning continues at the next token's own leading
    # comma and within-pass re-matching is impossible (new ids never
    # equal a merge's left side)
    _bpe_rep = "',' || array_to_string(tk, ',,') || ','"
    for _a, _b, _c in BPE_MERGES:
        _bpe_rep = f"replace({_bpe_rep}, ',{_a},,{_b},', ',{_c},')"
    sql["bpe_apply"] = f"""
    with t0 as (select doc_id, {_TOKSEQ} tk from documents),
    t as (select doc_id, tk from t0 where len(tk) >= 1),
    m as (select doc_id,
                 replace(trim({_bpe_rep}, ','), ',,', ',') AS sm
          from t)
    select doc_id,
           CAST(len(string_split(sm, ',')) AS INT) AS n_tok_new,
           md5(sm) AS tok_hash
    from m
    """
    sql["token_dedup_exact"] = f"""
    with d as (select doc_id, text from documents union all
               select doc_id + 1000000, text from documents
               where doc_id % 25 = 0),
    t as (select doc_id, {_TOKSEQ} tk from d)
    select md5(array_to_string(tk, ',')) AS tok_hash,
           count(*) AS n_docs, min(doc_id) AS min_doc_id
    from t where tk is not null group by 1 having count(*) > 1
    """
    sql["token_minhash_sig"] = f"""
    with t as (select doc_id, {_TOKSEQ} tk from documents),
    s as (select doc_id, {_TOK_SHINGLES} sh from t)
    select doc_id, {minhash_cols} from s
    """
    sql["token_lsh_pairs"] = f"""
    with {_ND_DOCS},
    t as (select doc_id, {_TOKSEQ} tk from nd),
    s as (select doc_id, {_TOK_SHINGLES} sh from t),
    sig as (select doc_id, {minhash8_cols} from s),
    bands as ({_band_rows})
    select distinct a.doc_id AS a, b.doc_id AS b
    from bands a join bands b on a.band = b.band and a.key = b.key
    where a.doc_id < b.doc_id
    """
    # exact-substring dedup: 8-token windows (DuckDB inclusive 1-based
    # slices: tk[i:i+7] is 8 elements; pos = i - 1 matches the engine's
    # 0-based offsets), duplicated-gram hits, lag/cumsum interval merge
    _SPAN_CTES = f"""
    t as (select doc_id, {_TOKSEQ} tk from nd),
    q as (select doc_id, tk from t where tk is not null),
    win as (select doc_id, i - 1 AS pos,
                   md5(array_to_string(tk[i:i+7], ',')) AS gram
            from q, unnest(generate_series(1, len(tk) - 7)) AS g(i)
            where len(tk) >= 8),
    dup as (select gram from win group by gram having count(*) >= 2),
    hits as (select w.doc_id, w.pos from win w join dup using (gram)),
    fl as (select doc_id, pos,
                  case when pos - lag(pos) over (partition by doc_id
                                                 order by pos) <= 8
                       then 0 else 1 end AS brk
           from hits),
    g as (select doc_id, pos,
                 sum(brk) over (partition by doc_id order by pos) AS grp
          from fl),
    spans as (select doc_id, min(pos) AS s, max(pos) + 8 AS e
              from g group by doc_id, grp)
    """
    sql["dup_spans"] = f"""
    with {_ND_DOCS},
    {_SPAN_CTES}
    select doc_id, CAST(s AS INT) AS span_start, CAST(e AS INT) AS span_end
    from spans
    """
    sql["span_incremental"] = f"""
    with {_ND_DOCS},
    {_SPAN_CTES}
    select doc_id, CAST(s AS INT) AS span_start, CAST(e AS INT) AS span_end
    from spans where doc_id >= 1000000
    """
    sql["span_coverage"] = f"""
    with nds as (select doc_id, source, text from documents union all
                 select doc_id + 1000000, source, text || ' qq zz'
                 from documents where doc_id % 25 = 0),
    nd as (select doc_id, text from nds),
    {_SPAN_CTES},
    d as (select nds.doc_id, nds.source,
                 CAST(len(q.tk) AS BIGINT) AS n_tok
          from q join nds using (doc_id)),
    pd as (select doc_id, sum(e - s) AS dup from spans group by doc_id)
    select d.source,
           CAST(sum(d.n_tok) AS BIGINT) AS tok_total,
           CAST(sum(coalesce(pd.dup, 0)) AS BIGINT) AS tok_dup,
           round(sum(coalesce(pd.dup, 0)) * 1.0 / sum(d.n_tok), 6)
             AS dup_fraction
    from d left join pd using (doc_id)
    group by d.source
    """
    sql["trim_spans"] = f"""
    with {_ND_DOCS},
    {_SPAN_CTES},
    pos as (select doc_id, j AS idx, tk[j] AS tok
            from q, unnest(generate_series(1, len(tk))) AS u(j)),
    keep as (select p.doc_id, p.idx, p.tok from pos p
             left join spans s on p.doc_id = s.doc_id
                  and p.idx - 1 >= s.s and p.idx - 1 < s.e
             where s.doc_id is null),
    agg as (select doc_id, list(tok order by idx) AS tk2
            from keep group by doc_id)
    select q.doc_id,
           md5(coalesce(array_to_string(a.tk2, ','), '')) AS tok_hash,
           CAST(coalesce(len(a.tk2), 0) AS INT) AS n_tok
    from q left join agg a using (doc_id)
    """
    sql["remap_tokens"] = f"""
    with t as (select doc_id, {_TOKSEQ} tk from documents),
    q as (select doc_id, tk from t where tk is not null),
    r as (select doc_id,
                 [(t * 7 + 3) % {TOKEN_VOCAB} for t in tk
                  if t < {TOKEN_VOCAB - 257}] AS nt
          from q)
    select doc_id,
           md5(coalesce(array_to_string(nt, ','), '')) AS tok_hash,
           CAST(coalesce(len(nt), 0) AS INT) AS n_tok
    from r
    """
    sql["decontaminate"] = f"""
    with t as (select doc_id, {_TOKSEQ} tk from documents),
    s as (select doc_id, {_TOK_SHINGLES} sh from t),
    b as (select distinct unnest(sh) AS shingle from s where doc_id % 37 = 0),
    c as (select doc_id, unnest(sh) AS shingle from s where doc_id % 37 <> 0)
    select doc_id, count(distinct shingle) AS n_shared
    from c join b using (shingle) group by 1
    """
    sql["decontaminate_bloom"] = sql["decontaminate"]
    sql["ngram_novelty"] = f"""
    with t as (select doc_id, {_TOKSEQ} tk from documents),
    s as (select doc_id, {_TOK_SHINGLES} sh from t),
    c as (select distinct unnest(sh) AS shingle from s
          where doc_id % 37 <> 0),
    n as (select doc_id, unnest(sh) AS shingle from s
          where doc_id % 37 = 0)
    select n.doc_id,
           count(*) AS n_grams,
           count(c.shingle) AS n_seen,
           round(1.0 - count(c.shingle) * 1.0 / count(*), 6) AS novelty
    from n left join c using (shingle)
    group by 1
    """
    sql["gram_growth"] = f"""
    with t as (select doc_id, {_TOKSEQ} tk from documents),
    s as (select CAST(doc_id % 10 AS INT) AS cohort,
                 {_TOK_SHINGLES} sh from t),
    occ as (select cohort, unnest(sh) AS shingle from s),
    first as (select shingle, min(cohort) AS cohort from occ group by 1),
    g as (select cohort, count(*) AS new_grams from first group by 1)
    select cohort, new_grams,
           CAST(sum(new_grams) over (order by cohort
             rows between unbounded preceding and current row)
             AS BIGINT) AS vocab_size
    from g
    """
    sql["burst_dedup"] = """
    with e as (select user_id, event_type, ts, event_id,
                      case when epoch_us(ts) - epoch_us(lag(ts) over
                             (partition by user_id, event_type
                              order by ts, event_id)) > 86400000000
                           then 1 else 0 end AS ns
               from events),
    s as (select user_id, event_type, ts, event_id,
                 sum(ns) over (partition by user_id, event_type
                               order by ts, event_id
                               rows unbounded preceding) AS sid
          from e)
    select user_id, event_type,
           min(ts) AS first_ts,
           arg_min(event_id,
                   printf('%020d|%020d', epoch_us(ts), event_id))
             AS first_ident,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped
    from s group by user_id, event_type, sid
    """
    sql["recency_budget"] = f"""
    with t as (select doc_id, source, {_TOKSEQ} tk from documents),
    s as (select doc_id, source, CAST(len(tk) AS INT) AS n_tok,
                 CAST(doc_id % 30 AS INT) AS bucket
          from t where tk is not null),
    r as (select doc_id, source, n_tok, bucket,
            coalesce(sum(n_tok) over (partition by source
              order by bucket desc, doc_id desc
              rows between unbounded preceding and 1 preceding), 0)
              AS bf,
            case source when 'src1' then 800
                        when 'src3' then 400 end AS b
          from s)
    select doc_id, source, n_tok, bucket
    from r where b is null or bf < b
    """
    sql["vocab_coverage"] = f"""
    with t as (select doc_id, {_TOKSEQ} tk from documents),
    occ as (select unnest(tk) AS token from t),
    c as (select token, count(*) AS cnt from occ group by 1),
    tot as (select sum(cnt) AS s from c),
    r as (select token, cnt,
            row_number() over (order by cnt desc, token) AS rank,
            sum(cnt) over (order by cnt desc, token
                           rows between unbounded preceding
                           and current row) AS cum
          from c)
    select CAST(rank AS INT) AS rank, token, cnt,
           round(cum * 1.0 / (select s from tot), 9) AS cum_frac
    from r where rank <= 100
    """
    sql["slo_burn"] = """
    with b as (
      select cast(floor(epoch_us(ts) / 3600000000) AS bigint)
               * 3600000000 AS bus,
             count(*) AS n_total,
             sum(case when event_type = 'error' then 1 else 0 end)
               AS n_err
      from events group by 1),
    w as (select bus, n_total, n_err,
            sum(n_total) over (order by bus
              range between 18000000000 preceding and current row)
              AS lt,
            sum(n_err) over (order by bus
              range between 18000000000 preceding and current row)
              AS le
          from b)
    select n_total, CAST(n_err AS BIGINT) AS n_err,
           round(n_err * 1.0 / n_total / 0.1, 9) AS burn_short,
           round(le * 1.0 / lt / 0.1, 9) AS burn_long,
           CAST(case when round(n_err * 1.0 / n_total / 0.1, 9) > 2.0
                      and round(le * 1.0 / lt / 0.1, 9) > 2.0
                     then 1 else 0 end AS INT) AS alert,
           make_timestamp(bus) AS window_start
    from w
    """
    _HU = ("cast(('0x' || substr(md5({seed} || '|' || CAST(doc_id AS VARCHAR"
           ")), 1, 8)) as bigint) / 4294967296.0")
    _mix_case = "case " + " ".join(
        f"when source = '{s}' then {w}" for s, w in sorted(MIX_WEIGHTS.items())
    ) + " else 0.0 end"
    sql["mix_sample"] = f"""
    select doc_id, source from documents
    where {_HU.format(seed=7)} < {_mix_case}
    """
    # skew profiler over the language key (shares from exact counts;
    # entropy rounded before normalization, as in layout.py)
    sql["key_skew"] = """
    with c as (select lang, count(*) AS c from documents group by lang),
    r as (select c.*, row_number() over (order by c desc, lang) AS rn,
                 sum(c) over () AS tot
          from c),
    a as (select cast(sum(c) AS bigint) AS n_rows,
                 count(*) AS n_keys, max(c) AS cmax,
                 cast(sum(case when rn <= 5 then c else 0 end)
                      AS bigint) AS ctop,
                 round(-sum((c / tot) * ln(c / tot)), 6) AS h
          from r)
    select n_rows, n_keys,
           cast(cmax AS double) / n_rows AS max_share,
           cast(ctop AS double) / n_rows AS topk_share,
           case when n_keys > 1
                then round(h / ln(cast(n_keys AS double)), 6)
                else 0.0 end AS entropy_norm,
           greatest(cast(ceil(cast(cmax AS double) / n_rows * 32)
                         AS int), 1) AS suggested_salt
    from a
    """
    # PSI drift: Laplace-smoothed over the union bin table, exact
    # integer counts in, identical per-term float ops
    sql["psi_drift"] = """
    with ha as (select event_type AS source,
                       cast(round(value) AS bigint) AS bin,
                       count(*) AS ca
                from events where ts < '2024-01-15'
                group by 1, 2),
    hb as (select event_type AS source,
                  cast(round(value) AS bigint) AS bin,
                  count(*) AS cb
           from events where ts >= '2024-01-15'
           group by 1, 2),
    j as (select coalesce(ha.source, hb.source) AS source,
                 coalesce(ha.bin, hb.bin) AS bin,
                 coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
          from ha full outer join hb
            on ha.source = hb.source and ha.bin = hb.bin),
    tot as (select source, cast(sum(ca) AS bigint) AS na,
                   cast(sum(cb) AS bigint) AS nb,
                   count(*) AS n_bins
            from j group by source)
    select j.source, max(t.n_bins) AS n_bins,
           round(sum(((ca + 0.5) / (na + 0.5 * t.n_bins)
                      - (cb + 0.5) / (nb + 0.5 * t.n_bins))
                     * ln(((ca + 0.5) / (na + 0.5 * t.n_bins))
                          / ((cb + 0.5) / (nb + 0.5 * t.n_bins)))),
                 6) AS psi
    from j join tot t using (source)
    group by j.source
    """
    # LOCF time-weighted average: exact decimal numerator (scaled
    # value x held-microseconds), integer denominator
    sql["twa_1h"] = """
    with src as (select event_type AS source,
                        cast(floor(epoch_us(ts) / 3600000000) AS bigint)
                          * 3600000000 AS bus,
                        epoch_us(ts) AS us, event_id AS id,
                        cast(round(value * 1000) AS bigint) AS y
                 from events),
    seg as (select source, bus, us,
                   cast(y AS hugeint)
                     * (coalesce(lead(us) over (partition by source, bus
                                                order by us, id),
                                 bus + 3600000000) - us) AS num
            from src),
    a as (select source, bus, count(*) AS n_points,
                 cast(sum(num) AS hugeint) AS num, min(us) AS t0
          from seg group by source, bus)
    select source, make_timestamp(bus) AS bucket_start, n_points,
           cast(num AS double)
             / cast(bus + 3600000000 - t0 AS double) / 1000.0 AS twa
    from a
    """
    # Spearman via doubled average ranks (integers; Pearson is
    # affine-invariant) on zero-filled hourly count spines
    sql["spearman_pairs"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from counts),
    spine as (select g, u.h
              from (select distinct g from counts) gg, span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    ranked as (select g, h,
                      cast(2 * rank() over (partition by g order by c)
                           + count(*) over (partition by g, c) - 1
                           AS hugeint) AS r2
               from sig),
    m as (select xa.g AS a, xb.g AS b, count(*) AS n,
                 sum(xa.r2) AS sx, sum(xb.r2) AS sy,
                 sum(xa.r2 * xa.r2) AS sxx, sum(xb.r2 * xb.r2) AS syy,
                 sum(xa.r2 * xb.r2) AS sxy
          from ranked xa join ranked xb on xa.h = xb.h
          group by xa.g, xb.g),
    d as (select a, b, n,
                 n * sxy - sx * sy AS num,
                 n * sxx - sx * sx AS d1,
                 n * syy - sy * sy AS d2
          from m)
    select a, b, n,
           cast(num AS double)
             / sqrt(cast(d1 AS double) * cast(d2 AS double)) AS rho
    from d where d1 > 0 and d2 > 0
    """
    # the composed per-source health read: gap census + CUSUM argmax +
    # seasonal anomaly count, each sub-oracle identical to its
    # standalone query's
    sql["series_health"] = """
    with gl as (select event_type AS source, epoch_us(ts) AS us,
                       lag(epoch_us(ts)) over (partition by event_type
                         order by epoch_us(ts), event_id) AS up
                from events),
    gd as (select source, us, us - up AS delta from gl),
    g as (select source, count(*) AS n_points,
                 cast(sum(case when delta > 1800000000 then 1 else 0 end)
                      AS bigint) AS n_gaps,
                 round(case when max(us) - min(us) > 0
                       then 1.0 - cast(sum(case when delta > 1800000000
                                          then delta - 1800000000
                                          else 0 end) AS double)
                                  / (max(us) - min(us))
                       else 1.0 end, 9) AS uptime_frac
          from gd group by source),
    cs as (select event_type AS source, epoch_us(ts) AS us,
                  event_id AS id,
                  cast(round(value * 1000) AS bigint) AS y
           from events),
    cp as (select source, us, id,
                  sum(y) over (partition by source order by us, id
                               rows unbounded preceding) AS c,
                  row_number() over (partition by source
                                     order by us, id) AS i,
                  count(*) over (partition by source) AS n,
                  sum(y) over (partition by source) AS s
           from cs),
    cd as (select source, us, id, n, abs(n * c - i * s) AS ad from cp),
    cr as (select *, row_number() over (partition by source
             order by ad desc, us, id) AS rn from cd),
    c as (select source, make_timestamp(us) AS t_change,
                 round(cast(ad AS double)
                       / (cast(n AS double) * cast(n AS double))
                       / 1000.0, 9) AS score
          from cr where rn = 1),
    ss as (select event_type AS source, hour(ts) AS hod, ts, value,
                  cast(round(value * 1000) AS bigint) AS y
           from events),
    sp as (select source, hod, count(*) AS n,
                  cast(sum(cast(y AS hugeint)) AS hugeint) AS s,
                  cast(sum(cast(y AS hugeint) * y) AS hugeint) AS q
           from ss group by source, hod),
    sv as (select source, hod, n, s, n * q - s * s AS vn from sp),
    an as (select s.source, count(*) AS n_anomalies
           from ss s join sv v on s.source = v.source and s.hod = v.hod
           where v.vn > 0
             and abs(round(cast(s.y * v.n - v.s AS double)
                           / sqrt(cast(v.vn AS double)), 6)) > 2.5
           group by s.source)
    select g.source, g.n_points, g.n_gaps, g.uptime_frac,
           c.t_change, c.score,
           coalesce(an.n_anomalies, 0) AS n_anomalies
    from g join c using (source) left join an using (source)
    """
    # hysteresis latch fold: same init/transition as monitor.py,
    # list accumulator prepended as init (holt's struct-mutation caveat)
    sql["hysteresis"] = """
    with s as (select event_type AS source, cast(ts AS date) AS day,
                      epoch_us(ts) AS u, event_id AS i, value AS v
               from events),
    a as (select source, day, count(*) AS n_points,
                 list(v order by u, i) AS lst
          from s group by source, day),
    r as (select source, day, n_points,
                 list_reduce(
                   list_prepend(
                     [case when lst[1] > 400.0 then 1.0 else 0.0 end,
                      case when lst[1] > 400.0 then 1.0 else 0.0 end],
                     [[v, 0.0] for v in lst[2:]]),
                   (acc, e) ->
                     [acc[1] + case when acc[2] = 0.0 and e[1] > 400.0
                               then 1.0 else 0.0 end,
                      case when acc[2] = 0.0 and e[1] > 400.0 then 1.0
                           when acc[2] = 1.0 and e[1] < 300.0 then 0.0
                           else acc[2] end]) AS h
          from a)
    select source, day, n_points,
           cast(h[1] AS int) AS n_alerts, cast(h[2] AS int) AS in_alert
    from r
    """
    # run-length compaction: keep first row + value changes per series
    sql["change_points"] = """
    with s as (select event_type AS source, ts, event_id,
                      round(value / 50) AS value,
                      lag(round(value / 50)) over
                        (partition by event_type
                         order by epoch_us(ts), event_id) AS vp
               from events)
    select source, ts, event_id, value
    from s where vp is null or value != vp
    """
    # exact-moment least-squares slope per (series, day), in
    # value-units-per-hour (num/den exact -> identical doubles)
    sql["trend_slope"] = """
    with src as (select event_type AS source,
                        cast(floor(epoch_us(ts) / 86400000000) AS bigint)
                          * 86400000000 AS bus,
                        epoch_us(ts)
                          - cast(floor(epoch_us(ts) / 86400000000)
                                 AS bigint) * 86400000000 AS x,
                        cast(round(value * 1000) AS bigint) AS y
                 from events),
    m as (select source, bus, count(*) AS n_points,
                 cast(sum(cast(x AS hugeint)) AS hugeint) AS sx,
                 cast(sum(cast(y AS hugeint)) AS hugeint) AS sy,
                 cast(sum(cast(x AS hugeint) * x) AS hugeint) AS sxx,
                 cast(sum(cast(x AS hugeint) * y) AS hugeint) AS sxy
          from src group by source, bus),
    d as (select source, bus, n_points,
                 n_points * sxy - sx * sy AS num,
                 n_points * sxx - sx * sx AS den
          from m)
    select source, make_timestamp(bus) AS bucket_start, n_points,
           cast(num AS double) / cast(den AS double)
             * (3600000000.0 / 1000.0) AS slope_per_hour
    from d where den > 0
    """
    # the union-window asof join vs DuckDB's NATIVE ASOF LEFT JOIN
    sql["asof_join"] = """
    with l as (select event_id, user_id, ts from events
               where event_type = 'view'),
    r as (select user_id, ts, max(value) AS value from events
          where event_type = 'purchase' group by user_id, ts)
    select l.event_id, l.user_id, l.ts,
           r.value AS r_value, r.ts AS r_ts
    from l asof left join r
      on l.user_id = r.user_id and l.ts >= r.ts
    """
    # temperature mix: fractions from the corpus counts, pow rounded
    # before the compare (sampling.py:temperature_mix, alpha=0.5)
    sql["temperature_mix"] = f"""
    with c as (select lang, count(*) AS n from documents group by lang),
    m as (select min(n) AS nm from c),
    f as (select lang, round(pow(n / nm, -0.5), 6) AS f from c, m)
    select d.doc_id, d.lang
    from documents d join f using (lang)
    where {_HU.format(seed=11)} < f.f
    """
    sql["sample_k"] = f"""
    with r as (select doc_id, source,
                 row_number() over (partition by source
                   order by {_HU.format(seed=3)}, doc_id) AS rn
               from documents)
    select doc_id, source from r where rn <= 5
    """
    sql["stratified_split"] = f"""
    with r as (select doc_id, source,
                 row_number() over (partition by source
                   order by {_HU.format(seed=7)}, doc_id) AS rn,
                 count(*) over (partition by source) AS n
               from documents)
    select doc_id, source,
           case when rn <= ceil(n * 0.02) then 'val' else 'train' end
             AS split
    from r
    """
    sql["weighted_sample"] = f"""
    with r as (select doc_id, source,
                 row_number() over (partition by source
                   order by -ln(1.0 - {_HU.format(seed=11)})
                            / CAST(n_chars AS DOUBLE), doc_id) AS rn
               from documents where n_chars > 0)
    select doc_id, source from r where rn <= 8
    """
    _EPOCH_W = ("case source when 'src0' then 2.5 when 'src1' then 2.0 "
                "when 'src2' then 0.5 else 1.0 end")
    sql["epoch_upsample"] = f"""
    with r as (select doc_id, source,
                 CAST(floor({_EPOCH_W}) AS INT)
                 + case when {_HU.format(seed=3)}
                             < {_EPOCH_W} - floor({_EPOCH_W})
                        then 1 else 0 end AS reps
               from documents)
    select doc_id, source, CAST(t.e AS INT) AS epoch
    from r, unnest(generate_series(0, reps - 1)) t(e)
    where reps > 0
    """
    _TB = ("case source when 'src0' then 2000 "
           "when 'src1' then 500 else NULL end")
    sql["token_budget"] = f"""
    with t as (select doc_id, source, {_TOKSEQ} tk from documents),
    q as (select doc_id, source, CAST(len(tk) AS INT) AS n_tok,
                 CAST(floor({_HU.format(seed=5)} * 64) AS INT) AS shard
          from t where tk is not null),
    c as (select doc_id, source, n_tok,
                 sum(CAST(n_tok AS BIGINT)) over (
                   partition by source order by shard, doc_id
                   rows between unbounded preceding and current row)
                 - n_tok AS bef
          from q)
    select doc_id, source, n_tok from c
    where {_TB} is null or bef < {_TB}
    """
    sql["split_assign"] = f"""
    select doc_id,
           case when {_HU.format(seed=11)} < 0.9 then 'train'
                when {_HU.format(seed=11)} < 0.95 then 'val'
                else 'test' end AS split
    from documents
    """
    sql["curate"] = f"""
    with d as (select doc_id, source, text from documents union all
               select doc_id + 1000000, source, text from documents
               where doc_id % 25 = 0),
    t as (select doc_id, source, {_TOKSEQ} tk from d),
    h as (select doc_id, source, tk,
                 md5(array_to_string(tk, ',')) AS tok_hash
          from t where tk is not null),
    k as (select doc_id, source, CAST(len(tk) AS BIGINT) AS n_tok,
                 row_number() over (partition by tok_hash
                                    order by doc_id) AS rn
          from h),
    m as (select doc_id, source, n_tok,
                 CAST(floor({_HU.format(seed=0)} * 64) AS INT) AS shard
          from k
          where rn = 1 and {_HU.format(seed=7)} < {_mix_case}),
    p as (select doc_id, source, n_tok, shard,
            CAST(floor((sum(n_tok) over (partition by source
                        order by shard, doc_id
                        rows between unbounded preceding and current row)
                        - n_tok) / 512.0) AS BIGINT) AS pack_id
          from m)
    select doc_id, source, n_tok, pack_id,
           CAST(row_number() over (partition by source, pack_id
                                   order by shard, doc_id) - 1
                AS BIGINT) AS pack_pos
    from p
    """
    # token-native curation chain: same derivation, same stage order as
    # curate_corpus(tokens_col=...) with seed 0 (mixture seed 1, split
    # seed 2, pack shard seed 0); decontamination runs 5-token shingles
    _TOK_SHINGLES5 = (
        "list_distinct([array_to_string(tk[i:i+4], ' ') "
        "for i in range(1, greatest(len(tk) - 4, 1) + 1)])"
    )
    sql["curate_tokens"] = f"""
    with d as (select doc_id, source, text from documents union all
               select doc_id + 1000000, source, text from documents
               where doc_id % 25 = 0),
    t as (select doc_id, source, {_TOKSEQ} tk from d where doc_id % 37 <> 0),
    bt as (select {_TOKSEQ} tk from d where doc_id % 37 = 0),
    q as (select * from t where tk is not null and len(tk) >= 5),
    h as (select doc_id, source, tk,
                 row_number() over (partition by md5(array_to_string(tk, ','))
                                    order by doc_id) AS rn
          from q),
    dd as (select doc_id, source, tk from h where rn = 1),
    bs as (select distinct unnest(sh) AS sh from
           (select {_TOK_SHINGLES5} sh from bt
            where tk is not null and len(tk) >= 5)),
    cs as (select doc_id, unnest({_TOK_SHINGLES5}) AS sh
           from (select doc_id, tk from dd)),
    taint as (select distinct cs.doc_id from cs join bs using (sh)),
    cl as (select * from dd
           where doc_id not in (select doc_id from taint)),
    m as (select doc_id, source, CAST(len(tk) AS BIGINT) AS n_tok,
                 case when {_HU.format(seed=2)} < 0.98 then 'train'
                      when {_HU.format(seed=2)} < 0.99 then 'val'
                      else 'test' end AS split,
                 CAST(floor({_HU.format(seed=0)} * 64) AS INT) AS shard
          from cl where {_HU.format(seed=1)} < {_mix_case}),
    p as (select doc_id, source, split, n_tok, shard,
            CAST(floor((sum(n_tok) over (partition by split, source
                        order by shard, doc_id
                        rows between unbounded preceding and current row)
                        - n_tok) / 512.0) AS BIGINT) AS pack_id
          from m)
    select doc_id, source, split, n_tok, pack_id,
           CAST(row_number() over (partition by split, source, pack_id
                                   order by shard, doc_id) - 1
                AS BIGINT) AS pack_pos
    from p
    """
    # packing layout order is (shard, doc_id): shard is the engine's
    # skew-breaking two-level-prefix-sum key, an md5-derived int both
    # engines compute identically (see packing.shard_key)
    _PACKS = f"""
    t as (select doc_id, source,
                 CAST(len({_TOKSEQ}) AS BIGINT) AS n_tok,
                 CAST(floor({_HU.format(seed=0)} * 64) AS INT) AS shard
          from documents
          where {_TOKSEQ} is not null),
    p as (select doc_id, source, n_tok, shard,
            CAST(floor((sum(n_tok) over (partition by source
                        order by shard, doc_id
                        rows between unbounded preceding and current row)
                        - n_tok) / 512.0) AS BIGINT) AS pack_id
          from t)"""
    sql["pack_assign"] = f"""
    with {_PACKS}
    select doc_id, source, n_tok, pack_id,
           CAST(row_number() over (partition by source, pack_id
                                   order by shard, doc_id) - 1
                AS BIGINT) AS pack_pos
    from p
    """
    sql["pack_stats"] = f"""
    with {_PACKS}
    select source, pack_id, count(*) AS n_docs, sum(n_tok) AS tok_total,
           round(sum(n_tok) / 512.0, 6) AS utilization
    from p group by 1, 2
    """
    sql["pack_payloads"] = f"""
    with t as (select doc_id, source, {_TOKSEQ} tk from documents),
    s as (select doc_id, source, tk, CAST(len(tk) AS BIGINT) AS n_tok,
                 CAST(floor({_HU.format(seed=0)} * 64) AS INT) AS shard
          from t where tk is not null),
    p as (select doc_id, source, tk, n_tok, shard,
            CAST(floor((sum(n_tok) over (partition by source
                        order by shard, doc_id
                        rows between unbounded preceding and current row)
                        - n_tok) / 512.0) AS BIGINT) AS pack_id
          from s)
    select source, pack_id,
           md5(coalesce(array_to_string(
                 flatten(list(tk order by shard, doc_id)), ','), ''))
             AS tok_hash,
           CAST(sum(n_tok) AS BIGINT) AS n_tok,
           count(*) AS n_docs
    from p group by source, pack_id
    """
    _CMS_HU = ("cast(('0x' || substr(md5(CAST(g.d AS VARCHAR) || '|' || "
               "CAST({key} AS VARCHAR)), 1, 8)) as bigint) / 4294967296.0")
    _cms_keys = ", ".join(f"('{k}')" for k in CMS_KEYS)
    sql["cms_point_1h"] = f"""
    with grid as (
      select event_type AS source, date_trunc('hour', ts) AS bucket,
             g.d AS d,
             CAST(floor({_CMS_HU.format(key='user_id')} * 256) AS INT) AS w,
             count(*) AS cnt
      from events, unnest(generate_series(0, 3)) g(d)
      where user_id is not null
      group by 1, 2, 3, 4),
    kc as (
      select k.key AS key, g.d AS d,
             CAST(floor({_CMS_HU.format(key='k.key')} * 256) AS INT) AS w
      from (VALUES {_cms_keys}) k(key),
           unnest(generate_series(0, 3)) g(d)),
    est as (
      select grid.source, grid.bucket, kc.key,
             min(grid.cnt) AS m, count(*) AS n
      from grid join kc using (d, w)
      group by 1, 2, 3)
    select source, bucket, key,
           CAST(case when n < 4 then 0 else m end AS BIGINT) AS est
    from est
    """
    _BLOOM_HU = (
        "cast(('0x' || substr(md5(CAST(7000 + g.h AS VARCHAR) || '|' || "
        "CAST({key} AS VARCHAR)), 1, 8)) as bigint) / 4294967296.0")
    sql["bloom_probe_1h"] = f"""
    with bits as (
      select distinct event_type AS source,
             date_trunc('hour', ts) AS bucket,
             CAST(floor({_BLOOM_HU.format(key='user_id')} * 4096) AS INT)
               AS bit
      from events, unnest(generate_series(0, 3)) g(h)
      where user_id is not null),
    kc as (
      select distinct k.key AS key,
             CAST(floor({_BLOOM_HU.format(key='k.key')} * 4096) AS INT)
               AS bit
      from (VALUES {_cms_keys}) k(key),
           unnest(generate_series(0, 3)) g(h)),
    need as (select key, count(*) AS need from kc group by 1),
    hit as (
      select bits.source, bits.bucket, kc.key, count(*) AS hit
      from bits join kc using (bit)
      group by 1, 2, 3)
    select hit.source, hit.bucket, hit.key,
           CAST(hit.hit = need.need AS INT) AS present
    from hit join need using (key)
    """
    sql["funnel"] = """
    with e as (
      select user_id,
             case event_type when 'signup' then 1 when 'click' then 2
                  when 'purchase' then 3 end AS idx, ts
      from events
      where event_type in ('signup', 'click', 'purchase')
        and user_id is not null),
    l as (select user_id,
            [s.idx for s in
             list_sort(list(struct_pack(ts := ts, idx := idx)))] AS xs
          from e group by 1),
    d as (select user_id,
            list_reduce(list_prepend(0, xs),
              (acc, x) -> case when x = acc + 1 then acc + 1
                               else acc end) AS depth
          from l)
    select CAST(t.s AS INT) AS step, count(*) AS n_users
    from d, unnest(generate_series(1, depth)) t(s)
    where depth >= 1 group by 1
    """
    sql["cohort_retention"] = """
    with days as (
      select distinct user_id AS u, CAST(date_trunc('day', ts) AS DATE)
             AS day
      from events where user_id is not null),
    first as (select u, min(day) AS cohort_day from days group by 1)
    select f.cohort_day,
           CAST(date_diff('day', f.cohort_day, d.day) AS INT)
             AS offset_days,
           count(*) AS n_users
    from days d join first f using (u)
    group by 1, 2
    """
    sql["bm25"] = f"""
    with t as (select doc_id, {_TOKSEQ} tk from documents),
    scal as (select count(*) AS n_docs,
                    avg(CAST(len(tk) AS DOUBLE)) AS avg_len from t),
    occ as (select doc_id, len(tk) AS dl, unnest(tk) AS tok from t),
    tf as (select doc_id, tok, count(*) AS tf, max(dl) AS dl
           from occ where tok in (14337, 19646, 6231, 97)
           group by 1, 2),
    dfq as (select tok, count(*) AS df from tf group by 1)
    select tf.doc_id, count(*) AS n_terms,
           sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * (1.2 + 1.0)
               / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avg_len)))
             AS score
    from tf join dfq using (tok) cross join scal
    group by 1
    """
    sql["retained_users_1d"] = """
    with u as (
      select distinct event_type AS source, date_trunc('day', ts) AS bucket,
             user_id
      from events where user_id is not null)
    select a.source, a.bucket, count(*) AS n_retained
    from u a join u b
      on a.source = b.source and a.user_id = b.user_id
     and b.bucket = a.bucket + INTERVAL '1 day'
    group by 1, 2
    """
    # churn twin: users of day d with no match on d+1, restricted to
    # days whose successor day exists in the tier (the inner tier join)
    sql["churned_users_1d"] = """
    with u as (
      select distinct event_type AS source, date_trunc('day', ts) AS bucket,
             user_id
      from events where user_id is not null),
    d2 as (select distinct source, bucket from u),
    a as (select u.* from u join d2 n
            on n.source = u.source
           and n.bucket = u.bucket + INTERVAL '1 day')
    select a.source, a.bucket, count(*) AS n_churned
    from a left join u b
      on b.source = a.source and b.user_id = a.user_id
     and b.bucket = a.bucket + INTERVAL '1 day'
    where b.user_id is null
    group by 1, 2
    """
    sql["interval_events"] = """
    with iv as (
      select event_id AS interval_id, event_type AS source,
             ts AS ivstart,
             ts + (1 + event_id % 3) * INTERVAL '1 hour' AS ivend
      from events where event_id % 97 = 0)
    select iv.interval_id, count(*) AS n_ev, sum(e.value) AS sum_val
    from iv join events e
      on e.event_type = iv.source
     and e.ts >= iv.ivstart and e.ts < iv.ivend
    group by 1
    """
    sql["interval_overlaps"] = """
    with a as (
      select event_type AS source, ts AS astart,
             ts + INTERVAL '120 minutes' AS aend
      from events where event_id % 61 = 0),
    b as (
      select event_type AS source, ts AS bstart,
             ts + INTERVAL '90 minutes' AS bend
      from events where event_id % 73 = 0)
    select a.source, count(*) AS n_pairs,
           CAST(sum(epoch_us(least(aend, bend))
                    - epoch_us(greatest(astart, bstart))) AS BIGINT)
             AS overlap_us
    from a join b
      on a.source = b.source
     and a.astart < b.bend and b.bstart < a.aend
    group by 1
    """
    _g = (1.0 + 0.05) / (1.0 - 0.05)
    sql["dds_rank_1h"] = f"""
    with b as (
      select event_type AS source, date_trunc('hour', ts) AS bucket,
             case when value > 0 then 1 when value < 0 then -1
                  else 0 end AS sign,
             case when value = 0 then 0
                  else CAST(ceil(round(ln(abs(value)) / ln({_g!r}), 9))
                            AS BIGINT) end AS bin
      from events where value is not null),
    c as (select source, bucket, sign, bin, count(*) AS cnt
          from b group by 1, 2, 3, 4)
    select source, bucket,
      round(sum(case when sign < 1 or (sign = 1 and bin <=
                       CAST(ceil(round(ln(50.0) / ln({_g!r}), 9))
                            AS BIGINT))
                     then cnt else 0 end) * 1.0 / sum(cnt), 9)
        AS frac_le
    from c group by 1, 2
    """
    sql["dds_quantiles_1h"] = f"""
    with b as (
      select event_type AS source, date_trunc('hour', ts) AS bucket,
             case when value > 0 then 1 when value < 0 then -1
                  else 0 end AS sign,
             case when value = 0 then 0
                  else CAST(ceil(round(ln(abs(value)) / ln({_g!r}), 9))
                            AS BIGINT) end AS bin
      from events where value is not null),
    c as (select source, bucket, sign, bin, count(*) AS cnt
          from b group by 1, 2, 3, 4),
    r as (select *,
            case when sign = 0 then 0.0
                 else round((sign * 2 * pow({_g!r}, bin) / ({_g!r} + 1))
                        / pow(10, floor(log10(abs(
                            sign * 2 * pow({_g!r}, bin) / ({_g!r} + 1))))),
                      8)
                      * pow(10, floor(log10(abs(
                            sign * 2 * pow({_g!r}, bin) / ({_g!r} + 1)))))
            end AS est,
            sum(cnt) over (partition by source, bucket
                           order by sign, sign * bin
                           rows between unbounded preceding
                           and current row) AS cum,
            sum(cnt) over (partition by source, bucket) AS n
          from c)
    select source, bucket,
      min(case when cum >= greatest(ceil(0.50 * n), 1) then est end) AS p50,
      min(case when cum >= greatest(ceil(0.95 * n), 1) then est end) AS p95
    from r group by 1, 2
    """
    sql["toptok_1h"] = f"""
    with t as (select doc_id, source, {_TOKSEQ} tk from documents),
    e as (select source,
            date_trunc('hour', timestamp '2024-01-01'
                       + (doc_id % 600) * interval 1 minute) AS bucket,
            unnest(tk) AS bin
          from t),
    c as (select source, bucket, bin, count(*) AS cnt from e group by 1, 2, 3),
    r as (select *, row_number() over (partition by source, bucket
                                       order by cnt desc, bin) AS rn from c)
    select source, bucket, CAST(bin AS BIGINT) AS bin, cnt
    from r where rn <= 3
    """
    sql["token_repetition"] = f"""
    with t as (select doc_id, {_TOKSEQ} tk from documents),
    d as (select doc_id, tk from t union all
          select doc_id + 2000000, list_concat(tk, tk) from t
          where doc_id % 20 = 0),
    g as (select doc_id,
            [array_to_string(tk[i:i+1], ' ')
             for i in range(1, greatest(len(tk) - 1, 1) + 1)] AS sh
          from d)
    select doc_id,
           round((len(sh) - len(list_distinct(sh))) / len(sh), 6) AS rep2
    from g
    """
    sql["multimodal_meta"] = """
    select doc_id, octet_length(encode(text)) AS n_bytes,
           'unknown' AS format
    from documents
    """
    # sample_frames fake decoder: duration_ms = first 4 md5 bytes of the
    # utf-8 payload (big-endian) % 10000; frames at 0,1000,... capped at 8
    sql["frame_sample"] = """
    with d as (
      select doc_id,
             cast(('0x' || substr(md5(text), 1, 8)) as bigint) % 10000
               AS dur
      from documents),
    n as (select doc_id, least(dur // 1000 + 1, 8) AS nf from d)
    select doc_id,
           cast(unnest(range(0, nf)) as integer) AS frame_idx,
           cast(unnest(range(0, nf)) * 1000 as bigint) AS ts_ms
    from n
    """
    # M4 oracle is the DIRECT 1h downsample on raw (the Spark query
    # serves it from the 1m tier via m4_merge: the gate proves the
    # cascade identity). Tie rules pinned in downsample.py.
    sql["m4_1h"] = """
    with src as (select event_type AS source,
                        cast(floor(epoch_us(ts) / 3600000000) AS bigint)
                          * 3600000000 AS bus,
                        epoch_us(ts) AS us, value AS v
                 from events),
    a as (select source, bus, count(*) AS n_points,
                 min(us) AS usf, max(us) AS usl,
                 min(v) AS v_min, max(v) AS v_max
          from src group by source, bus),
    vf as (select s.source, s.bus, min(s.v) AS v_first
           from src s join a on s.source=a.source and s.bus=a.bus
            and s.us=a.usf group by s.source, s.bus),
    vl as (select s.source, s.bus, max(s.v) AS v_last
           from src s join a on s.source=a.source and s.bus=a.bus
            and s.us=a.usl group by s.source, s.bus),
    tm as (select s.source, s.bus, min(s.us) AS tmin
           from src s join a on s.source=a.source and s.bus=a.bus
            and s.v=a.v_min group by s.source, s.bus),
    tx as (select s.source, s.bus, max(s.us) AS tmax
           from src s join a on s.source=a.source and s.bus=a.bus
            and s.v=a.v_max group by s.source, s.bus)
    select a.source, make_timestamp(a.bus) AS bucket_start, a.n_points,
           make_timestamp(a.usf) AS t_first, vf.v_first,
           make_timestamp(a.usl) AS t_last, vl.v_last,
           make_timestamp(tm.tmin) AS t_min, a.v_min,
           make_timestamp(tx.tmax) AS t_max, a.v_max
    from a
    join vf on a.source=vf.source and a.bus=vf.bus
    join vl on a.source=vl.source and a.bus=vl.bus
    join tm on a.source=tm.source and a.bus=tm.bus
    join tx on a.source=tx.source and a.bus=tx.bus
    """
    # fixed-anchor LTTB: identical exact-integer cross product on
    # HUGEINT; same rank order (area desc, us asc / desc-on-last, v)
    sql["lttb_6h"] = """
    with g0 as (select min(epoch_us(ts)) AS m from events),
    src as (select event_type AS source,
                   cast(epoch_us(ts) - g0.m AS hugeint) AS x,
                   cast(floor(epoch_us(ts) / 21600000000) AS bigint)
                     * 21600000000 AS bus,
                   value AS v,
                   cast(round(value * 1000) AS hugeint) AS y
            from events, g0),
    sums as (select source, bus, count(*) AS n,
                    sum(x) AS sx, sum(y) AS sy
             from src group by source, bus),
    anch as (select source, bus, n,
                    lag(n) over w AS na, lag(sx) over w AS sxa,
                    lag(sy) over w AS sya,
                    lead(n) over w AS nb, lead(sx) over w AS sxb,
                    lead(sy) over w AS syb
             from sums window w as (partition by source order by bus)),
    j as (select s.source, s.bus, a.n, s.x, s.v,
                 case when a.na is null or a.nb is null
                      then cast(0 AS hugeint)
                      else -abs((s.x*a.na - a.sxa)
                                  * (a.syb*a.na - a.sya*a.nb)
                                - (a.sxb*a.na - a.sxa*a.nb)
                                  * (s.y*a.na - a.sya))
                 end AS o1,
                 case when a.nb is null then -s.x else s.x end AS o2
          from src s join anch a on s.source=a.source and s.bus=a.bus),
    r as (select *, row_number() over
            (partition by source, bus order by o1, o2, v) AS rn from j)
    select source, make_timestamp(bus) AS bucket_start, n AS n_points,
           make_timestamp(cast(x + (select m from g0) AS bigint))
             AS t_sel,
           v AS v_sel
    from r where rn = 1
    """
    sql["counter_rate"] = """
    with l as (select event_type AS source, epoch_us(ts) AS us,
                      value AS v,
                      lag(value) over (partition by event_type
                        order by epoch_us(ts), event_id) AS vp
               from events),
    s as (select source,
                 cast(floor(us / 3600000000) AS bigint) * 3600000000
                   AS bus,
                 case when vp is null then 0
                      when v - vp < 0 then v else v - vp end AS step,
                 case when vp is not null and v - vp < 0
                      then 1 else 0 end AS r
          from l)
    select source, count(*) AS n_samples,
           round(sum(step), 6) AS increase,
           round(sum(step) / 3600.0, 6) AS rate_per_sec,
           cast(sum(r) AS bigint) AS resets,
           make_timestamp(bus) AS window_start
    from s group by source, bus
    """
    sql["gap_stats"] = """
    with l as (select event_type AS source, epoch_us(ts) AS us,
                      lag(epoch_us(ts)) over (partition by event_type
                        order by epoch_us(ts), event_id) AS up
               from events),
    d as (select source, us, us - up AS delta from l)
    select source, count(*) AS n_points,
           cast(sum(case when delta > 1800000000 then 1 else 0 end)
                AS bigint) AS n_gaps,
           coalesce(max(delta), 0) AS max_delta_us,
           max(us) - min(us) AS span_us,
           round(case when max(us) - min(us) > 0
                 then 1.0 - cast(sum(case when delta > 1800000000
                                     then delta - 1800000000
                                     else 0 end) AS double)
                            / (max(us) - min(us))
                 else 1.0 end, 9) AS uptime_frac
    from d group by source
    """
    sql["cusum_change"] = """
    with src as (select event_type AS source, epoch_us(ts) AS us,
                        event_id AS id,
                        cast(round(value * 1000) AS bigint) AS y
                 from events),
    p as (select source, us, id,
                 sum(y) over (partition by source order by us, id
                              rows unbounded preceding) AS c,
                 row_number() over (partition by source
                                    order by us, id) AS i,
                 count(*) over (partition by source) AS n,
                 sum(y) over (partition by source) AS s
          from src),
    d as (select source, us, id, n,
                 abs(n * c - i * s) AS ad from p),
    r as (select *, row_number() over (partition by source
            order by ad desc, us, id) AS rn from d)
    select source, n AS n_points, make_timestamp(us) AS t_change,
           ad AS d_max_scaled,
           round(cast(ad AS double)
                 / (cast(n AS double) * cast(n AS double))
                 / 1000.0, 9) AS score
    from r where rn = 1
    """
    # seasonal baseline: exact fixed-point moments (HUGEINT), identical
    # double derivations (same operation order as monitor.py)
    _SEASONAL_V = """
    src as (select event_type AS source, hour(ts) AS hod, ts, value,
                   cast(round(value * 1000) AS bigint) AS y
            from events),
    p as (select source, hod, count(*) AS n,
                 cast(sum(cast(y AS hugeint)) AS hugeint) AS s,
                 cast(sum(cast(y AS hugeint) * y) AS hugeint) AS q
          from src group by source, hod),
    v as (select source, hod, n, s, n * q - s * s AS vn from p)
    """
    sql["seasonal_profile"] = f"""
    with {_SEASONAL_V}
    select source, hod, n AS n_points,
           round(cast(s AS double) / n / 1000.0, 6) AS mean_value,
           round(sqrt(cast(vn AS double)) / n / 1000.0, 6) AS std_value
    from v
    """
    sql["seasonal_anomaly"] = f"""
    with {_SEASONAL_V}
    select s.source, s.ts, s.value,
           round(cast(s.y * v.n - v.s AS double)
                 / sqrt(cast(v.vn AS double)), 6) AS z
    from src s join v on s.source = v.source and s.hod = v.hod
    where v.vn > 0
      and abs(round(cast(s.y * v.n - v.s AS double)
                    / sqrt(cast(v.vn AS double)), 6)) > 2.5
    """
    # Morton interleave, generated term-by-term to mirror
    # layout.py:zorder_key exactly (values pre-bucketized below 2^8,
    # so the operator's clamp is the identity)
    _zterms = " + ".join(
        f"(((x >> {b}) & 1) << {2 * b}) + (((y >> {b}) & 1) << {2 * b + 1})"
        for b in range(8)
    )
    sql["zorder_key"] = f"""
    with s as (select event_id,
                      user_id % 256 AS x,
                      (epoch_us(ts) // 3600000000) % 256 AS y
               from events)
    select event_id, {_zterms} AS zkey from s
    """
    # sequential smoothing folds: same literal coefficients, same
    # operation order as the Spark F.aggregate fold -> bit-identical
    # doubles (no rounding). Order key (u, i) is unique, so the list
    # order matches array_sort(struct(u, i, v)) exactly.
    _SMOOTH_SRC = """
    s as (select event_type AS source, cast(ts AS date) AS day,
                 epoch_us(ts) AS u, event_id AS i, value AS v
          from events),
    a as (select source, day, count(*) AS n_points,
                 list(v order by u, i) AS lst
          from s group by source, day)
    """
    sql["ewma_daily"] = f"""
    with {_SMOOTH_SRC}
    select source, day, n_points,
           list_reduce(lst, (acc, x) -> 0.3 * x + 0.7 * acc) AS ewma
    from a
    """
    # LIST accumulator, not a struct: DuckDB's list_reduce updates
    # struct accumulators field-by-field IN PLACE (the trend field
    # would read the already-updated level), which silently diverges
    # from the mathematical recurrence; list elements are immutable.
    sql["holt_daily"] = f"""
    with {_SMOOTH_SRC},
    r as (select source, day, n_points,
                 list_reduce([[v, 0.0] for v in lst],
                   (acc, e) -> [0.3 * e[1] + 0.7 * (acc[1] + acc[2]),
                                0.1 * ((0.3 * e[1]
                                        + 0.7 * (acc[1] + acc[2]))
                                       - acc[1])
                                + 0.9 * acc[2]]) AS h
          from a)
    select source, day, n_points,
           h[1] AS level, h[2] AS trend, h[1] + h[2] AS forecast_next
    from r
    """
    # Holt-Winters additive: flat [l, t, consumed, s_0..s_{m-1}] LIST
    # accumulator (same struct-mutation caveat as holt_daily); the
    # generated lambda textually repeats the level subexpression —
    # identical double inputs give identical doubles, and every
    # coefficient is repr()-interpolated so both engines parse the SAME
    # decimal literal (1 - gamma computed once in Python, never
    # re-derived engine-side). Init = first element as [x0, 0, 1,
    # zeros]; fold consumes elements 2..n as [v] singletons.
    _hw_m, _hw_a, _hw_b, _hw_g = 24, 0.3, 0.1, 0.2
    _p0 = f"(CAST(acc[3] AS INT) % {_hw_m})"
    _sp = f"acc[4 + {_p0}]"
    _lp = (f"({_hw_a!r} * (e[1] - {_sp}) "
           f"+ {1.0 - _hw_a!r} * (acc[1] + acc[2]))")
    _tp = f"({_hw_b!r} * ({_lp} - acc[1]) + {1.0 - _hw_b!r} * acc[2])"
    _sn = f"({_hw_g!r} * (e[1] - {_lp}) + {1.0 - _hw_g!r} * {_sp})"
    _hw_zeros = ", ".join(["0.0::DOUBLE"] * _hw_m)
    _hw_step = (
        f"[{_lp}, {_tp}, acc[3] + 1.0] || list_slice(acc, 4, 3 + {_p0}) "
        f"|| [{_sn}] || list_slice(acc, 5 + {_p0}, {3 + _hw_m})"
    )
    sql["holt_winters_daily"] = f"""
    with {_SMOOTH_SRC},
    r as (select source, day, n_points,
                 list_reduce(
                   [[lst[1], 0.0::DOUBLE, 1.0::DOUBLE, {_hw_zeros}]]
                     || [[v] for v in lst[2:]],
                   (acc, e) -> {_hw_step}) AS h
          from a)
    select source, day, n_points,
           h[1] AS level, h[2] AS trend,
           h[4 + (CAST(n_points AS INT) % {_hw_m})] AS season_next,
           h[1] + h[2] + h[4 + (CAST(n_points AS INT) % {_hw_m})]
             AS forecast_next
    from r
    """
    # lagged cross-correlation from exact integer moments over
    # zero-filled hourly count spines (same op order as monitor.py)
    sql["xcorr_lags"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    pairs as (select xa.g AS a, xb.g AS b, l.lag,
                     xa.c AS x, xb.c AS y
              from sig xa,
                   unnest(generate_series(-3, 3)) AS l(lag),
                   sig xb
              where xb.h = xa.h + l.lag),
    m as (select a, b, lag, count(*) AS n,
                 sum(x) AS sx, sum(y) AS sy,
                 sum(x * x) AS sxx, sum(y * y) AS syy,
                 sum(x * y) AS sxy
          from pairs group by a, b, lag),
    d as (select a, b, lag, n,
                 n * sxy - sx * sy AS num,
                 n * sxx - sx * sx AS d1,
                 n * syy - sy * sy AS d2
          from m)
    select a, b, cast(lag AS int) AS lag, n,
           cast(num AS double)
             / sqrt(cast(d1 AS double) * cast(d2 AS double)) AS r
    from d where d1 > 0 and d2 > 0
    """
    # direct sliding quantiles (independent of the pane construction)
    sql["sliding_quantiles"] = """
    with src as (select event_type AS source, ts,
                        CAST(round(value * 100) AS BIGINT) AS bin
                 from events where value is not null),
    pb as (select distinct source,
                  make_timestamp(CAST(floor(epoch(ts) / 600) * 600
                                      AS BIGINT) * 1000000) AS p
           from src),
    w as (select distinct source,
                 p - (k * INTERVAL '10 minutes') AS window_start
          from pb, unnest(generate_series(0, 5)) AS g(k)),
    agg as (select w.source, w.window_start,
                   quantile_disc(e.bin, 0.5) / 100.0 AS p50,
                   quantile_disc(e.bin, 0.9) / 100.0 AS p90
            from w join src e
              on e.source = w.source
             and e.ts >= w.window_start
             and e.ts < w.window_start + INTERVAL '60 minutes'
            group by 1, 2)
    select * from agg
    """
    sql["chunk_docs"] = """
    with d as (select doc_id AS id,
                      regexp_split_to_array(text, '\\s+') AS toks
               from documents where text is not null),
    n as (select id, toks, len(toks) AS n from d),
    e as (select id, toks, n,
                 unnest(range(0, cast(ceil(n / 32.0) AS bigint)))
                   AS chunk_idx
          from n)
    select id, cast(chunk_idx AS int) AS chunk_idx,
           array_to_string(toks[chunk_idx * 32 + 1 : chunk_idx * 32 + 32],
                           ' ') AS chunk_text,
           cast(least(32, n - chunk_idx * 32) AS int) AS n_tok
    from e
    """
    # same ladder order + same patterns as text.py:PII_PATTERNS; each
    # count taken on the already-partially-redacted text; 'g' flag =
    # Spark's replace-all semantics
    _EM = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    _PH = "[0-9]{3}[-.][0-9]{3,4}[-.]?[0-9]{0,4}"
    _NU = "[0-9]{4,}"
    sql["redact_pii"] = f"""
    with t as (select doc_id,
        text || ' contact user' || cast(doc_id AS varchar)
             || '@mail.example.com or 555-'
             || lpad(cast(doc_id % 10000 AS varchar), 4, '0')
             || ' ref ' || cast(doc_id * 7919 AS varchar) AS t0
      from documents),
    s1 as (select doc_id,
                  len(regexp_extract_all(t0, '{_EM}')) AS c1,
                  regexp_replace(t0, '{_EM}', '<EMAIL>', 'g') AS t1
           from t),
    s2 as (select doc_id, c1,
                  len(regexp_extract_all(t1, '{_PH}')) AS c2,
                  regexp_replace(t1, '{_PH}', '<PHONE>', 'g') AS t2
           from s1),
    s3 as (select doc_id, c1, c2,
                  len(regexp_extract_all(t2, '{_NU}')) AS c3,
                  regexp_replace(t2, '{_NU}', '<NUM>', 'g') AS t3
           from s2)
    select doc_id, cast(c1 + c2 + c3 AS bigint) AS n_redactions,
           t3 AS redacted
    from s3
    """
    # exact distinct per sliding window (the KMV exact regime at this
    # scale: every 1h window holds < 256 distinct users)
    sql["sliding_distinct"] = """
    with src as (select event_type AS source, ts, user_id from events),
    pb as (select distinct source,
                  make_timestamp(CAST(floor(epoch(ts) / 600) * 600
                                      AS BIGINT) * 1000000) AS p
           from src),
    w as (select distinct source,
                 p - (k * INTERVAL '10 minutes') AS window_start
          from pb, unnest(generate_series(0, 5)) AS g(k))
    select w.source, w.window_start,
           count(distinct e.user_id) AS n_distinct
    from w join src e
      on e.source = w.source
     and e.ts >= w.window_start
     and e.ts < w.window_start + INTERVAL '60 minutes'
    group by 1, 2
    """
    sql["percentile_rank"] = """
    select doc_id, n_chars,
           cume_dist() over (order by n_chars) AS prank
    from documents
    """
    sql["percentile_rank_grouped"] = """
    select doc_id, lang, n_chars,
           cume_dist() over (partition by lang order by n_chars)
             AS prank
    from documents
    """
    # tier-served sliding == the direct raw sliding definition (same
    # oracle construction as sliding_rollup)
    sql["sliding_from_tier"] = sql["sliding_rollup"]
    sql["pad_sequences"] = f"""
    with t as (select doc_id, {_TOKSEQ} tk from documents),
    p as (select doc_id, tk,
                 least(len(tk), 48) AS n_real from t)
    select doc_id,
           case when tk is null then null
                else cast(n_real AS int) end AS n_real,
           case when tk is null then null
                else array_to_string(
                       list_concat(tk[1:48],
                                   [0 for _ in range(48 - n_real)]), ',')
           end AS input_ids,
           case when tk is null then null
                else array_to_string(
                       list_concat([1 for _ in range(n_real)],
                                   [0 for _ in range(48 - n_real)]), ',')
           end AS attention_mask
    from p
    """
    # med/MAD and tier-served Hampel fences: independent row-level
    # rank-pick formulations (the engine reads cumulative bin counts)
    sql["hist_mad_1h"] = """
    with v as (select event_type AS source,
                      date_trunc('hour', ts) AS bucket,
                      CAST(round(value * 100) AS BIGINT) AS bin
               from events where value is not null),
    r as (select source, bucket, bin,
            row_number() over (partition by source, bucket
                               order by bin) AS rn,
            count(*) over (partition by source, bucket) AS n
          from v),
    med as (select source, bucket, max(n) AS n,
                   max(case when rn = greatest(
                         1, cast(ceil(0.5 * n) AS bigint))
                       then bin end) AS medbin
            from r group by 1, 2),
    d as (select v.source, v.bucket, abs(v.bin - m.medbin) AS dev
          from v join med m using (source, bucket)),
    dr as (select source, bucket, dev,
             row_number() over (partition by source, bucket
                                order by dev) AS rn,
             count(*) over (partition by source, bucket) AS n
           from d),
    mad as (select source, bucket,
                   max(case when rn = greatest(
                         1, cast(ceil(0.5 * n) AS bigint))
                       then dev end) AS madbin
            from dr group by 1, 2)
    select m.source, m.bucket, m.n,
           m.medbin / 100 AS median, mad.madbin / 100 AS mad
    from med m join mad using (source, bucket)
    """
    sql["robust_outliers"] = """
    with v as (select event_id, event_type AS source, ts, value,
                      date_trunc('hour', ts) AS bucket,
                      CAST(round(value * 100) AS BIGINT) AS bin
               from events where value is not null),
    r as (select source, bucket, bin,
            row_number() over (partition by source, bucket
                               order by bin) AS rn,
            count(*) over (partition by source, bucket) AS n
          from v),
    med as (select source, bucket,
                   max(case when rn = greatest(
                         1, cast(ceil(0.5 * n) AS bigint))
                       then bin end) AS medbin
            from r group by 1, 2),
    d as (select v.source, v.bucket,
                 abs(v.bin - m.medbin) AS dev
          from v join med m using (source, bucket)),
    dr as (select source, bucket, dev,
             row_number() over (partition by source, bucket
                                order by dev) AS rn,
             count(*) over (partition by source, bucket) AS n
           from d),
    mad as (select source, bucket,
                   max(case when rn = greatest(
                         1, cast(ceil(0.5 * n) AS bigint))
                       then dev end) AS madbin
            from dr group by 1, 2)
    select v.event_id, v.source, v.ts, v.value,
           m.medbin / 100 AS median, mad.madbin / 100 AS mad,
           abs(v.bin - m.medbin) / 100 AS robust_dev
    from v
    join med m using (source, bucket)
    join mad using (source, bucket)
    where abs(v.bin - m.medbin) > 3.0 * mad.madbin
    """
    # Theil-Sen: pairwise slopes are doubles of exact integers; DuckDB
    # median() of an even count averages the two middle values, the
    # same semantics the engine's rank-pick + avg construction computes
    sql["theil_sen"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    slopes as (select a.g,
                      cast(b.c - a.c AS double)
                        / cast(b.h - a.h AS double) AS s
               from sig a join sig b on a.g = b.g and b.h > a.h),
    nb as (select g, count(*) AS n_buckets from sig group by g),
    med as (select g, count(*) AS n_pairs, median(s) AS sen_slope
            from slopes group by g)
    select nb.g, nb.n_buckets, med.n_pairs, med.sen_slope
    from nb join med using (g)
    """
    # Seasonal Sen: theil_sen restricted to same-phase pairs
    sql["seasonal_sen"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, s.h % 24 AS m, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    slopes as (select a.g,
                      cast(b.c - a.c AS double)
                        / cast(b.h - a.h AS double) AS s
               from sig a join sig b
                 on a.g = b.g and a.m = b.m and b.h > a.h),
    nb as (select g, count(*) AS n_buckets from sig group by g),
    med as (select g, count(*) AS n_pairs, median(s) AS sen_slope
            from slopes group by g)
    select nb.g, nb.n_buckets, med.n_pairs, med.sen_slope
    from nb join med using (g)
    """
    # PMI: HUGEINT products mirror the engine's decimal(38,0) exactly;
    # one ln of the exact-integer ratio, identical doubles both sides
    sql["pmi_bigrams"] = """
    with d as (select regexp_split_to_array(text, '\\s+') AS t
               from documents where text is not null),
    uc as (select w, count(*) AS c
           from (select unnest(t) AS w from d) group by w),
    nu as (select cast(sum(c) AS hugeint) AS nu from uc),
    pairs as (select t[i] AS w1, t[i + 1] AS w2
              from d, unnest(range(1, len(t))) AS g(i)
              where len(t) >= 2),
    nb as (select cast(count(*) AS hugeint) AS nb from pairs),
    bc as (select w1, w2, count(*) AS cnt from pairs
           group by w1, w2 having count(*) >= 3)
    select b.w1, b.w2, b.cnt,
           ln(cast(cast(b.cnt AS hugeint) * nu.nu * nu.nu AS double)
              / cast(nb.nb * cast(u1.c AS hugeint)
                     * cast(u2.c AS hugeint) AS double)) AS pmi
    from bc b
    join uc u1 on b.w1 = u1.w
    join uc u2 on b.w2 = u2.w, nu, nb
    """
    # retention dry run: same cutoff arithmetic, strict day < cutoff
    sql["retention_preview"] = """
    select strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS n_rows,
           case when strftime(date_trunc('day', ts), '%Y-%m-%d')
                     < '2024-01-11' then 'drop' else 'keep' end AS action
    from events group by 1
    """
    # LTTB-from-M4 composition: 1h M4 candidates from raw (the m4_1h
    # construction; exact merge makes 1m->1h == direct 1h), distinct
    # points, then the exact-integer LTTB over the candidate frame
    sql["lttb_from_m4"] = """
    with src0 as (select event_type AS source,
                         cast(floor(epoch_us(ts) / 3600000000) AS bigint)
                           * 3600000000 AS bus,
                         epoch_us(ts) AS us, value AS v
                  from events where value is not null),
    a as (select source, bus, count(*) AS n_points,
                 min(us) AS usf, max(us) AS usl,
                 min(v) AS v_min, max(v) AS v_max
          from src0 group by source, bus),
    vf as (select s.source, s.bus, min(s.v) AS v_first
           from src0 s join a on s.source=a.source and s.bus=a.bus
            and s.us=a.usf group by s.source, s.bus),
    vl as (select s.source, s.bus, max(s.v) AS v_last
           from src0 s join a on s.source=a.source and s.bus=a.bus
            and s.us=a.usl group by s.source, s.bus),
    tm as (select s.source, s.bus, min(s.us) AS tmin
           from src0 s join a on s.source=a.source and s.bus=a.bus
            and s.v=a.v_min group by s.source, s.bus),
    tx as (select s.source, s.bus, max(s.us) AS tmax
           from src0 s join a on s.source=a.source and s.bus=a.bus
            and s.v=a.v_max group by s.source, s.bus),
    cand as (
      select a.source, a.usf AS us, vf.v_first AS v
        from a join vf on a.source=vf.source and a.bus=vf.bus
      union all
      select a.source, a.usl, vl.v_last
        from a join vl on a.source=vl.source and a.bus=vl.bus
      union all
      select a.source, tm.tmin, a.v_min
        from a join tm on a.source=tm.source and a.bus=tm.bus
      union all
      select a.source, tx.tmax, a.v_max
        from a join tx on a.source=tx.source and a.bus=tx.bus),
    pts as (select distinct source, us, v from cand),
    g0 as (select min(us) AS m from pts),
    src as (select source,
                   cast(us - g0.m AS hugeint) AS x,
                   cast(floor(us / 21600000000) AS bigint)
                     * 21600000000 AS bus,
                   v, cast(round(v * 1000) AS hugeint) AS y
            from pts, g0),
    sums as (select source, bus, count(*) AS n,
                    sum(x) AS sx, sum(y) AS sy
             from src group by source, bus),
    anch as (select source, bus, n,
                    lag(n) over w AS na, lag(sx) over w AS sxa,
                    lag(sy) over w AS sya,
                    lead(n) over w AS nb, lead(sx) over w AS sxb,
                    lead(sy) over w AS syb
             from sums window w as (partition by source order by bus)),
    j as (select s.source, s.bus, a.n, s.x, s.v,
                 case when a.na is null or a.nb is null
                      then cast(0 AS hugeint)
                      else -abs((s.x*a.na - a.sxa)
                                  * (a.syb*a.na - a.sya*a.nb)
                                - (a.sxb*a.na - a.sxa*a.nb)
                                  * (s.y*a.na - a.sya))
                 end AS o1,
                 case when a.nb is null then -s.x else s.x end AS o2
          from src s join anch a on s.source=a.source and s.bus=a.bus),
    r as (select *, row_number() over
            (partition by source, bus order by o1, o2, v) AS rn from j)
    select source, make_timestamp(bus) AS bucket_start, n AS n_points,
           make_timestamp(cast(x + (select m from g0) AS bigint))
             AS t_sel,
           v AS v_sel
    from r where rn = 1
    """
    # Holt backtest: list_reduce with a flat [l, t, se, sn, prev] LIST
    # accumulator (the holt_daily pattern); score-then-consume order,
    # repr-interpolated coefficients, fold order fixed by list(ORDER BY)
    sql["forecast_backtest"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 86400000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    a as (select g, count(*) AS n_days,
                 list_reduce(
                   list_transform(list(c order by h),
                     x -> [cast(x AS double), 0.0, 0.0, 0.0,
                           cast(x AS double)]),
                   (acc, e) -> [
                     0.3 * e[1] + 0.7 * (acc[1] + acc[2]),
                     0.1 * ((0.3 * e[1] + 0.7 * (acc[1] + acc[2]))
                            - acc[1]) + 0.9 * acc[2],
                     acc[3] + abs(e[1] - (acc[1] + acc[2])),
                     acc[4] + abs(e[1] - acc[5]),
                     e[1]]) AS r
          from sig group by g)
    select g, n_days,
           r[3] / (n_days - 1) AS mae_model,
           r[4] / (n_days - 1) AS mae_naive,
           case when r[4] > 0 then round(r[3] / r[4], 9) end AS mase
    from a where n_days >= 2
    """
    # seasonal strength: one-way-ANOVA identity on the zero-filled
    # hourly count signal (xcorr's spine); exact integer moments in
    sql["seasonal_strength"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h % 24 AS hod, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    perh as (select g, hod, count(*) AS n_h, sum(c) AS s_h
             from sig group by 1, 2),
    a as (select g, sum(cast(s_h AS double) * cast(s_h AS double)
                        / n_h) AS a
          from perh group by 1),
    tot as (select g, count(*) AS n_buckets, sum(c) AS s,
                   sum(c * c) AS q
            from sig group by 1)
    select t.g, t.n_buckets,
           round((a.a - cast(t.s AS double) * cast(t.s AS double)
                          / t.n_buckets)
                 / (cast(t.q AS double)
                    - cast(t.s AS double) * cast(t.s AS double)
                      / t.n_buckets), 6) AS strength
    from tot t join a using (g)
    where cast(t.q AS double)
          - cast(t.s AS double) * cast(t.s AS double) / t.n_buckets > 0
    """
    # corpus diff: direct string comparison (md5 equality == string
    # equality); same NULL-coalesce convention both sides
    sql["corpus_diff"] = """
    with old as (select doc_id, coalesce(text, '') AS t from documents),
    newb as (select doc_id,
                    case when doc_id % 13 = 0
                         then coalesce(upper(text), '')
                         else coalesce(text, '') end AS t
             from documents where doc_id % 11 <> 0),
    newa as (select doc_id + 1000000 AS doc_id, coalesce(text, '') AS t
             from documents where doc_id % 17 = 0),
    nw as (select * from newb union all select * from newa)
    select coalesce(o.doc_id, n.doc_id) AS doc_id,
           case when o.doc_id is null then 'added'
                when n.doc_id is null then 'removed'
                when o.t <> n.t then 'modified' end AS status
    from old o full outer join nw n on o.doc_id = n.doc_id
    where o.doc_id is null or n.doc_id is null or o.t <> n.t
    """
    # phrase search: the oracle is the full-scan word-boundary
    # containment the index-served path replaces
    sql["phrase_search"] = """
    select doc_id from documents
    where text is not null
      and contains(' ' || array_to_string(
                      regexp_split_to_array(text, '\\s+'), ' ') || ' ',
                   ' slow hash batch ')
    """
    # entropy/KL: formula-level mirror (the c*ln c sums are the only
    # order-dependent float reductions; rounded to 6 both sides)
    sql["source_entropy"] = """
    with c as (select g, w, count(*) AS c
               from (select source AS g,
                            unnest(regexp_split_to_array(text, '\\s+')) AS w
                     from documents where text is not null)
               group by 1, 2),
    t as (select w, sum(c) AS tc from c group by 1),
    n as (select cast(sum(tc) AS double) AS nn from t)
    select c.g, cast(sum(c.c) AS bigint) AS n_tok,
           count(*) AS vocab,
           round(ln(sum(c.c)) - sum(c.c * ln(c.c)) / sum(c.c), 6)
             AS entropy,
           round(sum(c.c * ln(c.c)) / sum(c.c) - ln(sum(c.c))
                 - sum(c.c * ln(t.tc)) / sum(c.c) + ln(n.nn), 6)
             AS kl_vs_corpus
    from c join t using (w), n
    group by c.g, n.nn
    """
    # join blowup: exact inner-join size from the two key-count tables;
    # worst key picked by (p desc, k desc) = the engine's max(struct)
    sql["join_blowup"] = """
    with a as (select cast(user_id AS varchar) AS k, count(*) AS ca
               from events where event_type = 'view' group by 1),
    b as (select cast(user_id AS varchar) AS k, count(*) AS cb
          from events where event_type = 'purchase' group by 1),
    j as (select a.k,
                 cast(ca AS hugeint) * cast(cb AS hugeint) AS p
          from a join b using (k)),
    mx as (select p, k from j order by p desc, k desc limit 1)
    select cast((select sum(ca) from a) AS bigint) AS n_left,
           cast((select sum(cb) from b) AS bigint) AS n_right,
           (select count(*) from j) AS n_keys_matched,
           (select cast(sum(p) AS double) from j) AS est_rows,
           cast(mx.p AS double) AS max_key_product,
           mx.k AS max_key,
           round((select cast(sum(p) AS double) from j)
                 / cast(greatest((select sum(ca) from a),
                                 (select sum(cb) from b)) AS double),
                 6) AS amplification
    from mx
    """
    # source overlap: k=2 shingles with kgrams' truncated-window rule
    # (toks[i:i+1], i up to greatest(len-1, 1)); zero-overlap pairs kept
    sql["source_overlap"] = """
    with d as (select source, regexp_split_to_array(text, '\\s+') AS toks
               from documents where text is not null),
    sh as (select distinct source AS g,
                  unnest([array_to_string(toks[i:i+1], ' ')
                          for i in range(1, greatest(len(toks) - 1, 1) + 1)])
                    AS sh
           from d),
    sizes as (select g, count(*) AS n from sh group by g),
    inter as (select a.g AS a, b.g AS b, count(*) AS inter
              from sh a join sh b on a.sh = b.sh and a.g < b.g
              group by 1, 2),
    allp as (select sa.g AS a, sa.n AS n_a, sb.g AS b, sb.n AS n_b
             from sizes sa, sizes sb where sa.g < sb.g)
    select allp.a, allp.b, allp.n_a, allp.n_b,
           coalesce(inter.inter, 0) AS inter,
           round(coalesce(inter.inter, 0) * 1.0
                 / (allp.n_a + allp.n_b - coalesce(inter.inter, 0)),
                 9) AS jaccard
    from allp left join inter on allp.a = inter.a and allp.b = inter.b
    """
    # KS drift: exact hugeint CDF-gap numerators; tie rule = largest
    # bin among max numerators (mirrors the engine's struct-max)
    # interval merge: running-max sweep on exact epoch micros
    sql["merge_intervals"] = """
    with iv as (select event_type AS source,
                       epoch_us(ts) AS s,
                       epoch_us(ts) + 120000000 AS e,
                       ts AS st,
                       ts + interval 120 second AS et
                from events),
    g as (select source, s, e, st, et,
                 max(e) over (partition by source order by s, e
                     rows between unbounded preceding
                              and 1 preceding) AS mx
          from iv),
    f as (select source, s, e, st, et,
                 case when mx is null or s > mx
                      then 1 else 0 end AS nw
          from g),
    c as (select source, st, et,
                 sum(nw) over (partition by source order by s, e
                     rows between unbounded preceding
                              and current row) AS grp
          from f)
    select source, min(st) AS start, max(et) AS "end",
           cast(count(*) AS bigint) AS n_merged
    from c group by source, grp
    """
    # Cliff's delta: exact 2U midrank identity, one division, Romano
    # magnitude buckets on the fenced value
    sql["cliffs_delta"] = """
    with ha as (select event_type AS source,
                       cast(round(value) AS bigint) AS bin,
                       count(*) AS ca
                from events where ts < '2024-01-15' group by 1, 2),
    hb as (select event_type AS source,
                  cast(round(value) AS bigint) AS bin,
                  count(*) AS cb
           from events where ts >= '2024-01-15' group by 1, 2),
    j as (select coalesce(ha.source, hb.source) AS source,
                 coalesce(ha.bin, hb.bin) AS bin,
                 cast(coalesce(ca, 0) AS hugeint) AS ca,
                 cast(coalesce(cb, 0) AS hugeint) AS cb
          from ha full outer join hb
            on ha.source = hb.source and ha.bin = hb.bin),
    pb as (select source, ca, cb, ca + cb AS t,
                  coalesce(sum(ca + cb) over (
                      partition by source order by bin
                      rows between unbounded preceding
                               and 1 preceding), 0) AS cum_lt
           from j),
    g as (select source, sum(ca) AS n_a, sum(cb) AS n_b,
                 sum(ca * (2 * cum_lt + t + 1)) AS r2
          from pb group by source),
    d as (select source, n_a, n_b,
                 case when n_a * n_b > 0 then
                   round(cast(r2 - n_a * (n_a + 1) - n_a * n_b
                              AS double)
                         / cast(n_a * n_b AS double), 9)
                 end AS delta
          from g)
    select source, cast(n_a AS bigint) AS n_a,
           cast(n_b AS bigint) AS n_b, delta,
           case when delta is not null then
             case when abs(delta) < 0.147 then 'negligible'
                  when abs(delta) < 0.33 then 'small'
                  when abs(delta) < 0.474 then 'medium'
                  else 'large' end
           end AS magnitude
    from d
    """
    # CvM drift: exact-integer d_j per pooled bin, chi2-rule squares,
    # one division, 6dp fence, 0.461 asymptotic gate
    sql["cvm_drift"] = """
    with ha as (select event_type AS source,
                       cast(round(value) AS bigint) AS bin,
                       count(*) AS ca
                from events where ts < '2024-01-15' group by 1, 2),
    hb as (select event_type AS source,
                  cast(round(value) AS bigint) AS bin,
                  count(*) AS cb
           from events where ts >= '2024-01-15' group by 1, 2),
    j as (select coalesce(ha.source, hb.source) AS source,
                 coalesce(ha.bin, hb.bin) AS bin,
                 coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
          from ha full outer join hb
            on ha.source = hb.source and ha.bin = hb.bin),
    cum as (select source, bin,
                   cast(ca + cb AS hugeint) AS h,
                   cast(sum(ca) over (partition by source order by bin)
                        AS hugeint) AS cca,
                   cast(sum(cb) over (partition by source order by bin)
                        AS hugeint) AS ccb
            from j),
    tot as (select source, cast(sum(ca) AS bigint) AS n_a,
                   cast(sum(cb) AS bigint) AS n_b
            from j group by source),
    sc as (select c.source,
                  cast(c.h AS double)
                    * cast(c.cca * t.n_b - c.ccb * t.n_a AS double)
                    * cast(c.cca * t.n_b - c.ccb * t.n_a AS double)
                    AS term,
                  t.n_a, t.n_b
           from cum c join tot t using (source)),
    agg as (select source, max(n_a) AS n_a, max(n_b) AS n_b,
                   sum(term) AS s
            from sc group by source),
    fin as (select source, n_a, n_b,
                   case when n_a > 0 and n_b > 0 then
                     round(s / (cast(cast(n_a AS hugeint)
                                     * n_b AS double)
                                * cast(cast(n_a + n_b AS hugeint)
                                       * (n_a + n_b) AS double)), 6)
                   end AS cvm
            from agg)
    select source, n_a, n_b, cvm,
           case when cvm is not null
                then cast(cvm > 0.461 AS int) end AS drifted
    from fin
    """
    sql["ks_drift"] = """
    with ha as (select event_type AS source,
                       cast(round(value) AS bigint) AS bin,
                       count(*) AS ca
                from events where ts < '2024-01-15' group by 1, 2),
    hb as (select event_type AS source,
                  cast(round(value) AS bigint) AS bin,
                  count(*) AS cb
           from events where ts >= '2024-01-15' group by 1, 2),
    j as (select coalesce(ha.source, hb.source) AS source,
                 coalesce(ha.bin, hb.bin) AS bin,
                 coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
          from ha full outer join hb
            on ha.source = hb.source and ha.bin = hb.bin),
    cum as (select source, bin,
                   cast(sum(ca) over (partition by source order by bin)
                        AS hugeint) AS cca,
                   cast(sum(cb) over (partition by source order by bin)
                        AS hugeint) AS ccb
            from j),
    tot as (select source, cast(sum(ca) AS bigint) AS n_a,
                   cast(sum(cb) AS bigint) AS n_b
            from j group by source),
    sc as (select c.source, c.bin,
                  abs(c.cca * t.n_b - c.ccb * t.n_a) AS num,
                  t.n_a, t.n_b
           from cum c join tot t using (source)),
    best as (select source, max(num) AS mnum from sc group by source),
    pick as (select sc.source, max(sc.n_a) AS n_a, max(sc.n_b) AS n_b,
                    max(best.mnum) AS mnum, max(sc.bin) AS at_bin
             from sc join best on sc.source = best.source
                               and sc.num = best.mnum
             group by sc.source)
    select source, n_a, n_b,
           cast(mnum AS double)
             / cast(cast(n_a AS hugeint) * cast(n_b AS hugeint)
                    AS double) AS ks_d,
           at_bin,
           cast(round(cast(mnum AS double)
                      / cast(cast(n_a AS hugeint) * cast(n_b AS hugeint)
                             AS double), 9)
                > round(1.358 * sqrt(cast(n_a + n_b AS double)
                        / cast(cast(n_a AS hugeint) * cast(n_b AS hugeint)
                               AS double)), 9) AS int) AS drifted
    from pick
    """
    # Mann-Whitney: doubled rank sums off the bin table (2R/2U exact
    # hugeint), tie-corrected variance from exact integer pieces, one
    # fixed-order double combine to the continuity-corrected z
    sql["mann_whitney"] = """
    with ha as (select event_type AS source,
                       cast(round(value) AS bigint) AS bin,
                       count(*) AS ca
                from events where ts < '2024-01-15' group by 1, 2),
    hb as (select event_type AS source,
                  cast(round(value) AS bigint) AS bin,
                  count(*) AS cb
           from events where ts >= '2024-01-15' group by 1, 2),
    j as (select coalesce(ha.source, hb.source) AS source,
                 coalesce(ha.bin, hb.bin) AS bin,
                 cast(coalesce(ca, 0) AS hugeint) AS ca,
                 cast(coalesce(cb, 0) AS hugeint) AS cb
          from ha full outer join hb
            on ha.source = hb.source and ha.bin = hb.bin),
    pb as (select source, ca, cb, ca + cb AS t,
                  coalesce(sum(ca + cb) over (
                      partition by source order by bin
                      rows between unbounded preceding and 1 preceding),
                    0) AS cum_lt
           from j),
    g as (select source,
                 sum(ca) AS n_a, sum(cb) AS n_b,
                 sum(ca * (2 * cum_lt + t + 1)) AS r2,
                 sum(t * t * t - t) AS tt
          from pb group by source),
    d as (select source, n_a, n_b,
                 r2 - n_a * (n_a + 1) AS u2,
                 r2 - n_a * (n_a + 1) - n_a * n_b AS d2,
                 (n_a + n_b) * (n_a + n_b) * (n_a + n_b)
                   - (n_a + n_b) - tt AS var_num,
                 cast(n_a * n_b AS double) * cast(
                     (n_a + n_b) * (n_a + n_b) * (n_a + n_b)
                     - (n_a + n_b) - tt AS double)
                   / cast(12 * (n_a + n_b)
                          * (n_a + n_b - 1) AS double) AS var_s
          from g),
    zz as (select source, n_a, n_b, u2,
                  case when n_a * n_b > 0 and var_num > 0
                       then round(case
                           when d2 > 0 then cast(d2 - 1 AS double)
                                / (2 * sqrt(var_s))
                           when d2 < 0 then cast(d2 + 1 AS double)
                                / (2 * sqrt(var_s))
                           else 0.0 end, 9)
                  end AS z
           from d)
    select source, cast(n_a AS bigint) AS n_a, cast(n_b AS bigint) AS n_b,
           cast(u2 AS double) / 2.0 AS u_a, z,
           cast(round(abs(z), 9) > 1.96 AS int) AS shifted
    from zz
    """
    # Mann-Kendall: exact integer S and tie-corrected variance
    # numerator; continuity-corrected z, NULL at zero variance
    sql["mann_kendall"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    s as (select a.g, cast(sum(sign(b.c - a.c)) AS bigint) AS s_stat
          from sig a join sig b on a.g = b.g and b.h > a.h group by a.g),
    nb as (select g, count(*) AS n_buckets from sig group by g),
    tie as (select g, sum(t * (t - 1) * (2 * t + 5)) AS tt
            from (select g, c, count(*) AS t from sig group by g, c)
            group by g)
    select nb.g, nb.n_buckets, s.s_stat,
           (nb.n_buckets * (nb.n_buckets - 1) * (2 * nb.n_buckets + 5)
            - tie.tt) / 18.0 AS var_s,
           case when (nb.n_buckets * (nb.n_buckets - 1)
                      * (2 * nb.n_buckets + 5) - tie.tt) > 0
                then round(case
                    when s.s_stat > 0 then (s.s_stat - 1)
                      / sqrt((nb.n_buckets * (nb.n_buckets - 1)
                              * (2 * nb.n_buckets + 5) - tie.tt) / 18.0)
                    when s.s_stat < 0 then (s.s_stat + 1)
                      / sqrt((nb.n_buckets * (nb.n_buckets - 1)
                              * (2 * nb.n_buckets + 5) - tie.tt) / 18.0)
                    else 0.0 end, 9)
           end AS z
    from nb join s using (g) join tie using (g)
    """
    # Heaps fit: one-pass nested dyadic samples (token enters at
    # fu = min doc u), zipf-style OLS of ln V on ln n
    sql["heaps_fit"] = """
    with d as (select source, doc_id, text,
                      cast(('0x' || substr(md5('5|'
                          || CAST(doc_id AS VARCHAR)), 1, 8))
                           as bigint) / 4294967296.0 AS u
               from documents where text is not null),
    toks as (select source, u,
                    unnest(regexp_split_to_array(text, '\\s+')) AS tok
             from d),
    tokmin as (select source, tok, min(u) AS fu
               from toks group by 1, 2),
    lad as (select unnest([0.0625, 0.125, 0.25, 0.5, 1.0]) AS f),
    vf as (select t.source, l.f, count(*) AS v
           from tokmin t, lad l where t.fu < l.f group by 1, 2),
    docn as (select source, u,
                    len(regexp_split_to_array(text, '\\s+')) AS nt
             from d),
    nf as (select d2.source, l.f, sum(nt) AS n
           from docn d2, lad l where d2.u < l.f group by 1, 2),
    pts as (select vf.source, ln(cast(nf.n AS double)) AS x,
                   ln(cast(vf.v AS double)) AS y
            from vf join nf on vf.source = nf.source
                           and vf.f = nf.f),
    g as (select source, cast(count(*) AS bigint) AS n_rungs,
                 sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                 sum(x * x) AS sxx, sum(y * y) AS syy
          from pts group by source)
    select source, n_rungs,
           case when cast(n_rungs AS double) * sxx - sx * sx > 0
                then round((cast(n_rungs AS double) * sxy - sx * sy)
                     / (cast(n_rungs AS double) * sxx - sx * sx), 6)
           end AS beta,
           case when cast(n_rungs AS double) * sxx - sx * sx > 0
                then round((sy - ((cast(n_rungs AS double) * sxy
                                   - sx * sy)
                                  / (cast(n_rungs AS double) * sxx
                                     - sx * sx)) * sx)
                           / cast(n_rungs AS double), 6)
           end AS ln_k,
           case when cast(n_rungs AS double) * sxx - sx * sx > 0
                 and cast(n_rungs AS double) * syy - sy * sy > 0
                then round((cast(n_rungs AS double) * sxy - sx * sy)
                           * (cast(n_rungs AS double) * sxy - sx * sy)
                           / ((cast(n_rungs AS double) * sxx - sx * sx)
                              * (cast(n_rungs AS double) * syy
                                 - sy * sy)), 6)
           end AS r2
    from g
    """
    # Sen slope CI: order statistics of the pairwise-slope multiset at
    # the MK-variance-derived ranks
    sql["sen_slope_ci"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    slopes as (select a.g,
                      cast(b.c - a.c AS double)
                        / cast(b.h - a.h AS double) AS s
               from sig a join sig b on a.g = b.g and b.h > a.h),
    rk as (select g, s,
                  row_number() over (partition by g order by s) AS rn
           from slopes),
    nb as (select g, cast(count(*) AS hugeint) AS n from sig group by g),
    tie as (select g, sum(t * (t - 1) * (2 * t + 5)) AS tt
            from (select g, c, count(*) AS t from sig group by g, c)
            group by g),
    med as (select g, count(*) AS np, median(s) AS sen_slope
            from slopes group by g),
    ix as (select nb.g,
                  cast(nb.n * (nb.n - 1) / 2 AS bigint) AS n_pairs,
                  nb.n * (nb.n - 1) * (2 * nb.n + 5) - tie.tt AS vn,
                  round(1.96 * sqrt(cast(nb.n * (nb.n - 1)
                      * (2 * nb.n + 5) - tie.tt AS double) / 18.0),
                      9) AS ch
           from nb join tie using (g)),
    ix2 as (select g, n_pairs, vn,
                   greatest(1, cast(floor(
                       (cast(n_pairs AS double) - ch) / 2)
                       AS bigint) + 1) AS lor,
                   least(n_pairs, cast(ceil(
                       (cast(n_pairs AS double) + ch) / 2)
                       AS bigint)) AS hir
            from ix),
    lo as (select r.g, r.s AS lo from rk r
           join ix2 on r.g = ix2.g and r.rn = ix2.lor),
    hi as (select r.g, r.s AS hi from rk r
           join ix2 on r.g = ix2.g and r.rn = ix2.hir)
    select ix2.g, ix2.n_pairs, med.sen_slope,
           case when vn > 0 then lo.lo end AS lo,
           case when vn > 0 then hi.hi end AS hi,
           case when vn > 0
                then cast(lo.lo > 0 or hi.hi < 0 AS int)
           end AS significant
    from ix2
    join med on ix2.g = med.g
    left join lo on ix2.g = lo.g
    left join hi on ix2.g = hi.g
    """
    # KPSS level test: ONE exact-integer ratio via n*S_t = n*cum - t*s
    sql["kpss_level"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    rows_ as (select g, h, c,
                     sum(c) over (partition by g order by h
                         rows between unbounded preceding
                                  and current row) AS cum,
                     sum(c) over (partition by g) AS s,
                     count(*) over (partition by g) AS n,
                     row_number() over (partition by g
                                        order by h) AS t
              from sig),
    ns as (select g, n, s, c,
                  cast(n AS hugeint) * cum
                    - cast(t AS hugeint) * s AS nst
           from rows_),
    agg as (select g, cast(max(n) AS hugeint) AS n,
                   cast(max(s) AS hugeint) AS s,
                   sum(cast(c AS hugeint) * c) AS q,
                   sum(nst * nst) AS ss2
            from ns group by g),
    fin as (select g, n, ss2,
                   n * n * (n * q - s * s) AS den
            from agg)
    select g, cast(n AS bigint) AS n,
           case when den > 0 then
             round(cast(ss2 AS double) / cast(den AS double), 9)
           end AS kpss,
           case when den > 0 then
             cast(round(cast(ss2 AS double) / cast(den AS double), 9)
                  <= 0.463 AS int)
           end AS stationary
    from fin
    """
    # Hurst R/S: dyadic scales, exact-integer chunk ratios, OLS of
    # ln(mean R/S) on ln(w)
    sql["hurst_rs"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    pos as (select g, h, c,
                   h - min(h) over (partition by g) AS pos,
                   count(*) over (partition by g) AS n
            from sig),
    gn as (select g, max(n) AS n from pos group by g),
    scales as (select g, 8 * (1::bigint << j.j) AS w
               from gn, unnest(range(0, 41)) AS j(j)
               where 4 * (8 * (1::bigint << j.j)) <= n),
    ch as (select p.g, p.h, p.c, s.w,
                  p.pos // s.w AS chunk,
                  p.pos % s.w + 1 AS t
           from pos p join scales s on p.g = s.g
           where (p.pos // s.w + 1) * s.w <= p.n),
    win as (select g, w, chunk, t,
                   sum(c) over (partition by g, w, chunk order by h
                       rows between unbounded preceding
                                and current row) AS cum,
                   sum(c) over (partition by g, w, chunk) AS s,
                   sum(cast(c AS hugeint) * c)
                     over (partition by g, w, chunk) AS q
            from ch),
    z as (select g, w, chunk, s, q,
                 cast(w AS hugeint) * cum
                   - cast(t AS hugeint) * s AS zint
          from win),
    pc as (select g, w, chunk,
                  max(zint) - min(zint) AS rng,
                  cast(w AS hugeint) * max(q)
                    - cast(max(s) AS hugeint) * max(s) AS den2
           from z group by g, w, chunk),
    rs as (select g, w,
                  round(cast(rng AS double)
                        / sqrt(cast(den2 AS double)), 9) AS rs
           from pc where den2 > 0),
    ps as (select g, w, round(avg(rs), 6) AS mrs
           from rs group by g, w),
    pts as (select g, ln(cast(w AS double)) AS x, ln(mrs) AS y
            from ps where mrs > 0),
    nb as (select g, count(*) AS n_buckets from sig group by g),
    ols as (select g, cast(count(*) AS bigint) AS n_scales,
                   sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                   sum(x * x) AS sxx, sum(y * y) AS syy
            from pts group by g)
    select nb.g, cast(nb.n_buckets AS bigint) AS n_buckets,
           ols.n_scales,
           case when cast(n_scales AS double) * sxx - sx * sx > 0
                then round((cast(n_scales AS double) * sxy - sx * sy)
                           / (cast(n_scales AS double) * sxx - sx * sx),
                           6)
           end AS hurst,
           case when cast(n_scales AS double) * sxx - sx * sx > 0
                 and cast(n_scales AS double) * syy - sy * sy > 0
                then round((cast(n_scales AS double) * sxy - sx * sy)
                           * (cast(n_scales AS double) * sxy - sx * sy)
                           / ((cast(n_scales AS double) * sxx - sx * sx)
                              * (cast(n_scales AS double) * syy
                                 - sy * sy)), 6)
           end AS r2
    from nb join ols using (g)
    """
    # Seasonal MK (Hirsch-Slack): same-phase pairs only, per-season
    # exact variance numerators summed before ONE /18
    sql["seasonal_mk"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, s.h % 24 AS m, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    s as (select a.g, cast(sum(sign(b.c - a.c)) AS bigint) AS s_stat
          from sig a join sig b
            on a.g = b.g and a.m = b.m and b.h > a.h
          group by a.g),
    per as (select g, m, sum(t) AS n_m,
                   sum(t * (t - 1) * (2 * t + 5)) AS tt_m
            from (select g, m, c, count(*) AS t
                  from sig group by g, m, c)
            group by g, m),
    v as (select g,
                 sum(n_m * (n_m - 1) * (2 * n_m + 5) - tt_m) AS var_num,
                 cast(sum(n_m) AS bigint) AS n_buckets,
                 cast(count(*) AS bigint) AS n_seasons
          from per group by g),
    fin as (select v.g, n_buckets, n_seasons, s_stat,
                   var_num / 18.0 AS var_s,
                   case when var_num > 0 then
                     case when s_stat > 0
                          then round((s_stat - 1) / sqrt(var_num / 18.0), 9)
                          when s_stat < 0
                          then round((s_stat + 1) / sqrt(var_num / 18.0), 9)
                          else 0.0 end
                   end AS z
            from v join s on v.g = s.g)
    select g, n_buckets, n_seasons, s_stat, var_s, z,
           case when z is not null
                then cast(abs(z) > 1.96 AS int) end AS significant
    from fin
    """
    # ACF: cleared denominators — d_t = n*c_t - S exact hugeint, one
    # division per (g, lag)
    sql["acf_lags"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    tot as (select g, count(*) AS n_buckets,
                   cast(sum(c) AS hugeint) AS s
            from sig group by g),
    dd as (select sig.g, sig.h, tot.n_buckets,
                  cast(tot.n_buckets AS hugeint) * sig.c - tot.s AS d
           from sig join tot using (g)),
    den as (select g, max(n_buckets) AS n_buckets,
                   sum(d * d) AS den from dd group by g),
    lags as (select cast(unnest(range(1, 7)) AS int) AS lag),
    num as (select a.g, l.lag, sum(a.d * b.d) AS num
            from dd a cross join lags l
            join dd b on b.g = a.g and b.h = a.h - l.lag
            group by a.g, l.lag)
    select num.g, num.lag, den.n_buckets,
           cast(num.num AS double) / cast(den.den AS double) AS r
    from num join den using (g)
    where den.den > 0
    """
    # Fano: exact hugeint (n*Q - S^2)/(n*S) over the zero-filled spine
    sql["fano_dispersion"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    t as (select g, count(*) AS n_buckets,
                 cast(sum(c) AS hugeint) AS s,
                 cast(sum(cast(c AS hugeint) * c) AS hugeint) AS q
          from sig group by g)
    select g, n_buckets,
           round(cast(s AS double) / cast(n_buckets AS double), 9)
             AS mean_c,
           case when s > 0 then
             round(cast(n_buckets * q - s * s AS double)
                   / cast(n_buckets * s AS double), 9) end AS fano,
           case when s > 0 then
             cast(round(cast(n_buckets * q - s * s AS double)
                        / cast(n_buckets * s AS double), 9) > 1.0
                  AS int) end AS over_dispersed
    from t
    """
    # dominant period: argmax ACF lag in [2, 30] over the same ACF
    # construction; exact-double equality join for the pick, smallest
    # lag on ties, 9dp-rounded white-noise fence verdict
    sql["dominant_period"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    tot as (select g, count(*) AS n_buckets,
                   cast(sum(c) AS hugeint) AS s
            from sig group by g),
    dd as (select sig.g, sig.h, tot.n_buckets,
                  cast(tot.n_buckets AS hugeint) * sig.c - tot.s AS d
           from sig join tot using (g)),
    den as (select g, max(n_buckets) AS n_buckets,
                   sum(d * d) AS den from dd group by g),
    lags as (select cast(unnest(range(2, 31)) AS int) AS lag),
    acfq as (select a.g, l.lag, den.n_buckets,
                    cast(sum(a.d * b.d) AS double)
                      / cast(max(den.den) AS double) AS r
             from dd a cross join lags l
             join dd b on b.g = a.g and b.h = a.h - l.lag
             join den on den.g = a.g
             where den.den > 0
             group by a.g, l.lag, den.n_buckets),
    best as (select g, max(r) AS r, max(n_buckets) AS n_buckets
             from acfq group by g),
    pick as (select a.g, min(a.lag) AS period
             from acfq a join best on a.g = best.g and a.r = best.r
             group by a.g)
    select best.g, best.n_buckets, pick.period, best.r,
           cast(round(best.r, 9)
                > round(1.96 / sqrt(cast(best.n_buckets AS double)), 9)
                AS int) AS significant
    from best join pick using (g)
    """
    # classical additive decomposition, P=24 even: 2xP-MA trend as the
    # exact integer T2 = S1 + S2 (the two 24-row windows offset by
    # one) / 48; seasonal = per-phase mean of det2p = 48c - T2 minus
    # the global interior mean (both exact-integer ratios, 9dp); resid
    # on the rounded parts; edge buckets without full windows NULL
    _STL = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    tr as (select g, h, c, h % 24 AS phase,
                  case when count(*) over w1 = 24
                        and count(*) over w2 = 24
                       then cast(sum(c) over w1 AS hugeint)
                          + cast(sum(c) over w2 AS hugeint) end AS t2
           from sig
           window w1 as (partition by g order by h
                         rows between 12 preceding and 11 following),
                  w2 as (partition by g order by h
                         rows between 11 preceding and 12 following)),
    base as (select *, 48 * cast(c AS hugeint) - t2 AS det2p from tr),
    ph as (select g, phase, sum(det2p) AS sd, count(det2p) AS nd
           from base group by 1, 2),
    tot as (select g, sum(det2p) AS sa, count(det2p) AS na
            from base group by 1),
    seas as (select ph.g, ph.phase,
                    case when nd > 0 and na > 0 then
                      round(cast(sd AS double) / (48.0 * nd)
                            - cast(sa AS double) / (48.0 * na), 9)
                    end AS seasonal
             from ph join tot using (g)),
    stldec as (select b.g, b.h, b.c, b.phase,
                      round(cast(b.t2 AS double) / 48.0, 9) AS trend,
                      s.seasonal,
                      round(cast(b.c AS double)
                            - round(cast(b.t2 AS double) / 48.0, 9)
                            - s.seasonal, 9) AS resid
               from base b
               left join seas s on s.g = b.g and s.phase = b.phase)"""
    sql["stl_decompose"] = _STL + """
    select g, h, c, phase, trend, seasonal, resid from stldec
    """
    # S-H-ESD one-shot core: modified z = 0.6745 (resid - med) / MAD
    # over stldec's interior residuals; median/MAD are continuous
    # 0.5-quantiles (selection, not summation) of the engine-identical
    # residual multiset; MAD == 0 series emit nothing by rule
    sql["stl_anomaly"] = _STL + """,
    interior as (select * from stldec where resid is not null),
    med as (select g, quantile_cont(resid, 0.5) AS med
            from interior group by g),
    fence as (select i.g,
                     quantile_cont(abs(i.resid - m.med), 0.5) AS mad,
                     max(m.med) AS med
              from interior i join med m using (g) group by i.g),
    scored as (select i.*,
                      case when f.mad > 0 then
                        round(0.6745 * (i.resid - f.med) / f.mad, 9)
                      end AS mz
               from interior i join fence f using (g))
    select g, h, c, phase, trend, seasonal, resid, mz
    from scored where abs(mz) > 3.5
    """
    # Ljung-Box Q over the same ACF construction, rounded 6dp
    sql["ljung_box"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    tot as (select g, count(*) AS n_buckets,
                   cast(sum(c) AS hugeint) AS s
            from sig group by g),
    dd as (select sig.g, sig.h, tot.n_buckets,
                  cast(tot.n_buckets AS hugeint) * sig.c - tot.s AS d
           from sig join tot using (g)),
    den as (select g, max(n_buckets) AS n_buckets,
                   sum(d * d) AS den from dd group by g),
    lags as (select cast(unnest(range(1, 7)) AS int) AS lag),
    acf as (select a.g, l.lag, den.n_buckets,
                   cast(sum(a.d * b.d) AS double)
                     / cast(den.den AS double) AS r
            from dd a cross join lags l
            join dd b on b.g = a.g and b.h = a.h - l.lag
            join den on den.g = a.g
            where den.den > 0
            group by a.g, l.lag, den.n_buckets, den.den)
    select g, max(n_buckets) AS n_buckets,
           cast(count(*) AS int) AS k_lags,
           round(max(cast(n_buckets AS double)
                     * (cast(n_buckets AS double) + 2.0))
                 * sum(r * r / (cast(n_buckets AS double)
                                - cast(lag AS double))), 6) AS q
    from acf group by g
    """
    # tier-served monitors: counts re-aggregated from the 1m tier are
    # integer-exact, so the oracles ARE the raw constructions
    sql["theil_sen_tiered"] = sql["theil_sen"]
    sql["acf_tiered"] = sql["acf_lags"]

    sql["mixture_conc"] = """
    with t as (select source AS g,
                      len(regexp_split_to_array(text, '\\s+')) AS w
               from documents),
    tot as (select g, cast(sum(w) AS hugeint) AS w from t group by g),
    r as (select g, w,
                 cast(row_number() over (order by w asc, g asc) AS hugeint)
                   AS i
          from tot),
    a as (select count(*) AS n_groups, sum(w) AS wsum, sum(w * w) AS q,
                 sum(i * w) AS iw,
                 max(struct_pack(w := w, g := g)) AS top
          from r)
    select n_groups, cast(wsum AS bigint) AS total_w,
           case when wsum > 0 then round(
             (2 * iw - (n_groups + 1) * wsum) / (n_groups * wsum), 9)
           end AS gini,
           case when wsum > 0 then round(
             q / (cast(wsum AS double) * cast(wsum AS double)), 9)
           end AS hhi,
           case when wsum > 0 then round(
             cast(top.w AS double) / cast(wsum AS double), 9)
           end AS top_share,
           top.g AS top_g
    from a
    """
    # Benford expected probabilities: the SAME repr-stable literals as
    # monitor.BENFORD_P (neither engine computes log10 at query time)
    benford_p = ", ".join(repr(x) for x in BENFORD_P)
    sql["benford"] = f"""
    with f as (select event_type AS g,
                      cast(round(abs(value) * 1000.0) AS bigint) AS i
               from events where value is not null),
    d as (select g, cast(substr(cast(i AS varchar), 1, 1) AS int) AS dg
          from f where i > 0),
    c as (select g, dg, count(*) AS o from d group by 1, 2),
    a as (select g, sum(o) AS n,
                 sum(o * o / ([{benford_p}])[dg]) AS soop,
                 sum(case when dg = 1 then o else 0 end) AS o1
          from c group by g)
    select g, cast(n AS bigint) AS n,
           round(soop / n - n, 6) AS chi2,
           round(o1 / (n + 0.0), 6) AS d1_share,
           cast(round(soop / n - n, 6) <= 15.50731 AS int) AS benford_ok
    from a
    """
    sql["topk_churn"] = f"""
    with t as (select doc_id, source, {_TOKSEQ} tk from documents),
    e as (select source,
            date_trunc('hour', timestamp '2024-01-01'
                       + (doc_id % 600) * interval 1 minute) AS bucket,
            unnest(tk) AS bin
          from t),
    c as (select source, bucket, bin, count(*) AS cnt from e
          group by 1, 2, 3),
    r as (select *, row_number() over (partition by source, bucket
                                       order by cnt desc, bin) AS rn
          from c),
    st as (select source, bucket, list_sort(list(bin)) AS cur
           from r where rn <= 5 group by 1, 2),
    l as (select source, bucket,
                 lag(bucket) over (partition by source order by bucket)
                   AS prev_bucket,
                 cur,
                 lag(cur) over (partition by source order by bucket)
                   AS prv
          from st)
    select source, bucket, prev_bucket,
           cast(len(cur) AS int) AS k_eff,
           cast(case when prv is not null then
             len(list_filter(cur, x -> not list_contains(prv, x)))
           end AS int) AS n_added,
           cast(case when prv is not null then
             len(list_filter(prv, x -> not list_contains(cur, x)))
           end AS int) AS n_dropped,
           case when prv is not null then round(
             len(list_intersect(cur, prv))
             / (len(cur) + len(prv) - len(list_intersect(cur, prv)) + 0.0),
             9)
           end AS jaccard
    from l
    """
    # RBO tail constants: the SAME driver-computed literals the Spark
    # query ships (rbo_tail_weights(32, 0.9)); (1-p) and p^k/k likewise
    rbo_tails = ", ".join(repr(x) for x in rbo_tail_weights(32, 0.9))
    sql["rbo_drift"] = f"""
    with ta as (select source AS g,
                       unnest(regexp_split_to_array(text, '\\s+')) AS tok
                from documents where {_HU.format(seed="'7'")} < 0.5),
    ca as (select g, tok, count(*) AS cnt from ta group by 1, 2),
    ra as (select g, tok, row_number() over (partition by g
             order by cnt desc, tok) AS rn from ca qualify rn <= 32),
    tb as (select source AS g,
                       unnest(regexp_split_to_array(text, '\\s+')) AS tok
                from documents where {_HU.format(seed="'7'")} >= 0.5),
    cb as (select g, tok, count(*) AS cnt from tb group by 1, 2),
    rb as (select g, tok, row_number() over (partition by g
             order by cnt desc, tok) AS rn from cb qualify rn <= 32),
    j as (select a.g,
                 ([{rbo_tails}])[greatest(a.rn, b.rn)] AS t
          from ra a join rb b using (g, tok)),
    per as (select g, count(*) AS n_common, sum(t) AS st
            from j group by g),
    spine as (select distinct g from
              (select g from ra union all select g from rb))
    select g, coalesce(n_common, 0) AS n_common,
           round({1.0 - 0.9!r} * coalesce(st, 0.0)
                 + {0.9 ** 32 / 32!r} * coalesce(n_common, 0), 6) AS rbo
    from spine left join per using (g)
    """
    sql["bigram_entropy"] = """
    with t as (select source AS g,
                      regexp_split_to_array(text, '\\s+') AS tk
               from documents),
    b0 as (select g, unnest(list_zip(tk[1:len(tk) - 1], tk[2:len(tk)]))
                    AS z
           from t where len(tk) >= 2),
    bi as (select g, z[1] AS p, z[2] AS nx, count(*) AS c
           from b0 group by 1, 2, 3),
    pf as (select g, p, sum(c) AS cp from bi group by 1, 2),
    sb as (select g, sum(c) AS n_bigrams, count(*) AS n_bigram_types,
                  sum(c * ln(c)) AS sbi from bi group by g),
    sp as (select g, count(*) AS n_prefixes, sum(cp * ln(cp)) AS spf
           from pf group by g)
    select g, cast(n_bigrams AS bigint) AS n_bigrams, n_prefixes,
           n_bigram_types,
           round((spf - sbi) / n_bigrams, 6) AS cond_entropy,
           round(exp((spf - sbi) / n_bigrams), 6) AS branching
    from sb join sp using (g)
    """
    # shared snapshot hists for the emd/jsd/chi2 drift family — same
    # CTE text as ks_drift's
    _H2 = """
    with ha as (select event_type AS source,
                       cast(round(value) AS bigint) AS bin,
                       count(*) AS ca
                from events where ts < '2024-01-15' group by 1, 2),
    hb as (select event_type AS source,
                  cast(round(value) AS bigint) AS bin,
                  count(*) AS cb
           from events where ts >= '2024-01-15' group by 1, 2),
    j as (select coalesce(ha.source, hb.source) AS source,
                 coalesce(ha.bin, hb.bin) AS bin,
                 coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
          from ha full outer join hb
            on ha.source = hb.source and ha.bin = hb.bin)"""
    # EMD: exact hugeint per-step numerators |CA*nb - CB*na| * bin_gap,
    # exact sum, one final division — no rounding anywhere
    sql["emd_drift"] = _H2 + """,
    cum as (select source, bin,
                   cast(sum(ca) over (partition by source order by bin)
                        AS hugeint) AS cca,
                   cast(sum(cb) over (partition by source order by bin)
                        AS hugeint) AS ccb,
                   lead(bin) over (partition by source order by bin)
                     - bin AS gap
            from j),
    tot as (select source, cast(sum(ca) AS bigint) AS n_a,
                   cast(sum(cb) AS bigint) AS n_b
            from j group by source)
    select t.source, t.n_a, t.n_b,
           cast(sum(abs(c.cca * t.n_b - c.ccb * t.n_a)
                    * cast(coalesce(c.gap, 0) AS hugeint)) AS double)
             / cast(cast(t.n_a AS hugeint) * cast(t.n_b AS hugeint)
                    AS double) AS emd
    from cum c join tot t using (source)
    group by t.source, t.n_a, t.n_b
    """
    # JSD: per-bin doubles of exact integers, 0*ln(0) limit via CASE,
    # order-dependent term sum absorbed by the 6dp round
    sql["jsd_drift"] = _H2 + """,
    tot as (select source, sum(ca) AS na, sum(cb) AS nb,
                   count(*) AS n_bins
            from j group by source),
    t as (select j.source, j.ca, j.cb, tot.na, tot.nb, tot.n_bins,
                 cast(j.ca AS double) / cast(tot.na AS double) AS p,
                 cast(j.cb AS double) / cast(tot.nb AS double) AS q
          from j join tot using (source))
    select source, max(n_bins) AS n_bins,
           cast(max(na) AS bigint) AS n_a, cast(max(nb) AS bigint) AS n_b,
           round(sum((case when ca > 0 then p * ln(p / ((p + q) / 2.0))
                           else 0.0 end
                      + case when cb > 0 then q * ln(q / ((p + q) / 2.0))
                             else 0.0 end) / 2.0), 6) AS jsd,
           round(sum((case when ca > 0 then p * ln(p / ((p + q) / 2.0))
                           else 0.0 end
                      + case when cb > 0 then q * ln(q / ((p + q) / 2.0))
                             else 0.0 end) / 2.0)
                 / 0.6931471805599453, 6) AS jsd_norm
    from t group by source
    """
    # chi-square homogeneity: d = ca*nb - cb*na exact hugeint, term
    # d*d/t as doubles OF exact integers (the square can pass 1e38 at
    # design scale), 6dp-rounded sum; Wilson-Hilferty 0.05 fence at 9dp
    sql["chi2_drift"] = _H2 + """,
    tot as (select source, sum(ca) AS na, sum(cb) AS nb,
                   count(*) AS n_bins
            from j group by source),
    t as (select j.source, tot.na, tot.nb, tot.n_bins,
                 cast(cast(j.ca AS hugeint) * tot.nb
                      - cast(j.cb AS hugeint) * tot.na AS double) AS d,
                 cast(j.ca + j.cb AS double) AS tt
          from j join tot using (source)),
    g as (select source, cast(max(na) AS bigint) AS n_a,
                 cast(max(nb) AS bigint) AS n_b,
                 max(n_bins) - 1 AS dof,
                 sum(d * d / tt) AS s
          from t group by source),
    c as (select source, n_a, n_b, dof,
                 round(s / cast(cast(n_a AS hugeint)
                                * cast(n_b AS hugeint) AS double), 6)
                   AS chi2,
                 cast(dof AS double) AS dd
          from g where dof >= 1)
    select source, n_a, n_b, dof, chi2,
           round(sqrt(chi2 / cast(n_a + n_b AS double)), 6) AS cramers_v,
           cast(round(chi2, 9)
                > round(dd * pow(1.0 - 2.0 / (9.0 * dd)
                                 + 1.6449 * sqrt(2.0 / (9.0 * dd)),
                                 3.0), 9) AS int) AS drifted
    from c
    """
    # Welch t: exact decimal fixed-point moments, the engine's exact
    # parenthesization chain to t / Welch-Satterthwaite df
    sql["welch_ttest"] = """
    with ma as (select event_type AS source,
                       count(*) AS n_a,
                       sum(cast(round(value * 1000) AS hugeint)) AS s_a,
                       sum(cast(round(value * 1000) AS hugeint)
                           * cast(round(value * 1000) AS hugeint)) AS q_a
                from events where ts < '2024-01-15' group by 1),
    mb as (select event_type AS source,
                  count(*) AS n_b,
                  sum(cast(round(value * 1000) AS hugeint)) AS s_b,
                  sum(cast(round(value * 1000) AS hugeint)
                      * cast(round(value * 1000) AS hugeint)) AS q_b
           from events where ts >= '2024-01-15' group by 1),
    m as (select * from ma join mb using (source)),
    d as (select source, n_a, n_b,
                 cast(s_a AS double) / cast(n_a AS double) / 1000.0
                   AS mean_a,
                 cast(s_b AS double) / cast(n_b AS double) / 1000.0
                   AS mean_b,
                 cast(n_a * q_a - s_a * s_a AS double) AS va_num,
                 cast(n_b * q_b - s_b * s_b AS double) AS vb_num,
                 cast(n_a AS double) AS nad, cast(n_b AS double) AS nbd
          from m),
    e as (select source, n_a, n_b, mean_a, mean_b, va_num, vb_num,
                 va_num / (nad * (nad - 1.0)) / nad / 1000000.0 AS sa,
                 vb_num / (nbd * (nbd - 1.0)) / nbd / 1000000.0 AS sb,
                 nad, nbd
          from d)
    select source, n_a, n_b,
           round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
           case when n_a >= 2 and n_b >= 2 and va_num + vb_num > 0
                then round((mean_a - mean_b) / sqrt(sa + sb), 6) end AS t,
           case when n_a >= 2 and n_b >= 2 and va_num + vb_num > 0
                then round((sa + sb) * (sa + sb)
                           / (sa * sa / (nad - 1.0)
                              + sb * sb / (nbd - 1.0)), 6) end AS df,
           case when n_a >= 2 and n_b >= 2 and va_num + vb_num > 0
                then cast(round(abs((mean_a - mean_b) / sqrt(sa + sb)), 9)
                          > 1.96 AS int) end AS shifted
    from e
    """
    # Kendall tau-b over the spearman spine: exact-integer S and tie
    # corrections, one final division by sqrt of an exact product
    sql["kendall_pairs"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from counts),
    spine as (select g, u.h
              from (select distinct g from counts) gg, span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    ab as (select xa.g AS a, xb.g AS b, xa.h AS h, xa.c AS x, xb.c AS y
           from sig xa join sig xb on xa.h = xb.h and xa.g < xb.g),
    s as (select p1.a, p1.b,
                 cast(sum(sign(p2.x - p1.x) * sign(p2.y - p1.y))
                      AS bigint) AS s_stat
          from ab p1 join ab p2
            on p1.a = p2.a and p1.b = p2.b and p2.h > p1.h
          group by p1.a, p1.b),
    n as (select a, b, count(*) AS n from ab group by a, b),
    tx as (select a, b, cast(sum(t * (t - 1)) / 2 AS bigint) AS n1
           from (select a, b, x, count(*) AS t from ab group by a, b, x)
           group by a, b),
    ty as (select a, b, cast(sum(t * (t - 1)) / 2 AS bigint) AS n2
           from (select a, b, y, count(*) AS t from ab group by a, b, y)
           group by a, b),
    g as (select n.a, n.b, n.n, s.s_stat, tx.n1, ty.n2,
                 cast(n.n AS hugeint) * (n.n - 1) / 2 AS n0
          from n join s using (a, b) join tx using (a, b)
                join ty using (a, b))
    select a, b, n, s_stat,
           case when n0 - n1 > 0 and n0 - n2 > 0
                then cast(s_stat AS double)
                     / sqrt(cast((n0 - n1) * (n0 - n2) AS double)) end
             AS tau
    from g
    """
    # excursion episodes: gaps-and-islands on fixed-point membership;
    # peak/excess exact integers descaled by ONE division, duration an
    # exact micros difference over 1e6 — identical in both engines
    sql["threshold_episodes"] = """
    with b as (select event_type AS source, ts, event_id,
                      cast(round(value * 1000) AS bigint) AS y
               from events),
    m as (select *, coalesce(y > 90000, false) AS inx,
                 coalesce(lag(y > 90000) over
                            (partition by source order by ts, event_id),
                          false) AS pin
          from b),
    e as (select *, sum(case when inx and not pin then 1 else 0 end)
                   over (partition by source order by ts, event_id
                         rows between unbounded preceding
                                  and current row) AS episode
          from m)
    select source, episode, min(ts) AS t_start, max(ts) AS t_end,
           count(*) AS n_pts,
           cast(epoch_us(max(ts)) - epoch_us(min(ts)) AS double) / 1e6
             AS duration_s,
           cast(max(y) AS double) / 1000.0 AS peak,
           cast(sum(cast(y - 90000 AS hugeint)) AS double) / 1000.0
             AS excess
    from e where inx group by source, episode
    """
    # embedding covariance: exact fixed-point moments, numerators cast
    # to double once, variance product multiplied AS doubles, NULL
    # corr at exact-zero variance; 0-based dims to match posexplode
    sql["embedding_cov"] = """
    with e as (select list_transform(embedding,
                        x -> cast(round(cast(x AS double) * 1000000)
                                  AS bigint)) AS v
               from embeddings where embedding is not null),
    pairs as (select i.i AS i, j.j AS j, count(*) AS n,
                     sum(cast(v[i.i] AS hugeint) * v[j.j]) AS p
              from e, generate_series(1, 64) AS i(i),
                   generate_series(1, 64) AS j(j)
              where j.j >= i.i group by 1, 2),
    m as (select i AS k, p AS q from pairs where i = j),
    s as (select i.i AS k, sum(cast(v[i.i] AS hugeint)) AS s
          from e, generate_series(1, 64) AS i(i) group by 1),
    ms as (select m.k, m.q, s.s from m join s using (k))
    select p.i - 1 AS i, p.j - 1 AS j, cast(p.n AS bigint) AS n,
           cast(p.n * p.p - a.s * b.s AS double)
             / (cast(p.n AS double) * cast(p.n AS double)
                * 1000000000000.0) AS cov,
           case when p.n * a.q - a.s * a.s > 0
                 and p.n * b.q - b.s * b.s > 0
                then cast(p.n * p.p - a.s * b.s AS double)
                     / sqrt(cast(p.n * a.q - a.s * a.s AS double)
                            * cast(p.n * b.q - b.s * b.s AS double))
           end AS corr
    from pairs p join ms a on p.i = a.k join ms b on p.j = b.k
    """
    # tier-merged covariance is answer-invariant (exact integer moment
    # sums re-associate losslessly), so the merged serve oracles
    # against the DIRECT computation — the gate IS the tier identity
    sql["embedding_cov_merged"] = sql["embedding_cov"]
    # centroid drift off the moment-tier diagonal: cosine on exact
    # integer sums (the n's cancel), L2 via cleared-denominator terms
    # squared as double, 6dp guard on the d-term sum; periods pair
    # with their previous present period, first period NULL
    sql["centroid_drift"] = """
    with e as (select cast(vec_id % 4 AS int) AS period,
                      list_transform(embedding,
                        x -> cast(round(cast(x AS double) * 1000000)
                                  AS bigint)) AS v
               from embeddings where embedding is not null),
    diag as (select period, i.i AS i,
                    sum(cast(v[i.i] AS hugeint)) AS s,
                    count(*) AS n
             from e, generate_series(1, 64) AS i(i) group by 1, 2),
    lagged as (select period, i, s, n,
                      lag(s) over (partition by i order by period) AS sp,
                      lag(n) over (partition by i order by period) AS np
               from diag),
    g as (select period, max(n) AS n, max(np) AS n_prev,
                 count(s) AS d, count(sp) AS dp,
                 sum(s * sp) AS dot, sum(s * s) AS qa,
                 sum(sp * sp) AS qb,
                 sum(cast(s * np - sp * n AS double)
                     * cast(s * np - sp * n AS double)) AS t2
          from lagged group by 1)
    select period, cast(n AS bigint) AS n,
           cast(n_prev AS bigint) AS n_prev,
           case when dp = d and qa > 0 and qb > 0
                then cast(dot AS double)
                     / sqrt(cast(qa AS double) * cast(qb AS double))
           end AS cos_prev,
           case when dp = d
                then round(sqrt(t2) / (cast(n AS double)
                           * cast(n_prev AS double) * 1000000.0), 6)
           end AS l2_prev
    from g
    """
    # cluster-occupancy drift: the ivf oracle's seeding/assignment
    # verbatim, occupancy counts per period, psi_drift's smoothing SQL
    # per period-successor pair; periods without a predecessor drop
    sql["cluster_drift"] = f"""
    with cent as (
      select row_number() over (order by md5(CAST(vec_id AS VARCHAR))) - 1
               AS cid,
             embedding::DOUBLE[] AS ce
      from embeddings order by md5(CAST(vec_id AS VARCHAR))
      limit {IVF_NLIST}),
    e as (select cast(vec_id % 4 AS int) AS period, vec_id,
                 embedding::DOUBLE[] v,
                 sqrt(list_dot_product(embedding::DOUBLE[],
                                       embedding::DOUBLE[])) n
          from embeddings where embedding is not null),
    assign as (
      select period, vec_id, cid from (
        select e.period, e.vec_id, c.cid,
               row_number() over (
                 partition by e.vec_id
                 order by round(list_dot_product(e.v, c.ce)
                                / (e.n * sqrt(list_dot_product(c.ce, c.ce))),
                                9) desc, c.cid) AS rn
        from e, cent c)
      where rn = 1),
    occ as (select period, cid AS bin, count(*) AS cnt
            from assign group by 1, 2),
    j as (select coalesce(p.period, c.period) AS period,
                 coalesce(p.bin, c.bin) AS bin,
                 coalesce(p.cnt, 0) AS ca, coalesce(c.cnt, 0) AS cb
          from (select period + 1 AS period, bin, cnt from occ) p
          full outer join occ c
            on p.period = c.period and p.bin = c.bin),
    tot as (select period, cast(sum(ca) AS bigint) AS na,
                   cast(sum(cb) AS bigint) AS nb, count(*) AS n_bins
            from j group by 1),
    valid as (select a.period
              from (select distinct period from occ) a
              join (select distinct period + 1 AS period from occ) b
                using (period))
    select j.period, max(t.n_bins) AS n_bins,
           round(sum(((ca + 0.5) / (na + 0.5 * t.n_bins)
                      - (cb + 0.5) / (nb + 0.5 * t.n_bins))
                     * ln(((ca + 0.5) / (na + 0.5 * t.n_bins))
                          / ((cb + 0.5) / (nb + 0.5 * t.n_bins)))),
                 6) AS psi
    from j join tot t using (period)
    where j.period in (select period from valid)
    group by j.period
    """
    # fixed-matrix projection: identical plan literals both engines
    # (md5 test matrix), 6dp dot guard for engine fold order
    _W = _proj_matrix(4, 64)
    sql["embedding_project"] = " union all ".join(
        "select vec_id, {r} AS r,"
        " round(list_dot_product(list_transform(embedding,"
        " x -> cast(x AS double)), [{lits}]), 6) AS y"
        " from embeddings".format(
            r=r, lits=", ".join(repr(w) for w in _W[r]))
        for r in range(4)
    )
    # SAX words: cleared-denominator z numerators vs 9dp beta*sigma
    # fences, NULL word at zero variance, string_agg in seg order
    _SAXW = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by 1, 2),
    span as (select min(h) AS h0, max(h) AS h1 from counts),
    spine as (select g, u.h
              from (select distinct g from counts) gg, span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    stats as (select g, count(*) AS n, sum(cast(c AS hugeint)) AS s,
                     sum(cast(c AS hugeint) * c) AS q
              from sig group by g),
    slc as (select g, h // 24 AS day, (h % 24) // 6 AS seg,
                   count(*) AS ns, sum(cast(c AS hugeint)) AS cs
            from sig group by 1, 2, 3),
    z as (select slc.g, day, seg, ns,
                 round(cast(n * cs - ns * s AS double)
                       / (cast(ns AS double) * cast(n AS double)), 9)
                   AS lhs,
                 cast(n * q - s * s AS double) AS varnum,
                 sqrt(cast(n * q - s * s AS double)) / cast(n AS double)
                   AS sigma
          from slc join stats using (g)),
    sym as (select g, day, seg, ns,
                   case when varnum > 0 then
                     list_extract(['a','b','c','d'],
                       1 + cast(lhs >= round(-0.6744897501960817 * sigma,
                                             9) AS int)
                         + cast(lhs >= round(0.0 * sigma, 9) AS int)
                         + cast(lhs >= round(0.6744897501960817 * sigma,
                                             9) AS int)) end AS sym
            from z),
    words as (select g, date '1970-01-01' + cast(day AS int) AS day,
                     cast(sum(ns) AS bigint) AS n_hours,
                     case when count(*) = count(sym)
                          then string_agg(sym, '' order by seg) end
                       AS word
              from sym group by g, day)"""
    sql["sax_words"] = _SAXW + """
    select g, day, n_hours, word from words
    """
    # sliding-window SAX subsequences (m=24, 4 segments of 6h,
    # alphabet 4): per-WINDOW z-norm — lhs = (24*Cs - 6*S)/144 exact
    # integer numerator, sigma = sqrt(24*Q - S^2)/24, both 9dp-fenced;
    # flat windows (varnum 0) report NULL words by the sax_words rule
    _SUBW = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by 1, 2),
    span as (select min(h) AS h0, max(h) AS h1 from counts),
    spine as (select g, u.h
              from (select distinct g from counts) gg, span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    wins as (select g, h AS w0 from sig, span where h + 23 <= span.h1),
    elem as (select w.g, w.w0, s.h - w.w0 AS k, s.c
             from wins w
             join sig s on s.g = w.g and s.h between w.w0 and w.w0 + 23),
    wstats as (select g, w0, sum(cast(c AS hugeint)) AS s,
                      sum(cast(c AS hugeint) * c) AS q
               from elem group by 1, 2),
    slc as (select g, w0, k // 6 AS seg, sum(cast(c AS hugeint)) AS cs
            from elem group by 1, 2, 3),
    z as (select slc.g, slc.w0, seg,
                 round(cast(24 * cs - 6 * s AS double) / 144.0, 9) AS lhs,
                 cast(24 * q - s * s AS double) AS varnum,
                 sqrt(cast(24 * q - s * s AS double)) / 24.0 AS sigma
          from slc join wstats using (g, w0)),
    sym as (select g, w0, seg,
                   case when varnum > 0 then
                     list_extract(['a','b','c','d'],
                       1 + cast(lhs >= round(-0.6744897501960817 * sigma,
                                             9) AS int)
                         + cast(lhs >= round(0.0 * sigma, 9) AS int)
                         + cast(lhs >= round(0.6744897501960817 * sigma,
                                             9) AS int)) end AS sym
            from z),
    subw as (select s.g, s.w0 AS h0,
                    cast(ws.s AS bigint) AS n_events,
                    cast(24 * ws.q - ws.s * ws.s AS bigint) AS varnum,
                    case when count(*) = count(sym)
                         then string_agg(sym, '' order by seg) end AS word
             from sym s join wstats ws on s.g = ws.g and s.w0 = ws.w0
             group by 1, 2, 3, 4)"""
    sql["motif_words"] = _SUBW + """
    select g, h0, n_events, varnum, word from subw
    """
    # motif pairs: candidates by (g, word) equality with non-overlap
    # h_b - h_a >= 24; exact hugeint dot-product numerator, variance
    # numerators multiplied AS DOUBLE, r 9dp-fenced, top-5 per series
    sql["motif_pairs"] = _SUBW + """,
    w as (select * from subw where word is not null),
    pairs as (select a.g, a.h0 AS h_a, b.h0 AS h_b, a.word
              from w a join w b on a.g = b.g and a.word = b.word
                               and b.h0 - a.h0 >= 24),
    dots as (select p.g, p.h_a, p.h_b, p.word,
                    sum(cast(x.c AS hugeint) * y.c) AS sxy
             from pairs p
             join sig x on x.g = p.g
                       and x.h between p.h_a and p.h_a + 23
             join sig y on y.g = p.g and y.h = x.h - p.h_a + p.h_b
             group by 1, 2, 3, 4),
    sc as (select d.g, d.h_a, d.h_b, d.word,
                  round(cast(24 * d.sxy - wa.s * wb.s AS double)
                        / sqrt(cast(24 * wa.q - wa.s * wa.s AS double)
                               * cast(24 * wb.q - wb.s * wb.s AS double)),
                        9) AS r
           from dots d
           join wstats wa on wa.g = d.g and wa.w0 = d.h_a
           join wstats wb on wb.g = d.g and wb.w0 = d.h_b),
    rk as (select *, row_number() over (partition by g
                                        order by r desc, h_a, h_b) AS rn
           from sc where r >= 0.5)
    select g, h_a, h_b, word, r,
           round(sqrt(48.0 * (1.0 - r)), 6) AS dist
    from rk where rn <= 5
    """
    # discord candidates: unique-word windows, one groupBy, no pairs
    sql["rare_windows"] = _SUBW + """,
    w as (select * from subw where word is not null),
    freq as (select g, word, count(*) AS word_count
             from w group by 1, 2)
    select w.g, w.h0, w.word, f.word_count, w.n_events
    from w join freq f on w.g = f.g and w.word = f.word
    where f.word_count <= 1
    """
    # true discords (HOT-SAX inner loop): rarity-screened candidates
    # vs every non-overlapping same-series window; NN = max 9dp r,
    # neighbor start = min h0 attaining it; top-5 SMALLEST nn_r
    sql["discord_topk"] = _SUBW + """,
    w as (select * from subw where word is not null),
    freq as (select g, word, count(*) AS word_count
             from w group by 1, 2),
    cand as (select w.g, w.h0, w.word
             from w join freq f on w.g = f.g and w.word = f.word
             where f.word_count <= 1),
    cpairs as (select c.g, c.h0, c.word, b.h0 AS hw
               from cand c join w b on c.g = b.g
                                   and abs(b.h0 - c.h0) >= 24),
    cdots as (select p.g, p.h0, p.word, p.hw,
                     sum(cast(x.c AS hugeint) * y.c) AS sxy
              from cpairs p
              join sig x on x.g = p.g
                        and x.h between p.h0 and p.h0 + 23
              join sig y on y.g = p.g and y.h = x.h - p.h0 + p.hw
              group by 1, 2, 3, 4),
    csc as (select d.g, d.h0, d.word, d.hw,
                   round(cast(24 * d.sxy - wa.s * wb.s AS double)
                         / sqrt(cast(24 * wa.q - wa.s * wa.s AS double)
                                * cast(24 * wb.q - wb.s * wb.s
                                       AS double)),
                         9) AS r
            from cdots d
            join wstats wa on wa.g = d.g and wa.w0 = d.h0
            join wstats wb on wb.g = d.g and wb.w0 = d.hw),
    cbest as (select g, h0, word, max(r) AS nn_r
              from csc group by 1, 2, 3),
    cnn as (select s.g, s.h0, s.word, b.nn_r, min(s.hw) AS nn_h0
            from csc s join cbest b on s.g = b.g and s.h0 = b.h0
                                   and s.r = b.nn_r
            group by 1, 2, 3, 4),
    crk as (select *, row_number() over (partition by g
                                         order by nn_r asc, h0) AS rn
            from cnn)
    select g, h0, word, nn_h0, nn_r,
           round(sqrt(48.0 * (1.0 - nn_r)), 6) AS nn_dist
    from crk where rn <= 5
    """
    # elastic motifs: masked-word candidates (<=1 differing symbol via
    # 4 drop-one-position equality joins), verified by exact-integer
    # Sakoe-Chiba DTW (band 3) — the DP replayed as a recursive CTE
    # over anti-diagonals carrying the previous two diagonal lists
    # (each diag cell reads only diag-1 / diag-2: the wavefront
    # dependency structure); out-of-band cells pin to a 10^30 hugeint
    # sentinel that provably never reaches a finite path.  The
    # "with src" -> "with recursive src" rewrite lets the dp CTE
    # recurse inside the shared _SUBW prefix.
    _HUGE = "cast('1000000000000000000000000000000' AS hugeint)"
    sql["dtw_pairs"] = _SUBW.replace(
        "\n    with src", "\n    with recursive src", 1
    ) + """,
    w as (select * from subw where word is not null),
    vec as (select g, w0, list(c order by k) AS xs
            from elem group by 1, 2),
    mk as (select g, h0, word, t.k,
                  concat(substr(word, 1, t.k), substr(word, t.k + 2))
                    AS mword
           from w, unnest([0, 1, 2, 3]) AS t(k)),
    cand as (select distinct a.g, a.h0 AS h_a, b.h0 AS h_b,
                    a.word AS word_a, b.word AS word_b
             from mk a join mk b on a.g = b.g and a.k = b.k
                                and a.mword = b.mword
                                and b.h0 - a.h0 >= 24),
    cv as (select c.*, va.xs AS xa, vb.xs AS xb
           from cand c
           join vec va on va.g = c.g and va.w0 = c.h_a
           join vec vb on vb.g = c.g and vb.w0 = c.h_b),
    dp as (
      select g, h_a, h_b, word_a, word_b, xa, xb, 0 AS d,
             [cast(xa[1] - xb[1] AS hugeint) * (xa[1] - xb[1])] AS cur,
             cast(NULL AS hugeint[]) AS prev
      from cv
      union all
      select g, h_a, h_b, word_a, word_b, xa, xb, d + 1,
             list_transform(
               generate_series(greatest(0, d + 1 - 23),
                               least(d + 1, 23)),
               i -> case when abs(2 * i - (d + 1)) > 3 then {H}
                    else cast(xa[i + 1] - xb[d + 1 - i + 1] AS hugeint)
                           * (xa[i + 1] - xb[d + 1 - i + 1])
                       + least(
                           coalesce(cur[(i - 1)
                                        - greatest(0, d - 23) + 1], {H}),
                           coalesce(cur[i - greatest(0, d - 23) + 1],
                                    {H}),
                           coalesce(prev[(i - 1)
                                         - greatest(0, d - 24) + 1],
                                    {H}))
                    end),
             cur
      from dp where d < 46
    ),
    fin as (select g, h_a, h_b, word_a, word_b, xa, xb,
                   cast(cur[1] AS bigint) AS dtw
            from dp where d = 46),
    sc as (select g, h_a, h_b, word_a, word_b, dtw,
                  cast(list_sum(list_transform(generate_series(1, 24),
                         i -> cast(xa[i] - xb[i] AS hugeint)
                                * (xa[i] - xb[i]))) AS bigint) AS d2
           from fin),
    rk as (select *, row_number() over (partition by g
                                        order by dtw asc, h_a, h_b)
                       AS rn
           from sc)
    select g, h_a, h_b, word_a, word_b, dtw, d2, d2 - dtw AS gain
    from rk where rn <= 5
    """.replace("{H}", _HUGE)
    # Kruskal-Wallis: half-unit ranks off the bin table; tie-corrected
    # H = (N-1)*SSB2/SST2 (the ANOVA-on-ranks identity), exact hugeint
    # numerators, k-term SSB2 double sum 6dp-fenced; chi2 0.05 verdict
    sql["kruskal_drift"] = """
    with h as (select event_type AS source,
                      cast(floor((day(ts) - 1) / 7) AS int) AS grp,
                      cast(round(value) AS bigint) AS bin,
                      cast(count(*) AS hugeint) AS cnt
               from events group by 1, 2, 3),
    binf as (select source, bin, sum(cnt) AS t from h group by 1, 2),
    cum as (select source, bin, t,
                   coalesce(sum(t) over (
                       partition by source order by bin
                       rows between unbounded preceding and 1 preceding),
                     0) AS cum_lt
            from binf),
    tot as (select source, sum(t) AS n_tot,
                   sum(t * (2 * cum_lt + t + 1)
                         * (2 * cum_lt + t + 1)) AS bsum
            from cum group by 1),
    pg as (select h.source, h.grp, sum(cnt) AS n_g,
                  sum(cnt * (2 * cum_lt + t + 1)) AS r2
           from h join cum on h.source = cum.source
                          and h.bin = cum.bin
           group by 1, 2),
    g as (select pg.source, count(*) AS k, max(n_tot) AS n_tot,
                 max(bsum) AS bsum,
                 sum(cast((r2 - n_g * (n_tot + 1))
                            * (r2 - n_g * (n_tot + 1)) AS double)
                     / cast(n_g AS double)) AS ssb2
          from pg join tot on pg.source = tot.source
          group by 1),
    fin as (select source, k, n_tot,
                   bsum - n_tot * (n_tot + 1) * (n_tot + 1) AS sst2,
                   ssb2
            from g),
    hh as (select source, k, n_tot,
                  case when sst2 > 0 and k >= 2
                       then round(cast(n_tot - 1 AS double) * ssb2
                                  / cast(sst2 AS double), 6)
                  end AS h_stat
           from fin)
    select source, cast(k AS int) AS k, cast(n_tot AS bigint) AS n,
           h_stat, cast(k - 1 AS int) AS df_kw,
           case when h_stat is not null and k - 1 <= 20
                then cast(h_stat > list_extract(
                    [3.841, 5.991, 7.815, 9.488, 11.070, 12.592,
                     14.067, 15.507, 16.919, 18.307, 19.675, 21.026,
                     22.362, 23.685, 24.996, 26.296, 27.587, 28.869,
                     30.144, 31.410], cast(k AS int) - 1) AS int)
           end AS significant
    from hh
    """
    # Wald-Wolfowitz runs test: 2c vs exact-integer 2*median
    # (quantile_cont selection), ties drop, cleared-mu z numerator
    sql["runs_test"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by 1, 2),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src) gg, span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c
              on s.g = c.g and s.h = c.h),
    med as (select g, quantile_cont(c, 0.5) AS med from sig group by g),
    sg as (select sig.g, h,
                  case when 2 * c > 2 * med then 1
                       when 2 * c < 2 * med then -1 end AS sgn
           from sig join med on sig.g = med.g),
    fl as (select g, sgn,
                  lag(sgn) over (partition by g order by h) AS prev
           from (select * from sg where sgn is not null)),
    agg as (select g, cast(count(*) AS hugeint) AS n_used,
                   cast(sum(case when sgn = 1 then 1 else 0 end)
                        AS hugeint) AS n1,
                   cast(sum(case when sgn = -1 then 1 else 0 end)
                        AS hugeint) AS n2,
                   cast(1 + sum(case when prev is not null
                                      and sgn != prev
                                     then 1 else 0 end)
                        AS hugeint) AS runs
            from fl group by g),
    fin as (select g, n_used, n1, n2, runs,
                   2 * n1 * n2 AS two,
                   2 * n1 * n2 * (2 * n1 * n2 - n_used) AS var_num,
                   n_used * n_used * (n_used - 1) AS var_den
            from agg),
    zz as (select g, n_used, n1, n2, runs,
                  case when n1 > 0 and n2 > 0 and var_num > 0 then
                    round(cast(runs * n_used - two - n_used AS double)
                          / (cast(n_used AS double)
                             * sqrt(cast(var_num AS double)
                                    / cast(var_den AS double))), 9)
                  end AS z
           from fin)
    select g, cast(n_used AS bigint) AS n_used,
           cast(n1 AS bigint) AS n1, cast(n2 AS bigint) AS n2,
           cast(runs AS bigint) AS runs, z,
           case when z is not null
                then cast(abs(z) <= 1.96 AS int) end AS random_ok
    from zz
    """
    # DSIR Gumbel top-k resample: the dsir_weights chain + the
    # portable-uniform Gumbel key, (key desc, id) total order, k=100
    sql["dsir_resample"] = """
    with c as (select doc_id, regexp_split_to_array(text, '\\s+') AS t
               from documents where text is not null),
    cg as (select doc_id, unnest(t) AS g from c
           union all
           select doc_id, t[i] || ' ' || t[i + 1] AS g
           from c, unnest(range(1, len(t))) AS r(i)
           where len(t) >= 2),
    cb as (select doc_id,
                  cast(('0x' || substr(md5(g), 1, 8)) as bigint)
                    % 1024 AS b
           from cg),
    db as (select doc_id, b, count(*) AS n_db from cb group by 1, 2),
    raw as (select b, cast(sum(n_db) AS hugeint) AS r_b
            from db group by b),
    tg as (select regexp_split_to_array(text, '\\s+') AS t
           from documents where text is not null and lang = 'en'),
    tgg as (select unnest(t) AS g from tg
            union all
            select t[i] || ' ' || t[i + 1]
            from tg, unnest(range(1, len(t))) AS r(i)
            where len(t) >= 2),
    tgt as (select cast(('0x' || substr(md5(g), 1, 8)) as bigint)
                     % 1024 AS b,
                   cast(count(*) AS hugeint) AS t_b
            from tgg group by 1),
    rt as (select sum(r_b) AS rtot from raw),
    tt as (select cast(coalesce(sum(t_b), 0) AS hugeint) AS ttot
           from tgt),
    lr as (select raw.b,
                  ln(cast((coalesce(t_b, 0) + 1) * (rtot + 1024)
                          AS double)
                     / cast((r_b + 1) * (ttot + 1024) AS double)) AS lr
           from raw left join tgt on raw.b = tgt.b, rt, tt),
    w as (select db.doc_id, cast(sum(n_db) AS bigint) AS n_grams,
                 round(sum(n_db * lr), 6) AS logw
          from db join lr on db.b = lr.b
          group by db.doc_id)
    select doc_id, n_grams, logw,
           round(logw + (-ln(-ln(
             cast(('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) as bigint)
             / 4294967296.0))), 9) AS gumbel_key
    from w
    order by gumbel_key desc, doc_id asc
    limit 100
    """
    # Pettitt change point: exact midrank identity (2r integer),
    # one rank cumsum, argmax |U_t|, clamped 2exp(-6K^2/(n^3+n^2))
    sql["pettitt_change"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by 1, 2),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src) gg, span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c
              on s.g = c.g and s.h = c.h),
    vals as (select g, c, cast(count(*) AS hugeint) AS cnt
             from sig group by 1, 2),
    v2 as (select g, c, cnt,
                  coalesce(sum(cnt) over (
                      partition by g order by c
                      rows between unbounded preceding
                               and 1 preceding), 0) AS cum_lt
           from vals),
    tot as (select g, cast(count(*) AS hugeint) AS n
            from sig group by g),
    terms as (select sig.g, sig.h, tot.n,
                     2 * cum_lt + cnt - n AS term
              from sig join v2 on sig.g = v2.g and sig.c = v2.c
                       join tot on sig.g = tot.g),
    uu as (select g, h, n,
                  sum(term) over (partition by g order by h
                      rows between unbounded preceding
                               and current row) AS u,
                  max(h) over (partition by g) AS hmax
           from terms),
    best as (select g, h, n, abs(u) AS k,
                    row_number() over (partition by g
                        order by abs(u) desc, h asc) AS rn
             from uu where h < hmax),
    fin as (select g, n, k, h AS t_change from best where rn = 1),
    pp as (select g, n, k, t_change,
                  case when n >= 2 then
                    round(least(1.0,
                      2 * exp(-cast(6 * k * k AS double)
                              / cast(n * n * n + n * n AS double))), 9)
                  end AS p
           from fin)
    select g, cast(n AS bigint) AS n, cast(k AS bigint) AS k_stat,
           cast(t_change AS bigint) AS t_change, p,
           case when p is not null
                then cast(p < 0.05 AS int) end AS significant
    from pp
    """
    # DSIR importance weights: md5-bucketed unigram+bigram bags,
    # Laplace-smoothed exact-integer log-ratios, 6dp per-doc dot fence
    sql["dsir_weights"] = """
    with c as (select doc_id, regexp_split_to_array(text, '\\s+') AS t
               from documents where text is not null),
    cg as (select doc_id, unnest(t) AS g from c
           union all
           select doc_id, t[i] || ' ' || t[i + 1] AS g
           from c, unnest(range(1, len(t))) AS r(i)
           where len(t) >= 2),
    cb as (select doc_id,
                  cast(('0x' || substr(md5(g), 1, 8)) as bigint)
                    % 1024 AS b
           from cg),
    db as (select doc_id, b, count(*) AS n_db from cb group by 1, 2),
    raw as (select b, cast(sum(n_db) AS hugeint) AS r_b
            from db group by b),
    tg as (select regexp_split_to_array(text, '\\s+') AS t
           from documents where text is not null and lang = 'en'),
    tgg as (select unnest(t) AS g from tg
            union all
            select t[i] || ' ' || t[i + 1]
            from tg, unnest(range(1, len(t))) AS r(i)
            where len(t) >= 2),
    tgt as (select cast(('0x' || substr(md5(g), 1, 8)) as bigint)
                     % 1024 AS b,
                   cast(count(*) AS hugeint) AS t_b
            from tgg group by 1),
    rt as (select sum(r_b) AS rtot from raw),
    tt as (select cast(coalesce(sum(t_b), 0) AS hugeint) AS ttot
           from tgt),
    lr as (select raw.b,
                  ln(cast((coalesce(t_b, 0) + 1) * (rtot + 1024)
                          AS double)
                     / cast((r_b + 1) * (ttot + 1024) AS double)) AS lr
           from raw left join tgt on raw.b = tgt.b, rt, tt)
    select db.doc_id, cast(sum(n_db) AS bigint) AS n_grams,
           round(sum(n_db * lr), 6) AS logw
    from db join lr on db.b = lr.b
    group by db.doc_id
    """
    # turning-point test: strict-inequality turns on exact integers,
    # cleared-mean z numerator 3T - 2n + 4, Var = (16n-29)/90
    sql["turning_points"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by 1, 2),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src) gg, span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c
              on s.g = c.g and s.h = c.h),
    tp as (select g, h, c,
                  lag(c) over (partition by g order by h) AS p,
                  lead(c) over (partition by g order by h) AS x
           from sig),
    agg as (select g, cast(count(*) AS hugeint) AS n,
                   cast(sum(case when p is not null and x is not null
                                  and ((p < c and c > x)
                                       or (p > c and c < x))
                                 then 1 else 0 end) AS hugeint) AS t
            from tp group by g),
    zz as (select g, n, t,
                  case when n >= 4 then
                    round(cast(3 * t - 2 * n + 4 AS double)
                          / (3.0 * sqrt(cast(16 * n - 29 AS double)
                                        / 90.0)), 9)
                  end AS z
           from agg)
    select g, cast(n AS bigint) AS n, cast(t AS bigint) AS t, z,
           case when z is not null
                then cast(abs(z) <= 1.96 AS int) end AS random_ok
    from zz
    """
    # Lo-MacKinlay VR(q=4): cleared-mean exact variance numerators,
    # two-ratio fixed parenthesization, phi(4) factor 12/42
    sql["variance_ratio"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by 1, 2),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src) gg, span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c
              on s.g = c.g and s.h = c.h),
    dd as (select g, h, c,
                  c - lag(c, 1) over (partition by g order by h) AS d1,
                  c - lag(c, 4) over (partition by g order by h) AS dq
           from sig),
    agg as (select g, cast(count(*) AS hugeint) AS n,
                   cast(count(d1) AS hugeint) AS n1,
                   sum(cast(d1 AS hugeint)) AS s1,
                   sum(cast(d1 AS hugeint) * d1) AS q1,
                   cast(count(dq) AS hugeint) AS nq,
                   sum(cast(dq AS hugeint)) AS sq,
                   sum(cast(dq AS hugeint) * dq) AS qq
            from dd group by g),
    v as (select g, n, n1, nq,
                 n1 * q1 - s1 * s1 AS v1,
                 nq * qq - sq * sq AS vq
          from agg),
    r as (select g, n, nq,
                 case when nq >= 2 and v1 > 0 then
                   (cast(vq AS double) / cast(v1 AS double))
                   * (cast(n1 * n1 AS double)
                      / cast(4 * nq * nq AS double))
                 end AS vr_raw
          from v)
    select g, cast(n AS bigint) AS n, cast(nq AS bigint) AS nq,
           round(vr_raw, 9) AS vr,
           round((vr_raw - 1.0)
                 * sqrt(cast(nq AS double) * (12.0 / 42.0)), 9) AS z,
           case when vr_raw is not null
                then cast(abs(round((vr_raw - 1.0)
                       * sqrt(cast(nq AS double) * (12.0 / 42.0)), 9))
                       > 1.96 AS int) end AS significant
    from r
    """
    # per-bucket SAX symbol stream (series-level z-norm, exact-integer
    # verdicts, alphabet 4) shared by the Markov regime reads
    _SYMS = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by 1, 2),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src) gg, span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c
              on s.g = c.g and s.h = c.h),
    stats as (select g, cast(count(*) AS hugeint) AS n,
                     sum(cast(c AS hugeint)) AS s,
                     sum(cast(c AS hugeint) * c) AS q
              from sig group by g),
    z as (select sig.g, h, c,
                 round(cast(n * c - s AS double)
                       / cast(n AS double), 9) AS lhs,
                 cast(n * q - s * s AS double) AS varnum,
                 sqrt(cast(n * q - s * s AS double))
                   / cast(n AS double) AS sigma
          from sig join stats on sig.g = stats.g),
    st as (select g, h, c, sym from (
             select g, h, c,
                    case when varnum > 0 then
                      list_extract(['a','b','c','d'],
                        1 + cast(lhs >= round(-0.6744897501960817
                                              * sigma, 9) AS int)
                          + cast(lhs >= round(0.0 * sigma, 9) AS int)
                          + cast(lhs >= round(0.6744897501960817
                                              * sigma, 9) AS int))
                    end AS sym
             from z) where sym is not null)"""
    sql["symbol_transitions"] = _SYMS + """,
    tr as (select g, sym AS sym_from,
                  lead(sym) over (partition by g order by h) AS sym_to
           from st),
    cnts as (select g, sym_from, sym_to, count(*) AS cnt
             from tr where sym_to is not null group by 1, 2, 3)
    select g, sym_from, sym_to, cnt,
           round(cast(cnt AS double)
                 / cast(sum(cnt) over (partition by g, sym_from)
                        AS double), 9) AS p
    from cnts
    """
    # dominant lead-lag: xcorr correlogram -> 9dp-rounded |r| argmax
    # with the (|lag|, lag) tie ladder and the 1.96/sqrt(n) gate
    sql["lead_lag"] = """
    with src as (select event_type AS g,
                        epoch_us(ts) // 3600000000 AS h
                 from events),
    counts as (select g, h, count(*) AS c from src group by g, h),
    span as (select min(h) AS h0, max(h) AS h1 from src),
    spine as (select g, u.h
              from (select distinct g from src), span,
                   unnest(generate_series(span.h0, span.h1)) AS u(h)),
    sig as (select s.g, s.h, coalesce(c.c, 0) AS c
            from spine s left join counts c on s.g = c.g and s.h = c.h),
    pairs as (select xa.g AS a, xb.g AS b, l.lag,
                     xa.c AS x, xb.c AS y
              from sig xa,
                   unnest(generate_series(-3, 3)) AS l(lag),
                   sig xb
              where xb.h = xa.h + l.lag and xa.g != xb.g),
    m as (select a, b, lag, count(*) AS n,
                 sum(x) AS sx, sum(y) AS sy,
                 sum(x * x) AS sxx, sum(y * y) AS syy,
                 sum(x * y) AS sxy
          from pairs group by a, b, lag),
    d as (select a, b, lag, n,
                 n * sxy - sx * sy AS num,
                 n * sxx - sx * sx AS d1,
                 n * syy - sy * sy AS d2
          from m),
    rr as (select a, b, lag, n,
                  round(cast(num AS double)
                        / sqrt(cast(d1 AS double)
                               * cast(d2 AS double)), 9) AS r
           from d where d1 > 0 and d2 > 0),
    rk as (select *, row_number() over (
               partition by a, b
               order by abs(r) desc, abs(lag) asc, lag asc) AS rn
           from rr)
    select a, b, cast(lag AS int) AS lag, n, r,
           cast(abs(r) > round(1.96 / sqrt(cast(n AS double)), 9)
                AS int) AS significant
    from rk where rn = 1
    """
    sql["symbol_mi"] = _SYMS + """,
    joint as (select a.g AS a, b.g AS b, a.sym AS sa, b.sym AS sb,
                     count(*) AS n_st
              from st a join st b on a.h = b.h and a.g < b.g
              group by 1, 2, 3, 4),
    sc as (select a, b, n_st,
                  sum(n_st) over (partition by a, b, sa) AS n_s,
                  sum(n_st) over (partition by a, b, sb) AS n_t,
                  sum(n_st) over (partition by a, b) AS t_tot
           from joint),
    mi as (select a, b, max(t_tot) AS n,
                  round(sum((cast(n_st AS double)
                             / cast(t_tot AS double))
                            * ln(cast(n_st AS double)
                                 * cast(t_tot AS double)
                                 / (cast(n_s AS double)
                                    * cast(n_t AS double)))), 6) AS mi
           from sc group by 1, 2),
    ma as (select a, b,
                  round(sum(-(cast(n_m AS double) / cast(t AS double))
                            * ln(cast(n_m AS double)
                                 / cast(t AS double))), 6) AS h_a
           from (select a, b, sa, sum(n_st) AS n_m,
                        sum(sum(n_st)) over (partition by a, b) AS t
                 from joint group by 1, 2, 3)
           group by 1, 2),
    mb as (select a, b,
                  round(sum(-(cast(n_m AS double) / cast(t AS double))
                            * ln(cast(n_m AS double)
                                 / cast(t AS double))), 6) AS h_b
           from (select a, b, sb, sum(n_st) AS n_m,
                        sum(sum(n_st)) over (partition by a, b) AS t
                 from joint group by 1, 2, 3)
           group by 1, 2)
    select mi.a, mi.b, cast(mi.n AS bigint) AS n, mi.mi,
           ma.h_a, mb.h_b,
           case when ma.h_a > 0 and mb.h_b > 0
                then round(mi.mi / sqrt(ma.h_a * mb.h_b), 6)
           end AS nmi
    from mi
    join ma on mi.a = ma.a and mi.b = ma.b
    join mb on mi.a = mb.a and mi.b = mb.b
    """
    sql["symbol_entropy"] = _SYMS + """,
    tr as (select g, sym AS sym_from,
                  lead(sym) over (partition by g order by h) AS sym_to
           from st),
    cnts as (select g, sym_from, sym_to, count(*) AS cnt
             from tr where sym_to is not null group by 1, 2, 3),
    sc as (select g, sym_from, cnt,
                  sum(cnt) over (partition by g, sym_from) AS n_s,
                  sum(cnt) over (partition by g) AS t_tot
           from cnts),
    agg as (select g, max(t_tot) AS n_trans,
                   count(distinct sym_from) AS k_used,
                   round(sum(-(cast(cnt AS double)
                               / cast(t_tot AS double))
                             * ln(cast(cnt AS double)
                                  / cast(n_s AS double))), 6) AS h_rate
            from sc group by g)
    select g, cast(n_trans AS bigint) AS n_trans,
           cast(k_used AS int) AS k_used, h_rate,
           case when k_used > 1
                then round(1.0 - h_rate
                           / ln(cast(k_used AS double)), 6)
           end AS predictability
    from agg
    """
    sql["sax_pairs"] = _SAXW + """,
    w as (select * from words where word is not null),
    days as (select g, count(*) AS days from w group by g),
    pairs as (select a.g AS a, b.g AS b, count(*) AS matches
              from w a join w b on a.day = b.day and a.word = b.word
                               and a.g < b.g
              group by 1, 2)
    select p.a, p.b, p.matches, da.days AS days_a, db.days AS days_b,
           cast(p.matches AS double)
             / cast(least(da.days, db.days) AS double) AS share
    from pairs p join days da on p.a = da.g join days db on p.b = db.g
    """
    # decayed heavy hitters: whole half-life units clamped [0,63],
    # score sum 2^(63-u) exact hugeint, rank on exact integers with
    # key-ascending ties, ONE division to the reported weight
    sql["decayed_topk"] = """
    with b as (select event_type AS source, user_id,
                      least(greatest(datediff('day', cast(ts AS date),
                                              date '2024-02-01'), 0)
                            // 7, 63) AS u
               from events),
    pu as (select source, user_id, u, count(*) AS c
           from b group by 1, 2, 3),
    s as (select source, user_id,
                 cast(sum(c) AS bigint) AS n_events,
                 sum(cast(c AS hugeint)
                     * cast(power(2.0, 63 - u) AS hugeint)) AS s
          from pu group by 1, 2),
    r as (select source, user_id, n_events, s,
                 row_number() over (partition by source
                                    order by s desc, user_id) AS rank
          from s)
    select source, user_id, n_events,
           cast(s AS double) / 9223372036854775808.0 AS decayed,
           cast(rank AS int) AS rank
    from r where rank <= 5
    """
    # TF-IDF signature tokens: group-granularity df, idf = ln(S/df),
    # rank on 9dp-rounded scores with token-ascending ties
    sql["tfidf_top"] = """
    with t as (select source,
                      unnest(regexp_split_to_array(text, '\\s+')) AS tok
               from documents),
    c as (select source, tok, count(*) AS cnt from t group by 1, 2),
    d as (select tok, count(*) AS n_src from c group by tok),
    s as (select count(distinct source) AS s from c),
    sc as (select c.source, c.tok, c.cnt, d.n_src,
                  cast(c.cnt AS double)
                    * ln(cast(s.s AS double) / cast(d.n_src AS double))
                    AS score
           from c join d using (tok), s),
    r as (select source, tok, cnt, n_src, score,
                 row_number() over (partition by source
                                    order by round(score, 9) desc, tok)
                   AS rn
          from sc)
    select source, tok, cnt, n_src, round(score, 6) AS tfidf
    from r where rn <= 5
    """
    # drift_report: the eight-monitor two-sample panel assembled from
    # the already-verified component oracles, joined on source
    sql["drift_report"] = f"""
    select k.source, k.n_a, k.n_b, k.ks_d,
           k.drifted AS ks_drifted,
           c.cvm, c.drifted AS cvm_drifted,
           m.z AS mw_z, m.shifted AS mw_shifted,
           cd.delta, cd.magnitude,
           p.psi, j.jsd_norm, e.emd,
           x.cramers_v, x.drifted AS chi2_drifted
    from ({sql["ks_drift"]}) k
    left join ({sql["cvm_drift"]}) c on k.source = c.source
    left join ({sql["mann_whitney"]}) m on k.source = m.source
    left join ({sql["cliffs_delta"]}) cd on k.source = cd.source
    left join ({sql["psi_drift"]}) p on k.source = p.source
    left join ({sql["jsd_drift"]}) j on k.source = j.source
    left join ({sql["emd_drift"]}) e on k.source = e.source
    left join ({sql["chi2_drift"]}) x on k.source = x.source
    """
    # fleet_report: the ten-monitor panel assembled from the
    # already-verified component oracles as subqueries, left-joined
    # from the always-total fano base — column-for-column the Spark
    # fleet_report join
    sql["fleet_report"] = f"""
    select f.g, f.n_buckets, f.mean_c, f.fano,
           t.sen_slope, m.z AS mk_z, s.strength,
           d.period, d.significant AS period_sig,
           r.z AS runs_z, r.random_ok,
           v.vr, v.z AS vr_z,
           k.kpss, k.stationary,
           p.p AS pettitt_p, p.significant AS change_sig,
           hh.hurst
    from ({sql["fano_dispersion"]}) f
    left join ({sql["theil_sen"]}) t on f.g = t.g
    left join ({sql["mann_kendall"]}) m on f.g = m.g
    left join ({sql["seasonal_strength"]}) s on f.g = s.g
    left join ({sql["dominant_period"]}) d on f.g = d.g
    left join ({sql["runs_test"]}) r on f.g = r.g
    left join ({sql["variance_ratio"]}) v on f.g = v.g
    left join ({sql["kpss_level"]}) k on f.g = k.g
    left join ({sql["pettitt_change"]}) p on f.g = p.g
    left join ({sql["hurst_rs"]}) hh on f.g = hh.g
    """
    return sql
