"""Incremental rollup via Structured Streaming (optional engine mode).

The reference is strictly batch (SURVEY.md §1.3: zero streaming
constructs), and the north-rule tiers are batch cascades with
checkpoint/resume. This module adds the natural streaming twin: new
tokenized-sequence files land in a directory, the 1m tier updates
incrementally with watermarked tumbling windows, and the batch cascade
(1h/1d) re-aggregates from the streamed 1m tier — identical tier
semantics, verified against the batch rollup in tests. The coarse tiers
land through ``pipeline.land_cascade``, the batch job's own lander, so
a stream-landed 1h/1d carries the same manifests and schema sidecar and
every store reader serves it; the 1m staging is written by
``tierstore.write_days`` and commits through the shared sink protocol
(:mod:`traval_spark.streaming.sink`).

Late data: events older than the watermark relative to the max seen ts
are dropped by Spark's state eviction — the batch job remains the
source of truth for full-history rebuilds (standard lambda-style split).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from traval_spark.sources import fsutil
from traval_spark.streaming import sink

#: input schema = the graft table (BASELINE.json input_hint) + event time
SEQUENCE_SCHEMA = (
    "doc_id string, tokens array<int>, n_tok int, source string, "
    "ts timestamp_ntz"
)


def _stream_leaf_1m(
    spark: SparkSession,
    input_path: str,
    watermark: str,
    max_files_per_trigger: int,
    extra_keys: list,
    aggs: list,
    pre_filter=None,
    pre_transform=None,
) -> DataFrame:
    """Shared scaffolding for every streaming 1m leaf tier (measure,
    histogram, DDSketch, KMV, count-min, Bloom, M4, first/last):
    file-source readStream -> watermark -> tumbling-window
    groupBy(source, 1m window, *extra_keys) -> aggs. One copy so the
    shared contract (SEQUENCE_SCHEMA, the ts cast — watermark requires
    TIMESTAMP, window start cast back to NTZ to match the batch tier
    schema — and the watermark plumbing) cannot drift between tier
    kinds. Grouping stays on ``F.window`` because append mode needs a
    window on the watermarked column; the per-row expressions
    (``extra_keys``, ``pre_transform``) and the ``aggs`` each leaf
    passes come from its kind's batch module, so a streamed leaf and
    the batch tier cannot define a kind twice."""
    stream = sink.file_stream(
        spark, input_path, SEQUENCE_SCHEMA, max_files_per_trigger
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    if pre_filter is not None:
        stream = stream.filter(pre_filter)
    if pre_transform is not None:
        # row-shape rewrite (e.g. the CMS depth-way explode) BEFORE the
        # windowed agg; must preserve source + ts
        stream = pre_transform(stream)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy("source", F.window("ts", "1 minute").alias("w"),
                 *extra_keys)
        .agg(*aggs)
    )
    rest = [c for c in agg.columns if c not in ("source", "w")]
    return agg.select(
        "source", F.col("w.start").cast("timestamp_ntz").alias("bucket"),
        *rest,
    )


def stream_rollup_1m(
    spark: SparkSession,
    input_path: str,
    watermark: str = "2 minutes",
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming 1m tier: file-source readStream -> watermark -> tumbling
    window agg, with the batch tier's own measure aggregates
    (``rollup._agg_exprs_raw``: count/sum/min/max n_tok).
    """
    from traval_spark.rollup import _agg_exprs_raw

    return _stream_leaf_1m(
        spark, input_path, watermark, max_files_per_trigger,
        extra_keys=[],
        aggs=_agg_exprs_raw(),
    )


def stream_hist_1m(
    spark: SparkSession,
    input_path: str,
    value_col: str = "n_tok",
    scale: int = 1,
    watermark: str = "2 minutes",
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming leaf histogram tier (hist.py long form): (source, bucket,
    bin, cnt) per finalized 1m window — counts-only state, so the
    streaming agg carries the same bounded per-(bucket, bin) long as the
    batch tier row it becomes.  The bin is the batch tier's own
    (``hist.hist_bin``)."""
    from traval_spark.hist import hist_bin

    return _stream_leaf_1m(
        spark, input_path, watermark, max_files_per_trigger,
        extra_keys=[hist_bin(F.col(value_col), scale).alias("bin")],
        aggs=[F.count(F.lit(1)).alias("cnt")],
        pre_filter=F.col(value_col).isNotNull(),
    )


def stream_dds_1m(
    spark: SparkSession,
    input_path: str,
    value_col: str = "n_tok",
    alpha: float = 0.05,
    watermark: str = "2 minutes",
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming leaf DDSketch tier (hist.py log-binned long form):
    (source, bucket, sign, bin, cnt) per finalized 1m window — the
    unbounded-domain quantile companion to :func:`stream_hist_1m`, same
    counts-only bounded state, identical rows to the batch dds_tier so
    dds_cascade/dds_quantiles serve the streamed store unchanged (the
    bin definition is shared — hist.py:dds_sign_bin — so the streamed
    leaf and the batch tier bucket identically by construction)."""
    from traval_spark.hist import dds_sign_bin

    v = F.col(value_col)
    sign, bin_ = dds_sign_bin(v, alpha)
    return _stream_leaf_1m(
        spark, input_path, watermark, max_files_per_trigger,
        extra_keys=[sign.alias("sign"), bin_.alias("bin")],
        aggs=[F.count(F.lit(1)).alias("cnt")],
        pre_filter=v.isNotNull(),
    )


def stream_distinct_1m(
    spark: SparkSession,
    input_path: str,
    key_col: str = "n_tok",
    k: int = 256,
    watermark: str = "2 minutes",
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming leaf KMV distinct-sketch tier (sketch.py): (source,
    bucket, kmv) per finalized 1m window.  collect_set keeps the
    per-window distinct hash set in state — bounded by the minute
    bucket's cardinality, exactly the batch leaf-agg contract."""
    from traval_spark.sketch import kmv_agg

    return _stream_leaf_1m(
        spark, input_path, watermark, max_files_per_trigger,
        extra_keys=[],
        aggs=[kmv_agg(key_col, k).alias("kmv")],
    )


def stream_cms_1m(
    spark: SparkSession,
    input_path: str,
    key_col: str = "n_tok",
    depth: int = 4,
    width: int = 256,
    watermark: str = "2 minutes",
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming leaf count-min tier (sketch.py long-form grid):
    (source, bucket, d, w, cnt) per finalized 1m window — the frequency
    companion to :func:`stream_hist_1m`. The depth-way explode of the
    batch tier's own cells (``sketch.cms_cells``) runs BEFORE the
    windowed agg, so state stays counts-only and the streamed rows are
    identical to batch cms_tier rows: cms_cascade / cms_point /
    read_routed_cms serve the streamed store unchanged.  A ``width``
    above 2^31 raises ``ValueError`` here, before any query starts, as
    it does in ``cms_tier``."""
    from traval_spark.sketch import cms_cells

    key = F.col(key_col).cast("string")
    cells = cms_cells(key, depth, width)
    # the width key is aggregated as __w: the shared helper's tumbling
    # window is aliased `w`, and a bare `w` grouping column would make
    # the helper's `w.start` projection ambiguous
    out = _stream_leaf_1m(
        spark, input_path, watermark, max_files_per_trigger,
        extra_keys=[F.col("__c.d").alias("d"), F.col("__c.w").alias("__w")],
        aggs=[F.count(F.lit(1)).alias("cnt")],
        pre_filter=key.isNotNull(),
        pre_transform=lambda df: df.select(
            "source", "ts", F.explode(cells).alias("__c")
        ),
    )
    return out.withColumnRenamed("__w", "w").select(
        "source", "bucket", "d", "w", "cnt"
    )


def run_incremental_rollup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    watermark: str = "2 minutes",
    available_now: bool = True,
):
    """Run the streaming 1m rollup to parquet with exactly-once checkpoints.

    available_now=True drains everything currently in the directory and
    stops (incremental batch catch-up); False runs continuously.
    Append output mode: a window only emits once its watermark passes —
    finalized buckets, never rewritten, exactly the batch tier rows.
    """
    agg = stream_rollup_1m(spark, input_path, watermark)
    return sink.start(
        agg.writeStream.format("parquet").option("path", output_path),
        checkpoint_path, available_now,
    )


def _read_staging(spark: SparkSession, store_root: str,
                  leaf: StructType) -> DataFrame:
    """The 1m staging, read with the schema it is known to have: the
    ``leaf`` tier's columns, then the ``qid``/``batch_id``/``day``
    directory keys — no footer-inference job."""
    schema = StructType(
        [StructField(f.name, f.dataType) for f in leaf.fields]
        + [StructField("qid", StringType()),
           StructField("batch_id", IntegerType()),
           StructField("day", DateType())]
    )
    return spark.read.schema(schema).parquet(f"{store_root}/1m")


def cascade_upsert_batch(
    batch_df: DataFrame, batch_id: int, store_root: str,
    run_id: str | None = None,
) -> None:
    """One idempotent micro-batch step of the continuous-aggregate cascade.

    1. write this batch's 1m rows under
       ``{store_root}/1m/qid=<run_id>/batch_id=N`` (day-partitioned
       inside, through :func:`~traval_spark.sources.tierstore.write_days`;
       ``run_id`` = the streaming query id,
       :func:`~traval_spark.streaming.sink.stream_query_id`) under the
       shared commit protocol (:func:`~traval_spark.streaming.sink.commit`):
       a replayed batch (same query id + batch_id, same deterministic
       content) finds the batch directory's ``_COMMITTED`` marker and
       skips; a partial directory from a crashed attempt (no marker) is
       overwritten wholesale. The 1m staging therefore never holds
       duplicate rows from replays, and the marker doubles as the
       compaction tombstone (:func:`compact_stream_store`). A FRESH
       checkpoint pointed at an existing store gets a new query id, so
       its batches land instead of being silently skipped (reprocessing
       the same input under a new checkpoint appends a second copy —
       detectable via the qid column; rebuild from the batch cascade to
       reconcile, the documented lambda split). An empty micro-batch
       leaves no batch directory.
    2. recompute the 1h tier for ONLY the days this batch touched — the
       ``day=`` directories of its batch directory, one listing that
       also serves a replay whose write was skipped — by re-aggregating
       the (partition-pruned) 1m staging, and land those days through
       :func:`~traval_spark.pipeline.land_cascade`, the batch job's own
       lander (``TierStore.write_tier(days=...)``: dynamic partition
       overwrite, one manifest per day and the ``_schema.json`` sidecar);
    3. same for 1d from the 1h days just landed (the lander rereads
       them, pruned to the touched days).

    A replay that crashed between steps 1 and 3 re-runs 2/3 as full
    recomputes of their day partitions over the duplicate-free 1m
    staging, so every tier converges to the exact batch-cascade result.
    """
    from traval_spark.pipeline import land_cascade
    from traval_spark.rollup import rollup_cascade
    from traval_spark.sources.tierstore import TierStore, write_days

    s = batch_df.sparkSession
    bdir = sink.batch_dir(f"{store_root}/1m", run_id, batch_id)
    day = F.date_trunc("day", F.col("bucket")).cast("date")
    wrote = sink.commit(s, bdir, lambda d: write_days(
        batch_df.withColumn("day", day), d, sidecar=False))
    days = sorted(n[4:] for n in fsutil.list_names(s, bdir)
                  if n.startswith("day="))
    if not days:
        if wrote:  # an empty micro-batch: its write left an empty dir
            fsutil.delete(s, bdir)
        return
    t1m = _read_staging(s, store_root, batch_df.schema).filter(
        F.col("day").cast("string").isin(days))
    land_cascade(TierStore(store_root, spark=s),
                 rollup_cascade(t1m.drop("qid", "batch_id", "day"), "1h"),
                 rollup_cascade, tiers=("1h", "1d"), days=days)


#: qid used for compacted data — never a real streaming query id
COMPACT_QID = "__compact"


def compact_stream_store(
    spark: SparkSession, store_root: str, before_day
) -> int:
    """Compact the 1m tier's batch-dir small files for finalized days.

    The idempotent sink writes one directory per (query id, micro-batch)
    — correct, but at 100 TB the 1m tier accrues thousands of small
    files per day. For days strictly before ``before_day`` (choose a cut
    safely behind the watermark: those days can no longer receive new
    windows or replays), this:

    1. rewrites all their rows — batch dirs AND previously compacted
       data — into ``qid=__compact`` day partitions via dynamic
       partition overwrite (one consolidated file set per day);
    2. deletes the now-redundant day subdirectories from the source
       batch dirs, KEEPING each batch dir and its ``_COMMITTED`` marker
       as a tombstone, so a late replay of an old batch still finds its
       marker and skips instead of resurrecting the rows.

    One glob lists every staged day directory: it names the days to
    compact and the directories to delete. The staging is read with the
    cascade's schema, whose leaf columns the stored 1h tier carries
    (``rollup_cascade`` keeps each measure's type).

    Crash-safe by invariant, not ordering: 1m rows are unique per
    (source, bucket) — append-mode windows + the idempotent batch sink —
    so the consolidation always runs ``dropDuplicates(source, bucket)``.
    A crash between the overwrite commit and the source deletes leaves
    visible duplicates, and a RERUN collapses them (the dedupe makes the
    whole operation convergent); re-running after full success is a
    no-op rewrite. Returns the number of day partitions compacted.
    Row-for-row lossless (asserted in tests).
    """
    from traval_spark.sources.tierstore import TierStore, write_days

    cut = pd.Timestamp(before_day).date().isoformat()
    # only days that still have un-compacted source rows; fully compacted
    # days would just be rewritten identically
    staged = fsutil.glob(spark, f"{store_root}/1m/qid=*/batch_id=*/day=*")
    src = [p for p in staged if f"/qid={COMPACT_QID}/" not in p
           and p.rsplit("day=", 1)[1] < cut]
    days = sorted({p.rsplit("day=", 1)[1] for p in src})
    if not days:
        return 0
    leaf = TierStore(store_root, spark=spark).read_tier("1h").drop("day")
    old = _read_staging(spark, store_root, leaf.schema).filter(
        F.col("day").cast("string").isin(days))
    consolidated = (
        old.drop("qid", "batch_id").dropDuplicates(["source", "bucket"])
        # eager materialization BEFORE the write: the target dir is under
        # the path being read, and overwriting files still referenced by
        # the lazy plan is the classic self-overwrite corruption. (At
        # warehouse scale: stage to a temp table instead.)
        .localCheckpoint(eager=True)
    )
    # batch_id=0 level keeps the partition-directory depth uniform with
    # the live batch dirs (qid/batch_id/day) for discovery. write_days
    # enforces dynamic overwrite: a static one would truncate previously
    # compacted days whose source dirs are already deleted — data loss
    write_days(consolidated, f"{store_root}/1m/qid={COMPACT_QID}/batch_id=0",
               sidecar=False)
    # drop the compacted day dirs from every source batch dir (markers
    # and batch dirs themselves stay as replay tombstones)
    for p in src:
        fsutil.delete(spark, p)
    return len(days)


def run_streaming_cascade(
    spark: SparkSession,
    input_path: str,
    store_root: str,
    checkpoint_path: str,
    watermark: str = "2 minutes",
    available_now: bool = True,
    max_files_per_trigger: int = 64,
):
    """Continuous aggregates: keep the FULL 1m->1h->1d cascade current as
    sequence files arrive, TimescaleDB-continuous-aggregate style.

    Per micro-batch of watermark-finalized 1m windows (append-mode
    semantics: each window arrives exactly once), runs
    :func:`cascade_upsert_batch` — idempotent under checkpoint replay
    (batch_id-keyed 1m writes + full day-partition recomputes of the
    coarse tiers), so an interrupted-and-replayed batch cannot
    double-count in any tier. ``store_root``'s 1h and 1d are TierStore
    tiers (``TierStore(store_root)`` reads, routes and verifies them);
    its 1m is the sink's staging. The batch-mode ``rollup_cascade``
    remains the source of truth for full-history rebuilds (lambda split
    as in :func:`run_incremental_rollup`).

    At 100 TB the per-batch work is bounded by (touched days x sources):
    the coarse-tier recomputes scan the pruned 1m/1h day partitions
    (thousands of rows), never the raw sequence table.
    """
    agg = stream_rollup_1m(spark, input_path, watermark,
                           max_files_per_trigger=max_files_per_trigger)
    return sink.run_upserts(agg, cascade_upsert_batch, store_root,
                            checkpoint_path, available_now)


def stream_sessionize(
    spark: SparkSession,
    input_path: str,
    gap: str = "30m",
    watermark: str = "2 minutes",
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming gap-based sessionization of sequence file drops per
    source: the SAME native session_window aggregation as the batch
    :func:`traval_spark.rollup.session_rollup` runs under a watermark —
    sessions emit (append mode) once the watermark passes their close,
    after which they can no longer merge. Emitted sessions are therefore
    exactly the batch result restricted to watermark-finalized sessions
    (asserted in tests)."""
    from traval_spark.functions.ts import gap_micros

    g_us = gap_micros(gap)  # same parser as batch session_rollup
    stream = sink.file_stream(
        spark, input_path, SEQUENCE_SCHEMA, max_files_per_trigger
    ).select(
        "source",
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("n_tok").cast("double").alias("value"),
    )
    out = (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.col("source"),
            F.session_window(F.col("ts"), f"{g_us} microseconds").alias("w"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    return out.select(
        "source",
        F.col("w.start").cast("timestamp_ntz").alias("session_start"),
        F.timestamp_micros(
            F.unix_micros(F.col("w.end")) - F.lit(g_us)
        ).cast("timestamp_ntz").alias("session_end_ts"),
        "n_events",
        "sum_value",
    )


def stream_bloom_1m(
    spark: SparkSession,
    input_path: str,
    key_col: str = "n_tok",
    nhash: int = 4,
    nbits: int = 4096,
    watermark: str = "2 minutes",
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming leaf Bloom membership tier (sketch.py long-form set
    bits): distinct (source, bucket, bit) per finalized 1m window — the
    membership companion to :func:`stream_cms_1m`. The nhash-way bit
    explode runs BEFORE the windowed agg (same portable md5 hash ladder
    as the batch bloom_tier), state is one row per distinct set bit, and
    the streamed rows are identical to batch bloom_tier rows:
    bloom_cascade / bloom_probe / read_routed_bloom serve the streamed
    store unchanged."""
    from traval_spark.sketch import bloom_bits

    key = F.col(key_col).cast("string")
    out = _stream_leaf_1m(
        spark, input_path, watermark, max_files_per_trigger,
        extra_keys=[F.col("bit")],
        aggs=[F.count(F.lit(1)).alias("__n")],
        pre_filter=key.isNotNull(),
        pre_transform=lambda df: df.select(
            "source", "ts",
            F.explode(bloom_bits(key, nhash, nbits)).alias("bit"),
        ),
    )
    return out.select("source", "bucket", "bit")


def stream_m4_1m(
    spark: SparkSession,
    input_path: str,
    value_col: str = "n_tok",
    watermark: str = "2 minutes",
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming leaf M4 visual-downsample tier
    (operators/downsample.py): first/last/min/max points with the
    pinned tie rules per finalized 1m window.  The aggregate list is
    the SAME ``m4_aggs()`` the batch operator and the pipeline's
    combined leaf use (tie rules cannot drift), state per (source, window) is four (us, value) extremes —
    bounded — and the streamed rows are identical to batch
    ``m4_downsample`` rows, so ``m4_merge`` / ``read_routed_m4`` serve
    the streamed store unchanged."""
    from traval_spark.operators.downsample import m4_aggs, m4_project

    out = _stream_leaf_1m(
        spark, input_path, watermark, max_files_per_trigger,
        extra_keys=[],
        aggs=m4_aggs(),
        pre_filter=F.col(value_col).isNotNull(),
        pre_transform=lambda df: df.select(
            "source", "ts",
            F.unix_micros(F.col("ts")).alias("__us"),
            F.col(value_col).alias("__v"),
        ),
    )
    return m4_project(out, ["source", "bucket"])


def stream_burst_dedup(
    spark: SparkSession,
    input_path: str,
    gap: str = "5m",
    watermark: str = "2 minutes",
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming at-least-once ingest cleanup: the SAME session_window
    burst collapse as the batch :func:`traval_spark.rollup.burst_dedup`
    (per source, every transitive <=gap burst reduces to its first
    (ts, doc_id) row + dropped count), run under a watermark so a burst
    emits once it can no longer grow. Emitted rows are exactly the
    batch result restricted to watermark-finalized bursts — same
    contract (and parity test shape) as :func:`stream_sessionize`."""
    from traval_spark.functions.ts import gap_micros

    g_us = gap_micros(gap)
    stream = sink.file_stream(
        spark, input_path, SEQUENCE_SCHEMA, max_files_per_trigger
    ).select("source", F.col("ts").cast("timestamp").alias("ts"), "doc_id")
    first = F.min(
        F.struct(F.col("ts").alias("t"), F.col("doc_id").alias("i"))
    ).alias("__f")
    out = (
        stream.withWatermark("ts", watermark)
        .groupBy(
            "source",
            F.session_window(F.col("ts"), f"{g_us} microseconds"),
        )
        .agg(first, (F.count(F.lit(1)) - F.lit(1)).alias("n_dropped"))
    )
    return out.select(
        "source",
        F.col("__f.t").cast("timestamp_ntz").alias("first_ts"),
        F.col("__f.i").alias("first_ident"),
        "n_dropped",
    )


def stream_fl_1m(
    spark: SparkSession,
    input_path: str,
    value_col: str = "n_tok",
    watermark: str = "2 minutes",
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming leaf first/last tier (rollup.py:fl_rollup): the
    TimescaleDB ``first(value, time)`` / ``last(value, time)`` pair
    per finalized 1m window, as the SAME lexicographically-ordered
    (epoch-us, ident, value) struct min/max the batch operator stores
    — state per (source, window) is two structs, bounded, and the
    streamed rows are identical to batch ``fl_rollup`` rows so
    ``fl_cascade`` / ``read_routed_fl`` / ``locf_from_tier`` /
    ``fl_increase`` serve the streamed store unchanged.  The
    aggregates are the batch operator's own (``rollup.fl_aggs``)."""
    from traval_spark.functions.ts import unix_us
    from traval_spark.rollup import fl_aggs

    return _stream_leaf_1m(
        spark, input_path, watermark, max_files_per_trigger,
        extra_keys=[],
        aggs=fl_aggs(unix_us(F.col("ts")), F.col("doc_id"),
                     F.col(value_col)),
        pre_filter=F.col(value_col).isNotNull(),
    )
