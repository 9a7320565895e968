"""Streaming incremental 1m rollup == batch 1m rollup (finalized windows)."""

from __future__ import annotations

from pyspark.sql import functions as F

from traval_spark.rollup import rollup_raw
from traval_spark.sources.synth import synth_sequences
from traval_spark.streaming.rollup_stream import run_incremental_rollup


def test_streaming_rollup_matches_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    seqs = synth_sequences(spark, 4000, seed=42, span_days=1)
    # two file batches, as if arriving over time
    seqs.filter(F.dayofyear("ts") >= 0).limit(0)  # no-op keep lazy simple
    a = seqs.filter(F.xxhash64("doc_id") % 2 == 0)
    b = seqs.exceptAll(a)
    a.write.mode("append").parquet(inp)
    b.write.mode("append").parquet(inp)

    run_incremental_rollup(spark, inp, out, ckpt, watermark="1 minute",
                           available_now=True)
    streamed = spark.read.parquet(out)

    batch = rollup_raw(seqs, "1m")
    # append mode only emits windows finalized by the watermark: every
    # streamed bucket must exactly match its batch twin, and the stream
    # must have finalized all but the trailing (watermark-held) buckets
    joined = streamed.alias("s").join(
        batch.alias("b"), on=["source", "bucket"], how="left"
    )
    mismatches = joined.filter(
        (F.col("s.n_points") != F.col("b.n_points"))
        | (F.col("s.sum_tok") != F.col("b.sum_tok"))
        | (F.col("s.min_tok") != F.col("b.min_tok"))
        | (F.col("s.max_tok") != F.col("b.max_tok"))
    ).count()
    assert mismatches == 0
    assert streamed.count() >= batch.count() * 0.9  # only tail held back


def test_stateful_spike_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState spike flags == batch rule_spike_detection,
    with the per-source boundary carried across micro-batch splits
    (maxFilesPerTrigger=1 forces the two file drops into separate
    triggers; the cross-file neighbor pairs only flag correctly if state
    works)."""
    import time as _time

    from traval_spark.operators.rules import rule_spike_detection
    from traval_spark.streaming.stateful_rules import stream_spike_clean

    inp = str(tmp_path / "sin")
    out = str(tmp_path / "sout")
    ckpt = str(tmp_path / "sckpt")

    seqs = (
        synth_sequences(spark, 4000, seed=7, span_days=1)
        # collapse duplicate (source, ts) rows: both engines sort by ts and
        # tie order would otherwise be ambiguous
        .groupBy("source", "ts").agg(F.max("n_tok").alias("n_tok"))
    )
    mid = "2024-01-01 12:00:00"
    early = seqs.filter(F.col("ts") < mid).coalesce(1)
    late = seqs.filter(F.col("ts") >= mid).coalesce(1)
    early.write.mode("append").parquet(inp)
    _time.sleep(1.1)  # distinct mtimes: file source processes in order
    late.write.mode("append").parquet(inp)

    thr, tol, gap = 150.0, 100.0, "30m"
    q = (
        stream_spike_clean(spark, inp, threshold=thr, spike_tol=tol,
                           max_gap=gap, max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.read.parquet(out).select(
        F.col("source"),
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        F.col("code").alias("s_code"),
    )

    batch = rule_spike_detection(
        seqs.select(F.col("source").alias("series_id"), "ts",
                    F.col("n_tok").cast("double").alias("value")),
        "value", "r", threshold=thr, spike_tol=tol, max_gap=gap,
    ).select(F.col("series_id").alias("source"), "ts",
             F.col("r_code").cast("int").alias("b_code"))

    # every point except each source's pending tail is emitted exactly once
    n_sources = seqs.select("source").distinct().count()
    assert streamed.count() == seqs.count() - n_sources

    j = streamed.join(batch, on=["source", "ts"], how="inner")
    assert j.count() == streamed.count()
    assert j.filter(F.col("s_code") != F.col("b_code")).count() == 0
    # the test is vacuous unless some spikes actually fired
    assert streamed.filter(F.col("s_code") != 0).count() > 0


def test_streaming_resume_is_incremental(spark, tmp_path):
    """New files after a restart are processed from the checkpoint, not
    from scratch (exactly-once per input file)."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    seqs = synth_sequences(spark, 3000, seed=1, span_days=1)
    first = seqs.filter(F.xxhash64("doc_id") % 3 != 0)
    rest = seqs.exceptAll(first)

    first.write.mode("append").parquet(inp)
    run_incremental_rollup(spark, inp, out, ckpt, watermark="1 minute")
    n1 = spark.read.parquet(out).count()

    rest.write.mode("append").parquet(inp)
    run_incremental_rollup(spark, inp, out, ckpt, watermark="1 minute")
    n2 = spark.read.parquet(out).count()
    assert n2 >= n1  # second drain appended newly finalized windows only


def test_streaming_cascade_matches_batch(spark, tmp_path):
    """foreachBatch continuous aggregates: after draining multiple
    micro-batches, the stored 1h/1d tiers must equal a batch
    rollup_cascade over the streamed 1m tier — the incremental
    partition-overwrite maintenance is invisible in the result."""
    import time as _time

    from traval_spark.rollup import rollup_cascade
    from traval_spark.streaming.rollup_stream import run_streaming_cascade

    inp = str(tmp_path / "cin")
    root = str(tmp_path / "cstore")
    ckpt = str(tmp_path / "cckpt")

    seqs = synth_sequences(spark, 4000, seed=11, span_days=2)
    a = seqs.filter(F.xxhash64("doc_id") % 2 == 0).coalesce(1)
    b = seqs.exceptAll(a).coalesce(1)
    a.write.mode("append").parquet(inp)
    _time.sleep(1.1)  # distinct mtimes: two separate micro-batches
    b.write.mode("append").parquet(inp)

    run_streaming_cascade(spark, inp, root, ckpt, watermark="1 minute",
                          available_now=True, max_files_per_trigger=1)

    t1m = spark.read.parquet(f"{root}/1m").drop("day", "batch_id", "qid")
    t1h = spark.read.parquet(f"{root}/1h").drop("day")
    t1d = spark.read.parquet(f"{root}/1d").drop("day")
    assert t1m.count() > 0 and t1h.count() > 0 and t1d.count() > 0

    want_1h = rollup_cascade(t1m, "1h")
    want_1d = rollup_cascade(want_1h, "1d")
    assert t1h.exceptAll(want_1h).count() == 0
    assert want_1h.exceptAll(t1h).count() == 0
    assert t1d.exceptAll(want_1d).count() == 0
    assert want_1d.exceptAll(t1d).count() == 0


def test_stream_landed_store_serves_like_a_batch_store(spark, tmp_path):
    """The streaming cascade lands 1h/1d through TierStore.write_tier:
    after a two-batch drain the store's own readers serve it — routed
    reads equal the batch cascade of the drained 1m rows, the cascade
    audit is clean, the manifests list the drained days — and a plain
    parquet read of a tier skips its ``_manifests`` directory."""
    import os
    import time as _time

    from traval_spark.rollup import rollup_cascade
    from traval_spark.router import read_resolution
    from traval_spark.sources.tierstore import (
        TierStore,
        tier_freshness,
        verify_cascade,
    )
    from traval_spark.streaming.rollup_stream import run_streaming_cascade

    inp = str(tmp_path / "sin")
    root = str(tmp_path / "sstore")
    ckpt = str(tmp_path / "sckpt")
    seqs = synth_sequences(spark, 3000, seed=17, span_days=2)
    mid = "2024-01-02 00:00:00"
    seqs.filter(F.col("ts") < mid).coalesce(1).write.parquet(inp,
                                                             mode="append")
    _time.sleep(1.1)  # distinct mtimes: two separate micro-batches
    seqs.filter(F.col("ts") >= mid).coalesce(1).write.parquet(
        inp, mode="append")
    run_streaming_cascade(spark, inp, root, ckpt, watermark="1 minute",
                          max_files_per_trigger=1)

    t1m = spark.read.parquet(f"{root}/1m").drop("day", "batch_id", "qid")
    days = sorted({r["d"] for r in t1m.select(
        F.col("bucket").cast("date").cast("string").alias("d")).collect()})
    assert len(days) == 2
    store = TierStore(root)
    want = {"1h": rollup_cascade(t1m, "1h")}
    want["1d"] = rollup_cascade(want["1h"], "1d")
    for tier in ("1h", "1d"):
        assert store.days(tier) == days
        assert os.path.exists(f"{root}/{tier}/_manifests/_schema.json")
        got = read_resolution(store, tier)
        assert got.exceptAll(want[tier]).count() == 0
        assert want[tier].exceptAll(got).count() == 0
        plain = spark.read.parquet(f"{root}/{tier}")
        assert plain.filter(
            F.input_file_name().contains("_manifests")).count() == 0
        assert plain.drop("day").exceptAll(want[tier]).count() == 0
    assert verify_cascade(store, "1h", "1d").count() == 0
    fresh = tier_freshness(store, ["1h", "1d"], as_of=days[-1])
    assert [(r["min_day"], r["max_day"], r["n_days"]) for r in fresh] == [
        (days[0], days[-1], 2)] * 2


def test_cascade_upsert_empty_batch_lands_nothing(spark, tmp_path):
    """An empty micro-batch leaves no batch directory and no manifest."""
    import os

    from traval_spark.rollup import rollup_raw
    from traval_spark.streaming.rollup_stream import cascade_upsert_batch

    root = str(tmp_path / "estore")
    empty = rollup_raw(
        synth_sequences(spark, 10, seed=3, span_days=1).limit(0), "1m")
    cascade_upsert_batch(empty, 0, root, run_id="q")
    assert not os.path.exists(f"{root}/1m/qid=q/batch_id=0")
    assert not os.path.exists(f"{root}/1h")
    assert not os.path.exists(f"{root}/1d")


def test_cascade_upsert_replay_is_idempotent(spark, tmp_path):
    """A foreachBatch replay (same batch_id, same content — what the
    checkpoint guarantees after a crash) must not duplicate 1m rows or
    double-count any tier: the batch_id-keyed 1m write skips on its
    _COMMITTED marker and the coarse tiers recompute from the
    duplicate-free 1m tier."""
    from traval_spark.rollup import rollup_cascade, rollup_raw
    from traval_spark.streaming.rollup_stream import cascade_upsert_batch

    root = str(tmp_path / "istore")
    seqs = synth_sequences(spark, 2000, seed=5, span_days=2)
    t1m_batch = rollup_raw(
        seqs.select(F.col("source"), "ts",
                    F.col("n_tok").cast("double").alias("n_tok"))
    , "1m")

    cascade_upsert_batch(t1m_batch, 0, root)
    once = spark.read.parquet(f"{root}/1m").drop("day", "batch_id", "qid")
    n_once = once.count()
    # replay the exact same batch (crash-after-commit scenario)
    cascade_upsert_batch(t1m_batch, 0, root)

    t1m = spark.read.parquet(f"{root}/1m").drop("day", "batch_id", "qid")
    assert t1m.count() == n_once
    assert t1m.groupBy("source", "bucket").count().filter(
        F.col("count") > 1).count() == 0
    t1d = spark.read.parquet(f"{root}/1d").drop("day")
    want_1d = rollup_cascade(rollup_cascade(t1m, "1h"), "1d")
    assert t1d.exceptAll(want_1d).count() == 0
    assert want_1d.exceptAll(t1d).count() == 0


def test_streaming_cascade_resumes_across_runs(spark, tmp_path):
    """The cascade is resumable: drain batch A, stop, land batch B, run
    again with the SAME checkpoint — only B is reprocessed (exactly-once
    file source), and the final tiers equal a batch cascade over the
    full streamed 1m tier."""
    from traval_spark.rollup import rollup_cascade
    from traval_spark.streaming.rollup_stream import run_streaming_cascade

    inp = str(tmp_path / "rin")
    root = str(tmp_path / "rstore")
    ckpt = str(tmp_path / "rckpt")

    # split by TIME, not by hash: the checkpoint carries the watermark
    # across runs, so a second batch replaying timestamps below it would
    # (correctly) be dropped as late data — resume means "newer data
    # arrives later", which a time split models
    seqs = synth_sequences(spark, 4000, seed=23, span_days=2)
    mid = "2024-01-02 00:00:00"
    a = seqs.filter(F.col("ts") < mid).coalesce(1)
    b = seqs.filter(F.col("ts") >= mid).coalesce(1)

    a.write.mode("append").parquet(inp)
    run_streaming_cascade(spark, inp, root, ckpt, watermark="1 minute",
                          available_now=True)
    rows_after_a = spark.read.parquet(f"{root}/1m").count()
    assert rows_after_a > 0

    b.write.mode("append").parquet(inp)
    run_streaming_cascade(spark, inp, root, ckpt, watermark="1 minute",
                          available_now=True)

    t1m = spark.read.parquet(f"{root}/1m").drop("day", "batch_id", "qid")
    # second run appended strictly new 1m rows (no reprocessing of A)
    assert t1m.count() > rows_after_a
    # an identical (source,bucket) window emitted twice would be a
    # double-processing bug — the file-source checkpoint prevents it
    assert t1m.groupBy("source", "bucket").count().filter(
        F.col("count") > 1).count() == 0

    t1d = spark.read.parquet(f"{root}/1d").drop("day")
    want_1d = rollup_cascade(rollup_cascade(t1m, "1h"), "1d")
    assert t1d.exceptAll(want_1d).count() == 0
    assert want_1d.exceptAll(t1d).count() == 0


def test_cascade_fresh_checkpoint_does_not_drop_data(spark, tmp_path):
    """A fresh checkpoint (new query id) over an EXISTING store restarts
    batch numbering at 0 — its batches must LAND, not be skipped because
    an old run's batch_id=0 directory exists (r3 review finding: the
    un-scoped check silently dropped all new data)."""
    from traval_spark.rollup import rollup_raw
    from traval_spark.streaming.rollup_stream import cascade_upsert_batch

    root = str(tmp_path / "qstore")
    seqs = synth_sequences(spark, 2000, seed=5, span_days=2)
    src = seqs.select("source", "ts",
                      F.col("n_tok").cast("double").alias("n_tok"))
    mid = "2024-01-01 12:00:00"
    t1m_a = rollup_raw(src.filter(F.col("ts") < mid), "1m")
    t1m_b = rollup_raw(src.filter(F.col("ts") >= mid), "1m")

    cascade_upsert_batch(t1m_a, 0, root, run_id="query-aaaa")
    n_a = spark.read.parquet(f"{root}/1m").count()
    # operator resets the checkpoint; new lineage, batch ids restart at 0
    cascade_upsert_batch(t1m_b, 0, root, run_id="query-bbbb")
    t1m = spark.read.parquet(f"{root}/1m")
    assert t1m.count() == n_a + t1m_b.count()  # nothing silently skipped
    # same-lineage replay of the second batch still dedupes
    cascade_upsert_batch(t1m_b, 0, root, run_id="query-bbbb")
    assert spark.read.parquet(f"{root}/1m").count() == n_a + t1m_b.count()


def test_stateful_hampel_stream_matches_batch(spark, tmp_path):
    """Streaming Hampel == batch rule_hampel, with the trailing-window
    state (values + precomputed deviations) carried across micro-batch
    splits (maxFilesPerTrigger=1: the rolling median/MAD windows of
    early second-file points reach into the first file)."""
    import time as _time

    from traval_spark.operators.rules import rule_hampel
    from traval_spark.streaming.stateful_rules import stream_hampel_clean

    inp = str(tmp_path / "hin")
    out = str(tmp_path / "hout")
    ckpt = str(tmp_path / "hckpt")

    seqs = (
        synth_sequences(spark, 4000, seed=13, span_days=1)
        .groupBy("source", "ts").agg(F.max("n_tok").alias("n_tok"))
    )
    mid = "2024-01-01 12:00:00"
    early = seqs.filter(F.col("ts") < mid).coalesce(1)
    late = seqs.filter(F.col("ts") >= mid).coalesce(1)
    early.write.mode("append").parquet(inp)
    _time.sleep(1.1)
    late.write.mode("append").parquet(inp)

    window, k, min_obs = "2h", 2.0, 3
    q = (
        stream_hampel_clean(spark, inp, window=window, k=k,
                            min_obs=min_obs, max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.read.parquet(out).select(
        "source",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        F.col("code").alias("s_code"),
    )

    batch = rule_hampel(
        seqs.select(F.col("source").alias("series_id"), "ts",
                    F.col("n_tok").cast("double").alias("value")),
        "value", "r", window=window, k=k, min_obs=min_obs,
    ).select(F.col("series_id").alias("source"), "ts",
             F.col("r_code").cast("int").alias("b_code"))

    # trailing windows: every point emits in its own batch, none pending
    assert streamed.count() == seqs.count()
    j = streamed.join(batch, on=["source", "ts"], how="inner")
    assert j.count() == streamed.count()
    assert j.filter(F.col("s_code") != F.col("b_code")).count() == 0
    assert streamed.filter(F.col("s_code") != 0).count() > 0


def test_compact_stream_store_lossless_and_replay_safe(spark, tmp_path):
    """Compaction of finalized days: row-for-row lossless, shrinks the
    1m file count, leaves batch-dir _COMMITTED tombstones so replays of
    compacted batches still skip, and a rerun (the crash-recovery path)
    converges via the (source, bucket) dedupe invariant."""
    import glob

    from traval_spark.rollup import rollup_raw
    from traval_spark.streaming.rollup_stream import (
        cascade_upsert_batch,
        compact_stream_store,
    )

    root = str(tmp_path / "cpstore")
    seqs = synth_sequences(spark, 3000, seed=9, span_days=2)
    src = seqs.select("source", "ts",
                      F.col("n_tok").cast("double").alias("n_tok"))
    t1m = rollup_raw(src, "1m")
    # several batches -> several small-file dirs on day 1
    day1 = t1m.filter(F.col("bucket") < "2024-01-02")
    half = F.xxhash64("source", "bucket") % 2 == 0
    cascade_upsert_batch(day1.filter(half), 0, root, run_id="q1")
    cascade_upsert_batch(day1.filter(~half), 1, root, run_id="q1")
    cascade_upsert_batch(
        t1m.filter(F.col("bucket") >= "2024-01-02"), 2, root, run_id="q1")

    before = (spark.read.parquet(f"{root}/1m")
              .drop("day", "batch_id", "qid").toPandas()
              .sort_values(["source", "bucket"]).reset_index(drop=True))
    files_before = len(glob.glob(f"{root}/1m/**/*.parquet", recursive=True))

    n = compact_stream_store(spark, root, before_day="2024-01-02")
    assert n == 1  # exactly day 1 compacted

    after = (spark.read.parquet(f"{root}/1m")
             .drop("day", "batch_id", "qid").toPandas()
             .sort_values(["source", "bucket"]).reset_index(drop=True))
    pd_testing = __import__("pandas").testing
    pd_testing.assert_frame_equal(before, after)
    files_after = len(glob.glob(f"{root}/1m/**/*.parquet", recursive=True))
    assert files_after < files_before

    # replay of a compacted batch: tombstoned _COMMITTED still skips it
    cascade_upsert_batch(day1.filter(half), 0, root, run_id="q1")
    again = (spark.read.parquet(f"{root}/1m")
             .drop("day", "batch_id", "qid").toPandas()
             .sort_values(["source", "bucket"]).reset_index(drop=True))
    pd_testing.assert_frame_equal(before, again)

    # crash-recovery rerun: a leftover un-deleted source dir (simulated
    # with a fresh duplicate batch under another qid) collapses via the
    # dedupe invariant instead of double-counting
    cascade_upsert_batch(day1.filter(half), 7, root, run_id="leftover")
    assert spark.read.parquet(f"{root}/1m").count() > len(before)
    compact_stream_store(spark, root, before_day="2024-01-02")
    final = (spark.read.parquet(f"{root}/1m")
             .drop("day", "batch_id", "qid").toPandas()
             .sort_values(["source", "bucket"]).reset_index(drop=True))
    pd_testing.assert_frame_equal(before, final)

    # idempotent when nothing left to compact
    assert compact_stream_store(spark, root, before_day="2024-01-02") == 0


def test_compaction_safe_under_static_overwrite_session(spark, tmp_path):
    """All partition-overwrite writers enforce dynamic mode per-writer:
    under a session whose default is STATIC (plain spark-submit), a
    second compaction would otherwise truncate previously compacted days
    whose source dirs are already deleted — silent data loss (r3 review
    finding)."""
    from traval_spark.rollup import rollup_raw
    from traval_spark.streaming.rollup_stream import (
        cascade_upsert_batch,
        compact_stream_store,
    )

    root = str(tmp_path / "sstore")
    seqs = synth_sequences(spark, 2000, seed=4, span_days=3)
    t1m = rollup_raw(
        seqs.select("source", "ts",
                    F.col("n_tok").cast("double").alias("n_tok")), "1m")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        cascade_upsert_batch(
            t1m.filter(F.col("bucket") < "2024-01-02"), 0, root, "qa")
        cascade_upsert_batch(
            t1m.filter((F.col("bucket") >= "2024-01-02")
                       & (F.col("bucket") < "2024-01-03")), 1, root, "qa")
        cascade_upsert_batch(
            t1m.filter(F.col("bucket") >= "2024-01-03"), 2, root, "qa")
        n0 = spark.read.parquet(f"{root}/1m").count()
        compact_stream_store(spark, root, before_day="2024-01-02")
        compact_stream_store(spark, root, before_day="2024-01-03")
        assert spark.read.parquet(f"{root}/1m").count() == n0
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_sliding_windows_over_streamed_tier(spark, tmp_path):
    """Composition: the streamed 1m tier IS the pane tier — sliding 1h/10m
    windows derived from it equal a batch sliding_rollup over the raw
    rows the stream has finalized (pane-combine is tier-agnostic)."""
    from traval_spark.rollup import sliding_rollup

    inp = str(tmp_path / "slin")
    out = str(tmp_path / "slout")
    ckpt = str(tmp_path / "slckpt")
    seqs = synth_sequences(spark, 3000, seed=21, span_days=1)
    seqs.coalesce(1).write.mode("append").parquet(inp)
    run_incremental_rollup(spark, inp, out, ckpt, watermark="1 minute")
    t1m = spark.read.parquet(out)

    # panes from the streamed tier: rename to the sliding input shape
    # (each 1m bucket is a pre-aggregated pane: n_tok := sum_tok etc.)
    got = sliding_rollup(
        t1m.select("source", F.col("bucket").alias("ts"),
                   F.col("sum_tok").alias("n_tok")),
        window="1h", slide="10m",
    ).select("source", "window_start", "sum_tok")

    # batch truth over exactly the rows whose 1m windows the stream
    # finalized (watermark holds back each source's tail)
    finalized = seqs.join(
        t1m.select("source", "bucket"),
        on=[seqs.source == t1m.source,
            F.date_trunc("minute", seqs.ts).cast("timestamp_ntz")
            == t1m.bucket],
    ).select(seqs.source, seqs.ts, seqs.n_tok)
    want = sliding_rollup(
        finalized.select("source", "ts",
                         F.col("n_tok").cast("double").alias("n_tok")),
        window="1h", slide="10m",
    ).select("source", "window_start", "sum_tok")

    j = got.alias("g").join(want.alias("w"),
                            ["source", "window_start"], "full_outer")
    assert j.filter(F.col("g.sum_tok").isNull()
                    | F.col("w.sum_tok").isNull()).count() == 0
    assert j.filter(
        F.abs(F.col("g.sum_tok") - F.col("w.sum_tok")) > 1e-9).count() == 0


def test_streaming_sessions_match_batch(spark, tmp_path):
    """Streaming session_window (watermark + append) == batch
    session_rollup for every finalized session, across a two-file
    micro-batch split that forces session merges over the boundary."""
    import time as _time

    from traval_spark.rollup import session_rollup
    from traval_spark.streaming.rollup_stream import stream_sessionize

    inp = str(tmp_path / "sein")
    out = str(tmp_path / "seout")
    ckpt = str(tmp_path / "seckpt")

    seqs = synth_sequences(spark, 4000, seed=31, span_days=1)
    mid = "2024-01-01 12:00:00"
    seqs.filter(F.col("ts") < mid).coalesce(1).write.mode("append").parquet(inp)
    _time.sleep(1.1)
    seqs.filter(F.col("ts") >= mid).coalesce(1).write.mode("append").parquet(inp)

    q = (
        stream_sessionize(spark, inp, gap="10m", watermark="1 minute",
                          max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.read.parquet(out)
    assert streamed.count() > 0

    batch = session_rollup(
        seqs.select(F.col("source").alias("user_id"), "ts",
                    F.col("n_tok").cast("double").alias("value")),
        gap="10m",
    ).withColumnRenamed("user", "source")

    # every emitted session matches its batch twin exactly; only each
    # source's trailing (watermark-held) session may be missing
    j = streamed.alias("s").join(
        batch.alias("b"), on=["source", "session_start"], how="left")
    assert j.filter(F.col("b.n_events").isNull()).count() == 0
    assert j.filter(
        (F.col("s.n_events") != F.col("b.n_events"))
        | (F.col("s.session_end_ts") != F.col("b.session_end_ts"))
        | (F.abs(F.col("s.sum_value") - F.col("b.sum_value")) > 1e-9)
    ).count() == 0
    n_sources = seqs.select("source").distinct().count()
    assert streamed.count() >= batch.count() - n_sources


class _FakeState:
    """Minimal GroupState stand-in for driving the stateful kernels
    directly (exists/get/update are all the kernels touch)."""

    def __init__(self, tup=None):
        self._t = tup

    @property
    def exists(self):
        return self._t is not None

    @property
    def get(self):
        return self._t

    def update(self, t):
        self._t = tuple(t)


def _kernel_batches(fn, frames, schema=None):
    """Run a stateful kernel over successive micro-batch frames with one
    carried state; returns the concatenated emitted rows per batch (an
    empty frame with ``schema``'s columns when a batch emits nothing)."""
    import pandas as pd

    from traval_spark.streaming.stateful_rules import OUTPUT_SCHEMA

    columns = [f.split()[0] for f in (schema or OUTPUT_SCHEMA).split(",")]
    state = _FakeState()
    out = []
    for f in frames:
        emitted = list(fn(("src",), iter([f]), state))
        out.append(pd.concat(emitted) if emitted
                   else pd.DataFrame(columns=columns))
    return out


def test_stateful_late_rows_observable():
    """ADVICE r3: a cross-batch late row must not vanish silently —
    late_code= emits it with the marker, in each kernel's own late-row
    shape; default still drops it, and fresh rows are identical either
    way."""
    import numpy as np
    import pandas as pd

    from traval_spark.streaming.stateful_rules import (
        ALERT_OUTPUT_SCHEMA,
        CHANGES_OUTPUT_SCHEMA,
        COUNTER_OUTPUT_SCHEMA,
        LATE_ARRIVAL_CODE,
        OUTPUT_SCHEMA,
        make_alert_state_func,
        make_changes_state_func,
        make_counter_state_func,
        make_flat_state_func,
        make_hampel_state_func,
        make_spike_state_func,
    )

    t0 = pd.Timestamp("2024-01-01")
    late_ts = t0 + pd.Timedelta("30min")
    b1 = pd.DataFrame({
        "ts": [t0, t0 + pd.Timedelta("1h"), t0 + pd.Timedelta("2h")],
        "ident": ["a", "b", "c"],
        "value": [1.0, 1.1, 0.9],
    })
    b2 = pd.DataFrame({
        # first row is LATE (before the carried tail at t0+2h)
        "ts": [late_ts, t0 + pd.Timedelta("3h")],
        "ident": ["x", "d"],
        "value": [5.0, 1.2],
    })

    def coded(late):
        assert list(late["code"]) == [LATE_ARRIVAL_CODE]
        assert list(late["value"]) == [5.0]

    def counter(late):
        assert list(late["ident"]) == ["x"]
        assert list(late["value"]) == [5.0]
        assert list(late["step"]) == [0.0]
        assert list(late["reset"]) == [LATE_ARRIVAL_CODE]

    def changes(late):
        assert list(late["ident"]) == ["late:x"]
        assert np.isnan(late["value"]).all()

    def alerts(late):
        assert list(late["ident"]) == ["late:x"]
        assert list(late["value"]) == [5.0]
        assert list(late["alert"]) == [LATE_ARRIVAL_CODE]

    def is_late(f):
        return (f["ts"] == late_ts).to_numpy()

    cases = (
        (make_spike_state_func,
         dict(threshold=2.0, spike_tol=2.0, max_gap_us=10**12),
         OUTPUT_SCHEMA, False, coded),
        (make_hampel_state_func,
         dict(window_us=4 * 3600 * 10**6, k=3.0, min_obs=2),
         OUTPUT_SCHEMA, False, coded),
        (make_flat_state_func,
         dict(window_us=4 * 3600 * 10**6, min_obs=2, std_threshold=0.5),
         OUTPUT_SCHEMA, False, coded),
        (make_counter_state_func, {}, COUNTER_OUTPUT_SCHEMA, True, counter),
        (make_changes_state_func, {}, CHANGES_OUTPUT_SCHEMA, True, changes),
        # hi=1.05 fires on 1.1, lo=1.0 releases on 0.9: fresh rows emit
        (make_alert_state_func, dict(hi=1.05, lo=1.0),
         ALERT_OUTPUT_SCHEMA, True, alerts),
    )
    for factory, kw, schema, with_ids, check in cases:
        frames = [b if with_ids else b.drop(columns="ident")
                  for b in (b1, b2)]
        silent = _kernel_batches(factory(**kw), frames, schema)
        marked = _kernel_batches(
            factory(**kw, late_code=LATE_ARRIVAL_CODE), frames, schema)

        # default: the late row is gone entirely
        all_silent = pd.concat(silent)
        assert not is_late(all_silent).any(), factory.__name__
        # late_code: exactly that row surfaces, in the kernel's shape
        all_marked = pd.concat(marked)
        assert list(all_marked.columns) == list(all_silent.columns)
        check(all_marked[is_late(all_marked)])
        # fresh rows identical across policies
        fresh = all_marked[~is_late(all_marked)]
        assert len(fresh) > 0
        pd.testing.assert_frame_equal(
            fresh.reset_index(drop=True),
            all_silent.reset_index(drop=True), check_dtype=False)


def test_stateful_equal_ts_higher_ident_not_late():
    """A row at the carried timestamp with a higher ident is fresh, one
    with a lower ident is late — for the changes, alert and episode
    kernels, driven across a micro-batch split (the Spark-level counter
    test pins the same tie-break through a real stream)."""
    import pandas as pd

    from traval_spark.streaming.stateful_rules import (
        ALERT_OUTPUT_SCHEMA,
        CHANGES_OUTPUT_SCHEMA,
        EPISODE_OUTPUT_SCHEMA,
        make_alert_state_func,
        make_changes_state_func,
        make_episode_state_func,
    )

    t = pd.Timestamp("2024-01-01")
    b1 = pd.DataFrame({"ts": [t - pd.Timedelta("1h"), t],
                       "ident": ["a", "m"], "value": [1.0, 9.0]})
    # "z" ties the carried (t, "m") from above: fresh; "c" from below: late
    b2 = pd.DataFrame({"ts": [t, t, t + pd.Timedelta("1h")],
                       "ident": ["c", "z", "n"], "value": [9.0, 2.0, 2.0]})

    changes = pd.concat(_kernel_batches(
        make_changes_state_func(), [b1, b2], CHANGES_OUTPUT_SCHEMA))
    assert list(changes["ident"]) == ["a", "m", "z"]
    assert list(changes["value"]) == [1.0, 9.0, 2.0]

    alerts = pd.concat(_kernel_batches(
        make_alert_state_func(hi=5.0, lo=3.0), [b1, b2],
        ALERT_OUTPUT_SCHEMA))
    assert list(alerts["ident"]) == ["m", "z"]
    assert list(alerts["alert"]) == [1, 0]

    # "z" closes the episode "m" opened; a late "c" would have extended it
    first, episodes = _kernel_batches(
        make_episode_state_func(threshold=5.0), [b1, b2],
        EPISODE_OUTPUT_SCHEMA)
    assert first.empty
    assert list(episodes["episode"]) == [1]
    assert list(episodes["t_start"]) == [t]
    assert list(episodes["n_pts"]) == [1]
    assert list(episodes["peak"]) == [9.0]


def test_spike_kernel_keeps_pre_1970_predecessor():
    """A carried predecessor before 1970 (negative epoch micros) is
    still the pending point's predecessor: a 1965 spike flags the same
    whether or not a micro-batch boundary falls right after it, as the
    2024 series does."""
    import pandas as pd

    from traval_spark.streaming.stateful_rules import make_spike_state_func

    for start in ("1965-01-01", "2024-01-01"):
        f = pd.DataFrame({
            "ts": pd.date_range(start, periods=6, freq="h"),
            "value": [1.0, 1.0, 9.0, 1.0, 1.0, 1.0],
        })
        codes = []
        for frames in ([f], [f.iloc[:3], f.iloc[3:]]):
            out = pd.concat(_kernel_batches(
                make_spike_state_func(threshold=5.0, spike_tol=1.0,
                                      max_gap_us=10**12), frames))
            codes.append(list(out["code"]))
        assert codes[0] == codes[1] == [0, 0, 99, 0, 0], (start, codes)


def test_episode_kernel_keeps_pre_1970_rows():
    """A series' first batch has no late rows: the 1965 series yields
    the 2024 series' episodes shifted by the offset (no state yet must
    not mean "everything before the epoch is late")."""
    import pandas as pd

    from traval_spark.streaming.stateful_rules import (
        EPISODE_OUTPUT_SCHEMA,
        make_episode_state_func,
    )

    def episodes(start):
        f = pd.DataFrame({
            "ts": pd.date_range(start, periods=6, freq="h"),
            "ident": list("abcdef"),
            "value": [1.0, 7.0, 8.0, 1.0, 9.0, 1.0],
        })
        return pd.concat(_kernel_batches(
            make_episode_state_func(threshold=5.0), [f.iloc[:4], f.iloc[4:]],
            EPISODE_OUTPUT_SCHEMA)).reset_index(drop=True)

    new, old = episodes("2024-01-01"), episodes("1965-01-01")
    assert list(new["episode"]) == [1, 2]
    shift = pd.Timestamp("2024-01-01") - pd.Timestamp("1965-01-01")
    old["t_start"] += shift
    old["t_end"] += shift
    pd.testing.assert_frame_equal(old, new)


def test_streaming_hist_and_kmv_match_batch(spark, tmp_path):
    """Streaming 1m histogram + KMV sketch tiers == their batch twins on
    finalized windows, and the batch cascade/extraction composes on top
    of the streamed leaves unchanged."""
    from traval_spark.hist import hist_quantiles, hist_tier
    from traval_spark.sketch import distinct_counts, distinct_tier
    from traval_spark.sources.synth import synth_sequences
    from traval_spark.streaming.rollup_stream import (
        stream_distinct_1m, stream_hist_1m,
    )

    inp = str(tmp_path / "in")
    seqs = synth_sequences(spark, 4000, seed=7, span_days=1)
    a = seqs.filter(F.xxhash64("doc_id") % 2 == 0)
    a.write.mode("append").parquet(inp)
    seqs.exceptAll(a).write.mode("append").parquet(inp)

    for stream_fn, out_name in [
        (lambda: stream_hist_1m(spark, inp, watermark="1 minute"), "hout"),
        (lambda: stream_distinct_1m(spark, inp, key_col="n_tok",
                                    watermark="1 minute"), "kout"),
    ]:
        q = (stream_fn().writeStream.format("parquet")
             .option("path", str(tmp_path / out_name))
             .option("checkpointLocation", str(tmp_path / (out_name + "ck")))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    streamed_hist = spark.read.parquet(str(tmp_path / "hout"))
    batch_hist = hist_tier(seqs, "1m")
    j = streamed_hist.join(batch_hist.withColumnRenamed("cnt", "bcnt"),
                           ["source", "bucket", "bin"], "left")
    assert j.filter((F.col("bcnt").isNull())
                    | (F.col("cnt") != F.col("bcnt"))).count() == 0
    assert streamed_hist.count() >= batch_hist.count() * 0.9

    streamed_kmv = spark.read.parquet(str(tmp_path / "kout"))
    batch_kmv = distinct_tier(seqs, "1m", "n_tok")
    jk = streamed_kmv.join(batch_kmv.withColumnRenamed("kmv", "bkmv"),
                           ["source", "bucket"], "left")
    assert jk.filter((F.col("bkmv").isNull())
                     | (F.col("kmv") != F.col("bkmv"))).count() == 0

    # batch read-time extraction works directly over streamed leaves
    counts = distinct_counts(streamed_kmv)
    assert counts.filter(F.col("n_distinct") <= 0).count() == 0
    p = hist_quantiles(streamed_hist, qs=[0.5])
    assert p.filter(F.col("p50").isNull()).count() == 0


def test_streaming_dedup_matches_batch_and_replays_safely(spark, tmp_path):
    """Streaming incremental dedup: draining the corpus in forced
    micro-batches yields EXACTLY the full-batch banded pair set (every
    pair surfaces when its later member arrives), the fingerprint store
    accumulates every doc once, and a foreachBatch replay of a committed
    batch changes nothing."""
    from traval_spark.operators.dedup import simhash64_dup_pairs
    from traval_spark.streaming.dedup_stream import (
        dedup_upsert_batch,
        run_streaming_dedup,
    )

    inp = str(tmp_path / "din")
    root = str(tmp_path / "dstore")
    ckpt = str(tmp_path / "dckpt")

    base = "the quick brown fox jumps over the lazy dog word%d extra tail"
    rows = [(i, base % (i % 5)) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # three file drops -> three micro-batches (maxFilesPerTrigger=1)
    for lo, hi in [(0, 10), (10, 20), (20, 30)]:
        docs.filter(f"doc_id >= {lo} and doc_id < {hi}").coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    run_streaming_dedup(spark, inp, root, ckpt, max_files_per_trigger=1)

    got = spark.read.option("basePath", f"{root}/pairs").parquet(
        f"{root}/pairs"
    )
    want = {(r["a"], r["b"], r["hamming"])
            for r in simhash64_dup_pairs(docs, max_hamming=3).collect()}
    assert {(r["a"], r["b"], r["hamming"]) for r in got.collect()} == want
    # no pair is emitted by two different batches
    assert got.groupBy("a", "b").count().filter("count > 1").count() == 0

    fp = spark.read.option("basePath", f"{root}/fp").parquet(f"{root}/fp")
    assert fp.count() == 30
    assert fp.select("doc_id").distinct().count() == 30

    # replay a committed batch (same qid + batch_id): both writes skip
    import json

    with open(f"{ckpt}/metadata") as f:
        qid = json.load(f)["id"]
    replay = docs.filter("doc_id < 10")
    dedup_upsert_batch(replay, 0, root, run_id=qid)
    assert spark.read.option("basePath", f"{root}/fp").parquet(
        f"{root}/fp").count() == 30
    assert {(r["a"], r["b"], r["hamming"])
            for r in spark.read.option("basePath", f"{root}/pairs").parquet(
                f"{root}/pairs").collect()} == want


def test_streaming_moments_serve_bit_identical_and_replay_safe(
    spark, tmp_path
):
    """Streaming moment tier: a forced multi-micro-batch drain serves
    the EXACT batch covariance (lossless integer merges), PCA consumes
    the store directly, and a foreachBatch replay of a committed batch
    changes nothing."""
    import json

    import numpy as np
    import pandas as pd

    from traval_spark.operators.similarity import (
        cov_from_moments,
        embedding_cov,
        embedding_moments,
        pca_components,
    )
    from traval_spark.streaming.moments_stream import (
        committed_moments,
        moments_upsert_batch,
        run_streaming_moments,
    )

    inp = str(tmp_path / "min")
    root = str(tmp_path / "mstore")
    ckpt = str(tmp_path / "mckpt")

    rng = np.random.default_rng(11)
    vecs = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(30),
        "embedding": [rng.normal(size=5).astype("float32").tolist()
                      for _ in range(30)],
        "label": [i % 3 for i in range(30)],
    })).select("vec_id", F.col("embedding").cast("array<float>"),
               F.col("label").cast("int").alias("label"))
    for lo, hi in [(0, 10), (10, 20), (20, 30)]:
        vecs.filter(f"vec_id >= {lo} and vec_id < {hi}").coalesce(
            1).write.mode("append").parquet(inp)

    run_streaming_moments(
        spark, inp, root, ckpt,
        schema="vec_id long, embedding array<float>, label int",
        max_files_per_trigger=1,
    )

    store = committed_moments(spark, root)
    # three committed batches, 15 cells each
    assert store.count() == 45
    direct = {(r["i"], r["j"]): (r["n"], r["cov"], r["corr"])
              for r in embedding_cov(vecs).collect()}
    served = {(r["i"], r["j"]): (r["n"], r["cov"], r["corr"])
              for r in cov_from_moments(store).collect()}
    assert served == direct

    # PCA off the store == PCA off a batch moment build
    m1, w1, c1 = pca_components(store)
    m2, w2, c2 = pca_components(embedding_moments(vecs))
    assert np.array_equal(m1, m2) and np.array_equal(w1, w2)
    assert np.array_equal(c1, c2)

    # replay a committed batch (same qid + batch_id): write skips,
    # the serve is unchanged
    with open(f"{ckpt}/metadata") as f:
        qid = json.load(f)["id"]
    moments_upsert_batch(vecs.filter("vec_id < 10"), 0, root, run_id=qid)
    assert committed_moments(spark, root).count() == 45


def test_streaming_dedup_probe_ignores_uncommitted_batches(spark, tmp_path):
    """A partially-written fingerprint directory (no _COMMITTED marker —
    a crashed run whose checkpoint was deleted, so it will never be
    replayed) must be invisible to the probe corpus: _corpus_fp reads
    only committed batch dirs."""
    from traval_spark.streaming.dedup_stream import (
        _corpus_fp,
        dedup_upsert_batch,
    )

    root = str(tmp_path / "dstore")
    docs = spark.createDataFrame(
        [(i, f"some document body number {i} with shared words") for i in
         range(8)],
        "doc_id long, text string",
    )
    dedup_upsert_batch(docs, 0, root, run_id="runA")
    committed = _corpus_fp(spark, root, "doc_id")
    assert committed.count() == 8

    # simulate a crashed append: fp parquet present, marker absent
    stale = spark.createDataFrame(
        [(999, 1, 2)], "doc_id long, fp_lo long, fp_hi long"
    )
    stale.write.parquet(f"{root}/fp/qid=runB/batch_id=0")

    probe = _corpus_fp(spark, root, "doc_id")
    assert probe.count() == 8
    assert probe.filter("doc_id = 999").count() == 0

    # once committed (a healthy run), the same dir joins the corpus
    from traval_spark.sources import fsutil

    fsutil.touch(spark, f"{root}/fp/qid=runB/batch_id=0/_COMMITTED")
    assert _corpus_fp(spark, root, "doc_id").count() == 9


def test_streaming_dds_matches_batch(spark, tmp_path):
    """Streaming 1m DDSketch tier == batch dds_tier on finalized windows
    (shared bin definition), and batch cascade+quantiles serve the
    streamed leaves unchanged."""
    from traval_spark.hist import dds_cascade, dds_quantiles, dds_tier
    from traval_spark.sources.synth import synth_sequences
    from traval_spark.streaming.rollup_stream import stream_dds_1m

    inp = str(tmp_path / "din")
    seqs = synth_sequences(spark, 3000, seed=23, span_days=1)
    a = seqs.filter(F.xxhash64("doc_id") % 2 == 0)
    a.write.mode("append").parquet(inp)
    seqs.exceptAll(a).write.mode("append").parquet(inp)

    q = (stream_dds_1m(spark, inp, watermark="1 minute")
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "dout"))
         .option("checkpointLocation", str(tmp_path / "dck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    streamed = spark.read.parquet(str(tmp_path / "dout"))
    batch = dds_tier(seqs, "1m", value_col="n_tok")
    j = streamed.join(batch.withColumnRenamed("cnt", "bcnt"),
                      ["source", "bucket", "sign", "bin"], "left")
    assert j.filter((F.col("bcnt").isNull())
                    | (F.col("cnt") != F.col("bcnt"))).count() == 0
    assert streamed.count() >= batch.count() * 0.9

    p = dds_quantiles(dds_cascade(streamed, "1h"), qs=[0.5])
    assert p.filter(F.col("p50").isNull()).count() == 0


def test_stateful_flat_stream_matches_batch(spark, tmp_path):
    """Streaming flat-signal == batch rule_flat_signal (std gate), with
    the trailing window carried across a forced micro-batch split in the
    middle of the flat run."""
    import time as _time

    from traval_spark.operators.rules import rule_flat_signal
    from traval_spark.streaming.stateful_rules import stream_flat_clean

    # hourly grid, 2 sources, 4 days; hours 24..60 are a flat run
    hours = 96
    base = spark.range(0, hours * 2).select(
        F.format_string("s_%d", F.col("id") % 2).alias("source"),
        (F.to_timestamp_ntz(F.lit("2024-01-01")) + F.make_dt_interval(
            F.lit(0), F.floor(F.col("id") / 2).cast("double"),
            F.lit(0.0), F.lit(0.0))).alias("ts"),
        F.when((F.floor(F.col("id") / 2) >= 24)
               & (F.floor(F.col("id") / 2) < 60), F.lit(100))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(200)))
        .cast("int").alias("n_tok"),
    )
    inp = str(tmp_path / "fin")
    mid = "2024-01-02 12:00:00"
    base.filter(F.col("ts") < mid).coalesce(1).write.mode("append").parquet(inp)
    _time.sleep(1.1)
    base.filter(F.col("ts") >= mid).coalesce(1).write.mode("append").parquet(inp)

    q = (
        stream_flat_clean(spark, inp, window="1D", min_obs=3,
                          std_threshold=7.5e-3, max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "fout"))
        .option("checkpointLocation", str(tmp_path / "fckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    streamed = spark.read.parquet(str(tmp_path / "fout")).select(
        "source", F.col("ts").cast("timestamp_ntz").alias("ts"),
        F.col("code").alias("s_code"))

    batch = rule_flat_signal(
        base.select(F.col("source").alias("series_id"), "ts",
                    F.col("n_tok").cast("double").alias("value")),
        "value", "r", window=1, min_obs=3, std_threshold=7.5e-3,
    ).select(F.col("series_id").alias("source"), "ts",
             F.col("r_code").cast("int").alias("b_code"))

    assert streamed.count() == base.count()
    j = streamed.join(batch, on=["source", "ts"], how="inner")
    assert j.count() == streamed.count()
    assert j.filter((F.col("s_code") != 0) != (F.col("b_code") != 0)
                    ).count() == 0
    assert streamed.filter(F.col("s_code") != 0).count() > 0


def test_streaming_span_dedup_matches_sequential_and_replays(spark, tmp_path):
    """Streaming exact-substring dedup: draining in forced micro-batches
    yields per-batch spans equal to sequential duplicated_spans_incremental
    calls over the growing gram index (the ingest-time trim contract),
    the gram store accumulates every batch once, and replaying a
    committed batch changes nothing — including no self-hit flood (the
    spans-before-grams ordering guarantee)."""
    from traval_spark.operators.dedup import (
        duplicated_spans_incremental,
        token_gram_index,
    )
    from traval_spark.streaming.dedup_stream import (
        run_streaming_span_dedup,
        span_upsert_batch,
    )

    inp = str(tmp_path / "sin")
    root = str(tmp_path / "sstore")
    ckpt = str(tmp_path / "sckpt")

    boiler = list(range(7000, 7010))
    rows = [
        (i,
         (boiler + list(range(i * 50, i * 50 + 10))
          if i % 3 == 0 else list(range(i * 50, i * 50 + 15))),
         1, "s")
        for i in range(30)
    ]
    seqs = spark.createDataFrame(
        rows, "doc_id long, tokens array<int>, n_tok int, source string")
    batches = [(0, 10), (10, 20), (20, 30)]
    for lo, hi in batches:
        seqs.filter(f"doc_id >= {lo} and doc_id < {hi}").coalesce(1) \
            .write.mode("append").parquet(inp)

    run_streaming_span_dedup(spark, inp, root, ckpt, k=5,
                             max_files_per_trigger=1)

    got = spark.read.option("basePath", f"{root}/spans").parquet(
        f"{root}/spans")
    got_set = {(r["doc_id"], r["span_start"], r["span_end"])
               for r in got.collect()}

    # sequential oracle: probe each batch against the grams of everything
    # before it
    want = set()
    for i, (lo, hi) in enumerate(batches):
        b = seqs.filter(f"doc_id >= {lo} and doc_id < {hi}")
        prior = seqs.filter(f"doc_id < {lo}")
        idx = token_gram_index(prior, k=5)
        want |= {(r["doc_id"], r["span_start"], r["span_end"])
                 for r in duplicated_spans_incremental(b, idx, k=5)
                 .collect()}
    assert got_set == want
    # every boilerplate carrier flagged on exactly [0, 10)
    carriers = {d for d in range(30) if d % 3 == 0}
    assert {(d, 0, 10) for d in carriers} <= got_set
    assert not any(d % 3 != 0 for d, _, _ in got_set)

    grams = spark.read.option("basePath", f"{root}/grams").parquet(
        f"{root}/grams")
    assert grams.select("gram").distinct().count() > 0

    # replay a committed batch: nothing changes, no self-hit flood
    import json
    with open(f"{ckpt}/metadata") as f:
        qid = json.load(f)["id"]
    span_upsert_batch(seqs.filter("doc_id < 10"), 0, root, run_id=qid, k=5)
    again = {(r["doc_id"], r["span_start"], r["span_end"])
             for r in spark.read.option("basePath", f"{root}/spans")
             .parquet(f"{root}/spans").collect()}
    assert again == got_set


def test_stream_cms_1m_matches_batch(spark, tmp_path):
    """Streaming CMS leaf == batch cms_tier on every finalized window
    (same hash ladder, same long-form rows), and the streamed store
    serves cms_cascade + cms_point unchanged."""
    from traval_spark.sketch import cms_cascade, cms_point, cms_tier
    from traval_spark.sources.synth import synth_sequences
    from traval_spark.streaming.rollup_stream import stream_cms_1m

    inp = str(tmp_path / "cin")
    seqs = synth_sequences(spark, 3000, seed=29, span_days=1)
    a = seqs.filter(F.xxhash64("doc_id") % 2 == 0)
    a.write.mode("append").parquet(inp)
    seqs.exceptAll(a).write.mode("append").parquet(inp)

    q = (stream_cms_1m(spark, inp, key_col="n_tok", watermark="1 minute")
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "cout"))
         .option("checkpointLocation", str(tmp_path / "cck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    streamed = spark.read.parquet(str(tmp_path / "cout"))
    batch = cms_tier(seqs, "1m", key_col="n_tok")
    j = streamed.join(batch.withColumnRenamed("cnt", "bcnt"),
                      ["source", "bucket", "d", "w"], "left")
    assert j.filter((F.col("bcnt").isNull())
                    | (F.col("cnt") != F.col("bcnt"))).count() == 0
    assert streamed.count() >= batch.count() * 0.9

    est = cms_point(cms_cascade(streamed, "1h"), ["24", "32"])
    assert est.filter(F.col("est") < 0).count() == 0


def test_stream_cms_1m_width_guard_raises_before_query(spark, tmp_path):
    """A count-min width above 2^31 does not fit the int cell column:
    the streaming leaf raises the same ValueError as cms_tier while the
    plan is built, before any streaming query starts (it once built
    without error and died with CAST_OVERFLOW at run time)."""
    import pytest

    from traval_spark.sketch import cms_tier
    from traval_spark.streaming.rollup_stream import stream_cms_1m

    inp = str(tmp_path / "win")
    seqs = synth_sequences(spark, 20, seed=5, span_days=1)
    seqs.write.parquet(inp)
    with pytest.raises(ValueError, match="exceeds 2\\^31"):
        cms_tier(seqs, "1m", key_col="n_tok", width=2**32)
    before = len(spark.streams.active)
    with pytest.raises(ValueError, match="exceeds 2\\^31"):
        stream_cms_1m(spark, inp, key_col="n_tok", width=2**32)
    assert len(spark.streams.active) == before


def test_stream_bloom_1m_matches_batch(spark, tmp_path):
    """Streaming Bloom leaf == batch bloom_tier on every finalized
    window (same hash ladder, same long-form set-bit rows), and the
    streamed store serves bloom_cascade + bloom_probe unchanged."""
    from traval_spark.sketch import bloom_cascade, bloom_probe, bloom_tier
    from traval_spark.sources.synth import synth_sequences
    from traval_spark.streaming.rollup_stream import stream_bloom_1m

    inp = str(tmp_path / "bin")
    seqs = synth_sequences(spark, 3000, seed=37, span_days=1)
    a = seqs.filter(F.xxhash64("doc_id") % 2 == 0)
    a.write.mode("append").parquet(inp)
    seqs.exceptAll(a).write.mode("append").parquet(inp)

    q = (stream_bloom_1m(spark, inp, key_col="n_tok", watermark="1 minute")
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "bout"))
         .option("checkpointLocation", str(tmp_path / "bck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    streamed = spark.read.parquet(str(tmp_path / "bout"))
    batch = bloom_tier(seqs, "1m", key_col="n_tok")
    # every streamed set bit is a batch set bit (identical rows) ...
    assert streamed.exceptAll(batch).count() == 0
    # ... and nearly all windows finalized (watermark may hold the tail)
    assert streamed.count() >= batch.count() * 0.9

    pr = bloom_probe(bloom_cascade(streamed, "1h"), ["24", "32"])
    assert pr.filter(~F.col("present").isin(0, 1)).count() == 0


def test_stream_m4_1m_matches_batch(spark, tmp_path):
    """Streaming M4 leaf == batch m4_downsample on every finalized
    window (identical tie rules via the shared m4_aggs list), and
    m4_merge serves the streamed store unchanged."""
    from traval_spark.operators.downsample import m4_downsample, m4_merge
    from traval_spark.sources.synth import synth_sequences
    from traval_spark.streaming.rollup_stream import stream_m4_1m

    inp = str(tmp_path / "m4in")
    seqs = synth_sequences(spark, 3000, seed=53, span_days=1)
    a = seqs.filter(F.xxhash64("doc_id") % 2 == 0)
    a.write.mode("append").parquet(inp)
    seqs.exceptAll(a).write.mode("append").parquet(inp)

    q = (stream_m4_1m(spark, inp, watermark="1 minute")
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "m4out"))
         .option("checkpointLocation", str(tmp_path / "m4ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    streamed = spark.read.parquet(str(tmp_path / "m4out"))
    batch = m4_downsample(seqs, bucket="1m", val="n_tok",
                          bucket_col="bucket")
    # every streamed (finalized) window row is identical to its batch row
    assert streamed.exceptAll(batch).count() == 0
    assert streamed.count() >= batch.count() * 0.9

    merged = m4_merge(streamed, bucket="1h", bucket_col="bucket")
    assert merged.filter(F.col("v_min") > F.col("v_max")).count() == 0


def test_stream_counter_steps_match_batch(spark, tmp_path):
    """Streaming counter steps == batch lag computation across a
    micro-batch boundary (maxFilesPerTrigger=1 forces the first sample
    of file 2 to take its step against file 1's carried tail), and the
    windowed aggregation of streamed steps == batch counter_windows."""
    import time as _time

    from traval_spark.operators.monitor import counter_windows
    from traval_spark.streaming.stateful_rules import stream_counter_steps

    inp = str(tmp_path / "cin")
    seqs = (
        synth_sequences(spark, 4000, seed=17, span_days=1)
        .groupBy("source", "ts").agg(F.max("n_tok").alias("n_tok"))
    )
    mid = "2024-01-01 12:00:00"
    seqs.filter(F.col("ts") < mid).coalesce(1).write.mode(
        "append").parquet(inp)
    _time.sleep(1.1)
    seqs.filter(F.col("ts") >= mid).coalesce(1).write.mode(
        "append").parquet(inp)

    q = (stream_counter_steps(spark, inp, max_files_per_trigger=1)
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "cout"))
         .option("checkpointLocation", str(tmp_path / "cck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = spark.read.parquet(str(tmp_path / "cout"))

    # no lookahead: every input point emits exactly once
    assert streamed.count() == seqs.count()

    # per-point parity against the batch lag chain
    from pyspark.sql import Window
    w = Window.partitionBy("source").orderBy("ts")
    batch = seqs.select(
        "source", F.col("ts").cast("timestamp").alias("ts"),
        F.col("n_tok").cast("double").alias("value"),
    ).withColumn("prev", F.lag("value").over(w))
    d = F.col("value") - F.col("prev")
    batch = batch.select(
        "source", "ts",
        F.when(F.col("prev").isNull(), 0.0)
        .when(d < 0, F.col("value")).otherwise(d).alias("b_step"),
        F.when(F.col("prev").isNotNull() & (d < 0), 1).otherwise(0)
        .alias("b_reset"),
    )
    j = streamed.join(batch, ["source", "ts"])
    assert j.count() == seqs.count()
    assert j.filter((F.col("step") != F.col("b_step"))
                    | (F.col("reset") != F.col("b_reset"))).count() == 0
    assert streamed.filter(F.col("reset") == 1).count() > 0

    # windowed rollup of streamed steps == batch counter_windows
    got = (
        streamed.withColumn(
            "__bus",
            (F.floor(F.unix_micros("ts") / F.lit(3_600_000_000))
             * F.lit(3_600_000_000)))
        .groupBy("source", "__bus")
        .agg(F.count("*").alias("n_samples"),
             F.round(F.sum("step"), 6).alias("increase"),
             F.round(F.sum("step") / F.lit(3600.0), 6)
             .alias("rate_per_sec"),
             F.sum("reset").alias("resets"))
        .withColumn("window_start", F.timestamp_micros(F.col("__bus")))
        .drop("__bus")
    )
    want = counter_windows(
        seqs.select("source", F.col("ts").cast("timestamp").alias("ts"),
                    F.col("n_tok").cast("double").alias("value"),
                    F.col("n_tok").alias("event_id")),
        window="1h",
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_counter_equal_ts_across_batches_not_late(spark, tmp_path):
    """Two samples at the SAME timestamp with increasing idents split
    across micro-batches: the second must take its step against the
    first (ident tie-break), not be dropped as late."""
    import time as _time

    import pandas as pd

    from traval_spark.streaming.stateful_rules import stream_counter_steps

    inp = str(tmp_path / "ein")
    t = pd.Timestamp("2024-01-01 00:00:00")
    f1 = pd.DataFrame({
        "doc_id": ["a"], "tokens": [[1]], "n_tok": [10],
        "source": ["s"], "ts": [t],
    })
    f2 = pd.DataFrame({
        "doc_id": ["b"], "tokens": [[1]], "n_tok": [25],
        "source": ["s"], "ts": [t],
    })
    def _w(pdf):
        return spark.createDataFrame(pdf).selectExpr(
            "doc_id", "cast(tokens as array<int>) tokens",
            "cast(n_tok as int) n_tok", "source",
            "cast(ts as timestamp_ntz) ts",
        ).write.mode("append").parquet(inp)

    _w(f1)
    _time.sleep(1.1)
    _w(f2)

    q = (stream_counter_steps(spark, inp, max_files_per_trigger=1)
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "eout"))
         .option("checkpointLocation", str(tmp_path / "eck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = {r["ident"]: r for r in
            spark.read.parquet(str(tmp_path / "eout")).collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"]["step"] == 0.0        # first sample of the series
    assert rows["b"]["step"] == 15.0       # 25 - 10, NOT dropped as late


def test_stream_changes_only_matches_batch(spark, tmp_path):
    """Streaming run-length compaction == batch changes_only across a
    micro-batch boundary (the carried last value suppresses an
    unchanged first row of file 2)."""
    import time as _time

    from traval_spark.operators.monitor import changes_only
    from traval_spark.streaming.stateful_rules import stream_changes_only

    inp = str(tmp_path / "chin")
    seqs = (
        synth_sequences(spark, 3000, seed=23, span_days=1)
        .groupBy("source", "ts")
        .agg(F.max("n_tok").alias("n_tok"))
        # coarsen so real runs of equal values exist
        .withColumn("n_tok", (F.col("n_tok") / 64).cast("int"))
    )
    mid = "2024-01-01 12:00:00"
    seqs.filter(F.col("ts") < mid).coalesce(1).write.mode(
        "append").parquet(inp)
    _time.sleep(1.1)
    seqs.filter(F.col("ts") >= mid).coalesce(1).write.mode(
        "append").parquet(inp)

    q = (stream_changes_only(spark, inp, max_files_per_trigger=1)
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "chout"))
         .option("checkpointLocation", str(tmp_path / "chck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = spark.read.parquet(str(tmp_path / "chout")).select(
        "source", F.col("ts").cast("timestamp_ntz").alias("ts"), "value"
    )
    batch = changes_only(
        seqs.select("source", "ts",
                    F.col("n_tok").cast("double").alias("value"))
        .withColumn("event_id", F.lit(None).cast("string"))
    ).select("source", "ts", "value")
    assert streamed.count() < seqs.count()          # real compaction
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stream_alerts_latch_carries_across_batches(spark, tmp_path):
    """The hysteresis latch survives the micro-batch boundary: a value
    above hi in file 1 latches; file 2's first rows (still above lo)
    emit NOTHING; the release below lo emits alert=0; transitions match
    a sequential reference scan of the whole series."""
    import time as _time

    import pandas as pd

    from traval_spark.streaming.stateful_rules import stream_alerts

    t = lambda s: pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)

    def _w(rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "n_tok", "ts"])
        pdf["source"] = "s"
        pdf["tokens"] = [[1]] * len(pdf)
        spark.createDataFrame(pdf).selectExpr(
            "doc_id", "cast(tokens as array<int>) tokens",
            "cast(n_tok as int) n_tok", "source",
            "cast(ts as timestamp_ntz) ts",
        ).coalesce(1).write.mode("append").parquet(str(tmp_path / "ain"))

    f1 = [("a", 3, t(0)), ("b", 50, t(60)), ("c", 45, t(120))]
    f2 = [("d", 30, t(180)), ("e", 4, t(240)),     # release at 4 < lo
          ("f", 60, t(300))]                       # re-fire
    _w(f1)
    _time.sleep(1.1)
    _w(f2)

    q = (stream_alerts(spark, str(tmp_path / "ain"), hi=40, lo=10,
                       max_files_per_trigger=1)
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "aout"))
         .option("checkpointLocation", str(tmp_path / "ack"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = sorted(
        (r["ts"], r["alert"], r["value"]) for r in
        spark.read.parquet(str(tmp_path / "aout")).collect()
    )
    assert rows == [
        (t(60), 1, 50.0),    # fired in file 1
        (t(240), 0, 4.0),    # released in file 2 (latch carried)
        (t(300), 1, 60.0),   # re-fired
    ]


def test_streaming_burst_dedup_matches_batch(spark, tmp_path):
    """Streaming burst collapse (watermark + append) == batch
    burst_dedup for every finalized burst, across a two-file
    micro-batch split that forces burst merges over the boundary."""
    import time as _time

    from traval_spark.rollup import burst_dedup
    from traval_spark.streaming.rollup_stream import stream_burst_dedup

    inp = str(tmp_path / "bdin")
    out = str(tmp_path / "bdout")
    ckpt = str(tmp_path / "bdckpt")

    seqs = synth_sequences(spark, 4000, seed=33, span_days=1)
    mid = "2024-01-01 12:00:00"
    seqs.filter(F.col("ts") < mid).coalesce(1).write.mode("append").parquet(inp)
    _time.sleep(1.1)
    seqs.filter(F.col("ts") >= mid).coalesce(1).write.mode("append").parquet(inp)

    q = (
        stream_burst_dedup(spark, inp, gap="10m", watermark="1 minute",
                           max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.read.parquet(out)
    assert streamed.count() > 0

    batch = burst_dedup(
        seqs.select("source", "ts", F.col("doc_id").alias("event_id")),
        key_cols=("source",), ident_col="event_id", gap="10m",
    )

    # every emitted burst matches its batch twin exactly; only each
    # source's trailing (watermark-held) burst may be missing
    j = streamed.alias("s").join(
        batch.alias("b"), on=["source", "first_ts"], how="left")
    assert j.filter(F.col("b.n_dropped").isNull()).count() == 0
    assert j.filter(
        (F.col("s.first_ident") != F.col("b.first_ident"))
        | (F.col("s.n_dropped") != F.col("b.n_dropped"))
    ).count() == 0
    n_sources = seqs.select("source").distinct().count()
    assert streamed.count() >= batch.count() - n_sources


def test_stream_fl_1m_matches_batch(spark, tmp_path):
    """Streaming first/last leaf == batch fl_rollup on every finalized
    window (the shared struct min/max means tie rules cannot drift),
    and fl_cascade coarsens the streamed store unchanged."""
    from traval_spark.rollup import fl_cascade, fl_rollup
    from traval_spark.sources.synth import synth_sequences
    from traval_spark.streaming.rollup_stream import stream_fl_1m

    inp = str(tmp_path / "flin")
    seqs = synth_sequences(spark, 3000, seed=59, span_days=1)
    a = seqs.filter(F.xxhash64("doc_id") % 2 == 0)
    a.write.mode("append").parquet(inp)
    seqs.exceptAll(a).write.mode("append").parquet(inp)

    q = (stream_fl_1m(spark, inp, watermark="1 minute")
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "flout"))
         .option("checkpointLocation", str(tmp_path / "flck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    streamed = spark.read.parquet(str(tmp_path / "flout"))
    batch = fl_rollup(seqs, tier="1m")
    assert streamed.exceptAll(batch).count() == 0
    assert streamed.count() >= batch.count() * 0.9

    # the cascade serves the streamed store unchanged: since streamed
    # rows ARE batch rows (asserted above), coarsening the full
    # streamed store equals coarsening the batch tier row-for-row when
    # every window finalized (exceptAll both ways), and the struct
    # order invariant holds after the merge
    if streamed.count() == batch.count():
        ms, mb = fl_cascade(streamed, "1h"), fl_cascade(batch, "1h")
        assert ms.exceptAll(mb).count() == 0
        assert mb.exceptAll(ms).count() == 0
    assert fl_cascade(streamed, "1h").filter(
        F.col("first")["u"] > F.col("last")["u"]
    ).count() == 0


def test_stream_swing_compress_matches_batch(spark, tmp_path):
    """Streaming swinging-door across a micro-batch boundary == the
    batch fold's kept list minus the per-series trailing point (the
    stream can't know a point is final); door state carried in the
    8-integer tuple, maxFilesPerTrigger=1 forces file 2 to continue
    file 1's doors."""
    import time as _time

    from traval_spark.compress import swing_compress
    from traval_spark.streaming.stateful_rules import stream_swing_compress

    inp = str(tmp_path / "swin")
    seqs = (
        synth_sequences(spark, 4000, seed=23, span_days=1)
        .withColumn("ts", F.date_trunc("second", F.col("ts")))
        .groupBy("source", "ts").agg(F.max("n_tok").alias("n_tok"))
        .withColumn("doc_id", F.lit("1"))
        .withColumn("tokens", F.array().cast("array<int>"))
    )
    mid = "2024-01-01 12:00:00"
    seqs.filter(F.col("ts") < mid).coalesce(1).write.mode(
        "append").parquet(inp)
    _time.sleep(1.1)
    seqs.filter(F.col("ts") >= mid).coalesce(1).write.mode(
        "append").parquet(inp)

    q = (stream_swing_compress(spark, inp, eps_scaled=50,
                               max_files_per_trigger=1)
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "swout"))
         .option("checkpointLocation", str(tmp_path / "swck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = {(r["source"], r["t_ms"], r["v_i"])
                for r in spark.read.parquet(str(tmp_path / "swout"))
                .collect()}

    batch = swing_compress(
        seqs.select("source", "ts", F.col("n_tok").alias("value"),
                    F.col("doc_id").alias("event_id")),
        eps_scaled=50, value_scale=1,
    ).collect()
    per = {}
    for r in batch:
        per.setdefault(r["source"], []).append((r["t_ms"], r["v_i"]))
    want = set()
    for s, pts in per.items():
        for t, v in sorted(pts)[:-1]:
            want.add((s, t, v))
    assert streamed == want
    # and the stream actually compressed (anchors < inputs) while
    # keeping at least the first point per series
    assert 0 < len(streamed) < seqs.count()


def test_stream_range_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream range join drained over two files ==
    the batch inner join with the identical key + time-range predicate
    (inner stream-stream joins change WHEN pairs emit, never WHICH),
    and cross-file pairs prove join state carries across micro-batches."""
    import time as _time

    from traval_spark.streaming.join_stream import stream_range_join

    inp = str(tmp_path / "jin")
    seqs = synth_sequences(spark, 3000, seed=41, span_days=1)
    # left = "trigger" rows, right = "follow-up" rows (disjoint halves)
    lp = F.col("n_tok") % 2 == 0
    rp = F.col("n_tok") % 2 == 1
    mid = "2024-01-01 12:00:00"
    seqs.filter(F.col("ts") < mid).coalesce(1).write.mode(
        "append").parquet(inp)
    _time.sleep(1.1)
    seqs.filter(F.col("ts") >= mid).coalesce(1).write.mode(
        "append").parquet(inp)

    q = (stream_range_join(spark, inp, lp, rp, window="10 minutes",
                           watermark="1 hour", max_files_per_trigger=1)
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "jout"))
         .option("checkpointLocation", str(tmp_path / "jck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = spark.read.parquet(str(tmp_path / "jout"))

    b = seqs.select("source", F.col("ts").cast("timestamp").alias("ts"),
                    "doc_id", "n_tok")
    l = b.filter(lp).select(
        F.col("source").alias("k"), F.col("ts").alias("l_ts"),
        F.col("doc_id").alias("l_id"))
    r = b.filter(rp).select(
        F.col("source").alias("k2"), F.col("ts").alias("r_ts"),
        F.col("doc_id").alias("r_id"))
    batch = l.join(
        r,
        (F.col("k") == F.col("k2")) & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("interval 10 minutes"))
        & (F.col("l_id") != F.col("r_id")),
    )
    want = {(x["k"], x["l_id"], x["r_id"]) for x in batch.collect()}
    got = {(x["source"], x["l_id"], x["r_id"]) for x in streamed.collect()}
    assert got == want and len(want) > 0
    # pairs straddling the file boundary exist (state carried across)
    straddle = [x for x in streamed.collect()
                if str(x["l_ts"]) < mid <= str(x["r_ts"])]
    assert len(straddle) > 0


def test_swing_kernel_rounds_half_away_from_zero():
    """The streaming kernel's fixed-point rounding must match the batch
    paths' Spark F.round / DuckDB round (half AWAY from zero): at
    value_scale=10, 0.25 -> 3 and -0.25 -> -3 (np.rint's half-even
    would give 2 / -2 and flip door verdicts vs batch). Kernel driven
    directly via the fake GroupState — no stream needed."""
    import pandas as pd

    from traval_spark.streaming.stateful_rules import make_swing_state_func

    fn = make_swing_state_func(eps_scaled=1, value_scale=10)
    f = pd.DataFrame({
        "ts": pd.to_datetime([0, 1, 2], unit="s"),
        "ident": ["1", "2", "3"],
        "value": [0.25, -0.25, 0.85],
    })
    state = _FakeState()
    import pandas as _pd
    emitted = _pd.concat(list(fn(("s",), iter([f]), state)))
    # first point emitted at v=round(2.5)=3 (half-even would say 2);
    # the tight eps closes the doors at the third point, emitting the
    # -2.5 -> -3 anchor too
    assert emitted["v_i"].tolist() == [3, -3]
    # trailing candidate pending in state: 0.85*10 = 8.5 -> 9
    assert state.get[3] == 9


def test_swing_kernel_same_ms_keeps_last_ident_like_batch(spark):
    """Rows sharing a millisecond inside one micro-batch: the streaming
    kernel keeps the last by ident (NULL last), as the batch Arrow
    kernel does, so its anchors equal swing_compress's kept points
    minus the trailing one. Inputs: the 4-row case ((0 s, "a", 1),
    (0 s, "b", 5): the anchor is 5, not 1) and a seeded series full of
    same-ms ties and NULL idents, split between milliseconds into 3
    micro-batches."""
    import numpy as np
    import pandas as pd

    from traval_spark.compress import swing_compress
    from traval_spark.streaming.stateful_rules import (
        SWING_OUTPUT_SCHEMA,
        make_swing_state_func,
    )

    rng = np.random.default_rng(1301)
    ms = np.sort(rng.integers(0, 40, 120)) * 250
    # one row per (ms, ident): which of two such rows wins is unordered
    # on both paths
    seeded = pd.DataFrame({
        "ms": ms,
        "ts": pd.to_datetime(ms * 1000 + rng.integers(0, 1000, len(ms)),
                             unit="us"),
        "ident": [None if x == 0 else f"i{x}"
                  for x in rng.integers(0, 6, len(ms))],
        "value": rng.integers(-40, 40, len(ms)) / 10,
    }).drop_duplicates(["ms", "ident"])
    ms = seeded.pop("ms").to_numpy()
    small = pd.DataFrame({
        "ts": pd.to_datetime([0, 0, 10, 20], unit="s"),
        "ident": ["a", "b", "c", "d"],
        "value": [1.0, 5.0, 1.0, 1.0],
    })
    cuts = [ms[len(ms) // 3], ms[2 * len(ms) // 3]]
    for frame, eps, parts in (
        (small, 10, [small]),
        (seeded, 15, [seeded[ms < cuts[0]],
                      seeded[(ms >= cuts[0]) & (ms < cuts[1])],
                      seeded[ms >= cuts[1]]]),
    ):
        streamed = pd.concat(_kernel_batches(
            make_swing_state_func(eps, value_scale=10), parts,
            SWING_OUTPUT_SCHEMA))
        batch = swing_compress(
            spark.createDataFrame(frame.assign(source="src").rename(
                columns={"ident": "event_id"})),
            eps_scaled=eps, value_scale=10).orderBy("t_ms").collect()
        want = [(r["t_ms"], r["v_i"]) for r in batch][:-1]
        got = list(zip(streamed["t_ms"].tolist(), streamed["v_i"].tolist()))
        assert got == want and len(want) > 1


def test_swing_kernel_drops_null_values_like_batch():
    """The streaming swinging door drops a NULL/NaN value before the
    same-ms dedup, as the batch kernel does: [1, 100, NULL, 1] at
    0/10/20/30 s (eps 1, scale 1) emits (0,1), (10000,100) with (30000,1)
    pending, and a batch holding only a NULL value leaves the series
    without state, so the next batch's first row still anchors it."""
    import numpy as np
    import pandas as pd

    from traval_spark.streaming.stateful_rules import make_swing_state_func

    def frame(secs, vals):
        return pd.DataFrame({
            "ts": pd.to_datetime(secs, unit="s"),
            "ident": [f"i{s}" for s in secs],
            "value": vals,
        })

    fn = make_swing_state_func(1, value_scale=1)
    state = _FakeState()
    assert list(fn(("src",), iter([frame([5], [np.nan])]), state)) == []
    assert not state.exists
    out = list(fn(("src",), iter([frame([0, 10, 20, 30],
                                        [1.0, 100.0, None, 1.0])]), state))
    got = pd.concat(out)
    assert list(zip(got["t_ms"], got["v_i"])) == [(0, 1), (10000, 100)]
    assert tuple(state.get[2:4]) == (30000, 1)


def test_stream_threshold_episodes_match_batch(spark, tmp_path):
    """Streamed CLOSED breach episodes == batch threshold_episodes
    minus each series' trailing still-open episode, across a forced
    micro-batch boundary (maxFilesPerTrigger=1 — an episode whose
    points straddle the file split must carry its accumulators in
    state, not restart)."""
    import time as _time

    from traval_spark.operators.monitor import threshold_episodes
    from traval_spark.streaming.stateful_rules import (
        stream_threshold_episodes,
    )

    inp = str(tmp_path / "ein")
    seqs = (
        synth_sequences(spark, 4000, seed=23, span_days=1)
        .groupBy("source", "ts").agg(F.max("n_tok").alias("n_tok"),
                                     F.max("doc_id").alias("doc_id"))
    )
    mid = "2024-01-01 12:00:00"
    seqs.filter(F.col("ts") < mid).coalesce(1).write.mode(
        "append").parquet(inp)
    _time.sleep(1.1)
    seqs.filter(F.col("ts") >= mid).coalesce(1).write.mode(
        "append").parquet(inp)

    thr = 200.0
    q = (stream_threshold_episodes(spark, inp, threshold=thr,
                                   max_files_per_trigger=1)
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "eout"))
         .option("checkpointLocation", str(tmp_path / "eck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = spark.read.parquet(str(tmp_path / "eout"))
    assert streamed.count() > 0

    batch_in = seqs.select(
        "source", F.col("ts").cast("timestamp").alias("ts"),
        F.col("n_tok").cast("double").alias("value"),
        F.col("doc_id").alias("event_id"),
    )
    batch = threshold_episodes(batch_in, threshold=thr)

    # drop each series' trailing OPEN episode: the last sample in
    # (ts, ident) order is in excursion -> its episode never closed
    from pyspark.sql import Window
    w = Window.partitionBy("source").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    last = (batch_in.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .filter(F.round(F.col("value") * 1000).cast("long")
                    > int(thr * 1000))
            .select("source"))
    open_eps = (batch.join(last, "source", "left_semi")
                .groupBy("source")
                .agg(F.max("episode").alias("episode")))
    want = batch.join(open_eps, ["source", "episode"], "left_anti")

    assert streamed.exceptAll(want).count() == 0
    assert want.exceptAll(streamed).count() == 0

    # boundary carry actually exercised: seed 23 has exactly one
    # episode spanning the file split — if the kernel restarted its
    # accumulators at the boundary this row (and the equality above)
    # would break
    assert streamed.filter(
        (F.col("t_start") < mid) & (F.col("t_end") >= mid)
    ).count() == 1


def test_new_monitors_off_streaming_tier_equal_raw(spark, tmp_path):
    """End-to-end tier-timeseries chain for the round-5 monitor family:
    raw sequences -> STREAMING 1m rollup tier (availableNow drain,
    watermarked tumbling windows) -> counts_from_tier 1h coarsening ->
    turning_points / variance_ratio / kpss_level / pettitt_change /
    seasonal_mk / seasonal_sen / hurst_rs / runs_test — every verdict
    EQUALS the raw-served one bit-for-bit (integer count sums
    re-aggregate losslessly through the streamed tier), so the whole
    fleet panel runs off the stored tier without ever re-scanning
    raw."""
    import time as _time

    import pandas as pd

    from traval_spark.operators.monitor import (
        counts_from_tier, hurst_rs, kpss_level, pettitt_change,
        runs_test, seasonal_mk, seasonal_sen, turning_points,
        variance_ratio)
    from traval_spark.sources.synth import synth_sequences
    from traval_spark.streaming.rollup_stream import stream_rollup_1m

    inp = str(tmp_path / "inp")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    seqs = synth_sequences(spark, 4000, seed=21, span_days=6)
    mid = "2024-01-03 00:00:00"
    seqs.filter(F.col("ts") < mid).coalesce(1).write.mode(
        "append").parquet(inp)
    _time.sleep(1.1)
    seqs.filter(F.col("ts") >= mid).coalesce(1).write.mode(
        "append").parquet(inp)

    q = (
        stream_rollup_1m(spark, inp, max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    tier = spark.read.parquet(out)
    counts = counts_from_tier(tier, bucket="1h")
    # append-mode watermarking withholds the final (pending) windows at
    # stream end — the documented tail semantics every streaming test
    # here accounts for; parity is over the EMITTED coverage, so bound
    # raw at the end of the last closed 1m window
    bound = tier.agg(F.max("bucket")).collect()[0][0] + pd.Timedelta(
        minutes=1)
    raw = seqs.filter(F.col("ts") < F.lit(bound)).select("source", "ts")

    for fn, kw in [
        (turning_points, {}),
        (variance_ratio, {"q": 4}),
        (kpss_level, {}),
        (pettitt_change, {}),
        (seasonal_mk, {"period": 24}),
        (seasonal_sen, {"period": 24}),
        (hurst_rs, {"min_w": 8}),
        (runs_test, {}),
    ]:
        direct = fn(raw, bucket="1h", **kw)
        tiered = fn(counts=counts, **kw)
        assert tiered.exceptAll(direct).count() == 0, fn.__name__
        assert direct.exceptAll(tiered).count() == 0, fn.__name__


def test_drift_panel_off_streaming_hist_tier_equal_raw(spark, tmp_path):
    """The streaming close of the drift story: raw sequences ->
    STREAMING 1m histogram tier -> per-period bin sums -> every
    *_from_hists drift monitor (KS/CvM/MW/Cliff/PSI/JSD/EMD/chi2)
    equals the raw-built verdict exactly over the emitted coverage —
    histogram counts re-aggregate losslessly through the streamed
    tier, so the whole drift panel runs off stored tiers."""
    import time as _time

    import pandas as pd

    from traval_spark.operators.monitor import (
        chi2_from_hists, cliffs_from_hists, cvm_from_hists,
        emd_from_hists, jsd_from_hists, ks_from_hists, mw_from_hists,
        psi_from_hists)
    from traval_spark.sources.synth import synth_sequences
    from traval_spark.streaming.rollup_stream import stream_hist_1m

    inp = str(tmp_path / "inp")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    seqs = synth_sequences(spark, 6000, seed=33, span_days=2)
    mid = "2024-01-02 00:00:00"
    seqs.filter(F.col("ts") < mid).coalesce(1).write.mode(
        "append").parquet(inp)
    _time.sleep(1.1)
    seqs.filter(F.col("ts") >= mid).coalesce(1).write.mode(
        "append").parquet(inp)

    q = (
        stream_hist_1m(spark, inp, value_col="n_tok", scale=1,
                       max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    tier = spark.read.parquet(out)
    bound = tier.agg(F.max("bucket")).collect()[0][0] + pd.Timedelta(
        minutes=1)

    ha_t = (tier.filter(F.col("bucket") < mid)
            .groupBy("source", "bin").agg(F.sum("cnt").alias("ca")))
    hb_t = (tier.filter(F.col("bucket") >= mid)
            .groupBy("source", "bin").agg(F.sum("cnt").alias("cb")))

    raw = seqs.filter(F.col("ts") < F.lit(bound))
    bin_c = F.round(F.col("n_tok") * 1).cast("long").alias("bin")
    ha_r = (raw.filter(F.col("ts") < mid)
            .groupBy("source", bin_c).agg(F.count("*").alias("ca")))
    hb_r = (raw.filter(F.col("ts") >= mid)
            .groupBy("source", bin_c).agg(F.count("*").alias("cb")))

    for fn in (ks_from_hists, cvm_from_hists, mw_from_hists,
               cliffs_from_hists, psi_from_hists, jsd_from_hists,
               emd_from_hists, chi2_from_hists):
        t_out = fn(ha_t, hb_t)
        r_out = fn(ha_r, hb_r)
        assert t_out.exceptAll(r_out).count() == 0, fn.__name__
        assert r_out.exceptAll(t_out).count() == 0, fn.__name__
