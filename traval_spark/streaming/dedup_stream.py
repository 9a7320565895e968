"""Streaming incremental dedup: a foreachBatch ingest that probes and
grows a persisted fingerprint corpus.

The daily/continuous 100 TB ingest shape for near-dup detection: each
micro-batch of new documents is fingerprinted ONCE, probed against the
accumulated corpus fingerprint table via the banded incremental search
(operators/dedup.py:simhash64_incremental_pairs — new-vs-corpus and
new-vs-new pairs, the corpus never re-pairs with itself), and its
fingerprints are appended to the corpus store. Across a whole stream the
union of per-batch pair outputs equals the full-batch pair set: every
pair surfaces exactly when its later member arrives (parity-tested in
tests/test_streaming.py).

Store layout (same conventions as the rollup cascade sink —
rollup_stream.py:cascade_upsert_batch):

    {root}/fp/qid=<query_id>/batch_id=N/     fingerprints (id, fp_lo, fp_hi)
    {root}/pairs/qid=<query_id>/batch_id=N/  (a, b, hamming)

Both writes are batch_id-keyed with ``_COMMITTED`` markers, so checkpoint
replays skip committed work and partial crashed attempts are overwritten
wholesale. Crash-ordering note: pairs are written before fingerprints,
but either order converges — if a crashed attempt left this batch's OWN
fingerprints in the corpus, the replayed probe still emits the identical
pair set (self-pairs are excluded by id inequality and duplicated
new-vs-new candidates collapse in the distinct), so replays never
duplicate or lose pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from traval_spark.session import held, hold
from traval_spark.streaming.rollup_stream import (
    _hadoop_exists,
    _hadoop_touch,
    _stream_query_id,
)

_FP_SCHEMA = "doc_id long, fp_lo long, fp_hi long"


def _corpus_fp(
    spark: SparkSession, store_root: str, id_col: str
) -> DataFrame:
    """The accumulated fingerprint corpus (empty frame on first batch).

    Only ``_COMMITTED`` batch directories are read: a crashed run's
    partial fingerprint write that is never replayed (checkpoint deleted,
    new run_id) would otherwise sit silently incomplete in every later
    probe — the docstring's replay-convergence argument only covers
    same-batch replays, so uncommitted dirs must be invisible, not merely
    rare. One glob round-trip lists the markers."""
    from traval_spark.sources import fsutil

    committed = fsutil.glob(
        spark, f"{store_root}/fp/qid=*/batch_id=*/_COMMITTED"
    )
    if committed:
        dirs = [p[: -len("/_COMMITTED")] for p in committed]
        return (
            spark.read.option("basePath", f"{store_root}/fp").parquet(*dirs)
            .select(id_col, "fp_lo", "fp_hi")
        )
    return spark.createDataFrame(
        [], _FP_SCHEMA.replace("doc_id", id_col)
    )


def dedup_upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_root: str,
    run_id: str | None = None,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One idempotent micro-batch step of the streaming dedup.

    1. fingerprint the batch (one pass over its text);
    2. probe (corpus UNION batch) bands with the batch's bands —
       emits every near-dup pair touching this batch, writes them under
       ``pairs/qid=<run_id>/batch_id=N`` (skip if ``_COMMITTED``);
    3. append the batch fingerprints under ``fp/qid=<run_id>/batch_id=N``
       (skip if ``_COMMITTED``) — the corpus grows without ever
       re-hashing or re-pairing old documents.
    """
    from traval_spark.operators.dedup import (
        simhash64_incremental_pairs,
        with_simhash64,
    )

    if batch_df.isEmpty():
        return
    s = batch_df.sparkSession
    pdir = f"{store_root}/pairs/qid={run_id or 'default'}/batch_id={batch_id}"
    fdir = f"{store_root}/fp/qid={run_id or 'default'}/batch_id={batch_id}"

    # fingerprints computed once, shared by the probe (passed via
    # new_fp=) and the corpus append; released when the batch is done
    with held():
        new_fp = hold(with_simhash64(batch_df, text_col, id_col))
        if not _hadoop_exists(s, f"{pdir}/_COMMITTED"):
            pairs = simhash64_incremental_pairs(
                batch_df,
                _corpus_fp(s, store_root, id_col),
                max_hamming=max_hamming,
                text_col=text_col,
                id_col=id_col,
                new_fp=new_fp,
            )
            # no batch_id data column: the qid=/batch_id= directory keys
            # are partition columns on any basePath read, and a duplicate
            # data column would collide with them
            pairs.write.mode("overwrite").parquet(pdir)
            _hadoop_touch(s, f"{pdir}/_COMMITTED")
        if not _hadoop_exists(s, f"{fdir}/_COMMITTED"):
            new_fp.write.mode("overwrite").parquet(fdir)
            _hadoop_touch(s, f"{fdir}/_COMMITTED")


def run_streaming_dedup(
    spark: SparkSession,
    input_path: str,
    store_root: str,
    checkpoint_path: str,
    schema: str = "doc_id long, text string",
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Drain a document directory through the incremental dedup sink.

    availableNow=True processes everything currently present and stops
    (the resumable catch-up shape); the checkpoint makes re-runs
    exactly-once over new files only. ``max_files_per_trigger`` splits
    the drain into several micro-batches (useful to bound per-batch
    probe size — and for tests to force the multi-batch path).
    ``input_path`` must be a DIRECTORY (Spark's file-stream source
    rejects a bare file path: "Option 'basePath' must be a directory").
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    docs = reader.parquet(input_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        dedup_upsert_batch(
            batch_df, batch_id, store_root,
            run_id=_stream_query_id(checkpoint_path),
            max_hamming=max_hamming, text_col=text_col, id_col=id_col,
        )

    writer = (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


# ---------------------------------------------------------------------------
# Streaming incremental EXACT-SUBSTRING dedup (the span twin of the
# fingerprint stream above): each micro-batch of pre-tokenized sequences
# is windowed once, probed against the accumulated distinct-gram index,
# its duplicated spans written out, and its grams appended to the index.
# Contract: a batch's spans are judged against everything ingested
# BEFORE it plus the batch itself (the ingest-time trim shape) — earlier
# batches are not retro-flagged by later arrivals (run the batch
# duplicated_spans over the full corpus for a retroactive audit).
# ---------------------------------------------------------------------------


def _corpus_grams(spark: SparkSession, store_root: str) -> DataFrame:
    """The accumulated distinct-gram index (committed batches only —
    same invisibility rule as _corpus_fp)."""
    from traval_spark.sources import fsutil

    committed = fsutil.glob(
        spark, f"{store_root}/grams/qid=*/batch_id=*/_COMMITTED"
    )
    if committed:
        dirs = [p[: -len("/_COMMITTED")] for p in committed]
        return (
            spark.read.option("basePath", f"{store_root}/grams")
            .parquet(*dirs).select("gram")
        )
    return spark.createDataFrame([], "gram string")


def span_upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_root: str,
    run_id: str | None = None,
    k: int = 20,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> None:
    """One idempotent micro-batch step of the streaming span dedup.

    ORDER IS LOAD-BEARING (unlike the fingerprint stream, where either
    order converges): spans MUST commit before this batch's grams are
    appended. The gram index carries no doc ids, so a replayed probe
    against an index already holding this batch's own grams would
    self-hit on every window and flag the whole batch. Writing spans
    first makes every replay state convergent: spans committed ->
    replay skips the probe entirely; grams half-written without marker
    -> overwritten wholesale."""
    from traval_spark.operators.dedup import (
        _window_grams,
        duplicated_spans_incremental,
    )

    if batch_df.isEmpty():
        return
    s = batch_df.sparkSession
    sdir = f"{store_root}/spans/qid={run_id or 'default'}/batch_id={batch_id}"
    gdir = f"{store_root}/grams/qid={run_id or 'default'}/batch_id={batch_id}"

    if not _hadoop_exists(s, f"{sdir}/_COMMITTED"):
        spans = duplicated_spans_incremental(
            batch_df, _corpus_grams(s, store_root), k=k,
            tokens_col=tokens_col, id_col=id_col,
        )
        spans.write.mode("overwrite").parquet(sdir)
        _hadoop_touch(s, f"{sdir}/_COMMITTED")
    if not _hadoop_exists(s, f"{gdir}/_COMMITTED"):
        (
            _window_grams(batch_df, k, tokens_col, id_col)
            .select("gram").distinct()
            .write.mode("overwrite").parquet(gdir)
        )
        _hadoop_touch(s, f"{gdir}/_COMMITTED")


def run_streaming_span_dedup(
    spark: SparkSession,
    input_path: str,
    store_root: str,
    checkpoint_path: str,
    schema: str = "doc_id long, tokens array<int>, n_tok int, source string",
    k: int = 20,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Drain a sequence directory through the incremental span-dedup
    sink (availableNow catch-up + exactly-once checkpoint semantics,
    same shape as run_streaming_dedup)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", int(max_files_per_trigger)
        )
    seqs = reader.parquet(input_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        span_upsert_batch(
            batch_df, batch_id, store_root,
            run_id=_stream_query_id(checkpoint_path),
            k=k, tokens_col=tokens_col, id_col=id_col,
        )

    writer = (
        seqs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q
