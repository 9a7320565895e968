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

Store layout (the shared sink protocol of streaming/sink.py, as in the
rollup cascade's 1m staging):

    {root}/fp/qid=<query_id>/batch_id=N/     fingerprints (id, fp_lo, fp_hi)
    {root}/pairs/qid=<query_id>/batch_id=N/  (a, b, hamming)

Both writes commit through ``sink.commit`` (batch_id-keyed, with
``_COMMITTED`` markers), so checkpoint replays skip committed work,
partial crashed attempts are overwritten wholesale, and the corpus reads
only committed batches. Crash-ordering note: pairs are written before
fingerprints, but either order converges — if a crashed attempt left
this batch's OWN fingerprints in the corpus, the replayed probe still
emits the identical pair set (self-pairs are excluded by id inequality
and duplicated new-vs-new candidates collapse in the distinct), so
replays never duplicate or lose pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from traval_spark.session import held, hold
from traval_spark.streaming import sink

_FP_SCHEMA = "doc_id long, fp_lo long, fp_hi long"


def _corpus_fp(
    spark: SparkSession, store_root: str, id_col: str
) -> DataFrame:
    """The accumulated fingerprint corpus (empty frame on first batch),
    committed batches only: the replay-convergence argument above only
    covers same-batch replays, so uncommitted dirs must be invisible,
    not merely rare."""
    return sink.read_committed(spark, f"{store_root}/fp",
                               _FP_SCHEMA.replace("doc_id", id_col))


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

    # fingerprints computed once, shared by the probe (passed via
    # new_fp=) and the corpus append; released when the batch is done.
    # No batch_id data column in either write: the qid=/batch_id=
    # directory keys are partition columns on any basePath read, and a
    # duplicate data column would collide with them
    with held():
        new_fp = hold(with_simhash64(batch_df, text_col, id_col))
        sink.commit(
            s, sink.batch_dir(f"{store_root}/pairs", run_id, batch_id),
            lambda d: simhash64_incremental_pairs(
                batch_df, _corpus_fp(s, store_root, id_col),
                max_hamming=max_hamming, text_col=text_col, id_col=id_col,
                new_fp=new_fp,
            ).write.mode("overwrite").parquet(d),
        )
        sink.commit(s, sink.batch_dir(f"{store_root}/fp", run_id, batch_id),
                    new_fp.write.mode("overwrite").parquet)


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
    return sink.run_upserts(
        sink.file_stream(spark, input_path, schema, max_files_per_trigger),
        dedup_upsert_batch, store_root, checkpoint_path, available_now,
        max_hamming=max_hamming, text_col=text_col, id_col=id_col,
    )


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
    return sink.read_committed(spark, f"{store_root}/grams", "gram string")


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
    sink.commit(
        s, sink.batch_dir(f"{store_root}/spans", run_id, batch_id),
        lambda d: duplicated_spans_incremental(
            batch_df, _corpus_grams(s, store_root), k=k,
            tokens_col=tokens_col, id_col=id_col,
        ).write.mode("overwrite").parquet(d),
    )
    sink.commit(
        s, sink.batch_dir(f"{store_root}/grams", run_id, batch_id),
        lambda d: _window_grams(batch_df, k, tokens_col, id_col)
        .select("gram").distinct().write.mode("overwrite").parquet(d),
    )


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
    return sink.run_upserts(
        sink.file_stream(spark, input_path, schema, max_files_per_trigger),
        span_upsert_batch, store_root, checkpoint_path, available_now,
        k=k, tokens_col=tokens_col, id_col=id_col,
    )
