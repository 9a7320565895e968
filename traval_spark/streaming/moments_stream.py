"""Streaming incremental embedding-moment tier: a foreachBatch ingest
that grows the covariance moment store one micro-batch at a time.

The daily/continuous embedding-ingest shape: each micro-batch of new
vectors is collapsed ONCE to its d(d+1)/2 exact moment cells
(operators/similarity.py:embedding_moments) and appended to the store;
because integer moment sums re-associate losslessly, the merged store
serves the covariance / correlation / PCA of EVERYTHING ingested so far
(cov_from_moments / pca_components) BIT-identically to a batch
recompute — old vectors are never re-read, the serving cost is the
|batches|·d² cell frame. Parity-tested: a maxFilesPerTrigger=1 drain
equals the one-shot batch embedding_cov exactly.

Store layout (the shared sink protocol of streaming/sink.py):

    {root}/moments/qid=<query_id>/batch_id=N/   (i, j, n, p, si, sj)

Writes commit through ``sink.commit`` (batch_id-keyed, with
``_COMMITTED`` markers): checkpoint replays skip committed batches,
crashed partial writes are overwritten wholesale, and uncommitted
directories are invisible to the serve.

Ingest-exactly-once contract: a store accumulates ADDITIVE statistics,
so each vector must be ingested exactly once per store root. Within a
run the checkpoint guarantees that; pointing a NEW checkpoint/run at
input already ingested into the same root would double-count (unlike
the dedup fingerprint store, where replayed pairs collapse in a
distinct). One store root per logical stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from traval_spark.streaming import sink

_MOMENT_SCHEMA = (
    "i int, j int, n long, p decimal(38,0), "
    "si decimal(38,0), sj decimal(38,0)"
)


def committed_moments(spark: SparkSession, store_root: str) -> DataFrame:
    """Every committed moment cell in the store (empty typed frame
    before the first commit). Uncommitted batch directories are
    invisible (``sink.read_committed``)."""
    return sink.read_committed(spark, f"{store_root}/moments",
                               _MOMENT_SCHEMA)


def moments_upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_root: str,
    run_id: str | None = None,
    emb: str = "embedding",
    value_scale: int = 1_000_000,
) -> None:
    """One idempotent micro-batch step: collapse the batch to its exact
    moment cells and append them (skip wholesale if ``_COMMITTED``)."""
    from traval_spark.operators.similarity import embedding_moments

    if batch_df.isEmpty():
        return
    sink.commit(
        batch_df.sparkSession,
        sink.batch_dir(f"{store_root}/moments", run_id, batch_id),
        lambda d: embedding_moments(batch_df, emb=emb,
                                    value_scale=value_scale)
        .write.mode("overwrite").parquet(d),
    )


def run_streaming_moments(
    spark: SparkSession,
    input_path: str,
    store_root: str,
    checkpoint_path: str,
    schema: str = "vec_id long, embedding array<float>, label int",
    emb: str = "embedding",
    value_scale: int = 1_000_000,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Drain an embedding directory through the incremental moment sink
    (availableNow catch-up + exactly-once checkpoint semantics, same
    shape as run_streaming_dedup). ``input_path`` must be a directory."""
    return sink.run_upserts(
        sink.file_stream(spark, input_path, schema, max_files_per_trigger),
        moments_upsert_batch, store_root, checkpoint_path, available_now,
        emb=emb, value_scale=value_scale,
    )
