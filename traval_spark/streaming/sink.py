"""The streaming layer's shared plumbing: the file-source reader, the
one commit protocol of every ``foreachBatch`` sink, and the query driver.

A sink lands each micro-batch in its own directory,

    {root}/qid=<query_id>/batch_id=N/

and marks it with a ``_COMMITTED`` file once the data has landed
(dynamic-partition-overwrite writes leave no ``_SUCCESS``, so the sink
writes its own marker). A checkpoint replay of the batch finds the
marker and skips; a crashed partial attempt (no marker) is overwritten
wholesale; readers see only committed directories. The query id comes
from the checkpoint (:func:`stream_query_id`), so a fresh checkpoint's
batches land beside an earlier run's instead of being skipped as
replays. The rollup cascade, the fingerprint and span dedup streams and
the moment stream all commit through :func:`commit`.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from traval_spark.sources import fsutil


def file_stream(
    spark: SparkSession, input_path: str, schema: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The file-source stream of the parquet files dropped into the
    directory ``input_path`` (a bare file is rejected by Spark)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               int(max_files_per_trigger))
    return reader.parquet(input_path)


def stream_query_id(checkpoint_path: str) -> str | None:
    """The streaming query id from ``{checkpoint}/metadata`` — written by
    Spark at query start, STABLE across restarts of the same checkpoint,
    and regenerated for a fresh checkpoint. The correct idempotency scope
    for batch_id-keyed sinks: batch numbering restarts at 0 with a fresh
    checkpoint, so un-scoped batch dirs from an earlier run would falsely
    satisfy the already-written check and silently drop the new data."""
    try:
        with open(f"{checkpoint_path}/metadata") as f:
            return json.load(f)["id"]
    except (OSError, KeyError, ValueError):
        return None


def batch_dir(root: str, run_id: str | None, batch_id: int) -> str:
    return f"{root}/qid={run_id or 'default'}/batch_id={batch_id}"


def _marker(bdir: str) -> str:
    return f"{bdir}/_COMMITTED"


def commit(spark: SparkSession, bdir: str, write) -> bool:
    """Run ``write(bdir)`` unless the batch directory is committed, then
    mark it committed. Returns whether it wrote."""
    if fsutil.exists(spark, _marker(bdir)):
        return False
    write(bdir)
    fsutil.touch(spark, _marker(bdir))
    return True


def read_committed(spark: SparkSession, root: str, schema: str) -> DataFrame:
    """The rows of every committed batch directory under ``root``, as
    ``schema``'s columns (an empty frame of ``schema`` before the first
    commit). One glob lists the markers. Uncommitted directories are
    invisible: a crashed attempt that is never replayed (checkpoint
    deleted, new query id) would otherwise sit silently incomplete in
    every later read."""
    empty = spark.createDataFrame([], schema)
    dirs = [os.path.dirname(p) for p in
            fsutil.glob(spark, _marker(f"{root}/qid=*/batch_id=*"))]
    if not dirs:
        return empty
    return (spark.read.option("basePath", root).parquet(*dirs)
            .select(*empty.columns))


def start(writer, checkpoint_path: str, available_now: bool):
    """Start a stream writer on its checkpoint. ``available_now=True``
    drains everything the source holds and returns once the query has
    stopped (the resumable catch-up shape); False leaves it running."""
    writer = writer.option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


def run_upserts(
    stream: DataFrame, upsert, store_root: str, checkpoint_path: str,
    available_now: bool, **kwargs,
):
    """Drive a sink: each micro-batch of ``stream`` runs
    ``upsert(batch_df, batch_id, store_root, run_id=<query id>,
    **kwargs)``, exactly once per batch under the checkpoint."""
    def each(batch_df: DataFrame, batch_id: int) -> None:
        upsert(batch_df, batch_id, store_root,
               run_id=stream_query_id(checkpoint_path), **kwargs)

    return start(stream.writeStream.foreachBatch(each), checkpoint_path,
                 available_now)
