"""Stream-stream event-time RANGE join — the attribution shape.

The one Structured Streaming primitive the rest of streaming/ doesn't
exercise: joining two live streams on a key plus an event-time range
condition ("pair every trigger row with the probe rows that follow it
within W"), with BOTH sides watermarked so the join state is bounded.

Spark's stream-stream inner join buffers each side's rows in state until
the other side's watermark passes the last instant a match could still
arrive; the time-range condition is what lets the engine compute that
bound — an unconstrained stream-stream join would buffer forever.  State
per key is O(rows inside the watermark horizon), evicted by the engine
itself (no custom state code: this is the declarative counterpart to the
applyInPandasWithState kernels in stateful_rules.py).

Semantics contract (parity-tested): after draining the same input the
emitted pairs equal the BATCH inner join with the identical key + range
predicate — a stream-stream inner join never invents or loses in-
watermark pairs, it only changes WHEN they emit.  Late rows beyond the
watermark are dropped by the engine (the streaming trade-off every
windowed operator here documents).

Reference: traval has no streaming; north-rule streaming machinery
(BASELINE.json) — this completes the streaming surface next to windowed
aggregation, dedup, and the stateful rule kernels.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from traval_spark.streaming.rollup_stream import SEQUENCE_SCHEMA
from traval_spark.streaming.sink import file_stream


def stream_range_join(
    spark: SparkSession,
    input_path: str,
    left_pred: Column,
    right_pred: Column,
    window: str = "1 hour",
    watermark: str = "2 hours",
    key: str = "source",
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Watermarked stream-stream inner join over the sequence drop dir:
    left rows (``left_pred``) pair with right rows (``right_pred``) of
    the same ``key`` whose event time lands in ``[l.ts, l.ts +
    window]`` — trigger->follow-up attribution (click->purchase,
    deploy->alert) as ONE declarative plan, state bounded by the
    watermarks.  Self-join of one source stream: the two sides are
    separate filtered readers of the same dir, the supported
    stream-self-join shape.

    Output: ``key, l_ts, l_id, l_val, r_ts, r_id, r_val, lag_s``
    (``lag_s`` = follow-up delay in seconds, 0 allowed — a row
    matching itself is excluded by ``l_id != r_id``).
    """
    def side(pred, tag):
        return (
            file_stream(spark, input_path, SEQUENCE_SCHEMA,
                        max_files_per_trigger)
            .filter(pred)
            .select(
                F.col(key).alias(f"{tag}_key"),
                F.col("ts").cast("timestamp").alias(f"{tag}_ts"),
                F.col("doc_id").alias(f"{tag}_id"),
                F.col("n_tok").alias(f"{tag}_val"),
            )
            .withWatermark(f"{tag}_ts", watermark)
        )

    l = side(left_pred, "l")
    r = side(right_pred, "r")
    j = l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"interval {window}"))
        & (F.col("l_id") != F.col("r_id")),
        "inner",
    )
    return j.select(
        F.col("l_key").alias(key), "l_ts", "l_id", "l_val",
        "r_ts", "r_id", "r_val",
        ((F.unix_micros("r_ts") - F.unix_micros("l_ts")) / 1_000_000.0)
        .alias("lag_s"),
    )
