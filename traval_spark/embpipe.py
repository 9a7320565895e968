"""End-to-end embedding pipeline (spark-submit job) — the embedding-
family counterpart of :mod:`traval_spark.pipeline` (rollup tiers) and
:mod:`traval_spark.curation` (document curation).

raw vectors
  → null gate (disclosed count)
  → per-period MOMENT tier                 (the ONE corpus scan)
  → covariance + PCA model                 (served from the stored tier)
  → Lloyd-refined IVF centroids            (kmeans_refine, engine-exact)
  → per-vector assignments, cid-PARTITIONED layout
                                           (probes prune at scan time —
                                            the layout ivf_assign_col's
                                            docstring promises)
  → drift reads: centroid location (tier diagonal) + occupancy shape
  → run_metrics.json lineage manifest      (fsutil — any Hadoop scheme)

Scan economics (the pipeline.py stage-materialization discipline): the
corpus is read exactly TWICE regardless of how many artifacts land —
once to build the moment tier, once for centroid training + the
assignment write (covariance, PCA, and the centroid-location drift all
serve from the STORED tier; occupancy drift rides the assignment pass's
cached frame). Everything downstream of the two scans runs on
d²/n_list/|periods|-sized frames.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from traval_spark.session import held, hold
from traval_spark.sources import fsutil


def run(
    spark: SparkSession,
    emb: DataFrame,
    out_root: str,
    period_col: str | None = None,
    n_list: int = 8,
    lloyd_iters: int = 2,
    pca_k: int | None = None,
    value_scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metrics: dict | None = None,
) -> dict:
    """Run the full embedding pipeline; returns the metrics dict (pass
    ``metrics={}`` to also count rows per stage — one extra action per
    count; ``None`` keeps every stage lazy except the writes)."""
    from traval_spark.operators.similarity import (
        centroid_drift,
        cluster_occupancy_drift,
        cov_from_moments,
        embedding_moments,
        ivf_assign_col,
        ivf_seed_centroids,
        kmeans_refine,
        pca_components,
    )

    m = metrics if metrics is not None else {}
    track = metrics is not None
    by = [period_col] if period_col else []

    clean = emb.filter(F.col(vec_col).isNotNull())
    if track:
        m["rows_in"] = emb.count()
        m["rows_clean"] = clean.count()
        m["rows_null_dropped"] = m["rows_in"] - m["rows_clean"]

    # -- scan 1: the moment tier ------------------------------------
    moments = embedding_moments(
        clean, emb=vec_col, by=by, value_scale=value_scale)
    moments.write.mode("overwrite").parquet(f"{out_root}/moments")
    mread = spark.read.parquet(f"{out_root}/moments")
    if track:
        m["moment_cells"] = mread.count()

    # served from the stored tier — raw never re-read
    cov_from_moments(mread, value_scale=value_scale).write.mode(
        "overwrite").parquet(f"{out_root}/cov")
    mean, eig, comps = pca_components(
        mread, value_scale=value_scale, k=pca_k)
    fsutil.write_text(
        spark, f"{out_root}/pca_model.json",
        json.dumps({
            "mean": list(map(float, mean)),
            "eigenvalues": list(map(float, eig)),
            "components": [list(map(float, c)) for c in comps],
            "value_scale": value_scale,
        }),
    )
    if period_col:
        centroid_drift(mread, period_col, value_scale=value_scale) \
            .write.mode("overwrite").parquet(f"{out_root}/drift_centroid")

    # -- scan 2: centroid training + assignment layout ---------------
    # cached: kmeans_refine scans once per Lloyd pass and the
    # assignment write + occupancy drift reuse the same frame
    with held():
        clean = hold(clean)
        cents = kmeans_refine(
            clean, k=n_list, iters=lloyd_iters,
            id_col=id_col, vec_col=vec_col,
            centroids=ivf_seed_centroids(
                clean, n_list=n_list, id_col=id_col, vec_col=vec_col),
        )
        spark.createDataFrame(
            [(cid, list(map(float, c))) for cid, c in cents],
            "cid int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{out_root}/centroids")

        assigned = clean.withColumn(
            "cid", ivf_assign_col(vec_col, cents))
        # cid directory partitioning: an nprobe read scans
        # nprobe/n_list of the data by PATH, not by filter
        assigned.write.mode("overwrite").partitionBy("cid").parquet(
            f"{out_root}/vectors")

        if period_col:
            cluster_occupancy_drift(
                clean, cents, period_col, vec_col=vec_col,
            ).write.mode("overwrite").parquet(
                f"{out_root}/drift_occupancy")

    m.update({"n_list": n_list, "lloyd_iters": lloyd_iters,
              "pca_k": pca_k or len(mean), "period_col": period_col})
    fsutil.write_text(
        spark, f"{out_root}/run_metrics.json",
        json.dumps(m, indent=2, default=str),
    )
    return m


def main() -> None:
    import argparse

    from traval_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="embeddings parquet path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--period-mod", type=int, default=0,
                    help="synthesize period = vec_id %% N (0 = no "
                         "period column, drift reads skipped)")
    ap.add_argument("--n-list", type=int, default=8)
    ap.add_argument("--iters", type=int, default=2)
    ap.add_argument("--pca-k", type=int, default=None)
    ap.add_argument("--no-metrics", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark("traval-embpipe", master=args.master)
    emb = spark.read.parquet(args.input)
    period_col = None
    if args.period_mod > 0:
        emb = emb.withColumn(
            "period", (F.col("vec_id") % args.period_mod).cast("int"))
        period_col = "period"
    m = run(
        spark, emb, args.output,
        period_col=period_col, n_list=args.n_list,
        lloyd_iters=args.iters, pca_k=args.pca_k,
        metrics=None if args.no_metrics else {},
    )
    print(json.dumps(m, default=str))


if __name__ == "__main__":
    main()
