"""Round-6 optimization equivalence pins.

Each test pins an optimization that changed an operator's INTERNALS to
the semantics it replaced:

- lev_verify_pairs now uses the 3-arg banded levenshtein with a derived
  distance bound plus an equal-prefix fast path — pinned equal to the
  unbanded formulation on pairs engineered to straddle the
  threshold/rounding boundary;
- sen_slope_ci now extracts lo/hi/median in one conditional-aggregation
  pass (the median replicating theil_sen's rank rule instead of calling
  theil_sen) — pinned: sen_slope equals theil_sen's on the same input;
  the one-season reads are pinned too: seasonal_sen(period=1) equals
  theil_sen and seasonal_mk(period=1) equals mann_kendall;
- the _dot_sql/_norm_sql unrolled chains are pinned bit-identical to
  the higher-order folds they replaced (including the float32 element
  widening).
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_lev_banded_equals_unbanded_at_boundary(spark):
    from traval_spark.operators.dedup import lev_verify_pairs

    # prefix 16, threshold 0.8: bound = floor(16*0.2 + 16*5e-7)+1 = 4.
    # Craft pairs with exact distances 0..6 so both sides of the bound
    # and the sim boundary (lev=3: sim 0.8125 keep; lev=4: 0.75 drop)
    # are exercised, plus an identical pair (fast path) and a pair of
    # different lengths.
    base = "abcdefghijklmnop"  # 16 chars
    docs = [
        (0, base),
        (1, base),                      # lev 0 (fast path)
        (2, "Xbcdefghijklmnop"),        # lev 1
        (3, "XYcdefghijklmnop"),        # lev 2
        (4, "XYZdefghijklmnop"),        # lev 3  -> sim 0.8125 kept
        (5, "XYZWefghijklmnop"),        # lev 4  -> sim 0.75 dropped
        (6, "XYZWVfghijklmnop"),        # lev 5  (beyond bound)
        (7, "abcdefghijkl"),            # shorter: lev 4 vs base
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 8)], "id_a long, id_b long")

    got = lev_verify_pairs(d, pairs, threshold=0.8, prefix=16).orderBy(
        "id_a", "id_b").collect()

    # reference: unbanded formulation, same rounding and filter
    t = F.substring("text", 1, 16)
    side = d.select("doc_id", t.alias("__t"))
    ta = side.select(F.col("doc_id").alias("id_a"), F.col("__t").alias("a"))
    tb = side.select(F.col("doc_id").alias("id_b"), F.col("__t").alias("b"))
    j = pairs.join(ta, "id_a").join(tb, "id_b")
    lev = F.levenshtein("a", "b")
    mx = F.greatest(F.length("a"), F.length("b"))
    sim = F.when(mx > 0, F.lit(1.0) - lev.cast("double") / mx.cast("double")
                 ).otherwise(F.lit(1.0))
    want = (
        j.select("id_a", "id_b", lev.alias("lev"),
                 F.round(sim, 6).alias("sim"))
        .filter(F.col("sim") >= 0.8)
        .orderBy("id_a", "id_b")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # and the boundary really is exercised: lev 3 kept, lev 4 absent
    kept = {(r["id_a"], r["id_b"]): r["lev"] for r in got}
    assert kept[(0, 4)] == 3
    assert (0, 5) not in kept and (0, 7) not in kept


def test_sen_slope_ci_median_equals_theil_sen(spark):
    from traval_spark.operators.monitor import (
        mann_kendall, seasonal_mk, seasonal_sen, sen_slope_ci, theil_sen)

    rows = []
    for g, seq in (
        ("up", [1, 3, 2, 5, 4, 7, 6, 9, 8, 11]),
        ("flat", [4, 4, 4, 4, 4, 4]),
        ("noisy", [10, 2, 8, 3, 9, 1, 7, 5]),
    ):
        rows += [(g, h, c) for h, c in enumerate(seq)]
    counts = spark.createDataFrame(rows, "g string, h long, c long")

    ts_rows = {r["g"]: r["sen_slope"]
               for r in theil_sen(counts=counts).collect()}
    ci_rows = {r["g"]: r["sen_slope"]
               for r in sen_slope_ci(counts=counts).collect()}
    assert set(ts_rows) == set(ci_rows)
    for g in ts_rows:
        assert _bits(ts_rows[g]) == _bits(ci_rows[g]), g

    # one season is the non-seasonal read: seasonal_sen equals theil_sen
    # and seasonal_mk equals mann_kendall on their shared columns
    ss_rows = {r["g"]: r["sen_slope"]
               for r in seasonal_sen(counts=counts, period=1).collect()}
    assert set(ss_rows) == set(ts_rows)
    for g in ts_rows:
        assert _bits(ss_rows[g]) == _bits(ts_rows[g]), g

    cols = ["g", "n_buckets", "s_stat", "var_s", "z"]

    def mk_rows(df):
        return {r["g"]: tuple(r[c] for c in cols)
                for r in df.select(*cols).collect()}

    mk = mk_rows(mann_kendall(counts=counts))
    smk = mk_rows(seasonal_mk(counts=counts, period=1))
    assert set(mk) == set(smk) == set(ts_rows)
    for g in mk:
        assert mk[g][:3] == smk[g][:3], g
        for a, b in zip(mk[g][3:], smk[g][3:]):
            assert (a is None) == (b is None), g
            assert a is None or _bits(a) == _bits(b), g


def test_dot_sql_bit_identical_to_fold(spark):
    from traval_spark.operators.similarity import (
        _dot, _dot_sql, _norm, _norm_sql,
    )

    vals_a = [0.1, -0.25, 7e-05, 123.456, -0.0, 1e-12, 3.14159, -2.5]
    vals_b = [1.5, 0.333, -9e-08, -0.001, 2.0, -1e12, 0.125, 4.75]
    df = spark.createDataFrame(
        [(vals_a, vals_b)], "va array<float>, vb array<float>")
    dim = len(vals_a)
    a = F.col("va").cast("array<double>")
    b = F.col("vb").cast("array<double>")
    r = df.select(
        _dot(a, b).alias("dot_hof"),
        F.expr(_dot_sql("va", "vb", dim)).alias("dot_sql"),
        _norm(a).alias("norm_hof"),
        F.expr(_norm_sql("va", dim)).alias("norm_sql"),
    ).collect()[0]
    assert _bits(r["dot_hof"]) == _bits(r["dot_sql"])
    assert _bits(r["norm_hof"]) == _bits(r["norm_sql"])


def test_hash_bucket_matches_full_chain(spark):
    from traval_spark.operators.sampling import hash_bucket, hash_uniform

    df = spark.range(0, 2000).select(F.col("id").cast("string").alias("k"))
    # three shortcut widths (16**7 is the widest) + one fallback
    for width in (256, 4096, 16**7, 100):
        bad = df.select(
            (~hash_bucket(F.col("k"), seed=3, width=width).eqNullSafe(
                F.floor(hash_uniform(F.col("k"), 3) * width).cast("int")))
            .alias("ne")
        ).filter("ne").count()
        assert bad == 0, width
    # 16**8 buckets do not fit an int: rejected when the column is built
    with pytest.raises(ValueError, match="2\\^31"):
        hash_bucket(F.col("k"), seed=3, width=16**8)


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
