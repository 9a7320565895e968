"""Counter rate / gap stats / CUSUM changepoint (operators/monitor.py)."""

from __future__ import annotations

import pandas as pd
import pytest

from traval_spark.operators.monitor import (
    counter_windows,
    cusum_changepoint,
    gap_stats,
)


def _t(sec):
    return pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=sec)


def _frame(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "ts", "value", "event_id"])
    )


def test_counter_reset_rule_hand_computed(spark):
    """[10, 13, 5, 6] in one window: steps 0 (first), +3, +5 (reset:
    credit the new value), +1 -> increase 9, resets 1."""
    rows = [
        ("a", _t(0), 10.0, 1), ("a", _t(600), 13.0, 2),
        ("a", _t(1200), 5.0, 3), ("a", _t(1800), 6.0, 4),
    ]
    out = counter_windows(_frame(spark, rows), window="1h").collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r["n_samples"] == 4
    assert r["increase"] == 9.0
    assert r["resets"] == 1
    assert abs(r["rate_per_sec"] - 9.0 / 3600) < 1e-6
    assert r["window_start"] == _t(0)


def test_counter_edge_step_goes_to_later_window(spark):
    """A step spanning a window edge lands in the LATER sample's
    window (the documented edge rule)."""
    rows = [("a", _t(3599), 10.0, 1), ("a", _t(3601), 25.0, 2)]
    out = {
        r["window_start"]: r
        for r in counter_windows(_frame(spark, rows), window="1h").collect()
    }
    assert out[_t(0)]["increase"] == 0.0
    assert out[_t(3600)]["increase"] == 15.0


def test_gap_stats_hand_computed(spark):
    """Deltas 60s (not a gap at thr=60s: strict >) and 3660s (gap,
    excess 3600s): uptime = 1 - 3600/3720."""
    rows = [
        ("a", _t(0), 0.0, 1), ("a", _t(60), 0.0, 2),
        ("a", _t(3720), 0.0, 3),
    ]
    df = _frame(spark, rows).select("source", "ts", "event_id")
    r = gap_stats(df, max_gap="1m").collect()[0].asDict()
    assert r["n_points"] == 3
    assert r["n_gaps"] == 1
    assert r["max_delta_us"] == 3660 * 1_000_000
    assert r["span_us"] == 3720 * 1_000_000
    assert abs(r["uptime_frac"] - (1 - 3600 / 3720)) < 1e-9


def test_gap_stats_single_point_series(spark):
    df = _frame(spark, [("a", _t(0), 0.0, 1)]).select(
        "source", "ts", "event_id"
    )
    r = gap_stats(df, max_gap="1m").collect()[0].asDict()
    assert (r["n_gaps"], r["max_delta_us"], r["span_us"]) == (0, 0, 0)
    assert r["uptime_frac"] == 1.0


def test_cusum_finds_level_shift(spark):
    """[0,0,0,0,10,10,10,10]: D_i = 8*C_i - i*40 peaks (|D|=160) at the
    last pre-shift point; fixed-point scale 1000 -> d_max 160000,
    score 160000/64/1000 = 2.5."""
    rows = [
        ("a", _t(i * 60), 0.0 if i < 4 else 10.0, i) for i in range(8)
    ]
    r = cusum_changepoint(_frame(spark, rows)).collect()[0].asDict()
    assert r["n_points"] == 8
    assert r["t_change"] == _t(3 * 60)
    assert r["d_max_scaled"] == 160_000
    assert r["score"] == 2.5


def test_cusum_flat_series_zero_score(spark):
    rows = [("a", _t(i), 5.0, i) for i in range(6)]
    r = cusum_changepoint(_frame(spark, rows)).collect()[0].asDict()
    assert r["d_max_scaled"] == 0
    assert r["score"] == 0.0
    # ties on |D|=0 resolve to the earliest instant
    assert r["t_change"] == _t(0)


def test_seasonal_profile_exact_moments(spark):
    """hod 0: values [1,1,1,5] -> mean 2.0, var_num = 4*28e6 - 64e6 =
    48e6, std = sqrt(48e6)/4/1000 ~ 1.732051."""
    rows = [
        ("a", _t(86400 * d), v, d) for d, v in enumerate([1.0, 1.0, 1.0, 5.0])
    ] + [("a", _t(86400 * d + 3600), 2.0, 10 + d) for d in range(2)]
    from traval_spark.operators.monitor import seasonal_profile

    prof = {
        r["hod"]: r
        for r in seasonal_profile(_frame(spark, rows)).collect()
    }
    assert prof[0]["n_points"] == 4
    assert prof[0]["mean_value"] == 2.0
    assert abs(prof[0]["std_value"] - 1.732051) < 1e-6
    assert prof[1]["std_value"] == 0.0


def test_seasonal_anomaly_flags_and_constant_cell_never_flags(spark):
    rows = [
        ("a", _t(86400 * d), v, d) for d, v in enumerate([1.0, 1.0, 1.0, 5.0])
    ] + [("a", _t(86400 * d + 3600), 2.0, 10 + d) for d in range(2)]
    from traval_spark.operators.monitor import seasonal_anomaly

    out = seasonal_anomaly(
        _frame(spark, rows).drop("event_id"), threshold=1.5
    ).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r["value"] == 5.0
    assert abs(r["z"] - 1.732051) < 1e-6


def test_seasonal_anomaly_broadcasts_profile(spark):
    """The point stream must take a broadcast join against the tiny
    profile — never a shuffled sort-merge join."""
    rows = [("a", _t(i * 3601), float(i % 7), i) for i in range(200)]
    from traval_spark.operators.monitor import seasonal_anomaly

    plan = (
        seasonal_anomaly(_frame(spark, rows).drop("event_id"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ewma_daily_hand_computed(spark):
    """[5,2,9,4] at alpha 0.3: y = 5, 4.1, 5.57, 5.099."""
    from traval_spark.operators.monitor import ewma_daily

    rows = [("a", _t(i * 60), v, i)
            for i, v in enumerate([5.0, 2.0, 9.0, 4.0])]
    r = ewma_daily(_frame(spark, rows), alpha=0.3).collect()[0].asDict()
    want = 5.0
    for x in [2.0, 9.0, 4.0]:
        want = 0.3 * x + 0.7 * want
    assert r["ewma"] == want                  # bit-identical fold
    assert r["n_points"] == 4


def test_holt_daily_matches_reference_recurrence(spark):
    from traval_spark.operators.monitor import holt_daily

    vals = [5.0, 2.0, 9.0, 4.0, 7.5, 7.9]
    rows = [("a", _t(i * 60), v, i) for i, v in enumerate(vals)]
    r = holt_daily(_frame(spark, rows), alpha=0.3, beta=0.1).collect()[0]
    lvl, tr = vals[0], 0.0
    for x in vals[1:]:
        nl = 0.3 * x + 0.7 * (lvl + tr)
        tr = 0.1 * (nl - lvl) + 0.9 * tr
        lvl = nl
    assert r["level"] == lvl                  # bit-identical fold
    assert r["trend"] == tr
    assert r["forecast_next"] == lvl + tr


def test_holt_winters_matches_reference_recurrence(spark):
    """Hand-rolled additive HW recurrence (period 3, so seasonal slots
    wrap twice inside 8 points) must match the fold bit-for-bit."""
    from traval_spark.operators.monitor import holt_winters_daily

    a, b, g, m = 0.3, 0.1, 0.2, 3
    vals = [5.0, 7.0, 4.0, 6.0, 9.0, 2.0, 8.0, 3.5]
    rows = [("a", _t(i * 60), v, i) for i, v in enumerate(vals)]
    r = holt_winters_daily(
        _frame(spark, rows), alpha=a, beta=b, gamma=g, period=m
    ).collect()[0]
    lvl, tr, s = vals[0], 0.0, [0.0] * m
    for i, x in enumerate(vals[1:], start=1):
        p = i % m
        nl = a * (x - s[p]) + (1.0 - a) * (lvl + tr)
        tr = b * (nl - lvl) + (1.0 - b) * tr
        s[p] = g * (x - nl) + (1.0 - g) * s[p]
        lvl = nl
    nxt = len(vals) % m
    assert r["level"] == lvl                  # bit-identical fold
    assert r["trend"] == tr
    assert r["season_next"] == s[nxt]
    assert r["forecast_next"] == lvl + tr + s[nxt]
    assert r["n_points"] == len(vals)


def test_holt_winters_gamma_zero_degrades_to_holt(spark):
    """gamma=0 keeps every seasonal index at its 0 initialization, so
    the level/trend recursion IS Holt's — exact equality per day."""
    from traval_spark.operators.monitor import (holt_daily,
                                                holt_winters_daily)

    rows = [("a", _t(i * 60 + (i % 7) * 86400), float((i * 13) % 29), i)
            for i in range(200)]
    hw = {
        (r["source"], r["day"]): r
        for r in holt_winters_daily(
            _frame(spark, rows), alpha=0.3, beta=0.1, gamma=0.0, period=5
        ).collect()
    }
    for r in holt_daily(_frame(spark, rows), alpha=0.3, beta=0.1).collect():
        w = hw[(r["source"], r["day"])]
        assert w["level"] == r["level"]
        assert w["trend"] == r["trend"]
        assert w["season_next"] == 0.0
        assert w["forecast_next"] == r["forecast_next"]


def test_smoothing_fold_is_single_shuffle_no_window(spark):
    """The fold runs inside one partial-aggregatable groupBy — no
    per-series Window sort, no second exchange."""
    from traval_spark.operators.monitor import ewma_daily

    rows = [("a", _t(i * 60), float(i % 5), i) for i in range(500)]
    plan = (
        ewma_daily(_frame(spark, rows))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert plan.count("Exchange") == 1


def test_xcorr_detects_lagged_copy(spark):
    """Series b is a's count signal shifted one hour: r(a,b, lag=+1)
    = 1 exactly (integer moments), and every autocorrelation at lag 0
    is exactly 1."""
    import itertools

    from traval_spark.operators.monitor import xcorr_lags

    # a: bursts of size 1..6 in hours 0..5; b: same bursts one hour later
    rows = []
    eid = 0
    for h, burst in enumerate([1, 5, 2, 6, 3, 4]):
        for k in range(burst):
            rows.append(("a", _t(h * 3600 + k), 0.0, eid)); eid += 1
            rows.append(("b", _t((h + 1) * 3600 + k), 0.0, eid)); eid += 1
    df = _frame(spark, rows).select("source", "ts")
    out = {
        (r["a"], r["b"], r["lag"]): r
        for r in xcorr_lags(df, max_lag=2, bucket="1h").collect()
    }
    assert out[("a", "b", 1)]["r"] == 1.0
    for g in ("a", "b"):
        assert out[(g, g, 0)]["r"] == 1.0
    # the aligned-pair count shrinks with |lag| over the 7-hour span
    assert out[("a", "b", 1)]["n"] == 6
    assert out[("a", "a", 2)]["n"] == 5


def test_changes_only_roundtrip_via_asof(spark):
    """Compaction keeps first + changes, and the original series
    reconstructs EXACTLY by as-of joining the raw timestamps back to
    the compacted stream."""
    from traval_spark.functions.ts import asof_join
    from traval_spark.operators.monitor import changes_only

    rows = [("a", _t(i * 60), v, i) for i, v in
            enumerate([5.0, 5.0, 5.0, 7.0, 7.0, 5.0, 5.0])]
    df = _frame(spark, rows)
    comp = changes_only(df)
    kept = sorted((r["ts"], r["value"]) for r in comp.collect())
    assert kept == [(_t(0), 5.0), (_t(180), 7.0), (_t(300), 5.0)]

    rec = asof_join(
        df.select("source", "ts", "event_id"),
        comp.select("source", "ts", "value"),
        by=("source",),
    )
    j = {r["event_id"]: r["r_value"] for r in rec.collect()}
    want = {i: v for i, (_, _, v, _) in
            enumerate((r for r in rows))}
    assert j == {i: rows[i][2] for i in range(len(rows))}


def test_trend_slope_exact_line(spark):
    """A perfect line y = 2 + 3t_hours inside one day bucket yields
    slope_per_hour == 3 exactly (moments are exact integers)."""
    from traval_spark.operators.monitor import trend_slope

    rows = [("a", _t(i * 3600), 2.0 + 3.0 * i, i) for i in range(10)]
    out = trend_slope(_frame(spark, rows), bucket="1d").collect()
    assert len(out) == 1
    # the exact ratio 3/3.6e6 per-us is not double-representable; the
    # engine guarantee is ENGINE-IDENTICAL doubles, not decimal ones
    assert abs(out[0]["slope_per_hour"] - 3.0) < 1e-9
    assert out[0]["n_points"] == 10


def test_hysteresis_latches_and_counts(spark):
    """hi=10, lo=5: [3, 12, 11, 8, 4, 12, 6] -> alert fires at 12
    (latched through 8, which a single threshold would flap on),
    releases at 4, fires again at the second 12 -> 2 alerts, still ON
    at day end (6 > lo)."""
    from traval_spark.operators.monitor import hysteresis_daily

    vals = [3.0, 12.0, 11.0, 8.0, 4.0, 12.0, 6.0]
    rows = [("a", _t(i * 60), v, i) for i, v in enumerate(vals)]
    r = hysteresis_daily(_frame(spark, rows), hi=10, lo=5).collect()[0]
    assert r["n_alerts"] == 2
    assert r["in_alert"] == 1
    # first point above hi fires immediately
    r2 = hysteresis_daily(
        _frame(spark, [("a", _t(0), 99.0, 0)]), hi=10, lo=5
    ).collect()[0]
    assert (r2["n_alerts"], r2["in_alert"]) == (1, 1)


def test_spearman_monotone_and_ties_match_scipy_definition(spark):
    """A strictly monotonic (nonlinear) relation gives rho == 1, and a
    tied signal reproduces the tie-corrected (average-rank) Spearman
    computed by hand."""
    from traval_spark.operators.monitor import spearman_pairs

    # a: bursts 1..6; b: a^2 bursts (monotone, nonlinear); c has ties
    rows = []
    eid = 0
    bursts = {"a": [1, 2, 3, 4, 5, 6], "b": [1, 4, 9, 16, 25, 36],
              "c": [2, 2, 5, 5, 1, 6]}
    for g, bs in bursts.items():
        for h, n in enumerate(bs):
            for _ in range(n):
                rows.append((g, _t(h * 3600), 0.0, eid)); eid += 1
    df = _frame(spark, rows).select("source", "ts")
    out = {(r["a"], r["b"]): r["rho"]
           for r in spearman_pairs(df, bucket="1h").collect()}
    assert out[("a", "b")] == 1.0          # monotone -> rho 1 exactly

    import numpy as np

    def avg_ranks(v):
        v = np.asarray(v)
        r = np.empty(len(v), dtype=float)
        order = np.argsort(v, kind="stable")
        sv = v[order]
        i = 0
        while i < len(v):
            j = i
            while j < len(v) and sv[j] == sv[i]:
                j += 1
            r[order[i:j]] = (i + j + 1) / 2.0
            i = j
        return r

    ra, rc = avg_ranks(bursts["a"]), avg_ranks(bursts["c"])
    want = np.corrcoef(ra, rc)[0, 1]
    assert abs(out[("a", "c")] - want) < 1e-12


def test_twa_weights_by_holding_time(spark):
    """v=10 held for 54 min then v=1 for the last 5 min of the hour
    (first point at minute 1): twa = (10*54 + 1*5)/59 — far from the
    plain mean of 5.5; a zero-duration duplicate contributes nothing."""
    from traval_spark.operators.monitor import time_weighted_avg

    rows = [
        ("a", _t(60), 10.0, 1),
        ("a", _t(3300), 99.0, 2),       # dup-ts with next: holds 0us
        ("a", _t(3300), 1.0, 3),
    ]
    r = time_weighted_avg(_frame(spark, rows), bucket="1h").collect()[0]
    want = (10.0 * 54 * 60 + 1.0 * 5 * 60) / (59 * 60)
    assert abs(r["twa"] - want) < 1e-9
    assert r["n_points"] == 3


def test_psi_zero_on_identical_and_positive_on_shift(spark):
    import pandas as pd

    from traval_spark.operators.monitor import psi_drift

    base = pd.DataFrame({
        "source": "a",
        "value": [float(i % 10) for i in range(1000)],
    })
    shifted = base.assign(value=base["value"] + 4.0)
    da = spark.createDataFrame(base)
    r0 = psi_drift(da, spark.createDataFrame(base.copy())).collect()[0]
    assert r0["psi"] == 0.0                     # identical distributions
    r1 = psi_drift(da, spark.createDataFrame(shifted)).collect()[0]
    assert r1["psi"] > 0.25                     # a real shift screams
    assert r1["n_bins"] == 14                   # union of 0..9 and 4..13


def test_psi_served_from_hist_tier_equals_direct(spark):
    """Drift read off the STORED hist tier: per-period bin counts
    summed from 1m tier rows feed psi_from_hists and equal the direct
    psi_drift on raw — no raw re-scan for the drift monitor."""
    from traval_spark.hist import hist_tier
    from traval_spark.operators.monitor import psi_drift, psi_from_hists
    from traval_spark.sources.synth import synth_sequences

    import pyspark.sql.functions as FF

    seqs = synth_sequences(spark, 4000, seed=31, span_days=2)
    cut = "2024-01-02"
    tier = hist_tier(seqs, "1m", value_col="n_tok")

    def period(pred, cname):
        return (tier.filter(pred).groupBy("source", "bin")
                .agg(FF.sum("cnt").alias(cname)))

    tiered = psi_from_hists(
        period(FF.col("bucket") < cut, "ca"),
        period(FF.col("bucket") >= cut, "cb"),
    )
    direct = psi_drift(
        seqs.filter(FF.col("ts") < cut).select("source",
                                               FF.col("n_tok").alias("value")),
        seqs.filter(FF.col("ts") >= cut).select("source",
                                                FF.col("n_tok").alias("value")),
        scale=1,
    )
    assert tiered.exceptAll(direct).count() == 0
    assert direct.exceptAll(tiered).count() == 0


def test_theil_sen_outlier_robust(spark):
    """Counts [1..7] per hour minus one corrupted bucket (hour 3 ->
    100 events): 15 of 21 pairwise slopes are exactly 1, the median
    ignores the outlier entirely while OLS would not."""
    from traval_spark.operators.monitor import theil_sen

    rows, eid = [], 0
    for h, c in enumerate([1, 2, 3, 100, 5, 6, 7]):
        for k in range(c):
            rows.append(("a", _t(h * 3600 + k), 0.0, eid)); eid += 1
    out = theil_sen(_frame(spark, rows).select("source", "ts"),
                    bucket="1h").collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r["n_buckets"] == 7 and r["n_pairs"] == 21
    assert r["sen_slope"] == 1.0


def test_theil_sen_even_median_and_zero_fill(spark):
    """Counts [1,2,4,8]: 6 slopes sorted [1, 1.5, 2, 7/3, 3, 4] ->
    median (2 + 7/3)/2 = 13/6. Series b occupies only hours 0 and 2
    of the same global span, so its spine zero-fills hours 1 and 3:
    slopes [-1, 0, -1/3, 1, 0, -1] -> median -1/6."""
    from traval_spark.operators.monitor import theil_sen

    rows, eid = [], 0
    for h, c in enumerate([1, 2, 4, 8]):
        for k in range(c):
            rows.append(("a", _t(h * 3600 + k), 0.0, eid)); eid += 1
    rows.append(("b", _t(0), 0.0, eid)); eid += 1
    rows.append(("b", _t(2 * 3600), 0.0, eid)); eid += 1
    got = {r["g"]: r for r in
           theil_sen(_frame(spark, rows).select("source", "ts"),
                     bucket="1h").collect()}
    assert got["a"]["n_pairs"] == 6
    assert abs(got["a"]["sen_slope"] - 13 / 6) < 1e-12
    assert got["b"]["n_buckets"] == 4
    assert abs(got["b"]["sen_slope"] - (-1 / 6)) < 1e-12


def test_null_key_rows_belong_to_no_series(spark):
    """Events with a NULL source belong to no series: they neither
    become an all-zero series of their own nor widen the span the
    keyed series are zero-filled over — on the raw path and on the
    counts= path alike."""
    from traval_spark.operators.monitor import (
        bucket_count_signal, fano_dispersion)

    rows, eid = [], 0
    for h, c in enumerate([3, 1, 4, 1, 5]):
        for k in range(c):
            rows.append(("a", _t(h * 3600 + k), 0.0, eid)); eid += 1
    keyed = _frame(spark, rows).select("source", "ts")
    # NULL-source events before, inside and after the keyed span
    nulls = [(None, _t(h * 3600 + 7), 0.0, 1000 + h) for h in range(-2, 8)]
    mixed = _frame(spark, rows + nulls).select("source", "ts")

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    sig = bucket_count_signal(mixed)
    assert sig.filter("g IS NULL").count() == 0
    assert rows_of(sig) == rows_of(bucket_count_signal(keyed))
    assert len(rows_of(sig)) == 5
    assert rows_of(fano_dispersion(mixed)) == rows_of(fano_dispersion(keyed))

    counts = spark.createDataFrame(
        [("a", 0, 3), ("a", 2, 1), (None, 1, 9), (None, 6, 2)],
        "g string, h long, c long")
    assert rows_of(bucket_count_signal(counts=counts)) == [
        ("a", 0, 3), ("a", 1, 0), ("a", 2, 1)]


def test_seasonal_strength_periodic_vs_constant(spark):
    """A perfectly period-3 count signal scores exactly 1.0; a
    constant signal (SS_tot = 0) is dropped; a period-3 signal with
    one corrupted bucket scores strictly between 0 and 1."""
    from traval_spark.operators.monitor import seasonal_strength

    rows, eid = [], 0
    # a: counts [1,5,9] repeating over 6 hours — pure period-3 signal
    for h, c in enumerate([1, 5, 9, 1, 5, 9]):
        for k in range(c):
            rows.append(("a", _t(h * 3600 + k), 0.0, eid)); eid += 1
    # b: constant 4 per hour
    for h in range(6):
        for k in range(4):
            rows.append(("b", _t(h * 3600 + k), 0.0, eid)); eid += 1
    # c: period-3 with one corrupted bucket
    for h, c in enumerate([1, 5, 9, 1, 5, 2]):
        for k in range(c):
            rows.append(("c", _t(h * 3600 + k), 0.0, eid)); eid += 1
    got = {r["g"]: r for r in seasonal_strength(
        _frame(spark, rows).select("source", "ts"),
        bucket="1h", period=3).collect()}
    assert got["a"]["strength"] == 1.0
    assert "b" not in got
    assert 0.0 < got["c"]["strength"] < 1.0


def test_forecast_backtest_walk_forward(spark):
    """Hand recurrence for daily counts [4,6,5]: errors scored against
    the STANDING forecast before the actual is consumed (walk-forward,
    no leakage); constant series -> mae 0, mase NULL (naive error 0)."""
    from traval_spark.operators.monitor import forecast_backtest

    rows, eid = [], 0
    for d, c in enumerate([4, 6, 5]):
        for k in range(c):
            rows.append(("a", _t(d * 86400 + k), 0.0, eid)); eid += 1
    for d in range(3):
        for k in range(3):
            rows.append(("b", _t(d * 86400 + k), 0.0, eid)); eid += 1
    got = {r["g"]: r for r in forecast_backtest(
        _frame(spark, rows).select("source", "ts"),
        bucket="1d", alpha=0.3, beta=0.1).collect()}

    # reference loop: identical float ops in identical order
    l, t, se, sn, prev = 4.0, 0.0, 0.0, 0.0, 4.0
    for x in (6.0, 5.0):
        fc = l + t
        se += abs(x - fc); sn += abs(x - prev)
        nl = 0.3 * x + 0.7 * fc
        t = 0.1 * (nl - l) + 0.9 * t; l = nl; prev = x
    r = got["a"]
    assert r["n_days"] == 3
    assert r["mae_model"] == se / 2 and r["mae_naive"] == sn / 2
    assert r["mase"] == round(se / sn, 9)
    # 0.3*3 + 0.7*3 = 3.0000000000000004 in binary floats, so the
    # constant series' model error is ~1 ulp, not 0 — but the naive
    # error IS exactly 0 (prev is the raw value), so mase is NULL
    assert got["b"]["mae_model"] < 1e-12 and got["b"]["mase"] is None


def _hour_counts(spark, per_source_counts):
    """Events with count c_i in hour-bucket i per source: the bucket
    count SIGNAL the trend/ACF monitors consume."""
    rows = []
    for src, counts in per_source_counts.items():
        for i, c in enumerate(counts):
            for j in range(c):
                rows.append((src, _t(i * 3600 + j), 0.0, i * 100 + j))
    return _frame(spark, rows)


def test_ks_hand_value_and_identical_zero(spark):
    """A=[0,0,1,2] vs B=[2,2,3]: CDF gaps .5, .75, 1/3, 0 -> D=0.75 at
    bin 1; identical snapshots -> D=0."""
    from traval_spark.operators.monitor import ks_drift

    import pandas as pd

    da = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 4, "value": [0.0, 0.0, 1.0, 2.0]}))
    db = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 3, "value": [2.0, 2.0, 3.0]}))
    r = ks_drift(da, db, scale=1).collect()[0]
    assert r["n_a"] == 4 and r["n_b"] == 3
    assert abs(r["ks_d"] - 0.75) < 1e-12
    assert r["at_bin"] == 1
    # fence at these tiny sizes = 1.358*sqrt(7/12) ~ 1.037 > 0.75
    assert r["drifted"] == 0
    r0 = ks_drift(da, da.select("source", "value"), scale=1).collect()[0]
    assert r0["ks_d"] == 0.0 and r0["drifted"] == 0
    # disjoint supports at larger n: D=1 clears any fence
    import pandas as pd
    big_a = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 40, "value": [0.0] * 40}))
    big_b = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 40, "value": [9.0] * 40}))
    r1 = ks_drift(big_a, big_b, scale=1).collect()[0]
    assert r1["ks_d"] == 1.0 and r1["drifted"] == 1


def test_two_sample_family_drops_null_by_keys(spark):
    """A NULL ``by`` key belongs to no series: identical snapshots give
    KS D = 0 for the keyed group, and the NULL group is absent from
    ``*_from_hists``, ``*_drift`` and ``drift_report`` alike (its bins
    once appeared twice, each zero-filled on one side, so identical
    NULL-keyed snapshots read D = 0.5)."""
    from traval_spark.operators.monitor import (
        drift_report,
        ks_drift,
        ks_from_hists,
        psi_from_hists,
    )

    def counts(cname):
        return spark.createDataFrame(
            [("x", 1, 5), ("x", 2, 5), (None, 1, 5), (None, 2, 5)],
            f"source string, bin long, {cname} long")

    ha, hb = counts("ca"), counts("cb")
    rows = ks_from_hists(ha, hb).collect()
    assert [(r["source"], r["ks_d"]) for r in rows] == [("x", 0.0)]
    assert [r["source"] for r in psi_from_hists(ha, hb).collect()] == ["x"]

    raw = spark.createDataFrame(
        [(s, float(v)) for s in ("x", None) for v in (1, 1, 2, 2)],
        "source string, value double")
    assert [(r["source"], r["ks_d"]) for r in
            ks_drift(raw, raw).collect()] == [("x", 0.0)]
    rep = drift_report(raw, raw).collect()
    assert [(r["source"], r["ks_d"]) for r in rep] == [("x", 0.0)]


def test_two_sample_family_drops_null_values(spark):
    """A NULL value is in no bin, as in a stored hist tier: x=[1, 2,
    NULL] against x=[1, 2] is no drift (KS D = 0 over n_a = 2, PSI = 0
    over 2 bins). A NULL bin once counted it, giving n_a = 3,
    D = 0.333, and a third PSI bin with psi = 0.209."""
    from traval_spark.operators.monitor import ks_drift, psi_drift

    def snap(vals):
        return spark.createDataFrame([("x", v) for v in vals],
                                     "source string, value double")

    a, b = snap([1.0, 2.0, None]), snap([1.0, 2.0])
    ks = ks_drift(a, b).collect()[0]
    assert (ks["n_a"], ks["ks_d"]) == (2, 0.0)
    psi = psi_drift(a, b).collect()[0]
    assert (psi["n_bins"], psi["psi"]) == (2, 0.0)


def test_ks_served_from_hist_tier_equals_direct(spark):
    """KS read off the STORED hist tier (per-period bin counts summed
    from 1m tier rows) == direct ks_drift on raw — PSI's tier-served
    property holds for the rank-based drift monitor too. Some values
    are NULL: the tier drops them, so the raw read must too."""
    from traval_spark.hist import hist_tier
    from traval_spark.operators.monitor import ks_drift, ks_from_hists
    from traval_spark.sources.synth import synth_sequences

    import pyspark.sql.functions as FF

    seqs = synth_sequences(spark, 4000, seed=31, span_days=2).withColumn(
        "n_tok", FF.when(FF.xxhash64("doc_id") % 9 != 0, FF.col("n_tok")))
    cut = "2024-01-02"
    tier = hist_tier(seqs, "1m", value_col="n_tok")

    def period(pred, cname):
        return (tier.filter(pred).groupBy("source", "bin")
                .agg(FF.sum("cnt").alias(cname)))

    tiered = ks_from_hists(
        period(FF.col("bucket") < cut, "ca"),
        period(FF.col("bucket") >= cut, "cb"),
    )
    direct = ks_drift(
        seqs.filter(FF.col("ts") < cut).select("source",
                                               FF.col("n_tok").alias("value")),
        seqs.filter(FF.col("ts") >= cut).select("source",
                                                FF.col("n_tok").alias("value")),
        scale=1,
    )
    assert tiered.exceptAll(direct).count() == 0
    assert direct.exceptAll(tiered).count() == 0


def test_mann_whitney_hand_values(spark):
    """A=[0,0,1,2] vs B=[2,2,3]: tied ranks 1.5,1.5,3,5,5,5,7 ->
    R_a=11, U_a=1; T=30, Var=4*3*306/(12*7*6); continuity-corrected
    z=-9/(2*sqrt(Var)) ~ -1.667 (not shifted). Identical samples ->
    z=0; disjoint big samples -> shifted=1 with the right sign;
    one-sample-only and all-tied groups -> NULL z."""
    import math

    import pandas as pd

    from traval_spark.operators.monitor import mann_whitney

    da = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 4, "value": [0.0, 0.0, 1.0, 2.0]}))
    db = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 3, "value": [2.0, 2.0, 3.0]}))
    r = mann_whitney(da, db, scale=1).collect()[0]
    assert r["n_a"] == 4 and r["n_b"] == 3
    assert r["u_a"] == 1.0
    var = 4 * 3 * 306 / (12 * 7 * 6)
    assert abs(r["z"] - round(-9 / (2 * math.sqrt(var)), 9)) < 1e-12
    assert r["shifted"] == 0
    # identical snapshots: U == mu exactly -> z = 0
    r0 = mann_whitney(da, da.select("source", "value"), scale=1).collect()[0]
    assert r0["z"] == 0.0 and r0["shifted"] == 0
    # disjoint supports, a below b: strongly negative z, shifted
    big_a = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 40, "value": [0.0] * 40}))
    big_b = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 40, "value": [9.0] * 40}))
    r1 = mann_whitney(big_a, big_b, scale=1).collect()[0]
    assert r1["u_a"] == 0.0 and r1["z"] < -1.96 and r1["shifted"] == 1
    # degenerate regimes: group in only one sample / all values tied
    one = spark.createDataFrame(pd.DataFrame(
        {"source": ["only_a"] * 3, "value": [1.0, 2.0, 3.0]}))
    r2 = mann_whitney(one, db, scale=1)
    row = {x["source"]: x for x in r2.collect()}
    assert row["only_a"]["z"] is None and row["only_a"]["shifted"] is None
    tied = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 5, "value": [7.0] * 5}))
    r3 = mann_whitney(tied, tied.select("source", "value"),
                      scale=1).collect()[0]
    assert r3["z"] is None


def test_mann_whitney_served_from_hist_tier_equals_direct(spark):
    """MW read off the STORED hist tier == direct mann_whitney on raw —
    the tier-served property KS and PSI already carry holds for the
    rank-sum monitor too (rank sums are a pure function of the bin
    counts, which the tier stores losslessly)."""
    from traval_spark.hist import hist_tier
    from traval_spark.operators.monitor import mann_whitney, mw_from_hists
    from traval_spark.sources.synth import synth_sequences

    import pyspark.sql.functions as FF

    seqs = synth_sequences(spark, 4000, seed=31, span_days=2)
    cut = "2024-01-02"
    tier = hist_tier(seqs, "1m", value_col="n_tok")

    def period(pred, cname):
        return (tier.filter(pred).groupBy("source", "bin")
                .agg(FF.sum("cnt").alias(cname)))

    tiered = mw_from_hists(
        period(FF.col("bucket") < cut, "ca"),
        period(FF.col("bucket") >= cut, "cb"),
    )
    direct = mann_whitney(
        seqs.filter(FF.col("ts") < cut).select("source",
                                               FF.col("n_tok").alias("value")),
        seqs.filter(FF.col("ts") >= cut).select("source",
                                                FF.col("n_tok").alias("value")),
        scale=1,
    )
    assert tiered.exceptAll(direct).count() == 0
    assert direct.exceptAll(tiered).count() == 0


def test_mann_kendall_monotone_constant_and_ties(spark):
    """Strictly increasing counts (no ties): S = n(n-1)/2 and the
    continuity-corrected z matches the hand formula; a constant series
    in the SAME frame has zero variance -> z NULL."""
    import math

    from traval_spark.operators.monitor import mann_kendall

    df = _hour_counts(spark, {
        "up": [1, 2, 3, 4, 5],          # strictly increasing
        "flat": [2, 2, 2, 2, 2],        # all ties
    })
    out = {r["g"]: r.asDict()
           for r in mann_kendall(df.select("source", "ts")).collect()}
    up = out["up"]
    assert up["n_buckets"] == 5 and up["s_stat"] == 10
    var = 5 * 4 * 15 / 18.0
    assert abs(up["var_s"] - var) < 1e-12
    assert abs(up["z"] - round(9 / math.sqrt(var), 9)) < 1e-12
    flat = out["flat"]
    assert flat["s_stat"] == 0 and flat["var_s"] == 0.0
    assert flat["z"] is None


def test_acf_hand_values_and_constant_dropped(spark):
    """Alternating [2,1,2,1]: d = [2,-2,2,-2], den 16 -> r1=-0.75,
    r2=0.5, r3=-0.25; a constant series (den 0) emits no rows."""
    from traval_spark.operators.monitor import acf_lags

    df = _hour_counts(spark, {"alt": [2, 1, 2, 1], "flat": [3, 3, 3, 3]})
    rows = acf_lags(df.select("source", "ts"), max_lag=3).collect()
    got = {(r["g"], r["lag"]): r["r"] for r in rows}
    assert got[("alt", 1)] == -0.75
    assert got[("alt", 2)] == 0.5
    assert got[("alt", 3)] == -0.25
    assert not any(g == "flat" for g, _ in got)


def test_ljung_box_hand_q(spark):
    """Same alternating signal: Q = n(n+2) * sum r_k^2/(n-k)
    = 24 * (0.5625/3 + 0.25/2 + 0.0625/1) = 9.0 exactly."""
    from traval_spark.operators.monitor import ljung_box

    df = _hour_counts(spark, {"alt": [2, 1, 2, 1]})
    r = ljung_box(df.select("source", "ts"), max_lag=3).collect()[0]
    assert r["n_buckets"] == 4 and r["k_lags"] == 3
    assert r["q"] == 9.0


def test_monitors_served_from_rollup_tier_equal_raw(spark):
    """The tier-served monitor feed: counts_from_tier re-aggregates the
    STORED 1m rollup tier's n_points to the monitor grain and every
    signal monitor (theil_sen, mann_kendall, acf_lags, ljung_box,
    seasonal_strength, forecast_backtest, xcorr_lags) produces
    EXACTLY the raw-served result — integer count sums re-aggregate
    losslessly, so monitoring never re-scans raw."""
    from traval_spark.operators.monitor import (
        acf_lags, bucket_count_signal, counts_from_tier, forecast_backtest,
        ljung_box, mann_kendall, seasonal_strength, spearman_pairs,
        theil_sen, xcorr_lags,
    )
    from traval_spark.rollup import rollup_raw
    from traval_spark.sources.synth import synth_sequences

    seqs = synth_sequences(spark, 4000, seed=13, span_days=2)
    raw = seqs.select("source", "ts")
    tier = rollup_raw(seqs, "1m")

    for fn, kw in [
        (theil_sen, {"bucket": "1h"}),
        (mann_kendall, {"bucket": "1h"}),
        (acf_lags, {"bucket": "1h", "max_lag": 3}),
        (ljung_box, {"bucket": "1h", "max_lag": 3}),
        (seasonal_strength, {"bucket": "1h", "period": 6}),
        (forecast_backtest, {"bucket": "6h"}),
        (xcorr_lags, {"bucket": "1h", "max_lag": 1}),
        (spearman_pairs, {"bucket": "1h"}),
    ]:
        direct = fn(raw, **kw)
        tiered = fn(counts=counts_from_tier(tier, bucket=kw["bucket"]), **kw)
        assert tiered.exceptAll(direct).count() == 0, fn.__name__
        assert direct.exceptAll(tiered).count() == 0, fn.__name__

    # the shared signal itself is identical too
    s_raw = bucket_count_signal(raw, bucket="1h")
    s_tier = bucket_count_signal(counts=counts_from_tier(tier, "1h"))
    assert s_raw.exceptAll(s_tier).count() == 0
    assert s_tier.exceptAll(s_raw).count() == 0


def test_dominant_period_detects_and_tier_parity(spark):
    """A 5-hour-periodic event stream peaks ACF at lag 5 (harmonics at
    10/15 have fewer aligned pairs, so the fundamental wins) and clears
    the white-noise fence; serving the same read from a 1m rollup tier
    (counts= path) is bit-identical to raw."""
    import pandas as pd

    import pyspark.sql.functions as F

    from traval_spark.operators.monitor import (
        counts_from_tier,
        dominant_period,
    )
    from traval_spark.rollup import rollup_raw

    rows = []
    base = pd.Timestamp("2024-01-01")
    for h in range(120):
        n = 10 if h % 5 == 0 else 1
        for i in range(n):
            rows.append(("s", base + pd.Timedelta(hours=h, seconds=i)))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "ts"]))
    r = dominant_period(df, max_lag=12, bucket="1h").collect()[0]
    assert r["period"] == 5
    assert r["significant"] == 1
    ev = df.withColumn("n_tok", F.lit(1))
    tier = rollup_raw(ev, "1m")
    tiered = dominant_period(counts=counts_from_tier(tier, bucket="1h"),
                             max_lag=12, bucket="1h")
    direct = dominant_period(df, max_lag=12, bucket="1h")
    assert tiered.exceptAll(direct).count() == 0
    assert direct.exceptAll(tiered).count() == 0


def test_fano_dispersion_hand_values(spark):
    """Counts [3,3,3] over the spine -> variance 0 -> fano 0 (paced);
    [0,0,6] -> mean 2, var (n*Q - S^2)/(n*S): (3*36-36)/(3*6)=4 ->
    bursty; constant-rate 1/bucket -> fano 0; empty-signal series can't
    occur (spine derives from observed rows) but S>0 guard pins the
    NULL convention via an all-zero... covered by construction."""
    import pandas as pd

    from traval_spark.operators.monitor import fano_dispersion

    rows = []
    base = pd.Timestamp("2024-01-01")
    # 'paced': 3 events every hour for 3 hours
    for h in range(3):
        for i in range(3):
            rows.append(("paced", base + pd.Timedelta(hours=h, minutes=i)))
    # 'bursty': all 6 events in hour 2 (hours 0-1 are zero-filled)
    for i in range(6):
        rows.append(("bursty", base + pd.Timedelta(hours=2, minutes=i)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["source", "ts"]))
    got = {r["g"]: r for r in fano_dispersion(df, bucket="1h").collect()}
    p = got["paced"]
    assert p["n_buckets"] == 3 and p["mean_c"] == 3.0
    assert p["fano"] == 0.0 and p["over_dispersed"] == 0
    b = got["bursty"]
    assert b["n_buckets"] == 3 and b["mean_c"] == 2.0
    assert b["fano"] == 4.0 and b["over_dispersed"] == 1


def test_benford_digits_hand_values(spark):
    """Values [1.0, 1.2, 25.0, 0.0, NULL, −3.5] -> digits 1,1,2,3 (zero
    and NULL drop, sign ignored): n=4, chi2 = (Σo²/p)/n − n against the
    shipped literals, d1_share 0.5; a 9-digit one-each spread is as
    non-Benford as 4 rows get but still under the 8-df fence."""
    from traval_spark.operators.monitor import BENFORD_P, benford_digits

    ev = spark.createDataFrame(
        [("x", 1.0), ("x", 1.2), ("x", 25.0), ("x", 0.0), ("x", None),
         ("x", -3.5)],
        "source string, value double",
    )
    r = benford_digits(ev).collect()[0]
    exp = round((4 / BENFORD_P[0] + 1 / BENFORD_P[1] + 1 / BENFORD_P[2])
                / 4 - 4, 6)
    assert r["n"] == 4 and r["chi2"] == exp
    assert r["d1_share"] == 0.5 and r["benford_ok"] == 1
    # uniform-first-digit fabrication: chi2 = Σ(1/9)²·9/p − n form
    fab = spark.createDataFrame(
        [("u", float(d)) for d in range(1, 10)], "source string, value double"
    )
    r = benford_digits(fab).collect()[0]
    exp = round(sum(1.0 / p for p in BENFORD_P) / 9 - 9, 6)
    assert r["n"] == 9 and r["chi2"] == exp
    assert r["d1_share"] == round(1 / 9, 6)


def test_benford_digits_fixed_point_extraction(spark):
    """Digit comes from the SCALED int64: 0.025 -> 25 -> digit 2;
    |v| < 0.0005 rounds to 0 and drops (no leading digit exists)."""
    from traval_spark.operators.monitor import benford_digits

    ev = spark.createDataFrame(
        [("x", 0.025), ("x", 0.0004), ("x", 0.0006)],
        "source string, value double",
    )
    r = benford_digits(ev).collect()[0]
    assert r["n"] == 2  # 0.0004 dropped; 0.025->25 (d=2), 0.0006->1 (d=1)
    assert r["d1_share"] == 0.5


def test_emd_hand_value_identical_and_unit_shift(spark):
    """A=[0,0,1,2] vs B=[2,2,3] (the KS test's snapshots): exact
    numerator |CA*nb-CB*na|*gap sums to 6+9+4=19 over na*nb=12 ->
    19/12; identical -> 0; whole mass shifted one bin -> exactly 1."""
    from traval_spark.operators.monitor import emd_drift

    da = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 4, "value": [0.0, 0.0, 1.0, 2.0]}))
    db = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 3, "value": [2.0, 2.0, 3.0]}))
    r = emd_drift(da, db, scale=1).collect()[0]
    assert r["n_a"] == 4 and r["n_b"] == 3
    assert abs(r["emd"] - 19.0 / 12.0) < 1e-15
    r0 = emd_drift(da, da.select("source", "value"), scale=1).collect()[0]
    assert r0["emd"] == 0.0
    sa = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 3, "value": [0.0, 1.0, 2.0]}))
    sb = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 3, "value": [1.0, 2.0, 3.0]}))
    r1 = emd_drift(sa, sb, scale=1).collect()[0]
    assert r1["emd"] == 1.0


def test_jsd_identical_zero_disjoint_ln2(spark):
    """Identical snapshots -> jsd 0; disjoint supports -> exactly ln 2
    (jsd_norm 1) — the boundedness PSI lacks without smoothing."""
    import math

    from traval_spark.operators.monitor import jsd_drift

    da = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 4, "value": [0.0, 0.0, 1.0, 2.0]}))
    r0 = jsd_drift(da, da.select("source", "value"), scale=1).collect()[0]
    assert r0["jsd"] == 0.0 and r0["jsd_norm"] == 0.0
    xa = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 2, "value": [0.0, 0.0]}))
    xb = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 2, "value": [1.0, 1.0]}))
    r1 = jsd_drift(xa, xb, scale=1).collect()[0]
    assert abs(r1["jsd"] - round(math.log(2.0), 6)) < 1e-12
    assert r1["jsd_norm"] == 1.0
    assert r1["n_bins"] == 2


def test_chi2_hand_value_and_verdicts(spark):
    """Identical 2x2 table -> chi2 0, not drifted; fully separated
    20-vs-20 table -> chi2 = 40 exactly (hand: per-bin d^2/t = 8000
    each, /(na*nb)=400), Cramer's V = 1, drifted at the
    Wilson-Hilferty dof=1 fence (~3.75)."""
    from traval_spark.operators.monitor import chi2_drift

    same = pd.DataFrame({"source": ["s"] * 20,
                         "value": [0.0] * 10 + [1.0] * 10})
    r0 = chi2_drift(spark.createDataFrame(same),
                    spark.createDataFrame(same), scale=1).collect()[0]
    assert r0["chi2"] == 0.0 and r0["drifted"] == 0 and r0["dof"] == 1
    xa = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 20, "value": [0.0] * 20}))
    xb = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 20, "value": [1.0] * 20}))
    r1 = chi2_drift(xa, xb, scale=1).collect()[0]
    assert r1["chi2"] == 40.0
    assert r1["cramers_v"] == 1.0
    assert r1["drifted"] == 1


def test_welch_hand_values_and_null_gates(spark):
    """A=[1,2,3,4] vs B=[2,4,6,8,10]: va=5/3, vb=10, t=-3.5/sqrt(va/4
    + vb/5), Welch-Satterthwaite df — hand recurrence; identical
    snapshots -> t=0 not shifted; n=1 side -> NULL t."""
    import math

    from traval_spark.operators.monitor import welch_ttest

    da = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 4 + ["one"],
         "value": [1.0, 2.0, 3.0, 4.0, 7.0]}))
    db = spark.createDataFrame(pd.DataFrame(
        {"source": ["s"] * 5 + ["one", "one"],
         "value": [2.0, 4.0, 6.0, 8.0, 10.0, 1.0, 2.0]}))
    got = {r["source"]: r for r in
           welch_ttest(da, db, value_scale=1000).collect()}
    r = got["s"]
    va, vb = 5.0 / 3.0, 10.0
    sa, sb = va / 4.0, vb / 5.0
    t_exp = (2.5 - 6.0) / math.sqrt(sa + sb)
    df_exp = (sa + sb) ** 2 / (sa * sa / 3.0 + sb * sb / 4.0)
    assert abs(r["t"] - round(t_exp, 6)) < 1e-9
    assert abs(r["df"] - round(df_exp, 6)) < 1e-9
    assert r["shifted"] == (1 if abs(t_exp) > 1.96 else 0)
    assert r["mean_a"] == 2.5 and r["mean_b"] == 6.0
    assert got["one"]["t"] is None and got["one"]["shifted"] is None
    r0 = welch_ttest(da, da.select("source", "value"),
                     value_scale=1000).collect()
    s0 = {x["source"]: x for x in r0}["s"]
    assert s0["t"] == 0.0 and s0["shifted"] == 0


def test_kendall_hand_taus_ties_and_constant_null(spark):
    """Hourly signals a=[1,2,3,4], b=[2,3,4,5], c=[4,3,2,1],
    k=[2,2,2,2]: tau(a,b)=1 (S=6), tau(a,c)=-1, tau(b,c)=-1, any pair
    with the constant k is NULL (tau-b denominator hits 0)."""
    from traval_spark.operators.monitor import kendall_pairs

    rows = []
    for src, counts in [("a", [1, 2, 3, 4]), ("b", [2, 3, 4, 5]),
                        ("c", [4, 3, 2, 1]), ("k", [2, 2, 2, 2])]:
        for h, c in enumerate(counts):
            for i in range(c):
                rows.append((src, pd.Timestamp("2024-01-01")
                             + pd.Timedelta(hours=h, minutes=i)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["source",
                                                           "ts"]))
    got = {(r["a"], r["b"]): r for r in
           kendall_pairs(df, bucket="1h").collect()}
    assert len(got) == 6
    assert got[("a", "b")]["tau"] == 1.0
    assert got[("a", "b")]["s_stat"] == 6
    assert got[("a", "b")]["n"] == 4
    assert got[("a", "c")]["tau"] == -1.0
    assert got[("b", "c")]["tau"] == -1.0
    for pair in [("a", "k"), ("b", "k"), ("c", "k")]:
        assert got[pair]["tau"] is None


def test_threshold_episodes_hand_values(spark):
    """[0, 5, 6, 0, 7, 4, None] at minute spacing, threshold 4:
    episode 1 = rows 1-2 (peak 6, excess 3, 60s), episode 2 = row 4
    (peak 7, excess 3, 0s); the exactly-4 row and the NULL row join
    nothing (strict > on scaled integers; NULL-safe gate)."""
    from traval_spark.operators.monitor import threshold_episodes

    rows = [("s", _t(60 * i), v, i) for i, v in
            enumerate([0.0, 5.0, 6.0, 0.0, 7.0, 4.0, None])]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "ts", "value", "event_id"]))
    out = sorted(threshold_episodes(df, threshold=4.0).collect(),
                 key=lambda r: r["episode"])
    assert len(out) == 2
    e1, e2 = out
    assert e1["episode"] == 1 and e1["n_pts"] == 2
    assert e1["t_start"] == _t(60) and e1["t_end"] == _t(120)
    assert e1["duration_s"] == 60.0
    assert e1["peak"] == 6.0 and e1["excess"] == 3.0
    assert e2["episode"] == 2 and e2["n_pts"] == 1
    assert e2["duration_s"] == 0.0
    assert e2["peak"] == 7.0 and e2["excess"] == 3.0


def test_decayed_topk_exact_weights_and_order(spark):
    """Three events 8 days old (u=1, 0.5 each) outrank one event today
    (1.0) which outranks one 70 days old (u=10 -> 2^-10); weights are
    exact dyadic rationals; future events clamp to full weight."""
    from traval_spark.operators.monitor import decayed_topk

    asof = pd.Timestamp("2024-03-01")
    rows = (
        [("s", asof, 1)]
        + [("s", asof - pd.Timedelta(days=8), 2)] * 3
        + [("s", asof - pd.Timedelta(days=70), 3)]
        + [("s", asof + pd.Timedelta(days=2), 4)]  # future -> u=0
    )
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "ts", "user_id"]))
    out = decayed_topk(df, k=10, asof="2024-03-01",
                       half_life_days=7).collect()
    got = {r["user_id"]: r for r in out}
    assert got[2]["decayed"] == 1.5 and got[2]["rank"] == 1
    # users 1 and 4 tie at exactly 1.0 -> key-ascending tie-break
    assert got[1]["decayed"] == 1.0 and got[1]["rank"] == 2
    assert got[4]["decayed"] == 1.0 and got[4]["rank"] == 3
    assert got[3]["decayed"] == 2.0 ** -10 and got[3]["rank"] == 4
    assert got[2]["n_events"] == 3


def test_emd_jsd_chi2_served_from_hist_tier_equal_direct(spark):
    """The whole drift-statistic family serves from the STORED hist
    tier: per-period bin counts summed off 1m tier rows fed to
    emd/jsd/chi2_from_hists equal the direct raw reads exactly — the
    PSI/KS tier-served property holds for all three new members."""
    from traval_spark.hist import hist_tier
    from traval_spark.operators.monitor import (
        chi2_drift, chi2_from_hists, emd_drift, emd_from_hists,
        jsd_drift, jsd_from_hists,
    )
    from traval_spark.sources.synth import synth_sequences

    import pyspark.sql.functions as FF

    seqs = synth_sequences(spark, 4000, seed=47, span_days=2)
    cut = "2024-01-02"
    tier = hist_tier(seqs, "1m", value_col="n_tok")

    def period(pred, cname):
        return (tier.filter(pred).groupBy("source", "bin")
                .agg(FF.sum("cnt").alias(cname)))

    ha = period(FF.col("bucket") < cut, "ca")
    hb = period(FF.col("bucket") >= cut, "cb")
    ra = seqs.filter(FF.col("ts") < cut).select(
        "source", FF.col("n_tok").alias("value"))
    rb = seqs.filter(FF.col("ts") >= cut).select(
        "source", FF.col("n_tok").alias("value"))
    for from_hists, direct_fn in [
        (emd_from_hists, emd_drift),
        (jsd_from_hists, jsd_drift),
        (chi2_from_hists, chi2_drift),
    ]:
        tiered = from_hists(ha, hb)
        direct = direct_fn(ra, rb, scale=1)
        assert tiered.exceptAll(direct).count() == 0, from_hists.__name__
        assert direct.exceptAll(tiered).count() == 0, from_hists.__name__


def test_sax_words_served_from_rollup_tier_equal_raw(spark):
    """SAX words off the stored 1m rollup tier (counts= path) are
    bit-identical to raw — the symbolic layer never re-scans events."""
    from traval_spark.operators.downsample import sax_words
    from traval_spark.operators.monitor import counts_from_tier
    from traval_spark.rollup import rollup_raw
    from traval_spark.sources.synth import synth_sequences

    seqs = synth_sequences(spark, 4000, seed=49, span_days=2)
    tier = rollup_raw(seqs, "1m")
    direct = sax_words(seqs.select("source", "ts"), bucket="1h")
    tiered = sax_words(counts=counts_from_tier(tier, bucket="1h"))
    assert tiered.exceptAll(direct).count() == 0
    assert direct.exceptAll(tiered).count() == 0


def test_stl_decompose_hand_periodic_even(spark):
    """Pure period-4 signal [0,4,8,4] x 3 cycles, P=4 (even, 2xP MA):
    every interior trend is the series mean 4 (T2 = 32 exactly),
    seasonal = [-4, 0, 4, 0], resid = 0 everywhere interior; the two
    edge buckets each side report NULL trend/resid."""
    import pandas as pd

    from traval_spark.operators.monitor import stl_decompose

    pat = [0, 4, 8, 4]
    cnts = spark.createDataFrame(pd.DataFrame(
        [("s", h, pat[h % 4]) for h in range(12)],
        columns=["g", "h", "c"]))
    rows = {r["h"]: r for r in
            stl_decompose(counts=cnts, period=4).collect()}
    assert len(rows) == 12
    seas = {0: -4.0, 1: 0.0, 2: 4.0, 3: 0.0}
    for h in range(12):
        r = rows[h]
        assert r["phase"] == h % 4
        assert r["seasonal"] == seas[h % 4]
        if 2 <= h <= 9:
            assert r["trend"] == 4.0 and r["resid"] == 0.0
        else:
            assert r["trend"] is None and r["resid"] is None


def test_stl_decompose_hand_odd_period_and_trend(spark):
    """Period-3 pattern [0,3,6] on a +1/bucket linear ramp, P=3 (odd):
    the centered MA of a linear ramp is the ramp itself plus the
    pattern mean (3), so trend = h + 3 + ... exactly: c(h) = pat + h;
    MA3(c)(h) = h + 3; seasonal = [-3+1?, ...] — hand-derive: det =
    c - trend = pat(h%3) + h - (h + 3) = pat - 3 = [-3, 0, 3] per
    phase BUT each phase's interior det also picks up the ramp-free
    residue exactly, and centering subtracts the global det mean 0;
    resid = 0 interior."""
    import pandas as pd

    from traval_spark.operators.monitor import stl_decompose

    pat = [0, 3, 6]
    cnts = spark.createDataFrame(pd.DataFrame(
        [("s", h, pat[h % 3] + h) for h in range(9)],
        columns=["g", "h", "c"]))
    rows = {r["h"]: r for r in
            stl_decompose(counts=cnts, period=3).collect()}
    # interior h = 1..7; phases 1,2,0,1,2,0,1 -> every phase sampled
    for h in range(1, 8):
        r = rows[h]
        assert r["trend"] == float(h + 3)
    # det2p = 6*c - T2 = 6*(pat + h) - 6*(h+3) = 6*pat - 18
    # phase means: (pat - 3) = [-3, 0, 3]; global det mean over
    # interior: phases 0 x2, 1 x3, 2 x2 -> (2*(-3) + 3*0 + 2*3)/7 = 0
    seas = {0: -3.0, 1: 0.0, 2: 3.0}
    for h in range(9):
        assert rows[h]["seasonal"] == seas[h % 3]
        if 1 <= h <= 7:
            assert rows[h]["resid"] == 0.0
    import pytest as pt

    with pt.raises(ValueError):
        stl_decompose(counts=cnts, period=1)


def _stl_anomaly_ref(cs, p=4, threshold=3.5):
    """Mini numpy replay of the documented stl_anomaly arithmetic
    (2xP even-period MA, exact-integer det2p, global-interior
    centering, linear-interp median/MAD, 9dp fences)."""
    import numpy as np

    n = len(cs)
    c = np.asarray(cs, dtype=object)
    t2 = {}
    for h in range(n):
        if h - p // 2 >= 0 and h + p // 2 <= n - 1:
            t2[h] = (sum(cs[h - p // 2:h + p // 2])
                     + sum(cs[h - p // 2 + 1:h + p // 2 + 1]))
    det = {h: 2 * p * cs[h] - t2[h] for h in t2}
    sa, na = sum(det.values()), len(det)
    seas = {}
    for ph in range(p):
        vs = [det[h] for h in det if h % p == ph]
        if vs:
            seas[ph] = round(sum(vs) / (2.0 * p * len(vs))
                             - sa / (2.0 * p * na), 9)
    out = {}
    for h in t2:
        if h % p not in seas:
            continue
        trend = round(t2[h] / (2.0 * p), 9)
        out[h] = round(cs[h] - trend - seas[h % p], 9)
    resids = np.array(sorted(out.values()))
    med = float(np.percentile(resids, 50))
    mad = float(np.percentile(np.abs(resids - med), 50))
    if mad <= 0:
        return {}
    flags = {}
    for h, r in out.items():
        mz = round(0.6745 * (r - med) / mad, 9)
        if abs(mz) > threshold:
            flags[h] = (r, mz)
    return flags


def test_stl_anomaly_matches_numpy_reference(spark):
    """Period-4 pattern + period-3 ripple (keeps MAD > 0) + one +60
    spike at h=13: the flagged set and every mz match the independent
    numpy replay exactly; the spike bucket carries the largest |mz|."""
    import pandas as pd

    from traval_spark.operators.monitor import stl_anomaly

    pat, rip = [0, 10, 20, 10], [0, 1, 2]
    cs = [pat[h % 4] + rip[h % 3] + (60 if h == 13 else 0)
          for h in range(36)]
    want = _stl_anomaly_ref(cs, p=4)
    assert 13 in want and len(want) >= 1
    cnts = spark.createDataFrame(pd.DataFrame(
        [("s", h, c) for h, c in enumerate(cs)],
        columns=["g", "h", "c"]))
    got = {r["h"]: r for r in
           stl_anomaly(counts=cnts, period=4, threshold=3.5).collect()}
    assert set(got) == set(want)
    for h, (resid, mz) in want.items():
        assert abs(got[h]["resid"] - resid) < 1e-9
        assert abs(got[h]["mz"] - mz) < 1e-9
    top = max(want, key=lambda h: abs(want[h][1]))
    assert top == 13


def test_stl_anomaly_mad_zero_emits_nothing(spark):
    """Constant signal: every residual is exactly 0, MAD == 0, and the
    series emits NOTHING by rule (the documented S-H-ESD degenerate
    edge).  This pins the mad > 0 guard itself: without it mz = 0/0 =
    NaN, and Spark orders NaN ABOVE every double, so abs(NaN) > 3.5
    would flag every interior bucket."""
    import pandas as pd

    from traval_spark.operators.monitor import stl_anomaly

    cnts = spark.createDataFrame(pd.DataFrame(
        [("s", h, 7) for h in range(40)], columns=["g", "h", "c"]))
    assert stl_anomaly(counts=cnts, period=4).count() == 0


def test_kruskal_hand_untied_and_tiecorrected(spark):
    """{1,2} vs {3,4} -> H = 2.4 (textbook untied value, df=1, not
    significant at 0.05); {1,1} vs {2,2} -> H = 3.0 = 2.4/0.8 — the
    (N-1)*SSB/SST formulation absorbs the tie correction exactly."""
    from traval_spark.operators.monitor import kruskal_drift

    df = spark.createDataFrame(
        [("s", "a", 1.0), ("s", "a", 2.0), ("s", "b", 3.0),
         ("s", "b", 4.0)],
        "source string, grp string, value double")
    r = kruskal_drift(df).collect()[0]
    assert abs(r["h_stat"] - 2.4) < 1e-12
    assert r["df_kw"] == 1 and r["significant"] == 0

    tied = spark.createDataFrame(
        [("s", "a", 1.0), ("s", "a", 1.0), ("s", "b", 2.0),
         ("s", "b", 2.0)],
        "source string, grp string, value double")
    r2 = kruskal_drift(tied).collect()[0]
    assert abs(r2["h_stat"] - 3.0) < 1e-12


def test_kruskal_three_groups_significant_and_degenerate(spark):
    """Three cleanly separated 5-value groups -> the textbook
    H = 12.5 (ranks 1-5 / 6-10 / 11-15), df=2, significant; an
    all-tied partition (SST = 0) reports NULL H by rule."""
    from traval_spark.operators.monitor import kruskal_drift

    rows = [("s", g, float(v)) for g, b in
            [("a", 0), ("b", 100), ("c", 200)]
            for v in range(b, b + 5)]
    r = kruskal_drift(spark.createDataFrame(
        rows, "source string, grp string, value double")).collect()[0]
    assert abs(r["h_stat"] - 12.5) < 1e-12
    assert r["df_kw"] == 2 and r["significant"] == 1

    flat = spark.createDataFrame(
        [("s", "a", 7.0), ("s", "b", 7.0), ("s", "c", 7.0)],
        "source string, grp string, value double")
    r3 = kruskal_drift(flat).collect()[0]
    assert r3["h_stat"] is None and r3["significant"] is None


def test_runs_test_hand_alternating_and_clustered(spark):
    """Perfectly alternating counts [1,5]x3 -> R=6, n1=n2=3,
    z = 12/(6*sqrt(1.2)) = 1.825741858 (random_ok); two solid blocks
    of 12 -> R=2, z < -1.96 (clustered, not random)."""
    from traval_spark.operators.monitor import runs_test

    alt = [("x", pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i,
                                                           minutes=j))
           for i in range(6) for j in range(1 if i % 2 == 0 else 5)]
    r = runs_test(spark.createDataFrame(
        pd.DataFrame(alt, columns=["source", "ts"]))).collect()[0]
    assert (r["runs"], r["n1"], r["n2"]) == (6, 3, 3)
    assert abs(r["z"] - 1.825741858) < 1e-9
    assert r["random_ok"] == 1

    blk = [("x", pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i,
                                                           minutes=j))
           for i in range(24) for j in range(1 if i < 12 else 10)]
    r2 = runs_test(spark.createDataFrame(
        pd.DataFrame(blk, columns=["source", "ts"]))).collect()[0]
    assert r2["runs"] == 2 and r2["z"] < -1.96
    assert r2["random_ok"] == 0


def test_runs_test_all_median_ties_emit_nothing(spark):
    """A constant signal: every bucket equals the median, every row
    drops under the tie rule, and the series emits no verdict."""
    from traval_spark.operators.monitor import runs_test

    rows = [("x", pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i))
            for i in range(8)]
    out = runs_test(spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "ts"])))
    assert out.count() == 0


def test_kruskal_from_hists_equals_raw_and_counts_parity(spark):
    """kw_from_hists fed pre-aggregated bin counts reproduces
    kruskal_drift on raw exactly (the hist-tier-served path), and
    runs_test served via counts= equals the raw-served verdict —
    integer counts re-aggregate losslessly."""
    from traval_spark.operators.monitor import (
        bucket_count_signal, kruskal_drift, kw_from_hists, runs_test)
    import pyspark.sql.functions as F

    rows = [("s", str(g), float(v % 17 + 3 * g) if v % 11 else None)
            for g in range(3) for v in range(40)]
    df = spark.createDataFrame(rows,
                               "source string, grp string, value double")
    raw = kruskal_drift(df).collect()
    # a stored hist tier holds no NULL values
    hist = df.filter(F.col("value").isNotNull()).groupBy(
        "source", "grp",
        F.round(F.col("value")).cast("long").alias("bin"),
    ).agg(F.count("*").alias("cnt"))
    tiered = kw_from_hists(hist).collect()
    assert sorted(map(tuple, raw)) == sorted(map(tuple, tiered))

    ev = [("x", pd.Timestamp("2024-01-01")
           + pd.Timedelta(hours=i, minutes=j))
          for i in range(30) for j in range((i * 5) % 7)]
    evdf = spark.createDataFrame(pd.DataFrame(ev,
                                              columns=["source", "ts"]))
    r_raw = runs_test(evdf).collect()
    r_tier = runs_test(counts=bucket_count_signal(evdf)).collect()
    assert sorted(map(tuple, r_raw)) == sorted(map(tuple, r_tier))


def test_lead_lag_shifted_clone_and_tie_rule(spark):
    """b = a delayed 2h: winner is lag +2 with r exactly 1.0 for
    (a,b) (identical aligned vectors; sqrt(x*x)==x keeps the double
    exact) and lag -2 for (b,a) — the sign convention 'lag>0 means a
    leads b'; both significant against 1.96/sqrt(n)."""
    from traval_spark.operators.monitor import lead_lag

    pat = [1, 9, 2, 8, 3, 7, 1, 6, 4, 5, 2, 9,
           1, 8, 3, 7, 2, 6, 4, 5, 1, 9, 2, 8]
    rows = []
    for i, k in enumerate(pat):
        for j in range(k):
            rows.append(("a", pd.Timestamp("2024-01-01")
                         + pd.Timedelta(hours=i, minutes=j)))
            rows.append(("b", pd.Timestamp("2024-01-01")
                         + pd.Timedelta(hours=i + 2, minutes=j)))
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["source", "ts"]))
    got = {(r["a"], r["b"]): r for r in
           lead_lag(df, max_lag=3).collect()}
    assert got[("a", "b")]["lag"] == 2
    assert got[("a", "b")]["r"] == 1.0
    assert got[("a", "b")]["significant"] == 1
    assert got[("b", "a")]["lag"] == -2
    assert got[("b", "a")]["r"] == 1.0


def test_turning_points_hand_alternating_ramp_and_short(spark):
    """Alternating [1,5]x3 (span 6): every interior bucket turns, T=4,
    z = 4/(3*sqrt(67/90)) (random_ok); a 20-bucket strict ramp has
    T=0 and z << -1.96 (too smooth); span 3 emits NULL z."""
    import math
    from traval_spark.operators.monitor import turning_points

    alt = [("x", pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i,
                                                           minutes=j))
           for i in range(6) for j in range(1 if i % 2 == 0 else 5)]
    r = turning_points(spark.createDataFrame(
        pd.DataFrame(alt, columns=["source", "ts"]))).collect()[0]
    assert (r["n"], r["t"]) == (6, 4)
    assert abs(r["z"] - 4.0 / (3.0 * math.sqrt(67.0 / 90.0))) < 1e-9
    assert r["random_ok"] == 1

    ramp = [("x", pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i,
                                                            minutes=j))
            for i in range(20) for j in range(i + 1)]
    r2 = turning_points(spark.createDataFrame(
        pd.DataFrame(ramp, columns=["source", "ts"]))).collect()[0]
    assert r2["t"] == 0 and r2["z"] < -1.96 and r2["random_ok"] == 0

    short = [("x", pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i))
             for i in range(3)]
    r3 = turning_points(spark.createDataFrame(
        pd.DataFrame(short, columns=["source", "ts"]))).collect()[0]
    assert r3["z"] is None and r3["random_ok"] is None


def test_turning_points_ties_are_null_events(spark):
    """A constant signal has zero strict turns — the all-tied series
    lands maximally smooth (T=0, z negative), never errors."""
    from traval_spark.operators.monitor import turning_points

    rows = [("x", pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i,
                                                            minutes=j))
            for i in range(12) for j in range(3)]
    r = turning_points(spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "ts"]))).collect()[0]
    assert r["t"] == 0 and r["z"] < 0 and r["random_ok"] == 0


def test_variance_ratio_alternating_period2_vr_zero(spark):
    """Period-2 alternation with even q: every q-bucket change
    telescopes to 0, so VR == 0.0 EXACTLY (vq integer zero) and the
    mean-reversion verdict fires once nq is large enough —
    z = -sqrt(nq*12/42) at q=4, span 24 -> nq=20, z ~ -2.390."""
    import math
    from traval_spark.operators.monitor import variance_ratio

    alt = [("x", pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i,
                                                           minutes=j))
           for i in range(24) for j in range(1 if i % 2 == 0 else 5)]
    r = variance_ratio(spark.createDataFrame(
        pd.DataFrame(alt, columns=["source", "ts"])), q=4).collect()[0]
    assert (r["n"], r["nq"]) == (24, 20)
    assert r["vr"] == 0.0
    assert abs(r["z"] - round(-math.sqrt(20.0 * (12.0 / 42.0)), 9)) < 1e-12
    assert r["significant"] == 1


def test_variance_ratio_numpy_replay_and_degenerate(spark):
    """A deterministic pseudo-random count pattern replayed in pure
    Python with the identical fixed parenthesization matches to the
    9dp fence; a perfect ramp (constant increments, V1=0) and a
    constant signal both return NULL."""
    import math
    from traval_spark.operators.monitor import variance_ratio

    c = [(i * 7) % 11 + (i * 3) % 5 for i in range(40)]
    rows = [("x", pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i,
                                                            minutes=j))
            for i, k in enumerate(c) for j in range(k + 1)]
    q = 4
    r = variance_ratio(spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "ts"])), q=q).collect()[0]
    cc = [k + 1 for k in c]
    d1 = [cc[i] - cc[i - 1] for i in range(1, len(cc))]
    dq = [cc[i] - cc[i - q] for i in range(q, len(cc))]
    n1, nq = len(d1), len(dq)
    v1 = n1 * sum(x * x for x in d1) - sum(d1) ** 2
    vq = nq * sum(x * x for x in dq) - sum(dq) ** 2
    vr_raw = (float(vq) / float(v1)) * (float(n1 * n1)
                                        / float(q * nq * nq))
    z_raw = (vr_raw - 1.0) * math.sqrt(float(nq) * (12.0 / 42.0))
    assert abs(r["vr"] - round(vr_raw, 9)) < 1e-12
    assert abs(r["z"] - round(z_raw, 9)) < 1e-12

    ramp = [("x", pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i,
                                                            minutes=j))
            for i in range(12) for j in range(i + 1)]
    r2 = variance_ratio(spark.createDataFrame(
        pd.DataFrame(ramp, columns=["source", "ts"])), q=4).collect()[0]
    assert r2["vr"] is None and r2["z"] is None and r2["significant"] is None


def test_turning_points_and_vr_counts_parity(spark):
    """Both new monitors served via counts= (the stored-tier path)
    equal the raw-served verdicts bit-for-bit."""
    from traval_spark.operators.monitor import (
        bucket_count_signal, turning_points, variance_ratio)

    ev = [("x" if i % 3 else "y",
           pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i, minutes=j))
          for i in range(30) for j in range((i * 5) % 7)]
    evdf = spark.createDataFrame(pd.DataFrame(ev,
                                              columns=["source", "ts"]))
    sig = bucket_count_signal(evdf)
    assert sorted(map(tuple, turning_points(evdf).collect())) == \
        sorted(map(tuple, turning_points(counts=sig).collect()))
    assert sorted(map(tuple, variance_ratio(evdf, q=4).collect())) == \
        sorted(map(tuple, variance_ratio(counts=sig, q=4).collect()))


def test_pettitt_step_signal_hand_values(spark):
    """Counts [1]x10 then [5]x10: midranks give value-1 rows term
    -10 and value-5 rows +10, so U_t = -10t dips to K=100 at the last
    pre-change bucket (t_change = h0+9), p = 2*exp(-60000/8400)
    ~ 0.001584 -> significant; a constant signal has K=0, p=1."""
    import math
    from traval_spark.operators.monitor import pettitt_change

    step = [("x", pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i,
                                                            minutes=j))
            for i in range(20) for j in range(1 if i < 10 else 5)]
    r = pettitt_change(spark.createDataFrame(
        pd.DataFrame(step, columns=["source", "ts"]))).collect()[0]
    assert (r["n"], r["k_stat"]) == (20, 100)
    h0 = int(pd.Timestamp("2024-01-01").value // 1000 // 3600000000)
    assert r["t_change"] == h0 + 9
    exp_p = round(min(1.0, 2 * math.exp(-60000.0 / 8400.0)), 9)
    assert abs(r["p"] - exp_p) < 1e-12
    assert r["significant"] == 1

    const = [("x", pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i))
             for i in range(12)]
    r2 = pettitt_change(spark.createDataFrame(
        pd.DataFrame(const, columns=["source", "ts"]))).collect()[0]
    assert r2["k_stat"] == 0 and r2["p"] == 1.0 and r2["significant"] == 0


def test_pettitt_brute_force_replay_and_counts_parity(spark):
    """U_t from the midrank cumsum equals the O(n^2) textbook double
    sum on a deterministic tied pseudo-random signal (K, location,
    p all match), and counts=-served equals raw-served."""
    import math
    from traval_spark.operators.monitor import (
        bucket_count_signal, pettitt_change)

    c = [(i * 7) % 5 + (i * 3) % 4 for i in range(30)]
    rows = [("x", pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i,
                                                            minutes=j))
            for i, k in enumerate(c) for j in range(k + 1)]
    evdf = spark.createDataFrame(pd.DataFrame(rows,
                                              columns=["source", "ts"]))
    r = pettitt_change(evdf).collect()[0]
    cc = [k + 1 for k in c]
    n = len(cc)
    us = []
    for t in range(1, n):  # t = size of prefix, 1..n-1
        u = sum(
            (1 if cc[i] > cc[j] else -1 if cc[i] < cc[j] else 0)
            for i in range(t) for j in range(t, n)
        )
        us.append((abs(u), t))
    k_exp = max(a for a, _ in us)
    t_exp = min(t for a, t in us if a == k_exp)
    h0 = int(pd.Timestamp("2024-01-01").value // 1000 // 3600000000)
    assert r["k_stat"] == k_exp
    assert r["t_change"] == h0 + t_exp - 1
    exp_p = round(min(1.0, 2 * math.exp(
        -6.0 * k_exp * k_exp / float(n ** 3 + n ** 2))), 9)
    assert abs(r["p"] - exp_p) < 1e-12

    r_tier = pettitt_change(counts=bucket_count_signal(evdf)).collect()[0]
    assert tuple(r) == tuple(r_tier)


def test_seasonal_mk_cycle_blind_trend_sensitive(spark):
    """A pure 12h cycle repeated 4 days: every same-phase pair ties,
    S=0, Var=0 -> NULL z (plain mann_kendall on the same signal has a
    huge |S| from cross-phase pairs — the conflation seasonal_mk
    removes).  The same cycle PLUS +1/day drift: every same-phase
    pair votes +1, S = n_seasons * C(4,2) = 24*6 = 144, no ties ->
    Var = 24 * (4*3*13)/18 and z matches the closed form."""
    import math
    from traval_spark.operators.monitor import mann_kendall, seasonal_mk

    def mk_rows(drift):
        rows = []
        for d in range(4):
            for hh in range(24):
                c = (5 if hh < 12 else 1) + drift * d
                for j in range(c):
                    rows.append(("x", pd.Timestamp("2024-01-01")
                                 + pd.Timedelta(days=d, hours=hh,
                                                minutes=j)))
        return pd.DataFrame(rows, columns=["source", "ts"])

    flat = seasonal_mk(spark.createDataFrame(mk_rows(0)),
                       period=24).collect()[0]
    assert flat["s_stat"] == 0 and flat["z"] is None
    assert flat["significant"] is None
    plain = mann_kendall(spark.createDataFrame(mk_rows(0))).collect()[0]
    assert abs(plain["s_stat"]) > 100  # the cycle pollutes plain MK

    drift = seasonal_mk(spark.createDataFrame(mk_rows(1)),
                        period=24).collect()[0]
    assert (drift["n_buckets"], drift["n_seasons"]) == (96, 24)
    assert drift["s_stat"] == 144
    var = 24 * (4 * 3 * 13) / 18.0
    assert abs(drift["var_s"] - var) < 1e-12
    assert abs(drift["z"] - round(143.0 / math.sqrt(var), 9)) < 1e-12
    assert drift["significant"] == 1


def test_seasonal_mk_counts_parity(spark):
    """counts=-served seasonal MK equals raw-served bit-for-bit."""
    from traval_spark.operators.monitor import (
        bucket_count_signal, seasonal_mk)

    ev = [("x" if i % 3 else "y",
           pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i, minutes=j))
          for i in range(72) for j in range((i * 5) % 7)]
    evdf = spark.createDataFrame(pd.DataFrame(ev,
                                              columns=["source", "ts"]))
    raw = seasonal_mk(evdf, period=24).collect()
    tier = seasonal_mk(counts=bucket_count_signal(evdf),
                       period=24).collect()
    assert sorted(map(tuple, raw)) == sorted(map(tuple, tier))


def test_seasonal_sen_drift_exact_and_cycle_zero(spark):
    """12h cycle + 1/day drift: every within-season pair slope is
    exactly 1/24 (counts rise 1 per 24 buckets), so sen_slope ==
    1/24 EXACTLY; the driftless cycle gives sen_slope == 0.0; and
    counts=-served equals raw-served."""
    from traval_spark.operators.monitor import (
        bucket_count_signal, seasonal_sen)

    def mk_rows(drift):
        rows = []
        for d in range(4):
            for hh in range(24):
                c = (5 if hh < 12 else 1) + drift * d
                for j in range(c):
                    rows.append(("x", pd.Timestamp("2024-01-01")
                                 + pd.Timedelta(days=d, hours=hh,
                                                minutes=j)))
        return pd.DataFrame(rows, columns=["source", "ts"])

    drift = seasonal_sen(spark.createDataFrame(mk_rows(1)),
                         period=24).collect()[0]
    assert (drift["n_buckets"], drift["n_pairs"]) == (96, 144)
    assert drift["sen_slope"] == 1.0 / 24.0

    flat_df = spark.createDataFrame(mk_rows(0))
    flat = seasonal_sen(flat_df, period=24).collect()[0]
    assert flat["sen_slope"] == 0.0

    tier = seasonal_sen(counts=bucket_count_signal(flat_df),
                        period=24).collect()[0]
    assert tuple(flat) == tuple(tier)


def test_hurst_rs_python_replay_ramp_and_constant(spark):
    """Full pure-Python replay of the R/S construction on a
    deterministic pseudo-random signal matches hurst/r2 at the 6dp
    fence; a strict ramp (maximal persistence) lands H near 1; a
    constant signal has zero-variance chunks everywhere and emits
    nothing; counts=-served equals raw-served."""
    import math
    from traval_spark.operators.monitor import (
        bucket_count_signal, hurst_rs)

    c = [(i * 13) % 7 + (i * 5) % 11 for i in range(128)]

    def build(vals):
        rows = [("x", pd.Timestamp("2024-01-01")
                 + pd.Timedelta(hours=i, minutes=j))
                for i, k in enumerate(vals) for j in range(k + 1)]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["source", "ts"]))

    df = build(c)
    r = hurst_rs(df, min_w=8).collect()[0]

    cc = [k + 1 for k in c]
    n = len(cc)
    pts = []
    w = 8
    while 4 * w <= n:
        rss = []
        for ch in range(n // w):
            seg = cc[ch * w:(ch + 1) * w]
            s, q = sum(seg), sum(v * v for v in seg)
            den2 = w * q - s * s
            if den2 > 0:
                cum, zs = 0, []
                for t, v in enumerate(seg, 1):
                    cum += v
                    zs.append(w * cum - t * s)
                rss.append(round((max(zs) - min(zs))
                                 / math.sqrt(den2), 9))
        if rss:
            mrs = round(sum(rss) / len(rss), 6)
            if mrs > 0:
                pts.append((math.log(w), math.log(mrs)))
        w *= 2
    k = float(len(pts))
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts); sxx = sum(x * x for x, _ in pts)
    syy = sum(y * y for _, y in pts)
    num, den = k * sxy - sx * sy, k * sxx - sx * sx
    assert (r["n_buckets"], r["n_scales"]) == (128, len(pts))
    assert abs(r["hurst"] - round(num / den, 6)) < 1e-9
    assert abs(r["r2"] - round(num * num
                               / (den * (k * syy - sy * sy)), 6)) < 1e-9

    ramp = hurst_rs(build(list(range(128))), min_w=8).collect()[0]
    assert ramp["hurst"] > 0.9

    const = hurst_rs(build([3] * 64), min_w=8)
    assert const.count() == 0

    tier = hurst_rs(counts=bucket_count_signal(df), min_w=8).collect()[0]
    assert tuple(r) == tuple(tier)


def test_kpss_level_replay_ramp_and_constant(spark):
    """Pure-Python replay of the exact-integer ratio matches at the
    9dp fence on a noisy-stationary signal (stationary verdict 1); a
    strict ramp rejects (kpss >> 0.463); a constant signal NULLs;
    counts=-served equals raw-served."""
    from traval_spark.operators.monitor import (
        bucket_count_signal, kpss_level)

    def build(vals):
        rows = [("x", pd.Timestamp("2024-01-01")
                 + pd.Timedelta(hours=i, minutes=j))
                for i, k in enumerate(vals) for j in range(k + 1)]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["source", "ts"]))

    c = [(i * 13) % 7 + (i * 5) % 11 for i in range(100)]
    cc = [k + 1 for k in c]
    df = build(c)
    r = kpss_level(df).collect()[0]
    n, s = len(cc), sum(cc)
    q = sum(v * v for v in cc)
    cum, ss2 = 0, 0
    for t, v in enumerate(cc, 1):
        cum += v
        ss2 += (n * cum - t * s) ** 2
    exp = round(ss2 / float(n * n * (n * q - s * s)), 9)
    assert abs(r["kpss"] - exp) < 1e-12
    assert r["stationary"] == 1

    ramp = kpss_level(build(list(range(100)))).collect()[0]
    assert ramp["kpss"] > 0.463 and ramp["stationary"] == 0

    const = kpss_level(build([4] * 50)).collect()[0]
    assert const["kpss"] is None and const["stationary"] is None

    tier = kpss_level(counts=bucket_count_signal(df)).collect()[0]
    assert tuple(r) == tuple(tier)


def test_fleet_report_wide_panel_and_null_absence(spark):
    """One varied series fills every panel column; a constant series
    keeps its row (fano base is total) with NULLs where the
    degenerate monitors emit nothing (runs all-tied, hurst
    zero-variance) — absence reported, not dropped."""
    from traval_spark.operators.monitor import fleet_report

    rows = []
    for i in range(128):
        for j in range(((i * 13) % 7 + (i * 5) % 11) + 1):
            rows.append(("varied", pd.Timestamp("2024-01-01")
                         + pd.Timedelta(hours=i, minutes=j)))
        for j in range(3):
            rows.append(("flat", pd.Timestamp("2024-01-01")
                         + pd.Timedelta(hours=i, minutes=30 + j)))
    rep = {r["g"]: r for r in fleet_report(spark.createDataFrame(
        pd.DataFrame(rows, columns=["source", "ts"]))).collect()}
    assert set(rep) == {"varied", "flat"}
    v = rep["varied"]
    for col in ("fano", "sen_slope", "mk_z", "strength", "runs_z",
                "vr", "kpss", "pettitt_p", "hurst"):
        assert v[col] is not None, col
    f = rep["flat"]
    assert f["n_buckets"] == 128 and f["fano"] is not None
    assert f["runs_z"] is None      # all-tied: runs_test emits nothing
    assert f["hurst"] is None       # zero-variance chunks everywhere
    assert f["kpss"] is None        # zero residual variance


def test_sen_slope_ci_python_replay_and_degenerate(spark):
    """Pure-Python replay of the Gilbert order-statistic CI (slopes,
    MK tie-corrected variance, rank indices) matches lo/hi/verdict
    exactly; a strong ramp's CI excludes zero; a constant signal
    NULLs; counts=-served equals raw-served."""
    import math
    from traval_spark.operators.monitor import (
        bucket_count_signal, sen_slope_ci)

    def build(vals):
        rows = [("x", pd.Timestamp("2024-01-01")
                 + pd.Timedelta(hours=i, minutes=j))
                for i, k in enumerate(vals) for j in range(k + 1)]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["source", "ts"]))

    c = [(i * 13) % 7 + (i * 5) % 11 + (i // 8) for i in range(48)]
    cc = [k + 1 for k in c]
    df = build(c)
    r = sen_slope_ci(df).collect()[0]

    n = len(cc)
    slopes = sorted(
        (cc[j] - cc[i]) / (j - i)
        for i in range(n) for j in range(i + 1, n)
    )
    npairs = n * (n - 1) // 2
    ties = {}
    for v in cc:
        ties[v] = ties.get(v, 0) + 1
    vn = n * (n - 1) * (2 * n + 5) - sum(
        t * (t - 1) * (2 * t + 5) for t in ties.values())
    ch = round(1.96 * math.sqrt(vn / 18.0), 9)
    lor = max(1, math.floor((npairs - ch) / 2) + 1)
    hir = min(npairs, math.ceil((npairs + ch) / 2))
    assert r["n_pairs"] == npairs
    assert r["lo"] == slopes[lor - 1]
    assert r["hi"] == slopes[hir - 1]
    assert r["significant"] == int(slopes[lor - 1] > 0
                                   or slopes[hir - 1] < 0)

    ramp = sen_slope_ci(build([3 * i for i in range(40)])).collect()[0]
    assert ramp["lo"] > 0 and ramp["significant"] == 1

    const = sen_slope_ci(build([5] * 24)).collect()[0]
    assert const["lo"] is None and const["significant"] is None

    tier = sen_slope_ci(counts=bucket_count_signal(df)).collect()[0]
    assert tuple(r) == tuple(tier)


def test_cvm_drift_replay_shift_and_tier_parity(spark):
    """Pure-Python replay of the cleared-denominator CvM sum matches
    at the 6dp fence on a deterministic pair; a large location shift
    drifts while identical samples give T == 0.0; hist-tier-served
    (cvm_from_hists) equals raw-served exactly."""
    from traval_spark.operators.monitor import cvm_drift, cvm_from_hists

    def build(vals, src="x"):
        rows = [(src, pd.Timestamp("2024-01-01")
                 + pd.Timedelta(hours=i), float(v))
                for i, v in enumerate(vals)]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["source", "ts", "value"]))

    a_vals = [(i * 7) % 10 for i in range(60)]
    b_vals = [(i * 7) % 10 + (1 if i % 3 == 0 else 0)
              for i in range(50)]
    da, db = build(a_vals), build(b_vals)
    r = cvm_drift(da, db).collect()[0]

    bins = sorted(set(a_vals) | set(b_vals))
    ca = {b: a_vals.count(b) for b in bins}
    cb = {b: b_vals.count(b) for b in bins}
    na, nb = len(a_vals), len(b_vals)
    s, cca, ccb = 0.0, 0, 0
    for b in bins:
        cca += ca[b]
        ccb += cb[b]
        d = cca * nb - ccb * na
        s += float(ca[b] + cb[b]) * float(d) * float(d)
    exp = round(s / (float(na * nb) * float((na + nb) ** 2)), 6)
    assert abs(r["cvm"] - exp) < 1e-12

    same = cvm_drift(da, da).collect()[0]
    assert same["cvm"] == 0.0 and same["drifted"] == 0

    shifted = cvm_drift(
        da, build([v + 6 for v in a_vals])).collect()[0]
    assert shifted["cvm"] > 0.461 and shifted["drifted"] == 1

    # tier parity: pre-binned counts reproduce the raw verdict
    from pyspark.sql import functions as SF
    ha = da.groupBy("source", SF.round("value").cast("long")
                    .alias("bin")).agg(SF.count("*").alias("ca"))
    hb = db.groupBy("source", SF.round("value").cast("long")
                    .alias("bin")).agg(SF.count("*").alias("cb"))
    tier = cvm_from_hists(ha, hb).collect()[0]
    assert tuple(r) == tuple(tier)


def test_cliffs_delta_hand_values(spark):
    """A strictly above B ({5,6} vs {1,2}): delta == 1.0 'large';
    identical samples: 0.0 'negligible'; a tied mix replays the
    #(a>b) - #(a<b) definition exactly."""
    from traval_spark.operators.monitor import cliffs_delta

    def build(vals):
        rows = [("x", pd.Timestamp("2024-01-01")
                 + pd.Timedelta(hours=i), float(v))
                for i, v in enumerate(vals)]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["source", "ts", "value"]))

    r = cliffs_delta(build([5, 6]), build([1, 2])).collect()[0]
    assert r["delta"] == 1.0 and r["magnitude"] == "large"

    same = cliffs_delta(build([1, 2, 3]), build([1, 2, 3])).collect()[0]
    assert same["delta"] == 0.0 and same["magnitude"] == "negligible"

    a, b = [1, 2, 2, 3], [2, 3, 4]
    gt = sum(1 for x in a for y in b if x > y)
    lt = sum(1 for x in a for y in b if x < y)
    exp = round((gt - lt) / (len(a) * len(b)), 9)
    mixed = cliffs_delta(build(a), build(b)).collect()[0]
    assert mixed["delta"] == exp


def test_drift_report_panel_disagrees_informatively(spark):
    """A pure SPREAD change (same median, wider): CvM/KS see it while
    MW's location z stays quiet and delta stays small — the exact
    disagreement the panel exists to show; identical snapshots give
    an all-quiet row."""
    from traval_spark.operators.monitor import drift_report

    def build(vals):
        rows = [("x", pd.Timestamp("2024-01-01")
                 + pd.Timedelta(hours=i), float(v))
                for i, v in enumerate(vals)]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["source", "ts", "value"]))

    narrow = [5] * 30 + [4, 6] * 15
    wide = [5] * 10 + [0, 10] * 20 + [4, 6] * 5
    r = drift_report(build(narrow), build(wide)).collect()[0]
    assert r["ks_drifted"] == 1 or r["cvm_drifted"] == 1
    assert r["magnitude"] in ("negligible", "small")
    assert r["psi"] is not None and r["emd"] is not None

    same = drift_report(build(narrow), build(narrow)).collect()[0]
    assert (same["ks_drifted"], same["cvm_drifted"],
            same["mw_shifted"]) == (0, 0, 0)
    assert same["delta"] == 0.0 and same["cvm"] == 0.0


# drift_report's column for each *_from_hists output column it carries
_PANEL_COLS = {
    "ks_from_hists": [("ks_d", "ks_d"), ("drifted", "ks_drifted")],
    "cvm_from_hists": [("cvm", "cvm"), ("drifted", "cvm_drifted")],
    "mw_from_hists": [("z", "mw_z"), ("shifted", "mw_shifted")],
    "cliffs_from_hists": [("delta", "delta"), ("magnitude", "magnitude")],
    "psi_from_hists": [("psi", "psi")],
    "jsd_from_hists": [("jsd_norm", "jsd_norm")],
    "emd_from_hists": [("emd", "emd")],
    "chi2_from_hists": [("cramers_v", "cramers_v"),
                        ("drifted", "chi2_drifted")],
}

# two-sided with many bins / one bin on both sides / one snapshot only
_DRIFT_A = {"two": [1, 2, 2, 3, 5, 8, 8], "one_bin": [4, 4],
            "only_a": [1, 1, 2]}
_DRIFT_B = {"two": [2, 3, 3, 4, 6, 9, 9, 9], "one_bin": [4],
            "only_b": [5, 6]}


def _drift_inputs(spark):
    from collections import Counter

    def raw(groups):
        return spark.createDataFrame(
            [(s, float(v)) for s, vs in groups.items() for v in vs],
            "source string, value double")

    def hist(groups, cname):
        return spark.createDataFrame(
            [(s, b, c) for s, vs in groups.items()
             for b, c in Counter(vs).items()],
            f"source string, bin long, {cname} long")

    return (raw(_DRIFT_A), raw(_DRIFT_B),
            hist(_DRIFT_A, "ca"), hist(_DRIFT_B, "cb"))


@pytest.mark.parametrize("name", sorted(_PANEL_COLS))
def test_drift_report_columns_equal_from_hists(spark, name):
    """Every drift_report column equals its *_from_hists read row for
    row, on a two-sided group, a one-bin group and groups seen in one
    snapshot only.  One-sided groups keep their counts and report NULL
    statistics (PSI excepted: its smoothing keeps it finite) instead of
    dividing by zero; chi2_from_hists drops the one-bin group (dof 0),
    where the panel reports NULL."""
    from traval_spark.operators import monitor

    a, b, ha, hb = _drift_inputs(spark)
    cols = _PANEL_COLS[name]
    panel = {r["source"]: r for r in monitor.drift_report(a, b).collect()}
    fh = {r["source"]: r
          for r in getattr(monitor, name)(ha, hb).collect()}
    assert set(panel) == {"two", "one_bin", "only_a", "only_b"}
    assert set(fh) <= set(panel)
    for s, row in panel.items():
        want = fh.get(s)
        got = tuple(row[p] for _, p in cols)
        assert got == (tuple(want[c] for c, _ in cols) if want
                       else (None,) * len(cols)), (s, name)
        if want is not None and "n_a" in want:
            assert (want["n_a"], want["n_b"]) == (row["n_a"], row["n_b"])
    assert (panel["only_a"]["n_a"], panel["only_a"]["n_b"]) == (3, 0)
    assert (panel["only_b"]["n_a"], panel["only_b"]["n_b"]) == (0, 2)
    if name != "psi_from_hists":
        for s in ("only_a", "only_b"):
            assert all(fh[s][c] is None for c, _ in cols), (s, name)
    else:
        assert fh["only_a"]["psi"] > 0
    if name == "chi2_from_hists":
        assert "one_bin" not in fh


def test_drift_report_schema(spark):
    from traval_spark.operators.monitor import drift_report

    a, b, _, _ = _drift_inputs(spark)
    got = [(f.name, f.dataType.simpleString())
           for f in drift_report(a, b).schema.fields]
    assert got == [
        ("source", "string"), ("n_a", "bigint"), ("n_b", "bigint"),
        ("ks_d", "double"), ("ks_drifted", "int"),
        ("cvm", "double"), ("cvm_drifted", "int"),
        ("mw_z", "double"), ("mw_shifted", "int"),
        ("delta", "double"), ("magnitude", "string"),
        ("psi", "double"), ("jsd_norm", "double"), ("emd", "double"),
        ("cramers_v", "double"), ("chi2_drifted", "int"),
    ]
