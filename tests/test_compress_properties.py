"""Property-based tests for the Gorilla codec (compress.py) — pure
numpy-level, no Spark session needed, so hypothesis can hammer the bit
grammar with hundreds of adversarial cases per run.

Invariants:
- pack/unpack is the identity for BIT PATTERNS: float payloads round-trip
  via their uint64 view, so NaN payloads, -0.0, infinities, and subnormals
  must all survive (VLDB'15 Gorilla XORs raw bits — lossless by design).
- timestamps: any non-decreasing int64 microsecond sequence round-trips
  (delta-of-delta handles bursts, gaps, and constant cadence alike).
- the vectorized batch decoders equal the scalar reference decoders on
  every input (the scalar path is the grammar spec; VERDICT r1 finding).
- blobs without the index section (written by hand here: the packers
  always index) decode through the scalar path, '10' value form included.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from traval_spark.compress import (
    _BitWriter,
    _unpack_timestamps_scalar,
    _unpack_values_scalar,
    pack_timestamps,
    pack_values,
    unpack_timestamps,
    unpack_values,
)

# full-range doubles INCLUDING nan/inf/-0.0/subnormals: the codec works
# on raw bits, so every bit pattern is legal input
any_doubles = arrays(
    np.float64,
    st.integers(min_value=1, max_value=200),
    elements=st.floats(
        allow_nan=True, allow_infinity=True, allow_subnormal=True,
        width=64,
    ),
)


def bits(a: np.ndarray) -> np.ndarray:
    return a.view(np.uint64)


@settings(max_examples=200, deadline=None)
@given(any_doubles)
def test_values_roundtrip_bit_exact(vals):
    out = unpack_values(pack_values(vals))
    assert out.dtype == np.float64
    assert np.array_equal(bits(out), bits(vals))


@settings(max_examples=200, deadline=None)
@given(any_doubles)
def test_vectorized_value_decoder_equals_scalar(vals):
    blob = pack_values(vals)
    assert np.array_equal(
        bits(unpack_values(blob)), bits(_unpack_values_scalar(blob))
    )


# non-decreasing microsecond timestamps with adversarial delta shapes:
# zero deltas (equal stamps), constant cadence (the d-o-d == 0 hot path),
# and huge jumps (full-width fallback windows)
ts_deltas = st.lists(
    st.one_of(
        st.just(0),
        st.just(60_000_000),  # 1-minute cadence, the rollup-tier case
        st.integers(min_value=1, max_value=10**12),
    ),
    min_size=0,
    max_size=150,
)


def test_unindexed_blobs_decode():
    """Hand-written blobs without the index flag, covering every token
    form of both grammars: each dod bucket plus the 64-bit tail, and the
    zero, new-window ('11') and reuse-window ('10') XOR forms."""
    t0, d0 = 1_000_000, 60_000_000
    dods = [0, 5, -63, 200, -2047, 2048, 10**9, -(10**9), 0]
    w = _BitWriter()
    w.write(len(dods) + 2, 32)
    w.write(t0, 64)
    w.write(d0, 64)
    for dod in dods:
        if dod == 0:
            w.write(0, 1)
        elif -63 <= dod <= 64:
            w.write(0b10, 2), w.write(dod + 63, 7)
        elif -255 <= dod <= 256:
            w.write(0b110, 3), w.write(dod + 255, 9)
        elif -2047 <= dod <= 2048:
            w.write(0b1110, 4), w.write(dod + 2047, 12)
        else:
            w.write(0b1111, 4), w.write(dod, 64)
    deltas = d0 + np.cumsum([0] + dods)
    want_ts = t0 + np.concatenate(([0], np.cumsum(deltas)))
    assert np.array_equal(unpack_timestamps(w.getvalue()), want_ts)

    v0 = int(np.array([1.5]).view(np.uint64)[0])
    w = _BitWriter()
    w.write(6, 32)
    w.write(v0, 64)
    w.write(0b11, 2), w.write(16, 6), w.write(8 - 1, 6), w.write(0xFF, 8)
    w.write(0b10, 2), w.write(0x0F, 8)  # reuse the 16/40 window
    w.write(0, 1)
    w.write(0b11, 2), w.write(63, 6), w.write(1 - 1, 6), w.write(1, 1)
    w.write(0b10, 2), w.write(1, 1)  # reuse the 63/0 window
    xors = [0, 0xFF << 40, 0x0F << 40, 0, 1, 1]
    want_v = np.bitwise_xor.accumulate(
        np.array([v0] + xors[1:], dtype=np.uint64))
    assert np.array_equal(bits(unpack_values(w.getvalue())), want_v)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=2**52), ts_deltas)
def test_timestamps_roundtrip(start, deltas):
    ts = np.cumsum(np.array([start] + deltas, dtype=np.int64))
    blob = pack_timestamps(ts)
    assert np.array_equal(unpack_timestamps(blob), ts)
    assert np.array_equal(_unpack_timestamps_scalar(blob), ts)


def test_swing_compress_bound_and_hand_cases(spark):
    """Swinging-door: (a) collinear series -> endpoints only; (b) spike
    -> everything kept; (c) single point kept; (d) duplicate-timestamp
    last-by-ident wins; (e) the provable 2*eps deviation bound holds on
    randomized walks, verified in EXACT integer arithmetic (the
    interpolated value at t_i is rational — cross-multiplied, never a
    float)."""
    import numpy as np
    import pandas as pd

    from traval_spark.compress import swing_compress

    def run(ts_s, vals, eps, ids=None):
        n = len(ts_s)
        pdf = pd.DataFrame({
            "source": ["s"] * n,
            "ts": pd.to_datetime(ts_s, unit="s"),
            "value": vals,
            "event_id": ids if ids is not None else range(1, n + 1),
        })
        out = swing_compress(spark.createDataFrame(pdf), eps_scaled=eps)
        return sorted((r["t_ms"], r["v_i"]) for r in out.collect())

    # (a) collinear within corridor
    assert run([0, 1, 2, 3], [0.0, 0.1, 0.2, 0.3], 50) == \
        [(0, 0), (3000, 300)]
    # (b) spike breaks every door
    assert len(run([0, 1, 2, 3, 4], [0.0, 0.0, 5.0, 0.0, 0.0], 50)) == 5
    # (c) single point
    assert run([7], [1.0], 50) == [(7000, 1000)]
    # (d) duplicate timestamp: ident 9 beats ident 2 at t=1
    # ident 9's 0.0 beats ident 2's 9.0 at t=1 -> collinear zeros ->
    # endpoints only (the 9.0 spike never existed after dedup)
    kept = run([0, 1, 1, 2], [0.0, 9.0, 0.0, 0.0], 50, ids=[1, 2, 9, 3])
    assert kept == [(0, 0), (2000, 0)]
    # (e) exact-integer 2*eps bound on randomized walks
    rng = np.random.default_rng(17)
    for trial in range(5):
        n = 200
        ts_s = np.arange(n) * (trial + 1)
        vals = np.cumsum(rng.normal(0, 0.8, n)).round(3)
        eps = [500, 1000, 2000, 4000, 250][trial]
        kept = run(ts_s, vals, eps)
        pts = sorted(zip((ts_s * 1000).tolist(),
                         [int(round(v * 1000)) for v in vals]))
        kt = [t for t, _ in kept]
        assert kt[0] == pts[0][0] and kt[-1] == pts[-1][0]
        assert set(kept) <= set(pts)  # kept points are real samples
        j = 0
        for t, v in pts:
            while kt[j + 1] < t:
                j += 1
            (t0, v0), (t1, v1) = kept[j], kept[j + 1]
            # |v0 + (v1-v0)(t-t0)/(t1-t0) - v| <= 2*eps, cross-multiplied
            lhs = abs(v0 * (t1 - t0) + (v1 - v0) * (t - t0)
                      - v * (t1 - t0))
            assert lhs <= 2 * eps * (t1 - t0), (trial, t)
        # and it actually compresses a smooth-ish walk
        if eps >= 2000:
            assert len(kept) < n


def test_swing_reconstruct_bound_and_edges(spark):
    """Read path end to end: reconstructing at EVERY original sample
    instant stays within 2*eps (the compressor's guarantee, now
    verified THROUGH the serving read); probes on kept instants return
    the exact kept value; probes outside the span report covered=0
    with NULL."""
    import numpy as np
    import pandas as pd

    from traval_spark.compress import swing_compress, swing_reconstruct

    rng = np.random.default_rng(29)
    n = 300
    ts_s = np.arange(n) * 2
    vals = np.cumsum(rng.normal(0, 1.0, n)).round(3)
    eps = 1500
    pdf = pd.DataFrame({
        "source": ["s"] * n,
        "ts": pd.to_datetime(ts_s, unit="s"),
        "value": vals,
        "event_id": range(n),
    })
    df = spark.createDataFrame(pdf)
    kept = swing_compress(df, eps_scaled=eps)
    n_kept = kept.count()
    assert 2 <= n_kept < n  # it compresses
    probes = df.sparkSession.createDataFrame(pd.DataFrame({
        "source": ["s"] * (n + 2),
        "t_ms": [-5000] + (ts_s * 1000).tolist() + [10_000_000],
    }))
    rec = {r["t_ms"]: r for r in
           swing_reconstruct(kept, probes).collect()}
    # outside the span
    assert rec[-5000]["covered"] == 0 and rec[-5000]["v_rec"] is None
    assert rec[10_000_000]["covered"] == 0
    kept_map = {r["t_ms"]: r["v_i"] for r in kept.collect()}
    for t, v in zip((ts_s * 1000).tolist(),
                    [int(round(v * 1000)) for v in vals]):
        r = rec[t]
        assert r["covered"] == 1
        assert abs(r["v_rec"] - v) <= 2 * eps + 1e-3
        if t in kept_map:  # probe exactly on a kept instant
            assert r["v_rec"] == float(kept_map[t])


def test_swing_engines_identical(spark):
    """swing_compress (the Arrow kernel) == the entry module's DuckDB
    oracle for ``swing_compress`` (an independent list_reduce fold over
    the same door rules) on seeded frames INCLUDING same-ms duplicate
    timestamps: byte-identical kept sets."""
    import duckdb
    import numpy as np
    import pandas as pd

    import __spark_entry__ as em
    from traval_spark.compress import swing_compress

    rng = np.random.default_rng(7)
    rows = []
    for s in ("a", "b"):
        t = 0
        for i in range(400):
            t += int(rng.integers(0, 3))  # duplicate seconds included
            rows.append((s, pd.Timestamp("2024-01-01")
                         + pd.Timedelta(seconds=t),
                         float(np.round(rng.normal(0, 2.0), 3)), i))
    events = pd.DataFrame(rows, columns=["event_type", "ts", "value",
                                         "event_id"])
    # the oracle's eps (2000) and x1000 value scale are the operator's
    # defaults
    got = swing_compress(spark.createDataFrame(
        events.rename(columns={"event_type": "source"}))).toPandas()
    con = duckdb.connect()
    con.register("events", events)
    want = con.sql(em.oracle_sql()["swing_compress"]).df()
    key = ["source", "t_ms", "v_i"]
    got = sorted(map(tuple, got[key].astype(str).to_numpy().tolist()))
    want = sorted(map(tuple, want[key].astype(str).to_numpy().tolist()))
    assert got == want
    # both regimes: door closes and long open corridors
    assert 40 < len(got) < 700


def test_swing_compress_drops_null_and_nan_values(spark):
    """A NULL or NaN value carries no point: it is dropped before the
    same-ms dedup, as the lttb and m4/hist tiers drop it, so
    [1, 100, NULL, 1] at 0/10/20/30 s keeps (0,1), (10000,100),
    (30000,1) and a NaN there keeps the same."""
    import pandas as pd

    from traval_spark.compress import swing_compress

    for missing in (None, float("nan")):
        pdf = pd.DataFrame({
            "source": ["s"] * 5,
            "ts": pd.to_datetime([0, 10, 20, 30, 30], unit="s"),
            "value": [1.0, 100.0, missing, 1.0, missing],
            "event_id": [1, 2, 3, 4, 5],  # the missing row is last at 30 s
        })
        out = swing_compress(spark.createDataFrame(pdf), eps_scaled=1,
                             value_scale=1)
        assert sorted((r["t_ms"], r["v_i"]) for r in out.collect()) == [
            (0, 1), (10000, 100), (30000, 1)]
