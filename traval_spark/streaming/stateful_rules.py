"""Stateful streaming rule evaluation via ``applyInPandasWithState``.

Batch rules that need neighbor points (spike detection: flag at i needs
points i-1 and i+1 — reference rulelib.py:231-262) cannot run as plain
stateless stream maps: a micro-batch boundary would sever the lookback /
lookahead. This module carries the per-source boundary across
micro-batches as explicit group state:

- state per source = the last two raw points (second-last already
  emitted downstream; last still *pending* because its successor hasn't
  arrived);
- each micro-batch prepends the carried points, evaluates the identical
  gap-aware spike predicate as the batch rule (same float arithmetic),
  emits every point that now has its successor, and carries the new
  tail.

Parity with the batch plan: an emitted point's flag is bit-identical to
``rule_spike_detection`` (asserted in tests/test_streaming.py with
maxFilesPerTrigger=1 forcing cross-batch boundaries). The only
difference is the stream's pending final point per source, which emits
on the next point's arrival — exactly the latency a lookahead rule must
pay.

The same carried-state shape serves eight operators: spike, Hampel and
flat-signal rules, counter steps, changes-only compaction, hysteresis
alerts, swinging-door compression and threshold episodes. They share one
private core (:func:`_kernel`) — one drop reader, one batch prelude,
one in-order test, one late-row decision — and each ``make_*_state_func``
supplies only its own step over the in-order rows (the Scotty argument:
one out-of-order-aware core, each aggregate brings its own step).

**In-order contract (API-level)**: input is assumed in-order per source
(file-source ingestion of time-partitioned drops). A row at or before
the carried tail — by timestamp, then ident as a string for the
ident-keyed kernels — is LATE data whose window context is gone; it
cannot be evaluated correctly anymore. Default policy drops it — but
observably: the spike, Hampel, flat, counter, changes and alert kernels
take ``late_code=`` (e.g. :data:`LATE_ARRIVAL_CODE`) to emit late rows
with that marker instead, so a downstream count of marked rows measures
the loss (no silent discard). The swing and episode kernels take no
``late_code`` and always drop late rows. Either way the batch rebuild
remains the source of truth for late data, as with the streaming rollup
tier.

Scale shape: state is O(1) per source (two points), the RocksDB/HDFS
state store holds |sources| entries, and each micro-batch shuffles only
by source — the same key the rollup already groups by.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from traval_spark.codes import CorrectionCode
from traval_spark.compress import _swing_loop
from traval_spark.streaming.rollup_stream import SEQUENCE_SCHEMA

#: emitted rows: the input point + its correction code (0 = kept)
OUTPUT_SCHEMA = "source string, ts timestamp, value double, code int"
#: carried boundary: last two points as (ts micros, value) pairs;
#: tsa/va are -1/NaN when only one point has been seen (the NaN value,
#: not the sign of tsa, makes the missing predecessor inert)
STATE_SCHEMA = "tsa long, va double, tsb long, vb double"

_CODE = int(CorrectionCode.UNKNOWN_COMPARISON_VALUE)

#: marker code for late-arriving rows emitted under ``late_code=`` —
#: deliberately outside the reference CorrectionCode range (codes.py):
#: it labels a row the stream could NOT evaluate, not a correction.
LATE_ARRIVAL_CODE = -99


def _stream(
    spark: SparkSession, input_path: str, max_files_per_trigger: int,
    kernel, output_schema: str, state_schema: str,
    value_col: str = "n_tok", ident_col: str | None = None,
) -> DataFrame:
    """The sequence drop dir as (source, ts[, ident], value) rows, grouped
    by source through one stateful ``kernel`` (append, no timeout)."""
    ident = ([F.col(ident_col).cast("string").alias("ident")]
             if ident_col is not None else [])
    return (
        spark.readStream.schema(SEQUENCE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
        .select(
            "source",
            # state/watermark machinery wants TIMESTAMP, not NTZ
            F.col("ts").cast("timestamp").alias("ts"),
            *ident,
            F.col(value_col).cast("double").alias("value"),
        )
        .groupBy("source")
        .applyInPandasWithState(kernel, output_schema, state_schema,
                                "append", GroupStateTimeout.NoTimeout)
    )


def _kernel(
    step: Callable, tail: Callable | None = None,
    late: Callable | None = None, late_code: int | None = None,
):
    """The one applyInPandasWithState body the eight kernels share.

    Per source and micro-batch: concatenate the frames, sort by
    (ts, ident) — by ts alone when the stream carries no ident — and
    hand ``step(carried, ts_us, idents, values)`` the in-order rows.
    ``carried`` is the state tuple, or None for a series' first batch;
    ``step`` returns (output columns or None, new state tuple).

    ``tail(carried)`` gives the carried (ts_us, ident) order key. Once
    state exists, a row at or before it is late: with ``late_code`` it
    emits as ``late(idents, values, marks)``'s columns (``marks`` holds
    ``late_code``), else it drops; if no row is fresh, state stays as it
    is. Streams without idents compare "" to "", so the test reduces to
    ``ts > tail ts``. Without ``tail`` (swing) idents sort as they come,
    NULL last, and every row reaches ``step``, which applies its own
    same-ms and late rules.
    """

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        batch = pd.concat(list(pdfs))
        if batch.empty:
            return
        has_ids = "ident" in batch
        if has_ids and tail is not None:
            # the in-order test compares idents as strings: NULL is ""
            batch = batch.assign(ident=batch["ident"].map(
                lambda i: "" if i is None else str(i)))
        batch = batch.sort_values(["ts", "ident"] if has_ids else ["ts"])
        ts = batch["ts"].to_numpy("datetime64[us]").astype("int64")
        ids = (batch["ident"].to_numpy(dtype=object) if has_ids
               else np.full(len(ts), "", dtype=object))
        vals = batch["value"].to_numpy(dtype=float)

        carried = state.get if state.exists else None
        if carried is not None and tail is not None:
            last_us, last_id = tail(carried)
            fresh = (ts > last_us) | ((ts == last_us) & (ids > last_id))
            if late_code is not None and not fresh.all():
                marks = np.full((~fresh).sum(), late_code, dtype="int32")
                yield pd.DataFrame({
                    "source": key[0], "ts": _us(ts[~fresh]),
                    **late(ids[~fresh], vals[~fresh], marks),
                })
            ts, ids, vals = ts[fresh], ids[fresh], vals[fresh]
            if len(ts) == 0:
                return

        cols, new_state = step(carried, ts, ids, vals)
        state.update(new_state)
        if cols is not None:
            yield pd.DataFrame({"source": key[0], **cols})

    return fn


def _us(ts_us: np.ndarray) -> np.ndarray:
    return ts_us.astype("datetime64[us]")


def _coded(ts_us: np.ndarray, vals: np.ndarray, flags: np.ndarray) -> dict:
    """OUTPUT_SCHEMA columns: each point under its rule code (0 = kept)."""
    return {"ts": _us(ts_us), "value": vals,
            "code": np.where(flags, _CODE, 0).astype("int32")}


def _late_coded(ids, vals, marks) -> dict:
    """Late-row shape of the spike, Hampel and flat kernels."""
    return {"value": vals, "code": marks}


def _round_half_away(x: np.ndarray) -> np.ndarray:
    """Half-AWAY-from-zero, matching the batch paths' Spark F.round /
    DuckDB round (np.rint is half-even: 0.5*scale would round 0 here but
    1 there and flip a door or membership verdict)."""
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))


def _spike_flags(
    ts_us: np.ndarray, vals: np.ndarray,
    threshold: float, spike_tol: float, max_gap_us: int,
) -> np.ndarray:
    """The batch spike predicate (rules.rule_spike_detection derivation)
    on position-aligned numpy arrays; NaN propagates exactly like NULL."""
    n = len(vals)
    d = np.full(n, np.nan)
    if n > 1:
        d[1:] = vals[1:] - vals[:-1]
        d[1:][(ts_us[1:] - ts_us[:-1]) > max_gap_us] = np.nan
    du = np.where(d < 0.0, np.nan, d)  # keeps d >= 0 and NaN
    dd = np.where(d > 0.0, np.nan, d)
    du_next = np.full(n, np.nan)
    dd_next = np.full(n, np.nan)
    du_next[:-1] = du[1:]
    dd_next[:-1] = dd[1:]
    with np.errstate(invalid="ignore"):
        up = (np.abs(du + dd_next) <= spike_tol) & (d > threshold)
        down = (np.abs(dd + du_next) <= spike_tol) & (d < -threshold)
    return np.nan_to_num(up.astype(float) + down.astype(float)) > 0


def make_spike_state_func(
    threshold: float, spike_tol: float, max_gap_us: int,
    late_code: int | None = None,
):
    """Build the applyInPandasWithState kernel (closure over the params).

    ``late_code``: emit rows at/before the carried tail with this marker
    code instead of dropping them silently (see module docstring)."""

    def step(carried, ts, ids, vals):
        if carried is not None:
            # both carried points, whatever the sign of their ts: a
            # "no predecessor" state (-1, NaN, ...) is inert, since its
            # NaN value nulls the step exactly as no predecessor does
            tsa, va, tsb, vb = carried
            ts = np.concatenate([np.array([tsa, tsb], dtype="int64"), ts])
            vals = np.concatenate([np.array([va, vb], dtype=float), vals])
        flags = _spike_flags(ts, vals, threshold, spike_tol, max_gap_us)
        # emit: the pending carried point (now has a successor) + every
        # new point except the last (which becomes the new pending tail)
        sel = slice(0 if carried is None else 1, len(ts) - 1)
        prev = ((int(ts[-2]), float(vals[-2])) if len(ts) >= 2
                else (-1, float("nan")))
        return (
            _coded(ts[sel], vals[sel], flags[sel])
            if sel.stop > sel.start else None,
            (*prev, int(ts[-1]), float(vals[-1])),
        )

    return _kernel(step, lambda c: (c[2], ""), _late_coded, late_code)


#: hampel carried state: every point within `window` of the newest ts,
#: with its deviation |v - rolling_median| PRECOMPUTED — a trailing-window
#: rule can emit each point immediately (windows only look back), but a
#: future point's MAD window needs the deviations of points up to
#: `window` old, and THOSE deviations were computed against medians over
#: points up to 2*window old. Storing (ts, val, dev) triples keeps the
#: state at O(points-per-window) instead of 2x that.
HAMPEL_STATE_SCHEMA = (
    "ts array<long>, vals array<double>, devs array<double>"
)


def _window_buffer(carried, ts: np.ndarray, vals: np.ndarray):
    """Trailing-window kernels' buffer: the carried window's timestamps
    followed by the fresh rows', the same values as a time-indexed
    Series, and the carried row count."""
    c_ts = np.asarray(carried[0] if carried is not None else (),
                      dtype="int64")
    c_vals = np.asarray(carried[1] if carried is not None else (),
                        dtype=float)
    all_ts = np.concatenate([c_ts, ts])
    s = pd.Series(np.concatenate([c_vals, vals]),
                  index=pd.DatetimeIndex(_us(all_ts)))
    return all_ts, s, len(c_ts)


def make_hampel_state_func(
    window_us: int, k: float, min_obs: int,
    late_code: int | None = None,
):
    """applyInPandasWithState kernel for the streaming Hampel filter.

    ``late_code``: emit rows at/before the carried newest ts with this
    marker code instead of dropping them silently (module docstring).

    Exactness argument (mirrors the batch chunked kernel's halo proof,
    operators/kernels.py): a new point t' only needs values in
    (t'-window, t'] for its median and deviations in the same interval
    for its MAD; every such point has ts > max_seen - window (input
    in-order per source), which is exactly what the state retains, and
    each retained point's deviation was computed when ITS full trailing
    window was still in the buffer. Flags are therefore identical to
    batch ``rule_hampel`` (asserted in tests with maxFilesPerTrigger=1
    forcing windows to span micro-batches).
    """
    w_td = pd.Timedelta(window_us, unit="us")
    consistency = 1.4826 * float(k)

    def step(carried, ts, ids, vals):
        all_ts, s, n_old = _window_buffer(carried, ts, vals)
        # pandas time rolling is (t-w, t] (closed='right'), the batch
        # rule's range frame; values at carried positions are WRONG here
        # (their windows were truncated by retention) and are discarded —
        # only the new tail is read, whose windows are fully in-buffer
        med = s.rolling(w_td, min_periods=1).median()
        dev_new = (s - med).abs().to_numpy()[n_old:]
        devs = np.concatenate([np.asarray(
            carried[2] if carried is not None else (), dtype=float), dev_new])
        dev_s = pd.Series(devs, index=s.index)
        mad = dev_s.rolling(w_td, min_periods=1).median().to_numpy()[n_old:]
        cnt = s.rolling(w_td, min_periods=1).count().to_numpy()[n_old:]
        with np.errstate(invalid="ignore"):
            flags = (cnt >= min_obs) & (dev_new > consistency * mad)
        keep = all_ts > all_ts[-1] - window_us
        return _coded(ts, vals, flags), (
            all_ts[keep].tolist(), s.to_numpy()[keep].tolist(),
            devs[keep].tolist())

    return _kernel(step, lambda c: (c[0][-1], ""), _late_coded, late_code)


def stream_hampel_clean(
    spark: SparkSession,
    input_path: str,
    window: str = "1D",
    k: float = 3.0,
    min_obs: int = 3,
    max_files_per_trigger: int = 1,
    late_code: int | None = None,
) -> DataFrame:
    """Streaming Hampel filter over tokenized-sequence file drops.

    Trailing-window twin of :func:`stream_spike_clean`: every input point
    is emitted in the micro-batch it arrives in (trailing windows need no
    lookahead), flagged identically to batch ``rule_hampel``. State per
    source is the last ``window`` of (ts, value, deviation) triples.
    Input must be in-order per source; ``late_code`` makes violations
    observable instead of silently dropped (module docstring).
    """
    window_us = int(pd.Timedelta(window).value // 1_000)
    return _stream(
        spark, input_path, max_files_per_trigger,
        make_hampel_state_func(window_us, k, min_obs, late_code=late_code),
        OUTPUT_SCHEMA, HAMPEL_STATE_SCHEMA)


def stream_spike_clean(
    spark: SparkSession,
    input_path: str,
    threshold: float = 0.15,
    spike_tol: float = 0.15,
    max_gap: str = "7D",
    max_files_per_trigger: int = 1,
    late_code: int | None = None,
) -> DataFrame:
    """Streaming spike-flagger over tokenized-sequence file drops.

    Returns the unbounded DataFrame of (source, ts, value, code); write it
    with ``.writeStream`` (append mode) — each input point appears exactly
    once, flagged identically to the batch rule. Input must be in-order
    per source; ``late_code`` makes violations observable instead of
    silently dropped (module docstring).
    """
    max_gap_us = int(pd.Timedelta(max_gap).value // 1_000)
    return _stream(
        spark, input_path, max_files_per_trigger,
        make_spike_state_func(threshold, spike_tol, max_gap_us,
                              late_code=late_code),
        OUTPUT_SCHEMA, STATE_SCHEMA)


# ---------------------------------------------------------------------------
# streaming flat-signal rule
# ---------------------------------------------------------------------------

FLAT_STATE_SCHEMA = "ts array<long>, vals array<double>"


def make_flat_state_func(
    window_us: int, min_obs: int, std_threshold: float,
    hbelow: float | None = None, habove: float | None = None,
    late_code: int | None = None,
):
    """applyInPandasWithState kernel for the streaming flat-signal rule.

    Same trailing-window state shape as the Hampel kernel; the window-
    MEMBERSHIP exactness argument carries over (a new point's rolling
    std/count need only the (t-window, t] values, all retained). One
    honest caveat the Hampel kernel doesn't have: pandas rolling std is
    an online sum-of-squares accumulation while the batch rule's
    ``stddev_samp`` recomputes each range frame exactly, so a window
    whose true std sits within float accumulation error (~1e-9
    relative at moderate magnitudes, worse after large-magnitude
    swings) of ``std_threshold`` can flag differently from batch —
    realistic-value parity is pinned in tests; boundary-adversarial
    series should use the batch rule as truth.
    Supports the std gate plus the LITERAL hard gates (hbelow/habove);
    the ``qbelow``/``qabove`` quantile gates are batch-only — they are
    unbounded per-series aggregates over the full history, which a
    single-pass stream cannot know (rules.py:rule_flat_signal via_join
    is the scale path for those).
    """
    w_td = pd.Timedelta(window_us, unit="us")

    def step(carried, ts, ids, vals):
        all_ts, s, n_old = _window_buffer(carried, ts, vals)
        roll = s.rolling(w_td, min_periods=1)
        std = roll.std().to_numpy()[n_old:]   # ddof=1 == stddev_samp
        cnt = roll.count().to_numpy()[n_old:]
        with np.errstate(invalid="ignore"):
            flags = (cnt >= min_obs) & (std < std_threshold)
        if hbelow is not None and habove is not None:
            flags &= (vals > habove) | (vals < hbelow)
        elif hbelow is not None:
            flags &= vals < hbelow
        elif habove is not None:
            flags &= vals > habove
        flags &= ~np.isnan(vals)
        keep = all_ts > all_ts[-1] - window_us
        return _coded(ts, vals, flags), (
            all_ts[keep].tolist(), s.to_numpy()[keep].tolist())

    return _kernel(step, lambda c: (c[0][-1], ""), _late_coded, late_code)


def stream_flat_clean(
    spark: SparkSession,
    input_path: str,
    window: str = "1D",
    min_obs: int = 3,
    std_threshold: float = 7.5e-3,
    hbelow: float | None = None,
    habove: float | None = None,
    max_files_per_trigger: int = 1,
    late_code: int | None = None,
) -> DataFrame:
    """Streaming flat-signal rule over tokenized-sequence file drops —
    the third stateful rule (after spike and Hampel): every point emits
    in its arriving micro-batch, flagged identically to batch
    ``rule_flat_signal`` (std + hard gates; quantile gates batch-only,
    see :func:`make_flat_state_func`). State per source is the last
    ``window`` of (ts, value) pairs."""
    window_us = int(pd.Timedelta(window).value // 1_000)
    return _stream(
        spark, input_path, max_files_per_trigger,
        make_flat_state_func(window_us, min_obs, std_threshold,
                             hbelow=hbelow, habove=habove,
                             late_code=late_code),
        OUTPUT_SCHEMA, FLAT_STATE_SCHEMA)


#: counter-step rows: the input point + its PromQL-style step
COUNTER_OUTPUT_SCHEMA = (
    "source string, ts timestamp, ident string, value double, "
    "step double, reset int"
)
#: carried boundary: the last sample per source
COUNTER_STATE_SCHEMA = "tsl long, vl double, il string"


def _prev_values(carried, vals: np.ndarray) -> np.ndarray:
    """Each row's predecessor value under COUNTER_STATE_SCHEMA: the
    carried last value (NaN for a new series), then the batch's own."""
    return np.concatenate(
        [[carried[1] if carried is not None else float("nan")], vals[:-1]])


def make_counter_state_func(late_code: int | None = None):
    """applyInPandasWithState kernel for streaming counter steps
    (operators/monitor.py:counter_windows semantics, module docstring
    in-order contract).

    Unlike the spike/hampel kernels there is NO lookahead: a sample's
    step needs only its predecessor, so every input row emits in its
    own micro-batch and state is one (ts, value) pair per source —
    strictly O(1). The Prometheus reset rule is applied identically to
    the batch operator: negative step credits the new value; the first
    sample of a series contributes step 0. Downstream windowed
    increase/rate/resets are plain batch aggregations over the emitted
    step rows (asserted equal to batch ``counter_windows`` in tests).

    Late rows (at/before the carried sample in (ts, ident) order — the
    ident tie-break keeps equal-timestamp samples split across
    micro-batches from reading as late) emit with step 0 and the
    ``late_code`` marker in the ``reset`` column (outside its 0/1
    domain) when requested, else drop — same observability contract as
    the other stateful kernels.
    """

    def step(carried, ts, ids, vals):
        prev_vals = _prev_values(carried, vals)
        delta = vals - prev_vals
        first = np.isnan(prev_vals)
        reset = (~first) & (delta < 0)
        return {
            "ts": _us(ts), "ident": ids, "value": vals,
            "step": np.where(first, 0.0, np.where(reset, vals, delta)),
            "reset": reset.astype("int32"),
        }, (int(ts[-1]), float(vals[-1]), str(ids[-1]))

    def late(ids, vals, marks):
        return {"ident": ids, "value": vals, "step": np.zeros(len(vals)),
                "reset": marks}

    return _kernel(step, lambda c: (c[0], c[2]), late, late_code)


def stream_counter_steps(
    spark: SparkSession,
    input_path: str,
    value_col: str = "n_tok",
    ident_col: str = "doc_id",
    max_files_per_trigger: int = 64,
    late_code: int | None = None,
) -> DataFrame:
    """Streaming PromQL-style counter steps over the sequence drop dir.

    Emits one step row per input sample (source, ts, ident, value,
    step, reset); windowed increase/rate/resets aggregate downstream
    from the emitted rows (a second stateful operator is deliberately
    avoided — steps are per-point facts, windows are plain batch math
    over the step sink)."""
    return _stream(
        spark, input_path, max_files_per_trigger,
        make_counter_state_func(late_code=late_code),
        COUNTER_OUTPUT_SCHEMA, COUNTER_STATE_SCHEMA, value_col, ident_col)


#: compacted rows: only change points pass through
CHANGES_OUTPUT_SCHEMA = (
    "source string, ts timestamp, ident string, value double"
)


def make_changes_state_func(late_code: int | None = None):
    """applyInPandasWithState kernel for streaming run-length
    compaction (operators/monitor.py:changes_only semantics): emit a
    row only when the value differs from the carried last value —
    slowly-changing streams compact AT INGEST, before anything lands
    on disk.  Same O(1) (ts, value, ident) state and in-order/late
    contract as the counter kernel; late rows (if surfaced) carry
    NaN value and the marker ident prefix 'late:'."""

    def step(carried, ts, ids, vals):
        prev_vals = _prev_values(carried, vals)
        keep = np.isnan(prev_vals) | (vals != prev_vals)
        return (
            {"ts": _us(ts[keep]), "ident": ids[keep], "value": vals[keep]}
            if keep.any() else None,
            (int(ts[-1]), float(vals[-1]), str(ids[-1])),
        )

    def late(ids, vals, marks):
        return {"ident": "late:" + ids, "value": np.full(len(vals), np.nan)}

    return _kernel(step, lambda c: (c[0], c[2]), late, late_code)


def stream_changes_only(
    spark: SparkSession,
    input_path: str,
    value_col: str = "n_tok",
    ident_col: str = "doc_id",
    max_files_per_trigger: int = 64,
    late_code: int | None = None,
) -> DataFrame:
    """Streaming run-length compaction over the sequence drop dir:
    only change points flow downstream (the batch ``changes_only``
    semantics, applied at ingest).  Reconstruction stays exact via
    as-of join / forward fill, as in batch."""
    return _stream(
        spark, input_path, max_files_per_trigger,
        make_changes_state_func(late_code=late_code),
        CHANGES_OUTPUT_SCHEMA, COUNTER_STATE_SCHEMA, value_col, ident_col)


#: alert transition events: alert=1 fired (crossed hi from released),
#: alert=0 released (crossed lo from latched)
ALERT_OUTPUT_SCHEMA = (
    "source string, ts timestamp, ident string, value double, alert int"
)
#: latch state: last sample (in-order contract) + current latch bit
ALERT_STATE_SCHEMA = "tsl long, il string, st int"


def make_alert_state_func(hi: float, lo: float,
                          late_code: int | None = None):
    """applyInPandasWithState kernel for streaming hysteresis alerts
    (operators/monitor.py:hysteresis_daily semantics WITHOUT the day
    reset — the latch carries across micro-batches and days): emits one
    row per TRANSITION (fire above ``hi`` from released, release below
    ``lo`` from latched), nothing while the state holds.  State is the
    last sample's (ts, ident) for the in-order contract plus one latch
    bit — O(1).  Late rows: marker ident prefix 'late:' with alert =
    late_code when surfaced, else dropped."""
    h, l = float(hi), float(lo)

    def step(carried, ts, ids, vals):
        st = carried[2] if carried is not None else 0
        # sequential latch scan (numpy-light loop over the micro-batch:
        # transitions are rare, batches bounded)
        out_idx, out_alert = [], []
        for i, v in enumerate(vals):
            if st == 0 and v > h:
                st = 1
                out_idx.append(i); out_alert.append(1)
            elif st == 1 and v < l:
                st = 0
                out_idx.append(i); out_alert.append(0)
        return (
            {"ts": _us(ts[out_idx]), "ident": ids[out_idx],
             "value": vals[out_idx],
             "alert": np.array(out_alert, dtype="int32")}
            if out_idx else None,
            (int(ts[-1]), str(ids[-1]), int(st)),
        )

    def late(ids, vals, marks):
        return {"ident": "late:" + ids, "value": vals, "alert": marks}

    return _kernel(step, lambda c: (c[0], c[1]), late, late_code)


def stream_alerts(
    spark: SparkSession,
    input_path: str,
    hi: float,
    lo: float,
    value_col: str = "n_tok",
    ident_col: str = "doc_id",
    max_files_per_trigger: int = 64,
    late_code: int | None = None,
) -> DataFrame:
    """Streaming hysteresis alert events over the sequence drop dir:
    one row per latch transition, latch carried across micro-batches
    (no day reset — the always-on alerting channel next to the batch
    per-day report)."""
    return _stream(
        spark, input_path, max_files_per_trigger,
        make_alert_state_func(hi, lo, late_code=late_code),
        ALERT_OUTPUT_SCHEMA, ALERT_STATE_SCHEMA, value_col, ident_col)


#: streaming swinging-door: emitted rows are the STORED anchors
SWING_OUTPUT_SCHEMA = "source string, t_ms long, v_i long"
#: (ta, va, tp, vp, un, ud, dn, dd) — the exact-integer door state
SWING_STATE_SCHEMA = (
    "ta long, va long, tp long, vp long, "
    "un long, ud long, dn long, dd long"
)


def make_swing_state_func(eps_scaled: int, value_scale: int = 1):
    """applyInPandasWithState kernel for STREAMING swinging-door
    compression — identical exact-integer door state machine as the
    batch ``compress.swing_compress`` fold (rational slopes compared by
    cross-multiplication; Python ints are arbitrary-precision, so the
    comparisons are exact by construction, same verdicts as the JVM
    fold inside its documented magnitude budget).

    Emission contract: an anchor row is emitted THE MOMENT its doors
    close (plus the series' first point, always kept, on arrival);
    the trailing candidate point stays pending in state because the
    stream cannot know it is final — so after draining the same input,
    the streamed rows are exactly the batch operator's kept list MINUS
    its last point per series (parity-tested).  A production flush
    would emit the pending point on state timeout; deliberately not
    wired here to keep replay idempotent.

    Same-ms rule: within one micro-batch, rows sort by (ms, ident) with
    NULL idents last and the last row of each ms is kept, the batch
    kernel's last-by-ident dedup.  Late rule: rows at or before the
    carried candidate's ms are dropped inside the door loop, disclosed
    (a late row can't reopen doors that already advanced past its
    instant, nor replace a candidate a past batch chose).  State is
    O(1): the 8-tuple of door integers.
    """
    E = int(eps_scaled)

    def step(carried, ts, ids, vals):
        pts = pd.DataFrame({
            "t": ts // 1000, "i": ids,
            "v": _round_half_away(vals * value_scale).astype("int64"),
        }).sort_values(["t", "i"]).drop_duplicates("t", keep="last")
        kept, new_state = _swing_loop(
            pts["t"].tolist(), pts["v"].tolist(), E,
            state=None if carried is None else tuple(int(x) for x in carried))
        return (
            {"t_ms": np.array([k[0] for k in kept], dtype="int64"),
             "v_i": np.array([k[1] for k in kept], dtype="int64")}
            if kept else None,
            new_state,
        )

    return _kernel(step)


def stream_swing_compress(
    spark: SparkSession,
    input_path: str,
    eps_scaled: int,
    value_col: str = "n_tok",
    ident_col: str = "doc_id",
    value_scale: int = 1,
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming error-bounded (swinging-door) compression over the
    sequence drop dir: stored anchors stream out as their doors close,
    bit-identical to the batch ``swing_compress`` kept list minus the
    per-series trailing point (see :func:`make_swing_state_func`)."""
    return _stream(
        spark, input_path, max_files_per_trigger,
        make_swing_state_func(eps_scaled, value_scale=value_scale),
        SWING_OUTPUT_SCHEMA, SWING_STATE_SCHEMA, value_col, ident_col)


EPISODE_OUTPUT_SCHEMA = (
    "source string, episode long, t_start timestamp, t_end timestamp, "
    "n_pts long, duration_s double, peak double, excess double"
)
# carried pair-order key + started-episode counter + the open episode's
# accumulators (fixed-point integers — Python ints keep them exact)
EPISODE_STATE_SCHEMA = (
    "last_us long, last_id string, n_started long, open int, "
    "ep_start long, ep_end long, ep_n long, ep_peak long, ep_exc long"
)


def make_episode_state_func(threshold: float, value_scale: int = 1000):
    """applyInPandasWithState kernel for streaming threshold-excursion
    episodes (operators/monitor.py:threshold_episodes semantics).

    Emits one row per CLOSED episode: an out-of-excursion (or NaN)
    sample arriving while an episode is open closes and emits it.  The
    per-series trailing OPEN episode stays in state — the stream
    cannot know it is final (the swing compressor's trailing-candidate
    rule; a timeout flush is the production hook, deliberately unwired
    to keep replay idempotent).  Membership is the batch operator's
    exact rule: fixed-point value (half-AWAY-from-zero, matching Spark
    F.round / DuckDB round — np.rint's half-even would flip boundary
    points) strictly greater than the identically-scaled threshold.
    Episode ids are the running started-count, so streamed ids equal
    the batch operator's 1..K numbering under the same row order.

    Late/duplicate rule: rows at or before the carried (ts, ident) are
    dropped (disclosed — a late row can't extend an episode whose span
    already advanced past it).  State is O(1): the 9-field tuple.
    """
    thr_fp = int(round(float(threshold) * value_scale))
    vs = float(value_scale)

    def step(carried, ts, ids, vals):
        (_, _, n_started, open_, ep_start, ep_end, ep_n, ep_peak,
         ep_exc) = carried if carried is not None else (-1, "", 0, 0, 0, 0,
                                                        0, 0, 0)
        x = vals * vs
        closed = []
        for us, nan, yf in zip(ts.tolist(), (~np.isfinite(x)).tolist(),
                               _round_half_away(x).tolist()):
            y = None if nan else int(yf)
            if y is not None and y > thr_fp:
                if not open_:
                    n_started += 1
                    open_ = 1
                    ep_start, ep_n, ep_peak, ep_exc = us, 0, y, 0
                ep_end = us
                ep_n += 1
                ep_peak = max(ep_peak, y)
                ep_exc += y - thr_fp
            elif open_:
                closed.append((n_started, ep_start, ep_end, ep_n,
                               ep_peak, ep_exc))
                open_ = 0
        new_state = (int(ts[-1]), str(ids[-1]), int(n_started), int(open_),
                     int(ep_start), int(ep_end), int(ep_n), int(ep_peak),
                     int(ep_exc))
        if not closed:
            return None, new_state
        eid, t0, t1, n_pts, peak, exc = zip(*closed)
        return {
            "episode": np.array(eid, "int64"),
            "t_start": _us(np.array(t0, "int64")),
            "t_end": _us(np.array(t1, "int64")),
            "n_pts": np.array(n_pts, "int64"),
            "duration_s": np.array(
                [(b - a) / 1e6 for a, b in zip(t0, t1)], "float64"),
            "peak": np.array([p / vs for p in peak], "float64"),
            "excess": np.array([e / vs for e in exc], "float64"),
        }, new_state

    return _kernel(step, lambda c: (c[0], c[1]))


def stream_threshold_episodes(
    spark: SparkSession,
    input_path: str,
    threshold: float,
    value_col: str = "n_tok",
    ident_col: str = "doc_id",
    value_scale: int = 1000,
    max_files_per_trigger: int = 64,
) -> DataFrame:
    """Streaming threshold-excursion episodes over the sequence drop
    dir: closed breach episodes land as they close (the alerting
    shape — a postmortem row exists the moment the series recovers),
    bit-identical to batch ``threshold_episodes`` minus each series'
    trailing still-open episode (parity-tested across micro-batch
    boundaries)."""
    return _stream(
        spark, input_path, max_files_per_trigger,
        make_episode_state_func(threshold, value_scale=value_scale),
        EPISODE_OUTPUT_SCHEMA, EPISODE_STATE_SCHEMA, value_col, ident_col)
