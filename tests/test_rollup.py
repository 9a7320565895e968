"""Rollup cascade, salting, gap-fill, compression, tier-store tests.

These are the graft-engine invariants (BASELINE.json north_rule):
cascade identity (tier N+1 from tier N == from raw), salted == unsalted,
Gorilla round-trip bit-exactness, checkpoint/resume partition skipping.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from traval_spark.compress import (
    pack_tier,
    pack_timestamps,
    pack_values,
    unpack_tier,
    unpack_timestamps,
    unpack_values,
)
from traval_spark.rollup import build_cascade, gap_fill, rollup_cascade, rollup_raw, salted_rollup
from traval_spark.sources.synth import synth_sequences
from traval_spark.sources.tierstore import TierStore, partition_fingerprints


@pytest.fixture(scope="module")
def seqs(spark):
    return synth_sequences(spark, 5000, seed=42, span_days=2).cache()


def _collect_tier(df):
    return {
        (r["source"], r["bucket"]): (
            r["n_points"], r["sum_tok"], r["min_tok"], r["max_tok"]
        )
        for r in df.collect()
    }


def test_synth_determinism_and_skew(spark, seqs):
    again = synth_sequences(spark, 5000, seed=42, span_days=2)
    assert seqs.exceptAll(again).count() == 0
    assert again.exceptAll(seqs).count() == 0
    counts = {r["source"]: r["n"] for r in
              seqs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # source_00 holds ~half of all rows (skew target, FIXTURES.md F6)
    assert counts["source_00"] / 5000 == pytest.approx(0.5, abs=0.05)
    # n_tok invariant: n_tok == size(tokens)
    bad = seqs.filter(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0


def test_rollup_cascade_identity(seqs):
    """1h from 1m must equal 1h from raw; same for 1d (partial+final agg)."""
    t1m = rollup_raw(seqs, "1m")
    via_cascade = _collect_tier(rollup_cascade(t1m, "1h"))
    direct = _collect_tier(rollup_raw(seqs, "1h"))
    assert via_cascade == direct
    t1d_cascade = _collect_tier(rollup_cascade(rollup_cascade(t1m, "1h"), "1d"))
    t1d_direct = _collect_tier(rollup_raw(seqs, "1d"))
    assert t1d_cascade == t1d_direct


def test_fl_cascade_identity(seqs):
    """first/last structs nest through min/max: 1d built 1m -> 1h -> 1d
    equals 1d built from raw, field-for-field."""
    from traval_spark.rollup import fl_cascade, fl_rollup

    via = fl_cascade(fl_cascade(fl_rollup(seqs, "1m"), "1h"), "1d")
    direct = fl_rollup(seqs, "1d")
    a = {(r["source"], r["bucket"]): (r["first"], r["last"])
         for r in via.collect()}
    b = {(r["source"], r["bucket"]): (r["first"], r["last"])
         for r in direct.collect()}
    assert a == b


def test_fl_rollup_tie_break_and_null_exclusion(spark):
    """Equal-timestamp rows resolve by ident (smallest first, largest
    last); NULL values never become an extreme even at bucket edges."""
    from traval_spark.rollup import fl_rollup

    rows = [
        ("a", "2024-01-01 00:00:05", "d2", 20),
        ("a", "2024-01-01 00:00:05", "d1", 10),   # same ts: ident ties
        ("a", "2024-01-01 00:00:30", "d3", 30),
        ("a", "2024-01-01 00:00:59", "d4", None),  # NULL at the edge
    ]
    df = spark.createDataFrame(
        rows, "source string, ts string, doc_id string, n_tok int"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    r = fl_rollup(df, "1m").collect()[0]
    assert r["first"]["i"] == "d1" and r["first"]["v"] == 10.0
    assert r["last"]["i"] == "d3" and r["last"]["v"] == 30.0


def test_locf_from_tier_carries_through_gaps(spark):
    from traval_spark.rollup import fl_rollup, locf_from_tier

    rows = [  # minutes 0 and 3 observed; 1-2 are gaps
        ("a", "2024-01-01 00:00:10", "d1", 5),
        ("a", "2024-01-01 00:00:50", "d2", 7),
        ("a", "2024-01-01 00:03:20", "d3", 9),
    ]
    df = spark.createDataFrame(
        rows, "source string, ts string, doc_id string, n_tok int"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {
        str(r["bucket"]): (r["locf_val"], r["observed"])
        for r in locf_from_tier(fl_rollup(df, "1m"), "1m").collect()
    }
    assert len(out) == 4  # dense spine 00:00..00:03
    assert out["2024-01-01 00:00:00"] == (7.0, True)   # last of bucket 0
    assert out["2024-01-01 00:01:00"] == (7.0, False)  # carried
    assert out["2024-01-01 00:02:00"] == (7.0, False)  # carried
    assert out["2024-01-01 00:03:00"] == (9.0, True)


def test_fl_increase_matches_raw_on_reset_free_counter(spark):
    """On a monotone counter the tier-served increase equals the
    raw-derived one (last sample minus last sample before the bucket;
    first bucket = within-bucket growth) exactly."""
    import collections

    from traval_spark.rollup import fl_increase, fl_rollup

    rows, acc = [], {}
    for i in range(240):
        src = f"s{i % 3}"
        acc[src] = acc.get(src, 0.0) + float((i * 7) % 13)
        # uneven spacing -> some hours have no samples (gap spanning)
        rows.append((src, f"2024-01-01 {i % 24:02d}:{(i * 11) % 60:02d}:00",
                     f"d{i}", acc[src]))
    df = spark.createDataFrame(
        rows, "source string, ts string, doc_id string, n_tok double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        (r["source"], str(r["bucket"])): r["increase"]
        for r in fl_increase(fl_rollup(df, "1h")).collect()
    }
    # raw expectation: per (source, hour) ordered samples
    buckets = collections.defaultdict(list)
    for src, ts, _d, v in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        buckets[(src, ts[:14] + "00:00")].append(v)
    expect = {}
    prev_last: dict = {}
    for (src, b) in sorted(buckets):
        vals = buckets[(src, b)]
        if src not in prev_last:
            expect[(src, b)] = vals[-1] - vals[0]
        elif vals[-1] >= prev_last[src]:
            expect[(src, b)] = vals[-1] - prev_last[src]
        else:
            expect[(src, b)] = vals[-1]
        prev_last[src] = vals[-1]
    assert got == expect


def test_salted_rollup_equals_unsalted(seqs):
    plain = _collect_tier(rollup_raw(seqs, "1h"))
    salted = _collect_tier(salted_rollup(seqs, "1h", n_salt=8))
    assert plain == salted


def test_rollup_skips_null_values(spark, seqs):
    """Rule-flagged rows (NULL n_tok) are excluded like pandas NaN."""
    flagged = seqs.withColumn(
        "n_tok",
        F.when(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0, None)
        .otherwise(F.col("n_tok")),
    )
    t = rollup_raw(flagged, "1d")
    full = rollup_raw(seqs, "1d")
    n_flagged = flagged.filter(F.col("n_tok").isNull()).count()
    assert n_flagged > 0
    total_t = sum(v[0] for v in _collect_tier(t).values())
    total_full = sum(v[0] for v in _collect_tier(full).values())
    assert total_full - total_t == n_flagged


def test_gap_fill_ffill_and_linear(spark):
    rows = [
        ("a", "2024-01-01 00:00:00", 2, 10.0, 1, 9),
        ("a", "2024-01-01 00:03:00", 4, 40.0, 5, 15),
    ]
    t = spark.createDataFrame(
        rows, "source string, bucket string, n_points long, sum_tok double,"
        " min_tok int, max_tok int"
    ).withColumn("bucket", F.col("bucket").cast("timestamp_ntz"))
    dense = gap_fill(t, "1m", method="ffill").orderBy("bucket").collect()
    assert len(dense) == 4  # 00:00 .. 00:03
    assert [r["sum_tok"] for r in dense] == [10.0, 10.0, 10.0, 40.0]
    assert [r["gap_filled"] for r in dense] == [False, True, True, False]
    lin = gap_fill(t, "1m", method="linear").orderBy("bucket").collect()
    assert [r["sum_tok"] for r in lin] == [10.0, 20.0, 30.0, 40.0]


def test_gorilla_roundtrip_property():
    rng = np.random.default_rng(7)
    for trial in range(5):
        n = int(rng.integers(1, 2000))
        ts = np.cumsum(
            rng.choice([60_000_000, 61_000_000, 3_600_000_000], n)
        ).astype(np.int64) + 1_700_000_000_000_000
        vals = np.cumsum(rng.normal(0, 1, n))
        vals[rng.integers(0, n, 3)] = np.nan
        assert (unpack_timestamps(pack_timestamps(ts)) == ts).all()
        out = unpack_values(pack_values(vals))
        assert np.array_equal(vals.view(np.uint64), out.view(np.uint64))


def test_pack_tier_roundtrip(spark, seqs):
    t1m = rollup_raw(seqs, "1m")
    packed = pack_tier(t1m, measures=["sum_tok"])
    unpacked = unpack_tier(packed).filter(F.col("measure") == "sum_tok")
    orig = {(r["source"], r["bucket"]): r["sum_tok"] for r in t1m.collect()}
    got = {(r["source"], r["bucket"]): r["value"] for r in unpacked.collect()}
    assert {k: float(v) for k, v in orig.items()} == got
    comp = packed.agg(F.sum("raw_bytes").alias("r"),
                      F.sum("packed_bytes").alias("p")).collect()[0]
    assert comp["p"] < comp["r"]  # regular minute buckets must compress


def test_unpack_tier_pruning_exact_and_pushdown(spark, seqs, tmp_path):
    """Zone-map block pruning: unpack_tier with a time/value predicate ==
    full decode + row filter (randomized predicates), the packed frame
    carries consistent hull stats, and on a parquet-persisted tier the
    hull filter reaches the scan as PushedFilters (skipped blocks are
    never read)."""
    t1m = rollup_raw(seqs, "1m")
    packed = pack_tier(t1m, measures=["sum_tok"]).persist()
    full = unpack_tier(packed).collect()
    rows = sorted((r["source"], r["bucket"], r["value"]) for r in full)

    # hull consistency on every block
    for b in packed.collect():
        assert b["ts_min"] <= b["ts_max"]
        assert b["val_min"] <= b["val_max"]

    rng = np.random.default_rng(23)
    buckets = sorted({r[1] for r in rows})
    vals = sorted(r[2] for r in rows)
    for _ in range(4):
        lo_t, hi_t = sorted(rng.choice(len(buckets), 2))
        lo_v, hi_v = sorted(rng.choice(len(vals), 2))
        ts0, ts1 = buckets[lo_t], buckets[hi_t]
        v0, v1 = vals[lo_v], vals[hi_v]
        pruned = sorted(
            (r["source"], r["bucket"], r["value"])
            for r in unpack_tier(packed, ts_min=ts0, ts_max=ts1,
                                 val_min=v0, val_max=v1).collect()
        )
        expect = [r for r in rows
                  if ts0 <= r[1] <= ts1 and v0 <= r[2] <= v1]
        assert pruned == expect
    # a disjoint predicate prunes every block before Python decode
    assert unpack_tier(packed, val_min=1e18).count() == 0
    packed.unpersist()

    ppath = str(tmp_path / "packed")
    pack_tier(t1m, measures=["sum_tok"]).write.parquet(ppath)
    lazy = unpack_tier(spark.read.parquet(ppath),
                       ts_min=buckets[0], val_min=vals[0])
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = plan[plan.index("PushedFilters"):].splitlines()[0]
    assert "ts_max" in pushed and "val_max" in pushed


def test_tierstore_resume(spark, seqs, tmp_path):
    root = str(tmp_path / "tiers")
    store = TierStore(root)
    t1d = rollup_raw(seqs, "1d").withColumn(
        "day", F.date_trunc("day", F.col("bucket")).cast("timestamp_ntz")
    )
    fps = partition_fingerprints(t1d)
    res1 = store.write_tier("1d", t1d.drop("day"), fps)
    assert len(res1["written_partitions"]) == len(fps) > 0
    # unchanged input -> nothing stale
    assert store.stale_days("1d", fps) == []
    # perturb one day's fingerprint -> only that day stale
    day0 = sorted(fps)[0]
    fps2 = {d: (dict(v, rows=v["rows"] + 1) if d == day0 else v)
            for d, v in fps.items()}
    assert store.stale_days("1d", fps2) == [day0]
    # idempotent partial rewrite of just that day
    res2 = store.write_tier("1d", t1d.drop("day"), fps2, days=[day0])
    assert res2["written_partitions"] == [day0]
    back = store.read_tier("1d", spark)
    assert back.count() == t1d.count()


def test_cleaning_preserves_token_arrays(spark, seqs):
    """input_hint invariant (BASELINE.json): cleaning masks n_tok on
    flagged rows but every row's token ARRAY rides through bit-identical
    — no row lost, no array touched."""
    from traval_spark.pipeline import clean_sequences
    from traval_spark.plans.ruleset import SparkRuleSet

    rs = SparkRuleSet("strict")  # threshold that actually bites at max_tok=256
    rs.add_rule("cap", "rule_hardmax", apply_to=0, kwargs={"threshold": 200.0})
    cleaned = clean_sequences(seqs, rs)
    assert cleaned.count() == seqs.count()  # flagged rows kept, not dropped
    j = cleaned.alias("c").join(seqs.alias("r"), on="doc_id", how="full")
    # full join has no dangling side and every token array matches exactly
    assert j.filter(
        F.col("c.tokens").isNull() | F.col("r.tokens").isNull()
        | (F.col("c.tokens") != F.col("r.tokens"))
    ).count() == 0
    # the mask only ever NULLs n_tok; unflagged rows keep the exact value
    assert cleaned.filter(
        F.col("n_tok").isNotNull() & (F.col("n_tok") != F.size("tokens"))
    ).count() == 0
    assert cleaned.filter(F.col("n_tok").isNull()).count() > 0  # rules fired


def test_retention_drops_and_tombstones(spark, seqs, tmp_path):
    """TTL drops old day partitions; the cutoff is durable: stale_days and
    write_tier refuse to resurrect aged-out days on resume."""
    import os

    root = str(tmp_path / "tiers")
    store = TierStore(root)
    t1d = rollup_raw(seqs, "1d").withColumn(
        "day", F.date_trunc("day", F.col("bucket")).cast("timestamp_ntz")
    )
    fps = partition_fingerprints(t1d)
    store.write_tier("1d", t1d.drop("day"), fps)
    days = sorted(fps)
    assert len(days) >= 2
    as_of = days[-1]
    keep = 0  # cutoff = as_of: only the newest day survives
    res = store.apply_retention("1d", keep, as_of=as_of)
    assert res["dropped"] == [d for d in days if d < res["cutoff"]]
    assert len(res["dropped"]) >= 1
    # data + manifests physically gone, survivors intact
    for d in res["dropped"]:
        assert not os.path.isdir(os.path.join(root, "1d", f"day={d}"))
        assert store.read_manifest("1d", d) is None
    kept = [d for d in days if d >= res["cutoff"]]
    back = store.read_tier("1d", spark)
    assert sorted(
        r["day"] for r in
        back.select(F.col("day").cast("string").alias("day")).distinct().collect()
    ) == kept
    # tombstone: resume does not resurrect, write_tier skips aged-out days
    assert store.stale_days("1d", fps) == []
    res2 = store.write_tier("1d", t1d.drop("day"), fps)
    assert res2["written_partitions"] == kept
    # keep_days=None (keep forever) is a no-op
    assert store.apply_retention("1d", None, as_of=as_of)["dropped"] == []
    # a longer TTL applied later cannot move the cutoff backwards
    res3 = store.apply_retention("1d", 365, as_of=as_of)
    assert res3["cutoff"] == res["cutoff"]


def test_pipeline_retention(spark, tmp_path):
    from traval_spark.pipeline import run

    out = str(tmp_path / "pipe_ret")
    m = run(spark, out, synth_rows=3000, resume=False, ruleset=None,
            retention={"1m": 1, "1d": None})
    assert "retention" in m
    m1_ret = m["retention"]["1m"]
    # synth spans 3 days -> the fine tier must have aged something out
    assert m1_ret["cutoff"] is not None and len(m1_ret["dropped"]) >= 1
    store = TierStore(out)
    assert store.retention_cutoff("1m") == m1_ret["cutoff"]
    assert store.retention_cutoff("1d") is None
    # coarser tier keeps the history the fine tier dropped
    d1 = store.read_tier("1d", spark)
    t1m = store.read_tier("1m", spark)
    assert d1.select(F.min("bucket")).collect()[0][0] < \
        t1m.select(F.min("bucket")).collect()[0][0]


def _jobs_in(spark, group, fn):
    """Run ``fn()`` under a job group; returns (its result, the number of
    Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("retention", [{"raw": 7}, {"1m": 1, "1hr": 30}])
def test_run_rejects_unknown_retention_keys(spark, tmp_path, retention):
    """``run`` owns only the 1m/1h/1d tiers: a TTL for any other name
    (``raw``, a misspelt tier) raises before any Spark job, instead of
    being skipped without a word."""
    from traval_spark.pipeline import run

    out = str(tmp_path / "pipe_bad_ret")

    def go():
        with pytest.raises(ValueError, match="unknown tiers"):
            run(spark, out, synth_rows=3000, ruleset=None,
                retention=retention)

    _, n = _jobs_in(spark, f"bad-retention-{sorted(retention)}", go)
    assert n == 0


def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    from traval_spark.pipeline import default_ruleset, run

    out = str(tmp_path / "pipe")
    m1 = run(spark, out, synth_rows=3000, resume=False,
             ruleset=default_ruleset())
    assert m1["rows"]["1m"] > 0 and m1["rows"]["1d"] > 0
    assert m1["compression_ratio"] > 1.0
    blocks = spark.read.parquet(f"{out}/1m_gorilla").agg(
        F.sum("raw_bytes"), F.sum("packed_bytes")).collect()[0]
    assert (m1["gorilla_raw_bytes"], m1["gorilla_packed_bytes"]) == tuple(
        blocks)
    # resume with identical input: every partition skipped
    m2 = run(spark, out, synth_rows=3000, resume=True,
             ruleset=default_ruleset())
    for tier in ("1m", "1h", "1d"):
        assert m2["partitions"][tier] == []
        assert m2["skipped"][tier] == m1["partitions"][tier]


def _local_reach_ruleset():
    # ingest_late's contract: rules with temporal reach <= margin_days
    # (no whole-series via_join statistics)
    from traval_spark.plans.ruleset import SparkRuleSet

    rs = SparkRuleSet("local-reach")
    rs.add_rule("cap", "rule_hardmax", apply_to=0,
                kwargs={"threshold": 900.0})
    rs.add_rule("spk", "rule_spike_detection", apply_to=0,
                kwargs={"threshold": 300.0, "spike_tol": 300.0,
                        "max_gap": "10m", "chunk": "1h"})
    rs.add_rule("final", "rule_combine_nan_or", apply_to=(1, 2))
    return rs


def test_ingest_late_matches_full_rebuild_and_skips_clean_days(
    spark, tmp_path
):
    """Late-batch invalidation refresh == from-scratch rebuild over the
    merged corpus, byte-for-byte per tier; day partitions outside the
    dirty margin keep their original manifests (proving they were never
    rewritten); replaying the same batch is a fixpoint."""
    from traval_spark.pipeline import ingest_late, init_raw, run
    from traval_spark.sources.synth import synth_sequences

    full = synth_sequences(spark, 3000, seed=9, span_days=4).cache()
    days = sorted(
        str(r[0])
        for r in full.select(F.col("ts").cast("date")).distinct().collect()
    )
    late_day = days[2]
    is_late = (F.col("ts").cast("date").cast("string") == late_day) & (
        F.abs(F.xxhash64("doc_id")) % 2 == 0
    )
    late = full.filter(is_late).cache()
    base = full.filter(~is_late)
    assert late.count() > 0

    # reference: full rebuild over everything
    raw_a, out_a = str(tmp_path / "rawA"), str(tmp_path / "outA")
    init_raw(full, raw_a)
    run(spark, out_a, input_path=raw_a, ruleset=_local_reach_ruleset())

    # incremental: base corpus, then the late batch
    raw_b, out_b = str(tmp_path / "rawB"), str(tmp_path / "outB")
    init_raw(base, raw_b)
    run(spark, out_b, input_path=raw_b, ruleset=_local_reach_ruleset())
    store_b = TierStore(out_b)
    before = {t: store_b.manifests(t) for t in ("1m", "1h", "1d")}
    m = ingest_late(spark, raw_b, out_b, late,
                    ruleset=_local_reach_ruleset())
    assert m["dirty_days"] == [late_day]
    assert late_day in m["partitions"]["1m"]

    store_a = TierStore(out_a)
    for tier in ("1m", "1h", "1d"):
        rows_a = sorted(map(str, store_a.read_tier(tier, spark).collect()))
        rows_b = sorted(map(str, store_b.read_tier(tier, spark).collect()))
        assert rows_a == rows_b, tier
        # refreshed partitions stay within the dirty margin...
        assert set(m["partitions"][tier]) <= set(m["refreshed_days"])
        # ...and days outside it keep their ORIGINAL manifest (same
        # written_at: the refresh never touched them)
        after = store_b.manifests(tier)
        for day in set(before[tier]) - set(m["refreshed_days"]):
            assert after[day] == before[tier][day], (tier, day)

    # replay fixpoint: same batch again changes nothing
    raw_rows = spark.read.parquet(raw_b).count()
    ingest_late(spark, raw_b, out_b, late, ruleset=_local_reach_ruleset())
    assert spark.read.parquet(raw_b).count() == raw_rows
    for tier in ("1m", "1h", "1d"):
        rows_a = sorted(map(str, store_a.read_tier(tier, spark).collect()))
        rows_b = sorted(map(str, store_b.read_tier(tier, spark).collect()))
        assert rows_a == rows_b, tier
    full.unpersist()
    late.unpersist()


def test_ingest_late_behind_fine_retention_refreshes_coarse_tiers(
    spark, tmp_path
):
    """A late batch for a day the 1m tier has already aged out still
    refreshes the coarser tiers that keep that day: they cascade from
    the cleaning plan, since the stored 1m tier no longer holds it."""
    from traval_spark.pipeline import ingest_late, init_raw, run
    from traval_spark.sources.synth import synth_sequences

    full = synth_sequences(spark, 3000, seed=9, span_days=4).cache()
    days = sorted(
        str(r[0])
        for r in full.select(F.col("ts").cast("date")).distinct().collect()
    )
    is_late = F.col("ts").cast("date").cast("string") == days[0]
    late = full.filter(is_late).cache()
    rs, ret = _local_reach_ruleset(), {"1m": 1}

    raw_a, out_a = str(tmp_path / "rawA"), str(tmp_path / "outA")
    init_raw(full, raw_a)
    run(spark, out_a, input_path=raw_a, ruleset=rs, retention=ret)
    raw_b, out_b = str(tmp_path / "rawB"), str(tmp_path / "outB")
    init_raw(full.filter(~is_late), raw_b)
    run(spark, out_b, input_path=raw_b, ruleset=rs, retention=ret)
    store_a, store_b = TierStore(out_a), TierStore(out_b)
    assert store_b.retention_cutoff("1m") > days[1]

    m = ingest_late(spark, raw_b, out_b, late, ruleset=rs)
    assert m["partitions"]["1m"] == []
    assert days[0] in m["partitions"]["1h"]
    for tier in ("1m", "1h", "1d"):
        rows_a = sorted(map(str, store_a.read_tier(tier, spark).collect()))
        rows_b = sorted(map(str, store_b.read_tier(tier, spark).collect()))
        assert rows_a == rows_b, tier
    full.unpersist()
    late.unpersist()


def test_tierstore_resume_safe_under_static_overwrite_session(spark, tmp_path):
    """write_tier's resume-subset write enforces dynamic overwrite on the
    writer: under a STATIC-default session it would truncate every day
    partition not in the subset (r3 review-class hazard, same family as
    the streaming compaction finding)."""
    from traval_spark.sources.synth import synth_sequences
    from traval_spark.sources.tierstore import TierStore

    seqs = synth_sequences(spark, 2000, seed=4, span_days=3)
    t1m = rollup_raw(
        seqs.select("source", "ts",
                    F.col("n_tok").cast("double").alias("n_tok")), "1m")
    st = TierStore(str(tmp_path / "tstore"))
    fps = {d: {} for d in ("2024-01-01", "2024-01-02", "2024-01-03")}
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        st.write_tier("1m", t1m, fps)
        n0 = spark.read.parquet(st.tier_path("1m")).count()
        st.write_tier("1m", t1m, fps, days=["2024-01-02"])
        assert spark.read.parquet(st.tier_path("1m")).count() == n0
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_sliding_rollup_equals_builtin_window(spark):
    """Pane-based sliding rollup == Spark's built-in F.window sliding
    aggregation: identical window sets and count/min/max, sums equal up
    to double summation order — with only pane rows (not raw rows)
    replicated k times."""
    from traval_spark.rollup import sliding_rollup
    from traval_spark.sources.synth import synth_sequences

    src = synth_sequences(spark, 3000, seed=2, span_days=1).select(
        "source", "ts", F.col("n_tok").cast("double").alias("n_tok"))
    got = sliding_rollup(src, window="1h", slide="10m")
    builtin = (
        src.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy("source", F.window("ts", "1 hour", "10 minutes").alias("w"))
        .agg(F.count("n_tok").alias("n_points"),
             F.sum("n_tok").alias("sum_tok"),
             F.min("n_tok").alias("min_tok"),
             F.max("n_tok").alias("max_tok"))
        .select("source",
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "n_points", "sum_tok", "min_tok", "max_tok")
    )
    j = got.alias("g").join(builtin.alias("b"),
                            ["source", "window_start"], "full_outer")
    assert j.filter(F.col("g.n_points").isNull()
                    | F.col("b.n_points").isNull()).count() == 0
    assert j.filter(
        (F.col("g.n_points") != F.col("b.n_points"))
        | (F.col("g.min_tok") != F.col("b.min_tok"))
        | (F.col("g.max_tok") != F.col("b.max_tok"))
        | (F.abs(F.col("g.sum_tok") - F.col("b.sum_tok")) > 1e-9)
    ).count() == 0


def test_session_rollup_equals_lag_formulation(spark):
    """Native session_window sessionization == the lag + running-sum
    session-id formulation (also the oracle shape), including tie-free
    boundary behavior at exactly-gap spacings."""
    from traval_spark.functions.ts import gap_micros, unix_us
    from traval_spark.rollup import session_rollup
    from pyspark.sql import Window

    idx = pd.to_datetime([
        "2024-01-01 00:00:00", "2024-01-01 00:10:00",  # session 1
        "2024-01-01 00:40:00",                          # exactly 30m: SAME
        "2024-01-01 01:20:01",                          # > 30m: new session
    ])
    ev = spark.createDataFrame(
        pd.DataFrame({"user_id": 7, "ts": idx, "value": 1.0}))
    got = session_rollup(ev, gap="30m").orderBy("session_start").collect()
    assert [r["n_events"] for r in got] == [3, 1]
    assert got[0]["session_end_ts"] == pd.Timestamp("2024-01-01 00:40:00")

    w = Window.partitionBy("user_id").orderBy("ts")
    gus = gap_micros("30m")
    ns = F.when(
        unix_us(F.col("ts")) - unix_us(F.lag("ts").over(w)) > gus, 1
    ).otherwise(0)
    e = ev.withColumn("__sid", F.sum(F.coalesce(ns, F.lit(0))).over(w))
    want = (
        e.groupBy(F.col("user_id").alias("user"), "__sid")
        .agg(F.min("ts").cast("timestamp_ntz").alias("session_start"),
             F.max("ts").cast("timestamp_ntz").alias("session_end_ts"),
             F.count("*").alias("n_events"),
             F.sum("value").alias("sum_value"))
        .drop("__sid")
        .select("user", "session_start", "session_end_ts",
                "n_events", "sum_value")
    )
    full = session_rollup(ev, gap="30m")
    assert full.exceptAll(want).count() == 0
    assert want.exceptAll(full).count() == 0


def test_use_iceberg_conf_shape():
    """The Iceberg seam: pure session conf (the only jar-free part),
    keyed by catalog name, warehouse passed through."""
    from traval_spark.sources.tierstore import use_iceberg

    conf = use_iceberg("/tmp/wh", catalog="c1")
    assert conf["spark.sql.catalog.c1"].endswith("SparkCatalog")
    assert conf["spark.sql.catalog.c1.type"] == "hadoop"
    assert conf["spark.sql.catalog.c1.warehouse"] == "/tmp/wh"
    assert "IcebergSparkSessionExtensions" in conf["spark.sql.extensions"]


# -- tier router (downsample-on-read) ---------------------------------------

def test_route_plan_coarsest_merge_gaps():
    from traval_spark.router import eligible_tiers, route_plan

    # eligibility is divisibility: 1d cannot serve an hourly read
    assert eligible_tiers("1h") == ["1h", "1m", "raw"]
    assert eligible_tiers("1d") == ["1d", "1h", "1m", "raw"]

    cov = {
        "1d": ("2024-01-01", "2024-01-31"),
        "1h": ("2024-01-05", "2024-01-08"),
        "raw": ("2024-01-07", "2024-01-10"),
    }
    # hourly read: 1d ineligible, days 1-4 are DISCLOSED gaps, the 1h
    # tier beats raw where both cover, raw serves the tail
    p = route_plan(cov, "1h", "2024-01-01", "2024-01-10")
    assert [(s.tier, s.day_lo, s.day_hi) for s in p.segments] == [
        ("1h", "2024-01-05", "2024-01-08"),
        ("raw", "2024-01-09", "2024-01-10"),
    ]
    assert p.gaps == ["2024-01-0" + str(d) for d in range(1, 5)]

    # daily read: the 1d tier serves everything in one merged segment
    p = route_plan(cov, "1d", "2024-01-01", "2024-01-10")
    assert [(s.tier, s.day_lo, s.day_hi) for s in p.segments] == [
        ("1d", "2024-01-01", "2024-01-10")
    ]
    assert p.gaps == []

    # a gap BETWEEN same-tier runs must split the segment (merging would
    # scan the uncovered day)
    p = route_plan({"1h": ("2024-01-01", "2024-01-05"),
                    "1m": ("2024-01-01", "2024-01-03")},
                   "1m", "2024-01-01", "2024-01-05")
    assert [(s.tier, s.day_lo, s.day_hi) for s in p.segments] == [
        ("1m", "2024-01-01", "2024-01-03")
    ]
    assert p.gaps == ["2024-01-04", "2024-01-05"]


def test_read_routed_stitched_equals_direct(spark):
    """The flagship router property: a ragged multi-tier stitch (1h for
    settled history, 1m for the not-yet-cascaded day, raw for the live
    tail) is value-identical to aggregating raw directly — tier choice
    is invisible by the cascade-composition identity."""
    from traval_spark.router import read_routed, route_plan

    src = synth_sequences(spark, 4000, seed=7, span_days=8)
    cov = {
        "1h": ("2024-01-01", "2024-01-06"),
        "1m": ("2024-01-05", "2024-01-07"),
        "raw": ("2024-01-07", "2024-01-08"),
    }
    plan = route_plan(cov, "1h")
    assert plan.gaps == []
    assert [s.tier for s in plan.segments] == ["1h", "1m", "raw"]

    t1m = rollup_raw(src, "1m")
    frames = {"raw": src, "1m": t1m, "1h": rollup_cascade(t1m, "1h")}
    routed = read_routed(frames, plan, with_provenance=True)
    direct = rollup_raw(src, "1h")
    cols = ["source", "bucket", "n_points", "sum_tok", "min_tok", "max_tok"]
    assert routed.select(*cols).exceptAll(direct.select(*cols)).count() == 0
    assert direct.select(*cols).exceptAll(routed.select(*cols)).count() == 0

    # provenance maps each day to its planned tier
    prov = {r["d"]: r["tiers"] for r in routed.groupBy(
        F.col("bucket").cast("date").cast("string").alias("d")
    ).agg(F.collect_set("tier").alias("tiers")).collect()}
    assert prov["2024-01-06"] == ["1h"] and prov["2024-01-07"] == ["1m"]
    assert prov["2024-01-08"] == ["raw"]

    # strict mode refuses plans with uncovered days
    gappy = route_plan({"1h": ("2024-01-03", "2024-01-08")}, "1h",
                       "2024-01-01", "2024-01-08")
    with pytest.raises(ValueError, match="uncovered"):
        read_routed(frames, gappy, strict=True)


def test_read_resolution_from_store(spark, tmp_path):
    """Store-integrated routing: coverage comes from the listing of each
    tier's manifest directory (driver metadata, ``TierStore.days``), the
    chosen tier is read back from parquet with the day predicate on the
    partition column."""
    from traval_spark.router import coverage_of, read_resolution

    src = synth_sequences(spark, 3000, seed=11, span_days=4)
    store = TierStore(str(tmp_path / "tiers"))
    t1h = rollup_raw(src, "1h")
    for tier, frame in [("1h", t1h), ("1d", rollup_cascade(t1h, "1d"))]:
        day = F.date_trunc("day", F.col("bucket")).cast("timestamp_ntz")
        fps = partition_fingerprints(frame.withColumn("day", day))
        store.write_tier(tier, frame, fps)

    cov = coverage_of(store)
    assert set(cov) == {"1h", "1d"} and cov["1h"][0] == "2024-01-01"

    # daily read routes to the 1d tier; hourly read to the 1h tier —
    # both equal the direct raw aggregation
    for res in ["1d", "1h"]:
        out = read_resolution(store, res, spark=spark, strict=True,
                              with_provenance=True)
        assert out.select("tier").distinct().collect()[0]["tier"] == res
        direct = rollup_raw(src, res)
        cols = ["source", "bucket", "n_points", "sum_tok"]
        assert out.select(*cols).exceptAll(direct.select(*cols)).count() == 0


def test_read_resolution_on_empty_store_says_no_landed_days(spark,
                                                             tmp_path):
    """A store with no landed days has empty coverage: the router says
    so instead of failing inside its own day arithmetic."""
    from traval_spark.router import read_resolution

    with pytest.raises(ValueError, match="no landed days"):
        read_resolution(TierStore(str(tmp_path / "empty"), spark), "1h",
                        spark=spark)


def test_routed_read_over_gaps_only_is_empty(spark, tmp_path):
    """A non-strict routed read whose whole day range is gaps (days the
    1m tier has aged out) returns no rows with the columns and types of
    a covered read at that resolution, from ``read_resolution`` and from
    a per-kind reader; ``strict=True`` still raises. With no tier that
    can serve the resolution landed, the read says so."""
    from traval_spark.pipeline import run
    from traval_spark.router import read_resolution, read_routed_m4

    out = str(tmp_path / "tiers")
    m = run(spark, out, synth_rows=3000, ruleset=None, sketches=True,
            retention={"1m": 1, "1d": None})
    aged = m["retention"]["1m"]["dropped"]
    store = TierStore(out, spark)
    kept = store.days("1m")[-1]
    m4 = TierStore(out + "/m4", spark)
    assert m4.apply_retention("1m", 1, as_of=kept)["dropped"] == aged
    for read, st in ((read_resolution, store), (read_routed_m4, m4)):
        empty = read(st, "1m", day_min=aged[0], day_max=aged[-1],
                     spark=spark)
        covered = read(st, "1m", day_min=kept, day_max=kept, spark=spark)
        assert empty.count() == 0 and covered.count() > 0
        assert empty.schema == covered.schema
        with pytest.raises(ValueError, match="uncovered"):
            read(st, "1m", day_min=aged[0], day_max=aged[-1], spark=spark,
                 strict=True)

    coarse = TierStore(str(tmp_path / "coarse"), spark)
    t1h = store.read_tier("1h", spark).drop("day")
    coarse.write_tier("1h", t1h, partition_fingerprints(
        t1h.withColumn("day", F.date_trunc("day", "bucket"))))
    with pytest.raises(ValueError, match="can serve '1m' has landed days"):
        read_resolution(coarse, "1m", spark=spark)


def test_read_resolution_runs_two_spark_jobs(spark, tmp_path):
    """A routed read plans from manifest listings and reads its tier
    with the stored schema: no footer-inference job, so exactly the
    aggregation's two Spark jobs at every resolution."""
    from traval_spark.pipeline import run
    from traval_spark.router import read_resolution

    out = str(tmp_path / "tiers")
    run(spark, out, synth_rows=3000, ruleset=None)
    store = TierStore(out, spark)
    for res in ("1m", "1h", "1d"):
        _, n = _jobs_in(spark, f"routed-read-{res}", lambda: read_resolution(
            store, res, spark=spark).toPandas())
        assert n == 2, (res, n)


def test_read_tier_without_schema_sidecar(spark, seqs, tmp_path):
    """A tier written before the schema sidecar existed is read with
    inference: the same rows and types as a plain parquet read. The
    next landing records the sidecar again. The raw table (``init_raw``)
    records the same sidecar, reads through it without a Spark job, and
    without it still reads through inference."""
    from traval_spark.sources import fsutil
    from traval_spark.sources.tierstore import MANIFEST_DIR, SCHEMA_FILE

    t1h = rollup_raw(seqs, "1h")
    store = TierStore(str(tmp_path / "old"), spark)
    store.write_tier("1h", t1h)
    sidecar = str(tmp_path / "old" / "1h" / MANIFEST_DIR / SCHEMA_FILE)
    assert fsutil.exists(spark, sidecar)
    fsutil.delete(spark, sidecar, recursive=False)

    got = store.read_tier("1h", spark)
    want = spark.read.parquet(store.tier_path("1h"))
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    store.write_tier("1h", t1h)
    assert fsutil.exists(spark, sidecar)
    assert store.read_tier("1h", spark).schema == want.schema

    # the raw table records and reads the same sidecar
    from traval_spark.pipeline import init_raw
    from traval_spark.sources.tierstore import read_days

    raw_root = str(tmp_path / "raw")
    init_raw(seqs, raw_root)
    raw_sidecar = str(tmp_path / "raw" / MANIFEST_DIR / SCHEMA_FILE)
    assert fsutil.exists(spark, raw_sidecar)
    got, n = _jobs_in(spark, "raw-read-days",
                      lambda: read_days(spark, raw_root))
    assert n == 0
    want = spark.read.parquet(raw_root)
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    fsutil.delete(spark, raw_sidecar, recursive=False)
    got = read_days(spark, raw_root)
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0


def test_day_without_manifest_has_not_landed(spark, tmp_path):
    """The manifests are the commit log: a day whose partition landed
    but whose manifest is gone is absent from ``days()`` and from the
    router's coverage, and ``run(resume=True)`` rewrites it."""
    import os

    from traval_spark.pipeline import run
    from traval_spark.router import coverage_of
    from traval_spark.sources import fsutil

    out = str(tmp_path / "tiers")
    run(spark, out, synth_rows=3000, ruleset=None)
    store = TierStore(out, spark)
    landed = store.days("1h")
    assert len(landed) >= 2 and landed == sorted(store.manifests("1h"))
    last = landed[-1]
    fsutil.delete(spark, store._manifest_path("1h", last), recursive=False)
    assert os.path.isdir(os.path.join(out, "1h", f"day={last}"))

    assert store.days("1h") == landed[:-1]
    assert coverage_of(store)["1h"] == (landed[0], landed[-2])

    m = run(spark, out, synth_rows=3000, ruleset=None, resume=True)
    assert m["partitions"]["1h"] == [last]
    assert m["partitions"]["1m"] == [] and m["partitions"]["1d"] == []
    assert store.days("1h") == landed
    assert coverage_of(store)["1h"] == (landed[0], last)


def test_write_tier_sorted_layout(spark, tmp_path):
    """sort_within clusters each written file by (source, bucket) — the
    row-group-stats layout the router's pruned reads rely on — without
    changing content."""
    import glob

    import pyarrow.parquet as pq

    src = synth_sequences(spark, 2000, seed=3, span_days=3)
    t1h = rollup_raw(src, "1h")
    day = F.date_trunc("day", F.col("bucket")).cast("timestamp_ntz")
    fps = partition_fingerprints(t1h.withColumn("day", day))

    store = TierStore(str(tmp_path / "sorted"))
    store.write_tier("1h", t1h, fps)
    back = store.read_tier("1h", spark)
    assert back.count() == t1h.count()
    assert back.drop("day").exceptAll(t1h).count() == 0

    files = glob.glob(str(tmp_path / "sorted/1h/day=*/*.parquet"))
    assert files
    for f in files:
        tbl = pq.read_table(f, columns=["source", "bucket"])
        keys = list(zip(tbl["source"].to_pylist(), tbl["bucket"].to_pylist()))
        assert keys == sorted(keys), f

    # opt-out preserves content too (layout only)
    store2 = TierStore(str(tmp_path / "unsorted"))
    store2.write_tier("1h", t1h, fps, sort_within=None)
    assert store2.read_tier("1h", spark).count() == t1h.count()


def _plan_fps(frame):
    """The plan-side fingerprints a resumed run compares manifests to."""
    return partition_fingerprints(frame.withColumn(
        "day", F.date_trunc("day", F.col("bucket")).cast("timestamp_ntz")))


def _manifest_fps(store, tier):
    return {d: m["input"] for d, m in store.manifests(tier).items()}


@pytest.mark.parametrize("kind", ["measure", "m4"])
def test_write_tier_fingerprints_landed_rows(spark, seqs, tmp_path, kind):
    """Without input_fps, write_tier fingerprints the landed partitions:
    the manifests equal partition_fingerprints of the same frame (the
    M4 tier's bucket is TIMESTAMP, stored as TIMESTAMP_NTZ)."""
    from traval_spark.operators.downsample import m4_downsample

    frame = (rollup_raw(seqs, "1h") if kind == "measure" else
             m4_downsample(seqs, "1h", val="n_tok", bucket_col="bucket"))
    store = TierStore(str(tmp_path / kind))
    res = store.write_tier("1h", frame)
    want = _plan_fps(frame)
    assert len(want) >= 2
    assert res["written_partitions"] == sorted(want)
    assert res["rows"] == frame.count()
    assert _manifest_fps(store, "1h") == want
    # the read with the stored schema equals a read with inference
    got = store.read_tier("1h", spark)
    inferred = spark.read.parquet(store.tier_path("1h"))
    assert [f.dataType for f in got.schema] == [
        f.dataType for f in inferred.schema]
    assert got.exceptAll(inferred).count() == 0
    assert inferred.exceptAll(got).count() == 0


def test_write_tier_without_fps_keeps_days_the_frame_lacks(
        spark, seqs, tmp_path):
    """A day on disk that the written frame lacks keeps its partition and
    its manifest byte-for-byte, also when ``days`` lists it."""
    from traval_spark.sources import fsutil

    t1h = rollup_raw(seqs, "1h")
    store = TierStore(str(tmp_path / "tiers"))
    days = store.write_tier("1h", t1h)["written_partitions"]
    old, newest = days[:-1], days[-1]
    texts = {d: fsutil.read_text(spark, store._manifest_path("1h", d))
             for d in old}
    part = t1h.filter(F.col("bucket").cast("date").cast("string") == newest)
    for kw in ({}, {"days": days}):
        res = store.write_tier("1h", part, **kw)
        assert res["written_partitions"] == [newest]
        assert res["rows"] == part.count()
        for d in old:
            assert fsutil.read_text(
                spark, store._manifest_path("1h", d)) == texts[d], d
    assert store.read_tier("1h", spark).drop("day").exceptAll(
        t1h).count() == 0
    assert _manifest_fps(store, "1h") == _plan_fps(t1h)


def test_write_tier_without_fps_respects_retention(spark, seqs, tmp_path):
    """The retention cutoff tombstones aged-out days on the
    fingerprint-on-write path too."""
    import os

    root = str(tmp_path / "tiers")
    store = TierStore(root)
    t1d = rollup_raw(seqs, "1d")
    days = store.write_tier("1d", t1d)["written_partitions"]
    ret = store.apply_retention("1d", 0, as_of=days[-1])
    kept = [d for d in days if d >= ret["cutoff"]]
    assert ret["dropped"] and kept
    res = store.write_tier("1d", t1d)
    assert res["written_partitions"] == kept
    for d in ret["dropped"]:
        assert not os.path.isdir(os.path.join(root, "1d", f"day={d}"))
        assert store.read_manifest("1d", d) is None
    assert sorted(store.manifests("1d")) == kept


@pytest.mark.parametrize("sketches", [False, True])
def test_run_manifests_equal_plan_fingerprints(spark, tmp_path, sketches):
    """Every tier ``run()`` lands records the fingerprint of the frame it
    was built from — what ``run(resume=True)`` compares against — so a
    resumed run over the same input skips every partition."""
    from traval_spark.hist import hist_cascade, hist_tier
    from traval_spark.operators.downsample import m4_merge
    from traval_spark.pipeline import (combined_sketch_leaf, run,
                                       split_combined_leaf)
    from traval_spark.rollup import fl_cascade
    from traval_spark.sketch import distinct_cascade

    out = str(tmp_path / "tiers")
    m1 = run(spark, out, synth_rows=3000, ruleset=None, sketches=sketches)
    kinds = {"": (salted_rollup(synth_sequences(spark, 3000), "1m"),
                  rollup_cascade)}
    if sketches:
        cleaned = spark.read.parquet(out + "/cleaned")
        leaves = split_combined_leaf(combined_sketch_leaf(cleaned))
        kinds.update({
            "kmv": (leaves["kmv"], distinct_cascade),
            "hist": (hist_tier(cleaned, "1m"), hist_cascade),
            "m4": (leaves["m4"],
                   lambda cur, t: m4_merge(cur, t, bucket_col="bucket")),
            "fl": (leaves["fl"], fl_cascade),
        })
    for kind, (plan, casc) in kinds.items():
        store = TierStore(f"{out}/{kind}" if kind else out)
        for tier in ("1m", "1h", "1d"):
            if tier != "1m":  # as run() does: from the stored finer tier
                finer = "1m" if tier == "1h" else "1h"
                plan = casc(store.read_tier(finer, spark).drop("day"), tier)
            fps = _plan_fps(plan)
            assert fps, (kind, tier)
            assert _manifest_fps(store, tier) == fps, (kind, tier)
    m2 = run(spark, out, synth_rows=3000, ruleset=None, sketches=sketches,
             resume=True)
    assert len(m2["partitions"]) == len(m1["partitions"])
    for name, written in m1["partitions"].items():
        assert m2["partitions"][name] == [], name
        assert m2["skipped"][name] == written, name


def test_tierstore_holds_sketch_and_hist_tiers(spark, seqs, tmp_path):
    """The store is shape-agnostic: histogram and KMV sketch tiers (no
    sum_tok / measure columns) write, manifest, and read back losslessly,
    and the read-time extraction runs on the stored tier."""
    from traval_spark.hist import hist_quantiles, hist_tier
    from traval_spark.sketch import distinct_counts, distinct_tier

    store = TierStore(str(tmp_path / "tiers"))

    h1h = hist_tier(seqs, "1h")
    fps = partition_fingerprints(
        h1h.withColumn("day", F.date_trunc("day", "bucket")))
    res = store.write_tier("hist_1h", h1h, fps)
    assert res["rows"] == h1h.count() > 0
    day0 = sorted(fps)[0]
    assert store.read_manifest("hist_1h", day0)["sum_tok_total"] is None
    back = store.read_tier("hist_1h", spark).drop("day")
    assert back.exceptAll(h1h).count() == 0
    assert h1h.exceptAll(back).count() == 0
    assert hist_quantiles(back, qs=[0.5]).filter(
        F.col("p50").isNull()).count() == 0

    k1h = distinct_tier(seqs, "1h", "n_tok")
    fpk = partition_fingerprints(
        k1h.withColumn("day", F.date_trunc("day", "bucket")))
    store.write_tier("kmv_1h", k1h, fpk)
    backk = store.read_tier("kmv_1h", spark).drop("day")
    assert backk.exceptAll(k1h).count() == 0
    assert distinct_counts(backk).filter(
        F.col("n_distinct") <= 0).count() == 0


def test_verify_cascade_audit(spark, seqs, tmp_path):
    """Cross-tier audit: clean cascade -> empty report; a drifted or
    missing coarser row is flagged with the right status."""
    from traval_spark.sources.tierstore import verify_cascade

    store = TierStore(str(tmp_path / "tiers"))
    t1m = rollup_raw(seqs, "1m")
    t1h = rollup_cascade(t1m, "1h")
    for tier, df in [("1m", t1m), ("1h", t1h)]:
        fps = partition_fingerprints(
            df.withColumn("day", F.date_trunc("day", "bucket")))
        store.write_tier(tier, df, fps)

    assert verify_cascade(store, "1m", "1h", spark).count() == 0

    # drift: rewrite the stored 1h tier with one bucket's sum perturbed
    # and one (source, bucket) row dropped
    stored = store.read_tier("1h", spark).drop("day")
    first = stored.orderBy("source", "bucket").first()
    perturbed = stored.withColumn(
        "sum_tok",
        F.when((F.col("source") == first["source"])
               & (F.col("bucket") == first["bucket"]),
               F.col("sum_tok") + 1.0).otherwise(F.col("sum_tok")),
    )
    last = stored.orderBy(F.col("source").desc(), F.col("bucket").desc()).first()
    perturbed = perturbed.filter(
        ~((F.col("source") == last["source"])
          & (F.col("bucket") == last["bucket"])))
    fps = partition_fingerprints(
        perturbed.withColumn("day", F.date_trunc("day", "bucket")))
    store.write_tier("1h", perturbed, fps)

    rep = verify_cascade(store, "1m", "1h", spark)
    statuses = {r["status"] for r in rep.collect()}
    assert statuses == {"value_drift", "missing_in_coarser"}
    assert rep.count() == 2


def test_verify_cascade_all_flagged_bucket_is_consistent(spark, seqs,
                                                         tmp_path):
    """An hour bucket whose every point is rule-flagged (NULL value)
    has NULL sum/min/max on both tiers: that is agreement, not drift.
    A measure NULL on one side only is still drift."""
    from traval_spark.sources.tierstore import verify_cascade

    hour = F.date_trunc("hour", "ts")
    first = seqs.select("source", hour.alias("h")).orderBy("source", "h") \
        .first()
    in_bucket = (F.col("source") == first["source"]) & (hour == first["h"])
    flagged = seqs.withColumn(
        "n_tok", F.when(in_bucket, F.lit(None)).otherwise(F.col("n_tok")))
    store = TierStore(str(tmp_path / "tiers"))
    t1m = rollup_raw(flagged, "1m")
    t1h = rollup_cascade(t1m, "1h")
    for tier, df in [("1m", t1m), ("1h", t1h)]:
        fps = partition_fingerprints(
            df.withColumn("day", F.date_trunc("day", "bucket")))
        store.write_tier(tier, df, fps)

    row = t1h.filter((F.col("source") == first["source"])
                     & (F.col("bucket") == first["h"])).first()
    assert row["n_points"] == 0 and row["sum_tok"] is None
    assert verify_cascade(store, "1m", "1h", spark).count() == 0

    # the stored side loses one bucket's max_tok: NULL vs value drifts
    stored = store.read_tier("1h", spark).drop("day")
    last = stored.orderBy(F.col("source").desc(), F.col("bucket").desc()) \
        .first()
    lost = stored.withColumn(
        "max_tok",
        F.when((F.col("source") == last["source"])
               & (F.col("bucket") == last["bucket"]), F.lit(None))
        .otherwise(F.col("max_tok")))
    store.write_tier("1h", lost, partition_fingerprints(
        lost.withColumn("day", F.date_trunc("day", "bucket"))))
    rep = verify_cascade(store, "1m", "1h", spark).collect()
    assert [(r["source"], r["bucket"], r["status"]) for r in rep] == [
        (last["source"], last["bucket"], "value_drift")]


def test_routed_sketch_and_hist_reads(spark, seqs, tmp_path):
    """Downsample-on-read over sketch/hist tier stores: old days served
    from the coarse (1h) tier, the newest day from the fine (1m) tier,
    stitched result identical to computing straight from raw."""
    from traval_spark.hist import hist_cascade, hist_tier
    from traval_spark.router import read_routed_distinct, read_routed_hist
    from traval_spark.sketch import distinct_cascade, distinct_tier

    days = sorted(
        r["d"] for r in seqs.select(
            F.date_trunc("day", "ts").cast("date").cast("string").alias("d")
        ).distinct().collect()
    )
    assert len(days) >= 2
    old, newest = days[:-1], days[-1]

    def day_fps(df):
        return partition_fingerprints(
            df.withColumn("day", F.date_trunc("day", "bucket")))

    # KMV store: 1m kept only for the newest day (fine-tier retention),
    # 1h kept for the older days
    kstore = TierStore(str(tmp_path / "kmv"))
    k1m = distinct_tier(seqs, "1m", "n_tok")
    k1m_new = k1m.filter(F.col("bucket").cast("date").cast("string") == newest)
    kstore.write_tier("1m", k1m_new, day_fps(k1m_new))
    k1h = distinct_cascade(k1m, "1h").filter(
        F.col("bucket").cast("date").cast("string").isin(old))
    kstore.write_tier("1h", k1h, day_fps(k1h))

    got = read_routed_distinct(kstore, "1h", spark=spark, strict=True)
    want = distinct_tier(seqs, "1h", "n_tok")
    j = got.join(want.withColumnRenamed("kmv", "want"),
                 ["source", "bucket"], "full_outer")
    assert j.filter(F.col("kmv").isNull() | F.col("want").isNull()
                    | (F.col("kmv") != F.col("want"))).count() == 0

    # histogram store, same layout
    hstore = TierStore(str(tmp_path / "hist"))
    h1m = hist_tier(seqs, "1m")
    h1m_new = h1m.filter(F.col("bucket").cast("date").cast("string") == newest)
    hstore.write_tier("1m", h1m_new, day_fps(h1m_new))
    h1h = hist_cascade(h1m, "1h").filter(
        F.col("bucket").cast("date").cast("string").isin(old))
    hstore.write_tier("1h", h1h, day_fps(h1h))

    goth = read_routed_hist(hstore, "1h", spark=spark, strict=True)
    wanth = hist_tier(seqs, "1h")
    assert goth.exceptAll(wanth).count() == 0
    assert wanth.exceptAll(goth).count() == 0


def test_pipeline_sketch_stores(spark, tmp_path):
    """--sketches writes companion KMV + histogram tier stores whose
    cascades match computing directly from the (cleaned) input, and the
    routed read serves from them."""
    from traval_spark.hist import hist_tier
    from traval_spark.pipeline import run
    from traval_spark.router import read_routed_distinct
    from traval_spark.sketch import distinct_counts, distinct_tier
    from traval_spark.sources.synth import synth_sequences

    out = str(tmp_path / "tiers")
    run(spark, out, synth_rows=4000, ruleset=None, sketches=True)

    seqs = synth_sequences(spark, 4000)
    kstore = TierStore(out + "/kmv")
    k1h = kstore.read_tier("1h", spark).drop("day")
    want = distinct_tier(seqs, "1h", "n_tok")
    j = k1h.join(want.withColumnRenamed("kmv", "want"),
                 ["source", "bucket"], "full_outer")
    assert j.filter(F.col("kmv").isNull() | F.col("want").isNull()
                    | (F.col("kmv") != F.col("want"))).count() == 0

    h1d = TierStore(out + "/hist").read_tier("1d", spark).drop("day")
    wanth = hist_tier(seqs, "1d")
    assert h1d.exceptAll(wanth).count() == 0
    assert wanth.exceptAll(h1d).count() == 0

    routed = distinct_counts(
        read_routed_distinct(kstore, "1d", spark=spark, strict=True))
    assert routed.filter(F.col("n_distinct") <= 0).count() == 0

    # the M4 companion store cascades exactly too
    from traval_spark.operators.downsample import m4_downsample, m4_merge

    m1d = TierStore(out + "/m4").read_tier("1d", spark).drop("day")
    wantm = m4_merge(
        m4_downsample(seqs, "1m", val="n_tok", bucket_col="bucket"),
        "1d", bucket_col="bucket",
    ).select(*m1d.columns)
    assert m1d.exceptAll(wantm).count() == 0
    assert wantm.exceptAll(m1d).count() == 0

    # ...and the first/last companion store
    from traval_spark.rollup import fl_cascade, fl_rollup

    f1d = TierStore(out + "/fl").read_tier("1d", spark).drop("day")
    wantf = fl_cascade(fl_rollup(seqs, "1m"), "1d").select(*f1d.columns)
    assert f1d.exceptAll(wantf).count() == 0
    assert wantf.exceptAll(f1d).count() == 0


def test_routed_dds_reads(spark, seqs, tmp_path):
    """Downsample-on-read over a DDSketch tier store: stitched 1m+1h
    read equals the direct dds_tier from raw (counts add, bins never
    move), and dds_quantiles serves the routed frame unchanged."""
    from traval_spark.hist import dds_cascade, dds_quantiles, dds_tier
    from traval_spark.router import read_routed_dds

    days = sorted(
        r["d"] for r in seqs.select(
            F.date_trunc("day", "ts").cast("date").cast("string").alias("d")
        ).distinct().collect()
    )
    old, newest = days[:-1], days[-1]

    def day_fps(df):
        return partition_fingerprints(
            df.withColumn("day", F.date_trunc("day", "bucket")))

    store = TierStore(str(tmp_path / "dds"))
    d1m = dds_tier(seqs, "1m", value_col="n_tok")
    d1m_new = d1m.filter(F.col("bucket").cast("date").cast("string") == newest)
    store.write_tier("1m", d1m_new, day_fps(d1m_new))
    d1h = dds_cascade(d1m, "1h").filter(
        F.col("bucket").cast("date").cast("string").isin(old))
    store.write_tier("1h", d1h, day_fps(d1h))

    got = read_routed_dds(store, "1h", spark=spark, strict=True)
    want = dds_tier(seqs, "1h", value_col="n_tok")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    p = dds_quantiles(got, qs=[0.5])
    assert p.filter(F.col("p50").isNull()).count() == 0


def test_routed_cms_reads(spark, seqs, tmp_path):
    """Downsample-on-read over a count-min tier store: stitched 1m+1h
    read equals the direct cms_tier from raw (cell counts add, cell
    coordinates never move), and cms_point serves the routed frame
    unchanged."""
    from traval_spark.router import read_routed_cms
    from traval_spark.sketch import cms_cascade, cms_point, cms_tier

    days = sorted(
        r["d"] for r in seqs.select(
            F.date_trunc("day", "ts").cast("date").cast("string").alias("d")
        ).distinct().collect()
    )
    old, newest = days[:-1], days[-1]

    def day_fps(df):
        return partition_fingerprints(
            df.withColumn("day", F.date_trunc("day", "bucket")))

    store = TierStore(str(tmp_path / "cms"))
    c1m = cms_tier(seqs, "1m", key_col="n_tok")
    c1m_new = c1m.filter(F.col("bucket").cast("date").cast("string") == newest)
    store.write_tier("1m", c1m_new, day_fps(c1m_new))
    c1h = cms_cascade(c1m, "1h").filter(
        F.col("bucket").cast("date").cast("string").isin(old))
    store.write_tier("1h", c1h, day_fps(c1h))

    got = read_routed_cms(store, "1h", spark=spark, strict=True)
    want = cms_tier(seqs, "1h", key_col="n_tok")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    est = cms_point(got, ["24", "32"], depth=4, width=256)
    assert est.filter(F.col("est") < 0).count() == 0


def test_routed_bloom_reads(spark, seqs, tmp_path):
    """Downsample-on-read over a Bloom tier store: stitched 1m+1h read
    equals the direct bloom_tier from raw (set bits union, bit
    positions never move), and bloom_probe serves the routed frame
    unchanged."""
    from traval_spark.router import read_routed_bloom
    from traval_spark.sketch import bloom_cascade, bloom_probe, bloom_tier

    days = sorted(
        r["d"] for r in seqs.select(
            F.date_trunc("day", "ts").cast("date").cast("string").alias("d")
        ).distinct().collect()
    )
    old, newest = days[:-1], days[-1]

    def day_fps(df):
        return partition_fingerprints(
            df.withColumn("day", F.date_trunc("day", "bucket")))

    store = TierStore(str(tmp_path / "bloom"))
    b1m = bloom_tier(seqs, "1m", key_col="n_tok")
    b1m_new = b1m.filter(F.col("bucket").cast("date").cast("string") == newest)
    store.write_tier("1m", b1m_new, day_fps(b1m_new))
    b1h = bloom_cascade(b1m, "1h").filter(
        F.col("bucket").cast("date").cast("string").isin(old))
    store.write_tier("1h", b1h, day_fps(b1h))

    got = read_routed_bloom(store, "1h", spark=spark, strict=True)
    want = bloom_tier(seqs, "1h", key_col="n_tok")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    pr = bloom_probe(got, ["24", "32"], nhash=4, nbits=4096)
    assert pr.filter(~F.col("present").isin(0, 1)).count() == 0


def _iceberg_jar_available() -> bool:
    """True iff an iceberg-spark-runtime jar is already resolvable on the
    default classpath (pyspark's bundled jars dir, $SPARK_HOME/jars, or an
    explicit $TRAVAL_ICEBERG_JAR path). Nothing is ever downloaded."""
    import glob as _glob
    import os

    import pyspark

    explicit = os.environ.get("TRAVAL_ICEBERG_JAR")
    if explicit:
        return os.path.exists(explicit)
    roots = [os.path.join(os.path.dirname(pyspark.__file__), "jars")]
    if os.environ.get("SPARK_HOME"):
        roots.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    return any(
        _glob.glob(os.path.join(r, "iceberg-spark-runtime*.jar"))
        for r in roots
    )


@pytest.mark.skipif(
    not _iceberg_jar_available(),
    reason="iceberg-spark-runtime jar not on the classpath (use_iceberg "
           "seam cannot execute without a live catalog)",
)
def test_iceberg_tierstore_roundtrip_and_resume(tmp_path):
    """Jar-gated integration: one cascade tier round-trips through a REAL
    Iceberg hadoop catalog with TierStore resume semantics intact —
    dynamic partition overwrite replaces only the stale day, retention
    DELETE tombstones hold, manifests/fingerprints are byte-compatible
    with the parquet backend. Runs in a subprocess because the Iceberg
    extensions/catalog conf must be present at session creation."""
    import json
    import os
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent("""
        import json, sys
        wh = sys.argv[1]
        from pyspark.sql import SparkSession, functions as F
        from traval_spark.sources.tierstore import (
            IcebergTierStore, partition_fingerprints, use_iceberg)
        b = SparkSession.builder.master("local[4]").appName("iceberg-it")
        for k, v in use_iceberg(wh, catalog="tiers").items():
            b = b.config(k, v)
        jar = __import__("os").environ.get("TRAVAL_ICEBERG_JAR")
        if jar:
            b = b.config("spark.jars", jar)
        # STATIC overwrite default on purpose: Iceberg's overwritePartitions
        # must be dynamic regardless of the session default
        spark = (b.config("spark.sql.shuffle.partitions", "4")
                 .config("spark.sql.sources.partitionOverwriteMode", "STATIC")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")

        rows = [(f"s{i%2}",
                 f"2024-01-{1 + i//8:02d} 0{i%8}:00:00", float(i))
                for i in range(32)]
        raw = spark.createDataFrame(rows, "source string, b string, n_tok double")
        tier = (raw.select("source",
                           F.to_timestamp_ntz("b").alias("bucket"),
                           F.col("n_tok").alias("sum_tok"),
                           F.lit(1).alias("n_points")))
        store = IcebergTierStore(wh, catalog="tiers", spark=spark)
        fps = partition_fingerprints(tier, "bucket")
        m = store.write_tier("t1h", tier, fps)
        assert sorted(m["written_partitions"]) == sorted(fps), m
        assert store.stale_days("t1h", fps) == []

        # resume: day 2 input changes -> only day 2 stale, subset rewrite
        # leaves day 1/3/4 rows untouched (snapshot-level dynamic overwrite)
        tier2 = tier.withColumn(
            "sum_tok",
            F.when(F.col("bucket").cast("date") == F.lit("2024-01-02"),
                   F.col("sum_tok") + 100).otherwise(F.col("sum_tok")))
        fps2 = partition_fingerprints(tier2, "bucket")
        stale = store.stale_days("t1h", fps2)
        assert stale == ["2024-01-02"], stale
        before = {(r["source"], str(r["bucket"])): r["sum_tok"]
                  for r in store.read_tier("t1h", spark)
                  .filter("day != '2024-01-02'").collect()}
        store.write_tier("t1h", tier2, fps2, days=stale)
        got = store.read_tier("t1h", spark)
        after = {(r["source"], str(r["bucket"])): r["sum_tok"]
                 for r in got.filter("day != '2024-01-02'").collect()}
        assert after == before, "untouched partitions changed"
        assert got.filter("day = '2024-01-02' and sum_tok < 100").count() == 0
        assert store.stale_days("t1h", fps2) == []

        # retention: drop day 1, tombstone survives, never resurrected
        r = store.apply_retention("t1h", keep_days=3, as_of="2024-01-04")
        assert r["cutoff"] == "2024-01-01" or r["dropped"] == [], r
        r = store.apply_retention("t1h", keep_days=2, as_of="2024-01-04")
        assert r["dropped"] == ["2024-01-01"], r
        assert store.read_tier("t1h", spark).filter(
            "day = '2024-01-01'").count() == 0
        # the dropped day is tombstoned, not stale: a resume never
        # resurrects it
        assert store.stale_days("t1h", fps2) == []
        print(json.dumps({"ok": True}))
    """)
    env = dict(os.environ)
    env["PYTHONPATH"] = (
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        + os.pathsep + env.get("PYTHONPATH", "")
    )
    out = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "wh")],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == {"ok": True}


def test_routed_m4_reads(spark, seqs, tmp_path):
    """Downsample-on-read over M4 tiers: stitched 1m+1h read equals the
    direct m4_downsample from raw bit-for-bit (every M4 column is an
    algebraic extreme with pinned tie rules, so m4_merge composes
    through any coarsening)."""
    from traval_spark.operators.downsample import m4_downsample, m4_merge
    from traval_spark.router import read_routed_m4

    days = sorted(
        r["d"] for r in seqs.select(
            F.date_trunc("day", "ts").cast("date").cast("string").alias("d")
        ).distinct().collect()
    )
    old, newest = days[:-1], days[-1]

    def day_fps(df):
        return partition_fingerprints(
            df.withColumn("day", F.date_trunc("day", "bucket")))

    store = TierStore(str(tmp_path / "m4"))
    m1m = m4_downsample(seqs, bucket="1m", val="n_tok", bucket_col="bucket")
    m1m_new = m1m.filter(F.col("bucket").cast("date").cast("string") == newest)
    store.write_tier("1m", m1m_new, day_fps(m1m_new))
    m1h = m4_merge(m1m, bucket="1h", bucket_col="bucket").filter(
        F.col("bucket").cast("date").cast("string").isin(old))
    store.write_tier("1h", m1h, day_fps(m1h))

    got = read_routed_m4(store, "1h", spark=spark, strict=True)
    want = m4_downsample(seqs, bucket="1h", val="n_tok", bucket_col="bucket")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # day bounds are keyword-only: positional days would bind value_col
    # and day_min and read the whole store from the second day on
    with pytest.raises(TypeError):
        read_routed_m4(store, "1h", newest, newest)


def test_routed_fl_reads(spark, seqs, tmp_path):
    """Downsample-on-read over first/last tiers: stitched 1m+1h read
    equals the direct fl_rollup from raw bit-for-bit (struct extremes
    nest through min/max), and the LOCF read serves the routed frame."""
    from traval_spark.rollup import fl_cascade, fl_rollup, locf_from_tier
    from traval_spark.router import read_routed_fl

    days = sorted(
        r["d"] for r in seqs.select(
            F.date_trunc("day", "ts").cast("date").cast("string").alias("d")
        ).distinct().collect()
    )
    old, newest = days[:-1], days[-1]

    def day_fps(df):
        return partition_fingerprints(
            df.withColumn("day", F.date_trunc("day", "bucket")))

    store = TierStore(str(tmp_path / "fl"))
    f1m = fl_rollup(seqs, "1m")
    f1m_new = f1m.filter(F.col("bucket").cast("date").cast("string") == newest)
    store.write_tier("1m", f1m_new, day_fps(f1m_new))
    f1h = fl_cascade(f1m, "1h").filter(
        F.col("bucket").cast("date").cast("string").isin(old))
    store.write_tier("1h", f1h, day_fps(f1h))

    got = read_routed_fl(store, "1h", spark=spark, strict=True)
    want = fl_rollup(seqs, "1h")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    dense = locf_from_tier(got, "1h")
    assert dense.filter(F.col("locf_val").isNull()).count() == 0


def _routed_kind_builders():
    """kind -> (router reader name, the kind's batch leaf builder
    ``build(raw_df, tier)`` with the reader's default parameters)."""
    from traval_spark.hist import dds_tier, hist_tier
    from traval_spark.operators.downsample import m4_downsample
    from traval_spark.rollup import fl_rollup
    from traval_spark.sketch import bloom_tier, cms_tier, distinct_tier

    return {
        "distinct": ("read_routed_distinct",
                     lambda df, t: distinct_tier(df, t, "n_tok")),
        "hist": ("read_routed_hist", lambda df, t: hist_tier(df, t)),
        "dds": ("read_routed_dds",
                lambda df, t: dds_tier(df, t, value_col="n_tok")),
        "cms": ("read_routed_cms",
                lambda df, t: cms_tier(df, t, key_col="n_tok")),
        "bloom": ("read_routed_bloom",
                  lambda df, t: bloom_tier(df, t, key_col="n_tok")),
        "m4": ("read_routed_m4",
               lambda df, t: m4_downsample(df, bucket=t, val="n_tok",
                                           bucket_col="bucket")),
        "fl": ("read_routed_fl", lambda df, t: fl_rollup(df, t)),
    }


@pytest.mark.parametrize(
    "kind", ["distinct", "hist", "dds", "cms", "bloom", "m4", "fl"])
def test_routed_kind_reads_serve_raw_segment(spark, seqs, tmp_path, kind):
    """Each kind reader over a store whose 'raw' tier covers the newest
    day: the plan serves the older days from the stored 1h tier and the
    newest from ``raw=``, and the stitched read equals the kind's batch
    leaf builder run on raw at the requested resolution."""
    from traval_spark import router

    reader, build = _routed_kind_builders()[kind]
    days = sorted(
        r["d"] for r in seqs.select(
            F.col("ts").cast("date").cast("string").alias("d")
        ).distinct().collect()
    )
    assert len(days) >= 2
    day = F.col("ts").cast("date").cast("string")
    store = TierStore(str(tmp_path / kind))
    store.write_tier("1h", build(seqs.filter(day != days[-1]), "1h"))
    store.write_tier("raw", seqs.filter(day == days[-1]).select(
        "source", F.col("ts").alias("bucket"), "n_tok"))

    plan = router.route_plan(router.coverage_of(store), "1h")
    assert [s.tier for s in plan.segments] == ["1h", "raw"]
    got = getattr(router, reader)(store, "1h", spark=spark, raw=seqs,
                                  strict=True)
    want = build(seqs, "1h")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_sliding_from_tier_equals_raw_sliding(spark, seqs):
    """Sliding windows served from the stored 1m tier are identical to
    the raw-built sliding rollup — every measure is mergeable over the
    pane decomposition, so the tier is a drop-in scan substitute."""
    from traval_spark.rollup import rollup_raw, sliding_from_tier, sliding_rollup

    tier = rollup_raw(seqs, "1m")
    got = sliding_from_tier(tier, window="1h", slide="10m")
    want = sliding_rollup(seqs, window="1h", slide="10m")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_retention_preview_matches_apply(spark, seqs, tmp_path):
    """The dry run's drop set == the days apply_retention actually
    drops (same cutoff arithmetic, same strict day < cutoff rule), and
    per-day counts match the tier."""
    from traval_spark.sources.tierstore import retention_preview

    root = str(tmp_path / "tiers_prev")
    store = TierStore(root)
    t1d = rollup_raw(seqs, "1d")
    fps = partition_fingerprints(
        t1d.withColumn("day", F.date_trunc("day", F.col("bucket"))
                       .cast("timestamp_ntz")))
    store.write_tier("1d", t1d, fps)
    days = sorted(fps)
    as_of = days[-1]

    prev = {r["day"]: r for r in retention_preview(
        t1d, keep_days=1, as_of=as_of, ts_col="bucket").collect()}
    predicted_drop = sorted(d for d, r in prev.items()
                            if r["action"] == "drop")
    res = store.apply_retention("1d", 1, as_of=as_of)
    assert res["dropped"] == predicted_drop
    assert sum(r["n_rows"] for r in prev.values()) == t1d.count()


def test_combined_sketch_leaf_parity(spark):
    """The one-pass combined leaf splits byte-identically to the three
    individual builders — including the per-kind NULL conventions
    (kmv keeps NULL-only buckets with an empty sketch; m4/fl drop
    them) exercised by a biting ruleset that NULLs ~20% of n_tok."""
    from traval_spark.operators.downsample import m4_downsample
    from traval_spark.pipeline import (
        clean_sequences, combined_sketch_leaf, split_combined_leaf,
    )
    from traval_spark.plans.ruleset import SparkRuleSet
    from traval_spark.rollup import fl_rollup
    from traval_spark.sketch import distinct_tier
    from traval_spark.sources.synth import synth_sequences

    rs = SparkRuleSet("bite")
    rs.add_rule("cap", "rule_hardmax", apply_to=0,
                kwargs={"threshold": 200.0})
    cleaned = clean_sequences(synth_sequences(spark, 6000, seed=61,
                                              span_days=1), rs)
    assert cleaned.filter(F.col("n_tok").isNull()).count() > 0

    got = split_combined_leaf(combined_sketch_leaf(cleaned))
    want = {
        "kmv": distinct_tier(cleaned, "1m", "n_tok"),
        "m4": m4_downsample(cleaned, "1m", val="n_tok",
                            bucket_col="bucket"),
        "fl": fl_rollup(cleaned, "1m"),
    }
    for kind in ("kmv", "m4", "fl"):
        g, w = got[kind], want[kind]
        assert [f.name for f in g.schema] == [f.name for f in w.schema]
        assert [f.dataType for f in g.schema] == \
               [f.dataType for f in w.schema], kind
        assert g.exceptAll(w).count() == 0, kind
        assert w.exceptAll(g).count() == 0, kind


def test_tier_maintenance_census_compact_freshness(spark, seqs, tmp_path):
    """file_census flags a fragmented day, compact_tier_day rewrites it
    to one file with rows verified against the manifest (values
    untouched), tier_freshness reports staleness from manifests alone."""
    import pytest

    from traval_spark.sources.tierstore import (
        compact_tier_day, file_census, tier_freshness,
    )

    root = str(tmp_path / "tiers")
    store = TierStore(root)
    t1m = rollup_raw(seqs, "1m").withColumn(
        "day", F.date_trunc("day", F.col("bucket")).cast("timestamp_ntz")
    )
    fps = partition_fingerprints(t1m)
    # fragment: 12 write tasks -> up to 12 files in every day partition
    store.write_tier("1m", t1m.drop("day").repartition(12), fps)
    # materialize pre-compaction rows: the lazy plan's file listing dies
    # when compaction replaces the files underneath it
    before = sorted(map(tuple, store.read_tier("1m", spark).drop("day")
                        .collect()))

    census = file_census(store, "1m", max_files_per_day=4)
    days = sorted(fps)
    assert [r["day"] for r in census] == days
    frag = {r["day"]: r for r in census}
    assert all(r["n_files"] > 4 and r["needs_compaction"]
               for r in census)

    res = compact_tier_day(store, "1m", days[0], target_files=1)
    assert res["verified"] and res["files_after"] == 1
    assert res["files_before"] == frag[days[0]]["n_files"]
    assert res["rows"] == store.read_manifest("1m", days[0])["rows"]
    assert "compacted_at" in store.read_manifest("1m", days[0])

    after = sorted(map(tuple, store.read_tier("1m", spark).drop("day")
                       .collect()))
    assert after == before

    census2 = {r["day"]: r for r in file_census(store, "1m",
                                                max_files_per_day=4)}
    assert census2[days[0]]["n_files"] == 1
    assert not census2[days[0]]["needs_compaction"]
    assert census2[days[1]]["needs_compaction"]  # untouched day still flagged

    import datetime as dt

    as_of = dt.date.fromisoformat(days[-1]) + dt.timedelta(days=2)
    fresh = tier_freshness(store, ["1m"], as_of)
    assert fresh == [{
        "tier": "1m", "n_days": len(days), "min_day": days[0],
        "max_day": days[-1], "missing_days": 0,
        "rows_total": sum(store.read_manifest("1m", d)["rows"]
                          for d in days),
        "staleness_days": 2,
    }]
    # empty tier: its own alert, never a crash
    assert tier_freshness(store, ["1h"], as_of)[0]["staleness_days"] is None
    # an interior hole (manifest lost, e.g. a botched backfill) is
    # reported as missing_days — worse than staleness, range reads
    # over the span silently lose that day; freshness is pure
    # manifest metadata, so synthesize the commit log directly
    import json as _json

    from traval_spark.sources import fsutil

    for d in ("2024-02-01", "2024-02-02", "2024-02-04"):
        fsutil.write_text(
            spark, f"{root}/holey/_manifests/day={d}.json",
            _json.dumps({"tier": "holey", "day": d, "rows": 10}),
        )
    holed = tier_freshness(store, ["holey"], "2024-02-05")[0]
    assert holed == {
        "tier": "holey", "n_days": 3, "min_day": "2024-02-01",
        "max_day": "2024-02-04", "missing_days": 1, "rows_total": 30,
        "staleness_days": 1,
    }

    with pytest.raises(ValueError):
        compact_tier_day(store, "1m", "1999-01-01")


def test_run_maintenance_cli_surface(spark, seqs, tmp_path):
    """The spark-submit maintenance pass: census sees every landed
    tier, compact rewrites exactly the flagged days, freshness reads
    the same manifests — all against a store the pipeline built."""
    from traval_spark.pipeline import run_maintenance

    root = str(tmp_path / "tiers")
    store = TierStore(root)
    t1m = rollup_raw(seqs, "1m").withColumn(
        "day", F.date_trunc("day", F.col("bucket")).cast("timestamp_ntz")
    )
    store.write_tier("1m", t1m.drop("day").repartition(10),
                     partition_fingerprints(t1m))
    t1h = rollup_cascade(rollup_raw(seqs, "1m"), "1h").withColumn(
        "day", F.date_trunc("day", F.col("bucket")).cast("timestamp_ntz")
    )
    store.write_tier("1h", t1h.drop("day"), partition_fingerprints(t1h))
    # a stray non-tier dir is never touched (no _manifests commit log)
    (tmp_path / "tiers" / "scratch").mkdir()

    census = run_maintenance(spark, root, "census", max_files_per_day=4)
    assert sorted(census["tiers"]) == ["1h", "1m"]
    flagged = [(t, r["day"]) for t, reps in census["tiers"].items()
               for r in reps if r["needs_compaction"]]
    assert ("1m", sorted(r["day"] for r in census["tiers"]["1m"])[0]) \
        in flagged

    before = sorted(map(tuple, store.read_tier("1m", spark).drop("day")
                        .collect()))
    comp = run_maintenance(spark, root, "compact", max_files_per_day=4)
    assert sorted((c["tier"], c["day"]) for c in comp["compacted"]) \
        == sorted(flagged)
    assert all(c["verified"] for c in comp["compacted"])
    after = sorted(map(tuple, store.read_tier("1m", spark).drop("day")
                       .collect()))
    assert after == before
    census2 = run_maintenance(spark, root, "census", max_files_per_day=4)
    assert not any(r["needs_compaction"]
                   for reps in census2["tiers"].values() for r in reps)

    days = sorted(r["day"] for r in census["tiers"]["1m"])
    fresh = run_maintenance(spark, root, "freshness",
                            as_of=days[-1])["tiers"]
    assert [(r["tier"], r["staleness_days"]) for r in fresh] \
        == [("1h", 0), ("1m", 0)]


def test_run_maintenance_audit_detects_drift(spark, seqs, tmp_path):
    """--maintenance audit: consistent stored 1m->1h pair reports
    mismatches 0; silently dropping a stored-coarse day flips the
    verdict with the missing rows counted."""
    from traval_spark.pipeline import run_maintenance

    root = str(tmp_path / "tiers")
    store = TierStore(root)
    t1m = rollup_raw(seqs, "1m")
    t1h = rollup_cascade(t1m, "1h")
    for name, frame in (("1m", t1m), ("1h", t1h)):
        framed = frame.withColumn(
            "day", F.date_trunc("day", F.col("bucket")).cast("timestamp_ntz")
        )
        store.write_tier(name, framed.drop("day"),
                         partition_fingerprints(framed))

    ok = run_maintenance(spark, root, "audit")
    assert ok["consistent"] and ok["pairs"]["1m->1h"]["mismatches"] == 0

    # simulate a partial rewrite that lost a coarse day
    day0 = sorted(store.manifests("1h"))[0]
    import shutil

    shutil.rmtree(f"{root}/1h/day={day0}")
    bad = run_maintenance(spark, root, "audit")
    assert not bad["consistent"]
    assert bad["pairs"]["1m->1h"]["missing_in_coarser"] > 0


def test_rollup_sets_tier_served_parity_and_plan(spark, seqs):
    """Grouping-set marginals served FROM the stored finest grouping ==
    Spark's native rollup/cube on raw (count/sum add, min/max nest —
    the cascade identity in the grouping-sets direction), for BOTH
    rollup and cube; the native plan lowers to ONE Expand feeding a
    single aggregation (one shuffle for all marginals)."""
    from traval_spark.rollup import marginals_from_tier, rollup_sets

    src = seqs.select(
        "source", F.date_format("ts", "yyyy-MM-dd").alias("day"), "n_tok"
    )
    for cube in (False, True):
        native = rollup_sets(src, dims=("source", "day"),
                             value_col="n_tok", cube=cube)
        finest = (
            src.groupBy("source", "day")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("n_tok").alias("sum_v"),
                 F.min("n_tok").alias("min_v"),
                 F.max("n_tok").alias("max_v"))
        )
        served = marginals_from_tier(finest, dims=("source", "day"),
                                     cube=cube)
        assert native.exceptAll(served).count() == 0
        assert served.exceptAll(native).count() == 0
        assert native.count() == served.count()
        # grand total present exactly once, flags (1, 1)
        gt = native.filter("g_source = 1 and g_day = 1").collect()
        assert len(gt) == 1 and gt[0]["n_rows"] == src.count()
    plan = native._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1
    assert plan.count("Exchange") == 1
