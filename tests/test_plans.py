"""Physical-plan audits: the scale behaviors SURVEY §4.2 promises must be
visible in `explain("formatted")`, not just claimed — column pruning and
filter pushdown reaching the parquet scan, small dimensions broadcast,
whole-stage codegen covering the expression pipeline."""

from __future__ import annotations

import contextlib
import io

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import make_series_df
from traval_spark.plans.ruleset import SparkRuleSet, apply_ruleset
from traval_spark.rollup import build_cascade


def fmt_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def seq_parquet(spark, tmp_path_factory):
    """Full-width graft-input table on disk (doc_id, tokens, n_tok,
    source, ts) — pruning is only observable through a real scan."""
    path = str(tmp_path_factory.mktemp("plans") / "seqs")
    n = 500
    pdf = pd.DataFrame({
        "doc_id": [f"d{i:04d}" for i in range(n)],
        "tokens": [np.arange(i % 7 + 1, dtype=np.int32) for i in range(n)],
        "n_tok": np.int32(1) + np.arange(n, dtype=np.int32) % 7,
        "source": ["source_%02d" % (i % 3) for i in range(n)],
        "ts": pd.date_range("2024-01-01", freq="min", periods=n),
    })
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    return path


def test_cascade_prunes_tokens_and_docid(spark, seq_parquet):
    """The rollup cascade over the cleaned full-width table must read
    ONLY (n_tok, source, ts) at the scan: tokens (the wide payload
    column — at 100 TB virtually all the bytes) and doc_id must be
    pruned by Catalyst through the cleaning plan (commit-b138518
    invariant; regression guard)."""
    from traval_spark.pipeline import clean_sequences, default_ruleset

    raw = spark.read.parquet(seq_parquet)
    cleaned = clean_sequences(raw, default_ruleset())
    t1d = build_cascade(cleaned, salted=True, n_salt=4)["1d"]
    plan = fmt_plan(t1d)
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    # every scan reads a subset of the 3 needed narrow columns (the
    # via-join sigma-stats branch legitimately reads only n_tok+source);
    # at least one branch carries all 3
    for ln in scan:
        assert "tokens" not in ln, ln
        assert "doc_id" not in ln, ln
    assert any("n_tok" in ln and "source" in ln and "ts" in ln
               for ln in scan), plan


def test_filter_pushdown_reaches_scan(spark, seq_parquet):
    """A time-range + source predicate lands in PushedFilters at the
    parquet scan (partition/row-group pruning at scale)."""
    df = (
        spark.read.parquet(seq_parquet)
        .filter((F.col("source") == "source_01")
                & (F.col("ts") >= "2024-01-01 02:00:00"))
        .select("source", "ts", "n_tok")
    )
    plan = fmt_plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    assert "IsNotNull(source)" in pushed[0] or "EqualTo(source" in pushed[0], pushed[0]
    assert "GreaterThanOrEqual(ts" in pushed[0], pushed[0]


def test_per_series_params_join_is_broadcast(spark):
    """ParamRef per-series thresholds resolve via a broadcast hash join —
    a shuffled sort-merge join on the fleet for a tiny dimension would
    be the classic scale bug."""
    from traval_spark.plans.params import TravalParameters
    from traval_spark.plans.ruleset import ParamRef

    series = make_series_df(spark, np.arange(20.0))
    rs = SparkRuleSet("p")
    rs.add_rule("hm", "rule_hardmax", apply_to=0,
                kwargs={"threshold": ParamRef("hm", "threshold")})
    tp = TravalParameters(
        pd.DataFrame(
            [("default", "hm", "threshold", 10.0)],
            columns=["location", "rulename", "parameter", "value"],
        )
    )
    params = tp.to_spark(spark, series.select("series_id").distinct())
    wide = apply_ruleset(series, rs, params=params)
    plan = fmt_plan(wide)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_window_rules_share_one_exchange(spark):
    """Stacked lag/window rules on the same series all plan over ONE
    hashpartitioning(series_id) exchange — the canonical-window-spec
    promise (functions/ts.py:series_window)."""
    series = make_series_df(spark, np.arange(30.0))
    rs = SparkRuleSet("w")
    rs.add_rule("grad", "rule_max_gradient", apply_to=0,
                kwargs={"max_step": 2.0})
    rs.add_rule("diff", "rule_diff_ufunc_threshold", apply_to=1,
                kwargs={"ufunc": ("greater",), "threshold": 1.5})
    wide = apply_ruleset(series, rs)
    plan = fmt_plan(wide)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, f"{n_exchanges} series exchanges:\n{plan}"


def test_pastas_bounds_subtree_executes_once(spark, seq_parquet, tmp_path):
    """The full pastas-PI adapter (smoothing + min_ci widening + bandwidth
    delegation) must scan its bounds source exactly ONCE in the physical
    plan — round 2 left a residual 2x re-execution (one alignment pass per
    bound); the joint bounds= path collapses it."""
    from traval_spark.operators import rules as R

    bpath = str(tmp_path / "bounds")
    idx = pd.date_range("2024-01-01", freq="h", periods=200)
    pd_b = pd.DataFrame({
        "series_id": "s1", "ts": idx,
        "lower": np.sin(np.arange(200) / 10.0) - 2.0,
        "upper": np.sin(np.arange(200) / 10.0) + 2.0,
    })
    spark.createDataFrame(pd_b).write.mode("overwrite").parquet(bpath)
    series = make_series_df(spark, np.zeros(200), start="2024-01-01",
                            freq="h")
    out = R.rule_pastas_outside_pi(
        series, "value", "r",
        bounds=spark.read.parquet(bpath),
        smoothfreq="1D", min_ci=0.5,
    )
    plan = fmt_plan(out)
    # the series side is an in-memory relation, so every parquet scan node
    # in the plan is the bounds table ("(N) Scan parquet" detail headers)
    n_scans = sum(
        1 for ln in plan.splitlines()
        if ln.strip().startswith("(") and "Scan parquet" in ln
        and ln.strip().split(")")[0].lstrip("(").isdigit()
    )
    assert n_scans == 1, f"bounds scanned {n_scans}x:\n{plan}"


def test_unpack_tier_adds_no_exchange(spark, tmp_path):
    """Gorilla blocks are self-contained rows: decode must be row-local
    mapInPandas over the scan's own partitioning — any Exchange between
    the packed scan and the decode would re-shuffle 100 TB for nothing."""
    from traval_spark.compress import pack_tier, unpack_tier
    from traval_spark.rollup import rollup_raw

    src = spark.createDataFrame(
        pd.DataFrame({
            "source": "s0",
            "ts": pd.date_range("2024-01-01", freq="min", periods=500),
            "n_tok": np.arange(500, dtype=float),
        })
    )
    ppath = str(tmp_path / "packed")
    pack_tier(rollup_raw(src, "1m")).write.parquet(ppath)
    plan = fmt_plan(unpack_tier(spark.read.parquet(ppath)))
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan


def test_threshold_sweep_single_scan_partial_agg(spark, seq_parquet):
    """The K-threshold ROC sweep must read its input ONCE (one scan, the
    K-way expansion is a Generate over a literal array) and aggregate
    with map-side partial aggregation before the single exchange."""
    from traval_spark.comparison import threshold_sweep

    base = spark.read.parquet(seq_parquet).select(
        F.col("source").alias("series_id"), "ts",
        F.col("n_tok").cast("double").alias("value"),
    )
    truth = base.withColumn(
        "value", F.when(F.col("value") > 5, F.lit(None)).otherwise(
            F.col("value")),
    )
    sweep = threshold_sweep(base, truth, [2.0, 4.0, 6.0])
    plan = fmt_plan(sweep)
    n_scans = sum(
        1 for ln in plan.splitlines()
        if ln.strip().startswith("(") and "Scan parquet" in ln
    )
    assert n_scans == 2, plan  # base + truth leg, each scanned once
    assert "Generate" in plan, plan
    # partial then final aggregate: HashAggregate appears on both sides
    # of an exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_whole_stage_codegen_covers_mask_pipeline(spark, seq_parquet):
    """Threshold-rule mask evaluation stays inside WholeStageCodegen
    (JVM, vectorizable) — no Python/BatchEvalPython node anywhere.
    Driven from a parquet scan: a driver-local relation constant-folds
    to LocalTableScan and shows no codegen at all."""
    series = spark.read.parquet(seq_parquet).select(
        F.col("source").alias("series_id"), "ts",
        F.col("n_tok").cast("double").alias("value"),
    )
    rs = SparkRuleSet("c")
    rs.add_rule("hm", "rule_hardmax", apply_to=0, kwargs={"threshold": 10.0})
    rs.add_rule("both", "rule_combine_nan_or", apply_to=(0, 1))
    wide = apply_ruleset(series, rs)
    plan = fmt_plan(wide)
    # formatted mode marks whole-stage-codegen operators with a '*'
    assert "* Project" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpch_join_chain_broadcasts_dims(spark):
    """The 6-table regional-revenue chain must broadcast every dimension
    (supplier/customer/nation/region) — a shuffled sort-merge join on a
    tiny dim would be the classic fleet-scale bug — and the top-orders
    query must plan its top-10 as TakeOrderedAndProject, not a global
    sort."""
    import __spark_entry__ as em

    plan = fmt_plan(em.queries()["tpch_regional_revenue"](
        spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") >= 4, plan

    plan3 = fmt_plan(em.queries()["tpch_top_orders"](
        spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan3, plan3

    # Q4-shape: the EXISTS must plan as a real semi join (one output row
    # per qualifying order, no duplicate-key inflation + distinct)
    plan4 = fmt_plan(em.queries()["tpch_late_orders"](
        spark, "/root/testdata/sf0.001"))
    assert "LeftSemi" in plan4, plan4

    # Q10-shape: customer + nation dims broadcast, top-20 as
    # TakeOrderedAndProject (never a global sort of the agg output)
    plan10 = fmt_plan(em.queries()["tpch_returned_revenue"](
        spark, "/root/testdata/sf0.001"))
    assert plan10.count("BroadcastHashJoin") >= 2, plan10
    assert "TakeOrderedAndProject" in plan10, plan10

    # Q14-shape: part dim broadcast into the one-month lineitem scan
    plan14 = fmt_plan(em.queries()["tpch_promo_share"](
        spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan14, plan14
    assert "SortMergeJoin" not in plan14, plan14


def test_tpch_round2_plan_shapes(spark):
    """Q13/Q17/Q18/Q19/Q22-shape plan contracts: aggregates pushed
    below joins, dims broadcast, disjunction envelopes reaching the
    parquet scan, the anti join planned as LeftAnti."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    # Q13: orders collapse to (custkey, count) BEFORE the left join —
    # a partial_count must exist upstream of the join
    plan13 = fmt_plan(em.queries()["tpch_cust_dist"](spark, sf))
    assert "partial_count" in plan13, plan13

    # Q17: brand-filtered part dim broadcast; the correlated avg is a
    # window, never a re-join of an aggregate
    plan17 = fmt_plan(em.queries()["tpch_small_qty_revenue"](spark, sf))
    assert "BroadcastHashJoin" in plan17, plan17
    assert "SortMergeJoin" not in plan17, plan17
    assert plan17.count("Window") >= 1, plan17

    # Q18: HAVING shrinks lineitem's per-order sums before any join,
    # customer broadcast, top-100 as TakeOrderedAndProject
    plan18 = fmt_plan(em.queries()["tpch_big_orders"](spark, sf))
    assert "partial_sum" in plan18, plan18
    assert "BroadcastHashJoin" in plan18, plan18
    assert "TakeOrderedAndProject" in plan18, plan18

    # Q19: the quantity hull of the disjunction reaches the lineitem
    # parquet scan as a pushed filter; filtered part dim broadcast
    plan19 = fmt_plan(em.queries()["tpch_disjunct_revenue"](spark, sf))
    assert "BroadcastHashJoin" in plan19, plan19
    pushed = [ln for ln in plan19.splitlines()
              if "PushedFilters" in ln and "l_quantity" in ln]
    assert pushed, plan19

    # Q22: no-urgent-order test planned as a real anti join
    plan22 = fmt_plan(em.queries()["tpch_quiet_customers"](spark, sf))
    assert "LeftAnti" in plan22, plan22

    # Q7: both nation-filtered dims broadcast, symmetric-pair OR
    # applied post-join (never a cartesian)
    plan7 = fmt_plan(em.queries()["tpch_nation_volume"](spark, sf))
    assert plan7.count("BroadcastHashJoin") >= 2, plan7
    assert "CartesianProduct" not in plan7, plan7

    # Q8: filtered part + region-resolved customer + supplier-nation
    # lookups all broadcast; share is one conditional aggregate
    plan8 = fmt_plan(em.queries()["tpch_market_share"](spark, sf))
    assert plan8.count("BroadcastHashJoin") >= 3, plan8

    # Q15: per-supplier totals partial-aggregate; the == MAX test is a
    # 1-row broadcast (Catalyst pushes the equality filter INTO the
    # cross, planning BroadcastHashJoin Cross — never a shuffle of the
    # totals against one row)
    plan15 = fmt_plan(em.queries()["tpch_top_supplier"](spark, sf))
    assert "partial_sum" in plan15, plan15
    assert ("BroadcastNestedLoopJoin" in plan15
            or "BroadcastHashJoin Cross" in plan15), plan15
    assert "SortMergeJoin" not in plan15, plan15


def test_hist_cascade_is_codegen_partial_agg(spark, seq_parquet):
    """The histogram tier path must be pure whole-stage-codegen hash
    aggregation (no ObjectHashAggregate — nothing collects), with the
    scan pruned to (n_tok, source, ts) and partial (map-side) aggs
    before each exchange."""
    from traval_spark.hist import hist_cascade, hist_tier

    raw = spark.read.parquet(seq_parquet)
    plan = fmt_plan(hist_cascade(hist_tier(raw, "1m"), "1h"))
    assert "ObjectHashAggregate" not in plan
    assert "partial_count" in plan and "partial_sum" in plan
    scan = plan[plan.index("Scan parquet"):]
    schema_line = next(ln for ln in scan.splitlines()
                       if ln.startswith("ReadSchema"))
    assert "tokens" not in schema_line and "doc_id" not in schema_line


def test_kmv_tier_prunes_scan_and_partials(spark, seq_parquet):
    """The KMV sketch path necessarily uses ObjectHashAggregate
    (collect_set state), but it must still partial-aggregate map-side
    (partial_collect_set before the exchange) and prune the token
    payload out of the scan."""
    from traval_spark.sketch import distinct_cascade, distinct_tier

    raw = spark.read.parquet(seq_parquet)
    plan = fmt_plan(distinct_cascade(distinct_tier(raw, "1m", "n_tok"), "1h"))
    assert "partial_collect_set" in plan
    assert "partial_collect_list" in plan
    schema_line = next(ln for ln in plan.splitlines()
                       if ln.startswith("ReadSchema"))
    assert "tokens" not in schema_line and "doc_id" not in schema_line


def test_tpch_q21_shape_and_dsir_resample_plans(spark):
    """Q21-shape: the EXISTS and NOT-EXISTS self-joins must plan as a
    real LeftSemi and LeftAnti (no duplicate-row inflation), both
    keyed on l_orderkey, with supplier/nation as broadcast dims and
    the top-100 as TakeOrderedAndProject; dsir_resample's global
    top-k must also lower to TakeOrderedAndProject (per-partition
    heaps, k-bounded driver merge, no global sort)."""
    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    plan21 = fmt_plan(em.queries()["tpch_waiting_supplier"](spark, sf))
    assert "LeftSemi" in plan21, plan21
    assert "LeftAnti" in plan21, plan21
    assert "BroadcastHashJoin" in plan21, plan21
    assert "TakeOrderedAndProject" in plan21, plan21

    planr = fmt_plan(em.queries()["dsir_resample"](spark, sf))
    assert "TakeOrderedAndProject" in planr, planr


def test_dsir_resample_is_gumbel_topk_without_replacement(spark):
    """The k largest (logw + Gumbel(id,seed)) keys: matches a pure-
    Python replay on a hand frame (including the key values at the
    9dp fence), returns min(k, n) distinct rows, and favors heavier
    logw stochastically — a +inf-dominant weight is always selected."""
    import hashlib
    import math
    from traval_spark.operators.sampling import dsir_resample

    rows = [(i, float((i * 13) % 7) - 3.0) for i in range(50)]
    rows[17] = (17, 80.0)  # dominant importance weight
    w = spark.createDataFrame(rows, "doc_id bigint, logw double")
    got = dsir_resample(w, k=10, seed=3).collect()
    assert len(got) == 10
    assert len({r["doc_id"] for r in got}) == 10

    def key(did, lw):
        u = int(hashlib.md5(f"3|{did}".encode()).hexdigest()[:8],
                16) / 4294967296.0
        return round(lw + (-math.log(-math.log(u))), 9)

    exp = sorted(((key(d, lw), d) for d, lw in rows),
                 key=lambda t: (-t[0], t[1]))[:10]
    assert [(r["gumbel_key"], r["doc_id"]) for r in got] == exp
    assert any(r["doc_id"] == 17 for r in got)


def test_entry_reads_take_the_footer_schema(spark):
    """The entry module reads its tables with the schema converted from
    the parquet footer (no inference job): for every table of the sf0.01
    testdata (a sibling of the checkout) it equals Spark's inferred
    schema."""
    import os

    import __spark_entry__ as em

    sf = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "testdata", "sf0.01")
    if not os.path.isdir(sf):
        pytest.skip("sf0.01 testdata not present")
    tables = sorted(t for t in os.listdir(sf) if t.endswith(".parquet"))
    assert len(tables) >= 10
    for t in tables:
        path = os.path.join(sf, t)
        assert em._read(spark, path).schema == \
            spark.read.parquet(path).schema, t


def _check_entry_tool():
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "check_entry.py")
    spec = importlib.util.spec_from_file_location("check_entry", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    return tool


def test_check_entry_rejects_unknown_query_names(monkeypatch, capsys):
    """tools/check_entry.py exits non-zero and names a query it does not
    know, before it starts a Spark session (a typo must not read as a
    green gate)."""
    import sys

    import traval_spark.session

    tool = _check_entry_tool()

    def no_session(*a, **k):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(traval_spark.session, "get_spark", no_session)
    monkeypatch.setattr(sys, "argv", [
        "check_entry.py", "/nonexistent", "swing_compress", "no_such_query"])
    assert tool.main() != 0
    err = capsys.readouterr().err
    assert "no_such_query" in err and "swing_compress" not in err


def test_check_entry_pairs_rows_on_exact_columns():
    """Rows whose float columns differ in the last ulp pair up by their
    exact columns: the lm_score shape (doc_id, avg_logp) with two
    near-tied scores matches, and a real value difference still fails."""
    import pandas as pd

    tool = _check_entry_tool()
    spark_side = pd.DataFrame({"doc_id": [1, 2],
                               "avg_logp": [-2.0000000000000004, -2.0]})
    oracle = pd.DataFrame({"doc_id": [1, 2],
                           "avg_logp": [-2.0, -2.0000000000000004]})
    assert tool.compare(spark_side, oracle) is None
    oracle.loc[0, "avg_logp"] = -2.5
    assert tool.compare(spark_side, oracle) is not None
