"""Self-test of the benchmark's own checks and metric names.

    python3 perfbench/selftest.py           # checks only, a few seconds
    python3 perfbench/selftest.py --spark   # plus a perturbed Spark run

Shows that every output check rejects a deliberately perturbed result
and accepts the unperturbed one, and that the metric names the runs
print are exactly those of BENCHMARK.json. With ``--spark`` it also runs
the ``store`` workload at tiny scale with its flagged-row reference off
by one and requires the run to report the failure.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def expect(ok: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def perturbed_checks(failures: list[str]) -> None:
    raw = workloads.frame(inputs.sequences(7, 3_000, 0, 2))
    keys = ["source", "bucket"]
    t1m = checks.rollup(raw, "1m", workloads.CAP)
    cases = {
        "rollup 1h": (checks.cascade(t1m, "1h"),
                      checks.rollup(raw, "1h", workloads.CAP), keys),
        "gap fill": (checks.gap_fill(t1m), checks.gap_fill(t1m.copy()), keys),
        "unpack": (checks.unpacked(t1m, ["sum_tok"]),
                   checks.unpacked(t1m, ["sum_tok"]),
                   ["source", "measure", "bucket"]),
    }
    for name, (got, want, k) in cases.items():
        expect(checks.diff(got, want, k) is None, f"{name}: equal passes",
               failures)
        bad = got.copy()
        col = [c for c in bad.columns if bad[c].dtype.kind in "fi"][0]
        bad.loc[bad.index[len(bad) // 2], col] += 1
        expect(checks.diff(bad, want, k) is not None,
               f"{name}: perturbed {col} fails", failures)
        expect(checks.diff(got.iloc[1:], want, k) is not None,
               f"{name}: missing row fails", failures)

    from tools.check_entry import compare

    a = t1m.head(50).reset_index(drop=True)
    b = a.copy()
    b.loc[3, "sum_tok"] += 1e-6
    expect(compare(a, a.copy()) is None, "oracle compare: equal passes",
           failures)
    expect(compare(a, b) is not None, "oracle compare: perturbed fails",
           failures)


def metric_names(failures: list[str]) -> None:
    spec = run.load_spec()
    e2e = {m["name"] for m in spec["end_to_end"]}
    result = {"e2e": dict.fromkeys(run.E2E, (1.0, "s", 1)), "named": {},
              "layers": {}}
    _m, problems = run.emit(result, spec, trace=False)
    expect(not problems and e2e == set(run.E2E),
           f"end-to-end names match BENCHMARK.json {problems}", failures)
    declared = set(run.ENGINE_LAYERS) | {
        n for w in workloads.WORKLOADS.values() for n in (*w.NAMED, *w.LAYERS)}
    per_layer = {m["name"] for m in spec["per_layer"]}
    expect(declared == per_layer,
           f"per-layer names match BENCHMARK.json "
           f"(extra {sorted(declared - per_layer)}, "
           f"missing {sorted(per_layer - declared)})", failures)
    expect({w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS),
           "workload names match BENCHMARK.json", failures)


def perturbed_run(failures: list[str]) -> None:
    class OffByOne(workloads.Store):
        JOB_ROWS, PER_DAY, LATE_ROWS, STREAM_ROWS = 5_000, 100, 50, 100

        def inputs(self, ctx, d):
            super().inputs(ctx, d)
            self.flagged += 1

    workloads.WORKLOADS["store-offbyone"] = OffByOne
    try:
        r = run.run_workload("store-offbyone", 3, 0.1, False)
    finally:
        del workloads.WORKLOADS["store-offbyone"]
        run.stop_jvm()
        shutil.rmtree(run.process_dir(), ignore_errors=True)
    bad = {c["name"] for c in r["checks"] if not c["ok"]}
    expect("ingest.flagged_points" in bad and r["failed"] > 0,
           f"perturbed store run fails its flagged-row check {sorted(bad)}",
           failures)


def main() -> int:
    failures: list[str] = []
    perturbed_checks(failures)
    metric_names(failures)
    if "--spark" in sys.argv[1:]:
        perturbed_run(failures)
    print(f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
