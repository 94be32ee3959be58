"""Self-tests: every correctness check of the benchmark can fail.

    python3 perfbench/selftest.py

Each case feeds a check a correct output, which must pass, and the same
output with one defect planted (a row dropped, a sum perturbed, a count
off by one), which must be reported as a failed operation. Needs no
Spark session; runs in about a second.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
from run import Ctx  # noqa: E402

CASES = []


def case(fn):
    CASES.append(fn)
    return fn


def body(data) -> bytes:
    return json.dumps({"status": 0, "msg": "", "data": data}).encode()


@case
def dashboard_row_dropped():
    from pyspark.sql import Row

    from flink_spark import serving

    name, shape = serving.ENDPOINTS["/gmall/realtime/trade/provinceOrderCt"]
    rows = [Row(province_name=f"NATION_{i}", order_count=10 + i,
                order_amount=100.5 * i) for i in range(5)]
    want = shape(rows)
    good = body(list(reversed(want)))      # order of records is free
    bad = body(want[:-1])
    return checks.envelope(good, want, name), checks.envelope(bad, want, name)


@case
def dashboard_scalar_perturbed():
    want = 12965238.7
    return (checks.envelope(body(want + 1e-9), want, "total"),
            checks.envelope(body(want + 0.01), want, "total"))


@case
def dashboard_error_envelope():
    want = [{"date_id": "2024-01-01", "uv": 3}]
    bad = json.dumps({"status": 1, "msg": "boom", "data": None}).encode()
    return checks.envelope(body(want), want, "uv"), checks.envelope(
        bad, want, "uv")


@case
def dashboard_bar_series_reordered():
    want = {"categories": ["a", "b"], "series": [{"name": "uv",
                                                  "data": [1, 2]}]}
    bad = {"categories": ["a", "b"], "series": [{"name": "uv",
                                                 "data": [2, 1]}]}
    return checks.same(want, want, "bar"), checks.same(bad, want, "bar")


@case
def rollup_sum_perturbed():
    want = [("click", 60000, 12.5, 2), ("view", 60000, 7.25, 1),
            ("view", 120000, 3.0, 1)]
    bad = copy.deepcopy(want)
    bad[1] = ("view", 60000, 7.26, 1)
    return (checks.same_rows(list(reversed(want)), want, "rollup"),
            checks.same_rows(bad, want, "rollup"))


@case
def dwd_latest_row_stale():
    want = [(7, 1_000_000, 1, "click", 2.5, '{"k": 1}'),
            (9, 2_000_000, 2, "view", 1.0, '{"k": 2}')]
    bad = [want[0], (8, 1_500_000, 2, "view", 4.0, '{"k": 3}')]
    return (checks.same_rows(want, want, "dwd"),
            checks.same_rows(bad, want, "dwd"))


def _windows():
    # (stt, edt, key, pv, amount, end_ms)
    return [("00:00:00", "00:00:10", "click", 2, 3.0, 10_000),
            ("00:00:10", "00:00:20", "view", 1, 1.5, 20_000),
            ("00:00:20", "00:00:30", "click", 1, 2.0, 30_000)]


@case
def tumble_window_dropped():
    exp = _windows()
    emitted = [r[:5] for r in exp[:2]]
    return (checks.tumble(emitted, exp, 20_000, 4, 1),
            checks.tumble(emitted[:1], exp, 20_000, 4, 1))


@case
def tumble_events_unaccounted():
    exp = _windows()
    emitted = [r[:5] for r in exp[:2]]
    return (checks.tumble(emitted, exp, 20_000, 4, 1),
            checks.tumble(emitted, exp, 20_000, 5, 1))


@case
def tumble_open_state_mismatch():
    exp = _windows()
    emitted = [r[:5] for r in exp[:2]]
    return (checks.tumble(emitted, exp, 20_000, 4, 1),
            checks.tumble(emitted, exp, 20_000, 4, 2))


@case
def daily_unique_double_emit():
    detail = [(1, "2024-01-01"), (2, "2024-01-01"), (1, "2024-01-02")]
    want = [("2024-01-01", 2), ("2024-01-02", 1)]
    bad = detail + [(1, "2024-01-02")]
    return (checks.daily_unique(detail, want),
            checks.daily_unique(bad, want))


def _funnel():
    return [{"source": "src1", "total_docs": 14, "quality_docs": 14,
             "exact_unique": 14, "neardup_kept": 13, "clean_docs": 4,
             "survivor_docs": 4, "mix_quota": 4, "mix_kept": 4,
             "train_docs": 4, "val_docs": 0, "cluster_split_docs": 0,
             "kept_tokens": 217, "n_contexts": 1}]


@case
def curation_funnel_perturbed():
    want = _funnel()
    bad = copy.deepcopy(want)
    bad[0]["kept_tokens"] += 1
    return checks.same(want, want, "funnel"), checks.same(bad, want, "funnel")


@case
def curation_conservation_broken():
    good = _funnel()
    bad = copy.deepcopy(good)
    bad[0]["val_docs"] = 1                 # train + val exceeds kept
    return checks.conservation(good, "f"), checks.conservation(bad, "f")


@case
def curation_stage_grows():
    good = _funnel()
    bad = copy.deepcopy(good)
    bad[0]["survivor_docs"] = 5            # more survivors than clean docs
    return checks.conservation(good, "f"), checks.conservation(bad, "f")


def main() -> int:
    args = argparse.Namespace(seed=0, seconds=1, trace=0, cpus=1)
    ctx = Ctx(args, root="", data="", tracer=None)
    bad = []
    for fn in CASES:
        good_errs, bad_errs = fn()
        ok_good = ctx.op(good_errs)
        ok_bad = ctx.op(bad_errs)
        if not ok_good or ok_bad:
            bad.append(f"{fn.__name__}: correct output -> {good_errs}; "
                       f"planted defect -> {bad_errs}")
    if ctx.failed != len(CASES) or bad:
        print("selftest FAILED:\n  " + "\n  ".join(bad))
        return 1
    print(f"selftest ok: {len(CASES)} checks pass on correct output and "
          f"report the planted defect as a failed operation "
          f"({ctx.failed} of {ctx.attempted} operations failed)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
