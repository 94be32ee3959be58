"""Capture `.explain("formatted")` for headline queries → plans/r15/.

Usage:
    python scripts/capture_plans.py before [query ...]
    python scripts/capture_plans.py after  [query ...]

With no query names, captures every bench headline query. Plans are
captured at $SPARK_GRAFT_SF_DIR (default sf0.1) with the same session
shape as bench.py so the plan the judge reads is the plan the bench
timed. Capture is plan-only (no noop write), but knob-deriving queries
still run their small scalar jobs at plan-build time.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    assert suffix in ("before", "after"), suffix
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))

    from bench import HEADLINE
    from flink_spark.registry import release_persisted, spark_queries
    from flink_spark.session import get_spark

    spark = get_spark(app_name="flink_spark-plans", cpus=cpus,
                      shuffle_partitions=cpus)
    qs = spark_queries()
    if not names:
        names = HEADLINE
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r15",
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # capture the failure, keep going
            plan = f"PLAN CAPTURE FAILED: {exc!r}\n"
        finally:
            release_persisted()
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {len(plan)}B, Exchange x{n_ex} -> {path}",
              flush=True)


if __name__ == "__main__":
    main()
