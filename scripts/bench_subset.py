"""Time a subset of catalog queries with bench.py's discipline.

``python scripts/bench_subset.py <query> [<query> ...]``

Same methodology as bench.py (noop sink, one untimed warm pass, min
over N timed passes, $SPARK_GRAFT_* env contract), restricted to the
named queries — the cheap harness for before/after adjudication of a
single optimization wave without paying the 89-query wall. Prints ONE
JSON line {"queries": {...}, "total_sec": N}.

Caveats (same as bench.py): idle machine only; adjacent sessions when
comparing two builds; min-of-N reads through transient bursts but NOT
session-level drift — treat <10% deltas as noise.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))

    from flink_spark.registry import release_persisted, spark_queries
    from flink_spark.session import get_spark

    spark = get_spark(app_name="flink_spark-bench-subset", cpus=cpus,
                      shuffle_partitions=cpus)
    qs = spark_queries()

    def run(name: str) -> float:
        t0 = time.time()
        try:
            qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        finally:
            release_persisted()
        return time.time() - t0

    for name in names:
        run(name)  # warm
    times: dict[str, float] = {}
    for _ in range(n_runs):
        for name in names:
            t = run(name)
            if name not in times or t < times[name]:
                times[name] = t
    times = {n: round(t, 3) for n, t in times.items()}
    print(json.dumps({"queries": times,
                      "total_sec": round(sum(times.values()), 3)}))


if __name__ == "__main__":
    main()
