"""Per-query profiler: phase split (plan build vs execution) + top
stages from the UI REST API.

Usage: python scripts/profile_query.py <query> [<query> ...]

Runs each query the way bench.py does (warm pass, then a timed pass)
but reports where the time goes:
  - build_s: constructing the DataFrame (includes knob-derivation jobs
    and eager track_persist counts)
  - write_s: the noop write of the final plan
  - top stages of the timed pass by duration, with task time, shuffle
    read/write and input bytes (UI REST, local session)

NOT a bench replacement — numbers here carry UI overhead; use bench.py
for before/after walls.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path) as r:
        return json.loads(r.read())


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))

    from pyspark.sql import SparkSession

    from flink_spark.registry import release_persisted, spark_queries
    from flink_spark.session import _RUNTIME_CONFS

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("flink_spark-profile")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    qs = spark_queries()
    base = spark.sparkContext.uiWebUrl + "/api/v1/applications/" + \
        spark.sparkContext.applicationId

    for name in names:
        # warm pass (codegen + page cache)
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        release_persisted()
        before_stages = {s["stageId"] for s in _rest(base, "/stages")}
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        t1 = time.time()
        df.write.mode("overwrite").format("noop").save()
        t2 = time.time()
        release_persisted()
        stages = [s for s in _rest(base, "/stages")
                  if s["stageId"] not in before_stages
                  and s["status"] == "COMPLETE"]
        stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
        print(f"\n=== {name}: build={t1-t0:.2f}s write={t2-t1:.2f}s "
              f"total={t2-t0:.2f}s stages={len(stages)}")
        # per-job wall: actions map 1:1 to jobs; wall gaps between jobs
        # are driver-side (planning, py4j, collect handling)
        from datetime import datetime, timezone

        def ts(v):
            if not v:
                return None
            return datetime.strptime(
                v.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
            ).timestamp()

        jobs = [j for j in _rest(base, "/jobs")
                if ts(j["submissionTime"]) >= t0 - 0.05]
        jobs.sort(key=lambda j: j["jobId"])
        prev_end = t0
        drv_gap = 0.0
        for j in jobs:
            sub, comp = ts(j["submissionTime"]), ts(j.get("completionTime"))
            if comp is None:
                continue
            drv_gap += max(0.0, sub - prev_end)
            prev_end = max(prev_end, comp)
            if comp - sub >= 0.15:
                print(f"  job {j['jobId']:>4} wall={comp-sub:6.2f}s "
                      f"stages={len(j['stageIds'])} {(j.get('description') or j.get('name') or '')[:60]}")
        drv_gap += max(0.0, t2 - prev_end)
        print(f"  driver-side gap (no job running): {drv_gap:.2f}s "
              f"of {t2-t0:.2f}s")
        for s in stages[:12]:
            dur = (s.get("executorRunTime") or 0) / 1000.0
            print(f"  stage {s['stageId']:>4} taskTime={dur:7.1f}s "
                  f"tasks={s['numCompleteTasks']:>4} "
                  f"in={s.get('inputBytes', 0)/2**20:8.1f}M "
                  f"sr={s.get('shuffleReadBytes', 0)/2**20:8.1f}M "
                  f"sw={s.get('shuffleWriteBytes', 0)/2**20:8.1f}M  "
                  f"{(s.get('name') or '')[:70]}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
