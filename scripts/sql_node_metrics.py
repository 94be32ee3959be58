"""Per-operator metrics for one warm run of each named query.

``python scripts/sql_node_metrics.py <query> [<query> ...]``

Runs each query twice (warm, then measured) in a UI-enabled session and
prints the SQL-tab node metrics of the measured run's save query plus
any localCheckpoint sub-queries: operator name, duration-like metrics
(codegen span durations, python init/run, broadcast collect, shuffle
write/fetch), sorted by cost. The bridge between bench walls and the
physical operators they're spent in — profile_query.py gives the
job/stage view, this gives the operator view.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_UNITS = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0}


def _dur_sec(value: str) -> float | None:
    """Parse the leading total out of a Spark duration metric value."""
    v = value.replace("total (min, med, max (stageId: taskId))\n", "")
    m = re.match(r"^([\d.]+)\s*(ms|s|m|h)\b", v)
    if not m:
        return None
    return float(m.group(1)) * _UNITS[m.group(2)]


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))

    from pyspark.sql import SparkSession

    from flink_spark.registry import release_persisted, spark_queries
    from flink_spark.session import _RUNTIME_CONFS

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("flink_spark-sqlnodes")
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
    base = (spark.sparkContext.uiWebUrl + "/api/v1/applications/"
            + spark.sparkContext.applicationId)

    def rest(path):
        with urllib.request.urlopen(base + path) as r:
            return json.loads(r.read())

    for name in names:
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        release_persisted()
        before = max((x["id"] for x in rest("/sql")), default=-1)
        t0 = time.time()
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        wall = time.time() - t0
        release_persisted()
        rows = []
        nq = 0
        for x in rest(f"/sql?details=true&planDescription=false"
                      f"&offset={before + 1}&length=500"):
            if x["id"] <= before:
                continue
            nq += 1
            for n in x.get("nodes", []):
                for m in n.get("metrics", []):
                    sec = _dur_sec(m["value"])
                    if sec is not None and sec >= 0.05 and (
                        "time" in m["name"] or "duration" in m["name"]
                    ):
                        rows.append(
                            (sec, x["id"], n["nodeId"], n["nodeName"][:46],
                             m["name"])
                        )
        print(f"\n=== {name}: wall={wall:.2f}s sub-queries={nq}")
        for sec, qid, nid, nn, mn in sorted(rows, reverse=True)[:18]:
            print(f"  {sec:7.2f}s q{qid} node {nid:>3} {nn:46s} {mn}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
