"""``dashboard``: a dashboard refresh after a data drop.

One unit is a fresh ``serving.serve(spark, data)`` (empty cache) and a
separate client process requesting all ``serving.ENDPOINTS`` routes
once each from ``nproc`` concurrent closed-loop connections. The unit's
wall time runs from the first request sent to the last response
received; its CPU is the server's process tree (the client excluded).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

from pyspark.sql import Row

import checks
from layers import DASHBOARD_QUERIES
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))


def expected_payloads(data: str) -> tuple[dict, dict]:
    """Each route's payload computed from DuckDB: the route's shaper
    applied to the rows of its query's registered oracle SQL; and two
    totals from SQL written here, apart from the registered oracles."""
    from flink_spark import serving
    from flink_spark.registry import all_queries
    from flink_spark.testing import duck_connect

    cat = all_queries()
    con = duck_connect(data)
    rows: dict[str, list] = {}
    out = {}
    for path, (name, shape) in serving.ENDPOINTS.items():
        if name not in rows:
            cur = con.execute(cat[name].oracle)
            cols = [d[0] for d in cur.description]
            rows[name] = [Row(**dict(zip(cols, r))) for r in cur.fetchall()]
        out[path] = json.loads(json.dumps(shape(rows[name]), default=str))
    total = con.execute(
        "SELECT CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE c.c_nationkey IN (SELECT n_nationkey FROM nation)"
    ).fetchone()[0]
    uv = con.execute(
        "SELECT strftime(ts, '%Y-%m-%d') AS date_id, "
        "COUNT(DISTINCT user_id) AS uv FROM events GROUP BY 1"
    ).fetchall()
    con.close()
    own = {"/gmall/realtime/trade/total": total,
           "/gmall/realtime/traffic/uvCt": [{"date_id": d, "uv": n}
                                            for d, n in uv]}
    return out, own


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def run(ctx) -> None:
    from flink_spark import serving
    from flink_spark.registry import all_queries, release_persisted

    spark, tr = ctx.spark, ctx.tracer
    routes = list(serving.ENDPOINTS)
    want, own = expected_payloads(ctx.data)
    client = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "client.py")],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    ctx.exclude = tr.exclude = (client.pid,)
    client.stdin.write(json.dumps(routes) + "\n")
    client.stdin.flush()
    latencies: dict[str, list[float]] = {p: [] for p in routes}
    jobs: list[int] = []

    def load(i: int, timed: bool) -> None:
        j0 = _job_ids(spark)
        c0, t0 = ctx.cpu(), time.time()
        with tr.span("load", timed=timed) as sp:
            with tr.span("serve"):
                server = serving.serve(spark, ctx.data)
            th = threading.Thread(target=server.serve_forever, daemon=True)
            th.start()
            port = server.server_address[1]
            client.stdin.write(f"{port} {ctx.seed * 1000 + i} {ctx.nproc}\n")
            client.stdin.flush()
            line = client.stdout.readline()
            if not line:
                raise RuntimeError("dashboard client exited")
            res = json.loads(line)
            server.shutdown()
            server.server_close()
            th.join()
        c1, t1 = ctx.cpu(), time.time()
        for path in routes:
            r = res["requests"][path]
            if r["status"] != 200:
                ctx.op([f"{path}: HTTP {r['status']}"])
                continue
            errs = checks.envelope(r["body"].encode(), want[path], path)
            if path in own and not errs:
                errs += checks.same(json.loads(r["body"])["data"], own[path],
                                    path + " (benchmark total)")
            ctx.op(errs)
            if sp is not None:
                tr.add("request", r["t0"], r["t1"], sp["id"], path=path)
        if timed:
            for path in routes:
                r = res["requests"][path]
                latencies[path].append((r["t1"] - r["t0"]) * 1000)
            jobs.append(len(_job_ids(spark) - j0))
            ctx.unit(res["last_recv"] - res["first_send"], c0, c1, t0, t1)

    try:
        # untimed warm-up: the first load pays class loading, codegen
        # and most of the JIT (see README.md for the measured curve)
        load(-1, timed=False)
        ctx.timed_loop(lambda i: load(i, timed=True))
    finally:
        client.stdin.close()
        client.wait(timeout=30)

    all_lat = [v for p in routes for v in latencies[p]]
    units = ctx.units
    ctx.report.update({
        "dashboard_load_s": median([u["wall_s"] for u in units]),
        "dashboard_cpu_s": median([u["cpu_s"] for u in units]),
        "route_latency_ms_p50": median(all_lat),
        "route_latency_ms_max": max(all_lat),
        "route_latency_samples": len(all_lat),
        "load_spark_jobs": median(jobs),
    })
    if not ctx.trace:
        return

    ctx.layers["serving.load_spark_jobs"] = median(jobs)
    ctx.layers["serving.load_busy_cores"] = median(
        [u["cpu_s"] / u["wall_s"] for u in units])
    # each distinct query alone, warm, straight through the registry
    cat = all_queries()
    standalone = {}
    for name in DASHBOARD_QUERIES:
        c0, t0 = ctx.cpu(), time.monotonic()
        with tr.span(f"plans.{name}"):
            with tr.span("build"):
                df = cat[name].fn(spark, ctx.data)
            with tr.span("action"):
                df.collect()
            release_persisted()
        wall = (time.monotonic() - t0) * 1000
        standalone[name] = wall
        ctx.layers[f"plans.{name}.wall_ms"] = wall
        ctx.layers[f"plans.{name}.cpu_s"] = sum(ctx.cpu().values()) - sum(
            c0.values())
    queue = [lat - standalone[serving.ENDPOINTS[p][0]]
             for p in routes for lat in latencies[p]]
    ctx.layers["serving.queue_ms_p50"] = median(queue)
