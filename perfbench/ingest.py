"""``ingest``: the DWD -> DWS path of the reference warehouse.

The ``events`` fixture is cut once per run into time-ordered parquet
slices (``streaming.replay_events``, one slice per micro-batch). One
unit is a drained pass (``availableNow``) of four streaming queries,
each with fresh checkpoints and sinks:

- ``tumble``: ``streaming.tumble_stream(sdf, "event_type")``, the 10 s
  DWS window, into a memory sink;
- ``daily_unique``: ``streaming.daily_unique_stream`` (Python keyed
  state), into a memory sink;
- ``dwd_upsert``: ``streaming.upsert_sink(keys=["user_id"],
  changelog=True)``, the DWD latest-row-per-user table;
- ``dws_changelog``: ``streaming.changelog_agg_stream`` over that
  table's changelog, the DWS rollup per event_type x minute.

They run one after another so each query's CPU is its own. The unit's
wall time and CPU cover the four queries from ``start`` to the end of
``awaitTermination``; reading the outputs back for the checks is not
timed.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import checks
from layers import STREAM_QUERIES
from statistics import median

SLICES = 2


def expected(data: str) -> dict[str, list]:
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{os.path.join(data, 'events.parquet')}'")
    con.execute("SET TimeZone = 'UTC'")
    out = {
        "n": con.execute("SELECT COUNT(*) FROM events").fetchone()[0],
        "tumble": con.execute("""
            SELECT strftime(w, '%Y-%m-%d %H:%M:%S'),
                   strftime(w + INTERVAL 10 SECOND, '%Y-%m-%d %H:%M:%S'),
                   event_type, COUNT(*),
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
                   epoch_ms(w + INTERVAL 10 SECOND)
            FROM (SELECT time_bucket(INTERVAL 10 SECOND, ts) AS w, *
                  FROM events)
            GROUP BY w, event_type""").fetchall(),
        "daily": con.execute("""
            SELECT strftime(ts, '%Y-%m-%d'), COUNT(DISTINCT user_id)
            FROM events GROUP BY 1""").fetchall(),
        "latest": con.execute("""
            SELECT event_id, epoch_us(ts), user_id, event_type, value, props
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                               ORDER BY ts DESC, event_id DESC)
                            AS rn FROM events)
            WHERE rn = 1""").fetchall(),
        "rollup": con.execute("""
            SELECT event_type, epoch_ms(date_trunc('minute', ts)), SUM(value),
                   COUNT(*)
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                               ORDER BY ts DESC, event_id DESC)
                            AS rn FROM events)
            WHERE rn = 1 GROUP BY 1, 2""").fetchall(),
    }
    con.close()
    return out


def _epoch_ms(iso: str) -> int:
    t = dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def run(ctx) -> None:
    from pyspark.sql import functions as F

    from flink_spark import streaming

    spark, tr = ctx.spark, ctx.tracer
    want = expected(ctx.data)
    with tr.span("replay_events"):
        sdf = streaming.replay_events(
            spark, ctx.data, os.path.join(ctx.root, "slices"), slices=SLICES)
    per_query = {q: {"cpu_s": [], "batch": [], "add": [], "wal": [],
                     "plan": [], "state_rows": [], "state_bytes": []}
                 for q in STREAM_QUERIES}

    def minute(df):
        return df.withColumn("minute", F.date_trunc("minute", "ts"))

    def one_pass(i: int, timed: bool) -> None:
        base = os.path.join(ctx.root, f"pass{i + 1}")
        dwd, dws = os.path.join(base, "dwd"), os.path.join(base, "dws")
        mem = {"tumble": f"tumble_{i + 1}", "daily_unique": f"daily_{i + 1}"}
        writers = {
            "tumble": lambda: streaming.tumble_stream(sdf, "event_type")
            .writeStream.format("memory").queryName(mem["tumble"])
            .outputMode("append"),
            "daily_unique": lambda: streaming.daily_unique_stream(sdf)
            .writeStream.format("memory").queryName(mem["daily_unique"])
            .outputMode("append"),
            "dwd_upsert": lambda: streaming.upsert_sink(
                sdf, dwd, keys=["user_id"], order_cols=["ts", "event_id"],
                changelog=True),
            "dws_changelog": lambda: streaming.changelog_agg_stream(
                spark, dwd, ["event_type", "minute"], ["value"], dws,
                derive=minute),
        }
        progress, cpu = {}, {}
        c0, t0 = ctx.cpu(), time.time()
        with tr.span("pass", timed=timed):
            for q in STREAM_QUERIES:
                q0 = ctx.cpu()
                with tr.span(f"streaming.{q}"):
                    query = (writers[q]()
                             .option("checkpointLocation",
                                     os.path.join(base, f"ckpt_{q}"))
                             .trigger(availableNow=True).start())
                    query.awaitTermination()
                progress[q] = query.recentProgress
                cpu[q] = sum(ctx.cpu().values()) - sum(q0.values())
        c1, t1 = ctx.cpu(), time.time()
        if not timed:
            for name in mem.values():
                spark.catalog.dropTempView(name)
            return

        # checks, untimed: read every output back and compare
        tum = spark.table(mem["tumble"]).collect()
        last = progress["tumble"][-1]
        wm = _epoch_ms(last["eventTime"]["watermark"])
        open_rows = sum(s["numRowsTotal"] for s in last["stateOperators"])
        ctx.op(checks.tumble([tuple(r) for r in tum], want["tumble"], wm,
                             want["n"], open_rows))
        daily = spark.table(mem["daily_unique"]).collect()
        ctx.op(checks.daily_unique([tuple(r) for r in daily], want["daily"]))
        table = streaming.read_upsert_table(spark, dwd).select(
            "event_id", F.unix_micros("ts"), "user_id", "event_type",
            "value", "props").collect()
        ctx.op(checks.same_rows(table, want["latest"], "dwd latest per user"))
        state = streaming.read_agg_state(spark, dws).select(
            "event_type", F.unix_millis("minute"), "value_sum",
            "row_ct").collect()
        ctx.op(checks.same_rows(state, want["rollup"], "dws rollup"))
        for name in mem.values():
            spark.catalog.dropTempView(name)
        ctx.unit(t1 - t0, c0, c1, t0, t1)
        for q in STREAM_QUERIES:
            d = [p["durationMs"] for p in progress[q]]
            s = per_query[q]
            s["cpu_s"].append(cpu[q])
            s["batch"].extend(x.get("triggerExecution", 0) for x in d)
            s["add"].extend(x.get("addBatch", 0) for x in d)
            s["wal"].extend(x.get("walCommit", 0) for x in d)
            s["plan"].extend(x.get("queryPlanning", 0) for x in d)
            ops = progress[q][-1].get("stateOperators") or []
            s["state_rows"].append(sum(o["numRowsTotal"] for o in ops))
            s["state_bytes"].append(sum(o["memoryUsedBytes"] for o in ops))
        per_query["dwd_upsert"]["state_rows"][-1] = len(table)
        per_query["dwd_upsert"]["state_bytes"][-1] = _dir_bytes(dwd)
        per_query["dws_changelog"]["state_rows"][-1] = len(state)
        per_query["dws_changelog"]["state_bytes"][-1] = _dir_bytes(dws)

    one_pass(-1, timed=False)
    ctx.timed_loop(lambda i: one_pass(i, timed=True))

    n, units = want["n"], ctx.units
    batches = [b for s in per_query.values() for b in s["batch"]]
    ctx.report.update({
        "events_per_pass": n,
        "ingest_events_per_s": n / median([u["wall_s"] for u in units]),
        "ingest_cpu_us_per_event":
            median([u["cpu_s"] for u in units]) / n * 1e6,
        "ingest_batch_p50_ms": median(batches),
        "ingest_batch_max_ms": max(batches),
        "ingest_batch_samples": len(batches),
    })
    for q, s in per_query.items():
        pre = f"streaming.{q}."
        ctx.layers[pre + "batch_p50_ms"] = median(s["batch"])
        ctx.layers[pre + "cpu_s"] = median(s["cpu_s"])
        ctx.layers[pre + "add_batch_ms"] = median(s["add"])
        ctx.layers[pre + "wal_commit_ms"] = median(s["wal"])
        ctx.layers[pre + "query_planning_ms"] = median(s["plan"])
        ctx.layers[pre + "state_rows"] = median(s["state_rows"])
        ctx.layers[pre + "state_bytes"] = median(s["state_bytes"])
