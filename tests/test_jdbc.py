"""Real-database tests for the JDBC surfaces (S5 source, K4 sink).

Derby embedded ships inside the Spark distribution (derby*.jar on the
classpath) and runs in-process — no server, no extra deps — so the
JDBC code paths run for real here: schema round-trip, partitioned
parallel reads with min/max bounds, and the streaming foreachBatch
JDBC append. Swapping Derby for MySQL/ClickHouse changes only the url
and driver options.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_spark.sources import jdbc_dim, load
from flink_spark.streaming import replay_events
from flink_spark.streaming.sinks import foreach_batch_sink

from conftest import SF_DIR


def _url(tmp_path, name):
    return f"jdbc:derby:{tmp_path}/{name};create=true"


def test_jdbc_dim_partitioned_read_and_broadcast_join(spark, tmp_path):
    """S5: write the nation dim into Derby, snapshot it back through
    jdbc_dim with a partitioned read, broadcast-join it to customers —
    results must equal the pure-parquet computation."""
    url = _url(tmp_path, "dimdb")
    nation = load(spark, SF_DIR, "nation")
    nation.write.format("jdbc").option("url", url).option(
        "dbtable", "nation_dim"
    ).mode("overwrite").save()

    dim = jdbc_dim(
        spark, url, "nation_dim", partition_column="n_nationkey", num_partitions=4
    )
    assert dim.rdd.getNumPartitions() == 4  # the read actually parallelized
    cust = load(spark, SF_DIR, "customer")

    def rollup(d):
        return sorted(
            tuple(r)
            for r in cust.join(F.broadcast(d), cust.c_nationkey == d.n_nationkey)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("ct"))
            .collect()
        )

    assert rollup(dim.select("n_nationkey", "n_name")) == rollup(
        nation.select("n_nationkey", "n_name")
    )


def test_jdbc_foreach_batch_sink_appends(spark, tmp_path):
    """K4: stream the events fixture through foreach_batch_sink into a
    Derby table; the table must end up with every event exactly once."""
    url = _url(tmp_path, "sinkdb")
    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=3)
    out = sdf.select("event_id", "user_id", "event_type")

    def writer(df, _epoch):
        df.write.format("jdbc").option("url", url).option(
            "dbtable", "events_sink"
        ).mode("append").save()

    q = (
        foreach_batch_sink(out, writer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = (
        spark.read.format("jdbc").option("url", url)
        .option("dbtable", "events_sink").load()
    )
    ev = load(spark, SF_DIR, "events")
    assert back.count() == ev.count()
    assert back.select("event_id").distinct().count() == ev.count()
    got = sorted(tuple(r) for r in back.collect())
    want = sorted(
        tuple(r) for r in ev.select("event_id", "user_id", "event_type").collect()
    )
    assert got == want


def test_jdbc_exactly_once_sink_survives_replay(spark, tmp_path):
    """K4 hardened: the staged-transaction sink applies each epoch
    exactly once. A full re-delivery of every epoch (fresh consumer
    checkpoint, same batch slicing) must leave the target untouched —
    the epoch ledger makes replays no-ops, where the plain append sink
    would double every row."""
    from flink_spark.streaming import jdbc_exactly_once_sink

    url = _url(tmp_path, "oncedb")
    out_cols = ["event_id", "user_id", "event_type"]

    def run(ckpt):
        sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"),
                            slices=3)
        q = (
            jdbc_exactly_once_sink(
                sdf.select(*out_cols), url, "events_once"
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(str(tmp_path / "ckpt_a"))
    back = (
        spark.read.format("jdbc").option("url", url)
        .option("dbtable", "events_once").load()
    )
    ev = load(spark, SF_DIR, "events")
    assert back.count() == ev.count()

    # simulate a crash that landed AFTER epoch 1's ledger commit but
    # BEFORE its staging DROP: the stage table is left behind, and no
    # later attempt of that epoch reaches the happy-path DROP
    _exec_sql(spark, url,
              "CREATE TABLE events_once_STAGE_1 (leak INT)")

    # replay everything from a fresh checkpoint: ledger skips all epochs
    run(str(tmp_path / "ckpt_b"))
    back = (
        spark.read.format("jdbc").option("url", url)
        .option("dbtable", "events_once").load()
    )
    assert back.count() == ev.count()
    got = sorted(tuple(r) for r in back.collect())
    want = sorted(tuple(r) for r in ev.select(*out_cols).collect())
    assert got == want
    # staging debris cleaned up — including the crash-leaked stage
    # table, swept by the replay's ledger-hit path
    with pytest.raises(Exception):
        (
            spark.read.format("jdbc").option("url", url)
            .option("dbtable", "events_once_STAGE_1").load()
        )
    # ledger holds the three applied epochs
    ledger = (
        spark.read.format("jdbc").option("url", url)
        .option("dbtable", "events_once_EPOCHS").load()
    )
    assert sorted(r[0] for r in ledger.collect()) == [0, 1, 2]


# --- S4: JDBC-incremental CDC capture (snapshot + polling diff) --------

def _exec_sql(spark, url, *stmts):
    """Run raw DDL/DML against Derby through the JVM driver (Spark's
    JDBC writer can't UPDATE/DELETE; a CDC test needs real mutations)."""
    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for s in stmts:
            st.executeUpdate(s)
        st.close()
    finally:
        conn.close()


def test_jdbc_cdc_capture_full_cycle(spark, tmp_path):
    """S4: bootstrap snapshot, then insert/update/delete visibility
    with Maxwell semantics (old = changed columns only), then a quiet
    poll emitting nothing; the envelope epoch dirs replay as a file
    stream in the cdc_envelope_schema shape."""
    from flink_spark.sources.cdc import JdbcCdcCapture
    from flink_spark.streaming.sources import cdc_envelope_schema

    url = _url(tmp_path, "cdcdb")
    _exec_sql(
        spark, url,
        "CREATE TABLE dim_user (id INT PRIMARY KEY, name VARCHAR(32), "
        "city VARCHAR(32))",
        "INSERT INTO dim_user VALUES (1, 'ann', 'rome')",
        "INSERT INTO dim_user VALUES (2, 'bob', 'oslo')",
        "INSERT INTO dim_user VALUES (3, 'cat', 'kiev')",
    )
    cap = JdbcCdcCapture(
        spark, url, "dim_user", pk="id", state_dir=str(tmp_path / "state"),
        database="gmall",
    )
    out = str(tmp_path / "topic_db")

    boot = cap.poll(out).collect()
    assert {r.type for r in boot} == {"bootstrap-insert"}
    assert {r.data["id"] for r in boot} == {"1", "2", "3"}
    assert all(r.old is None for r in boot)

    _exec_sql(
        spark, url,
        "INSERT INTO dim_user VALUES (4, 'dan', 'lima')",
        "UPDATE dim_user SET city = 'bern' WHERE id = 2",
        "DELETE FROM dim_user WHERE id = 3",
    )
    delta = {r.data["id"]: r for r in cap.poll(out).collect()}
    assert len(delta) == 3
    assert delta["4"].type == "insert" and delta["4"].old is None
    assert delta["2"].type == "update"
    # Maxwell old-image: ONLY the changed column, at its previous value
    assert dict(delta["2"].old) == {"city": "oslo"}
    assert delta["2"].data["city"] == "bern"
    assert delta["3"].type == "delete"
    assert delta["3"].data["name"] == "cat"

    # a poll with no changes emits nothing
    assert cap.poll(out).count() == 0
    # retention: the current and the previous snapshot remain
    import os

    snaps = [e for e in os.listdir(tmp_path / "state") if e.startswith("snap-")]
    assert sorted(snaps) == ["snap-1", "snap-2"]

    # the epoch dirs replay as a stream in the envelope schema
    sdf = cap.envelope_stream(out)
    assert sdf.schema == cdc_envelope_schema()
    got = (
        sdf.writeStream.format("memory").queryName("cdc_replay")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    got.processAllAvailable(); got.stop()
    replayed = spark.sql("select * from cdc_replay").collect()
    assert len(replayed) == 6  # 3 bootstrap + 3 changes
    assert {r.type for r in replayed} == {
        "bootstrap-insert", "insert", "update", "delete"
    }


def test_jdbc_cdc_capture_retry_is_idempotent(spark, tmp_path):
    """A crash between envelope write and snapshot commit must re-emit
    the SAME interval into the SAME epoch (at-least-once, idempotent
    overwrite), never skip or double-book it."""
    from flink_spark.sources.cdc import JdbcCdcCapture, _pointer

    url = _url(tmp_path, "cdcdb2")
    _exec_sql(
        spark, url,
        "CREATE TABLE t (id INT PRIMARY KEY, v VARCHAR(8))",
        "INSERT INTO t VALUES (1, 'a')",
    )
    cap = JdbcCdcCapture(
        spark, url, "t", pk="id", state_dir=str(tmp_path / "state")
    )
    out = str(tmp_path / "topic")
    cap.poll(out)
    _exec_sql(spark, url, "UPDATE t SET v = 'b' WHERE id = 1")

    # simulate the crash: envelopes written, snapshot NOT committed
    import os
    import shutil

    gen_before = _pointer(str(tmp_path / "state"))["gen"]
    cap.poll(out)
    # roll the pointer back and delete the snapshot it pointed at —
    # the state a crash mid-poll leaves behind
    shutil.rmtree(str(tmp_path / "state" / f"snap-{gen_before + 1}"))
    import json
    with open(tmp_path / "state" / "_SNAPSHOT", "w", encoding="utf-8") as fh:
        json.dump({"gen": gen_before}, fh)

    redo = cap.poll(out).collect()
    assert len(redo) == 1 and redo[0].type == "update"
    assert dict(redo[0].old) == {"v": "a"}
    # epochs: bootstrap(0) + the re-run interval(1) — no phantom third
    epochs = sorted(e for e in os.listdir(out) if e.startswith("epoch="))
    assert epochs == ["epoch=0", "epoch=1"]
