"""Stream-batch equivalence: streaming operators converge to the batch
formulations in flink_spark.plans (the oracle semantics)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from flink_spark.registry import all_queries
from flink_spark.streaming import (
    cep_jump_stream,
    daily_unique_stream,
    distinct_users_tumble_stream,
    kafka_payload,
    keyword_tumble_stream,
    read_upsert_table,
    replay_events,
    routed_dim_sink,
    run_to_memory,
    tumble_stream,
    upsert_sink,
)

from conftest import SF_DIR

_Q = all_queries()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumble_stream_equals_batch(spark, tmp_path):
    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=5)
    out = run_to_memory(
        tumble_stream(sdf, "event_type"), "tumble_mem", output_mode="complete"
    )
    batch = _Q["w_tumble_10s_keyed"].fn(spark, SF_DIR)
    assert _rows(out) == _rows(batch)


def test_hop_stream_equals_batch(spark, tmp_path):
    """HOP (sliding) windows stream: tumble_stream with a slide
    converges to w_hop_windows' batch table."""
    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=5)
    out = run_to_memory(
        tumble_stream(
            sdf, "event_type", duration="30 seconds", slide="10 seconds"
        ),
        "hop_mem",
        output_mode="complete",
    ).select("stt", "event_type", "pv", "amount")
    batch = _Q["w_hop_windows"].fn(spark, SF_DIR)
    assert _rows(out) == _rows(batch)


def test_cumulate_stream_equals_batch(spark, tmp_path):
    """CUMULATE stream (chained per-user → per-window stateful aggs,
    append mode) converges to w_cumulate_windows' batch table. A
    far-future flush sentinel advances the watermark past the last
    real cycle so append mode finalizes it; the sentinel's own
    (disjoint, later) windows are dropped by the stt bound."""
    from flink_spark.streaming import cumulate_stream

    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=5,
                        sentinel_users=(1,), sentinel_delay_s=300)
    out = run_to_memory(
        cumulate_stream(sdf), "cumulate_mem", output_mode="append"
    )
    batch = _Q["w_cumulate_windows"].fn(spark, SF_DIR)
    max_stt = batch.agg(F.max("stt")).collect()[0][0]
    got = out.filter(F.col("stt") <= max_stt)
    assert _rows(got) == _rows(batch)


def test_asof_stream_handles_out_of_order_purchase(spark, tmp_path):
    """A purchase arriving late (inside the watermark) after a NEWER
    view must still match the latest view at-or-before its own time —
    the case a naive running-max state gets wrong (negative lag)."""
    import os

    import pandas as pd

    from flink_spark.streaming import asof_stream

    base = pd.Timestamp("2024-01-01 00:00:00")

    def ev(eid, sec, typ):
        return {
            "event_id": eid,
            "ts": base + pd.Timedelta(seconds=sec),
            "user_id": 1,
            "event_type": typ,
            "value": 1.0,
            "props": "{}",
        }

    slices = [
        # batch 1: old view, then a much newer view (the watermark
        # collapses the old one into max_old)
        [ev(1, 10, "view"), ev(2, 100, "view")],
        # batch 2: purchase at t=99 — late vs the t=100 view but inside
        # the 2 s watermark; its answer is the t=10 view, NOT t=100
        [ev(3, 99, "purchase")],
        # flush: advances the watermark past the pending purchase so
        # its event-time timer fires and it finalizes
        [ev(-1, 400, "__flush__")],
    ]
    d = str(tmp_path / "ooo")
    os.makedirs(d)
    for i, rows in enumerate(slices):
        pd.DataFrame(rows).to_parquet(
            f"{d}/{i:04d}.parquet", index=False, coerce_timestamps="us"
        )
    from flink_spark.sources import load

    schema = load(spark, SF_DIR, "events").schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = run_to_memory(asof_stream(sdf), "asof_ooo_mem").collect()
    assert len(out) == 1
    r = out[0]
    assert r["event_id"] == 3
    assert r["view_us"] == int(
        (base + pd.Timedelta(seconds=10)).timestamp() * 1_000_000
    )
    assert r["lag_us"] == 89_000_000


def test_asof_stream_disorder_matches_bruteforce(spark, tmp_path):
    """Deterministic pseudo-random event sequence with bounded (≤2 s)
    arrival disorder across many micro-batches: the streaming as-of
    output must equal the brute-force answer (max view at-or-before
    each purchase) computed in pandas."""
    import hashlib
    import os

    import pandas as pd

    from flink_spark.streaming import asof_stream

    base = pd.Timestamp("2024-01-01 00:00:00")

    def h(i, salt):
        return int.from_bytes(
            hashlib.md5(f"{salt}|{i}".encode()).digest()[:4], "big"
        )

    rows = []
    for i in range(200):
        sec = h(i, "t") % 600  # event time within a 10-minute span
        rows.append(
            {
                "event_id": i,
                "ts": base + pd.Timedelta(seconds=sec),
                "user_id": h(i, "u") % 5,
                "event_type": "view" if h(i, "k") % 3 else "purchase",
                "value": 1.0,
                # arrival order: event time skewed by up to 2 s (the
                # watermark bound) — deterministic md5-derived jitter
                "arrival": sec + (h(i, "j") % 3) - 2,
            }
        )
    pdf = pd.DataFrame(rows).sort_values(["arrival", "event_id"])
    d = str(tmp_path / "disorder")
    os.makedirs(d)
    per = 20
    for s in range(10):
        part = pdf.iloc[s * per:(s + 1) * per].drop(columns=["arrival"])
        part.to_parquet(f"{d}/{s:04d}.parquet", index=False,
                        coerce_timestamps="us")
    # flush slice: advances the watermark so every pending purchase's
    # event-time timer fires and finalizes
    pd.DataFrame(
        [{
            "event_id": -1,
            "ts": base + pd.Timedelta(seconds=1200),
            "user_id": 0,
            "event_type": "__flush__",
            "value": 0.0,
        }]
    ).to_parquet(f"{d}/0010.parquet", index=False, coerce_timestamps="us")
    from flink_spark.sources import load

    schema = load(spark, SF_DIR, "events").schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    got = sorted(
        (r["event_id"], r["view_us"])
        for r in run_to_memory(asof_stream(sdf), "asof_dis_mem").collect()
    )
    # brute force on event time (arrival order is irrelevant to truth)
    us = {r["event_id"]: int(r["ts"].timestamp() * 1_000_000) for r in rows}
    want = []
    for r in rows:
        if r["event_type"] != "purchase":
            continue
        views = [
            us[v["event_id"]]
            for v in rows
            if v["event_type"] == "view"
            and v["user_id"] == r["user_id"]
            and us[v["event_id"]] <= us[r["event_id"]]
        ]
        if views:
            want.append((r["event_id"], max(views)))
    assert got == sorted(want)


def test_asof_stream_equals_batch(spark, tmp_path):
    """Streaming as-of join (O(1) running-max state per user) converges
    to j_asof_nearest's batch table."""
    from flink_spark.streaming import asof_stream

    sdf = replay_events(
        spark,
        SF_DIR,
        str(tmp_path / "replay"),
        slices=5,
        sentinel_users=(0,),
        sentinel_delay_s=300,
    )
    out = run_to_memory(asof_stream(sdf), "asof_mem")
    batch = _Q["j_asof_nearest"].fn(spark, SF_DIR)
    assert _rows(out) == _rows(batch)


def test_sessionize_stream_equals_batch(spark, tmp_path):
    """Session windows: the streaming session_window aggregation
    converges to w_sessionize's batch table (append mode — a far-future
    sentinel advances the watermark past every real session's end; the
    sentinel's own session never finalizes, so it never appears)."""
    from flink_spark.streaming import sessionize_stream

    sdf = replay_events(
        spark,
        SF_DIR,
        str(tmp_path / "replay"),
        slices=5,
        sentinel_users=(0,),
        sentinel_delay_s=300,
    )
    out = run_to_memory(sessionize_stream(sdf), "sess_mem")
    batch = _Q["w_sessionize"].fn(spark, SF_DIR)
    assert _rows(out) == _rows(batch)


def test_keyword_tumble_stream_equals_batch(spark, tmp_path):
    """A3+F1 streaming: the tokenize→explode→window job converges to
    w_keyword_tumble's batch table."""
    from flink_spark.plans.windows import KEYWORDS
    from flink_spark.sources import load

    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=5)
    docs = load(spark, SF_DIR, "documents")
    out = run_to_memory(
        keyword_tumble_stream(sdf, docs, KEYWORDS),
        "kw_tumble_mem",
        output_mode="complete",
    )
    batch = _Q["w_keyword_tumble"].fn(spark, SF_DIR)
    assert _rows(out) == _rows(batch)


def test_distinct_users_stream_equals_batch(spark, tmp_path):
    """A4 streaming: chained dedup → windowed count equals the batch
    exact COUNT(DISTINCT user_id) per (window, event_type)."""
    # a far-future flush sentinel advances the watermark past the last
    # real window so append mode finalizes it; drop its own output row
    sdf = replay_events(
        spark, SF_DIR, str(tmp_path / "replay"), slices=5, sentinel_users=(0,)
    )
    out = run_to_memory(
        distinct_users_tumble_stream(sdf),
        "distinct_mem",
        output_mode="append",
    ).filter(F.col("event_type") != "__flush__")
    batch = _Q["w_agg_distinct_users"].fn(spark, SF_DIR).select(
        "stt", "event_type", "user_ct"
    )
    assert _rows(out) == _rows(batch)


def test_topn_per_window_stream_equals_batch(spark, tmp_path):
    """Streaming windowed Top-N: append-mode finalized windows ranked
    per micro-batch equal the batch w_topn_per_window cut exactly —
    including the amount-desc/user_id tiebreak, which is a total
    order, so no rank ambiguity can hide between the two forms."""
    from flink_spark.streaming.jobs import (
        rank_window_topn,
        run_foreach_to_memory,
        topn_per_window_stream,
    )

    # sentinel advances the watermark past the last real window so its
    # Top-N finalizes; the job drops the sentinel rows themselves
    sdf = replay_events(
        spark, SF_DIR, str(tmp_path / "replay"), slices=5, sentinel_users=(0,)
    )
    out = run_foreach_to_memory(
        topn_per_window_stream(sdf), rank_window_topn, "topn_mem"
    )
    batch = _Q["w_topn_per_window"].fn(spark, SF_DIR)
    assert _rows(out) == _rows(batch)
    # every emitted batch held complete windows: each (stt) appears
    # with exactly min(TOPN, users-in-window) rows and distinct ranks
    from flink_spark.plans.windows import TOPN_PER_WINDOW

    per = out.groupBy("stt").agg(
        F.count(F.lit(1)).alias("ct"),
        F.countDistinct("rnk").alias("rct"),
    ).collect()
    for r in per:
        assert r["ct"] == r["rct"] <= TOPN_PER_WINDOW


def test_daily_unique_stream_equals_batch(spark, tmp_path):
    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=5)
    q = (
        daily_unique_stream(sdf).writeStream.format("memory")
        .queryName("daily_mem").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    detail = spark.table("daily_mem")
    uv = detail.groupBy("date_id").agg(F.countDistinct("user_id").alias("uv"))
    batch = _Q["s_daily_unique_users"].fn(spark, SF_DIR)
    assert _rows(uv) == _rows(batch)
    # detail rows are already unique per (user, day) — emitted once
    assert detail.count() == detail.select("user_id", "date_id").distinct().count()
    # the watermark expires closed days' keys (the reference's 1-day
    # TTL): state holds at most the latest day's users, not one row
    # per user ever seen
    held = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    latest = detail.agg(F.max("date_id")).collect()[0][0]
    latest_users = detail.filter(F.col("date_id") == latest).count()
    all_users = detail.select("user_id").distinct().count()
    assert held <= latest_users < all_users


def test_daily_unique_stream_late_event_before_midnight(spark, tmp_path):
    """A day-1 event arriving after day-2 events, inside the watermark
    delay, still counts for day 1 (an order-dependent "date later than
    the stored one" test drops it and undercounts COUNT(DISTINCT))."""
    import pandas as pd

    src = tmp_path / "late"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long"
    slices = [
        [(1, "2024-01-02 00:00:00.5", 1), (2, "2024-01-02 00:00:00.6", 2)],
        [(3, "2024-01-01 23:59:59.5", 1)],
    ]
    for i, rows in enumerate(slices):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        pdf.to_parquet(src / f"{i:04d}.parquet", index=False,
                       coerce_timestamps="us")
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_to_memory(daily_unique_stream(sdf), "daily_late_mem")
    assert set(_rows(out)) == {
        (1, "2024-01-01"), (1, "2024-01-02"), (2, "2024-01-02"),
    }


def test_is_new_correction_equals_batch(spark, tmp_path):
    from flink_spark.streaming import is_new_correction_stream

    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=5)
    out = run_to_memory(is_new_correction_stream(sdf), "visitor_mem")
    # every event gets a corrected flag
    ev_ct = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert out.count() == ev_ct
    got = (
        out.filter(F.col("is_new") == 1)
        .select("date_id", "user_id")
        .distinct()
        .groupBy("date_id")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    batch = (
        _Q["s_new_vs_returning"].fn(spark, SF_DIR)
        .filter(F.col("new_users") > 0)
        .select("date_id", "new_users")
    )
    assert _rows(got) == _rows(batch)


def test_cep_jump_stream_equals_batch(spark, tmp_path):
    # sentinels for even users exercise the gap path; odd users' last
    # events must come out of the event-time timeout path
    users = [r.user_id for r in
             spark.read.parquet(f"{SF_DIR}/events.parquet")
             .select("user_id").distinct().collect()]
    sentinels = tuple(u for u in users if u % 2 == 0)
    sdf = replay_events(
        spark, SF_DIR, str(tmp_path / "replay"), slices=5,
        sentinel_users=sentinels,
    )
    out = run_to_memory(cep_jump_stream(sdf), "cep_mem")
    got = out.groupBy("user_id").agg(F.count(F.lit(1)).alias("jump_ct"))
    batch = _Q["s_cep_jump"].fn(spark, SF_DIR).select("user_id", "jump_ct")
    assert _rows(got) == _rows(batch)
    # both CEP paths must actually fire
    vias = {r.via for r in out.select("via").distinct().collect()}
    assert vias == {"gap", "timeout"}


def test_upsert_sink_latest_row(spark, tmp_path):
    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=4)
    table = str(tmp_path / "upsert")
    q = (
        upsert_sink(sdf, table, keys=["user_id"], order_cols=["ts", "event_id"])
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = read_upsert_table(spark, table).select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        F.unix_millis("ts").alias("last_ms"),
    )
    batch = _Q["s_dedup_latest"].fn(spark, SF_DIR)
    assert _rows(final) == _rows(batch)


def test_upsert_sink_touches_only_batch_buckets(spark, tmp_path):
    """K3 at scale: a micro-batch rewrites only the key-hash buckets its
    rows fall into — every other bucket's files stay byte-identical."""
    import os

    import pandas as pd

    from flink_spark.sources import load

    ev = load(spark, SF_DIR, "events")
    pdf = ev.orderBy("ts", "event_id").toPandas()
    replay_dir = tmp_path / "replay"
    replay_dir.mkdir()
    pdf.to_parquet(
        str(replay_dir / "0000.parquet"), index=False, coerce_timestamps="us"
    )
    table = str(tmp_path / "upsert")
    ckpt = str(tmp_path / "ckpt")

    def run():
        sdf = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(replay_dir))
        )
        q = (
            upsert_sink(sdf, table, keys=["user_id"], order_cols=["ts", "event_id"])
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()  # batch 0: whole fixture

    def snapshot():
        # manifest-resolved view: bucket id → (version dir, its files).
        # an untouched bucket must keep the SAME version dir with
        # byte-identical files after later batches.
        from flink_spark.streaming.sinks import _read_manifest

        out = {}
        for bid, version in _read_manifest(table).items():
            d = os.path.join(table, version)
            out[bid] = (
                version,
                sorted(
                    (f, os.path.getmtime(os.path.join(d, f)),
                     os.path.getsize(os.path.join(d, f)))
                    for f in os.listdir(d)
                ),
            )
        return out

    before = snapshot()
    assert len(before) > 1  # bucketing actually spread the keys

    # batch 1: a single late row for one user → exactly one hot bucket
    uid = int(pdf["user_id"].iloc[0])
    row = pdf[pdf.user_id == uid].iloc[[0]].copy()
    row["ts"] = pdf["ts"].max() + pd.Timedelta(seconds=30)
    row["event_type"] = "late_update"
    row.to_parquet(
        str(replay_dir / "0001.parquet"), index=False, coerce_timestamps="us"
    )
    run()
    after = snapshot()

    hot = "%d" % (
        ev.filter(F.col("user_id") == uid)
        .select(F.pmod(F.xxhash64("user_id"), F.lit(16)).alias("b"))
        .first()["b"]
    )
    assert after[hot] != before[hot]
    for b, files in before.items():
        if b != hot:
            assert after[b] == files, f"untouched bucket {b} was rewritten"
    got = (
        read_upsert_table(spark, table)
        .filter(F.col("user_id") == uid)
        .collect()
    )
    assert len(got) == 1 and got[0]["event_type"] == "late_update"


def test_routed_dim_sink(spark, tmp_path):
    rules = {
        "click": ("dwd_click", ["event_id", "user_id", "value"]),
        "purchase": ("dwd_purchase", ["event_id", "user_id", "value", "props"]),
        "error": ("dwd_error", ["event_id", "props"]),
    }
    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=3)
    q = (
        routed_dim_sink(sdf, rules, str(tmp_path / "dim"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    for src, (sink_table, cols) in rules.items():
        got = spark.read.parquet(str(tmp_path / "dim" / sink_table))
        assert sorted(got.columns) == sorted(cols), sink_table
        assert got.count() == ev.filter(F.col("event_type") == src).count()


def test_base_log_app_end_to_end(spark, tmp_path):
    """The composed BaseLogApp shape: replay → stateful visitor-flag
    correction → config-routed multi-table sink, one streaming query."""
    from flink_spark.streaming import is_new_correction_stream

    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=4)
    corrected = is_new_correction_stream(sdf)
    # route the corrected detail stream: new-visitor rows and the rest
    def route(batch, _epoch):
        batch = batch.cache()
        try:
            for flag, table in [(1, "dwd_new_visitors"), (0, "dwd_returning")]:
                (
                    batch.filter(F.col("is_new") == flag)
                    .write.mode("append")
                    .parquet(str(tmp_path / "out" / table))
                )
        finally:
            batch.unpersist()

    q = (
        corrected.writeStream.foreachBatch(route)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    new = spark.read.parquet(str(tmp_path / "out" / "dwd_new_visitors"))
    ret = spark.read.parquet(str(tmp_path / "out" / "dwd_returning"))
    ev_ct = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert new.count() + ret.count() == ev_ct
    # routed "new" rows agree with the batch truth
    batch_new = (
        _Q["s_new_vs_returning"].fn(spark, SF_DIR)
        .agg(F.sum("new_users").alias("n")).collect()[0]["n"]
    )
    assert new.select("user_id", "date_id").distinct().count() == batch_new


def test_stream_static_lookup_join(spark, tmp_path):
    """J3 streaming form: a streaming fact joined to a static broadcast
    dim (the reference's FOR SYSTEM_TIME AS OF lookup join) — full
    keyword-window job (DwsTrafficSourceKeywordPageViewWindow) run as
    a stream, asserted equal to the batch catalog query."""
    from flink_spark.functions.text import tokenize
    from flink_spark.plans.windows import KEYWORDS

    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=4)
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", F.slice(tokenize("text"), 1, 5).alias("toks"))
    )
    views = sdf.filter(F.col("event_type") == "view")
    logs = views.join(
        F.broadcast(docs), docs["doc_id"] == views["event_id"] % 500
    ).select("ts", "toks")
    words = logs.select("ts", F.explode("toks").alias("word")).filter(
        F.col("word").isin(*KEYWORDS)
    )
    agg = (
        words.withWatermark("ts", "2 seconds")
        .groupBy(F.window("ts", "10 seconds"), "word")
        .agg(F.count(F.lit(1)).alias("kw_ct"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            "word",
            "kw_ct",
        )
    )
    out = run_to_memory(agg, "kw_mem", output_mode="complete")
    batch = _Q["w_keyword_tumble"].fn(spark, SF_DIR)
    assert _rows(out) == _rows(batch)


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Spark-native streaming dedup (the upsert-kafka duplicate fix-up
    as an operator): duplicated input collapses to one row per key
    while the watermark bounds dedup state."""
    replay_dir = str(tmp_path / "replay")
    sdf = replay_events(spark, SF_DIR, replay_dir, slices=3)
    doubled = sdf.unionByName(sdf)  # every event arrives twice
    deduped = doubled.withWatermark("ts", "10 seconds").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = run_to_memory(deduped, "ddw_mem")
    ev_ct = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert out.count() == ev_ct
    assert out.select("event_id").distinct().count() == ev_ct


def test_partitioned_table_sink_prunes(spark, tmp_path):
    from flink_spark.streaming.sinks import partitioned_table_sink

    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=3)
    agg = tumble_stream(sdf, "event_type")
    dated = agg.withColumn("date_id", F.substring("stt", 1, 10))
    q = (
        partitioned_table_sink(dated, str(tmp_path / "dws"), ["date_id"])
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(str(tmp_path / "dws"))
    # ADS-style day predicate → partition pruning, not a full scan
    one_day = out.filter(F.col("date_id") == "2024-01-05")
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one_day.explain("formatted")
    assert "PartitionFilters: [isnotnull(date_id" in buf.getvalue()
    assert one_day.count() > 0


def test_kafka_payload_roundtrip(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(10)
    payload = kafka_payload(ev, "event_id", ["event_id", "user_id", "event_type"])
    assert payload.columns == ["key", "value"]
    back = payload.select(
        F.from_json(
            "value", "event_id long, user_id long, event_type string"
        ).alias("j")
    ).select("j.*")
    assert _rows(back) == _rows(ev.select("event_id", "user_id", "event_type"))


def test_rocksdb_state_store_daily_unique(spark, tmp_path):
    """W5 at scale: the RocksDB state-store path must actually run.

    ``get_spark(streaming_scale=True)`` declares the RocksDB provider
    (the Spark analog of the reference's commented-out RocksDB backend,
    rt/app/dwd/log/BaseLogApp.java:32-44); this proves the conf lands
    on a live session and a keyed-state query runs on it end-to-end
    with the same result as the default (HDFS-backed) provider."""
    from flink_spark.session import STREAMING_CONFS, get_spark

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(provider_key, None)
    s = get_spark(streaming_scale=True)
    assert s is spark  # same live session, confs applied at runtime
    assert "RocksDBStateStoreProvider" in s.conf.get(provider_key)
    try:
        sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=5)
        detail = run_to_memory(daily_unique_stream(sdf), "rocksdb_daily_mem")
        uv = detail.groupBy("date_id").agg(
            F.countDistinct("user_id").alias("uv")
        )
        batch = _Q["s_daily_unique_users"].fn(spark, SF_DIR)
        assert _rows(uv) == _rows(batch)
    finally:
        for k in STREAMING_CONFS:
            spark.conf.unset(k)
        if before is not None:
            spark.conf.set(provider_key, before)


def test_returning_users_stream_equals_batch(spark, tmp_path):
    """DwsUserUserLoginWindow parity: keyed last-active-date state
    emits (active, back>7d) per user-day; rolled up it must equal the
    batch lag-window formulation s_returning_users_7d."""
    from flink_spark.streaming import returning_users_stream

    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=5)
    detail = run_to_memory(returning_users_stream(sdf), "returning_mem")
    rolled = detail.groupBy("date_id").agg(
        F.count(F.lit(1)).alias("active_users"),
        F.sum("is_back").cast("long").alias("back_users"),
    )
    batch = _Q["s_returning_users_7d"].fn(spark, SF_DIR)
    assert _rows(rolled) == _rows(batch)


def test_upsert_sink_ignores_stale_crash_debris(spark, tmp_path):
    """A crashed epoch can leave a staging dir and renamed-but-never-
    committed bucket-version dirs inside the table. The manifest never
    references them, so readers can't see them, and the next committed
    epoch garbage-collects them."""
    import os

    import pandas as pd

    table = str(tmp_path / "upsert")
    # debris from a hypothetical epoch 99 that died before its commit:
    # a half-written staging dir and an orphaned bucket-version dir
    for debris in ["_stage_99", "b3_e99"]:
        d = os.path.join(table, debris)
        os.makedirs(d, exist_ok=True)
        pd.DataFrame({"user_id": [999999], "poison": [1]}).to_parquet(
            os.path.join(d, "part-poison.parquet"), index=False
        )
    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=4)
    q = (
        upsert_sink(sdf, table, keys=["user_id"], order_cols=["ts", "event_id"])
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = read_upsert_table(spark, table)
    assert "poison" not in final.columns
    got = final.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        F.unix_millis("ts").alias("last_ms"),
    )
    batch = _Q["s_dedup_latest"].fn(spark, SF_DIR)
    assert _rows(got) == _rows(batch)
    # the committed run must have swept the unreferenced debris
    assert not os.path.isdir(os.path.join(table, "_stage_99"))
    assert not os.path.isdir(os.path.join(table, "b3_e99"))


def test_upsert_sink_scheme_path_dispatch(spark, tmp_path):
    """The manifest commit is local-FS rename/replace; a URI path must
    never reach it — it either dispatches to the Delta MERGE form
    (delta-spark installed) or fails loudly up front, not with a
    FileNotFoundError at swap time."""
    import pytest

    from flink_spark.streaming.sinks import delta_available

    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=2)
    for path in ("s3://bucket/table", f"file:{tmp_path}/t"):
        if delta_available():
            writer = upsert_sink(sdf, path, keys=["user_id"], order_cols=["ts"])
            assert writer is not None  # Delta form handles URI paths
        else:
            with pytest.raises(ValueError, match="delta-spark"):
                upsert_sink(sdf, path, keys=["user_id"], order_cols=["ts"])


def test_socket_source_word_count(spark):
    """S6 for real: a local TCP server feeds lines into Spark's socket
    source; the tokenize+count stream is the reference's introductory
    Flink01 socket word count."""
    import socket
    import threading
    import time

    from flink_spark.streaming.sources import socket_source

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)

    def feed():
        conn, _ = srv.accept()
        for line in ["spark graft", "flink spark", "spark"]:
            conn.sendall((line + "\n").encode())
        time.sleep(5)  # keep the socket open until the query drains it
        conn.close()

    threading.Thread(target=feed, daemon=True).start()
    sdf = socket_source(spark, "127.0.0.1", port)
    counts = (
        sdf.select(F.explode(F.split("value", " ")).alias("w")).groupBy("w").count()
    )
    q = (
        counts.writeStream.format("memory").queryName("sock_mem")
        .outputMode("complete").start()
    )
    try:
        rows = {}
        deadline = time.time() + 30
        while time.time() < deadline:
            rows = {
                r["w"]: r["count"]
                for r in spark.sql("SELECT * FROM sock_mem").collect()
            }
            if rows.get("spark") == 3:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        srv.close()
    assert rows == {"spark": 3, "graft": 1, "flink": 1}


def test_lookup_join_sees_dim_updates(spark, tmp_path):
    """J3's temporal property: the reference's FOR SYSTEM_TIME AS OF
    lookup join reads the dim AS OF each row's processing time (10-row
    /1h cache). The Spark shape re-snapshots the dim every micro-batch
    inside foreachBatch, so a dim update lands in the next batch."""
    import pandas as pd

    dim_dir = str(tmp_path / "dim")
    out_dir = str(tmp_path / "out")

    def write_dim(version):
        pd.DataFrame(
            {"et": ["click", "view", "purchase", "signup", "error"],
             "label": [f"{e}_{version}" for e in
                       ["click", "view", "purchase", "signup", "error"]]}
        ).to_parquet(f"{dim_dir}/dim.parquet", index=False)

    import os

    os.makedirs(dim_dir, exist_ok=True)
    write_dim("v1")
    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=2)

    def enrich(batch, epoch):
        dim = batch.sparkSession.read.parquet(dim_dir)  # fresh snapshot
        (
            batch.join(F.broadcast(dim), batch.event_type == dim.et)
            .select("event_id", "label")
            .write.mode("append").parquet(out_dir)
        )
        write_dim("v2")  # dim update lands between micro-batches

    q = (
        sdf.writeStream.foreachBatch(enrich)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(out_dir)
    versions = {
        r["v"] for r in out.select(
            F.substring_index("label", "_", -1).alias("v")
        ).distinct().collect()
    }
    assert versions == {"v1", "v2"}  # both dim snapshots were observed
    ev_ct = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert out.count() == ev_ct  # every event enriched exactly once


def test_upsert_changelog_replay(spark, tmp_path):
    """changelog=True emits the retraction pairs an external consumer
    of the intermediate stream would see (reference upsert-kafka,
    MyKafkaUtil.java:78-86): replaying the adds in (_epoch, _seq)
    order per key must reconstruct the committed table EXACTLY, and
    every -U must retract a row previously added for that key."""
    from pyspark.sql import Window

    from flink_spark.streaming import read_changelog

    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=4)
    table = str(tmp_path / "upsert")
    q = (
        upsert_sink(sdf, table, keys=["user_id"],
                    order_cols=["ts", "event_id"], changelog=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    log = read_changelog(spark, table)
    assert log is not None
    ops = {r._op for r in log.select("_op").distinct().collect()}
    assert "+I" in ops  # first epoch inserts
    assert ops <= {"+I", "-U", "+U"}
    # multi-epoch replay must actually update some keys
    assert log.filter(F.col("_op") == "+U").count() > 0

    # replay: per key, the last add (by _epoch, _seq) is the live row
    w = Window.partitionBy("user_id").orderBy(
        F.desc("_epoch"), F.desc("_seq")
    )
    value_cols = [c for c in log.columns
                  if c not in ("user_id", "_op", "_seq", "_epoch")]
    replayed = (
        log.filter(F.col("_op") != "-U")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", *value_cols)
    )
    final = read_upsert_table(spark, table).select("user_id", *value_cols)
    assert _rows(replayed) == _rows(final)

    # retract consistency: every -U row equals an add emitted for the
    # key in an earlier (epoch, seq) position
    adds = {
        (r.user_id, tuple(r[c] for c in value_cols))
        for r in log.filter(F.col("_op") != "-U").collect()
    }
    for r in log.filter(F.col("_op") == "-U").collect():
        assert (r.user_id, tuple(r[c] for c in value_cols)) in adds

    # the changelog dir must be invisible to table readers
    assert "_op" not in read_upsert_table(spark, table).columns


def test_upsert_changelog_crash_retry_idempotent(spark, tmp_path):
    """A replayed epoch (crash after changelog write, before manifest
    commit) overwrites its per-epoch dir with identical content — no
    duplicated pairs."""
    import pandas as pd

    from flink_spark.sources import load
    from flink_spark.streaming import read_changelog

    ev = load(spark, SF_DIR, "events")
    pdf = ev.orderBy("ts", "event_id").toPandas()
    replay_dir = tmp_path / "replay"
    replay_dir.mkdir()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(
        str(replay_dir / "0000.parquet"), index=False, coerce_timestamps="us"
    )
    table = str(tmp_path / "upsert")

    def run(ckpt):
        sdf = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(replay_dir))
        )
        q = (
            upsert_sink(sdf, table, keys=["user_id"],
                        order_cols=["ts", "event_id"], changelog=True)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(str(tmp_path / "ckpt_a"))
    first = _rows(read_changelog(spark, table).filter(F.col("_epoch") == 0))
    assert first
    # fresh checkpoint ⇒ Structured Streaming re-delivers the same file
    # as epoch 0 against the already-committed table (the post-commit
    # replay case): the merge diff is empty, and the epoch's existing
    # pairs must be KEPT — neither duplicated nor clobbered with
    # emptiness
    run(str(tmp_path / "ckpt_b"))
    second = _rows(read_changelog(spark, table).filter(F.col("_epoch") == 0))
    assert second == first


def _changelog_table(spark, tmp_path, slices=4):
    """An upsert table with changelog pairs over ``slices`` epochs."""
    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=slices)
    q = (
        upsert_sink(sdf, str(tmp_path / "upsert"), keys=["user_id"],
                    order_cols=["ts", "event_id"], changelog=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return str(tmp_path / "upsert")


def test_changelog_incremental_agg(spark, tmp_path):
    """The DWS side of the upsert-kafka topology
    (DwsTradeSkuOrderWindow.java:81-111): a downstream consumer folds
    the retraction stream into additive per-group aggregates. The
    incrementally-maintained state must equal a batch groupBy over the
    producer's committed table, and a replay from a fresh checkpoint
    (epochs re-delivered from 0) must be skipped, not double-applied —
    additive state is not idempotent by itself."""
    from flink_spark.streaming import changelog_agg_stream, read_agg_state

    table = _changelog_table(spark, tmp_path)
    state = str(tmp_path / "aggstate")

    def run(ckpt):
        q = (
            changelog_agg_stream(
                spark, table, ["event_type"], ["value"], state
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(str(tmp_path / "agg_ckpt"))
    got = read_agg_state(spark, state).select(
        "event_type", F.round("value_sum", 6).alias("value_sum"), "row_ct"
    )
    want = (
        read_upsert_table(spark, table)
        .groupBy("event_type")
        .agg(
            F.round(F.sum("value"), 6).alias("value_sum"),
            F.count(F.lit(1)).alias("row_ct"),
        )
    )
    assert _rows(got) == _rows(want)

    # fresh checkpoint ⇒ the file source re-delivers every epoch from 0;
    # the state manifest's epoch guard must skip them all
    run(str(tmp_path / "agg_ckpt2"))
    again = read_agg_state(spark, state).select(
        "event_type", F.round("value_sum", 6).alias("value_sum"), "row_ct"
    )
    assert _rows(again) == _rows(got)


def test_changelog_windowed_agg_with_derived_group(spark, tmp_path):
    """The reference's DWS rollups group by (dim, time bucket of the
    row ts) — DwsTradeSkuOrderWindow's windowTumble. The derive hook
    buckets each changelog row's OWN ts, so a key whose latest row
    moves between minutes retracts from the old bucket and adds to the
    new one; the maintained state must equal the batch groupBy with
    the same derivation over the committed table."""
    from flink_spark.streaming import changelog_agg_stream, read_agg_state

    table = _changelog_table(spark, tmp_path)
    state = str(tmp_path / "winstate")
    bucket = lambda df: df.withColumn(  # noqa: E731
        "minute", F.date_trunc("minute", "ts")
    )
    q = (
        changelog_agg_stream(
            spark, table, ["event_type", "minute"], ["value"], state,
            derive=bucket,
        )
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = read_agg_state(spark, state).select(
        "event_type", "minute",
        F.round("value_sum", 6).alias("value_sum"), "row_ct",
    )
    want = (
        bucket(read_upsert_table(spark, table))
        .groupBy("event_type", "minute")
        .agg(
            F.round(F.sum("value"), 6).alias("value_sum"),
            F.count(F.lit(1)).alias("row_ct"),
        )
    )
    assert _rows(got) == _rows(want)
    assert got.count() > got.select("event_type").distinct().count()


def test_changelog_agg_retractions_are_load_bearing(spark, tmp_path):
    """A key whose latest row moves between groups emits -U(old group) /
    +U(new group); an append-only consumer that ignored -U would
    double-count the move. Assert the changelog actually exercises
    this (some group's retract volume is nonzero) and that the naive
    adds-only fold disagrees with the true aggregate — i.e. the
    retraction handling in changelog_agg_stream is semantics, not
    ceremony."""
    from flink_spark.streaming import read_changelog

    table = _changelog_table(spark, tmp_path)
    log = read_changelog(spark, table)
    assert log.filter(F.col("_op") == "-U").count() > 0

    adds_only = (
        log.filter(F.col("_op") != "-U")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("row_ct"))
    )
    true = (
        read_upsert_table(spark, table)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("row_ct"))
    )
    assert _rows(adds_only) != _rows(true)


def _disordered_replay(tmp_path, n=200, span_s=600, jitter_s=2, flush_s=1200):
    """Deterministic pseudo-random events whose ARRIVAL order differs
    from event time by up to ``jitter_s`` (the watermark bound), split
    into 10 micro-batch files + a final watermark-flush slice.
    Returns (dir, clean pandas frame without the flush row)."""
    import hashlib
    import os

    import pandas as pd

    base = pd.Timestamp("2024-01-01 00:00:00")

    def h(i, salt):
        return int.from_bytes(
            hashlib.md5(f"{salt}|{i}".encode()).digest()[:4], "big"
        )

    rows = []
    for i in range(n):
        sec = h(i, "t") % span_s
        rows.append({
            "event_id": i,
            "ts": base + pd.Timedelta(seconds=sec),
            "user_id": h(i, "u") % 5,
            "event_type": ("view", "purchase", "click")[h(i, "k") % 3],
            "value": (h(i, "v") % 400) / 4.0,
            "props": "{}",
            "arrival": sec + (h(i, "j") % (2 * jitter_s + 1)) - jitter_s,
        })
    pdf = pd.DataFrame(rows).sort_values(["arrival", "event_id"])
    d = str(tmp_path / "disorder")
    os.makedirs(d)
    per = (n + 9) // 10
    for s in range(10):
        pdf.iloc[s * per:(s + 1) * per].drop(columns=["arrival"]).to_parquet(
            f"{d}/{s:04d}.parquet", index=False, coerce_timestamps="us")
    pd.DataFrame([{
        "event_id": -1, "ts": base + pd.Timedelta(seconds=flush_s),
        # key OUTSIDE the generated space: the flush must advance the
        # watermark without displacing any real key's latest row
        "user_id": -1,
        "event_type": "__flush__", "value": 0.0, "props": "{}",
    }]).to_parquet(f"{d}/0010.parquet", index=False, coerce_timestamps="us")
    return d, pdf.drop(columns=["arrival"])


def test_tumble_append_mode_under_disorder(spark, tmp_path):
    """Append-mode tumbling windows finalize at the watermark; rows
    arriving late-but-inside the 2 s bound must still land in their
    event-time window before it seals. The finalized stream output
    must equal a batch groupBy over the same (clean) data."""
    d, pdf = _disordered_replay(tmp_path)
    from flink_spark.sources import load

    schema = load(spark, SF_DIR, "events").schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = run_to_memory(
        tumble_stream(sdf, "event_type"), "tumble_disorder_mem",
        output_mode="append",
    ).filter(F.col("event_type") != "__flush__")
    batch = (
        spark.createDataFrame(pdf)
        .groupBy(F.window("ts", "10 seconds"), "event_type")
        .agg(F.count(F.lit(1)).alias("pv"),
             F.round(F.sum("value"), 6).alias("amount"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "event_type", "pv", "amount",
        )
    )
    got = _rows(out.select("stt", "edt", "event_type", "pv",
                           F.round("amount", 6).alias("amount")))
    assert got == _rows(batch)


def test_upsert_and_changelog_consumer_under_disorder(spark, tmp_path):
    """Latest-row semantics are an EVENT-TIME property: an old row
    arriving after a newer one (bounded disorder) must neither win the
    merge nor emit a changelog pair that corrupts the downstream fold.
    Both the committed table and the incrementally-maintained rollup
    must equal the batch truth over the clean data."""
    from pyspark.sql import Window

    from flink_spark.streaming import changelog_agg_stream, read_agg_state

    d, pdf = _disordered_replay(tmp_path)
    from flink_spark.sources import load

    schema = load(spark, SF_DIR, "events").schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    table = str(tmp_path / "upsert")
    q = (
        upsert_sink(sdf, table, keys=["user_id"],
                    order_cols=["ts", "event_id"], changelog=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    clean = spark.createDataFrame(pdf).unionByName(
        read_upsert_table(spark, table).filter(F.lit(False))
        .select(*pdf.columns)
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = (
        clean.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1).drop("_rn")
    )
    # the flush row participates (it is just another event to the
    # merge); compare full committed table against the batch latest-row
    committed = read_upsert_table(spark, table).select(*pdf.columns)
    want_tbl = latest.filter(F.col("event_type") != "__flush__")
    got_tbl = committed.filter(F.col("event_type") != "__flush__")
    assert _rows(got_tbl) == _rows(want_tbl)

    state = str(tmp_path / "aggstate")
    qc = (
        changelog_agg_stream(spark, table, ["event_type"], ["value"], state)
        .option("checkpointLocation", str(tmp_path / "agg_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    qc.awaitTermination()
    got = read_agg_state(spark, state).filter(
        F.col("event_type") != "__flush__"
    ).select("event_type", F.round("value_sum", 6).alias("v"), "row_ct")
    want = (
        committed.filter(F.col("event_type") != "__flush__")
        .groupBy("event_type")
        .agg(F.round(F.sum("value"), 6).alias("v"),
             F.count(F.lit(1)).alias("row_ct"))
    )
    assert _rows(got) == _rows(want)


def _phased_producer(spark, tmp_path):
    """Producer harness that releases event slices in phases through
    ONE checkpoint, so changelog epochs accumulate across calls."""
    from flink_spark.sources import load

    ev = load(spark, SF_DIR, "events")
    pdf = ev.orderBy("ts", "event_id").toPandas()
    replay = tmp_path / "replay"
    replay.mkdir()
    table = str(tmp_path / "upsert")
    quarter = len(pdf) // 4

    def produce(lo, hi):
        for i in range(lo, hi):
            pdf.iloc[i * quarter:(i + 1) * quarter].to_parquet(
                str(replay / f"{i:04d}.parquet"), index=False,
                coerce_timestamps="us",
            )
        sdf = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(replay))
        )
        q = (
            upsert_sink(sdf, table, keys=["user_id"],
                        order_cols=["ts", "event_id"], changelog=True)
            .option("checkpointLocation", str(tmp_path / "prod_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    return table, produce


def test_upsert_sink_keeps_previous_version_for_readers(spark, tmp_path):
    """Spark lists a table's files when it plans and opens them when a
    task runs, so a reader that resolved manifest N must still find its
    files after manifest N+1 commits. Versions older than the previous
    manifest are swept."""
    import os

    from flink_spark.streaming.sinks import _read_manifest

    table, produce = _phased_producer(spark, tmp_path)
    produce(0, 1)
    old = read_upsert_table(spark, table)
    n0 = old.count()
    produce(1, 2)
    assert old.count() == n0
    prev = _read_manifest(table)
    produce(2, 3)
    live = set(prev.values()) | set(_read_manifest(table).values())
    on_disk = {e for e in os.listdir(table)
               if e.startswith("b") and "_e" in e}
    assert on_disk <= live


def _run_consumer(spark, table, state, ckpt):
    from flink_spark.streaming import changelog_agg_stream

    q = (
        changelog_agg_stream(spark, table, ["event_type"], ["value"], state)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _agg_rows(spark, df):
    return sorted(
        tuple(r)
        for r in df.select(
            "event_type", F.round("value_sum", 6).alias("value_sum"), "row_ct"
        ).collect()
    )


def _batch_truth(spark, table):
    return (
        read_upsert_table(spark, table)
        .groupBy("event_type")
        .agg(
            F.round(F.sum("value"), 6).alias("value_sum"),
            F.count(F.lit(1)).alias("row_ct"),
        )
    )


def test_changelog_agg_fresh_checkpoint_over_partial_state(spark, tmp_path):
    """The producer-epoch watermark (not the consumer's micro-batch id)
    is what makes re-delivery safe in EVERY shape: here the consumer
    falls behind (applied epochs 0-1), the producer advances (epochs
    2-3), and the consumer restarts from a FRESH checkpoint — so the
    already-applied epochs are re-delivered as the lowest-numbered
    batches. The filter must drop them and still fold the genuinely
    new epochs that follow."""
    from flink_spark.streaming import read_agg_state

    table, produce = _phased_producer(spark, tmp_path)
    state = str(tmp_path / "state")

    produce(0, 2)
    _run_consumer(spark, table, state, str(tmp_path / "c1"))
    assert _agg_rows(spark, read_agg_state(spark, state)) == _agg_rows(
        spark, _batch_truth(spark, table)
    )

    produce(2, 4)  # consumer not running: state is now PARTIAL
    _run_consumer(spark, table, state, str(tmp_path / "c2"))  # fresh ckpt
    assert _agg_rows(spark, read_agg_state(spark, state)) == _agg_rows(
        spark, _batch_truth(spark, table)
    )


def test_changelog_out_of_order_epoch_delivery(spark, tmp_path):
    """A higher epoch delivered FIRST (mtime collision / restored
    table) must not cause the lower epochs to be silently discarded by
    the watermark: the consumer records them as holes and folds them
    when they arrive. Delivery order [2, 0, 3, 1] must converge to the
    same state as in-order delivery, and a replay after convergence
    must be a no-op."""
    import json
    import os

    from flink_spark.streaming import read_agg_state, read_changelog
    from flink_spark.streaming.changelog import (
        _STATE_MANIFEST,
        _fold_changelog_batch,
    )

    table, produce = _phased_producer(spark, tmp_path)
    produce(0, 4)
    state = str(tmp_path / "state")

    # producer side: epoch dirs are zero-padded so any lexical listing
    # (the file source's mtime tiebreak) is the numeric epoch order
    names = sorted(os.listdir(os.path.join(table, "_changelog")))
    assert names == [f"e{i:012d}" for i in range(4)]

    log = read_changelog(spark, table)

    def deliver(epoch):
        _fold_changelog_batch(
            log.filter(F.col("_epoch") == epoch),
            ["event_type"], ["value"], state,
        )

    def meta():
        with open(os.path.join(state, _STATE_MANIFEST)) as f:
            return json.load(f)

    deliver(2)
    assert meta()["applied"] == 2 and meta()["missing"] == [0, 1]
    deliver(0)
    assert meta()["applied"] == 2 and meta()["missing"] == [1]
    deliver(3)
    assert meta()["applied"] == 3 and meta()["missing"] == [1]
    deliver(1)
    assert meta()["applied"] == 3 and meta()["missing"] == []
    assert _agg_rows(spark, read_agg_state(spark, state)) == _agg_rows(
        spark, _batch_truth(spark, table)
    )
    # replay after convergence: every epoch filtered, state untouched
    before = meta()
    deliver(2)
    assert meta() == before


def test_changelog_dead_holes_resolved(spark, tmp_path):
    """Holes that can never be delivered must not pin the hole set
    forever. Two dead shapes exist: an empty-diff epoch (the producer
    committed a 0-row file — no row ever carries its epoch id, so the
    watermark jumps it) and an epoch dir dropped by retention (or a
    producer epoch-counter gap). With the producer table known, the
    fold resolves both against the changelog dirs and the strict
    row_ct prune re-engages; a hole whose dir holds real rows is a
    genuine pending delivery and stays."""
    import json
    import os
    import shutil

    from flink_spark.streaming import read_changelog, truncate_changelog
    from flink_spark.streaming.changelog import (
        _STATE_MANIFEST,
        _fold_changelog_batch,
    )

    table, produce = _phased_producer(spark, tmp_path)
    produce(0, 4)
    log = read_changelog(spark, table)
    # decouple delivery batches from the files we are about to mutate
    batches = {
        ep: spark.createDataFrame(
            log.filter(F.col("_epoch") == ep).collect(), log.schema
        )
        for ep in range(4)
    }

    # rewrite epoch 1 as a genuinely empty diff (0-row file, schema kept)
    e1 = os.path.join(table, "_changelog", f"e{1:012d}")
    shutil.rmtree(e1)
    spark.createDataFrame([], log.schema).write.parquet(e1)

    def deliver(state, ep):
        _fold_changelog_batch(
            batches[ep], ["event_type"], ["value"], state, table=table
        )

    def meta(state):
        with open(os.path.join(state, _STATE_MANIFEST)) as f:
            return json.load(f)

    # case 1: empty-diff hole dies at record time; real hole survives
    s1 = str(tmp_path / "s1")
    deliver(s1, 2)  # jumps 0 and 1
    assert meta(s1)["applied"] == 2
    assert meta(s1)["missing"] == [0]  # e1 verifiably empty → dead
    deliver(s1, 0)  # the live hole drains normally
    assert meta(s1)["missing"] == []

    # case 2: retention removes the hole epochs' dirs → unresolvable
    truncate_changelog(table, 2)  # e0 (and empty e1) gone
    s2 = str(tmp_path / "s2")
    deliver(s2, 2)
    assert meta(s2)["applied"] == 2 and meta(s2)["missing"] == []
    deliver(s2, 3)
    assert meta(s2)["applied"] == 3 and meta(s2)["missing"] == []


def test_changelog_fold_commutes_under_random_delivery(spark, tmp_path):
    """Property: ANY delivery permutation of the epochs — including
    re-deliveries injected mid-sequence — converges to the batch
    truth. This is the contract the hole set buys: the fold is
    effectively commutative and idempotent per epoch."""
    import random

    from flink_spark.streaming import read_agg_state, read_changelog
    from flink_spark.streaming.changelog import _fold_changelog_batch

    table, produce = _phased_producer(spark, tmp_path)
    produce(0, 4)
    log = read_changelog(spark, table)
    want = _agg_rows(spark, _batch_truth(spark, table))

    for seed in range(3):
        rng = random.Random(seed)
        order = [0, 1, 2, 3]
        rng.shuffle(order)
        # inject a replay of an already-delivered epoch mid-sequence
        order.insert(rng.randrange(1, 4), order[0])
        state = str(tmp_path / f"state_{seed}")
        for ep in order:
            _fold_changelog_batch(
                log.filter(F.col("_epoch") == ep),
                ["event_type"], ["value"], state,
            )
        got = _agg_rows(spark, read_agg_state(spark, state))
        assert got == want, (seed, order)


def test_changelog_bootstrap_and_retention(spark, tmp_path):
    """A consumer joining mid-life bootstraps from the committed table
    (init_agg_state) instead of replaying history — which is what lets
    retention (truncate_changelog) drop old epoch dirs, exactly like a
    Kafka topic with finite retention. The bootstrapped state plus the
    post-snapshot epochs must equal the batch truth."""
    from flink_spark.streaming import (
        init_agg_state,
        read_agg_state,
        read_changelog,
        truncate_changelog,
    )

    table, produce = _phased_producer(spark, tmp_path)
    state = str(tmp_path / "state")

    produce(0, 3)  # epochs 0-2 exist; no consumer yet
    dropped = truncate_changelog(table, 2)  # retention: e0, e1 gone
    assert dropped == 2
    remaining = {
        r[0] for r in read_changelog(spark, table)
        .select("_epoch").distinct().collect()
    }
    assert remaining == {2}

    applied = init_agg_state(
        spark, table, ["event_type"], ["value"], state
    )
    assert applied == 2  # the producer's current manifest epoch
    assert _agg_rows(spark, read_agg_state(spark, state)) == _agg_rows(
        spark, _batch_truth(spark, table)
    )

    produce(3, 4)  # one more epoch after the snapshot
    _run_consumer(spark, table, state, str(tmp_path / "c1"))
    assert _agg_rows(spark, read_agg_state(spark, state)) == _agg_rows(
        spark, _batch_truth(spark, table)
    )


def test_upsert_null_key_fails_loudly(spark, tmp_path):
    """A NULL key has no home bucket — the merge must raise with a
    clear message rather than stranding rows in a default partition
    the manifest never references."""
    import pandas as pd

    from flink_spark.sources import load

    ev = load(spark, SF_DIR, "events")
    pdf = ev.limit(50).toPandas()
    pdf["user_id"] = pdf["user_id"].astype("Int64")  # nullable, stays int64
    pdf.loc[pdf.index[:5], "user_id"] = pd.NA
    replay = tmp_path / "replay"
    replay.mkdir()
    pdf.to_parquet(str(replay / "0000.parquet"), index=False,
                   coerce_timestamps="us")
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
    )
    q = (
        upsert_sink(sdf, str(tmp_path / "t"), keys=["user_id"],
                    order_cols=["ts", "event_id"])
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="NULL bucket id"):
        q.awaitTermination()


def test_upsert_range_bucketing_equals_hash(spark, tmp_path):
    """bucket_expr swaps the hash bucketing for a caller scheme (range
    on a monotone key — the append-mostly layout); the committed table
    must be identical to the hash-bucketed default, epoch by epoch,
    and the manifest must actually use the range ids."""
    import json

    def build(table, **kw):
        sdf = replay_events(spark, SF_DIR,
                            str(tmp_path / f"rp_{os.path.basename(table)}"),
                            slices=4)
        q = (
            upsert_sink(sdf, table, keys=["event_id"], order_cols=["ts"],
                        **kw)
            .option("checkpointLocation", table + "_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return read_upsert_table(spark, table)

    hashed = build(str(tmp_path / "hashed"))
    ranged = build(
        str(tmp_path / "ranged"),
        bucket_expr=F.floor(F.col("event_id") / 2000).cast("long"),
    )
    assert _rows(ranged) == _rows(hashed)
    with open(str(tmp_path / "ranged" / "_MANIFEST.json")) as f:
        bucket_ids = {int(b) for b in json.load(f)["buckets"]}
    # expected ids derive from the data, not from an assumed-dense id
    # space — a regenerated fixture with sparse/offset event_ids must
    # not fail this without a product regression
    expected = {
        r[0]
        for r in hashed.select(
            F.floor(F.col("event_id") / 2000).cast("long")
        ).distinct().collect()
    }
    assert bucket_ids == expected


def test_changelog_stream_requires_producer_first(spark, tmp_path):
    """Binding the consumer before any epoch exists fails loudly (no
    schema to bind), rather than returning an empty stream that would
    silently never produce state."""
    from flink_spark.streaming import changelog_stream

    with pytest.raises(FileNotFoundError, match="changelog"):
        changelog_stream(spark, str(tmp_path / "nope"))


def test_upsert_changelog_rejected_on_scheme_paths(spark, tmp_path):
    """changelog=True belongs to the manifest form; the Delta/object-
    store dispatch must refuse it loudly and point at Change Data Feed
    rather than silently dropping the option."""
    sdf = replay_events(spark, SF_DIR, str(tmp_path / "replay"), slices=2)
    with pytest.raises(ValueError, match="Change Data Feed"):
        upsert_sink(sdf, "s3://bucket/table", keys=["user_id"],
                    order_cols=["ts"], changelog=True)


def test_dim_app_config_cdc_drives_routing(spark, tmp_path):
    """The DimApp topology end-to-end: a Derby table_process config,
    captured through JDBC-CDC, routes the event stream — and a config
    row added MID-STREAM (between runs, same checkpoint) reroutes
    every later batch while earlier output stands."""
    from flink_spark.sources import load
    from flink_spark.sources.cdc import JdbcCdcCapture
    from flink_spark.streaming.sinks import dim_app

    url = f"jdbc:derby:{tmp_path}/cfgdb;create=true"
    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE table_process (source_table VARCHAR(32) PRIMARY KEY, "
        "sink_table VARCHAR(32), sink_columns VARCHAR(128))"
    )
    st.executeUpdate(
        "INSERT INTO table_process VALUES "
        "('click', 'dwd_click', 'event_id,user_id,value')"
    )
    st.close(); conn.close()

    cap = JdbcCdcCapture(
        spark, url, "table_process", pk="source_table",
        state_dir=str(tmp_path / "state"),
    )
    ev = load(spark, SF_DIR, "events")
    n = ev.count()
    first = ev.orderBy("event_id").limit(2 * ((n + 2) // 3))
    rest = ev.orderBy("event_id").subtract(first)

    def run(part, start):
        from flink_spark.streaming.dedup import doc_stream

        sdf = doc_stream(spark, part, str(tmp_path / "replay"),
                         slices=2 if start == 0 else 1, start_slice=start,
                         order_col="event_id")
        q = (
            dim_app(sdf, cap, str(tmp_path / "topic"), str(tmp_path / "dim"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.processAllAvailable(); q.stop()

    run(first, 0)
    # only the click rule existed: no dwd_view output yet
    import os
    assert not os.path.isdir(str(tmp_path / "dim" / "dwd_view"))
    clicks_1 = spark.read.parquet(str(tmp_path / "dim" / "dwd_click")).count()
    assert clicks_1 == first.filter(F.col("event_type") == "click").count()

    # config change lands in the DB; the capture picks it up next batch
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(
        "INSERT INTO table_process VALUES "
        "('view', 'dwd_view', 'event_id,user_id')"
    )
    st.close(); conn.close()

    run(rest, 2)
    got_view = spark.read.parquet(str(tmp_path / "dim" / "dwd_view"))
    # the view route exists now — and carries ONLY post-change events
    assert sorted(got_view.columns) == ["event_id", "user_id"]
    assert got_view.count() == rest.filter(F.col("event_type") == "view").count()
    clicks_all = spark.read.parquet(str(tmp_path / "dim" / "dwd_click")).count()
    assert clicks_all == ev.filter(F.col("event_type") == "click").count()
    # the envelope audit log recorded both the bootstrap and the insert
    env = spark.read.parquet(str(tmp_path / "topic" / "epoch=*"))
    assert {r.type for r in env.collect()} >= {"bootstrap-insert", "insert"}
