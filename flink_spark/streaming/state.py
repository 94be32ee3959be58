"""Keyed-state streaming operators.

Covers the reference's RichFunction/ValueState/CEP family:

- W5 keyed ValueState + daily expiry → ``daily_unique_stream``
  (rt/app/dwd/log/DwdTrafficUniqueVisitorDetail.java:69-98: ValueState
  holding last-seen date, 1-day TTL). Here it runs entirely in the JVM:
  a streaming ``dropDuplicates`` over (user, 1-day event-time window),
  whose state row for a (user, day) is evicted once the watermark
  passes the day's end — the TTL, decided by the watermark.
- Cross-day keyed state (returning users, new-visitor correction) runs
  on ``applyInPandasWithState``: it must remember a date across days,
  which a dedup cannot express.
- W6/W8 timers + CEP-with-timeout → ``cep_jump_stream``
  (rt/app/dwd/log/DwdTrafficUserJumpDetail.java:79-119: pattern
  "session start ``next`` session start ``within 10 s``", timeout
  side-output unioned with matches)
- F4 rich stateful map/filter — both of the above are its Spark shape.

Batch truth: ``flink_spark.plans.state`` (``s_daily_unique_users``,
``s_cep_jump``) — stream-batch equivalence is asserted in tests.

Scale notes: state per key is O(1) (a (user, day) key / a date string
/ one event tuple), keys partition by hash across executors, and the
watermark bounds both state lifetime and timer firing — the same
properties the reference gets from keyed ValueState + TTL + event-time
timers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout


def daily_unique_stream(sdf: DataFrame, watermark: str = "2 seconds") -> DataFrame:
    """Emit (user_id, date_id) on each user's first event of a day.

    A streaming ``dropDuplicates`` over (user_id, 1-day tumbling window
    of ``ts``): the first event of a (user, day) passes, later ones are
    dropped, whatever order they arrive in within the watermark delay.
    The window column carries the watermark, so Spark evicts each
    (user, day) state row once the watermark passes the day's end —
    the reference's 1-day TTL, with no Python worker. Day boundaries
    are UTC midnights, matching ``date_id`` because the session pins
    UTC. Downstream ``groupBy(date_id).count()`` equals batch
    ``s_daily_unique_users``.
    """
    return (
        sdf.withWatermark("ts", watermark)
        .select("user_id", F.window("ts", "1 day").alias("day"))
        .dropDuplicates(["user_id", "day"])
        .select(
            "user_id",
            F.date_format(F.col("day.start"), "yyyy-MM-dd").alias("date_id"),
        )
    )


_RETURNING_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("date_id", T.StringType()),
        T.StructField("is_back", T.IntegerType()),
    ]
)
_RETURNING_STATE = T.StructType([T.StructField("last_date", T.StringType())])


def returning_users_stream(sdf: DataFrame, watermark: str = "2 seconds") -> DataFrame:
    """7-day "back-flow" returning-user detection per login day.

    (rt/app/dws/DwsUserUserLoginWindow.java:111-117): keyed ValueState
    holds each user's last active date; on the first event of a new
    day the user counts as active, and as "back" when the gap since
    the stored date exceeds 7 days. (The reference's expression has a
    precedence bug at :114 — division binds before subtraction; we
    implement the intended days-between > 7, as documented in
    SURVEY.md §7.2(5).) Downstream ``groupBy(date_id).agg(count,
    sum(is_back))`` equals batch ``s_returning_users_7d``.
    """

    def fn(key, pdfs, state):
        from datetime import date

        import pandas as pd

        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        last = state.get[0] if state.exists else None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for d in pdf["ts"].dt.strftime("%Y-%m-%d"):
                if last is None or d > last:
                    back = (
                        1
                        if last is not None
                        and (date.fromisoformat(d) - date.fromisoformat(last)).days > 7
                        else 0
                    )
                    out.append((key[0], d, back))
                    last = d
        state.update((last,))
        if out:
            yield pd.DataFrame(out, columns=["user_id", "date_id", "is_back"])

    return (
        sdf.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, _RETURNING_OUT, _RETURNING_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )


_VISITOR_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("date_id", T.StringType()),
        T.StructField("is_new", T.IntegerType()),
    ]
)
_VISITOR_STATE = T.StructType([T.StructField("first_date", T.StringType())])


def is_new_correction_stream(sdf: DataFrame, watermark: str = "2 seconds") -> DataFrame:
    """A7 — new/old-visitor flag correction state machine.

    (rt/app/dwd/log/BaseLogApp.java:71-108): the client-reported
    ``is_new`` flag lies after reinstalls; the keyed state holds the
    first date each key was seen and rewrites the flag — 1 only on
    events of the key's first-ever day, 0 afterwards. Batch truth:
    ``s_new_vs_returning`` (a user is new only on min(date)).
    """

    def fn(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        first = state.get[0] if state.exists else None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            dates = pdf["ts"].dt.strftime("%Y-%m-%d")
            for eid, d in zip(pdf["event_id"], dates):
                if first is None:
                    first = d
                out.append((key[0], int(eid), d, 1 if d == first else 0))
        state.update((first,))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "event_id", "date_id", "is_new"]
            )

    return (
        sdf.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, _VISITOR_OUT, _VISITOR_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )


def cep_jump_stream(
    sdf: DataFrame, gap_ms: int = 10_000, watermark: str = "2 seconds"
) -> DataFrame:
    """Per-key jump detection: event with no successor within 10 s.

    Round 5: a declaration over the generalized pattern evaluator
    (``flink_spark.streaming.cep.pattern_stream``) instead of a
    bespoke state machine — the jump is the non-match side of the
    trivial two-step pattern. Two emission paths survive, exactly the
    reference's CEP match ∪ timeout union:

    - ``via='gap'``     — a newer event arrived more than ``gap_ms``
      later, so the stored event is a jump (the PatternSelect path);
    - ``via='timeout'`` — the event-time timer fired because the
      watermark passed stored_ms + gap_ms with no successor (the
      OutputTag timeout path).

    Sentinel/flush rows (event_id < 0) advance state but are never
    emitted. Equivalence: count of emitted rows per user equals batch
    ``s_cep_jump.jump_ct`` once every key's state is flushed.
    """
    from flink_spark.plans.cep import SeqPattern
    from flink_spark.streaming.cep import pattern_stream

    pat = SeqPattern(steps=("true", "true"), within_ms=gap_ms)
    return pattern_stream(sdf, pat, watermark).filter(F.col("via") != "match")


_ASOF_OUT = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("purchase_us", T.LongType()),
        T.StructField("view_us", T.LongType()),
        T.StructField("lag_us", T.LongType()),
    ]
)
_ASOF_STATE = T.StructType(
    [
        T.StructField("max_old", T.LongType()),
        T.StructField("recent", T.ArrayType(T.LongType())),
        T.StructField("pend_id", T.ArrayType(T.LongType())),
        T.StructField("pend_us", T.ArrayType(T.LongType())),
    ]
)


def asof_stream(sdf: DataFrame, watermark: str = "2 seconds") -> DataFrame:
    """Streaming as-of join: purchases enriched with the latest prior view.

    The streaming form of ``j_asof_nearest``, correct under bounded
    out-of-order ARRIVAL (anything the watermark admits): a purchase
    is only decidable once no earlier-timestamped view can still
    arrive, so purchases BUFFER in keyed state until the watermark
    passes their event time (the same finalize-on-watermark contract
    as Flink's event-time joins and this repo's CEP timers), then
    resolve against the view history and emit. Purchases that are
    already older than the current watermark resolve in the arrival
    batch — in an in-order stream everything takes that fast path.

    The view history is NOT kept in full: views older than the
    watermark collapse into one running max (any still-pending or
    future purchase has event time ≥ the watermark, so the collapsed
    max is always an at-or-before candidate for it); only views
    inside the disorder horizon stay materialized. State per key is
    O(views-in-horizon + undecided purchases), both bounded by the
    watermark delay — not by stream length.

    Ties (view at the exact purchase microsecond) count as prior —
    same rule as the batch window sort (tag 0 before 1). Sentinel
    ``__flush__`` rows advance the watermark but are neither matched
    nor emitted.
    """

    def fn(key, pdfs, state):
        import pandas as pd

        max_old, recent, pend = (None, [], [])
        if state.exists:
            mo, rec, pids, pus = state.get
            max_old, recent = mo, list(rec)
            pend = list(zip(pids, pus))
        out = []
        # watermark in ms (Spark reports ms; event times here are us)
        wm_us = state.getCurrentWatermarkMs() * 1000

        def resolve(eid, pus):
            cands = [v for v in recent if v <= pus]
            if max_old is not None and max_old <= pus:
                cands.append(max_old)
            if cands:
                best = max(cands)
                out.append((eid, key[0], pus, best, pus - best))

        if not state.hasTimedOut:
            chunks = [pdf for pdf in pdfs]
            if chunks:
                pdf = (
                    pd.concat(chunks) if len(chunks) > 1 else chunks[0]
                ).sort_values(["us", "tag", "event_id"])
                for r in pdf.itertuples(index=False):
                    if r.tag == 0:
                        recent.append(r.us)
                    elif r.tag == 1:
                        pend.append((r.event_id, r.us))
                    # tag 2 = sentinel: watermark fuel only

        # decidable purchases: no view with time < wm can arrive now,
        # and a pending purchase has us < wm ⇒ every candidate view
        # already arrived
        still = []
        for eid, pus in sorted(pend, key=lambda p: (p[1], p[0])):
            if pus < wm_us:
                resolve(eid, pus)
            else:
                still.append((eid, pus))
        pend = still

        # collapse views the watermark has sealed: every undecided or
        # future purchase has event time ≥ wm, so a single max suffices
        old = [v for v in recent if v < wm_us]
        if old:
            fold = max(old)
            max_old = fold if max_old is None else max(max_old, fold)
            recent = [v for v in recent if v >= wm_us]

        if max_old is None and not recent and not pend:
            if state.exists:  # pragma: no cover - nothing ever stored
                state.remove()
        else:
            state.update(
                (max_old, recent, [p[0] for p in pend], [p[1] for p in pend])
            )
            if pend:
                # wake when the watermark passes the oldest purchase
                horizon_ms = min(p[1] for p in pend) // 1000 + 1
                state.setTimeoutTimestamp(
                    max(horizon_ms, wm_us // 1000 + 1)
                )
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "event_id", "user_id", "purchase_us", "view_us", "lag_us"
                ],
            )

    ev = (
        sdf.withWatermark("ts", watermark)
        .filter(F.col("event_type").isin("view", "purchase", "__flush__"))
        .select(
            "user_id",
            "event_id",
            "ts",
            F.unix_micros("ts").alias("us"),
            F.when(F.col("event_type") == "purchase", 1)
            .when(F.col("event_type") == "view", 0)
            .otherwise(2)
            .alias("tag"),
        )
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        fn, _ASOF_OUT, _ASOF_STATE, "append", GroupStateTimeout.EventTimeTimeout
    )
