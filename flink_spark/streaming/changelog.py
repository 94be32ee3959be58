"""Retract-stream consumer — incremental downstream aggregation.

The reference's DWS layer consumes the DWD upsert-kafka topics as a
*changelog*: Flink's runtime applies each ``-U``/``+U`` pair as a
retract+add against downstream aggregates
(``DwsTradeSkuOrderWindow.java:81-111`` re-aggregates order-detail
amounts per sku from the upsert topic written by
``DwdTradeOrderPreProcess.java:153-188``). ``upsert_sink(...,
changelog=True)`` emits exactly those pairs (``sinks._emit_changelog``);
this module closes the loop on the consumer side:

- ``changelog_stream``: the per-epoch retraction-pair dirs as a
  Structured Streaming file source — a Kafka deployment swaps this for
  the upsert topic reader, nothing downstream changes;
- ``changelog_agg_stream``: maintains ADDITIVE aggregates (count + sums)
  per group incrementally. Each micro-batch reduces to signed deltas
  (+1 for ``+I``/``+U`` rows, −1 for ``-U``) with a map-side partial
  aggregation, then merges |touched groups| rows into a
  manifest-committed state table. The corpus is never rescanned — the
  per-batch cost is O(batch), the state table is O(|groups|); this is
  what makes a continuously-maintained 100 TB rollup affordable
  (measured: ``scripts/bench_changelog.py`` / SCALING.md);
- ``init_agg_state``: bootstrap the state from the producer's committed
  table, so a consumer can join mid-life (or after changelog retention
  has dropped old epochs) without replaying history;
- ``truncate_changelog``: retention — drop epoch dirs a bootstrapped
  consumer no longer needs (the parquet analog of Kafka topic
  retention).

Exactly-once is anchored on the PRODUCER epoch, not the consumer's
micro-batch id: the state manifest records ``applied`` — the highest
``_epoch`` folded in — plus ``missing`` — the holes below it — and
each batch folds exactly the epochs above the watermark or in the hole
set. Additive state is not idempotent by itself, so the guard is
load-bearing; unlike a consumer-batch-id guard it stays exact under
EVERY re-delivery shape AND every delivery order: a crash-retry of the
same batch (all rows filtered → no-op), a fresh checkpoint over
complete state (ditto), a fresh checkpoint over PARTIAL state (only
the genuinely unapplied epochs survive the filter — a batch-id guard
would silently skip them), and out-of-order delivery (a higher epoch
arriving first records the jumped epochs as holes; they fold late
instead of being lost). Epoch dirs are zero-padded on the producer
side, so delivery order matches epoch order in practice and the hole
set stays empty; holes are the insurance, not the steady state. A
hole that can never be delivered stays in the set harmlessly: an
epoch whose diff was empty (0-row file — no observable epoch id), or
epochs below a truncation point for a consumer that skipped
``init_agg_state``; re-bootstrapping resets the set. The guard is
sound because epochs arrive whole: the producer writes each epoch as
ONE file and ``changelog_stream`` reads with ``maxFilesPerTrigger=1``,
so a batch never contains a fraction of an epoch.

Retractions are load-bearing too: a key whose latest row moves between
groups (a user whose newest event changes type) must decrement the old
group and increment the new one. An append-only consumer that ignored
``-U`` would double-count every such move — ``tests/test_streaming.py::
test_changelog_agg_retractions_are_load_bearing`` pins the difference.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_spark.commit import Pointer
from flink_spark.streaming.sinks import (
    _CHANGELOG,
    _MANIFEST_PTR,
    _epoch_dir,
    read_changelog,
    read_upsert_table,
)

_STATE_MANIFEST = "_STATE.json"


def changelog_stream(spark: SparkSession, table: str) -> DataFrame:
    """The upsert table's retraction pairs as a streaming source.

    File-stream over the ``_changelog/e{epoch}`` dirs (the base path
    names the underscore dir explicitly, so Spark's hidden-path filter
    does not apply to it; the epoch dirs and part files under it are
    plainly named). ``maxFilesPerTrigger=1`` + the producer's
    one-file-per-epoch write ⇒ each micro-batch carries whole epochs,
    which the consumer's ``applied`` watermark relies on. The schema
    is taken from the already-emitted pairs — at least one epoch must
    exist, which is the natural order of operations (the producer's
    ``availableNow`` run precedes the consumer's).
    """
    static = read_changelog(spark, table)
    if static is None:
        raise FileNotFoundError(
            f"no changelog under {table!r}; run upsert_sink(..., "
            "changelog=True) first so the stream has a schema to bind"
        )
    return (
        spark.readStream.schema(static.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(table, _CHANGELOG))
    )


# ``missing`` records the HOLES below the ``applied`` watermark: epochs
# not folded yet though a higher one has. It stays empty under in-order
# delivery; out-of-order delivery (mtime collisions, restored tables)
# then degrades to *late* folding instead of silent loss.
_STATE = Pointer(_STATE_MANIFEST, r"v\d+", lambda rec: [rec["version"]])


def _write_state(
    state_path: str, merged: DataFrame, applied: int,
    missing: list[int] = (),
) -> None:
    """Write the next state version and commit it (``flink_spark.commit``:
    the previous version is kept for readers that resolved it).

    Versions are named by a monotonic commit counter (NOT by
    ``applied`` — a late-arriving hole epoch changes state without
    raising the watermark).
    """
    os.makedirs(state_path, exist_ok=True)
    meta = _STATE.read(state_path)
    commit = meta["commit"] + 1 if meta else 1
    version = f"v{commit:09d}"
    dst = os.path.join(state_path, version)
    if os.path.isdir(dst):  # debris from a crashed identical attempt
        shutil.rmtree(dst)
    merged.write.parquet(dst)
    _STATE.commit(
        state_path,
        {
            "applied": applied,
            "missing": sorted(missing),
            "version": version,
            "commit": commit,
        },
        meta,
    )


def read_agg_state(spark: SparkSession, path: str) -> DataFrame | None:
    """Committed aggregate state (group cols + ``{c}_sum`` + ``row_ct``)."""
    meta = _STATE.read(path)
    if not meta:
        return None
    return spark.read.parquet(os.path.join(path, meta["version"]))


def init_agg_state(
    spark: SparkSession,
    table: str,
    group_cols: list[str],
    sum_cols: list[str],
    state_path: str,
    derive=None,
) -> int:
    """Bootstrap consumer state from the producer's COMMITTED table.

    A consumer joining an existing upsert table mid-life would
    otherwise need every changelog epoch since the beginning — exactly
    what retention (``truncate_changelog``) throws away. The bootstrap
    aggregates the committed table directly and records the producer's
    current manifest epoch as ``applied``, so the attached
    ``changelog_agg_stream`` folds only epochs after the snapshot.
    Returns the recorded watermark.

    Run it while the producer is idle (between micro-batches): the
    manifest read and the bucket-dir scan must see the same commit.
    """
    tbl = read_upsert_table(spark, table)  # raises if nothing committed
    applied = _MANIFEST_PTR.read(table)["epoch"]
    if derive is not None:
        tbl = derive(tbl)
    merged = tbl.groupBy(*group_cols).agg(
        *[
            F.sum(F.col(c)).cast("double").alias(f"{c}_sum")
            for c in sum_cols
        ],
        F.count(F.lit(1)).cast("long").alias("row_ct"),
    )
    _write_state(state_path, merged, applied)
    return applied


def truncate_changelog(table: str, before_epoch: int) -> int:
    """Retention: drop changelog epoch dirs with epoch < ``before_epoch``.

    Safe for any consumer whose state ``applied`` watermark is ≥
    ``before_epoch − 1`` (it filters those epochs out anyway) and for
    new consumers that bootstrap with ``init_agg_state``. Returns the
    number of epoch dirs removed.
    """
    cdir = os.path.join(table, _CHANGELOG)
    if not os.path.isdir(cdir):
        return 0
    dropped = 0
    for name in os.listdir(cdir):
        if name.startswith("e") and name[1:].isdigit() \
                and int(name[1:]) < before_epoch:
            shutil.rmtree(os.path.join(cdir, name), ignore_errors=True)
            dropped += 1
    return dropped


def changelog_agg_stream(
    spark: SparkSession,
    table: str,
    group_cols: list[str],
    sum_cols: list[str],
    state_path: str,
    derive=None,
):
    """Continuously maintain per-group sums/counts over an upsert table.

    Returns a ``writeStream`` builder (attach checkpoint + trigger).
    State schema: ``group_cols`` + ``{c}_sum`` for each ``sum_cols``
    entry + ``row_ct`` (live rows of the upsert table in the group).
    Groups whose ``row_ct`` reaches 0 are dropped — the state table
    always equals ``read_upsert_table(...).groupBy(group_cols)`` of
    the producer's committed table (the stream≡batch invariant
    ``test_changelog_incremental_agg`` pins).

    ``derive`` (optional, ``DataFrame -> DataFrame``) runs on each
    batch before the delta aggregation, so group columns can be
    DERIVED from changelog columns — e.g. the reference's windowed
    DWS rollups group by (sku, 10 s bucket of the row time): pass
    ``lambda df: df.withColumn("win", F.window_time(...))`` (or a
    ``date_trunc``) and list the bucket in ``group_cols``. A retract
    and its replacement carry their own row values, so each lands in
    its own derived group and the signed fold stays exact.
    """
    sdf = changelog_stream(spark, table)

    def apply(batch: DataFrame, _consumer_epoch: int) -> None:
        _fold_changelog_batch(
            batch, group_cols, sum_cols, state_path, derive, table=table
        )

    return sdf.writeStream.foreachBatch(apply).outputMode("append")


def _resolve_dead_holes(
    spark: SparkSession, table: str, missing: list[int]
) -> list[int]:
    """Drop holes that can never deliver rows.

    A hole is DEAD — no future batch will ever carry its epoch id — in
    exactly two observable cases: the epoch dir is absent (truncated by
    retention, or a producer epoch-counter gap that never wrote one),
    or the dir exists but holds zero rows (an empty-diff epoch: the
    producer committed but emitted nothing observable, so the watermark
    jumped it). Keeping a dead hole would pin the consumer in the
    lenient prune branch forever — row_ct==0 groups with cancelled-pair
    float residue would accumulate as phantom state. A hole whose dir
    has real rows is a genuine pending late delivery and is kept.

    Cost: one bounded parquet probe per outstanding hole, only on
    batches that fold fresh rows while holes exist — holes are the
    out-of-order insurance path, empty in the steady state.
    """
    alive: list[int] = []
    cdir = os.path.join(table, _CHANGELOG)
    for ep in missing:
        d = os.path.join(cdir, _epoch_dir(ep))
        if not os.path.isdir(d):
            continue  # unresolvable: nothing on disk can deliver it
        try:
            if spark.read.parquet(d).limit(1).count() == 0:
                continue  # verifiably empty epoch: nothing to fold
        except Exception:
            pass  # unreadable (e.g. no parquet footer yet): keep waiting
        alive.append(ep)
    return alive


def _fold_changelog_batch(
    batch: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    state_path: str,
    derive=None,
    table: str | None = None,
) -> None:
    """Fold one batch of retraction pairs into the state table.

    Module-level (not a closure) so tests can drive epochs in arbitrary
    delivery orders; ``changelog_agg_stream`` is a thin wrapper. When
    ``table`` (the producer path) is known, dead holes — epochs that
    can never deliver rows — are resolved against the changelog dirs
    (``_resolve_dead_holes``) so the hole set cannot grow without
    bound and the strict ``row_ct != 0`` prune re-engages.
    """
    spark = batch.sparkSession
    meta = _STATE.read(state_path)
    applied = meta.get("applied", -1) if meta else -1
    missing = meta.get("missing", []) if meta else []
    # producer-epoch watermark + hole set: whatever re-delivery
    # shape OR delivery order brought this batch here, exactly the
    # genuinely unapplied epochs pass — epochs above the watermark,
    # plus recorded holes below it (an epoch delivered late after a
    # higher one raised the watermark)
    unapplied = F.col("_epoch") > applied
    if missing:
        unapplied = unapplied | F.col("_epoch").isin(missing)
    fresh = batch.filter(unapplied).persist()
    try:
        present = sorted(
            r[0] for r in fresh.select("_epoch").distinct().collect()
        )
        if not present:
            return  # every row already folded in — no-op replay
        hi = max(applied, present[-1])
        # epochs the watermark is about to jump over without
        # folding become holes; a delivered hole epoch leaves the set
        missing = sorted(
            (set(missing) | set(range(applied + 1, hi)))
            - set(present)
        )
        if missing and table is not None:
            missing = _resolve_dead_holes(spark, table, missing)
        work = derive(fresh) if derive is not None else fresh
        sign = F.when(F.col("_op") == "-U", F.lit(-1)).otherwise(F.lit(1))
        deltas = (
            work.withColumn("_sign", sign)
            .groupBy(*group_cols)
            .agg(
                F.sum("_sign").cast("long").alias("_d_ct"),
                *[
                    F.sum(F.col("_sign") * F.col(c)).cast("double")
                    .alias(f"_d_{c}")
                    for c in sum_cols
                ],
            )
        )
        prev = read_agg_state(spark, state_path)
        if prev is not None:
            merged = prev.join(deltas, group_cols, "full_outer").select(
                *group_cols,
                *[
                    (
                        F.coalesce(f"{c}_sum", F.lit(0.0))
                        + F.coalesce(f"_d_{c}", F.lit(0.0))
                    ).alias(f"{c}_sum")
                    for c in sum_cols
                ],
                (
                    F.coalesce("row_ct", F.lit(0))
                    + F.coalesce("_d_ct", F.lit(0))
                ).cast("long").alias("row_ct"),
            )
        else:
            merged = deltas.select(
                *group_cols,
                *[F.col(f"_d_{c}").alias(f"{c}_sum") for c in sum_cols],
                F.col("_d_ct").alias("row_ct"),
            )
        # pruning must respect fold commutativity. In the steady state
        # (no holes) ``row_ct == 0`` means every row left the group —
        # drop it (any float residue in its sums is cancelled-pair
        # noise). While holes are outstanding a group can be transiently
        # negative (retract before its add) or sit at ct 0 with a
        # NONZERO pending sum (an epoch's -U/+U value change folded
        # before the group's original +I) — dropping either would lose
        # the balance, so prune only exact-zero groups until the holes
        # drain.
        if not missing:
            merged = merged.filter(F.col("row_ct") != 0)
        else:
            live = F.col("row_ct") != 0
            for c in sum_cols:
                live = live | (F.col(f"{c}_sum") != 0.0)
            merged = merged.filter(live)
        _write_state(state_path, merged, int(hi), missing)
    finally:
        fresh.unpersist()
