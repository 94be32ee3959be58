"""Sinks + config-driven routing (SURVEY.md §2.2 K1-K6, §2.4 J6, §2.3 P7).

The reference writes to Kafka (append + upsert/changelog), ClickHouse
over JDBC, and a dynamically-routed Phoenix dim store. The Spark
shapes:

- K1/K2 Kafka append     → ``kafka_payload`` projection + kafka format
- K3 upsert-kafka        → ``upsert_sink``: foreachBatch latest-row
  merge into a keyed table (the reference itself reconciles changelog
  duplicates downstream by taking the max-ts row — SURVEY.md O10 — so
  final-table semantics are identical)
- K4 JDBC batch sink     → ``foreach_batch_sink`` with a jdbc writer
- K5 routed dim sink     → ``routed_dim_sink``: per-batch fan-out to
  per-table parquet dirs, column-pruned by a config table (J6/P7/F3/
  W10 — the broadcast-state pattern becomes a per-batch config join)
- K6 console             → ``console_sink``
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_spark.commit import Pointer


def kafka_payload(df: DataFrame, key_col: str, value_cols: list[str]) -> DataFrame:
    """K1/K2 — project rows into the Kafka (key, value-JSON) contract.

    (rt/utils/MyKafkaUtil.java:52-76). Attach
    ``.writeStream.format('kafka').option('kafka.bootstrap.servers',…)``
    on a cluster; the projection is testable without a broker.
    """
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*value_cols)).alias("value"),
    )


def console_sink(sdf: DataFrame, rows: int = 20):
    """K6 — debug print sink (the reference's ``.print(\">>>\")``)."""
    return (
        sdf.writeStream.format("console")
        .option("numRows", rows)
        .outputMode("append")
    )


def foreach_batch_sink(
    sdf: DataFrame, writer: Callable[[DataFrame, int], None]
):
    """K4 — micro-batch writer harness (MyClickHouseUtil.java:19-62).

    The reference batches 5 rows / 1000 ms into ClickHouse JDBC; in
    Spark the micro-batch *is* the unit, so ``writer`` receives whole
    batches (e.g. ``lambda df, _: df.write.jdbc(url, table, 'append')``).
    No reflection over bean fields — the DataFrame carries its schema.
    """
    return sdf.writeStream.foreachBatch(writer).outputMode("update")


def jdbc_exactly_once_sink(sdf: DataFrame, url: str, table: str):
    """K4, hardened — exactly-once micro-batch append into a JDBC table.

    The reference writes ClickHouse at-least-once and relies on
    ReplacingMergeTree to absorb replays (``MyClickHouseUtil.java:19-62``
    + table engines in the DDL); plain ``foreach_batch_sink`` +
    ``mode("append")`` has the same at-least-once behavior (a crash
    between the JDBC write and the checkpoint commit re-appends the
    batch). This form closes the gap for targets with transactions but
    no dedup engine:

    1. the batch is written (overwrite — retry-safe) to a per-epoch
       STAGING table through Spark's parallel JDBC writer, so rows
       never funnel through the driver;
    2. one driver-side transaction moves it: ``INSERT INTO target
       SELECT * FROM stage`` + ``INSERT INTO <table>_EPOCHS (epoch)``,
       then commit. The ledger's primary key makes a replayed epoch
       roll back atomically — applied exactly once, no matter where a
       crash lands.

    Scope of the guarantee (the standard foreachBatch contract): batch
    ids are stable only within one checkpoint lineage. Restarting from
    a FRESH checkpoint re-numbers batches from 0, and this sink will
    (correctly, per its ledger) skip them — resume from the existing
    checkpoint, or truncate target + ledger together. Derby-tested in
    ``tests/test_jdbc.py``; any transactional target only changes the
    url/driver.
    """
    spark = sdf.sparkSession
    ledger = f"{table}_EPOCHS"

    def _exec(conn, *stmts) -> None:
        st = conn.createStatement()
        try:
            for s in stmts:
                st.executeUpdate(s)
        finally:
            st.close()

    def write(batch: DataFrame, epoch: int) -> None:
        jvm = spark._sc._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            try:
                _exec(conn, f"CREATE TABLE {ledger} (epoch BIGINT "
                            "PRIMARY KEY)")
            except Exception:
                pass  # exists
            stage = f"{table}_STAGE_{int(epoch)}"
            rs = conn.createStatement().executeQuery(
                f"SELECT 1 FROM {ledger} WHERE epoch = {int(epoch)}"
            )
            if rs.next():
                # replayed epoch: already applied. A crash between the
                # ledger commit and the DROP below leaves the staging
                # table behind with no later retry reaching the DROP —
                # sweep it here so crashed epochs leave no debris.
                try:
                    _exec(conn, f"DROP TABLE {stage}")
                except Exception:
                    pass  # never existed (the common case)
                return
            batch.write.format("jdbc").option("url", url).option(
                "dbtable", stage
            ).mode("overwrite").save()
            # quoted, case-exact column list: Spark's JDBC writer creates
            # quoted identifiers, and INSERT..SELECT must align them
            cols = ", ".join(f'"{c}"' for c in batch.columns)
            try:
                _exec(conn,
                      f"CREATE TABLE {table} AS SELECT {cols} FROM "
                      f"{stage} WITH NO DATA")
            except Exception:
                pass  # exists
            conn.setAutoCommit(False)
            try:
                _exec(conn,
                      f"INSERT INTO {table} ({cols}) SELECT {cols} "
                      f"FROM {stage}",
                      f"INSERT INTO {ledger} VALUES ({int(epoch)})")
                conn.commit()
            except Exception:
                conn.rollback()
                raise
            finally:
                conn.setAutoCommit(True)
            try:
                _exec(conn, f"DROP TABLE {stage}")
            except Exception:
                pass  # best-effort; a retry overwrites it anyway
        finally:
            conn.close()

    return sdf.writeStream.foreachBatch(write).outputMode("update")


_BUCKET = "_ub"  # key-hash bucket column of the upsert table
_MANIFEST = "_MANIFEST.json"
_CHANGELOG = "_changelog"  # per-epoch retraction-pair dirs (opt-in)


def _epoch_dir(epoch: int) -> str:
    """Zero-padded changelog epoch dir name (lexical order ≡ numeric)."""
    return f"e{int(epoch):012d}"


# THE commit point of an upsert table: readers resolve bucket dirs
# through the manifest, never by listing, so they see either the
# pre-commit or the post-commit bucket set — never a mix.
_MANIFEST_PTR = Pointer(
    _MANIFEST, r"b-?\d+_e\d+", lambda rec: rec["buckets"].values()
)


def _read_manifest(path: str) -> dict[str, str]:
    """bucket-id (str) → current versioned dir name; {} if no commit yet."""
    man = _MANIFEST_PTR.read(path)
    return man["buckets"] if man else {}


def read_upsert_table(
    spark: SparkSession, path: str, buckets: list[int] | None = None
) -> DataFrame | None:
    """Read the committed state of an ``upsert_sink`` table.

    Resolves the manifest and scans exactly the referenced bucket-version
    dirs (optionally restricted to ``buckets`` — the merge's by-construction
    partition pruning). Multiple dirs feed ONE parquet relation (a single
    file-index/scan node), so the plan does not grow with bucket count.
    Returns ``None`` when none of the requested ``buckets`` exist yet.
    """
    man = _read_manifest(path)
    if not man:
        raise FileNotFoundError(f"no committed upsert table at {path}")
    if buckets is not None:
        want = set(buckets)
        man = {b: d for b, d in man.items() if int(b) in want}
    if not man:
        return None  # none of the requested buckets exist yet
    return spark.read.parquet(*(os.path.join(path, d) for d in man.values()))


def read_changelog(spark: SparkSession, path: str) -> DataFrame | None:
    """All retraction-pair emissions of a ``changelog=True`` upsert table.

    Schema: the table's key+value columns plus ``_op`` (Flink row-kind
    strings ``+I``/``-U``/``+U``), ``_seq`` (0 = retract, 1 = add —
    the within-epoch order), and ``_epoch``. Replaying adds in
    (_epoch, _seq) order per key reconstructs the committed table —
    the invariant ``test_upsert_changelog_replay`` pins.
    """
    cdir = os.path.join(path, _CHANGELOG)
    if not os.path.isdir(cdir) or not os.listdir(cdir):
        return None
    return spark.read.option("recursiveFileLookup", "true").parquet(cdir)


def _emit_changelog(
    path: str, epoch: int, current: DataFrame | None,
    latest: DataFrame, keys: list[str],
) -> None:
    """Write epoch ``epoch``'s retraction pairs (diff of the touched
    buckets' pre- vs post-merge state): ``+I`` for a new key, ``-U``
    old row then ``+U`` new row for a changed key, nothing for an
    untouched key.

    Crash-retry idempotence (the caller emits BEFORE the manifest
    commit): a retry of a pre-commit crash recomputes the identical
    diff and overwrites the epoch dir with the same content; a retry
    that lands AFTER the manifest committed sees an empty diff — in
    that case an existing epoch dir is the durable record of the
    already-applied pairs and is KEPT, never clobbered with emptiness.
    Either way an epoch's pairs appear exactly once.

    Epoch dirs are ZERO-PADDED (``e000000000010``) so that the lexical
    ordering any directory listing or mtime-tiebreak produces is the
    numeric epoch ordering — unpadded names sort ``e10`` before ``e2``,
    which could hand a file-stream consumer a higher epoch first when
    mtimes collide (fast micro-batches) or are reset (rsync/backup
    restore). The consumer's watermark no longer *requires* in-order
    delivery (``changelog.py`` tracks holes), but ordered delivery keeps
    its hole set empty."""
    dst = os.path.join(path, _CHANGELOG, _epoch_dir(epoch))
    val = [c for c in latest.columns if c not in keys and c != _BUCKET]
    n = latest.select(*keys, F.struct(*val).alias("_new"))
    if current is not None:
        o = current.select(*keys, F.struct(*val).alias("_old"))
        j = n.join(o, keys, "left")
    else:
        j = n.withColumn(
            "_old", F.lit(None).cast(n.schema["_new"].dataType)
        )
    changed = j.filter(~F.col("_old").eqNullSafe(F.col("_new"))).persist()
    try:
        if os.path.isdir(dst) and changed.limit(1).count() == 0:
            return  # post-commit replay: the epoch's pairs already stand
        adds = changed.select(
            *keys, F.col("_new").alias("_row"),
            F.when(F.col("_old").isNull(), F.lit("+I"))
            .otherwise(F.lit("+U")).alias("_op"),
            F.lit(1).alias("_seq"),
        )
        retracts = changed.filter(F.col("_old").isNotNull()).select(
            *keys, F.col("_old").alias("_row"),
            F.lit("-U").alias("_op"), F.lit(0).alias("_seq"),
        )
        out = (
            retracts.unionByName(adds)
            .withColumn("_epoch", F.lit(epoch))
            .select(*keys, "_row.*", "_op", "_seq", "_epoch")
        )
        # one part file per epoch: a file-stream consumer then receives
        # each epoch ATOMICALLY (maxFilesPerTrigger=1 ⇒ whole epochs per
        # micro-batch), which is what makes the consumer's producer-epoch
        # watermark guard exact (streaming/changelog.py). Epoch diffs are
        # micro-batch-sized, so the single writer is not a bottleneck;
        # a Kafka deployment gets the same atomicity from topic offsets.
        out.coalesce(1).write.mode("overwrite").parquet(dst)
    finally:
        changed.unpersist()


def upsert_sink(
    sdf: DataFrame,
    path: str,
    keys: list[str],
    order_cols: list[str],
    num_buckets: int = 16,
    output_mode: str = "update",
    changelog: bool = False,
    bucket_expr=None,
):
    """K3 — changelog/upsert table emulation via bucketed latest-row merge.

    (MyKafkaUtil.java:78-86 upsert-kafka DDL). Each micro-batch merges
    only the buckets its keys hash into (``pmod(xxhash64(keys),
    num_buckets)``): read exactly those buckets' current version dirs,
    union the batch, keep per key the row with the greatest
    ``order_cols``, write new *versioned* bucket dirs, and commit by
    atomically replacing a single manifest pointer file
    (``flink_spark.commit``). Readers (``read_upsert_table``) resolve
    dirs through the manifest, so they see either the pre-commit or
    post-commit table — never a partial swap; the commit keeps the
    previous manifest's bucket versions, so a reader that resolved it
    can still run, and a crash at any point leaves only unreferenced
    debris that the next epoch garbage-collects. Flink emits retraction
    pairs that upsert-kafka compacts; Spark reaches the same *final table* (the
    property the reference's downstream relies on — SURVEY.md O10/A5)
    with per-batch work proportional to the touched buckets, not the
    whole table. ``changelog=True`` additionally emits those pairs for
    external consumers of the intermediate stream
    (rt/utils/MyKafkaUtil.java:78-86 semantics): per epoch, ``+I`` for
    new keys and ``-U`` old/``+U`` new for changed keys, written to a
    ``_changelog/e{epoch}`` dir (``read_changelog``; a Kafka
    deployment swaps the parquet write for a ``kafka_payload`` batch
    send, nothing else changes). Replaying the adds in (_epoch, _seq)
    order per key reconstructs the table exactly.

    The manifest-swap commit is the same protocol a Delta/Iceberg
    ``MERGE INTO`` performs against its transaction log; this parquet
    form keeps the repo dependency-free. The implementation manipulates
    the local filesystem (the test environment), hence the scheme check
    below; on a cluster, point it at a fuse/NFS mount or swap the
    rename/replace calls for the object-store equivalents.
    ``num_buckets`` sizes bucket-vs-batch overlap: at 100 TB raise it
    so one bucket ≈ a few GB.

    ``bucket_expr`` (optional Column) replaces the hash bucketing with
    a caller-supplied integer bucket id. It MUST be a pure function of
    the key columns (a key must land in the same bucket every epoch,
    or the merge can't see the row it supersedes). The case that needs
    it: append-mostly tables with MONOTONE keys (the reference's
    detail-record ids). Hash bucketing scatters every batch across all
    buckets, so once |batch| ≫ num_buckets each merge rewrites the
    whole table — measured in SCALING.md ("changelog consumer"
    section). Range bucketing (``F.col("id") // span``) concentrates
    new keys in the newest bucket(s): the merge touches O(batch) data
    regardless of table size, and the bucket count grows with the
    table instead of being fixed up front. Readers are unaffected
    (``read_upsert_table`` resolves whatever bucket ids the manifest
    names; its ``buckets=`` pruning arg simply follows the same
    scheme).
    """
    if "://" in path or path.startswith("file:"):
        # object-store / non-local paths: the manifest commit's local
        # renames don't apply — dispatch to the Delta MERGE INTO form,
        # whose transaction log provides the same atomic-pointer commit
        # natively.
        if changelog:
            raise ValueError(
                "changelog emission is a feature of the local manifest "
                "form; the Delta form gets the same retraction stream "
                "natively from Change Data Feed — set the table property "
                "delta.enableChangeDataFeed=true and read table_changes() "
                "instead of passing changelog=True"
            )
        if delta_available():
            return upsert_sink_delta(sdf, path, keys, order_cols, output_mode)
        raise ValueError(
            f"upsert_sink path {path!r} is not a local filesystem path and "
            "delta-spark is not installed: the manifest commit needs "
            "local filesystem renames. Install delta-spark (public "
            "package) for the MERGE INTO form, or mount the store as a "
            "local path."
        )
    spark = sdf.sparkSession
    # a NULL in any key column maps to a NULL bucket id, which the merge
    # rejects loudly below — xxhash64 would otherwise hash NULL to a
    # real bucket and silently merge every null-keyed row as one key
    some_key_null = None
    for k in keys:
        c = F.col(k).isNull()
        some_key_null = c if some_key_null is None else (some_key_null | c)
    bucket_of = F.when(
        some_key_null, F.lit(None).cast("long")
    ).otherwise(
        bucket_expr
        if bucket_expr is not None
        else F.pmod(F.xxhash64(*keys), F.lit(num_buckets))
    )

    def merge(batch: DataFrame, epoch: int) -> None:
        b = batch.withColumn(_BUCKET, bucket_of)
        b.persist()
        latest = None
        try:
            raw = [r[0] for r in b.select(_BUCKET).distinct().collect()]
            if None in raw:
                # a NULL key (or a bucket_expr returning NULL) has no
                # home bucket; failing loudly beats hiding rows in a
                # default partition the manifest never references
                raise ValueError(
                    "upsert_sink: NULL bucket id in batch — null key "
                    "column, or bucket_expr returned NULL; filter or "
                    "default the keys upstream"
                )
            touched = sorted(raw)
            if not touched:
                return
            os.makedirs(path, exist_ok=True)
            prev = _MANIFEST_PTR.read(path)
            current = read_upsert_table(spark, path, touched) if prev else None
            if current is not None:
                current = current.withColumn(_BUCKET, bucket_of)
                allrows = current.unionByName(b)
            else:
                allrows = b
            latest = _latest_per_key(allrows, keys, order_cols)
            if changelog:
                # two actions consume `latest` (diff + staging write);
                # materialize it once. Emit BEFORE the manifest commit
                # so a crash-retry recomputes the identical diff (see
                # _emit_changelog).
                latest = latest.persist()
                _emit_changelog(path, epoch, current, latest, keys)
            # staging lives INSIDE the table dir but is underscore-named:
            # invisible both to the manifest and to Spark's file index
            staging = os.path.join(path, f"_stage_{epoch}")
            latest.write.mode("overwrite").partitionBy(_BUCKET).parquet(staging)
            committed = dict(prev["buckets"]) if prev else {}
            for t in touched:
                src = os.path.join(staging, f"{_BUCKET}={t}")
                if not os.path.isdir(src):
                    continue  # defensive: bucket produced no rows
                version = f"b{t}_e{epoch}"
                dst = os.path.join(path, version)
                if os.path.isdir(dst):  # retry of a crashed identical epoch
                    shutil.rmtree(dst)
                os.rename(src, dst)
                committed[str(t)] = version
            _MANIFEST_PTR.commit(
                path, {"epoch": epoch, "buckets": committed}, prev
            )
            # this epoch's staging dir and any a crashed epoch left
            for name in os.listdir(path):
                if name.startswith("_stage_"):
                    shutil.rmtree(os.path.join(path, name), ignore_errors=True)
        finally:
            b.unpersist()
            if changelog and latest is not None:
                latest.unpersist()

    # stream-stream joins only run in append mode; aggregations in update
    return sdf.writeStream.foreachBatch(merge).outputMode(output_mode)


def _latest_per_key(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Keep per key the row greatest under ``order_cols`` (A5 compaction)."""
    w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def delta_available() -> bool:
    """True when the public delta-spark package (and its jars) import."""
    try:
        from delta.tables import DeltaTable  # noqa: F401
        return True
    except ImportError:
        return False


def _newer_cond(order_cols: list[str], src: str = "s", dst: str = "t") -> str:
    """SQL for "source strictly newer than target" under the lexicographic
    ``order_cols`` order — the MERGE update guard that makes replays of an
    already-applied epoch no-ops (same row ⇒ not strictly newer)."""
    terms = []
    for i, c in enumerate(order_cols):
        eqs = [f"{src}.{o} = {dst}.{o}" for o in order_cols[:i]]
        terms.append("(" + " AND ".join(eqs + [f"{src}.{c} > {dst}.{c}"]) + ")")
    return " OR ".join(terms)


def upsert_sink_delta(
    sdf: DataFrame,
    path: str,
    keys: list[str],
    order_cols: list[str],
    output_mode: str = "update",
):
    """K3 at object-store scale: Delta ``MERGE INTO`` per micro-batch.

    Same contract as ``upsert_sink`` (reference upsert-kafka,
    rt/utils/MyKafkaUtil.java:78-86): the table converges to the latest
    row per key under ``order_cols``. The Delta transaction log replaces
    the manifest-pointer commit — readers see pre- or post-commit
    snapshots, never partials — and the engine prunes touched files via
    the merge condition, the analog of the parquet form's bucket
    restriction. Epoch replays are no-ops: the batch is pre-compacted to
    latest-per-key, matched rows update only when strictly newer
    (``_newer_cond``), and unmatched inserts of already-present keys
    cannot occur after compaction.

    Gated on the public ``delta-spark`` package (``delta_available()``);
    the sandbox lacks it, so CI exercises this path only where installed
    (tests skip otherwise) — the parquet-manifest form remains the
    no-dependency default for local paths.
    """
    from delta.tables import DeltaTable

    spark = sdf.sparkSession

    def merge(batch: DataFrame, epoch: int) -> None:
        latest = _latest_per_key(batch, keys, order_cols)
        if not DeltaTable.isDeltaTable(spark, path):
            # first epoch (or retry of a crashed create): overwrite is
            # safe — nothing has committed until the log does
            latest.write.format("delta").mode("overwrite").save(path)
            return
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(latest.alias("s"), on)
            .whenMatchedUpdateAll(condition=_newer_cond(order_cols))
            .whenNotMatchedInsertAll()
            .execute()
        )

    return sdf.writeStream.foreachBatch(merge).outputMode(output_mode)


def partitioned_table_sink(
    sdf: DataFrame,
    path: str,
    partition_cols: list[str],
):
    """DWS at-rest layout: append micro-batches date/key-partitioned.

    The reference lands every DWS aggregate in ClickHouse MergeTree
    keyed by window start (rt/utils/MyClickHouseUtil.java:19-62); the
    lake-native shape is parquet partitioned by coarse time (and
    optionally a hot dimension), so the ADS layer's
    ``toYYYYMMDD(stt)=#{date}`` predicates become partition pruning —
    a scan touches only the queried day's files at any corpus size.
    """

    def write(batch: DataFrame, _epoch: int) -> None:
        (
            batch.write.mode("append")
            .partitionBy(*partition_cols)
            .parquet(path)
        )

    return sdf.writeStream.foreachBatch(write).outputMode("append")


def _fan_out(
    batch: DataFrame,
    rules: dict[str, tuple[str, list[str]]],
    base_path: str,
    source_col: str,
) -> None:
    """Append each rule's rows of ``batch`` (matched on ``source_col``,
    pruned to the rule's columns) to ``base_path/<sink_table>``; one
    cached scan of the batch serves every route."""
    batch = batch.cache()
    try:
        for src, (sink_table, cols) in rules.items():
            (
                batch.filter(F.col(source_col) == src)
                .select(*cols)
                .write.mode("append")
                .parquet(f"{base_path}/{sink_table}")
            )
    finally:
        batch.unpersist()


def routed_dim_sink(
    sdf: DataFrame,
    rules: dict[str, tuple[str, list[str]]],
    base_path: str,
):
    """K5 + J6/P7/F3/W10 — config-driven routed writes.

    ``rules`` maps a source key (the reference's ``table`` envelope
    field / our ``event_type``) to ``(sink_table, keep_columns)``.
    Each micro-batch fans out: rows are filtered per rule, pruned to
    the configured columns (TableProcessFunction.java:148-165), and
    appended to ``base_path/<sink_table>``.

    The reference broadcasts the rule stream as MapState
    (DimApp.java:85-92); in micro-batch Spark the rules dict is simply
    re-read per batch — pass a callable-refreshed dict for live config.
    One source scan per batch serves every route (cached), matching
    BaseLogApp's single-pass 5-way split (P5).
    """

    def route(batch: DataFrame, _epoch: int) -> None:
        _fan_out(batch, rules, base_path, "event_type")

    return sdf.writeStream.foreachBatch(route).outputMode("append")


def dim_app(
    sdf: DataFrame,
    capture,
    topic_dir: str,
    base_path: str,
    source_col: str = "event_type",
):
    """The reference's DimApp topology end-to-end (DimApp.java:60-100):
    a CDC-captured config table DRIVES the routing, live.

    The reference reads ``table_process`` through MySQL-CDC, broadcasts
    it as MapState, and routes every data record by the CURRENT config
    (F3/W10/J6/K5 in one job). This is that wiring on Spark micro-
    batches: each batch first advances the config capture
    (``JdbcCdcCapture.poll`` — envelopes land in ``topic_dir`` as the
    audit log), then rebuilds the rule map from the COMMITTED config
    snapshot, then fans the batch out per rule exactly like
    ``routed_dim_sink``. A config row inserted or updated between
    batches changes the routing of every later batch — the property
    the static-rules form can't express, and the reason the reference
    runs config through CDC at all.

    Config schema mirrors ``TableProcess`` (rt/bean/TableProcess.java:
    5-17): ``source_table`` (match on ``source_col``), ``sink_table``
    (output dir), ``sink_columns`` (comma-separated keep-list). The
    per-batch snapshot read is a tiny parquet scan (config tables are
    dozens of rows); at cluster scale it broadcasts exactly like the
    reference's MapState.
    """

    def route(batch: DataFrame, _epoch: int) -> None:
        capture.poll(topic_dir)
        cfg = capture.current()
        if cfg is None:
            return
        rules = {
            r["source_table"]: (r["sink_table"], r["sink_columns"].split(","))
            for r in cfg.collect()
        }
        _fan_out(batch, rules, base_path, source_col)

    return sdf.writeStream.foreachBatch(route).outputMode("append")
