"""Incremental corpus dedup: a document stream against a survivor store.

The batch dedup family (``plans.textops``) answers "which docs in this
corpus are dups"; a production training-data pipeline also needs the
STREAMING form — every arriving batch of documents deduplicated against
everything already accepted, exactly-once, with survivors accumulating.
This is the foreachBatch shape of the reference's keyed-state dedup
jobs (latest-row ``s_dedup_latest`` / per-day ``s_daily_unique_users``,
rt/app/dws/*) generalized to content dedup:

- **exact**: md5-of-normalized-text fingerprints; a new doc is dropped
  iff its fingerprint is already in the store (first arrival wins).
- **near (MinHash-LSH)**: the incremental form of ``t_minhash_lsh_dups``
  + ``t_dup_clusters``. Per micro-batch: candidate pairs within the
  batch AND batch↔store (band-key joins, never all-pairs), exact
  Jaccard verification, then connected components over the verified
  edges (``plans.graph``). A batch component touching ANY stored doc is
  dropped entirely (its members are transitive near-dups of an accepted
  doc — the same transitive semantics as ``t_dup_clusters``); an
  untouched component keeps its smallest doc_id. Survivor shingle sets
  and band keys append to the store, so future batches compare against
  accepted docs only (dropped docs never gatekeep — the standard
  survivor-store contract; a doc similar only to dropped docs is kept).

Exactly-once: all writes land in ``epoch=N`` subdirectories written
with overwrite mode, so a crash-retried micro-batch rewrites its own
epoch instead of double-appending (same idempotence recipe as
``foreach_batch_sink``). Readers scan the directory tree; at cluster
scale the store would live in a bucketed table keyed by band_key /
fingerprint so the per-batch join prunes to touched buckets, exactly
like ``upsert_sink``'s bucket layout.

Scale notes (100 TB stance): per batch the work is O(batch tokens) map
work + band-key equi-joins whose build side is the batch (small), not
the store; the store is only ever scanned through a key join (Spark
prunes columns to the band/fingerprint keys), never cross-joined. The
per-batch component loop runs on the batch's pair graph, bounded by
batch size, not corpus size.

Store contract — doc_id uniqueness: a stream MUST NOT re-send a
``doc_id`` (``vec_id``) that an earlier batch already delivered. The
per-batch graphs classify a node as "stored" iff it is absent from the
current batch (``stored_ids`` below), and the per-leg store unions
assume a stored doc's rows live in exactly one epoch/base leg; an id
arriving twice would be re-classified as a batch doc, could survive its
own poisoned cluster, and would write duplicate store rows. This is the
same at-most-once-per-key contract the reference's keyed dedup state
carries implicitly (a Kafka key re-delivery is a RETRY of the same
record, handled by the epoch-overwrite idempotence — not a new record
with an old id).
"""

from __future__ import annotations

import os
import re

from flink_spark.commit import Pointer
from flink_spark.sources import local_df
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_spark.functions.text import fingerprint, tokenize, word_shingles
from flink_spark.plans.graph import connected_components
from flink_spark.plans.textops import (
    JACCARD_THRESHOLD,
    SHINGLE_N,
    SPLIT_JACCARD,
    TRAIN_PCT,
    _band_keys_spark,
    _hashed_shingles_spark,
    _minhash_cols_spark,
    pairkey_verify,
    split_bucket_col,
)

_EMPTY_SCHEMA = {
    "bands": "doc_id bigint, bkey string",
    "shingles": "doc_id bigint, sl array<string>",
    "kept": "doc_id bigint, fp string",
    "vecs": "vec_id bigint, cell int, embedding array<float>, nrm double",
    "clean": "doc_id bigint, source string",
    "splits": "doc_id bigint, split string, gkey bigint",
    "svecs": "vec_id bigint, embedding array<float>, nrm double",
    "vbands": "vec_id bigint, bkey bigint",
    "vsplits": "vec_id bigint, split string, gkey bigint",
    "conflicts": "epoch bigint, cluster_id bigint, n_assigned bigint, "
                 "n_train bigint, n_val bigint",
    "vconflicts": "epoch bigint, cluster_id bigint, n_assigned bigint, "
                  "n_train bigint, n_val bigint",
}


# Bucket key per store table: the column every per-micro-batch join
# probes the store on. Compaction hash-clusters the base on it
# (``_commit_base``), so the store side of those joins is read
# pre-partitioned — no per-batch Exchange, and with sorted single-file
# buckets no per-batch Sort either (see ``session._RUNTIME_CONFS``).
# The epoch TAIL (batches since the last compaction) stays plain
# parquet: it is micro-batch-sized, and the join bodies probe it as a
# separate small leg. ``conflicts``/``vconflicts`` are append-only
# ledgers read whole — no join key, never bucketed.
_BUCKET_KEY = {
    "bands": "bkey",      # lexical LSH candidate join
    "shingles": "doc_id",  # pairkey_verify d1-posting join
    "kept": "fp",          # exact-dup anti-join
    "vbands": "bkey",      # SRP candidate join
    "svecs": "vec_id",     # cosine-verify d1 join
    "vecs": "cell",        # SemDeDup touched-cell group
    "splits": "doc_id",    # anchor-inheritance join
    "vsplits": "vec_id",
    "clean": "doc_id",
}

# Bucket count for compacted bases. At 100 TB size this to the store
# (buckets ≈ store bytes / target file size, thousands); 16 suits the
# local harness.
STORE_BUCKETS = 16

# Default in-stream auto-compaction cadence for every run_*_stream: the
# epoch tail (small files + the plain leg of every store-side join) is
# bounded at this many micro-batches, with the bucketed-base rewrite
# amortized over the same window. Pass ``compact_every=None`` (or 0) to
# disable — a long-running production stream should never run
# unbounded, so None is an explicit opt-out, not the default.
DEFAULT_COMPACT_EVERY = 16


_COMPACTED = Pointer(
    "_COMPACTED", r"base-\d+", lambda rec: [f"base-{rec['base']}"]
)


def _marker(path: str) -> dict:
    """{"through": m, "base": n} — epochs ≤ m live in base-n (base -1
    before the first compaction). Bucketed bases additionally carry
    {"buckets": b, "key": k} so a fresh session can re-register the
    catalog table from the marker alone. A garbled marker raises."""
    return _COMPACTED.read(path) or {"through": -1, "base": -1}


def _table_ident(path: str, gen: int) -> str:
    """Deterministic catalog identifier for a store table's base
    generation (bucket metadata only exists through the catalog —
    a path read silently drops it)."""
    import hashlib

    h = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:10]
    return f"fs_store_{h}_{os.path.basename(path)}_{gen}"


def _base_df(
    spark: SparkSession, path: str, name: str, mark: dict
) -> DataFrame:
    """The compacted base as a DataFrame — through the catalog (with
    bucket metadata, re-registering after a session restart) when the
    marker says the base was written bucketed, else a plain path read
    (tables with no probe key, e.g. the ``conflicts`` ledgers)."""
    base = os.path.join(path, f"base-{mark['base']}")
    if mark.get("buckets") and mark.get("key"):
        tbl = _table_ident(path, mark["base"])
        if not spark.catalog.tableExists(tbl):
            k = mark["key"]
            spark.sql(
                f"CREATE TABLE {tbl} ({_EMPTY_SCHEMA[name]}) USING PARQUET "
                f"CLUSTERED BY ({k}) SORTED BY ({k}) "
                f"INTO {mark['buckets']} BUCKETS LOCATION '{base}'"
            )
        return spark.table(tbl)
    return spark.read.parquet(base)


def _store_parts(
    spark: SparkSession, store_dir: str, name: str,
    before_epoch: int | None = None,
) -> tuple[DataFrame | None, DataFrame | None]:
    """Committed store state as its two physical legs: ``(base, tail)``
    — the compacted base (bucketed on the table's probe key when
    written r13+, read through the catalog so the bucket metadata
    survives) and the plain-parquet epoch tail above the marker.
    Either is None when empty. The join bodies probe the legs
    SEPARATELY: a union would erase the base's hash-partitioning and
    put the whole store back behind a per-batch Exchange — exactly the
    cost bucketing pre-paid at compaction time. Every stored row lives
    in exactly one leg (a doc's state is written once, in its arrival
    epoch, and compaction folds whole epochs), so per-leg join results
    union losslessly and without duplicates.

    ``before_epoch`` excludes the current epoch's own (possibly
    partial, crash-retried) output — a retried micro-batch must dedup
    against the state its first attempt saw, or it would match the
    batch against itself and drop everything. Epoch dirs at or below
    the marker are post-compaction debris and are ignored even if
    their deletion didn't finish."""
    path = os.path.join(store_dir, name)
    mark = _marker(path)
    entries = os.listdir(path) if os.path.isdir(path) else []
    parts = [
        os.path.join(path, e) for e in entries
        if e.startswith("epoch=")
        and int(e.split("=")[1]) > mark["through"]
        and (before_epoch is None or int(e.split("=")[1]) < before_epoch)
    ]
    cols = [c.split()[0] for c in _EMPTY_SCHEMA[name].split(", ")]
    base = None
    if mark["base"] >= 0 and os.path.isdir(
        os.path.join(path, f"base-{mark['base']}")
    ):
        base = _base_df(spark, path, name, mark).select(*cols)
    tail = spark.read.parquet(*parts).select(*cols) if parts else None
    return base, tail


def _store(
    spark: SparkSession, store_dir: str, name: str,
    before_epoch: int | None = None,
) -> DataFrame:
    """Committed store state as ONE DataFrame (base ∪ tail). For
    whole-state reads (``kept_docs``, compaction, the gate queries).
    Per-batch JOIN bodies use ``_store_parts`` instead — the union
    erases the base's bucket partitioning."""
    base, tail = _store_parts(spark, store_dir, name, before_epoch)
    legs = [df for df in (base, tail) if df is not None]
    if not legs:
        return local_df(spark, [], _EMPTY_SCHEMA[name])
    return legs[0] if len(legs) == 1 else legs[0].unionByName(legs[1])


def _write(df: DataFrame, store_dir: str, name: str, epoch_id: int) -> None:
    df.write.mode("overwrite").parquet(
        os.path.join(store_dir, name, f"epoch={epoch_id}")
    )


def _commit_base(
    path: str, df: DataFrame, mark: dict, through: int, epochs: list[int]
) -> None:
    """The store's single pointer-commit primitive: materialize ``df``
    as ``base-(mark.base+1)`` (a fresh directory — the lineage may read
    the table being replaced), commit it by swapping the ``_COMPACTED``
    marker to ``(through, new base)`` through ``flink_spark.commit``
    (which keeps the previous base and deletes older ones), then delete
    the folded ``epochs`` dirs. Shared by ``compact_store`` and
    ``_replace_table`` so the crash-safety-critical sequence exists
    exactly once.

    Crash safety: before the marker lands, readers still resolve the
    old base + epochs (the half-written new base is invisible); after
    it lands, folded epoch dirs are ignored whether or not their
    deletion finished (``_store`` filters ≤ through), so the GC is
    plain idempotent.

    When the table has a probe key (``_BUCKET_KEY``) the new base is
    written hash-clustered on that key as an external bucketed catalog
    table at the same ``base-N`` directory (bucket metadata only exists
    through the catalog). ``repartition(buckets, key)`` aligns writer
    partitions with bucket ids so every bucket is ONE file — the regime
    where Spark trusts the within-bucket sort and the per-batch
    SortMergeJoin needs neither Exchange nor Sort on the store side.
    A crashed-then-retried compaction reuses the same generation
    (``mark`` unchanged until the marker lands), and saveAsTable's
    overwrite replaces both the half-written files and the orphan
    catalog entry.
    """
    import shutil

    gen = mark["base"] + 1
    key = _BUCKET_KEY.get(os.path.basename(path))
    base_dir = os.path.join(path, f"base-{gen}")
    marker = {"through": through, "base": gen}
    spark = df.sparkSession
    if key is not None:
        tbl = _table_ident(path, gen)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(base_dir, ignore_errors=True)  # crashed prior try
        (
            df.repartition(STORE_BUCKETS, key)
            .write.mode("overwrite")
            .bucketBy(STORE_BUCKETS, key).sortBy(key)
            .option("path", base_dir)
            .format("parquet").saveAsTable(tbl)
        )
        _assert_one_file_per_bucket(base_dir)
        marker.update({"buckets": STORE_BUCKETS, "key": key})
    else:
        df.write.mode("overwrite").parquet(base_dir)
    for old in _COMPACTED.commit(path, marker, mark):
        gen_old = int(old.split("-", 1)[1])
        spark.sql(f"DROP TABLE IF EXISTS {_table_ident(path, gen_old)}")
    for e in epochs:
        shutil.rmtree(os.path.join(path, f"epoch={e}"), ignore_errors=True)


# Bucketed parquet part files carry their bucket id as the `_NNNNN`
# block before the codec/extension suffix, e.g.
# part-00003-<uuid>_00003.c000.snappy.parquet.
_BUCKET_FILE_RE = re.compile(r"_(\d{5})\.")


def _assert_one_file_per_bucket(base_dir: str) -> None:
    """Write-time guard for the session-wide
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` trust
    (`session.py`): that conf makes every reader believe a bucketed
    scan is sorted, which is only true when each bucket is exactly ONE
    file (multi-file buckets concatenate sorted runs into an unsorted
    whole and would silently corrupt the no-Sort SortMergeJoins).
    ``_commit_base`` aligns writer partitions with bucket ids
    (``repartition(buckets, key)``) precisely to get one file per
    bucket; this assert turns any future violation — an appending
    writer, ``maxRecordsPerFile`` splitting, a skipped repartition —
    into a loud failure instead of wrong join results."""
    seen: dict[str, str] = {}
    for f in os.listdir(base_dir):
        if not f.startswith("part-"):
            continue
        m = _BUCKET_FILE_RE.search(f)
        if m is None:
            raise AssertionError(
                f"non-bucketed data file {f!r} in bucketed base {base_dir}"
            )
        if m.group(1) in seen:
            raise AssertionError(
                f"bucket {m.group(1)} has multiple files in {base_dir} "
                f"({seen[m.group(1)]!r}, {f!r}); the sorted-scan trust "
                "(session.py bucketedTableScan.outputOrdering) requires "
                "exactly one file per bucket"
            )
        seen[m.group(1)] = f


def exact_dedup_batch(
    batch: DataFrame, epoch_id: int, store_dir: str
) -> None:
    """foreachBatch body: first-arrival exact dedup by fingerprint."""
    spark = batch.sparkSession
    fps = batch.select("doc_id", "text").withColumn("fp", fingerprint("text"))
    # within-batch winners: smallest doc_id per fingerprint
    winners = (
        fps.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    )
    # anti-join per store leg (anti against a union ≡ sequential
    # antis): the bucketed base leg reads pre-partitioned on fp, so
    # only the batch side shuffles
    kept = winners.select("doc_id", "fp")
    for leg in _legs(_store_parts(spark, store_dir, "kept",
                                  before_epoch=epoch_id)):
        kept = kept.join(leg.select("fp"), "fp", "left_anti")
    _write(kept.select("doc_id", "fp"), store_dir, "kept", epoch_id)


def _shingle_bands(docs: DataFrame):
    """(sh, bands) of a micro-batch, both persisted & materialized —
    the shared head of every incremental text-dedup/split body."""
    toks = docs.select("doc_id", tokenize("text").alias("t"))
    sh_new = toks.filter(F.size("t") >= SHINGLE_N).select(
        "doc_id",
        F.array_distinct(word_shingles(F.col("t"), SHINGLE_N)).alias("sl"),
    ).persist()
    sh_new.count()
    ex = sh_new.select("doc_id", F.explode("sl").alias("s"))
    sigs = _hashed_shingles_spark(ex).groupBy("doc_id").agg(*_minhash_cols_spark())
    bands_new = sigs.select(
        "doc_id", F.explode(F.array(*_band_keys_spark())).alias("bkey")
    ).persist()
    bands_new.count()
    return sh_new, bands_new


def _verified(
    cand: DataFrame, left_sh: DataFrame, right_sh: DataFrame,
    threshold: float,
) -> DataFrame:
    """Candidate pairs verified by the SHARED pair-keyed count kernel
    (``plans.textops.pairkey_verify`` — the one implementation the
    batch operators, both pipelines, and these streaming bodies use;
    algorithm + SCALING.md §R9 measurements on its docstring). The
    streaming legs pass a separate d2-side shingle table (store↔batch
    candidates verify the stored doc's shingles against the batch
    doc's)."""
    return pairkey_verify(
        cand, left_sh, threshold, right_sh=right_sh
    ).select("d1", "d2")


def _legs(parts) -> list[DataFrame]:
    """The non-empty physical legs of a ``_store_parts`` result."""
    return [df for df in parts if df is not None]


def _cross_candidates(
    bands_old_parts, bands_new: DataFrame, id_col: str
) -> DataFrame | None:
    """Store↔batch band-collision candidates (d1 = stored, d2 = new),
    probed per store leg: the bucketed base leg joins pre-partitioned
    on bkey (only the batch side shuffles), the epoch tail is a small
    plain join. Per-leg distinct equals global distinct because a
    stored doc's band rows live in exactly one leg. Returns the union
    PERSISTED (every caller verifies it at least twice) or None when
    the store is empty; the caller unpersists."""
    legs = [
        leg.alias("o").join(bands_new.alias("n"),
                            F.col("o.bkey") == F.col("n.bkey"))
        .select(F.col(f"o.{id_col}").alias("d1"),
                F.col(f"n.{id_col}").alias("d2"))
        .distinct()
        for leg in _legs(bands_old_parts)
    ]
    if not legs:
        return None
    cand = legs[0]
    for leg in legs[1:]:
        cand = cand.unionByName(leg)
    return cand.persist()


def _batch_pair_graph(
    bands_new: DataFrame, sh_new: DataFrame,
    bands_old_parts, sh_old_parts, threshold: float,
) -> DataFrame:
    """Verified pairs touching the batch: within-batch (d1 < d2) plus
    store↔batch (d1 = stored, d2 = new), band-key candidates only.

    The store sides arrive as ``_store_parts`` legs and are probed
    LEG-WISE: candidates per bands leg (the bucketed base joins with
    no store-side Exchange — the batch side shuffles to the bucket
    partitioning), verification per SHINGLES leg. The legs decouple
    deliberately: compaction folds the store's tables one at a time,
    so after a mid-``compact_store`` crash a doc's bands can sit in
    one table's base while its shingles are still in the other
    table's tail — keying the verify by the shingles legs keeps every
    candidate verifiable regardless. Per-leg unions are lossless and
    duplicate-free because a stored doc's rows live in exactly one
    leg of each table.

    Returns the pair union PERSISTED and materialized (callers
    unpersist it when their epoch's writes land). The candidate tables
    are persisted for the duration of the verify — ``pairkey_verify``'s
    contract consumes its candidate input twice (once per posting
    side), so an unpersisted candidate would recompute the band
    join + distinct twice per micro-batch — and released here
    once the materialized pairs no longer reference them. The semantic
    twin (``semantic_split_assign_batch``) does NOT need this: its
    cosine verify joins each candidate table exactly once."""
    a, b = bands_new.alias("a"), bands_new.alias("b")
    cand_in = (
        a.join(b, (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
        .persist()
    )
    pairs_in = _verified(cand_in, sh_new, sh_new, threshold)

    cand_cross = _cross_candidates(bands_old_parts, bands_new, "doc_id")
    pairs = pairs_in
    if cand_cross is not None:
        for sh_leg in _legs(sh_old_parts):
            pairs = pairs.unionByName(
                _verified(cand_cross, sh_leg, sh_new, threshold)
            )
    pairs = pairs.persist()
    pairs.count()
    cand_in.unpersist()
    if cand_cross is not None:
        cand_cross.unpersist()
    return pairs


def neardup_dedup_batch(
    batch: DataFrame, epoch_id: int, store_dir: str
) -> None:
    """foreachBatch body: incremental MinHash-LSH near-dedup (see module
    docstring for the component-drop semantics)."""
    spark = batch.sparkSession
    docs = batch.select("doc_id", "text")
    sh_new, bands_new = _shingle_bands(docs)
    sh_old = _store_parts(spark, store_dir, "shingles", before_epoch=epoch_id)
    bands_old = _store_parts(spark, store_dir, "bands", before_epoch=epoch_id)
    pairs = _batch_pair_graph(  # persisted + materialized by contract
        bands_new, sh_new, bands_old, sh_old, JACCARD_THRESHOLD
    )
    labels = connected_components(pairs)

    # every graph node is a batch doc or a stored doc (pairs connect
    # batch↔batch and store↔batch only), so the stored nodes are just
    # the graph nodes NOT in the batch — two batch-bounded frames; the
    # old stored_ids = store.distinct() shape reshuffled the whole
    # store per micro-batch for the same answer. Relies on the store
    # contract (module docstring): a doc_id never re-arrives in a
    # later batch, else it would be misread here as batch-only.
    stored_ids = labels.select("doc_id").join(
        docs.select("doc_id"), "doc_id", "left_anti"
    )
    # components containing a stored doc: every batch member drops
    poisoned = (
        labels.join(stored_ids, "doc_id").select("cluster_id").distinct()
    )
    batch_labels = labels.join(stored_ids, "doc_id", "left_anti")
    comp_keep = (
        batch_labels.join(poisoned, "cluster_id", "left_anti")
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # docs with no verified pair at all never enter the graph: kept
    singles = docs.select("doc_id").join(
        labels.select("doc_id"), "doc_id", "left_anti"
    )
    kept_ids = comp_keep.unionByName(singles)

    kept = docs.join(kept_ids, "doc_id").withColumn("fp", fingerprint("text")) \
        .select("doc_id", "fp")
    _write(kept, store_dir, "kept", epoch_id)
    _write(bands_new.join(kept_ids, "doc_id"), store_dir, "bands", epoch_id)
    _write(sh_new.join(kept_ids, "doc_id"), store_dir, "shingles", epoch_id)
    for df in (sh_new, bands_new, pairs):
        df.unpersist()


def _conflict_ledger(members: DataFrame, epoch_id: int) -> DataFrame:
    """Per-component conflict rows: components whose ALREADY-ASSIGNED
    members straddle train and val — i.e. this batch's pair graph
    bridged previously-separate clusters whose splits disagree.

    Stored docs only meet in a component through batch edges (the pair
    graph is in-batch + store↔batch), so any component with stored
    members on BOTH sides was bridged by this epoch's arrivals. The
    anchor rule still assigns the new docs deterministically (smallest
    assigned id wins) and old assignments stand — but a trainer needs
    the conflict VOLUME to decide when the batch re-split repair is
    due, which is this ledger's whole job. ``members``: the
    (cluster_id, split) rows of stored assignments that landed in this
    epoch's components.
    """
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.sum((F.col("split") == "train").cast("bigint")).alias("n_train"),
            F.sum((F.col("split") == "val").cast("bigint")).alias("n_val"),
        )
        .filter((F.col("n_train") > 0) & (F.col("n_val") > 0))
        .select(
            F.lit(epoch_id).cast("bigint").alias("epoch"),
            "cluster_id", "n_assigned", "n_train", "n_val",
        )
    )


def split_assign_batch(
    batch: DataFrame, epoch_id: int, store_dir: str,
    threshold: float = SPLIT_JACCARD,
) -> None:
    """foreachBatch body: incremental LEAKAGE-SAFE train/val assignment.

    The streaming form of ``t_leakage_safe_split``: every arriving doc
    gets a split, and a doc near-duplicate (at ``threshold``, the
    split-clustering knob) of an ALREADY-ASSIGNED doc INHERITS that
    doc's split — assignments are never re-decided, so a production
    trainer can consume the store append-only. Per batch:

    - verified pair graph touching the batch (in-batch + store↔batch
      band-key candidates, pair-keyed count verify — the shared
      ``_verified`` kernel);
    - connected components over it (stored docs participate as nodes);
    - a component containing stored docs takes the split (and group
      key) of its smallest-doc_id stored member — deterministic, and
      stable under crash-retry because the store is read
      ``before_epoch``. If a new doc MERGES two old clusters whose
      splits disagree, the anchor rule picks one for the NEW doc and
      the old assignments stand (first-sight splits are immutable —
      the price of never re-deciding; batch re-splits are the repair
      path, exactly as with any streaming/batch lambda pair). Each
      such bridged-conflicting component is COUNTED: a row lands in
      the ``conflicts`` ledger (queryable via ``split_conflicts``),
      so the repair decision is driven by a number, not a guess;
    - an untouched component splits by md5(min member doc_id) — the
      batch operator's rule, shared via ``split_bucket_col`` so a doc
      singleton in both worlds gets the SAME side as the batch query;
    - singletons split by md5(doc_id).

    Unlike dedup, EVERY batch doc's bands/shingles append to the store
    (assigned docs all gatekeep future arrivals), and the assignment
    lands in ``splits`` (doc_id, split, gkey).
    """
    spark = batch.sparkSession
    docs = batch.select("doc_id")
    sh_new, bands_new = _shingle_bands(batch.select("doc_id", "text"))
    sh_old = _store_parts(spark, store_dir, "shingles", before_epoch=epoch_id)
    bands_old = _store_parts(spark, store_dir, "bands", before_epoch=epoch_id)
    splits_old = _store(spark, store_dir, "splits", before_epoch=epoch_id)

    pairs = _batch_pair_graph(  # persisted + materialized by contract
        bands_new, sh_new, bands_old, sh_old, threshold
    )
    labels = connected_components(pairs)

    # stored assignments landing in this epoch's components: feeds the
    # anchor rule AND the merge-conflict ledger (persisted — two
    # consumers, and the join above it re-reads the whole store).
    # labels is batch-bounded — broadcast it so the store side of the
    # probe never shuffles (the splits legs union fine here: a
    # broadcast-hash probe needs no partitioning from the big side)
    members = splits_old.join(F.broadcast(labels), "doc_id").persist()
    # per-component anchor: the smallest already-assigned doc_id (the
    # struct-min carries its split/gkey in the same map-side aggregate)
    anchors = (
        members.groupBy("cluster_id")
        .agg(F.min(F.struct("doc_id", "split", "gkey")).alias("_a"))
        .select(
            "cluster_id",
            F.col("_a.split").alias("inh_split"),
            F.col("_a.gkey").alias("inh_gkey"),
        )
    )
    assigned = (
        docs.join(labels, "doc_id", "left")
        .join(anchors, "cluster_id", "left")
    )
    # min-label CC makes cluster_id = the component's smallest member,
    # which for an unanchored component is exactly the batch rule's key
    own_key = F.coalesce("cluster_id", "doc_id")
    own_split = F.when(
        split_bucket_col(own_key) < TRAIN_PCT, "train"
    ).otherwise("val")
    out = assigned.select(
        "doc_id",
        F.coalesce("inh_split", own_split).alias("split"),
        F.coalesce("inh_gkey", own_key).alias("gkey"),
    )
    _write(out, store_dir, "splits", epoch_id)
    _write(_conflict_ledger(members.select("cluster_id", "split"), epoch_id),
           store_dir, "conflicts", epoch_id)
    _write(bands_new, store_dir, "bands", epoch_id)
    _write(sh_new, store_dir, "shingles", epoch_id)
    for df in (sh_new, bands_new, pairs, members):
        df.unpersist()


def run_split_stream(
    sdf: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    threshold: float = SPLIT_JACCARD,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
):
    """Wire a document stream into the incremental split-assignment
    store (same checkpoint/epoch discipline as ``run_dedup_stream``:
    restart only with the original checkpoint against a given store;
    ``compact_every`` = in-stream auto-compaction, ``maybe_compact``)."""
    return (
        sdf.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_compacting(
            lambda df, eid: split_assign_batch(df, eid, store_dir, threshold),
            store_dir, compact_every,
        ))
        .start()
    )


def split_assignments(spark: SparkSession, store_dir: str) -> DataFrame:
    """All (doc_id, split, gkey) assignments accumulated so far."""
    return _store(spark, store_dir, "splits")


def split_conflicts(spark: SparkSession, store_dir: str) -> DataFrame:
    """The merge-conflict ledger accumulated so far: one row per
    (epoch, component) where the batch's pair graph bridged
    previously-separate clusters with DISAGREEING splits
    (``n_train``/``n_val`` = stored members on each side). Old
    assignments stand and new docs followed the anchor rule; when the
    cumulative conflict volume crosses a trainer's tolerance, the
    repair path is a batch re-split (``t_leakage_safe_split``) over
    the full corpus — see README."""
    return _store(spark, store_dir, "conflicts")


def _split_bits(store_dir: str, bits: int | None) -> int:
    """Pin the SRP band-key width for the split store's lifetime (see
    ``_pinned_config``): band keys are functions of ``bits``, so a
    silently changed width would band old survivors and new arrivals
    incomparably and miss every cross-batch near-dup."""
    return _pinned_config(
        store_dir, "_SPLIT_CONFIG", "bits", bits, "band geometry"
    )


def _split_bands(store_dir: str) -> int:
    """Pin the BAND COUNT for the split store's lifetime. Unlike
    ``bits`` (a parameter the store can hand back to a restart), the
    band count is the module-level ``LSH_BANDS`` — env-tunable, and
    its default moved 4→8 in round 11 — so ``_with_band_keys`` cannot
    adopt a stored value; a restart whose active count disagrees with
    the store's must fail LOUDLY here, not silently halve cross-batch
    candidate recall by banding old and new vectors differently."""
    from flink_spark.plans.similarity import LSH_BANDS

    return _pinned_config(
        store_dir, "_SPLIT_BANDS", "bands", LSH_BANDS, "band count"
    )


def semantic_split_assign_batch(
    batch: DataFrame, epoch_id: int, store_dir: str,
    threshold: float | None = None,
) -> None:
    """foreachBatch body: incremental leakage-safe split, EMBEDDINGS.

    The semantic twin of ``split_assign_batch`` and the streaming form
    of ``e_leakage_safe_split``: every arriving vector gets a split; a
    vector cosine-near-duplicate (at ``threshold``, default
    ``SPLIT_COSINE``) of an ALREADY-ASSIGNED vector inherits that
    cluster's split via the smallest-assigned-id anchor, and
    assignments are never re-decided. Candidates come from the same
    banded SRP keys as the batch operator (width pinned per store by
    ``_split_bits`` — the geometry-immutability contract of the
    semantic dedup store); verification is the exact-cosine numpy
    kernel on (in-batch + store↔batch) band collisions; unanchored
    components and singletons use the shared ``split_bucket_col`` rule
    on coalesce(component min, vec_id) — identical to the batch query,
    so a vector singleton in both worlds lands on the same side.
    Every batch vector's bands + floats append to the store (all
    assigned vectors gatekeep future arrivals).
    """
    from flink_spark.plans.similarity import (
        SPLIT_COSINE,
        _norm,
        _pair_cosines_pandas,
        _with_band_keys,
    )

    if threshold is None:
        threshold = SPLIT_COSINE
    spark = batch.sparkSession
    bits = _split_bits(store_dir, None)
    _split_bands(store_dir)
    new = batch.select(
        "vec_id", "embedding"
    ).withColumn("nrm", _norm(F.col("embedding"))).persist()
    new.count()
    banded = _with_band_keys(new.select("vec_id", "embedding"), spark, bits) \
        .select("vec_id", F.explode("bkeys").alias("bkey")).persist()
    banded.count()

    svecs_old = _store_parts(spark, store_dir, "svecs",
                             before_epoch=epoch_id)
    vbands_old = _store_parts(spark, store_dir, "vbands",
                              before_epoch=epoch_id)
    vsplits_old = _store(spark, store_dir, "vsplits", before_epoch=epoch_id)

    a, b = banded.alias("a"), banded.alias("b")
    cand_in = (
        a.join(b, (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("d1"), F.col("b.vec_id").alias("d2"))
        .distinct()
    )

    def verified(cand: DataFrame, lv: DataFrame, rv: DataFrame) -> DataFrame:
        x = lv.select(
            F.col("vec_id").alias("d1"),
            F.col("embedding").alias("embedding1"), F.col("nrm").alias("nrm1"),
        )
        y = rv.select(
            F.col("vec_id").alias("d2"),
            F.col("embedding").alias("embedding2"), F.col("nrm").alias("nrm2"),
        )
        return (
            _pair_cosines_pandas(cand.join(x, "d1").join(y, "d2"))
            .filter(F.col("cosine") >= threshold)
            .select("d1", "d2")
        )

    # store legs probed separately (see _batch_pair_graph): candidates
    # per vbands leg — the bucketed base joins with no store-side
    # Exchange — then the cosine verify per svecs leg (a stored
    # vector's floats live in exactly one leg, so the union is exact)
    pairs = verified(cand_in, new, new)
    cross = _cross_candidates(vbands_old, banded, "vec_id")
    if cross is not None:
        for sv_leg in _legs(svecs_old):
            pairs = pairs.unionByName(verified(cross, sv_leg, new))
    pairs = pairs.persist()
    pairs.count()
    if cross is not None:
        cross.unpersist()
    labels = connected_components(pairs)

    # labels is batch-bounded — broadcast it over the stored
    # assignments so the store-side probe never shuffles
    members = vsplits_old.withColumnRenamed("vec_id", "doc_id").join(
        F.broadcast(labels), "doc_id"
    ).persist()  # anchor rule + conflict ledger both consume it
    anchors = (
        members.groupBy("cluster_id")
        .agg(F.min(F.struct("doc_id", "split", "gkey")).alias("_a"))
        .select(
            "cluster_id",
            F.col("_a.split").alias("inh_split"),
            F.col("_a.gkey").alias("inh_gkey"),
        )
    )
    assigned = (
        batch.select("vec_id")
        .join(labels.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left")
        .join(anchors, "cluster_id", "left")
    )
    own_key = F.coalesce("cluster_id", "vec_id")
    own_split = F.when(
        split_bucket_col(own_key) < TRAIN_PCT, "train"
    ).otherwise("val")
    out = assigned.select(
        "vec_id",
        F.coalesce("inh_split", own_split).alias("split"),
        F.coalesce("inh_gkey", own_key).alias("gkey"),
    )
    _write(out, store_dir, "vsplits", epoch_id)
    _write(_conflict_ledger(members.select("cluster_id", "split"), epoch_id),
           store_dir, "vconflicts", epoch_id)
    _write(banded, store_dir, "vbands", epoch_id)
    _write(new.select("vec_id", "embedding", "nrm"), store_dir, "svecs",
           epoch_id)
    for df in (new, banded, pairs, members):
        df.unpersist()


def run_semantic_split_stream(
    sdf: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    bits: int | None = None,
    threshold: float | None = None,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
):
    """Wire an embedding stream into the incremental semantic split
    store. ``bits`` pins the SRP band width on first run (size it with
    ``lsh_bits_for`` against the expected corpus); restarts adopt the
    stored value. The band count is pinned too (``_split_bands``) —
    restarts must run at the store's count. ``compact_every`` =
    in-stream auto-compaction (``maybe_compact``)."""
    _split_bits(store_dir, bits)
    _split_bands(store_dir)
    return (
        sdf.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_compacting(
            lambda df, eid: semantic_split_assign_batch(
                df, eid, store_dir, threshold
            ),
            store_dir, compact_every,
        ))
        .start()
    )


def semantic_split_assignments(spark: SparkSession, store_dir: str) -> DataFrame:
    """All (vec_id, split, gkey) assignments accumulated so far."""
    return _store(spark, store_dir, "vsplits")


def semantic_split_conflicts(spark: SparkSession, store_dir: str) -> DataFrame:
    """The embedding-modality merge-conflict ledger (see
    ``split_conflicts``); ``cluster_id`` is the component's min vec_id."""
    return _store(spark, store_dir, "vconflicts")


def decontaminate_batch(
    batch: DataFrame, epoch_id: int, store_dir: str,
    eval_shingles: DataFrame,
) -> None:
    """foreachBatch body: streaming benchmark decontamination.

    Stateless per batch (unlike the dedup bodies — no cross-batch
    store read): an arriving training doc is dropped iff it shares a
    ``SHINGLE_N``-gram with the held-out benchmark set, the
    ``t_decontaminate`` policy. ``eval_shingles`` is the STATIC
    distinct eval shingle table — benchmark-sized by definition, so
    it broadcasts and every batch is one map-side probe; the corpus
    stream is never shuffled against it. Docs too short to carry a
    shingle cannot overlap and pass through clean. Appends the
    survivors to the ``clean`` store table (epoch-dir-per-batch,
    crash-retry idempotent like every store write here).
    """
    toks = batch.select("doc_id", "source", tokenize("text").alias("t"))
    ex = toks.filter(F.size("t") >= SHINGLE_N).select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(F.col("t"), SHINGLE_N))
        ).alias("s"),
    )
    hits = ex.join(F.broadcast(eval_shingles), "s").select("doc_id").distinct()
    clean = batch.select("doc_id", "source").join(hits, "doc_id", "left_anti")
    _write(clean, store_dir, "clean", epoch_id)


def run_decontaminate_stream(
    sdf: DataFrame,
    eval_shingles: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
):
    """Wire a document stream through benchmark decontamination
    (``compact_every`` = in-stream auto-compaction of the ``clean``
    store, ``maybe_compact``)."""
    q = (
        sdf.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_compacting(
            lambda df, eid: decontaminate_batch(df, eid, store_dir,
                                                eval_shingles),
            store_dir, compact_every,
        ))
        .start()
    )
    return q


def clean_docs(spark: SparkSession, store_dir: str) -> DataFrame:
    """The decontaminated-survivor set accumulated so far."""
    return _store(spark, store_dir, "clean")


def doc_stream(
    spark: SparkSession, docs: DataFrame, out_dir: str, slices: int = 3,
    start_slice: int = 0, order_col: str = "doc_id",
) -> DataFrame:
    """Replay a table as a key-ordered file stream (one parquet file
    per micro-batch; test harness, like ``replay_events``). Works for
    any keyed table — ``order_col="vec_id"`` replays embeddings.

    ``start_slice`` appends new slices after an earlier replay into the
    same directory — with the SAME checkpoint, a restarted stream picks
    up only the new files and its batch ids continue monotonically,
    which is what keeps store epochs globally unique across restarts
    (epoch ids are checkpoint-scoped: never restart a dedup stream with
    a fresh checkpoint against an existing store).
    """
    n = docs.count()
    if n > 2_000_000:
        raise ValueError("doc_stream is a test harness; use Kafka/files at scale")
    per = (n + slices - 1) // slices
    ordered = docs.orderBy(order_col).collect()
    for i in range(slices):
        chunk = ordered[i * per:(i + 1) * per]
        if chunk:
            local_df(spark, chunk, docs.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(out_dir, f"slice={start_slice + i}"))
    return (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(out_dir, "slice=*"))
    )


def _compacting(body, store_dir: str, every: int | None):
    """Wrap a ``foreachBatch`` body with the in-stream auto-compaction
    trigger (``maybe_compact``; no-op when ``every`` is None). Shared
    by every store-owning stream runner."""
    if not every:
        return body

    def wrapped(df: DataFrame, eid: int) -> None:
        body(df, eid)
        maybe_compact(df.sparkSession, store_dir, eid, every)

    return wrapped


def run_dedup_stream(
    sdf: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    mode: str = "near",
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
):
    """Wire a document stream into the incremental dedup store.
    ``compact_every``: auto-fold the epoch tail into the bucketed
    base once it reaches that many dirs — safe mid-stream, see
    ``maybe_compact``."""
    body = neardup_dedup_batch if mode == "near" else exact_dedup_batch
    q = (
        sdf.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_compacting(
            lambda df, eid: body(df, eid, store_dir),
            store_dir, compact_every,
        ))
        .start()
    )
    return q


def kept_docs(spark: SparkSession, store_dir: str) -> DataFrame:
    """The accepted-survivor set accumulated so far."""
    return _store(spark, store_dir, "kept")


def compact_store(
    spark: SparkSession, store_dir: str,
    before_epoch: int | None = None,
) -> None:
    """Fold committed epoch dirs into one base per store table.

    Epoch-per-micro-batch dirs accumulate forever on a long-running
    stream; every batch's store read then opens thousands of small
    files. Compaction rewrites the live state (current base + the
    folded epoch dirs) as a single ``base-<g+1>`` directory — bucketed
    on the table's probe key — and commits it through ``_commit_base``
    (the ``_COMPACTED`` pointer, ``flink_spark.commit``), then deletes
    the folded epoch dirs.

    Crash safety: before the marker lands, readers still resolve the
    old base + epochs (the half-written new base is invisible); after
    it lands, folded epoch dirs are ignored whether or not their
    deletion finished (``_store`` filters ≤ through), so deletion is
    plain idempotent GC.

    ``before_epoch``: fold only epochs STRICTLY BELOW it. With it
    unset, run only while the stream is STOPPED — epochs above the
    stream's last committed batch could be crash debris, and folding
    uncommitted output into the base would break the retry contract.
    WITH it set to the current epoch id, the fold is safe from INSIDE
    a ``foreachBatch`` body (``maybe_compact``): every epoch < the
    current one belongs to a checkpoint-committed batch (batch N only
    starts after batch N-1 committed), and the current epoch's own —
    possibly crash-retried — output stays out of the base, so a
    retried batch still reads exactly the state its first attempt
    saw (the ``_store(before_epoch=...)`` contract).
    """
    for name in _EMPTY_SCHEMA:
        path = os.path.join(store_dir, name)
        if not os.path.isdir(path):
            continue
        mark = _marker(path)
        epochs = sorted(
            int(e.split("=")[1]) for e in os.listdir(path)
            if e.startswith("epoch=")
            and int(e.split("=")[1]) > mark["through"]
            and (before_epoch is None or int(e.split("=")[1]) < before_epoch)
        )
        if not epochs:
            continue
        live = _store(spark, store_dir, name, before_epoch=before_epoch)
        _commit_base(path, live, mark, epochs[-1], epochs)


def maybe_compact(
    spark: SparkSession, store_dir: str, epoch_id: int, every: int,
) -> bool:
    """In-stream compaction trigger: called at the END of a
    ``foreachBatch`` body, folds all committed epochs below the
    current one once the epoch tail of any store table reaches
    ``every`` dirs. Returns whether a compaction ran.

    This bounds the per-batch small-file count AND the plain (tail)
    leg of every store-side join at ``every`` micro-batches, while
    the bucketed base amortizes its rewrite over ``every`` epochs —
    the flat two-level analog of an LSM level-0→1 merge (at 100 TB
    you would go leveled/partial instead of rewriting the whole base;
    the pointer-commit layout already permits that evolution because
    readers resolve purely through the marker). Safe mid-stream by
    the ``before_epoch`` argument — see ``compact_store``. Idempotent
    under crash-retry: a retried batch re-triggers the same fold,
    which re-resolves to the same live state.
    """
    trigger = False
    for name in _EMPTY_SCHEMA:
        path = os.path.join(store_dir, name)
        if not os.path.isdir(path):
            continue
        mark = _marker(path)
        tail = [
            e for e in os.listdir(path)
            if e.startswith("epoch=")
            and int(e.split("=")[1]) > mark["through"]
            and int(e.split("=")[1]) < epoch_id
        ]
        if len(tail) >= every:
            trigger = True
            break
    if trigger:
        compact_store(spark, store_dir, before_epoch=epoch_id)
    return trigger


# --------------------------------------------------------------------------
# Incremental SEMANTIC dedup: an embedding stream against a survivor store
# --------------------------------------------------------------------------

def _pinned_config(
    store_dir: str, fname: str, key: str, value: int | None,
    what: str,
) -> int:
    """Read-or-create an immutable per-store config value.

    Geometry knobs (semantic-dedup cell count, split-store band width)
    are functions the store's keys were built with; a restarted stream
    that silently changed one would make old state and new arrivals
    incomparable. First run commits the value as a pointer record
    (``flink_spark.commit``); every later run must match it or pass
    ``None`` to adopt it.
    """
    os.makedirs(store_dir, exist_ok=True)
    pin = Pointer(fname)
    rec = pin.read(store_dir)
    if rec is not None:
        got = rec[key]
        if value is not None and value != got:
            raise ValueError(
                f"store was built with {key}={got}, asked for {value}; "
                f"{what} is immutable for a store's lifetime"
            )
        return got
    if value is None:
        raise ValueError(f"{key} is required when creating a new store")
    pin.commit(store_dir, {key: value})
    return value


def _sem_config(store_dir: str, cells: int | None) -> int:
    """Pin the cell geometry for the store's lifetime (see
    ``_pinned_config``): cell assignment is a function of the
    quantizer, so the count is immutable once the store exists."""
    return _pinned_config(
        store_dir, "_SEM_CONFIG", "cells", cells, "cell geometry"
    )


def semantic_dedup_batch(
    batch: DataFrame, epoch_id: int, store_dir: str
) -> None:
    """foreachBatch body: incremental SemDeDup against the survivor store.

    The embedding twin of ``neardup_dedup_batch`` and the streaming
    form of ``plans.similarity.e_semantic_dedup``: arriving vectors are
    assigned to the same md5-derived quantizer cells, and a new vector
    is accepted iff no ALREADY-ACCEPTED vector in its cell sits at or
    above the cosine threshold — stored survivors first (earlier
    batches win), then earlier-accepted members of the same batch in
    vec_id order. This is the greedy keep-first chain of SemDeDup run
    incrementally; as in the other incremental modes, dropped vectors
    never gatekeep (a vector similar only to dropped vectors is kept —
    the survivor-store contract, which the batch query's any-smaller-id
    rule does not share; the stream≡simulation test pins THESE
    semantics).

    Dataflow per batch: assignment via the ``_with_probe_cells`` numpy
    kernel, then ONE ``applyInPandas`` per touched cell over
    batch ∪ (store rows in touched cells) — the store is key-join
    pruned to touched cells and vectors cross the shuffle once, the
    same verify-where-the-vectors-are shape as the batch operator
    (SCALING.md). Survivor vectors append to ``epoch=N`` (idempotent
    overwrite — crash-retried batches rewrite their own epoch and
    dedup against ``before_epoch`` state, like the text modes).
    """
    from flink_spark.plans.similarity import (
        SEMDEDUP_THRESHOLD,
        _norm,
        _with_probe_cells,
    )

    spark = batch.sparkSession
    cells = _sem_config(store_dir, None)
    new = _with_probe_cells(
        batch.select(
            "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
        ),
        spark, cells, 1,
    ).select(
        "vec_id", F.element_at("topc", 1).alias("cell"), "embedding", "nrm",
    ).persist()
    new.count()

    touched = new.select("cell").distinct()
    # broadcast the touched-cell set so the store-side prune is a
    # map-side probe, never a store shuffle (the groupBy-cell exchange
    # below then moves only touched cells' vectors)
    old = (
        _store(spark, store_dir, "vecs", before_epoch=epoch_id)
        .join(F.broadcast(touched), "cell")
    )
    pool = (
        new.withColumn("is_new", F.lit(1))
        .unionByName(old.withColumn("is_new", F.lit(0)))
    )
    thresh = SEMDEDUP_THRESHOLD

    def keep_new(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(["is_new", "vec_id"]).reset_index(drop=True)
        E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        nrm = pdf["nrm"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        is_new = pdf["is_new"].to_numpy().astype(bool)
        m = len(pdf)
        kept = ~is_new  # stored rows are survivors by definition
        for j in range(m):
            if not is_new[j]:
                continue
            idx = np.nonzero(kept[:j])[0]
            if idx.size:
                acc = np.zeros(idx.size)
                for i in range(E.shape[1]):
                    acc = acc + E[idx, i] * E[j, i]
                if (acc / (nrm[idx] * nrm[j]) >= thresh).any():
                    continue  # similar to an accepted vector: dropped
            kept[j] = True
        return pd.DataFrame({"vec_id": ids[is_new & kept]})

    kept_ids = pool.groupBy("cell").applyInPandas(
        keep_new, "vec_id bigint"
    )
    _write(new.join(kept_ids, "vec_id"), store_dir, "vecs", epoch_id)
    new.unpersist()


def run_semantic_dedup_stream(
    sdf: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    cells: int | None = None,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
):
    """Wire an embedding stream into the incremental semantic-dedup store.

    ``cells`` pins the quantizer geometry on first run (a production
    deployment would size it like ``ivf_cells_for`` against the
    expected corpus); restarts adopt the stored value.
    ``compact_every`` = in-stream auto-compaction (``maybe_compact``).
    """
    _sem_config(store_dir, cells)
    return (
        sdf.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_compacting(
            lambda df, eid: semantic_dedup_batch(df, eid, store_dir),
            store_dir, compact_every,
        ))
        .start()
    )


def kept_vectors(spark: SparkSession, store_dir: str) -> DataFrame:
    """The accepted-vector survivor set accumulated so far."""
    return _store(spark, store_dir, "vecs")


# --------------------------------------------------------------------------
# Incremental ENSEMBLE dedup: lexical ∪ semantic evidence, one store
# --------------------------------------------------------------------------

def _ens_bits(store_dir: str, bits: int | None) -> int:
    """Pin the SRP band-key width for the ensemble store's lifetime
    (the ``_split_bits`` contract, own config file)."""
    return _pinned_config(
        store_dir, "_ENSEMBLE_CONFIG", "bits", bits, "band geometry"
    )


def ensemble_dedup_batch(
    batch: DataFrame, epoch_id: int, store_dir: str
) -> None:
    """foreachBatch body: incremental CROSS-MODAL near-dedup — the
    streaming form of the finding ``x_modality_agreement`` measured
    (ZERO pair overlap between lexical and semantic detectors at
    production thresholds, so a lexical-only streaming dedup misses
    every paraphrase/re-encode dup and vice versa).

    ``batch``: (doc_id, text, embedding) with ``embedding`` nullable —
    the caller pre-joins the embedding table (production computes
    embeddings upstream of dedup anyway). Per batch, the verified pair
    graph is the UNION of:

    - lexical: MinHash band candidates (in-batch + store↔batch),
      pair-keyed Jaccard verify at ``JACCARD_THRESHOLD`` — exactly
      ``neardup_dedup_batch``'s legs;
    - semantic: pinned-width SRP band candidates over the non-null
      embedding rows (in-batch + store↔batch), exact-cosine verify at
      ``SEMDEDUP_THRESHOLD`` — the pair-graph form shared with
      ``x_ensemble_dup_clusters`` (NOT the cell-greedy SemDeDup rule:
      pair semantics are what make the epoch-emulated oracle exact).

    Components over the union drop by the standard survivor rule: a
    component touching ANY stored doc drops whole (its members are
    transitive cross-modal near-dups of an accepted doc), an untouched
    component keeps its min id, pairless docs pass. Survivors append
    BOTH modality states (shingles/bands; svecs/vbands when the doc
    has an embedding), so either kind of evidence gatekeeps future
    arrivals. Scale shape: both candidate legs are band-key equi-joins
    with the batch as build side; the store is only ever key-joined;
    CC runs on the batch-bounded pair graph.
    """
    docs = batch.select("doc_id", "text")
    kept_ids = _ensemble_dedup_core(
        batch.select("doc_id", "text", "embedding"), epoch_id, store_dir
    )
    kept = docs.join(kept_ids, "doc_id").withColumn(
        "fp", fingerprint("text")
    ).select("doc_id", "fp")
    _write(kept, store_dir, "kept", epoch_id)
    kept_ids.unpersist()


def _ensemble_dedup_core(
    eligible: DataFrame, epoch_id: int, store_dir: str
) -> DataFrame:
    """The union-graph component-drop core shared by
    ``ensemble_dedup_batch`` and ``curation_batch``: builds the
    lexical + semantic verified pair graph of ``eligible``
    (doc_id, text, embedding-nullable) against the store, drops
    components touching stored docs, writes the four modality-state
    tables (filtered to survivors) for this epoch, and returns the
    PERSISTED survivor-id frame (caller writes its own ``kept`` row
    shape, then unpersists)."""
    from flink_spark.plans.similarity import (
        SEMDEDUP_THRESHOLD,
        _norm,
        _pair_cosines_pandas,
        _with_band_keys,
    )

    spark = eligible.sparkSession
    bits = _ens_bits(store_dir, None)
    _split_bands(store_dir)
    docs = eligible.select("doc_id", "text")

    # lexical legs (the neardup_dedup_batch shapes)
    sh_new, bands_new = _shingle_bands(docs)
    sh_old = _store_parts(spark, store_dir, "shingles",
                          before_epoch=epoch_id)
    bands_old = _store_parts(spark, store_dir, "bands",
                             before_epoch=epoch_id)
    lex_pairs = _batch_pair_graph(  # persisted + materialized
        bands_new, sh_new, bands_old, sh_old, JACCARD_THRESHOLD
    )

    # semantic legs (the semantic_split_assign_batch shapes)
    vec_new = (
        eligible.filter(F.col("embedding").isNotNull())
        .select(F.col("doc_id").alias("vec_id"), "embedding")
        .withColumn("nrm", _norm(F.col("embedding")))
        .persist()
    )
    vec_new.count()
    vbanded = _with_band_keys(
        vec_new.select("vec_id", "embedding"), spark, bits
    ).select("vec_id", F.explode("bkeys").alias("bkey")).persist()
    vbanded.count()
    svecs_old = _store_parts(spark, store_dir, "svecs",
                             before_epoch=epoch_id)
    vbands_old = _store_parts(spark, store_dir, "vbands",
                              before_epoch=epoch_id)

    a, b = vbanded.alias("a"), vbanded.alias("b")
    vcand_in = (
        a.join(b, (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("d1"), F.col("b.vec_id").alias("d2"))
        .distinct()
    )

    def vverified(cand: DataFrame, lv: DataFrame, rv: DataFrame) -> DataFrame:
        x = lv.select(
            F.col("vec_id").alias("d1"),
            F.col("embedding").alias("embedding1"), F.col("nrm").alias("nrm1"),
        )
        y = rv.select(
            F.col("vec_id").alias("d2"),
            F.col("embedding").alias("embedding2"), F.col("nrm").alias("nrm2"),
        )
        return (
            _pair_cosines_pandas(cand.join(x, "d1").join(y, "d2"))
            .filter(F.col("cosine") >= SEMDEDUP_THRESHOLD)
            .select("d1", "d2")
        )

    # store legs probed separately, exactly as in the lexical graph
    sem_pairs = vverified(vcand_in, vec_new, vec_new)
    vcross = _cross_candidates(vbands_old, vbanded, "vec_id")
    if vcross is not None:
        for sv_leg in _legs(svecs_old):
            sem_pairs = sem_pairs.unionByName(
                vverified(vcross, sv_leg, vec_new)
            )
    pairs = lex_pairs.unionByName(sem_pairs).persist()
    pairs.count()
    if vcross is not None:
        vcross.unpersist()

    labels = connected_components(pairs)
    # graph nodes are batch docs or stored docs/vectors, so the stored
    # nodes are the graph nodes NOT in the batch — batch-bounded, no
    # per-batch store-wide distinct (see neardup_dedup_batch; same
    # doc_id-never-re-arrives store contract, module docstring)
    stored_ids = labels.select("doc_id").join(
        docs.select("doc_id"), "doc_id", "left_anti"
    )
    poisoned = (
        labels.join(stored_ids, "doc_id").select("cluster_id").distinct()
    )
    batch_labels = labels.join(stored_ids, "doc_id", "left_anti")
    comp_keep = (
        batch_labels.join(poisoned, "cluster_id", "left_anti")
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    singles = docs.select("doc_id").join(
        labels.select("doc_id"), "doc_id", "left_anti"
    )
    kept_ids = comp_keep.unionByName(singles).persist()
    kept_ids.count()

    _write(bands_new.join(kept_ids, "doc_id"), store_dir, "bands", epoch_id)
    _write(sh_new.join(kept_ids, "doc_id"), store_dir, "shingles", epoch_id)
    kept_vec_ids = kept_ids.select(F.col("doc_id").alias("vec_id"))
    _write(vbanded.join(kept_vec_ids, "vec_id"), store_dir, "vbands",
           epoch_id)
    _write(vec_new.join(kept_vec_ids, "vec_id"), store_dir, "svecs",
           epoch_id)
    for df in (sh_new, bands_new, vec_new, vbanded, pairs, lex_pairs):
        df.unpersist()
    return kept_ids


def run_ensemble_dedup_stream(
    sdf: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    bits: int | None = None,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
):
    """Wire a (doc_id, text, embedding) stream into the incremental
    ensemble-dedup store. ``bits`` pins the SRP band width on first
    run (size with ``lsh_bits_for`` against the expected vector
    corpus); restarts adopt the stored value, and the band count is
    pinned like the split stores. ``compact_every``: in-stream
    auto-compaction, see ``maybe_compact``."""
    _ens_bits(store_dir, bits)
    return (
        sdf.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_compacting(
            lambda df, eid: ensemble_dedup_batch(df, eid, store_dir),
            store_dir, compact_every,
        ))
        .start()
    )


# --------------------------------------------------------------------------
# Fused curation stream: quality → exact → decontam → ensemble near-dedup
# --------------------------------------------------------------------------

def curation_batch(
    batch: DataFrame, epoch_id: int, store_dir: str,
    eval_shingles: DataFrame,
) -> None:
    """foreachBatch body: the FUSED production curation pipeline, one
    store, one pass per micro-batch — how the stages actually deploy
    (running four separate streams would tokenize/band every doc four
    times and quadruple the state surface). Gate order, deliberate:

    1. quality (stateless; the flagship's 3-rule score ≥ 2) — cheap
       drops first, nothing downstream pays for them;
    2. exact dedup — in-batch min-doc_id winner per fingerprint among
       quality-passed, then drop fingerprints already in the survivor
       store (dropped docs never gatekeep);
    3. decontamination (stateless broadcast probe of the static eval
       shingle set) BEFORE near-dedup — a contaminated doc must never
       gatekeep, and a clean near-dup of a contaminated doc should
       survive on its own merit;
    4. ensemble near-dedup (the ``_ensemble_dedup_core`` union graph:
       MinHash + SRP cosine, component drop vs the store).

    Survivors land in ``kept`` (doc_id, fp) and both modality states —
    the same five-table layout as the ensemble store, so ``kept_docs``
    / ``compact_store`` / the restart contract all apply unchanged.
    Scale shape: stages 1–3 are row-local map work + one broadcast
    probe; stage 4 is the documented core.
    """
    from flink_spark.functions.text import normalize_text
    from flink_spark.plans.textops import STOPWORDS

    spark = batch.sparkSession
    toks = batch.select(
        "doc_id", "text", "embedding", tokenize("text").alias("t")
    )
    n_tok = F.size("t")
    stop_ratio = (
        F.size(F.filter("t", lambda x: x.isin(*STOPWORDS))).cast("double")
        / n_tok
    )
    avg_len = (
        F.length(F.regexp_replace(normalize_text("text"), " ", ""))
        .cast("double") / n_tok
    )
    score = (
        F.when(n_tok.between(20, 200), 1).otherwise(0)
        + F.when(stop_ratio.between(0.02, 0.5), 1).otherwise(0)
        + F.when(avg_len.between(3, 8), 1).otherwise(0)
    )
    qual = toks.filter(score >= 2).withColumn(
        "fp", fingerprint("text")
    ).persist()
    qual.count()

    winners = qual.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    # anti-join per store leg: the bucketed base reads pre-partitioned
    # on fp (no store-side Exchange or distinct — anti needs neither),
    # the epoch tail is a small second anti
    b0 = qual.join(winners.select("doc_id"), "doc_id")
    for leg in _legs(_store_parts(spark, store_dir, "kept",
                                  before_epoch=epoch_id)):
        b0 = b0.join(leg.select("fp"), "fp", "left_anti")

    ex = b0.filter(F.size("t") >= SHINGLE_N).select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(F.col("t"), SHINGLE_N))
        ).alias("s"),
    )
    hits = ex.join(F.broadcast(eval_shingles), "s").select("doc_id").distinct()
    dec = b0.join(hits, "doc_id", "left_anti").persist()
    dec.count()

    kept_ids = _ensemble_dedup_core(
        dec.select("doc_id", "text", "embedding"), epoch_id, store_dir
    )
    kept = dec.select("doc_id", "fp").join(kept_ids, "doc_id")
    _write(kept, store_dir, "kept", epoch_id)
    for df in (qual, dec, kept_ids):
        df.unpersist()


def run_curation_stream(
    sdf: DataFrame,
    eval_shingles: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    bits: int | None = None,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
):
    """Wire a (doc_id, text, embedding) stream through the fused
    curation pipeline (same pinning/restart contract as the ensemble
    dedup store; ``compact_every`` = in-stream auto-compaction,
    ``maybe_compact``)."""
    _ens_bits(store_dir, bits)
    return (
        sdf.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_compacting(
            lambda df, eid: curation_batch(df, eid, store_dir, eval_shingles),
            store_dir, compact_every,
        ))
        .start()
    )


# --------------------------------------------------------------------------
# Split-store repair: the batch re-split, applied IN PLACE
# --------------------------------------------------------------------------

def _replace_table(
    spark: SparkSession, store_dir: str, name: str, df: DataFrame
) -> None:
    """Atomically replace a store table's live state with ``df``.

    The ``_commit_base`` pointer-commit primitive with REPLACEMENT
    content (``compact_store`` folds live state; this swaps it), same
    crash safety. Run while the stream is STOPPED, like compaction.
    """
    path = os.path.join(store_dir, name)
    os.makedirs(path, exist_ok=True)
    mark = _marker(path)
    epochs = sorted(
        int(e.split("=")[1]) for e in os.listdir(path)
        if e.startswith("epoch=") and int(e.split("=")[1]) > mark["through"]
    )
    through = epochs[-1] if epochs else mark["through"]
    _commit_base(path, df, mark, through, epochs)


def _store_pair_graph(
    spark: SparkSession, store_dir: str, threshold: float = SPLIT_JACCARD
) -> DataFrame:
    """Verified LEXICAL pair graph over the store's FULL shingle/band
    state — the exact batch-operator shape (skew-guarded banded
    self-join + pair-keyed count verify) on state the stream already
    paid to build, so no re-tokenization. Returns a PERSISTED,
    materialized ``(d1, d2)`` DataFrame; the caller unpersists."""
    from flink_spark.plans.pairjoin import pair_self_join

    sh = _store(spark, store_dir, "shingles")
    bands = _store(spark, store_dir, "bands")
    cand = pair_self_join(bands, "doc_id", ["bkey"]).distinct().persist()
    cand.count()  # pairkey_verify consumes candidates twice
    pairs = pairkey_verify(cand, sh, threshold).select("d1", "d2").persist()
    pairs.count()
    cand.unpersist()
    return pairs


def _sem_store_pair_graph(
    spark: SparkSession, store_dir: str, threshold: float | None = None
) -> DataFrame:
    """Verified COSINE pair graph over the semantic split store's FULL
    vector/band state (stored band rows = the pinned geometry, no
    re-banding; exact-cosine Arrow verify). Returns a PERSISTED,
    materialized ``(d1, d2)`` DataFrame; the caller unpersists."""
    from flink_spark.plans.pairjoin import pair_self_join
    from flink_spark.plans.similarity import (
        SPLIT_COSINE,
        _pair_cosines_pandas,
    )

    if threshold is None:
        threshold = SPLIT_COSINE
    svecs = _store(spark, store_dir, "svecs")
    vbands = _store(spark, store_dir, "vbands")
    cand = pair_self_join(
        vbands.withColumnRenamed("vec_id", "doc_id"), "doc_id", ["bkey"]
    ).distinct().persist()
    cand.count()
    x = svecs.select(
        F.col("vec_id").alias("d1"),
        F.col("embedding").alias("embedding1"), F.col("nrm").alias("nrm1"),
    )
    y = svecs.select(
        F.col("vec_id").alias("d2"),
        F.col("embedding").alias("embedding2"), F.col("nrm").alias("nrm2"),
    )
    pairs = (
        _pair_cosines_pandas(cand.join(x, "d1").join(y, "d2"))
        .filter(F.col("cosine") >= threshold)
        .select("d1", "d2")
        .persist()
    )
    pairs.count()
    cand.unpersist()
    return pairs


def replay_converged(pairs: DataFrame) -> bool:
    """The replay gate queries' convergence precondition, checked
    DISTRIBUTED (the pytest twin collects to a driver union-find; this
    form never leaves the cluster): in every component of the verified
    pair graph, every non-min member has a verified edge to some
    SMALLER id.

    Sufficiency (induction over id order): the component min m has no
    edge to a smaller id (it would contradict minimality), so m
    anchors to itself — gkey(m) = m. Every other member d has a direct
    edge to some x < d; x is stored when d arrives (id-ordered
    replay), so d joins x's cluster and inherits its anchor's gkey,
    which by induction is m. No member ever starts a separate cluster,
    so no bridge of disagreeing assignments can occur either — the
    precondition implies BOTH exact gkey equality with the batch rule
    and an empty conflict ledger. (The ledger alone is NOT a valid
    check: a late bridge of two clusters whose md5 buckets happen to
    agree logs nothing while the gkeys still diverge.)

    ``connected_components`` is min-label, so ``cluster_id`` IS the
    component min; non-min members lacking any pair in which they are
    the larger endpoint are exactly the violations. Consumes ``pairs``
    twice — pass it persisted.
    """
    has_smaller = pairs.select(
        F.greatest("d1", "d2").alias("doc_id")
    ).distinct()
    bad = (
        connected_components(pairs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .join(has_smaller, "doc_id", "left_anti")
    )
    return bad.isEmpty()


def repair_split_store(
    spark: SparkSession, store_dir: str, threshold: float = SPLIT_JACCARD,
    pairs: DataFrame | None = None,
) -> int:
    """EXECUTE the repair path the conflict ledger motivates: recompute
    the batch leakage-safe assignment over the store's full state and
    rewrite ``splits`` in place; clear the ledger. Returns the number
    of conflict rows repaired away. Run while the stream is STOPPED
    (the ``compact_store`` caveat).

    Every docstring that says "a late bridge inherits the smallest-id
    anchor's side; batch re-splits are the repair path" pointed at a
    manual procedure until now. This is the procedure: the full
    verified pair graph over the STORED shingle/band state (the
    skew-guarded banded self-join + the shared pair-keyed count
    verify — the exact batch-operator shape, running on state the
    stream already paid to build, so no re-tokenization), connected
    components, and the batch rule split = md5-bucket(component min).
    After the rewrite every assignment equals what
    ``t_leakage_safe_split`` would have produced on the same corpus;
    arriving docs then anchor to the REPAIRED sides (the anchor rule
    reads the rewritten store), and the ledger starts empty so new
    conflicts are counted from a clean slate. Assignments made before
    the repair may flip — that is the repair's entire point; a trainer
    invokes it at a shard/checkpoint boundary where re-decides are
    absorbable.

    The two table rewrites are SEPARATE pointer-commits, deliberately
    ordered splits-then-conflicts: a crash between them leaves
    REPAIRED assignments under a stale non-empty ledger, which
    over-reports (the ledger claims conflicts already fixed) and heals
    by re-running the repair. The reverse order would risk the
    dangerous dual — an empty ledger over unrepaired assignments,
    i.e. silent divergence. ``pairs``: optionally a precomputed
    (persisted) ``_store_pair_graph`` result, e.g. when the caller
    already built it for ``replay_converged``; the caller then keeps
    ownership of its unpersist.
    """
    splits_old = _store(spark, store_dir, "splits")
    n_conf = int(_store(spark, store_dir, "conflicts").count())

    own_pairs = pairs is None
    if own_pairs:
        pairs = _store_pair_graph(spark, store_dir, threshold)
    labels = connected_components(pairs)
    gkey = F.coalesce("cluster_id", "doc_id")
    new = (
        splits_old.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.when(split_bucket_col(gkey) < TRAIN_PCT, "train")
            .otherwise("val").alias("split"),
            gkey.alias("gkey"),
        )
    )
    _replace_table(spark, store_dir, "splits", new)
    _replace_table(
        spark, store_dir, "conflicts",
        local_df(spark, [], _EMPTY_SCHEMA["conflicts"]),
    )
    if own_pairs:
        pairs.unpersist()
    return n_conf


def repair_semantic_split_store(
    spark: SparkSession, store_dir: str, threshold: float | None = None,
    pairs: DataFrame | None = None,
) -> int:
    """Embedding twin of ``repair_split_store``: batch re-split of the
    semantic split store from its own stored vectors/bands, rewriting
    ``vsplits`` and clearing ``vconflicts``. Returns the repaired
    conflict-row count. Run while the stream is STOPPED.

    This is the repair the sf0.1 boundary measurement motivates
    (``s_semantic_split_replay``: 5 of 96 components there violate the
    incremental-connectivity precondition, so first-sight assignments
    diverge from the batch rule): candidates from the STORED band rows
    (the pinned geometry — no re-banding), the exact-cosine Arrow
    verify, CC, and the batch rule on the component min. Same
    splits-then-conflicts commit ordering and crash window as the
    lexical twin (see its docstring); ``pairs`` optionally takes a
    precomputed persisted ``_sem_store_pair_graph`` result, whose
    unpersist stays with the caller.
    """
    vsplits_old = _store(spark, store_dir, "vsplits")
    n_conf = int(_store(spark, store_dir, "vconflicts").count())

    own_pairs = pairs is None
    if own_pairs:
        pairs = _sem_store_pair_graph(spark, store_dir, threshold)
    labels = connected_components(pairs)
    gkey = F.coalesce("cluster_id", "doc_id")
    new = (
        vsplits_old.select(F.col("vec_id").alias("doc_id"))
        .join(labels, "doc_id", "left")
        .select(
            F.col("doc_id").alias("vec_id"),
            F.when(split_bucket_col(gkey) < TRAIN_PCT, "train")
            .otherwise("val").alias("split"),
            gkey.alias("gkey"),
        )
    )
    _replace_table(spark, store_dir, "vsplits", new)
    _replace_table(
        spark, store_dir, "vconflicts",
        local_df(spark, [], _EMPTY_SCHEMA["vconflicts"]),
    )
    if own_pairs:
        pairs.unpersist()
    return n_conf
