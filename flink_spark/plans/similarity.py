"""Embedding similarity + multimodal operators over ``embeddings``/``documents``.

The reference has no vector operators (its "enrichment" is the dim
point-lookup family, rt/app/func/DimAsyncFunction.java:20-75); this
module supplies the similarity-search surface a training-data pipeline
needs on top of the same engine: brute-force cosine top-k as the exact
baseline, a sign-random-projection (LSH) bucketed variant as the scale
path, and multimodal (binary payload) plumbing.

Oracle determinism strategy
---------------------------
Cosine similarity is a float computation, so the DuckDB oracle must
reproduce Spark's floats *bit-for-bit*. Both sides compute every dot
product / norm as a **left-to-right fold over the array in element
order with float64 accumulation**:

- Spark: ``aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)),
  0.0d, (acc,x) -> acc+x)`` — sequential fold, no shuffle order
  involvement.
- DuckDB: ``list_reduce(list_transform(range(1, dim+1),
  i -> CAST(a[i] AS DOUBLE) * CAST(b[i] AS DOUBLE)), (x,y) -> x+y)``.

``0.0 + t1 ≡ t1`` in IEEE-754, so the two folds produce identical
bit patterns; division and sqrt are correctly-rounded and therefore
also identical. LSH hyperplanes are ±1 vectors derived from md5 in
*Python* at import time and embedded as literals in both the Spark
plan and the oracle SQL — no cross-engine RNG to disagree.

Scale notes (100 TB stance)
---------------------------
- Brute force broadcasts the (small) query set and scores pairs
  map-side — one narrow pass over the big side, then a top-k shuffle
  of |Q| x N scored pairs. That is the *baseline*; it is linear in N
  per query and is what you fall back to for exactness.
- The LSH variant reduces each vector to r band keys map-side (r
  bands × b sign bits each — MinHash-style banding over SRP signs),
  then joins query↔corpus *within band buckets only* — candidate
  volume drops by ~2^b/r, pair recall is 1−(1−p^b)^r instead of a
  single band's p^b, and the join keys are uniformly distributed
  (md5-derived hyperplanes), so no skew: a dense semantic cluster is
  split across r independent plane sets instead of piling into one
  quadratic bucket. This is the 1000-executor design: band-key
  assignment is embarrassingly parallel, and the per-bucket join is an
  ordinary hash join Catalyst/AQE handles.
- Per-query top-k uses ``row_number`` over (query partition); for huge
  query sets you'd pre-aggregate per-partition top-k first, but the
  query side here is explicitly the small side by construction.
"""

from __future__ import annotations

import functools
import hashlib
import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_spark.plans.graph import CC_SQL_CTES, connected_components
from flink_spark.plans.pairjoin import MAX_BUCKET, pair_self_join
from flink_spark.plans.textops import (
    _MINHASH_PAIRS_CTES,
    TRAIN_PCT,
    _pipeline_oracle,
    _training_pipeline_df,
    split_bucket_col,
)
from flink_spark.registry import query, track_persist
from flink_spark.sources import local_df, load, table_rows

DIM = 64              # embedding width of the fixture corpus
N_QUERIES = 10        # vec_id < 10 form the query set
TOPK = 5

# Sampled recall-audit mode (r11 item #7): at 500k vectors the full
# variant scoreboard costs ~45 s because exact truth
# brute-force-scans the corpus for every one of the N_QUERIES probes.
# With FLINK_SPARK_RECALL_SAMPLE=k (0 = off, the default and the gate
# shape), the recall audits (`e_ann_recall_audit`,
# `e_ann_variant_recall`) cover only the k sampled probe queries —
# the query-id filter pushes down through every leg's window/join to
# the scans, so truth-side cost shrinks ~k/N_QUERIES. The sample is
# md5-ordered (smallest k digests of the probe ids), deterministic,
# and re-derived identically by the oracle. Confidence: per-(query,
# truth-neighbor) hits are Bernoulli(r), so the sampled recall's
# standard error is ~sqrt(r·(1−r)/(k·topk)) — at k=4, topk=3 that is
# ≤0.15, coarse but enough to catch the cliff-vs-healthy distinction
# the scoreboard exists for in a per-corpus production job; audits
# keep the full set.
RECALL_SAMPLE = int(os.environ.get("FLINK_SPARK_RECALL_SAMPLE", "0"))


def recall_sample_ids(k: int) -> list[int]:
    """The ``k`` probe-query ids (of the fixed ``N_QUERIES``) with the
    smallest md5 digest — order-stable under growing ``k``, so a
    bigger sample strictly extends a smaller one."""
    ranked = sorted(
        range(N_QUERIES),
        key=lambda i: hashlib.md5(str(i).encode()).hexdigest(),
    )
    return sorted(ranked[:k])


def _recall_sample_sql(col: str = "query_id") -> str:
    """`` AND <col> IN (...)`` under the active sample, else empty —
    the oracle-side twin of the Spark legs' ``isin`` filter."""
    if not RECALL_SAMPLE:
        return ""
    ids = ", ".join(map(str, recall_sample_ids(RECALL_SAMPLE)))
    return f" AND {col} IN ({ids})"
# SRP-LSH is BANDED (r bands × b bits, the Broder/MinHash banding
# applied to sign-random-projections): a vector gets one bucket key
# per band, each from its own b hyperplanes; candidates are pairs
# sharing ANY band. Single-band SRP at b bits has pair-recall p^b
# (p = 1 − θ/π): at cosine 0.9 and 8 bits that is ~0.29 — ~70% of true
# near-dups never become candidates. Banding lifts it to 1−(1−p^b)^r
# (~0.75 at r=4) while candidate volume stays O(n²·r/2^b), never
# all-pairs. b is the corpus-size knob for the in-bucket self-join
# (rule of thumb: b ≈ log2(n_vectors) − 7 for ~128 vectors per band
# bucket). By default the rule is COMPUTED, not documented: with the
# env knob unset, the Spark plan derives b from a cheap corpus count at
# build time and the DuckDB oracle derives the SAME b inside SQL (a
# COUNT(*) CTE + md5-generated hyperplanes), so the default stays
# near-linear at any corpus size with no tuning. Setting
# FLINK_SPARK_LSH_BITS pins a fixed per-band width on both sides;
# FLINK_SPARK_LSH_BANDS pins the band count.
#
# Band-count default: 8 (raised from 4 in round 11, decided by the
# repo's own audit). ``e_lsh_recall_curve`` measured candidate recall
# at the COSDUP_THRESHOLD band of ~0.5 under 4 bands — the md5-derived
# ±1 planes are a coarser LSH family than iid Gaussian theory assumes
# (~0.88) — and ~0.76 under 8 bands. Semantic dedup and the embedding
# leakage-safe split inherit that recall directly (a missed candidate
# is a missed near-dup is train/val leakage), so the default buys
# recall with the measured price: 2× band rows per vector and ~2×
# band-join candidates (walls at sf0.1 and the 500k decade leg in
# SCALING.md §R11). Deployments tuning for throughput over recall set
# FLINK_SPARK_LSH_BANDS=4; every oracle re-derives the active value,
# so the correctness gate is band-count-independent.
_LSH_BITS_ENV = os.environ.get("FLINK_SPARK_LSH_BITS")
LSH_BITS = int(_LSH_BITS_ENV) if _LSH_BITS_ENV else 4  # fixed-mode width
LSH_MIN_BITS, LSH_MAX_BITS = 4, 16
LSH_BANDS = int(os.environ.get("FLINK_SPARK_LSH_BANDS", "8"))
LSH_TOPK = 3


def lsh_bits_for(n: int) -> int:
    """bits ≈ log2(n) − 7 (~128 vectors/bucket), clamped to [4, 16].

    Beyond 2^23 vectors the clamp saturates — raise ``LSH_MAX_BITS``
    (or set the env knob) for billion-vector corpora; the SQL twin in
    ``_LSH_BITS_CTE`` must move in lockstep.
    """
    return min(LSH_MAX_BITS, max(LSH_MIN_BITS, math.ceil(math.log2(max(n, 2))) - 7))


def _active_lsh_bits(spark: SparkSession, sf_dir: str) -> int:
    """Env-pinned width, or the corpus rule over a cached cheap count."""
    if _LSH_BITS_ENV:
        return int(_LSH_BITS_ENV)
    return lsh_bits_for(table_rows(spark, sf_dir, "embeddings"))


@functools.lru_cache(maxsize=None)
def _signs(j: int) -> tuple[int, ...]:
    """Hyperplane j as a ±1 vector, derived from md5 (shared literal)."""
    out = []
    for i in range(DIM):
        h = hashlib.md5(f"{j}:{i}".encode()).hexdigest()
        out.append(1 if int(h[0], 16) >= 8 else -1)
    return tuple(out)


# --- Spark-side fold helpers (sequential, order-deterministic) ---

def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def _proj(a, signs: list[int]):
    plane = F.array(*[F.lit(float(s)) for s in signs])
    return _dot(a, plane)


def _band_bucket(a, band: int, bits: int):
    """Band ``band``'s bucket key: sign bits of planes band*bits..+bits-1,
    offset by ``band << bits`` so keys from different bands never
    collide in the single flat ``bkey`` join column."""
    expr = F.lit(band * (1 << bits))
    for j in range(bits):
        expr = expr + F.when(
            _proj(a, _signs(band * bits + j)) >= 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
    return expr


def _band_keys(a, bits: int):
    """All ``LSH_BANDS`` band keys of ``a`` as one array (explode me)."""
    return F.array(*[_band_bucket(a, t, bits) for t in range(LSH_BANDS)])


# --- DuckDB-side fold helpers (identical op order) ---

def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def _proj_sql(a: str, signs: tuple[int, ...]) -> str:
    lit = "[" + ", ".join(f"{s}.0" for s in signs) + "]"
    return (
        f"list_reduce(list_transform(range(1, {DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * ({lit})[i]), (x, y) -> x + y)"
    )


# The oracle's bucket width: a one-row CTE named nb(bits). Env-pinned
# it is a constant; otherwise the SAME clamped log2(count)−7 rule the
# Spark side computes in lsh_bits_for — both engines count the same
# parquet, so the widths agree at every scale.
if _LSH_BITS_ENV:
    _LSH_BITS_CTE = f"nb(bits) AS (SELECT {int(_LSH_BITS_ENV)})"
else:
    _LSH_BITS_CTE = (
        f"nb(bits) AS (SELECT LEAST({LSH_MAX_BITS}, GREATEST({LSH_MIN_BITS}, "
        "CAST(ceil(log2(COUNT(*))) AS INTEGER) - 7)) FROM embeddings)"
    )

def _sign_sql(plane: str) -> str:
    """Sign of hyperplane ``plane`` (an SQL expression), dimension i,
    derived from md5(plane || ':' || i) — the SQL twin of ``_signs()``,
    so the oracle can build ANY plane count (the hyperplane set is
    open-ended, not a pre-enumerated literal)."""
    return (
        f"(CASE WHEN substring(md5(CAST({plane} AS VARCHAR) || ':' || "
        "CAST(i - 1 AS VARCHAR)), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END)"
    )


def _band_bucket_sql(a: str) -> str:
    """Band ``band``'s bucket key of ``a`` — the SQL twin of
    ``_band_bucket``: sign bits of planes ``band*bits + j`` (j in
    [0, bits)), offset by ``band * 2^bits``. ``band`` and ``bits``
    come from the surrounding FROM (range unnest + nb CTE)."""
    proj = (
        f"list_reduce(list_transform(range(1, {DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * {_sign_sql('band * bits + j')}), "
        "(x, y) -> x + y)"
    )
    return (
        "band * CAST(power(2, bits) AS BIGINT) + "
        "CAST(list_sum(list_transform(range(0, bits), j -> "
        f"CASE WHEN {proj} >= 0 THEN CAST(power(2, j) AS BIGINT) "
        "ELSE 0 END)) AS BIGINT)"
    )


# vectors + norms / exploded band keys — the two base CTEs every
# banded-LSH oracle shares (the SQL twin of the v / bands frames the
# Spark plans build).
_V_CTE = f"v AS (SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm FROM embeddings)"
_BANDS_CTE = f"""bands AS (
      SELECT vec_id, {_band_bucket_sql('embedding')} AS bkey
      FROM embeddings, nb, range(0, {LSH_BANDS}) t(band)
    )"""


# cosine over pre-computed norms (qn/nn columns): the norm fold runs
# once per *vector*, not once per *pair* — at Q x N pair volume that
# removes two thirds of the arithmetic.
_COSINE_SQL = f"{_dot_sql('qe', 'ne')} / (qn * nn)"


def _cosine_spark():
    return _dot(F.col("qe"), F.col("ne")) / (F.col("qn") * F.col("nn"))


# --------------------------------------------------------------------------
# Brute-force cosine top-k (exact ANN baseline)
# --------------------------------------------------------------------------

# module constant (not just inline in the decorator): the end-to-end
# recall audit composes this oracle verbatim as its ground truth
_EXACT_TOPK_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe, {_norm_sql('embedding')} AS qn
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    n AS (SELECT vec_id AS neighbor_id, embedding AS ne, {_norm_sql('embedding')} AS nn
          FROM embeddings),
    pairs AS (
      SELECT query_id, neighbor_id, {_dot_sql('qe', 'ne')} / (qn * nn) AS cosine
      FROM q, n WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rnk FROM pairs)
    WHERE rnk <= {TOPK}
    """


@query(
    "e_cosine_topk",
    oracle=_EXACT_TOPK_ORACLE,
    tags=("similarity", "ann"),
)
def e_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the query set (brute force).

    The query side is broadcast (it is small by construction), so
    scoring is a map-side nested scan of the corpus — one pass, no
    corpus shuffle; only |Q| x N scored pairs shuffle for the per-query
    ranking. Dot products are JVM-side ``aggregate``/``zip_with``
    folds — no Python UDF.
    """
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        _norm(F.col("embedding")).alias("qn"),
    )
    n = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        _norm(F.col("embedding")).alias("nn"),
    )
    pairs = (
        n.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cosine_spark().alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
        .select("query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"),
                "cosine")
    )


# --------------------------------------------------------------------------
# Metadata-filtered top-k (the filtered-search shape of vector stores)
# --------------------------------------------------------------------------

@query(
    "e_filtered_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label, embedding AS qe,
                      {_norm_sql('embedding')} AS qn
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    n AS (SELECT vec_id AS neighbor_id, label, embedding AS ne,
                 {_norm_sql('embedding')} AS nn
          FROM embeddings),
    pairs AS (
      SELECT query_id, neighbor_id, {_COSINE_SQL} AS cosine
      FROM q JOIN n USING (label) WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rnk FROM pairs)
    WHERE rnk <= {TOPK}
    """,
    tags=("similarity", "ann", "filtered"),
)
def e_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 neighbors CONSTRAINED to the query's label — the
    metadata-filtered search every production vector store exposes
    ("nearest within this tenant/language/split").

    The constraint is the optimization: the label equality becomes
    the JOIN KEY, so the scan is a broadcast HASH join (each corpus
    row probes a small hash table and scores only against the
    queries sharing its label) instead of the unfiltered baseline's
    nested-loop pass — candidate volume drops from |Q| × N to
    Σ_label |Q_label| × |N_label|. At 100 TB the same shape rides
    partition pruning: a corpus laid out by the filter column (the
    ``bucketed`` source helpers) never reads non-matching partitions
    at all. Scoring stays the JVM-side fold; ranking is the standard
    per-query row_number.
    """
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        "label",
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        _norm(F.col("embedding")).alias("qn"),
    )
    n = emb.select(
        "label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        _norm(F.col("embedding")).alias("nn"),
    )
    pairs = (
        n.join(F.broadcast(q), "label")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cosine_spark().alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
        .select("query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"),
                "cosine")
    )


# --------------------------------------------------------------------------
# LSH-bucketed ANN (the scale path)
# --------------------------------------------------------------------------

@query(
    "e_ann_lsh_topk",
    oracle=f"""
    WITH {_LSH_BITS_CTE},
    {_V_CTE},
    {_BANDS_CTE},
    cand AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM bands a JOIN bands b ON a.bkey = b.bkey
      WHERE a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id
    ),
    pairs AS (
      SELECT query_id, neighbor_id,
             {_dot_sql('x.embedding', 'y.embedding')} / (x.nrm * y.nrm) AS cosine
      FROM cand JOIN v x ON query_id = x.vec_id
                JOIN v y ON neighbor_id = y.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rnk FROM pairs)
    WHERE rnk <= {LSH_TOPK}
    """,
    tags=("similarity", "ann", "lsh"),
)
def e_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 neighbors via BANDED sign-random-projections.

    Charikar SRP signs + Broder-style banding (the same r×b structure
    as the MinHash path, ``plans.textops:_minhash_pairs``): each vector
    gets ``LSH_BANDS`` bucket keys, each from its own ``bits``
    md5-derived ±1 hyperplanes; candidates are distinct pairs sharing
    ANY band. Single-band recall p^bits (~0.29 at cosine 0.9, 8 bits)
    becomes 1−(1−p^bits)^r (~0.75 at r=4) — the difference between a
    dedup pass that misses 70% of near-dups and one that catches most.
    Everything stays map-side until the band-key join: key assignment
    is embarrassingly parallel, the query side is broadcast (small by
    construction), and only candidates pay the exact-cosine fold.
    With the env knobs unset the per-band bit count derives from the
    corpus size (``lsh_bits_for``) on both sides — no retuning at scale.
    """
    bits = _active_lsh_bits(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    bands = _with_band_keys(
        emb.select("vec_id", "embedding"), spark, bits
    ).select("vec_id", F.explode("bkeys").alias("bkey"))
    qb = bands.filter(F.col("vec_id") < N_QUERIES).withColumnRenamed(
        "vec_id", "query_id"
    )
    nb = bands.withColumnRenamed("vec_id", "neighbor_id")
    cand = (
        nb.join(F.broadcast(qb), "bkey")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    x = v.select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qe"), F.col("nrm").alias("qn"))
    y = v.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("ne"), F.col("nrm").alias("nn"))
    pairs = (
        y.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(x), "query_id")
        .select("query_id", "neighbor_id", _cosine_spark().alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= LSH_TOPK)
        .select("query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"),
                "cosine")
    )


# --------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data op)
# --------------------------------------------------------------------------

@query(
    "e_hard_negatives_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qe,
                      {_norm_sql('embedding')} AS qn
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    n AS (SELECT vec_id AS neighbor_id, label, embedding AS ne,
                 {_norm_sql('embedding')} AS nn
          FROM embeddings),
    pairs AS (
      SELECT query_id, neighbor_id, n.label AS neg_label,
             {_dot_sql('qe', 'ne')} / (qn * nn) AS cosine
      FROM q JOIN n ON n.label <> q.qlabel
    )
    SELECT query_id, neighbor_id, CAST(neg_label AS INTEGER) AS neg_label,
           CAST(rnk AS BIGINT) AS rnk, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rnk FROM pairs)
    WHERE rnk <= {TOPK}
    """,
    tags=("similarity", "ann", "training"),
)
def e_hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: per query, the top-{TOPK} most-similar
    vectors carrying a DIFFERENT label.

    The data op behind contrastive embedding training (DPR/SimCSE
    style): random negatives are too easy, so each anchor is paired
    with the negatives it most confuses — nearest-by-cosine among
    other-label vectors, with the mined label carried through for the
    training-pair writer. ``e_filtered_topk`` inverted: label
    INEQUALITY can't be the join key, but the query side stays
    broadcast-small and each corpus row scores only against the ≤ |Q|
    queries of other labels — the exact brute-force shape of the truth
    baseline, audit-bounded by N_QUERIES like every query-side op in
    the family. At 100 TB the mining runs over the ANN machinery
    (IVF/PQ shortlists re-ranked exactly) per label shard; this is the
    exact form those shortcuts are audited against.
    """
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
        _norm(F.col("embedding")).alias("qn"),
    )
    n = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("ne"),
        _norm(F.col("embedding")).alias("nn"),
    )
    pairs = (
        n.join(F.broadcast(q), F.col("neg_label") != F.col("qlabel"))
        .select(
            "query_id", "neighbor_id", "neg_label",
            _cosine_spark().alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
        .select(
            "query_id", "neighbor_id",
            F.col("neg_label").cast("int").alias("neg_label"),
            F.col("rnk").cast("long").alias("rnk"), "cosine",
        )
    )


# --------------------------------------------------------------------------
# Embedding norm statistics (order-insensitive aggregates only)
# --------------------------------------------------------------------------

@query(
    "e_norm_stats",
    oracle=f"""
    WITH n AS (SELECT label, {_norm_sql('embedding')} AS nrm FROM embeddings)
    SELECT label, COUNT(*) AS vec_ct, MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
    FROM n GROUP BY label
    """,
    tags=("similarity", "stats"),
)
def e_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-norm profile (count/min/max).

    min/max of doubles are order-insensitive (unlike sums), so the
    rollup hashes identically under any shuffle order. One narrow
    map-side fold per row, one |labels|-row shuffle.
    """
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", _norm(F.col("embedding")).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("vec_ct"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )


# --------------------------------------------------------------------------
# Multimodal: documents ⋈ embeddings (text modality joined to vectors)
# --------------------------------------------------------------------------

@query(
    "m_doc_embedding_join",
    oracle="""
    SELECT d.source, e.label,
           COUNT(*) AS doc_ct,
           CAST(SUM(d.n_chars) AS BIGINT) AS char_total
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.source, e.label
    """,
    tags=("similarity", "multimodal", "join"),
)
def m_doc_embedding_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality equi-join: text table ⋈ vector table on id.

    The canonical multimodal layout: one row per asset, modalities in
    separate columns/tables keyed by id. Join key is the unique id —
    uniform, co-partitionable (bucket both tables by id at rest and
    this is a zero-shuffle join at 100 TB).
    """
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    return (
        docs.join(emb, docs["doc_id"] == emb["vec_id"])
        .groupBy("source", "label")
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum("n_chars").cast("long").alias("char_total"),
        )
    )


# --------------------------------------------------------------------------
# Multimodal: opaque binary payload column + typed metadata
# --------------------------------------------------------------------------

@query(
    "m_binary_meta",
    oracle="""
    WITH p AS (
      SELECT source,
             octet_length(encode(text)) AS n_bytes,
             md5(text) AS payload_fp
      FROM documents
    )
    SELECT source,
           COUNT(*) AS asset_ct,
           CAST(SUM(n_bytes) AS BIGINT) AS byte_total,
           CAST(MAX(n_bytes) AS BIGINT) AS max_bytes,
           MIN(payload_fp) AS min_fp
    FROM p GROUP BY source
    """,
    tags=("similarity", "multimodal", "binary"),
)
def m_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary-column plumbing: payload bytes + typed metadata.

    Models image/audio/video assets as ``binary`` payloads with typed
    metadata extracted JVM-side (byte length, content fingerprint) —
    the decode-free part of a multimodal pipeline. The payload here is
    the utf-8 encoding of ``text`` (the container has no media libs);
    the schema/partitioning shape is the real thing.
    """
    docs = load(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    p = docs.select(
        "source",
        F.octet_length(payload).alias("n_bytes"),
        F.md5(payload).alias("payload_fp"),
    )
    return p.groupBy("source").agg(
        F.count(F.lit(1)).alias("asset_ct"),
        F.sum("n_bytes").cast("long").alias("byte_total"),
        F.max("n_bytes").cast("long").alias("max_bytes"),
        F.min("payload_fp").alias("min_fp"),
    )


# the fixture embeddings are near-orthogonal random vectors (max
# pairwise cosine ~0.51), so the operator uses a fixture-scaled
# threshold; real corpora run this at ~0.9-0.95.
COSDUP_THRESHOLD = 0.45

# Leakage-safe split clustering threshold for the embedding modality,
# decoupled from the dedup threshold (round 10, mirroring textops'
# SPLIT_JACCARD): split assignment may cluster at a LOWER cosine than
# removal. Both the Spark plan and the generated DuckDB oracle read
# this constant, so they always agree; it equals the dedup value.
SPLIT_COSINE = COSDUP_THRESHOLD


_EMB_COSINE_SQL = f"{_dot_sql('x.embedding', 'y.embedding')} / (x.nrm * y.nrm)"


# banded-LSH verified near-dup pairs -- shared by t_embedding_neardup
# (which selects it directly), e_dup_clusters (which walks its
# transitive closure), and e_leakage_safe_split (which may verify at a
# looser threshold); the SQL twin of _emb_neardup_pairs.
def _emb_pairs_ctes(threshold: float) -> str:
    return f"""{_LSH_BITS_CTE},
    {_V_CTE},
    {_BANDS_CTE},
    cand AS (
      SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
      FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.vec_id < b.vec_id
    ),
    pairs AS (
      SELECT d1, d2, {_EMB_COSINE_SQL} AS cosine
      FROM cand JOIN v x ON d1 = x.vec_id JOIN v y ON d2 = y.vec_id
      WHERE {_EMB_COSINE_SQL} >= {threshold}
    )"""


_EMB_PAIRS_CTES = _emb_pairs_ctes(COSDUP_THRESHOLD)


def _emb_neardup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = COSDUP_THRESHOLD
) -> DataFrame:
    """Verified banded-LSH cosine near-dup pairs (d1 < d2, cosine) --
    the Spark twin of ``_EMB_PAIRS_CTES``; algorithm notes on
    ``t_embedding_neardup``.

    Hybrid physical strategy, same result either way:

    - **No oversized bucket** (md5-uniform band keys -- the common
      case): ``applyInPandas`` PER BAND-BUCKET, pairwise cosines in a
      blocked numpy kernel, only pairs >= threshold emitted, distinct
      across bands. Embeddings cross the shuffle once per band (4n
      rows), never per candidate pair -- the pair-materializing join
      moved candidates x 2 x vector-width bytes and paid an
      interpreted per-element fold on every pair (measured 56.6 s at
      the 100x corpus vs 3.4 s for this form).
    - **Oversized bucket detected** (adversarial/Zipfian corpus): the
      skew-guarded grid pair join (``plans.pairjoin``) bounds any one
      task at ~cap^2 comparisons, with the pair-cosine numpy kernel
      replacing the interpreted fold. Slower per pair, but no
      straggler task -- the insurance path.

    The probe is one scalar action over the persisted band table
    (exactly ``pair_self_join``'s own probe). Cosines are
    bit-identical on both paths (same sequential fold), so the oracle
    never changes; the all-identical-corpus property test pins the
    fallback path end-to-end.
    """
    bits = _active_lsh_bits(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    # lazy barrier (r15): the oversized-bucket probe right below is the
    # first action and fully scans the band table
    bands_v = track_persist(
        _with_band_keys(
            emb.select(
                "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
            ),
            spark, bits,
        ).select(
            "vec_id", "embedding", "nrm", F.explode("bkeys").alias("bkey")
        ),
        eager=False,
    )
    oversized = (
        bands_v.groupBy("bkey").agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") > MAX_BUCKET).limit(1).count() > 0
    )
    if not oversized:
        return (
            bands_v.groupBy("bkey")
            .applyInPandas(_gram_pairs_fn(threshold), _PAIR_SCHEMA)
            .distinct()
        )
    cand = pair_self_join(
        bands_v.select("vec_id", "bkey"), "vec_id", ["bkey"], persist=False
    ).distinct()
    x = bands_v.select(
        F.col("vec_id").alias("d1"), F.col("embedding").alias("embedding1"),
        F.col("nrm").alias("nrm1"),
    ).dropDuplicates(["d1"])
    y = bands_v.select(
        F.col("vec_id").alias("d2"), F.col("embedding").alias("embedding2"),
        F.col("nrm").alias("nrm2"),
    ).dropDuplicates(["d2"])
    # no explicit broadcast: at corpus scale the vector table is the
    # big side and candidates the small one -- AQE picks the build side.
    return _pair_cosines_pandas(
        cand.join(x, "d1").join(y, "d2")
    ).filter(F.col("cosine") >= threshold)


_PAIR_SCHEMA = T.StructType([
    T.StructField("d1", T.LongType()),
    T.StructField("d2", T.LongType()),
    T.StructField("cosine", T.DoubleType()),
])


def _gram_pairs_fn(thresh: float):
    """Factory for the blocked exact-cosine PAIR kernel: all (earlier
    id, later id) pairs of the group at cosine >= ``thresh``, computed
    as a blocked Gram accumulation whose per-pair sequential fold
    reproduces the oracle expression bit-exactly. The ONE exact
    pairwise kernel shared by the banded near-dup verify
    (``_emb_neardup_pairs``, per band bucket) and the SRP recall
    audit's ground truth (``e_lsh_recall_curve``, whole audit sample)
    — a precision or fold-order change lands in both or neither.
    """
    def fn(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {"d1": [], "d2": [], "cosine": []}
            ).astype({"d1": "int64", "d2": "int64", "cosine": "float64"})
        E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        EF = np.asfortranarray(E)       # contiguous fold operands —
        ET = np.ascontiguousarray(E.T)  # see _with_probe_cells
        nrm = pdf["nrm"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        cols = np.arange(m)
        o1, o2, oc = [], [], []
        B = 4096  # Gram rows per block: memory O(B*m), not O(m^2)
        for r0 in range(0, m, B):
            r1 = min(r0 + B, m)
            acc = np.zeros((r1 - r0, m))
            for i in range(E.shape[1]):
                acc += EF[r0:r1, i][:, None] * ET[i]
            cos = acc / (nrm[r0:r1, None] * nrm[None, :])
            later = cols[None, :] > np.arange(r0, r1)[:, None]
            r, c = np.nonzero((cos >= thresh) & later)
            o1.append(ids[r + r0]); o2.append(ids[c]); oc.append(cos[r, c])
        return pd.DataFrame({
            "d1": np.concatenate(o1), "d2": np.concatenate(o2),
            "cosine": np.concatenate(oc),
        })

    return fn


@query(
    "t_embedding_neardup",
    oracle=f"""
    WITH {_EMB_PAIRS_CTES}
    SELECT d1, d2, cosine FROM pairs
    """,
    tags=("similarity", "dedup", "neardup"),
)
def t_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (semantic dedup).

    The embedding-space member of the dedup family (alongside exact /
    Jaccard / MinHash / SimHash in ``plans.textops``): candidate pairs
    from BANDED SRP-LSH (``LSH_BANDS`` band keys per vector, each from
    its own ``bits`` hyperplanes -- the r x b structure of the MinHash
    path, ``plans.textops:_minhash_pairs``), verified by exact cosine.
    Banding fixes the two single-band failure modes at scale: recall
    (p^bits -> 1-(1-p^bits)^r) and bucket skew (a dense semantic
    cluster splits across r independent plane sets instead of landing
    in one quadratic bucket). Candidate volume is O(n^2 * r / 2^bits),
    never all-pairs; the per-band bit count derives from the corpus
    size by default (``lsh_bits_for``: bits ~ log2(n) - 7, ~128
    vectors per band bucket at any scale); the env knobs pin r and
    bits when a specific recall/cost point is wanted.
    """
    return _emb_neardup_pairs(spark, sf_dir)


@query(
    "e_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_EMB_PAIRS_CTES},
    {CC_SQL_CTES}
    SELECT cluster_id, COUNT(*) AS n_vecs, MAX(doc_id) AS max_vec
    FROM labels GROUP BY cluster_id
    """,
    tags=("similarity", "dedup", "clustering"),
)
def e_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dup clusters: components over the embedding pair graph.

    The embedding-modality twin of ``t_dup_clusters`` (semantic dedup
    acts on transitive closure, not pairs): verified cosine near-dup
    pairs from ``t_embedding_neardup`` feed the shared
    ``plans.graph.connected_components`` (min-label propagation;
    scale notes there), labels roll up to per-cluster size + id
    range. cluster_id = smallest vec_id in the component.
    """
    pairs = track_persist(
        t_embedding_neardup(spark, sf_dir).select("d1", "d2"),
        eager=False,  # CC's first convergence action fully scans it
    )
    labels = connected_components(pairs)
    return labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.max("doc_id").alias("max_vec"),
    )


# SRP recall audit: sample size + cosine floor (mirrored in the oracle).
# The audit runs on a bounded id-prefix sample BY DESIGN — exact
# all-pairs ground truth is quadratic, so at any real scale you audit a
# sample; the curve is a property of the banding, not the corpus size.
EMB_AUDIT_N = 512
E_RECALL_FLOOR = 0.2


@query(
    "e_lsh_recall_curve",
    oracle=f"""
    WITH {_LSH_BITS_CTE},
    {_V_CTE},
    {_BANDS_CTE},
    sv AS (SELECT * FROM v WHERE vec_id < {EMB_AUDIT_N}),
    truth AS (
      SELECT x.vec_id AS d1, y.vec_id AS d2, {_EMB_COSINE_SQL} AS cosine
      FROM sv x JOIN sv y ON x.vec_id < y.vec_id
      WHERE {_EMB_COSINE_SQL} >= {E_RECALL_FLOOR}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
      FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.vec_id < b.vec_id
      WHERE a.vec_id < {EMB_AUDIT_N} AND b.vec_id < {EMB_AUDIT_N}
    )
    SELECT CAST(floor(t.cosine * 10) AS INTEGER) AS decile,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_found,
           CAST(SUM(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS recall
    FROM truth t
    LEFT JOIN cand c ON t.d1 = c.d1 AND t.d2 = c.d2
    GROUP BY 1
    """,
    tags=("similarity", "dedup", "lsh", "audit"),
)
def e_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical SRP-LSH recall by cosine decile — the embedding twin
    of ``t_lsh_recall_curve``.

    Ground truth is EXACT brute-force cosine over a bounded id-prefix
    audit sample ({EMB_AUDIT_N} vectors — the same bounded-sample
    license as ``N_QUERIES``; all-pairs truth is quadratic, so any
    real deployment audits a sample), computed in ONE blocked numpy
    Gram kernel whose per-pair fold reproduces the oracle expression
    bit-exactly. Candidates are the production banded SRP keys
    (derived ``bits`` from the FULL corpus size, exactly what
    ``t_embedding_neardup`` banding uses) restricted to the sample —
    a pair's band collision depends only on its two vectors' keys, so
    the restriction is lossless. Output: per-cosine-decile true-pair
    counts, band-found counts, recall — the measured number behind
    every "banding holds recall at threshold X" claim in this module,
    and the calibration input for ``SPLIT_COSINE``.
    """
    import numpy as np

    bits = _active_lsh_bits(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < EMB_AUDIT_N
    ).select("vec_id", "embedding", _norm(F.col("embedding")).alias("nrm"))
    # ground truth through the SHARED Gram kernel (_gram_pairs_fn —
    # the exact verify of _emb_neardup_pairs), run over the whole
    # audit sample as one bounded group
    truth = (
        emb.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(_gram_pairs_fn(E_RECALL_FLOOR), _PAIR_SCHEMA)
    )
    banded = _with_band_keys(
        emb.select("vec_id", "embedding"), spark, bits
    ).select("vec_id", F.explode("bkeys").alias("bkey"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("d1"), F.col("b.vec_id").alias("d2"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    j = truth.join(cand, ["d1", "d2"], "left")
    found = F.sum(F.coalesce("hit", F.lit(0)))
    return j.groupBy(
        F.floor(F.col("cosine") * 10).cast("int").alias("decile")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        found.cast("long").alias("n_found"),
        (found.cast("double") / F.count(F.lit(1))).alias("recall"),
    )


@query(
    "x_ensemble_dup_clusters",
    # nested WITH blocks scope each modality's CTE chain (both chains
    # define sh/bands/cand/pairs internally — the subquery scopes keep
    # them from colliding, and the outer `pairs` feeds CC_SQL_CTES)
    oracle=f"""
    WITH RECURSIVE
    lexp AS (
      WITH {_MINHASH_PAIRS_CTES}
      SELECT d1, d2 FROM pairs
    ),
    semp AS (
      WITH {_EMB_PAIRS_CTES}
      SELECT d1, d2 FROM pairs
    ),
    tagged AS (
      SELECT d1, d2, 'lex' AS modality FROM lexp
      UNION ALL
      SELECT d1, d2, 'sem' AS modality FROM semp
    ),
    pairs AS (SELECT DISTINCT d1, d2 FROM tagged),
    {CC_SQL_CTES},
    sizes AS (
      SELECT cluster_id, COUNT(*) AS n_docs FROM labels GROUP BY 1
    ),
    ec AS (
      SELECT l.cluster_id,
             CAST(SUM(CASE WHEN modality = 'lex' THEN 1 ELSE 0 END)
                  AS BIGINT) AS lex_edges,
             CAST(SUM(CASE WHEN modality = 'sem' THEN 1 ELSE 0 END)
                  AS BIGINT) AS sem_edges
      FROM tagged t JOIN labels l ON t.d1 = l.doc_id GROUP BY 1
    )
    SELECT cluster_id, n_docs, lex_edges, sem_edges
    FROM sizes JOIN ec USING (cluster_id)
    """,
    tags=("similarity", "textops", "dedup", "clustering", "ensemble"),
)
def x_ensemble_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENSEMBLE dedup clusters: lexical OR semantic evidence, one graph.

    Production dedup is rarely single-signal: a boilerplate page and
    its template siblings surface as MinHash near-dups, while a
    paraphrase or a re-encode surfaces only in embedding space. This
    operator unions the two verified pair graphs — MinHash-LSH text
    pairs (``t_minhash_lsh_dups``) and banded-SRP cosine pairs
    (``t_embedding_neardup``), joined on the shared asset id
    (doc_id = vec_id, the ``m_doc_embedding_join`` layout) — and takes
    connected components over the union, so transitive cross-modal
    chains (A~B lexically, B~C semantically ⇒ {{A,B,C}} one cluster)
    collapse the way a keep-one policy needs them to. Output audits
    each cluster: member count and how many verified edges each
    modality contributed (a cluster with lex_edges = 0 was INVISIBLE
    to text dedup — the semantic-only catch this ensemble exists for,
    and vice versa).

    Scale shape: both pair generators keep their own banded, verified,
    skew-guarded shapes (their docstrings); the union and CC run on
    PAIR sets (tiny relative to the corpus), and the per-cluster edge
    rollup is one map-side-combined aggregate keyed by the d1-side
    label join. Nothing new shuffles at corpus width.
    """
    from concurrent.futures import ThreadPoolExecutor

    from flink_spark.plans.textops import _minhash_pairs

    # the two pair generators are independent subplans, each with its
    # own plan-build barriers (shingle/band materializations, probe
    # jobs) — build them concurrently so one side's scalar jobs fill
    # the cores the other side's barrier just freed (guide §2.6)
    with ThreadPoolExecutor(max_workers=2) as pool:
        lex_f = pool.submit(
            lambda: _minhash_pairs(spark, sf_dir).select("d1", "d2")
        )
        sem_f = pool.submit(
            lambda: _emb_neardup_pairs(spark, sf_dir).select("d1", "d2")
        )
        lex = lex_f.result().withColumn("modality", F.lit("lex"))
        sem = sem_f.result().withColumn("modality", F.lit("sem"))
    # lazy barriers (r15): edges' first consumer (CC's quotient probe)
    # fully scans it and, through the distinct, tagged as well — the
    # two dedicated eager jobs were fixed cost
    tagged = track_persist(lex.unionByName(sem), eager=False)
    edges = track_persist(tagged.select("d1", "d2").distinct(), eager=False)
    labels = connected_components(edges)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    ec = (
        tagged.join(
            labels.withColumnRenamed("doc_id", "d1").withColumnRenamed(
                "cluster_id", "_cl"
            ),
            "d1",
        )
        .groupBy(F.col("_cl").alias("cluster_id"))
        .agg(
            F.sum(F.when(F.col("modality") == "lex", 1).otherwise(0))
            .cast("long").alias("lex_edges"),
            F.sum(F.when(F.col("modality") == "sem", 1).otherwise(0))
            .cast("long").alias("sem_edges"),
        )
    )
    return sizes.join(ec, "cluster_id").select(
        "cluster_id", "n_docs", "lex_edges", "sem_edges"
    )


# --------------------------------------------------------------------------
# Cross-modal pair agreement (threshold-calibration audit)
# --------------------------------------------------------------------------

@query(
    "x_modality_agreement",
    oracle=f"""
    WITH
    lexp AS (
      WITH {_MINHASH_PAIRS_CTES}
      SELECT d1, d2 FROM pairs
    ),
    semp AS (
      WITH {_EMB_PAIRS_CTES}
      SELECT d1, d2 FROM pairs
    ),
    j AS (
      SELECT l.d1 IS NOT NULL AS in_lex, s.d1 IS NOT NULL AS in_sem
      FROM lexp l FULL OUTER JOIN semp s
        ON l.d1 = s.d1 AND l.d2 = s.d2
    )
    SELECT CASE WHEN in_lex AND in_sem THEN 'both'
                WHEN in_lex THEN 'lex_only'
                ELSE 'sem_only' END AS agreement,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM j GROUP BY 1
    """,
    tags=("similarity", "textops", "dedup", "ensemble", "audit"),
)
def x_modality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level agreement between the lexical and semantic near-dup
    detectors: both / lex_only / sem_only counts at the production
    thresholds.

    The calibration companion of ``x_ensemble_dup_clusters`` (which
    UNIONS the two graphs): before trusting an ensemble — or choosing
    to run only one modality at 100 TB — an operator needs the overlap
    NUMBERS: how much of the lexical evidence the semantic detector
    reproduces (sem as a cheaper proxy for lex?) and how much is
    modality-exclusive (the pairs only the ensemble catches). Both
    pair sets are the exact verified production chains (banded
    candidates, pair-keyed / exact-cosine verify, doc_id ≡ vec_id as
    in the ensemble); the audit adds ONE full-outer equi-join of two
    pair tables on their compound key — no fan-out possible — and a
    3-row rollup.
    """
    from concurrent.futures import ThreadPoolExecutor

    from flink_spark.plans.textops import _minhash_pairs

    # independent generators, concurrent plan builds (guide §2.6 —
    # same overlap as x_ensemble_dup_clusters)
    with ThreadPoolExecutor(max_workers=2) as pool:
        lex_f = pool.submit(
            lambda: _minhash_pairs(spark, sf_dir).select("d1", "d2")
        )
        sem_f = pool.submit(
            lambda: _emb_neardup_pairs(spark, sf_dir).select(
                F.col("d1").alias("s1"), F.col("d2").alias("s2")
            )
        )
        lex, sem = lex_f.result(), sem_f.result()
    j = lex.join(
        sem, (lex.d1 == sem.s1) & (lex.d2 == sem.s2), "full_outer"
    ).select(
        F.col("d1").isNotNull().alias("in_lex"),
        F.col("s1").isNotNull().alias("in_sem"),
    )
    return j.groupBy(
        F.when(F.col("in_lex") & F.col("in_sem"), "both")
        .when(F.col("in_lex"), "lex_only")
        .otherwise("sem_only").alias("agreement")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


@query(
    "x_ensemble_training_pipeline",
    oracle=_pipeline_oracle(_EMB_PAIRS_CTES),
    tags=("textops", "similarity", "pipeline", "ensemble"),
)
def x_ensemble_training_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The flagship training pipeline with an ENSEMBLE dedup/split
    stage — ``x_modality_agreement``'s finding, fed back into the
    pipeline it indicts (r11 item #6).

    The agreement audit measured ZERO pair overlap between the
    lexical (MinHash) and semantic (banded-SRP cosine) near-dup
    detectors at production thresholds: every semantic dup is a dup
    ``t_training_pipeline``'s lexical-only stage provably misses —
    paraphrases, re-encodes, template-free mirrors. This variant
    swaps the pipeline's verified pair graph for the UNION of the
    two (semantic pairs restricted to the exact-canonical quality
    survivors the lexical stage operates on), so the near-dedup DROP
    set, the connected components, and the leakage-safe split key
    all see cross-modal evidence; transitive cross-modal chains
    (A~B lexically, B~C semantically) land on one side of the
    train/val split, which is the leakage the lexical-only split
    cannot prevent. Same 13-column funnel output, so the two
    pipelines diff stage-by-stage.

    Decision on file (SCALING.md §R12): the ensemble ships as this
    separate catalog MODE, not as the flagship default — it requires
    a corpus-wide embedding table the text-only flagship contract
    does not assume, and its funnel legitimately differs wherever
    embeddings exist (costing + adoption guidance in SCALING.md).
    Scale shape: inherits both generators' banded/verified/
    skew-guarded shapes; the union adds one distinct on a pair set
    (tiny vs corpus); everything downstream is unchanged.
    """
    return _training_pipeline_df(spark, sf_dir, ensemble=True)


@query(
    "e_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_emb_pairs_ctes(SPLIT_COSINE)},
    {CC_SQL_CTES},
    grp AS (
      SELECT e.label, e.vec_id,
             COALESCE(l.cluster_id, e.vec_id) AS gkey,
             l.cluster_id IS NOT NULL AS in_cluster
      FROM embeddings e LEFT JOIN labels l ON e.vec_id = l.doc_id
    ),
    tagged AS (
      SELECT label, vec_id, in_cluster,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(gkey AS VARCHAR)),
                                   1, 4)) AS BIGINT) % 100 < {TRAIN_PCT}
                  THEN 'train' ELSE 'val' END AS split
      FROM grp
    )
    SELECT label, split, COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN in_cluster THEN 1 ELSE 0 END) AS BIGINT)
             AS clustered_vecs,
           CAST(SUM(vec_id) AS BIGINT) AS id_sum
    FROM tagged GROUP BY label, split
    """,
    tags=("similarity", "split", "dedup", "clustering"),
)
def e_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val split that SEMANTIC-dup clusters cannot straddle.

    The embedding-modality twin of ``t_leakage_safe_split``
    (``plans.textops``): per-vector hash splitting lets two
    cosine-near-duplicate vectors (a paraphrase pair, a re-encode of
    the same image) land on opposite sides of the train/val boundary —
    semantic contamination an eval-integrity audit looks for. Split
    assignment is keyed by the connected-component label over the
    verified banded-SRP cosine pair graph (own vec_id for vectors with
    no near-dup), so every semantic cluster lands whole in one split,
    deterministically (md5 of the group key — reproducible anywhere,
    no stored seed). Output audits per-(label, split): vector counts,
    how many were cluster-assigned, and an id-sum pinning the exact
    membership in the oracle compare. The clustering is the cost and
    is shared with ``e_dup_clusters``; the split itself is a row-local
    left join + map + one map-side-combined aggregate.

    Clustering threshold: ``SPLIT_COSINE``, equal to the dedup
    threshold but a separate constant — split assignment may cluster
    at a lower cosine than removal (see ``t_leakage_safe_split_loose``
    for the exercised loose-threshold twin on the text modality).
    """
    pairs = track_persist(
        _emb_neardup_pairs(spark, sf_dir, SPLIT_COSINE).select("d1", "d2"),
        eager=False,  # CC's first convergence action fully scans it
    )
    labels = connected_components(pairs)
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    grp = emb.join(
        labels.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left"
    ).select(
        "label",
        "vec_id",
        F.coalesce("cluster_id", "vec_id").alias("gkey"),
        F.col("cluster_id").isNotNull().alias("in_cluster"),
    )
    tagged = grp.select(
        "label",
        "vec_id",
        "in_cluster",
        F.when(split_bucket_col(F.col("gkey")) < TRAIN_PCT, "train")
        .otherwise("val").alias("split"),
    )
    return tagged.groupBy("label", "split").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("in_cluster").cast("long")).cast("long")
        .alias("clustered_vecs"),
        F.sum("vec_id").cast("long").alias("id_sum"),
    )


@query(
    "m_decode_features",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform(range(1, length(text) + 1),
                              i -> ord(substring(text, i, 1)))) AS DOUBLE)
                     / octet_length(encode(text)) END AS byte_mean,
           CAST(CASE WHEN length(text) = 0 THEN -1
                     ELSE ord(substring(text, 1, 1)) END AS INTEGER) AS first_byte,
           source
    FROM documents
    """,
    tags=("similarity", "multimodal", "pandas-udf"),
)
def m_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched multimodal decode/feature-extract (mapInPandas).

    The decode stage of an image/audio pipeline: binary payload →
    fixed-width feature vector, executed as a vectorized Pandas stage
    (Arrow batch transfer, never row-at-a-time). Real decoders (PIL,
    torchaudio, ffmpeg) are not in this container, so ``_fake_decode``
    is a clearly-marked deterministic stand-in over the raw bytes; the
    Spark-side plumbing — schema contract, batch iteration, partition
    parallelism — is exactly what a real decoder plugs into.

    Fully oracle-checked despite the Python stage: the ASCII fixture
    payloads make the byte statistics SQL-expressible (per-char ord
    fold in DuckDB equals the numpy reduceat over bytes, and integer
    sums divide to identical float64s), so the Arrow path gets a
    value-level check. A real (non-reproducible) decoder would drop
    back to the rows-only check + pytest value pins.
    """
    import pandas as pd  # noqa: PLC0415 — worker-side import pattern

    docs = load(spark, sf_dir, "documents")
    assets = docs.select(
        "doc_id", F.col("text").cast("binary").alias("payload"), "source"
    )

    def _fake_decode(batches):
        # STUB: deterministic stand-in for a media decoder. A real
        # implementation would decode payload bytes (image/audio) and
        # emit model features; this computes byte-level statistics so
        # the full Arrow path is exercised end-to-end. Decoding is
        # vectorized over the concatenated batch bytes (np.frombuffer
        # + reduceat) — the shape a real decoder kernel would take,
        # not a per-row Python loop.
        import numpy as np

        for pdf in batches:
            lens = pdf["payload"].map(len).to_numpy(dtype="int64")
            blob = np.frombuffer(b"".join(pdf["payload"]), dtype=np.uint8)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            nonempty = lens > 0
            sums = np.zeros(len(lens))
            if blob.size:
                # consecutive non-empty starts are strictly increasing,
                # so each reduceat span is exactly one payload's bytes
                seg = np.add.reduceat(blob.astype("int64"),
                                      starts[nonempty])
                sums[nonempty] = seg
                first = np.where(
                    nonempty,
                    blob[np.minimum(starts, blob.size - 1)].astype("int64"),
                    -1,
                )
            else:
                first = np.full(len(lens), -1, dtype="int64")
            feats = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": lens,
                    "byte_mean": np.where(nonempty, sums / np.maximum(lens, 1), 0.0),
                    "first_byte": first.astype("int32"),
                    "source": pdf["source"],
                }
            )
            yield feats

    schema = "doc_id long, n_bytes long, byte_mean double, first_byte int, source string"
    return assets.mapInPandas(_fake_decode, schema=schema)


# frame sampling geometry: 64-byte "frames", every 4th sampled, max 8
FRAME_BYTES = 64
FRAME_STRIDE = 4
MAX_FRAMES = 8


@query(
    "m_frame_sample",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
    )
    SELECT doc_id,
           k AS frame_idx,
           k * {FRAME_STRIDE * FRAME_BYTES} AS byte_offset,
           md5(substring(text, k * {FRAME_STRIDE * FRAME_BYTES} + 1,
                         {FRAME_BYTES})) AS frame_md5
    FROM p, generate_series(0, {MAX_FRAMES - 1}) AS g(k)
    WHERE k * {FRAME_STRIDE * FRAME_BYTES} + {FRAME_BYTES} <= n
    """,
    tags=("similarity", "multimodal", "pandas-udf"),
)
def m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary assets — oracle-checked mapInPandas.

    The frame-extraction stage of a video/audio pipeline: each binary
    payload yields every ``FRAME_STRIDE``-th fixed-width frame (up to
    ``MAX_FRAMES``), one output row per sampled frame with its offset
    and content fingerprint — the 1→N row shape a real keyframe
    sampler produces. Runs as an Arrow-batched ``mapInPandas`` stage
    (slicing + hashing in Python, the plumbing a real ffmpeg/PIL
    kernel plugs into), yet is fully DuckDB-oracle-checked: the
    fixture payloads are pure ASCII (octet_length == length for every
    doc — pinned by ``tests/test_multimodal.py::test_fixture_payloads_ascii``),
    so byte slices equal character
    slices and ``hashlib.md5`` of the slice equals SQL ``md5``. At
    scale: row-local (no shuffle), output partitioning inherits the
    input, frame volume is bounded per asset.
    """
    import hashlib as _hl

    import pandas as pd  # noqa: PLC0415 — worker-side import pattern

    docs = load(spark, sf_dir, "documents")
    assets = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))

    step = FRAME_STRIDE * FRAME_BYTES

    def _sample(batches):
        for pdf in batches:
            ids, idxs, offs, fps = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for k in range(MAX_FRAMES):
                    off = k * step
                    if off + FRAME_BYTES > len(b):
                        break
                    ids.append(doc_id)
                    idxs.append(k)
                    offs.append(off)
                    fps.append(_hl.md5(b[off:off + FRAME_BYTES]).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "byte_offset": pd.Series(offs, dtype="int64"),
                    "frame_md5": pd.Series(fps, dtype="object"),
                }
            )

    schema = "doc_id long, frame_idx long, byte_offset long, frame_md5 string"
    return assets.mapInPandas(_sample, schema=schema)


RESIZE_STRIDE = 4  # keep every 4th byte — the downsample ratio


@query(
    "m_resize_bytes",
    oracle=f"""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CAST(len(range(1, length(text) + 1, {RESIZE_STRIDE})) AS BIGINT)
               AS resized_bytes,
           md5(array_to_string(
                 list_transform(range(1, length(text) + 1, {RESIZE_STRIDE}),
                                i -> substring(text, i, 1)), '')) AS resized_md5
    FROM documents
    """,
    tags=("similarity", "multimodal", "pandas-udf"),
)
def m_resize_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample ("resize") binary assets — oracle-checked mapInPandas.

    The resize stage of an image pipeline: each payload is reduced by
    keeping every ``RESIZE_STRIDE``-th byte (the stand-in for bilinear
    downsampling; no image libs in this container) and fingerprinted.
    Same contract as ``m_frame_sample``: Arrow-batched Python slicing,
    but the ASCII fixture payloads make the output reproducible in SQL,
    so the driver gets a full value-level oracle on the 1→1 resize
    shape (vs the 1→N frame-sample shape). Row-local — no shuffle, no
    skew, output size n/stride per asset.
    """
    import hashlib as _hl

    import pandas as pd  # noqa: PLC0415 — worker-side import pattern

    docs = load(spark, sf_dir, "documents")
    assets = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))

    def _resize(batches):
        for pdf in batches:
            rows = [
                (
                    doc_id,
                    len(b),
                    len(b[::RESIZE_STRIDE]),
                    _hl.md5(b[::RESIZE_STRIDE]).hexdigest(),
                )
                for doc_id, b in (
                    (d, bytes(p)) for d, p in zip(pdf["doc_id"], pdf["payload"])
                )
            ]
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_bytes", "resized_bytes", "resized_md5"]
            )

    schema = "doc_id long, n_bytes long, resized_bytes long, resized_md5 string"
    return assets.mapInPandas(_resize, schema=schema)


# --------------------------------------------------------------------------
# IVF-flat ANN (coarse quantizer + probed cells) — the other scale path
# --------------------------------------------------------------------------

# Cell count is IVF's corpus-size knob: per-query candidate volume is
# probes × (n_vectors / cells). By default the FAISS rule of thumb
# (cells ≈ sqrt(n)) is COMPUTED from a cheap corpus count — Spark at
# plan-build time, the oracle in a COUNT(*) CTE with md5-generated
# centroid directions — so per-cell lists stay executor-sized with no
# tuning. FLINK_SPARK_IVF_CELLS pins a fixed cell count on both sides.
_IVF_CELLS_ENV = os.environ.get("FLINK_SPARK_IVF_CELLS")
IVF_CELLS = int(_IVF_CELLS_ENV) if _IVF_CELLS_ENV else 8  # fixed-mode count
IVF_MIN_CELLS, IVF_MAX_CELLS = 8, 4096
# nprobe — the IVF recall/latency dial. Round 11 measured the old
# fixed default (2) as a recall cliff built into the geometry: cells
# track sqrt(n), so fixed probes shrink the scanned fraction — and
# recall — as the corpus grows (recall@3 0.43 at sf0.01 defaults,
# 0.00 at 500k; SCALING.md §R11). Round 12 applies the 8-band SRP
# playbook to this dial: by default probes are DERIVED from the cell
# count to hold the scanned fraction at ~1/IVF_SCAN_DENOM of the
# corpus (probes ≈ cells/8 → ~12.5%, an ~8× saving over brute force at
# any scale), priced at 500k in SCALING.md §R12. On the adversarial
# decade replica recall rises roughly linearly with the fraction
# (locality-free worst case); on corpora with neighbor structure the
# same fraction buys far more. FLINK_SPARK_IVF_PROBES pins a fixed
# count on both sides (the oracle re-derives the active value either
# way); IVF_PROBES stays exported as the fixed-mode value for direct
# kernel callers.
_IVF_PROBES_ENV = os.environ.get("FLINK_SPARK_IVF_PROBES")
IVF_PROBES = int(_IVF_PROBES_ENV) if _IVF_PROBES_ENV else 2  # fixed-mode
IVF_SCAN_DENOM = 8


def ivf_cells_for(n: int) -> int:
    """cells ≈ sqrt(n) (FAISS heuristic), clamped to [8, 4096]."""
    return min(IVF_MAX_CELLS, max(IVF_MIN_CELLS, math.ceil(math.sqrt(max(n, 1)))))


def ivf_probes_for(cells: int) -> int:
    """probes ≈ cells/IVF_SCAN_DENOM (scanned fraction held ~constant),
    floored at the old default 2, capped at the cell count."""
    return max(2, min(cells, math.ceil(cells / IVF_SCAN_DENOM)))


def _active_ivf_cells(spark: SparkSession, sf_dir: str) -> int:
    if _IVF_CELLS_ENV:
        return int(_IVF_CELLS_ENV)
    return ivf_cells_for(table_rows(spark, sf_dir, "embeddings"))


def _active_ivf_probes(spark: SparkSession, sf_dir: str) -> int:
    """Env-pinned probe count, or the scanned-fraction rule over the
    active cell count (itself env-pinnable — probes then follow the
    pinned geometry)."""
    if _IVF_PROBES_ENV:
        return int(_IVF_PROBES_ENV)
    return ivf_probes_for(_active_ivf_cells(spark, sf_dir))


if _IVF_CELLS_ENV:
    _IVF_CELLS_CTE = f"nc(cells) AS (SELECT {int(_IVF_CELLS_ENV)})"
else:
    _IVF_CELLS_CTE = (
        f"nc(cells) AS (SELECT LEAST({IVF_MAX_CELLS}, GREATEST({IVF_MIN_CELLS}, "
        "CAST(ceil(sqrt(COUNT(*))) AS INTEGER))) FROM embeddings)"
    )

# SQL twin of _active_ivf_probes, chained after nc so a pinned cell
# count flows through the derived rule exactly as on the Spark side.
if _IVF_PROBES_ENV:
    _IVF_PROBES_CTE = f"np(probes) AS (SELECT {int(_IVF_PROBES_ENV)})"
else:
    _IVF_PROBES_CTE = (
        "np(probes) AS (SELECT GREATEST(2, LEAST(cells, "
        f"CAST(ceil(cells / {IVF_SCAN_DENOM}.0) AS INTEGER))) FROM nc)"
    )


@functools.lru_cache(maxsize=None)
def _centroid(k: int) -> tuple[int, ...]:
    """Coarse 'centroid' k as a ±1 direction, md5-derived (deterministic)."""
    out = []
    for i in range(DIM):
        h = hashlib.md5(f"ivf{k}:{i}".encode()).hexdigest()
        out.append(1 if int(h[0], 16) >= 8 else -1)
    return tuple(out)


# SQL twin of _centroid: sign of direction k-1, dimension i-1 (k and i
# are 1-based range() variables in the enclosing list_transform)
_CENT_SIGN_SQL = (
    "(CASE WHEN substring(md5('ivf' || CAST(k - 1 AS VARCHAR) || ':' || "
    "CAST(i - 1 AS VARCHAR)), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END)"
)


def _cell_scores_sql(a: str) -> str:
    """Per-cell projection scores of ``a`` onto the first nc.cells
    md5 directions → DOUBLE[cells]."""
    return (
        "list_transform(range(1, cells + 1), k -> "
        f"list_reduce(list_transform(range(1, {DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * {_CENT_SIGN_SQL}), (x, y) -> x + y))"
    )


def _with_probe_cells(
    df: DataFrame, spark: SparkSession, cells: int, probes: int,
    cents=None,
) -> DataFrame:
    """Add ``topc`` = the ``probes`` best cell indices (1-based, score
    descending, first-index tiebreak) of ``embedding``.

    Arrow-batched ``mapInPandas`` against the full centroid matrix —
    the one dense-linear-algebra kernel in the catalog (scores =
    E · Cᵀ, the IVF assignment step), and the place where JVM
    expressions stop being the right tool once the cell count tracks
    √n (``ivf_cells_for``). Measured at sf0.1 (142 cells) / the 100×
    corpus (200k vectors, 448 cells):

    - one inlined projection expression PER CELL plants cells × DIM
      literal nodes in the plan; analysis/codegen cost lands on the
      DRIVER and grows with the corpus — 18.7 s at sf0.1, unusable
      at 10×;
    - one higher-order ``transform``+``aggregate`` expression is
      interpreted per ELEMENT (n × cells × DIM lambda calls) — ~21 s
      at sf0.1;
    - the numpy kernel emitting full score arrays still paid ~16 s
      at 100× shipping cells-wide Arrow columns back and
      struct-argsorting them in an interpreted JVM expression.

    Hence this form: the matrix rides in the task closure, the argsort
    happens INSIDE the kernel, and only ``probes`` small ints leave
    it. ``cents`` overrides the md5 directions with an explicit
    (cells × DIM) matrix — a TRAINED quantizer (``ivf_train``) drops
    in without changing the dataflow, exactly as the IVF docstrings
    promise.

    Bit-exactness with the DuckDB oracle: the matmul runs as a
    SEQUENTIAL per-dimension accumulation (``acc += E[:, i] * C[:,
    i]``) so every score experiences the exact left-fold add order of
    ``_dot``/``list_reduce`` in IEEE double (numpy's own ``@``/``dot``
    would pairwise-sum and drift ulps); float32 → float64 widening is
    exact, matching ``CAST(e[i] AS DOUBLE)``; ``np.argsort`` is
    comparison-only over those bit-exact scores, and ``kind='stable'``
    gives the same first-index tiebreak as the oracle's
    ``(-score, index)`` struct sort. Assignment and probing stay
    hash-identical at any scale (verified at sf0.001/sf0.01).
    """
    import numpy as np

    if cents is None:
        cents = np.array(
            [[float(s) for s in _centroid(k)] for k in range(cells)]
        )  # (cells, DIM)
    else:
        cents = np.asarray(cents, dtype=np.float64)
        assert cents.shape == (cells, DIM), cents.shape
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("topc", T.ArrayType(T.IntegerType()))]
    )

    def fn(batches):
        import numpy as np

        # row-blocked with IN-PLACE accumulation: the working set is
        # block × cells doubles (~22 MB at the 4096-cell cap), not
        # batch × cells × live-temps — at 2M vectors / 1415 cells the
        # unblocked `acc = acc + ...` form churned ~350 MB per worker
        # per batch and OOM-crashed the Python workers. `+=` adds the
        # same products in the same order, so scores stay bit-exact.
        # Layout + selection tuned on the 2M-vector corpus (all
        # bit-exactness-preserving):
        # - E in FORTRAN order and the centroid matrix TRANSPOSED, so
        #   both fold operands are contiguous (the strided column
        #   views were gather-bound: 40 s -> 21 s per 125k rows);
        # - row blocks bound the working set (the unblocked form
        #   OOM-crashed Python workers at 1415 cells);
        # - top-probes via repeated masked argmax instead of a full
        #   argsort: np.argmax returns the FIRST maximal index, which
        #   IS the oracle's (-score, index) tiebreak, and probes
        #   passes cost O(cells) each vs the sort's O(cells log cells)
        #   (11.5 s -> 0.7 s per 125k rows).
        # Per (row, cell) the adds still run in ascending-dimension
        # order — scores identical to the expression fold, bit for bit.
        RB = 512
        ncell, ndim = cents.shape
        CT = np.ascontiguousarray(cents.T)  # ndim x ncell
        acc = np.empty((RB, ncell))
        tmp = np.empty((RB, ncell))
        npro = min(probes, ncell)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            EF = np.asfortranarray(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            )
            out = np.empty((n, npro), dtype=np.int32)
            for r0 in range(0, n, RB):
                r1 = min(r0 + RB, n)
                b = r1 - r0
                acc[:b] = 0.0
                for i in range(ndim):
                    np.multiply(EF[r0:r1, i][:, None], CT[i], out=tmp[:b])
                    acc[:b] += tmp[:b]
                rows = np.arange(b)
                for p in range(npro):
                    j = np.argmax(acc[:b], axis=1)
                    out[r0:r1, p] = j + 1
                    acc[rows, j] = -np.inf
            pdf = pdf.copy()
            pdf["topc"] = list(out)
            yield pdf

    return df.mapInPandas(fn, out_schema)


def _with_band_keys(df: DataFrame, spark: SparkSession, bits: int) -> DataFrame:
    """Add ``bkeys`` = the ``LSH_BANDS`` SRP band keys of ``embedding``
    (the numpy-kernel twin of the ``_band_keys`` expression).

    Band keys are LSH_BANDS × bits plane projections per vector; the
    expression form pays an interpreted ``aggregate`` fold per plane
    (at 2M vectors / 14 bits: 112M folds × 64 dims ≈ 45 s of the
    1000×-corpus near-dup run). Same discipline as
    ``_with_probe_cells``: projections as a sequential per-dimension
    accumulation against the contiguous ±1 plane matrix (bit-exact
    left-fold scores), then the sign test and bit packing — integer
    ops on bit-exact signs, so keys match the expression and the
    oracle exactly (pinned by the kernel property test).
    """
    import numpy as np

    planes = np.ascontiguousarray(np.array(
        [[float(v) for v in _signs(p)] for p in range(LSH_BANDS * bits)]
    ).T)  # DIM x nplanes, contiguous rows
    weights = (np.arange(LSH_BANDS * bits) % bits)
    weights = (1 << weights.astype(np.int64))
    band_of = np.arange(LSH_BANDS * bits) // bits
    offsets = (band_of.astype(np.int64) << bits)
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("bkeys", T.ArrayType(T.LongType()))]
    )

    def fn(batches):
        import numpy as np

        nplanes = planes.shape[1]
        RB = 2048
        acc = np.empty((RB, nplanes))
        tmp = np.empty((RB, nplanes))
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            EF = np.asfortranarray(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            )
            keys = np.empty((n, LSH_BANDS), dtype=np.int64)
            for r0 in range(0, n, RB):
                r1 = min(r0 + RB, n)
                b = r1 - r0
                acc[:b] = 0.0
                for i in range(EF.shape[1]):
                    np.multiply(EF[r0:r1, i][:, None], planes[i], out=tmp[:b])
                    acc[:b] += tmp[:b]
                bitvals = (acc[:b] >= 0) * weights  # (b, nplanes) int64
                for t in range(LSH_BANDS):
                    sl = slice(t * bits, (t + 1) * bits)
                    keys[r0:r1, t] = bitvals[:, sl].sum(axis=1) + (t << bits)
            pdf = pdf.copy()
            pdf["bkeys"] = list(keys)
            yield pdf

    return df.mapInPandas(fn, out_schema)


def _pair_cosines_pandas(pairs: DataFrame) -> DataFrame:
    """Add ``cosine`` = cos(embedding1, embedding2) to a pair frame.

    The candidate-verification hot loop: within-bucket/within-cell
    pair volume grows ~n^1.5 (SemDeDup) so the per-pair fold is the
    cost center at scale — and ``F.aggregate``/``zip_with`` lambdas
    are interpreted per ELEMENT (measured: 44.6M pairs × 64 dims ≈
    40 s of the 100×-corpus SemDeDup run). Same sequential-fold numpy
    kernel: ``acc += A[:, i] * B[:, i]`` reproduces the ``_dot`` /
    ``list_reduce`` left-fold bit-exactly, and the final divide by
    ``nrm1*nrm2`` is a single IEEE op in both engines. Input needs
    columns embedding1/embedding2/nrm1/nrm2; they are consumed (the
    output drops them — downstream wants ids + cosine).
    """
    keep = [
        f for f in pairs.schema.fields
        if f.name not in ("embedding1", "embedding2", "nrm1", "nrm2")
    ]
    out_schema = T.StructType(keep + [T.StructField("cosine", T.DoubleType())])
    keep_names = [f.name for f in keep]

    def fn(batches):
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            A = np.stack(pdf["embedding1"].to_numpy()).astype(np.float64)
            B = np.stack(pdf["embedding2"].to_numpy()).astype(np.float64)
            acc = np.zeros(n)
            for i in range(A.shape[1]):
                acc += A[:, i] * B[:, i]
            out = pdf[keep_names].copy()
            out["cosine"] = acc / (
                pdf["nrm1"].to_numpy() * pdf["nrm2"].to_numpy()
            )
            yield out

    return pairs.mapInPandas(fn, out_schema)


# module constant: the end-to-end recall audit composes this oracle
# verbatim as its probed side. Top-probes cell indices by struct
# argsort: (-score, index) ascending ≡ score descending with
# first-index tiebreak — the same pair both engines compute, so
# probing is oracle-identical at ANY probe count (the -1e300-masking
# trick this replaces only expressed probes=2).
_IVF_TOPK_ORACLE = f"""
    WITH {_IVF_CELLS_CTE},
    {_IVF_PROBES_CTE},
    scored AS (
      SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm,
             {_cell_scores_sql('embedding')} AS d, cells, probes
      FROM embeddings, nc, np
    ),
    cellassign AS (
      SELECT *, list_transform(list_slice(list_sort(
                  list_transform(range(1, cells + 1),
                                 j -> {{'nv': -d[j], 'i': j}})),
                1, probes), x -> x.i) AS topc
      FROM scored
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, unnest(topc) AS cell
      FROM cellassign WHERE vec_id < {N_QUERIES}
    ),
    n AS (SELECT vec_id AS neighbor_id, embedding AS ne, nrm AS nn,
                 topc[1] AS cell
          FROM cellassign),
    pairs AS (
      SELECT query_id, neighbor_id, {_COSINE_SQL} AS cosine
      FROM q JOIN n USING (cell) WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rnk FROM pairs)
    WHERE rnk <= {LSH_TOPK}
    """


@query(
    "e_ann_ivf_topk",
    oracle=_IVF_TOPK_ORACLE,
    tags=("similarity", "ann", "ivf"),
)
def e_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: coarse quantizer cells, query probes the nearest
    ``ivf_probes_for(cells)`` cells (≈ cells/8, holding the scanned
    fraction constant as the corpus grows; env knob
    ``FLINK_SPARK_IVF_PROBES`` pins a fixed count).

    The inverted-file structure of FAISS-style IVF indexes: every
    vector is assigned to the cell whose coarse direction scores
    highest (argmax dot, first-index tiebreak); a query searches only
    the vectors in its top-probes cells — THE recall/latency dial of
    IVF (FAISS ``nprobe``). Directions here are md5-derived ±1
    vectors so the oracle reproduces assignment exactly (trained
    k-means centroids drop in without changing the dataflow: a
    broadcast cell table + the same probed join). Candidate volume is
    |Q| x probes x (N / cells) — the cell count tracks sqrt(n) by
    default (``ivf_cells_for``) and probes track cells/8
    (``ivf_probes_for``, the r12 scanned-fraction rule — both
    computed from a cheap count on both the Spark and oracle sides),
    which keeps per-cell lists executor-sized AND recall
    scale-stable at 100 TB with no manual tuning.
    """
    return ivf_topk(spark, sf_dir)


def ivf_topk(
    spark: SparkSession, sf_dir: str, cents=None,
    cells: int | None = None, probes: int | None = None,
    probed: DataFrame | None = None,
) -> DataFrame:
    """The IVF-flat search kernel behind ``e_ann_ivf_topk``, with the
    quantizer injectable: ``cents`` = a (cells × DIM) trained centroid
    matrix (``ivf_train``) — the engine-feature path; None = the
    md5-derived directions the DuckDB oracle can reproduce (the
    catalog default). Identical dataflow either way: assignment via
    ``_with_probe_cells``, one broadcast-query probed cell join, one
    per-query top-k window — which is the point (a trained quantizer
    changes WHERE mass lands, not the plan).

    ``probed`` (r15): a pre-annotated corpus carrying at least
    (vec_id, embedding, nrm, topc) — the variant scoreboard passes its
    shared checkpointed annotation so the assignment kernel runs once
    per scoreboard instead of once per leg (guide §2.4: remove
    duplicated work outright). The kernel is row-wise, so the shared
    frame's values are identical to a private pass."""
    if probed is None:
        emb = load(spark, sf_dir, "embeddings")
        n_cells = (cells if cells is not None
                   else _active_ivf_cells(spark, sf_dir))
        probed = _with_probe_cells(
            emb.select(
                "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
            ),
            spark, n_cells,
            probes if probes is not None else _active_ivf_probes(spark, sf_dir),
            cents=cents,
        )
    q = (
        probed.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
            F.col("nrm").alias("qn"),
            F.explode("topc").alias("cell"),
        )
    )
    n = probed.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"),
        F.col("nrm").alias("nn"), F.element_at("topc", 1).alias("cell"),
    )
    pairs = (
        n.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cosine_spark().alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= LSH_TOPK)
        .select("query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"),
                "cosine")
    )


# --------------------------------------------------------------------------
# End-to-end ANN recall audit: IVF vs exact, per query
# --------------------------------------------------------------------------

@query(
    "e_ann_recall_audit",
    # compose the two audited queries' oracle constants verbatim
    # (nested WITH scopes) — the audit's ground truth IS their outputs
    oracle=f"""
    WITH ex AS ({_EXACT_TOPK_ORACLE}),
    iv AS ({_IVF_TOPK_ORACLE})
    SELECT e.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS hits,
           CAST(COUNT(i.neighbor_id) AS DOUBLE) / {LSH_TOPK} AS recall
    FROM (SELECT * FROM ex
          WHERE rnk <= {LSH_TOPK}{_recall_sample_sql()}) e
    LEFT JOIN iv i ON e.query_id = i.query_id
                  AND e.neighbor_id = i.neighbor_id
    GROUP BY 1
    """,
    tags=("similarity", "ann", "audit"),
)
def e_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@{LSH_TOPK} of the IVF path against exact truth.

    The end-to-end companion of the candidate-level recall curves
    (``t_lsh_recall_curve`` / ``e_lsh_recall_curve``): those measure
    how many TRUE PAIRS the banding surfaces; this measures what the
    user of an ANN index actually experiences — of the exact top-k
    (brute-force cosine, the ``e_cosine_topk`` truth), how many does
    the probed IVF search return, per query. Until now this number
    lived only in pytest (``tests/test_ann_recall.py`` floors); as a
    catalog query it is driver-value-checked every snapshot and runs
    at any sf_dir, which is what an index operator monitoring a
    production rollout needs. Recall is an exact integer ratio
    (hits / k), so the oracle compare is bit-exact. Respects
    ``FLINK_SPARK_RECALL_SAMPLE`` (one row per sampled query) like
    the variant scoreboard — see the knob comment at
    ``recall_sample_ids``.

    Plan shape: composes the two queries it audits — the exact side
    is the one deliberate brute-force scan in the catalog (the truth
    baseline; audit-bounded by N_QUERIES), the IVF side probes cells;
    the audit itself adds one (query_id, neighbor_id) equi-join of
    two k-row-per-query frames and a map-side count.
    """
    exact = e_cosine_topk(spark, sf_dir).filter(F.col("rnk") <= LSH_TOPK)
    ivf = e_ann_ivf_topk(spark, sf_dir)
    if RECALL_SAMPLE:
        ids = recall_sample_ids(RECALL_SAMPLE)
        exact = exact.filter(F.col("query_id").isin(ids))
        ivf = ivf.filter(F.col("query_id").isin(ids))
    exact = exact.select("query_id", "neighbor_id")
    ivf = ivf.select("query_id", "neighbor_id").withColumn("hit", F.lit(1))
    j = exact.join(ivf, ["query_id", "neighbor_id"], "left")
    hits = F.sum(F.coalesce("hit", F.lit(0)))
    return j.groupBy("query_id").agg(
        hits.cast("long").alias("hits"),
        (hits.cast("double") / LSH_TOPK).alias("recall"),
    )


# --------------------------------------------------------------------------
# IVF with a TRAINED coarse quantizer (spherical k-means, unrolled oracle)
# --------------------------------------------------------------------------

# Lloyd rounds for the catalog's trained-IVF query. A compile-time
# constant for the same reason BPE_MERGES is: the training loop
# UNROLLS into this many materialized CTE rounds in the oracle, making
# the whole trainer value-checkable SQL (the t_bpe_train move). Two
# rounds is where the r13/r14 geometry instrument measured the recall
# gain (0.583 -> 0.667 on the clustered 500k replica) with each round
# costing one assignment pass over the corpus.
IVF_TRAIN_ITERS = 2


def _cl_scores_sql(a: str) -> str:
    """Per-cell scores of ``a`` against the centroid list-of-lists
    column ``cl`` (the trained twin of ``_cell_scores_sql``): same
    left fold in ascending dimension order, so scores are bit-exact
    with the ``_with_probe_cells`` kernel's ``acc += E[:, i] * CT[i]``
    accumulation for the same centroid values."""
    return (
        "list_transform(range(1, cells + 1), j -> "
        f"list_reduce(list_transform(range(1, {DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * cl[j][i]), (x, y) -> x + y))"
    )


_TOP1_CELL_SQL = """list_transform(list_slice(list_sort(
               list_transform(range(1, cells + 1),
                              j -> {'nv': -d[j], 'i': j})),
             1, 1), s -> s.i)[1]"""


def _lloyd_round_sql(r: int, prev: str) -> str:
    """One unrolled spherical-k-means round: assign every vector to
    its argmax-cosine cell under the ``prev`` centroids, compute
    exact-decimal per-(cell, dim) means, renormalize to unit length,
    keep the previous direction for empty cells. Mirrors one
    ``ivf_train`` iteration op for op (see its DETERMINISM note)."""
    return f"""
    a{r} AS (
      SELECT vec_id, embedding, {_TOP1_CELL_SQL} AS cell
      FROM (SELECT vec_id, embedding, {_cl_scores_sql('embedding')} AS d,
                   cells
            FROM embeddings, nc, {prev})
    ),
    m{r} AS (
      SELECT cell, idx,
             CAST(SUM(CAST(CAST(embedding[idx] AS DOUBLE)
                           AS DECIMAL(32,12))) AS DOUBLE)
               / COUNT(*) AS m
      FROM a{r}, range(1, {DIM + 1}) t(idx)
      GROUP BY cell, idx
    ),
    l{r} AS (
      SELECT cell, list(m ORDER BY idx) AS mv,
             sqrt(list_reduce(
               list_transform(list(m ORDER BY idx), x -> x * x),
               (x, y) -> x + y)) AS nn
      FROM m{r} GROUP BY cell
    ),
    c{r} AS (
      SELECT list(CASE WHEN nn IS NULL OR nn = 0 THEN prev_c
                  ELSE list_transform(mv, x -> x / nn) END
                  ORDER BY k) AS cl
      FROM (SELECT k, cl[k] AS prev_c
            FROM {prev},
                 (SELECT unnest(range(1, cells + 1)) AS k FROM nc)) seeds
      LEFT JOIN l{r} ON l{r}.cell = seeds.k
    )"""


def _ivf_trained_oracle() -> str:
    # seed scale 1/sqrt(DIM): repr() round-trips the exact double, and
    # DuckDB's literal parse is correctly rounded to the same value
    # the Spark side computes (for DIM=64 it is exactly 0.125)
    seed = repr(1.0 / math.sqrt(DIM))
    rounds = ",".join(
        _lloyd_round_sql(r + 1, f"c{r}") for r in range(IVF_TRAIN_ITERS)
    )
    return f"""
    WITH {_IVF_CELLS_CTE},
    {_IVF_PROBES_CTE},
    c0 AS (
      SELECT list(sc ORDER BY k) AS cl
      FROM (SELECT k, list_transform(range(1, {DIM + 1}),
                     i -> {_CENT_SIGN_SQL} * {seed}) AS sc
            FROM (SELECT unnest(range(1, cells + 1)) AS k FROM nc))
    ),
    {rounds},
    scored AS (
      SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm,
             {_cl_scores_sql('embedding')} AS d, cells, probes
      FROM embeddings, nc, np, c{IVF_TRAIN_ITERS}
    ),
    cellassign AS (
      SELECT *, list_transform(list_slice(list_sort(
                  list_transform(range(1, cells + 1),
                                 j -> {{'nv': -d[j], 'i': j}})),
                1, probes), x -> x.i) AS topc
      FROM scored
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
             unnest(topc) AS cell
      FROM cellassign WHERE vec_id < {N_QUERIES}
    ),
    n AS (SELECT vec_id AS neighbor_id, embedding AS ne, nrm AS nn,
                 topc[1] AS cell
          FROM cellassign),
    pairs AS (
      SELECT query_id, neighbor_id, {_COSINE_SQL} AS cosine
      FROM q JOIN n USING (cell) WHERE neighbor_id <> query_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rnk FROM pairs)
    WHERE rnk <= {LSH_TOPK}
    """


@query(
    "e_ivf_trained_topk",
    oracle=_ivf_trained_oracle(),
    tags=("similarity", "ann", "ivf", "trained"),
)
def e_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with a TRAINED coarse quantizer: {IVF_TRAIN_ITERS}
    spherical-k-means rounds (``ivf_train``) refine the md5 seed
    directions, then the identical ``ivf_topk`` search runs against
    the trained centroids — the engine path every IVF docstring
    promised ("trained centroids drop in without changing the
    dataflow"), now a driver-value-checked catalog query rather than
    a pytest-only instrument.

    Measured motivation (SCALING.md §R14): on the clustered 500k
    replica the trained quantizer lifts recall@3 0.583 -> 0.667 at
    the derived-probes default with no search-wall cost; training
    itself costs one assignment pass per round. On structure-free
    geometry it is a no-op by construction (the control) — i.e. this
    query is the realistic-corpus configuration of the IVF family.

    Oracle: the training loop is unrolled into {IVF_TRAIN_ITERS}
    materialized CTE rounds (assignment -> exact-decimal means ->
    renormalize, empty cells keep their previous direction), exactly
    the ``t_bpe_train`` move for iterative trainers. Bit-exactness
    is arranged op by op: seeds are exactly ±1/sqrt({DIM}); scores
    fold in ascending dimension order on both sides; means use the
    proven ``e_centroid_stats`` decimal pattern; norms fold
    sequentially (see the ``ivf_train`` DETERMINISM note).

    Scale shape: identical to ``e_ann_ivf_topk`` plus
    {IVF_TRAIN_ITERS} assignment passes (the shared Arrow kernel, one
    small int per vector) and two cells x {DIM} driver-side means
    collects (≤ 2 MB at the 4096-cell cap) — training cost grows
    linearly with the corpus and the model stays broadcast-sized,
    the same contract as FAISS coarse-quantizer training.
    """
    return ivf_topk(
        spark, sf_dir,
        cents=ivf_train(spark, sf_dir, iters=IVF_TRAIN_ITERS),
    )


# --------------------------------------------------------------------------
# IVF cell-balance audit (partition-skew instrument)
# --------------------------------------------------------------------------

@query(
    "e_ivf_balance_audit",
    oracle=f"""
    WITH {_IVF_CELLS_CTE},
    scored AS (
      SELECT vec_id, {_cell_scores_sql('embedding')} AS d, cells
      FROM embeddings, nc
    ),
    assign AS (
      SELECT vec_id, cells,
             list_transform(list_slice(list_sort(
               list_transform(range(1, cells + 1),
                              j -> {{'nv': -d[j], 'i': j}})),
             1, 1), x -> x.i)[1] AS cell
      FROM scored
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM embeddings)
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(*) AS DOUBLE) * cells / total AS load_factor
    FROM assign, t
    GROUP BY cell, cells, total
    """,
    tags=("similarity", "ann", "ivf", "audit"),
)
def e_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell occupancy: vectors per cell and load factor vs uniform.

    The partition-skew instrument of the IVF family: a probed search's
    latency is bounded by its FATTEST probed cell, and recall at fixed
    probes degrades when assignment is lopsided (hot cells absorb
    everything; their neighbors starve). ``load_factor`` is occupancy
    relative to perfectly uniform (``n_vecs × cells / total`` — 1.0
    means exactly its fair share); cells that never win a vector
    simply don't appear, so ``rows < cells`` is itself the
    empty-cell finding. Alongside ``e_ann_recall_audit`` (what the
    user experiences) and ``e_centroid_stats`` (are the labels
    coherent), this is the third number an index operator watches —
    WHERE the imbalance is — and the signal that the md5 coarse
    directions should be swapped for trained centroids
    (``ivf_train`` drops into the same dataflow).

    Scale shape: assignment is the shared Arrow kernel
    (``_with_probe_cells``, matrix in the task closure, one small int
    out per vector); the rollup is one groupBy on the cell id with a
    broadcast 1-row total. Nothing else touches the corpus.
    """
    emb = load(spark, sf_dir, "embeddings")
    n_cells = _active_ivf_cells(spark, sf_dir)
    assigned = _with_probe_cells(
        emb.select("vec_id", "embedding"), spark, n_cells, 1
    ).select(F.element_at("topc", 1).alias("cell"))
    tot = emb.agg(F.count(F.lit(1)).alias("total"))
    return (
        assigned.crossJoin(F.broadcast(tot))  # 1-row total broadcast
        .groupBy("cell", "total")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            (F.col("n_vecs").cast("double") * n_cells / F.col("total"))
            .alias("load_factor"),
        )
    )


# --------------------------------------------------------------------------
# Per-label centroid statistics (cluster-compactness audit)
# --------------------------------------------------------------------------

@query(
    "e_centroid_stats",
    oracle=f"""
    WITH pe AS (
      SELECT label, i AS idx, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, range(1, {DIM + 1}) t(i)
    ),
    comp AS (
      SELECT label, idx,
             CAST(SUM(CAST(x AS DECIMAL(32,12))) AS DOUBLE) / COUNT(*) AS m
      FROM pe GROUP BY label, idx
    ),
    cn AS (
      SELECT label,
             sqrt(CAST(SUM(CAST(m*m AS DECIMAL(38,18))) AS DOUBLE))
                 AS centroid_norm
      FROM comp GROUP BY label
    ),
    vn AS (
      SELECT label, COUNT(*) AS vec_ct,
             CAST(SUM(CAST({_norm_sql('embedding')} AS DECIMAL(32,12)))
                  AS DOUBLE) / COUNT(*) AS avg_norm
      FROM embeddings GROUP BY label
    )
    SELECT label, vec_ct, centroid_norm, avg_norm
    FROM vn JOIN cn USING (label)
    """,
    tags=("similarity", "stats", "centroid"),
)
def e_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norm + mean vector norm (cluster audit).

    The compactness numbers an embedding-space health check reads:
    ``centroid_norm / avg_norm`` near 1 means a tight, coherent
    cluster; near 0 means the label's vectors cancel — mislabeled or
    incoherent data. Also the building block of IVF training audits
    (``e_ann_ivf_topk`` assigns to exactly these centroids).

    Order-insensitivity: every cross-ROW float sum goes through exact
    decimal (the ``dsum`` discipline — partitioning cannot change the
    result), while per-vector folds run in array order, which both
    engines execute identically (``F.aggregate`` ≡ ``list_reduce``).
    The elementwise mean matrix is |labels|×{DIM} rows — never wider
    than a broadcast even at a billion vectors, because the explode
    aggregates map-side per (label, idx) before the shuffle.
    """
    from pyspark.sql.types import DecimalType

    v = load(spark, sf_dir, "embeddings")
    pe = v.select(
        "label", F.posexplode("embedding").alias("idx", "xf")
    ).select("label", "idx", F.col("xf").cast("double").alias("x"))
    comp = pe.groupBy("label", "idx").agg(
        (
            F.sum(F.col("x").cast(DecimalType(32, 12))).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    cn = comp.groupBy("label").agg(
        F.sqrt(
            F.sum((F.col("m") * F.col("m")).cast(DecimalType(38, 18))).cast(
                "double"
            )
        ).alias("centroid_norm")
    )
    vn = v.groupBy("label").agg(
        F.count(F.lit(1)).alias("vec_ct"),
        (
            F.sum(_norm(F.col("embedding")).cast(DecimalType(32, 12))).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("avg_norm"),
    )
    return vn.join(cn, "label").select(
        "label", "vec_ct", "centroid_norm", "avg_norm"
    )


# --------------------------------------------------------------------------
# Centroid-cosine outliers (mislabeled-data detector)
# --------------------------------------------------------------------------

OUTLIER_COS = 0.05  # cosine-to-own-centroid below this flags a vector


@query(
    "e_centroid_outliers",
    oracle=f"""
    WITH pe AS (
      SELECT label, i AS idx, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, range(1, {DIM + 1}) t(i)
    ),
    comp AS (
      SELECT label, idx,
             CAST(SUM(CAST(x AS DECIMAL(32,12))) AS DOUBLE) / COUNT(*) AS m
      FROM pe GROUP BY label, idx
    ),
    cent AS (SELECT label, list(m ORDER BY idx) AS ce FROM comp GROUP BY label),
    cn AS (SELECT label, ce, {_norm_sql('ce')} AS cnorm FROM cent),
    v AS (SELECT label, vec_id, embedding,
                 {_norm_sql('embedding')} AS nrm FROM embeddings),
    s AS (
      SELECT v.label, vec_id,
             {_dot_sql('embedding', 'ce')} / (nrm * cnorm) AS cosc
      FROM v JOIN cn USING (label)
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS vec_ct,
           CAST(SUM(CAST(cosc AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
               AS mean_cos,
           MIN(cosc) AS min_cos,
           CAST(SUM(CASE WHEN cosc < {OUTLIER_COS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM s GROUP BY label
    """,
    tags=("similarity", "stats", "audit"),
)
def e_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled-data detector: per label, vectors whose cosine to
    their OWN label centroid falls below {OUTLIER_COS}.

    The standard curation sweep over labeled embedding data (CLIP/
    classifier training sets): a vector anti-aligned with its label's
    centroid is a labeling error, an encoder failure, or genuine
    distribution edge — all worth surfacing before training. Extends
    ``e_centroid_stats`` (is the label coherent in aggregate?) to the
    per-vector question (WHICH vectors break coherence), rolled up per
    label: mean/min cosine-to-centroid and the flagged count.

    Determinism: centroids are exact-decimal per-dim means (the
    e_centroid_stats discipline) assembled into arrays by idx-sorted
    struct collection — identical in both engines — and the per-vector
    cosine is the shared left-fold; the mean over vectors runs in
    exact decimal. Accepted boundary (the r11 quotient-cast lesson,
    documented here as on ``t_unigram_lm_score``): ``mean_cos`` sums
    a double→DECIMAL(28,12) re-cast of the COMPUTED cosine quotient,
    which Spark and DuckDB could tie-break differently if a cosine
    landed exactly on a scale-12 half-way point. Unlike the X/n
    averages that actually hit this (``t_perplexity_buckets`` —
    quotients of small integers land on half-way points whenever n
    has prime factors beyond 2/5), a dot/(‖a‖·‖b‖) quotient has no
    mechanism to produce ...5 at digit 13, so the boundary is
    accepted rather than restructured; there is no exact-sum
    formulation because the summands are intrinsically quotients
    with per-vector denominators. Scale shape: the centroid matrix is |labels|×{DIM}
    rows (map-side combined before its shuffle, broadcastable at any
    corpus size); the scoring pass is one broadcast join + row-local
    fold; the rollup map-side-combines. The corpus is read twice and
    never shuffled.
    """
    from pyspark.sql.types import DecimalType

    v = load(spark, sf_dir, "embeddings")
    pe = v.select(
        "label", F.posexplode("embedding").alias("idx", "xf")
    ).select("label", "idx", F.col("xf").cast("double").alias("x"))
    comp = pe.groupBy("label", "idx").agg(
        (
            F.sum(F.col("x").cast(DecimalType(32, 12))).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "m"))),
            lambda s: s["m"],
        ).alias("ce")
    ).withColumn("cnorm", _norm(F.col("ce")))
    scored = (
        v.select(
            "label", "vec_id", "embedding",
            _norm(F.col("embedding")).alias("nrm"),
        )
        .join(F.broadcast(cent), "label")
        .select(
            "label", "vec_id",
            (_dot(F.col("embedding"), F.col("ce"))
             / (F.col("nrm") * F.col("cnorm"))).alias("cosc"),
        )
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("vec_ct"),
        (
            F.sum(F.col("cosc").cast(DecimalType(28, 12))).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_cos"),
        F.min("cosc").alias("min_cos"),
        F.sum((F.col("cosc") < OUTLIER_COS).cast("int"))
        .cast("long").alias("n_outliers"),
    )


# --------------------------------------------------------------------------
# SemDeDup: cluster-assigned semantic deduplication
# --------------------------------------------------------------------------

# within-cell cosine above this => semantic duplicates (same constant
# as the LSH near-dup family so the two paths are comparable)
SEMDEDUP_THRESHOLD = COSDUP_THRESHOLD

# argmax cell by struct argsort — probes=1 of the IVF probing rule, so
# assignment is bit-identical to e_ann_ivf_topk's topc[1]
_ASSIGN_SQL = (
    "list_transform(list_slice(list_sort("
    "list_transform(range(1, cells + 1), j -> {'nv': -d[j], 'i': j})),"
    " 1, 1), x -> x.i)[1]"
)


@query(
    "e_semantic_dedup",
    oracle=f"""
    WITH {_IVF_CELLS_CTE},
    scored AS (
      SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm,
             {_cell_scores_sql('embedding')} AS d, cells
      FROM embeddings, nc
    ),
    assign AS (
      SELECT vec_id, embedding, nrm, {_ASSIGN_SQL} AS cell FROM scored
    ),
    dup AS (
      SELECT DISTINCT y.vec_id
      FROM assign x JOIN assign y ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE {_EMB_COSINE_SQL} >= {SEMDEDUP_THRESHOLD}
    )
    SELECT CAST(cell AS BIGINT) AS cell,
           COUNT(*) AS vec_ct,
           CAST(SUM(CASE WHEN dup.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_ct,
           CAST(COUNT(*) - SUM(CASE WHEN dup.vec_id IS NOT NULL THEN 1
                                    ELSE 0 END) AS BIGINT) AS kept_ct,
           CAST(SUM(CASE WHEN dup.vec_id IS NOT NULL THEN a.vec_id ELSE 0 END)
                AS BIGINT) AS dropped_id_sum
    FROM assign a LEFT JOIN dup ON a.vec_id = dup.vec_id
    GROUP BY cell
    """,
    tags=("similarity", "dedup", "semdedup", "clustering"),
)
def e_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: within-cluster cosine dedup (Abbas et al. 2023).

    The cluster-then-dedup recipe for semantic deduplication at scale:
    instead of a global near-neighbor search, assign every vector to a
    coarse cluster, compare pairs ONLY within a cluster, and keep one
    representative per duplicate group (here: a vector is dropped iff
    a same-cell neighbor with a SMALLER vec_id sits above the cosine
    threshold — the hash-free deterministic form of SemDeDup's greedy
    keep-first rule). Output audits each cell: population, dropped /
    kept counts, and ``dropped_id_sum`` pinning the exact dropped set.

    Reuses the IVF coarse quantizer (``e_ann_ivf_topk``): cells =
    argmax over ``ivf_cells_for(n)`` md5-derived directions, so cell
    count tracks √n and expected cell size is √n. The within-cell
    pairwise pass runs as ``applyInPandas`` PER CELL — the dataflow
    that makes SemDeDup shippable: embeddings cross the shuffle ONCE
    (n rows grouped by cell), never per pair. The earlier
    pair-materializing formulation (skew-guarded self-join carrying
    both embeddings on every candidate row) moved n^1.5 × vector-width
    bytes through the shuffle — measured 33 s at the 100× corpus
    against 3.5 s for this form. Inside the kernel the Gram block is
    computed row-blocked (memory stays O(block × cell), never
    O(cell²) for big cells) with the same sequential per-dimension
    fold as ``_with_probe_cells``, so every cosine is bit-identical
    to the oracle's pair join. Wall-clock of one cell concentrates in
    one task — with cells ≈ √n that is √n-sized work over DISTINCT
    vectors: identical embeddings collapse to one representative
    BEFORE the kernel (groupBy the vector itself — min id, count,
    id-sum), which is EXACT, not approximate. Identical vectors share
    every cosine, so a representative-vs-representative Gram decides
    every drop: a non-minimal member of an identical group always has
    its group's min id as a cos-1.0 smaller-id neighbor (any
    threshold ≤ 1) and is dropped unconditionally, and any OTHER
    vector v is dropped by a group member iff it is dropped by the
    group's representative (same cosine; the rep has the group's
    smallest id, and ids between rep and v change nothing — v only
    needs SOME smaller-id neighbor). The collapse makes the kernel
    immune to duplicate multiplicity — the adversarial corpus where
    one vector repeats 10⁴× (one hot cell) costs the Gram of the
    distinct set, not the clone set (measured 38.3 s → Gram-free at
    the skew fixture, scripts/bench_vec_skew.py). For a DENSE but
    distinct hot cell a trained quantizer with capped cell sizes
    remains the production guard.

    This complements ``t_embedding_neardup``: LSH banding finds pairs
    ACROSS the space at a recall target; SemDeDup trades global recall
    for a hard per-cluster cost bound — production pipelines run
    exactly this shape at billions of vectors.
    """
    emb = load(spark, sf_dir, "embeddings")
    n_cells = _active_ivf_cells(spark, sf_dir)
    assign = _with_probe_cells(
        emb.select(
            "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
        ),
        spark, n_cells, 1,
    ).select(
        "vec_id", "embedding", "nrm",
        F.element_at("topc", 1).alias("cell"),
    )
    # exact duplicate collapse: one row per distinct vector per cell
    # (identical vectors land in the same cell and share nrm)
    reps = assign.groupBy("cell", "embedding", "nrm").agg(
        F.min("vec_id").alias("vec_id"),
        F.count(F.lit(1)).alias("mult"),
        F.sum("vec_id").alias("id_sum"),
    )
    thresh = SEMDEDUP_THRESHOLD
    out_schema = T.StructType([
        T.StructField("cell", T.LongType()),
        T.StructField("vec_ct", T.LongType()),
        T.StructField("dropped_ct", T.LongType()),
        T.StructField("kept_ct", T.LongType()),
        T.StructField("dropped_id_sum", T.LongType()),
    ])

    def dedup_cell(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        m = len(pdf)
        E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        EF = np.asfortranarray(E)       # contiguous fold operands —
        ET = np.ascontiguousarray(E.T)  # see _with_probe_cells
        nrm = pdf["nrm"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        mult = pdf["mult"].to_numpy()
        id_sum = pdf["id_sum"].to_numpy()
        dropped = np.zeros(m, dtype=bool)
        cols = np.arange(m)
        B = 4096  # Gram rows per block: memory O(B*m), not O(m^2)
        for r0 in range(0, m, B):
            r1 = min(r0 + B, m)
            acc = np.zeros((r1 - r0, m))
            for i in range(E.shape[1]):
                acc += EF[r0:r1, i][:, None] * ET[i]
            cos = acc / (nrm[r0:r1, None] * nrm[None, :])
            # rep j dropped iff some rep i < j (vec_id order) has
            # cos >= thresh; non-rep members are dropped a priori
            later = cols[None, :] > np.arange(r0, r1)[:, None]
            dropped |= ((cos >= thresh) & later).any(axis=0)
        n_vec = int(mult.sum())
        kept = int((~dropped).sum())
        clone_id_sum = int((id_sum - ids).sum())  # non-rep members
        return pd.DataFrame({
            "cell": [int(pdf["cell"].iloc[0])],
            "vec_ct": [n_vec],
            "dropped_ct": [n_vec - kept],
            "kept_ct": [kept],
            "dropped_id_sum": [clone_id_sum + int(ids[dropped].sum())],
        })

    return reps.groupBy("cell").applyInPandas(dedup_cell, out_schema)


# --------------------------------------------------------------------------
# Semantic decontamination: train corpus vs a held-out eval embedding set
# --------------------------------------------------------------------------

# Every 41st vec_id below the cap plays the held-out benchmark; the
# flag threshold is the corpus near-dup threshold (a train vector this
# close to an eval vector is the same content in embedding space). The
# id cap is what makes the stand-in behave like a REAL benchmark: eval
# suites are fixed-size, they do not grow with the training corpus —
# without the cap a scaled fixture scales the eval side too and the
# probe cost turns quadratic in corpus size (measured 13× time at 10×
# data; ~3× with the cap, SCALING.md).
DECON_EVAL_MOD = 41
DECON_EVAL_CAP = 1_000_000


@query(
    "e_semantic_decontaminate",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding, {_norm_sql('embedding')} AS nrm
      FROM embeddings
    ),
    ev AS (SELECT embedding AS ee, nrm AS en FROM v
           WHERE vec_id % {DECON_EVAL_MOD} = 0
             AND vec_id < {DECON_EVAL_CAP}),
    tr AS (SELECT vec_id, label, embedding, nrm FROM v
           WHERE NOT (vec_id % {DECON_EVAL_MOD} = 0
                      AND vec_id < {DECON_EVAL_CAP})),
    hit AS (
      SELECT DISTINCT t.vec_id
      FROM tr t JOIN ev e
        ON {_dot_sql('t.embedding', 'e.ee')} / (t.nrm * e.en)
           >= {COSDUP_THRESHOLD}
    )
    SELECT t.label,
           COUNT(*) AS total_vecs,
           CAST(SUM(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS contaminated,
           CAST(SUM(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS contamination_rate,
           CAST(SUM(CASE WHEN h.vec_id IS NOT NULL THEN t.vec_id ELSE 0 END)
                AS BIGINT) AS contaminated_id_sum
    FROM tr t LEFT JOIN hit h USING (vec_id)
    GROUP BY t.label
    """,
    tags=("similarity", "decontamination"),
)
def e_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination (per-label audit).

    The semantic twin of ``t_decontaminate``'s 13-gram probe: a
    training vector is contaminated if it sits above the near-dup
    cosine threshold against ANY held-out eval vector — paraphrased
    or reformatted benchmark leakage that exact n-gram overlap
    misses. Eval set: every ``DECON_EVAL_MOD``-th vec_id below
    ``DECON_EVAL_CAP`` (a deterministic stand-in for the real
    benchmark embedding table — fixed-size by construction, like a
    real eval suite, so the probe stays LINEAR in corpus scale).
    Output per label: population, contaminated count/rate, and
    ``contaminated_id_sum`` pinning the exact flagged set.

    Scale shape: an eval benchmark is small by definition, so it
    BROADCASTS — the training corpus is scanned once and scored
    map-side (JVM ``aggregate`` folds, no shuffle of the corpus);
    only |labels| aggregate rows move. The nested scan costs
    |eval| x N folds — fine while |eval| stays benchmark-sized; for
    an eval side past broadcast reach, prefilter candidates with the
    banded SRP keys (``_with_band_keys`` on both sides, exact verify
    on band collisions only) exactly as ``t_embedding_neardup`` does
    corpus-internally.
    """
    emb = load(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", "label", "embedding",
        _norm(F.col("embedding")).alias("nrm"),
    )
    is_eval = (F.col("vec_id") % DECON_EVAL_MOD == 0) & (
        F.col("vec_id") < DECON_EVAL_CAP
    )
    ev = v.filter(is_eval).select(
        F.col("embedding").alias("ee"), F.col("nrm").alias("en")
    )
    tr = v.filter(~is_eval)
    hit = (
        tr.join(
            F.broadcast(ev),
            _dot(F.col("embedding"), F.col("ee")) / (F.col("nrm") * F.col("en"))
            >= COSDUP_THRESHOLD,
        )
        .select("vec_id")
        .distinct()
        .withColumn("is_hit", F.lit(1))
    )
    return (
        tr.select("vec_id", "label")
        .join(hit, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("total_vecs"),
            F.sum(F.coalesce("is_hit", F.lit(0))).cast("long")
            .alias("contaminated"),
            (F.sum(F.coalesce("is_hit", F.lit(0))).cast("double")
             / F.count(F.lit(1))).alias("contamination_rate"),
            F.sum(
                F.when(F.col("is_hit").isNotNull(), F.col("vec_id"))
                .otherwise(F.lit(0))
            ).cast("long").alias("contaminated_id_sum"),
        )
    )


# --------------------------------------------------------------------------
# IVF quantizer training: distributed spherical k-means (Lloyd)
# --------------------------------------------------------------------------

def ivf_train(
    spark: SparkSession, sf_dir: str, cells: int | None = None,
    iters: int = 2, emb: DataFrame | None = None,
):
    """Train the IVF coarse quantizer: ``iters`` Lloyd rounds of
    spherical k-means over the corpus, seeded by the md5 directions.

    Returns a (cells × DIM) float64 numpy matrix of UNIT-norm
    centroids ready to pass as ``_with_probe_cells(..., cents=...)``
    — the "trained quantizer drops in without changing the dataflow"
    path every IVF docstring promises, now runnable. Each round is
    the canonical distributed k-means shape (what ``spark.ml``'s
    KMeans also does): one assignment pass (the probe kernel, scores
    = E·Cᵀ), one map-side-combined groupBy computing per-cell mean
    vectors, and a driver collect of the means matrix — cells × DIM
    doubles, ≤ 2 MB at the 4096-cell cap, NEVER the vectors
    themselves. Means are re-normalized to unit length (spherical
    k-means: argmax dot against unit centroids ≡ argmax cosine);
    cells that attract no vectors keep their previous direction
    (normalized), the standard empty-cluster rule.

    DETERMINISM (round 10): per-(cell, dim) means are EXACT-DECIMAL
    sums (one final cast to double, then one IEEE division) — float
    avg() accumulates in partition order, so two runs over
    differently-partitioned input could diverge by ulps and flip
    argmax assignments on near-ties. Decimal addition is
    associative/commutative exactly, so the trained centroids are a
    pure function of the data regardless of partition layout
    (assignment tie-breaks were already order-free: np.argmax
    first-index over row-local sequential folds). ``emb`` lets the
    partition-permutation property test inject a reshuffled corpus.

    Since r14 training is ALSO a value-checked catalog path:
    ``e_ivf_trained_topk`` unrolls this exact loop into DuckDB SQL
    (the ``t_bpe_train`` move — a compile-time iteration count makes
    an iterative trainer oracle-checkable), which is why every float
    op here is chosen for an identically-rounding SQL twin: means use
    the ``e_centroid_stats`` pattern (double widening, DECIMAL(32,12)
    sum, one double cast, double/count division), the norm is a
    sequential left fold (numpy's pairwise ``.sum()`` can differ by
    ulps from ``list_reduce``), and the seed directions normalize to
    exactly ±1/sqrt(DIM). ``tests/test_ann_recall.py`` additionally
    pins the training contract — monotone quantization improvement
    and an end-to-end assignment through the same kernel.
    """
    import numpy as np

    if emb is None:
        emb = load(spark, sf_dir, "embeddings")
    if cells is None:
        cells = _active_ivf_cells(spark, sf_dir)
    cents = np.array(
        [[float(s) for s in _centroid(k)] for k in range(cells)]
    )
    cents = cents / np.sqrt((cents * cents).sum(axis=1))[:, None]
    base = emb.select("vec_id", "embedding")
    for _ in range(iters):
        assigned = _with_probe_cells(
            base, spark, cells, 1, cents=cents
        ).select(
            F.element_at("topc", 1).alias("cell"),
            F.col("embedding"),
        )
        pe = assigned.select(
            "cell", F.posexplode("embedding").alias("idx", "xf")
        ).select("cell", "idx", F.col("xf").cast("double").alias("x"))
        # Mean arithmetic mirrors the PROVEN e_centroid_stats oracle
        # pattern bit for bit (float -> exact DOUBLE widening -> exact
        # DECIMAL(32,12) sum -> one cast to DOUBLE -> IEEE double/count
        # division): since r14 the whole trainer is value-checked by
        # the e_ivf_trained_topk oracle, so every float op here must
        # have an identically-rounding DuckDB twin.
        means = (
            pe.groupBy("cell", "idx")
            .agg(
                (F.sum(F.col("x").cast("decimal(32,12)")).cast("double")
                 / F.count(F.lit(1))).alias("m")
            )
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("idx", "m"))
                ).alias("ms")
            )
            .select("cell", F.transform("ms", lambda s: s["m"]).alias("mv"))
            .collect()
        )
        nxt = cents.copy()
        for r in means:
            v = np.array(r["mv"], dtype=np.float64)
            # sequential left fold, NOT np.sum (numpy pairwise-sums
            # long arrays, which can differ by ulps from the oracle's
            # list_reduce left fold and flip argmax near-ties)
            acc = 0.0
            for x in r["mv"]:
                acc += x * x
            nn = math.sqrt(acc)
            if nn > 0:
                nxt[r["cell"] - 1] = v / nn
        cents = nxt
    return cents


def quantization_objective(
    spark: SparkSession, sf_dir: str, cents, cells: int
) -> float:
    """Mean cosine of every vector to its assigned centroid — the
    spherical k-means objective ``ivf_train`` ascends (used by the
    training test; one assignment pass + one aggregate)."""
    emb = load(spark, sf_dir, "embeddings")
    assigned = _with_probe_cells(
        emb.select("vec_id", "embedding",
                   _norm(F.col("embedding")).alias("nrm")),
        spark, cells, 1, cents=cents,
    ).select("embedding", "nrm", F.element_at("topc", 1).alias("cell"))
    import numpy as np

    C = np.asarray(cents, dtype=np.float64)

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cc = C[pdf["cell"].to_numpy() - 1]
            acc = np.zeros(len(pdf))
            for i in range(E.shape[1]):
                acc = acc + E[:, i] * cc[:, i]
            cos = acc / pdf["nrm"].to_numpy()  # unit centroids
            yield pd.DataFrame({"s": [float(cos.sum())], "n": [len(pdf)]})

    parts = assigned.mapInPandas(fn, "s double, n long").agg(
        F.sum("s").alias("s"), F.sum("n").alias("n")
    ).collect()[0]
    return parts["s"] / parts["n"]


# --------------------------------------------------------------------------
# Product quantization + ADC scan — the storage-side ANN scale path
# --------------------------------------------------------------------------

# PQ (Jégou et al., "Product Quantization for Nearest Neighbor
# Search", TPAMI'11) splits each vector into PQ_M subspaces and
# replaces every subvector with the id of its nearest codeword from a
# per-subspace codebook of PQ_K entries. A vector becomes PQ_M small
# ints — at M=8, K=16 that is 8 × 4 bits = 4 BYTES against the
# fixture's 64 × float32 = 256 bytes, a 64× compression. This is the
# knob that changes what a 100 TB ANN scan READS: the codes column of
# a 100 TB float corpus is ~1.6 TB, so the brute-force ADC pass scans
# two orders of magnitude less I/O than `e_cosine_topk` while the
# float vectors stay cold in object storage for the final re-rank.
# M and K are dimension/accuracy settings, not corpus-size ones (the
# code length per vector does not depend on N), so they are plain
# constants — no corpus-derived rule needed.
PQ_M = 8
PQ_K = 16
PQ_DSUB = DIM // PQ_M
assert PQ_M * PQ_DSUB == DIM, "PQ_M must divide the embedding width"
# ADC shortlist size for the exact re-rank stage: a CONSTANT per query
# (not a corpus fraction) — the float-vector reads per query stay R
# point lookups at any corpus size. The accuracy dial of PQ search
# (FAISS's k_factor): raise it to trade re-rank I/O for recall.
# DECIDED constant (r12, after the IVF probes moved to a derived
# rule): unlike probing — where a fixed count silently shrinks the
# scanned fraction cells are SUPPOSED to cover — constant float I/O
# per query IS this operator's contract; deriving R from N would
# reintroduce the O(N) read the codes exist to avoid. The measured
# 500k dial (SCALING.md §R12): recall climbs ~linearly with R on the
# structure-free decade replica (0.067@50 → 0.6@3200 for the ADC
# scan), i.e. the worst-case geometry needs R ~ O(N) and no constant
# is "right" there; on real corpora ADC ordering correlates with
# cosine and small R recovers most recall. The variant scoreboard is
# the per-corpus instrument for choosing R; the env knob applies it.
PQ_RERANK = int(os.environ.get("FLINK_SPARK_PQ_RERANK", "50"))


@functools.lru_cache(maxsize=None)
def _pq_codeword(m: int, k: int) -> tuple[int, ...]:
    """Codeword k of subspace m as a ±1 direction over the subspace's
    PQ_DSUB dims, md5-derived (the codebook twin of ``_centroid``).

    All ±1 codewords share one norm (sqrt(PQ_DSUB)), so nearest-by-L2
    is exactly argmax dot — encoding needs no norm correction and the
    oracle can reproduce it with the plain fold. A TRAINED codebook
    (``pq_train``) has per-codeword norms; the kernel then applies the
    −‖c‖²/2 L2 correction, engine-side only (trained codewords are
    data the oracle cannot regenerate — same policy as ``ivf_train``).
    """
    out = []
    for i in range(PQ_DSUB):
        h = hashlib.md5(f"pq{m}:{k}:{i}".encode()).hexdigest()
        out.append(1 if int(h[0], 16) >= 8 else -1)
    return tuple(out)


def _pq_codebook():
    """(PQ_M, PQ_K, PQ_DSUB) float64 array of the md5 codewords."""
    import numpy as np

    return np.array(
        [[[float(s) for s in _pq_codeword(m, k)] for k in range(PQ_K)]
         for m in range(PQ_M)]
    )


def _with_pq_codes(df: DataFrame, codebook=None) -> DataFrame:
    """Add ``codes`` = the PQ code of ``embedding``: an array of PQ_M
    1-based codeword ids (same numpy-kernel discipline as
    ``_with_probe_cells`` — sequential per-dimension accumulation for
    bit-exact fold scores, ``np.argmax`` for the first-index tiebreak
    the oracle's (-score, index) struct sort also picks).

    ``codebook`` (PQ_M × PQ_K × PQ_DSUB) swaps in trained codewords;
    that path scores by true L2 (dot − ‖c‖²/2) since trained norms
    differ. The default md5 path scores by plain dot, matching the
    oracle expression exactly.
    """
    import numpy as np

    cb = _pq_codebook() if codebook is None else np.asarray(
        codebook, dtype=np.float64
    )
    assert cb.shape == (PQ_M, PQ_K, PQ_DSUB), cb.shape
    # −‖c‖²/2 per (m, k); exactly 0 in the md5 path so the scores stay
    # the oracle's plain dot fold (no constant-shift rounding hazard)
    if codebook is None:
        corr = np.zeros((PQ_M, PQ_K))
    else:
        corr = -0.5 * (cb * cb).sum(axis=2)
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("codes", T.ArrayType(T.IntegerType()))]
    )

    def fn(batches):
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            EF = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            codes = np.empty((n, PQ_M), dtype=np.int32)
            acc = np.empty((n, PQ_K))
            for m in range(PQ_M):
                acc[:] = 0.0
                # ascending global dim order — the oracle's fold order
                for i in range(PQ_DSUB):
                    acc += EF[:, m * PQ_DSUB + i][:, None] * cb[m, :, i]
                acc += corr[m]
                codes[:, m] = np.argmax(acc, axis=1) + 1
            pdf = pdf.copy()
            pdf["codes"] = list(codes)
            yield pdf

    return df.mapInPandas(fn, out_schema)


def _pq_lut_matrix(EF, codebook=None):
    """ADC lookup tables of query vectors ``EF`` (n × DIM float64):
    an (n, PQ_M, PQ_K) array of dot products of the UNIT-NORMALIZED
    query subvectors against every codeword. Normalizing the query
    makes the ADC score approximate cosine(query, neighbor-direction),
    keeping PQ rank-comparable with the other ANN variants. Division
    before multiplication and ascending-dim sequential folds mirror
    the oracle expression op-for-op (norm = correctly-rounded sqrt of
    the square fold, exactly ``_norm_sql``).
    """
    import numpy as np

    cb = _pq_codebook() if codebook is None else np.asarray(
        codebook, dtype=np.float64
    )
    EF = np.asarray(EF, dtype=np.float64)
    n = EF.shape[0]
    nrm = np.zeros(n)
    for i in range(DIM):
        nrm += EF[:, i] * EF[:, i]
    EN = EF / np.sqrt(nrm)[:, None]
    lut = np.empty((n, PQ_M, PQ_K))
    acc = np.empty((n, PQ_K))
    for m in range(PQ_M):
        acc[:] = 0.0
        for i in range(PQ_DSUB):
            acc += EN[:, m * PQ_DSUB + i][:, None] * cb[m, :, i]
        lut[:, m] = acc
    return lut


# SQL twins. Codeword sign for subspace m0, codeword k0, local dim i0
# (all 0-based SQL expressions).
def _pq_sign_sql(m0: str, k0: str, i0: str) -> str:
    return (
        f"(CASE WHEN substring(md5('pq' || CAST({m0} AS VARCHAR) || ':' || "
        f"CAST({k0} AS VARCHAR) || ':' || CAST({i0} AS VARCHAR)), 1, 1) "
        ">= '8' THEN 1.0 ELSE -1.0 END)"
    )


# codes of `embedding`: per subspace m (1-based), the 1-based argmax-
# dot codeword with first-index tiebreak — the same (-score, index)
# struct-sort idiom as the IVF probe oracle.
_PQ_CODES_SQL = (
    f"list_transform(range(1, {PQ_M + 1}), m -> "
    f"list_slice(list_sort(list_transform(range(1, {PQ_K + 1}), k -> "
    "{'nv': -("
    f"list_reduce(list_transform(range(1, {PQ_DSUB + 1}), "
    f"i -> CAST(embedding[(m - 1) * {PQ_DSUB} + i] AS DOUBLE) * "
    f"{_pq_sign_sql('m - 1', 'k - 1', 'i - 1')}), (x, y) -> x + y)"
    "), 'i': k})), 1, 1)[1].i)"
)

def _adc_expr():
    """JVM-side ADC score: PQ_M lookups of ``lut`` by ``codes``,
    summed in ascending-m order (the oracle's ``list_reduce`` fold)."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(PQ_M)),
        F.lit(0.0),
        lambda acc, m: acc + F.element_at(
            F.col("lut"), (m - F.lit(1)) * F.lit(PQ_K)
            + F.element_at(F.col("codes"), m)
        ),
    )


def _adc_shortlist(scan: DataFrame) -> DataFrame:
    """Global top-``PQ_RERANK`` per query of an ADC scan frame
    (query_id, neighbor_id, adc_score) — the oracle's ordering."""
    sw = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), "neighbor_id"
    )
    return (
        scan.withColumn("srn", F.row_number().over(sw))
        .filter(F.col("srn") <= PQ_RERANK)
        .select("query_id", "neighbor_id")
    )


def _exact_rerank(emb: DataFrame, shortlist: DataFrame,
                  topk: int = LSH_TOPK) -> DataFrame:
    """Re-rank a (query_id, neighbor_id) shortlist by EXACT cosine
    against the float vectors — constant |Q| × R float reads via
    broadcast id joins, true scores out (the Jégou two-stage's second
    stage, shared by every compressed-scan variant)."""
    qf = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        _norm(F.col("embedding")).alias("qn"),
    )
    v = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"),
        _norm(F.col("embedding")).alias("nn"),
    )
    rerank = (
        v.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qf), "query_id")
        .select("query_id", "neighbor_id", _cosine_spark().alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        rerank.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select("query_id", "neighbor_id",
                F.col("rnk").cast("long").alias("rnk"), "cosine")
    )


# flattened ADC LUT of the unit-normalized query `qe` (norm `qn`):
# entry j (1-based) is subspace (j−1)//K, codeword (j−1)%K.
_PQ_LUT_SQL = (
    f"list_transform(range(1, {PQ_M * PQ_K + 1}), j -> "
    f"list_reduce(list_transform(range(1, {PQ_DSUB + 1}), "
    f"i -> (CAST(qe[((j - 1) // {PQ_K}) * {PQ_DSUB} + i] AS DOUBLE) / qn) * "
    f"{_pq_sign_sql(f'(j - 1) // {PQ_K}', f'(j - 1) % {PQ_K}', 'i - 1')}), "
    "(x, y) -> x + y))"
)


@query(
    "e_pq_adc_topk",
    oracle=f"""
    WITH coded AS (
      SELECT vec_id AS neighbor_id, {_PQ_CODES_SQL} AS codes
      FROM embeddings
    ),
    {_V_CTE},
    q AS (
      SELECT query_id, qe, qn, {_PQ_LUT_SQL} AS lut
      FROM (SELECT vec_id AS query_id, embedding AS qe,
                   {_norm_sql('embedding')} AS qn
            FROM embeddings WHERE vec_id < {N_QUERIES})
    ),
    adc AS (
      SELECT query_id, neighbor_id,
             list_reduce(list_transform(range(1, {PQ_M + 1}),
               m -> lut[(m - 1) * {PQ_K} + codes[m]]), (x, y) -> x + y)
               AS adc_score
      FROM coded, q WHERE neighbor_id <> query_id
    ),
    shortlist AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY adc_score DESC, neighbor_id) AS srn FROM adc)
      WHERE srn <= {PQ_RERANK}
    ),
    rerank AS (
      SELECT query_id, neighbor_id,
             {_dot_sql('q.qe', 'v.embedding')} / (q.qn * v.nrm) AS cosine
      FROM shortlist s JOIN q USING (query_id)
                       JOIN v ON s.neighbor_id = v.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rnk FROM rerank)
    WHERE rnk <= {LSH_TOPK}
    """,
    tags=("similarity", "ann", "pq"),
)
def e_pq_adc_topk(spark: SparkSession, sf_dir: str, *,
                  coded: DataFrame | None = None,
                  qrows=None) -> DataFrame:
    """PQ-compressed ANN: asymmetric-distance scan + exact re-rank.

    The third ANN strategy next to LSH (`e_ann_lsh_topk`, prunes
    candidates) and IVF (`e_ann_ivf_topk`, prunes cells): PQ prunes
    BYTES. The corpus is encoded once into PQ_M-int codes
    (``_with_pq_codes``, a 64× compression at the defaults); the scan
    stage never touches the float vectors — each query's PQ_M × PQ_K
    lookup table of subspace dot products (``_pq_lut_matrix``) rides
    in the task closure, and the scan kernel scores codes against all
    queries WHERE THE CODES ARE (a numpy gather + m-ascending adds),
    emitting only each partition's top-``PQ_RERANK`` per query. That
    keeps the exchange at |Q| × R × partitions rows — partial top-k
    selection is exact because the order (score desc, neighbor_id
    asc) is total, so every global top-R row is its partition's
    local top-R. Stage two re-ranks the constant-size shortlist by
    EXACT cosine against the float vectors (the standard Jégou
    two-stage: compressed scan for candidates, float re-rank for
    order), so reported scores are true cosines — the same
    scores-are-true contract the other ANN variants honor. At 100 TB
    the scan reads ~1/64th the corpus bytes and the re-rank reads
    |Q| × PQ_RERANK float rows via an id join — point-lookup volume,
    independent of corpus size. Codewords are md5-derived ±1
    directions (equal norms ⇒ argmax dot ≡ nearest-by-L2) so the
    DuckDB oracle reproduces encoding, LUTs, the m-ascending ADC
    fold, and both rankings bit-for-bit; ``pq_train`` swaps in a
    Lloyd-trained codebook without changing this dataflow.
    """
    import numpy as np

    emb = load(spark, sf_dir, "embeddings")
    if coded is None:
        coded = _with_pq_codes(emb.select("vec_id", "embedding")).select(
            F.col("vec_id").alias("neighbor_id"), "codes"
        )
    # Query LUTs ride in the task closure (|Q| × M × K doubles — the
    # query side is the small side by construction, same license the
    # IVF centroid matrix uses). The scan kernel scores every code
    # row against ALL queries where the codes already are and emits
    # only each PARTITION's top-PQ_RERANK per query — candidate
    # selection is order-total (score desc, neighbor_id asc), so the
    # global top-R is exactly preserved while the exchange carries
    # |Q| × R × partitions rows instead of |Q| × N.
    if qrows is None:
        qrows = sorted(
            emb.filter(F.col("vec_id") < N_QUERIES)
            .select("vec_id", "embedding").collect(),
            key=lambda r: r["vec_id"],
        )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    QL = _pq_lut_matrix(np.array([r["embedding"] for r in qrows]))

    def scan_fn(batches):
        import numpy as np
        import pandas as pd

        nq = len(qids)
        best_ids = [np.empty(0, dtype=np.int64) for _ in range(nq)]
        best_sc = [np.empty(0) for _ in range(nq)]
        for pdf in batches:
            b = len(pdf)
            if b == 0:
                continue
            codes0 = np.stack(pdf["codes"].to_numpy()).astype(np.int64) - 1
            nids = pdf["neighbor_id"].to_numpy()
            S = np.zeros((nq, b))
            # ascending-m adds — the oracle's list_reduce fold order
            for m in range(PQ_M):
                S += QL[:, m, :][:, codes0[:, m]]
            for qi in range(nq):
                mask = nids != qids[qi]
                ids = np.concatenate([best_ids[qi], nids[mask]])
                sc = np.concatenate([best_sc[qi], S[qi, mask]])
                # score desc, neighbor_id asc — the oracle's ORDER BY
                order = np.lexsort((ids, -sc))[:PQ_RERANK]
                best_ids[qi], best_sc[qi] = ids[order], sc[order]
        out_q = np.repeat(qids, [len(x) for x in best_ids])
        if len(out_q) == 0:
            return
        yield pd.DataFrame({
            "query_id": out_q,
            "neighbor_id": np.concatenate(best_ids),
            "adc_score": np.concatenate(best_sc),
        })

    scan = coded.mapInPandas(
        scan_fn, "query_id long, neighbor_id long, adc_score double"
    )
    return _exact_rerank(emb, _adc_shortlist(scan))


@query(
    "e_ivfpq_topk",
    oracle=f"""
    WITH {_IVF_CELLS_CTE},
    {_IVF_PROBES_CTE},
    scored AS (
      SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm,
             {_cell_scores_sql('embedding')} AS d, cells, probes
      FROM embeddings, nc, np
    ),
    cellassign AS (
      SELECT *, list_transform(list_slice(list_sort(
                  list_transform(range(1, cells + 1),
                                 j -> {{'nv': -d[j], 'i': j}})),
                1, probes), x -> x.i) AS topc
      FROM scored
    ),
    coded AS (
      SELECT c.vec_id AS neighbor_id, c.topc[1] AS cell, p.codes
      FROM cellassign c JOIN (SELECT vec_id, {_PQ_CODES_SQL} AS codes
                              FROM embeddings) p USING (vec_id)
    ),
    qb AS (
      SELECT query_id, topc, {_PQ_LUT_SQL} AS lut, qe, qn
      FROM (SELECT vec_id AS query_id, topc, embedding AS qe, nrm AS qn
            FROM cellassign WHERE vec_id < {N_QUERIES})
    ),
    q AS (SELECT query_id, unnest(topc) AS cell, lut FROM qb),
    adc AS (
      SELECT query_id, neighbor_id,
             list_reduce(list_transform(range(1, {PQ_M + 1}),
               m -> lut[(m - 1) * {PQ_K} + codes[m]]), (x, y) -> x + y)
               AS adc_score
      FROM coded JOIN q USING (cell) WHERE neighbor_id <> query_id
    ),
    shortlist AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY adc_score DESC, neighbor_id) AS srn FROM adc)
      WHERE srn <= {PQ_RERANK}
    ),
    {_V_CTE},
    rerank AS (
      SELECT query_id, neighbor_id,
             {_dot_sql('qb.qe', 'v.embedding')} / (qb.qn * v.nrm) AS cosine
      FROM shortlist s JOIN qb USING (query_id)
                       JOIN v ON s.neighbor_id = v.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rnk FROM rerank)
    WHERE rnk <= {LSH_TOPK}
    """,
    tags=("similarity", "ann", "ivf", "pq"),
)
def e_ivfpq_topk(spark: SparkSession, sf_dir: str, *,
                 ann: DataFrame | None = None,
                 qrows=None) -> DataFrame:
    """IVF+PQ (the FAISS ``IVFADC`` index): probe cells, ADC-scan only
    the probed cells' codes, re-rank the shortlist exactly.

    The composition that runs billion-vector search in practice —
    IVF prunes WHICH codes are read (candidates drop to
    probes × N / cells per query), PQ prunes HOW MANY BYTES each
    candidate costs (4-byte codes), and the float vectors surface
    only for the |Q| × PQ_RERANK re-rank. Both stages reuse the
    catalog's existing machinery verbatim: cell assignment is
    ``_with_probe_cells`` (md5 coarse directions, trained centroids
    drop in), encoding is ``_with_pq_codes``, and the probed join is
    an ordinary broadcast HASH join on the cell id — pair volume is
    small enough that the ADC fold stays a JVM-side expression (no
    partial-top-k machinery needed, unlike the full-scan
    ``e_pq_adc_topk``). The DuckDB oracle is the composition of the
    two stages' existing SQL twins, bit-exact through assignment,
    encoding, LUTs, ADC, and both rankings.

    Cost shape: each run here re-BUILDS the index (cell assignment +
    encoding — two kernel passes over the vectors); the probed ADC
    scan and re-rank are near-free by comparison. In production the
    build is one-time and amortizes over every query batch — the
    per-batch marginal cost is just the scan legs, which read codes
    for probes × N / cells rows per query and floats for
    |Q| × PQ_RERANK rows.
    """
    import numpy as np

    emb = load(spark, sf_dir, "embeddings")
    # ``ann``/``qrows`` (r15): the variant scoreboard passes its shared
    # checkpointed annotated corpus (vec_id, embedding, …, topc, codes)
    # and the one query-row collect, so the assignment/encoding kernels
    # run once per scoreboard, not once per leg. Both kernels are
    # row-wise, so the shared values are identical to a private pass.
    if ann is None:
        n_cells = _active_ivf_cells(spark, sf_dir)
        n_probes = _active_ivf_probes(spark, sf_dir)
        base = emb.select("vec_id", "embedding")
        ann = _with_pq_codes(
            _with_probe_cells(base, spark, n_cells, n_probes)
        )
        if qrows is None:
            # one collect from the SAME annotated subtree the corpus
            # leg scans (pre-r15 ran a second assignment kernel over
            # just the query rows — same values, one extra Python
            # stage); tracked so the collect and the save share the
            # materialized kernel output instead of running it twice
            # (lazy: the collect right below is the materializer).
            ann = track_persist(ann, eager=False)
    corpus = ann.select(
        F.col("vec_id").alias("neighbor_id"),
        F.element_at("topc", 1).alias("cell"),
        "codes",
    )
    if qrows is None:
        qrows = sorted(
            ann.filter(F.col("vec_id") < N_QUERIES)
            .select("vec_id", "embedding", "topc").collect(),
            key=lambda r: r["vec_id"],
        )
    QL = _pq_lut_matrix(np.array([r["embedding"] for r in qrows]))
    qdf = local_df(spark, 
        [
            (int(r["vec_id"]), int(cell), [float(x) for x in QL[i].ravel()])
            for i, r in enumerate(qrows)
            for cell in r["topc"]
        ],
        "query_id long, cell int, lut array<double>",
    )
    scan = (
        corpus.join(F.broadcast(qdf), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _adc_expr().alias("adc_score"))
    )
    return _exact_rerank(emb, _adc_shortlist(scan))


# --------------------------------------------------------------------------
# Scalar quantization (SQ8) ANN: int8-per-dim codes + exact re-rank
# --------------------------------------------------------------------------

SQ_LEVELS = 255  # int8 code range 0..255 per dimension
SQ_RERANK = 20

# per-dim corpus min/max as one broadcastable row — the SQ codebook
_SQ_STATS_CTE = (
    "st AS (SELECT list_value("
    + ", ".join(f"MIN(CAST(embedding[{i}] AS DOUBLE))"
                for i in range(1, DIM + 1))
    + ") AS mins, list_value("
    + ", ".join(f"MAX(CAST(embedding[{i}] AS DOUBLE))"
                for i in range(1, DIM + 1))
    + ") AS maxs FROM embeddings)"
)

# dequantized vector: encode to the nearest of 256 per-dim levels and
# decode back — round() is half-away-from-zero in BOTH engines and the
# operand is ≥ 0 by construction (x ≥ per-dim min), so codes agree
# bit-for-bit; all arithmetic is IEEE double on identical inputs.
_SQ_DEQ_SQL = (
    f"list_transform(range(1, {DIM + 1}), i -> "
    "CASE WHEN maxs[i] = mins[i] THEN mins[i] "
    f"ELSE mins[i] + round({SQ_LEVELS} * "
    "(CAST(embedding[i] AS DOUBLE) - mins[i]) / (maxs[i] - mins[i])) "
    f"* (maxs[i] - mins[i]) / {SQ_LEVELS} END)"
)


@query(
    "e_sq8_topk",
    oracle=f"""
    WITH {_SQ_STATS_CTE},
    coded AS (
      SELECT vec_id AS neighbor_id, {_SQ_DEQ_SQL} AS deq
      FROM embeddings, st
    ),
    cn AS (SELECT neighbor_id, deq, {_norm_sql('deq')} AS cnorm FROM coded),
    {_V_CTE},
    q AS (SELECT vec_id AS query_id, embedding AS qe,
                 {_norm_sql('embedding')} AS qn
          FROM embeddings WHERE vec_id < {N_QUERIES}),
    adc AS (
      SELECT query_id, neighbor_id,
             {_dot_sql('qe', 'deq')} / (qn * cnorm) AS adc_score
      FROM cn, q WHERE neighbor_id <> query_id
    ),
    shortlist AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY adc_score DESC, neighbor_id) AS srn FROM adc)
      WHERE srn <= {SQ_RERANK}
    ),
    rerank AS (
      SELECT query_id, neighbor_id,
             {_dot_sql('q.qe', 'v.embedding')} / (q.qn * v.nrm) AS cosine
      FROM shortlist s JOIN q USING (query_id)
                       JOIN v ON s.neighbor_id = v.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rnk FROM rerank)
    WHERE rnk <= {LSH_TOPK}
    """,
    tags=("similarity", "ann", "sq"),
)
def e_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) ANN: per-dim int8 codes, asymmetric scan,
    exact re-rank — the fourth ANN strategy next to LSH (prunes
    candidates), IVF (prunes cells), and PQ (prunes bytes per
    subspace). SQ prunes bytes per DIMENSION: the codebook is just the
    per-dim corpus [min, max] (one 2×{DIM}-value row, trained in a
    single map-side-combined aggregate pass — vs PQ's iterative
    codebook training), and each vector stores one byte per dim, a 4×
    float32 compression with far better score fidelity than PQ at the
    same simplicity. The scan is asymmetric à la Jégou: queries stay
    float, neighbors are scored through their dequantized codes
    (``min + code·(max−min)/255``), normalized by the DEQUANTIZED
    norm, then the constant-size shortlist re-ranks by exact cosine
    (the scores-are-true contract every ANN variant here honors).

    Scale shape: codebook = one aggregate row, broadcast onto the
    encode pass (map-side, no shuffle); the scan is the
    ``e_cosine_topk`` shape — corpus × broadcast-|Q| with a JVM-side
    fold, no Python — reading 1/4 the bytes a float scan reads from
    storage; the re-rank reads |Q| × {SQ_RERANK} float rows via
    broadcast id joins. No stage shuffles the corpus. Cross-engine
    determinism: the encode rounds a provably non-negative double
    (both engines round half-away-from-zero), and every fold runs in
    array order through the shared ``_dot``/``_norm`` discipline.

    Reference parity: the reference has no vector ops (its analytics
    are Flink SQL over ClickHouse, `gmall-publisher-realtime`); this
    is the beyond-reference LLM-data family (SURVEY §2 additions).
    """
    emb = load(spark, sf_dir, "embeddings")
    # r15: the codebook (per-dim corpus min/max) is collected once via
    # a posexplode aggregate and injected as two LITERAL arrays. The
    # previous form planted 2×{DIM} aggregate expressions plus a
    # crossJoin-broadcast of the 1-row result into the scan — most of
    # the query's wall was Catalyst/codegen over that tree, not
    # execution. Values are identical: min/max over the same doubles,
    # collected exactly, re-emitted as double literals. One extra tiny
    # job (the collect); the scan plan shrinks to the transform fold.
    st_rows = (
        emb.select(F.posexplode("embedding").alias("idx", "xf"))
        .groupBy("idx")
        .agg(F.min(F.col("xf").cast("double")).alias("mn"),
             F.max(F.col("xf").cast("double")).alias("mx"))
        .collect()
    )
    mins = [None] * DIM
    maxs = [None] * DIM
    for r in st_rows:
        mins[r["idx"]] = r["mn"]   # posexplode positions are 0-based
        maxs[r["idx"]] = r["mx"]
    assert None not in mins and None not in maxs
    deq = F.expr(
        f"transform(sequence(1, {DIM}), i -> "
        "CASE WHEN element_at(maxs, i) = element_at(mins, i) "
        "THEN element_at(mins, i) "
        f"ELSE element_at(mins, i) + round({SQ_LEVELS} * "
        "(CAST(element_at(embedding, i) AS DOUBLE) - element_at(mins, i))"
        " / (element_at(maxs, i) - element_at(mins, i))) "
        f"* (element_at(maxs, i) - element_at(mins, i)) / {SQ_LEVELS} END)"
    )
    cn = (
        emb.withColumn("mins", F.array(*[F.lit(v) for v in mins]))
        .withColumn("maxs", F.array(*[F.lit(v) for v in maxs]))
        .select(
            F.col("vec_id").alias("neighbor_id"), deq.alias("deq")
        )
        .withColumn("cnorm", _norm(F.col("deq")))
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        _norm(F.col("embedding")).alias("qn"),
    )
    scan = (
        cn.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            (_dot(F.col("qe"), F.col("deq"))
             / (F.col("qn") * F.col("cnorm"))).alias("adc_score"),
        )
    )
    sw = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), "neighbor_id"
    )
    shortlist = (
        scan.withColumn("srn", F.row_number().over(sw))
        .filter(F.col("srn") <= SQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(emb, shortlist)


def build_ann_index(
    spark: SparkSession, sf_dir: str, index_dir: str,
    cells: int | None = None, cents=None, codebook=None,
) -> int:
    """Materialize the IVF+PQ index ONCE: (vec_id, codes) parquet
    PARTITIONED BY cell under ``index_dir``. Returns the cell count.

    This is the production form of what `e_ivfpq_topk` rebuilds per
    run — the one-time cost (cell assignment + PQ encoding, the two
    kernel passes that dominate that query at scale) is paid here,
    and every later ``search_ann_index`` batch reads ONLY the probed
    cells' code files via parquet partition pruning: at 100 TB of
    floats the per-batch I/O is probes × (corpus/cells) / 64 bytes.
    ``cents``/``codebook`` take trained quantizers (``ivf_train`` /
    ``pq_train``); the md5 defaults keep the result byte-identical
    to the catalog query's in-flight structures.
    """
    if cells is None:
        cells = _active_ivf_cells(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = _with_pq_codes(
        _with_probe_cells(emb, spark, cells, 1, cents=cents),
        codebook=codebook,
    ).select(
        "vec_id", F.element_at("topc", 1).alias("cell"), "codes"
    )
    # cluster by cell before the partitioned write: without it every
    # task emits a file into every cell it touches (tasks × cells
    # small files — measured 45k files and a partition-metadata cache
    # eviction at 2M vectors / 1415 cells); clustered, each cell is
    # one file and search planning reads one footer per probed cell.
    idx.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(index_dir)
    return cells


def append_ann_index(
    spark: SparkSession, delta: DataFrame, index_dir: str, cells: int,
    cents=None, codebook=None,
) -> None:
    """Incrementally maintain a ``build_ann_index`` store: encode
    ONLY ``delta`` (vec_id, embedding) and append its code files into
    the cell partitions — no rebuild, no read of existing data.
    Quantizers must be the ones the index was built with (cells /
    cents / codebook are structural: changing them invalidates every
    existing code). Searches pick the new vectors up immediately —
    parquet partition append is file-level, so a crash mid-append
    leaves at most torn .parquet temp files Spark's committer
    discards. The maintenance story of the streaming corpus: the
    semantic-dedup survivor stream's accepted vectors land here
    batch-by-batch instead of re-encoding the corpus.
    """
    idx = _with_pq_codes(
        _with_probe_cells(
            delta.select("vec_id", "embedding"), spark, cells, 1,
            cents=cents,
        ),
        codebook=codebook,
    ).select("vec_id", F.element_at("topc", 1).alias("cell"), "codes")
    idx.repartition("cell").write.mode("append").partitionBy(
        "cell"
    ).parquet(index_dir)


def search_ann_index(
    spark: SparkSession, sf_dir: str, index_dir: str, cells: int,
    probes: int | None = None, topk: int = LSH_TOPK,
    cents=None, codebook=None,
) -> DataFrame:
    """Query a ``build_ann_index`` store: probe cells, ADC-scan only
    the probed partitions' codes, exact re-rank against the source
    floats. Result-identical to `e_ivfpq_topk` built with the same
    quantizers (pinned in tests), but the corpus-side kernels never
    run — the scan reads pre-encoded codes, and the driver-known
    probe list becomes a STATIC partition filter (PartitionFilters
    in the scan node, asserted in tests), so non-probed cells are
    never opened. ``probes`` defaults to the env pin or the
    scanned-fraction rule over THIS index's cell count (matching the
    catalog query's active value when the index was built at the
    derived geometry).
    """
    import numpy as np

    if probes is None:
        probes = (
            int(_IVF_PROBES_ENV) if _IVF_PROBES_ENV else ivf_probes_for(cells)
        )

    emb = load(spark, sf_dir, "embeddings")
    qrows = sorted(
        _with_probe_cells(
            emb.filter(F.col("vec_id") < N_QUERIES)
            .select("vec_id", "embedding"),
            spark, cells, probes, cents=cents,
        ).select("vec_id", "embedding", "topc").collect(),
        key=lambda r: r["vec_id"],
    )
    QL = _pq_lut_matrix(
        np.array([r["embedding"] for r in qrows]), codebook=codebook
    )
    qdf = local_df(spark, 
        [
            (int(r["vec_id"]), int(cell), [float(x) for x in QL[i].ravel()])
            for i, r in enumerate(qrows)
            for cell in r["topc"]
        ],
        "query_id long, cell int, lut array<double>",
    )
    probed_cells = sorted({int(c) for r in qrows for c in r["topc"]})
    idx = (
        spark.read.parquet(index_dir)
        .filter(F.col("cell").isin(probed_cells))
        .withColumnRenamed("vec_id", "neighbor_id")
    )
    scan = (
        idx.join(F.broadcast(qdf), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _adc_expr().alias("adc_score"))
    )
    return _exact_rerank(emb, _adc_shortlist(scan), topk=topk)


def pq_train(
    spark: SparkSession, sf_dir: str, iters: int = 2,
    emb: DataFrame | None = None,
):
    """Train the PQ codebook: ``iters`` Lloyd rounds of per-subspace
    k-means over the corpus subvectors, seeded by the md5 codewords.

    Returns a (PQ_M × PQ_K × PQ_DSUB) float64 array ready for
    ``_with_pq_codes(..., codebook=...)`` / ``_pq_lut_matrix``. Each
    round: one encode pass (the ADC kernel with the L2 correction),
    then per-(subspace, codeword, local-dim) means via a map-side-
    combined groupBy — the collect is PQ_M × PQ_K × PQ_DSUB doubles
    (1 024 at the defaults, 8 KB), never the vectors. Codewords that
    attract no subvectors keep their previous value (the standard
    empty-cluster rule). Training is an engine feature, not a catalog
    query — trained codewords are data the oracle cannot regenerate
    (same policy as ``ivf_train``); ``tests/test_ann_recall.py`` pins
    monotone reconstruction-error improvement instead.

    DETERMINISM (round 10): like ``ivf_train``, the per-(m, k, i)
    means are exact-decimal sums over counts, so the trained codebook
    is invariant to input partition order/count (float avg() was not;
    encode tie-breaks were already order-free — np.argmax first-index
    over row-local sequential folds). ``emb`` lets the permutation
    property test inject a reshuffled corpus.
    """
    import numpy as np

    if emb is None:
        emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = _pq_codebook()
    for _ in range(iters):
        coded = _with_pq_codes(emb, codebook=cb)
        pe = coded.select(
            F.col("codes"), F.posexplode("embedding").alias("gidx", "x")
        ).select(
            (F.col("gidx") / PQ_DSUB).cast("int").alias("m"),
            F.element_at(
                "codes", (F.col("gidx") / PQ_DSUB).cast("int") + 1
            ).alias("k"),
            (F.col("gidx") % PQ_DSUB).alias("i"),
            F.col("x").cast("double").alias("x"),
        )
        means = (
            pe.groupBy("m", "k", "i")
            .agg(
                (F.sum(F.col("x").cast("decimal(38,18)"))
                 / F.count(F.lit(1))).cast("double").alias("mu")
            )
            .collect()
        )
        nxt = cb.copy()
        for r in means:
            nxt[r["m"], r["k"] - 1, r["i"]] = r["mu"]
        cb = nxt
    return cb


def pq_reconstruction_error(spark: SparkSession, sf_dir: str, codebook) -> float:
    """Mean squared L2 reconstruction error of the corpus under
    ``codebook`` — the objective Lloyd descends (training audit)."""
    import numpy as np

    cb = np.asarray(codebook, dtype=np.float64)
    coded = _with_pq_codes(
        load(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        codebook=cb,
    )

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            EF = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64) - 1
            err = np.zeros(len(pdf))
            for m in range(PQ_M):
                recon = cb[m, codes[:, m]]
                d = EF[:, m * PQ_DSUB:(m + 1) * PQ_DSUB] - recon
                err += (d * d).sum(axis=1)
            yield pd.DataFrame({"s": [float(err.sum())], "n": [len(pdf)]})

    parts = coded.mapInPandas(fn, "s double, n long").agg(
        F.sum("s").alias("s"), F.sum("n").alias("n")
    ).collect()[0]
    return parts["s"] / parts["n"]


# --------------------------------------------------------------------------
# Cross-variant ANN recall scoreboard
# --------------------------------------------------------------------------

# Audited variants (name -> Spark fn resolved at module scope). Their
# oracle SQL is composed verbatim from the registry at decoration time
# — by this point in the module every variant is registered.
_ANN_VARIANTS = (
    "e_ann_lsh_topk",
    "e_ann_ivf_topk",
    "e_pq_adc_topk",
    "e_ivfpq_topk",
    "e_sq8_topk",
)

def _variant_recall_oracle() -> str:
    from flink_spark.registry import _REGISTRY

    qfilter = _recall_sample_sql()
    denom = (RECALL_SAMPLE or N_QUERIES) * LSH_TOPK
    ctes = ",\n    ".join(
        f"v_{n} AS ({_REGISTRY[n].oracle})" for n in _ANN_VARIANTS
    )
    legs = "\n    UNION ALL\n    ".join(
        f"""SELECT '{n}' AS variant,
           CAST(COUNT(v.neighbor_id) AS BIGINT) AS hits,
           CAST(COUNT(v.neighbor_id) AS DOUBLE)
             / {denom} AS recall
    FROM exk e LEFT JOIN v_{n} v
      ON e.query_id = v.query_id AND e.neighbor_id = v.neighbor_id"""
        for n in _ANN_VARIANTS
    )
    return f"""
    WITH ex AS ({_EXACT_TOPK_ORACLE}),
    exk AS (SELECT query_id, neighbor_id FROM ex
            WHERE rnk <= {LSH_TOPK}{qfilter}),
    {ctes}
    {legs}
    """


@query(
    "e_ann_variant_recall",
    oracle=_variant_recall_oracle(),
    tags=("similarity", "ann", "audit"),
)
def e_ann_variant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{LSH_TOPK} of EVERY ANN variant against exact truth, one
    scoreboard row per variant.

    The family summary an index operator reads first: LSH / IVF /
    PQ-ADC / IVF+PQ / SQ8 each trade recall for a different pruned
    resource (candidates / cells / bytes-per-subspace / both /
    bytes-per-dim), and ``e_ann_recall_audit`` exposes only the IVF
    leg per-query. This query runs all five production paths and the
    brute-force truth in one plan and reports corpus-level hits and
    recall per variant — the table that says which shortcut is safe
    for a given recall budget AT THE ACTIVE settings (each leg derives
    its own sizing, and the oracle composes each variant's registered
    SQL verbatim, so the scoreboard re-derives whatever the production
    chains would do). Recall is an exact integer ratio — bit-exact
    compare.

    Cost shape: the composition of the six queries it audits, each
    with its documented scale story; the scoreboard itself adds five
    k·|Q|-row joins and a 5-row union. Audit-bounded by N_QUERIES —
    or by the ``FLINK_SPARK_RECALL_SAMPLE`` subsample (see the knob
    comment above ``recall_sample_ids``): the query-id filter pushes
    down through every leg, shrinking the brute-force truth cost
    proportionally, so the scoreboard can ride in per-corpus
    production jobs rather than only audits.
    """
    # r15 (VERDICT r14 #4): the IVF and PQ legs used to each run their
    # own corpus annotation kernels (cell assignment, PQ encoding) and
    # their own query-row collects — three Python-stage pipelines and
    # two collects deriving THE SAME values. One shared annotated
    # corpus (vec_id, embedding, nrm, topc, codes) is built behind a
    # single lazy checkpoint; the query-row collect below materializes
    # it, and the ivf / pq_adc / ivfpq legs all scan the shared
    # barrier (``Scan ExistingRDD`` in their plans). Both kernels are
    # row-wise, so every leg sees values identical to a private pass
    # (oracle re-verified). The lsh / sq8 / exact legs have no shared
    # derivation and are unchanged.
    n_cells = _active_ivf_cells(spark, sf_dir)
    n_probes = _active_ivf_probes(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    ann = track_persist(
        _with_pq_codes(_with_probe_cells(
            emb.select("vec_id", "embedding",
                       _norm(F.col("embedding")).alias("nrm")),
            spark, n_cells, n_probes,
        )),
        eager=False,  # the qrows collect right below materializes it
    )
    qrows = sorted(
        ann.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding", "topc").collect(),
        key=lambda r: r["vec_id"],
    )
    coded = ann.select(F.col("vec_id").alias("neighbor_id"), "codes")
    fns = {
        "e_ann_lsh_topk": lambda: e_ann_lsh_topk(spark, sf_dir),
        "e_ann_ivf_topk": lambda: ivf_topk(spark, sf_dir, probed=ann),
        "e_pq_adc_topk": lambda: e_pq_adc_topk(
            spark, sf_dir, coded=coded, qrows=qrows),
        "e_ivfpq_topk": lambda: e_ivfpq_topk(
            spark, sf_dir, ann=ann, qrows=qrows),
        "e_sq8_topk": lambda: e_sq8_topk(spark, sf_dir),
    }
    ids = recall_sample_ids(RECALL_SAMPLE) if RECALL_SAMPLE else None
    denom = (len(ids) if ids is not None else N_QUERIES) * LSH_TOPK
    exact = e_cosine_topk(spark, sf_dir).filter(F.col("rnk") <= LSH_TOPK)
    if ids is not None:
        exact = exact.filter(F.col("query_id").isin(ids))
    exact = track_persist(exact.select("query_id", "neighbor_id"))

    def build_leg(name: str) -> DataFrame:
        got = fns[name]()
        if ids is not None:
            got = got.filter(F.col("query_id").isin(ids))
        got = got.select("query_id", F.col("neighbor_id").alias("_vn"))
        return (
            exact.join(
                got,
                (exact.query_id == got.query_id)
                & (exact.neighbor_id == got._vn),
                "left",
            )
            .agg(
                F.count("_vn").cast("long").alias("hits"),
                (F.count("_vn").cast("double") / denom).alias("recall"),
            )
            .select(F.lit(name).alias("variant"), "hits", "recall")
        )

    # The five legs are independent plan builds, each paying its own
    # plan-build-time scalar jobs (query-vector collects, knob
    # derivations, materialization barriers). Built sequentially those
    # jobs serialize on the driver; a small thread pool overlaps them
    # so one leg's collect fills the cores another leg's barrier just
    # freed (guide §2.6 — overlap independent jobs). Output order is
    # pinned by the ordered union below, so results are unchanged.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        legs = list(pool.map(build_leg, _ANN_VARIANTS))
    out = None
    for leg in legs:
        out = leg if out is None else out.unionByName(leg)
    return out


# --------------------------------------------------------------------------
# Materialized-index search, driven inside the correctness gate
# --------------------------------------------------------------------------

def _indexed_search_oracle() -> str:
    from flink_spark.registry import _REGISTRY

    # result-identical to the in-flight IVF+PQ query by construction
    # (same md5 quantizers; pinned in tests) — its oracle IS the truth
    return _REGISTRY["e_ivfpq_topk"].oracle


@query(
    "e_indexed_search_topk",
    oracle=_indexed_search_oracle(),
    tags=("similarity", "ann", "ivf", "pq", "index"),
)
def e_indexed_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION index path, end-to-end inside the correctness
    gate: ``build_ann_index`` materializes the cell-partitioned PQ
    code store once, ``search_ann_index`` probes it with a STATIC
    partition filter (non-probed cells never open), and the result is
    hash-compared against ``e_ivfpq_topk``'s oracle — the in-flight
    query it is result-identical to by construction (same md5
    quantizers).

    Until now this path lived only in pytest
    (``tests/test_ann_recall.py`` pins result-equality and the
    PartitionFilters plan node); as a catalog query the driver
    re-proves per snapshot that the one-time-build + pruned-read
    dataflow — the shape that actually serves batches at 100 TB, with
    per-batch I/O of probes × (corpus/cells)/64 bytes — returns the
    same answers as the rebuild-per-run query. Bounded by
    construction: the index is corpus-sized parquet in a temp dir
    (gate scale), deleted before returning; the |Q| × k result
    materializes so cleanup can happen eagerly.
    """
    import shutil
    import tempfile

    idx_dir = tempfile.mkdtemp(prefix="flink_spark-ann-index-")
    try:
        cells = build_ann_index(spark, sf_dir, idx_dir)
        out = search_ann_index(spark, sf_dir, idx_dir, cells)
        rows = out.collect()  # |Q| × k rows by construction
        return local_df(spark, 
            rows, "query_id long, neighbor_id long, rnk long, cosine double"
        )
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
