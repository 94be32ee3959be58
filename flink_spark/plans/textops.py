"""Text-pipeline operators over ``documents``: dedup family + analysis.

The reference's only text operator is the IK-segmentation UDTF used with
``LATERAL TABLE`` + window count (rt/app/func/SplitFunction.java:12-27,
rt/app/dws/DwsTrafficSourceKeywordPageViewWindow.java:60-79). We
generalize that surface into the operators a large-scale training-data
pipeline needs — exact dedup, n-gram Jaccard near-dup, MinHash-LSH,
SimHash, token/quality/lang-id analysis — all expression-based
(JVM-side, whole-stage codegen; no Python UDFs anywhere).

Oracle determinism strategy
---------------------------
Every query here is checked against a DuckDB oracle, including the
LSH ones. That works because all randomness is derived from ``md5``
(identical hex output in both engines) and all arithmetic is integer
or exact-ratio-of-integers (bit-identical IEEE division), never an
order-dependent float accumulation:

- MinHash_j(doc)  = min over shingles s of (h1(s) + j*h2(s)) where
  h1/h2 are the two leading 32-bit words of md5(s) — one md5 per
  shingle (Kirsch-Mitzenmacher double hashing), pure integer mins.
- LSH band key    = md5(band_idx || '|' || sig_j ... ) — candidate
  pairs are docs sharing any band key; verified with exact Jaccard.
- SimHash bit b   = sign of Σ_tokens (nibble-bit b of md5(token) ? +1 : -1).

Scale notes (100 TB stance)
---------------------------
- Near-dup is NEVER an all-pairs cross join. ``t_ngram_jaccard_pairs``
  is an inverted-index self-join on shingles with a document-frequency
  cap (hot shingles are dropped — the classic stop-shingle filter that
  bounds the join's skew); ``t_minhash_lsh_dups`` reduces each doc to a
  16-value signature and joins on 4 banded keys, so the join input is
  O(docs), not O(shingles), and verification runs only on candidates.
- All aggregations are map-side partial (sums/mins of fixed columns).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_spark.functions.text import (
    fingerprint,
    md5_long,
    norm_sql,
    normalize_text,
    tokenize,
    toks_sql,
    word_shingles,
)
from flink_spark.plans.graph import CC_SQL_CTES, connected_components
from flink_spark.plans.pairjoin import pair_self_join
from flink_spark.registry import query, track_persist
from flink_spark.sources import (local_df, load, load_spread,
                                 spread_width, table_rows)

# --- shared constants (mirrored literally in the DuckDB oracles) ---

STOPWORDS = ("the", "a", "of", "and", "to", "in")
SHINGLE_N = 3          # 3-word shingles
DF_CAP = 100           # drop shingles appearing in >100 docs (stop-shingle filter)
# hash_quota_heads: skip the phase-2 refinement count when the quota
# boundary bucket already fits a comfortable single-task sort — the
# n/65536 sliver target; the refinement only pays for itself above it
MIX_SLIVER_MAX = 65536
JACCARD_THRESHOLD = 0.8
MINHASHES = 16         # 16 hashes = 4 bands x 4 rows
LSH_BANDS = 4
# Leakage-safe split clustering threshold, decoupled from the dedup
# threshold (round 10): eval-integrity practice clusters at a LOWER
# similarity for split ASSIGNMENT than for REMOVAL — near-copies
# (>= JACCARD_THRESHOLD) are deleted outright, while paraphrase-level
# pairs below it should still be forbidden from straddling train/val.
# The split keys on the same pair graph as dedup (the r9 behavior);
# both the Spark plan and the generated DuckDB oracle read these
# constants, so they always agree. ``t_leakage_safe_split_loose``
# exercises the loose value as a first-class catalog query.
SPLIT_JACCARD = JACCARD_THRESHOLD
LOOSE_SPLIT_JACCARD = 0.5
# SimHash width is the corpus-size knob for the hamming-band self-join:
# candidates per chunk scale with (n_docs / 2^chunk_bits)^2, so the
# signature must widen as the corpus grows (rule of thumb: chunk_bits
# >= log2(n_docs) - 5). By default the rule is COMPUTED, not documented:
# with the env knob unset, the Spark plan derives the width from a
# cheap doc count at build time, and the DuckDB oracle derives the SAME
# width inside SQL (it always builds the max 56-bit signature and masks
# down — signature bit b is width-independent, so a masked 56-bit
# signature equals the natively-built narrower one). Setting
# FLINK_SPARK_SIMHASH_BITS pins a fixed width on both sides; valid
# widths are any multiple of 4 in [16, 56] (whole md5 nibbles; chunk
# extraction is pure bit arithmetic, so chunks need no nibble
# alignment; <= 56 keeps signature and token hash inside int64).
_SIMHASH_ENV = os.environ.get("FLINK_SPARK_SIMHASH_BITS")
SIMHASH_BITS = int(_SIMHASH_ENV) if _SIMHASH_ENV else 32  # fixed-mode width
HAMMING_MAX = 3
SIMHASH_CHUNKS = HAMMING_MAX + 1   # pigeonhole: hamming<=3 ⇒ 1 equal chunk
SIMHASH_MAX_BITS = 56
assert SIMHASH_BITS % 4 == 0 and 16 <= SIMHASH_BITS <= SIMHASH_MAX_BITS


def simhash_bits_for(n: int) -> int:
    """Signature width for an n-doc corpus: 4 × clamp(⌈log2 n⌉−8, 8, 14).

    chunk_bits = log2(n) − 8 keeps expected same-chunk collisions per
    doc near 2^8 — measured to be where the candidate join is still
    cheap (32 bits ran 1.9 s on the 65k-doc suite) while the 10× corpus
    gets the measured-good 48 bits (SCALING.md). A wider floor buys
    nothing below ~65k docs but pays real whole-stage-codegen compile
    time (the signature agg is one expression per bit). The floor of 8
    (32 bits) keeps the signature selective on small corpora, the cap
    of 14 (56 bits) is the int64 budget. The SQL twin lives in
    ``_SIMHASH_BITS_CTE``.
    """
    chunk = min(14, max(8, math.ceil(math.log2(max(n, 2))) - 8))
    return 4 * chunk


if _SIMHASH_ENV:
    _SIMHASH_BITS_CTE = f"nbits(bits) AS (SELECT {int(_SIMHASH_ENV)})"
else:
    _SIMHASH_BITS_CTE = (
        "nbits(bits) AS (SELECT 4 * LEAST(14, GREATEST(8, "
        "CAST(ceil(log2(COUNT(*))) AS INTEGER) - 8)) FROM documents)"
    )

# DuckDB fragments
# DuckDB mirrors of normalize_text/tokenize — CJK-aware (identical to
# the old ASCII-only split on ASCII corpora; see functions/text.py)
_NORM = norm_sql("text")
_TOKS = toks_sql("text")
_STOP_LIST = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"

# shared CTE prefix: normalized tokens and distinct 3-shingle lists
_SHINGLE_CTE = f"""
    norm AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - {SHINGLE_N - 2}),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sl
      FROM norm WHERE len(t) >= {SHINGLE_N}
    ),
    ex AS (SELECT doc_id, unnest(sl) AS s FROM sh)
"""


def _shingled(
    spark: SparkSession, sf_dir: str, persist: bool = False,
    spread: bool = True,
):
    """(sh, ex): per-doc distinct shingle arrays and their exploded form.

    ``persist=True`` caches the shingle table: the near-dup queries
    reference it from several plan branches (signatures + both sides
    of candidate verification), and without a cache Spark re-runs the
    tokenize→shingle pipeline once per branch. At cluster scale this
    materialization is the "shingle table" stage of any LSH pipeline.

    ``spread=False`` keeps the plain single-split scan for consumers
    that only PROBE the shingle stream against a broadcast set (the
    decontamination audits) — there the extra exchange measured
    slower, while every self-join consumer measured faster spread
    (OPTIMIZATION_r14.md).
    """
    # cpu_factor 10: the shingle->md5->MinHash map stage is ~10x more
    # CPU per byte than a plain tokenize reader (r15 width A/B: the
    # chain-audit family needs full core width where the light
    # readers measured fastest at ~10 tasks)
    docs = (load_spread(spark, sf_dir, "documents", "doc_id",
                        cpu_factor=10.0) if spread
            else load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", tokenize("text").alias("t"))
    sh = toks.filter(F.size("t") >= SHINGLE_N).select(
        "doc_id", F.array_distinct(word_shingles(F.col("t"), SHINGLE_N)).alias("sl")
    )
    if persist:
        # lazy barrier (r15): every consumer chain's first action on
        # the shingle table (band-probe count or a downstream barrier)
        # fully scans it — the eager job was one fixed job per query
        sh = track_persist(sh, eager=False)
    ex = sh.select("doc_id", F.explode("sl").alias("s"))
    return sh, ex


# --------------------------------------------------------------------------
# Token / length statistics (token counting for a data pipeline)
# --------------------------------------------------------------------------

@query(
    "t_token_stats",
    oracle=f"""
    SELECT source,
           COUNT(*) AS doc_ct,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS token_total,
           CAST(SUM(len({_TOKS})) AS DOUBLE) / COUNT(*) AS avg_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS char_total
    FROM documents
    GROUP BY source
    """,
    tags=("textops", "tokens"),
)
def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token counting (whitespace + regex pre-tokenization).

    Generalizes F1 tokenization (rt/utils/KeyWordUtil.java:13-33) into
    corpus-level token statistics. Pure expression pipeline — size() of
    a split stays inside whole-stage codegen; one scan, one shuffle of
    |sources| partial rows.
    """
    docs = load(spark, sf_dir, "documents")
    # project the token count once so the regex/split pipeline runs a
    # single time per row (two agg references would evaluate it twice)
    toks = docs.select("source", "n_chars", F.size(tokenize("text")).alias("ntok"))
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("doc_ct"),
        F.sum("ntok").cast("long").alias("token_total"),
        (F.sum("ntok").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.sum("n_chars").cast("long").alias("char_total"),
    )


@query(
    "t_vocab_prune",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, source, unnest({_TOKS}) AS w FROM documents
    ),
    ex2 AS (SELECT * FROM ex WHERE w <> ''),
    n(total) AS (SELECT COUNT(*) FROM documents),
    stop AS (
      SELECT w FROM (
        SELECT w, COUNT(DISTINCT doc_id) AS df FROM ex2 GROUP BY w
      ), n
      WHERE 2 * df > total
    )
    SELECT e.source,
           COUNT(DISTINCT e.doc_id) AS doc_ct,
           COUNT(*) AS token_total,
           CAST(SUM(CASE WHEN s.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS tokens_kept,
           COUNT(DISTINCT e.w) AS vocab,
           COUNT(DISTINCT CASE WHEN s.w IS NULL THEN e.w END) AS vocab_kept
    FROM ex2 e LEFT JOIN stop s ON e.w = s.w
    GROUP BY e.source
    """,
    tags=("textops", "tokens", "vocab"),
)
def t_vocab_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-token pruning: drop tokens present in >50% of docs.

    The CCNet/tokenizer-prep stage the catalog lacked: corpus-derived
    document frequency marks boilerplate tokens (navigation chrome,
    template words — anything in more than half the documents), and
    per-source stats audit what pruning would remove. The threshold is
    integer-exact (``2·df > n_docs``, both engines derive n_docs from
    the same count — the standard knob mechanism), so the oracle
    compare is exact.

    Scale shape: one explode pass, a (doc, token)-distinct aggregation
    for df, and the stoplist — tiny by construction (tokens in >50% of
    a diverse corpus are few) — broadcasts back onto the token stream
    as a map-side anti-probe. No shuffle grows with the stoplist.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    total = table_rows(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id", "source", F.explode(tokenize("text")).alias("w")
    ).filter(F.col("w") != "")
    df_tbl = (
        ex.select("doc_id", "w").distinct()
        .groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    )
    stop = df_tbl.filter(2 * F.col("df") > total).select(
        "w", F.lit(1).alias("_stop")
    )
    tagged = ex.join(F.broadcast(stop), "w", "left")
    kept = F.col("_stop").isNull()
    return tagged.groupBy("source").agg(
        F.countDistinct("doc_id").alias("doc_ct"),
        F.count(F.lit(1)).alias("token_total"),
        F.sum(kept.cast("int")).cast("long").alias("tokens_kept"),
        F.countDistinct("w").alias("vocab"),
        F.countDistinct(F.when(kept, F.col("w"))).alias("vocab_kept"),
    )


REPEAT_N = 10  # token span length for the repeated-substring signal


def _gram_sql(n: int) -> str:
    """n-token sliding-window grams of token list ``t`` (positional,
    NOT distinct — the SQL twin of ``word_shingles(t, n)``)."""
    concat = " || ' ' || ".join(f"t[i+{k}]" for k in range(n))
    return f"list_transform(range(1, len(t) - {n - 2}), i -> {concat})"


@query(
    "t_substring_dedup",
    oracle=f"""
    WITH norm AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
    g AS (
      SELECT doc_id, source, u.i AS i, u.g AS gram
      FROM (
        SELECT doc_id, source,
               unnest(list_transform(range(1, len(t) - {REPEAT_N - 2}),
                      i -> {{'i': i, 'g': {" || ' ' || ".join(f"t[i+{k}]" for k in range(REPEAT_N))}}})) AS u
        FROM norm WHERE len(t) >= {REPEAT_N}
      )
    ),
    marked AS (
      SELECT doc_id, source, i,
             ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn
      FROM g
    ),
    covered AS (
      SELECT DISTINCT doc_id, p FROM (
        SELECT doc_id, unnest(range(i, i + {REPEAT_N})) AS p
        FROM marked WHERE rn > 1
      )
    ),
    cuts AS (SELECT doc_id, COUNT(*) AS cut FROM covered GROUP BY doc_id),
    per AS (
      SELECT n.doc_id, n.source, len(n.t) AS n_tok, COALESCE(cut, 0) AS cut
      FROM norm n LEFT JOIN cuts USING (doc_id)
      WHERE len(n.t) >= {REPEAT_N}
    )
    SELECT source,
           COUNT(*) AS scored_docs,
           CAST(SUM(CASE WHEN cut > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_touched,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(cut) AS BIGINT) AS removed_tokens,
           CAST(SUM(n_tok) - SUM(cut) AS DOUBLE) / SUM(n_tok)
             AS kept_token_frac
    FROM per
    GROUP BY source
    """,
    tags=("textops", "dedup", "substring"),
)
def t_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact-substring dedup accounting (keep-first spans).

    The dedup pass MinHash cannot do (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"; the RefinedWeb/GPT-3
    exact-substring stage): every repeated {REPEAT_N}-token span keeps
    its FIRST corpus occurrence (ordered by (doc_id, position)) and
    every later occurrence is excised. Overlapping repeated spans
    union set-wise, exactly like ``t_decontaminate_spans``. Output per
    source: the surgery bill — docs touched, tokens removed, surviving
    token fraction. ``t_repeated_ngram_coverage`` is this operator's
    read-only audit; this one pins WHICH positions a full substring
    dedup would cut.

    Scale shape vs a literal suffix array: the suffix-array
    formulation needs a global sort of all corpus suffixes; the
    fixed-width gram formulation is the standard distributed
    approximation (spans ≥ {REPEAT_N} tokens are caught exactly —
    every length-{REPEAT_N} window of a longer repeat is itself
    repeated). "All but the first occurrence" is computed as a
    per-gram ``min(struct(doc_id, i))`` aggregate joined back on the
    gram — NOT a per-gram window — because the two differ exactly
    where 100 TB hurts: a Zipfian boilerplate gram with millions of
    occurrences is one unsplittable task under a window, while the
    min-struct aggregate collapses map-side (partial agg) and the
    join back is an AQE-skew-splittable shuffle (the same shape
    ``t_repeated_ngram_coverage`` uses for its frequency join). The
    cut stream then collapses per doc. Integer-exact, identical
    output to the keeper-window formulation (struct ordering IS
    (doc_id, i) lexicographic order — pinned by
    ``test_substring_dedup_keeper_formulations_agree``).
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    t = docs.select("doc_id", "source", tokenize("text").alias("t")).filter(
        F.size("t") >= REPEAT_N
    )
    g = t.select(
        "doc_id",
        F.posexplode(word_shingles(F.col("t"), REPEAT_N)).alias("i", "gram"),
    ).select(
        "doc_id", "i",
        # both wide stages key on the gram IDENTITY, never its text:
        # a 16-byte md5 digest (the same canon t_exact_dedup uses,
        # collision-free at any corpus size that fits on hardware)
        # shuffles ~4x less than the ~10-token gram string
        F.unhex(F.md5("gram")).alias("gk"),
    )
    # the first-occurrence agg and the join probe share the positional
    # gram stream — persist the digest form once (~28 B/row) instead
    # of re-running tokenize + shingle + md5 for the probe branch
    g = track_persist(g)
    first = (
        g.groupBy("gk")
        .agg(
            F.min(F.struct("doc_id", "i")).alias("_first"),
            F.count(F.lit(1)).alias("_ct"),
        )
        # unique grams (the vast majority of a healthy corpus) never
        # enter the join: a sole occurrence IS its own first. The build
        # side shrinks to the repeated-gram table.
        .filter(F.col("_ct") > 1)
    )
    cuts = (
        g.join(first, "gk")
        .filter(F.struct("doc_id", "i") != F.col("_first"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (REPEAT_N - 1))
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("cut"))
    )
    per = (
        t.select("doc_id", "source", F.size("t").alias("n_tok"))
        .join(cuts, "doc_id", "left")
        .withColumn("cut", F.coalesce("cut", F.lit(0)))
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("scored_docs"),
        F.sum((F.col("cut") > 0).cast("int")).cast("long")
        .alias("docs_touched"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum("cut").cast("long").alias("removed_tokens"),
        ((F.sum("n_tok") - F.sum("cut")).cast("double") / F.sum("n_tok"))
        .alias("kept_token_frac"),
    )


@query(
    "t_repeated_ngram_coverage",
    oracle=f"""
    WITH norm AS (SELECT source, {_TOKS} AS t FROM documents),
    g AS (
      SELECT source, unnest({_gram_sql(REPEAT_N)}) AS gram
      FROM norm WHERE len(t) >= {REPEAT_N}
    ),
    freq AS (SELECT gram, COUNT(*) AS ct FROM g GROUP BY gram)
    SELECT source,
           COUNT(*) AS span_positions,
           CAST(SUM(CASE WHEN ct > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS repeated_positions,
           CAST(SUM(CASE WHEN ct > 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS repeat_ratio
    FROM g JOIN freq USING (gram)
    GROUP BY source
    """,
    tags=("textops", "dedup", "substring"),
)
def t_repeated_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated {REPEAT_N}-token-span coverage (exact-substring signal).

    The signal behind exact-substring deduplication (the
    GPT-3/RefinedWeb pass that MinHash misses: long verbatim spans
    inside otherwise-distinct documents): every {REPEAT_N}-token
    sliding window is a span position, and a position is REPEATED when
    its exact token span occurs more than once in the corpus. Per
    source: span positions, repeated positions, and the repeat ratio —
    the corpus-health number a dedup pass is judged by. A full
    substring-dedup would drop the repeated spans; this operator is
    its audit/planning stage, all integer counts ⇒ oracle-exact.

    Scale shape: positional grams explode ~|tokens| rows, but they
    cross the wire ONCE — a map-side-combined (gram, source) count
    collapses duplicates before the shuffle, a gram-partitioned window
    attaches the corpus-wide total to each group (the former
    formulation joined the raw position rows back against the
    frequency table, shuffling the position-sized stream a second time
    and re-running the tokenizer for it), and the final per-source agg
    moves |grams × sources| rows. A pathological million-fold span is
    ONE group row with ct_src = 1e6, not a million-row join fan-out.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    t = docs.select("source", tokenize("text").alias("t")).filter(
        F.size("t") >= REPEAT_N
    )
    g = t.select(
        "source", F.explode(word_shingles(F.col("t"), REPEAT_N)).alias("gram")
    )
    gs = g.groupBy("gram", "source").agg(F.count(F.lit(1)).alias("ct_src"))
    tot = F.sum("ct_src").over(Window.partitionBy("gram"))
    rep = (F.col("tot") > 1).cast("long")
    return (
        gs.withColumn("tot", tot)
        .groupBy("source")
        .agg(
            F.sum("ct_src").cast("long").alias("span_positions"),
            F.sum(rep * F.col("ct_src")).cast("long")
            .alias("repeated_positions"),
            (F.sum(rep * F.col("ct_src")).cast("double")
             / F.sum("ct_src")).alias("repeat_ratio"),
        )
    )


@query(
    "t_source_overlap",
    oracle=f"""
    WITH norm AS (SELECT source, {_TOKS} AS t FROM documents),
    shl AS (
      SELECT source,
             list_distinct(list_transform(range(1, len(t) - {SHINGLE_N - 2}),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sl
      FROM norm WHERE len(t) >= {SHINGLE_N}
    ),
    ss AS (SELECT DISTINCT source, s
           FROM (SELECT source, unnest(sl) AS s FROM shl)),
    tot AS (SELECT source, COUNT(*) AS tot FROM ss GROUP BY source),
    pairs AS (
      SELECT a.source AS src1, b.source AS src2, COUNT(*) AS shared
      FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src1, src2,
           CAST(shared AS BIGINT) AS shared_shingles,
           CAST(t1.tot AS BIGINT) AS shingles_1,
           CAST(t2.tot AS BIGINT) AS shingles_2,
           CAST(shared AS DOUBLE) / LEAST(t1.tot, t2.tot) AS overlap
    FROM pairs
    JOIN tot t1 ON src1 = t1.source
    JOIN tot t2 ON src2 = t2.source
    """,
    tags=("textops", "dedup", "lineage"),
)
def t_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shingle-overlap matrix (contamination lineage).

    The audit that catches train/eval leakage BETWEEN sources before
    it poisons a data mix: for every source pair, how many distinct
    3-shingles they share, and the overlap coefficient
    ``shared / min(|A|, |B|)``. Aggregating shingles to SOURCE level
    first caps the self-join fan-out at |sources| per shingle key —
    the pair volume is O(|sources|²), independent of corpus size, so
    the matrix stays cheap at any scale. Integer counts, one exact
    double division — oracle-exact.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    t = docs.select("source", tokenize("text").alias("t")).filter(
        F.size("t") >= SHINGLE_N
    )
    ss = track_persist(
        t.select(
            "source",
            F.explode(
                F.array_distinct(word_shingles(F.col("t"), SHINGLE_N))
            ).alias("s"),
        ).distinct()
    )
    tot = ss.groupBy("source").agg(F.count(F.lit(1)).alias("tot"))
    a = ss.select(F.col("source").alias("src1"), "s")
    b = ss.select(F.col("source").alias("src2"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("src1") < F.col("src2"))
        .groupBy("src1", "src2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    t1 = tot.select(F.col("source").alias("src1"), F.col("tot").alias("tot1"))
    t2 = tot.select(F.col("source").alias("src2"), F.col("tot").alias("tot2"))
    return (
        pairs.join(t1, "src1")
        .join(t2, "src2")
        .select(
            "src1", "src2",
            F.col("shared").cast("long").alias("shared_shingles"),
            F.col("tot1").cast("long").alias("shingles_1"),
            F.col("tot2").cast("long").alias("shingles_2"),
            (F.col("shared").cast("double") / F.least("tot1", "tot2"))
            .alias("overlap"),
        )
    )


@query(
    "t_length_percentiles",
    oracle=f"""
    WITH t AS (SELECT source, len({_TOKS}) AS ntok FROM documents),
    h AS (SELECT source, ntok, COUNT(*) AS c FROM t GROUP BY source, ntok),
    r AS (
      SELECT source, ntok, c,
             SUM(c) OVER (PARTITION BY source ORDER BY ntok
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(c) OVER (PARTITION BY source) AS n
      FROM h
    )
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS doc_ct,
           CAST(MIN(ntok) AS BIGINT) AS min_tokens,
           CAST(MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN ntok END)
                AS BIGINT) AS p50_tokens,
           CAST(MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN ntok END)
                AS BIGINT) AS p90_tokens,
           CAST(MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN ntok END)
                AS BIGINT) AS p99_tokens,
           CAST(MAX(ntok) AS BIGINT) AS max_tokens
    FROM r GROUP BY source
    """,
    tags=("textops", "stats", "percentiles"),
)
def t_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source token-length percentiles (p50/p90/p99).

    Corpus-QA staple (length-distribution drift is the first thing a
    data audit checks). EXACT nearest-rank percentiles — value at rank
    ⌈n·p/100⌉ — computed the scale-right way: a (source, length)
    HISTOGRAM plus a cumulative sum over it. The window sorts
    |distinct lengths| rows per source (bounded by document length,
    independent of document count), never the documents themselves —
    unlike a naive per-source rank over all docs, this survives a
    billion-doc source without a single-partition sort, and unlike
    ``approx_percentile`` it is oracle-exact.
    """
    docs = load(spark, sf_dir, "documents")
    t = docs.select("source", F.size(tokenize("text")).alias("ntok"))
    h = t.groupBy("source", "ntok").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("source").orderBy("ntok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("source")
    r = h.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wn)
    )

    def pick(p: int):
        rank = F.expr(f"(n * {p} + 99) div 100")
        return (
            F.min(F.when(F.col("cum") >= rank, F.col("ntok"))).cast("long")
        )

    return r.groupBy("source").agg(
        F.max("n").cast("long").alias("doc_ct"),
        F.min("ntok").cast("long").alias("min_tokens"),
        pick(50).alias("p50_tokens"),
        pick(90).alias("p90_tokens"),
        pick(99).alias("p99_tokens"),
        F.max("ntok").cast("long").alias("max_tokens"),
    )


PACK_BUDGET = 512      # tokens per training context (packing target)
EVAL_SOURCE = "src0"   # the held-out benchmark source (decontamination)
TRAIN_PCT = 90         # train split share (hash-deterministic)
# Packing parallelism: each source is split into independently packed
# sub-streams (shard = doc_id % N), bounding the largest running-sum
# window sort at ~PACK_SHARD_ROWS rows instead of sorting an entire
# source on one core. The shard count is semantic (it changes which
# documents share a training context), so it must never depend on
# cluster physics — it is DERIVED DETERMINISTICALLY from the corpus
# row count at plan-build time, with the oracle deriving the identical
# value inside SQL (a COUNT(*) CTE, the same mechanism as the
# LSH/SimHash/IVF knobs): same corpus ⇒ same packing, on any cluster.
# FLINK_SPARK_PACK_SHARDS pins an explicit count when the pipeline
# owner wants one.
_PACK_SHARDS_ENV = os.environ.get("FLINK_SPARK_PACK_SHARDS")
# Target rows per shard for the derived rule: ~1M rows of
# (doc_id, ntok) pairs is a few hundred MB — one comfortable task.
# Env-overridable (symmetrically, the oracle CTE embeds the same
# value) so tests can engage the rule on fixture-sized corpora.
PACK_SHARD_ROWS = int(os.environ.get("FLINK_SPARK_PACK_SHARD_ROWS", "1000000"))
PACK_MAX_SHARDS = 4096


def pack_shards_for(n: int) -> int:
    """shards = clamp(⌈n / PACK_SHARD_ROWS⌉, 1, 4096) — each shard's
    sequential cumsum window sorts at most ~PACK_SHARD_ROWS rows."""
    return min(PACK_MAX_SHARDS, max(1, math.ceil(n / PACK_SHARD_ROWS)))


def _active_pack_shards(spark: SparkSession, sf_dir: str) -> int:
    """Env-pinned shard count, or the corpus rule over a cached count."""
    if _PACK_SHARDS_ENV:
        return int(_PACK_SHARDS_ENV)
    return pack_shards_for(table_rows(spark, sf_dir, "documents"))


# The oracle's shard count: a one-row CTE named ps(shards) — the SQL
# twin of _active_pack_shards, so both engines derive the same packing
# at every corpus size.
if _PACK_SHARDS_ENV:
    _PACK_SHARDS_CTE = f"ps(shards) AS (SELECT {int(_PACK_SHARDS_ENV)})"
else:
    _PACK_SHARDS_CTE = (
        f"ps(shards) AS (SELECT LEAST({PACK_MAX_SHARDS}, GREATEST(1, "
        f"CAST(ceil(COUNT(*) / {PACK_SHARD_ROWS}.0) AS BIGINT))) "
        "FROM documents)"
    )


@query(
    "t_decontaminate",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    ev AS (
      SELECT DISTINCT s FROM ex JOIN documents USING (doc_id)
      WHERE source = '{EVAL_SOURCE}'
    ),
    corpus AS (
      SELECT doc_id, source FROM documents WHERE source <> '{EVAL_SOURCE}'
    ),
    hit AS (
      SELECT DISTINCT e.doc_id
      FROM ex e JOIN ev USING (s)
      JOIN documents d ON e.doc_id = d.doc_id
      WHERE d.source <> '{EVAL_SOURCE}'
    )
    SELECT c.source,
           COUNT(*) AS total_docs,
           CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS contaminated,
           CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS contamination_rate
    FROM corpus c LEFT JOIN hit h USING (doc_id)
    GROUP BY c.source
    """,
    tags=("textops", "decontamination"),
)
def t_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs overlapping eval.

    The GPT-3-style n-gram decontamination step: a training document
    is contaminated if it shares any shingle with the held-out
    benchmark corpus (``{EVAL_SOURCE}`` plays the benchmark here;
    production uses 13-grams — the shingle width is the same
    ``SHINGLE_N`` constant the dedup family uses). Reports per-source
    contamination counts and rates.

    Scale shape: the eval shingle set is benchmark-sized (small by
    definition), so it BROADCASTS — the 100 TB training corpus is
    scanned once, probed map-side against the broadcast set, and only
    |sources| aggregate rows shuffle. No corpus self-join anywhere.
    """
    docs = load(spark, sf_dir, "documents")
    _, ex = _shingled(spark, sf_dir, persist=True, spread=False)
    src = docs.select("doc_id", "source")
    ex_src = ex.join(src, "doc_id")
    ev = (
        ex_src.filter(F.col("source") == EVAL_SOURCE).select("s").distinct()
    )
    corpus = src.filter(F.col("source") != EVAL_SOURCE)
    hit = (
        ex_src.filter(F.col("source") != EVAL_SOURCE)
        .join(F.broadcast(ev), "s")
        .select("doc_id")
        .distinct()
        .withColumn("is_hit", F.lit(1))
    )
    return (
        corpus.join(hit, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_docs"),
            F.sum(F.coalesce("is_hit", F.lit(0))).cast("long")
            .alias("contaminated"),
            (F.sum(F.coalesce("is_hit", F.lit(0))).cast("double")
             / F.count(F.lit(1))).alias("contamination_rate"),
        )
    )


# A doc is contaminated when ≥ this percent of its DISTINCT shingles
# appear in the eval set — the overlap-fraction rule (vs t_decontaminate's
# any-overlap), which separates genuine leakage from incidental shared
# phrases: on the sf0.01 fixture any-overlap flags 400/475 scored docs,
# the 20% rule flags 4. Integer comparison (hits·100 ≥ pct·cnt) so the
# threshold boundary is exact in both engines.
DECON_FRAC_PCT = 20


@query(
    "t_decontaminate_fraction",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    ev AS (
      SELECT DISTINCT s FROM ex JOIN documents USING (doc_id)
      WHERE source = '{EVAL_SOURCE}'
    ),
    per AS (
      SELECT e.doc_id, d.source, COUNT(*) AS cnt,
             SUM(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS hits
      FROM ex e
      LEFT JOIN ev ON e.s = ev.s
      JOIN documents d ON e.doc_id = d.doc_id
      WHERE d.source <> '{EVAL_SOURCE}'
      GROUP BY e.doc_id, d.source
    )
    SELECT source,
           COUNT(*) AS scored_docs,
           CAST(SUM(CASE WHEN hits * 100 >= {DECON_FRAC_PCT} * cnt
                         THEN 1 ELSE 0 END) AS BIGINT) AS contaminated,
           CAST(SUM(hits) AS DOUBLE) / SUM(cnt) AS overlap_shingle_frac,
           CAST(SUM(CASE WHEN hits * 100 >= {DECON_FRAC_PCT} * cnt
                         THEN doc_id ELSE 0 END) AS BIGINT)
             AS contaminated_id_sum
    FROM per
    GROUP BY source
    """,
    tags=("textops", "decontamination"),
)
def t_decontaminate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap-FRACTION decontamination (the strict benchmark rule).

    ``t_decontaminate`` flags any shared shingle; production
    decontamination typically requires a substantial fraction of a
    document's n-grams to hit the benchmark before dropping it, so a
    stock phrase shared with one eval question doesn't cost a whole
    document. Per training doc: hits / |distinct shingles|, flagged at
    ``DECON_FRAC_PCT``% (integer-exact boundary). Output per source:
    scored docs (those long enough to shingle), contaminated count,
    micro-averaged overlap fraction (SUM(hits)/SUM(cnt) — a single
    exact-integer division, so cross-engine float identity holds), and
    the flagged id-sum pinning the exact set.

    Scale shape: identical to ``t_decontaminate`` — the eval shingle
    set broadcasts, the corpus is probed map-side in one pass, the
    per-doc then per-source aggregation is two partial-agg shuffles of
    key-sized rows. Linear in corpus, flat in eval size.
    """
    docs = load(spark, sf_dir, "documents")
    _, ex = _shingled(spark, sf_dir, persist=True, spread=False)
    src = docs.select("doc_id", "source")
    ex_src = ex.join(src, "doc_id")
    ev = (
        ex_src.filter(F.col("source") == EVAL_SOURCE).select("s").distinct()
        .withColumn("in_ev", F.lit(1))
    )
    per = (
        ex_src.filter(F.col("source") != EVAL_SOURCE)
        .join(F.broadcast(ev), "s", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.coalesce("in_ev", F.lit(0))).alias("hits"),
        )
    )
    flagged = F.col("hits") * 100 >= F.lit(DECON_FRAC_PCT) * F.col("cnt")
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("scored_docs"),
        F.sum(flagged.cast("int")).cast("long").alias("contaminated"),
        (F.sum("hits").cast("double") / F.sum("cnt"))
        .alias("overlap_shingle_frac"),
        F.sum(F.when(flagged, F.col("doc_id")).otherwise(F.lit(0)))
        .cast("long").alias("contaminated_id_sum"),
    )


@query(
    "t_decontaminate_spans",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    ev AS (
      SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM (
        SELECT n.t AS t, unnest(range(1, len(n.t) - 1)) AS i
        FROM norm n JOIN documents d USING (doc_id)
        WHERE d.source = '{EVAL_SOURCE}'
      )
    ),
    tr AS (
      SELECT n.doc_id, d.source, n.t
      FROM norm n JOIN documents d USING (doc_id)
      WHERE d.source <> '{EVAL_SOURCE}' AND len(n.t) >= {SHINGLE_N}
    ),
    matched AS (
      SELECT doc_id, i
      FROM (
        SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM tr
      ) x JOIN ev ON x.t[i] || ' ' || x.t[i+1] || ' ' || x.t[i+2] = ev.s
    ),
    covered AS (
      SELECT DISTINCT doc_id, p FROM (
        SELECT doc_id, unnest(range(i, i + {SHINGLE_N})) AS p FROM matched
      )
    ),
    cuts AS (SELECT doc_id, COUNT(*) AS cut FROM covered GROUP BY doc_id),
    per AS (
      SELECT tr.doc_id, tr.source, len(tr.t) AS n_tok,
             COALESCE(cut, 0) AS cut
      FROM tr LEFT JOIN cuts USING (doc_id)
    )
    SELECT source,
           COUNT(*) AS scored_docs,
           CAST(SUM(CASE WHEN cut > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_touched,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(cut) AS BIGINT) AS removed_tokens,
           CAST(SUM(n_tok) - SUM(cut) AS DOUBLE) / SUM(n_tok)
             AS kept_token_frac
    FROM per
    GROUP BY source
    """,
    tags=("textops", "decontamination"),
)
def t_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination accounting (excise, don't drop).

    The third decontamination policy: instead of dropping a whole
    document over benchmark overlap (``t_decontaminate`` /
    ``t_decontaminate_fraction``), remove only the TOKEN SPANS covered
    by matched eval n-grams and keep the rest. This audit computes the
    exact surgery bill per source: how many docs are touched, how many
    tokens the excision removes, and the surviving token fraction —
    the inputs a pipeline owner needs to choose between drop and cut.

    Positions: shingle at token index i covers tokens i..i+
    {SHINGLE_N}-1; covered positions are the distinct union over all
    matched shingles, so overlapping matches never double-count (the
    classic interval-union, done set-wise).

    Scale shape: the eval shingle set broadcasts; the corpus tokenizes
    once and probes map-side. The position explode multiplies rows by
    ~tokens-per-doc, but rows are (doc_id, int) pairs — bytes, not
    text — and collapse in a partial-agg distinct. Linear in corpus
    tokens, flat in eval size.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    toks = docs.select(
        "doc_id", "source", tokenize("text").alias("t")
    )
    ev = (
        toks.filter(F.col("source") == EVAL_SOURCE)
        .select(F.explode(word_shingles(F.col("t"), SHINGLE_N)).alias("s"))
        .distinct()
    )
    tr = toks.filter(
        (F.col("source") != EVAL_SOURCE) & (F.size("t") >= SHINGLE_N)
    )
    sh_idx = tr.select(
        "doc_id",
        F.expr(
            f"explode(transform(sequence(0, size(t) - {SHINGLE_N}), "
            "i -> struct(i as i, concat_ws(' ', "
            + ", ".join(
                f"element_at(t, i + {k + 1})" for k in range(SHINGLE_N)
            )
            + ") as s)))"
        ).alias("m"),
    ).select("doc_id", "m.i", "m.s")
    covered = (
        sh_idx.join(F.broadcast(ev), "s")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (SHINGLE_N - 1))
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("cut"))
    )
    per = (
        tr.select("doc_id", "source", F.size("t").alias("n_tok"))
        .join(covered, "doc_id", "left")
        .withColumn("cut", F.coalesce("cut", F.lit(0)))
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("scored_docs"),
        F.sum((F.col("cut") > 0).cast("int")).cast("long")
        .alias("docs_touched"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum("cut").cast("long").alias("removed_tokens"),
        ((F.sum("n_tok") - F.sum("cut")).cast("double") / F.sum("n_tok"))
        .alias("kept_token_frac"),
    )


@query(
    "t_train_val_split",
    oracle=f"""
    WITH tagged AS (
      SELECT source,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                   1, 4)) AS BIGINT) % 100 < {TRAIN_PCT}
                  THEN 'train' ELSE 'val' END AS split
      FROM documents
    )
    SELECT source, split, COUNT(*) AS n_docs
    FROM tagged GROUP BY source, split
    """,
    tags=("textops", "split"),
)
def t_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash train/val split ({TRAIN_PCT}/{100 - TRAIN_PCT}).

    The assignment every training pipeline needs to be REPRODUCIBLE
    and order-free: split = md5(doc_id) mod 100, so membership is a
    pure function of the key — stable under reshuffles, re-runs,
    backfills, and engine changes (the oracle derives the identical
    assignment). Row-local map + one tiny aggregate; trivially 100 TB.
    """
    docs = load(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4),
        16, 10,
    ).cast("long") % 100
    tagged = docs.select(
        "source",
        F.when(bucket < TRAIN_PCT, "train").otherwise("val").alias("split"),
    )
    return tagged.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# --------------------------------------------------------------------------
# Stratified sampling: deterministic equal-allocation hash sample
# --------------------------------------------------------------------------

SAMPLE_PCT = 10       # target sample: 10% of the corpus...
SAMPLE_BUCKETS = 10000  # ...selected at basis-point granularity


@query(
    "t_stratified_sample",
    oracle=f"""
    WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS nsrc FROM c),
    r AS (
      SELECT source, n,
             (total * {SAMPLE_PCT} + 100 * nsrc - 1) // (100 * nsrc) AS quota,
             LEAST({SAMPLE_BUCKETS},
                   ((total * {SAMPLE_PCT} + 100 * nsrc - 1) // (100 * nsrc))
                   * {SAMPLE_BUCKETS} // n) AS rate_bp
      FROM c, t
    ),
    s AS (
      SELECT d.source, len({_TOKS}) AS n_tokens, r.quota, r.rate_bp,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                   1, 4)) AS BIGINT) % {SAMPLE_BUCKETS}
                  < r.rate_bp THEN 1 ELSE 0 END AS samp
      FROM documents d JOIN r USING (source)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(quota) AS BIGINT) AS quota,
           CAST(MIN(rate_bp) AS BIGINT) AS rate_bp,
           CAST(SUM(samp) AS BIGINT) AS sampled_docs,
           CAST(SUM(CASE WHEN samp = 1 THEN n_tokens ELSE 0 END) AS BIGINT)
             AS sampled_tokens
    FROM s GROUP BY source
    """,
    tags=("textops", "sampling"),
)
def t_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic equal-allocation stratified sample ({SAMPLE_PCT}%
    of the corpus, balanced across sources).

    The eval-set / ablation-subset selector a curation stack needs to
    be REPRODUCIBLE: per-source rates are derived from the corpus
    itself (equal per-source quotas summing to the global target,
    capped at 100% for sources smaller than their quota), and
    membership is the pure hash rule ``md5(doc_id) mod {SAMPLE_BUCKETS}
    < rate_bp`` — the ``t_train_val_split`` discipline at basis-point
    granularity, stable under reshuffles, re-runs, backfills, and
    engine changes (the oracle derives the identical rate table and
    assignment). Hash sampling hits quotas approximately (binomial
    noise, and the 16-bit-hash-mod-10000 bucket is ~±8% non-uniform
    across buckets) — the price of never sorting or counting-to-quota;
    ``hash_quota_heads`` is the exact-quota alternative when
    approximate is not enough.

    Scale shape: one per-source count (tiny agg), a 1-row total, the
    rate table broadcast back onto the corpus for a row-local
    predicate, then one per-source rollup — the corpus is never
    shuffled, sorted, or ranked. Trivially 100 TB.
    """
    docs = load(spark, sf_dir, "documents")
    cnt = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("nsrc")
    )
    quota = F.expr(
        f"(total * {SAMPLE_PCT} + 100 * nsrc - 1) div (100 * nsrc)"
    )
    rates = (
        cnt.crossJoin(F.broadcast(tot))  # 1-row totals broadcast
        .select(
            "source", "n", quota.alias("quota"),
        )
        .select(
            "source", "n", "quota",
            F.least(
                F.lit(SAMPLE_BUCKETS),
                F.expr(f"quota * {SAMPLE_BUCKETS} div n"),
            ).alias("rate_bp"),
        )
    )
    bucket = F.conv(
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4
        ),
        16, 10,
    ).cast("long") % SAMPLE_BUCKETS
    s = (
        docs.select("source", "doc_id", F.size(tokenize("text")).alias("n_tokens"))
        .join(F.broadcast(rates), "source")
        .select(
            "source", "n_tokens", "quota", "rate_bp",
            F.when(bucket < F.col("rate_bp"), 1).otherwise(0).alias("samp"),
        )
    )
    return s.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("quota").cast("long").alias("quota"),
        F.min("rate_bp").cast("long").alias("rate_bp"),
        F.sum("samp").cast("long").alias("sampled_docs"),
        F.sum(F.when(F.col("samp") == 1, F.col("n_tokens")).otherwise(0))
        .cast("long").alias("sampled_tokens"),
    )


# training-mixture weights: pct of each source to keep. Explicit rows
# for curated domains, DEFAULT_MIX_PCT for the long tail — the shape of
# a real data-mix config (weights per known domain + a crawl default).
MIXTURE = [("src0", 5), ("src1", 100), ("src2", 60), ("src3", 30)]
DEFAULT_MIX_PCT = 50
_MIX_VALUES = ", ".join(f"('{s}', {p})" for s, p in MIXTURE)


def _mix_priority(id_col: str):
    """The mixture selection priority: md5 over the id's decimal string.

    Identical on both engines (DuckDB ``md5(CAST(id AS VARCHAR))``) —
    lowercase hex, so lexicographic string order is the total order.
    """
    return F.md5(F.col(id_col).cast("string").cast("binary"))


def hash_quota_heads(
    df: DataFrame,
    pct_map: dict[str, int],
    default_pct: int,
    id_col: str = "doc_id",
    source_col: str = "source",
    persist: bool = True,
) -> tuple[DataFrame, dict[str, tuple[int, int]]]:
    """Per-source top-(pct%) rows by md5 priority — WITHOUT the
    per-source global sort.

    Selects exactly the rows ``ROW_NUMBER() OVER (PARTITION BY source
    ORDER BY md5(id), id) <= (pct·n) div 100`` would (the DuckDB
    oracles keep that formulation — membership is identical by
    construction), but as a two-phase bucket selection, the standard
    distributed exact-k-selection: because md5 strings order
    lexicographically, the rank order refines the order of any hex
    PREFIX, so per-source counts over the 2-char prefix (256 buckets,
    one map-side-combined aggregate, |sources|·256 rows to the
    driver) locate each source's quota boundary bucket; a second
    count over chars 3-4 WITHIN that bucket refines it 256× — but
    only for sources whose boundary bucket exceeds ``MIX_SLIVER_MAX``
    rows (a sub-sliver bucket is rank-windowed whole, and corpora
    where no source needs refinement never run the second count job
    at all); only the final boundary sliver (~n/65536 rows per
    source) is rank-windowed. Everything before the sliver is a
    map-side filter.
    A source with 10^10 docs costs two tiny aggregates plus one
    ~150k-row sort — the per-source window this replaces sorted all
    10^10 rows in ONE task (the straggler AQE cannot split).

    Returns ``(selected_rows, {source: (n, quota)})``; selected rows
    keep exactly ``df``'s columns. ``df`` is consumed four times
    (two count phases, head filter, sliver rank) — ``persist=True``
    (default) caches it for the query's lifetime; pass ``False`` when
    the caller already persisted the lineage.
    """
    reserved = {"_all", "_B1", "_B2", "_need2", "_rn2", "_w"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"hash_quota_heads: input columns {sorted(reserved)} collide "
            "with internal names; rename them before calling"
        )
    spark = df.sparkSession
    if persist:
        # lazy (r15): the phase-1 bucket-count collect right below is
        # the first action and fully scans it
        df = track_persist(df, eager=False)
    pri = _mix_priority(id_col)
    b1 = F.substring(pri, 1, 2)
    b2 = F.substring(pri, 3, 2)
    l1 = (
        df.groupBy(source_col, b1.alias("_b1"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    per: dict[str, dict[str, int]] = {}
    for r in l1:
        per.setdefault(r[0], {})[r["_b1"]] = r["c"]
    stats: dict[str, tuple[int, int]] = {}
    bound1: dict[str, tuple[str, int]] = {}  # source -> (B1, need after <B1)
    meta = []  # (source, all_flag, B1, B2, need2)
    for src, buckets in per.items():
        n = sum(buckets.values())
        pct = pct_map.get(src, default_pct)
        quota = (pct * n) // 100
        stats[src] = (n, quota)
        if quota <= 0:
            continue
        if quota >= n:
            meta.append((src, 1, "", "", 0, 0))
            continue
        acc = 0
        for hb in sorted(buckets):
            if acc + buckets[hb] >= quota:
                if buckets[hb] <= MIX_SLIVER_MAX:
                    # the boundary bucket is already sliver-sized:
                    # rank-window it whole and skip the refinement
                    # count job entirely (r9 — the second count is a
                    # fixed per-query job that only pays for itself
                    # when the bucket exceeds a comfortable sort)
                    meta.append((src, 0, hb, "", quota - acc, 1))
                else:
                    bound1[src] = (hb, quota - acc)
                break
            acc += buckets[hb]
    if bound1:
        b1df = local_df(spark, 
            [(s, hb) for s, (hb, _) in bound1.items()],
            f"{source_col} string, _B1 string",
        )
        l2 = (
            df.join(F.broadcast(b1df), source_col)
            .filter(b1 == F.col("_B1"))
            .groupBy(source_col, b2.alias("_b2"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        per2: dict[str, dict[str, int]] = {}
        for r in l2:
            per2.setdefault(r[0], {})[r["_b2"]] = r["c"]
        for src, (hb, need1) in bound1.items():
            acc = 0
            for hb2 in sorted(per2[src]):
                if acc + per2[src][hb2] >= need1:
                    meta.append((src, 0, hb, hb2, need1 - acc, 0))
                    break
                acc += per2[src][hb2]
    if not meta:
        return df.limit(0), stats
    bc = F.broadcast(
        local_df(spark, 
            meta,
            f"{source_col} string, _all int, _B1 string, _B2 string,"
            " _need2 long, _w int",
        )
    )
    j = df.join(bc, source_col)
    head = j.filter(
        (F.col("_all") == 1)
        | (b1 < F.col("_B1"))
        | ((F.col("_w") == 0) & (b1 == F.col("_B1")) & (b2 < F.col("_B2")))
    )
    # _w == 1: the sliver is the WHOLE boundary bucket (refinement
    # skipped); _w == 0: the refined (B1, B2) cell only
    sliver = (
        j.filter(
            (F.col("_all") == 0)
            & (b1 == F.col("_B1"))
            & ((F.col("_w") == 1) | (b2 == F.col("_B2")))
        )
        .withColumn(
            "_rn2",
            F.row_number().over(
                Window.partitionBy(source_col).orderBy(pri, F.col(id_col))
            ),
        )
        .filter(F.col("_rn2") <= F.col("_need2"))
        .drop("_rn2")
    )
    drop = ["_all", "_B1", "_B2", "_need2", "_w"]
    return head.unionByName(sliver).drop(*drop).select(*df.columns), stats


@query(
    "t_source_mixture",
    oracle=f"""
    WITH mix(source, pct) AS (VALUES {_MIX_VALUES}),
    ranked AS (
      SELECT d.source,
             COALESCE(m.pct, {DEFAULT_MIX_PCT}) AS pct,
             d.doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY d.source
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY d.source) AS n
      FROM documents d LEFT JOIN mix m ON d.source = m.source
    )
    SELECT source,
           CAST(MAX(pct) AS BIGINT) AS pct,
           COUNT(*) AS n_docs,
           CAST(MAX((pct * n) // 100) AS BIGINT) AS quota,
           CAST(SUM(CASE WHEN rn <= (pct * n) // 100 THEN 1 ELSE 0 END)
                AS BIGINT) AS kept,
           CAST(SUM(CASE WHEN rn <= (pct * n) // 100 THEN doc_id ELSE 0 END)
                AS BIGINT) AS kept_id_sum
    FROM ranked GROUP BY source
    """,
    tags=("textops", "mixture", "sampling"),
)
def t_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source mixture sampling (data-mix control).

    The step between filtering and packing: downsample each source to
    its mixture weight (curated domains upweighted, the crawl tail at
    a default, the held-out benchmark source nearly excluded). The
    kept set must be a pure function of the data — selection is by
    md5(doc_id) priority order within each source, so it is stable
    under reshuffles, backfills, and engine changes, and reproducible
    without storing a sample seed. ``kept_id_sum`` pins the EXACT
    selected set in the oracle compare, not just its size.

    Shape: quota math is integer end-to-end (``(pct·n) div 100``) and
    the selection runs as ``hash_quota_heads`` — the two-phase exact
    head selection (bucket counts locate the boundary, only a
    ~n/65536 sliver is rank-windowed) — NOT a per-source global rank
    window, which puts a billion-doc source into one sorted task. The
    oracle keeps the ROW_NUMBER formulation: membership is identical
    by construction (pinned by
    ``test_hash_quota_heads_equals_rank_window``), so the compare
    also proves the two-phase selection exact.
    """
    docs = load(spark, sf_dir, "documents").select("source", "doc_id")
    sel, stats = hash_quota_heads(
        docs, dict(MIXTURE), DEFAULT_MIX_PCT
    )
    spark_stats = local_df(spark, 
        [(s, n, q, dict(MIXTURE).get(s, DEFAULT_MIX_PCT))
         for s, (n, q) in stats.items()],
        "source string, n_docs long, quota long, pct long",
    )
    kept = sel.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept"),
        F.sum("doc_id").alias("kept_id_sum"),
    )
    return (
        spark_stats.join(kept, "source", "left")
        .select(
            "source",
            "pct",
            "n_docs",
            "quota",
            F.coalesce("kept", F.lit(0)).cast("long").alias("kept"),
            F.coalesce("kept_id_sum", F.lit(0)).cast("long")
            .alias("kept_id_sum"),
        )
    )


@query(
    "t_pack_sequences",
    oracle=f"""
    WITH {_PACK_SHARDS_CTE},
    counted AS (
      SELECT doc_id, source, doc_id % shards AS shard,
             len({_TOKS}) AS ntok FROM documents, ps
    ),
    packed AS (
      SELECT source, shard, ntok,
             (SUM(ntok) OVER (PARTITION BY source, shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - ntok)
               // {PACK_BUDGET} AS pack_id
      FROM counted
    )
    SELECT source, CAST(shard AS BIGINT) AS shard,
           CAST(pack_id AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS pack_tokens,
           CAST(SUM(ntok) AS DOUBLE) / {PACK_BUDGET} AS fill_ratio
    FROM packed
    GROUP BY source, shard, pack_id
    """,
    tags=("textops", "packing", "tokens"),
)
def t_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: bin documents into fixed token budgets.

    The pretraining-data step after dedup/filtering: concatenate
    documents into fixed-length training contexts (the T5/GPT "packing"
    that keeps attention windows full instead of padding). The classic
    streaming-concat formulation: docs in arrival (doc_id) order, a
    document starts in pack ``floor(tokens_before_it / budget)`` — a
    boundary doc spills its tail into the next pack, which is exactly
    how naive concat-packing behaves. Output audits pack occupancy
    (docs, tokens, fill ratio vs the {PACK_BUDGET}-token budget).

    Scale notes: the window cumsum is a sequential contract per
    (source, shard) partition — packing is order-sensitive only
    WITHIN a context, so each source is salted into deterministic
    sub-streams (``doc_id % shards``) packed independently, bounding
    the largest sort at ~``PACK_SHARD_ROWS`` rows. The shard count
    derives from the corpus row count at plan-build time
    (``pack_shards_for``; ``FLINK_SPARK_PACK_SHARDS`` pins it), and
    the oracle derives the identical value in SQL — deterministic per
    corpus, never a silent function of cluster physics, so the same
    data packs the same way everywhere. Integer cumsum ⇒
    oracle-identical.
    """
    docs = load(spark, sf_dir, "documents")
    shards = _active_pack_shards(spark, sf_dir)
    counted = docs.select(
        "doc_id", "source",
        (F.col("doc_id") % shards).alias("shard"),
        F.size(tokenize("text")).alias("ntok"),
    )
    w = (
        Window.partitionBy("source", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = counted.withColumn("cum", F.sum("ntok").over(w)).select(
        "source", "shard", "ntok",
        # integer division end-to-end: a per-source token cumsum can
        # pass 2^53 at corpus scale, where a double-backed floor drifts
        F.expr(f"(cum - ntok) div {PACK_BUDGET}").alias("pack_id"),
    )
    return packed.groupBy("source", "shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").cast("long").alias("pack_tokens"),
        (F.sum("ntok").cast("double") / PACK_BUDGET).alias("fill_ratio"),
    )


@query(
    "t_bpe_token_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len({_TOKS}) AS ws_tokens,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS re_tokens,
             len(list_filter(regexp_extract_all(lower(text), '[a-z]+|[0-9]+'),
                             x -> x ~ '^[0-9]+$')) AS num_tokens
      FROM documents
    )
    SELECT CAST(SUM(ws_tokens) AS BIGINT) AS ws_total,
           CAST(SUM(re_tokens) AS BIGINT) AS re_total,
           CAST(SUM(num_tokens) AS BIGINT) AS num_total,
           CAST(SUM(CASE WHEN ws_tokens = re_tokens THEN 1 ELSE 0 END) AS BIGINT)
               AS agree_docs,
           COUNT(*) AS doc_ct
    FROM t
    """,
    tags=("textops", "tokens", "bpe"),
)
def t_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex (BPE-ish pre-tokenizer) vs whitespace token counting.

    The two standard cheap token-count estimators for a data pipeline:
    whitespace split of normalized text, and a BPE-style pre-token
    regex (letter runs | digit runs — ``TOKEN_RE`` in
    functions/text.py). Corpus totals, numeric-token counts, and the
    per-doc agreement rate between the two. Both are JVM-side
    ``regexp_extract_all``/``split`` — no Python in the loop.
    """
    from flink_spark.functions.text import TOKEN_RE

    docs = load(spark, sf_dir, "documents")
    ws = F.size(tokenize("text"))
    re_toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
    nums = F.filter(re_toks, lambda x: x.rlike("^[0-9]+$"))
    t = docs.select(
        ws.alias("ws_tokens"),
        F.size(re_toks).alias("re_tokens"),
        F.size(nums).alias("num_tokens"),
    )
    return t.agg(
        F.sum("ws_tokens").cast("long").alias("ws_total"),
        F.sum("re_tokens").cast("long").alias("re_total"),
        F.sum("num_tokens").cast("long").alias("num_total"),
        F.sum(F.when(F.col("ws_tokens") == F.col("re_tokens"), 1).otherwise(0))
        .cast("long").alias("agree_docs"),
        F.count(F.lit(1)).alias("doc_ct"),
    )


ROLL_MOD = 1_000_000_007
ROLL_BASE = 31


@query(
    "t_rolling_fingerprint",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform({_TOKS},
                   t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT))),
               (h, v) -> (h * {ROLL_BASE} + v) % {ROLL_MOD}) AS fp
      FROM documents
    )
    SELECT fp,
           CAST(COUNT(*) AS BIGINT) AS dup_ct,
           MIN(doc_id) AS canonical_id
    FROM fp GROUP BY fp
    """,
    tags=("textops", "fingerprint"),
)
def t_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (Rabin-Karp).

    Unlike the md5 content fingerprint (``t_exact_dedup``), the rolling
    polynomial hash ``h = (h*31 + tok_hash) mod p`` is computed
    incrementally over the token sequence — the fingerprint a streaming
    dedup keeps per document, updatable token-by-token. Pure integer
    fold (exact in both engines); token hashes are the leading 32 bits
    of md5 so the polynomial stays under 2^63 between mod steps.
    """
    docs = load(spark, sf_dir, "documents")
    fp = F.aggregate(
        tokenize("text"),
        F.lit(0).cast("long"),
        lambda h, t: (h * ROLL_BASE + md5_long(t)) % ROLL_MOD,
    )
    return docs.select("doc_id", fp.alias("fp")).groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("dup_ct"),
        F.min("doc_id").alias("canonical_id"),
    )


# --------------------------------------------------------------------------
# Exact dedup: content fingerprint groups
# --------------------------------------------------------------------------

@query(
    "t_exact_dedup",
    oracle=f"""
    SELECT md5({_NORM}) AS fp,
           CAST(COUNT(*) AS BIGINT) AS dup_ct,
           MIN(doc_id) AS canonical_id
    FROM documents
    GROUP BY 1
    """,
    tags=("textops", "dedup"),
)
def t_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via md5 of normalized text (hash-groupBy).

    One shuffle keyed by the 128-bit fingerprint — uniformly
    distributed, so no skew at any scale; dup groups keep the minimum
    doc_id as canonical survivor.
    """
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(fingerprint("text").alias("fp")).agg(
        F.count(F.lit(1)).cast("long").alias("dup_ct"),
        F.min("doc_id").alias("canonical_id"),
    )


# --------------------------------------------------------------------------
# Quality scoring (length / stopword / token-shape heuristics)
# --------------------------------------------------------------------------

@query(
    "t_quality_score",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             len({_TOKS}) AS n_tokens,
             len(list_filter({_TOKS}, x -> x IN {_STOP_LIST})) AS stop_ct,
             length(replace({_NORM}, ' ', '')) AS alpha_chars
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(stop_ct AS BIGINT) AS stop_ct,
           CAST(stop_ct AS DOUBLE) / n_tokens AS stop_ratio,
           CAST(alpha_chars AS DOUBLE) / n_tokens AS avg_token_len,
           CAST((CASE WHEN n_tokens BETWEEN 20 AND 200 THEN 1 ELSE 0 END)
              + (CASE WHEN CAST(stop_ct AS DOUBLE) / n_tokens
                      BETWEEN 0.02 AND 0.5 THEN 1 ELSE 0 END)
              + (CASE WHEN CAST(alpha_chars AS DOUBLE) / n_tokens
                      BETWEEN 3 AND 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS quality_score
    FROM q
    """,
    tags=("textops", "quality"),
)
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality heuristics: length, stopword ratio, token shape.

    All ratios are exact integer divisions (bit-identical doubles in any
    engine / any row order). Narrow row-level projection — no shuffle.
    """
    docs = load(spark, sf_dir, "documents")
    toks = tokenize("text")
    q = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).alias("stop_ct"),
        F.length(F.regexp_replace(normalize_text("text"), " ", "")).alias("alpha_chars"),
    )
    stop_ratio = F.col("stop_ct").cast("double") / F.col("n_tokens")
    avg_len = F.col("alpha_chars").cast("double") / F.col("n_tokens")
    score = (
        F.when(F.col("n_tokens").between(20, 200), 1).otherwise(0)
        + F.when(stop_ratio.between(0.02, 0.5), 1).otherwise(0)
        + F.when(avg_len.between(3, 8), 1).otherwise(0)
    )
    return q.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("stop_ct").cast("long").alias("stop_ct"),
        stop_ratio.alias("stop_ratio"),
        avg_len.alias("avg_token_len"),
        score.cast("long").alias("quality_score"),
    )


# --------------------------------------------------------------------------
# Repetition filter (Gopher-style n-gram dominance rules)
# --------------------------------------------------------------------------

@query(
    "t_repetition_filter",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    base AS (SELECT doc_id, len(t) AS n_tokens, t FROM toks),
    bg AS (
      SELECT doc_id, MAX(cnt) AS top_bigram_ct
      FROM (SELECT doc_id, g, COUNT(*) AS cnt
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(t)),
                                i -> t[i] || ' ' || t[i+1])) AS g
                  FROM base WHERE n_tokens >= 2)
            GROUP BY doc_id, g)
      GROUP BY doc_id
    ),
    g5 AS (
      SELECT doc_id,
             SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_5gram_ct
      FROM (SELECT doc_id, g, COUNT(*) AS cnt
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(t) - 3),
                                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                     || ' ' || t[i+3] || ' ' || t[i+4])) AS g
                  FROM base WHERE n_tokens >= 5)
            GROUP BY doc_id, g)
      GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(bg.top_bigram_ct, 0) AS BIGINT) AS top_bigram_ct,
           CAST(COALESCE(g5.dup_5gram_ct, 0) AS BIGINT) AS dup_5gram_tokens,
           CASE WHEN b.n_tokens >= 2 THEN
             2.0 * COALESCE(bg.top_bigram_ct, 0) / b.n_tokens
             ELSE 0.0 END AS top_bigram_frac,
           CASE WHEN b.n_tokens >= 5 THEN
             CAST(COALESCE(g5.dup_5gram_ct, 0) AS DOUBLE) / (b.n_tokens - 4)
             ELSE 0.0 END AS dup_5gram_frac,
           CAST(CASE WHEN 10 * COALESCE(bg.top_bigram_ct, 0) <= b.n_tokens
                      AND (b.n_tokens < 5 OR
                           20 * COALESCE(g5.dup_5gram_ct, 0)
                             <= 3 * (b.n_tokens - 4))
                     THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
    FROM base b
    LEFT JOIN bg ON b.doc_id = bg.doc_id
    LEFT JOIN g5 ON b.doc_id = g5.doc_id
    """,
    tags=("textops", "quality", "repetition"),
)
def t_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher n-gram rules).

    The repetition family of Rae et al. '21 (Gopher, Table A1) that
    length/stopword scoring (``t_quality_score``) can't see: boiler-
    plate and spam repeat themselves. Two signals per document —

    - **top-bigram dominance**: fraction of tokens covered by the
      single most frequent bigram (drop above 0.20);
    - **duplicated 5-gram coverage**: fraction of 5-gram positions
      whose gram occurs more than once in the document (drop above
      0.15).

    Shape: tokenize once (persisted — both explodes branch from it),
    explode n-grams, count per (doc, gram), aggregate per doc — the
    same map + key-shuffle skeleton as the shingle table, so it
    scales identically (no all-pairs anywhere). Thresholds compare
    as pure integers (``10·top ≤ n`` ⇔ frac ≤ 0.20; ``20·dup ≤
    3·(n−4)`` ⇔ frac ≤ 0.15) — cross-engine exact per the catalog's
    determinism rules; fractions are emitted as one int/int division
    each for reporting.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    base = docs.select(
        "doc_id", tokenize("text").alias("t")
    ).select("doc_id", F.size("t").alias("n_tokens"), "t")
    # r15: both signals are per-document functions of t — computed as
    # row-local sorted-run folds (``with_gram_gate``) instead of two
    # corpus-wide gram explodes + exchanges + aggregates + joins; with
    # a single consumer left, the shared-token barrier went too (the
    # whole query is now scan → spread exchange → projection). The
    # oracle keeps the aggregate formulation; values are bit-identical
    # (exact integer counting either way).
    out = with_gram_gate(base, dup_alias="dup_5gram_ct").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("top_bigram_ct").cast("long").alias("top_bigram_ct"),
        F.col("dup_5gram_ct").cast("long").alias("dup_5gram_tokens"),
    )
    top_frac = F.when(
        F.col("n_tokens") >= 2,
        F.lit(2.0) * F.col("top_bigram_ct") / F.col("n_tokens"),
    ).otherwise(F.lit(0.0))
    dup_frac = F.when(
        F.col("n_tokens") >= 5,
        F.col("dup_5gram_tokens").cast("double") / (F.col("n_tokens") - 4),
    ).otherwise(F.lit(0.0))
    keep = (
        (10 * F.col("top_bigram_ct") <= F.col("n_tokens"))
        & ((F.col("n_tokens") < 5)
           | (20 * F.col("dup_5gram_tokens") <= 3 * (F.col("n_tokens") - 4)))
    )
    return out.select(
        "doc_id", "n_tokens", "top_bigram_ct", "dup_5gram_tokens",
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_5gram_frac"),
        keep.cast("long").alias("keep_flag"),
    )


# --------------------------------------------------------------------------
# Language-ID heuristic (marker-stopword scoring) vs labeled lang
# --------------------------------------------------------------------------

@query(
    "t_lang_id",
    oracle=f"""
    WITH pred AS (
      SELECT lang,
             CASE WHEN len(list_filter({_TOKS}, x -> x IN {_STOP_LIST})) * 50
                       > len({_TOKS})
                  THEN 'en' ELSE 'unknown' END AS predicted
      FROM documents
    )
    SELECT lang, predicted, COUNT(*) AS doc_ct
    FROM pred GROUP BY lang, predicted
    """,
    tags=("textops", "langid"),
)
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language-ID heuristic → confusion counts vs label.

    Classifies each doc by English-marker density, then aggregates a
    (label, prediction) confusion table. The heuristic is deliberately
    simple (the fixture corpus is synthetic); the pipeline shape —
    per-row classify, corpus-level confusion rollup — is the operator.
    """
    docs = load(spark, sf_dir, "documents")
    toks = tokenize("text")
    marker_ct = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    # pure-integer threshold (ratio > 2%): decimal→int casts round in
    # DuckDB but truncate in Spark, so never compare via a float cast.
    predicted = F.when(marker_ct * 50 > F.size(toks), "en").otherwise("unknown")
    return docs.select("lang", predicted.alias("predicted")).groupBy(
        "lang", "predicted"
    ).agg(F.count(F.lit(1)).alias("doc_ct"))


# --------------------------------------------------------------------------
# F1/P6: tokenize + explode → keyword counts (the reference's UDTF query)
# --------------------------------------------------------------------------

@query(
    "t_keyword_counts",
    oracle=f"""
    SELECT word, COUNT(*) AS word_ct
    FROM (SELECT unnest({_TOKS}) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY word_ct DESC, word
    LIMIT 20
    """,
    tags=("textops", "udtf", "topk"),
)
def t_keyword_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer UDTF + explode + count + top-k.

    Covers F1 (rt/app/func/SplitFunction.java:12-27 registered via
    ``LATERAL TABLE``), P6 array unnesting
    (rt/app/dwd/log/BaseLogApp.java:141-167) and the keyword-count shape
    of A3 (rt/app/dws/DwsTrafficSourceKeywordPageViewWindow.java:60-79).
    explode is JVM-side (generate node inside codegen); count then top-k
    compiles to partial-agg + TakeOrderedAndProject.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokenize("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("word_ct"))
        .orderBy(F.desc("word_ct"), "word")
        .limit(20)
    )


# --------------------------------------------------------------------------
# F1 CJK parity: the reference's ACTUAL workload is Chinese keywords
# (IKSegmenter — rt/utils/KeyWordUtil.java:20). The fixture corpus is
# ASCII, so this query carries its own bilingual corpus inline (same
# literal VALUES on both engines) to value-check the CJK tokenizer
# end-to-end: Han runs → overlapping bigrams, Latin runs → words.
# --------------------------------------------------------------------------

CJK_DOCS = (
    (0, "大数据 处理 引擎"),
    (1, "Spark 大数据处理引擎"),
    (2, "实时 数据 流 处理"),
    (3, "machine learning 机器学习"),
    (4, "深度学习 和 机器学习"),
    (5, "query the data 查询数据"),
    (6, "数据查询 query data"),
    (7, "你好 世界 hello world 2024"),
)

_CJK_VALUES = ", ".join(f"({i}, '{t}')" for i, t in CJK_DOCS)


@query(
    "t_cjk_keyword_counts",
    oracle=f"""
    WITH documents_cjk(doc_id, text) AS (VALUES {_CJK_VALUES})
    SELECT word, COUNT(*) AS word_ct
    FROM (SELECT unnest({toks_sql('text')}) AS word FROM documents_cjk)
    WHERE word <> ''
    GROUP BY word
    ORDER BY word_ct DESC, word
    LIMIT 15
    """,
    tags=("textops", "udtf", "cjk", "topk"),
)
def t_cjk_keyword_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 parity on the reference's true input domain: Chinese keywords.

    DwsTrafficSourceKeywordPageViewWindow's keyword job runs IK Chinese
    segmentation (rt/app/func/SplitFunction.java:12-27,
    rt/utils/KeyWordUtil.java:13-33); this is the same
    tokenize → explode → count → top-k shape over a bilingual corpus,
    with the deterministic CJK-bigram segmentation standing in for the
    dictionary segmenter. The corpus is inline (``CJK_DOCS`` — the
    identical VALUES literal feeds the DuckDB oracle), so CJK tokens are
    value-checked by the driver even though the parquet fixtures are
    ASCII. Mixed-script tokens exercise every branch: Han runs → bigram
    fan-out, embedded Latin/digit runs → whole words.
    """
    docs = local_df(spark, list(CJK_DOCS), "doc_id long, text string")
    return (
        docs.select(F.explode(tokenize("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("word_ct"))
        .orderBy(F.desc("word_ct"), "word")
        .limit(15)
    )


# --------------------------------------------------------------------------
# Near-dup #1: n-gram Jaccard via inverted-index self-join
# --------------------------------------------------------------------------

@query(
    "t_ngram_jaccard_dups",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    keep AS (
      SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= {DF_CAP}
    ),
    ex2 AS (SELECT doc_id, s FROM ex JOIN keep USING (s)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex2 GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM ex2 a JOIN ex2 b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           CAST(shared AS BIGINT) AS shared,
           CAST(shared AS DOUBLE) / (s1.sz + s2.sz - shared) AS jaccard
    FROM pairs
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(shared AS DOUBLE) / (s1.sz + s2.sz - shared) >= {JACCARD_THRESHOLD}
    """,
    tags=("textops", "dedup", "neardup"),
)
def t_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact 3-gram Jaccard >= 0.8.

    A SINGLE-PASS co-occurrence count over the df-capped inverted
    index (the ``t_containment_dups`` plan): per-shingle postings
    join against themselves once per pair (``d1 < d2``), both sizes
    ride the postings as payloads, and the pair fan-out collapses
    INSIDE the join stage via map-side partial aggregation — only
    distinct pairs ever cross a shuffle, and the threshold applies
    straight off the (pair, shared, sz1, sz2) aggregate with zero
    post-joins. The df cap (>{DF_CAP} docs) is semantic (mirrored in
    the oracle), bounding both the shingle universe the similarity
    is defined over and the per-key join fan-out (≤ {DF_CAP}
    postings/side — no task exceeds ~{DF_CAP}²/2 pairs per key,
    hash-spread across the digest key space). Index keys are the
    shingle's 16-byte md5 digest, never the ~25-byte token string.
    Jaccard = shared / (|A| + |B| - shared), exact integer ratio.

    This REPLACES the round-7 PPJoin prefix+positional formulation,
    on measurements, not taste. The prefix principle is real (55M of
    260M postings enter the index at t=0.8; the positional bound cut
    122M co-hit groups to 12.79M candidates on a dense 500k-doc
    replica) — but every way of VERIFYING those candidates lost to
    the count stream it was meant to avoid, because candidate
    density, not corpus size, is the decisive quantity. On a corpus
    with 256k qualifying pairs the filters still passed 50× more
    candidates than answers: per-candidate set arrays are ~13B hex
    elements (~440 GB of traffic — measured out of disk), and even
    slim per-candidate postings re-explosion is a 938M-row EXCHANGE
    (out of disk again, on 69 GB free). The count form's fan-out
    never leaves its join stage, so its footprint stays ~10 GB on
    the same corpus. Cost of the robustness where the prefix DID
    win: 1.56× on a sparse replica (190.6 s vs 122.2 s, r7
    SCALING.md) — against a data-dependent plan that can exceed any
    disk budget; at toy scale the count form is the faster one
    (no collect_list set build, no rank window).
    """
    return _capped_jaccard_pairs(spark, sf_dir, JACCARD_THRESHOLD)


def _capped_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float, ex: DataFrame | None = None
) -> DataFrame:
    """(d1, d2, shared, jaccard) at ``jaccard >= threshold`` over the
    df-capped inverted index — the single-pass co-occurrence count
    kernel of ``t_ngram_jaccard_dups`` (algorithm + measurement notes
    there), parameterized so the LSH recall audit can run it at a
    lower floor. ``ex`` injects an already-persisted exploded shingle
    table to share with other consumers in the same plan."""
    if ex is None:
        _, ex = _shingled(spark, sf_dir, persist=True)
    exd = ex.select("doc_id", F.unhex(F.md5("s")).alias("s"))
    keep = exd.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= DF_CAP
    ).select("s")
    ex2 = track_persist(exd.join(keep, "s").select("doc_id", "s"))
    sizes = ex2.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    posts = ex2.join(sizes, "doc_id")
    a = posts.select(
        "s", F.col("doc_id").alias("d1"), F.col("sz").alias("sz1")
    )
    b = posts.select(
        "s", F.col("doc_id").alias("d2"), F.col("sz").alias("sz2")
    )
    pairs = (
        a.join(b, "s")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("shared"),
             F.first("sz1").alias("sz1"), F.first("sz2").alias("sz2"))
    )
    jac = F.col("shared").cast("double") / (
        F.col("sz1") + F.col("sz2") - F.col("shared")
    )
    return pairs.filter(jac >= threshold).select(
        "d1", "d2", F.col("shared").cast("long").alias("shared"),
        jac.alias("jaccard"),
    )


# Row-local repetition-gate folds (r15). The gate's two signals —
# top-bigram multiplicity and duplicated-5-gram coverage — are pure
# per-document functions of the token array, yet the original shape
# computed them as corpus-wide (doc_id, gram) explodes → exchange →
# two-level hash aggregates → two left joins back on doc_id. At every
# scale that shuffles ~7× the token bytes (gram strings overlap) and
# pays a high-cardinality string hash-aggregate for what a row-local
# pass can answer. These folds sort each doc's gram array and count
# adjacent-equal runs: max run length = the top gram's multiplicity,
# and the sum of >1-run lengths = the duplicated-gram token coverage —
# exact integer arithmetic, verified value-identical to the aggregate
# shape on all 5000 sf0.1 docs (OPTIMIZATION_r15.md). Plan effect per
# consumer: 2 Exchange + 2 HashAggregate pairs + 2 joins → 0 (the gate
# becomes a projection). The DuckDB oracles keep the aggregate
# formulation, so every run is still cross-checked against it.

def _top_run_fold(g: str) -> str:
    """Max multiplicity of any gram in sorted array column ``g``."""
    return f"""
    CASE WHEN size({g}) < 1 THEN 0L
         WHEN size({g}) < 2 THEN 1L
         ELSE aggregate(
           sequence(2, size({g})),
           named_struct('cur', 1L, 'best', 1L),
           (acc, i) -> IF(element_at({g}, i) = element_at({g}, i - 1),
                          named_struct('cur', acc.cur + 1L,
                                       'best', GREATEST(acc.best, acc.cur + 1L)),
                          named_struct('cur', 1L, 'best', acc.best)),
           acc -> acc.best)
    END"""


def _dup_run_fold(g: str) -> str:
    """Total count of grams whose multiplicity exceeds 1 in sorted
    array column ``g`` (each duplicated gram contributes its full
    multiplicity, matching SUM(CASE WHEN cnt > 1 THEN cnt END))."""
    return f"""
    CASE WHEN size({g}) < 2 THEN 0L
         ELSE aggregate(
           sequence(2, size({g})),
           named_struct('cur', 1L, 'tot', 0L),
           (acc, i) -> IF(element_at({g}, i) = element_at({g}, i - 1),
                          named_struct('cur', acc.cur + 1L, 'tot', acc.tot),
                          named_struct('cur', 1L,
                                       'tot', acc.tot + IF(acc.cur > 1L,
                                                           acc.cur, 0L))),
           acc -> acc.tot + IF(acc.cur > 1L, acc.cur, 0L))
    END"""


def with_gram_gate(df, tok: str = "t",
                   top_alias: str = "top_bigram_ct",
                   dup_alias: str = "dup5"):
    """Add the repetition-gate stats as row-local columns.

    ``top_alias`` = multiplicity of the document's most frequent
    bigram (0 when no bigram exists), ``dup_alias`` = total 5-gram
    positions covered by grams occurring more than once (0 when fewer
    than two 5-grams exist) — bit-identical to the explode/aggregate
    formulation the oracles keep (word shingles are space-joined
    whitespace-split tokens, so string equality ≡ tuple equality).
    """
    return (
        df.withColumn("_g2", F.array_sort(word_shingles(F.col(tok), 2)))
        .withColumn("_g5", F.array_sort(word_shingles(F.col(tok), 5)))
        .withColumn(top_alias, F.expr(_top_run_fold("_g2")))
        .withColumn(dup_alias, F.expr(_dup_run_fold("_g5")))
        .drop("_g2", "_g5")
    )


# --------------------------------------------------------------------------
# Near-dup #2: MinHash + LSH banding (the 100 TB design), oracle-checked
# --------------------------------------------------------------------------

def _minhash_cols_spark() -> list:
    # Kirsch-Mitzenmacher double hashing: one md5 per shingle, 16
    # derived hash families g_j = h1 + j*h2 — 16x fewer md5 evals
    # than hashing (shingle, j) pairs, same MinHash guarantees.
    return [
        F.min(F.col("h1") + j * F.col("h2")).alias(f"h{j}")
        for j in range(MINHASHES)
    ]


def _hashed_shingles_spark(ex):
    return ex.select(
        "doc_id",
        md5_long(F.col("s")).alias("h1"),
        md5_long(F.col("s"), start=9).alias("h2"),
    )


def _band_keys_spark() -> list:
    rows = MINHASHES // LSH_BANDS
    return [
        F.md5(F.concat_ws("|", F.lit(str(b)),
                          *[F.col(f"h{b * rows + k}") for k in range(rows)]))
        for b in range(LSH_BANDS)
    ]


def _minhash_sql() -> str:
    cols = ",\n             ".join(
        f"min(h1 + {j} * h2) AS h{j}" for j in range(MINHASHES)
    )
    return f"""SELECT doc_id,
             {cols}
      FROM (SELECT doc_id,
                   CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS h1,
                   CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT) AS h2
            FROM ex) GROUP BY doc_id"""


def _band_keys_sql() -> str:
    rows = MINHASHES // LSH_BANDS
    keys = ", ".join(
        "md5('" + str(b) + "' || '|' || "
        + " || '|' || ".join(f"h{b * rows + k}" for k in range(rows)) + ")"
        for b in range(LSH_BANDS)
    )
    return f"[{keys}]"


# The full MinHash-LSH pair chain as a reusable CTE block ending in
# pairs(d1, d2, jaccard) — shared by t_minhash_lsh_dups (which selects
# it directly), t_dup_clusters (which walks its transitive closure),
# and the leakage-safe splits (which cluster at ``threshold``, possibly
# below the dedup threshold — candidate generation is banding-identical,
# only the verify gate moves).
def _minhash_pairs_ctes(threshold: float) -> str:
    return f"""{_SHINGLE_CTE},
    sigs AS (
      {_minhash_sql()}
    ),
    bands AS (
      SELECT doc_id, unnest({_band_keys_sql()}) AS bkey FROM sigs
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT d1, d2,
             CAST(len(list_intersect(x.sl, y.sl)) AS DOUBLE)
               / (len(x.sl) + len(y.sl) - len(list_intersect(x.sl, y.sl)))
               AS jaccard
      FROM cand
      JOIN sh x ON d1 = x.doc_id
      JOIN sh y ON d2 = y.doc_id
      WHERE CAST(len(list_intersect(x.sl, y.sl)) AS DOUBLE)
               / (len(x.sl) + len(y.sl) - len(list_intersect(x.sl, y.sl)))
               >= {threshold}
    )"""


_MINHASH_PAIRS_CTES = _minhash_pairs_ctes(JACCARD_THRESHOLD)


def pairkey_verify(
    cand: DataFrame, sh: DataFrame, threshold: float,
    right_sh: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs as a PAIR-KEYED
    COUNT — the ONE verify kernel every near-dup consumer shares
    (``_minhash_pairs``, both composed pipelines, and the streaming
    incremental dedup/split bodies via the ``right_sh`` form).

    ``cand``: distinct (d1, d2) — MUST be persisted/cheap, the verify
    consumes it twice (once per posting side); ``sh``: (doc_id, sl)
    distinct-shingle arrays covering the d1 side (and the d2 side
    when ``right_sh`` is None — the batch self-join case);
    ``right_sh`` supplies a separate d2-side table for the streaming
    store↔batch legs. Each side's postings stream through a
    (d1, d2, digest) equijoin: 1:1 per key by construction (shingles
    distinct per doc, candidate pairs distinct), so there is NO
    fan-out anywhere, the exchange is candidates x doc-length narrow
    rows per side — the minimum any exact verify must read — and the
    shared count collapses map-side. Sizes ride the postings as
    payloads. This is the form that beat both alternatives measured
    in SCALING.md §R9 (arrays: disk-unbounded under candidate
    density x doc length; co-occurrence count: df-uncapped fan-out).
    Returns (d1, d2, jaccard) at ``jaccard >= threshold``.
    """
    def posts(side_sh: DataFrame) -> DataFrame:
        return side_sh.select(
            "doc_id", F.size("sl").alias("sz"), F.explode("sl").alias("s")
        ).select(
            # 16-byte md5 digests as join keys, never ~25-byte strings
            "doc_id", "sz", F.unhex(F.md5("s")).alias("s")
        )

    pl = posts(sh)
    pr = pl if right_sh is None else posts(right_sh)
    p1 = cand.join(pl, cand.d1 == pl.doc_id).select(
        "d1", "d2", "s", F.col("sz").alias("sz1")
    )
    p2 = cand.join(pr, cand.d2 == pr.doc_id).select(
        "d1", "d2", "s", F.col("sz").alias("sz2")
    )
    counts = (
        p1.join(p2, ["d1", "d2", "s"])
        .groupBy("d1", "d2")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.first("sz1").alias("sz1"),
            F.first("sz2").alias("sz2"),
        )
    )
    jac = F.col("shared").cast("double") / (
        F.col("sz1") + F.col("sz2") - F.col("shared")
    )
    return counts.filter(jac >= threshold).select(
        "d1", "d2", jac.alias("jaccard")
    )


def _minhash_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Verified MinHash-LSH near-dup pairs (d1 < d2, jaccard) — the
    Spark twin of ``_MINHASH_PAIRS_CTES``; see ``t_minhash_lsh_dups``
    for the algorithm notes.

    The verify leg is the candidate-pair-keyed COUNT (round 9): the
    round-8 plan joined both docs' full shingle arrays onto every LSH
    candidate — the shape measured OUT OF DISK for its Jaccard sibling
    on a candidate-dense replica (~440 GB of array traffic, SCALING.md
    §R8). Here each side's postings stream through a (d1, d2, digest)
    equijoin instead: the join is 1:1 PER KEY by construction
    (shingles are distinct per doc, candidate pairs are distinct), so
    there is no fan-out anywhere, the exchange is Σ|sl| narrow rows
    per side — candidates × doc-length, the minimum any exact verify
    must read — and the shared count collapses map-side. Sizes ride
    the postings as payloads; the threshold applies straight off the
    (pair, shared, sz1, sz2) aggregate.

    Three verify forms measured on the dense 500k-doc replica (1.27M
    LSH candidates, 25,086 qualifying pairs, SCALING.md §R9): arrays
    45.7 s but wide-row traffic ∝ candidates × doc-length that a
    moderately-similar corpus (LSH false positives at jaccard ≈ 0.5
    band-collide at ~23% with 4x4 banding) can push past any disk
    budget; co-occurrence count over candidate docs 91.2 s AND
    df-uncapped (a stop-shingle shared by the candidate docs re-opens
    the quadratic per-key fan-out); pair-keyed count 79.7 s with both
    failure modes closed. The array-based DuckDB oracle is unchanged:
    it remains the losslessness proof for the rewrite.
    """
    sh, cand = _lsh_candidates(spark, sf_dir)
    return pairkey_verify(cand, sh, threshold)


def _lsh_candidates(
    spark: SparkSession, sf_dir: str, sh_ex=None
) -> tuple[DataFrame, DataFrame]:
    """(sh, cand): the persisted shingle table and the distinct
    MinHash-LSH band-collision candidate pairs (d1 < d2) — candidate
    GENERATION only, no verification, shared by ``_minhash_pairs``
    and the recall audit. ``sh_ex`` injects an already-persisted
    (sh, ex) pair to share the shingle table with other consumers."""
    sh, ex = sh_ex if sh_ex is not None else _shingled(
        spark, sf_dir, persist=True
    )
    sigs = _hashed_shingles_spark(ex).groupBy("doc_id").agg(
        *_minhash_cols_spark()
    )
    bands = sigs.select(
        "doc_id", F.explode(F.array(*_band_keys_spark())).alias("bkey")
    )
    # skew-guarded band-key self-join (plans.pairjoin): a boilerplate
    # page duplicated millions of times lands every copy in one band
    # bucket — the guard grid-splits it instead of one quadratic task
    cand = track_persist(pair_self_join(bands, "doc_id", ["bkey"]).distinct())
    return sh, cand


@query(
    "t_minhash_lsh_dups",
    oracle=f"""
    WITH {_MINHASH_PAIRS_CTES}
    SELECT d1, d2, jaccard FROM pairs
    """,
    tags=("textops", "dedup", "lsh"),
)
def t_minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands x 4) near-dup pairs, verified exactly.

    The banded-LSH design from the MinHash literature (Broder '97;
    Leskovec/Rajaraman/Ullman ch.3): each doc is reduced to a 16-value
    signature (one aggregation over its shingles), docs are joined on 4
    band keys — candidate generation is O(docs x bands), never
    all-pairs — and only candidates pay the exact-Jaccard verification
    (a single-pass co-occurrence COUNT over the candidate-restricted
    inverted index; see ``_minhash_pairs`` for why arrays lost).

    Determinism: one md5 per shingle split into two 32-bit ints
    (h1, h2); MinHash_j = min(h1 + j*h2) — pure integer min, identical
    in Spark and DuckDB, so the oracle reproduces candidate generation
    exactly.
    """
    return _minhash_pairs(spark, sf_dir)


# --------------------------------------------------------------------------
# LSH recall audit: the banding S-curve, measured on the corpus itself
# --------------------------------------------------------------------------

# audit floor: low enough to show the S-curve's soft region (the 4x4
# banding collision probability is 1-(1-j^4)^4 ~ 3% at j=0.3, ~23% at
# 0.5, ~91% at 0.8), mirrored literally in the oracle
RECALL_FLOOR = 0.3


@query(
    "t_lsh_precision_stats",
    oracle=f"""
    WITH {_minhash_pairs_ctes(0.0)}
    SELECT LEAST(9, CAST(floor(jaccard * 10) AS BIGINT)) / 10.0 AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_cands,
           CAST(SUM(CASE WHEN jaccard >= {JACCARD_THRESHOLD}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
    FROM pairs GROUP BY 1
    """,
    tags=("textops", "dedup", "lsh", "audit"),
)
def t_lsh_precision_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate PRECISION by jaccard decile — the other half of
    the banding trade the recall curve measures.

    ``t_lsh_recall_curve`` answers "what fraction of true pairs do the
    band collisions surface"; this answers "what fraction of band
    collisions are worth verifying" — the exact-jaccard distribution
    of EVERY candidate the production chain generates (verify at
    threshold 0, so false positives land in their true decile instead
    of vanishing). The verify leg's cost is proportional to total
    candidates while its yield is the ≥-threshold tail, so
    Σ n_verified / Σ n_cands IS the banding's precision and the
    per-decile histogram shows where the wasted verifies concentrate —
    the number that says whether to NARROW banding (precision-bound)
    while the recall curve says whether to WIDEN it (recall-bound).
    Band count and derived bits respond to the same knobs as the
    production chain, so the audit measures the banding AS BUILT.

    Scale shape: candidate generation is the shared skew-guarded band
    self-join; the verify is the pair-keyed count kernel at floor 0
    (same exchange volume as the production verify — candidates ×
    doc-length narrow rows); the rollup is ≤ 10 rows. At 100 TB the
    audit runs on a corpus sample, like every audit in the family.
    """
    sh, cand = _lsh_candidates(spark, sf_dir)
    jc = pairkey_verify(cand, sh, 0.0).select("d1", "d2", "jaccard")
    # zero-shared candidates never reach the count kernel's output;
    # they are real candidates with jaccard exactly 0 — restore them
    allc = cand.join(jc, ["d1", "d2"], "left").select(
        F.coalesce("jaccard", F.lit(0.0)).alias("j")
    )
    decile = F.least(F.lit(9), F.floor(F.col("j") * 10)).cast("long") / 10.0
    return allc.groupBy(decile.alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_cands"),
        F.sum((F.col("j") >= JACCARD_THRESHOLD).cast("int"))
        .cast("long").alias("n_verified"),
    )



@query(
    "t_lsh_recall_curve",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    keep AS (
      SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= {DF_CAP}
    ),
    ex2 AS (SELECT doc_id, s FROM ex JOIN keep USING (s)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex2 GROUP BY doc_id),
    cpairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM ex2 a JOIN ex2 b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT d1, d2,
             CAST(shared AS DOUBLE) / (s1.sz + s2.sz - shared) AS jaccard
      FROM cpairs
      JOIN sizes s1 ON d1 = s1.doc_id
      JOIN sizes s2 ON d2 = s2.doc_id
      WHERE CAST(shared AS DOUBLE) / (s1.sz + s2.sz - shared)
            >= {RECALL_FLOOR}
    ),
    sigs AS (
      {_minhash_sql()}
    ),
    bands AS (SELECT doc_id, unnest({_band_keys_sql()}) AS bkey FROM sigs),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT CAST(floor(t.jaccard * 10) AS INTEGER) AS decile,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_found,
           CAST(SUM(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS recall
    FROM truth t
    LEFT JOIN cand c ON t.d1 = c.d1 AND t.d2 = c.d2
    GROUP BY 1
    """,
    tags=("textops", "dedup", "lsh", "audit"),
)
def t_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical LSH recall by jaccard decile — the banding S-curve.

    Every MinHash docstring in this module cites the theoretical
    collision curve (1-(1-j^r)^b, ~23% at jaccard 0.5 under 4x4
    banding); this operator MEASURES it on the corpus: ground truth is
    the exact-jaccard pair set over the df-capped inverted index at an
    audit floor of {RECALL_FLOOR} (the ``t_ngram_jaccard_dups``
    count kernel, run at the lower gate), probed with a LEFT join
    against the MinHash band-collision candidate set; output is
    per-decile pair counts, found counts, and recall. This is the
    eval-integrity companion to ``t_leakage_safe_split_loose``: the
    loose split's contract is 'LSH candidates verified at the loose
    threshold', and this query quantifies exactly what fraction of
    true pairs the candidates cover at each similarity level — the
    number a pipeline owner needs before trusting a loose-threshold
    split (or choosing wider banding).

    Scale shape: ground truth is the documented df-capped count kernel
    (bounded per-key fan-out, map-side collapse); the probe join keys
    on (d1, d2) — both sides pair sets, no fan-out; the rollup is 8
    rows. At 100 TB you run this audit on a corpus SAMPLE — the curve
    is a property of the banding, not the corpus size. The df cap is
    part of the ground-truth semantics (as in t_ngram_jaccard_dups);
    signatures are built on the uncapped shingles exactly as the
    production pair chain builds them.
    """
    sh_ex = _shingled(spark, sf_dir, persist=True)
    truth = _capped_jaccard_pairs(
        spark, sf_dir, RECALL_FLOOR, ex=sh_ex[1]
    ).select("d1", "d2", "jaccard")
    _, cand = _lsh_candidates(spark, sf_dir, sh_ex=sh_ex)
    hit = cand.withColumn("hit", F.lit(1))
    j = truth.join(hit, ["d1", "d2"], "left")
    found = F.sum(F.coalesce("hit", F.lit(0)))
    return j.groupBy(
        F.floor(F.col("jaccard") * 10).cast("int").alias("decile")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        found.cast("long").alias("n_found"),
        (found.cast("double") / F.count(F.lit(1))).alias("recall"),
    )


# --------------------------------------------------------------------------
# Duplicate clustering: connected components over the near-dup graph
# --------------------------------------------------------------------------

@query(
    "t_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    {CC_SQL_CTES},
    ranked AS (
      SELECT l.cluster_id, l.doc_id, length(d.text) AS len,
             ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                ORDER BY length(d.text) DESC, l.doc_id ASC)
               AS rn
      FROM labels l JOIN documents d USING (doc_id)
    )
    SELECT r.cluster_id, s.n_docs,
           r.doc_id AS keep_doc, CAST(r.len AS BIGINT) AS keep_len
    FROM ranked r
    JOIN (SELECT cluster_id, COUNT(*) AS n_docs
          FROM labels GROUP BY cluster_id) s USING (cluster_id)
    WHERE r.rn = 1
    """,
    tags=("textops", "dedup", "clustering"),
)
def t_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters (connected components) + keep-best selection.

    Pairwise near-dup output is not what a training-data pipeline
    acts on — transitive closure is (A~B, B~C ⇒ {A,B,C} is one
    cluster, keep one document). Components over the verified
    MinHash-LSH pair graph via ``plans.graph.connected_components``
    (min-label propagation; algorithm + scale notes there). The
    keeper is the longest document per cluster (ties → smallest
    doc_id) — the usual keep-best heuristic, computed as ONE
    map-side-combined ``max(struct(len, -doc_id))`` aggregate over
    cluster members (struct ordering IS the (len DESC, doc_id ASC)
    rank), which carries the cluster size in the same pass. The
    cluster-keyed window + separate size join this replaces put every
    member of a cluster into one sorted task — and cluster size is
    exactly the quantity that blows up on real crawls (a boilerplate
    page duplicated 10^6x is one cluster).

    Oracle: DuckDB's recursive CTE (``CC_SQL_CTES``) walks
    reachability over the same edges; MIN(root) over walkers ≡ the
    propagated fixpoint label.
    """
    # persist the PAIR table, not the symmetrized edge view: the union
    # has two branches, and an unpersisted subtree would pay the LSH
    # candidate join twice
    pairs = track_persist(_minhash_pairs(spark, sf_dir).select("d1", "d2"),
                          eager=False)  # CC's first action fully scans it
    labels = connected_components(pairs)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("len")
    )
    memb = labels.join(docs, "doc_id")
    return (
        memb.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max(
                F.struct(F.col("len"), (-F.col("doc_id")).alias("_nid"))
            ).alias("_best"),
        )
        .select(
            "cluster_id", "n_docs",
            (-F.col("_best._nid")).alias("keep_doc"),
            F.col("_best.len").cast("long").alias("keep_len"),
        )
    )


def split_bucket_col(gkey) -> F.Column:
    """md5-mod-100 split bucket of a group key — the one splitting rule
    every split operator (batch text/embedding, streaming, the training
    pipeline's stage 7) shares, so 'same gkey ⇒ same split' holds
    ACROSS operators, not just within one."""
    return F.conv(
        F.substring(F.md5(gkey.cast("string").cast("binary")), 1, 4),
        16, 10,
    ).cast("long") % 100


def _leakage_split_tagged(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """Per-doc split assignment (source, doc_id, in_cluster, split)
    keyed by the near-dup cluster label at ``threshold`` — the shared
    body of both leakage-safe split queries, exposed row-level so the
    invariant tests can assert 'no verified pair straddles' directly."""
    pairs = track_persist(
        _minhash_pairs(spark, sf_dir, threshold).select("d1", "d2")
    )
    labels = connected_components(pairs)
    docs = load(spark, sf_dir, "documents").select("source", "doc_id")
    grp = docs.join(labels, "doc_id", "left").select(
        "source",
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("gkey"),
        F.col("cluster_id").isNotNull().alias("in_cluster"),
    )
    return grp.select(
        "source",
        "doc_id",
        "in_cluster",
        F.when(split_bucket_col(F.col("gkey")) < TRAIN_PCT, "train")
        .otherwise("val").alias("split"),
    )


def _leakage_split_oracle(threshold: float) -> str:
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes(threshold)},
    {CC_SQL_CTES},
    grp AS (
      SELECT d.source, d.doc_id,
             COALESCE(l.cluster_id, d.doc_id) AS gkey,
             l.cluster_id IS NOT NULL AS in_cluster
      FROM documents d LEFT JOIN labels l USING (doc_id)
    ),
    tagged AS (
      SELECT source, doc_id, in_cluster,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(gkey AS VARCHAR)),
                                   1, 4)) AS BIGINT) % 100 < {TRAIN_PCT}
                  THEN 'train' ELSE 'val' END AS split
      FROM grp
    )
    SELECT source, split, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN in_cluster THEN 1 ELSE 0 END) AS BIGINT)
             AS clustered_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM tagged GROUP BY source, split
    """


def _leakage_split_audit(tagged: DataFrame) -> DataFrame:
    return tagged.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("in_cluster").cast("long")).cast("long")
        .alias("clustered_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@query(
    "t_leakage_safe_split",
    oracle=_leakage_split_oracle(SPLIT_JACCARD),
    tags=("textops", "split", "dedup", "clustering"),
)
def t_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val split that near-dup CLUSTERS cannot straddle.

    ``t_train_val_split`` hashes each doc_id independently — correct
    until two near-duplicate documents land on opposite sides, at
    which point the val set leaks into training through a paraphrase
    (the standard contamination path an eval-integrity audit looks
    for). This operator assigns by the duplicate-cluster key instead:
    every doc's group key is its connected-component label over the
    verified MinHash-LSH pair graph (its own doc_id when it has no
    near-dup), and split = md5(group key) mod 100 — a pure function
    of the data, reproducible anywhere, with all members of a cluster
    landing in the SAME split by construction. Output is the
    per-(source, split) audit: doc counts, how many docs were
    assigned via a multi-doc cluster (the leakage that plain hashing
    would have risked), and an id-sum pinning the exact membership in
    the oracle compare.

    Scale shape: everything beyond the near-dup clustering itself
    (shared with ``t_dup_clusters``; pair-keyed count verify +
    contracted CC, see those docstrings) is a row-local left join +
    map + one map-side-combined aggregate — the clustering is the
    cost, and a real pipeline reuses the labels it already computed
    for dedup.

    The clustering threshold is ``SPLIT_JACCARD``, equal to the dedup
    threshold but a separate constant: split assignment may cluster
    looser than removal. ``t_leakage_safe_split_loose`` runs the same
    operator at the loose value.
    """
    return _leakage_split_audit(
        _leakage_split_tagged(spark, sf_dir, SPLIT_JACCARD)
    )


@query(
    "t_leakage_safe_split_loose",
    oracle=_leakage_split_oracle(LOOSE_SPLIT_JACCARD),
    tags=("textops", "split", "dedup", "clustering"),
)
def t_leakage_safe_split_loose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``t_leakage_safe_split`` at the PARAPHRASE-level threshold.

    Dedup removes near-copies at jaccard >= {JACCARD_THRESHOLD}; this
    twin clusters the split assignment at {LOOSE_SPLIT_JACCARD} — the
    eval-integrity stance that a pair too dissimilar to DELETE can
    still be similar enough to CONTAMINATE a held-out set, so it must
    not straddle train/val. Candidate generation is unchanged (same
    MinHash banding — at 4x4 bands the collision rate at jaccard 0.5
    is ~23%, so the loose graph is a recall-bounded subset of true
    0.5-pairs; the semantic contract is 'LSH candidates verified at
    the loose threshold', mirrored exactly by the oracle); only the
    verify gate moves, so the extra cost at a lower threshold is the
    extra qualifying pairs and the larger components they induce —
    measured across a decade in SCALING.md §R10.
    """
    return _leakage_split_audit(
        _leakage_split_tagged(spark, sf_dir, LOOSE_SPLIT_JACCARD)
    )


# --------------------------------------------------------------------------
# Near-dup #3: SimHash fingerprints + banded hamming candidates
# --------------------------------------------------------------------------

def _simhash_sums_sql(dialect: str, bits: int) -> str:
    """``bits`` signed bit-sums over the token-hash int ``v``.

    ``v`` is the leading ``bits/4`` hex chars of md5(token) parsed ONCE
    into an integer; bit b of the signature reads ``(v >> (bits-1-b)) & 1``
    — cheap shifts instead of substring/index-of parses per token.
    """
    terms = []
    for b in range(bits):
        shift = bits - 1 - b
        if dialect == "duckdb":
            bit = f"((v >> {shift}) & 1)"
        else:
            bit = f"(shiftright(v, {shift}) & 1)"
        terms.append(
            f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS b{b}"
        )
    return ",\n             ".join(terms)


def _simhash_pack_sql(bits: int) -> str:
    return " + ".join(
        f"(CASE WHEN b{b} >= 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )


@query(
    "t_simhash_dups",
    # The oracle always builds the full 56-bit signature and masks down
    # to nbits.bits (constant when env-pinned, else the corpus rule).
    # Signature bit b depends only on md5-prefix bit b — never on the
    # total width — so the masked signature is identical to one built
    # natively at that width (what the Spark side does).
    oracle=f"""
    WITH {_SIMHASH_BITS_CTE},
    toks AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(unnest({_TOKS})), 1, {SIMHASH_MAX_BITS // 4})) AS BIGINT) AS v
      FROM documents
    ),
    sums AS (
      SELECT doc_id,
             {_simhash_sums_sql('duckdb', SIMHASH_MAX_BITS)}
      FROM toks GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id,
             CAST({_simhash_pack_sql(SIMHASH_MAX_BITS)} AS BIGINT)
               % CAST(power(2, bits) AS BIGINT) AS simhash,
             bits // {SIMHASH_CHUNKS} AS cbits
      FROM sums, nbits
    ),
    chunks AS (
      SELECT doc_id, simhash, c AS chunk_idx,
             (simhash // CAST(power(2, cbits * c) AS BIGINT))
               % CAST(power(2, cbits) AS BIGINT) AS chunk
      FROM sig, unnest({list(range(SIMHASH_CHUNKS))}) AS u(c)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                      a.simhash AS h1, b.simhash AS h2
      FROM chunks a
      JOIN chunks b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
                   AND a.doc_id < b.doc_id
    )
    SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(h1, h2)) <= {HAMMING_MAX}
    """,
    tags=("textops", "dedup", "simhash"),
)
def t_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints; near-dup pairs at hamming <= 3.

    Charikar '02 sign-random-projection hashing: bit b of the signature
    is the sign of the token-frequency-weighted sum of bit b of each
    token's md5. Candidate pairs come from banding the bits into 4
    chunks (hamming <= 3 < 4 chunks guarantees a matching chunk — the
    pigeonhole trick), so the pair join is on chunk keys, never
    all-pairs. The width derives from the corpus size by default
    (``simhash_bits_for``; 32 bits up to ~65k docs — 16 bits marked most
    doc pairs as dups on a small-vocabulary corpus) and widens with the
    corpus so same-chunk collisions stay bounded; the env knob pins it.
    All integer math ⇒ oracle-identical at every width.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    bits = (int(_SIMHASH_ENV) if _SIMHASH_ENV
            else simhash_bits_for(table_rows(spark, sf_dir, "documents")))
    cbits = bits // SIMHASH_CHUNKS
    cmask = (1 << cbits) - 1
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("w")).select(
        "doc_id",
        md5_long(F.col("w"), hex_chars=bits // 4).alias("v"),
    )
    sums = toks.groupBy("doc_id").agg(
        *[F.expr(t.replace(" AS b", " as b")).alias(f"b{i}")
          for i, t in enumerate(
              _simhash_sums_sql("spark", bits).split(",\n             "))]
    )
    sig = sums.select(
        "doc_id", F.expr(_simhash_pack_sql(bits)).cast("long").alias("simhash")
    )
    chunks = sig.select(
        "doc_id", "simhash",
        F.explode(
            F.array(*[F.lit(c) for c in range(SIMHASH_CHUNKS)])
        ).alias("chunk_idx"),
    ).withColumn(
        "chunk",
        F.expr(f"shiftright(simhash, {cbits} * chunk_idx) & {cmask}"),
    )
    cand = (
        pair_self_join(chunks, "doc_id", ["chunk_idx", "chunk"],
                       payload=["simhash"])
        .select("d1", "d2", F.col("simhash1").alias("h1"),
                F.col("simhash2").alias("h2"))
        .distinct()
    )
    hamming = F.expr("bit_count(h1 ^ h2)")
    return cand.filter(hamming <= HAMMING_MAX).select(
        "d1", "d2", hamming.cast("int").alias("hamming")
    )


# --------------------------------------------------------------------------
# Flagship composition: end-to-end corpus curation pipeline
# --------------------------------------------------------------------------

def _quality_score_sql() -> str:
    """0-3 heuristic score; SQL twin of the t_quality_score expression."""
    n_tok = f"len({_TOKS})"
    stop = f"len(list_filter({_TOKS}, x -> x IN {_STOP_LIST}))"
    alpha = f"length(replace({_NORM}, ' ', ''))"
    return (
        f"(CASE WHEN {n_tok} BETWEEN 20 AND 200 THEN 1 ELSE 0 END"
        f" + CASE WHEN CAST({stop} AS DOUBLE) / {n_tok} BETWEEN 0.02 AND 0.5"
        f"        THEN 1 ELSE 0 END"
        f" + CASE WHEN CAST({alpha} AS DOUBLE) / {n_tok} BETWEEN 3 AND 8"
        f"        THEN 1 ELSE 0 END)"
    )


def _quality_pass_sql() -> str:
    """Quality gate shared with t_quality_score (score >= 2 of 3)."""
    return f"{_quality_score_sql()} >= 2"


# --------------------------------------------------------------------------
# Keep-best near-dup dedup: quality-argmax survivor per cluster
# --------------------------------------------------------------------------

@query(
    "t_keep_best_dedup",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    {CC_SQL_CTES},
    q AS (SELECT doc_id, {_quality_score_sql()} AS qscore FROM documents),
    m AS (SELECT l.cluster_id, l.doc_id, q.qscore
          FROM labels l JOIN q USING (doc_id)),
    best AS (
      SELECT cluster_id, doc_id AS keep_doc, qscore AS keep_quality
      FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
                      ORDER BY qscore DESC, doc_id) AS rn FROM m)
      WHERE rn = 1
    ),
    first AS (
      SELECT cluster_id, doc_id AS first_doc, qscore AS first_quality
      FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
                      ORDER BY doc_id) AS rn FROM m)
      WHERE rn = 1
    )
    SELECT b.cluster_id,
           CAST(c.n_docs AS BIGINT) AS n_docs,
           b.keep_doc, CAST(b.keep_quality AS BIGINT) AS keep_quality,
           f.first_doc, CAST(f.first_quality AS BIGINT) AS first_quality,
           CAST(b.keep_quality - f.first_quality AS BIGINT) AS quality_gain
    FROM best b
    JOIN first f USING (cluster_id)
    JOIN (SELECT cluster_id, COUNT(*) AS n_docs FROM m GROUP BY 1) c
      USING (cluster_id)
    """,
    tags=("textops", "dedup", "quality"),
)
def t_keep_best_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup dedup: each duplicate cluster keeps its
    HIGHEST-QUALITY member, not the smallest-id one.

    Min-id canonicalization (``t_exact_dedup``, the pipelines) is the
    cheapest deterministic rule, but on real crawls the first-crawled
    copy of a page is often the worst one (truncated, boilerplate-
    wrapped); production curation keeps the best-scoring member. This
    operator composes the verified MinHash pair graph → connected
    components → the ``t_quality_score`` 0-3 heuristic, and reports
    per cluster BOTH survivors — the quality-argmax ``keep_doc`` and
    the min-id ``first_doc`` — plus ``quality_gain``, so it doubles
    as the measurement of what keep-best buys over keep-first on this
    corpus (gain 0 rows = the policies agree).

    Scale shape: clustering inherits the banded/verified/skew-guarded
    pair machinery; the survivor choice is ONE groupBy on cluster_id
    with two struct-extrema aggregates — map-side combinable, no
    window over members, no sort by cluster size (the quantity that
    explodes on boilerplate-heavy crawls). The quality join touches
    only clustered docs (near-dup clusters are a small fraction of
    any corpus).

    Reference parity: the reference's dedup keeps latest-per-key
    (``DwdTradeOrderDetail`` Flink state, gmall-realtime); quality-
    argmax survivorship is the LLM-curation extension of the same
    keep-one-of-many contract.
    """
    pairs = track_persist(_minhash_pairs(spark, sf_dir).select("d1", "d2"),
                          eager=False)  # CC's first action fully scans it
    labels = connected_components(pairs)
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    toks = tokenize("text")
    stop_ratio = F.col("stop_ct").cast("double") / F.col("n_tokens")
    avg_len = F.col("alpha_chars").cast("double") / F.col("n_tokens")
    q = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).alias("stop_ct"),
        F.length(
            F.regexp_replace(normalize_text("text"), " ", "")
        ).alias("alpha_chars"),
    ).select(
        "doc_id",
        (
            F.when(F.col("n_tokens").between(20, 200), 1).otherwise(0)
            + F.when(stop_ratio.between(0.02, 0.5), 1).otherwise(0)
            + F.when(avg_len.between(3, 8), 1).otherwise(0)
        ).alias("qscore"),
    )
    memb = labels.join(q, "doc_id")
    return (
        memb.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            # argmax by (qscore desc, doc_id asc): max of
            # (qscore, -doc_id) structs — one map-side-combinable agg
            F.max(
                F.struct(F.col("qscore"), (-F.col("doc_id")).alias("_nid"))
            ).alias("_best"),
            # min-id member with its score: min of (doc_id, qscore)
            F.min(
                F.struct(F.col("doc_id"), F.col("qscore").alias("_q"))
            ).alias("_first"),
        )
        .select(
            "cluster_id",
            "n_docs",
            (-F.col("_best._nid")).alias("keep_doc"),
            F.col("_best.qscore").cast("long").alias("keep_quality"),
            F.col("_first.doc_id").alias("first_doc"),
            F.col("_first._q").cast("long").alias("first_quality"),
            (F.col("_best.qscore") - F.col("_first._q"))
            .cast("long").alias("quality_gain"),
        )
    )


@query(
    "t_corpus_pipeline",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, source, text, len({_TOKS}) AS n_tokens,
             CASE WHEN {_quality_pass_sql()} THEN 1 ELSE 0 END AS pass_q,
             md5({_NORM}) AS fp
      FROM documents
    ),
    e AS (
      SELECT *, CASE WHEN pass_q = 1
                      AND doc_id = MIN(CASE WHEN pass_q = 1 THEN doc_id END)
                                   OVER (PARTITION BY fp)
                     THEN 1 ELSE 0 END AS canon
      FROM q
    ),
    norm2 AS (SELECT doc_id, {_TOKS} AS t FROM e WHERE canon = 1),
    sh2 AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - {SHINGLE_N - 2}),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sl
      FROM norm2 WHERE len(t) >= {SHINGLE_N}
    ),
    ex AS (SELECT doc_id, unnest(sl) AS s FROM sh2),
    sigs AS (
      {_minhash_sql()}
    ),
    bands AS (SELECT doc_id, unnest({_band_keys_sql()}) AS bkey FROM sigs),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    dups AS (
      SELECT DISTINCT d2
      FROM cand
      JOIN sh2 x ON d1 = x.doc_id
      JOIN sh2 y ON d2 = y.doc_id
      WHERE CAST(len(list_intersect(x.sl, y.sl)) AS DOUBLE)
              / (len(x.sl) + len(y.sl) - len(list_intersect(x.sl, y.sl)))
            >= {JACCARD_THRESHOLD}
    ),
    flags AS (
      SELECT e.*, CASE WHEN canon = 1 AND d2 IS NULL THEN 1 ELSE 0 END AS kept
      FROM e LEFT JOIN dups ON e.doc_id = dups.d2
    )
    SELECT source,
           COUNT(*) AS total_docs,
           CAST(SUM(pass_q) AS BIGINT) AS quality_docs,
           CAST(SUM(canon) AS BIGINT) AS exact_unique,
           CAST(SUM(kept) AS BIGINT) AS kept_docs,
           CAST(SUM(CASE WHEN kept = 1 THEN n_tokens END) AS BIGINT) AS kept_tokens
    FROM flags
    GROUP BY source
    """,
    tags=("textops", "pipeline", "dedup"),
)
def t_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation: quality -> exact -> near-dup.

    The flagship composition a 100 TB data pipeline runs nightly:

    1. quality gate  — heuristic score >= 2/3 (t_quality_score rules);
    2. exact dedup   — md5-of-normalized-text groups keep min doc_id
                       (one uniform-key shuffle);
    3. near-dedup    — MinHash(16)+LSH(4x4) candidates over survivors,
                       exact-Jaccard verified, higher doc_id dropped;
    4. audit rollup  — per-source funnel counts + surviving tokens.

    Every stage is the scalable formulation: the quality gate is
    row-local, exact dedup a per-fingerprint ``min(doc_id)`` AGGREGATE
    joined back on the fingerprint digest (map-side-combined + AQE
    skew-splittable — the ``t_substring_dedup`` shape; the
    fp-partitioned window it replaces made an empty-page fingerprint
    with 10^6 copies one unsplittable sorted task), near-dup the
    banded-LSH join (never all-pairs), and the funnel output is one
    conditional aggregation over doc-level flags (no re-scans per
    stage).
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    # tokenize ONCE: the array is projected first and every quality
    # stat reads the column, then the same array feeds the shingle
    # stage through the persisted barrier (no second tokenize pass)
    t0 = docs.select("doc_id", "source", "text", tokenize("text").alias("t"))
    n_tok = F.size("t")
    stop_ratio = (
        F.size(F.filter("t", lambda x: x.isin(*STOPWORDS))).cast("double") / n_tok
    )
    avg_len = (
        F.length(F.regexp_replace(normalize_text("text"), " ", "")).cast("double")
        / n_tok
    )
    score = (
        F.when(n_tok.between(20, 200), 1).otherwise(0)
        + F.when(stop_ratio.between(0.02, 0.5), 1).otherwise(0)
        + F.when(avg_len.between(3, 8), 1).otherwise(0)
    )
    # lazy barriers (r15): q/winners/sh2 form a strictly sequential
    # build chain whose first action (the band-probe count inside
    # pair_self_join) fully scans the cascade — the three dedicated
    # eager jobs were pure fixed cost. cand stays eager (its two
    # verify legs scan it inside ONE job and would race).
    q = track_persist(
        t0.select(
            "doc_id", "source", "t",
            n_tok.alias("n_tokens"),
            F.when(score >= 2, 1).otherwise(0).alias("pass_q"),
            fingerprint("text").alias("fp"),
        ),
        eager=False,
    )
    # exact-dedup keeper by aggregate + digest join, NOT an
    # fp-partitioned window. The hot-fingerprint key (an empty page
    # with 10^6 copies) only ever touches SLIM streams: the winner
    # table is a map-side-combined agg, the canon flag attaches via a
    # token-free fp join (AQE-splittable), and the token arrays reach
    # the shingle stage through a join on UNIQUE doc_id — a key an
    # adversarial corpus cannot skew. The fat stream never shuffles
    # on fp at all (the window form it replaces shuffled it once and
    # sorted the hot fingerprint in a single task).
    winners = track_persist(
        q.filter(F.col("pass_q") == 1)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("_keep")),
        eager=False,
    )
    e = (
        q.drop("t")
        .join(winners, "fp", "left")
        .withColumn(
            "canon",
            F.when(
                (F.col("pass_q") == 1) & (F.col("doc_id") == F.col("_keep")),
                1,
            ).otherwise(0),
        )
        .drop("_keep")
    )
    sh2 = (
        q.join(winners.select(F.col("_keep").alias("doc_id")), "doc_id")
        .select("doc_id", "t")
        .filter(F.size("t") >= SHINGLE_N)
        .select(
            "doc_id",
            F.array_distinct(word_shingles(F.col("t"), SHINGLE_N)).alias("sl"),
        )
    )
    sh2 = track_persist(sh2, eager=False)
    ex = sh2.select("doc_id", F.explode("sl").alias("s"))
    sigs = _hashed_shingles_spark(ex).groupBy("doc_id").agg(*_minhash_cols_spark())
    bands = sigs.select(
        "doc_id", F.explode(F.array(*_band_keys_spark())).alias("bkey")
    )
    # skew-guarded band-key self-join (plans.pairjoin): a boilerplate
    # page duplicated millions of times lands every copy in one band
    # bucket — the guard grid-splits it instead of one quadratic task
    # pair-keyed count verify (``pairkey_verify``): round 10 closes the
    # last array-carrying verify legs — the composed pipelines had kept
    # the r8 array_intersect form the standalone MinHash query already
    # abandoned for its measured disk-unboundedness (SCALING.md §R9).
    # The candidate table MUST persist: the verify consumes it twice
    # (once per posting side), and an unpersisted subtree would pay
    # the band self-join + distinct twice.
    cand = track_persist(pair_self_join(bands, "doc_id", ["bkey"]).distinct())
    dups = (
        pairkey_verify(cand, sh2, JACCARD_THRESHOLD)
        .select("d2")
        .distinct()
    )
    flags = e.join(dups, e["doc_id"] == dups["d2"], "left").withColumn(
        "kept",
        F.when((F.col("canon") == 1) & F.col("d2").isNull(), 1).otherwise(0),
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum("pass_q").cast("long").alias("quality_docs"),
        F.sum("canon").cast("long").alias("exact_unique"),
        F.sum("kept").cast("long").alias("kept_docs"),
        F.sum(F.when(F.col("kept") == 1, F.col("n_tokens"))).cast("long")
        .alias("kept_tokens"),
    )


# --------------------------------------------------------------------------
# Flagship composition: the full training-data pipeline in one plan
# --------------------------------------------------------------------------

def _pipeline_oracle(sem_pairs_ctes: str | None = None) -> str:
    """The flagship pipeline oracle, optionally in ENSEMBLE form.

    With ``sem_pairs_ctes`` (a CTE-list fragment producing a cosine
    near-dup ``pairs`` table over ``embeddings`` — the caller passes
    ``similarity._EMB_PAIRS_CTES``, injected as a string so this
    module never imports similarity at load time), the dedup/split
    pair graph becomes the UNION of the lexical verified pairs and
    the semantic pairs restricted to exact-canonical quality
    survivors (the universe the lexical stage operates on) — the
    ensemble `x_modality_agreement` measured as strictly additive
    (zero pair overlap at production thresholds). Default: the
    lexical-only flagship oracle, byte-for-byte as before.
    """
    lex_pairs = f"""pairs AS (
      SELECT d1, d2
      FROM cand
      JOIN sh2 x ON d1 = x.doc_id
      JOIN sh2 y ON d2 = y.doc_id
      WHERE CAST(len(list_intersect(x.sl, y.sl)) AS DOUBLE)
              / (len(x.sl) + len(y.sl) - len(list_intersect(x.sl, y.sl)))
            >= {JACCARD_THRESHOLD}
    )"""
    if sem_pairs_ctes is not None:
        # The enclosing WITH is RECURSIVE and the union CTE below is
        # named `pairs`; DuckDB's recursive binder captures ANY
        # `pairs` reference inside that CTE's body — including one in
        # a nested WITH that REDEFINES the name (the nested definition
        # does not shadow the recursive self-reference, measured: the
        # semantic branch silently evaluated against the empty working
        # table and contributed zero rows). Rename the fragment's
        # final CTE so no self-name appears in the union's body.
        sem_ctes = sem_pairs_ctes.replace("pairs AS (", "sem_pairs0 AS (", 1)
        pairs_section = lex_pairs.replace("pairs AS (", "lexpairs AS (", 1)
        pairs_section += f""",
    semp AS (
      WITH {sem_ctes}
      SELECT d1, d2 FROM sem_pairs0
    ),
    keepers AS (SELECT doc_id FROM e WHERE canon = 1),
    pairs AS (
      SELECT d1, d2 FROM lexpairs
      UNION
      SELECT s.d1, s.d2 FROM semp s
      JOIN keepers k1 ON s.d1 = k1.doc_id
      JOIN keepers k2 ON s.d2 = k2.doc_id
    )"""
    else:
        pairs_section = lex_pairs
    return f"""
    WITH RECURSIVE {_PACK_SHARDS_CTE},
    t0 AS (
      SELECT doc_id, source, text, {_TOKS} AS t FROM documents
      WHERE source <> '{EVAL_SOURCE}'
    ),
    q AS (
      SELECT doc_id, source, t, len(t) AS n_tokens,
             CASE WHEN {_quality_pass_sql()} THEN 1 ELSE 0 END AS pass_q,
             md5({_NORM}) AS fp
      FROM t0
    ),
    e AS (
      SELECT *, CASE WHEN pass_q = 1
                      AND doc_id = MIN(CASE WHEN pass_q = 1 THEN doc_id END)
                                   OVER (PARTITION BY fp)
                     THEN 1 ELSE 0 END AS canon
      FROM q
    ),
    sh2 AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - {SHINGLE_N - 2}),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sl
      FROM e WHERE canon = 1 AND len(t) >= {SHINGLE_N}
    ),
    ex AS (SELECT doc_id, unnest(sl) AS s FROM sh2),
    sigs AS (
      {_minhash_sql()}
    ),
    bands AS (SELECT doc_id, unnest({_band_keys_sql()}) AS bkey FROM sigs),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    {pairs_section},
    dups AS (SELECT DISTINCT d2 FROM pairs),
    {CC_SQL_CTES},
    evt AS (
      SELECT {_TOKS} AS t FROM documents WHERE source = '{EVAL_SOURCE}'
    ),
    ev AS (
      SELECT DISTINCT unnest(list_transform(range(1, len(t) - {SHINGLE_N - 2}),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM evt WHERE len(t) >= {SHINGLE_N}
    ),
    hit AS (SELECT DISTINCT e2.doc_id FROM ex e2 JOIN ev USING (s)),
    bg AS (
      SELECT doc_id, MAX(cnt) AS top_bigram_ct
      FROM (SELECT doc_id, g, COUNT(*) AS cnt
            FROM (SELECT doc_id, unnest(list_transform(range(1, len(t)),
                         i -> t[i] || ' ' || t[i+1])) AS g
                  FROM e WHERE canon = 1 AND len(t) >= 2)
            GROUP BY doc_id, g)
      GROUP BY doc_id
    ),
    g5 AS (
      SELECT doc_id, SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup5
      FROM (SELECT doc_id, g, COUNT(*) AS cnt
            FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                              || ' ' || t[i+3] || ' ' || t[i+4])) AS g
                  FROM e WHERE canon = 1 AND len(t) >= 5)
            GROUP BY doc_id, g)
      GROUP BY doc_id
    ),
    fs AS (
      SELECT s0.*, CASE WHEN s0.no_dup = 1 AND s0.clean = 1
                         AND s0.rep_ok = 1 THEN 1 ELSE 0 END AS survivor
      FROM (
        SELECT e.doc_id, e.source, e.n_tokens, e.pass_q, e.canon,
               CASE WHEN e.canon = 1 AND dups.d2 IS NULL
                    THEN 1 ELSE 0 END AS no_dup,
               CASE WHEN hit.doc_id IS NULL THEN 1 ELSE 0 END AS clean,
               CASE WHEN 10 * COALESCE(bg.top_bigram_ct, 0) <= e.n_tokens
                     AND (e.n_tokens < 5 OR
                          20 * COALESCE(g5.dup5, 0) <= 3 * (e.n_tokens - 4))
                    THEN 1 ELSE 0 END AS rep_ok
        FROM e
        LEFT JOIN dups ON e.doc_id = dups.d2
        LEFT JOIN hit ON e.doc_id = hit.doc_id
        LEFT JOIN bg ON e.doc_id = bg.doc_id
        LEFT JOIN g5 ON e.doc_id = g5.doc_id
      ) s0
    ),
    mixcfg(source, pct) AS (VALUES {_MIX_VALUES}),
    ranked AS (
      SELECT fs.source, fs.doc_id, fs.n_tokens,
             COALESCE(m.pct, {DEFAULT_MIX_PCT}) AS pct,
             ROW_NUMBER() OVER (
               PARTITION BY fs.source
               ORDER BY md5(CAST(fs.doc_id AS VARCHAR)), fs.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY fs.source) AS n
      FROM fs LEFT JOIN mixcfg m ON fs.source = m.source
      WHERE fs.survivor = 1
    ),
    mk AS (
      SELECT source, doc_id, n_tokens,
             (pct * n) // 100 AS quota,
             doc_id % shards AS shard,
             CASE WHEN l.cluster_id IS NOT NULL THEN 1 ELSE 0 END
               AS in_cluster,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(
                                     COALESCE(l.cluster_id, doc_id)
                                     AS VARCHAR)), 1, 4)) AS BIGINT)
                       % 100 < {TRAIN_PCT}
                  THEN 1 ELSE 0 END AS is_train,
             (SUM(n_tokens) OVER (PARTITION BY source, doc_id % shards
                                  ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens)
               // {PACK_BUDGET} AS pack_id
      FROM ranked LEFT JOIN labels l USING (doc_id) CROSS JOIN ps
      WHERE rn <= (pct * n) // 100
    ),
    mctx AS (
      SELECT source, SUM(ctx) AS n_contexts FROM (
        SELECT source, shard, MAX(pack_id) + 1 AS ctx
        FROM mk GROUP BY source, shard
      ) GROUP BY source
    ),
    m AS (
      SELECT mk.source, MAX(quota) AS mix_quota, COUNT(*) AS mix_kept,
             SUM(is_train) AS train_docs, SUM(1 - is_train) AS val_docs,
             SUM(in_cluster) AS cluster_split_docs,
             SUM(n_tokens) AS kept_tokens, MAX(mctx.n_contexts) AS n_contexts
      FROM mk JOIN mctx ON mk.source = mctx.source GROUP BY mk.source
    ),
    funnel AS (
      SELECT source, COUNT(*) AS total_docs,
             SUM(pass_q) AS quality_docs,
             SUM(canon) AS exact_unique,
             SUM(no_dup) AS neardup_kept,
             SUM(CASE WHEN no_dup = 1 AND clean = 1 THEN 1 ELSE 0 END)
               AS clean_docs,
             SUM(survivor) AS survivor_docs
      FROM fs GROUP BY source
    )
    SELECT f2.source,
           CAST(f2.total_docs AS BIGINT) AS total_docs,
           CAST(f2.quality_docs AS BIGINT) AS quality_docs,
           CAST(f2.exact_unique AS BIGINT) AS exact_unique,
           CAST(f2.neardup_kept AS BIGINT) AS neardup_kept,
           CAST(f2.clean_docs AS BIGINT) AS clean_docs,
           CAST(f2.survivor_docs AS BIGINT) AS survivor_docs,
           CAST(COALESCE(m.mix_quota, 0) AS BIGINT) AS mix_quota,
           CAST(COALESCE(m.mix_kept, 0) AS BIGINT) AS mix_kept,
           CAST(COALESCE(m.train_docs, 0) AS BIGINT) AS train_docs,
           CAST(COALESCE(m.val_docs, 0) AS BIGINT) AS val_docs,
           CAST(COALESCE(m.cluster_split_docs, 0) AS BIGINT)
             AS cluster_split_docs,
           CAST(COALESCE(m.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           CAST(COALESCE(m.n_contexts, 0) AS BIGINT) AS n_contexts
    FROM funnel f2 LEFT JOIN m USING (source)
    """


@query(
    "t_training_pipeline",
    oracle=_pipeline_oracle(),
    tags=("textops", "pipeline", "flagship"),
)
def t_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-data pipeline, one composed plan.

    Extends ``t_corpus_pipeline`` (quality → exact dedup → MinHash-LSH
    near-dedup) with every remaining curation stage the catalog
    implements individually, in production order:

    4. decontamination — drop docs sharing a shingle with the held-out
       benchmark source (broadcast eval set, map-side probe);
    5. repetition gate — Gopher top-bigram/dup-5-gram rules;
    6. mixture sampling — per-source data-mix quota by md5 priority;
    7. LEAKAGE-SAFE train/val split — hash-deterministic 90/10 keyed
       by coalesce(cluster_id, doc_id) over the pipeline's OWN verified
       near-dup pair graph (round 10): dedup removes verified dups, but
       transitively-connected survivors exist (pairs (A,C),(B,C) remove
       only C, leaving connected A and B), and per-doc hashing could
       land them on opposite sides — the contamination
       ``t_leakage_safe_split`` forbids, now enforced inside the
       flagship too. The labels are free at plan level: the pair table
       already persists for the dedup stage, components run on it once;
    8. sequence packing — {PACK_BUDGET}-token contexts over the final
       train+val set (audited as contexts per source).

    Output is the per-source funnel: doc counts surviving each stage,
    then mixture quota/kept, split sizes (plus ``cluster_split_docs``
    — selected docs whose split came from a cluster key, pinning the
    leakage-safe path in the oracle compare), surviving tokens and
    packed context counts. All columns integer ⇒ the compare is exact.

    Every stage keeps its individual operator's scale shape (broadcast
    eval set; banded LSH, never all-pairs; exact-dedup keeper by
    aggregate + digest join rather than an fp-partitioned window —
    the ``t_substring_dedup`` shape, AQE-splittable on a hot
    fingerprint; mixture selection via ``hash_quota_heads`` two-phase
    bucket selection rather than a per-source global rank window;
    packing cumsum sharded by the derived ``pack_shards_for`` rule,
    mirrored by the oracle's ``ps(shards)`` CTE) — composing them
    adds NO new shuffle pattern: the scored doc stream and the
    canonical survivor token stream are each persisted once,
    aggregated once, and stages 6-8 run on the (much smaller)
    survivor set with no unbounded sort anywhere.
    """
    return _training_pipeline_df(spark, sf_dir)


def _training_pipeline_df(
    spark: SparkSession, sf_dir: str, ensemble: bool = False
) -> DataFrame:
    """Shared funnel body of ``t_training_pipeline`` and its ensemble
    twin ``x_ensemble_training_pipeline`` — ``ensemble`` switches the
    dedup/split pair graph in ``_training_pipeline_parts``."""
    fs, _vpairs, mk, mix_stats = _training_pipeline_parts(
        spark, sf_dir, ensemble=ensemble
    )
    quotas = local_df(spark, 
        [(s, q) for s, (_, q) in mix_stats.items()],
        "source string, mix_quota long",
    )
    m0 = mk.groupBy("source").agg(
        F.count(F.lit(1)).alias("mix_kept"),
        F.sum("is_train").alias("train_docs"),
        F.sum(1 - F.col("is_train")).alias("val_docs"),
        F.sum("in_cluster").alias("cluster_split_docs"),
        F.sum("n_tokens").alias("kept_tokens"),
    )
    mc = (
        mk.groupBy("source", "shard")
        .agg((F.max("pack_id") + 1).alias("ctx"))
        .groupBy("source")
        .agg(F.sum("ctx").alias("n_contexts"))
    )
    m = m0.join(mc, "source").join(F.broadcast(quotas), "source")
    funnel = fs.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum("pass_q").alias("quality_docs"),
        F.sum("canon").alias("exact_unique"),
        F.sum("no_dup").alias("neardup_kept"),
        F.sum(
            F.when((F.col("no_dup") == 1) & (F.col("clean") == 1), 1)
            .otherwise(0)
        ).alias("clean_docs"),
        F.sum("survivor").alias("survivor_docs"),
    )
    out = funnel.join(m, "source", "left")
    zero = F.lit(0)
    return out.select(
        "source",
        F.col("total_docs").cast("long").alias("total_docs"),
        F.col("quality_docs").cast("long").alias("quality_docs"),
        F.col("exact_unique").cast("long").alias("exact_unique"),
        F.col("neardup_kept").cast("long").alias("neardup_kept"),
        F.col("clean_docs").cast("long").alias("clean_docs"),
        F.col("survivor_docs").cast("long").alias("survivor_docs"),
        F.coalesce("mix_quota", zero).cast("long").alias("mix_quota"),
        F.coalesce("mix_kept", zero).cast("long").alias("mix_kept"),
        F.coalesce("train_docs", zero).cast("long").alias("train_docs"),
        F.coalesce("val_docs", zero).cast("long").alias("val_docs"),
        F.coalesce("cluster_split_docs", zero).cast("long")
        .alias("cluster_split_docs"),
        F.coalesce("kept_tokens", zero).cast("long").alias("kept_tokens"),
        F.coalesce("n_contexts", zero).cast("long").alias("n_contexts"),
    )


def _training_pipeline_parts(
    spark: SparkSession, sf_dir: str, ensemble: bool = False
):
    """Stages 1-8 of ``t_training_pipeline`` up to the selected,
    split-and-pack-tagged doc table ``mk`` — factored out so the
    leakage invariant test can read the per-doc split assignments the
    funnel aggregates away. Returns ``(fs, vpairs, mk, mix_stats)``:
    the per-doc flag table, the verified near-dup pair graph, the
    selected-doc table with (shard, is_train, in_cluster, pack_id),
    and the per-source mixture stats.

    ``ensemble``: the dedup/split pair graph becomes lexical ∪
    semantic — the banded-SRP cosine pairs (``t_embedding_neardup``'s
    generator, imported lazily to keep module load acyclic) with both
    endpoints restricted to the exact-canonical quality survivors the
    lexical stage operates on. ``x_modality_agreement`` measured the
    two detectors as ZERO-overlap at production thresholds, so every
    semantic pair is a dup the lexical-only flagship provably misses.
    """
    from pyspark.sql import Window

    sem_base_f = None
    if ensemble:
        # the semantic pair generator reads only the embeddings table —
        # independent of the whole lexical chain below — so its plan
        # build (band materialization + probe jobs) overlaps the
        # lexical barriers on a driver thread (guide §2.6); the result
        # handle is harvested at the union point where winners exist
        from concurrent.futures import ThreadPoolExecutor

        from flink_spark.plans.similarity import _emb_neardup_pairs

        _pool = ThreadPoolExecutor(max_workers=1)
        sem_base_f = _pool.submit(
            lambda: _emb_neardup_pairs(spark, sf_dir).select("d1", "d2")
        )
        # Leak guard: the pool must die with its one task, not with the
        # harvest — an exception anywhere on the lexical path between
        # submit and .result() would otherwise leave a live non-daemon
        # builder thread (blocking interpreter exit and racing a
        # harness's release_persisted()). The callback fires on success
        # AND error, so the worker thread is reaped as soon as the task
        # completes no matter what happens on this thread.
        sem_base_f.add_done_callback(lambda _: _pool.shutdown(wait=False))

    # plain load, not load_spread: both flagship pipelines MEASURED
    # slower with the spread scan (t 10.06→10.52 s, ensemble
    # 10.81→12.75 s min-of-2 interleaved at sf0.1) — their tokenize
    # cost amortizes across the q/canon_toks persists and the extra
    # exchange feeds every downstream stage of the widest plans in
    # the catalog. OPTIMIZATION_r14.md has the numbers.
    docs = load(spark, sf_dir, "documents")
    t0 = docs.filter(F.col("source") != EVAL_SOURCE).select(
        "doc_id", "source", "text", tokenize("text").alias("t")
    )
    n_tok = F.size("t")
    stop_ratio = (
        F.size(F.filter("t", lambda x: x.isin(*STOPWORDS))).cast("double") / n_tok
    )
    avg_len = (
        F.length(F.regexp_replace(normalize_text("text"), " ", "")).cast("double")
        / n_tok
    )
    score = (
        F.when(n_tok.between(20, 200), 1).otherwise(0)
        + F.when(stop_ratio.between(0.02, 0.5), 1).otherwise(0)
        + F.when(avg_len.between(3, 8), 1).otherwise(0)
    )
    q = t0.select(
        "doc_id", "source", "t",
        n_tok.alias("n_tokens"),
        F.when(score >= 2, 1).otherwise(0).alias("pass_q"),
        fingerprint("text").alias("fp"),
    )
    # r15 (VERDICT r14 #3): spread the TOKENIZED stream before its
    # barrier. The r14 load_spread opt-out measured spreading the RAW
    # scan as a loss (the exchange carried full text and fed every
    # stage); this exchange instead carries the text-free q columns
    # (tokens/flags/fp), is paid once inside the checkpoint job, and
    # every downstream CPU stage — winner agg, shingle build, MinHash,
    # the row-local repetition folds — inherits the width through the
    # broadcast joins. Scale-guard mirrors load_spread: skipped when
    # the scan is already wide (the 100 TB case); deterministic hash
    # key (guide §2.5). A/B numbers in OPTIMIZATION_r15.md.
    _n = spread_width(spark, sf_dir, "documents", cpu_factor=10.0)
    if q.rdd.getNumPartitions() < _n:
        q = q.repartition(_n, F.col("doc_id"))
    # lazy barrier (r15, like t_corpus_pipeline): the q/winners/
    # canon_toks/sh2 chain materializes at its first action (the
    # band-probe count inside pair_self_join) — four dedicated eager
    # jobs were pure fixed cost; cand/fs/mk stay eager (multi-leg
    # consumers inside one job).
    q = track_persist(q, eager=False)
    # exact-dedup keeper by aggregate + digest join, NOT an
    # fp-partitioned window. Skew discipline (same as
    # t_corpus_pipeline): the hot fingerprint only touches slim
    # streams — map-side-combined winner agg, token-free fp join for
    # the canon flag — and the token arrays reach the survivor stream
    # through a join on UNIQUE doc_id, a key no corpus can skew.
    winners = track_persist(
        q.filter(F.col("pass_q") == 1)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("_keep")),
        eager=False,
    )
    e = (
        q.drop("t")
        .join(winners, "fp", "left")
        .withColumn(
            "canon",
            F.when(
                (F.col("pass_q") == 1) & (F.col("doc_id") == F.col("_keep")),
                1,
            ).otherwise(0),
        )
        .drop("_keep")
    )
    # three downstream consumers (shingles, bigram gate, 5-gram gate)
    # read the survivor token stream — persist it once
    canon_toks = track_persist(
        q.join(winners.select(F.col("_keep").alias("doc_id")), "doc_id")
        .select("doc_id", "t"),
        eager=False,
    )
    sh2 = canon_toks.filter(F.size("t") >= SHINGLE_N).select(
        "doc_id",
        F.array_distinct(word_shingles(F.col("t"), SHINGLE_N)).alias("sl"),
    )
    sh2 = track_persist(sh2, eager=False)
    ex = sh2.select("doc_id", F.explode("sl").alias("s"))
    sigs = _hashed_shingles_spark(ex).groupBy("doc_id").agg(*_minhash_cols_spark())
    bands = sigs.select(
        "doc_id", F.explode(F.array(*_band_keys_spark())).alias("bkey")
    )
    # skew-guarded band-key self-join (plans.pairjoin): a boilerplate
    # page duplicated millions of times lands every copy in one band
    # bucket — the guard grid-splits it instead of one quadratic task
    # candidate table persisted: the pair-keyed verify consumes it
    # twice (once per posting side) — unpersisted it would pay the
    # band self-join + distinct twice
    cand = track_persist(pair_self_join(bands, "doc_id", ["bkey"]).distinct())
    # pair-keyed count verify (``pairkey_verify`` — round 10 closes the
    # composed pipelines' last array-carrying verify legs, SCALING.md
    # §R9's measured failure shape). The verified PAIRS persist, not
    # just the d2 drop-set: stage 7's leakage-safe split reuses them
    # as the cluster graph.
    # Lazy persist (no count() barrier): vpairs' consumers run in
    # strictly sequential SEPARATE actions — fs's eager count below
    # reads it once (via dups) and populates the cache before the CC
    # label pass (stage 7) issues its first action — so the eager
    # barrier would be one pure-overhead job over the verify subtree.
    vpairs_lex = pairkey_verify(cand, sh2, JACCARD_THRESHOLD).select("d1", "d2")
    if ensemble:
        # both endpoints restricted to the lexical stage's universe
        # (exact-canonical quality survivors); UNION ≡ the oracle's
        # set-union — a pair both modalities find collapses to one row.
        # The generator itself was built concurrently above; .result()
        # harvests the finished handle (or waits out the remainder).
        keep = winners.select(F.col("_keep").alias("doc_id"))
        sem = (
            sem_base_f.result()
            .join(keep.withColumnRenamed("doc_id", "d1"), "d1")
            .join(keep.withColumnRenamed("doc_id", "d2"), "d2")
        )
        # pool shutdown is owned by the done-callback above
        vpairs = track_persist(
            vpairs_lex.unionByName(sem).distinct(), eager=False
        )
    else:
        vpairs = track_persist(vpairs_lex, eager=False)
    dups = vpairs.select("d2").distinct()
    ev = (
        docs.filter(F.col("source") == EVAL_SOURCE)
        .select(tokenize("text").alias("t"))
        .filter(F.size("t") >= SHINGLE_N)
        .select(F.explode(word_shingles(F.col("t"), SHINGLE_N)).alias("s"))
        .distinct()
    )
    hit = (
        ex.join(F.broadcast(ev), "s").select("doc_id").distinct()
        .withColumn("is_hit", F.lit(1))
    )
    # r15: the repetition-gate stats are row-local sorted-run folds
    # over the survivor token stream (``with_gram_gate``) — the two
    # gram-explode → exchange → two-level-aggregate subtrees and their
    # separate joins collapse into one narrow (doc_id, top, dup5)
    # projection + one join. Values bit-identical (exact integer
    # counting); the funnel oracle keeps the aggregate formulation.
    # Short docs get exact 0s from the folds, which coalesce in
    # ``rep_ok`` exactly as the old NULLs did.
    rep = with_gram_gate(canon_toks).select(
        "doc_id", "top_bigram_ct", "dup5"
    )
    no_dup = F.when(
        (F.col("canon") == 1) & F.col("d2").isNull(), 1
    ).otherwise(0)
    clean = F.when(F.col("is_hit").isNull(), 1).otherwise(0)
    rep_ok = F.when(
        (10 * F.coalesce("top_bigram_ct", F.lit(0)) <= F.col("n_tokens"))
        & ((F.col("n_tokens") < 5)
           | (20 * F.coalesce("dup5", F.lit(0)) <= 3 * (F.col("n_tokens") - 4))),
        1,
    ).otherwise(0)
    fs = (
        e.join(dups, e["doc_id"] == dups["d2"], "left")
        .join(hit, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .select(
            "doc_id", "source", "n_tokens", "pass_q", "canon",
            no_dup.alias("no_dup"), clean.alias("clean"),
            rep_ok.alias("rep_ok"),
        )
        .withColumn(
            "survivor",
            F.when(
                (F.col("no_dup") == 1) & (F.col("clean") == 1)
                & (F.col("rep_ok") == 1), 1
            ).otherwise(0),
        )
    )
    fs = track_persist(fs)
    # mixture selection WITHOUT the per-source global rank window:
    # hash_quota_heads selects exactly the ROW_NUMBER()<=quota set via
    # two-phase bucket counting (only a boundary sliver is sorted) —
    # the oracle keeps the rank formulation, so the compare proves
    # membership equality. The packing cumsum shards like
    # t_pack_sequences (derived rule, ps(shards) CTE on both sides),
    # so no source ever sorts on one core.
    sel, mix_stats = hash_quota_heads(
        fs.filter(F.col("survivor") == 1)
        .select("source", "doc_id", "n_tokens"),
        dict(MIXTURE),
        DEFAULT_MIX_PCT,
        persist=False,  # fs is already persisted
    )
    shards = _active_pack_shards(spark, sf_dir)
    # stage 7: split keyed by coalesce(cluster_id, doc_id) over the
    # components of the pipeline's OWN verified pair graph — already
    # persisted for the dedup stage, so the labels cost one CC run on
    # a pair table that is tiny relative to the corpus, plus one
    # row-local left join on the (post-mixture, small) selected set.
    labels = connected_components(vpairs)
    w_pack = (
        Window.partitionBy("source", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mk = (
        sel.join(labels, "doc_id", "left")
        .withColumn(
            "in_cluster", F.col("cluster_id").isNotNull().cast("int")
        )
        .withColumn("shard", F.col("doc_id") % shards)
        .withColumn(
            "is_train",
            F.when(
                split_bucket_col(F.coalesce("cluster_id", "doc_id"))
                < TRAIN_PCT,
                1,
            ).otherwise(0),
        )
        .withColumn("cum", F.sum("n_tokens").over(w_pack))
        .withColumn(
            "pack_id", F.expr(f"(cum - n_tokens) div {PACK_BUDGET}")
        )
    )
    mk = track_persist(mk)  # the per-source and per-shard aggs share it
    return fs, vpairs, mk, mix_stats


# --------------------------------------------------------------------------
# Chunk-level exact dedup + distinctive-terms ranking
# --------------------------------------------------------------------------

CHUNK_N = 10  # tokens per non-overlapping chunk (CCNet-style paragraphs)

# context-window chunking (RAG / embedding-ingestion shape): windows of
# CTX_LEN tokens starting every CTX_STRIDE (overlap = CTX_LEN − CTX_STRIDE)
CTX_LEN = 32
CTX_STRIDE = 24


@query(
    "t_context_chunks",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, source, len({_TOKS}) AS n FROM documents
    ),
    wins AS (
      SELECT doc_id, source, n, s,
             LEAST({CTX_LEN}, n - s) AS w
      FROM (
        SELECT doc_id, source, n,
               unnest(range(0, n, {CTX_STRIDE})) AS s
        FROM norm WHERE n >= 1
      )
    )
    SELECT source,
           COUNT(DISTINCT doc_id) AS docs,
           COUNT(*) AS chunks,
           CAST(SUM(w) AS BIGINT) AS chunk_tokens,
           CAST(SUM(w) AS DOUBLE)
             / SUM(CASE WHEN s = 0 THEN n ELSE 0 END) AS expansion_ratio
    FROM wins
    GROUP BY source
    """,
    tags=("textops", "chunking"),
)
def t_context_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking audit (embedding/RAG ingestion shape).

    Long documents are ingested as overlapping fixed windows —
    ``CTX_LEN`` tokens starting every ``CTX_STRIDE`` (the HF tokenizer
    ``return_overflowing_tokens`` convention: window k covers
    ``[k·stride, k·stride + len)``, the tail window is short). Output
    per source: docs, window count, total window tokens, and the
    expansion ratio (window tokens / raw tokens — the storage and
    embedding-compute multiplier the overlap costs, the number a
    pipeline owner sizes an embedding job by).

    Scale shape: no window TEXT is materialized — windows are pure
    arithmetic rows (doc_id, start) exploded from a range, ≈
    n/stride per doc, aggregated map-side. The chunk-text form used
    for actual ingestion is ``F.slice(t, s + 1, CTX_LEN)`` over the
    same frame; the audit deliberately ships only the integers.
    """
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(tokenize("text")).alias("n")
    ).filter(F.col("n") >= 1)
    wins = t.select(
        "doc_id", "source", "n",
        F.explode(
            F.sequence(
                F.lit(0), F.col("n") - 1, F.lit(CTX_STRIDE)
            )
        ).alias("s"),
    ).select(
        "doc_id", "source", "n", "s",
        F.least(F.lit(CTX_LEN), F.col("n") - F.col("s")).alias("w"),
    )
    # raw token total per source without a second scan: every doc has
    # exactly one s = 0 window, which carries its n
    raw = F.sum(F.when(F.col("s") == 0, F.col("n")).otherwise(F.lit(0)))
    return (
        wins.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("docs"),
            F.count(F.lit(1)).alias("chunks"),
            F.sum("w").cast("long").alias("chunk_tokens"),
            (F.sum("w").cast("double") / raw).alias("expansion_ratio"),
        )
    )


@query(
    "t_chunk_dedup",
    oracle=f"""
    WITH norm AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
    c AS (
      SELECT doc_id, source,
             unnest(list_transform(range(0, len(t)//{CHUNK_N}),
                    i -> array_to_string(
                           array_slice(t, i*{CHUNK_N}+1, i*{CHUNK_N}+{CHUNK_N}),
                           ' '))) AS chunk
      FROM norm WHERE len(t) >= {CHUNK_N}
    ),
    freq AS (SELECT chunk, COUNT(*) AS ct FROM c GROUP BY chunk),
    d AS (
      SELECT doc_id, source, COUNT(*) AS chunks,
             SUM(CASE WHEN ct > 1 THEN 1 ELSE 0 END) AS dups
      FROM c JOIN freq USING (chunk) GROUP BY doc_id, source
    )
    SELECT source,
           CAST(SUM(chunks) AS BIGINT) AS chunk_ct,
           CAST(SUM(dups) AS BIGINT) AS dup_chunk_ct,
           CAST(SUM(dups) AS DOUBLE) / SUM(chunks) AS dup_ratio,
           CAST(SUM(CASE WHEN 2*dups > chunks THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_mostly_dup
    FROM d GROUP BY source
    """,
    tags=("textops", "dedup", "chunk"),
)
def t_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup audit (CCNet paragraph-dedup analog).

    CCNet deduplicates at PARAGRAPH granularity: a document survives
    but its boilerplate paragraphs are dropped wherever their exact
    text recurs in the corpus. The fixture corpus has no newlines, so
    the paragraph stand-in is non-overlapping {CHUNK_N}-token chunks —
    unlike ``t_repeated_ngram_coverage``'s sliding spans, each token
    belongs to exactly ONE chunk, so the dup ratio here is the actual
    fraction of text a chunk-dedup pass would delete. Per source:
    chunk volume, duplicated-chunk volume, the deletion ratio, and
    docs that are >50% duplicated chunks (whole-doc removal
    candidates, the integer-exact ``2·dups > chunks`` rule).

    Scale shape: explode is |tokens|/{CHUNK_N} rows (10× cheaper than
    the sliding-gram table); corpus multiplicity is a map-side-combined
    aggregate on the chunk digest with the repeated-only build side
    joined back (AQE broadcast when small, skew-split when not) — a
    hot boilerplate chunk is never one unsplittable window task.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    t = docs.select("doc_id", "source", tokenize("text").alias("t")).filter(
        F.size("t") >= CHUNK_N
    )
    # size/10 through double is exact (sizes ≪ 2^53); guarded >= 1 above
    idx = F.sequence(
        F.lit(0), (F.size("t") / F.lit(CHUNK_N)).cast("int") - 1
    )
    chunks = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.slice(F.col("t"), i * CHUNK_N + 1, F.lit(CHUNK_N))
        ),
    )
    c = t.select(
        "doc_id", "source", F.explode(chunks).alias("chunk")
    ).select(
        "doc_id", "source",
        # wide stages key on the chunk IDENTITY (16-byte md5, the
        # t_exact_dedup canon), never the ~CHUNK_N-token string
        F.unhex(F.md5("chunk")).alias("ck"),
    )
    # the multiplicity agg and the join probe share the tokenized
    # chunk stream — persist it once (digests + ids only, ~25 B/row)
    # instead of re-running the tokenizer for the probe branch
    c = track_persist(c)
    # corpus-wide multiplicity via a map-side-combined chunk aggregate
    # joined back, NOT a chunk-partitioned window: a boilerplate
    # paragraph duplicated a million times is one unsplittable window
    # task, but is collapsed per-partition by the aggregate's combiner,
    # and the join back is AQE-native (broadcast while the repeated-
    # chunk table is small — the healthy-corpus case — skew-split when
    # it is not). Unique chunks never enter the join: the build side
    # keeps only ct > 1.
    rep = (
        c.groupBy("ck")
        .agg(F.count(F.lit(1)).alias("_ct"))
        .filter(F.col("_ct") > 1)
    )
    d = (
        c.join(rep, "ck", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("chunks"),
            F.sum(F.col("_ct").isNotNull().cast("int")).alias("dups"),
        )
    )
    return d.groupBy("source").agg(
        F.sum("chunks").cast("long").alias("chunk_ct"),
        F.sum("dups").cast("long").alias("dup_chunk_ct"),
        (F.sum("dups").cast("double") / F.sum("chunks")).alias("dup_ratio"),
        F.sum((2 * F.col("dups") > F.col("chunks")).cast("int"))
        .cast("long")
        .alias("docs_mostly_dup"),
    )


RARE_DF_DIVISOR = 20  # a term is "rare" when df <= n_docs/20 (5% of docs)
TOP_TERMS = 5


@query(
    "t_distinctive_terms",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, source, unnest({_TOKS}) AS w FROM documents
    ),
    ex2 AS (SELECT * FROM ex WHERE w <> ''),
    n(total) AS (SELECT COUNT(*) FROM documents),
    dfreq AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM ex2 GROUP BY w),
    tf AS (SELECT source, w, COUNT(*) AS tf FROM ex2 GROUP BY source, w),
    r AS (
      SELECT source, w, tf, df,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY tf DESC, w) AS rn
      FROM tf JOIN dfreq USING (w), n
      WHERE {RARE_DF_DIVISOR} * df <= total
    )
    SELECT source, w AS term, tf, CAST(df AS BIGINT) AS df, rn
    FROM r WHERE rn <= {TOP_TERMS}
    """,
    tags=("textops", "tokens", "tfidf"),
)
def t_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive terms per source — TF-IDF made integer-exact.

    The "what is this source about" / topic-drift audit: float TF-IDF
    scores hash-compare poorly across engines, but its decision
    structure survives integers exactly — restrict to RARE terms
    (corpus df ≤ n_docs/{RARE_DF_DIVISOR}, the IDF gate as an
    integer-exact threshold on the same corpus-derived count the
    standard knob mechanism uses) and rank by raw term frequency
    within the source (the TF factor), ties broken lexically so the
    top-{TOP_TERMS} cut is a total order.

    Scale shape: tf aggregates the token stream once per (source,
    term); df aggregates a (doc, term)-distinct projection of the
    same exploded pass. The tf⋈df join runs on term-hashed
    partitions of two AGGREGATED tables (≪ token stream), and the
    final rank is ``grouped_topk`` — partial top-{TOP_TERMS} per
    input slice, then a rank over the bounded survivors — so a
    source's vocabulary (10⁸ terms at crawl scale) never sorts in
    one task.
    """
    from flink_spark.plans.topk import grouped_topk

    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    total = table_rows(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id", "source", F.explode(tokenize("text")).alias("w")
    ).filter(F.col("w") != "")
    dfreq = (
        ex.select("doc_id", "w").distinct()
        .groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    )
    tf = ex.groupBy("source", "w").agg(F.count(F.lit(1)).alias("tf"))
    rare = tf.join(dfreq, "w").filter(RARE_DF_DIVISOR * F.col("df") <= total)
    return (
        grouped_topk(rare, ["source"], [F.desc("tf"), "w"], TOP_TERMS)
        .select(
            "source",
            F.col("w").alias("term"),
            "tf",
            F.col("df").cast("long").alias("df"),
            "rn",
        )
    )


@query(
    "t_cross_source_dedup",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, source, md5({_NORM}) AS fp FROM documents
    ),
    r AS (
      SELECT source,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY source, doc_id)
                 AS rn
      FROM fp
    )
    SELECT source,
           COUNT(*) AS docs_total,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_kept,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_ceded
    FROM r GROUP BY source
    """,
    tags=("textops", "dedup", "lineage"),
)
def t_cross_source_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-ordered cross-source exact dedup accounting.

    When the same document text arrives from several crawl sources, a
    data mix must keep exactly ONE copy — and WHICH source cedes its
    duplicates changes the mixture weights downstream. Policy here:
    the lexically-first source wins (a stand-in for any total priority
    order — substituting a real priority map changes only the ORDER BY).
    Per source: docs owned, docs kept after cross-source dedup, and
    docs ceded to a higher-priority source holding the same content
    fingerprint. ``SUM(kept) + SUM(ceded) = COUNT(*)`` by construction.

    Scale shape: one md5 per doc, then TWO map-side-combined
    aggregations — per-fingerprint ``min(struct(source, doc_id))``
    picks each fingerprint's winner (struct ordering IS the
    ``ORDER BY source, doc_id`` priority), and the winners regroup by
    source. No fingerprint-partitioned window and no join back: an
    empty-page fingerprint with 10^8 copies is a partial-agg cell per
    task, never one unsplittable sorted partition (the per-fp window
    this replaces put the entire duplication count being measured into
    a single task). ``docs_kept`` is the winner count per source;
    ``docs_ceded`` the remainder. Contrast ``t_exact_dedup``
    (canonical-per-fingerprint view): this is the per-SOURCE ledger a
    mixture rebalance consumes.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    fp = docs.select("doc_id", "source", fingerprint("text").alias("fp"))
    totals = fp.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_total")
    )
    kept = (
        fp.groupBy("fp")
        .agg(F.min(F.struct("source", "doc_id")).alias("_w"))
        .groupBy(F.col("_w.source").alias("source"))
        .agg(F.count(F.lit(1)).alias("docs_kept"))
    )
    return (
        totals.join(kept, "source", "left")
        .select(
            "source",
            "docs_total",
            F.coalesce("docs_kept", F.lit(0)).cast("long")
            .alias("docs_kept"),
            (F.col("docs_total") - F.coalesce("docs_kept", F.lit(0)))
            .cast("long").alias("docs_ceded"),
        )
    )


# unigram-LM quality scoring: flag docs whose average token logprob
# under the corpus unigram model falls below this (natural-log) floor.
LM_LOGPROB_FLOOR = -6.5


@query(
    "t_unigram_lm_score",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, source, unnest({_TOKS}) AS w FROM documents
    ),
    ex2 AS (SELECT * FROM ex WHERE w <> ''),
    n(total) AS (SELECT COUNT(*) FROM ex2),
    cnt AS (SELECT w, COUNT(*) AS c FROM ex2 GROUP BY w),
    tok AS (
      SELECT doc_id, source,
             CAST(round(ln(CAST(c AS DOUBLE)) - ln(CAST(total AS DOUBLE)), 9)
                  AS DECIMAL(24,9)) AS lp
      FROM ex2 JOIN cnt USING (w), n
    ),
    d AS (
      SELECT doc_id, source,
             CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS avg_lp
      FROM tok GROUP BY doc_id, source
    )
    SELECT source,
           COUNT(*) AS doc_ct,
           CAST(SUM(CAST(avg_lp AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
               AS mean_doc_logprob,
           CAST(SUM(CASE WHEN avg_lp < {LM_LOGPROB_FLOOR} THEN 1 ELSE 0 END)
                AS BIGINT) AS flagged_docs
    FROM d GROUP BY source
    """,
    tags=("textops", "quality", "lm"),
)
def t_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality scoring (the CCNet LM-filter shape).

    CCNet/fastText-style corpus filtering scores each document under a
    language model and drops the tail; the self-contained form is the
    corpus's OWN unigram model: per-token logprob ``ln(count/total)``,
    per-doc average, per-source mean and below-floor count. Documents
    of rare/garbled vocabulary score low; boilerplate scores high —
    the decision signal is the RANKING, which a swapped-in external LM
    would refine but not reshape.

    Float discipline: ``ln`` outputs can differ by 1 ulp between
    libm implementations, so each token logprob is rounded to 9
    decimals (transcendental outputs never land on a half-way point)
    and every cross-row sum runs in exact decimal — bit-identical
    regardless of partitioning, in both engines. One boundary to know:
    the mean-of-per-doc-averages needs a double→decimal re-cast of a
    COMPUTED quotient, which is tie-free only while group sizes have
    no prime factors beyond 2/5 (then X/n is exactly representable at
    the cast scale; true of the fixtures' per-source counts). For
    arbitrary group sizes use the token-weighted mean instead —
    decimal-exact to one final division (``t_perplexity_buckets``,
    which hit exactly this tie at sf0.1 and switched).

    Scale shape: corpus token frequency is a map-side-combined
    vocabulary aggregate joined back onto the token stream — NOT a
    token-partitioned window, which on natural language is a
    GUARANTEED straggler, not an adversarial one: Zipf puts several
    percent of the whole corpus under the single hottest token, and a
    window must co-locate that token's every occurrence in one
    unsplittable task. The aggregate collapses hot tokens per
    partition before its shuffle (the vocabulary is orders of
    magnitude smaller than the position stream), and the join back is
    AQE-native: broadcast when the measured vocabulary is small,
    skew-split otherwise. Per-doc and per-source reductions are
    ordinary partial aggregations.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    from pyspark.sql.types import DecimalType

    ex = docs.select(
        "doc_id", "source", F.explode(tokenize("text")).alias("w")
    ).filter(F.col("w") != "")
    ex = track_persist(ex)  # the total count + scoring share the explode
    total = ex.count()
    vocab = ex.groupBy("w").agg(F.count(F.lit(1)).alias("_ct"))
    lp = F.round(
        F.log(F.col("_ct").cast("double")) - F.log(F.lit(float(total))), 9
    ).cast(DecimalType(24, 9))
    tok = ex.join(vocab, "w").select("doc_id", "source", lp.alias("lp"))
    d = tok.groupBy("doc_id", "source").agg(
        (F.sum("lp").cast("double") / F.count(F.lit(1))).alias("avg_lp")
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("doc_ct"),
        (
            F.sum(F.col("avg_lp").cast(DecimalType(28, 12))).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_doc_logprob"),
        F.sum((F.col("avg_lp") < LM_LOGPROB_FLOOR).cast("int"))
        .cast("long")
        .alias("flagged_docs"),
    )


# --------------------------------------------------------------------------
# Perplexity-tercile buckets (CCNet head/middle/tail, histogram method)
# --------------------------------------------------------------------------

PPL_BUCKET_SCALE = 100  # logprob histogram granularity (2 decimals)


@query(
    "t_perplexity_buckets",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id, source, unnest({_TOKS}) AS w FROM documents
    ),
    ex2 AS (SELECT * FROM ex WHERE w <> ''),
    n(total) AS (SELECT COUNT(*) FROM ex2),
    cnt AS (SELECT w, COUNT(*) AS c FROM ex2 GROUP BY w),
    tok AS (
      SELECT doc_id, source,
             CAST(round(ln(CAST(c AS DOUBLE)) - ln(CAST(total AS DOUBLE)), 9)
                  AS DECIMAL(24,9)) AS lp
      FROM ex2 JOIN cnt USING (w), n
    ),
    d AS (
      SELECT doc_id, source, SUM(lp) AS slp, COUNT(*) AS ntok,
             CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS avg_lp
      FROM tok GROUP BY doc_id, source
    ),
    db AS (
      SELECT source, slp, ntok,
             CAST(floor(avg_lp * {PPL_BUCKET_SCALE}) AS BIGINT) AS bucket
      FROM d
    ),
    hist AS (SELECT source, bucket, COUNT(*) AS ct FROM db GROUP BY 1, 2),
    hc AS (
      SELECT source, bucket,
             SUM(ct) OVER (PARTITION BY source ORDER BY bucket DESC) AS cum
      FROM hist
    ),
    tot AS (SELECT source, COUNT(*) AS n FROM db GROUP BY 1),
    th AS (
      SELECT h.source,
             MAX(CASE WHEN cum >= (n + 2) // 3 THEN bucket END) AS b1,
             MAX(CASE WHEN cum >= (2 * n + 2) // 3 THEN bucket END) AS b2
      FROM hc h JOIN tot USING (source) GROUP BY h.source
    ),
    tagged AS (
      SELECT db.source, slp, ntok,
             CASE WHEN bucket >= b1 THEN 'head'
                  WHEN bucket >= b2 THEN 'middle'
                  ELSE 'tail' END AS tier
      FROM db JOIN th USING (source)
    )
    SELECT source, tier,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(slp) AS DOUBLE) / SUM(ntok) AS mean_token_logprob
    FROM tagged GROUP BY source, tier
    """,
    tags=("textops", "quality", "lm"),
)
def t_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail terciles by LM score, WITHOUT a
    per-source sort of documents.

    CCNet splits each language's corpus into perplexity terciles and
    trains mostly on the head. The naive tercile is NTILE(3) — a
    per-source global sort of every document score, the pattern this
    catalog avoids on principle (a 100 TB source = one unsplittable
    sorted task). Here the boundaries come from a HISTOGRAM: scores
    bucket at {PPL_BUCKET_SCALE}⁻¹-logprob granularity (one tiny
    per-source aggregate), cumulative counts over the few-hundred-row
    histogram pick the bucket thresholds b1/b2 (head = highest-logprob
    third), and tagging is a broadcast threshold join back onto the
    docs — terciles exact to bucket granularity (boundary buckets land
    whole on one side), deterministic in both engines, and never
    sorting anything wider than the histogram.

    The per-doc score is ``t_unigram_lm_score``'s exact-decimal
    average token logprob (its float discipline and Zipf-aware
    aggregate-join shape, documented there).
    """
    from pyspark.sql.types import DecimalType

    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    ex = docs.select(
        "doc_id", "source", F.explode(tokenize("text")).alias("w")
    ).filter(F.col("w") != "")
    ex = track_persist(ex)
    total = ex.count()
    vocab = ex.groupBy("w").agg(F.count(F.lit(1)).alias("_ct"))
    lp = F.round(
        F.log(F.col("_ct").cast("double")) - F.log(F.lit(float(total))), 9
    ).cast(DecimalType(24, 9))
    tok = ex.join(vocab, "w").select("doc_id", "source", lp.alias("lp"))
    d = tok.groupBy("doc_id", "source").agg(
        F.sum("lp").alias("slp"),
        F.count(F.lit(1)).alias("ntok"),
        (F.sum("lp").cast("double") / F.count(F.lit(1))).alias("avg_lp"),
    )
    db = track_persist(  # consumed by the histogram AND the tagging
        d.select(
            "source", "slp", "ntok",
            F.floor(F.col("avg_lp") * PPL_BUCKET_SCALE)
            .cast("long").alias("bucket"),
        )
    )
    hist = db.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("ct")
    )
    w = Window.partitionBy("source").orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hc = hist.withColumn("cum", F.sum("ct").over(w))
    tot = db.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    th = (
        hc.join(tot, "source")
        .groupBy("source")
        .agg(
            F.max(
                F.when(F.col("cum") >= F.expr("(n + 2) div 3"),
                       F.col("bucket"))
            ).alias("b1"),
            F.max(
                F.when(F.col("cum") >= F.expr("(2 * n + 2) div 3"),
                       F.col("bucket"))
            ).alias("b2"),
        )
    )
    tagged = db.join(F.broadcast(th), "source").select(
        "source", "slp", "ntok",
        F.when(F.col("bucket") >= F.col("b1"), "head")
        .when(F.col("bucket") >= F.col("b2"), "middle")
        .otherwise("tail").alias("tier"),
    )
    # token-weighted tier mean: decimal-exact all the way to ONE final
    # double division. (A mean over per-doc double averages would need
    # a double→decimal re-cast whose tie-breaking measurably differs
    # between engines — a last-digit mismatch surfaced at sf0.1.)
    return tagged.groupBy("source", "tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("slp").cast("double") / F.sum("ntok"))
        .alias("mean_token_logprob"),
    )


WINNOW_K = 3  # tokens per gram fed to the winnow
WINNOW_W = 4  # winnowing window (guarantee: any match >= K+W-1 tokens shares a fingerprint)


@query(
    "t_winnow_fingerprints",
    oracle=f"""
    WITH norm AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
    g AS (
      SELECT doc_id, source,
             list_transform({_gram_sql(WINNOW_K)},
               s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)) AS h
      FROM norm WHERE len(t) >= {WINNOW_K + WINNOW_W - 1}
    ),
    sel AS (
      SELECT doc_id, source, len(h) AS n_g,
             list_distinct(list_transform(
               range(1, len(h) - {WINNOW_W - 2}),
               i -> list_min(array_slice(h, i, i + {WINNOW_W - 1})))) AS fps
      FROM g
    ),
    ps AS (
      SELECT source, COUNT(*) AS doc_ct,
             CAST(SUM(n_g - {WINNOW_W - 1}) AS BIGINT) AS window_positions,
             CAST(SUM(len(fps)) AS BIGINT) AS fp_selected
      FROM sel GROUP BY source
    ),
    dis AS (
      SELECT source, COUNT(DISTINCT fp) AS fp_distinct
      FROM (SELECT source, unnest(fps) AS fp FROM sel) GROUP BY source
    )
    SELECT source, doc_ct, window_positions, fp_selected,
           CAST(fp_selected AS DOUBLE) / window_positions AS density,
           fp_distinct
    FROM ps JOIN dis USING (source)
    """,
    tags=("textops", "fingerprint", "winnow"),
)
def t_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (the MOSS local-sampling stage).

    Schleimer/Wilkerson/Aiken winnowing: hash every {WINNOW_K}-token
    gram, slide a {WINNOW_W}-hash window, keep each window's MINIMUM —
    the provably-bounded sampling that guarantees any shared run of
    ≥ {WINNOW_K + WINNOW_W - 1} tokens between two documents shares a
    selected fingerprint, at an expected density of 2/(w+1) ≈ 0.4 of
    positions. This is the index-build stage plagiarism/overlap search
    runs INSTEAD of indexing every gram (``t_repeated_ngram_coverage``
    measures with all positions; winnowing is how the same detection
    ships at 100 TB with 2.5× less index). Per source: selected and
    distinct fingerprint volume plus the achieved density. Min-of-
    window keeps VALUE semantics (ties collapse to the same hash), so
    the selected set is deterministic without the rightmost-tie rule.

    Scale shape: everything up to the per-source aggregation is a
    per-row array expression inside codegen — no explode until the
    distinct-count, which aggregates fingerprints already ~60% smaller
    than the gram stream.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    t = docs.select("doc_id", "source", tokenize("text").alias("t")).filter(
        F.size("t") >= WINNOW_K + WINNOW_W - 1
    )
    h = t.select(
        "doc_id",
        "source",
        F.transform(
            word_shingles(F.col("t"), WINNOW_K), lambda g: md5_long(g)
        ).alias("h"),
    )
    wins = F.transform(
        F.sequence(F.lit(0), F.size("h") - WINNOW_W),
        lambda i: F.array_min(F.slice(F.col("h"), i + 1, F.lit(WINNOW_W))),
    )
    # persisted for two reasons: ps and dis both read it, and the
    # barrier keeps Catalyst from inlining the nested higher-order
    # winnow expression under the explode — that inlining sends the
    # optimizer/codegen into a ~90 s data-size-INDEPENDENT stall
    # (measured; 0.6 s with the barrier)
    sel = track_persist(
        h.select(
            "source",
            F.size("h").alias("n_g"),
            F.array_distinct(wins).alias("fps"),
        )
    )
    ps = sel.groupBy("source").agg(
        F.count(F.lit(1)).alias("doc_ct"),
        F.sum(F.col("n_g") - (WINNOW_W - 1)).cast("long").alias(
            "window_positions"
        ),
        F.sum(F.size("fps")).cast("long").alias("fp_selected"),
    )
    dis = (
        sel.select("source", F.explode("fps").alias("fp"))
        .groupBy("source")
        .agg(F.countDistinct("fp").alias("fp_distinct"))
    )
    return ps.join(dis, "source").select(
        "source",
        "doc_ct",
        "window_positions",
        "fp_selected",
        (F.col("fp_selected").cast("double") / F.col("window_positions")).alias(
            "density"
        ),
        "fp_distinct",
    )


# --------------------------------------------------------------------------
# Quality-bucket mixture reweighting (DCLM/FineWeb-style sampling)
# --------------------------------------------------------------------------

# keep-rate per quality score (0-3): high-quality kept whole, the
# low-quality tail sampled down hard — the shape of a quality-aware
# data mix (classifier-bucket resampling a la DCLM / FineWeb-Edu).
QMIX_PCT = (5, 25, 60, 100)  # index = quality score
_QMIX_CASE = (
    "CASE score "
    + " ".join(f"WHEN {s} THEN {p}" for s, p in enumerate(QMIX_PCT))
    + " END"
)


def _quality_score_spark():
    """Spark twin of :func:`_quality_score_sql` (see t_quality_score)."""
    toks = tokenize("text")
    n_tok = F.size(toks)
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double")
        / n_tok
    )
    avg_len = (
        F.length(F.regexp_replace(normalize_text("text"), " ", "")).cast(
            "double"
        )
        / n_tok
    )
    return (
        F.when(n_tok.between(20, 200), 1).otherwise(0)
        + F.when(stop_ratio.between(0.02, 0.5), 1).otherwise(0)
        + F.when(avg_len.between(3, 8), 1).otherwise(0)
    )


@query(
    "t_quality_mixture_reweight",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, {_quality_score_sql()} AS score
      FROM documents
    ),
    tagged AS (
      SELECT doc_id, source, score, {_QMIX_CASE} AS pct,
             CAST(concat('0x', substr(md5('qmix:' || CAST(doc_id AS VARCHAR)),
                         1, 4)) AS BIGINT) % 100 AS bucket
      FROM scored
    )
    SELECT source, CAST(score AS BIGINT) AS quality_score,
           CAST(MAX(pct) AS BIGINT) AS keep_pct,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN bucket < pct THEN 1 ELSE 0 END) AS BIGINT)
             AS kept,
           CAST(SUM(CASE WHEN bucket < pct THEN doc_id ELSE 0 END) AS BIGINT)
             AS kept_id_sum
    FROM tagged GROUP BY source, score
    """,
    tags=("textops", "mixture", "quality", "sampling"),
)
def t_quality_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-bucket resampling: per-score keep rates, hash-deterministic.

    The quality-aware half of data-mix control (``t_source_mixture``
    balances SOURCES; this balances QUALITY STRATA — the
    classifier-bucket resampling of DCLM / FineWeb-Edu pipelines):
    each document's 0-3 heuristic score (the ``t_quality_score``
    expression) picks a keep percentage ({QMIX_PCT}), and membership
    is md5('qmix:'||doc_id) mod 100 < pct — a pure function of the
    key, independent of the train/val and source-mixture hashes (each
    selection uses its own salt), stable under reshuffles and
    backfills. ``kept_id_sum`` pins the exact kept set.

    Shape: fully map-side scoring + one small aggregate — no window,
    no join; the 100 TB plan is a single scan. (Rate-by-hash rather
    than rank-to-quota: quotas need a per-stratum sort; rates don't,
    and a mix spec in rates is how production pipelines state it.)
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    score = _quality_score_spark()
    pct = F.element_at(
        F.array(*[F.lit(p) for p in QMIX_PCT]), score + 1
    )
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit("qmix:"), F.col("doc_id").cast("string")).cast(
                    "binary"
                )
            ),
            1, 4,
        ),
        16, 10,
    ).cast("long") % 100
    tagged = docs.select(
        "source", "doc_id",
        score.alias("score"), pct.alias("pct"), bucket.alias("bucket"),
    )
    kept = F.col("bucket") < F.col("pct")
    return tagged.groupBy("source", "score").agg(
        F.max("pct").cast("long").alias("keep_pct"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("int")).cast("long").alias("kept"),
        F.sum(F.when(kept, F.col("doc_id")).otherwise(0)).cast("long")
        .alias("kept_id_sum"),
    ).select(
        "source", F.col("score").cast("long").alias("quality_score"),
        "keep_pct", "n_docs", "kept", "kept_id_sum",
    )


# --------------------------------------------------------------------------
# PII / sensitive-pattern redaction over log payloads
# --------------------------------------------------------------------------

# Pattern classes a log-scrubbing pass removes before payloads reach a
# training corpus. Plain character classes only — identical semantics
# in Java regex (Spark) and RE2 (DuckDB).
PII_NUM_PAT = "[0-9]+"
PII_EMAIL_PAT = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"


@query(
    "t_pii_redact",
    oracle=f"""
    WITH r AS (
      SELECT event_type, props,
             len(regexp_extract_all(props, '{PII_NUM_PAT}')) AS num_runs,
             length(props)
               - length(regexp_replace(props, '{PII_NUM_PAT}', '', 'g'))
               AS redacted_chars,
             len(regexp_extract_all(props, '{PII_EMAIL_PAT}')) AS email_hits,
             regexp_replace(props, '{PII_NUM_PAT}', '<NUM>', 'g') AS shape
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(num_runs) AS BIGINT) AS num_runs,
           CAST(SUM(redacted_chars) AS BIGINT) AS redacted_chars,
           CAST(SUM(email_hits) AS BIGINT) AS email_hits,
           COUNT(DISTINCT shape) AS distinct_shapes
    FROM r GROUP BY event_type
    """,
    tags=("textops", "pii", "redaction"),
)
def t_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-pattern scrub audit over event payloads (log sanitization).

    The scrubbing pass a pipeline runs before raw logs may enter a
    corpus: match pattern classes (numeric identifiers, emails),
    count and mask them, and audit how far masking collapses payload
    variety (``distinct_shapes`` = distinct payloads AFTER masking —
    the figure that tells you the redacted corpus is template-shaped,
    i.e. the scrub caught the identifying parts). The fixture's
    payloads carry numeric ids (live signal); the email class matches
    zero here but exercises the same compare, demonstrating the
    multi-class machinery.

    All pattern work is JVM-side ``regexp_count``/``regexp_replace``
    inside codegen (patterns restricted to plain character classes so
    Java regex and RE2 agree); one scan, one small aggregate — the
    100 TB plan. Redacted char volume is measured as length delta
    (exact integers), never float.
    """
    ev = load(spark, sf_dir, "events")
    num = F.lit(PII_NUM_PAT)
    r = ev.select(
        "event_type",
        F.regexp_count(F.col("props"), num).alias("num_runs"),
        (
            F.length("props")
            - F.length(F.regexp_replace(F.col("props"), PII_NUM_PAT, ""))
        ).alias("redacted_chars"),
        F.regexp_count(F.col("props"), F.lit(PII_EMAIL_PAT)).alias(
            "email_hits"
        ),
        F.regexp_replace(F.col("props"), PII_NUM_PAT, "<NUM>").alias("shape"),
    )
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("num_runs").cast("long").alias("num_runs"),
        F.sum("redacted_chars").cast("long").alias("redacted_chars"),
        F.sum("email_hits").cast("long").alias("email_hits"),
        F.countDistinct("shape").alias("distinct_shapes"),
    )


_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def table_profile(
    spark: SparkSession,
    sf_dir: str,
    table: str = "documents",
    columns: tuple[str, ...] = _PROFILE_COLS,
    exact_distinct: bool = True,
) -> DataFrame:
    """Single-pass per-column profile with exact or sketched distincts.

    ``exact_distinct=True`` → ``countDistinct``: Catalyst plans the N
    per-column distincts via Expand (N× row multiplication through one
    shuffle) — oracle-exact, and what the catalog query pins.
    ``exact_distinct=False`` → ``approx_count_distinct`` (single-pass
    HLL sketch, relative error ~2.3%): NO Expand, the whole profile is
    one partial-aggregated scan — the production setting at 100 TB,
    where the Expand multiplier is the dominant cost (measured at the
    1000× decade in SCALING.md: the approx profile removes the Expand
    cliff). The default is exact; the approx form is deliberately NOT
    oracle-compared — HLL layouts differ across engines, like
    ``a_approx_sketch_daily``.
    """
    nd = F.countDistinct if exact_distinct else F.approx_count_distinct
    docs = load(spark, sf_dir, table)
    aggs = [F.count(F.lit(1)).alias("row_ct")]
    for c in columns:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            nd(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = docs.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__min, {c}__max" for c in columns
    )
    return one.select(
        F.expr(
            f"stack({len(columns)}, {stacked}) AS"
            " (col, non_null, n_distinct, min_val, max_val)"
        ),
        "row_ct",
    ).select(
        "col",
        F.col("row_ct").cast("long").alias("row_ct"),
        F.col("non_null").cast("long").alias("non_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        (
            (F.col("row_ct") - F.col("non_null")).cast("double")
            / F.col("row_ct")
        ).alias("null_frac"),
        "min_val",
        "max_val",
    )


@query(
    "t_table_profile",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT '{c}' AS col,
           COUNT(*) AS row_ct,
           COUNT({c}) AS non_null,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(COUNT(*) - COUNT({c}) AS DOUBLE) / COUNT(*) AS null_frac,
           CAST(MIN({c}) AS VARCHAR) AS min_val,
           CAST(MAX({c}) AS VARCHAR) AS max_val
    FROM documents"""
        for c in _PROFILE_COLS
    ),
    tags=("textops", "stats", "profile"),
)
def t_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profiler: per-column null / distinct / range.

    The ANALYZE-style audit every large-scale ingestion pipeline runs
    before training on a new drop: one row per column with row count,
    non-null count, exact distinct cardinality, null fraction, and
    min/max rendered as strings. Catching schema drift (a column that
    went all-NULL, a categorical that grew a new value, an id range
    that jumped) is the cheapest guard against training on a broken
    delivery.

    Plan shape: ONE scan. All per-column aggregates go into a single
    ``agg`` — Catalyst plans the five ``countDistinct`` via Expand
    (5× row multiplication through one shuffle), then a ``stack``
    unpivots the 1×25 result row into the long form. The Expand
    multiplier is the price of EXACT distincts — the catalog pins the
    exact form so the oracle compares stay exact; ``table_profile``
    exposes the strategy as a parameter (``exact_distinct=False`` →
    single-pass HLL, no Expand — the production setting at 100 TB,
    measured in SCALING.md). Min/max compare in the native type
    (numeric for BIGINT columns) and cast to string only in the
    output, so the ordering is semantic, not lexicographic.
    """
    return table_profile(spark, sf_dir, exact_distinct=True)


# --------------------------------------------------------------------------
# BM25 retrieval scoring — the IR primitive behind retrieval-based
# curation (dedup-against-index, quality-by-query, RAG pre-filtering)
# --------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "join", "window")  # fixture-vocabulary query
BM25_TOPK = 20


def _bm25_per_sql() -> str:
    tf = ",\n             ".join(
        f"len(list_filter(t, x -> x = '{w}')) AS tf{i}"
        for i, w in enumerate(BM25_QUERY)
    )
    return f"""
    norm AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
    per AS (
      SELECT doc_id, source,
             len(list_filter(t, x -> x <> '')) AS dl,
             {tf}
      FROM norm
    ),
    st AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             {", ".join(
                 f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
                 for i in range(len(BM25_QUERY))
             )}
      FROM per
    )"""


def _bm25_contrib_sql(i: int) -> str:
    k1, b = BM25_K1, BM25_B
    return (
        f"CAST(CASE WHEN tf{i} = 0 THEN 0 ELSE "
        f"round(round(ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1), 9)"
        f" * (tf{i} * {k1 + 1!r})"
        f" / (tf{i} + {k1!r} * ({1 - b!r} + {b!r} * dl / avgdl)), 9)"
        f" END AS DECIMAL(24,9))"
    )


@query(
    "t_bm25_topk",
    oracle=f"""
    WITH {_bm25_per_sql()},
    sc AS (
      SELECT doc_id, source,
             CAST({" + ".join(_bm25_contrib_sql(i)
                              for i in range(len(BM25_QUERY)))}
                  AS DOUBLE) AS score
      FROM per, st
    )
    SELECT doc_id, source, score FROM sc
    ORDER BY score DESC, doc_id LIMIT {BM25_TOPK}
    """,
    tags=("textops", "retrieval", "bm25"),
)
def t_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-{BM25_TOPK} over the corpus for a fixed term query.

    The retrieval primitive a curation pipeline runs constantly:
    score every document against a query (here {BM25_QUERY}, drawn
    from the fixture vocabulary) with the Robertson/Spärck Jones
    BM25 weighting — ``idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))``,
    idf = ln((N−df+0.5)/(df+0.5)+1) — and keep the global top-k by
    (score DESC, doc_id). Swapping the literal terms for a parameter
    is the full search surface; this catalog entry pins the math.

    Scale shape: NO token explode and NO join — per-document term
    frequencies and length come from array expressions in the scan
    projection (``size(filter(t, = w))``, whole-stage codegen), the
    corpus statistics (N, Σdl, per-term df) are ONE scalar aggregate
    broadcast back as a single row, and the top-k is
    TakeOrderedAndProject, never a global sort. A Zipf-hot query term
    costs nothing special — tf counting is row-local. Float
    discipline (the ``t_unigram_lm_score`` recipe): ln rounded to 9
    decimals, each term's contribution rounded to 9 and summed in
    exact DECIMAL, so both engines produce bit-identical scores and
    the SAME top-k set.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    from pyspark.sql.types import DecimalType

    toks = docs.select("doc_id", "source", tokenize("text").alias("t"))

    def tf(w):
        # closure factory, NOT a default-arg lambda: a two-parameter
        # lambda would select pyspark's (element, index) filter variant
        return F.size(F.filter("t", lambda x: x == w))

    per = toks.select(
        "doc_id",
        "source",
        F.size(F.filter("t", lambda x: x != "")).alias("dl"),
        *[tf(w).alias(f"tf{i}") for i, w in enumerate(BM25_QUERY)],
    )
    per = track_persist(per)  # slim ints; feeds stats AND scoring
    stats = per.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).alias(f"df{i}")
            for i in range(len(BM25_QUERY))
        ],
    )
    scored = per.crossJoin(F.broadcast(stats))
    k1, b = BM25_K1, BM25_B

    def contrib(i: int):
        idf = F.round(
            F.log(
                (F.col("n") - F.col(f"df{i}") + 0.5)
                / (F.col(f"df{i}") + 0.5)
                + 1
            ),
            9,
        )
        ratio = (F.col(f"tf{i}") * F.lit(k1 + 1)) / (
            F.col(f"tf{i}")
            + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
        return (
            F.when(F.col(f"tf{i}") == 0, F.lit(0))
            .otherwise(F.round(idf * ratio, 9))
            .cast(DecimalType(24, 9))
        )

    score = sum(
        (contrib(i) for i in range(len(BM25_QUERY))),
        F.lit(0).cast(DecimalType(24, 9)),
    ).cast("double")
    return (
        scored.select("doc_id", "source", score.alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(BM25_TOPK)
    )


# --------------------------------------------------------------------------
# Zipf head profile — the skew-planning audit (which tokens dominate
# the corpus, how concentrated the mass is)
# --------------------------------------------------------------------------

ZIPF_TOP = 30


@query(
    "t_zipf_profile",
    oracle=f"""
    WITH norm AS (SELECT {_TOKS} AS t FROM documents),
    ex AS (SELECT unnest(t) AS w FROM norm),
    ex2 AS (SELECT w FROM ex WHERE w <> ''),
    tot(total) AS (SELECT COUNT(*) FROM ex2),
    cnt AS (SELECT w, COUNT(*) AS ct FROM ex2 GROUP BY w),
    top AS (
      SELECT w, ct, ROW_NUMBER() OVER (ORDER BY ct DESC, w) AS rank
      FROM cnt ORDER BY ct DESC, w LIMIT {ZIPF_TOP}
    )
    SELECT rank, w AS token, CAST(ct AS BIGINT) AS ct,
           CAST(ct AS DOUBLE) / total AS share,
           CAST(SUM(ct) OVER (ORDER BY rank) AS DOUBLE) / total
               AS cum_share
    FROM top, tot
    """,
    tags=("textops", "stats", "zipf"),
)
def t_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head: top-{ZIPF_TOP} tokens with rank, share, cumulative mass.

    The skew-planning audit behind this engine's own design rules:
    how much of the corpus sits under the hottest tokens decides
    whether a token-keyed operation straggles (README's
    no-content-keyed-window invariant exists because this curve is
    steep on natural language). Also the ANALYZE input for stop-lists
    and df-caps.

    Scale shape: one map-side-combined (token → count) aggregate over
    the exploded stream (the hot token collapses per partition — this
    audit MUST not itself straggle on the skew it measures), top-k by
    TakeOrderedAndProject, then rank/cumulative windows over the
    {ZIPF_TOP}-row result — bounded by construction. The token total
    rides the top-k rows as a one-row broadcast cross-join (the
    ``t_bm25_topk`` recipe) — the plan stays fully lazy, so the
    returned DataFrame re-executes against current data instead of
    baking a plan-build-time count in as a stale literal.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    ex = docs.select(F.explode(tokenize("text")).alias("w")).filter(
        F.col("w") != ""
    )
    ex = track_persist(ex)  # total + counts share the explode
    tot = ex.agg(F.count(F.lit(1)).alias("_total"))
    top = (
        ex.groupBy("w")
        .agg(F.count(F.lit(1)).alias("ct"))
        .orderBy(F.desc("ct"), "w")
        .limit(ZIPF_TOP)
        .crossJoin(F.broadcast(tot))
    )
    w_rank = Window.orderBy(F.desc("ct"), "w")
    w_cum = Window.orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.withColumn("rank", F.row_number().over(w_rank))
        .select(
            "rank",
            F.col("w").alias("token"),
            F.col("ct").cast("long").alias("ct"),
            (F.col("ct").cast("double") / F.col("_total")).alias("share"),
            (F.sum("ct").over(w_cum).cast("double") / F.col("_total")).alias(
                "cum_share"
            ),
        )
    )


# --------------------------------------------------------------------------
# Containment (subset) near-dup — catches quote/repost/wrapper dups
# that symmetric Jaccard misses when sizes differ
# --------------------------------------------------------------------------

CONTAIN_THRESHOLD = 0.8


@query(
    "t_containment_dups",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    keep AS (
      SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= {DF_CAP}
    ),
    ex2 AS (SELECT doc_id, s FROM ex JOIN keep USING (s)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex2 GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM ex2 a JOIN ex2 b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           CAST(shared AS BIGINT) AS shared,
           CAST(shared AS DOUBLE) / least(s1.sz, s2.sz) AS containment
    FROM pairs
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(shared AS DOUBLE) / least(s1.sz, s2.sz)
          >= {CONTAIN_THRESHOLD}
    """,
    tags=("textops", "dedup", "neardup", "containment"),
)
def t_containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT >= {CONTAIN_THRESHOLD}.

    Jaccard under-scores a short document embedded verbatim inside a
    long one (|A∩B|/|A∪B| shrinks with the size gap) — the
    quote/repost/boilerplate-wrapper duplication shape. Containment
    ``|A∩B| / min(|A|,|B|)`` scores the embedded copy at ~1
    regardless of the wrapper size, which is why dedup stacks (e.g.
    the suffix-style passes of Lee et al. 2022) pair a symmetric
    near-dup stage with a containment/substring stage.

    Scale shape: a SINGLE-PASS asymmetric count over the df-capped
    inverted index — each co-bucket pair is generated exactly once
    (smaller side first, (sz, doc_id)-lexicographic join predicate),
    with both sizes riding the postings as payloads, so the count
    stream map-side-combines straight into (pair, shared, szp) and
    the threshold applies with NO post-joins. ``containment =
    shared / szp`` because the probe side IS min(|A|,|B|) by
    construction.

    The Jaccard PPJoin prefix/positional scheme (``baaf316``)
    provably does NOT transfer, and not merely for lack of a safe
    prefix on the larger side: measured on a dense 500k-doc replica
    (260M capped postings, 256k qualifying pairs), the asymmetric
    smaller-side prefix admitted 55M probe rows (21%, as designed)
    but 148.77M of 157M candidate pair-groups SURVIVED the
    positional bound — for containment the requirement
    ``1 + min(szp−rp, szq−rq) ≥ ⌈t·szp⌉`` degenerates to
    ``rp ≤ szp − ⌈t·szp⌉ + 1``, i.e. the whole prefix, whenever the
    partner is larger (the common case by construction). With ~580×
    more candidates than answers, any per-candidate verification
    (set arrays, or re-exploding the smaller side's postings —
    7.49B rows measured) dwarfs the count stream it was meant to
    avoid. Counting co-occurrences directly needs no candidate
    materialization at all: the stream is ``Σ C(df,2)`` slim rows,
    df-cap-bounded per shingle (≤ {DF_CAP} postings/side per key,
    so no single join task can exceed ~{DF_CAP}²/2 pairs per key —
    hash-spread across the key space, no grid split needed), and the
    partial-aggregated shuffle carries only distinct pairs.
    """
    _, ex = _shingled(spark, sf_dir, persist=True)
    exd = ex.select("doc_id", F.unhex(F.md5("s")).alias("s"))
    keep = exd.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= DF_CAP
    ).select("s")
    ex2 = track_persist(exd.join(keep, "s").select("doc_id", "s"))
    sizes = ex2.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    posts = ex2.join(sizes, "doc_id")
    a = posts.select(
        "s", F.col("doc_id").alias("dp"), F.col("sz").alias("szp")
    )
    b = posts.select(
        "s", F.col("doc_id").alias("dq"), F.col("sz").alias("szq")
    )
    pairs = (
        a.join(b, "s")
        .filter(
            (F.col("szp") < F.col("szq"))
            | ((F.col("szp") == F.col("szq")) & (F.col("dp") < F.col("dq")))
        )
        .groupBy("dp", "dq")
        .agg(F.count(F.lit(1)).alias("shared"), F.first("szp").alias("szp"))
    )
    cont = F.col("shared").cast("double") / F.col("szp")
    return pairs.filter(cont >= CONTAIN_THRESHOLD).select(
        F.least("dp", "dq").alias("d1"),
        F.greatest("dp", "dq").alias("d2"),
        F.col("shared").cast("long").alias("shared"),
        cont.alias("containment"),
    )
