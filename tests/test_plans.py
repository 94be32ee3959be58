"""Physical-plan shape assertions — the scale contract, enforced.

Correctness says the numbers match; these tests pin the *plans*:
filters reach the parquet scan, small dims broadcast, top-k compiles
to TakeOrderedAndProject, joins never degrade to cartesian products,
and no query drops to row-at-a-time Python.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from pyspark.sql import functions as F

from flink_spark.registry import all_queries

from conftest import SF_DIR

_Q = all_queries()


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(_Q["p_projection_filter"].fn(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # the returnflag filter must be pushed, not applied post-scan only
    assert "l_returnflag" in plan.split("PushedFilters")[1].split("]")[0]


def test_column_pruning_reaches_scan(spark):
    plan = _plan(_Q["t_token_stats"].fn(spark, SF_DIR))
    read = plan.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read and "doc_id" not in read, read


def test_dim_joins_broadcast(spark):
    for name in ["q5_local_supplier_volume", "j_broadcast_dim_join"]:
        plan = _plan(_Q[name].fn(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_decontaminate_broadcasts_eval_set(spark):
    """The benchmark shingle set must broadcast — the training corpus
    is probed map-side, never shuffled against the eval set."""
    plan = _plan(_Q["t_decontaminate"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_no_content_keyed_windows(spark):
    """README invariant: NO window partitioned on a corpus-content key
    (gram/chunk/token/fingerprint/cluster). A hot content key — empty
    page, boilerplate chunk, Zipf-head token — puts its entire corpus
    multiplicity into one sorted task AQE cannot split; every such
    step must be a map-side-combined aggregate (+ digest join where a
    per-row flag is needed). Checked two ways: no ``Window.partitionBy``
    on an UNBOUNDED content key anywhere in ``plans/`` source, and no
    ``windowspecdefinition`` over fp/cluster/digest columns in the
    physical plans of the operators that historically had them. (The
    one remaining gram-keyed window, t_repeated_ngram_coverage:450,
    runs over rows PRE-AGGREGATED to (gram, source) — partition size
    ≤ |sources| by construction, which is the documented exception.)"""
    import pathlib
    import re

    plans_dir = pathlib.Path(__file__).parent.parent / "flink_spark" / "plans"
    banned = re.compile(
        r'Window\.partitionBy\(\s*"(fp|cluster_id|gk|ck|chunk|token)"\s*\)'
    )
    offenders = [
        f"{p.name}: {m.group(0)}"
        for p in plans_dir.glob("*.py")
        for m in banned.finditer(p.read_text())
    ]
    assert not offenders, offenders

    for name in ["t_dup_clusters", "t_cross_source_dedup",
                 "t_corpus_pipeline", "t_training_pipeline",
                 "t_substring_dedup", "t_chunk_dedup",
                 "t_unigram_lm_score"]:
        plan = _plan(_Q[name].fn(spark, SF_DIR))
        for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
            head = spec.split(",")[0]
            assert not re.match(r"(fp|cluster_id|gk|ck|chunk)#", head), (
                name, spec
            )
        from flink_spark.registry import release_persisted
        release_persisted()


def test_repeated_ngram_coverage_is_join_free(spark):
    """The repeated-span audit aggregates (gram, source) map-side and
    attaches gram totals with a window — the position stream crosses
    the wire once and there is NO join of position-sized tables."""
    plan = _plan(_Q["t_repeated_ngram_coverage"].fn(spark, SF_DIR))
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, node


def test_semantic_decontaminate_broadcasts_eval_set(spark):
    """The eval embedding set must broadcast (like e_cosine_topk, the
    threshold scan against a broadcast benchmark IS a nested-loop probe
    — map-side, the corpus never shuffles); no un-broadcast cartesian."""
    plan = _plan(_Q["e_semantic_decontaminate"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_bpe_segment_broadcasts_vocab(spark):
    """The corpus-sized (source, word) table must probe the bounded
    vocab map-side — never shuffle the corpus against the vocab."""
    plan = _plan(_Q["t_bpe_segment"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_filter_plan_shape(spark):
    """r15 shape: both repetition signals are row-local sorted-run
    folds — the whole query is scan → spread exchange → projection.
    No joins, no aggregates, no gram explode, and exactly the one
    spread exchange."""
    plan = _plan(_Q["t_repetition_filter"].fn(spark, SF_DIR))
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin",
                 "HashAggregate", "SortAggregate", "Generate"):
        assert node not in plan, node
    # exactly one Exchange node (the load_spread repartition); the
    # formatted dump names each node once in the tree ("+- Exchange")
    # and once in the detail section ("(n) Exchange")
    assert plan.count("+- Exchange") <= 1
    from flink_spark.registry import release_persisted
    release_persisted()


def test_source_mixture_plan_shape(spark):
    """Two-phase head selection: the tiny boundary table broadcasts,
    and the only window is the boundary-SLIVER rank (its input is
    filtered to one hash bucket per source before the sort — never
    the full source). No cartesian degradation."""
    plan = _plan(_Q["t_source_mixture"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # the window's input must carry the bucket-boundary columns — the
    # structural proof the sort is over the sliver, not the source
    assert "_B1" in plan and "_B2" in plan


def test_topk_is_take_ordered(spark):
    plan = _plan(_Q["ads_topk_users"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    # no global sort: a full Sort node would mean the whole table sorts
    assert plan.count("Sort ") <= 1


def test_no_cartesian_or_nested_loop_joins(spark):
    for name in [
        "j_interval_join",
        "t_ngram_jaccard_dups",
        "t_minhash_lsh_dups",
        "t_lsh_recall_curve",
        "e_lsh_recall_curve",
        "x_ensemble_dup_clusters",
        "t_dup_clusters",
        "t_simhash_dups",
        "t_embedding_neardup",
        "t_corpus_pipeline",
        "e_ann_lsh_topk",
        "t_chunk_dedup",
        "t_distinctive_terms",
        "t_unigram_lm_score",
        "t_cross_source_dedup",
        "s_retention_cohorts",
        "s_abandoned_browse",
        "e_semantic_dedup",
        "t_shuffle_shards",
        "t_bpe_segment",
        "t_substring_dedup",
        "t_containment_dups",
    ]:
        plan = _plan(_Q[name].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        # e_cosine_topk is the one deliberate exception (exact scoring
        # against a broadcast query set IS a nested-loop scan)
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_pq_adc_plan_shape(spark):
    """PQ search: the ADC scan is a narrow partition-local kernel (no
    join node at all — LUTs ride in the task closure and each
    partition emits only its top-R per query), and the re-rank stage
    must join the constant-size shortlist by BROADCAST hash join,
    never a shuffle of the corpus floats or a cartesian blowup."""
    plan = _plan(_Q["e_pq_adc_topk"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan  # shortlist/rerank id joins


def test_filtered_topk_is_hash_join(spark):
    """Filtered vector search: the label constraint must BE the join
    key (broadcast hash join), never a nested-loop scan with a
    post-filter — that is the whole point of the operator."""
    plan = _plan(_Q["e_filtered_topk"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_asof_join_is_merge_not_join(spark):
    """The as-of join must compile to sort+window along time — one
    shuffle on user_id and NO join node (the naive per-key all-pairs
    join is quadratic in a power user's event count)."""
    plan = _plan(_Q["j_asof_nearest"].fn(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "Window" in plan
    # formatted mode prints tree + detail: one "(n) Exchange" node
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_range_band_join_broadcasts_bands(spark):
    """The band join's only scalable plan: tiny band table broadcast,
    fact side never shuffled (no Exchange above the lineitem scan)."""
    plan = _plan(_Q["j_range_band"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_semi_anti_join_operators(spark):
    """The existence joins must compile to real semi/anti join nodes
    (LeftSemi/LeftAnti) — never an inner join + distinct, which would
    explode a power customer into |orders| shuffled rows first."""
    plan = _plan(_Q["j_semi_anti_customers"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_wide_order_5way_plan(spark):
    """The composed 5-table DWD join: dic broadcast, date predicate
    pushed to the orders scan, no cartesian degradation."""
    plan = _plan(_Q["j_wide_order_5way"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1  # at least the dic lookup
    # partition-prunable date predicate reaches the orders parquet scan
    orders_scan = plan.split("orders.parquet")[1].split("ReadSchema")[0]
    assert "o_orderdate" in orders_scan.split("PushedFilters")[1], orders_scan


def test_no_row_at_a_time_python(spark):
    for name, q in _Q.items():
        plan = _plan(q.fn(spark, SF_DIR), "extended")
        assert "BatchEvalPython" not in plan, f"{name} uses a row Python UDF"


def test_q1_single_shuffle(spark):
    plan = _plan(_Q["q1_pricing_summary"].fn(spark, SF_DIR))
    tree = plan.split("(1) ")[0]  # the plan tree, before node details
    assert tree.count("Exchange") <= 1
    # partial (map-side) aggregation before the single shuffle
    assert "partial_sum" in plan


@pytest.mark.parametrize("name", ["w_tumble_10s_keyed", "s_dedup_latest"])
def test_whole_stage_codegen_present(spark, name):
    # AQE hides codegen markers until the final plan exists; execute,
    # then check for starred (*(n) = inside-codegen) operators
    df = _Q[name].fn(spark, SF_DIR)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final, name
    assert "*(" in final, f"{name}: no codegen stage in final plan"


def test_ads_funnel_union_single_scan(spark):
    """The reference's 5-way UNION ALL is rewritten to ONE events scan
    (conditional aggregates + stack); the plan must not re-scan."""
    plan = _plan(_Q["ads_funnel_union"].fn(spark, SF_DIR), "simple")
    assert plan.count("Scan parquet") == 1, plan
    # the 5 conditional count-distincts compile to one Expand, not 5 unions
    assert "Expand" in plan and "Union" not in plan


def test_ads_joins_broadcast_and_no_cartesian(spark):
    for name in [
        "ads_gmv_topk_brand",
        "ads_category_fullouter",
        "j_left_outer_interval",
        "ads_province_stats",
    ]:
        plan = _plan(_Q[name].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # the part dim must broadcast into the fact scan
    plan = _plan(_Q["ads_gmv_topk_brand"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_dup_clusters_match_union_find(spark):
    """t_dup_clusters ≡ an independent pure-Python union-find over the
    pair output (third implementation besides the label-propagation
    plan and the recursive-CTE oracle), plus structural invariants."""
    pairs = [
        (r.d1, r.d2)
        for r in _Q["t_minhash_lsh_dups"].fn(spark, SF_DIR).collect()
    ]
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    members: dict = {}
    for d in parent:
        members.setdefault(find(d), set()).add(d)
    expect = {min(m): len(m) for m in members.values()}

    out = _Q["t_dup_clusters"].fn(spark, SF_DIR).collect()
    got = {r.cluster_id: r.n_docs for r in out}
    assert got == expect
    for r in out:
        assert r.n_docs >= 2            # singletons never enter the graph
        assert r.keep_doc in members[find(r.cluster_id)]
        assert r.cluster_id == min(members[find(r.cluster_id)])


def test_leakage_safe_split_never_splits_a_cluster(spark):
    """The structural guarantee: every near-dup cluster's members land
    in ONE split, and the per-(source, split) audit reconciles with an
    independently computed assignment."""
    from flink_spark.plans.graph import connected_components
    from flink_spark.plans.textops import TRAIN_PCT, _minhash_pairs
    from flink_spark.registry import release_persisted
    from flink_spark.sources import load

    try:
        out = {
            (r.source, r.split): (r.n_docs, r.clustered_docs, r.id_sum)
            for r in _Q["t_leakage_safe_split"].fn(spark, SF_DIR).collect()
        }
        labels = {
            r.doc_id: r.cluster_id
            for r in connected_components(
                _minhash_pairs(spark, SF_DIR).select("d1", "d2").persist()
            ).collect()
        }
        docs = [
            (r.source, r.doc_id)
            for r in load(spark, SF_DIR, "documents")
            .select("source", "doc_id").collect()
        ]
    finally:
        release_persisted()

    import hashlib

    def split_of(key: int) -> str:
        b = int(hashlib.md5(str(key).encode()).hexdigest()[:4], 16) % 100
        return "train" if b < TRAIN_PCT else "val"

    # clusters never straddle: all members share the cluster key
    by_cluster: dict = {}
    for doc, cid in labels.items():
        by_cluster.setdefault(cid, set()).add(split_of(cid))
    assert all(len(s) == 1 for s in by_cluster.values())

    want: dict = {}
    for source, doc_id in docs:
        key = labels.get(doc_id, doc_id)
        s = split_of(key)
        n, c, i = want.get((source, s), (0, 0, 0))
        want[(source, s)] = (
            n + 1, c + (1 if doc_id in labels else 0), i + doc_id
        )
    assert out == want
    assert sum(c for _, c, _ in out.values()) > 0, (
        "fixture must exercise the cluster path"
    )


def test_training_pipeline_split_is_leakage_safe(spark):
    """Stage 7 of the flagship pipeline keys the split by the near-dup
    cluster label (round 10): no verified pair — and transitively, no
    two members of one component — may straddle train/val among the
    selected docs, and the same-component co-assignment must hold even
    when dedup removed the connecting doc."""
    from flink_spark.plans.textops import _training_pipeline_parts
    from flink_spark.registry import release_persisted

    try:
        _fs, vpairs, mk, _stats = _training_pipeline_parts(spark, SF_DIR)
        pairs = [(r.d1, r.d2) for r in vpairs.collect()]
        rows = mk.select("doc_id", "is_train", "in_cluster").collect()
    finally:
        release_persisted()
    side = {r.doc_id: r.is_train for r in rows}
    assert pairs, "fixture must exercise the near-dup path"

    # union-find over the verified pair graph
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    comp_side: dict = {}
    flagged = 0
    for doc, s in side.items():
        if doc not in parent:
            continue
        flagged += 1
        root = find(doc)
        comp_side.setdefault(root, set()).add(s)
    assert all(len(s) == 1 for s in comp_side.values()), (
        "a near-dup component straddles the train/val split"
    )
    # the audit column counts exactly the cluster-keyed selected docs
    assert sum(r.in_cluster for r in rows) == flagged


def test_ensemble_pipeline_split_is_leakage_safe(spark):
    """``x_ensemble_training_pipeline``'s stage 7 keys the split by the
    components of the UNION pair graph: the lexical-only invariant
    above must hold over lexical ∪ semantic edges — so a cross-modal
    chain (A~B lexically, B~C semantically) cannot straddle train/val
    — and the ensemble graph must be a strict superset of the lexical
    one on the fixture (x_modality_agreement's zero-overlap finding
    means every semantic pair is NEW evidence)."""
    from flink_spark.plans.textops import _training_pipeline_parts
    from flink_spark.registry import release_persisted

    try:
        _fs, vlex, _mk, _ = _training_pipeline_parts(spark, SF_DIR)
        lex = {(r.d1, r.d2) for r in vlex.collect()}
        release_persisted()
        _fs, vpairs, mk, _stats = _training_pipeline_parts(
            spark, SF_DIR, ensemble=True
        )
        pairs = [(r.d1, r.d2) for r in vpairs.collect()]
        rows = mk.select("doc_id", "is_train", "in_cluster").collect()
    finally:
        release_persisted()
    assert lex < set(pairs), "semantic edges must extend the lexical graph"
    side = {r.doc_id: r.is_train for r in rows}

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    comp_side: dict = {}
    flagged = 0
    for doc, s in side.items():
        if doc not in parent:
            continue
        flagged += 1
        root = find(doc)
        comp_side.setdefault(root, set()).add(s)
    assert all(len(s) == 1 for s in comp_side.values()), (
        "an ensemble near-dup component straddles the train/val split"
    )
    assert sum(r.in_cluster for r in rows) == flagged


def test_leakage_safe_split_loose_threshold(spark):
    """The loose twin's contract: its pair graph is a SUPERSET of the
    dedup-threshold graph (same LSH candidates, lower verify gate) and
    no verified loose pair straddles the loose split — the exact
    leakage the lower threshold exists to forbid."""
    from flink_spark.plans.textops import (
        JACCARD_THRESHOLD,
        LOOSE_SPLIT_JACCARD,
        _leakage_split_tagged,
        _minhash_pairs,
    )
    from flink_spark.registry import release_persisted

    assert LOOSE_SPLIT_JACCARD < JACCARD_THRESHOLD
    try:
        strict = {
            (r.d1, r.d2)
            for r in _minhash_pairs(spark, SF_DIR).select("d1", "d2").collect()
        }
        loose = {
            (r.d1, r.d2)
            for r in _minhash_pairs(spark, SF_DIR, LOOSE_SPLIT_JACCARD)
            .select("d1", "d2").collect()
        }
        split = {
            r.doc_id: r.split
            for r in _leakage_split_tagged(
                spark, SF_DIR, LOOSE_SPLIT_JACCARD
            ).collect()
        }
    finally:
        release_persisted()
    assert strict <= loose and loose
    for d1, d2 in loose:
        assert split[d1] == split[d2], (d1, d2)


def test_embedding_leakage_split_never_splits_a_cluster(spark):
    """The embedding twin's structural guarantee: every cosine
    near-dup cluster lands whole in one split, and cluster-assigned
    counts reconcile with the label table."""
    import hashlib

    from flink_spark.plans.graph import connected_components
    from flink_spark.plans.similarity import _emb_neardup_pairs
    from flink_spark.plans.textops import TRAIN_PCT
    from flink_spark.registry import release_persisted

    try:
        out = _Q["e_leakage_safe_split"].fn(spark, SF_DIR).collect()
        labels = connected_components(
            _emb_neardup_pairs(spark, SF_DIR).select("d1", "d2").persist()
        ).collect()
    finally:
        release_persisted()

    def split_of(key: int) -> str:
        b = int(hashlib.md5(str(key).encode()).hexdigest()[:4], 16) % 100
        return "train" if b < TRAIN_PCT else "val"

    by_cluster: dict = {}
    for r in labels:
        by_cluster.setdefault(r.cluster_id, set()).add(split_of(r.cluster_id))
    assert by_cluster and all(len(s) == 1 for s in by_cluster.values())
    assert sum(r.clustered_vecs for r in out) == len(labels)
    assert sum(r.n_vecs for r in out) > len(labels)  # singletons present


def test_minhash_verify_is_pair_keyed_count(spark):
    """The MinHash verify must stay the pair-keyed COUNT form: no
    shingle arrays joined onto candidates (no array_intersect in the
    plan — the shape that measured out-of-disk on the dense replica)
    and the shared count collapsing map-side (a partial_count
    aggregate feeding the threshold)."""
    from flink_spark.registry import release_persisted

    for name in ("t_minhash_lsh_dups", "t_dup_clusters"):
        plan = _plan(_Q[name].fn(spark, SF_DIR))
        assert "array_intersect" not in plan, name
        assert "partial_count" in plan, name
        release_persisted()


def test_pair_join_guard_keeps_plain_path_when_unskewed(spark):
    """With no bucket past the cap (the fixture corpora), the skew
    guard's probe must choose the PLAIN self-join — no grid cells, no
    per-row replication — and never a cartesian product. The grid
    path is identifiable by its cell-coordinate join columns (_i/_j);
    forcing a tiny cap must flip the plan onto them."""
    from flink_spark.plans.pairjoin import pair_self_join
    from flink_spark.registry import release_persisted
    from flink_spark.sources import load

    df = _Q["t_minhash_lsh_dups"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "_i#" not in plan and "_j#" not in plan
    release_persisted()

    docs = load(spark, SF_DIR, "documents").select(
        "doc_id", (F.col("doc_id") % 2).alias("k")
    )
    forced = pair_self_join(docs, "doc_id", ["k"], cap=5)
    gplan = _plan(forced)
    assert "_i#" in gplan and "_j#" in gplan
    assert "CartesianProduct" not in gplan
    release_persisted()


def test_approx_sketches_within_tolerance(spark):
    """a_approx_sketch_daily's sketch accuracy, pinned on RAW sketch
    values (the query's own output carries only the accuracy
    predicates — re-derive the sketches here so a tolerance bug in the
    predicate columns can't hide a drifting estimator), plus the
    output contract: exact companions match an independent exact
    aggregation and every per-day predicate is TRUE."""
    from flink_spark.sources import load

    out = {
        r["date_id"]: r
        for r in _Q["a_approx_sketch_daily"].fn(spark, SF_DIR).collect()
    }
    raw = (
        load(spark, SF_DIR, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("date_id"))
        .agg(
            F.count(F.lit(1)).alias("pv"),
            F.countDistinct("user_id").alias("uv"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("uv_approx"),
            F.percentile_approx("value", 0.5).alias("p50_approx"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.max("value").alias("hi"),
            F.min("value").alias("lo"),
        )
        .collect()
    )
    assert out and len(raw) == len(out)
    for e in raw:
        a = out[e["date_id"]]
        assert abs(e["uv_approx"] - e["uv"]) <= max(2, 0.05 * e["uv"]), e
        span = e["hi"] - e["lo"]
        assert abs(e["p50_approx"] - e["p50"]) <= 0.05 * span, e
        assert (a["pv"], a["uv_exact"]) == (e["pv"], e["uv"])
        assert a["uv_sketch_ok"] and a["p50_sketch_ok"], e


def test_bm25_is_scan_stats_takeordered(spark):
    """BM25: per-doc tf/dl are array expressions in the scan projection
    (no token explode, no vocab join), corpus stats ride a ONE-ROW
    broadcast (the only join node), and the top-k compiles to
    TakeOrderedAndProject — never a global sort."""
    plan = _plan(_Q["t_bm25_topk"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Generate" not in plan  # no explode anywhere
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the single BroadcastNestedLoopJoin is the 1-row stats attach
    # (formatted mode prints each node in tree + detail sections)
    import re

    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    from flink_spark.registry import release_persisted
    release_persisted()


def test_zipf_profile_is_agg_takeordered(spark):
    """The Zipf audit must not itself straggle on the skew it measures:
    token counts are one map-side-combined aggregate, the head is
    TakeOrderedAndProject, and the rank/cumulative windows run over
    the bounded top-k rows only (no window before the TakeOrdered)."""
    plan = _plan(_Q["t_zipf_profile"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    from flink_spark.registry import release_persisted
    release_persisted()


def test_table_profile_single_scan_expand(spark):
    """The profiler's five exact count-distincts compile to one scan +
    one Expand (Catalyst's multi-distinct rewrite), never five scans
    or a union of per-column jobs."""
    plan = _plan(_Q["t_table_profile"].fn(spark, SF_DIR), "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan and "Union" not in plan


def test_table_profile_approx_knob_drops_expand(spark):
    """``table_profile(exact_distinct=False)`` (the production setting
    at 100 TB) must profile in ONE partial-aggregated scan: HLL
    sketches replace the Expand's 5× row multiplication. Counts other
    than n_distinct stay exact, and the HLL distincts land within the
    sketch's documented ~2.3% relative error."""
    from flink_spark.plans.textops import table_profile

    approx = table_profile(spark, SF_DIR, exact_distinct=False)
    plan = _plan(approx, "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" not in plan, plan

    exact = {r["col"]: r.asDict() for r in
             table_profile(spark, SF_DIR, exact_distinct=True).collect()}
    for r in approx.collect():
        e = exact[r["col"]]
        assert (r["row_ct"], r["non_null"], r["min_val"], r["max_val"]) \
            == (e["row_ct"], e["non_null"], e["min_val"], e["max_val"])
        assert abs(r["n_distinct"] - e["n_distinct"]) \
            <= max(3, 0.05 * e["n_distinct"]), (r["col"], r["n_distinct"],
                                                e["n_distinct"])


def test_keep_best_never_loses_quality(spark):
    """t_keep_best_dedup's survivor is argmax-by-quality: the kept
    doc's score can never be below the min-id survivor's, and every
    cluster appears exactly once."""
    rows = _Q["t_keep_best_dedup"].fn(spark, SF_DIR).collect()
    assert rows, "fixture has near-dup clusters"
    assert len({r["cluster_id"] for r in rows}) == len(rows)
    for r in rows:
        assert r["quality_gain"] == r["keep_quality"] - r["first_quality"]
        assert r["quality_gain"] >= 0, r
        assert r["n_docs"] >= 2, r  # clusters come from pairs


def test_stratified_sample_rates_and_bounds(spark):
    """Per-source rate_bp derives from the corpus (equal quotas capped
    at 100%); sampled counts stay within the hash rule's possible
    range; a source smaller than its quota samples fully."""
    rows = _Q["t_stratified_sample"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 < r["rate_bp"] <= 10000
        assert 0 <= r["sampled_docs"] <= r["n_docs"]
        if r["rate_bp"] == 10000:
            assert r["sampled_docs"] == r["n_docs"]


def test_stratified_sample_broadcasts_rates(spark):
    """The rate table joins onto the corpus by BROADCAST — the corpus
    is never shuffled for the tagging, and no join degrades to a
    cartesian product."""
    plan = _plan(_Q["t_stratified_sample"].fn(spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_perplexity_buckets_are_terciles(spark):
    """Histogram terciles: tiers partition each source, and head/tail
    sizes sit within one boundary-bucket mass of n/3 (the documented
    bucket-granularity approximation). Head must outscore tail."""
    rows = _Q["t_perplexity_buckets"].fn(spark, SF_DIR).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], {})[r["tier"]] = r
    for src, tiers in by_src.items():
        n = sum(t["n_docs"] for t in tiers.values())
        head = tiers.get("head")
        assert head is not None, (src, tiers)
        assert head["n_docs"] >= (n + 2) // 3, (src, tiers)
        if "tail" in tiers:
            assert head["mean_token_logprob"] \
                > tiers["tail"]["mean_token_logprob"], (src, tiers)


def test_sq8_rerank_scores_are_true_cosines(spark):
    """e_sq8_topk's reported scores equal exact cosines (the shared
    scores-are-true ANN contract): every (query, neighbor, cosine) it
    returns appears with the same cosine in the brute-force scan."""
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in _Q["e_cosine_topk"].fn(spark, SF_DIR).collect()
    }
    got = _Q["e_sq8_topk"].fn(spark, SF_DIR).collect()
    assert got
    hit = 0
    for r in got:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            hit += 1
            assert abs(r["cosine"] - exact[key]) < 1e-12, r
    # SQ8 at 256 levels/dim is a faithful quantizer: the shortlist'd
    # re-rank recovers most of the exact top-5 on the fixture
    assert hit >= len(got) * 0.6, (hit, len(got))


def test_ivf_balance_audit_accounts_every_vector(spark):
    """Occupancy rows sum to the corpus, and each load factor is
    exactly n_vecs × cells / total for the ACTIVE derived cell count."""
    from flink_spark.plans.similarity import _active_ivf_cells
    from flink_spark.sources import load

    rows = _Q["e_ivf_balance_audit"].fn(spark, SF_DIR).collect()
    total = load(spark, SF_DIR, "embeddings").count()
    cells = _active_ivf_cells(spark, SF_DIR)
    assert sum(r["n_vecs"] for r in rows) == total
    assert len(rows) <= cells
    for r in rows:
        assert r["load_factor"] == pytest.approx(
            r["n_vecs"] * cells / total, rel=1e-12
        )


def test_sq8_dequantization_error_bound(spark):
    """SQ8's encode/decode honors the scalar-quantization contract:
    every dequantized coordinate is within half a quantization step
    ((max-min)/2/255 per dim) of the original float — the bound that
    makes the 1.0 scoreboard recall unsurprising rather than lucky."""
    import math

    from pyspark.sql import functions as F

    from flink_spark.plans.similarity import DIM, SQ_LEVELS, _norm
    from flink_spark.sources import load

    emb = load(spark, SF_DIR, "embeddings")
    st = emb.agg(
        F.array(*[
            F.min(F.element_at("embedding", i).cast("double"))
            for i in range(1, DIM + 1)
        ]).alias("mins"),
        F.array(*[
            F.max(F.element_at("embedding", i).cast("double"))
            for i in range(1, DIM + 1)
        ]).alias("maxs"),
    )
    deq = F.expr(
        f"transform(sequence(1, {DIM}), i -> "
        "CASE WHEN element_at(maxs, i) = element_at(mins, i) "
        "THEN element_at(mins, i) "
        f"ELSE element_at(mins, i) + round({SQ_LEVELS} * "
        "(CAST(element_at(embedding, i) AS DOUBLE) - element_at(mins, i))"
        " / (element_at(maxs, i) - element_at(mins, i))) "
        f"* (element_at(maxs, i) - element_at(mins, i)) / {SQ_LEVELS} END)"
    )
    worst = (
        emb.crossJoin(F.broadcast(st))
        .select(deq.alias("deq0"), "embedding", "mins", "maxs")
        .select(
            F.expr(
                f"aggregate(sequence(1, {DIM}), 0D, (acc, i) -> "
                "greatest(acc, CASE WHEN element_at(maxs, i) = "
                "element_at(mins, i) THEN 0D ELSE "
                "abs(element_at(deq0, i) "
                "- CAST(element_at(embedding, i) AS DOUBLE)) "
                "/ (element_at(maxs, i) - element_at(mins, i)) END))"
            ).alias("worst_rel")
        )
    )
    m = worst.agg(F.max("worst_rel").alias("m")).collect()[0]["m"]
    # half a step, relative to the dim's range, plus float slack
    assert m <= 0.5 / SQ_LEVELS + 1e-9, m
    assert not math.isnan(m)
