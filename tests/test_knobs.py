"""The env knobs: a pinned set, and each keeps plan and oracle symmetric.

``flink_spark`` reads a fixed set of environment variables (listed in
README.md, "Scale design"); every other tuning value is a module
constant. ``test_env_reads_are_the_kept_set`` pins that set, so a new
knob is added on purpose, with a reason, or not at all.

SCALING.md documents env knobs that widen the banded self-joins as the
corpus grows (FLINK_SPARK_SIMHASH_BITS / _LSH_BITS / _IVF_CELLS). Their
contract is that the oracle SQL is rebuilt from the same constants, so
correctness holds at ANY width — the tests below re-run the oracle
compare at non-default widths in a subprocess (the knobs are read at
import time, so a fresh interpreter is required).
"""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
import sys

# Every environment variable flink_spark reads, and why it stays a knob.
_KEPT_ENV = {
    # 0 selects the fault-tolerant DISK_ONLY persist profile (safety code)
    "FLINK_SPARK_CUT_LINEAGE",
    # set by the sweep scripts under scripts/
    "FLINK_SPARK_LSH_BANDS",
    "FLINK_SPARK_PQ_RERANK",
    "FLINK_SPARK_IVF_PROBES",
    # set by tests to push the corpus-derived rules out of their default
    "FLINK_SPARK_SIMHASH_BITS",
    "FLINK_SPARK_LSH_BITS",
    "FLINK_SPARK_IVF_CELLS",
    "FLINK_SPARK_PACK_SHARDS",
    "FLINK_SPARK_PACK_SHARD_ROWS",
    "FLINK_SPARK_RECALL_SAMPLE",
    "FLINK_SPARK_MAX_BUCKET",
    # deployment settings
    "FLINK_SPARK_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEM",
}


# an env read with a literal name; any os.environ / os.getenv use this
# does not match fails the count check below instead of slipping past
_ENV_READ = re.compile(r'os\.(?:environ\.get\(|environ\[|getenv\()\s*"(\w+)"')


def test_env_reads_are_the_kept_set():
    """The package reads exactly the kept knobs: a new env read fails
    here until it is added to ``_KEPT_ENV`` (and README's table)."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "flink_spark"
    found: set[str] = set()
    for path in sorted(pkg.rglob("*.py")):
        text = path.read_text()
        names = _ENV_READ.findall(text)
        assert len(names) == (text.count("os.environ")
                              + text.count("os.getenv")), path
        found.update(names)
    assert found == _KEPT_ENV, (
        f"new: {sorted(found - _KEPT_ENV)}; "
        f"gone: {sorted(_KEPT_ENV - found)}"
    )


_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from flink_spark.session import get_spark
from flink_spark.testing import compare, duck_connect
from flink_spark.registry import all_queries
spark = get_spark(cpus=4, shuffle_partitions=4)
con = duck_connect({sf_dir!r})
qs = all_queries()
for name in {queries!r}:
    errs = compare(spark, con, qs[name], {sf_dir!r})
    assert not errs, (name, errs[:2])
print("KNOB-SYMMETRY-OK")
"""


def test_corpus_rules():
    """The computed defaults follow the documented rules of thumb."""
    from flink_spark.plans.similarity import ivf_cells_for, lsh_bits_for
    from flink_spark.plans.textops import simhash_bits_for

    assert lsh_bits_for(1_000) == 4          # clamp floor (fixtures)
    assert lsh_bits_for(100_000) == 10       # SCALING.md's 10x retune point
    assert lsh_bits_for(10**10) == 16        # cap
    assert ivf_cells_for(1_000) == 32        # sqrt(n)
    assert ivf_cells_for(10) == 8            # floor
    assert simhash_bits_for(500) == 32       # floor (fixtures)
    assert simhash_bits_for(65_000) == 32    # the measured 1.9s point
    assert simhash_bits_for(650_000) == 48   # 10x corpus: measured-good
    assert simhash_bits_for(10**9) == 56     # cap

    from flink_spark.plans.textops import pack_shards_for

    assert pack_shards_for(1_000) == 1        # fixtures: one stream
    assert pack_shards_for(1_000_000) == 1    # exactly one task's worth
    assert pack_shards_for(50_000_000) == 50  # ~1M rows per shard sort
    assert pack_shards_for(10**12) == 4096    # cap


def test_adaptive_default_stays_oracle_symmetric(spark, tmp_path):
    """With NO env knobs set, a corpus large enough to leave the clamp
    floor must still match the oracle — i.e. both engines derive the
    SAME width from the corpus count."""
    import os

    from flink_spark.plans.similarity import lsh_bits_for
    from flink_spark.registry import all_queries
    from flink_spark.sources import TABLES
    from flink_spark.testing import compare, duck_connect

    assert not any(
        os.environ.get(k)
        for k in ("FLINK_SPARK_LSH_BITS", "FLINK_SPARK_SIMHASH_BITS",
                  "FLINK_SPARK_IVF_CELLS")
    )
    sf = "/root/testdata/sf0.001"
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{sf}/{t}.parquet", tmp_path / f"{t}.parquet")
    import duckdb

    builder = duckdb.connect()
    n0 = builder.execute(
        f"SELECT COUNT(*) FROM '{sf}/embeddings.parquet'"
    ).fetchone()[0]
    replicas = (4096 // n0) + 1  # past 2^11 vectors → bits > the floor of 4
    builder.execute(f"""
        COPY (
          SELECT vec_id + k * 1000000 AS vec_id, embedding, label
          FROM '{sf}/embeddings.parquet', range(0, {replicas}) AS r(k)
        ) TO '{tmp_path}/embeddings.parquet' (FORMAT PARQUET)
    """)
    assert lsh_bits_for(n0 * replicas) > 4  # the rule actually engages
    con = duck_connect(str(tmp_path))
    q = all_queries()["e_ann_lsh_topk"]
    errs = compare(spark, con, q, str(tmp_path))
    assert not errs, errs[:3]


def test_widened_knobs_stay_oracle_symmetric(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        FLINK_SPARK_SIMHASH_BITS="48",
        FLINK_SPARK_LSH_BITS="6",
        FLINK_SPARK_IVF_CELLS="16",
        FLINK_SPARK_IVF_PROBES="3",
        FLINK_SPARK_PACK_SHARDS="4",
    )
    script = _SCRIPT.format(
        repo=repo,
        sf_dir="/root/testdata/sf0.001",
        queries=["t_simhash_dups", "t_embedding_neardup", "e_ann_lsh_topk",
                 "e_ann_ivf_topk", "t_pack_sequences"],
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env, capture_output=True, text=True, timeout=420,
    )
    assert "KNOB-SYMMETRY-OK" in out.stdout, out.stderr[-2000:]


def test_derived_pack_shards_stay_oracle_symmetric():
    """With PACK_SHARDS unset, both engines derive the shard count from
    the documents row count. Shrinking the per-shard row target makes
    the rule engage (shards > 1) even on the fixture corpus; the
    packing must still match the oracle exactly — i.e. the derived
    value and the shard assignment agree across engines."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items()
           if k != "FLINK_SPARK_PACK_SHARDS"}
    env["FLINK_SPARK_PACK_SHARD_ROWS"] = "100"
    script = _SCRIPT.format(
        repo=repo,
        sf_dir="/root/testdata/sf0.001",
        # t_training_pipeline's inline packing stage shards by the same
        # rule (and the same ps(shards) oracle CTE) — both must stay
        # symmetric with the rule engaged
        queries=["t_pack_sequences", "t_training_pipeline"],
    ) + """
from flink_spark.plans.textops import _active_pack_shards
assert _active_pack_shards(spark, '/root/testdata/sf0.001') > 1, "rule idle"
print("PACK-RULE-ENGAGED")
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env, capture_output=True, text=True, timeout=420,
    )
    assert "KNOB-SYMMETRY-OK" in out.stdout, out.stderr[-2000:]
    assert "PACK-RULE-ENGAGED" in out.stdout, out.stderr[-2000:]


def test_recall_sample_agrees_with_full(spark):
    """FLINK_SPARK_RECALL_SAMPLE=k restricts the scoreboard to the k
    md5-sampled probe queries. Two pins: (a) by-query consistency —
    the sampled hits equal the FULL run's hits restricted to exactly
    those query ids (computed here, knob off, from the same composed
    legs); (b) knob symmetry — the sampled query still matches its
    re-derived DuckDB oracle."""
    import json

    from pyspark.sql import functions as F

    import flink_spark.plans.similarity as S
    from flink_spark.registry import release_persisted

    sf = "/root/testdata/sf0.001"
    k = 4
    ids = S.recall_sample_ids(k)
    assert len(ids) == k and set(ids) < set(range(S.N_QUERIES))
    # growing k strictly extends the sample (order-stable rule)
    assert set(ids) < set(S.recall_sample_ids(k + 2))

    exact = (
        S.e_cosine_topk(spark, sf)
        .filter((F.col("rnk") <= S.LSH_TOPK) & F.col("query_id").isin(ids))
        .select("query_id", "neighbor_id")
    )
    full = {}
    for name in S._ANN_VARIANTS:
        got = getattr(S, name)(spark, sf).select("query_id", "neighbor_id")
        full[name] = exact.join(got, ["query_id", "neighbor_id"]).count()
        release_persisted()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys, json
sys.path.insert(0, {repo!r})
from flink_spark.session import get_spark
from flink_spark.testing import compare, duck_connect
from flink_spark.registry import all_queries
spark = get_spark(cpus=4, shuffle_partitions=4)
con = duck_connect({sf!r})
q = all_queries()["e_ann_variant_recall"]
errs = compare(spark, con, q, {sf!r})
assert not errs, errs[:2]
rows = {{r["variant"]: r["hits"] for r in q.fn(spark, {sf!r}).collect()}}
print("SAMPLED:" + json.dumps(rows))
# the per-query audit honors the same knob: one row per sampled id,
# still oracle-symmetric
a = all_queries()["e_ann_recall_audit"]
errs = compare(spark, con, a, {sf!r})
assert not errs, errs[:2]
got_ids = sorted(r["query_id"] for r in a.fn(spark, {sf!r}).collect())
assert got_ids == {ids!r}, got_ids
print("AUDIT-SAMPLED-OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=dict(os.environ, FLINK_SPARK_RECALL_SAMPLE=str(k)),
        capture_output=True, text=True, timeout=420,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("SAMPLED:")]
    assert line, (out.stdout[-1000:], out.stderr[-2000:])
    sampled = json.loads(line[0][len("SAMPLED:"):])
    assert sampled == full
    assert "AUDIT-SAMPLED-OK" in out.stdout, out.stderr[-2000:]
