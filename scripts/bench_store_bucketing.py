"""Per-micro-batch wall against a large compacted survivor store:
bucketed base vs plain-parquet base (the r13 SCALING.md §R13 pricing).

``python scripts/bench_store_bucketing.py bucketed|plain [sf_dir]``
(default sf_dir: /tmp/flink_spark_scale/sf10docs — the 500k-doc
replica from gen_doc_scale.py 100)

Seeds a store with the first ~96% of the corpus as one epoch (the
accumulated state a long-running stream would hold), compacts it —
bucketed or plain per the mode, via FLINK_SPARK_STORE_BUCKETS set
BEFORE the dedup module imports — then times 4 probe micro-batches of
the remaining docs through ``neardup_dedup_batch`` (bands candidate
join + shingle-posting verify against the store) and
``exact_dedup_batch`` (kept-fp anti-join). The seed work is identical
across modes; only the probe epochs are the measurement. Prints ONE
JSON line. Run each mode in its own idle session (python process =
one JVM = one mode); never compare across replica regenerations.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBES = 4
PROBE_ROWS = 5_000


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "bucketed"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else (
        "/tmp/flink_spark_scale/sf10docs"
    )
    os.environ["FLINK_SPARK_STORE_BUCKETS"] = (
        "16" if mode == "bucketed" else "0"
    )
    from pyspark.sql import functions as F

    from flink_spark.session import get_spark
    from flink_spark.sources import load
    from flink_spark.streaming.dedup import (  # noqa: E402 (env first)
        STORE_BUCKETS,
        compact_store,
        exact_dedup_batch,
        neardup_dedup_batch,
    )

    assert (STORE_BUCKETS > 0) == (mode == "bucketed")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = get_spark(app_name=f"store-bucketing-{mode}", cpus=cpus,
                      shuffle_partitions=cpus)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    cut = n - PROBES * PROBE_ROWS
    seed = docs.filter(F.col("doc_id") % n < cut).persist()
    seed.count()

    work = tempfile.mkdtemp(prefix=f"store_bucketing_{mode}_")
    near_store = os.path.join(work, "near")
    exact_store = os.path.join(work, "exact")
    t0 = time.time()
    neardup_dedup_batch(seed, 0, near_store)
    exact_dedup_batch(seed, 0, exact_store)
    seed_sec = round(time.time() - t0, 1)
    t0 = time.time()
    compact_store(spark, near_store)
    compact_store(spark, exact_store)
    compact_sec = round(time.time() - t0, 1)
    seed.unpersist()

    probes_near, probes_exact = [], []
    rest = docs.filter(F.col("doc_id") % n >= cut)
    for i in range(PROBES):
        lo = cut + i * PROBE_ROWS
        batch = rest.filter(
            (F.col("doc_id") % n >= lo) & (F.col("doc_id") % n < lo + PROBE_ROWS)
        ).persist()
        batch.count()
        t0 = time.time()
        neardup_dedup_batch(batch, i + 1, near_store)
        probes_near.append(round(time.time() - t0, 2))
        t0 = time.time()
        exact_dedup_batch(batch, i + 1, exact_store)
        probes_exact.append(round(time.time() - t0, 2))
        batch.unpersist()

    print(json.dumps({
        "mode": mode,
        "store_docs": cut,
        "probe_rows": PROBE_ROWS,
        "seed_sec": seed_sec,
        "compact_sec": compact_sec,
        "near_batch_sec": probes_near,
        "near_batch_min_sec": min(probes_near),
        "exact_batch_sec": probes_exact,
        "exact_batch_min_sec": min(probes_exact),
        "cpus": cpus,
    }))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
