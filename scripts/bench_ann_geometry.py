"""ANN recall@k by corpus geometry and knob setting (r12 verdict #4).

``python scripts/bench_ann_geometry.py <sf_dir> [--rerank R]
[--probes P] [--sample k] [--trained-pq] [--variants a,b,c]``

Every 500k recall number before r13 was measured on the
orthogonal-transform replica — structure-free by construction, the
regime where PQ provably cannot rank. This instrument runs the chosen
ANN variants against exact truth on ANY replica (the clustered one
from ``gen_vec_scale.py clustered`` is the realistic regime) at the
chosen knob values, one fresh process per config (the knobs are
module-level constants, bound at import). ``--trained-pq`` adds a
Lloyd-trained-codebook ADC leg (``pq_train``, 2 rounds) — the
engine-feature path the md5 default codebook stands in for where the
DuckDB oracle must be able to reproduce encoding. Prints ONE JSON
line. Recall denominators follow the sampled-scoreboard convention
(k probes × top-{LSH_TOPK}).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("sf_dir")
    p.add_argument("--rerank", type=int, default=None)
    p.add_argument("--probes", type=int, default=None)
    p.add_argument("--sample", type=int, default=4)
    p.add_argument("--trained-pq", action="store_true")
    p.add_argument("--trained-ivf", action="store_true")
    p.add_argument("--ivf-iters", type=int, default=2)
    p.add_argument(
        "--variants",
        default="e_ann_ivf_topk,e_pq_adc_topk,e_ivfpq_topk",
    )
    args = p.parse_args()
    if args.rerank is not None:
        os.environ["FLINK_SPARK_PQ_RERANK"] = str(args.rerank)
    if args.probes is not None:
        os.environ["FLINK_SPARK_IVF_PROBES"] = str(args.probes)

    from pyspark.sql import functions as F

    from flink_spark.plans import similarity as S
    from flink_spark.registry import release_persisted
    from flink_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = get_spark(app_name="ann-geometry", cpus=cpus,
                      shuffle_partitions=cpus)
    sf = args.sf_dir
    ids = S.recall_sample_ids(args.sample)
    denom = len(ids) * S.LSH_TOPK
    t0 = time.time()
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in S.e_cosine_topk(spark, sf)
        .filter(F.col("rnk") <= S.LSH_TOPK)
        .filter(F.col("query_id").isin(ids)).collect()
    }
    release_persisted()
    walls = {"truth": round(time.time() - t0, 1)}

    out = {}
    for name in args.variants.split(","):
        fn = getattr(S, name)
        t0 = time.time()
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in fn(spark, sf)
            .filter(F.col("query_id").isin(ids)).collect()
        }
        release_persisted()
        walls[name] = round(time.time() - t0, 1)
        out[name] = round(len(got & truth) / denom, 3)

    if args.trained_ivf:
        # The r13 watch item (SCALING §R13): the data-independent md5
        # quantizer leaves hot cells on clustered mass, so IVF legs pay
        # ~20x more wall on the clustered replica than structure-free.
        # This leg trains the spherical-k-means quantizer (ivf_train,
        # the IVF twin of --trained-pq) and re-runs the SAME search
        # kernel with centroids injected — recall AND wall, so the
        # defaults ruling can weigh both.
        t0 = time.time()
        cents = S.ivf_train(spark, sf, iters=args.ivf_iters)
        walls["ivf_train"] = round(time.time() - t0, 1)
        t0 = time.time()
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in S.ivf_topk(spark, sf, cents=cents)
            .filter(F.col("query_id").isin(ids)).collect()
        }
        release_persisted()
        walls["ivf_trained"] = round(time.time() - t0, 1)
        out["ivf_trained"] = round(len(got & truth) / denom, 3)

    if args.trained_pq:
        import numpy as np

        t0 = time.time()
        cb = S.pq_train(spark, sf, iters=2)
        walls["pq_train"] = round(time.time() - t0, 1)
        emb = S.load(spark, sf, "embeddings")
        coded = S._with_pq_codes(
            emb.select("vec_id", "embedding"), codebook=cb
        ).select(F.col("vec_id").alias("neighbor_id"), "codes")
        qrows = sorted(
            emb.filter(F.col("vec_id").isin(ids))
            .select("vec_id", "embedding").collect(),
            key=lambda r: r["vec_id"],
        )
        qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
        QL = S._pq_lut_matrix(
            np.array([r["embedding"] for r in qrows]), codebook=cb
        )
        R, M = S.PQ_RERANK, S.PQ_M

        def scan_fn(batches):
            import numpy as np
            import pandas as pd

            nq = len(qids)
            best_ids = [np.empty(0, dtype=np.int64) for _ in range(nq)]
            best_sc = [np.empty(0) for _ in range(nq)]
            for pdf in batches:
                if not len(pdf):
                    continue
                codes0 = np.stack(pdf["codes"].to_numpy()).astype(
                    np.int64) - 1
                nids = pdf["neighbor_id"].to_numpy()
                Sm = np.zeros((nq, len(pdf)))
                for m in range(M):
                    Sm += QL[:, m, :][:, codes0[:, m]]
                for qi in range(nq):
                    mask = nids != qids[qi]
                    cand = np.concatenate([best_ids[qi], nids[mask]])
                    sc = np.concatenate([best_sc[qi], Sm[qi, mask]])
                    order = np.lexsort((cand, -sc))[:R]
                    best_ids[qi], best_sc[qi] = cand[order], sc[order]
            out_q = np.repeat(qids, [len(x) for x in best_ids])
            if len(out_q) == 0:
                return
            yield pd.DataFrame({
                "query_id": out_q,
                "neighbor_id": np.concatenate(best_ids),
                "adc_score": np.concatenate(best_sc),
            })

        import pandas as pd  # noqa: F401 (worker closure)

        scan = coded.mapInPandas(
            scan_fn, "query_id long, neighbor_id long, adc_score double"
        )
        t0 = time.time()
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in S._exact_rerank(
                emb, S._adc_shortlist(scan)
            ).collect()
        }
        release_persisted()
        walls["pq_adc_trained"] = round(time.time() - t0, 1)
        out["pq_adc_trained"] = round(len(got & truth) / denom, 3)

    print(json.dumps({
        "sf_dir": sf,
        "rerank": S.PQ_RERANK,
        "probes_env": args.probes,
        "sample": args.sample,
        "recall": out,
        "walls_sec": walls,
    }))


if __name__ == "__main__":
    main()
