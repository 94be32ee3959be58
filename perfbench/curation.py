"""``curation``: the LLM training-data path, a batch job.

One unit is one execution, through the registry, of
``x_ensemble_training_pipeline`` over the ``documents`` and
``embeddings`` fixtures. It is ``t_training_pipeline``'s whole funnel
(quality, exact and MinHash near-dedup, decontamination, repetition,
mixture, leakage-safe split, packing) with the banded-SRP semantic pairs
added to its pair graph, so it drives textops, similarity, graph and
pairjoin. Its output is a per-source funnel of about twenty rows,
collected to the driver: at that size ``collect`` costs what the no-op
sink would, and it lets the run check the result.

The timed unit is the process's first pass. A curation job runs once
per Spark application, so the cold pass is the cost a user pays.

Checks: the funnel equals the DuckDB result of the pipeline's
registered oracle (a stored digest in ``expected/curation.json``: the
corpus content is fixed and the run seed only permutes its rows, which
the pipeline must be blind to), every source's ``total_docs`` equals a
DuckDB count written here, and the funnel conserves documents.
"""

from __future__ import annotations

import json
import os
import time

import checks
from layers import CURATION_QUERIES
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected", "curation.json")


def source_totals(data: str) -> list[tuple]:
    import duckdb

    from flink_spark.plans.textops import EVAL_SOURCE

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT source, COUNT(*) FROM "
        f"'{os.path.join(data, 'documents.parquet')}' "
        f"WHERE source <> '{EVAL_SOURCE}' GROUP BY 1").fetchall()
    con.close()
    return rows


def run(ctx) -> None:
    from flink_spark.registry import all_queries, release_persisted

    spark, tr = ctx.spark, ctx.tracer
    with open(EXPECTED) as f:
        want = json.load(f)["funnels"]
    totals = source_totals(ctx.data)
    cat = all_queries()
    per_query = {q: {"wall": [], "cpu": []} for q in CURATION_QUERIES}

    def one_pass(_i: int) -> None:
        c0, t0 = ctx.cpu(), time.time()
        got = {}
        with tr.span("pass"):
            for name in CURATION_QUERIES:
                q0, m0 = ctx.cpu(), time.monotonic()
                with tr.span(f"plans.{name}"):
                    with tr.span("build"):
                        df = cat[name].fn(spark, ctx.data)
                    with tr.span("action"):
                        got[name] = [r.asDict() for r in df.collect()]
                    release_persisted()
                per_query[name]["wall"].append((time.monotonic() - m0) * 1000)
                per_query[name]["cpu"].append(
                    sum(ctx.cpu().values()) - sum(q0.values()))
        c1, t1 = ctx.cpu(), time.time()
        ctx.unit(t1 - t0, c0, c1, t0, t1)
        for name in CURATION_QUERIES:
            rows = got[name]
            errs = checks.same(rows, want[name], f"{name} funnel")
            errs += checks.same_rows(
                [(r["source"], r["total_docs"]) for r in rows], totals,
                f"{name} total_docs per source")
            errs += checks.conservation(rows, name)
            ctx.op(errs)

    # the cold pass only: a second pass in this process would be a warm
    # one, which measures another thing
    ctx.timed_loop(one_pass, once=True)
    docs = sum(n for _, n in totals)
    wall = median([u["wall_s"] for u in ctx.units])
    ctx.report.update({
        "input_docs": docs,
        "curation_docs_per_s": docs / wall,
        "curation_cpu_s": median([u["cpu_s"] for u in ctx.units]),
    })
    for name, s in per_query.items():
        ctx.layers[f"plans.{name}.wall_ms"] = median(s["wall"])
        ctx.layers[f"plans.{name}.cpu_s"] = median(s["cpu"])
