"""Regenerate ``expected/curation.json`` with DuckDB.

    python3 perfbench/oracle.py

Runs the registered oracle SQL of the curation pipeline over the
benchmark's fixed curation corpus (``fixtures.CORPUS_SEED``) and stores
its per-source funnel. Run it after changing the corpus in
``fixtures.py`` or the pipeline's definition; it takes about 15 s.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import fixtures  # noqa: E402
from curation import EXPECTED  # noqa: E402
from layers import CURATION_QUERIES  # noqa: E402


def main() -> None:
    from flink_spark.registry import all_queries
    from flink_spark.testing import duck_connect

    cat = all_queries()
    with tempfile.TemporaryDirectory(dir=HERE) as d:
        fixtures.write_all(d, seed=0)
        con = duck_connect(d)
        funnels = {}
        for name in CURATION_QUERIES:
            cur = con.execute(cat[name].oracle)
            cols = [c[0] for c in cur.description]
            rows = [dict(zip(cols, r)) for r in cur.fetchall()]
            funnels[name] = sorted(rows, key=lambda r: r["source"])
        con.close()
    os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
    with open(EXPECTED, "w") as f:
        json.dump({"corpus_seed": fixtures.CORPUS_SEED, "sizes": {
            k: fixtures.SIZES[k] for k in ("documents", "embeddings")},
            "funnels": funnels}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
