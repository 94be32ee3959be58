"""Seeded synthetic fixture tables for the benchmark.

    python3 perfbench/fixtures.py OUT_DIR SEED

Writes the ten tables the query catalog reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one
parquet file each, with the column names, types and value domains of
the repo's TPC-H-ish test fixtures. Everything is drawn from a numpy
``Generator`` seeded by ``--seed``, so the same seed writes the same
rows.

The shapes follow the repo's seed-42 reference fixtures (README.md has
the derivation): the relational tables have the row counts of the
smallest reference scale, and ``events`` has the reference's density
(2.22 events per user per day, five event types drawn uniformly,
exponential values with mean 50) over half its 1500 users, for 6 days
instead of 30, so that an ingest micro-batch of 3 days holds what half
a reference batch holds: about 5,000 events from nearly every user.

Two seeds are in play:

- the run seed fixes the relational and event tables (``dashboard`` and
  ``ingest`` recompute their expected results with DuckDB every run);
- the curation corpus (``documents``/``embeddings``) has fixed content
  drawn from ``CORPUS_SEED``; the run seed only permutes its row order.
  The curation pipeline takes ~11 s of DuckDB recursive-CTE work to
  verify, too slow to repeat per run, so its expected funnel is a
  stored digest (``expected/curation.json``, regenerated by
  ``python3 perfbench/oracle.py``) that holds for every row order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42

SIZES = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "documents": 300,
    "embeddings": 300,
}

VOCAB = (
    "a the data table row column key value part line order customer query "
    "join agg group sort hash scan filter merge window stream batch spark "
    "vector big small fast slow"
).split()
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")
DIM = 64

# events: the reference has 100,000 events from 1500 users over 30 days
EVENTS_PER_USER_DAY = 100_000 / (1500 * 30)
EVENTS = {"n_users": 750, "days": 6}

_DAY_US = 86_400_000_000


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _dates(rng, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_relational(out: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = SIZES["customer"], SIZES["supplier"], SIZES["part"]
    n_o, n_l = SIZES["orders"], SIZES["lineitem"]
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(range(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, n_c, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n_c)].tolist(),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, n_s, -999.99, 9999.99),
    })
    adj = np.array(["small", "red", "blue", "hot", "green", "large", "shiny",
                    "old"])
    noun = np.array(["ring", "widget", "bolt", "gear", "nut", "pipe", "plate",
                     "spring"])
    ptype = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                      "PROMO"])
    _write(out, "part", {
        "p_partkey": pa.array(range(n_p), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_p)],
                                              noun[rng.integers(0, 8, n_p)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": ptype[rng.integers(0, 6, n_p)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(range(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)]
        .tolist(),
        "o_totalprice": _money(rng, n_o, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n_o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_o)].tolist(),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype("float64"),
        "l_extendedprice": _money(rng, n_l, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)]
        .tolist(),
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_l)].tolist(),
        "l_shipdate": _dates(rng, n_l, "1995-01-01", "2001-12-31"),
    })


EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])


def event_count(n_users: int, days: int) -> int:
    return round(EVENTS_PER_USER_DAY * n_users * days)


def write_events(out: str, seed: int, n_users: int, days: int) -> None:
    """``events``: ``event_count(n_users, days)`` rows over ``days`` days
    from 2024-01-01, event_id in ts order (ties impossible: distinct
    microseconds)."""
    rng = np.random.default_rng([seed, 1])
    n_events = event_count(n_users, days)
    span = days * _DAY_US
    ts = np.sort(rng.choice(span, n_events, replace=False))
    start = np.datetime64("2024-01-01", "us").astype("int64")
    _write(out, "events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(start + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_events)].tolist(),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


def _corpus():
    """Fixed-content corpus: random-word documents with planted exact
    and near duplicates, and label-clustered unit embeddings with
    planted near-duplicate vectors, so every curation stage has work."""
    rng = np.random.default_rng(CORPUS_SEED)
    n_d, n_e = SIZES["documents"], SIZES["embeddings"]
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n_d):
        if i >= 20 and i % 10 == 0:      # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 20 and i % 10 == 5:    # near duplicate: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 25)):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab),
                                                     rng.integers(8, 90))]))
    docs = {
        "doc_id": np.arange(n_d, dtype="int64"),
        "text": np.array(texts, dtype=object),
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_d)],
        "source": np.array([f"src{s}" for s in rng.integers(0, 20, n_d)]),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }
    centers = rng.normal(0, 1, (10, DIM))
    labels = rng.integers(0, 10, n_e)
    vecs = centers[labels] * 0.35 + rng.normal(0, 1, (n_e, DIM))
    for i in range(15, n_e, 15):         # near-duplicate vector
        vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0, 0.01, DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embs = {
        "vec_id": np.arange(n_e, dtype="int64"),
        "embedding": vecs.astype("float32"),
        "label": labels.astype("int32"),
    }
    return docs, embs


def write_corpus(out: str, seed: int) -> None:
    docs, embs = _corpus()
    rng = np.random.default_rng([seed, 2])
    p = rng.permutation(len(docs["doc_id"]))
    _write(out, "documents", {
        "doc_id": pa.array(docs["doc_id"][p], pa.int64()),
        "text": pa.array(docs["text"][p].tolist(), pa.string()),
        "lang": docs["lang"][p].tolist(),
        "source": docs["source"][p].tolist(),
        "n_chars": pa.array(docs["n_chars"][p], pa.int64()),
    })
    q = rng.permutation(len(embs["vec_id"]))
    _write(out, "embeddings", {
        "vec_id": pa.array(embs["vec_id"][q], pa.int64()),
        "embedding": pa.array(list(embs["embedding"][q]),
                              pa.list_(pa.float32())),
        "label": pa.array(embs["label"][q], pa.int32()),
    })


def write_all(out: str, seed: int) -> str:
    os.makedirs(out, exist_ok=True)
    write_relational(out, seed)
    write_events(out, seed, **EVENTS)
    write_corpus(out, seed)
    return out


if __name__ == "__main__":
    import sys

    write_all(sys.argv[1], int(sys.argv[2]))
