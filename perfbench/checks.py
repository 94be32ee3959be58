"""Output checks, kept free of Spark so the self-tests can drive them.

Each check returns a list of mismatch descriptions; an empty list means
the output is correct. Numbers compare at 12 significant digits (DuckDB
and Spark may differ in the last ulp of a float aggregate), lists of
records compare as multisets (a route with no ORDER BY may return its
rows in any order), and every other list compares in order.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math


def norm(x):
    if isinstance(x, bool) or x is None or isinstance(x, str):
        return x
    if isinstance(x, (int, float, decimal.Decimal)):
        f = float(x)
        if f == 0 or not math.isfinite(f):
            return f
        return float(f"{f:.12g}")
    if isinstance(x, (dt.date, dt.datetime)):
        return str(x)
    if isinstance(x, dict):
        return {k: norm(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)):
        items = [norm(v) for v in x]
        if items and all(isinstance(v, dict) for v in items):
            items.sort(key=lambda v: json.dumps(v, sort_keys=True))
        return items
    return str(x)


def same(got, want, label: str) -> list[str]:
    g, w = norm(got), norm(want)
    if g == w:
        return []
    return [f"{label}: got {json.dumps(g, default=str)[:300]} "
            f"want {json.dumps(w, default=str)[:300]}"]


def same_rows(got, want, label: str) -> list[str]:
    """Order-insensitive comparison of two row lists (tuples)."""
    g = sorted((tuple(norm(list(r))) for r in got), key=repr)
    w = sorted((tuple(norm(list(r))) for r in want), key=repr)
    if g == w:
        return []
    extra = [r for r in g if r not in w][:3]
    missing = [r for r in w if r not in g][:3]
    return [f"{label}: {len(g)} rows vs {len(w)} expected; "
            f"unexpected {extra} missing {missing}"]


def envelope(body: bytes, want_data, label: str) -> list[str]:
    """A dashboard response: Sugar envelope with status 0 and ``data``
    equal to the expected payload."""
    try:
        doc = json.loads(body)
    except ValueError:
        return [f"{label}: response is not JSON"]
    if doc.get("status") != 0:
        return [f"{label}: status {doc.get('status')!r} msg {doc.get('msg')!r}"]
    return same(doc.get("data"), want_data, label)


def tumble(emitted, expected, watermark_ms: int, n_events: int,
           open_state_rows: int) -> list[str]:
    """Tumbling-window stream output against a batch tumble.

    ``emitted`` rows are (stt, edt, key, pv, amount) from the stream;
    ``expected`` rows are the same columns plus the window end in epoch
    ms, computed over the whole input. Exactly the windows the final
    watermark closed must have been emitted; the windows still open must
    match the stream's remaining state rows; and closed plus open counts
    must account for every input event.
    """
    closed = [r[:5] for r in expected if r[5] <= watermark_ms]
    still_open = [r for r in expected if r[5] > watermark_ms]
    errs = same_rows(emitted, closed, "tumble closed windows")
    if len(still_open) != open_state_rows:
        errs.append(f"tumble open windows: state holds {open_state_rows} "
                    f"rows, {len(still_open)} expected")
    total = sum(r[3] for r in emitted) + sum(r[3] for r in still_open)
    if total != n_events:
        errs.append(f"tumble accounts for {total} of {n_events} events")
    return errs


def daily_unique(detail, expected) -> list[str]:
    """``detail`` rows are (user_id, date_id) first-visit records; their
    per-date count must equal COUNT(DISTINCT user_id) per date, and no
    (user, date) may be emitted twice."""
    per: dict[str, int] = {}
    for _, d in detail:
        per[d] = per.get(d, 0) + 1
    errs = same_rows(per.items(), expected, "daily unique per date")
    if len(set(map(tuple, detail))) != len(detail):
        errs.append("daily unique emitted a (user, date) twice")
    return errs


def conservation(funnel, label: str) -> list[str]:
    """A curation funnel row per source: every stage keeps at most what
    the stage before it kept, and the split sends each kept document to
    exactly one side (kept + removed = input at every stage)."""
    errs = []
    chain = ("total_docs", "quality_docs", "exact_unique", "neardup_kept",
             "clean_docs", "survivor_docs")
    for r in funnel:
        for a, b in zip(chain, chain[1:]):
            if not 0 <= r[b] <= r[a]:
                errs.append(f"{label} {r['source']}: {b}={r[b]} exceeds "
                            f"{a}={r[a]}")
        if r["mix_kept"] > min(r["mix_quota"], r["survivor_docs"]):
            errs.append(f"{label} {r['source']}: mix_kept over quota")
        if r["train_docs"] + r["val_docs"] != r["mix_kept"]:
            errs.append(f"{label} {r['source']}: train+val != kept")
    return errs
