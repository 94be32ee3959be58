"""ADS serving shim: the reference's publisher REST surface, stdlib-only.

The reference serves its ADS layer through Spring REST controllers
(``gmall-publisher-2022/.../controller/*.java`` — 6 controllers, paths
under ``/gmall/realtime/``) that wrap MyBatis mapper rows in the Sugar
dashboard envelope ``{"status": 0, "msg": "", "data": ...}``
(``TradeController.java:23-35`` builds it by hand). The mapper queries
themselves are already catalog entries (``plans/ads.py``,
``plans/relational.py``); this module closes the HTTP gap with a
zero-dependency ``http.server`` shim that routes the same paths to the
same catalog queries and emits the same envelope.

Design notes:

- **The engine stays the product.** The shim holds no query logic —
  every endpoint resolves to a registered catalog query (so it is
  oracle-checked by the driver gate) plus a row→payload shaper that
  mirrors the controller's output shape (name/value pairs for Sugar
  maps and word clouds, a scalar for ``/trade/total``, records
  otherwise).
- **Serving reads, not computes, at scale.** Results are collected
  once per catalog query and cached (routes sharing a query share its
  rows; each request shapes them); on a real deployment the queries
  would be served from the ADS sink tables (``partitioned_table_sink`` /
  ``upsert_sink`` output) that streaming jobs maintain, exactly like
  the reference reads ClickHouse DWS tables rather than re-running
  Flink per HTTP request. The per-request compute here mirrors the
  test fixtures being static parquet.
- The reference's ``?date=`` parameter selects the dashboard day
  (``DateUtil.now()`` default); the catalog queries embed their date
  predicates (the fixtures are a fixed TPC-H-ish snapshot), so the
  shim accepts and ignores it rather than faking a time axis.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import urlparse

from pyspark.sql import SparkSession

from flink_spark.registry import all_queries, release_persisted


def _records(rows) -> list[dict]:
    return [r.asDict(recursive=True) for r in rows]


def _name_value(name_col: str, value_col: str):
    """Sugar map/word-cloud shape: ``[{"name": ..., "value": ...}]``."""

    def shape(rows):
        return [{"name": r[name_col], "value": r[value_col]} for r in rows]

    return shape


def _scalar_sum(col: str):
    """Single-number endpoints (``TradeController./total``)."""

    def shape(rows):
        return sum(r[col] for r in rows)

    return shape


def _table(*cols: str):
    """Sugar table shape: ``{"columns": [{name,id}...], "rows": [...]}``.

    Mirrors the hand-built table envelope of
    ``TradeController.java:64-80`` / ``CommodityStatsController.java:93-126``
    (the reference labels columns with display names; we reuse the
    column id). Rows sort by the first column for deterministic output.
    """

    def shape(rows):
        recs = sorted(
            ({c: r[c] for c in cols} for r in rows),
            key=lambda d: str(d[cols[0]]),
        )
        return {
            "columns": [{"name": c, "id": c} for c in cols],
            "rows": recs,
        }

    return shape


def _bar(cat_col: str, series: dict):
    """Sugar bar shape: parallel ``categories`` + named ``series`` arrays
    (``TrafficController.java:100-117`` svCt et al.). ``series`` maps a
    series name to a per-row value function; categories sort for
    deterministic output.
    """

    def shape(rows):
        ordered = sorted(rows, key=lambda r: r[cat_col])
        return {
            "categories": [str(r[cat_col]) for r in ordered],
            "series": [
                {"name": name, "data": [fn(r) for r in ordered]}
                for name, fn in series.items()
            ],
        }

    return shape


def _day_bar(date_col: str, cat_col: str, series: dict):
    """Bar over one dashboard day (``TrafficController.java:413-468``).

    The reference's ``?date=`` picks the day; the fixture window is a
    fixed snapshot, so the latest date plays "today" and the per-day
    rows reduce to that day's 24 categories.
    """
    inner = _bar(cat_col, series)

    def shape(rows):
        if not rows:  # empty-but-valid day → empty envelope, not a 500
            return inner([])
        day = max(r[date_col] for r in rows)
        return inner([r for r in rows if r[date_col] == day])

    return shape


# path → (catalog query name, payload shaper). Paths are the
# reference's controller routes verbatim (file:line cited per row).
ENDPOINTS: dict[str, tuple[str, object]] = {
    # TradeController.java:22-35 (/total: one number, the day's GMV)
    "/gmall/realtime/trade/total": ("ads_province_stats", _scalar_sum("order_amount")),
    # TradeController.java:83-117 provinceOrderCt → Sugar map
    "/gmall/realtime/trade/provinceOrderCt": (
        "ads_province_stats", _name_value("province_name", "order_count")),
    # TradeController.java:119-153 provinceOrderAmount → Sugar map
    "/gmall/realtime/trade/provinceOrderAmount": (
        "ads_province_stats", _name_value("province_name", "order_amount")),
    # CommodityStatsController.java:27-57 trademark GMV top-k bar
    "/gmall/realtime/commodity/trademark": (
        "ads_gmv_topk_brand", _name_value("brand", "order_amount")),
    # CommodityStatsController.java:161-241 category stats table
    "/gmall/realtime/commodity/category": ("ads_category_fullouter", _records),
    # ActivityStatsController.java:20+ reduction-rate stats
    "/gmall/realtime/activity/stats": ("ads_subsidy_rate", _records),
    # CouponStatsController.java:20+ same envelope, coupon leg
    "/gmall/realtime/coupon/stats": ("ads_subsidy_rate", _records),
    # TrafficController.java:254-289 keywords word cloud
    "/gmall/realtime/traffic/keywords": (
        "ads_keyword_score", _name_value("keyword", "keyword_score")),
    # TrafficController.java:291-411 visitor new/returning split
    "/gmall/realtime/traffic/visitorPerType": ("s_new_vs_returning", _records),
    # TrafficController.java:29-72 uvCt dailies
    "/gmall/realtime/traffic/uvCt": ("s_daily_unique_users", _records),
    # UserStatsController.java:22-65 uvPerPage funnel
    "/gmall/realtime/user/uvPerPage": (
        "ads_funnel_union", _name_value("page_id", "uv_ct")),
    # UserStatsController.java:67-110 userChangeCt
    "/gmall/realtime/user/userChangeCt": ("ads_conditional_score", _records),
    # CommodityStatsController.java:59-126 trademark2 stats table
    "/gmall/realtime/commodity/trademark2": (
        "ads_category_fullouter",
        _table("brand", "ptype", "order_ct", "order_amount", "refund_ct")),
    # CommodityStatsController.java:128-159 trademark GMV pie
    "/gmall/realtime/commodity/tmPieGraph": (
        "ads_gmv_topk_brand", _name_value("brand", "order_amount")),
    # CommodityStatsController.java:243-330 spu stats table
    "/gmall/realtime/commodity/spu": (
        "j_broadcast_dim_join", _table("p_brand", "line_ct", "revenue")),
    # TradeController.java:37-81 trade metric table (type/value rows)
    "/gmall/realtime/trade/stats": (
        "u_union_metrics", _table("metric", "val")),
    # UserStatsController.java:112-160 per-user trade counts table
    "/gmall/realtime/user/userTradeCt": (
        "ads_topk_users", _table("user_id", "purchase_ct", "spend")),
    # TrafficController.java:74-117 per-channel session bar
    "/gmall/realtime/traffic/svCt": (
        "ads_channel_stats", _bar("ch", {"svCt": lambda r: r["uv"]})),
    # TrafficController.java:119-162 pages-per-session bar
    "/gmall/realtime/traffic/pvPerSession": (
        "ads_channel_stats", _bar("ch", {"pvPerSession": lambda r: r["pv_per_uv"]})),
    # TrafficController.java:164-207 duration-per-session bar
    "/gmall/realtime/traffic/durPerSession": (
        "ads_channel_stats", _bar("ch", {"durPerSession": lambda r: r["avg_value"]})),
    # TrafficController.java:209-252 jump-out rate bar (per key)
    "/gmall/realtime/traffic/ujRate": (
        "s_cep_jump",
        _bar("user_id", {"ujRate": lambda r: r["jump_ct"] / r["event_ct"]})),
    # TrafficController.java:413-468 per-hour visitor bar (dashboard day
    # = latest date in the fixture window, the reference's ?date default)
    "/gmall/realtime/traffic/visitorPerHr": (
        "ads_hourly_stats",
        _day_bar("date_num", "hr", {"uv": lambda r: r["uv"]})),
    # The FIRST-generation publisher app (gmall-publisher
    # SugarController.java:24-37,39-67) exposes two more routes the
    # 2022 app superseded; a migrating user may still call them.
    "/gmall/realtime/gmv": (
        "ads_province_stats", _scalar_sum("order_amount")),
    "/gmall/realtime/ch": (
        "ads_channel_stats", _bar("ch", {"UV": lambda r: r["uv"]})),
}


def make_handler(spark: SparkSession, sf_dir: str):
    """Build a request-handler class bound to one session + dataset."""
    catalog = all_queries()
    cache: dict[str, list] = {}        # query name → collected rows
    lock = threading.Lock()

    def payload(path: str):
        name, shape = ENDPOINTS[path]
        with lock:                      # serialize Spark work + cache fill
            if name not in cache:
                cache[name] = catalog[name].fn(spark, sf_dir).collect()
                release_persisted()
            rows = cache[name]
        return shape(rows)

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (http.server API)
            path = urlparse(self.path).path
            if path not in ENDPOINTS:
                body = json.dumps(
                    {"status": 1, "msg": f"no such endpoint: {path}",
                     "data": None}).encode()
                self.send_response(404)
            else:
                body = json.dumps(
                    {"status": 0, "msg": "", "data": payload(path)},
                    default=str).encode()
                self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):      # keep pytest output clean
            pass

    return Handler


def serve(spark: SparkSession, sf_dir: str, port: int = 0) -> ThreadingHTTPServer:
    """Start the shim on ``port`` (0 = ephemeral); caller owns shutdown."""
    return ThreadingHTTPServer(("127.0.0.1", port), make_handler(spark, sf_dir))
