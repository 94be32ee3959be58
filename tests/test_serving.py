"""ADS serving shim: real HTTP round-trips against the catalog.

Starts the stdlib server on an ephemeral port with the shared session
and asserts the Sugar envelope (``{"status": 0, "msg": "", "data"}``,
``TradeController.java:23-35``) carries exactly the values the catalog
query returns directly.
"""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from flink_spark.registry import all_queries, release_persisted
from flink_spark.serving import ENDPOINTS, serve

from conftest import SF_DIR


@pytest.fixture(scope="module")
def server(spark):
    srv = serve(spark, SF_DIR, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(base, path):
    with urllib.request.urlopen(base + path, timeout=60) as r:
        return r.status, json.loads(r.read())


def test_all_endpoints_resolve_to_catalog_queries():
    catalog = all_queries()
    for path, (name, _) in ENDPOINTS.items():
        assert name in catalog, f"{path} -> unregistered query {name}"
        assert path.startswith("/gmall/realtime/")


def test_province_map_endpoint_matches_query(spark, server):
    status, body = _get(server, "/gmall/realtime/trade/provinceOrderCt")
    assert status == 200
    assert body["status"] == 0 and body["msg"] == ""
    direct = {
        r.province_name: r.order_count
        for r in all_queries()["ads_province_stats"].fn(spark, SF_DIR).collect()
    }
    release_persisted()
    assert {d["name"]: d["value"] for d in body["data"]} == direct
    assert len(body["data"]) > 0


def test_scalar_total_endpoint(spark, server):
    status, body = _get(server, "/gmall/realtime/trade/total")
    assert status == 200
    rows = all_queries()["ads_province_stats"].fn(spark, SF_DIR).collect()
    release_persisted()
    assert body["data"] == pytest.approx(sum(r.order_amount for r in rows))


def test_funnel_endpoint_shape(server):
    status, body = _get(server, "/gmall/realtime/user/uvPerPage")
    assert status == 200
    stages = [d["name"] for d in body["data"]]
    assert stages == ["home", "good_detail", "cart", "trade", "payment"]


def test_unknown_path_404_envelope(server):
    try:
        urllib.request.urlopen(server + "/gmall/realtime/nope", timeout=60)
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as err:
        assert err.code == 404
        body = json.loads(err.read())
        assert body["status"] == 1 and "no such endpoint" in body["msg"]


def test_cache_serves_second_request(server):
    for _ in range(2):  # second hit must come from the cache path
        status, body = _get(server, "/gmall/realtime/traffic/keywords")
        assert status == 200 and len(body["data"]) > 0


def test_cache_runs_each_query_once_across_routes(spark, monkeypatch):
    """Routes that share a catalog query share its cached rows: three
    routes over ads_province_stats run it once, each shaped its own way."""
    import dataclasses

    import flink_spark.serving as serving

    calls: dict[str, int] = {}

    def counted(name, fn):
        def run(*a, **kw):
            calls[name] = calls.get(name, 0) + 1
            return fn(*a, **kw)

        return run

    wrapped = {
        n: dataclasses.replace(q, fn=counted(n, q.fn))
        for n, q in all_queries().items()
    }
    monkeypatch.setattr(serving, "all_queries", lambda: wrapped)
    srv = serve(spark, SF_DIR, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        _, total = _get(base, "/gmall/realtime/trade/total")
        _, ct = _get(base, "/gmall/realtime/trade/provinceOrderCt")
        _, gmv = _get(base, "/gmall/realtime/gmv")
    finally:
        srv.shutdown()
    assert calls == {"ads_province_stats": 1}
    assert gmv["data"] == total["data"]
    assert len(ct["data"]) > 0


def test_route_count_covers_publisher_surface():
    """pub22 exposes 22 controller routes; the shim must map them all."""
    assert len(ENDPOINTS) >= 22


def test_table_endpoints_shape(server):
    for path, first_col in [
        ("/gmall/realtime/commodity/trademark2", "brand"),
        ("/gmall/realtime/commodity/spu", "p_brand"),
        ("/gmall/realtime/trade/stats", "metric"),
        ("/gmall/realtime/user/userTradeCt", "user_id"),
    ]:
        status, body = _get(server, path)
        assert status == 200 and body["status"] == 0, path
        data = body["data"]
        col_ids = [c["id"] for c in data["columns"]]
        assert col_ids[0] == first_col, path
        assert len(data["rows"]) > 0, path
        for row in data["rows"]:
            assert set(row) == set(col_ids), path


def test_bar_endpoints_shape(server):
    for path, series_name in [
        ("/gmall/realtime/traffic/svCt", "svCt"),
        ("/gmall/realtime/traffic/pvPerSession", "pvPerSession"),
        ("/gmall/realtime/traffic/durPerSession", "durPerSession"),
        ("/gmall/realtime/traffic/ujRate", "ujRate"),
        ("/gmall/realtime/traffic/visitorPerHr", "uv"),
    ]:
        status, body = _get(server, path)
        assert status == 200 and body["status"] == 0, path
        data = body["data"]
        assert len(data["categories"]) > 0, path
        assert data["series"][0]["name"] == series_name, path
        assert len(data["series"][0]["data"]) == len(data["categories"]), path


def test_visitor_per_hr_single_day(server):
    """The hourly bar reduces to one dashboard day: ≤24 categories,
    no duplicates."""
    _, body = _get(server, "/gmall/realtime/traffic/visitorPerHr")
    cats = body["data"]["categories"]
    assert len(cats) == len(set(cats)) <= 24


def test_pie_endpoint_matches_bar_source(spark, server):
    """tmPieGraph name/value pairs equal the GMV top-k query's rows."""
    _, body = _get(server, "/gmall/realtime/commodity/tmPieGraph")
    direct = {
        r.brand: r.order_amount
        for r in all_queries()["ads_gmv_topk_brand"].fn(spark, SF_DIR).collect()
    }
    release_persisted()
    assert {d["name"]: d["value"] for d in body["data"]} == direct


def test_legacy_publisher_routes(spark, server):
    """The first-generation publisher's gmv/ch routes
    (gmall-publisher SugarController.java:24-67) still answer."""
    _, body = _get(server, "/gmall/realtime/gmv")
    rows = all_queries()["ads_province_stats"].fn(spark, SF_DIR).collect()
    release_persisted()
    assert body["data"] == pytest.approx(sum(r.order_amount for r in rows))
    _, body = _get(server, "/gmall/realtime/ch")
    assert body["data"]["series"][0]["name"] == "UV"
    assert len(body["data"]["categories"]) > 0


def test_shapers_handle_empty_rows():
    """An empty-but-valid query result must shape to an empty envelope,
    never raise (regression: _day_bar's max() over an empty day list)."""
    from flink_spark.serving import _bar, _day_bar, _scalar_sum, _table

    assert _table("a", "b")([]) == {
        "columns": [{"name": "a", "id": "a"}, {"name": "b", "id": "b"}],
        "rows": [],
    }
    assert _scalar_sum("v")([]) == 0
    bar = _bar("c", {"s": lambda r: r["v"]})([])
    assert bar == {"categories": [], "series": [{"name": "s", "data": []}]}
    day = _day_bar("d", "c", {"s": lambda r: r["v"]})([])
    assert day == {"categories": [], "series": [{"name": "s", "data": []}]}
