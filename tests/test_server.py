"""HTTP tile server shell (A15): the reference's static/live/dev FastAPI
apps on stdlib http.server (reference tilekiln/server/__init__.py,
tilekiln/dev/__init__.py) — routes, status codes, headers, payload order,
live read-through fill, tilejson URL rewrite, /metrics exposition."""

import datetime
import http.client
import json
import os
import statistics
import time
import urllib.error
import urllib.request

import pytest

from tilekiln_spark.config.model import Config
from tilekiln_spark.storage.catalog import Catalog
from tilekiln_spark.storage.server import TileServer
from tilekiln_spark.storage.tileset import Tileset
from tilekiln_spark.storage.tilestore import TileStore


def _get(url, method="GET"):
    req = urllib.request.Request(url, method=method)
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, dict(r.headers), r.read()
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers), e.read()


@pytest.fixture
def static_server(spark, tmp_path):
    store = TileStore(spark, str(tmp_path), "ts1")
    store.create(
        layers=["water", "admin"], minzoom=0, maxzoom=8,
        tilejson=json.dumps({"tilejson": "3.0.0", "tiles": ["http://elsewhere/{z}/{x}/{y}.mvt"]}),
    )
    store.save_tiles(
        spark.createDataFrame(
            [(2, 1, 0, b"WW", b"AA"), (2, 1, 1, b"XX", None)],
            "zoom int, x int, y int, water_data binary, admin_data binary",
        )
    )
    srv = TileServer("static", catalog=Catalog(spark, str(tmp_path))).start()
    yield srv
    srv.stop()


def test_static_root_favicon_unknown(static_server):
    base = static_server.base_url
    assert _get(f"{base}/")[0] == 404
    status, _, content = _get(f"{base}/favicon.ico")
    assert (status, content) == (200, b"")
    status, _, content = _get(f"{base}/nope/tilejson.json")
    assert status == 404
    assert json.loads(content)["detail"] == "Tileset nope not found on server."
    assert _get(f"{base}/some/random/path")[0] == 404


def test_static_tilejson_rewrites_tiles_url(static_server):
    base = static_server.base_url
    status, headers, content = _get(f"{base}/ts1/tilejson.json")
    assert status == 200
    assert headers["Content-Type"] == "application/json"
    assert headers["Access-Control-Allow-Origin"] == "*"
    tj = json.loads(content)
    # reference change_tilejson_url: tiles points at THIS server's prefix
    assert tj["tiles"] == [f"{base}/ts1/{{z}}/{{x}}/{{y}}.mvt"]
    assert tj["tilejson"] == "3.0.0"


def test_static_tile_payload_and_headers(static_server):
    base = static_server.base_url
    status, headers, content = _get(f"{base}/ts1/2/1/0.mvt")
    assert status == 200
    # layer-order concat (reference server/__init__.py:170-178)
    assert content == b"WWAA"
    assert headers["Content-Type"] == "application/vnd.mapbox-vector-tile"
    lm = datetime.datetime.strptime(headers["Last-Modified"], "%a, %d %b %Y %H:%M:%S GMT")
    etag_s, etag_us = headers["E-tag"].split(".")
    assert lm.replace(tzinfo=datetime.timezone.utc) == datetime.datetime.fromtimestamp(
        int(etag_s), tz=datetime.timezone.utc
    ).replace(microsecond=0)
    assert len(etag_us) == 6
    # HEAD: same status/headers, no body
    status, headers2, content2 = _get(f"{base}/ts1/2/1/0.mvt", method="HEAD")
    assert status == 200 and content2 == b""
    assert headers2["Content-Length"] == headers["Content-Length"]


def test_static_last_modified_is_gmt_outside_utc(static_server):
    """Last-Modified names the same second as the E-tag when the server's
    local time zone is not UTC (the stored `generated` is a naive local
    datetime)."""
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        status, headers, _ = _get(f"{static_server.base_url}/ts1/2/1/0.mvt")
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert status == 200
    lm = datetime.datetime.strptime(headers["Last-Modified"], "%a, %d %b %Y %H:%M:%S GMT")
    etag_s = int(headers["E-tag"].split(".")[0])
    assert lm.replace(tzinfo=datetime.timezone.utc).timestamp() == etag_s


def test_static_keep_alive_gets_do_not_stall(static_server):
    """Sequential GETs on one keep-alive connection answer in milliseconds:
    with Nagle on, each response body waits ~40 ms for the delayed ACK.
    The first GETs are skipped, as Linux quick-ACKs a new connection."""
    conn = http.client.HTTPConnection(static_server.host, static_server.port, timeout=60)
    times = []
    try:
        for _ in range(40):
            t0 = time.perf_counter()
            conn.request("GET", "/ts1/2/1/0.mvt")
            r = conn.getresponse()
            assert (r.status, r.read()) == (200, b"WWAA")
            times.append(time.perf_counter() - t0)
    finally:
        conn.close()
    assert statistics.median(times[20:]) < 0.020, times


def test_static_tile_misses(static_server):
    base = static_server.base_url
    # any NULL layer -> storage miss (reference 404-on-any-NULL rule)
    status, _, content = _get(f"{base}/ts1/2/1/1.mvt")
    assert status == 404
    assert "not found in storage" in json.loads(content)["detail"]
    # absent row
    assert _get(f"{base}/ts1/2/0/0.mvt")[0] == 404
    # zoom outside tileset range -> 410 Gone (reference ZoomNotDefined)
    assert _get(f"{base}/ts1/9/0/0.mvt")[0] == 410
    # unknown tileset
    assert _get(f"{base}/zz/2/1/0.mvt")[0] == 404


def test_static_metrics_exposition(static_server, spark, tmp_path):
    TileStore(spark, str(tmp_path), "ts1").update_metrics()
    status, headers, content = _get(f"{static_server.base_url}/metrics")
    assert status == 200
    text = content.decode()
    assert "# TYPE tilekiln_stored_count gauge" in text
    assert 'tilekiln_stored_count{tileset="ts1",zoom="2"} 2' in text


CFG = """
metadata: {id: live1}
vector_layers:
  water:
    fields: {water: T}
    sql:
    - {minzoom: 0, maxzoom: 8, extent: 2048, file: water.b}
  country_names:
    fields: {name: N, area: A}
    sql:
    - {minzoom: 3, maxzoom: 14, file: country.b}
"""


@pytest.fixture
def live_setup(spark, tmp_path):
    from tilekiln_spark.operators.tiling import pages_geo
    from tilekiln_spark.sources.pages import layer_polygons, pages

    cfg = Config(CFG, {"water.b": "water", "country.b": "country"})
    sources = {
        "pages_geo": pages_geo(pages(spark, 400)).cache(),
        "layer_polygons": layer_polygons(spark, 20).cache(),
    }
    Tileset.from_config(spark, str(tmp_path), cfg)
    return cfg, sources


def test_live_read_through_fill(spark, tmp_path, live_setup):
    from tilekiln_spark.operators.mvt import decode_tile

    cfg, sources = live_setup
    srv = TileServer(
        "live", catalog=Catalog(spark, str(tmp_path)), config=cfg, sources=sources
    ).start()
    try:
        base = srv.base_url
        # storage empty: first GET renders both layers and stores them
        status, headers, content = _get(f"{base}/live1/4/8/8.mvt")
        assert status == 200
        assert {L["name"] for L in decode_tile(content)} == {"water", "country_names"}
        # second GET is a storage hit: identical payload bytes, same E-tag
        status2, headers2, content2 = _get(f"{base}/live1/4/8/8.mvt")
        assert status2 == 200
        assert sorted(content2) == sorted(content)  # layer order may differ
        assert headers2["E-tag"] == headers["E-tag"]  # nothing re-rendered
        assert _get(f"{base}/live1/99/0/0.mvt")[0] == 410
    finally:
        srv.stop()


def test_dev_renders_without_storage(spark, live_setup):
    from tilekiln_spark.operators.mvt import decode_tile

    cfg, sources = live_setup
    srv = TileServer("dev", config=cfg, sources=sources).start()
    try:
        base = srv.base_url
        # bare /tilejson.json redirects to the config id (reference dev app)
        req = urllib.request.Request(f"{base}/tilejson.json", method="GET")

        class NoRedirect(urllib.request.HTTPErrorProcessor):
            def http_response(self, request, response):
                return response

        opener = urllib.request.build_opener(NoRedirect)
        with opener.open(req, timeout=120) as r:
            assert r.status == 307
            assert r.headers["Location"] == "/live1/tilejson.json"
        status, headers, content = _get(f"{base}/live1/tilejson.json")
        assert status == 200
        # config.tilejson(base) URL shape: {base}/{id}/{z}/{x}/{y}.mvt
        assert json.loads(content)["tiles"] == [f"{base}/live1/{{z}}/{{x}}/{{y}}.mvt"]
        assert headers["Cache-Control"] == "no-cache"
        status, headers, content = _get(f"{base}/live1/4/8/8.mvt")
        assert status == 200
        assert {L["name"] for L in decode_tile(content)} == {"water", "country_names"}
        assert headers["Cache-Control"] == "no-cache"
        assert _get(f"{base}/live1/99/0/0.mvt")[0] == 410
        assert _get(f"{base}/other/4/8/8.mvt")[0] == 404
    finally:
        srv.stop()
