"""Stdlib HTTP tile server — the reference's three FastAPI apps re-hosted on
``http.server.ThreadingHTTPServer`` with zero web-framework dependencies
(reference tilekiln/server/__init__.py: ``server`` + ``live`` apps,
tilekiln/dev/__init__.py: ``dev`` app, tilekiln/prometheus.py:
``serve_prometheus``).

Modes
-----
- ``static``  — serve stored tiles from a :class:`Catalog` (reference
  ``server`` app): 404 root, empty favicon, per-tileset tilejson with the
  tiles URL rewritten to this server, ``/{prefix}/{z}/{x}/{y}.mvt`` with
  Last-Modified / E-tag derived from the stored ``generated`` timestamp,
  404 when any layer blob is missing, 410 for zooms outside the tileset.
- ``live``    — same surface, but a storage miss renders ONLY the missing
  layers for that one tile, MERGEs them in (sibling layers keep their
  timestamps) and responds — :func:`serving.live_fill` is the whole handler
  minus HTTP (reference server/__init__.py:193-250).
- ``dev``     — no storage: every request renders the tile from the config
  (reference dev/__init__.py:84-96, kiln.render_all), ``Cache-Control:
  no-cache``, plus the ``/tilejson.json`` -> ``/{id}/tilejson.json``
  redirect.

All modes also expose ``/metrics`` in the Prometheus text exposition format
(reference runs this as a separate exporter daemon, prometheus.py:60-71;
here it rides the same listener — the stats frame is tileset x zoom sized,
so a scrape is a metadata read).

Scale note: HTTP serving is a driver-side point-lookup shell over the same
column semantics used for bulk export (:func:`serving.tile_responses`); a
production deployment exports the tile snapshot to a key-value store and
serves from that.  This server is the reference's dev/ops parity surface —
request concurrency is the threaded handler, per-request work one point
lookup (A6) straight on the snapshot files, with no Spark job.  The handler
sets TCP_NODELAY on each connection, as uvicorn's transports do for the
reference: a response goes out as a header send and a body send, and with
Nagle's algorithm on, the body of every keep-alive GET after the first would
wait ~40 ms for the client's delayed ACK.
"""

from __future__ import annotations

import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from tilekiln_spark.config.errors import ZoomNotDefined
from tilekiln_spark.storage.serving import MVT_MIME_TYPE, live_fill
from tilekiln_spark.storage.catalog import prometheus_exposition

# reference server/__init__.py:14, 25-28
HTTP_TIME = "%a, %d %b %Y %H:%M:%S GMT"
STANDARD_HEADERS = {
    "Access-Control-Allow-Origin": "*",
    "Access-Control-Allow-Methods": "GET, HEAD",
}
# reference dev/__init__.py:20 (+ the CORS allow-all middleware)
DEV_HEADERS = {
    "Cache-Control": "no-cache",
    "Access-Control-Allow-Origin": "*",
}

_TILE_RE = re.compile(r"^/([^/]+)/(\d+)/(\d+)/(\d+)\.mvt$")
_TILEJSON_RE = re.compile(r"^/([^/]+)/tilejson\.json$")


def change_tilejson_url(tilejson: str, baseurl: str) -> str:
    """reference server/__init__.py:43-46: point the tilejson's tiles URL at
    this server."""
    modified = json.loads(tilejson)
    modified["tiles"] = [baseurl + "/{z}/{x}/{y}.mvt"]
    return json.dumps(modified)


def _http_headers(generated) -> dict[str, str]:
    """Last-Modified / E-tag from the stored timestamp (reference
    server/__init__.py:180-186: 'a specific x/y/z will not be generated
    twice in the same ms').  `generated` is a naive local datetime, so
    both headers go through its epoch seconds: GMT whatever the local zone."""
    if generated is None:
        return {}
    secs = int(generated.timestamp())
    return {
        "Last-Modified": time.strftime(HTTP_TIME, time.gmtime(secs)),
        "E-tag": f"{secs}.{generated.microsecond:06d}",
    }


class TileServer:
    """One listener, mode-dispatched handlers.

    static/live: ``catalog`` (live additionally needs ``config`` +
    ``sources`` for the read-through fill of its config's tileset).
    dev: ``config`` + ``sources`` only — no storage at all.
    """

    def __init__(
        self,
        mode: str,
        *,
        catalog=None,
        config=None,
        sources: dict | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
        base_url: str | None = None,
    ):
        if mode not in ("static", "live", "dev"):
            raise ValueError(f"unknown server mode {mode!r}")
        if mode in ("static", "live") and catalog is None:
            raise ValueError(f"mode {mode!r} requires a catalog")
        if mode in ("live", "dev") and config is None:
            raise ValueError(f"mode {mode!r} requires a config")
        self.mode = mode
        self.catalog = catalog
        self.config = config
        self.sources = sources or {}
        server = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            disable_nagle_algorithm = True  # TCP_NODELAY: see "Scale note"

            def log_message(self, *a):  # quiet test runs
                pass

            def do_GET(self):
                server._route(self, body=True)

            def do_HEAD(self):
                server._route(self, body=False)

        self.httpd = ThreadingHTTPServer((host, port), Handler)
        self.host, self.port = self.httpd.server_address[:2]
        self.base_url = base_url or f"http://{self.host}:{self.port}"
        self._thread: threading.Thread | None = None

    # -- lifecycle ------------------------------------------------------------

    def start(self) -> "TileServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)

    def serve_forever(self) -> None:
        self.httpd.serve_forever()

    # -- response helpers -----------------------------------------------------

    def _send(self, h, status: int, content: bytes, ctype: str,
              headers: dict[str, str], body: bool) -> None:
        h.send_response(status)
        h.send_header("Content-Type", ctype)
        h.send_header("Content-Length", str(len(content)))
        for k, v in headers.items():
            h.send_header(k, v)
        h.end_headers()
        if body:
            h.wfile.write(content)

    def _error(self, h, status: int, detail: str, body: bool) -> None:
        # FastAPI's HTTPException renders {"detail": ...} JSON — kept for
        # client parity (reference raises these with a detail string)
        content = json.dumps({"detail": detail}).encode()
        self._send(h, status, content, "application/json", self._std(), body)

    def _std(self) -> dict[str, str]:
        return dict(DEV_HEADERS if self.mode == "dev" else STANDARD_HEADERS)

    # -- routing --------------------------------------------------------------

    def _route(self, h, body: bool) -> None:
        try:
            path = h.path.split("?", 1)[0]
            if path == "/":
                return self._error(h, 404, "Not Found", body)
            if path == "/favicon.ico":
                return self._send(h, 200, b"", "text/plain", self._std(), body)
            if path == "/metrics":
                return self._metrics(h, body)
            if self.mode == "dev" and path == "/tilejson.json":
                # reference dev/__init__.py:62-66: redirect to the config id
                h.send_response(307)
                h.send_header("Location", f"/{self.config.id}/tilejson.json")
                h.send_header("Content-Length", "0")
                h.end_headers()
                return
            m = _TILEJSON_RE.match(path)
            if m:
                return self._tilejson(h, m.group(1), body)
            m = _TILE_RE.match(path)
            if m:
                prefix, z, x, y = m.group(1), *map(int, m.groups()[1:])
                return self._tile(h, prefix, z, x, y, body)
            return self._error(h, 404, "Not Found", body)
        except BrokenPipeError:
            pass
        except Exception as ex:  # a handler bug must not kill the listener
            try:
                self._error(h, 500, f"{type(ex).__name__}: {ex}", body)
            except Exception:
                pass

    # -- endpoints ------------------------------------------------------------

    def _tilejson_for(self, prefix: str) -> str | None:
        if self.mode == "dev":
            if prefix != self.config.id:
                return None
            return self.config.tilejson(self.base_url)
        for ts in self.catalog.get_tilesets():
            if ts.id == prefix:
                return change_tilejson_url(ts.tilejson, f"{self.base_url}/{prefix}")
        return None

    def _tilejson(self, h, prefix: str, body: bool) -> None:
        tj = self._tilejson_for(prefix)
        if tj is None:
            return self._error(h, 404, f"Tileset {prefix} not found on server.", body)
        self._send(h, 200, tj.encode(), "application/json", self._std(), body)

    def _tile(self, h, prefix: str, zoom: int, x: int, y: int, body: bool) -> None:
        if self.mode == "dev":
            return self._dev_tile(h, prefix, zoom, x, y, body)
        try:
            ts = self.catalog.get_tileset(prefix)
        except Exception:
            return self._error(h, 404, f"Tileset {prefix} not found on server.", body)
        if self.mode == "live" and prefix == self.config.id:
            try:
                payload, generated = live_fill(ts, self.config, self.sources, zoom, x, y)
            except ZoomNotDefined:
                return self._error(
                    h, 410, f"Tileset {zoom} not available for tileset {prefix}.", body
                )
            return self._send(
                h, 200, payload, MVT_MIME_TYPE,
                self._std() | _http_headers(generated), body,
            )
        try:
            got = ts.get_tile(zoom, x, y)
        except ZoomNotDefined:
            return self._error(
                h, 410, f"Tileset {zoom} not available for tileset {prefix}.", body
            )
        if got is None:
            return self._error(
                h, 404, f"Tile {prefix}/{zoom}/{x}/{y} not found in storage.", body
            )
        generated, layers = got
        blobs = []
        for L in ts.layers:
            data = layers.get(L)
            if data is None:
                # any missing layer is a storage miss (reference
                # server/__init__.py:172-177)
                return self._error(
                    h, 404, f"Tile {prefix}/{zoom}/{x}/{y} not found in storage.", body
                )
            blobs.append(bytes(data))
        self._send(
            h, 200, b"".join(blobs), MVT_MIME_TYPE,
            self._std() | _http_headers(generated), body,
        )

    def _dev_tile(self, h, prefix: str, zoom: int, x: int, y: int, body: bool) -> None:
        if prefix != self.config.id:
            return self._error(h, 404, f"Tileset {prefix} not found on server.", body)
        if zoom < self.config.minzoom or zoom > self.config.maxzoom:
            # reference kiln.render_all's zoom guard (kiln.py:20-21)
            return self._error(
                h, 410, f"Tileset {zoom} not available for tileset {prefix}.", body
            )
        from tilekiln_spark.operators.tiling import render_zooms
        from tilekiln_spark.streaming.incremental import blank_fill

        spark = self._spark()
        wl = spark.createDataFrame([(zoom, x, y)], "zoom int, x int, y int")
        rendered = render_zooms(self.config, [zoom], self.sources, worklist=wl)
        filled = blank_fill(self.config, rendered, wl, [zoom]) if rendered is not None \
            else None
        payload = b""
        if filled is not None:
            row = filled.head(1)
            if row:
                r = row[0]
                for L in self.config.layer_names():
                    data = r[f"{L}_data"] if f"{L}_data" in filled.columns else None
                    if data is not None:
                        payload += bytes(data)
        self._send(h, 200, payload, MVT_MIME_TYPE, self._std(), body)

    def _spark(self):
        from pyspark.sql import SparkSession

        return SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()

    def _metrics(self, h, body: bool) -> None:
        if self.catalog is not None:
            text = prometheus_exposition(self.catalog.metrics())
        else:
            text = prometheus_exposition(None)
        self._send(
            h, 200, text.encode(),
            "text/plain; version=0.0.4", self._std(), body,
        )
