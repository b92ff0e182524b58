"""Minimal Mapbox Vector Tile (protobuf) reader and writer.

Written from the MVT 2.1 specification, independent of the engine's own
encoder, so the benchmark can check tile bytes without trusting the code it
measures.  Only the wire types MVT uses are handled: varint (0), 64-bit (1),
length-delimited (2) and 32-bit (5).

Tile     { repeated Layer layers = 3; }
Layer    { version = 15; name = 1; features = 2; keys = 3; values = 4;
           extent = 5 (default 4096); }
Feature  { id = 1; tags = 2 (packed); type = 3; geometry = 4 (packed); }
Geometry command integer = (id & 7) | (count << 3); MoveTo=1, LineTo=2,
ClosePath=7; parameters are zigzag-encoded deltas.
"""

from __future__ import annotations

MOVE_TO, LINE_TO, CLOSE_PATH = 1, 2, 7
POINT, LINESTRING, POLYGON = 1, 2, 3


class DecodeError(ValueError):
    pass


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = 0
    out = 0
    while True:
        if i >= len(buf):
            raise DecodeError("truncated varint")
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, i
        shift += 7
        if shift > 63:
            raise DecodeError("varint too long")


def _fields(buf: bytes):
    """Yield (field number, wire type, value) over one message's bytes;
    length-delimited values come back as bytes."""
    i = 0
    n = len(buf)
    while i < n:
        key, i = _varint(buf, i)
        field, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _varint(buf, i)
        elif wt == 1:
            if i + 8 > n:
                raise DecodeError("truncated fixed64")
            v, i = buf[i:i + 8], i + 8
        elif wt == 2:
            ln, i = _varint(buf, i)
            if i + ln > n:
                raise DecodeError("truncated length-delimited field")
            v, i = buf[i:i + ln], i + ln
        elif wt == 5:
            if i + 4 > n:
                raise DecodeError("truncated fixed32")
            v, i = buf[i:i + 4], i + 4
        else:
            raise DecodeError(f"unsupported wire type {wt}")
        yield field, wt, v


def _packed(buf: bytes) -> list[int]:
    out = []
    i = 0
    while i < len(buf):
        v, i = _varint(buf, i)
        out.append(v)
    return out


def unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def decode_geometry(cmds: list[int]) -> list[tuple[int, int]]:
    """Absolute (x, y) of every vertex the command stream visits."""
    pts = []
    x = y = 0
    i = 0
    while i < len(cmds):
        cid, count = cmds[i] & 7, cmds[i] >> 3
        i += 1
        if cid in (MOVE_TO, LINE_TO):
            if i + 2 * count > len(cmds):
                raise DecodeError("geometry parameters truncated")
            for _ in range(count):
                x += unzigzag(cmds[i])
                y += unzigzag(cmds[i + 1])
                i += 2
                pts.append((x, y))
        elif cid == CLOSE_PATH:
            if count != 1:
                raise DecodeError("ClosePath count must be 1")
        else:
            raise DecodeError(f"unknown geometry command {cid}")
    return pts


def decode_layer(buf: bytes) -> dict:
    layer = {"version": 1, "name": None, "extent": 4096, "features": []}
    for field, wt, v in _fields(buf):
        if field == 15 and wt == 0:
            layer["version"] = v
        elif field == 1 and wt == 2:
            layer["name"] = v.decode("utf-8")
        elif field == 5 and wt == 0:
            layer["extent"] = v
        elif field == 2 and wt == 2:
            feat = {"type": 0, "geometry": [], "tags": []}
            for ff, fwt, fv in _fields(v):
                if ff == 3 and fwt == 0:
                    feat["type"] = fv
                elif ff == 4 and fwt == 2:
                    feat["geometry"] = decode_geometry(_packed(fv))
                elif ff == 2 and fwt == 2:
                    feat["tags"] = _packed(fv)
            layer["features"].append(feat)
    if layer["name"] is None:
        raise DecodeError("layer without a name")
    return layer


def decode_tile(buf: bytes) -> list[dict]:
    """Layers of a tile, in byte order.  Anything but layer fields at the
    top level is an error: a stored layer blob is exactly one framed layer."""
    layers = []
    for field, wt, v in _fields(bytes(buf)):
        if field != 3 or wt != 2:
            raise DecodeError(f"unexpected top-level field {field}/{wt}")
        layers.append(decode_layer(v))
    return layers


# -- writer (builds the serve workload's stored blobs and self-test inputs) --


def _enc_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _ld(field: int, payload: bytes) -> bytes:
    return _enc_varint(field << 3 | 2) + _enc_varint(len(payload)) + payload


def encode_point_layer(name: str, extent: int, points: list[tuple[int, int]]) -> bytes:
    """One framed layer (Tile field 3) holding one point feature per point,
    each tagged kind=<feature index>."""
    body = _enc_varint(15 << 3) + _enc_varint(2) + _ld(1, name.encode())
    for k, (x, y) in enumerate(points):
        geom = [MOVE_TO | (1 << 3), _zigzag(x), _zigzag(y)]
        feat = (
            _enc_varint(1 << 3) + _enc_varint(k + 1)
            + _ld(2, b"".join(_enc_varint(t) for t in (0, k)))
            + _enc_varint(3 << 3) + _enc_varint(POINT)
            + _ld(4, b"".join(_enc_varint(g) for g in geom))
        )
        body += _ld(2, feat)
    body += _ld(3, b"kind")
    for k in range(len(points)):
        body += _ld(4, _enc_varint(6 << 3) + _enc_varint(k))  # Value.uint_value
    body += _enc_varint(5 << 3) + _enc_varint(extent)
    return _ld(3, body)


def self_test() -> None:
    """Checks the reader on hand-built bytes, then round-trips the writer."""
    # Hand-assembled: layer "a", version 2, extent 256, one point at (25, 17)
    # (the MVT spec's point example: MoveTo(1) = 9, zigzag 25 -> 50, 17 -> 34).
    feature = bytes([0x18, 0x01, 0x22, 0x03, 0x09, 0x32, 0x22])
    layer = bytes([0x78, 0x02, 0x0A, 0x01, 0x61, 0x12, len(feature)]) + feature + bytes([0x28, 0x80, 0x02])
    tile = bytes([0x1A, len(layer)]) + layer
    (got,) = decode_tile(tile)
    if (got["name"], got["version"], got["extent"]) != ("a", 2, 256):
        raise AssertionError(f"hand-built layer header misread: {got}")
    if got["features"] != [{"type": POINT, "geometry": [(25, 17)], "tags": []}]:
        raise AssertionError(f"hand-built point misread: {got['features']}")
    # Spec polygon example: MoveTo(3,6) LineTo(8,12)(20,34) ClosePath.
    poly = [9, 6, 12, 18, 10, 12, 24, 44, 15]
    if decode_geometry(poly) != [(3, 6), (8, 12), (20, 34)]:
        raise AssertionError("spec polygon example misread")
    # A layer with no extent field takes the default 4096.
    (bare,) = decode_tile(bytes([0x1A, 0x03, 0x0A, 0x01, 0x62]))
    if bare["extent"] != 4096 or bare["features"]:
        raise AssertionError(f"default extent misread: {bare}")
    two = encode_point_layer("p", 2048, [(0, 0), (-3, 2050)]) + encode_point_layer("q", 4096, [])
    p, q = decode_tile(two)
    if [f["geometry"] for f in p["features"]] != [[(0, 0)], [(-3, 2050)]] or p["extent"] != 2048:
        raise AssertionError(f"writer round trip failed: {p}")
    if q["name"] != "q" or q["features"]:
        raise AssertionError(f"empty layer round trip failed: {q}")
    for bad in (tile[:-1], b"\x1a\x05\x0a", b"\x08\x01"):
        try:
            decode_tile(bad)
        except DecodeError:
            continue
        raise AssertionError(f"malformed bytes accepted: {bad!r}")
