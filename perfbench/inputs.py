"""Seeded benchmark inputs, written as files the engine then reads.

Everything here is numpy + pyarrow: the engine sees only the parquet and
text files, never the generator.  The same seed gives byte-identical files.

- pages parquet: url, warc_ts, html, text, lang (the engine's pages schema).
  DENSE_SHARE of the rows sit on N_DENSE hosts; the engine geocodes a page
  from its host, so those hosts become dense spatial clusters (the skew the
  spatial join and the whale cap have to absorb).
- layer-polygons parquet: the spatial join's right side (water, admin and
  country_names polygons: rectangles, octagons and concave L shapes, plus
  one near-world rectangle per layer that every page falls in).  Sizes are
  a fixed log-spaced ladder shuffled by the seed, so the area the polygons
  cover, and with it the tile count, moves little between seeds.
- serve tiles parquet + request list: the stored pyramid for the serve
  workload and its GET keys (Zipf over stored tiles plus absent keys).
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HALF_WORLD = 20037508.342789244
LANGS = ["en", "de", "fr", "ja", "und"]
WORDS = (
    "tile zoom layer water admin coast river lake city town road rail park "
    "forest field harbour island border canal bridge tower market school"
).split()

N_DENSE = 3
N_SPARSE = 97
DENSE_SHARE = 0.8


def write_pages(path: str, seed: int, n: int) -> None:
    rng = np.random.default_rng([seed, 1])
    dense = rng.random(n) < DENSE_SHARE
    host_idx = np.where(dense, rng.integers(0, N_DENSE, n), N_DENSE + rng.integers(0, N_SPARSE, n))
    hosts = [f"dense{k}.s{seed}.example" if k < N_DENSE else f"site{k}.s{seed}.example"
             for k in range(N_DENSE + N_SPARSE)]
    lang_idx = rng.integers(0, len(LANGS), n)
    page_ids = rng.permutation(n * 4)[:n]
    nwords = rng.integers(5, 25, n)
    word_idx = rng.integers(0, len(WORDS), (n, 25))
    urls, texts, htmls = [], [], []
    for i in range(n):
        url = f"https://{hosts[host_idx[i]]}/{LANGS[lang_idx[i]]}/page{page_ids[i]}"
        text = " ".join(WORDS[w] for w in word_idx[i, : nwords[i]])
        urls.append(url)
        texts.append(text)
        htmls.append(f"<html><head><title>p{page_ids[i]}</title></head><body>{text}</body></html>".encode())
    t0 = dt.datetime(2026, 1, 1)
    ts = [t0 + dt.timedelta(seconds=int(s)) for s in rng.integers(0, 86400 * 30, n)]
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in lang_idx], pa.string()),
    })
    pq.write_table(table, path)


def write_polygons(path: str, seed: int, n_per_layer: int) -> None:
    rng = np.random.default_rng([seed, 2])
    ladder = 10 ** np.linspace(4.0, 6.3, n_per_layer)  # 10 km .. 2000 km half-width
    rows: dict[str, list] = {k: [] for k in (
        "polygon_id", "layer", "admin_level", "name", "way_area",
        "xmin", "ymin", "xmax", "ymax", "ring_xs", "ring_ys")}
    pid = 0
    for layer in ("water", "admin", "country_names"):
        half = rng.permutation(ladder)
        cx = rng.uniform(-HALF_WORLD * 0.9, HALF_WORLD * 0.9, n_per_layer)
        cy = rng.uniform(-HALF_WORLD * 0.8, HALF_WORLD * 0.8, n_per_layer)
        shape = np.arange(n_per_layer) % 3  # octagon, rectangle, concave L
        rng.shuffle(shape)
        for k in range(n_per_layer):
            h, px, py = float(half[k]), float(cx[k]), float(cy[k])
            if shape[k] == 0:
                c = 0.4142 * h
                xs = [px - h, px - c, px + c, px + h, px + h, px + c, px - c, px - h]
                ys = [py - c, py - h, py - h, py - c, py + c, py + h, py + h, py + c]
            elif shape[k] == 1:
                xs = [px - h, px + h, px + h, px - h]
                ys = [py - h, py - h, py + h, py + h]
            else:
                xs = [px - h, px + h, px + h, px, px, px - h]
                ys = [py - h, py - h, py, py, py + h, py + h]
            area = abs(sum(xs[i] * ys[(i + 1) % len(xs)] - xs[(i + 1) % len(xs)] * ys[i]
                           for i in range(len(xs)))) / 2.0
            rows["polygon_id"].append(pid)
            rows["layer"].append(layer)
            rows["admin_level"].append(str(int(rng.integers(0, 7))))
            rows["name"].append(None if rng.random() < 0.25 else f"{layer}_{pid}")
            rows["way_area"].append(area)
            rows["xmin"].append(min(xs))
            rows["ymin"].append(min(ys))
            rows["xmax"].append(max(xs))
            rows["ymax"].append(max(ys))
            rows["ring_xs"].append(xs)
            rows["ring_ys"].append(ys)
            pid += 1
        # one near-world polygon per layer: every page falls in at least one
        # polygon of each layer, so the dense hosts always reach the join
        # output as dense clusters, wherever their seed puts them
        xs = [-HALF_WORLD * 0.98, HALF_WORLD * 0.98, HALF_WORLD * 0.98, -HALF_WORLD * 0.98]
        ys = [-HALF_WORLD * 0.95, -HALF_WORLD * 0.95, HALF_WORLD * 0.95, HALF_WORLD * 0.95]
        for k, v in (("polygon_id", pid), ("layer", layer), ("admin_level", "2"),
                     ("name", f"{layer}_world"), ("way_area", 4 * HALF_WORLD**2 * 0.98 * 0.95),
                     ("xmin", xs[0]), ("ymin", ys[0]), ("xmax", xs[1]), ("ymax", ys[2]),
                     ("ring_xs", xs), ("ring_ys", ys)):
            rows[k].append(v)
        pid += 1
    schema = pa.schema([
        ("polygon_id", pa.int64()), ("layer", pa.string()), ("admin_level", pa.string()),
        ("name", pa.string()), ("way_area", pa.float64()),
        ("xmin", pa.float64()), ("ymin", pa.float64()), ("xmax", pa.float64()), ("ymax", pa.float64()),
        ("ring_xs", pa.list_(pa.float64())), ("ring_ys", pa.list_(pa.float64())),
    ])
    pq.write_table(pa.table(rows, schema=schema), path)


def _tile_of(lon: float, lat: float, z: int) -> tuple[int, int]:
    n = 1 << z
    x = int((lon + 180.0) / 360.0 * n)
    lr = math.radians(lat)
    y = int((1.0 - math.log(math.tan(lr) + 1 / math.cos(lr)) / math.pi) / 2.0 * n)
    return min(max(x, 0), n - 1), min(max(y, 0), n - 1)


def serve_tile_keys(seed: int, maxzoom: int, per_zoom: int) -> list[tuple[int, int, int]]:
    """Stored keys: every tile up to z3, then ``per_zoom`` tiles (at most a
    quarter of the zoom) per deeper zoom, drawn around a few seeded hot
    spots, as a pyramid over dense regions would be."""
    rng = np.random.default_rng([seed, 3])
    keys = {(z, x, y) for z in range(min(3, maxzoom) + 1) for x in range(1 << z) for y in range(1 << z)}
    spots = [(rng.uniform(-170, 170), rng.uniform(-70, 70)) for _ in range(12)]
    for z in range(4, maxzoom + 1):
        want = min(per_zoom, (1 << (2 * z)) // 4)
        got = 0
        while got < want:
            lon, lat = spots[int(rng.integers(0, len(spots)))]
            spread = 40.0 / (1 << (z - 4))
            k = (z, *_tile_of(lon + rng.normal(0, spread), max(-84, min(84, lat + rng.normal(0, spread / 2))), z))
            if k not in keys:
                keys.add(k)
                got += 1
    return sorted(keys)


def write_serve_tiles(path: str, seed: int, keys, layers: dict[str, dict[int, int]]) -> None:
    """One row per stored key with a point layer blob for every layer the
    config defines at that zoom (``layers[name][zoom] = extent``) and null
    where it defines none, as a render of that config would leave it."""
    from mvt import encode_point_layer

    rng = np.random.default_rng([seed, 4])
    cols: dict[str, list] = {"zoom": [], "x": [], "y": []}
    for name in layers:
        cols[f"{name}_data"] = []
    for z, x, y in keys:
        cols["zoom"].append(z)
        cols["x"].append(x)
        cols["y"].append(y)
        for name, by_zoom in layers.items():
            ext = by_zoom.get(z)
            if ext is None:
                cols[f"{name}_data"].append(None)
                continue
            n = int(min(rng.geometric(0.08), 120))
            pts = [(int(a), int(b)) for a, b in rng.integers(0, ext, (n, 2))]
            cols[f"{name}_data"].append(encode_point_layer(name, ext, pts))
    schema = pa.schema([("zoom", pa.int32()), ("x", pa.int32()), ("y", pa.int32())]
                       + [(f"{n}_data", pa.binary()) for n in layers])
    pq.write_table(pa.table(cols, schema=schema), path)


def write_requests(path: str, seed: int, keys, maxzoom: int, n: int, absent_share: float) -> None:
    """``n`` GET keys, one 'z/x/y' per line: Zipf(1.1) over a seeded ranking
    of the stored keys, plus ``absent_share`` keys that are not stored."""
    rng = np.random.default_rng([seed, 5])
    ranked = [keys[i] for i in rng.permutation(len(keys))]
    stored = set(keys)
    weights = 1.0 / np.arange(1, len(ranked) + 1) ** 1.1
    picks = rng.choice(len(ranked), size=n, p=weights / weights.sum())
    absent = rng.random(n) < absent_share
    lines = []
    for i in range(n):
        if absent[i]:
            while True:
                z = int(rng.integers(2, maxzoom + 1))
                k = (z, int(rng.integers(0, 1 << z)), int(rng.integers(0, 1 << z)))
                if k not in stored:
                    break
        else:
            k = ranked[picks[i]]
        lines.append("%d/%d/%d" % k)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
