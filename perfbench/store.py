"""Tile-store reader that follows the on-disk layout with pyarrow alone.

    <root>/<id>/CURRENT                         current snapshot number
    <root>/<id>/snapshots/v<N>/_manifest.json   {"zooms": {z: "v<M>"}, "schema": ...}
    <root>/<id>/snapshots/v<M>/zoom=<z>/*.parquet
    <root>/<id>/lineage/v<N>.json

The benchmark checks what the engine committed with this reader instead of
``TileStore.read``, so a fault in the engine's read path cannot hide a fault
in its write path.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq


def current_snapshot(store_dir: str) -> int:
    p = os.path.join(store_dir, "CURRENT")
    if not os.path.exists(p):
        return 0
    with open(p) as f:
        return int(f.read().strip())


def manifest(store_dir: str, snapshot: int) -> dict:
    with open(os.path.join(store_dir, "snapshots", f"v{snapshot}", "_manifest.json")) as f:
        return json.load(f)


def lineage(store_dir: str, snapshot: int) -> dict:
    with open(os.path.join(store_dir, "lineage", f"v{snapshot}.json")) as f:
        return json.load(f)


def _partition_files(store_dir: str, vdir: str, zoom: str) -> list[str]:
    pdir = os.path.join(store_dir, "snapshots", vdir, f"zoom={zoom}")
    return sorted(
        os.path.join(pdir, f) for f in os.listdir(pdir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def snapshot_files(store_dir: str, snapshot: int | None = None) -> list[str]:
    n = current_snapshot(store_dir) if snapshot is None else snapshot
    if n == 0:
        return []
    man = manifest(store_dir, n)
    return [
        f for z, vdir in sorted(man["zooms"].items(), key=lambda kv: int(kv[0]))
        for f in _partition_files(store_dir, vdir, z)
    ]


def snapshot_bytes(store_dir: str, snapshot: int | None = None) -> int:
    """On-disk size of the parquet files a snapshot references."""
    return sum(os.path.getsize(f) for f in snapshot_files(store_dir, snapshot))


def read_tiles(store_dir: str, snapshot: int | None = None) -> dict:
    """{(zoom, x, y): {column: value}} for the current (or given) snapshot.

    Timestamps come back as integer nanoseconds since the epoch (UTC), blobs
    as bytes.  Columns the manifest schema lists but a carried-forward
    partition predates read as None."""
    n = current_snapshot(store_dir) if snapshot is None else snapshot
    if n == 0:
        return {}
    man = manifest(store_dir, n)
    cols = [f["name"] for f in man["schema"]["fields"] if f["name"] != "zoom"]
    out: dict = {}
    for z, vdir in man["zooms"].items():
        for path in _partition_files(store_dir, vdir, z):
            t = pq.read_table(path)
            data = {}
            for c in cols:
                if c not in t.column_names:
                    data[c] = [None] * t.num_rows
                    continue
                col = t.column(c)
                if pa.types.is_timestamp(col.type):
                    col = col.cast(pa.timestamp("ns")).cast(pa.int64())
                data[c] = col.to_pylist()
            for i in range(t.num_rows):
                row = {c: data[c][i] for c in cols}
                key = (int(z), row["x"], row["y"])
                if key in out:
                    raise ValueError(f"tile {key} stored twice in snapshot v{n}")
                out[key] = row
    return out


def self_test(tmp: str) -> None:
    """Builds a two-snapshot store by hand and reads it back: v1 writes zooms
    0 and 1; v2 rewrites zoom 1 with a new layer column and carries zoom 0
    forward by reference."""
    root = os.path.join(tmp, "selftest_store")
    ts = pa.timestamp("us")

    def write(vdir, zoom, table):
        d = os.path.join(root, "snapshots", vdir, f"zoom={zoom}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
        open(os.path.join(d, ".part-00000.parquet.crc"), "wb").close()

    def snap(n, zooms, fields):
        d = os.path.join(root, "snapshots", f"v{n}")
        os.makedirs(d, exist_ok=True)
        schema = {"type": "struct", "fields": [{"name": f} for f in ["zoom", "x", "y", *fields]]}
        with open(os.path.join(d, "_manifest.json"), "w") as f:
            json.dump({"zooms": zooms, "schema": schema}, f)
        with open(os.path.join(root, "CURRENT"), "w") as f:
            f.write(str(n))

    a = pa.table({"x": pa.array([0], pa.int32()), "y": pa.array([0], pa.int32()),
                  "a_generated": pa.array([1_000_000], ts), "a_data": [b"A0"]})
    write("v1", 0, a)
    write("v1", 1, pa.table({"x": pa.array([0, 1], pa.int32()), "y": pa.array([1, 1], pa.int32()),
                             "a_generated": pa.array([2, 3], ts), "a_data": [b"A1", None]}))
    snap(1, {"0": "v1", "1": "v1"}, ["a_generated", "a_data"])
    write("v2", 1, pa.table({"x": pa.array([1], pa.int32()), "y": pa.array([1], pa.int32()),
                             "a_generated": pa.array([5], ts), "a_data": [b"A2"],
                             "b_generated": pa.array([6], ts), "b_data": [b"B2"]}))
    snap(2, {"0": "v1", "1": "v2"}, ["a_generated", "a_data", "b_generated", "b_data"])

    v1 = read_tiles(root, 1)
    if sorted(v1) != [(0, 0, 0), (1, 0, 1), (1, 1, 1)] or v1[(1, 1, 1)]["a_data"] is not None:
        raise AssertionError(f"v1 misread: {v1}")
    if v1[(0, 0, 0)]["a_generated"] != 1_000_000_000:
        raise AssertionError("timestamp not read as epoch nanoseconds")
    cur = read_tiles(root)
    if sorted(cur) != [(0, 0, 0), (1, 1, 1)]:
        raise AssertionError(f"CURRENT not followed: {sorted(cur)}")
    if cur[(0, 0, 0)]["b_data"] is not None or cur[(0, 0, 0)]["a_data"] != b"A0":
        raise AssertionError("carried-forward partition misread")
    if cur[(1, 1, 1)]["b_data"] != b"B2" or cur[(1, 1, 1)]["a_data"] != b"A2":
        raise AssertionError("rewritten partition misread")
    if len(snapshot_files(root)) != 2 or snapshot_bytes(root) <= 0:
        raise AssertionError("snapshot file listing wrong")
