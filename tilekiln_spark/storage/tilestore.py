"""Tile storage: zoom-partitioned tile table + metadata + stats + lineage.

Re-implements the reference's PostgreSQL storage semantics
(reference tilekiln/storage.py) on a snapshot-versioned parquet layout.  On a
real cluster this maps 1:1 onto Iceberg (`CREATE TABLE ... PARTITIONED BY
(zoom)`, `MERGE INTO`, metadata-only partition drops); the local layout keeps
the same observable semantics plus snapshot ids for resumability:

    <root>/<tileset_id>/
        snapshots/v<N>/zoom=<z>/   parquet files for partitions WRITTEN at N
        snapshots/v<N>/_manifest.json  zoom -> owning snapshot dir + schema
                                   (untouched partitions carried forward by
                                   reference — commits are O(batch), the
                                   Iceberg dynamic-partition-overwrite shape)
        CURRENT                    text file: current snapshot number
        metadata.json              tileset metadata row (A8)
        tile_stats.parquet         per-zoom stats (B12-B14)
        lineage/v<N>.json          per-commit lineage rows, touched partitions only

Semantics ported (each noted with its reference source):

- **upsert** (A7, storage.py:349-428): partial-layer writes touch only the
  incoming layer columns; `generated` is bumped only when the bytes actually
  changed (`IS DISTINCT FROM`, B15 -> null-safe equality), else preserved
  (COALESCE with the statement timestamp).
- **schema** (A9, storage.py:556-604): zoom/x/y + per-layer
  `{layer}_generated` timestamp before `{layer}_data` binary, zoom-partitioned;
  CHECK constraints (B16, storage.py:565-571) enforced in the write path.
- **deletes** (A10-A13, storage.py:262-288, 606-651): truncate-by-zoom =
  partition drop; keyed delete = anti-join; layer delete = UPDATE ... SET NULL
  with LayerNotDefined validation (storage.py:274-277).
- **metadata upsert** (A8, storage.py:445-466): updates minzoom/maxzoom/
  tilejson but — reference quirk preserved — NOT layers.
- **tile fetch** (A6, storage.py:290-314): point lookup returning
  GREATEST(generated) + per-layer bytes, read straight from the committed
  snapshot files with `pyarrow.parquet.ParquetFile` — no Spark job and no
  dataset per GET; the manifest's zoom partition prune + reading only the
  row groups whose x/y min/max statistics can hold the key do the index's
  job.
- **commit files**: `CURRENT`, `metadata.json`, manifests and lineage are
  written to a dot-named temp file and renamed into place, so a concurrent
  reader (a GET during a live fill, `serve static` during `generate tiles`)
  sees the old file or the new one, never a torn one.
- **stats** (B12-B14, storage.py:501-554): per-zoom COUNT(*), total byte
  size with COALESCE-to-0, exact PERCENTILE_CONT at
  [0,.25,.5,.75,.9,.95,.99,.999,1] (storage.py:25); empty zoom -> zeros
  (array_fill equivalent, storage.py:506-517).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampType

from tilekiln_spark.config.errors import LayerNotDefined, ZoomNotDefined

PERCENTILES = [0.0, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 0.999, 1.0]  # storage.py:25

# Lineage cell-histogram granularity: tile counts roll up to the zoom<=4
# ancestor cell, bounding each zoom's histogram at 2^4 * 2^4 = 256 buckets.
_HIST_ZOOM = 4


class TileStore:
    def __init__(self, spark: SparkSession, root: str, tileset_id: str):
        self.spark = spark
        self.root = os.path.join(root, tileset_id)
        self.id = tileset_id

    # -- catalog / metadata -------------------------------------------------

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.root, "metadata.json")

    def create(self, layers: list[str], minzoom: int, maxzoom: int, tilejson: str = "{}"):
        """DDL equivalent (A9). Records the config-derived schema."""
        os.makedirs(os.path.join(self.root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(self.root, "lineage"), exist_ok=True)
        self._write_meta(
            {
                "id": self.id,
                "active": True,
                "layers": layers,
                "minzoom": minzoom,
                "maxzoom": maxzoom,
                "tilejson": tilejson,
            }
        )

    def metadata(self) -> dict:
        with open(self._meta_path) as f:
            return json.load(f)

    def _write_meta(self, meta: dict):
        _replace_file(self._meta_path, json.dumps(meta))

    def set_metadata(self, minzoom: int, maxzoom: int, tilejson: str):
        """Metadata upsert (A8): minzoom/maxzoom/tilejson only — layers are
        deliberately NOT updated (reference storage.py:445-466 quirk)."""
        meta = self.metadata()
        meta.update({"minzoom": minzoom, "maxzoom": maxzoom, "tilejson": tilejson})
        self._write_meta(meta)

    def drop(self):
        """Tileset drop (A13): table + metadata + stats."""
        shutil.rmtree(self.root, ignore_errors=True)

    # -- snapshots ----------------------------------------------------------

    def current_snapshot(self) -> int:
        p = os.path.join(self.root, "CURRENT")
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return int(f.read().strip())

    def _snapshot_dir(self, n: int) -> str:
        return os.path.join(self.root, "snapshots", f"v{n}")

    def _manifest(self, n: int) -> dict:
        with open(os.path.join(self._snapshot_dir(n), "_manifest.json")) as f:
            return json.load(f)

    def _partitions(self, man: dict) -> dict[int, str]:
        """zoom -> partition directory, in zoom order: the manifest's layout."""
        return {
            int(z): os.path.join(self.root, "snapshots", vdir, f"zoom={z}")
            for z, vdir in sorted(man["zooms"].items(), key=lambda kv: int(kv[0]))
        }

    def read(self, snapshot: int | None = None) -> DataFrame | None:
        """Current (or time-travel) tile table; None if no snapshot yet.

        A snapshot is a MANIFEST mapping each zoom partition to the snapshot
        directory that physically holds its files (Iceberg-style: partitions
        untouched by a commit are carried forward by reference, never
        rewritten).  Columns a carried-forward partition predates (a layer
        added later) read as NULL — schema lives in the manifest."""
        n = self.current_snapshot() if snapshot is None else snapshot
        if n == 0:
            return None
        man = self._manifest(n)
        schema = StructType.fromJson(man["schema"])
        other = [f for f in schema.fields if f.name != "zoom"]
        parts = []
        for z, pdir in self._partitions(man).items():
            pdf = self.spark.read.parquet(pdir)
            cols = [F.lit(z).cast("int").alias("zoom")] + [
                (F.col(f.name) if f.name in pdf.columns else F.lit(None))
                .cast(f.dataType).alias(f.name)
                for f in other
            ]
            parts.append(pdf.select(*cols))
        if not parts:
            return self.spark.createDataFrame([], schema)
        return functools.reduce(DataFrame.unionByName, parts)

    def _commit(self, df: DataFrame, touched_zooms: list[int], lineage_extra: dict) -> int:
        """Partition-scoped commit (Iceberg dynamic-partition-overwrite
        semantics): `df` holds rows ONLY for `touched_zooms`; exactly those
        partitions are written under the new snapshot dir, every other zoom
        is carried forward by manifest reference — commit cost is O(batch +
        touched partitions), never O(table).  Lineage rows (tile counts,
        byte sizes, tile-range extents — reference storage.py:478-486) are
        emitted only for touched partitions."""
        cur = self.current_snapshot()
        n = cur + 1
        out = self._snapshot_dir(n)
        prev_zooms = self._manifest(cur)["zooms"] if cur else {}
        layer_cols = [c for c in df.columns if c.endswith("_data")]
        size_expr = sum(
            (F.coalesce(F.length(F.col(c)), F.lit(0)) for c in layer_cols), F.lit(0)
        )
        df = df.withColumn("__size", size_expr)
        df.persist()
        lineage = [
            row.asDict()
            for row in df.groupBy("zoom")
            .agg(
                F.count("*").alias("num_tiles"),
                F.sum("__size").alias("bytes"),
                F.min("x").alias("x_min"),
                F.max("x").alias("x_max"),
                F.min("y").alias("y_min"),
                F.max("y").alias("y_max"),
            )
            .collect()
        ]
        # Coarse-cell histogram per touched zoom (north-star lineage shape:
        # "tile range, row counts, cell histograms"): tile counts rolled up
        # to the zoom<=4 ancestor cell, so each zoom contributes <=256
        # buckets regardless of batch size — density skew is visible in the
        # snapshot metadata (which coarse web regions dominated the commit)
        # without any unbounded driver collect.
        shift = f"greatest(zoom - {_HIST_ZOOM}, 0)"
        hist_rows = (
            df.groupBy(
                "zoom",
                F.expr(f"shiftright(x, {shift})").alias("cx"),
                F.expr(f"shiftright(y, {shift})").alias("cy"),
            )
            .agg(F.count("*").alias("n"))
            .collect()
        )
        cell_hist: dict[int, dict[str, int]] = {}
        for r in hist_rows:
            cell_hist.setdefault(r["zoom"], {})[f"{r['cx']}/{r['cy']}"] = r["n"]
        for row in lineage:
            row["cell_hist"] = cell_hist.get(row["zoom"], {})
        (
            df.drop("__size")
            .repartition("zoom")
            .sortWithinPartitions("x", "y")
            .write.mode("overwrite")
            .partitionBy("zoom")
            .parquet(out)
        )
        df.unpersist()
        written = {
            d.split("=", 1)[1]
            for d in os.listdir(out)
            if d.startswith("zoom=")
        }
        touched = {str(z) for z in touched_zooms}
        zooms_map = {z: v for z, v in prev_zooms.items() if z not in touched}
        for z in written:  # a touched zoom left with zero tiles simply drops
            zooms_map[z] = f"v{n}"
        self._write_snapshot(n, zooms_map, df.drop("__size").schema, lineage, lineage_extra)
        return n

    def _write_snapshot(self, n, zooms_map, schema, lineage, lineage_extra) -> None:
        out = self._snapshot_dir(n)
        os.makedirs(out, exist_ok=True)
        _replace_file(
            os.path.join(out, "_manifest.json"),
            json.dumps({"zooms": zooms_map, "schema": schema.jsonValue()}),
        )
        entry = {"snapshot": n, "committed_at": time.time(), "partitions": lineage, **lineage_extra}
        _replace_file(os.path.join(self.root, "lineage", f"v{n}.json"), json.dumps(entry))
        _replace_file(os.path.join(self.root, "CURRENT"), str(n))

    def lineage(self, snapshot: int) -> dict:
        with open(os.path.join(self.root, "lineage", f"v{snapshot}.json")) as f:
            return json.load(f)

    # -- writes --------------------------------------------------------------

    def _validate(self, new: DataFrame) -> DataFrame:
        """CHECK-constraint equivalents (B16, reference storage.py:565-571):
        0 <= x,y < 2^zoom and zoom within tileset range; violations raise."""
        meta = self.metadata()
        n = F.pow(F.lit(2.0), F.col("zoom")).cast("long")
        bad = new.filter(
            (F.col("zoom") < meta["minzoom"]) | (F.col("zoom") > meta["maxzoom"])
            | (F.col("x") < 0) | (F.col("x") >= n)
            | (F.col("y") < 0) | (F.col("y") >= n)
        )
        row = bad.select("zoom", "x", "y").head(1)
        if row:
            z, x, y = row[0]
            if z < meta["minzoom"] or z > meta["maxzoom"]:
                raise ZoomNotDefined(f"zoom {z} outside [{meta['minzoom']}, {meta['maxzoom']}]")
            raise ValueError(f"tile ({z},{x},{y}) violates x/y range check")
        return new

    def save_tiles(self, new: DataFrame) -> int:
        """Upsert (A7) with the reference's timestamp-preservation MERGE
        semantics.  Equivalent Iceberg statement (per incoming layer L):

            MERGE INTO tiles t USING new n
              ON t.zoom = n.zoom AND t.x = n.x AND t.y = n.y
            WHEN MATCHED THEN UPDATE SET
              L_data = n.L_data,
              L_generated = CASE WHEN NOT (t.L_data <=> n.L_data)
                                 THEN current_timestamp()
                                 ELSE coalesce(t.L_generated, current_timestamp()) END
            WHEN NOT MATCHED THEN INSERT (zoom, x, y, L_generated, L_data) ...

        Layer columns absent from `new` are preserved (partial-layer write,
        reference storage.py:371-390, tests/test_storage.py:422-428)."""
        new = self._validate(new)
        in_layers = sorted(
            {c[: -len("_data")] for c in new.columns if c.endswith("_data")}
        )
        extra_cols = [
            c for c in new.columns
            if c not in ("zoom", "x", "y")
            and not c.endswith("_data") and not c.endswith("_generated")
        ]
        # partition scope: only zoom partitions present in the batch are
        # joined against and rewritten (commit cost O(batch), not O(table))
        touched = sorted(r.zoom for r in new.select("zoom").distinct().collect())
        existing = self.read()
        if existing is not None:
            existing = existing.filter(F.col("zoom").isin(touched))
        now = F.current_timestamp()
        if existing is None:
            cols = [F.col("zoom"), F.col("x"), F.col("y")]
            for L in in_layers:
                gen = (
                    F.col(f"{L}_generated")
                    if f"{L}_generated" in new.columns
                    else now
                )
                cols += [gen.alias(f"{L}_generated"), F.col(f"{L}_data")]
            cols += [F.col(c) for c in extra_cols]
            return self._commit(new.select(*cols), touched, {"op": "save", "layers": in_layers})

        old_layers = sorted(
            {c[: -len("_data")] for c in existing.columns if c.endswith("_data")}
        )
        all_layers = sorted(set(old_layers) | set(in_layers))
        n_side = new.select(
            F.col("zoom").alias("n_zoom"), F.col("x").alias("n_x"), F.col("y").alias("n_y"),
            *[F.col(f"{L}_data").alias(f"n_{L}_data") for L in in_layers],
            *[F.col(c).alias(f"n_{c}") for c in extra_cols],
        )
        joined = existing.join(
            n_side,
            (F.col("zoom") == F.col("n_zoom")) & (F.col("x") == F.col("n_x")) & (F.col("y") == F.col("n_y")),
            "full_outer",
        )
        incoming = F.col("n_zoom").isNotNull()
        cols = [
            F.coalesce(F.col("zoom"), F.col("n_zoom")).alias("zoom"),
            F.coalesce(F.col("x"), F.col("n_x")).alias("x"),
            F.coalesce(F.col("y"), F.col("n_y")).alias("y"),
        ]
        for L in all_layers:
            old_d = F.col(f"{L}_data") if L in old_layers else F.lit(None).cast("binary")
            old_g = (
                F.col(f"{L}_generated")
                if f"{L}_generated" in existing.columns
                else F.lit(None).cast("timestamp")
            )
            if L in in_layers:
                new_d = F.col(f"n_{L}_data")
                # IS DISTINCT FROM -> negated null-safe equality (B15)
                changed = ~old_d.eqNullSafe(new_d)
                gen = F.when(
                    incoming,
                    F.when(changed, now).otherwise(F.coalesce(old_g, now)),
                ).otherwise(old_g)
                data = F.when(incoming, new_d).otherwise(old_d)
            else:
                gen, data = old_g, old_d
            cols += [gen.alias(f"{L}_generated"), data.alias(f"{L}_data")]
        old_extras = [
            c for c in existing.columns
            if c not in ("zoom", "x", "y")
            and not c.endswith("_data") and not c.endswith("_generated")
        ]
        for c in sorted(set(extra_cols) | set(old_extras)):
            new_c = F.col(f"n_{c}") if c in extra_cols else F.lit(None)
            old_c = F.col(c) if c in old_extras else F.lit(None)
            cols.append(F.when(incoming & new_c.isNotNull(), new_c).otherwise(old_c).alias(c))
        return self._commit(joined.select(*cols), touched, {"op": "save", "layers": in_layers})

    def delete_zooms(self, zooms: list[int] | None = None) -> int:
        """Truncate (A10): per-zoom partition drop — METADATA-ONLY commit
        (the manifest simply stops referencing the partitions; no data files
        are read or written, the Iceberg partition-drop equivalent); None ->
        all zooms (reference storage.py:281-288, 606-609)."""
        cur = self.current_snapshot()
        if cur == 0:
            return 0
        man = self._manifest(cur)
        if zooms is None:
            zooms_map: dict = {}
        else:
            drop = {str(z) for z in zooms}
            zooms_map = {z: v for z, v in man["zooms"].items() if z not in drop}
        self._write_snapshot(
            cur + 1, zooms_map, StructType.fromJson(man["schema"]), [],
            {"op": "delete_zooms", "zooms": zooms},
        )
        return cur + 1

    def delete_tiles(self, worklist: DataFrame) -> int:
        """Keyed delete (A11): anti-join on (zoom, x, y), rewriting ONLY the
        zoom partitions the worklist touches (reference storage.py:262-267,
        611-624)."""
        existing = self.read()
        if existing is None:
            return self.current_snapshot()
        touched = sorted(r.zoom for r in worklist.select("zoom").distinct().collect())
        kept = existing.filter(F.col("zoom").isin(touched)).join(
            F.broadcast(worklist.select("zoom", "x", "y")), ["zoom", "x", "y"], "left_anti"
        )
        return self._commit(kept, touched, {"op": "delete_tiles"})

    def delete_layers(self, worklist: DataFrame, layers: list[str]) -> int:
        """Layer-column delete (A12): SET {layer}_data/_generated = NULL for
        matched tiles; unknown layer -> LayerNotDefined
        (reference storage.py:269-279, 626-651)."""
        meta = self.metadata()
        missing = set(layers) - set(meta["layers"])
        if missing:
            raise LayerNotDefined(f"layers not defined: {sorted(missing)}")
        existing = self.read()
        if existing is None:
            return self.current_snapshot()
        touched = sorted(r.zoom for r in worklist.select("zoom").distinct().collect())
        existing = existing.filter(F.col("zoom").isin(touched))
        w = F.broadcast(worklist.select("zoom", "x", "y").withColumn("__hit", F.lit(True)))
        joined = existing.join(w, ["zoom", "x", "y"], "left_outer")
        hit = F.col("__hit").isNotNull()
        # exact column names: layer 'ocean_data' owns 'ocean_data_data', and
        # column 'ocean_data' belongs to a layer 'ocean'
        cleared = {f"{L}_{suffix}" for L in layers for suffix in ("data", "generated")}
        cols = [
            F.when(hit, F.lit(None)).otherwise(F.col(c)).alias(c) if c in cleared else F.col(c)
            for c in existing.columns
        ]
        return self._commit(joined.select(*cols), touched, {"op": "delete_layers", "layers": layers})

    # -- reads ----------------------------------------------------------------

    def get_tile(self, zoom: int, x: int, y: int):
        """Point lookup (A6) on the committed snapshot files, without Spark:
        the manifest prunes to the zoom partition and, as `_commit` sorts
        each zoom by (x, y), row-group statistics skip the rest.  Returns
        (greatest generated, {layer: bytes}) like storage.py:290-314."""
        n = self.current_snapshot()
        if n == 0:
            return None
        meta = self.metadata()
        if zoom < meta["minzoom"] or zoom > meta["maxzoom"]:
            raise ZoomNotDefined(f"zoom {zoom} outside tileset range")
        man = self._manifest(n)
        pdir = self._partitions(man).get(zoom)
        if pdir is None:
            return None
        t = None
        for name in sorted(os.listdir(pdir)):
            if name.startswith((".", "_")):  # checksums, markers
                continue
            with pq.ParquetFile(os.path.join(pdir, name)) as f:
                t = _read_key(f, x, y)
            if t is not None:
                break
        if t is None:
            return None
        # columns a carried-forward partition predates read as None
        names = [f["name"] for f in man["schema"]["fields"]]
        row = {c: _first_value(t, c) if c in t.column_names else None for c in names}
        gens = [row[c] for c in names if c.endswith("_generated") and row[c] is not None]
        # epoch microseconds -> the naive local datetime Spark's collect gives
        generated = TimestampType().fromInternal(max(gens)) if gens else None
        return generated, {c[: -len("_data")]: row[c] for c in names if c.endswith("_data")}

    # -- stats (B12-B14) -------------------------------------------------------

    def update_metrics(self) -> DataFrame:
        """Per-zoom tile counts, byte sizes, exact percentiles; zooms in the
        tileset range with no tiles get zero rows (reference storage.py:501-554);
        result upserted into tile_stats.parquet and returned."""
        meta = self.metadata()
        df = self.read()
        if df is None:  # no snapshot yet: every zoom of the range is empty
            df = self.spark.createDataFrame([], "zoom int")
        zooms = self.spark.range(meta["minzoom"], meta["maxzoom"] + 1).select(
            F.col("id").cast("int").alias("zoom")
        )
        data_cols = [c for c in df.columns if c.endswith("_data")]
        size = sum(
            (F.coalesce(F.length(F.col(c)), F.lit(0)) for c in data_cols), F.lit(0)
        )
        points = F.array([F.lit(float(p)) for p in PERCENTILES])
        per_zoom = (
            df.withColumn("__size", size.cast("long"))
            .groupBy("zoom")
            .agg(
                F.count("*").alias("num_tiles"),
                F.coalesce(F.sum("__size"), F.lit(0)).alias("size"),
                F.percentile(F.col("__size"), points).alias("percentile_values"),
            )
        )
        zeros = F.array([F.lit(0.0)] * len(PERCENTILES))
        stats = (
            zooms.join(per_zoom, "zoom", "left_outer")
            .select(
                F.lit(self.id).alias("id"),
                "zoom",
                F.coalesce(F.col("num_tiles"), F.lit(0)).alias("num_tiles"),
                F.coalesce(F.col("size"), F.lit(0)).alias("size"),
                points.alias("percentile_points"),
                F.coalesce(F.col("percentile_values"), zeros).alias("percentile_values"),
            )
        )
        out = os.path.join(self.root, "tile_stats.parquet")
        stats.write.mode("overwrite").parquet(out)
        return self.spark.read.parquet(out)


def _replace_file(path: str, text: str) -> None:
    """Write `path` whole through a dot-named temp file and a rename."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{os.getpid()}.{threading.get_ident()}")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _read_key(f: pq.ParquetFile, x: int, y: int) -> pa.Table | None:
    """The rows keyed (x, y) from the row groups whose min/max statistics
    can hold the key (a group without them is always read); None if none."""
    md = f.metadata
    # leaf column paths: a struct column has several leaves
    paths = [md.schema.column(i).path for i in range(md.num_columns)]
    groups = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        stats = [(rg.column(paths.index(c)).statistics, v) for c, v in (("x", x), ("y", y))]
        if all(s is None or not s.has_min_max or s.min <= v <= s.max for s, v in stats):
            groups.append(i)
    if not groups:
        return None
    t = f.read_row_groups(groups)
    t = t.filter(pc.and_(pc.equal(t["x"], x), pc.equal(t["y"], y)))
    return t if t.num_rows else None


def _first_value(table: pa.Table, name: str):
    """A column's first value; timestamps as epoch microseconds (UTC)."""
    col = table.column(name).slice(0, 1)
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.timestamp("us", col.type.tz)).cast(pa.int64())
    return col[0].as_py()


def tileset_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: tuple = ("zoom", "x", "y"),
    value_cols: tuple = (),
) -> DataFrame:
    """The publish set between two tile tables: one row per key present in
    either side whose payload differs — status 'added' (new only),
    'removed' (old only), or 'changed' (both, different values).
    Identical tiles are absent (the common case at 100 TB: a daily diff
    touches a tiny fraction of the pyramid, and this frame IS the upsert
    worklist for :meth:`TileStore.upsert_tiles` / an HTTP cache purge).

    Payload comparison is an md5 of PER-COLUMN md5s joined with '|' and a
    'null' sentinel — both outside the hex alphabet, so no payload byte
    sequence can collide across column boundaries or with a null (hashing
    the raw concat would let ('a\\x00', 'b') == ('a', '\\x00b')).
    Physical shape: each side reduces to (keys, 16-byte fingerprint)
    BEFORE the full outer join, so the shuffle never carries tile blobs —
    at scale the join is two hash exchanges of ~40-byte rows, and
    bucketed/partitioned tile tables co-locate it for free."""
    keys = list(key_cols)
    vals = list(value_cols)
    if not vals:
        raise ValueError(
            "tileset_diff requires value_cols — with none, every common-key "
            "tile would compare equal and 'changed' detection is silently off"
        )

    def fp(df: DataFrame, tag: str) -> DataFrame:
        types = dict(df.dtypes)
        per_col = [
            F.coalesce(
                F.md5(
                    F.col(c) if types.get(c) == "binary" else F.col(c).cast("string")
                ),
                F.lit("null"),
            )
            for c in vals
        ]
        h = F.md5(F.concat_ws("|", *per_col))
        return df.select(*keys, h.alias(f"h_{tag}"))

    j = fp(old, "old").join(fp(new, "new"), keys, "full")
    status = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
    )
    return (
        j.select(*keys, status.alias("status"))
        .where(F.col("status").isNotNull())
    )
