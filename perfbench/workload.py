"""One workload run in one fresh Spark session.  Started by run.py in a
process group of its own; prints the result JSON as its last stdout line.

    python3 perfbench/workload.py --workload build --seed 1 --seconds 20 \
        --trace 0 --scratch <dir>

Workloads
- build: a cold pyramid build.  ``generate_zooms`` renders z0..BUILD_MAXZOOM
  of sample/config.yaml (seven SQL-template layers) from the seeded pages
  and polygon files into an empty store, with the whole tile range as its
  worklist, so every tile of the range is stored and layers that render
  empty are blank-filled (``blank_fill``).  The operation is the first render
  in the JVM, as in a ``generate zooms`` command: the warm-up starts the
  PySpark workers and reads the inputs, but does not render.  One build per
  run, whatever --seconds says.
- serve: static HTTP serving.  Setup commits a seeded pyramid through
  ``Tileset.save_tiles`` and starts ``TileServer('static')``; then a closed
  loop of min(4, nproc) clients in this process GETs /{id}/{z}/{x}/{y}.mvt
  for --seconds, keys from the seeded request list.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import signal
import statistics
import sys
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import mvt  # noqa: E402
import procs  # noqa: E402
import store  # noqa: E402
from trace import Tracer, read_eventlog, span_table  # noqa: E402

CONFIG = os.path.join(ROOT, "sample", "config.yaml")
BUILD_MAXZOOM = 4
BUILD_PAGES = 10000
POLYGONS_PER_LAYER = 60
SERVE_MAXZOOM = 4
SERVE_TILES_PER_ZOOM = 300
SERVE_REQUESTS = 5000
SERVE_ABSENT_SHARE = 0.1
SETUP_REPEATS = 3
WHALE_CAP = 65536  # render_zooms' default max_features_per_tile
HTTP_TIME = "%a, %d %b %Y %H:%M:%S GMT"

PER_LAYER = [
    "config.load_config.ms",
    "plans.generate_zooms.self_ms",
    "tiling.render_zooms.ms", "tiling.render_zooms.jobs",
    "incremental.blank_fill.ms",
    "tilestore.save_tiles.ms", "tilestore.save_tiles.jobs", "tilestore.save_tiles.tasks",
    "tilestore.save_tiles.driver_ms", "tilestore.save_tiles.exec_cpu_ms",
    "tilestore.save_tiles.pyworker_cpu_ms", "tilestore.save_tiles.shuffle_write_bytes",
    "tilestore.save_tiles.spill_bytes", "tilestore.save_tiles.input_bytes",
    "tilestore.save_tiles.rows_rewritten", "tilestore.save_tiles.task_skew",
    "tilestore.read.ms",
    "tilestore.get_tile.ms", "tilestore.get_tile.jobs", "tilestore.get_tile.tasks",
    "tilestore.get_tile.input_bytes", "tilestore.get_tile.driver_ms",
    "server.request.self_ms",
]
UNITS = {"ms": "ms", "self_ms": "ms", "driver_ms": "ms", "exec_cpu_ms": "ms",
         "pyworker_cpu_ms": "ms", "jobs": "count", "tasks": "count", "rows_rewritten": "count",
         "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "input_bytes": "bytes",
         "task_skew": "ratio"}


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# -- config, read without engine code ----------------------------------------


class ConfigView:
    """sample/config.yaml as plain data: layer order and per-zoom definitions."""

    def __init__(self, path: str):
        import yaml

        with open(path) as f:
            doc = yaml.safe_load(f)
        self.base = os.path.dirname(path)
        self.layers: dict[str, list[dict]] = {}
        for name, layer in doc["vector_layers"].items():
            self.layers[name] = [
                {"minzoom": d["minzoom"], "maxzoom": d["maxzoom"], "file": d["file"],
                 "extent": d.get("extent", 4096), "buffer": d.get("buffer", 0)}
                for d in layer["sql"]
            ]

    def definition(self, layer: str, zoom: int) -> dict | None:
        for d in self.layers[layer]:
            if d["minzoom"] <= zoom <= d["maxzoom"]:
                return d
        return None

    def extents(self, zooms) -> dict[str, dict[int, int]]:
        return {L: {z: d["extent"] for z in zooms if (d := self.definition(L, z))}
                for L in self.layers}

    def filter_classes(self, layer: str, zooms) -> list[list[int]]:
        """Zooms grouped so that within a group the layer's template renders
        to the same text: the same definition and no zoom-dependent filter.
        Templates that aggregate per tile (GROUP BY / LIMIT) form no group."""
        import jinja2

        env = jinja2.Environment()
        by_text: dict[str, list[int]] = {}
        for z in zooms:
            d = self.definition(layer, z)
            if d is None:
                continue
            with open(os.path.join(self.base, d["file"])) as f:
                src = f.read()
            upper = src.upper()
            if "GROUP BY" in upper or "LIMIT" in upper:
                return []
            scale = 4.0 ** -z  # the zoom-derived template values
            text = env.from_string(src).render(
                zoom=z, bbox="BBOX", extent=d["extent"], buffer=d["buffer"],
                tile_area=scale, coordinate_area=scale / d["extent"] ** 2,
                tile_length=2.0 ** -z)
            by_text.setdefault(f"{d['file']}\0{text}", []).append(z)
        return [zs for zs in by_text.values() if len(zs) > 1]


# -- output checks -------------------------------------------------------------


def check_build(tiles: dict, cfg: ConfigView, maxzoom: int) -> list[str]:
    errors: list[str] = []
    point_counts: dict[str, dict[int, int]] = {L: {} for L in cfg.layers}
    capped: set[int] = set()
    only_points = {L: True for L in cfg.layers}
    for (z, x, y), row in tiles.items():
        if not (0 <= z <= maxzoom and 0 <= x < (1 << z) and 0 <= y < (1 << z)):
            errors.append(f"tile key {z}/{x}/{y} out of range")
            continue
        for L in cfg.layers:
            d = cfg.definition(L, z)
            blob = row.get(f"{L}_data")
            if d is None:
                if blob is not None:
                    errors.append(f"{z}/{x}/{y}: layer {L} stored at a zoom it is not defined at")
                continue
            if blob is None:
                errors.append(f"{z}/{x}/{y}: defined layer {L} missing")
                continue
            try:
                layers = mvt.decode_tile(blob)
            except mvt.DecodeError as ex:
                errors.append(f"{z}/{x}/{y}: layer {L} does not parse: {ex}")
                continue
            if [(la["name"], la["extent"]) for la in layers] != [(L, d["extent"])]:
                errors.append(f"{z}/{x}/{y}: blob of {L} holds {[(la['name'], la['extent']) for la in layers]}")
                continue
            feats = layers[0]["features"]
            if len(feats) > WHALE_CAP:
                errors.append(f"{z}/{x}/{y}: layer {L} has {len(feats)} features, over the cap")
            if len(feats) >= WHALE_CAP:
                capped.add(z)
            lo, hi = -d["buffer"], d["extent"] + d["buffer"]
            for f in feats:
                if f["type"] != mvt.POINT:
                    only_points[L] = False
                if any(not (lo <= px <= hi and lo <= py <= hi) for px, py in f["geometry"]):
                    errors.append(f"{z}/{x}/{y}: layer {L} has a vertex outside [{lo}, {hi}]")
                    break
            point_counts[L][z] = point_counts[L].get(z, 0) + len(feats)
    zooms = range(maxzoom + 1)
    for L in cfg.layers:
        if not only_points[L]:
            continue
        for cls in cfg.filter_classes(L, zooms):
            if any(cfg.definition(L, z)["buffer"] != 0 for z in cls):
                continue
            counts = {z: point_counts[L].get(z, 0) for z in cls if z not in capped}
            if len(set(counts.values())) > 1:
                errors.append(f"layer {L}: point totals differ across same-filter zooms {counts}")
    if not tiles:
        errors.append("build committed no tiles")
    return errors


def expected_response(tiles: dict, layers: list[str], key) -> tuple:
    """(status, body, last_modified, etag) the static server must answer
    with, from the store files: 404 when the tile is absent or any layer is
    null (the reference rule, which covers zooms where a layer is undefined)."""
    row = tiles.get(key)
    if row is None or any(row[f"{L}_data"] is None for L in layers):
        return 404, None, None, None
    import datetime as dt

    ns = max(row[c] for c in row if c.endswith("_generated") and row[c] is not None)
    when = dt.datetime.fromtimestamp(ns // 10**9, dt.timezone.utc)
    etag = f"{ns // 10**9}.{(ns // 1000) % 10**6:06d}"
    return 200, b"".join(row[f"{L}_data"] for L in layers), when.strftime(HTTP_TIME), etag


# -- session -------------------------------------------------------------------


def make_session(scratch: str, trace: bool, cores: int):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(scratch, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Dderby.system.home={scratch}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
    )
    if trace:
        ev = os.path.join(scratch, "eventlog")
        os.makedirs(ev, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + ev)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _identity(batches):  # runs in the PySpark workers during the warm-up
    for b in batches:
        yield b.head(0)


class Run:
    def __init__(self, args):
        self.args = args
        self.scratch = args.scratch
        self.cores = len(os.sched_getaffinity(0))
        self.meter = procs.TreeMeter(os.environ[procs.ENV_KEY])
        self.spark = None
        self.tracer = None
        self.server = None
        self.setup_repeat_s: list[float] = []
        self.store_build_s = 0.0
        self.ops: list[dict] = []  # wall_s, ok, plus workload fields
        self._next_req = 0

    # engine modules are imported after the session exists, as users do
    def start(self):
        t = time.perf_counter()
        self.spark = make_session(self.scratch, self.args.trace, self.cores)
        self.session_s = time.perf_counter() - t
        import tilekiln_spark.config.model as model
        import tilekiln_spark.plans.generate as gen
        import tilekiln_spark.streaming.incremental as incremental
        from tilekiln_spark.storage.tilestore import TileStore

        self.model, self.gen = model, gen
        if self.args.trace:
            tr = self.tracer = Tracer(self.spark, self.meter)
            tr.wrap(model, "load_config", "config.load_config")
            tr.wrap(gen, "generate_zooms", "plans.generate_zooms")
            tr.wrap(gen, "render_zooms", "tiling.render_zooms")
            tr.wrap(incremental, "blank_fill", "incremental.blank_fill")
            tr.wrap(TileStore, "save_tiles", "tilestore.save_tiles", pyworker=True)
            tr.wrap(TileStore, "read", "tilestore.read")
            tr.wrap(TileStore, "get_tile", "tilestore.get_tile", key=lambda s, z, x, y: (z, x, y))

    def stop(self):
        """Stops the server and Spark, then closes the JVM's stdin (its exit
        signal) and reaps it, so no child outlives this process even when a
        step fails half-way (as after a signal lands inside a py4j call)."""
        import subprocess

        from pyspark import SparkContext

        for step in (self.server and self.server.stop, self.tracer and self.tracer.unwrap,
                     self.spark and self.spark.stop):
            if step:
                try:
                    step()
                except Exception as ex:  # keep going: the JVM must still be reaped
                    log(f"stop: {type(ex).__name__}: {ex}")
        self.server = self.spark = None
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()

    def sources(self, d: str) -> dict:
        from tilekiln_spark.operators.tiling import pages_geo, sample_tables

        return {
            "pages_geo": pages_geo(self.spark.read.parquet(os.path.join(d, "pages.parquet"))),
            "layer_polygons": self.spark.read.parquet(os.path.join(d, "polygons.parquet")),
            "tables": sample_tables(),
        }

    # -- build -------------------------------------------------------------------

    def setup_build(self):
        for r in range(SETUP_REPEATS):
            t = time.perf_counter()
            d = os.path.join(self.scratch, f"inputs{r}")
            os.makedirs(d)
            inputs.write_pages(os.path.join(d, "pages.parquet"), self.args.seed, BUILD_PAGES)
            inputs.write_polygons(os.path.join(d, "polygons.parquet"), self.args.seed, POLYGONS_PER_LAYER)
            self.config = self.model.load_config(CONFIG)
            self.setup_repeat_s.append(time.perf_counter() - t)
        self.inputs = d
        t = time.perf_counter()
        pages = self.spark.read.parquet(os.path.join(d, "pages.parquet"))
        pages.mapInPandas(_identity, pages.schema).count()
        self.warmup_s = time.perf_counter() - t
        log(f"session {self.session_s:.1f} s, setup repeats {self.setup_repeat_s}, warm-up {self.warmup_s:.1f} s")

    def run_build(self):
        from tilekiln_spark.sources.worklist import tilerange_df

        root = os.path.join(self.scratch, "build-store")
        src = self.sources(self.inputs)
        worklist = tilerange_df(self.spark, 0, BUILD_MAXZOOM)
        cpu0 = self.meter.cpu()
        t = time.perf_counter()
        ts = self.gen.generate_zooms(self.spark, self.config, src, root, 0, BUILD_MAXZOOM,
                                     worklist=worklist)
        wall = time.perf_counter() - t
        cpu = self.meter.cpu() - cpu0
        sdir = os.path.join(root, ts.id)
        tiles = store.read_tiles(sdir)
        errors = check_build(tiles, ConfigView(CONFIG), BUILD_MAXZOOM)
        for e in errors[:20]:
            log("build check:", e)
        self.ops.append({"wall_s": wall, "ok": not errors, "cpu_s": cpu})
        self.tiles_done = len(tiles)
        self.store_dir = sdir

    # -- serve -------------------------------------------------------------------

    def setup_serve(self):
        from tilekiln_spark.storage.tileset import Tileset

        view = ConfigView(CONFIG)
        for r in range(SETUP_REPEATS):
            t = time.perf_counter()
            d = os.path.join(self.scratch, f"inputs{r}")
            os.makedirs(d)
            keys = inputs.serve_tile_keys(self.args.seed, SERVE_MAXZOOM, SERVE_TILES_PER_ZOOM)
            inputs.write_serve_tiles(os.path.join(d, "tiles.parquet"), self.args.seed, keys,
                                     view.extents(range(SERVE_MAXZOOM + 1)))
            inputs.write_requests(os.path.join(d, "requests.txt"), self.args.seed, keys,
                                  SERVE_MAXZOOM, SERVE_REQUESTS, SERVE_ABSENT_SHARE)
            self.config = self.model.load_config(CONFIG)
            self.setup_repeat_s.append(time.perf_counter() - t)
        # the store is committed once: a cold commit costs as much as the
        # rest of the set-up, and the run budget has no room for three
        t = time.perf_counter()
        root = os.path.join(self.scratch, "serve-store")
        ts = Tileset.from_config(self.spark, root, self.config)
        ts.save_tiles(self.spark.read.parquet(os.path.join(d, "tiles.parquet")))
        self.store_build_s = time.perf_counter() - t
        self.store_dir = os.path.join(root, ts.id)
        self.layers = list(view.layers)
        with open(os.path.join(d, "requests.txt")) as f:
            self.requests = [tuple(int(v) for v in ln.split("/")) for ln in f if ln.strip()]
        from tilekiln_spark.storage.catalog import Catalog
        from tilekiln_spark.storage.server import TileServer

        self.server = TileServer("static", catalog=Catalog(self.spark, root)).start()
        self.clients = min(4, self.cores)
        t = time.perf_counter()
        self._serve_loop(deadline=None, per_client=4)  # warm-up, not recorded
        self.warmup_s = time.perf_counter() - t
        log(f"session {self.session_s:.1f} s, setup repeats {self.setup_repeat_s}, "
            f"store build {self.store_build_s:.1f} s, warm-up {self.warmup_s:.1f} s")

    def _serve_loop(self, deadline, per_client=None) -> list[dict]:
        lock = threading.Lock()
        out: list[dict] = []
        prefix = self.config.id
        errors: list[BaseException] = []

        def client():
            conn = http.client.HTTPConnection(self.server.host, self.server.port, timeout=60)
            done = 0
            try:
                while (deadline is None and done < per_client) or (
                        deadline is not None and time.perf_counter() < deadline):
                    with lock:
                        key = self.requests[self._next_req % len(self.requests)]
                        self._next_req += 1
                    tr = self.tracer
                    span = tr.span("server.request", key=key, jobs=False) if tr else nullcontext({})
                    with span as rec:
                        t0 = time.time()
                        conn.request("GET", "/%s/%d/%d/%d.mvt" % (prefix, *key))
                        resp = conn.getresponse()
                        body = resp.read()
                        t1 = time.time()
                    rec["timed"] = deadline is not None
                    done += 1
                    with lock:
                        out.append({"key": key, "wall_s": t1 - t0, "status": resp.status, "body": body,
                                    "lm": resp.getheader("Last-Modified"), "etag": resp.getheader("E-tag"),
                                    "end": t1})
            except BaseException as ex:  # reported by the caller
                errors.append(ex)
            finally:
                conn.close()

        threads = [threading.Thread(target=client, daemon=True) for _ in range(self.clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        if errors:
            raise errors[0]
        return out

    def run_serve(self):
        cpu0 = self.meter.cpu()
        t = time.perf_counter()
        t_wall0 = time.time()
        got = self._serve_loop(deadline=t + self.args.seconds)
        cpu = self.meter.cpu() - cpu0
        elapsed = max(r["end"] for r in got) - t_wall0
        tiles = store.read_tiles(self.store_dir)
        bad = 0
        for r in got:
            status, body, lm, etag = expected_response(tiles, self.layers, r["key"])
            ok = r["status"] == status and (status == 404 or (
                r["body"] == body and r["lm"] == lm and r["etag"] == etag))
            if not ok:
                bad += 1
                if bad <= 10:
                    log("serve check:", r["key"], "got", r["status"], r["lm"], r["etag"],
                        "expected", status, lm, etag)
            self.ops.append({"wall_s": r["wall_s"], "ok": ok})
        self.serve_cpu_s, self.serve_elapsed = cpu, elapsed
        self.tiles_done = len(got)

    # -- results -------------------------------------------------------------------

    def end_to_end(self) -> dict:
        walls = [o["wall_s"] for o in self.ops]
        if self.args.workload == "build":
            cpu_per_op = sum(o["cpu_s"] for o in self.ops) / len(self.ops)
            tps = self.tiles_done / sum(walls)
        else:
            cpu_per_op = self.serve_cpu_s / len(self.ops)
            tps = self.tiles_done / self.serve_elapsed
        setup = self.session_s + statistics.median(self.setup_repeat_s) + self.store_build_s + self.warmup_s
        return {
            "setup_s": (setup, "s"),
            "op_p50_ms": (statistics.median(walls) * 1000, "ms"),
            "cpu_s_per_op": (cpu_per_op, "s"),
            "tiles_per_s": (tps, "tiles/s"),
            "store_bytes": (store.snapshot_bytes(self.store_dir), "bytes"),
        }

    def per_layer(self) -> dict:
        if self.args.workload == "serve":
            self._link_requests()
        rows = span_table(self.tracer.spans, read_eventlog(os.path.join(self.scratch, "eventlog")))
        by_id = {r["id"]: r for r in rows}
        if self.args.workload == "build":
            roots = [r for r in rows if r["name"] == "plans.generate_zooms"]
        else:
            roots = [r for r in rows if r["name"] == "server.request" and r.get("timed")]

        def op_of(r):
            while r["parent"] is not None:
                r = by_id[r["parent"]]
            return r

        root_ids = {r["id"] for r in roots}
        in_ops = [r for r in rows if op_of(r)["id"] in root_ids]
        n = max(len(roots), 1)
        out = {}
        for metric in PER_LAYER:
            span, field = metric.rsplit(".", 1)
            if span == "config.load_config":
                vals = [r["ms"] for r in rows if r["name"] == span]
                out[metric] = (statistics.median(vals) if vals else 0.0, "ms")
                continue
            sel = [r for r in in_ops if r["name"] == span]
            if field == "rows_rewritten":
                val = sum(sum(p["num_tiles"] for p in store.lineage(self.store_dir, r["result"])["partitions"])
                          for r in sel if r.get("result"))
            elif field == "pyworker_cpu_ms":
                val = sum(r.get("pyworker_cpu_s", 0.0) for r in sel) * 1000
            else:
                val = sum(r[field] for r in sel)
            out[metric] = (val / n, UNITS[field])
        self._print_table(in_ops, roots)
        return out

    def _link_requests(self) -> None:
        """A GET's get_tile span runs on a server thread; adopt it as the
        child of the client span with the same key whose interval holds it."""
        reqs = [s for s in self.tracer.spans if s["name"] == "server.request"]
        claimed = set()
        for s in self.tracer.spans:
            if s["name"] != "tilestore.get_tile":
                continue
            for q in reqs:
                if q["id"] not in claimed and q["key"] == s["key"] and q["start"] <= s["start"] and s["end"] <= q["end"]:
                    s["parent"] = q["id"]
                    claimed.add(q["id"])
                    break

    def _print_table(self, in_ops, roots) -> None:
        n = max(len(roots), 1)
        names = []
        for r in in_ops:
            if r["name"] not in names:
                names.append(r["name"])
        print(f"per-layer table, workload {self.args.workload}: {len(roots)} operation(s), means per operation")
        print(f"{'span':28s} {'calls':>6s} {'ms':>10s} {'self_ms':>10s} {'driver_ms':>10s} "
              f"{'jobs':>6s} {'tasks':>7s} {'exec_cpu_ms':>12s} {'task_skew':>9s}")
        for name in names:
            sel = [r for r in in_ops if r["name"] == name]
            print(f"{name:28s} {len(sel) / n:6.1f} {sum(r['ms'] for r in sel) / n:10.1f} "
                  f"{sum(r['self_ms'] for r in sel) / n:10.1f} {sum(r['driver_ms'] for r in sel) / n:10.1f} "
                  f"{sum(r['jobs'] for r in sel) / n:6.1f} {sum(r['tasks'] for r in sel) / n:7.1f} "
                  f"{sum(r['exec_cpu_ms'] for r in sel) / n:12.1f} {sum(r['task_skew'] for r in sel) / n:9.2f}")
        # the layer spans' self times, without the operation's own span:
        # what the wrapped layers account for of the operation's wall time
        wall = sum(o["wall_s"] for o in self.ops) * 1000 / max(len(self.ops), 1)
        root_ids = {r["id"] for r in roots}
        selfsum = sum(r["self_ms"] for r in in_ops if r["id"] not in root_ids) / n
        share = selfsum / wall if wall else 0.0
        print(f"layer span self times sum to {selfsum:.1f} ms of {wall:.1f} ms operation wall time "
              f"({share:.1%}){'' if abs(1 - share) <= 0.1 else '  WARNING: more than a tenth apart'}")
        print(f"traced op_p50_ms {statistics.median(o['wall_s'] for o in self.ops) * 1000:.1f}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["build", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scratch", required=True)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.environ["TZ"] = "UTC"
    time.tzset()
    mvt.self_test()
    store.self_test(args.scratch)
    run = Run(args)
    try:
        run.start()
        getattr(run, f"setup_{args.workload}")()
        getattr(run, f"run_{args.workload}")()
    finally:
        run.stop()
    failed = sum(1 for o in run.ops if not o["ok"])
    if args.trace:
        metrics = run.per_layer()
    else:
        metrics = run.end_to_end()
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
