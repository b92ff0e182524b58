"""Tile storage semantics (reference storage.py parity — FIXTURES.md §6)."""

import os
import sys
import threading
import time

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from tilekiln_spark.config.errors import LayerNotDefined, ZoomNotDefined
from tilekiln_spark.storage.tilestore import PERCENTILES, TileStore


@pytest.fixture
def store(spark, tmp_path):
    s = TileStore(spark, str(tmp_path), "v1")
    s.create(layers=["water", "admin"], minzoom=0, maxzoom=14, tilejson="{}")
    return s


def _tiles(spark, rows, layers=("water",)):
    data_cols = ", ".join(f"{L}_data binary" for L in layers)
    return spark.createDataFrame(rows, f"zoom int, x int, y int, {data_cols}")


def test_save_and_fetch(store, spark):
    store.save_tiles(_tiles(spark, [(2, 1, 0, b"W"), (2, 1, 1, b"X")]))
    gen, data = store.get_tile(2, 1, 0)
    assert data == {"water": b"W"}
    assert gen is not None
    assert store.get_tile(2, 0, 0) is None
    with pytest.raises(ZoomNotDefined):
        store.get_tile(15, 0, 0)


def test_upsert_preserves_timestamp_on_same_bytes(store, spark):
    store.save_tiles(_tiles(spark, [(2, 1, 0, b"W")]))
    gen1, _ = store.get_tile(2, 1, 0)
    time.sleep(1.1)
    # same bytes -> generated preserved (storage.py:379-384 IS DISTINCT FROM)
    store.save_tiles(_tiles(spark, [(2, 1, 0, b"W")]))
    gen2, _ = store.get_tile(2, 1, 0)
    assert gen2 == gen1
    time.sleep(1.1)
    # changed bytes -> generated bumped
    store.save_tiles(_tiles(spark, [(2, 1, 0, b"CHANGED")]))
    gen3, data = store.get_tile(2, 1, 0)
    assert data["water"] == b"CHANGED"
    assert gen3 > gen1


def test_partial_layer_write_preserves_siblings(store, spark):
    # write water+admin, then water only: admin untouched
    # (reference storage.py:371-390, tests/test_storage.py:422-428)
    store.save_tiles(
        _tiles(spark, [(3, 1, 1, b"W1", b"A1")], layers=("water", "admin"))
    )
    gen_a1 = store.get_tile(3, 1, 1)
    store.save_tiles(_tiles(spark, [(3, 1, 1, b"W2")]))
    gen, data = store.get_tile(3, 1, 1)
    assert data == {"water": b"W2", "admin": b"A1"}


def test_upsert_inserts_new_and_keeps_old(store, spark):
    store.save_tiles(_tiles(spark, [(2, 1, 0, b"A")]))
    store.save_tiles(_tiles(spark, [(2, 2, 0, b"B"), (3, 0, 0, b"C")]))
    assert store.get_tile(2, 1, 0)[1]["water"] == b"A"
    assert store.get_tile(2, 2, 0)[1]["water"] == b"B"
    assert store.get_tile(3, 0, 0)[1]["water"] == b"C"
    assert store.read().count() == 3


def test_check_constraints(store, spark):
    # B16: x < 2^zoom enforced in the write path (storage.py:565-571)
    with pytest.raises(ValueError):
        store.save_tiles(_tiles(spark, [(2, 4, 0, b"W")]))
    with pytest.raises(ZoomNotDefined):
        store.save_tiles(_tiles(spark, [(15, 0, 0, b"W")]))


def test_delete_zooms(store, spark):
    store.save_tiles(_tiles(spark, [(2, 1, 0, b"A"), (3, 1, 0, b"B"), (4, 1, 0, b"C")]))
    store.delete_zooms([2, 4])
    assert store.get_tile(2, 1, 0) is None
    assert store.get_tile(3, 1, 0) is not None
    assert store.get_tile(4, 1, 0) is None
    store.delete_zooms()  # default: all (storage.py:281-288)
    assert store.read().count() == 0


def test_delete_tiles_keyed(store, spark):
    store.save_tiles(_tiles(spark, [(2, 1, 0, b"A"), (2, 2, 0, b"B")]))
    store.delete_tiles(spark.createDataFrame([(2, 1, 0)], "zoom int, x int, y int"))
    assert store.get_tile(2, 1, 0) is None
    assert store.get_tile(2, 2, 0) is not None


def test_delete_layers(store, spark):
    store.save_tiles(
        _tiles(spark, [(3, 1, 1, b"W", b"A"), (3, 2, 1, b"W2", b"A2")], layers=("water", "admin"))
    )
    wl = store.spark.createDataFrame([(3, 1, 1)], "zoom int, x int, y int")
    store.delete_layers(wl, ["admin"])
    _, d1 = store.get_tile(3, 1, 1)
    _, d2 = store.get_tile(3, 2, 1)
    assert d1 == {"water": b"W", "admin": None}
    assert d2 == {"water": b"W2", "admin": b"A2"}
    with pytest.raises(LayerNotDefined):
        store.delete_layers(wl, ["nope"])


def test_metadata_upsert_quirk(store):
    # A8: updates minzoom/maxzoom/tilejson, NOT layers (storage.py:445-466)
    store.set_metadata(minzoom=2, maxzoom=10, tilejson='{"x":1}')
    m = store.metadata()
    assert (m["minzoom"], m["maxzoom"]) == (2, 10)
    assert m["layers"] == ["water", "admin"]  # unchanged


def test_stats_exact_percentiles(store, spark):
    # sizes 10,20,30,40 at z2 -> exact PERCENTILE_CONT values (B13)
    rows = [(2, i, 0, b"x" * (10 * (i + 1))) for i in range(4)]
    store.save_tiles(_tiles(spark, rows))
    stats = {r.zoom: r for r in store.update_metrics().collect()}
    s2 = stats[2]
    assert s2.num_tiles == 4 and s2.size == 100
    assert list(s2.percentile_points) == PERCENTILES
    # numpy linear interpolation == PERCENTILE_CONT
    import numpy as np

    expect = np.percentile([10, 20, 30, 40], [p * 100 for p in PERCENTILES])
    assert list(s2.percentile_values) == pytest.approx(list(expect))
    # empty zooms -> zero rows with zero-filled percentiles (storage.py:506-517)
    s5 = stats[5]
    assert s5.num_tiles == 0 and s5.size == 0
    assert list(s5.percentile_values) == [0.0] * len(PERCENTILES)
    # full range present
    assert set(stats.keys()) == set(range(0, 15))


def test_snapshots_and_lineage(store, spark):
    n1 = store.save_tiles(_tiles(spark, [(2, 1, 0, b"A")]))
    n2 = store.save_tiles(_tiles(spark, [(2, 2, 0, b"B")]))
    assert n2 == n1 + 1
    # time travel: snapshot n1 doesn't contain the second tile
    assert store.read(snapshot=n1).count() == 1
    assert store.read().count() == 2
    lin = store.lineage(n2)
    assert lin["op"] == "save" and lin["layers"] == ["water"]
    parts = {p["zoom"]: p for p in lin["partitions"]}
    assert parts[2]["num_tiles"] == 2
    assert parts[2]["x_min"] == 1 and parts[2]["x_max"] == 2
    # coarse-cell histogram: zoom 2 < _HIST_ZOOM so cells == tiles
    assert parts[2]["cell_hist"] == {"1/0": 1, "2/0": 1}


def test_greatest_generated_across_layers(store, spark):
    # A6/B11: fetch returns GREATEST over per-layer generated timestamps
    store.save_tiles(_tiles(spark, [(3, 1, 1, b"W")], layers=("water",)))
    time.sleep(1.1)
    store.save_tiles(_tiles(spark, [(3, 1, 1, b"A")], layers=("admin",)))
    gen, _ = store.get_tile(3, 1, 1)
    df = store.read()
    r = df.filter((F.col("zoom") == 3) & (F.col("x") == 1) & (F.col("y") == 1)).head()
    assert gen == max(r.water_generated, r.admin_generated)
    assert r.admin_generated > r.water_generated


def test_delete_layers_suffix_names(spark, tmp_path):
    # Layer names that themselves end in '_data'/'_generated' substrings must
    # be matched by trailing-suffix strip only (naive .replace() would map
    # column 'ocean_data_data' -> layer 'ocean' and never null it).
    s = TileStore(spark, str(tmp_path), "suffixy")
    s.create(layers=["ocean_data", "admin"], minzoom=0, maxzoom=14, tilejson="{}")
    s.save_tiles(_tiles(spark, [(3, 1, 1, b"O", b"A")], layers=("ocean_data", "admin")))
    wl = spark.createDataFrame([(3, 1, 1)], "zoom int, x int, y int")
    s.delete_layers(wl, ["ocean_data"])
    _, d = s.get_tile(3, 1, 1)
    assert d == {"ocean_data": None, "admin": b"A"}


def test_partial_save_rewrites_only_touched_partitions(spark, tmp_path):
    import glob
    import hashlib
    import os

    s = TileStore(spark, str(tmp_path), "scoped")
    s.create(layers=["water"], minzoom=0, maxzoom=14, tilejson="{}")
    n1 = s.save_tiles(_tiles(spark, [(2, 1, 0, b"A"), (5, 3, 3, b"B")]))
    z2_files = sorted(glob.glob(f"{s.root}/snapshots/v{n1}/zoom=2/*.parquet"))
    before = {p: hashlib.md5(open(p, "rb").read()).hexdigest() for p in z2_files}
    # incremental save touching ONLY zoom 5
    n2 = s.save_tiles(_tiles(spark, [(5, 4, 4, b"C")]))
    # zoom=2 files: same paths, byte-identical (carried forward by reference)
    after = {p: hashlib.md5(open(p, "rb").read()).hexdigest() for p in z2_files}
    assert before == after
    assert not os.path.exists(f"{s.root}/snapshots/v{n2}/zoom=2")
    # manifest maps zoom 2 to the OLD snapshot dir, zoom 5 to the new one
    man = s._manifest(n2)
    assert man["zooms"]["2"] == f"v{n1}" and man["zooms"]["5"] == f"v{n2}"
    # lineage rows only for the touched partition
    lin = s.lineage(n2)
    assert [p["zoom"] for p in lin["partitions"]] == [5]
    # zoom 5 rolls up to z4 ancestor cells (x>>1, y>>1)
    assert lin["partitions"][0]["cell_hist"] == {"1/1": 1, "2/2": 1}
    # merged read still sees everything
    got = {(r.zoom, r.x, r.y): bytes(r.water_data) for r in s.read().collect()}
    assert got == {(2, 1, 0): b"A", (5, 3, 3): b"B", (5, 4, 4): b"C"}
    # metadata-only partition drop: no new data files at all
    n3 = s.delete_zooms([2])
    assert not os.path.exists(f"{s.root}/snapshots/v{n3}/zoom=5")
    assert sorted(s._manifest(n3)["zooms"]) == ["5"]
    assert s.read().count() == 2
    # time travel unaffected
    assert s.read(snapshot=n2).count() == 3


def test_schema_evolution_across_partial_saves(spark, tmp_path):
    # a new layer column appears in a later commit: carried-forward
    # partitions read it as NULL
    s = TileStore(spark, str(tmp_path), "evolve")
    s.create(layers=["water", "admin"], minzoom=0, maxzoom=14, tilejson="{}")
    s.save_tiles(_tiles(spark, [(2, 1, 0, b"W")], layers=("water",)))
    s.save_tiles(_tiles(spark, [(6, 9, 9, b"A")], layers=("admin",)))
    rows = {(r.zoom, r.x, r.y): r for r in s.read().collect()}
    r2 = rows[(2, 1, 0)]
    assert bytes(r2.water_data) == b"W" and r2.admin_data is None
    r6 = rows[(6, 9, 9)]
    assert bytes(r6.admin_data) == b"A" and r6.water_data is None


def test_tileset_diff(spark):
    """added / removed / changed classification; identical tiles absent;
    null payload distinct from empty string."""
    from tilekiln_spark.storage.tilestore import tileset_diff

    old = spark.createDataFrame(
        [(1, 0, 0, b"a"), (1, 0, 1, b"b"), (1, 1, 0, b"c"), (1, 1, 1, None)],
        "zoom int, x int, y int, d binary",
    )
    new = spark.createDataFrame(
        [(1, 0, 0, b"a"), (1, 0, 1, b"B"), (1, 2, 0, b"n"), (1, 1, 1, b"")],
        "zoom int, x int, y int, d binary",
    )
    got = {(r.zoom, r.x, r.y): r.status for r in
           tileset_diff(old, new, value_cols=("d",)).collect()}
    assert got == {
        (1, 0, 1): "changed",
        (1, 1, 0): "removed",
        (1, 2, 0): "added",
        (1, 1, 1): "changed",   # null -> '' IS a change
    }


def test_tileset_diff_shuffles_fingerprints_not_blobs(spark):
    from tilekiln_spark.storage.tilestore import tileset_diff

    old = spark.createDataFrame([(1, 0, 0, b"x" * 100)], "zoom int, x int, y int, d binary")
    new = spark.createDataFrame([(1, 0, 0, b"y" * 100)], "zoom int, x int, y int, d binary")
    plan = tileset_diff(old, new, value_cols=("d",))._jdf.queryExecution() \
        .executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # the md5 fingerprint project sits BELOW the exchange (parents print
    # first): fingerprints shuffle, blobs don't
    assert "md5" in final and "Exchange hashpartitioning" in final
    assert final.index("Exchange hashpartitioning") < final.index("md5")


def test_tileset_diff_no_separator_or_null_collisions(spark):
    """Per-column hashing: byte sequences crossing column boundaries and
    null-vs-sentinel payloads never collide (review fix)."""
    import pytest as _pytest

    from tilekiln_spark.storage.tilestore import tileset_diff

    old = spark.createDataFrame(
        [(1, 0, 0, b"a\x00", b"b"), (1, 0, 1, None, b"q")],
        "zoom int, x int, y int, d1 binary, d2 binary",
    )
    new = spark.createDataFrame(
        [(1, 0, 0, b"a", b"\x00b"), (1, 0, 1, b"\x01", b"q")],
        "zoom int, x int, y int, d1 binary, d2 binary",
    )
    got = {(r.x, r.y): r.status for r in
           tileset_diff(old, new, value_cols=("d1", "d2")).collect()}
    assert got == {(0, 0): "changed", (0, 1): "changed"}
    with _pytest.raises(ValueError, match="value_cols"):
        tileset_diff(old, new)


def test_get_tile_matches_spark_read_across_snapshots(spark, tmp_path):
    """The snapshot-file lookup returns what the Spark table read collects:
    same bytes, same Nones, `generated` equal to the microsecond — through
    partial-layer writes, a layer column carried-forward partitions predate,
    keyed and layer deletes and a partition drop."""
    s = TileStore(spark, str(tmp_path), "parity")
    s.create(layers=["water", "admin", "roads"], minzoom=0, maxzoom=14, tilejson="{}")

    def check():
        df = s.read()
        gens = [c for c in df.columns if c.endswith("_generated")]
        datas = [c for c in df.columns if c.endswith("_data")]
        want = {
            (r.zoom, r.x, r.y): (
                r.generated,
                {c[: -len("_data")]: None if r[c] is None else bytes(r[c]) for c in datas},
            )
            for r in df.select("zoom", "x", "y", F.greatest(*gens).alias("generated"), *datas)
            .collect()
        }
        keys = [(z, x, y) for z in (2, 3) for x in range(2**z) for y in range(2**z)]
        keys += [(4, 5, 5), (4, 15, 0), (4, 0, 15), (5, 0, 0)]  # (5, 0, 0): no partition
        assert set(want) <= set(keys)
        for key in keys:
            got = s.get_tile(*key)
            if key not in want:
                assert got is None, key
                continue
            gen, blobs = got
            assert (gen, blobs) == want[key], key
            assert all(v is None or type(v) is bytes for v in blobs.values())

    both = [
        (2, 0, 0, b"W200", b"A200"), (2, 1, 0, b"W210", None), (2, 3, 2, b"W232", b"A232"),
        (3, 0, 0, b"W300", b"A300"), (3, 2, 5, b"W325", b"A325"), (3, 7, 7, b"W377", b"A377"),
        (4, 5, 5, b"W455", b"A455"),
    ]
    s.save_tiles(_tiles(spark, both, layers=("water", "admin")))
    check()
    # water only at z3: changed, unchanged and new keys
    s.save_tiles(_tiles(spark, [(3, 2, 5, b"W325b"), (3, 7, 7, b"W377"), (3, 1, 6, b"W316")]))
    check()
    # a layer column only z3's new files carry; z2 and z4 are carried forward
    s.save_tiles(_tiles(spark, [(3, 2, 5, b"R325"), (3, 0, 0, b"R300")], layers=("roads",)))
    assert set(s._manifest(s.current_snapshot())["zooms"].values()) == {"v1", "v3"}
    check()
    s.delete_layers(spark.createDataFrame([(3, 7, 7)], "zoom int, x int, y int"), ["admin"])
    check()
    s.delete_tiles(spark.createDataFrame([(3, 0, 0)], "zoom int, x int, y int"))
    check()
    s.delete_zooms([4])
    check()


def test_get_tile_runs_no_spark_job(store, spark):
    store.save_tiles(_tiles(spark, [(2, 1, 0, b"A"), (3, 1, 0, b"B")]))
    store.delete_zooms([3])
    sc = spark.sparkContext
    group = "tilestore-get-tile-no-job"
    sc.setJobGroup(group, "get_tile must not run a Spark job")
    try:
        assert store.get_tile(2, 1, 0)[1] == {"water": b"A"}
        assert store.get_tile(2, 0, 0) is None  # miss in a stored zoom
        assert store.get_tile(3, 1, 0) is None  # dropped zoom
        assert store.get_tile(4, 0, 0) is None  # zoom never written
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # the group does see this thread's jobs
        store.read().count()
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_get_tile_reads_row_groups_of_foreign_files(spark, tmp_path):
    """A partition of several files and small row groups, one file without
    statistics, Spark's INT96 timestamps and non-data files beside them:
    the lookup returns what it returned on the files Spark wrote."""
    s = TileStore(spark, str(tmp_path), "rg")
    s.create(layers=["water", "admin"], minzoom=0, maxzoom=14, tilejson="{}")
    rows = [
        (3, x, y, b"W%d%d" % (x, y), None if (x + y) % 3 == 0 else b"A%d%d" % (x, y))
        for x in range(8) for y in range(8) if (x * 5 + y * 3) % 4 != 1
    ]
    s.save_tiles(_tiles(spark, rows, layers=("water", "admin")))
    keys = [(3, x, y) for x in range(8) for y in range(8)]
    want = {k: s.get_tile(*k) for k in keys}
    absent = [k for k, v in want.items() if v is None]
    assert len(absent) == 64 - len(rows) and absent

    pdir = s._partitions(s._manifest(s.current_snapshot()))[3]
    t = pq.read_table(pdir).sort_by([("x", "ascending"), ("y", "ascending")])
    for name in os.listdir(pdir):
        os.remove(os.path.join(pdir, name))
    half = t.num_rows // 2
    for name, part, stats in (("part-a.parquet", t.slice(0, half), True),
                              ("part-b.parquet", t.slice(half), False)):
        pq.write_table(part, os.path.join(pdir, name), row_group_size=3,
                       write_statistics=stats, use_deprecated_int96_timestamps=True)
    with open(os.path.join(pdir, ".part-a.parquet.crc"), "wb") as f:
        f.write(b"not parquet")
    open(os.path.join(pdir, "_SUCCESS"), "w").close()

    # some absent key lies inside a row group's x/y range: statistics alone
    # cannot rule it out, the row filter must
    md = pq.read_metadata(os.path.join(pdir, "part-a.parquet"))
    assert [md.schema.column(c).path for c in (0, 1)] == ["x", "y"]
    ranges = []
    for i in range(md.num_row_groups):
        sx, sy = (md.row_group(i).column(c).statistics for c in (0, 1))
        ranges.append((sx.min, sx.max, sy.min, sy.max))
    assert any(
        x0 <= x <= x1 and y0 <= y <= y1 for _, x, y in absent for x0, x1, y0, y1 in ranges
    )
    md = pq.read_metadata(os.path.join(pdir, "part-b.parquet"))
    assert not any(md.row_group(i).column(0).is_stats_set for i in range(md.num_row_groups))
    for k in keys:
        assert s.get_tile(*k) == want[k], k


def test_commit_files_are_never_torn(store, spark):
    """Readers racing metadata and snapshot commits see whole files."""
    store.save_tiles(_tiles(spark, [(2, 1, 0, b"W")]))
    errors = []
    reads = [0] * 5  # more reader threads than the suite's usual 4 cores
    stop = threading.Event()

    def reader(k):
        while not stop.is_set():
            try:
                store.current_snapshot()
                store.metadata()
                assert store.get_tile(2, 1, 0)[1]["water"] == b"W"
            except Exception as e:  # a torn file shows as any of several errors
                errors.append(e)
                return
            reads[k] += 1

    threads = [threading.Thread(target=reader, args=(k,)) for k in range(len(reads))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for i in range(100):
            store.set_metadata(0, 14, "{}" if i % 2 else '{"tilejson": "3.0.0"}')
            store.delete_zooms([])
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=30)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert all(reads)
