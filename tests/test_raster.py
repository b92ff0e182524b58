"""Raster <-> vector operators (north_rule family)."""

import numpy as np
import pyspark.sql.functions as F

from tilekiln_spark.operators.raster import raster_grids, rasterize, vectorize
from tilekiln_spark.operators.spatial_join import points_in_polygons
from tilekiln_spark.operators.tiling import pages_geo
from tilekiln_spark.sources.pages import pages


def test_rasterize_counts_and_grid_blob(spark):
    pts = pages_geo(pages(spark, 600)).cache()
    rr = rasterize(pts, zoom=1, res=8).cache()
    assert rr.agg(F.sum("n")).head()[0] == 600  # every point lands in a bin
    grids = {(r.zoom, r.x, r.y): r for r in raster_grids(rr, res=8).collect()}
    rows = rr.collect()
    by_tile = {}
    for r in rows:
        by_tile.setdefault((r.zoom, r.x, r.y), {})[(r.bin_x, r.bin_y)] = r.n
    assert grids.keys() == by_tile.keys()
    for key, g in grids.items():
        arr = np.frombuffer(bytes(g.grid), dtype=np.uint32).reshape(8, 8)
        assert g.n_points == sum(by_tile[key].values())
        for (bx, by), n in by_tile[key].items():
            assert arr[by, bx] == n
        assert arr.sum() == g.n_points
    rr.unpersist()
    pts.unpersist()


def test_vectorize_feeds_spatial_join(spark):
    # raster -> vector cells -> join points back: every point in a kept cell
    # must fall inside that cell's polygon
    pts = pages_geo(pages(spark, 400)).cache()
    rr = rasterize(pts, zoom=0, res=4)
    cells = vectorize(rr, res=4, threshold=5).withColumn(
        "polygon_id", (F.col("bin_y") * 4 + F.col("bin_x")).cast("long")
    )
    joined = points_in_polygons(pts, cells.select(
        "polygon_id", "n", "xmin", "ymin", "xmax", "ymax", "ring_xs", "ring_ys"
    ), how="broadcast")
    # each joined point's cell count n >= threshold, and per-cell join count
    # equals the raster count (cell edges are half-open in raster, closed in
    # PIP — boundary hits are measure-zero for hash-scattered points)
    per_cell = {r.polygon_id: r["cnt"] for r in joined.groupBy("polygon_id").agg(F.count("*").alias("cnt")).collect()}
    expected = {r.polygon_id: r.n for r in cells.collect()}
    assert per_cell == expected
    pts.unpersist()


def test_zonal_stats_matches_brute_force(spark):
    """zonal_stats == driver-side recompute: rasterize, take cell centers,
    point-in-rectangle by hand, aggregate with numpy."""
    from tilekiln_spark.operators.raster import cell_centers, zonal_stats
    from tilekiln_spark.tiles.core import HALF_WORLD

    pts = pages_geo(pages(spark, 700)).cache()
    rr = rasterize(pts, zoom=1, res=8).cache()
    n = 4
    cell = 2.0 * HALF_WORLD / n
    polys = spark.range(n * n).select(
        F.col("id").alias("polygon_id"),
        (F.lit(-HALF_WORLD) + (F.col("id") % n) * cell + 0.05 * cell).alias("xmin"),
        (F.lit(-HALF_WORLD) + F.floor(F.col("id") / n) * cell + 0.05 * cell).alias("ymin"),
    )
    polys = (
        polys.withColumn("xmax", F.col("xmin") + 0.9 * cell)
        .withColumn("ymax", F.col("ymin") + 0.9 * cell)
        .withColumn("ring_xs", F.array("xmin", "xmax", "xmax", "xmin"))
        .withColumn("ring_ys", F.array("ymin", "ymin", "ymax", "ymax"))
    )
    got = {
        r.polygon_id: (r.n_cells, r.total, r.mean_val, r.min_val, r.max_val)
        for r in zonal_stats(rr, polys, res=8, grid_zoom=3).collect()
    }
    centers = cell_centers(rr, res=8).collect()
    pdf = polys.collect()
    expected = {}
    for p in pdf:
        ns = [
            c.n
            for c in centers
            if p.xmin <= c.mx <= p.xmax and p.ymin <= c.my <= p.ymax
        ]
        if ns:
            a = np.array(ns, dtype=np.int64)
            expected[p.polygon_id] = (
                len(ns), int(a.sum()), round(float(a.mean()), 6),
                int(a.min()), int(a.max()),
            )
    assert got == expected
    assert expected, "fixture must cover at least one zone"
    rr.unpersist()
    pts.unpersist()


def test_hillshade_flat_interior(spark):
    """A constant raster shades flat in the interior: slope 0 ->
    shade = 255*cos(zenith); border cells see the implicit 0 plain and
    slope away.  Present-cell restriction: output rows == input cells."""
    import math

    from tilekiln_spark.operators.raster import hillshade

    rows = [(0, 0, 0, bx, by, 7) for bx in range(4) for by in range(4)]
    cells = spark.createDataFrame(
        rows, "zoom int, x int, y int, bin_x int, bin_y int, n long"
    )
    out = {(r.gx, r.gy): r.shade for r in hillshade(cells, res=4).collect()}
    assert len(out) == 16
    flat = 255.0 * math.cos(math.radians(45.0))
    for gx in (1, 2):
        for gy in (1, 2):
            assert abs(out[(gx, gy)] - flat) < 1e-6, (gx, gy)
    # corners have a downhill gradient toward the missing neighbors
    assert out[(0, 0)] != out[(1, 1)]
    assert all(0.0 <= v <= 255.0 for v in out.values())


def test_kde_density_goldens(spark):
    """Single point at a cell center: exact Epanechnikov weights at the
    own cell (0.75), axis neighbor (5/12), diagonal neighbor (1/12);
    bounded support drops cells past the bandwidth; two coincident points
    double every weight."""
    import pytest

    from tilekiln_spark.operators.raster import kde_density

    pt = spark.createDataFrame(
        [(1.25e6, 1.25e6)], "mx double, my double"
    )
    got = {
        (r.ix, r.iy): r.density
        for r in kde_density(pt, cell=2.5e6, bandwidth=3.75e6).collect()
    }
    assert got[(0, 0)] == 0.75
    assert got[(1, 0)] == pytest.approx(5.0 / 12.0, rel=1e-12)
    assert got[(0, -1)] == pytest.approx(5.0 / 12.0, rel=1e-12)
    assert got[(1, 1)] == pytest.approx(1.0 / 12.0, rel=1e-12)
    assert (2, 0) not in got  # dist 5000 km > bandwidth 3750 km
    assert set(got) == {
        (ix, iy) for ix in (-1, 0, 1) for iy in (-1, 0, 1)
    }

    two = spark.createDataFrame(
        [(1.25e6, 1.25e6), (1.25e6, 1.25e6)], "mx double, my double"
    )
    got2 = {
        (r.ix, r.iy): r.density
        for r in kde_density(two, cell=2.5e6, bandwidth=3.75e6).collect()
    }
    assert got2[(0, 0)] == 1.5

    with pytest.raises(ValueError, match="positive"):
        kde_density(pt, cell=0.0, bandwidth=1.0)


def test_pyramid_levels_sum_and_counts(spark):
    """pyramid: 4x4 ones -> four 2x2 cells of 4 at level 1, one cell of
    16 at level 2; mass conserved per level; n_cells counts level-0
    contributors; cross-tile cells lift to global coords."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tilekiln_spark.operators.raster import pyramid

    rows = [(2, 0, 0, bx, by, 1) for bx in range(4) for by in range(4)]
    rows.append((2, 1, 0, 0, 0, 7))  # adjacent tile: gx=4 -> level1 cx=2
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["zoom", "x", "y", "bin_x", "bin_y", "n"]),
        "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    out = pyramid(df, res=4, levels=2)
    got = {
        (r.level, r.cx, r.cy): (r.total_n, r.n_cells) for r in out.collect()
    }
    assert got[(1, 0, 0)] == (4, 4)
    assert got[(1, 1, 1)] == (4, 4)
    assert got[(1, 2, 0)] == (7, 1)
    assert got[(2, 0, 0)] == (16, 16)
    assert got[(2, 1, 0)] == (7, 1)
    # mass conservation at every level
    sums = {r.level: r.s for r in
            out.groupBy("level").agg(F.sum("total_n").alias("s")).collect()}
    assert sums == {1: 23, 2: 23}


def test_slope_aspect_ramp_and_flat(spark):
    """A unit ramp in +x gives slope 45deg / aspect 180 (downslope = -x);
    a flat plateau gives slope 0 / aspect -1 at the interior cell."""
    from tilekiln_spark.operators.raster import slope_aspect

    ramp = spark.createDataFrame(
        [(0, 0, 0, gx, gy, gx) for gx in (4, 5, 6) for gy in (4, 5, 6)],
        "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    r = {(row.gx, row.gy): row for row in slope_aspect(ramp, res=16).collect()}
    center = r[(5, 5)]
    assert center.slope_deg == 45.0
    assert center.aspect_deg == 180.0

    flat = spark.createDataFrame(
        [(0, 0, 0, gx, gy, 7) for gx in (4, 5, 6) for gy in (4, 5, 6)],
        "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    f = {(row.gx, row.gy): row for row in slope_aspect(flat, res=16).collect()}
    assert f[(5, 5)].slope_deg == 0.0
    assert f[(5, 5)].aspect_deg == -1.0


def test_terrain_measures_ramp_and_flat(spark):
    """Unit ramp in +x at the interior cell: the window is three columns
    4/5/6, so diffs from center are (-1,0,1)x3 -> TRI Riley sqrt(6),
    TRI Wilson 6/8, TPI 0, roughness 2.  A flat plateau zeroes all four."""
    from tilekiln_spark.operators.raster import terrain_measures

    ramp = spark.createDataFrame(
        [(0, 0, 0, gx, gy, gx) for gx in (4, 5, 6) for gy in (4, 5, 6)],
        "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    r = {(row.gx, row.gy): row for row in terrain_measures(ramp, res=16).collect()}
    center = r[(5, 5)]
    assert center.tri_riley == round(6.0**0.5, 6)
    assert center.tri_wilson == 0.75
    assert center.tpi == 0.0
    assert center.roughness == 2.0

    flat = spark.createDataFrame(
        [(0, 0, 0, gx, gy, 7) for gx in (4, 5, 6) for gy in (4, 5, 6)],
        "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    f = {(row.gx, row.gy): row for row in terrain_measures(flat, res=16).collect()}
    assert f[(5, 5)].tri_riley == 0.0
    assert f[(5, 5)].tri_wilson == 0.0
    assert f[(5, 5)].tpi == 0.0
    assert f[(5, 5)].roughness == 0.0


def test_resample_bilinear_single_cell(spark):
    """2x bilinear upsample of one hot cell: 4 windows x 4 subpixels,
    hand-verified weights, and mass conservation (sum == v * factor^2 / ...
    each corner's weights sum to 1 per window, 4 windows -> total 4v)."""
    from tilekiln_spark.operators.raster import resample_bilinear

    cells = spark.createDataFrame(
        [(0, 0, 0, 5, 5, 4)], "zoom int, x int, y int, bin_x int, bin_y int, n long"
    )
    rows = resample_bilinear(cells, factor=2, res=16).collect()
    assert len(rows) == 16
    vals = {(r.opx, r.opy): r.value for r in rows}
    # nearest subpixels to the hot center (cell center at 5.5 -> global
    # 11 in 2x coords): weight 0.5625 * 4 = 2.25
    assert vals[(11, 11)] == 2.25
    assert vals[(10, 10)] == 2.25
    assert vals[(12, 12)] == 0.25
    assert vals[(9, 9)] == 0.25
    # the 4 subpixels nearest the hot center all sit 0.25 grid units away
    assert vals[(11, 10)] == 2.25
    # edge ring: 0.25 away in one axis, 0.75 in the other
    assert vals[(9, 10)] == 0.75
    assert abs(sum(vals.values()) - 16.0) < 1e-9


def test_hotspot_gistar_single_hot_cell(spark):
    """One hot cell (v=9) in a sea of 1s over a 4x4 present bbox: the hot
    cell's full window holds the most mass -> max z; the far corner's
    window holds the least -> min z.  Hand-checked moments: N=16,
    total=24, X-bar=1.5.  (N=9 would zero the denominator -- the nullif
    degenerate-guard case, asserted separately.)"""
    from tilekiln_spark.operators.raster import hotspot_gistar

    rows = [(0, 0, 0, gx, gy, 9 if (gx, gy) == (5, 5) else 1)
            for gx in (4, 5, 6, 7) for gy in (4, 5, 6, 7)]
    cells = spark.createDataFrame(
        rows, "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    out = {(r.gx, r.gy): r.gi_z for r in hotspot_gistar(cells, res=16).collect()}
    n, tot, tot2, w = 16.0, 24.0, 15 * 1.0 + 81.0, 9.0
    xbar = tot / n
    sdev = (tot2 / n - xbar * xbar) ** 0.5
    denom = sdev * ((n * w - w * w) / (n - 1.0)) ** 0.5
    # hot center: window (4..6)x(4..6) fully present = 8 ones + 9 = 17
    assert out[(5, 5)] == round((17.0 - xbar * w) / denom, 6)
    # far corner (7,7): window (6..8)x(6..8) -> 4 present ones = 4
    assert out[(7, 7)] == round((4.0 - xbar * w) / denom, 6)
    assert out[(5, 5)] > 0.0 > out[(7, 7)]


def test_hotspot_gistar_degenerate_region_nulls(spark):
    """A 3x3 study region makes N*W - W^2 = 0: the nullif guard emits
    NULL z instead of an ANSI divide-by-zero failure."""
    from tilekiln_spark.operators.raster import hotspot_gistar

    rows = [(0, 0, 0, gx, gy, gx) for gx in (4, 5, 6) for gy in (4, 5, 6)]
    cells = spark.createDataFrame(
        rows, "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    out = hotspot_gistar(cells, res=16).collect()
    assert len(out) == 9 and all(r.gi_z is None for r in out)


def test_morans_i_checkerboard_vs_block(spark):
    """Perfect 4x4 checkerboard of 0/2 (encoded by presence: only the 2s
    are present cells) is dispersed -> negative I
    (queen weights include the SAME-color diagonals, so the checkerboard
    lands at exactly -1/7, brute-force-verified, not at rook's -1); a
    solid block split is clustered -> positive I.  Closed-form
    pins: bbox_n = a*b, sw = 2(a-1)b + 2a(b-1) + 4(a-1)(b-1)."""
    from tilekiln_spark.operators.raster import morans_i

    checker = [(0, 0, 0, gx, gy, 2)
               for gx in range(4) for gy in range(4) if (gx + gy) % 2 == 0]
    c = spark.createDataFrame(
        checker, "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    rc = morans_i(c, res=16).collect()[0]
    assert rc.bbox_n == 16 and rc.sw == 2 * 3 * 4 + 2 * 4 * 3 + 4 * 9
    assert rc.n_present == 8
    assert rc.moran_i == round(-1.0 / 7.0, 6)

    block = [(0, 0, 0, gx, gy, 2)
             for gx in range(2) for gy in range(4)]
    # widen bbox to 4 columns with a lone far cell column marker
    block += [(0, 0, 0, 3, 0, 2)]
    b = spark.createDataFrame(
        block, "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    rb = morans_i(b, res=16).collect()[0]
    assert rb.bbox_n == 16
    assert rb.moran_i > 0.0


def test_local_morans_brute_force(spark):
    """LISA on a 4x4 grid with a hot 2x2 corner: every cell's local_i and
    quadrant match an independent brute-force PySAL-convention recompute
    (row-standardized queen weights, m2 with the n denominator, bbox
    study region with absent cells as 0-valued observations)."""
    from tilekiln_spark.operators.raster import local_morans

    vals = {(gx, gy): (9 if gx < 2 and gy < 2 else 1)
            for gx in range(4) for gy in range(4)}
    # knock one cell out entirely: absent => 0-valued observation in the
    # study region, and it must NOT appear in the output
    del vals[(3, 3)]
    rows = [(0, 0, 0, gx, gy, v) for (gx, gy), v in vals.items()]
    cells = spark.createDataFrame(
        rows, "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    out = {(r.gx, r.gy): (r.local_i, r.quad)
           for r in local_morans(cells, res=16).collect()}
    assert set(out) == set(vals)

    n = 16.0
    tot = float(sum(vals.values()))
    xbar = tot / n
    m2 = (sum(v * v for v in vals.values()) - n * xbar * xbar) / n
    for (gx, gy), v in vals.items():
        nbrs = [(gx + dx, gy + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                if not (dx == 0 and dy == 0)
                and 0 <= gx + dx <= 3 and 0 <= gy + dy <= 3]
        lag = sum(float(vals.get(p, 0)) - xbar for p in nbrs) / len(nbrs)
        zi = v - xbar
        li = zi * lag / m2
        got_i, got_q = out[(gx, gy)]
        assert abs(got_i - li) < 1e-6, (gx, gy)
        exp_q = ("HH" if zi > 0 and lag > 0 else
                 "LL" if zi < 0 and lag < 0 else
                 "HL" if zi > 0 and lag < 0 else
                 "LH" if zi < 0 and lag > 0 else "NA")
        assert got_q == exp_q, (gx, gy)
    # the hot corner interior is HH; the far all-1 region is LL
    assert out[(0, 0)][1] == "HH"
    assert out[(3, 0)][1] == "LL"


def test_local_morans_degenerate_all_equal(spark):
    """All-present all-equal raster: m2 = 0 -> NULL local_i, quad 'NA'
    on every cell (the nullif guard, same contract as global Moran)."""
    from tilekiln_spark.operators.raster import local_morans

    rows = [(0, 0, 0, gx, gy, 3) for gx in range(3) for gy in range(3)]
    cells = spark.createDataFrame(
        rows, "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    out = local_morans(cells, res=16).collect()
    assert len(out) == 9
    assert all(r.local_i is None and r.quad == "NA" for r in out)


def test_viewshed_wall_shadow(spark):
    """Observer on the tallest cell (h=9 at gx=0); a wall of height 5 at
    gx=2 shadows the low cells behind it on the same row: at gx=3..4
    (h=1) the wall's tangent from the observer exceeds the target's, so
    they are blocked; the wall itself is visible; cells in front are
    visible.  A clear row (gy=1, all h=1) is fully visible."""
    from tilekiln_spark.operators.raster import viewshed

    rows = []
    for gx in range(5):
        h = {0: 9, 2: 5}.get(gx, 1)
        rows.append((0, 0, 0, gx, 0, h))
        rows.append((0, 0, 0, gx, 1, 9 if gx == 0 else 1))
    # avoid a second 9 winning the argmax tiebreak: make (0,1) lower
    rows = [(z, x, y, bx, by, 8 if (bx, by) == (0, 1) else n)
            for (z, x, y, bx, by, n) in rows]
    cells = spark.createDataFrame(
        rows, "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    got = {(r.gx, r.gy): r.visible for r in viewshed(cells, res=16).collect()}
    assert got[(1, 0)] is True     # in front of the wall
    assert got[(2, 0)] is True     # the wall itself
    # behind the wall: target tangent (1-9)/3 = -2.67 vs wall (5-9)/2 = -2
    assert got[(3, 0)] is False
    assert got[(4, 0)] is False
    assert all(got[(gx, 1)] for gx in range(1, 5))  # clear row visible
    assert (0, 0) not in got          # the observer cell is excluded
    assert got[(0, 1)] is True        # adjacent below the observer


def test_proximity_single_source_rings(spark):
    """One source cell: dist is the exact Euclidean offset norm out to
    maxdist, nothing beyond (the knight cell sqrt(5) > 2 is already
    outside the circle bound); the source is 0."""
    import pytest

    from tilekiln_spark.operators.raster import proximity

    cells = spark.createDataFrame(
        [(0, 0, 0, 8, 8, 3)],
        "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    got = {(r.gx, r.gy): r.dist for r in proximity(cells, res=16, maxdist=2).collect()}
    assert got[(8, 8)] == 0.0
    assert got[(9, 8)] == 1.0
    assert got[(9, 9)] == round(2.0 ** 0.5, 6)
    assert (10, 9) not in got          # knight move: sqrt(5) > maxdist
    assert got[(10, 8)] == 2.0
    assert (11, 8) not in got          # beyond maxdist
    assert (10, 10) not in got         # d2 = 8 > 4
    assert len(got) == 13              # |{d2 <= 4}| = 13 cells

    with pytest.raises(ValueError, match="maxdist"):
        proximity(cells, res=16, maxdist=0)


def test_focal_majority_mode_ties_and_zero_bucket(spark):
    """Hand-verified 3x3-bbox fixture with an absent bottom row: the
    center's window ties 5/7/zeros 3-way -> 0 wins (smallest); an edge
    cell ties 5 vs 7 with no zeros -> 5 (smallest value); corners and
    edges use their clipped window sizes for the zero bucket; absent
    cells emit no row."""
    from tilekiln_spark.operators.raster import focal_majority

    vals = {(0, 0): 5, (1, 0): 5, (2, 0): 7,
            (0, 1): 5, (1, 1): 7, (2, 1): 7,
            (2, 2): 1}  # widen bbox to 3 rows; bottom row mostly absent
    rows = [(0, 0, 0, gx, gy, v) for (gx, gy), v in vals.items()]
    cells = spark.createDataFrame(
        rows, "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    out = {(r.gx, r.gy): r.majority for r in focal_majority(cells, res=16).collect()}
    assert set(out) == set(vals)
    # corner (0,0): window {5,5,5,7}, no zeros -> 5
    assert out[(0, 0)] == 5
    # edge (1,0): window {5,5,7,5,7,7} -> 3-3 tie, no zeros -> 5
    assert out[(1, 0)] == 5
    # center (1,1): 9-cell window, present {5,5,7,5,7,7}+1@(2,2) ->
    # v5x3, v7x3, v1x1, zeros=2 -> 5/7 tie at 3 beats zeros -> 5
    assert out[(1, 1)] == 5
    # (2,1): window {5,7,7,7,1} + 1 zero -> 7
    assert out[(2, 1)] == 7
    # (2,2): window {7,7,1} + 1 zero -> 7
    assert out[(2, 2)] == 7


def test_focal_majority_zeros_dominate_sparse_cell(spark):
    """A lone present cell in a wide bbox: its window is 8 zeros + its
    own value -> majority 0."""
    from tilekiln_spark.operators.raster import focal_majority

    rows = [(0, 0, 0, 1, 1, 9), (0, 0, 0, 4, 4, 9)]
    cells = spark.createDataFrame(
        rows, "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    out = {(r.gx, r.gy): r.majority for r in focal_majority(cells, res=16).collect()}
    assert out == {(1, 1): 0, (4, 4): 0}


def test_quadrat_dispersion_hand_moments(spark):
    """2x2 bbox with counts {4, 2, absent(0), 2}: N=4, mean 2,
    sample var = (16+4+4+0 - 4*4)/3 = 8/3 -> VMR 4/3, chi2 = 3*VMR = 4.
    A uniform all-equal raster gives VMR 0; a single cell gives NULLs
    (N-1 = 0)."""
    from tilekiln_spark.operators.raster import quadrat_dispersion

    rows = [(0, 0, 0, 0, 0, 4), (0, 0, 0, 1, 0, 2), (0, 0, 0, 1, 1, 2)]
    cells = spark.createDataFrame(
        rows, "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    r = quadrat_dispersion(cells, res=16).collect()[0]
    assert (r.n_present, r.bbox_n, r.total_pts) == (3, 4, 8)
    assert abs(r.vmr - 4.0 / 3.0) < 1e-12
    assert abs(r.chi2 - 4.0) < 1e-12

    uni = spark.createDataFrame(
        [(0, 0, 0, bx, by, 3) for bx in range(2) for by in range(2)],
        "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    ru = quadrat_dispersion(uni, res=16).collect()[0]
    assert ru.vmr == 0.0 and ru.chi2 == 0.0

    solo = spark.createDataFrame(
        [(0, 0, 0, 5, 5, 7)],
        "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    rs = quadrat_dispersion(solo, res=16).collect()[0]
    assert rs.bbox_n == 1 and rs.vmr is None and rs.chi2 is None


def test_general_g_hot_corner_vs_dispersed(spark):
    """General G brute-force check on a 3x3 grid: clustered mass (two
    adjacent hot cells) gives G above E[G]; the same values placed at
    opposite corners give G below E[G].  Exact sums verified by hand:
    cross = sum x_i*S8_i over present cells, denom = tot^2 - tot2,
    E[G] = SW/(N(N-1)) with SW = 2*2*3 + 2*3*2 + 4*4 = 40, N = 9."""
    from tilekiln_spark.operators.raster import general_g

    def run(cells):
        rows = [(0, 0, 0, gx, gy, v) for gx, gy, v in cells]
        df = spark.createDataFrame(
            rows, "zoom int, x int, y int, bin_x int, bin_y int, n long",
        )
        return general_g(df, res=16).collect()[0]

    # corners of a 3x3 bbox mark the region; hot pair adjacent at center
    clustered = [(0, 0, 1), (2, 2, 1), (1, 1, 5), (1, 2, 5)]
    rc = run(clustered)
    assert rc.bbox_n == 9
    # cross: (0,0):nbr(1,1)=5 ->5; (2,2):nbrs(1,1)+(1,2)=10 ->10;
    # (1,1):nbrs 1+5+1=7 ->35; (1,2):nbrs 5+1=6 ->30; total 80
    # denom: tot=12, tot2=52 -> 144-52=92
    assert abs(rc.g_obs - 80.0 / 92.0) < 1e-12
    assert abs(rc.g_exp - 40.0 / 72.0) < 1e-12
    assert rc.g_obs > rc.g_exp

    dispersed = [(0, 0, 5), (2, 2, 5), (0, 2, 1), (2, 0, 1)]
    rd = run(dispersed)
    # no two present cells adjacent -> cross = 0
    assert rd.g_obs == 0.0 and rd.g_obs < rd.g_exp


def test_join_counts_checkerboard_and_block(spark):
    """Join counts on a 3x3 bbox, hand-verified: a solid 2x2 Black block
    in the corner gives BB=6 (4 rook + 2 diagonal), and the checker
    pattern of the same 4 Blacks at the corners gives BB=0 with every
    Black-adjacent pair BW.  SW/2 = 20 for 3x3; WW closes the identity.
    Threshold classifies: counts below it are White even when present."""
    from tilekiln_spark.operators.raster import join_counts

    def run(blacks, whites=()):
        rows = [(0, 0, 0, gx, gy, 5) for gx, gy in blacks]
        rows += [(0, 0, 0, gx, gy, 1) for gx, gy in whites]
        df = spark.createDataFrame(
            rows, "zoom int, x int, y int, bin_x int, bin_y int, n long",
        )
        return join_counts(df, threshold=2, res=16).collect()[0]

    # block: Blacks at (0,0),(1,0),(0,1),(1,1); (2,2) present-White
    # marks the 3x3 bbox
    rb = run([(0, 0), (1, 0), (0, 1), (1, 1)], whites=[(2, 2)])
    assert (rb.n_black, rb.bbox_n) == (4, 9)
    assert rb.bb_obs == 6
    # BW: block cell (1,1) touches whites (2,0),(2,1),(2,2),(0,2),(1,2);
    # (1,0)->(2,0),(2,1); (0,1)->(0,2),(1,2); total 5+2+2 = 9... plus
    # corner diagonals (1,0)->(0,2)? not adjacent. Trust identity:
    assert rb.bb_obs + rb.bw_obs + rb.ww_obs == 20
    assert abs(rb.bb_exp - 20.0 * 4 * 3 / (9 * 8)) < 1e-12

    # corners: Blacks at the 4 bbox corners -> no two adjacent
    rc = run([(0, 0), (2, 0), (0, 2), (2, 2)])
    assert rc.bb_obs == 0
    assert rc.bb_obs + rc.bw_obs + rc.ww_obs == 20
    # every corner has 3 in-bbox neighbors, all White -> BW = 12
    assert rc.bw_obs == 12


def test_curvature_ramp_flat_and_peak(spark):
    """A linear ramp has zero curvature everywhere (second derivatives
    vanish, gradient nonzero so profile/plan are defined 0); a flat
    plateau NULLs profile/plan (gradient 0); an isolated peak cell z=10
    over a 7-ring gives D=E=-3, F=G=H=0 -> general=1200, NULL profile."""
    from tilekiln_spark.operators.raster import curvature_zt

    ramp = spark.createDataFrame(
        [(0, 0, 0, gx, gy, gx) for gx in (4, 5, 6) for gy in (4, 5, 6)],
        "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    r = {(row.gx, row.gy): row for row in curvature_zt(ramp, res=16).collect()}
    c = r[(5, 5)]
    assert c.curv_general == 0.0
    assert c.curv_profile == 0.0
    assert c.curv_plan == 0.0

    flat = spark.createDataFrame(
        [(0, 0, 0, gx, gy, 7) for gx in (4, 5, 6) for gy in (4, 5, 6)],
        "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    f = {(row.gx, row.gy): row for row in curvature_zt(flat, res=16).collect()}
    assert f[(5, 5)].curv_general == 0.0
    assert f[(5, 5)].curv_profile is None
    assert f[(5, 5)].curv_plan is None

    peak = spark.createDataFrame(
        [(0, 0, 0, gx, gy, 10 if (gx, gy) == (5, 5) else 7)
         for gx in (4, 5, 6) for gy in (4, 5, 6)],
        "zoom int, x int, y int, bin_x int, bin_y int, n long",
    )
    p = {(row.gx, row.gy): row for row in curvature_zt(peak, res=16).collect()}
    assert p[(5, 5)].curv_general == 1200.0
    assert p[(5, 5)].curv_profile is None


def test_geary_c_matches_brute_force_and_sign(spark):
    """geary_c == a numpy brute force over the dense bbox grid (queen
    weights, absent cells 0), and the sign convention holds: a smooth
    ramp clusters (C < 1), a checkerboard anti-clusters (C > 1)."""
    import numpy as np

    from tilekiln_spark.operators.raster import geary_c

    def brute(vals):  # vals: dict (gx,gy)->v
        xs = [g[0] for g in vals]; ys = [g[1] for g in vals]
        bx0, bx1, by0, by1 = min(xs), max(xs), min(ys), max(ys)
        a, b = bx1 - bx0 + 1, by1 - by0 + 1
        grid = np.zeros((a, b))
        for (gx, gy), v in vals.items():
            grid[gx - bx0, gy - by0] = v
        num = 0.0; sw = 0
        for i in range(a):
            for j in range(b):
                for di in (-1, 0, 1):
                    for dj in (-1, 0, 1):
                        if di == dj == 0:
                            continue
                        ii, jj = i + di, j + dj
                        if 0 <= ii < a and 0 <= jj < b:
                            num += (grid[i, j] - grid[ii, jj]) ** 2
                            sw += 1
        n = a * b
        den = ((grid - grid.mean()) ** 2).sum()
        return (n - 1) * num / (2 * sw * den)

    for name, vals in {
        "ramp": {(gx, gy): gx for gx in range(4, 9) for gy in range(4, 9)},
        "checker": {(gx, gy): 1 + ((gx + gy) % 2) * 8
                    for gx in range(4, 9) for gy in range(4, 9)},
    }.items():
        cells = spark.createDataFrame(
            [(0, 0, 0, gx, gy, v) for (gx, gy), v in vals.items()],
            "zoom int, x int, y int, bin_x int, bin_y int, n long",
        )
        row = geary_c(cells, res=16).collect()[0]
        assert row.geary == round(brute(vals), 6), name
        if name == "ramp":
            assert row.geary < 1.0
        else:
            assert row.geary > 1.0


def test_d8_flow_simple_slope(spark):
    # a 4x3 west-descending ramp (z depends on gx only): interior-row
    # cells flow W (16) with drop 10 — the cardinal beats the equal-drop
    # diagonals exactly (2*100 > 100); the west column drains off-grid W
    rows = [(0, 0, gx, gy, (gx + 1) * 10)
            for gx in range(4) for gy in range(3)]
    cells = spark.createDataFrame(rows, "x int, y int, bin_x int, bin_y int, n long")
    from tilekiln_spark.operators.raster import d8_flow

    out = {(r["gx"], r["gy"]): r for r in d8_flow(cells, res=16).collect()}
    # interior middle-row cells flow W; the west column drains off-grid W
    # with its own elevation; the EAST column's off-grid drop (40) beats
    # the interior slope and drains off-grid E — the documented edge rule
    for gx in range(1, 3):
        assert out[(gx, 1)]["d8"] == 16 and out[(gx, 1)]["drop"] == 10.0
    assert out[(0, 1)]["d8"] == 16 and out[(0, 1)]["drop"] == 10.0
    assert out[(3, 1)]["d8"] == 1 and out[(3, 1)]["drop"] == 40.0


def test_d8_diagonal_vs_cardinal_exact(spark):
    # center 10; cardinal drop 7 (S) vs diagonal drop 9 (SE):
    # 2*49=98 > 81 -> the CARDINAL wins despite the smaller drop
    rows = [
        (0, 0, 1, 1, 10),   # center
        (0, 0, 1, 2, 3),    # S: drop 7
        (0, 0, 2, 2, 1),    # SE: drop 9
        (0, 0, 0, 1, 10), (0, 0, 2, 1, 10),  # E/W neighbors flat
        (0, 0, 0, 0, 10), (0, 0, 1, 0, 10), (0, 0, 2, 0, 10),
        (0, 0, 0, 2, 10),
    ]
    cells = spark.createDataFrame(rows, "x int, y int, bin_x int, bin_y int, n long")
    from tilekiln_spark.operators.raster import d8_flow

    out = {(r["gx"], r["gy"]): r for r in d8_flow(cells, res=16).collect()}
    assert out[(1, 1)]["d8"] == 4 and out[(1, 1)]["drop"] == 7.0


def test_d8_sink_and_tiebreak(spark):
    # a 3x3 bowl: the center is a sink (code 0); the NW corner ties
    # between E and S (equal drops, both cardinal) -> smallest code E=1
    rows = [
        (0, 0, 0, 0, 9), (0, 0, 1, 0, 5), (0, 0, 2, 0, 9),
        (0, 0, 0, 1, 5), (0, 0, 1, 1, 1), (0, 0, 2, 1, 5),
        (0, 0, 0, 2, 9), (0, 0, 1, 2, 5), (0, 0, 2, 2, 9),
    ]
    cells = spark.createDataFrame(rows, "x int, y int, bin_x int, bin_y int, n long")
    from tilekiln_spark.operators.raster import d8_flow

    out = {(r["gx"], r["gy"]): r for r in d8_flow(cells, res=16).collect()}
    # center: own z=1, absent neighbors read 0 -> it still drops off?? no:
    # center is interior, all 8 neighbors present and higher -> sink
    assert out[(1, 1)]["d8"] == 0 and out[(1, 1)]["drop"] == 0.0
    # NW corner 9: E drop 4, S drop 4, SE drop 8 -> diagonal w=64 vs
    # cardinal w=32 -> SE wins outright here; check a genuine tie instead:
    # N-edge cell (1,0) z=5: W drop? absent N reads 0 -> drop 5 w=50 wins
    assert out[(1, 0)]["d8"] == 64  # drains off-grid north


def _bowl_cells(spark):
    # the driver fixture: 16x16 integer bowl + bump, one interior sink,
    # longest D8 path 8 — goldens hand-verified by a pure-python replica
    rows = [(0, 0, gx, gy, (gx - 8) ** 2 + (gy - 8) ** 2 + ((gx * 7 + gy * 3) % 5))
            for gx in range(16) for gy in range(16)]
    return spark.createDataFrame(
        rows, "x int, y int, bin_x int, bin_y int, n long")


def test_flow_accumulation_bowl_goldens(spark):
    from pyspark.sql import functions as F

    from tilekiln_spark.operators.raster import flow_accumulation

    acc = flow_accumulation(_bowl_cells(spark), res=16)
    rows = acc.collect()
    by = {(r["gx"], r["gy"]): r for r in rows}
    assert by[(8, 8)]["d8"] == 0          # the interior sink
    assert by[(8, 8)]["acc"] == 195       # collects 195 of 255 others
    assert sum(r["acc"] for r in rows) == 931
    assert sum(1 for r in rows if r["d8"] == 0) == 1


def test_flow_accumulation_raises_past_cap(spark):
    from tilekiln_spark.operators.raster import flow_accumulation

    import pytest as _pytest
    with _pytest.raises(ValueError):
        flow_accumulation(_bowl_cells(spark), res=16, max_iter=2)


def test_flow_accumulation_local_equals_distributed(spark, monkeypatch, local_solve_log):
    # r6 size-adaptive path: the driver-local Kahn solve must be
    # bit-identical to the distributed fixpoint (exact integer counts)
    from tilekiln_spark.operators import local_solve
    from tilekiln_spark.operators.raster import flow_accumulation

    cells = _bowl_cells(spark)
    local = {(r["gx"], r["gy"]): (r["z"], r["d8"], r["acc"])
             for r in flow_accumulation(cells, res=16).collect()}
    with monkeypatch.context() as m:
        m.setattr(local_solve, "MAX_LOCAL_ROWS", -1)
        dist = {(r["gx"], r["gy"]): (r["z"], r["d8"], r["acc"])
                for r in flow_accumulation(cells, res=16).collect()}
    assert local == dist
    assert [d["path"] for d in local_solve_log()] == ["local", "distributed"]


def test_flow_accumulation_max_iter_parity(spark, monkeypatch, local_solve_log):
    # the local pass must raise exactly when the distributed loop would:
    # the bowl's longest path is 8, the fixpoint is detected at round 9
    from tilekiln_spark.operators import local_solve
    from tilekiln_spark.operators.raster import flow_accumulation

    import pytest as _pytest
    cells = _bowl_cells(spark)
    for cap in (local_solve.MAX_LOCAL_ROWS, -1):
        monkeypatch.setattr(local_solve, "MAX_LOCAL_ROWS", cap)
        with _pytest.raises(ValueError):
            flow_accumulation(cells, res=16, max_iter=8).count()
        assert flow_accumulation(cells, res=16, max_iter=9).count() == 256
    assert [d["path"] for d in local_solve_log()] == (
        ["local"] * 2 + ["distributed"] * 2
    )


def test_watershed_bowl_goldens(spark):
    from tilekiln_spark.operators.raster import watershed_basins

    out = watershed_basins(_bowl_cells(spark), res=16, max_iter=10).collect()
    by = {(r["gx"], r["gy"]): r for r in out}
    # python-replica goldens: 61 roots (1 interior sink + 60 off-grid
    # drains), the sink's basin holds 196 cells including itself
    assert sum(1 for r in out if r["is_root"]) == 61
    assert by[(8, 8)]["is_root"] and by[(8, 8)]["d8"] == 0
    center = sum(1 for r in out
                 if (r["basin_gx"], r["basin_gy"]) == (8, 8))
    assert center == 196
    # every basin label is itself a root
    roots = {(r["gx"], r["gy"]) for r in out if r["is_root"]}
    assert {(r["basin_gx"], r["basin_gy"]) for r in out} <= roots


def test_watershed_raises_past_cap(spark):
    from tilekiln_spark.operators.raster import watershed_basins

    import pytest as _pytest
    with _pytest.raises(ValueError):
        watershed_basins(_bowl_cells(spark), res=16, max_iter=1)


def test_strahler_bowl_goldens(spark):
    from collections import Counter

    from tilekiln_spark.operators.raster import strahler_order

    out = strahler_order(_bowl_cells(spark), res=16, max_iter=20).collect()
    hist = Counter(r["strahler"] for r in out)
    # python-replica goldens: 180 leaves, the sink is the single order-5
    assert hist == {1: 180, 2: 54, 3: 17, 4: 4, 5: 1}
    by = {(r["gx"], r["gy"]): r["strahler"] for r in out}
    assert by[(8, 8)] == 5


def test_strahler_confluence_rule(spark):
    from tilekiln_spark.operators.raster import strahler_order

    # a FILLED 5x5 plateau (90) with an interior V channel: two order-1
    # sources (1,1)/(3,1) both drain diagonally into the confluence
    # (2,2)=40 -> order 2; the continuation (2,3)=30 has ONE child so it
    # stays 2 (no bump); plateau/boundary cells drain off-grid at 1
    z = {(1, 1): 60, (3, 1): 60, (2, 2): 40, (2, 3): 30}
    rows = [(0, 0, x, y, z.get((x, y), 90)) for x in range(5) for y in range(5)]
    cells = spark.createDataFrame(rows, "x int, y int, bin_x int, bin_y int, n long")
    out = {(r["gx"], r["gy"]): r["strahler"]
           for r in strahler_order(cells, res=16).collect()}
    assert out[(1, 1)] == 1 and out[(3, 1)] == 1
    assert out[(2, 2)] == 2     # two equal-order streams meet
    assert out[(2, 3)] == 2     # single continuation: no bump
    assert max(out.values()) == 2


def _crater_cells(spark):
    # crater fixture: Chebyshev-ring DEM — basin z=d for d<=2, rim z=20
    # at d=3 with one notch cell (11,8) z=5, outside z=12-d decreasing to
    # the edge.  Spill level is 8: the notch (z=5) exits into the d=4
    # ring (z=8), so the escape-path max is set OUTSIDE the notch —
    # goldens verified by a pure-python Planchon-Darboux replica
    # (fixpoint round 11: 26 cells filled, volume 163, all to level 8).
    def zf(gx, gy):
        d = max(abs(gx - 8), abs(gy - 8))
        if d <= 2:
            return d
        if d == 3:
            return 5 if (gx, gy) == (11, 8) else 20
        return 12 - d

    rows = [(0, 0, gx, gy, zf(gx, gy)) for gx in range(16) for gy in range(16)]
    return spark.createDataFrame(
        rows, "x int, y int, bin_x int, bin_y int, n long")


def test_fill_sinks_crater_goldens(spark):
    from tilekiln_spark.operators.raster import fill_sinks

    out = fill_sinks(_crater_cells(spark), res=16, max_iter=20).collect()
    by = {(r["gx"], r["gy"]): r for r in out}
    filled = [r for r in out if r["fill_depth"] > 0]
    # replica goldens: 26 cells raised, every one to the spill level 8
    assert len(filled) == 26
    assert {r["filled"] for r in filled} == {8}
    assert sum(r["fill_depth"] for r in out) == 163
    # the notch itself sits below spill and is raised 5 -> 8
    assert by[(11, 8)]["z"] == 5 and by[(11, 8)]["filled"] == 8
    # basin floor 0 -> 8; rim cells untouched; outside slope untouched
    assert by[(8, 8)]["z"] == 0 and by[(8, 8)]["filled"] == 8
    assert by[(8, 5)]["z"] == 20 and by[(8, 5)]["filled"] == 20
    assert by[(8, 4)]["z"] == 8 and by[(8, 4)]["fill_depth"] == 0
    # filled DEM has no interior sink: rerun D8 over filled -> the only
    # d8=0 cells are flats at the spill level (documented eps=0 flats)
    from tilekiln_spark.operators.raster import d8_flow
    refilled = spark.createDataFrame(
        [(0, 0, r["gx"], r["gy"], r["filled"]) for r in out],
        "x int, y int, bin_x int, bin_y int, n long")
    sinks = [r for r in d8_flow(refilled, res=16).collect() if r["d8"] == 0]
    assert all(r["z"] == 8 for r in sinks)  # only the eps=0 flat remains


def test_fill_sinks_no_depression_is_identity(spark):
    from tilekiln_spark.operators.raster import fill_sinks

    # a hill draining outward everywhere (z = 8 - d, peak at center,
    # every cell strictly above some neighbor toward the edge) has no
    # pit anywhere, so fill must be the identity
    rows = [(0, 0, gx, gy, 8 - max(abs(gx - 8), abs(gy - 8)))
            for gx in range(16) for gy in range(16)]
    cone = spark.createDataFrame(
        rows, "x int, y int, bin_x int, bin_y int, n long")
    out = fill_sinks(cone, res=16, max_iter=20).collect()
    assert all(r["fill_depth"] == 0 for r in out)
    assert all(r["filled"] == r["z"] for r in out)


def test_fill_sinks_raises_past_cap(spark):
    from tilekiln_spark.operators.raster import fill_sinks

    import pytest as _pytest
    with _pytest.raises(ValueError):
        fill_sinks(_crater_cells(spark), res=16, max_iter=2)


def _friction_cells(spark):
    # cost-surface fixture: unit friction with a cost-50 vertical wall at
    # gx=8 and ONE unit-cost gap at (8,12); source at (2,8).  The optimal
    # route to the east half detours through the gap (e.g. cell (8,8)
    # costs 122 straight across vs 32 via the gap) — goldens verified by
    # a pure-python Bellman-Ford replica (fixpoint round 19, sum 11836).
    rows = [(0, 0, gx, gy, 50 if (gx == 8 and gy != 12) else 1)
            for gx in range(16) for gy in range(16)]
    return spark.createDataFrame(
        rows, "x int, y int, bin_x int, bin_y int, n long")


def test_cost_distance_wall_goldens(spark):
    from tilekiln_spark.operators.raster import cost_distance

    out = cost_distance(
        _friction_cells(spark), [(2, 8)], res=16, max_iter=40).collect()
    by = {(r["gx"], r["gy"]): r["acc"] for r in out}
    assert by[(2, 8)] == 0                      # the source
    assert by[(8, 8)] == 122                    # onto the wall itself
    assert by[(12, 8)] == 56                    # east half via the gap
    assert by[(9, 12)] == 36                    # just past the gap
    assert by[(15, 0)] == 94 and by[(15, 15)] == 66
    assert sum(r["acc"] for r in out) == 11836
    assert all(r["acc"] is not None for r in out)  # all reachable


def test_cost_distance_unreachable_is_null(spark):
    from tilekiln_spark.operators.raster import cost_distance

    # two disjoint 1-D strips; source on the left strip only — the right
    # strip has no 8-adjacent path and must stay NULL
    rows = [(0, 0, gx, 0, 1) for gx in range(4)] + \
           [(0, 0, gx, 0, 1) for gx in range(8, 12)]
    cells = spark.createDataFrame(
        rows, "x int, y int, bin_x int, bin_y int, n long")
    out = cost_distance(cells, [(0, 0)], res=16, max_iter=20).collect()
    by = {(r["gx"], r["gy"]): r["acc"] for r in out}
    assert by[(3, 0)] == 12          # 3 cardinal unit steps: 3 * 2*(1+1)
    assert all(by[(gx, 0)] is None for gx in range(8, 12))


def test_flow_length_bowl_goldens(spark):
    from tilekiln_spark.operators.raster import flow_length

    out = flow_length(_bowl_cells(spark), res=16, max_iter=30).collect()
    by = {(r["gx"], r["gy"]): r for r in out}
    # replica goldens (half-cell units: cardinal 2, diagonal 3)
    assert by[(8, 8)]["down_len"] == 0 and by[(8, 8)]["up_len"] == 21
    assert sum(r["down_len"] for r in out) == 2605
    assert sum(r["up_len"] for r in out) == 725
    assert max(r["down_len"] for r in out) == 21
    # leaves have up_len 0; every non-sink cell has down_len >= 2
    assert all(r["down_len"] >= 2 for r in out if r["d8"] > 0)


def test_flow_length_raises_past_cap(spark):
    from tilekiln_spark.operators.raster import flow_length

    import pytest as _pytest
    with _pytest.raises(ValueError):
        flow_length(_bowl_cells(spark), res=16, max_iter=2)


def _block_value_cells(spark):
    # value raster: 4x4 blocks v = (gx//4 + gy//4) % 3 — no two
    # 4-adjacent blocks share a value, but same-value blocks touch at
    # corners along anti-diagonals (the 4-vs-8 connectivity showcase).
    rows = [(0, 0, gx, gy, (gx // 4 + gy // 4) % 3)
            for gx in range(16) for gy in range(16)]
    return spark.createDataFrame(
        rows, "x int, y int, bin_x int, bin_y int, n long")


def test_region_group_4conn_blocks(spark):
    from tilekiln_spark.operators.raster import region_group

    out = region_group(
        _block_value_cells(spark), res=16, connectivity=4, max_iter=10
    ).collect()
    # replica goldens: every 4x4 block is its own region (16 x 16 cells)
    regions = {(r["region_gx"], r["region_gy"]) for r in out}
    assert len(regions) == 16
    assert all(r["region_size"] == 16 for r in out)
    # canonical root = lexicographic-min (gy, gx) cell = block corner
    assert regions == {(bx * 4, by * 4) for bx in range(4) for by in range(4)}
    # label sum golden from the replica (cid = gy*16+gx encoding)
    assert sum(r["region_gy"] * 16 + r["region_gx"] for r in out) == 26112


def test_region_group_8conn_merges_diagonals(spark):
    from collections import Counter

    from tilekiln_spark.operators.raster import region_group

    out = region_group(
        _block_value_cells(spark), res=16, connectivity=8, max_iter=12
    ).collect()
    regions = {(r["region_gx"], r["region_gy"]) for r in out}
    # replica goldens: anti-diagonal same-value chains merge -> 7 regions
    assert len(regions) == 7
    sizes = Counter(
        next(r["region_size"] for r in out
             if (r["region_gx"], r["region_gy"]) == reg)
        for reg in regions)
    assert sizes == {16: 2, 32: 2, 48: 2, 64: 1}
    assert sum(r["region_gy"] * 16 + r["region_gx"] for r in out) == 12672
    # every cell's region root carries the cell's own value
    v_at = {(r["gx"], r["gy"]): r["v"] for r in out}
    assert all(v_at[(r["region_gx"], r["region_gy"])] == r["v"] for r in out)


def test_region_group_bad_connectivity(spark):
    from tilekiln_spark.operators.raster import region_group

    import pytest as _pytest
    with _pytest.raises(ValueError, match="connectivity"):
        region_group(_block_value_cells(spark), connectivity=6)


def test_wetness_index_bowl(spark):
    import math

    from tilekiln_spark.operators.raster import wetness_index

    out = wetness_index(_bowl_cells(spark), res=16, max_iter=20).collect()
    assert len(out) == 256
    by = {(r["gx"], r["gy"]): r for r in out}
    # the interior sink collects acc=195 and its Horn gradient there is
    # small -> highest wetness on the DEM
    sink = by[(8, 8)]
    assert sink["acc"] == 195
    assert sink["twi"] == max(r["twi"] for r in out)
    # hand-check one cell end-to-end: (4, 8) on the west slope
    r = by[(4, 8)]
    zq = lambda gx, gy: (gx - 8) ** 2 + (gy - 8) ** 2 + ((gx * 7 + gy * 3) % 5)
    zs = [zq(4 + dx, 8 + dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    p = ((zs[2] + zs[5] * 2.0 + zs[8]) - (zs[0] + zs[3] * 2.0 + zs[6])) / 8.0
    q = ((zs[6] + zs[7] * 2.0 + zs[8]) - (zs[0] + zs[1] * 2.0 + zs[2])) / 8.0
    tanb = math.sqrt(p * p + q * q)
    assert r["tan_slope"] == round(tanb, 6)
    assert r["twi"] == round(math.log((r["acc"] + 1) / max(tanb, 1e-3)), 6)


def test_least_cost_path_detours_through_gap(spark):
    """On the walled friction surface both east-side targets route
    through the unit gap at (8, 12); accs strictly decrease to 0 at
    the source; step indices are the contiguous chain."""
    from pyspark.sql import functions as F

    from tilekiln_spark.operators.raster import cost_distance, least_cost_path

    d = spark.range(256)
    gx = (F.col("id") % 16).cast("int")
    gy = F.floor(F.col("id") / F.lit(16)).cast("int")
    cost = F.when((gx == 8) & (gy != 12), F.lit(50)).otherwise(F.lit(1))
    cells = d.select(
        F.lit(0).alias("x"), F.lit(0).alias("y"),
        gx.alias("bin_x"), gy.alias("bin_y"), cost.cast("long").alias("n"),
    )
    surf = cost_distance(cells, [(2, 8)], res=16, max_iter=40)
    rows = least_cost_path(surf, [(15, 8)]).collect()
    path = sorted((r.step, r.gx, r.gy, r.acc) for r in rows)
    assert [s for s, *_ in path] == list(range(len(path)))
    assert (8, 12) in {(g, h) for _, g, h, _ in path}
    assert all(path[i][3] > path[i + 1][3] for i in range(len(path) - 1))
    assert path[-1][1:] == (2, 8, 0)
