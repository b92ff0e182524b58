"""Spatial join correctness: grid equi-join == broadcast join == brute force."""

import numpy as np
import pyspark.sql.functions as F

from tilekiln_spark.operators.spatial_join import (
    knn_assign,
    pip_convex,
    points_in_polygons,
)
from tilekiln_spark.operators.tiling import pages_geo
from tilekiln_spark.sources.pages import layer_polygons, layer_polygons_pdf, pages


def _brute_force_pairs(points, polys_pdf):
    """Driver-side oracle: exact even-odd ray-cast PIP for every pair —
    concave-safe, matching the raycast/raycast_bcast refine semantics
    (the fixture now mixes convex and concave rings)."""
    pairs = set()
    for url, mx, my in points:
        for _, p in polys_pdf.iterrows():
            if not (p.xmin <= mx <= p.xmax and p.ymin <= my <= p.ymax):
                continue
            xs, ys = p.ring_xs, p.ring_ys
            n = len(xs)
            inside = False
            for i in range(n):
                j = (i + 1) % n
                if (ys[i] > my) != (ys[j] > my):
                    xint = xs[i] + (my - ys[i]) * (xs[j] - xs[i]) / (ys[j] - ys[i])
                    if mx < xint:
                        inside = not inside
            if inside:
                pairs.add((url, p.polygon_id))
    return pairs


def test_grid_and_broadcast_match_brute_force(spark):
    pts = pages_geo(pages(spark, 800)).cache()
    polys = layer_polygons(spark, 30)
    polys_pdf = layer_polygons_pdf(30)
    expected = _brute_force_pairs(
        [(r.url, r.mx, r.my) for r in pts.collect()], polys_pdf
    )
    for how in ("grid", "broadcast"):
        got = {
            (r.url, r.polygon_id)
            for r in points_in_polygons(pts, polys, how=how).select("url", "polygon_id").collect()
        }
        assert got == expected, f"{how}: {len(got)} vs {len(expected)}"
    assert len(expected) > 0  # non-degenerate fixture


def test_grid_join_distributed_right_side(spark):
    # same answer when the polygon side is NOT broadcast (the 100TB-scale path)
    pts = pages_geo(pages(spark, 400))
    polys = layer_polygons(spark, 20)
    a = {
        (r.url, r.polygon_id)
        for r in points_in_polygons(pts, polys, how="grid", broadcast_polys=False)
        .select("url", "polygon_id").collect()
    }
    b = {
        (r.url, r.polygon_id)
        for r in points_in_polygons(pts, polys, how="broadcast").select("url", "polygon_id").collect()
    }
    assert a == b


def test_pip_convex_boundary_and_outside(spark):
    df = spark.createDataFrame(
        [
            (0.0, 0.0, True),    # center
            (1.0, 1.0, True),    # corner (boundary counts as inside)
            (1.0, 0.0, True),    # edge
            (1.1, 0.0, False),   # outside
            (-2.0, 5.0, False),
        ],
        "mx double, my double, want boolean",
    ).withColumn("ring_xs", F.expr("array(-1.0d, 1.0d, 1.0d, -1.0d)")).withColumn(
        "ring_ys", F.expr("array(-1.0d, -1.0d, 1.0d, 1.0d)")
    )
    rows = df.withColumn(
        "got", pip_convex(F.col("mx"), F.col("my"), F.col("ring_xs"), F.col("ring_ys"))
    ).collect()
    for r in rows:
        assert r.got == r.want, (r.mx, r.my)


def test_knn_assign(spark):
    # 4 centroids; every point must pick the nearest one (k=1)
    cents = spark.createDataFrame(
        [(0, -1e7, -1e7), (1, 1e7, -1e7), (2, -1e7, 1e7), (3, 1e7, 1e7)],
        "cid int, cx double, cy double",
    )
    pts = pages_geo(pages(spark, 300))
    got = knn_assign(pts, cents, k=1, search_zoom=0).select("url", "cid", "mx", "my").collect()
    assert len(got) == 300
    crows = cents.collect()
    for r in got:
        dists = [(r.mx - c.cx) ** 2 + (r.my - c.cy) ** 2 for c in crows]
        assert dists[r.cid] == min(dists)

    # k=2 returns two ranked rows per point
    got2 = knn_assign(pts.limit(50), cents, k=2, search_zoom=0)
    counts = got2.groupBy("url").count().select("count").distinct().collect()
    assert [r["count"] for r in counts] == [2]


def test_knn_assign_sparse_centroids_no_drop(spark):
    # Sparse centroid set at a high search_zoom: many 3x3 neighborhoods hold
    # zero centroids.  The brute-force fallback must keep every point and
    # still pick the true nearest (the 'nearest never drops a point' contract).
    cents = spark.createDataFrame(
        [(0, -1.8e7, -1.8e7), (1, 1.9e7, 1.85e7)],
        "cid int, cx double, cy double",
    )
    pts = pages_geo(pages(spark, 200)).cache()
    got = knn_assign(pts, cents, k=1, search_zoom=6).select("url", "cid", "mx", "my").collect()
    assert len(got) == 200  # nothing dropped
    crows = cents.collect()
    for r in got:
        dists = [(r.mx - c.cx) ** 2 + (r.my - c.cy) ** 2 for c in crows]
        assert dists[r.cid] == min(dists)
    # k=2 with only 2 centroids: every point gets both, ranked
    got2 = knn_assign(pts.limit(40), cents, k=2, search_zoom=6)
    counts = got2.groupBy("url").count().select("count").distinct().collect()
    assert [r["count"] for r in counts] == [2]
    pts.unpersist()


def _py_raycast(x, y, xs, ys):
    inside = False
    n = len(xs)
    for i in range(n):
        j = (i + 1) % n
        if (ys[i] > y) != (ys[j] > y):
            if x < xs[i] + (y - ys[i]) * (xs[j] - xs[i]) / (ys[j] - ys[i]):
                inside = not inside
    return inside


def test_pip_raycast_concave(spark):
    from tilekiln_spark.operators.spatial_join import pip_raycast

    # L-shape (concave) and arrowhead (concave) rings
    L_xs = [0.0, 4.0, 4.0, 2.0, 2.0, 0.0]
    L_ys = [0.0, 0.0, 2.0, 2.0, 4.0, 4.0]
    A_xs = [0.0, 4.0, 2.0, 4.0, 0.0]  # arrowhead pointing left
    A_ys = [0.0, -2.0, 0.0, 2.0, 0.0]
    import numpy as np

    rng = np.random.default_rng(7)
    pts = [(float(x), float(y)) for x, y in rng.uniform(-1, 5, (300, 2))]
    for xs, ys in ((L_xs, L_ys), (A_xs, A_ys)):
        df = spark.createDataFrame(pts, "mx double, my double")
        got = {
            (r.mx, r.my): r.inside
            for r in df.withColumn(
                "inside",
                pip_raycast(
                    F.col("mx"), F.col("my"),
                    F.array(*[F.lit(v) for v in xs]),
                    F.array(*[F.lit(v) for v in ys]),
                ),
            ).collect()
        }
        for (x, y), inside in got.items():
            assert inside == _py_raycast(x, y, xs, ys), (x, y, xs)
    # sanity: the concave notch of the L is OUTSIDE
    assert not _py_raycast(3.0, 3.0, L_xs, L_ys)


def test_points_in_polygons_raycast_concave_join(spark):
    # a concave polygon through the full join path (grid + refine)
    import pandas as pd

    L = {
        "polygon_id": 0, "layer": "water", "admin_level": "2", "name": "L",
        "way_area": 12.0,
        "xmin": 0.0, "ymin": 0.0, "xmax": 4.0e6, "ymax": 4.0e6,
        "ring_xs": [0.0, 4.0e6, 4.0e6, 2.0e6, 2.0e6, 0.0],
        "ring_ys": [0.0, 0.0, 2.0e6, 2.0e6, 4.0e6, 4.0e6],
    }
    from tilekiln_spark.sources.pages import POLYGON_SCHEMA

    polys = spark.createDataFrame(pd.DataFrame([L]), schema=POLYGON_SCHEMA)
    pts = pages_geo(pages(spark, 2000))
    got = {
        r.url
        for r in points_in_polygons(pts, polys, refine="raycast").select("url").collect()
    }
    expected = {
        r.url
        for r in pts.collect()
        if _py_raycast(r.mx, r.my, L["ring_xs"], L["ring_ys"])
    }
    assert got == expected and len(expected) > 0


def test_raycast_udf_matches_expression(spark):
    """The Arrow ray-cast kernel must agree with the interpreted-HOF
    pip_raycast on every (point, concave-ring) pair."""
    import numpy as np
    from pyspark.sql import functions as F

    from tilekiln_spark.operators.spatial_join import make_pip_raycast_udf, pip_raycast

    rng = np.random.default_rng(3)
    polys = []
    for pid in range(6):
        n = int(rng.integers(5, 41))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = rng.uniform(0.3, 1.0, n)  # star-shaped => concave
        cx, cy = rng.uniform(-3, 3, 2)
        polys.append((pid, (cx + r * np.cos(ang)).tolist(), (cy + r * np.sin(ang)).tolist()))
    pts = [(float(x), float(y)) for x, y in rng.uniform(-4, 4, (500, 2))]
    pdf = spark.createDataFrame(pts, "mx double, my double")
    qdf = spark.createDataFrame(polys, "polygon_id long, ring_xs array<double>, ring_ys array<double>")
    j = pdf.crossJoin(qdf)
    expr = j.withColumn("hit", pip_raycast(F.col("mx"), F.col("my"), F.col("ring_xs"), F.col("ring_ys")))
    udf = j.withColumn(
        "hit",
        make_pip_raycast_udf()(F.col("polygon_id"), F.col("mx"), F.col("my"), F.col("ring_xs"), F.col("ring_ys")),
    )
    rings = {pid: (xs, ys) for pid, xs, ys in polys}
    from tilekiln_spark.operators.spatial_join import make_pip_raycast_closure_udf

    bc = j.withColumn(
        "hit",
        make_pip_raycast_closure_udf(rings)(F.col("polygon_id"), F.col("mx"), F.col("my")),
    )
    a = {(r.mx, r.my, r.polygon_id): r.hit for r in expr.collect()}
    b = {(r.mx, r.my, r.polygon_id): r.hit for r in udf.collect()}
    c = {(r.mx, r.my, r.polygon_id): r.hit for r in bc.collect()}
    assert a == b == c
    assert sum(a.values()) > 0  # some points actually inside


def _star_polys_df(spark, n_polys=4, n_verts=300, seed=9):
    """Star-shaped (concave) rings with >=256 vertices around spread centers."""
    rng = np.random.default_rng(seed)
    rows = []
    for pid in range(n_polys):
        ang = np.sort(rng.uniform(0, 2 * np.pi, n_verts))
        r = rng.uniform(2.0e6, 5.0e6, n_verts)
        cx = -1.2e7 + pid * 8.0e6
        cy = rng.uniform(-5.0e6, 5.0e6)
        xs = (cx + r * np.cos(ang)).tolist()
        ys = (cy + r * np.sin(ang)).tolist()
        rows.append((pid, min(xs), min(ys), max(xs), max(ys), xs, ys))
    return spark.createDataFrame(
        rows,
        "polygon_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring_xs array<double>, ring_ys array<double>",
    )


def test_raycast_auto_selects_by_ring_size_and_budget(spark):
    """raycast_auto: closure kernel (output drops ring cols) at >=256-vertex
    rings within budget; expression form (ring cols kept) below 256; Arrow
    ring-join fallback when the payload exceeds the budget — identical rows
    in all cases (VERDICT r3 #1/#2 lock-in)."""
    pts = pages_geo(pages(spark, 600)).cache()
    big = _star_polys_df(spark, n_polys=4, n_verts=300).cache()

    # >=256 verts, payload ~4*300*16B well under 64MB -> raycast_bcast
    auto = points_in_polygons(pts, big, how="grid", grid_zoom=3, refine="raycast_auto")
    assert "ring_xs" not in auto.columns  # bcast path drops ring cols
    rows_auto = {(r.url, r.polygon_id) for r in auto.select("url", "polygon_id").collect()}

    # same input, budget too small for the driver collect -> raycast_udf
    guarded = points_in_polygons(
        pts, big, how="grid", grid_zoom=3, refine="raycast_auto", bcast_budget_bytes=1024
    )
    assert "ring_xs" in guarded.columns  # rings joined in, no driver collect
    rows_guarded = {(r.url, r.polygon_id) for r in guarded.select("url", "polygon_id").collect()}
    assert rows_guarded == rows_auto and len(rows_auto) > 0

    # explicit raycast_bcast over budget takes the same bounded-memory fallback
    explicit = points_in_polygons(
        pts, big, how="grid", grid_zoom=3, refine="raycast_bcast", bcast_budget_bytes=1024
    )
    assert "ring_xs" in explicit.columns
    rows_explicit = {(r.url, r.polygon_id) for r in explicit.select("url", "polygon_id").collect()}
    assert rows_explicit == rows_auto

    # small rings (<256 verts): expression form, ring cols kept
    small = layer_polygons(spark, 10)
    small_join = points_in_polygons(pts, small, how="grid", refine="raycast_auto")
    assert "ring_xs" in small_join.columns


def test_dwithin_join_matches_brute_force(spark):
    """dwithin_join (bounded 3x3 cell candidates) == brute-force cross join,
    on both the broadcast and shuffle paths, with an explicit and a derived
    grid zoom."""
    from tilekiln_spark.operators.spatial_join import dwithin_join
    from tilekiln_spark.tiles.core import HALF_WORLD

    pts = pages_geo(pages(spark, 600)).cache()
    n = 4
    cell = 2.0 * HALF_WORLD / n
    seeds = spark.range(n * n).select(
        F.col("id").alias("cid"),
        (F.lit(-HALF_WORLD) + (F.col("id") % n + 0.5) * cell).alias("cx"),
        (F.lit(-HALF_WORLD) + (F.floor(F.col("id") / n) + F.lit(0.5)) * cell).alias("cy"),
    )
    radius = 2_000_000.0
    expected = set(
        (r.url, r.cid)
        for r in pts.crossJoin(seeds)
        .where(
            (F.col("mx") - F.col("cx")) * (F.col("mx") - F.col("cx"))
            + (F.col("my") - F.col("cy")) * (F.col("my") - F.col("cy"))
            <= radius * radius
        )
        .select("url", "cid")
        .collect()
    )
    assert expected, "fixture must produce at least one in-radius pair"
    for kwargs in (
        {},  # derived grid_zoom, broadcast seeds
        {"broadcast_seeds": False},  # shuffle equi-join path
        {"grid_zoom": 3},  # explicit coarser grid (cell still >= radius)
    ):
        got_rows = dwithin_join(pts, seeds, radius=radius, **kwargs).collect()
        got = set((r.url, r.cid) for r in got_rows)
        assert got == expected, kwargs
        # dist is the exact Euclidean distance and never exceeds the radius
        assert all(r.dist <= radius for r in got_rows)


def test_dwithin_join_derived_zoom_covers_radius(spark):
    """The derived grid zoom always keeps one cell side >= radius, so the
    3x3 neighborhood candidate set is exact."""
    import math

    import numpy as np

    from tilekiln_spark.tiles.core import HALF_WORLD

    world = 2.0 * HALF_WORLD
    for radius in (1.0, 1000.0, 1_500_000.0, world / 2, world * 2):
        z = max(0, min(15, int(np.floor(np.log2(world / radius)))))
        assert world / (2**z) >= min(radius, world), (radius, z)
        assert 0 <= z <= 15


def test_lines_intersect_join_matches_brute_force(spark):
    """Polyline x polyline PBSM join == brute-force chain-pair kernel over
    all pairs, each hit exactly once (reporting-cell dedup), with whale
    chains (bbox over the cell cap) routed through the broadcast side."""
    import pandas as pd

    from tilekiln_spark.operators.spatial_join import (
        _chains_intersect_np,
        lines_intersect_join,
    )

    HW = 20037508.342789244
    rng = np.random.default_rng(7)

    def mk(lid, pts):
        xs = [float(p[0]) for p in pts]
        ys = [float(p[1]) for p in pts]
        return {
            "polygon_id": lid,
            "xmin": min(xs), "ymin": min(ys),
            "xmax": max(xs), "ymax": max(ys),
            "ring_xs": xs, "ring_ys": ys,
        }

    rows_a, rows_b = [], []
    # small random zigzags spread over the world; several cross cell borders
    for lid in range(24):
        cx, cy = rng.uniform(-0.8 * HW, 0.8 * HW, 2)
        pts = [
            (cx + dx, cy + dy)
            for dx, dy in rng.uniform(-0.14 * HW, 0.14 * HW, (3, 2))
        ]
        (rows_a if lid % 2 == 0 else rows_b).append(mk(lid, pts))
    # whales on both sides: full-extent diagonals (bbox >> 64 cells at z4)
    rows_a.append(mk(100, [(-0.95 * HW, -0.95 * HW), (0.95 * HW, 0.95 * HW)]))
    rows_b.append(mk(200, [(-0.95 * HW, 0.95 * HW), (0.95 * HW, -0.95 * HW)]))

    schema = (
        "polygon_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring_xs array<double>, ring_ys array<double>"
    )
    a = spark.createDataFrame(pd.DataFrame(rows_a), schema)
    b = spark.createDataFrame(pd.DataFrame(rows_b), schema)
    got = [
        (r.polygon_id, r.b_polygon_id)
        for r in lines_intersect_join(a, b, grid_zoom=4)
        .select("polygon_id", "b_polygon_id")
        .collect()
    ]
    assert len(got) == len(set(got)), "duplicate candidate pairs leaked"
    want = set()
    for ra in rows_a:
        for rb in rows_b:
            if _chains_intersect_np(
                np.array(ra["ring_xs"]), np.array(ra["ring_ys"]),
                np.array(rb["ring_xs"]), np.array(rb["ring_ys"]),
            ):
                want.add((ra["polygon_id"], rb["polygon_id"]))
    assert set(got) == want
    # the two whales cross each other; whale routes must have executed
    assert (100, 200) in want


def test_lines_in_polygons_join(spark):
    """Chain-in-ring containment join: strict interior containment,
    boundary touch excluded, crossing excluded, whale routes on both
    sides, no duplicate pairs, and DuckDB-twin bit-equality per pair."""
    import duckdb
    import pandas as pd

    from tilekiln_spark.functions.geometry import chain_in_ring_sql
    from tilekiln_spark.operators.spatial_join import (
        _chain_in_ring_np,
        lines_in_polygons_join,
    )

    schema = (
        "polygon_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring_xs array<double>, ring_ys array<double>"
    )
    W = 2.0037508342789244e7

    def row(pid, xs, ys):
        return {
            "polygon_id": pid,
            "xmin": min(xs), "ymin": min(ys), "xmax": max(xs), "ymax": max(ys),
            "ring_xs": xs, "ring_ys": ys,
        }

    lines = [
        row(0, [1.0e6, 2.0e6, 3.0e6], [1.0e6, 2.5e6, 1.0e6]),   # inside P10
        row(1, [1.0e6, 6.0e6], [1.0e6, 1.0e6]),                 # exits P10
        row(2, [0.0, 4.0e6], [4.0e6, 4.0e6]),                   # touches P10 top
        row(3, [-W * 0.9, W * 0.9], [-W * 0.9, W * 0.9]),       # A-side whale
        row(4, [7.0e6, 8.0e6], [7.0e6, 8.0e6]),                 # outside P10
    ]
    polys = [
        row(10, [0.0, 4.0e6, 4.0e6, 0.0], [0.0, 0.0, 4.0e6, 4.0e6]),
        # B-side whale: near-world square, contains lines 0-2, 4 AND whale 3
        row(11, [-W * 0.99, W * 0.99, W * 0.99, -W * 0.99],
                [-W * 0.99, -W * 0.99, W * 0.99, W * 0.99]),
        row(12, [9.0e6, 9.5e6, 9.5e6, 9.0e6], [9.0e6, 9.0e6, 9.5e6, 9.5e6]),
    ]
    a = spark.createDataFrame(pd.DataFrame(lines), schema)
    b = spark.createDataFrame(pd.DataFrame(polys), schema)
    got = [
        (r.polygon_id, r.b_polygon_id)
        for r in lines_in_polygons_join(a, b, grid_zoom=4)
        .select("polygon_id", "b_polygon_id")
        .collect()
    ]
    assert len(got) == len(set(got)), "duplicate candidate pairs leaked"
    want = set()
    for ra in lines:
        for rb in polys:
            if _chain_in_ring_np(
                np.array(ra["ring_xs"]), np.array(ra["ring_ys"]),
                np.array(rb["ring_xs"]), np.array(rb["ring_ys"]),
            ):
                want.add((ra["polygon_id"], rb["polygon_id"]))
    assert set(got) == want
    assert (0, 10) in want and (1, 10) not in want and (2, 10) not in want
    assert (3, 11) in want and (0, 11) in want and (4, 10) not in want

    # twin bit-equality over the full cross product
    con = duckdb.connect()
    def arr(v):
        return "[" + ", ".join(repr(x) for x in v) + "]::DOUBLE[]"
    for ra in lines:
        for rb in polys:
            sql = chain_in_ring_sql("lxs", "lys", "rxs", "rys")
            dd = con.execute(
                f"SELECT {sql} FROM (SELECT {arr(ra['ring_xs'])} lxs, "
                f"{arr(ra['ring_ys'])} lys, {arr(rb['ring_xs'])} rxs, "
                f"{arr(rb['ring_ys'])} rys)"
            ).fetchone()[0]
            np_hit = _chain_in_ring_np(
                np.array(ra["ring_xs"]), np.array(ra["ring_ys"]),
                np.array(rb["ring_xs"]), np.array(rb["ring_ys"]),
            )
            assert bool(dd) == np_hit, (ra["polygon_id"], rb["polygon_id"])


def test_chain_ring_clip_length(spark):
    """Clipped-length kernel goldens on a 4x4 square: crossing chord,
    fully-inside diagonal, disjoint segment, an enter-then-exit two-edge
    chain — plus join-level equivalence and DuckDB-twin equality."""
    import duckdb
    import pandas as pd
    import pytest

    from tilekiln_spark.functions.geometry import chain_ring_clip_len_sql
    from tilekiln_spark.operators.spatial_join import (
        _chain_ring_clip_len_np,
        lines_clip_length_join,
    )

    sq = ([0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 4.0, 4.0])
    cases = [
        (0, [-2.0, 6.0], [2.0, 2.0], 4.0),                    # chord across
        (1, [1.0, 3.0], [1.0, 3.0], 2.0 * 2.0 ** 0.5),        # fully inside
        (2, [5.0, 6.0], [5.0, 6.0], 0.0),                      # disjoint
        (3, [-2.0, 2.0, 2.0], [2.0, 2.0, 6.0], 4.0),           # enter + exit
    ]
    con = duckdb.connect()

    def arr(v):
        return "[" + ", ".join(repr(x) for x in v) + "]::DOUBLE[]"

    for gid, lx, ly, want in cases:
        got = _chain_ring_clip_len_np(
            np.array(lx), np.array(ly), np.array(sq[0]), np.array(sq[1])
        )
        assert got == pytest.approx(want, abs=1e-12), gid
        sql = chain_ring_clip_len_sql("lxs", "lys", "rxs", "rys")
        dd = con.execute(
            f"SELECT {sql} FROM (SELECT {arr(lx)} lxs, {arr(ly)} lys, "
            f"{arr(sq[0])} rxs, {arr(sq[1])} rys)"
        ).fetchone()[0]
        assert dd == pytest.approx(got, abs=1e-9), gid

    schema = (
        "polygon_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring_xs array<double>, ring_ys array<double>"
    )
    lines = [
        {
            "polygon_id": g,
            "xmin": min(lx), "ymin": min(ly), "xmax": max(lx), "ymax": max(ly),
            "ring_xs": lx, "ring_ys": ly,
        }
        for g, lx, ly, _ in cases
    ]
    polys = [
        {
            "polygon_id": 10,
            "xmin": 0.0, "ymin": 0.0, "xmax": 4.0, "ymax": 4.0,
            "ring_xs": sq[0], "ring_ys": sq[1],
        }
    ]
    out = {
        (r.polygon_id, r.b_polygon_id): r.inside_len
        for r in lines_clip_length_join(
            spark.createDataFrame(pd.DataFrame(lines), schema),
            spark.createDataFrame(pd.DataFrame(polys), schema),
            grid_zoom=4,
        ).collect()
    }
    assert set(out) == {(0, 10), (1, 10), (3, 10)}
    assert out[(0, 10)] == pytest.approx(4.0, abs=1e-12)
    assert out[(3, 10)] == pytest.approx(4.0, abs=1e-12)


def test_ring_ring_clip_area(spark):
    """Intersection-area kernel goldens: offset squares, containment,
    disjoint, a CW-wound input (orientation normalization), a concave L,
    plus join-level pairs and DuckDB-twin equality (twin inputs
    CCW-normalized in a CTE with the same sign test)."""
    import duckdb
    import pandas as pd
    import pytest

    from tilekiln_spark.functions.geometry import (
        ring_ring_clip_area_sql,
        ring_signed_area2_sql,
    )
    from tilekiln_spark.operators.spatial_join import (
        _ring_ring_clip_area_np,
        polygons_clip_area_join,
    )

    sq = ([0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 4.0, 4.0])          # CCW 4x4
    cases = [
        # (gid, bxs, bys, want_area)
        (0, [2.0, 6.0, 6.0, 2.0], [0.0, 0.0, 4.0, 4.0], 8.0),  # half overlap
        (1, [1.0, 2.0, 2.0, 1.0], [1.0, 1.0, 2.0, 2.0], 1.0),  # contained
        (2, [5.0, 6.0, 6.0, 5.0], [5.0, 5.0, 6.0, 6.0], 0.0),  # disjoint
        # CW-wound copy of case 0: normalization must give the same 8.0
        (3, [2.0, 2.0, 6.0, 6.0], [0.0, 4.0, 4.0, 0.0], 8.0),
        # concave L overlapping the square's right half
        (4, [3.0, 7.0, 7.0, 5.0, 5.0, 3.0],
            [1.0, 1.0, 3.0, 3.0, 5.0, 5.0], 3.0),
        # diamond centered on the corner (4,4)
        (5, [4.0, 5.0, 4.0, 3.0], [3.0, 4.0, 5.0, 4.0], 0.5),
        # IDENTICAL rings: pure shared boundary; the 1/2-weight convention
        # must return the ring's own area (1/2 from each traversal)
        (6, [0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 4.0, 4.0], 16.0),
    ]
    con = duckdb.connect()

    def arr(v):
        return "[" + ", ".join(repr(x) for x in v) + "]::DOUBLE[]"

    for gid, bxs, bys, want in cases:
        got = _ring_ring_clip_area_np(
            np.array(sq[0]), np.array(sq[1]), np.array(bxs), np.array(bys)
        )
        assert got == pytest.approx(want, abs=1e-9), gid
        # symmetric
        rev = _ring_ring_clip_area_np(
            np.array(bxs), np.array(bys), np.array(sq[0]), np.array(sq[1])
        )
        assert rev == pytest.approx(want, abs=1e-9), gid
        # twin on CCW-normalized inputs
        norm = " ".join(
            f"CASE WHEN ({ring_signed_area2_sql(c + 'xs0', c + 'ys0')}) < 0 "
            f"THEN list_reverse({c}{ax}0) ELSE {c}{ax}0 END AS {c}{ax},"
            for c in ("a", "b") for ax in ("xs", "ys")
        ).rstrip(",")
        dd = con.execute(
            f"WITH raw AS (SELECT {arr(sq[0])} axs0, {arr(sq[1])} ays0, "
            f"{arr(bxs)} bxs0, {arr(bys)} bys0), "
            f"n AS (SELECT {norm} FROM raw) "
            f"SELECT {ring_ring_clip_area_sql('axs', 'ays', 'bxs', 'bys')} FROM n"
        ).fetchone()[0]
        assert dd == pytest.approx(got, abs=1e-9), gid

    # join-level: squares A vs the case polygons as B
    schema = (
        "polygon_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring_xs array<double>, ring_ys array<double>"
    )
    a = spark.createDataFrame(
        pd.DataFrame([{
            "polygon_id": 0,
            "xmin": 0.0, "ymin": 0.0, "xmax": 4.0, "ymax": 4.0,
            "ring_xs": sq[0], "ring_ys": sq[1],
        }]),
        schema,
    )
    b = spark.createDataFrame(
        pd.DataFrame([
            {
                "polygon_id": gid,
                "xmin": min(bxs), "ymin": min(bys),
                "xmax": max(bxs), "ymax": max(bys),
                "ring_xs": bxs, "ring_ys": bys,
            }
            for gid, bxs, bys, _ in cases
        ]),
        schema,
    )
    got_join = {
        r.b_polygon_id: r.inter_area
        for r in polygons_clip_area_join(a, b, grid_zoom=4).collect()
    }
    assert set(got_join) == {0, 1, 3, 4, 5, 6}  # disjoint 2 dropped
    for gid, _, _, want in cases:
        if gid in got_join:
            assert got_join[gid] == pytest.approx(want, abs=1e-9), gid

def test_polygon_tile_cover_exact_vs_bbox(spark):
    """Exact tile cover vs bbox cover on a half-cell-inset concave L:
    the notch-interior cell is in the bbox cover but NOT the exact cover;
    solid-arm and boundary-crossing cells stay; every cover cell is
    within the bbox-plus-margin candidate set."""
    import pandas as pd

    from tilekiln_spark.operators.spatial_join import (
        explode_poly_cells,
        polygon_tile_cover,
    )
    from tilekiln_spark.tiles.core import HALF_WORLD

    z = 3
    L = 2.0 * HALF_WORLD / (1 << z)

    # L-shape inset half a cell from cell lines: region
    # x in [0.5L, 4.5L], y in [-4.5L, -0.5L] minus the notch
    # x > 2.5L, y > -2.5L
    xs = [0.5 * L, 4.5 * L, 4.5 * L, 2.5 * L, 2.5 * L, 0.5 * L]
    ys = [-4.5 * L, -4.5 * L, -2.5 * L, -2.5 * L, -0.5 * L, -0.5 * L]
    polys = spark.createDataFrame(
        pd.DataFrame([{
            "polygon_id": 0,
            "xmin": min(xs), "ymin": min(ys), "xmax": max(xs), "ymax": max(ys),
            "ring_xs": xs, "ring_ys": ys,
        }]),
        "polygon_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring_xs array<double>, ring_ys array<double>",
    )
    got = {
        (r.gx, r.gy) for r in polygon_tile_cover(polys, zoom=z).collect()
    }
    bbox = {
        (r.gx, r.gy)
        for r in explode_poly_cells(polys, z).select("gx", "gy").collect()
    }
    # cell (7, 5) = rect [3L,4L] x [-2L,-L] sits strictly inside the notch:
    # bbox cover has it, the exact cover must not
    assert (7, 5) in bbox
    assert (7, 5) not in got
    # solid-arm interior cell (5, 6) = [L,2L] x [-3L,-2L] is strictly
    # inside the L; corner-crossing cell (4, 4) intersects the ring
    assert (5, 6) in got and (4, 4) in got
    # the bbox cells the exact cover drops: the notch-interior cell and
    # the cell above the notch shoulder (outside the inset L entirely)
    assert bbox - got == {(7, 5), (7, 4)}
    # no cover cell escapes the bbox+1 candidate margin
    for gx, gy in got:
        assert 4 - 1 <= gx <= 8 + 1 and 4 - 1 <= gy <= 8 + 1


def test_generate_points_deterministic_interior(spark):
    """generate_points: every emitted point raycasts inside its polygon,
    output is bit-identical across runs (replayable generator), rejection
    is real on a thin diamond, and pt_seq is dense 1..n."""
    import pandas as pd

    from tilekiln_spark.operators.spatial_join import generate_points

    schema = (
        "polygon_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring_xs array<double>, ring_ys array<double>"
    )
    polys_rows = [
        # square: ~100% acceptance
        {"polygon_id": 1, "xmin": 0.0, "ymin": 0.0, "xmax": 4.0, "ymax": 4.0,
         "ring_xs": [0.0, 4.0, 4.0, 0.0], "ring_ys": [0.0, 0.0, 4.0, 4.0]},
        # thin diamond: ~50% of the bbox -> rejection exercised
        {"polygon_id": 2, "xmin": 0.0, "ymin": 0.0, "xmax": 8.0, "ymax": 2.0,
         "ring_xs": [0.0, 4.0, 8.0, 4.0], "ring_ys": [1.0, 0.0, 1.0, 2.0]},
    ]
    polys = spark.createDataFrame(pd.DataFrame(polys_rows), schema)
    out1 = generate_points(polys, n=6, candidates_per_point=16, seed=3)
    rows1 = sorted(
        (r.polygon_id, r.pt_seq, r.px, r.py) for r in out1.collect()
    )
    rows2 = sorted(
        (r.polygon_id, r.pt_seq, r.px, r.py)
        for r in generate_points(
            polys, n=6, candidates_per_point=16, seed=3
        ).collect()
    )
    assert rows1 == rows2  # replayable: bit-identical rerun
    per = {}
    by_pid = {p["polygon_id"]: p for p in polys_rows}
    for pid, seq, px, py in rows1:
        per.setdefault(pid, []).append(seq)
        p = by_pid[pid]
        assert _py_raycast(px, py, p["ring_xs"], p["ring_ys"]), (pid, px, py)
    for pid, seqs in per.items():
        assert seqs == list(range(1, len(seqs) + 1))
        assert len(seqs) == 6  # budget sufficed for both shapes
    # a different seed moves the points
    alt = sorted(
        (r.polygon_id, r.pt_seq, r.px, r.py)
        for r in generate_points(
            polys, n=6, candidates_per_point=16, seed=4
        ).collect()
    )
    assert alt != rows1


def test_polygons_relate_join_classes(spark):
    """Named-predicate relate join: every class label plus the
    disjoint-pairs-absent contract, and a pure-shared-boundary identical
    pair classifying as equals (the clip integral returns the ring's own
    area within the hoisted tolerance)."""
    import pandas as pd

    from tilekiln_spark.operators.spatial_join import polygons_relate_join

    schema = (
        "polygon_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring_xs array<double>, ring_ys array<double>"
    )

    def row(pid, xs, ys):
        return {
            "polygon_id": pid,
            "xmin": min(xs), "ymin": min(ys), "xmax": max(xs), "ymax": max(ys),
            "ring_xs": xs, "ring_ys": ys,
        }

    a = spark.createDataFrame(
        pd.DataFrame([row(0, [0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 4.0, 4.0])]),
        schema,
    )
    b_cases = [
        (10, [0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 4.0, 4.0], "equals"),
        (11, [1.0, 2.0, 2.0, 1.0], [1.0, 1.0, 2.0, 2.0], "contains"),
        (12, [-1.0, 5.0, 5.0, -1.0], [-1.0, -1.0, 5.0, 5.0], "within"),
        (13, [2.0, 6.0, 6.0, 2.0], [0.0, 0.0, 4.0, 4.0], "overlaps"),
        (14, [4.0, 6.0, 6.0, 4.0], [1.0, 1.0, 3.0, 3.0], "touches"),   # edge
        (15, [4.0, 5.0, 5.0, 4.0], [4.0, 4.0, 5.0, 5.0], "touches"),   # corner
        (16, [6.0, 7.0, 7.0, 6.0], [6.0, 6.0, 7.0, 7.0], None),        # disjoint
    ]
    b = spark.createDataFrame(
        pd.DataFrame([row(pid, xs, ys) for pid, xs, ys, _ in b_cases]), schema
    )
    got = {
        r.b_polygon_id: r.relation
        for r in polygons_relate_join(a, b, grid_zoom=4).collect()
    }
    assert 16 not in got
    for pid, _, _, want in b_cases:
        if want is not None:
            assert got[pid] == want, pid


def test_polygons_cluster_intersecting(spark):
    """ST_ClusterIntersecting: transitivity (A-B-C chain with A disjoint
    from C clusters together), disjoint pairs split, singleton labeled
    self with n_members 1."""
    import pandas as pd

    from tilekiln_spark.operators.spatial_join import (
        polygons_cluster_intersecting,
    )

    schema = (
        "polygon_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring_xs array<double>, ring_ys array<double>"
    )

    def row(pid, xs, ys):
        return {
            "polygon_id": pid,
            "xmin": min(xs), "ymin": min(ys), "xmax": max(xs), "ymax": max(ys),
            "ring_xs": xs, "ring_ys": ys,
        }

    def sq(pid, x0, y0, s=2.0):
        return row(pid, [x0, x0 + s, x0 + s, x0], [y0, y0, y0 + s, y0 + s])

    polys = spark.createDataFrame(
        pd.DataFrame([
            sq(1, 0.0, 0.0),      # chain: 1 meets 2, 2 meets 3, 1 misses 3
            sq(2, 1.5, 0.0),
            sq(3, 3.0, 0.0),
            sq(7, 10.0, 10.0),    # pair
            sq(8, 11.0, 11.0),
            sq(9, 50.0, 50.0),    # singleton
        ]),
        schema,
    )
    got = {
        r.polygon_id: (r.cluster_id, r.n_members)
        for r in polygons_cluster_intersecting(polys, grid_zoom=3).collect()
    }
    assert got == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        7: (7, 2), 8: (7, 2),
        9: (9, 1),
    }


def test_hausdorff_distance_asymmetric_sets(spark):
    """ST_HausdorffDistance: known value on asymmetric sets — the
    directed distances differ and the max wins; symmetric pair order."""
    import pandas as pd

    from tilekiln_spark.operators.spatial_join import hausdorff_distance

    # group 0: dense points on [0, 4] x {0}; group 1: {(2, 3)} — directed
    # 0->1 max_a min_b = dist((0,0),(2,3)) = sqrt(13); 1->0: min over a
    # of dist((2,3), a) = 3 (to (2,0)); hausdorff = sqrt(13)
    rows = [(0, i, float(i), 0.0) for i in range(5)]
    rows.append((1, 99, 2.0, 3.0))
    # group 2: identical to group 1 -> hausdorff(1, 2) = 0
    rows.append((2, 100, 2.0, 3.0))
    pts = spark.createDataFrame(
        pd.DataFrame(rows, columns=["g", "doc_id", "mx", "my"]),
        "g long, doc_id long, mx double, my double",
    )
    got = {
        (r.g_a, r.g_b): round(r.hausdorff, 9)
        for r in hausdorff_distance(pts, "g").collect()
    }
    import math
    assert got[(0, 1)] == round(math.sqrt(13.0), 9)
    assert got[(1, 2)] == 0.0
    assert got[(0, 2)] == round(math.sqrt(13.0), 9)
    assert set(got) == {(0, 1), (0, 2), (1, 2)}


def test_ripleys_k_hand_counts(spark):
    """4-point fixture with hand-enumerated pair distances: exact ordered
    pair counts per radius (boundary-inclusive at exactly r), K = A*cnt/n^2
    off the bbox area, L = sqrt(K/pi); a radius below every distance gives
    the zero row, not an absent row."""
    import math

    from tilekiln_spark.operators.spatial_join import ripleys_k

    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1000.0, 0.0), (3, 2000.0, 0.0), (4, 0.0, 3000.0)],
        "doc_id long, mx double, my double",
    )
    out = {r.r: (r.n_pairs, r.k_est, r.l_est)
           for r in ripleys_k(pts, [1000.0, 2500.0, 4000.0]).collect()}
    area, n = 2000.0 * 3000.0, 4.0
    # ordered pairs: r=1000 -> AB,BC (x2) = 4; r=2500 adds AC = 6;
    # r=4000 adds AD(3000), BD(3162.3), CD(3605.6) = 12
    for r, cnt in ((1000.0, 4), (2500.0, 6), (4000.0, 12)):
        k = area * cnt / (n * n)
        got = out[r]
        assert got[0] == cnt, r
        assert abs(got[1] - k) < 1e-9
        assert abs(got[2] - math.sqrt(k / math.pi)) < 1e-12

    zero = ripleys_k(pts, [10.0]).collect()[0]
    assert (zero.n_pairs, zero.k_est, zero.l_est) == (0, 0.0, 0.0)


def test_ripleys_k_validation(spark):
    import pytest

    from tilekiln_spark.operators.spatial_join import ripleys_k

    pts = spark.createDataFrame([(1, 0.0, 0.0)], "doc_id long, mx double, my double")
    with pytest.raises(ValueError):
        ripleys_k(pts, [])
    with pytest.raises(ValueError):
        ripleys_k(pts, [-5.0, 100.0])


def test_cross_k_hand_counts_and_shared_point(spark):
    """Cross-K pairs hand-enumerated between A = {(0,0),(2000,0)} and
    B = {(1000,0),(5000,3000),(0,0)}: the shared point (0,0) is a
    genuine zero-distance cross pair; Area uses the COMBINED bbox."""
    import math

    from tilekiln_spark.operators.spatial_join import cross_k

    a = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 2000.0, 0.0)], "doc_id long, mx double, my double"
    )
    b = spark.createDataFrame(
        [(10, 1000.0, 0.0), (11, 5000.0, 3000.0), (12, 0.0, 0.0)],
        "doc_id long, mx double, my double",
    )
    out = {r.r: (r.n_pairs, r.k_est, r.l_est)
           for r in cross_k(a, b, [1000.0, 4000.0]).collect()}
    area = 5000.0 * 3000.0
    # r=1000: (A1,B10)=1000 inclusive, (A1,B12)=0, (A2,B10)=1000 -> 3
    # r=4000: + (A2,B12)=2000; B11 at sqrt(3000^2+3000^2)=4243 from A2
    #   and sqrt(25+9)e3=5831 from A1 -> both out -> 4
    for r, cnt in ((1000.0, 3), (4000.0, 4)):
        k = area * cnt / (2.0 * 3.0)
        got = out[r]
        assert got[0] == cnt, r
        assert abs(got[1] - k) < 1e-9
        assert abs(got[2] - math.sqrt(k / math.pi)) < 1e-9
