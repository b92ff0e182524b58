"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship tiling pipeline at sf0.001.
``queries()`` / ``oracle_sql()`` expose the operator inventory from
SURVEY.md §2 plus the training-data operators (dedup / similarity / text),
each value-checked against DuckDB where ANSI-SQL can express it.

Column names are aliased identically on both sides; floats that feed the
value hash are rounded on both sides with the same expression.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tilekiln_spark.config.model import Config
from tilekiln_spark.functions.geocode import (
    GEOCODE_ARITH_LAT_SQL,
    GEOCODE_ARITH_LON_SQL,
    geocode_arith_lat,
    geocode_arith_lon,
)
from tilekiln_spark.functions.tileids import (
    envelope_cols,
    merc_x,
    merc_y,
    tile_x,
    tile_y,
    tileid,
    tileid_zxy,
)
from tilekiln_spark.functions.text import (
    fingerprint_md5,
    lang_id,
    lang_id_sql,
    quality_features,
    token_count,
)
from tilekiln_spark.operators.dedup import (
    dedup_clusters,
    duplicate_spans,
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard,
    paragraph_dedup,
    simhash_pairs,
)
from tilekiln_spark.operators.mvt import mvt_layer_agg
from tilekiln_spark.operators.sampling import (
    _threshold_hex,
    sample_by,
    sample_fraction,
    stratified_quota_sample,
)
from tilekiln_spark.operators.similarity import (
    brute_force_topk,
    cosine_sim,
    embedding_neardup_pairs,
    lsh_topk,
)
from tilekiln_spark.operators.spatial_join import knn_assign, points_in_polygons
from tilekiln_spark.operators.tiling import render_zoom
from tilekiln_spark.tiles.core import HALF_WORLD

HW = HALF_WORLD

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

_LON_SQL = GEOCODE_ARITH_LON_SQL.format(id="doc_id")
_LAT_SQL = GEOCODE_ARITH_LAT_SQL.format(id="doc_id")
_MX_SQL = f"(({_LON_SQL}) / 180.0 * {HW})"
_MY_SQL = f"(ln(tan(pi()/4 + radians({_LAT_SQL})/2)) / pi() * {HW})"


def _mx_my(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    lon = geocode_arith_lon(F.col(id_col))
    lat = geocode_arith_lat(F.col(id_col))
    return df.withColumn("mx", merc_x(lon)).withColumn("my", merc_y(lat))


def _tile_xy_sql(z: int, mx: str = "mx", my: str = "my") -> tuple[str, str]:
    length = f"(2.0 * {HW} / power(2.0, {z}))"
    tx = f"CAST(greatest(0, least(floor(({mx} + {HW}) / {length}), power(2.0, {z}) - 1)) AS INTEGER)"
    ty = f"CAST(greatest(0, least(floor(({HW} - {my}) / {length}), power(2.0, {z}) - 1)) AS INTEGER)"
    return tx, ty


_GEO_CTE = (
    f"WITH geo AS (SELECT doc_id, lang, source, n_chars, {_MX_SQL} AS mx, {_MY_SQL} AS my FROM documents)"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _quadrant_pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hull-family point fixture: a deterministic doc sample
    (doc_id % 3 == 0) bucketed into mercator quadrants — the bounded
    per-group point sets the triangulation family is specified over."""
    return _mx_my(_docs(spark, sf_dir)).where(F.col("doc_id") % 3 == 0).select(
        (
            F.when(F.col("mx") >= 0, F.lit(2)).otherwise(F.lit(0))
            + F.when(F.col("my") >= 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("gid"),
        "mx",
        "my",
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _messy_urls(docs: DataFrame) -> DataFrame:
    """Deterministic messy-URL fixture over the documents table, expressible
    identically in DuckDB (see _MESSY_URLS_SQL): mixed-case scheme/host,
    userinfo, default + non-default ports, trailing slashes, deep paths,
    badword paths, tracking params, fragments."""
    i = F.col("doc_id")
    s = i.cast("string")
    scheme = (
        F.when(i % 17 == 0, "ftp://").when(i % 3 == 0, "HTTP://").otherwise("https://")
    )
    userinfo = F.when(i % 11 == 0, "bot:pw@").otherwise("")
    host = F.concat(
        F.lit("Host"), (i % 7).cast("string"),
        F.when(i % 5 == 0, ".News").otherwise(""), F.lit(".Example.com"),
    )
    port = (
        F.when(i % 13 == 0, ":8080").when(i % 3 == 0, ":80").when(i % 4 == 1, ":443").otherwise("")
    )
    path = F.concat(
        F.lit("/"), F.col("lang"), F.lit("/p"), s,
        F.when(i % 6 == 0, "/").otherwise(""),
        F.when(i % 9 == 0, "/x/y/z").when(i % 10 == 7, "/cart").otherwise(""),
    )
    tail = (
        F.when(i % 4 == 0, F.concat(F.lit("?utm_source=feed&ref=x&q="), F.col("source")))
        .when(i % 4 == 1, F.concat(F.lit("?q="), F.col("source"), F.lit("&utm_medium=email&id="), s))
        .when(i % 4 == 2, F.concat(F.lit("#sec-"), s))
        .otherwise("")
    )
    return docs.select(
        "doc_id", "lang", "text",
        F.concat(scheme, userinfo, host, port, path, tail).alias("url"),
    )


_MESSY_URLS_SQL = """
    u AS (
        SELECT doc_id, lang, text,
            (CASE WHEN doc_id % 17 = 0 THEN 'ftp://'
                  WHEN doc_id % 3 = 0 THEN 'HTTP://' ELSE 'https://' END)
            || (CASE WHEN doc_id % 11 = 0 THEN 'bot:pw@' ELSE '' END)
            || 'Host' || CAST(doc_id % 7 AS VARCHAR)
            || (CASE WHEN doc_id % 5 = 0 THEN '.News' ELSE '' END) || '.Example.com'
            || (CASE WHEN doc_id % 13 = 0 THEN ':8080'
                     WHEN doc_id % 3 = 0 THEN ':80'
                     WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END)
            || '/' || lang || '/p' || CAST(doc_id AS VARCHAR)
            || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
            || (CASE WHEN doc_id % 9 = 0 THEN '/x/y/z'
                     WHEN doc_id % 10 = 7 THEN '/cart' ELSE '' END)
            || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&ref=x&q=' || source
                     WHEN doc_id % 4 = 1 THEN '?q=' || source || '&utm_medium=email&id=' || CAST(doc_id AS VARCHAR)
                     WHEN doc_id % 4 = 2 THEN '#sec-' || CAST(doc_id AS VARCHAR)
                     ELSE '' END) AS url
        FROM documents
    )
"""

# DuckDB twin of functions/web.py url parsing: one CTE computing the
# normalization prefix/rest split so the three web oracles share it.
_URL_PARTS_SQL = """
    parts AS (
        SELECT doc_id, lang, text, url,
               regexp_replace(url, '#.*$', '') AS u1
        FROM u
    ),
    pre0 AS (
        SELECT *, regexp_replace(
                   lower(regexp_extract(u1, '^([^:/?#]+://[^/?#]*)', 1)),
                   '://[^/@]*@', '://') AS p0
        FROM parts
    ),
    norm AS (
        SELECT doc_id, lang, text, url, u1,
               CASE WHEN p0 LIKE 'http://%' THEN regexp_replace(p0, ':80$', '')
                    WHEN p0 LIKE 'https://%' THEN regexp_replace(p0, ':443$', '')
                    ELSE p0 END AS pre,
               regexp_extract(u1, '^[^:/?#]+://[^/?#]*([/?].*)?$', 1) AS rest
        FROM pre0
    ),
    web AS (
        SELECT doc_id, lang, text, url,
               lower(regexp_extract(u1, '^([^:/?#]+)://', 1)) AS scheme,
               regexp_extract(pre, '://([^:/]*)', 1) AS host,
               regexp_extract(regexp_extract(pre, '://([^:/]*)', 1),
                              '([^.]+\\.[^.]+)$', 1) AS domain,
               split_part(rest, '?', 1) AS path,
               len(list_filter(string_split(split_part(rest, '?', 1), '/'),
                               s -> s <> '')) AS depth,
               pre || split_part(rest, '?', 1) ||
               (CASE WHEN array_to_string(list_filter(
                         string_split(CASE WHEN contains(rest, '?')
                                      THEN substr(rest, strpos(rest, '?') + 1)
                                      ELSE '' END, '&'),
                         p -> p <> '' AND NOT regexp_matches(p,
                              '^(utm_[^=]*|gclid|fbclid|msclkid|mc_cid|mc_eid|ref)(=|$)')), '&') <> ''
                     THEN '?' || array_to_string(list_filter(
                         string_split(substr(rest, strpos(rest, '?') + 1), '&'),
                         p -> p <> '' AND NOT regexp_matches(p,
                              '^(utm_[^=]*|gclid|fbclid|msclkid|mc_cid|mc_eid|ref)(=|$)')), '&')
                     ELSE '' END) AS url_norm
        FROM norm
    )
"""


# deterministic synthetic polygon grid, expressible in both engines:
# 6x6 cells over [-HW, HW]^2, each shrunk by 10% margin; octagon ids cut corners
_GRID_N = 6


def _grid_polys(spark: SparkSession) -> DataFrame:
    cell = 2.0 * HW / _GRID_N
    df = spark.range(_GRID_N * _GRID_N).select(
        F.col("id").alias("polygon_id"),
        (F.lit(-HW) + (F.col("id") % _GRID_N) * cell + 0.1 * cell).alias("xmin"),
        (F.lit(-HW) + F.floor(F.col("id") / _GRID_N) * cell + 0.1 * cell).alias("ymin"),
    )
    df = df.withColumn("xmax", F.col("xmin") + 0.8 * cell).withColumn(
        "ymax", F.col("ymin") + 0.8 * cell
    )
    return df.withColumn(
        "ring_xs",
        F.array(F.col("xmin"), F.col("xmax"), F.col("xmax"), F.col("xmin")),
    ).withColumn(
        "ring_ys",
        F.array(F.col("ymin"), F.col("ymin"), F.col("ymax"), F.col("ymax")),
    )


_HOLE_N = 4


def _hole_polys(spark: SparkSession) -> DataFrame:
    """4x4 deterministic polygons-with-holes: each spans [0.1, 1.3] of its
    cell (so it overlaps the neighbor tile at z2) with a centered square
    hole at [0.5, 0.7] — offsets chosen so no pixel coordinate lands on an
    exact .5 (np.round is banker's, SQL round is half-away)."""
    cell = 2.0 * HW / _HOLE_N
    i = F.col("id")
    ox = F.lit(-HW) + (i % _HOLE_N) * cell
    oy = F.lit(-HW) + F.floor(i / _HOLE_N) * cell
    xmin, xmax = ox + 0.1 * cell, ox + 1.3 * cell
    ymin, ymax = oy + 0.1 * cell, oy + 1.3 * cell
    hx0, hx1 = ox + 0.5 * cell, ox + 0.7 * cell
    hy0, hy1 = oy + 0.5 * cell, oy + 0.7 * cell
    return spark.range(_HOLE_N * _HOLE_N).select(
        i.alias("polygon_id"),
        xmin.alias("xmin"), ymin.alias("ymin"),
        xmax.alias("xmax"), ymax.alias("ymax"),
        F.array(xmin, xmax, xmax, xmin).alias("ring_xs"),
        F.array(ymin, ymin, ymax, ymax).alias("ring_ys"),
        F.array(F.array(hx0, hx1, hx1, hx0)).alias("holes_xs"),
        F.array(F.array(hy0, hy0, hy1, hy1)).alias("holes_ys"),
    )


_GRID_SQL = f"""
polys AS (
  SELECT id AS polygon_id,
         -{HW} + (id % {_GRID_N}) * (2.0*{HW}/{_GRID_N}) + 0.1 * (2.0*{HW}/{_GRID_N}) AS xmin,
         -{HW} + floor(id / {_GRID_N}) * (2.0*{HW}/{_GRID_N}) + 0.1 * (2.0*{HW}/{_GRID_N}) AS ymin,
         -{HW} + (id % {_GRID_N}) * (2.0*{HW}/{_GRID_N}) + 0.9 * (2.0*{HW}/{_GRID_N}) AS xmax,
         -{HW} + floor(id / {_GRID_N}) * (2.0*{HW}/{_GRID_N}) + 0.9 * (2.0*{HW}/{_GRID_N}) AS ymax
  FROM range({_GRID_N * _GRID_N}) t(id)
)
"""


# concave ring fixtures for the ray-cast join (mercator metres): an L-shape
# in the NE quadrant and a left-pointing arrowhead in the SW quadrant
_CONCAVE_RINGS = [
    (0, "L", [0.0, 1.6e7, 1.6e7, 8.0e6, 8.0e6, 0.0],
             [0.0, 0.0, 8.0e6, 8.0e6, 1.6e7, 1.6e7]),
    (1, "arrow", [-1.8e7, -2.0e6, -1.0e7, -2.0e6],
                 [-1.0e7, -1.8e7, -1.0e7, -2.0e6]),
]


def _geog_ring_rows() -> list:
    """(gid, lats, lons) fixture for the geography-area oracle: the concave
    mercator rings inverse-projected ONCE in Python (identical degree
    literals reach both engines), two lat/lon rectangles spanning low and
    high latitudes, and the degenerate/null guards."""
    import math

    def inv(mx: float, my: float) -> tuple:
        lon = mx / HW * 180.0
        lat = math.degrees(2.0 * math.atan(math.exp(my / HW * math.pi)) - math.pi / 2.0)
        return lat, lon

    rows = []
    for p, _n, xs, ys in _CONCAVE_RINGS:
        pts = [inv(x, y) for x, y in zip(xs, ys)]
        rows.append((p, [la for la, _ in pts], [lo for _, lo in pts]))
    rows.append((2, [10.0, 10.0, 20.0, 20.0], [30.0, 45.0, 45.0, 30.0]))
    rows.append((3, [60.0, 60.0, 75.0, 75.0], [-130.0, -100.0, -100.0, -130.0]))
    rows.append((4, [5.0, 6.0], [5.0, 6.0]))
    rows.append((5, None, None))
    return rows


_CENT_CELL = 2.0 * HW / 4


def _grid_cents(spark: SparkSession) -> DataFrame:
    """The shared 16-seed grid-centroid dim (cid, cx, cy) — ONE definition
    drives every query that ranks/joins against the seeds AND the matching
    _CENTS_SQL twin fragment, so the two engines cannot drift."""
    n = 4
    return spark.range(n * n).select(
        F.col("id").alias("cid"),
        (F.lit(-HW) + (F.col("id") % n + 0.5) * _CENT_CELL).alias("cx"),
        (F.lit(-HW) + (F.floor(F.col("id") / n) + F.lit(0.5)) * _CENT_CELL).alias("cy"),
    )


_CENTS_SQL = f"""cents AS (
            SELECT id AS cid,
                   -{HW} + ((id % 4) + 0.5) * {_CENT_CELL} AS cx,
                   -{HW} + (floor(id / 4) + 0.5) * {_CENT_CELL} AS cy
            FROM range(16) t(id)
        )"""


def _raycast_sql(xs: list, ys: list) -> str:
    n = len(xs)
    terms = []
    for i in range(n):
        j = (i + 1) % n
        xi, yi, xj, yj = repr(xs[i]), repr(ys[i]), repr(xs[j]), repr(ys[j])
        terms.append(
            f"(CASE WHEN ((({yi}) > my) != (({yj}) > my)) THEN "
            f"CASE WHEN mx < ({xi}) + (my - ({yi})) * (({xj}) - ({xi})) / (({yj}) - ({yi})) "
            f"THEN 1 ELSE 0 END ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


# true-polyline fixture for the LINESTRING render oracle: zigzag vertex
# chains in z2 tile units (all coordinates multiples of 1/64 so pixel math
# stays on exact binary fractions — never an ambiguous .5 round).  Line 0
# EXITS tile (1,1) and RE-ENTERS it (two MoveTo parts in that tile).
_LINES_UV = [
    (0, [(1.25, 1.25), (2.25, 1.4375), (1.25, 1.625)]),
    (1, [(0.25, 0.25), (2.75, 2.875)]),
    (2, [(3.125, 0.3125), (3.875, 0.9375), (3.203125, 1.796875), (3.8125, 3.25)]),
    (3, [(0.5, 2.5), (1.5, 3.5), (0.75, 3.75), (1.25, 2.75)]),
]
_LINE_TL = 2.0 * HW / 4  # z2 tile side length in mercator units


def _line_merc(uv):
    return [(-HW + u * _LINE_TL, HW - v * _LINE_TL) for u, v in uv]


def _line_fixture(spark: SparkSession) -> DataFrame:
    import pandas as pd

    rows = []
    for lid, uv in _LINES_UV:
        pts = _line_merc(uv)
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        rows.append(
            {
                "polygon_id": lid,
                "xmin": min(xs), "ymin": min(ys),
                "xmax": max(xs), "ymax": max(ys),
                "ring_xs": xs, "ring_ys": ys,
            }
        )
    return spark.createDataFrame(
        pd.DataFrame(rows),
        "polygon_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring_xs array<double>, ring_ys array<double>",
    )


_LINES_B_UV = [
    (100, [(1.0, 1.0), (3.0, 3.0)]),          # diagonal: crosses line 0 only
    (101, [(3.9, 3.9), (3.95, 3.95)]),        # tiny disjoint segment
    (102, [(1.5, 1.0), (1.5, 1.6)]),          # vertical: crosses lines 0 and 1
    (103, [(0.0, 0.0), (4.0, 4.0)]),          # full-extent WHALE diagonal
    (104, [(2.75, 2.875), (3.5, 2.0)]),       # touches line 1's end, crosses 2
]


_CONTAIN_POLYS_UV = [
    # (pid, [(u, v) ring vertices, no closing repeat])
    (200, [(1.0, 1.0), (2.5, 1.0), (2.5, 2.0), (1.0, 2.0)]),   # contains line 0
    (201, [(3.0, 0.25), (4.0, 0.25), (4.0, 2.0), (3.0, 2.0)]), # line 2 exits
    (202, [(0.05, 0.05), (3.95, 0.05), (3.95, 3.95), (0.05, 3.95)]),  # WHALE: all
    (203, [(0.5, 2.5), (1.5, 2.5), (1.5, 3.75), (0.5, 3.75)]), # line 3 bbox: touch
    (204, [(0.1, 0.1), (0.2, 0.1), (0.2, 0.2), (0.1, 0.2)]),   # disjoint
]


_AREA_POLYS_UV = [
    # overlay side B for the intersection-area query: partial overlaps, a
    # diamond, a concave L, a CW-wound ring (orientation normalization on
    # the REAL path), and a rect SHARING 200's right border + 201's top
    # border (the 1/2-weight shared-boundary convention on the real path)
    (300, [(2.0, 0.5), (3.5, 0.5), (3.5, 1.5), (2.0, 1.5)]),
    (301, [(1.75, 0.9), (2.35, 1.5), (1.75, 2.1), (1.15, 1.5)]),
    (302, [(0.6, 2.6), (1.3, 2.6), (1.3, 3.0), (0.9, 3.0), (0.9, 3.5), (0.6, 3.5)]),
    (303, [(1.2, 1.2), (1.2, 1.8), (2.2, 1.8), (2.2, 1.2)]),   # CW in uv
    (304, [(2.5, 1.0), (3.2, 1.0), (3.2, 2.0), (2.5, 2.0)]),
]


_SPLIT_BLADES = [
    # ST_Split blade lines in MERCATOR coordinates: (label, nx, ny, c)
    # names the half-plane nx*x + ny*y <= c.  A vertical blade at u=2
    # (cuts 200/201/202/300/301/303/304) and the main diagonal u=v
    # (x + y = 0 in mercator — cuts 202/301/302 and grazes corners).
    ("v_u2", 1.0, 0.0, -HW + 2.0 * _LINE_TL),
    ("diag", 1.0, 1.0, 0.0),
]


_RELATE_POLYS_UV = [
    # B side for the named-predicate relate join vs _CONTAIN_POLYS_UV:
    # every class appears — equals(200,400), within(204,401),
    # edge-touch(200,402)+(201,402), corner-touch(200,403),
    # overlaps(201,404)+(202,404), contains(200,405) — plus the whale 202
    # containing 400/401/402/403/405
    (400, [(1.0, 1.0), (2.5, 1.0), (2.5, 2.0), (1.0, 2.0)]),   # == 200
    (401, [(0.06, 0.06), (0.3, 0.06), (0.3, 0.3), (0.06, 0.3)]),  # ⊃ 204
    (402, [(2.5, 1.2), (3.0, 1.2), (3.0, 1.8), (2.5, 1.8)]),   # edge-touch
    (403, [(0.5, 0.5), (1.0, 0.5), (1.0, 1.0), (0.5, 1.0)]),   # corner-touch
    (404, [(3.5, 1.0), (4.2, 1.0), (4.2, 2.5), (3.5, 2.5)]),   # overlaps
    (405, [(1.2, 1.2), (2.0, 1.2), (2.0, 1.8), (1.2, 1.8)]),   # ⊂ 200
]


_MERGE_SEG_ROWS = [
    # ST_LineMerge fixture — every length float64-exact (axis-aligned or
    # 3-4-5) so cross-engine sums are order-independent.
    # chain A (seg 3 stored reversed)
    (1, 0.0, 0.0, 1.0, 0.0),
    (2, 1.0, 0.0, 2.0, 0.0),
    (3, 3.0, 0.0, 2.0, 0.0),
    (4, 3.0, 0.0, 3.0, 1.0),
    # ring B: closed rectangle
    (10, 5.0, 5.0, 7.0, 5.0),
    (11, 7.0, 5.0, 7.0, 6.0),
    (12, 7.0, 6.0, 5.0, 6.0),
    (13, 5.0, 6.0, 5.0, 5.0),
    # T junction at (10,0) — degree 3, merge stops; 20 continues to 23
    (20, 10.0, 0.0, 10.0, 2.0),
    (21, 10.0, 0.0, 12.0, 0.0),
    (22, 10.0, 0.0, 8.0, 0.0),
    (23, 10.0, 2.0, 10.0, 5.0),
    # isolated 3-4-5 diagonal singleton
    (30, 20.0, 20.0, 23.0, 24.0),
]


_NODE_SEG_ROWS = [
    # ST_Node fixture: a double-crossed long segment, an X pair, a
    # T-touch (endpoint on interior), an exactly-collinear partial
    # overlap (zero denominator — split at the projected overlap
    # endpoints since r5), and an isolated diagonal
    (1, 0.0, 0.0, 10.0, 0.0),
    (2, 2.0, -1.0, 2.0, 1.0),
    (3, 7.0, -2.0, 7.0, 3.0),
    (4, 0.0, 5.0, 4.0, 5.0),
    (5, 2.0, 5.0, 2.0, 9.0),
    (6, 20.0, 0.0, 24.0, 0.0),
    (7, 22.0, 0.0, 26.0, 0.0),
    (8, 30.0, 30.0, 33.0, 34.0),
]


# DP fixture chains: (line_id, n, multiplier, range, scale) — x = i*1000,
# y = ((i*m) % r - r//2) * s; exact integer doubles both engines
_DP_CHAINS = [
    (0, 24, 37, 16, 250),
    (1, 24, 53, 32, 125),
    (2, 20, 11, 8, 500),
    (3, 22, 29, 24, 200),
]


_POLYGONIZE_SEG_ROWS = [
    # ST_Polygonize fixture: a 2x2 grid of unit squares (12 shared
    # segments -> 4 faces), a dangle off the grid corner, an isolated
    # 3-4-5 right triangle, and an isolated segment — all coordinates
    # exact so the Green-area sums are order-independent
    (0, 0.0, 0.0, 1.0, 0.0), (1, 1.0, 0.0, 2.0, 0.0),
    (2, 0.0, 1.0, 1.0, 1.0), (3, 1.0, 1.0, 2.0, 1.0),
    (4, 0.0, 2.0, 1.0, 2.0), (5, 1.0, 2.0, 2.0, 2.0),
    (6, 0.0, 0.0, 0.0, 1.0), (7, 0.0, 1.0, 0.0, 2.0),
    (8, 1.0, 0.0, 1.0, 1.0), (9, 1.0, 1.0, 1.0, 2.0),
    (10, 2.0, 0.0, 2.0, 1.0), (11, 2.0, 1.0, 2.0, 2.0),
    (12, 2.0, 2.0, 3.0, 3.0),
    (13, 10.0, 0.0, 13.0, 0.0), (14, 13.0, 0.0, 10.0, 4.0),
    (15, 10.0, 4.0, 10.0, 0.0),
    (16, 20.0, 20.0, 21.0, 21.0),
    # lake-with-island: a DISCONNECTED square nested inside another —
    # the outer face must come back hole-subtracted (36-4=32, 8 edges)
    # plus the island face (4)
    (17, 40.0, 40.0, 46.0, 40.0), (18, 46.0, 40.0, 46.0, 46.0),
    (19, 46.0, 46.0, 40.0, 46.0), (20, 40.0, 46.0, 40.0, 40.0),
    (21, 42.0, 42.0, 44.0, 42.0), (22, 44.0, 42.0, 44.0, 44.0),
    (23, 44.0, 44.0, 42.0, 44.0), (24, 42.0, 44.0, 42.0, 42.0),
]


_SHARED_SEG_ROWS = [
    # ST_SharedPaths fixture: containment overlap, partial overlap,
    # reversed-direction overlap, endpoint touch (zero — excluded),
    # parallel non-collinear (excluded), 3-4-5 diagonal overlap
    (1, 0.0, 0.0, 10.0, 0.0), (2, 4.0, 0.0, 6.0, 0.0),
    (3, 8.0, 0.0, 14.0, 0.0), (4, 20.0, 0.0, 24.0, 0.0),
    (5, 26.0, 0.0, 22.0, 0.0), (6, 0.0, 5.0, 4.0, 5.0),
    (7, 4.0, 5.0, 8.0, 5.0), (8, 0.0, 10.0, 4.0, 10.0),
    (9, 0.0, 11.0, 4.0, 11.0), (10, 0.0, 20.0, 6.0, 28.0),
    (11, 3.0, 24.0, 9.0, 32.0),
]


_UNION_RINGS = [
    # n-way union fixture: a chain of three squares (0/1 SHARE a
    # collinear border piece along y=0 — the duplicate-edge XOR path),
    # a disjoint square, a diamond crossing square 2 diagonally, and
    # (r5) a fully-nested DISJOINT island inside square 3 — the
    # raycast seed-mask path: its faces carry the host's bit, its
    # negative outer cycle cancels its interior, union area unchanged
    (0, [0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 4.0, 4.0]),
    (1, [2.0, 6.0, 6.0, 2.0], [0.0, 0.0, 4.0, 4.0]),
    (2, [5.0, 9.0, 9.0, 5.0], [0.0, 0.0, 4.0, 4.0]),
    (3, [20.0, 22.0, 22.0, 20.0], [20.0, 20.0, 22.0, 22.0]),
    (4, [8.0, 10.0, 8.0, 6.0], [2.0, 4.0, 6.0, 4.0]),
    (5, [20.5, 21.5, 21.5, 20.5], [20.5, 20.5, 21.5, 21.5]),
]


_MAKEVALID_RINGS = [
    # ST_MakeValid fixture: a bowtie (edges cross at (2,2) -> two
    # 4-area triangles), an already-valid square (repair = identity), a
    # figure-8 self-touching at (20,4) (two 16-area lobes), and a valid
    # square overlapping the bowtie (faces split, per-ring parity areas
    # unchanged; its corners sit exactly ON the bowtie diagonals — the
    # vertex-on-edge noding path)
    (0, [0.0, 4.0, 0.0, 4.0], [0.0, 0.0, 4.0, 4.0]),
    (1, [10.0, 14.0, 14.0, 10.0], [0.0, 0.0, 4.0, 4.0]),
    (2, [20.0, 24.0, 24.0, 20.0, 16.0, 16.0, 20.0, 20.0],
        [0.0, 0.0, 4.0, 4.0, 4.0, 8.0, 8.0, 4.0]),
    (3, [1.0, 3.0, 3.0, 1.0], [1.0, 1.0, 3.0, 3.0]),
]


_OVERLAP_SQ_SEGS = [
    # two overlapping axis-aligned squares drawn as UN-noded segments:
    # A = (0,0)-(4,4), B = (2,2)-(6,6); they cross at (4,2) and (2,4),
    # so polygonize finds faces ONLY after noding — 3 faces:
    # A∩B (4 edges, area 4), A∖B and B∖A (6 edges, area 12 each)
    (0, 0.0, 0.0, 4.0, 0.0), (1, 4.0, 0.0, 4.0, 4.0),
    (2, 4.0, 4.0, 0.0, 4.0), (3, 0.0, 4.0, 0.0, 0.0),
    (4, 2.0, 2.0, 6.0, 2.0), (5, 6.0, 2.0, 6.0, 6.0),
    (6, 6.0, 6.0, 2.0, 6.0), (7, 2.0, 6.0, 2.0, 2.0),
]


_ROUTE_EDGES = [
    # road-network fixture for shortest_paths — integer-valued double
    # weights (exact sums, order-independent min cross-engine); covers a
    # multi-hop route beating a direct edge (1-2-3 vs 1-3), an equal-dist
    # fewest-hops tie (1-5 direct vs 1-2-5), a positive cycle (3-4-6),
    # and a component disconnected from the source (99-100)
    (1, 2, 1.0), (2, 3, 1.0), (1, 3, 3.0), (1, 5, 2.0), (2, 5, 1.0),
    (3, 4, 2.0), (4, 6, 1.0), (6, 3, 1.0), (5, 7, 4.0), (7, 8, 1.0),
    (4, 8, 2.0), (8, 9, 3.0), (99, 100, 1.0),
]


def _contain_poly_fixture(spark: SparkSession, polys_uv=None) -> DataFrame:
    import pandas as pd

    rows = []
    for pid, uv in (polys_uv or _CONTAIN_POLYS_UV):
        pts = _line_merc(uv)
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        rows.append(
            {
                "polygon_id": pid,
                "xmin": min(xs), "ymin": min(ys),
                "xmax": max(xs), "ymax": max(ys),
                "ring_xs": xs, "ring_ys": ys,
            }
        )
    return spark.createDataFrame(
        pd.DataFrame(rows),
        "polygon_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring_xs array<double>, ring_ys array<double>",
    )


def _line_fixture_b(spark: SparkSession) -> DataFrame:
    import pandas as pd

    rows = []
    for lid, uv in _LINES_B_UV:
        pts = _line_merc(uv)
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        rows.append(
            {
                "polygon_id": lid,
                "xmin": min(xs), "ymin": min(ys),
                "xmax": max(xs), "ymax": max(ys),
                "ring_xs": xs, "ring_ys": ys,
            }
        )
    return spark.createDataFrame(
        pd.DataFrame(rows),
        "polygon_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring_xs array<double>, ring_ys array<double>",
    )


def _line_chain_values_sql(lines) -> str:
    """VALUES rows (lid, xs, ys) — one per polyline, mercator vertex arrays
    emitted verbatim (repr) so DuckDB computes on the identical float64
    constants the Spark fixtures carry."""
    vals = []
    for lid, uv in lines:
        pts = _line_merc(uv)
        vals.append(
            f"({lid}, {_arr_sql([p[0] for p in pts])}, "
            f"{_arr_sql([p[1] for p in pts])})"
        )
    return ", ".join(vals)


def _line_segs_sql() -> str:
    """VALUES rows (osm_id, seg, mx1, my1, mx2, my2) — one per polyline
    segment, mercator doubles emitted verbatim (repr) so DuckDB computes on
    the identical float64 constants the Spark fixture carries."""
    vals = []
    for lid, uv in _LINES_UV:
        pts = _line_merc(uv)
        for s in range(len(pts) - 1):
            (x1, y1), (x2, y2) = pts[s], pts[s + 1]
            # explicit DOUBLE casts: DuckDB parses bare decimal literals as
            # DECIMAL and would do exact decimal arithmetic where the engine
            # does IEEE float64 — the ulp-level merge/disc semantics depend
            # on float64 throughout
            vals.append(
                f"({lid}, {s}, CAST({x1!r} AS DOUBLE), CAST({y1!r} AS DOUBLE), "
                f"CAST({x2!r} AS DOUBLE), CAST({y2!r} AS DOUBLE))"
            )
    return ", ".join(vals)


def _measure_fixture_rows() -> list:
    """(gid, kind, xs, ys) rows for the planar-measure oracle: the concave
    oracle rings, a convex rect + right triangle, the zigzag polylines, and
    the degenerate/null guard rows — one Python constant drives both the
    Spark fixture and the DuckDB VALUES literals."""
    rows = [
        (gid, "ring", [float(v) for v in xs], [float(v) for v in ys])
        for gid, _n, xs, ys in _CONCAVE_RINGS
    ]
    rows += [
        (10, "ring", [0.0, 4.0e6, 4.0e6, 0.0], [0.0, 0.0, 3.0e6, 3.0e6]),
        (11, "ring", [0.0, 6.0e6, 0.0], [0.0, 0.0, 8.0e6]),
    ]
    for lid, uv in _LINES_UV:
        pts = _line_merc(uv)
        rows.append(
            (20 + lid, "chain", [p[0] for p in pts], [p[1] for p in pts])
        )
    rows += [
        (30, "ring", [1.0, 2.0], [1.0, 1.0]),   # <3 vertices: area 0
        (31, "chain", [5.0], [5.0]),            # <2 vertices: length 0
        (32, "chain", [], []),                  # empty arrays
        (33, "ring", None, None),               # null arrays null-propagate
    ]
    return rows


def _intersect_fixture() -> tuple[list, list]:
    """(side A, side B) ring sets for the polygon-intersect oracle: A = the
    concave rings + rect + triangle; B = squares/bars engineered to hit
    every decision branch (partial overlap, containment both ways, a
    plus-sign edge-cross with no contained vertex, an exact shared-edge
    touch, bbox-overlap-without-hit in the L's notch, and a disjoint)."""
    a = [
        (gid, [float(v) for v in xs], [float(v) for v in ys])
        for gid, _n, xs, ys in _CONCAVE_RINGS
    ]
    a += [
        (10, [0.0, 4.0e6, 4.0e6, 0.0], [0.0, 0.0, 3.0e6, 3.0e6]),
        (11, [0.0, 6.0e6, 0.0], [0.0, 0.0, 8.0e6]),
    ]
    b = [
        (0, [-2.0e6, 2.0e6, 2.0e6, -2.0e6], [-2.0e6, -2.0e6, 2.0e6, 2.0e6]),
        (1, [-2.0e6, 1.0e7, 1.0e7, -2.0e6], [1.0e7, 1.0e7, 1.1e7, 1.1e7]),
        (2, [4.0e6, 6.0e6, 6.0e6, 4.0e6], [2.0e6, 2.0e6, 4.0e6, 4.0e6]),
        (3, [-1.0e6, 7.0e6, 7.0e6, -1.0e6], [-1.0e6, -1.0e6, 9.0e6, 9.0e6]),
        (4, [-1.5e7, -1.3e7, -1.3e7, -1.5e7], [5.0e6, 5.0e6, 7.0e6, 7.0e6]),
        (5, [9.0e6, 1.5e7, 1.5e7, 9.0e6], [9.0e6, 9.0e6, 1.5e7, 1.5e7]),
        (6, [-1.1e7, -0.9e7, -0.9e7, -1.1e7], [-1.1e7, -1.1e7, -0.9e7, -0.9e7]),
    ]
    return a, b


def _intersect_values_sql(rings: list) -> str:
    parts = []
    for gid, xs, ys in rings:
        xs_s = "CAST([" + ", ".join(_flit(v) for v in xs) + "] AS DOUBLE[])"
        ys_s = "CAST([" + ", ".join(_flit(v) for v in ys) + "] AS DOUBLE[])"
        parts.append(f"({gid}, {xs_s}, {ys_s})")
    return ", ".join(parts)


def _validity_fixture() -> list:
    """Rings for the ST_IsSimple oracle: the valid fixture shapes plus the
    canonical invalids (bowtie cross, repeated interior vertex, collinear
    spike, zigzag crossing) and degenerate/null guards."""
    rows = [
        (gid, [float(v) for v in xs], [float(v) for v in ys])
        for gid, _n, xs, ys in _CONCAVE_RINGS
    ]
    rows += [
        (10, [0.0, 4.0e6, 4.0e6, 0.0], [0.0, 0.0, 3.0e6, 3.0e6]),
        (11, [0.0, 6.0e6, 0.0], [0.0, 0.0, 8.0e6]),
        (20, [0.0, 2.0e6, 2.0e6, 0.0], [0.0, 2.0e6, 0.0, 2.0e6]),   # bowtie
        (21, [0.0, 2.0e6, 1.0e6, 2.0e6, 0.0, 1.0e6],
             [0.0, 0.0, 1.0e6, 2.0e6, 2.0e6, 1.0e6]),               # self-touch
        (22, [0.0, 4.0e6, 2.0e6, 2.0e6], [0.0, 0.0, 0.0, 2.0e6]),   # spike
        (23, [0.0, 4.0e6, 4.0e6, 0.0, 2.0e6],
             [0.0, 0.0, 2.0e6, 2.0e6, -1.0e6]),                     # zigzag cross
        (30, [1.0, 2.0], [1.0, 1.0]),                               # degenerate
        (31, None, None),                                           # null
    ]
    return rows


def _validity_values_sql() -> str:
    parts = []
    for gid, xs, ys in _validity_fixture():

        def arr(a):
            if a is None:
                return "CAST(NULL AS DOUBLE[])"
            return "CAST([" + ", ".join(_flit(v) for v in a) + "] AS DOUBLE[])"

        parts.append(f"({gid}, {arr(xs)}, {arr(ys)})")
    return ", ".join(parts)


def _measure_values_sql() -> str:
    """DuckDB VALUES literals for :func:`_measure_fixture_rows`."""
    parts = []
    for gid, kind, xs, ys in _measure_fixture_rows():

        def arr(a):
            if a is None:
                return "CAST(NULL AS DOUBLE[])"
            return "CAST([" + ", ".join(_flit(v) for v in a) + "] AS DOUBLE[])"

        parts.append(f"({gid}, '{kind}', {arr(xs)}, {arr(ys)})")
    return ", ".join(parts)


def _flit(v: float) -> str:
    """DuckDB DOUBLE literal that round-trips EXACTLY: a bare decimal
    literal parses as DECIMAL and an array of them unifies to a common
    scale BEFORE any ::DOUBLE cast — silently off by an ulp for
    long-mantissa values (caught by the MIC refinement twin, whose
    argmax tiebreaks amplify one ulp into a different cell).  An
    exponent suffix forces the DOUBLE parse path, which is correctly
    rounded and bit-identical to Python's repr round-trip."""
    r = repr(float(v))
    return r if ("e" in r or "E" in r) else r + "e0"


def _arr_sql(a) -> str:
    """DuckDB DOUBLE[] literal from a Python float list (exact float64
    constants via :func:`_flit` — see its ulp warning)."""
    if a is None:
        return "CAST(NULL AS DOUBLE[])"
    return "CAST([" + ", ".join(_flit(v) for v in a) + "] AS DOUBLE[])"


# geography (lat, lon) degree chains for the geodesic length/perimeter
# oracle: a parallel edge, a meridian+parallel L, a diagonal chain, a
# high-latitude quad (ring perimeter exercises the wrap edge), and the
# degenerate/null guard rows.  ONE Python constant drives both engines.
_GEO_LINES = [
    (0, [0.0, 0.0], [10.0, 11.0]),
    (1, [10.0, 11.0, 11.0], [30.0, 30.0, 31.0]),
    (2, [50.0, 51.0, 52.5], [-10.0, -8.0, -7.25]),
    (3, [60.0, 60.0, 61.0, 61.0], [5.0, 7.0, 7.0, 5.0]),
    (4, [5.0], [5.0]),
    (5, None, None),
]


def _geo_lines_values_sql() -> str:
    return ", ".join(
        f"({gid}, {_arr_sql(lats)}, {_arr_sql(lons)})"
        for gid, lats, lons in _GEO_LINES
    )


# (pid, lat, lon, d_m, az_rad) rows for the ST_Project oracle: the four
# cardinal bearings, a mid-latitude diagonal, a high-latitude oblique and
# a zero-distance identity; azimuths are exact multiples of pi/4 emitted
# verbatim so both engines fold the identical float64 literal.
_SEGMENTIZE_GEO_ROWS = [
    # (pid, lat1, lon1, lat2, lon2) — equatorial, meridional, oblique
    # mid-latitude, and a long transcontinental arc; all far from the
    # antimeridian (project_point does not wrap longitudes)
    (0, 0.0, 0.0, 0.0, 10.0),
    (1, 0.0, 0.0, 10.0, 0.0),
    (2, 10.0, 20.0, -5.0, 31.0),
    (3, 48.8, 2.3, 35.6, 139.7),
]


_PROJECT_ROWS = [
    (0, 0.0, 0.0, 111194.92664455873, 0.0),
    (1, 0.0, 0.0, 200000.0, math.pi / 2.0),
    (2, 45.0, 10.0, 500000.0, math.pi / 4.0),
    (3, 70.0, -30.0, 300000.0, 3.0 * math.pi / 4.0),
    (4, -33.0, 151.0, 250000.0, math.pi),
    (5, 10.0, 10.0, 0.0, math.pi / 2.0),
]


def _project_values_sql() -> str:
    return ", ".join(
        f"({pid}, CAST({la!r} AS DOUBLE), CAST({lo!r} AS DOUBLE), "
        f"CAST({d!r} AS DOUBLE), CAST({az!r} AS DOUBLE))"
        for pid, la, lo, d, az in _PROJECT_ROWS
    )


# near-dup corpus: documents plus a copy of docs (doc_id<60) with one word
# appended -> very high shingle-Jaccard pairs, plus exact dups for doc_id<30
def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    near = (
        d.filter(F.col("doc_id") < 60)
        .select((F.col("doc_id") + 100000).alias("doc_id"), F.concat(F.col("text"), F.lit(" zzz")).alias("text"))
    )
    exact = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return d.unionByName(near).unionByName(exact)


_NEARDUP_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text || ' zzz' FROM documents WHERE doc_id < 60
  UNION ALL
  SELECT doc_id + 200000, text FROM documents WHERE doc_id < 30
)
"""


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

CFG_YAML = """
metadata: {id: v1}
vector_layers:
  water:
    fields: {water: Type of water}
    sql:
    - {minzoom: 0, maxzoom: 8, extent: 2048, file: water.b}
  waterpoly:
    fields: {water: Type of water}
    sql:
    - {minzoom: 0, maxzoom: 8, extent: 2048, buffer: 8, file: wpoly.b}
  admin:
    fields: {admin_level: Admin level}
    sql:
    - {minzoom: 1, maxzoom: 3, file: ne.b}
    - {minzoom: 4, maxzoom: 10, file: admin.b}
  adminline:
    fields: {admin_level: Admin level}
    sql:
    - {minzoom: 1, maxzoom: 10, extent: 4096, buffer: 8, file: aline.b}
  country_names:
    fields: {name: Name, area: Area}
    sql:
    - {minzoom: 3, maxzoom: 14, file: country.b}
"""
TEMPLATES = {
    "water.b": "water", "wpoly.b": "water_poly", "ne.b": "ne_admin",
    "admin.b": "admin", "aline.b": "admin_line", "country.b": "country",
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents-as-pages -> geocode -> spatial join -> z6 MVT tiles."""
    from tilekiln_spark.sources.pages import layer_polygons

    sf_dir = "/root/testdata/sf0.001"
    docs = _mx_my(_docs(spark, sf_dir))
    geo = docs.select(
        F.concat(F.lit("https://doc"), F.col("doc_id")).alias("url"), "lang", "mx", "my"
    )
    cfg = Config(CFG_YAML, TEMPLATES)
    sources = {"pages_geo": geo, "layer_polygons": layer_polygons(spark, 40)}
    return render_zoom(cfg, 6, sources)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- tiling / geo core ----

    def tile_assign_z6(spark, sf_dir):
        """B1/B2: point->tile assignment at z6 (envelope math as equi-key)."""
        z = F.lit(6)
        d = _mx_my(_docs(spark, sf_dir))
        return (
            d.withColumn("x", tile_x(z, F.col("mx")))
            .withColumn("y", tile_y(z, F.col("my")))
            .groupBy("x", "y")
            .agg(F.count("*").alias("n_docs"))
        )

    q["tile_assign_z6"] = tile_assign_z6

    def tile_pyramid(spark, sf_dir):
        """Pyramid statistics rollup (functions/tileids.tile_pyramid_rollup):
        z6 doc-count tiles aggregated into every ancestor down to z0 via
        the slippy-map parent rule (x >> (z-p)).  One bounded explode
        (7 rows per tile) + ONE partial-aggregated groupBy — the map-side
        combine collapses the 4^k-descendant fan-in before the shuffle.
        This is the per-zoom overview/stats pass a tile store runs after
        generation (the reference's tilekiln-storage stats, rolled up the
        pyramid in one job)."""
        from tilekiln_spark.functions.tileids import tile_pyramid_rollup

        z = F.lit(6)
        d = _mx_my(_docs(spark, sf_dir))
        t6 = (
            d.withColumn("x", tile_x(z, F.col("mx")))
            .withColumn("y", tile_y(z, F.col("my")))
            .groupBy("x", "y")
            .agg(F.count("*").alias("n_docs"))
            .select(F.lit(6).alias("zoom"), F.col("x").cast("long"),
                    F.col("y").cast("long"), "n_docs")
        )
        return tile_pyramid_rollup(
            t6, {"n_tiles": F.count("*"), "n_docs": F.sum("n_docs")}
        ).select(
            "zoom", "x", "y", "n_tiles",
            F.col("n_docs").cast("long").alias("n_docs"),
        )

    q["tile_pyramid"] = tile_pyramid

    def tileset_diff_z6(spark, sf_dir):
        """Incremental publish set (storage/tilestore.tileset_diff): diff
        the z6 doc-count tile table built from docs with doc_id % 5 != 0
        (the 'yesterday' render) against the full corpus ('today').  Each
        side reduces to (keys, md5 fingerprint) BEFORE the full outer
        join — the shuffle never carries payloads.  Output = only the
        tiles an incremental release must touch."""
        from tilekiln_spark.storage.tilestore import tileset_diff

        z = F.lit(6)
        d = _mx_my(_docs(spark, sf_dir))
        def t6(df):
            return (
                df.withColumn("x", tile_x(z, F.col("mx")))
                .withColumn("y", tile_y(z, F.col("my")))
                .groupBy("x", "y")
                .agg(F.count("*").alias("n_docs"))
            )
        old = t6(d.where(F.col("doc_id") % 5 != 0))
        new = t6(d)
        return tileset_diff(old, new, key_cols=("x", "y"), value_cols=("n_docs",))

    q["tileset_diff_z6"] = tileset_diff_z6

    def tile_assign_multizoom(spark, sf_dir):
        """A4-adjacent: assignment across zooms {0,3,6,10}; per-zoom tile counts."""
        d = _mx_my(_docs(spark, sf_dir))
        out = None
        for z in (0, 3, 6, 10):
            part = (
                d.withColumn("x", tile_x(F.lit(z), F.col("mx")))
                .withColumn("y", tile_y(F.lit(z), F.col("my")))
                .groupBy(F.lit(z).alias("zoom"), "x", "y")
                .agg(F.count("*").alias("n_docs"))
            )
            out = part if out is None else out.unionByName(part)
        return out

    q["tile_assign_multizoom"] = tile_assign_multizoom

    def tile_envelope_grid(spark, sf_dir):
        """B1: envelope math for every tile z0-3 via the Hilbert tilerange
        (spark.range over tileid space + vectorized codec)."""
        r = spark.range(0, 85).select(F.col("id").alias("tid"))  # ids z0..z3
        zxy = r.select(tileid_zxy(F.col("tid")).alias("t")).select(
            F.col("t.zoom").alias("zoom"), F.col("t.x").alias("x"), F.col("t.y").alias("y")
        )
        xmin, ymin, xmax, ymax = envelope_cols(F.col("zoom"), F.col("x"), F.col("y"), 0.0)
        return zxy.select(
            "zoom", "x", "y",
            (F.round(xmin, 3) + 0.0).alias("xmin"), (F.round(ymin, 3) + 0.0).alias("ymin"),
            (F.round(xmax, 3) + 0.0).alias("xmax"), (F.round(ymax, 3) + 0.0).alias("ymax"),
        )

    q["tile_envelope_grid"] = tile_envelope_grid

    def hilbert_tileid(spark, sf_dir):
        """The Hilbert tileid codec itself, value-checked: all tiles z0-5."""
        rows = []
        for z in range(6):
            rows.append(
                spark.range(4**z).select(
                    F.lit(z).cast("long").alias("zoom"),
                    (F.col("id") % (2**z)).alias("x"),
                    F.floor(F.col("id") / (2**z)).cast("long").alias("y"),
                )
            )
        df = rows[0]
        for r in rows[1:]:
            df = df.unionByName(r)
        return df.withColumn("tid", tileid("zoom", "x", "y"))

    q["hilbert_tileid"] = hilbert_tileid

    def hilbert_shards(spark, sf_dir):
        """Locality-preserving balanced sharding (operators/sampling.py
        hilbert_balanced_shards): shard = floor(rank * S / N) over rows
        ordered by (z6 Hilbert tileid, doc_id) — contiguous curve ranges
        with exactly floor/ceil(N/S) rows each, computed with the
        two-pass range-partition rank (no SinglePartition).  Twin
        re-derives the Hilbert ids with the recursive bit-walk CTE and
        ranks with a plain window."""
        from tilekiln_spark.operators.sampling import hilbert_balanced_shards

        d = _mx_my(_docs(spark, sf_dir)).select("doc_id", "mx", "my")
        out = hilbert_balanced_shards(d, n_shards=8, zoom=6)
        return out.groupBy("shard").agg(
            F.count("*").alias("n_docs"),
            F.min("tileid").alias("min_tid"),
            F.max("tileid").alias("max_tid"),
        ).orderBy("shard")

    q["hilbert_shards"] = hilbert_shards

    def gazetteer_geoparse(spark, sf_dir):
        """Gazetteer geoparsing (operators/geoparse.py): the corpus's
        top-20 frequent alpha tokens (len >= 4) become a deterministic
        fixture gazetteer (rank-geocoded via the shared arithmetic
        geocode), the token stream explodes map-side and matches the
        BROADCAST gazetteer, mentions roll up per (doc, place) — the
        webtext -> geometry bridge step.  Twin replays the identical
        tokenization, ranking, geocode, and rollup in SQL."""
        from tilekiln_spark.operators.geoparse import (
            build_gazetteer,
            gazetteer_geoparse as _gp,
        )

        d = _docs(spark, sf_dir)
        gaz = build_gazetteer(d, top_k=20, min_len=4)
        m = _gp(d, gaz)
        return m.groupBy("place", "place_rank", "lat", "lon").agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.sum("n_mentions").alias("n_mentions"),
        ).select(
            "place", "place_rank",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_mentions").cast("long").alias("n_mentions"),
            (F.col("lat") + 0.0).alias("lat"),
            (F.col("lon") + 0.0).alias("lon"),
        ).orderBy("place_rank")

    q["gazetteer_geoparse"] = gazetteer_geoparse

    def place_cooccurrence(spark, sf_dir):
        """Toponym co-mention graph (operators/geoparse.py
        place_cooccurrence): ordered place pairs sharing a document,
        weighted by doc count — one doc-keyed self-join over the
        geoparse mentions (fanout bounded by gazetteer hits per doc).
        Keeps pairs with >= 2 supporting docs."""
        from tilekiln_spark.operators.geoparse import (
            build_gazetteer,
            gazetteer_geoparse as _gp,
            place_cooccurrence as _pc,
        )

        d = _docs(spark, sf_dir)
        m = _gp(d, build_gazetteer(d, top_k=20, min_len=4))
        return (
            _pc(m)
            .filter(F.col("n_docs") >= 2)
            .select(
                "place_a", "place_b", F.col("n_docs").cast("long").alias("n_docs")
            )
            .orderBy("place_a", "place_b")
        )

    q["place_cooccurrence"] = place_cooccurrence

    def simplify_dp(spark, sf_dir):
        """Exact Douglas-Peucker ST_Simplify (operators/simplify.py
        douglas_peucker_cols — GEOS distance-to-SEGMENT rule, closing
        the documented VW deviation for open chains): endpoints kept,
        spans split at the max-distance interior vertex while the
        squared distance exceeds tol^2, ties to the lowest index.  All
        coordinates are exact integer doubles, so every distance /
        comparison is the identical IEEE expression in the DuckDB twin,
        which replays DP as a recursive span walk over precomputed
        per-span argmax stats."""
        from tilekiln_spark.operators.simplify import douglas_peucker_cols

        rows = [
            (lid, [float(i * 1000) for i in range(n)],
             [float(((i * m) % r - r // 2) * s) for i in range(n)])
            for lid, n, m, r, s in _DP_CHAINS
        ]
        df = spark.createDataFrame(
            rows, "line_id long, xs array<double>, ys array<double>"
        )
        out = douglas_peucker_cols(df, 600.0)
        return out.select(
            "line_id",
            F.posexplode(F.arrays_zip(F.col("xs").alias("x"),
                                      F.col("ys").alias("y"))),
        ).select(
            "line_id",
            F.col("pos").cast("int").alias("seq"),
            (F.col("col.x") + 0.0).alias("px"),
            (F.col("col.y") + 0.0).alias("py"),
        ).orderBy("line_id", "seq")

    q["simplify_dp"] = simplify_dp

    def html_outlinks(spark, sf_dir):
        """Link-graph extraction (functions/web.py extract_outlinks):
        deterministic anchor html is synthesized per document, hrefs are
        pulled with the regexp_extract_all primitive, and host->host
        edge counts roll up — the crawl-pipeline step that feeds
        pagerank/HITS/frontier ops.  The twin derives the SAME edges
        arithmetically (no regex), so the driver hash checks the real
        extraction end-to-end against an independent derivation."""
        from tilekiln_spark.functions.web import extract_outlinks, url_host

        d = _docs(spark, sf_dir)
        i = F.col("doc_id")
        n_links = (i % 3 + 1).cast("int")
        anchor = lambda j: F.concat(  # noqa: E731
            F.lit('<a href="https://host'),
            ((i * 7 + j * 13) % 20).cast("string"),
            F.lit(".example/p"), i.cast("string"), F.lit('">x</a>'),
        )
        html = F.concat(
            F.lit("<html><body>"),
            F.array_join(
                F.transform(F.sequence(F.lit(1), n_links), anchor), ""
            ),
            F.lit("</body></html>"),
        )
        links = d.select(
            F.concat(
                F.lit("host"), (i % 20).cast("string"), F.lit(".example")
            ).alias("src"),
            F.explode(extract_outlinks(html)).alias("link"),
        )
        return (
            links.select("src", url_host("link").alias("dst"))
            .groupBy("src", "dst")
            .agg(F.count("*").alias("n_links"))
            .orderBy("src", "dst")
        )

    q["html_outlinks"] = html_outlinks

    def trajectory_bearings(spark, sf_dir):
        """Circular bearing statistics per GPS track (functions/
        geometry.py unit_displacement_sums): each edge contributes its
        UNIT displacement vector, so mean bearing = atan2(Sux, Suy)
        (ST_Azimuth convention: clockwise from north) and resultant
        length R = |S|/n with NO libm inside the fold — the single
        atan2 happens once per user on the rounded tail.  Coordinates
        floor-snap to 1 m first (the user_trajectories discipline)."""
        from tilekiln_spark.functions.geometry import unit_displacement_sums

        ev = _mx_my(_events(spark, sf_dir), id_col="event_id").withColumn(
            "mx", F.floor("mx").cast("double")
        ).withColumn("my", F.floor("my").cast("double"))
        agg = ev.groupBy("user_id").agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "mx", "my"))
            ).alias("o")
        )
        xs = F.transform(F.col("o"), lambda s: s["mx"])
        ys = F.transform(F.col("o"), lambda s: s["my"])
        sux, suy, ne = unit_displacement_sums(xs, ys)
        d = agg.select("user_id", sux.alias("sux"), suy.alias("suy"),
                       ne.alias("n_edges"))
        return d.where(F.col("n_edges") > 0).select(
            "user_id",
            "n_edges",
            (F.round(F.atan2(F.col("sux"), F.col("suy")), 6) + 0.0)
            .alias("mean_bearing"),
            (F.round(
                F.sqrt(F.col("sux") * F.col("sux")
                       + F.col("suy") * F.col("suy"))
                / F.col("n_edges"), 6) + 0.0).alias("resultant_r"),
        )

    q["trajectory_bearings"] = trajectory_bearings

    def worklist_parse(spark, sf_dir):
        """A2/A3: parse 'z/x/y,layer' lines -> dedup -> layers per tile."""
        e = _events(spark, sf_dir)
        z = (F.col("event_id") % 4).cast("int")
        line = F.concat(
            z.cast("string"), F.lit("/"),
            (F.col("event_id") % F.pow(F.lit(2.0), z).cast("long")).cast("string"),
            F.lit("/"),
            (F.col("user_id") % F.pow(F.lit(2.0), z).cast("long")).cast("string"),
            F.lit(","), F.col("event_type"),
        )
        parsed = e.select(line.alias("line")).select(
            F.split(F.split("line", ",")[0], "/").alias("t"),
            F.split("line", ",")[1].alias("layer"),
        )
        return (
            parsed.select(
                F.col("t")[0].cast("int").alias("zoom"),
                F.col("t")[1].cast("int").alias("x"),
                F.col("t")[2].cast("int").alias("y"),
                "layer",
            )
            .groupBy("zoom", "x", "y")
            .agg(F.countDistinct("layer").alias("n_layers"))
        )

    q["worklist_parse"] = worklist_parse

    def spatial_join_grid(spark, sf_dir):
        """B2: distributed point-in-polygon join (grid equi-join + refine)."""
        pts = _mx_my(_docs(spark, sf_dir))
        polys = _grid_polys(spark)
        return (
            points_in_polygons(pts, polys, how="grid", grid_zoom=4)
            .groupBy("polygon_id")
            .agg(F.count("*").alias("n_docs"))
        )

    q["spatial_join_grid"] = spatial_join_grid

    def _concave_polys(spark):
        import pandas as pd

        from tilekiln_spark.sources.pages import POLYGON_SCHEMA

        return spark.createDataFrame(
            pd.DataFrame([
                {
                    "polygon_id": p, "layer": "water", "admin_level": "0",
                    "name": n, "way_area": 0.0,
                    "xmin": min(xs), "ymin": min(ys),
                    "xmax": max(xs), "ymax": max(ys),
                    "ring_xs": xs, "ring_ys": ys,
                }
                for p, n, xs, ys in _CONCAVE_RINGS
            ]),
            schema=POLYGON_SCHEMA,
        )

    def spatial_join_concave(spark, sf_dir):
        """B2 for CONCAVE rings: even-odd ray-cast refine (pip_raycast)
        through the full grid join; DuckDB re-runs the identical crossing
        test unrolled over the ring constants."""
        pts = _mx_my(_docs(spark, sf_dir))
        j = points_in_polygons(
            pts, _concave_polys(spark), how="grid", grid_zoom=3, refine="raycast"
        )
        return j.groupBy("polygon_id").agg(F.count("*").alias("n_docs"))

    q["spatial_join_concave"] = spatial_join_concave

    def spatial_join_subdivided(spark, sf_dir):
        """ST_Subdivide composed contract: split the concave whale rings into
        bounded-vertex parts (operators/subdivide.py), run the SAME grid PIP
        join against the parts, dedupe per parent — the result must equal
        raw-ring containment, which DuckDB computes directly by unrolling
        the even-odd crossing test over the ORIGINAL rings (subdivision is
        a pure Spark-side execution strategy, invisible in the answer)."""
        from tilekiln_spark.operators.subdivide import subdivide_polygons

        pts = _mx_my(_docs(spark, sf_dir))
        parts = subdivide_polygons(_concave_polys(spark), max_vertices=5)
        j = points_in_polygons(pts, parts, how="grid", grid_zoom=3, refine="raycast")
        return (
            j.select("doc_id", "parent_id")
            .dropDuplicates()
            .groupBy(F.col("parent_id").alias("polygon_id"))
            .agg(F.count("*").alias("n_docs"))
        )

    q["spatial_join_subdivided"] = spatial_join_subdivided

    def distance_to_rings(spark, sf_dir):
        """PostGIS ST_Distance(point, polygon) parity: 0 inside (even-odd
        containment, the same crossing test as the join refine), else the
        min point-to-segment distance to the ring boundary — ONE
        F.aggregate fold per (doc, ring) pair (functions/geometry.py
        point_ring_distance; codegen, no UDF).  Shape: broadcast the tiny
        ring dim, map-side distance, partial-agg min-struct per doc (the
        distributed nearest-feature pattern).  DuckDB re-runs the identical
        arithmetic via the generated *_sql twin over the ring constants."""
        from tilekiln_spark.functions.geometry import point_ring_distance
        from tilekiln_spark.operators.spatial_join import pip_raycast

        pts = _mx_my(_docs(spark, sf_dir))
        rings = _concave_polys(spark).select("polygon_id", "ring_xs", "ring_ys")
        mx, my = F.col("mx"), F.col("my")
        rxs, rys = F.col("ring_xs"), F.col("ring_ys")
        dist = F.when(pip_raycast(mx, my, rxs, rys), F.lit(0.0)).otherwise(
            point_ring_distance(mx, my, rxs, rys)
        )
        cand = pts.crossJoin(F.broadcast(rings)).select(
            "doc_id", "polygon_id", F.round(dist, 6).alias("dist_r")
        )
        best = cand.groupBy("doc_id").agg(
            F.min(F.struct("dist_r", "polygon_id")).alias("b")
        )
        return best.select(
            "doc_id",
            F.col("b.polygon_id").alias("nearest_polygon"),
            (F.col("b.dist_r") + F.lit(0.0)).alias("dist_m"),
        )

    q["distance_to_rings"] = distance_to_rings

    def hexbin_density(spark, sf_dir):
        """Hex-density aggregation (ST_HexagonGrid-style dashboards): bin
        every doc's mercator point into a pointy-top hex cell (exact cube
        rounding, functions/geometry.py hexbin_qr — codegen expressions),
        count per cell, emit the cell centers.  ONE partial-aggregated
        groupBy on (q, r) — the same map-side-combine shape as the tile
        rollups; DuckDB re-runs the identical floor/compare arithmetic."""
        from tilekiln_spark.functions.geometry import hex_center, hexbin_qr

        pts = _mx_my(_docs(spark, sf_dir))
        size = 1_500_000.0
        qc, rc = hexbin_qr(F.col("mx"), F.col("my"), size)
        binned = pts.select(qc.alias("q"), rc.alias("r"))
        agg = binned.groupBy("q", "r").agg(F.count("*").alias("n_docs"))
        cx, cy = hex_center(F.col("q"), F.col("r"), size)
        return agg.select(
            "q", "r", "n_docs",
            F.round(cx, 6).alias("center_x"),
            F.round(cy, 6).alias("center_y"),
        )

    q["hexbin_density"] = hexbin_density

    def convex_hull_quadrants(spark, sf_dir):
        """ST_ConvexHull per group (operators/hull.py): hull of a
        deterministic doc sample per mercator quadrant, two-level plan
        (map-side partial hull = the hull analogue of a map-side combine,
        then one exact per-group pass).  The DuckDB twin decides hull
        membership a completely different way — a vertex is on the hull
        iff NO triangle of other sample points strictly contains it — so
        agreement pins the geometry, not the algorithm."""
        from tilekiln_spark.operators.hull import convex_hull

        pts = (
            _mx_my(_docs(spark, sf_dir))
            .where(F.col("doc_id") % 3 == 0)
            .select(
                (
                    F.when(F.col("mx") >= 0, F.lit(2)).otherwise(F.lit(0))
                    + F.when(F.col("my") >= 0, F.lit(1)).otherwise(F.lit(0))
                ).alias("gid"),
                "mx",
                "my",
            )
        )
        h = convex_hull(pts, "gid", "mx", "my")
        return h.select(
            "gid",
            F.round(F.col("mx"), 6).alias("hx"),
            F.round(F.col("my"), 6).alias("hy"),
        )

    q["convex_hull_quadrants"] = convex_hull_quadrants

    def oriented_envelope(spark, sf_dir):
        """ST_OrientedEnvelope area per group (operators/hull.py
        oriented_envelope_area): minimum-area oriented bounding box over
        the same quadrant hulls as convex_hull_quadrants.  Rotating
        calipers says the OBB aligns with a hull EDGE; min over all
        hull-point PAIR directions (a superset) is therefore exactly the
        OBB area while being invariant to vertex order and collinear
        inclusions — so the DuckDB twin can brute-force pairs with SQL
        joins and land on the identical minimum."""
        from tilekiln_spark.operators.hull import (
            convex_hull,
            oriented_envelope_area,
        )

        pts = (
            _mx_my(_docs(spark, sf_dir))
            .where(F.col("doc_id") % 3 == 0)
            .select(
                (
                    F.when(F.col("mx") >= 0, F.lit(2)).otherwise(F.lit(0))
                    + F.when(F.col("my") >= 0, F.lit(1)).otherwise(F.lit(0))
                ).alias("gid"),
                "mx",
                "my",
            )
        )
        h = convex_hull(pts, "gid", "mx", "my")
        obb = oriented_envelope_area(h, "gid", "mx", "my")
        return obb.select(
            "gid",
            F.round(F.col("obb_area") / F.lit(1.0e6), 3).alias("obb_km2"),
        )

    q["oriented_envelope"] = oriented_envelope

    def min_bounding_radius(spark, sf_dir):
        """ST_MinimumBoundingRadius per group (operators/hull.py
        minimum_bounding_radius) over the same quadrant hulls: minimax
        formulation — the MEC center is a hull-point pair midpoint or
        triple circumcenter, and min over candidates of
        max-distance-to-hull needs NO containment predicate, so
        boundary-point roundoff can't flip a candidate in one engine
        only.  Hull vertices are sorted so both engines enumerate
        identical ordered triples (the circumcenter's term order follows
        the role assignment; permutations differ by ulps)."""
        from tilekiln_spark.operators.hull import (
            convex_hull,
            minimum_bounding_radius,
        )

        pts = (
            _mx_my(_docs(spark, sf_dir))
            .where(F.col("doc_id") % 3 == 0)
            .select(
                (
                    F.when(F.col("mx") >= 0, F.lit(2)).otherwise(F.lit(0))
                    + F.when(F.col("my") >= 0, F.lit(1)).otherwise(F.lit(0))
                ).alias("gid"),
                "mx",
                "my",
            )
        )
        h = convex_hull(pts, "gid", "mx", "my")
        mec = minimum_bounding_radius(h, "gid", "mx", "my")
        return mec.select(
            "gid",
            F.round(F.sqrt(F.col("mec_r2")) / F.lit(1.0e3), 3).alias("mec_km"),
        )

    q["min_bounding_radius"] = min_bounding_radius

    def geography_area(spark, sf_dir):
        """Geography ST_Area class: spherical ring area (sine-trapezoid
        rule, functions/geodesic.py geography_ring_area — one F.aggregate
        trig fold, codegen, no UDF) over the fixture rings converted to
        lat/lon ONCE in Python (both engines see identical degree
        literals, so libm drift is confined to the fold's sin calls and
        absorbed by the km² rounding)."""
        from tilekiln_spark.functions.geodesic import geography_ring_area

        df = spark.createDataFrame(
            _geog_ring_rows(), "gid int, lats array<double>, lons array<double>"
        )
        return df.select(
            "gid",
            F.round(
                geography_ring_area(F.col("lats"), F.col("lons")) / F.lit(1.0e6), 3
            ).alias("area_km2"),
        )

    q["geography_area"] = geography_area

    def polygon_centroids(spark, sf_dir):
        """PostGIS ST_Centroid for polygon rings: exact area-weighted
        centroid as F.aggregate folds sharing the signed-area fold
        (functions/geometry.py ring_centroid — codegen, no UDF), vertex
        mean on degenerate rings.  Twin SQL generated from the same
        arithmetic over the shared measure fixture."""
        from tilekiln_spark.functions.geometry import ring_centroid

        df = spark.createDataFrame(
            _measure_fixture_rows(),
            "gid int, kind string, xs array<double>, ys array<double>",
        )
        cx, cy = ring_centroid(F.col("xs"), F.col("ys"))
        return df.select(
            "gid",
            "kind",
            F.round(cx, 6).alias("cx"),
            F.round(cy, 6).alias("cy"),
        )

    q["polygon_centroids"] = polygon_centroids

    def line_interpolate(spark, sf_dir):
        """PostGIS ST_LineInterpolatePoint at three fractions along the
        zigzag polyline fixtures — cumulative-length prefix transform +
        first-reaching-segment pick + in-segment lerp, ALL higher-order
        expressions (functions/geometry.py line_interpolate_point)."""
        from tilekiln_spark.functions.geometry import line_interpolate_point

        rows = []
        for lid, uv in _LINES_UV:
            pts = _line_merc(uv)
            rows.append((lid, [p[0] for p in pts], [p[1] for p in pts]))
        df = spark.createDataFrame(
            rows, "line_id int, xs array<double>, ys array<double>"
        )
        outs = []
        for fr in (0.25, 0.5, 0.75):
            px, py = line_interpolate_point(F.col("xs"), F.col("ys"), fr)
            outs.append(
                df.select(
                    "line_id",
                    F.lit(float(fr)).alias("frac"),
                    F.round(px, 6).alias("px"),
                    F.round(py, 6).alias("py"),
                )
            )
        return outs[0].unionAll(outs[1]).unionAll(outs[2])

    q["line_interpolate"] = line_interpolate

    def template_compile_centroid(spark, sf_dir):
        """Compiler tier: non-aggregate ST_Centroid(way) over a POLYGON
        source (config/sqlt.py mode 'centroid' -> operators/tiling.py
        polygon_centroid_points, pure ring_centroid folds).  The DuckDB
        twin recomputes the centroid from the same ring literals via the
        generated *_sql arithmetic."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        rings = [
            (g, xs, ys)
            for g, kind, xs, ys in _measure_fixture_rows()
            if kind == "ring" and xs
        ]
        tbl = spark.createDataFrame(
            [
                (g, f"ring{g}", min(xs), min(ys), max(xs), max(ys), xs, ys)
                for g, xs, ys in rings
            ],
            "polygon_id long, name string, xmin double, ymin double, "
            "xmax double, ymax double, ring_xs array<double>, ring_ys array<double>",
        )
        body = (
            "SELECT ST_AsMVTGeom(ST_Centroid(way), {{bbox}}, {{extent}}) AS way, "
            "name FROM polys WHERE way && {{bbox}}"
        )
        feats = CompiledTemplate(body).build(
            {"tables": {"polys": {"frame": tbl, "kind": "polygon"}}},
            [1, 2],
            4096,
            0,
        )
        return feats.select(
            "zoom",
            "name",
            F.round(F.col("mx"), 6).alias("cx"),
            F.round(F.col("my"), 6).alias("cy"),
        )

    q["template_compile_centroid"] = template_compile_centroid

    def readability(spark, sf_dir):
        """Flesch reading-ease quality signal per language (functions/
        text.py readability_features — regex-class extractions + arithmetic
        shared verbatim with the twin; map-only, one partial-agg groupBy).
        Docs also bucket into the classic easy/standard/hard bands."""
        from tilekiln_spark.functions.text import readability_features

        d = _docs(spark, sf_dir)
        w, s, v, flesch = readability_features(F.col("text"))
        per_doc = d.select(
            "lang",
            w.alias("w"),
            s.alias("s"),
            v.alias("v"),
            flesch.alias("flesch"),
        )
        band = (
            F.when(F.col("flesch") >= 60.0, F.lit("easy"))
            .when(F.col("flesch") >= 30.0, F.lit("standard"))
            .otherwise(F.lit("hard"))
        )
        return (
            per_doc.select("lang", "w", "s", "v", "flesch", band.alias("band"))
            .groupBy("lang", "band")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("w").alias("total_words"),
                F.sum("v").alias("total_vowel_groups"),
                F.round(F.avg("flesch"), 6).alias("avg_flesch"),
            )
        )

    q["readability"] = readability

    def ring_pair_distance(spark, sf_dir):
        """ST_Distance(polygon, polygon) for disjoint rings: min over both
        vertex->other-boundary directions, nested F.aggregate folds
        (functions/geometry.py ring_ring_distance — codegen, no UDF).
        All ring pairs of the shared measure fixture; twin SQL generated
        from the same arithmetic."""
        from tilekiln_spark.functions.geometry import ring_ring_distance

        rings = [
            (g, xs, ys)
            for g, kind, xs, ys in _measure_fixture_rows()
            if kind == "ring" and xs
        ]
        df = spark.createDataFrame(
            rings, "gid int, xs array<double>, ys array<double>"
        )
        a = df.select(
            F.col("gid").alias("a_id"),
            F.col("xs").alias("axs"),
            F.col("ys").alias("ays"),
        )
        b = df.select(
            F.col("gid").alias("b_id"),
            F.col("xs").alias("bxs"),
            F.col("ys").alias("bys"),
        )
        pairs = a.crossJoin(F.broadcast(b)).where(F.col("a_id") < F.col("b_id"))
        d = ring_ring_distance(
            F.col("axs"), F.col("ays"), F.col("bxs"), F.col("bys")
        )
        return pairs.select("a_id", "b_id", F.round(d, 6).alias("dist"))

    q["ring_pair_distance"] = ring_pair_distance

    def cluster_dbscan(spark, sf_dir):
        """ST_ClusterDBSCAN (operators/dbscan.py): eps-grid self-join ->
        degree rollup -> core-core connected components (the large/small-
        star contraction) -> deterministic min-id border attach.  The
        DuckDB twin recomputes the SAME eps-graph by brute cross join and
        resolves components with a recursive min-reachability CTE — two
        different algorithms, one answer."""
        from tilekiln_spark.operators.dbscan import dbscan

        pts = _mx_my(_docs(spark, sf_dir))
        return dbscan(pts, eps=2.5e6, min_pts=4, key_col="doc_id")

    q["cluster_dbscan"] = cluster_dbscan

    def knn_bearings(spark, sf_dir):
        """ST_Azimuth composed with the kNN assignment: bearing (degrees,
        north-based clockwise) from each doc to its nearest grid centroid
        (functions/geometry.py azimuth — pure atan2 expression; the libm
        last-ulp is absorbed by round(6))."""
        from tilekiln_spark.functions.geometry import azimuth

        pts = _mx_my(_docs(spark, sf_dir))
        cents = _grid_cents(spark)
        a = knn_assign(pts, cents, k=1, point_key="doc_id", search_zoom=2)
        az = F.degrees(
            azimuth(F.col("mx"), F.col("my"), F.col("cx"), F.col("cy"))
        )
        return a.select("doc_id", "cid", F.round(az, 6).alias("bearing_deg"))

    q["knn_bearings"] = knn_bearings

    def line_segmentize(spark, sf_dir):
        """PostGIS ST_Segmentize over the zigzag polyline fixtures (nested
        transform+flatten HOFs, functions/geometry.py segmentize); every
        densified vertex value-checked row-by-row via posexplode."""
        from tilekiln_spark.functions.geometry import segmentize

        rows = []
        for lid, uv in _LINES_UV:
            pts = _line_merc(uv)
            rows.append((lid, [p[0] for p in pts], [p[1] for p in pts]))
        df = spark.createDataFrame(
            rows, "line_id int, xs array<double>, ys array<double>"
        )
        sx, sy = segmentize(F.col("xs"), F.col("ys"), 1.5e6)
        return (
            df.select("line_id", F.posexplode(F.arrays_zip(sx.alias("x"), sy.alias("y"))))
            .select(
                "line_id",
                F.col("pos").cast("int").alias("seq"),
                F.round(F.col("col.x"), 6).alias("px"),
                F.round(F.col("col.y"), 6).alias("py"),
            )
        )

    q["line_segmentize"] = line_segmentize

    def offset_curves(spark, sf_dir):
        """PostGIS ST_OffsetCurve(line, d, 'join=mitre') over the zigzag
        polyline fixtures (functions/geometry.py offset_curve): both
        sides (+500 km left, -500 km right); endpoint vertices translate
        along their edge's left normal, interior vertices are exact
        offset-line intersections with an exact ==0 collinear fallback —
        a parallel transform per vertex, NO sequential fold.  Every
        output vertex value-checked row-by-row via posexplode; the
        DuckDB twin runs the identical formulas in list_transform."""
        from tilekiln_spark.functions.geometry import offset_curve

        rows = []
        for lid, uv in _LINES_UV:
            pts = _line_merc(uv)
            rows.append((lid, [p[0] for p in pts], [p[1] for p in pts]))
        df = spark.createDataFrame(
            rows, "line_id int, xs array<double>, ys array<double>"
        )
        parts = []
        for side, dd in (("L", 5.0e5), ("R", -5.0e5)):
            ox, oy = offset_curve(F.col("xs"), F.col("ys"), dd)
            parts.append(
                df.select(
                    "line_id",
                    F.lit(side).alias("side"),
                    F.posexplode(F.arrays_zip(ox.alias("x"), oy.alias("y"))),
                ).select(
                    "line_id",
                    "side",
                    F.col("pos").cast("int").alias("seq"),
                    (F.round(F.col("col.x"), 6) + 0.0).alias("px"),
                    (F.round(F.col("col.y"), 6) + 0.0).alias("py"),
                )
            )
        return parts[0].unionByName(parts[1])

    q["offset_curves"] = offset_curves

    def chaikin_smooth(spark, sf_dir):
        """PostGIS ST_ChaikinSmoothing(line, 2) over the zigzag polyline
        fixtures (functions/geometry.py chaikin_once): two corner-cutting
        rounds, endpoints preserved, exact 1/4 / 3/4 binary-fraction
        weights — a parallel transform per output vertex, each round
        materialized as a column so expression depth stays linear.  Every
        output vertex value-checked row-by-row via posexplode; the DuckDB
        twin chains the identical list_transform through two CTEs."""
        from tilekiln_spark.functions.geometry import chaikin_once

        rows = []
        for lid, uv in _LINES_UV:
            pts = _line_merc(uv)
            rows.append((lid, [p[0] for p in pts], [p[1] for p in pts]))
        df = spark.createDataFrame(
            rows, "line_id int, xs0 array<double>, ys0 array<double>"
        )
        # distinct per-round names: re-aliasing a HOF output onto its own
        # input name miscompiles (self-referential projection + nested
        # lambda), see tests/test_chaikin.py
        for it in range(2):
            sx, sy = chaikin_once(F.col(f"xs{it}"), F.col(f"ys{it}"))
            df = df.select(
                "line_id", sx.alias(f"xs{it + 1}"), sy.alias(f"ys{it + 1}")
            )
        return df.select(
            "line_id",
            F.posexplode(
                F.arrays_zip(F.col("xs2").alias("x"), F.col("ys2").alias("y"))
            ),
        ).select(
            "line_id",
            F.col("pos").cast("int").alias("seq"),
            # NO round: now that _flit forces the DuckDB DOUBLE literal
            # parse, both engines fold identical doubles through identical
            # exact-dyadic-weight expressions — and round(...,6) would
            # REINTRODUCE drift on exact decimal ties (-8453323.8309375
            # rounds HALF_UP on Spark, half-even on DuckDB).
            (F.col("col.x") + 0.0).alias("px"),
            (F.col("col.y") + 0.0).alias("py"),
        )

    q["chaikin_smooth"] = chaikin_smooth

    def line_substring(spark, sf_dir):
        """PostGIS ST_LineSubstring over the zigzag polyline fixtures
        (functions/geometry.py line_substring): the [0.2, 0.75] fraction
        window of each line — cut points from the shared
        line_interpolate_point machinery, interior vertices by the
        strict-between cumulative-length filter; every output vertex
        value-checked row-by-row via posexplode."""
        from tilekiln_spark.functions.geometry import line_substring

        rows = []
        for lid, uv in _LINES_UV:
            pts = _line_merc(uv)
            rows.append((lid, [p[0] for p in pts], [p[1] for p in pts]))
        df = spark.createDataFrame(
            rows, "line_id int, xs array<double>, ys array<double>"
        )
        sx, sy = line_substring(F.col("xs"), F.col("ys"), 0.2, 0.75)
        return (
            df.select(
                "line_id", F.posexplode(F.arrays_zip(sx.alias("x"), sy.alias("y")))
            )
            .select(
                "line_id",
                F.col("pos").cast("int").alias("seq"),
                F.round(F.col("col.x"), 6).alias("px"),
                F.round(F.col("col.y"), 6).alias("py"),
            )
        )

    q["line_substring"] = line_substring

    def line_locate(spark, sf_dir):
        """PostGIS ST_LineLocatePoint (inverse linear referencing): the
        fraction along zigzag line 2 of each doc's closest point — the
        line constants fold into the expression (broadcast-free map-only
        pass over the doc scan)."""
        from tilekiln_spark.functions.geometry import line_locate_point

        pts = _mx_my(_docs(spark, sf_dir))
        uv = dict(_LINES_UV)[2]
        merc = _line_merc(uv)
        lx = F.array(*[F.lit(p[0]) for p in merc])
        ly = F.array(*[F.lit(p[1]) for p in merc])
        fr = line_locate_point(lx, ly, F.col("mx"), F.col("my"))
        return pts.select("doc_id", F.round(fr, 6).alias("frac"))

    q["line_locate"] = line_locate

    def geography_length(spark, sf_dir):
        """Geography ST_Length / ST_Perimeter class: great-circle chain
        length (open) and ring perimeter (closed wrap edge) over the
        lat/lon degree fixtures — one haversine F.aggregate fold per
        measure (functions/geodesic.py geography_line_length; codegen
        trig, no UDF).  Twin SQL generated from the identical formula
        text; km rounding absorbs libm sin/cos ulp drift."""
        from tilekiln_spark.functions.geodesic import geography_line_length

        df = spark.createDataFrame(
            _GEO_LINES, "gid int, lats array<double>, lons array<double>"
        )
        return df.select(
            "gid",
            F.round(
                geography_line_length(F.col("lats"), F.col("lons")) / 1000.0, 3
            ).alias("len_km"),
            F.round(
                geography_line_length(F.col("lats"), F.col("lons"), closed=True)
                / 1000.0,
                3,
            ).alias("perim_km"),
        )

    q["geography_length"] = geography_length

    def st_project(spark, sf_dir):
        """Geography ST_Project: spherical forward geodesic (destination
        point from distance + azimuth-in-radians, the PostGIS signature)
        over the cardinal/oblique fixture rows — pure expression tree
        (functions/geodesic.py project_point), twin SQL from the same
        formula text with the phi2 intermediate spliced, not re-derived."""
        from tilekiln_spark.functions.geodesic import project_point

        df = spark.createDataFrame(
            _PROJECT_ROWS, "pid int, lat double, lon double, d double, az double"
        )
        la2, lo2 = project_point(
            F.col("lat"), F.col("lon"), F.col("d"), F.col("az")
        )
        return df.select(
            "pid",
            F.round(la2, 6).alias("lat2"),
            F.round(lo2, 6).alias("lon2"),
        )

    q["st_project"] = st_project

    def closest_points(spark, sf_dir):
        """PostGIS ST_ClosestPoint (the coordinate half of ST_ShortestLine)
        over the shared planar-measure fixtures: per row, the point on the
        ring boundary (closed) or chain (open) nearest a gid-derived query
        point.  First-minimum owning-edge rule on the shared _pt_seg
        kernel (functions/geometry.py closest_point_on_chain) — the twin
        decides ties on bit-identical per-edge arithmetic."""
        from tilekiln_spark.functions.geometry import closest_point_on_chain

        df = spark.createDataFrame(
            _measure_fixture_rows(),
            "gid int, kind string, xs array<double>, ys array<double>",
        )
        px = ((F.col("gid") * 7) % 13 - 6) * 2.0e6
        py = ((F.col("gid") * 11) % 17 - 8) * 1.5e6
        rqx, rqy = closest_point_on_chain(
            F.col("xs"), F.col("ys"), px, py, closed=True
        )
        cqx, cqy = closest_point_on_chain(
            F.col("xs"), F.col("ys"), px, py, closed=False
        )
        ring = F.col("kind") == "ring"
        return df.select(
            "gid",
            "kind",
            F.round(F.when(ring, rqx).otherwise(cqx), 6).alias("qx"),
            F.round(F.when(ring, rqy).otherwise(cqy), 6).alias("qy"),
        )

    q["closest_points"] = closest_points

    def line_intersect_join(spark, sf_dir):
        """Polyline x polyline ST_Intersects join (road/rail-crossing
        class): the PBSM grid candidate stage shared with the polygon
        join + the OPEN-chain edge-pair refine kernel
        (operators/spatial_join.py lines_intersect_join).  Side A = the
        zigzag render polylines (line 1 is a grid WHALE — bbox over the
        64-cell cap — so both whale routes execute); side B includes a
        full-extent whale diagonal, proper crossings, an endpoint-touch
        and a disjoint segment.  Twin = cross join + the generated
        chain-pair SQL kernel (bit-identical decision arithmetic)."""
        from tilekiln_spark.operators.spatial_join import lines_intersect_join

        a = _line_fixture(spark)
        b = _line_fixture_b(spark)
        out = lines_intersect_join(a, b, grid_zoom=4)
        return (
            out.select(
                F.col("polygon_id").alias("a_id"),
                F.col("b_polygon_id").alias("b_id"),
            )
            .orderBy("a_id", "b_id")
        )

    q["line_intersect_join"] = line_intersect_join

    def line_in_polygon_join(spark, sf_dir):
        """Polyline-within-polygon join ("roads inside each admin area" —
        PostGIS ST_Contains(poly, line) class, strict ST_ContainsProperly
        contract): the SAME PBSM candidate stage as the intersect joins +
        the chain-in-ring refine (edge-pair boundary test, then ONE
        raycast — a boundary-free chain cannot change sides).  The fixture
        exercises strict containment, an exiting line, a grid WHALE
        polygon (both whale routes run: line 1 is an A-side whale, poly
        202 a B-side whale), exact boundary touch (excluded), and a
        disjoint polygon.  Twin = cross join + the generated
        chain_in_ring_sql kernel (bit-identical decision arithmetic)."""
        from tilekiln_spark.operators.spatial_join import lines_in_polygons_join

        lines = _line_fixture(spark)
        polys = _contain_poly_fixture(spark)
        out = lines_in_polygons_join(lines, polys, grid_zoom=4)
        return (
            out.select(
                F.col("polygon_id").alias("line_id"),
                F.col("b_polygon_id").alias("poly_id"),
            )
            .orderBy("line_id", "poly_id")
        )

    q["line_in_polygon_join"] = line_in_polygon_join

    def line_clip_length(spark, sf_dir):
        """Clipped-length overlay ("km of road inside each admin area" —
        PostGIS ST_Length(ST_Intersection(line, polygon))): the shared
        PBSM candidate stage + the interval-cut kernel — per chain edge,
        cut [0,1] at ring-edge intersection parameters, classify each
        sub-interval by a midpoint raycast, sum inside lengths
        (operators/spatial_join.py lines_clip_length_join).  Fixture
        covers full containment, two partial crossings (enter/exit), the
        whale polygon, and boundary-touching endpoints.  Twin = cross
        join + the generated chain_ring_clip_len_sql (bit-identical cuts
        and inside decisions; sums rounded to metres)."""
        from tilekiln_spark.operators.spatial_join import lines_clip_length_join

        lines = _line_fixture(spark)
        polys = _contain_poly_fixture(spark)
        out = lines_clip_length_join(lines, polys, grid_zoom=4)
        return (
            out.select(
                F.col("polygon_id").alias("line_id"),
                F.col("b_polygon_id").alias("poly_id"),
                (F.round(F.col("inside_len") / F.lit(1e3), 3) + 0.0).alias(
                    "km_inside"
                ),
            )
            .orderBy("line_id", "poly_id")
        )

    q["line_clip_length"] = line_clip_length

    def poly_clip_area(spark, sf_dir):
        """Intersection-area overlay (PostGIS
        ST_Area(ST_Intersection(a, b)) — the areal-interpolation / zonal
        primitive): Green's theorem over unordered boundary pieces with
        the 1/2-weight shared-border convention, over the shared PBSM
        candidate stage (operators/spatial_join.py
        polygons_clip_area_join).  Side A includes the whale polygon;
        side B exercises partial overlaps, a diamond, a concave L, a
        CW-wound ring, and a rect SHARING two of A's borders.  Twin =
        CCW-normalizing CTE + the generated ring_ring_clip_area_sql
        (bit-identical cuts, on-boundary tests, raycasts); areas reported
        in z2-tile^2 units rounded to 1e-6."""
        from tilekiln_spark.operators.spatial_join import polygons_clip_area_join

        a = _contain_poly_fixture(spark)
        b = _contain_poly_fixture(spark, _AREA_POLYS_UV)
        t2 = _LINE_TL * _LINE_TL
        out = polygons_clip_area_join(a, b, grid_zoom=4)
        return (
            out.select(
                F.col("polygon_id").alias("a_id"),
                F.col("b_polygon_id").alias("b_id"),
                (F.round(F.col("inter_area") / F.lit(t2), 6) + 0.0).alias(
                    "tiles2"
                ),
            )
            .orderBy("a_id", "b_id")
        )

    q["poly_clip_area"] = poly_clip_area

    def poly_diff_area(spark, sf_dir):
        """Difference / symmetric-difference AREA overlay (PostGIS
        ST_Area(ST_Difference(a, b)) and ST_Area(ST_SymDifference(a, b))
        for each intersecting pair): pure composition on top of the
        Green's-integral intersection kernel —
        area(A\\B) = area(A) - area(A∩B) and
        area(AΔB) = area(A) + area(B) - 2·area(A∩B) — so the overlay
        family completes with ZERO new geometry code: the shared shoelace
        fold supplies area(A)/area(B) on the candidate row (the PBSM
        stage carries both rings), inter_area comes from the proven
        bit-identical clip kernel.  The twin folds areas over the
        ORIGINAL ring order (the Spark side never reorders the input
        arrays; only the clip kernel CCW-normalizes internally)."""
        from tilekiln_spark.functions.geometry import ring_area
        from tilekiln_spark.operators.spatial_join import polygons_clip_area_join

        a = _contain_poly_fixture(spark)
        b = _contain_poly_fixture(spark, _AREA_POLYS_UV)
        t2 = _LINE_TL * _LINE_TL
        out = polygons_clip_area_join(a, b, grid_zoom=4)
        area_a = ring_area(F.col("ring_xs"), F.col("ring_ys"))
        area_b = ring_area(F.col("b_ring_xs"), F.col("b_ring_ys"))
        inter = F.col("inter_area")
        return (
            out.select(
                F.col("polygon_id").alias("a_id"),
                F.col("b_polygon_id").alias("b_id"),
                (F.round((area_a - inter) / F.lit(t2), 6) + 0.0).alias(
                    "diff_tiles2"
                ),
                (
                    F.round(
                        (area_a + area_b - 2 * inter) / F.lit(t2), 6
                    )
                    + 0.0
                ).alias("symdiff_tiles2"),
            )
            .orderBy("a_id", "b_id")
        )

    q["poly_diff_area"] = poly_diff_area

    def spatial_relate(spark, sf_dir):
        """Named-predicate relate join (PostGIS ST_Equals / ST_Contains /
        ST_Within / ST_Overlaps / ST_Touches for polygon pairs,
        operators/spatial_join.py polygons_relate_join): every
        ST_Intersects pair labeled by composing the ring-pair intersects
        kernel + the Green's-integral clip kernel with pure column
        arithmetic — inter_area / ring areas are bit-identical
        cross-engine, so every threshold comparison decides the same way
        on both engines (the Python-hoisted tolerance only absorbs the
        clip integral's accumulation-order ulps vs the shoelace fold).
        Fixture covers all five classes incl. edge-touch, corner-touch,
        an exactly-equal ring pair, and whale-side containment."""
        from tilekiln_spark.operators.spatial_join import polygons_relate_join

        a = _contain_poly_fixture(spark)
        b = _contain_poly_fixture(spark, _RELATE_POLYS_UV)
        out = polygons_relate_join(a, b, grid_zoom=4)
        return (
            out.select(
                F.col("polygon_id").alias("a_id"),
                F.col("b_polygon_id").alias("b_id"),
                "relation",
            )
            .orderBy("a_id", "b_id")
        )

    q["spatial_relate"] = spatial_relate

    def line_merge(spark, sf_dir):
        """ST_LineMerge (operators/topology.py merge_lines): segment soup
        -> maximal merged lines via endpoint-degree pairing + the proven
        large-star/small-star component contraction.  Fixture covers a
        4-segment chain with one reversed member, a closed ring, a
        degree-3 junction that STOPS the merge (with one arm continuing
        through a degree-2 node), and an isolated 3-4-5 diagonal; every
        segment length is float64-exact so the cross-engine length sums
        are order-independent."""
        import pandas as pd

        from tilekiln_spark.operators.topology import merge_lines

        seg = spark.createDataFrame(
            pd.DataFrame(
                _MERGE_SEG_ROWS, columns=["seg_id", "x1", "y1", "x2", "y2"]
            ),
            "seg_id long, x1 double, y1 double, x2 double, y2 double",
        )
        out = merge_lines(seg)
        return out.select(
            "line_id",
            "n_segs",
            (F.round("merged_len", 6) + F.lit(0.0)).alias("merged_len"),
            "is_ring",
        ).orderBy("line_id")

    q["line_merge"] = line_merge

    def route_shortest_paths(spark, sf_dir):
        """Single-source shortest paths over the road-network fixture
        (operators/graph.py shortest_paths — frontier Bellman–Ford, the
        pgr_dijkstra face): undirected, source node 1, (dist, hops) with
        the fewest-hops tiebreak on equal distance.  Integer-valued
        double weights keep every candidate distance exact, so min() is
        order-independent and the DuckDB bounded-walk twin lands on the
        identical labels."""
        import pandas as pd

        from tilekiln_spark.operators.graph import shortest_paths

        edges = spark.createDataFrame(
            pd.DataFrame(_ROUTE_EDGES, columns=["src", "dst", "w"]),
            "src long, dst long, w double",
        )
        out = shortest_paths(edges, source=1)
        return out.select(
            "node",
            (F.round("dist", 6) + F.lit(0.0)).alias("dist"),
            "hops",
        ).orderBy("node")

    q["route_shortest_paths"] = route_shortest_paths

    def closest_facility_q(spark, sf_dir):
        """Closest-facility assignment over the road-network fixture
        (operators/graph.py closest_facility): ONE multi-source frontier
        Bellman–Ford labels every node with its nearest of facilities
        {1, 7, 99} under the (dist, hops, facility) lexicographic label —
        no per-facility re-run.  The DuckDB twin seeds the bounded walk
        from all facilities and QUALIFYs the same tiebreak."""
        import pandas as pd

        from tilekiln_spark.operators.graph import closest_facility

        edges = spark.createDataFrame(
            pd.DataFrame(_ROUTE_EDGES, columns=["src", "dst", "w"]),
            "src long, dst long, w double",
        )
        out = closest_facility(edges, facilities=[1, 7, 99])
        return out.select(
            "node",
            "facility",
            (F.round("dist", 6) + F.lit(0.0)).alias("dist"),
            "hops",
        ).orderBy("node")

    q["closest_facility"] = closest_facility_q

    def service_areas_q(spark, sf_dir):
        """Service areas / isochrones over the road-network fixture
        (operators/graph.py service_areas — pgr_drivingDistance): per
        facility {1, 7}, every node within total cost 5, labels keyed
        (node, facility) so overlapping areas report BOTH facilities;
        candidates over budget pruned at generation so the frontier only
        carries in-budget labels.  The DuckDB twin seeds the bounded
        walk from both facilities with the same budget predicate and
        QUALIFYs per (node, facility)."""
        import pandas as pd

        from tilekiln_spark.operators.graph import service_areas

        edges = spark.createDataFrame(
            pd.DataFrame(_ROUTE_EDGES, columns=["src", "dst", "w"]),
            "src long, dst long, w double",
        )
        out = service_areas(edges, facilities=[1, 7], budget=5.0)
        return out.select(
            "facility",
            "node",
            (F.round("dist", 6) + F.lit(0.0)).alias("dist"),
            "hops",
        ).orderBy("facility", "node")

    q["service_areas"] = service_areas_q

    def geometric_median(spark, sf_dir):
        """ST_GeometricMedian per lang over the shared geo points
        (operators/hull.py geometric_median): 8 fixed Weiszfeld
        iterations as ONE JVM-side nested higher-order fold (outer
        aggregate walks the iteration sequence with a (mx,my) struct
        accumulator; three inner folds per step), point arrays sorted by
        doc_id so both engines replay the identical sequential fold.
        Twin: 8 chained CTEs with the same clamped-distance arithmetic."""
        from tilekiln_spark.operators.hull import geometric_median as gm

        geo = _mx_my(_docs(spark, sf_dir))
        out = gm(geo, "lang", "mx", "my", "doc_id", iterations=8)
        return out.select(
            "lang",
            (F.round("gx", 6) + F.lit(0.0)).alias("gx"),
            (F.round("gy", 6) + F.lit(0.0)).alias("gy"),
            "n_pts",
        ).orderBy("lang")

    q["geometric_median"] = geometric_median

    def std_ellipse(spark, sf_dir):
        """Standard deviational ellipse per lang (operators/hull.py
        std_dev_ellipse — ArcGIS "Directional Distribution"): coordinates
        snapped to a km grid so every moment term is an exact
        integer-valued double (order-independent distributed sums,
        cross-engine safe with no per-group collect), then mean center /
        orientation / semi-axes assembled from the five exact sums as
        per-group scalar arithmetic.  ONE partial-agg groupBy.  The
        DuckDB twin runs the identical snap, sums, and assembly."""
        from tilekiln_spark.operators.hull import std_dev_ellipse

        geo = _mx_my(_docs(spark, sf_dir))
        out = std_dev_ellipse(geo, "lang")
        return out.select(
            "lang",
            "n_pts",
            (F.round("cx", 6) + F.lit(0.0)).alias("cx"),
            (F.round("cy", 6) + F.lit(0.0)).alias("cy"),
            (F.round("angle_deg", 6) + F.lit(0.0)).alias("angle_deg"),
            (F.round("major", 6) + F.lit(0.0)).alias("major_km"),
            (F.round("minor", 6) + F.lit(0.0)).alias("minor_km"),
        ).orderBy("lang")

    q["std_ellipse"] = std_ellipse

    def cluster_intersecting(spark, sf_dir):
        """ST_ClusterIntersecting (operators/spatial_join.py
        polygons_cluster_intersecting): transitive intersection clusters
        over the contain+relate fixture polygons MINUS the whale (which
        would trivially glue everything into one cluster) — yields a
        7-polygon chain cluster, a 2-polygon containment pair, and a
        singleton.  Self PBSM intersects join + star-contraction
        components + coalesce-to-self; twin = cross-join intersects
        kernel + bounded recursive walk."""
        from tilekiln_spark.operators.spatial_join import (
            polygons_cluster_intersecting,
        )

        a = _contain_poly_fixture(spark).filter(F.col("polygon_id") != 202)
        b = _contain_poly_fixture(spark, _RELATE_POLYS_UV)
        out = polygons_cluster_intersecting(a.unionByName(b), grid_zoom=4)
        return out.select("polygon_id", "cluster_id", "n_members").orderBy(
            "polygon_id"
        )

    q["cluster_intersecting"] = cluster_intersecting

    def node_lines(spark, sf_dir):
        """ST_Node at segment granularity (operators/topology.py
        node_segments): every segment split at interior crossings and
        T-touches via the parametric pair solve as pure column
        arithmetic over PBSM candidates — the twin runs the identical
        cross/divide formula, so part coordinates are bit-identical.
        Fixture covers a double-crossed segment (3 parts), an X pair, a
        T-touch splitting only the touched side, a collinear overlap
        (zero denominator — untouched by contract) and an isolated
        segment."""
        import pandas as pd

        from tilekiln_spark.operators.topology import node_segments

        seg = spark.createDataFrame(
            pd.DataFrame(
                _NODE_SEG_ROWS, columns=["seg_id", "x1", "y1", "x2", "y2"]
            ),
            "seg_id long, x1 double, y1 double, x2 double, y2 double",
        )
        out = node_segments(seg, grid_zoom=3)
        cols = [
            (F.round(c, 6) + F.lit(0.0)).alias(c)
            for c in ["px1", "py1", "px2", "py2"]
        ]
        return out.select("seg_id", "part", *cols).orderBy("seg_id", "part")

    q["node_lines"] = node_lines

    def wet_roundtrip(spark, sf_dir):
        """WET-source roundtrip invariant (sources/wet.py): documents ->
        WET-style shards (JVM-expression build, Content-Length in UTF-8
        bytes, records doc_id-ordered per shard) -> Content-Length
        byte-slicing parse (mapInPandas, one Python pass per SHARD) must
        return every (uri, byte length) exactly — the oracle states the
        invariant target straight off the documents table, so any build
        OR parse defect (delimiter confusion, char-vs-byte lengths,
        dropped records) breaks the match."""
        from tilekiln_spark.sources.wet import build_wet_shards, parse_wet

        docs = _docs(spark, sf_dir)
        parsed = parse_wet(build_wet_shards(docs, n_shards=8))
        return parsed.select(
            "uri", F.octet_length("text").alias("n_bytes")
        ).orderBy("uri")

    q["wet_roundtrip"] = wet_roundtrip

    def quadkey_tiles(spark, sf_dir):
        """Quadkey addressing (functions/tileids.py quadkey): every z5
        tile's Bing quadkey + a decode roundtrip assertion folded into
        the result (rx/ry must re-derive x/y — a decode defect shows as
        a value mismatch, not just a missing row).  Pure codegen: one
        transform over the zoom sequence + array_join, bits via exact
        floor-divides."""
        from tilekiln_spark.functions.tileids import quadkey, quadkey_decode

        tiles = spark.range(4 ** 5).select(
            (F.col("id") % 32).cast("long").alias("x"),
            (F.col("id") / 32).cast("long").alias("y"),
        )
        enc = tiles.withColumn("qk", quadkey(F.lit(5), F.col("x"), F.col("y")))
        _, rx, ry = quadkey_decode(F.col("qk"))
        return enc.select(
            "x", "y", "qk", rx.alias("rx"), ry.alias("ry")
        ).orderBy("x", "y")

    q["quadkey_tiles"] = quadkey_tiles

    def polygonize(spark, sf_dir):
        """ST_Polygonize WITHOUT sequential ring tracing
        (operators/topology.py polygonize_faces): half-edges -> per-node
        diamond-pseudo-angle rotation (pure arithmetic, no libm) ->
        DCEL successor permutation (one equi-join) -> cycles as
        star-contraction components -> order-independent Green-theorem
        face areas from ONE groupBy.  Fixture: 2x2 shared-wall grid (4
        unit faces), a dangle, an isolated 3-4-5 triangle, an isolated
        segment.  Twin replays every stage with window functions + the
        bounded recursive walk."""
        import pandas as pd

        from tilekiln_spark.operators.topology import polygonize_faces

        seg = spark.createDataFrame(
            pd.DataFrame(
                _POLYGONIZE_SEG_ROWS,
                columns=["seg_id", "x1", "y1", "x2", "y2"],
            ),
            "seg_id long, x1 double, y1 double, x2 double, y2 double",
        )
        out = polygonize_faces(seg)
        return out.select(
            "face_id",
            "n_edges",
            (F.round("area", 6) + F.lit(0.0)).alias("area"),
        ).orderBy("face_id")

    q["polygonize"] = polygonize

    def node_polygonize(spark, sf_dir):
        """The full topology pipeline: UN-noded overlapping squares ->
        node_segments (parametric cuts) -> renumber parts
        (seg_id*100 + part, deterministic cross-engine) ->
        polygonize_faces.  Faces exist ONLY because noding split the
        crossing edges first — a defect in either stage breaks the 3
        expected faces (A∩B: 4 edges/area 4; A∖B and B∖A: 6 edges/
        area 12).  Twin chains the identical CTE pipelines unrounded
        (cut coordinates are bit-identical, so node keys group the same
        way on both engines)."""
        import pandas as pd

        from tilekiln_spark.operators.topology import (
            node_segments,
            polygonize_faces,
        )

        seg = spark.createDataFrame(
            pd.DataFrame(
                _OVERLAP_SQ_SEGS, columns=["seg_id", "x1", "y1", "x2", "y2"]
            ),
            "seg_id long, x1 double, y1 double, x2 double, y2 double",
        )
        parts = node_segments(seg, grid_zoom=3).select(
            (F.col("seg_id") * 100 + F.col("part")).alias("seg_id"),
            F.col("px1").alias("x1"), F.col("py1").alias("y1"),
            F.col("px2").alias("x2"), F.col("py2").alias("y2"),
        )
        out = polygonize_faces(parts)
        return out.select(
            "face_id",
            "n_edges",
            (F.round("area", 6) + F.lit(0.0)).alias("area"),
        ).orderBy("face_id")

    q["node_polygonize"] = node_polygonize

    def raster_pyramid(spark, sf_dir):
        """Raster overview pyramid (operators/raster.py pyramid) over
        the doc-density raster: 3 levels from one explode + one groupBy
        on halved global cell coords; SUM reduction (mass-conserving
        for histogram rasters), n_cells = contributing level-0 cells.
        Twin rebuilds the identical binned counts then the identical
        floor-divide halving."""
        from tilekiln_spark.operators.raster import pyramid, rasterize

        d = _mx_my(_docs(spark, sf_dir))
        out = pyramid(rasterize(d, zoom=2, res=16), res=16, levels=3)
        return out.select(
            F.col("level").cast("long").alias("level"),
            "cx", "cy", "total_n", "n_cells",
        ).orderBy("level", "cx", "cy")

    q["raster_pyramid"] = raster_pyramid

    def shared_paths(spark, sf_dir):
        """ST_SharedPaths at segment granularity (operators/topology.py
        shared_paths_join): exactly-collinear pairs with positive 1-D
        overlap -> shared length + same/opposite direction, the
        duplicate-way detector complementing ST_Node's documented
        collinear gap.  Pure column arithmetic over PBSM candidates;
        the twin runs the identical projection/clamp formulas."""
        import pandas as pd

        from tilekiln_spark.operators.topology import shared_paths_join

        seg = spark.createDataFrame(
            pd.DataFrame(
                _SHARED_SEG_ROWS, columns=["seg_id", "x1", "y1", "x2", "y2"]
            ),
            "seg_id long, x1 double, y1 double, x2 double, y2 double",
        )
        out = shared_paths_join(seg, grid_zoom=3)
        return out.select(
            "a_id", "b_id",
            (F.round("shared_len", 6) + F.lit(0.0)).alias("shared_len"),
            "same_dir",
        ).orderBy("a_id", "b_id")

    q["shared_paths"] = shared_paths

    def trajectory_stops(spark, sf_dir):
        """Stay-point detection (operators/events.py trajectory_stops):
        spatial-jump segmentation (window lag + running flag sum — the
        sessionize trick on distance instead of time) + per-segment
        dwell/centroid rollup.  Synthetic 8-user track from range
        arithmetic: per user 5 blocks of 5 points — blocks spaced 1 km,
        in-block spacing 1 m except block 2's 100 m (every step over
        eps=50, so its points are singletons and the min_pts=3 filter
        drops them) -> exactly 4 stops per user, dwell 40 s each."""
        from tilekiln_spark.operators.events import trajectory_stops as tstops

        i = F.col("id")
        u = F.floor(i / 25).cast("long")
        k = (i % 25).cast("long")
        b = F.floor(k / 5).cast("double")
        j = (k % 5).cast("double")
        pts = spark.range(200).select(
            u.alias("user_id"),
            (k * 10).alias("ts"),
            (
                u.cast("double") * 100000.0 + b * 1000.0
                + j * F.when(b == 2.0, F.lit(100.0)).otherwise(F.lit(1.0))
            ).alias("mx"),
            (u.cast("double") * 7.0).alias("my"),
        )
        out = tstops(pts, eps=50.0, min_pts=3)
        return out.select(
            "user_id", "seg_id",
            F.col("n_pts").cast("long").alias("n_pts"), "dwell_s",
            (F.round("cx", 6) + F.lit(0.0)).alias("cx"),
            (F.round("cy", 6) + F.lit(0.0)).alias("cy"),
        ).orderBy("user_id", "seg_id")

    q["trajectory_stops"] = trajectory_stops

    def hausdorff_langs(spark, sf_dir):
        """ST_HausdorffDistance between the per-lang point sets
        (operators/spatial_join.py hausdorff_distance): every extreme is
        picked on EXACT squared distances (no sqrt inside aggregates),
        so both engines choose identical support points; one sqrt per
        pair in the projection."""
        from tilekiln_spark.operators.spatial_join import hausdorff_distance

        geo = _mx_my(_docs(spark, sf_dir))
        out = hausdorff_distance(geo, "lang")
        return out.select(
            "g_a", "g_b",
            (F.round("hausdorff", 6) + F.lit(0.0)).alias("hausdorff"),
        ).orderBy("g_a", "g_b")

    q["hausdorff_langs"] = hausdorff_langs

    def geography_segmentize(spark, sf_dir):
        """Geography ST_Segmentize: densify each fixture pair along the
        GREAT CIRCLE — point k of 8 = project_point(p1, k/8 * haversine,
        initial_bearing(p1, p2)) (functions/geodesic.py — composition of
        the proven forward geodesic with the new spherical bearing).
        The twin splices the identical formula text, so every trig
        dependency chain matches; k=0 is p1 exactly and k=8 lands on p2
        to ~1e-9 deg (round 6 pins it)."""
        from tilekiln_spark.functions.geodesic import (
            haversine_m,
            initial_bearing,
            project_point,
        )

        df = spark.createDataFrame(
            _SEGMENTIZE_GEO_ROWS,
            "pid int, lat1 double, lon1 double, lat2 double, lon2 double",
        ).withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(8))))
        br = initial_bearing(
            F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")
        )
        d = haversine_m(
            F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")
        )
        la, lo = project_point(
            F.col("lat1"), F.col("lon1"),
            F.col("k").cast("double") / F.lit(8.0) * d, br,
        )
        return df.select(
            "pid", "k",
            (F.round(la, 6) + F.lit(0.0)).alias("lat"),
            (F.round(lo, 6) + F.lit(0.0)).alias("lon"),
        ).orderBy("pid", "k")

    q["geography_segmentize"] = geography_segmentize

    def union_area_rings(spark, sf_dir):
        """EXACT n-way ST_Union area with NO union geometry materialized
        (operators/topology.py union_area): ring edges node at every
        crossing, the DCEL stage labels arrangement faces, and coverage
        is COMBINATORIAL — crossing an edge toggles that ring's bit, so
        masks propagate from the unbounded face by frontier BFS and the
        union is the sum of nonzero-mask face areas.  Shared borders
        dedupe into one edge whose toggle XORs both rings.  Fixture:
        chained squares with a shared border piece, a disjoint square,
        a diagonal diamond."""
        import pandas as pd

        from tilekiln_spark.operators.topology import union_area

        rings = spark.createDataFrame(
            pd.DataFrame(
                _UNION_RINGS, columns=["ring_id", "ring_xs", "ring_ys"]
            ),
            "ring_id long, ring_xs array<double>, ring_ys array<double>",
        )
        out = union_area(rings, grid_zoom=3)
        return out.select(
            (F.round("union_area", 6) + F.lit(0.0)).alias("union_area"),
            "n_faces",
        )

    q["union_area_rings"] = union_area_rings

    def make_valid(spark, sf_dir):
        """ST_Area(ST_MakeValid(ring)) per ring (operators/topology.py
        make_valid_areas): the coverage arrangement's XOR masks ARE
        even-odd winding parity, so self-intersection repair is a bit
        test over the SHARED faces — one arrangement serves the bowtie,
        the self-touching figure-8, the valid square, and an overlapping
        ring simultaneously, with each ring's parity untouched by the
        others.  The DuckDB twin runs the same chain and the same bit
        join."""
        import pandas as pd

        from tilekiln_spark.operators.topology import make_valid_areas

        rings = spark.createDataFrame(
            pd.DataFrame(
                _MAKEVALID_RINGS, columns=["ring_id", "ring_xs", "ring_ys"]
            ),
            "ring_id long, ring_xs array<double>, ring_ys array<double>",
        )
        out = make_valid_areas(rings, grid_zoom=3)
        return out.select(
            "ring_id",
            (F.round("valid_area", 6) + F.lit(0.0)).alias("valid_area"),
            "n_faces",
        ).orderBy("ring_id")

    q["make_valid"] = make_valid

    def exclusive_areas(spark, sf_dir):
        """Per-ring EXCLUSIVE area (the parcel-overlap audit: how much
        of each ring no other ring covers) from the same coverage-face
        machinery (operators/topology.py coverage_faces): a face
        belongs exclusively to ring r iff its mask == 2^r; one explode
        over ring ids + one groupBy sum on top of the arrangement —
        the union/overlay family shares ONE physical plan."""
        import pandas as pd

        from tilekiln_spark.operators.topology import coverage_faces

        rings = spark.createDataFrame(
            pd.DataFrame(
                _UNION_RINGS, columns=["ring_id", "ring_xs", "ring_ys"]
            ),
            "ring_id long, ring_xs array<double>, ring_ys array<double>",
        )
        faces = coverage_faces(rings, grid_zoom=3)
        rid = F.explode(
            F.sequence(F.lit(0), F.lit(len(_UNION_RINGS) - 1))
        ).alias("ring_id")
        bit = F.pow(F.lit(2.0), F.col("ring_id").cast("double")).cast("long")
        return (
            faces.select("area", "mask", rid)
            .filter(F.col("mask") == bit)
            .groupBy("ring_id")
            .agg(
                (F.round(F.sum("area"), 6) + F.lit(0.0)).alias("excl_area"),
                F.count("*").alias("n_faces"),
            )
            .orderBy("ring_id")
        )

    q["exclusive_areas"] = exclusive_areas

    def contested_area(spark, sf_dir):
        """Contested (multiply-covered) area — the third overlay query
        off the SAME coverage-face plan: faces with bit_count(mask) >= 2
        are covered by at least two rings; grouping by the coverage
        DEPTH gives the full overlap histogram (depth 1 = exclusive,
        2 = pairwise overlaps, ...)."""
        import pandas as pd

        from tilekiln_spark.operators.topology import coverage_faces

        rings = spark.createDataFrame(
            pd.DataFrame(
                _UNION_RINGS, columns=["ring_id", "ring_xs", "ring_ys"]
            ),
            "ring_id long, ring_xs array<double>, ring_ys array<double>",
        )
        faces = coverage_faces(rings, grid_zoom=3)
        return (
            faces.filter(F.col("mask") != 0)
            .groupBy(F.bit_count("mask").alias("depth"))
            .agg(
                (F.round(F.sum("area"), 6) + F.lit(0.0)).alias("area"),
                F.count("*").alias("n_faces"),
            )
            .orderBy("depth")
        )

    q["contested_area"] = contested_area

    def max_inscribed_circle(spark, sf_dir):
        """ST_MaximumInscribedCircle, polylabel-style fixed refinement
        (operators/hull.py maximum_inscribed_circle): 6 levels of 4x4
        signed-clearance grids (even-odd raycast + boundary-distance
        folds, no UDF) over the overlay fixture polygons — includes the
        CONCAVE L (302) and a CW-wound ring (303, parity is
        winding-blind).  Twin replays the identical levels as chained
        CTEs with the same tiebreak (score DESC, px, py)."""
        from tilekiln_spark.operators.hull import maximum_inscribed_circle

        polys = _contain_poly_fixture(spark, _AREA_POLYS_UV)
        out = maximum_inscribed_circle(polys, levels=6)
        return out.select(
            "polygon_id",
            (F.round("cx", 6) + F.lit(0.0)).alias("cx"),
            (F.round("cy", 6) + F.lit(0.0)).alias("cy"),
            (F.round("radius", 6) + F.lit(0.0)).alias("radius"),
        ).orderBy("polygon_id")

    q["max_inscribed_circle"] = max_inscribed_circle

    def delaunay_tin(spark, sf_dir):
        """ST_DelaunayTriangles per quadrant group
        (operators/triangulate.py delaunay_triangles): the Delaunay
        condition used DEFINITIONALLY — ordered-triple explode over the
        group's sorted distinct points + ONE incircle forall fold per
        candidate, pure codegen, no UDF, no ring walking.  The twin
        replays the identical triple enumeration and incircle
        determinant (incircle_det_sql / circumcenter_sql — term-order
        contract) as chained unnest CTEs."""
        from tilekiln_spark.operators.triangulate import delaunay_triangles

        tri = delaunay_triangles(_quadrant_pts(spark, sf_dir), "gid", "mx", "my")
        return tri.select(
            "gid", "i", "j", "k",
            (F.round("ccx", 3) + F.lit(0.0)).alias("ccx"),
            (F.round("ccy", 3) + F.lit(0.0)).alias("ccy"),
            (F.round(F.col("tri_area") / 1e6, 3) + F.lit(0.0)).alias("tri_km2"),
        )

    q["delaunay_tin"] = delaunay_tin

    def largest_empty_circle(spark, sf_dir):
        """ST_LargestEmptyCircle per quadrant (operators/triangulate.py
        largest_empty_circle): the exact vertex-candidate variant — by
        the Delaunay empty-circumcircle property a circumcenter's
        distance to its nearest site IS its circumradius, so the LEC is
        the argmax of r2 over circumcenters inside the group bbox: one
        tiny bbox broadcast + ONE argmax groupBy on the shared Delaunay
        frame, no distance-to-sites join.  The twin replays the same
        candidate filter with an identical (r2, ccx, ccy) tiebreak."""
        from tilekiln_spark.operators.triangulate import (
            largest_empty_circle as lec,
        )

        out = lec(_quadrant_pts(spark, sf_dir), "gid", "mx", "my")
        return out.select(
            "gid",
            (F.round("lec_x", 3) + F.lit(0.0)).alias("lec_x"),
            (F.round("lec_y", 3) + F.lit(0.0)).alias("lec_y"),
            (F.round(F.col("lec_r") / 1e3, 6) + F.lit(0.0)).alias("lec_km"),
        )

    q["largest_empty_circle"] = largest_empty_circle

    def alpha_shape(spark, sf_dir):
        """Alpha shape (SFCGAL ST_AlphaShape / CGAL alpha complex) per
        quadrant off the SAME Delaunay frame: keep triangles with
        circumradius^2 <= alpha^2 (alpha = 4,000 km — the measured
        median spacing tier of this fixture), roll up kept count, area,
        and the boundary-edge count (edges on exactly one kept
        triangle).  One filter + two partial-agg groupBys."""
        from tilekiln_spark.operators.triangulate import (
            alpha_shape_stats,
            delaunay_triangles,
        )

        tri = delaunay_triangles(_quadrant_pts(spark, sf_dir), "gid", "mx", "my")
        s = alpha_shape_stats(tri, "gid", alpha_r2=1.6e13)
        return s.select(
            "gid", "n_tri", "boundary_edges",
            (F.round(F.col("shape_area") / 1e6, 3) + F.lit(0.0)).alias("shape_km2"),
        )

    q["alpha_shape"] = alpha_shape

    def voronoi_bounded_cells(spark, sf_dir):
        """ST_VoronoiPolygons, bounded cells (operators/triangulate.py
        voronoi_cells): Voronoi vertices = circumcenters of incident
        Delaunay triangles; each interior Delaunay edge contributes the
        Voronoi edge joining its two flanking circumcenters, and since
        a cell is CONVEX and CONTAINS its site the area is
        sum(|cross(c1-s, c2-s)|)/2 — no angular sort, no atan2 (whose
        last-ulp behavior differs across engines), pure aggregation.
        Interior sites only (hull cells are unbounded; PostGIS clips
        them to an envelope — presentation, not engine semantics)."""
        from tilekiln_spark.operators.triangulate import (
            delaunay_triangles,
            voronoi_cells,
        )

        tri = delaunay_triangles(_quadrant_pts(spark, sf_dir), "gid", "mx", "my")
        v = voronoi_cells(tri, "gid")
        return v.select(
            "gid", "site",
            (F.round("sx", 6) + F.lit(0.0)).alias("sx"),
            (F.round("sy", 6) + F.lit(0.0)).alias("sy"),
            "n_vertices",
            (F.round(F.col("cell_area") / 1e6, 3) + F.lit(0.0)).alias("cell_km2"),
        )

    q["voronoi_bounded_cells"] = voronoi_bounded_cells

    def min_clearance(spark, sf_dir):
        """GEOS/PostGIS ST_MinimumClearance over both polygon fixture
        sets (functions/geometry.py min_clearance): min of every
        vertex-pair distance and every vertex-to-non-incident-edge
        distance (the shared _pt_seg kernel) — two nested transforms +
        one null-skipping array_min, map-only.  The robustness metric a
        coordinate-precision-reduction pipeline gates on."""
        from tilekiln_spark.functions.geometry import min_clearance as mc

        polys = _contain_poly_fixture(spark).unionByName(
            _contain_poly_fixture(spark, _AREA_POLYS_UV)
        )
        return polys.select(
            "polygon_id",
            (F.round(mc(F.col("ring_xs"), F.col("ring_ys")), 6) + F.lit(0.0)).alias(
                "clearance"
            ),
        )

    q["min_clearance"] = min_clearance

    def split_blade_areas(spark, sf_dir):
        """PostGIS ST_Split(polygon, blade line) side areas
        (functions/geometry.py halfplane_clip_area): both sides of each
        infinite blade via ONE stateless Green's-theorem fold per side —
        the blade is translated through the origin so every
        Sutherland-Hodgman chord's shoelace term is exactly zero and no
        clipped ring is ever materialized.  Map-only over both polygon
        fixture sets x 2 blades; blade constants are module-level
        Python floats shared verbatim with the oracle twin."""
        from tilekiln_spark.functions.geometry import halfplane_clip_area

        polys = _contain_poly_fixture(spark).unionByName(
            _contain_poly_fixture(spark, _AREA_POLYS_UV)
        )
        parts = []
        for label, nx, ny, c in _SPLIT_BLADES:
            parts.append(
                polys.select(
                    "polygon_id",
                    F.lit(label).alias("blade"),
                    (
                        F.round(
                            halfplane_clip_area(
                                F.col("ring_xs"), F.col("ring_ys"), nx, ny, c
                            )
                            / 1e6,
                            3,
                        )
                        + F.lit(0.0)
                    ).alias("a_le_km2"),
                    (
                        F.round(
                            halfplane_clip_area(
                                F.col("ring_xs"), F.col("ring_ys"), -nx, -ny, -c
                            )
                            / 1e6,
                            3,
                        )
                        + F.lit(0.0)
                    ).alias("a_gt_km2"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    q["split_blade_areas"] = split_blade_areas

    def normalized_rings(spark, sf_dir):
        """PostGIS/GEOS ST_Normalize over both polygon fixture sets
        (functions/geometry.py ring_normalize): rotate each open ring to
        start at its lexicographically smallest vertex and orient CCW —
        the canonical form geometry equality compares.  One argmin
        struct fold + slice/concat rotation + first-vertex-preserving
        reverse, all JVM HOFs; every output vertex value-checked via
        posexplode against the identical DuckDB folds."""
        from tilekiln_spark.functions.geometry import ring_normalize

        polys = _contain_poly_fixture(spark).unionByName(
            _contain_poly_fixture(spark, _AREA_POLYS_UV)
        )
        nx, ny = ring_normalize(F.col("ring_xs"), F.col("ring_ys"))
        return polys.select(
            "polygon_id",
            F.posexplode(F.arrays_zip(nx.alias("x"), ny.alias("y"))),
        ).select(
            "polygon_id",
            F.col("pos").cast("int").alias("seq"),
            (F.round(F.col("col.x"), 6) + 0.0).alias("px"),
            (F.round(F.col("col.y"), 6) + 0.0).alias("py"),
        )

    q["normalized_rings"] = normalized_rings

    def areal_interpolate(spark, sf_dir):
        """Areal interpolation (the census-disaggregation workhorse):
        each source polygon carries a deterministic population; every
        target zone receives sum over sources of
        pop * area(A∩B) / area(A) — exact intersection areas from the
        overlay join, source areas from the shared shoelace fold.  ONE
        partial-aggregated groupBy on the zone key on top of the
        overlay.  The whale source (202) spans every zone, so its weight
        uses the whale route's pairs too."""
        from tilekiln_spark.functions.geometry import ring_area
        from tilekiln_spark.operators.spatial_join import polygons_clip_area_join

        a = (
            _contain_poly_fixture(spark)
            .withColumn(
                "pop", (F.col("polygon_id") - 199).cast("double") * 1000.0
            )
            .withColumn("a_area", ring_area(F.col("ring_xs"), F.col("ring_ys")))
        )
        b = _contain_poly_fixture(spark, _AREA_POLYS_UV)
        pairs = polygons_clip_area_join(a, b, grid_zoom=4)
        return (
            pairs.groupBy(F.col("b_polygon_id").alias("zone_id"))
            .agg(
                (
                    F.round(
                        F.sum(
                            F.col("pop") * F.col("inter_area") / F.col("a_area")
                        ),
                        3,
                    )
                    + 0.0
                ).alias("est_pop"),
                F.count("*").alias("n_sources"),
            )
        )

    q["areal_interpolate"] = areal_interpolate

    def tile_cover(spark, sf_dir):
        """EXACT polygon tile cover (operators/spatial_join.py
        polygon_tile_cover): z4 cells whose RECTANGLE intersects the ring
        — the diamond/concave-L fixtures prove it's tighter than the bbox
        cover (corner cells drop).  The cell rect rides as a literal
        4-vertex ring through the shared Arrow ring-pair kernel; the twin
        scans ALL 256 z4 cells (intersect implies bbox overlap, so the
        engine's bbox-pruned candidates lose nothing) with
        rings_intersect_sql."""
        from tilekiln_spark.operators.spatial_join import polygon_tile_cover

        polys = _contain_poly_fixture(spark, _AREA_POLYS_UV)
        return polygon_tile_cover(polys, zoom=4).orderBy(
            "polygon_id", "gx", "gy"
        )

    q["tile_cover"] = tile_cover

    def gen_points(spark, sf_dir):
        """Deterministic ST_GeneratePoints (operators/spatial_join.py
        generate_points): replayable integer-hash LCG candidates over the
        bbox + raycast rejection + first-n-accepted by candidate index —
        synthetic spatial sampling whose every coordinate the DuckDB twin
        re-derives (no engine randomness).  The diamond/concave-L
        fixtures make rejection real."""
        from tilekiln_spark.operators.spatial_join import generate_points

        polys = _contain_poly_fixture(spark, _AREA_POLYS_UV)
        out = generate_points(polys, n=8, candidates_per_point=16, seed=7)
        return out.select(
            "polygon_id",
            "pt_seq",
            (F.round(F.col("px"), 4) + 0.0).alias("px"),
            (F.round(F.col("py"), 4) + 0.0).alias("py"),
        )

    q["gen_points"] = gen_points

    def snap_grid_dissolve(spark, sf_dir):
        """PostGIS ST_SnapToGrid + dissolve: snap every doc point to a
        2500 km mercator grid node (floor(v/g + 0.5) — the same
        round-half-convention-free form the hexbin uses) and collapse
        coincident snapped points to one row with a count and the min
        doc_id as the deterministic representative.  Map-only snap
        expressions + ONE partial-aggregated groupBy — the grid-dedupe /
        generalization shape at any scale."""
        g = 2.5e6
        pts = _mx_my(_docs(spark, sf_dir))
        snapped = pts.select(
            "doc_id",
            (F.floor(F.col("mx") / F.lit(g) + F.lit(0.5)) * F.lit(g)).alias("sx"),
            (F.floor(F.col("my") / F.lit(g) + F.lit(0.5)) * F.lit(g)).alias("sy"),
        )
        return snapped.groupBy("sx", "sy").agg(
            F.count("*").alias("n_pts"),
            F.min("doc_id").alias("rep_doc"),
        )

    q["snap_grid_dissolve"] = snap_grid_dissolve

    def user_trajectories(spark, sf_dir):
        """GPS-track rollup over the event stream: per user, order events
        by (ts, event_id), assemble the position chain with
        sort_array(collect_list(struct)) (one partial-agg groupBy — the
        distributed trajectory-assembly shape), and measure it with the
        SAME line_length fold the planar measures use.  Coordinates are
        floor-snapped to a 1 m grid first (the std_ellipse km-snap
        discipline at meter resolution): every edge term is then an
        exact integer-valued double, so ulp-level libm drift of the
        mercator ln(tan(...)) between the JVM and DuckDB cannot
        accumulate across ~100 summed edges (the r5 strict-sweep
        finding); and the length reports as floor() integer meters,
        because round(x, 6) at 1e9 magnitude asks for 16 significant
        digits — beyond double decimal precision, where the two
        engines' round implementations legitimately disagree by one
        ulp.  DuckDB re-orders with list(... ORDER BY) and runs the
        identical snap + fold + floor."""
        from tilekiln_spark.functions.geometry import line_length

        ev = _mx_my(_events(spark, sf_dir), id_col="event_id").withColumn(
            "mx", F.floor("mx").cast("double")
        ).withColumn("my", F.floor("my").cast("double"))
        ordered = F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "mx", "my"))
        )
        agg = ev.groupBy("user_id").agg(ordered.alias("o"))
        xs = F.transform(F.col("o"), lambda s: s["mx"])
        ys = F.transform(F.col("o"), lambda s: s["my"])
        return agg.select(
            "user_id",
            F.size("o").alias("n_pts"),
            F.floor(line_length(xs, ys)).cast("long").alias("track_len_m"),
        )

    q["user_trajectories"] = user_trajectories

    def od_flows(spark, sf_dir):
        """Origin–destination flow matrix (operators/events.py od_flows):
        per user, first/last track sample via struct min/max aggregates
        (distributed argmin — no sort, no window), endpoints assigned to
        z4 tile zones with the shared tile_x/tile_y codegen, flows
        rolled up per zone pair with order-independent min/max
        displacement stats.  Two compact-key shuffles.  The DuckDB twin
        picks endpoints with first/last(ORDER BY ts, event_id) and runs
        the identical zone and distance arithmetic."""
        from tilekiln_spark.operators.events import od_flows as _od

        ev = _mx_my(_events(spark, sf_dir), id_col="event_id")
        return _od(ev, zoom=4)

    q["od_flows"] = od_flows

    def knox_test_q(spark, sf_dir):
        """Knox space-time interaction test (operators/events.py
        knox_test) over a deterministic event sample (event_id % 5 == 0):
        the space margin + the joint count come from ONE self
        dwithin_join at 2,000 km, the time margin from a tau-bucketed
        interval equi-join (3x bounded explode, no cross join); all
        counts exact integers, the ratio one scalar division.  The
        DuckDB twin brute-forces the pairs with identical boundary
        arithmetic."""
        from tilekiln_spark.operators.events import knox_test

        ev = _mx_my(_events(spark, sf_dir), id_col="event_id").where(
            F.col("event_id") % 5 == 0
        )
        out = knox_test(ev, delta=2_000_000.0, tau_seconds=21_600.0)
        return out.select(
            "n_events", "n_pairs", "n_space", "n_time", "n_both",
            (F.round("knox_ratio", 6) + F.lit(0.0)).alias("knox_ratio"),
        )

    q["knox_test"] = knox_test_q

    def frechet_trajectories(spark, sf_dir):
        """PostGIS ST_FrechetDistance (discrete) between every user
        trajectory and every fixture polyline (functions/geometry.py
        frechet_distance): the dog-walk coupling DP as ONE nested JVM HOF
        fold — outer over A's vertices, inner rebuilding the single live
        DP row; max/min run on SQUARED distances so the lone sqrt at the
        end is the only rounding-sensitive step.  Lines broadcast ->
        map-only pair join.  The DuckDB twin unrolls the row into m plain
        columns of a recursive CTE per fixture line (m is known per
        line), with identical d-squared arithmetic on identical exact-
        DOUBLE literals."""
        from tilekiln_spark.functions.geometry import frechet_distance

        ev = _mx_my(_events(spark, sf_dir), id_col="event_id")
        ordered = F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "mx", "my"))
        )
        agg = ev.groupBy("user_id").agg(ordered.alias("o"))
        tr = agg.select(
            "user_id",
            F.transform(F.col("o"), lambda s: s["mx"]).alias("axs"),
            F.transform(F.col("o"), lambda s: s["my"]).alias("ays"),
        )
        rows = []
        for lid, uv in _LINES_UV:
            pts = _line_merc(uv)
            rows.append((lid, [p[0] for p in pts], [p[1] for p in pts]))
        lines = spark.createDataFrame(
            rows, "line_id int, lxs array<double>, lys array<double>"
        )
        d = frechet_distance(
            F.col("axs"), F.col("ays"), F.col("lxs"), F.col("lys")
        )
        return tr.crossJoin(F.broadcast(lines)).select(
            "user_id",
            "line_id",
            (F.round(d / 1e3, 6) + F.lit(0.0)).alias("frechet_km"),
        )

    q["frechet_trajectories"] = frechet_trajectories

    def dtw_trajectories(spark, sf_dir):
        """Dynamic-time-warping distance between every user trajectory and
        every fixture polyline (functions/geometry.py dtw_distance): the
        sum+min DP twin of the Fréchet fold — ONE nested JVM HOF fold,
        single live DP row, squared-Euclidean local cost, one final sqrt.
        Lines broadcast -> map-only pair join.  The DuckDB twin unrolls
        the DP row into m plain columns of a recursive CTE per fixture
        line with identical d-squared arithmetic."""
        from tilekiln_spark.functions.geometry import dtw_distance

        ev = _mx_my(_events(spark, sf_dir), id_col="event_id")
        ordered = F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "mx", "my"))
        )
        agg = ev.groupBy("user_id").agg(ordered.alias("o"))
        tr = agg.select(
            "user_id",
            F.transform(F.col("o"), lambda s: s["mx"]).alias("axs"),
            F.transform(F.col("o"), lambda s: s["my"]).alias("ays"),
        )
        rows = []
        for lid, uv in _LINES_UV:
            pts = _line_merc(uv)
            rows.append((lid, [p[0] for p in pts], [p[1] for p in pts]))
        lines = spark.createDataFrame(
            rows, "line_id int, lxs array<double>, lys array<double>"
        )
        d = dtw_distance(
            F.col("axs"), F.col("ays"), F.col("lxs"), F.col("lys")
        )
        return tr.crossJoin(F.broadcast(lines)).select(
            "user_id",
            "line_id",
            (F.round(d / 1e3, 6) + F.lit(0.0)).alias("dtw_km"),
        )

    q["dtw_trajectories"] = dtw_trajectories

    def map_match(spark, sf_dir):
        """GPS map-matching (the snap-trace-to-road primitive): every
        sampled event point snaps to its nearest fixture polyline —
        distance by the shared point-to-segment fold
        (functions/geometry.py point_chain_distance), position by inverse
        linear referencing (line_locate_point).  Distributed shape: the
        tiny line dim broadcasts into a map-only cross join; the winner
        is ONE partial-aggregated groupBy over a lexicographic struct-min
        (d, line_id, frac) — deterministic ties, map-side combine, no
        window shuffle.  The twin picks the same winner with a
        row_number-over-(d, line_id) QUALIFY."""
        from tilekiln_spark.functions.geometry import (
            line_locate_point,
            point_chain_distance,
        )

        ev = _mx_my(_events(spark, sf_dir), id_col="event_id").filter(
            F.col("event_id") % 7 == 0
        )
        rows = []
        for lid, uv in _LINES_UV:
            pts = _line_merc(uv)
            rows.append((lid, [p[0] for p in pts], [p[1] for p in pts]))
        lines = spark.createDataFrame(
            rows, "line_id int, lxs array<double>, lys array<double>"
        )
        d = point_chain_distance(
            F.col("mx"), F.col("my"), F.col("lxs"), F.col("lys")
        )
        fr = line_locate_point(F.col("lxs"), F.col("lys"), F.col("mx"), F.col("my"))
        pairs = ev.crossJoin(F.broadcast(lines)).select(
            "event_id", F.struct(d.alias("d"), F.col("line_id"), fr.alias("fr")).alias("s")
        )
        best = pairs.groupBy("event_id").agg(F.min("s").alias("b"))
        return best.select(
            "event_id",
            F.col("b.line_id").alias("line_id"),
            (F.round(F.col("b.d") / 1e3, 3) + 0.0).alias("km_dist"),
            (F.round(F.col("b.fr"), 6) + 0.0).alias("frac"),
        )

    q["map_match"] = map_match

    def raster_hillshade(spark, sf_dir):
        """GDAL hillshade parity over the doc-density raster (operators/
        raster.py hillshade): the distributed 3x3 STENCIL — global cell
        coords, 9-way tagged neighbor explode, ONE partial-agg groupBy per
        target, Horn gradients + zenith/azimuth shade as pure trig
        expressions.  The DuckDB twin re-runs the identical stencil from a
        VALUES offset table."""
        from tilekiln_spark.operators.raster import hillshade, rasterize

        d = _mx_my(_docs(spark, sf_dir))
        return hillshade(rasterize(d, zoom=2, res=16), res=16)

    q["raster_hillshade"] = raster_hillshade

    def raster_slope_aspect(spark, sf_dir):
        """gdaldem slope + aspect (operators/raster.py slope_aspect): the
        other two Horn-gradient faces off the SAME shared 3x3 stencil as
        hillshade (_stencil9/_horn_gradients — one explode, one
        partial-agg groupBy, pure trig).  Aspect is compass degrees
        [0,360) clockwise from grid north, flat cells -1.0.  The DuckDB
        twin re-runs the identical stencil and formulas."""
        from tilekiln_spark.operators.raster import rasterize, slope_aspect

        d = _mx_my(_docs(spark, sf_dir))
        return slope_aspect(rasterize(d, zoom=2, res=16), res=16)

    q["raster_slope_aspect"] = raster_slope_aspect

    def terrain_measures(spark, sf_dir):
        """gdaldem TRI (Riley + Wilson) / TPI / roughness (operators/
        raster.py terrain_measures): the window-statistic faces of the
        terrain family off the SAME shared 3x3 stencil as hillshade and
        slope/aspect — one 9-way tagged explode, ONE partial-agg groupBy,
        pure arithmetic (fixed neighbor-sum order so the twin is
        bit-identical).  The DuckDB twin re-runs the identical stencil
        and formulas from a VALUES offset table."""
        from tilekiln_spark.operators.raster import rasterize
        from tilekiln_spark.operators.raster import terrain_measures as _tm

        d = _mx_my(_docs(spark, sf_dir))
        return _tm(rasterize(d, zoom=2, res=16), res=16)

    q["terrain_measures"] = terrain_measures

    def hotspot_gistar(spark, sf_dir):
        """Getis-Ord Gi* hotspot z-scores over the doc-density raster
        (operators/raster.py hotspot_gistar): the GIS hotspot statistic
        off the SAME shared 3x3 stencil — window sums from one explode +
        partial-agg groupBy, study-region moments (present-cell bbox,
        zero cells free) from ONE tiny global aggregate broadcast back,
        then the Gi* formula as pure arithmetic.  The DuckDB twin re-runs
        the identical stencil, moments, and formula."""
        from tilekiln_spark.operators.raster import hotspot_gistar as _gi
        from tilekiln_spark.operators.raster import rasterize

        d = _mx_my(_docs(spark, sf_dir))
        return _gi(rasterize(d, zoom=2, res=16), res=16)

    q["hotspot_gistar"] = hotspot_gistar

    def morans_i(spark, sf_dir):
        """Global Moran's I over the doc-density raster (operators/
        raster.py morans_i): PySAL esda.Moran with queen weights over the
        bbox study region — cross-products off the shared stencil, degree
        terms from bbox arithmetic, ΣW in closed form; every distributed
        sum is an exact integer in a double so aggregation order is
        immaterial.  The twin replays the identical sums and the one
        final scalar assembly."""
        from tilekiln_spark.operators.raster import morans_i as _mi
        from tilekiln_spark.operators.raster import rasterize

        d = _mx_my(_docs(spark, sf_dir))
        return _mi(rasterize(d, zoom=2, res=16), res=16)

    q["morans_i"] = morans_i

    def local_morans(spark, sf_dir):
        """Local Moran's I / LISA (operators/raster.py local_morans):
        PySAL esda.Moran_Local with row-standardized queen weights over
        the bbox study region — per-cell z·lag/m2 with Moran-scatterplot
        quadrant labels (HH/LL/HL/LH), every factor the SAME float
        expression cross-engine so sign comparisons cannot diverge.  One
        stencil shuffle + a broadcast one-row moment aggregate.  The
        DuckDB twin replays the identical stencil, moments, and formula."""
        from tilekiln_spark.operators.raster import local_morans as _lm
        from tilekiln_spark.operators.raster import rasterize

        d = _mx_my(_docs(spark, sf_dir))
        return _lm(rasterize(d, zoom=2, res=16), res=16)

    q["local_morans"] = local_morans

    def viewshed(spark, sf_dir):
        """gdal_viewshed over the doc-density raster (operators/raster.py
        viewshed): observer on the argmax cell, DDA parametric sampling
        with floor(x+0.5) snapping, and the cross-multiplied tangent
        predicate (vs-ov)*steps >= (vt-ov)*s — exact integer arithmetic,
        no sqrt/division in the visibility test.  Bounded sample explode
        + cell-key equi-join + ONE blocker groupBy.  The twin replays the
        identical DDA and predicate from a range() lateral."""
        from tilekiln_spark.operators.raster import rasterize
        from tilekiln_spark.operators.raster import viewshed as _vs

        d = _mx_my(_docs(spark, sf_dir))
        return _vs(rasterize(d, zoom=2, res=16), res=16)

    q["viewshed"] = viewshed

    def raster_proximity(spark, sf_dir):
        """gdal_proximity -maxdist 4 over the doc-density raster
        (operators/raster.py proximity): bounded neighborhood scatter
        with exact integer squared offsets + ONE min groupBy — the
        kde_density shape with min instead of the kernel sum; cells
        beyond maxdist emit nothing (gdal's nodata contract).  The twin
        replays the identical offsets VALUES table."""
        from tilekiln_spark.operators.raster import proximity, rasterize

        d = _mx_my(_docs(spark, sf_dir))
        return proximity(rasterize(d, zoom=2, res=16), res=16, maxdist=4)

    q["raster_proximity"] = raster_proximity

    def focal_majority_q(spark, sf_dir):
        """Focal MAJORITY filter (operators/raster.py focal_majority —
        ArcGIS Focal Statistics majority): per present cell, the most
        frequent value in its 3x3 window under the sparse 0-valued
        contract, ties to the smallest value.  Long-form scatter (the
        mode needs per-VALUE counts, not the 9-column pivot): one
        (target, value) partial agg + one per-target argmax; the zero
        bucket is bbox arithmetic off a broadcast 1-row aggregate, never
        materialized rows.  The DuckDB twin replays the scatter and
        decides with the same (count desc, value asc) order."""
        from tilekiln_spark.operators.raster import focal_majority, rasterize

        d = _mx_my(_docs(spark, sf_dir))
        return focal_majority(rasterize(d, zoom=2, res=16), res=16)

    q["focal_majority"] = focal_majority_q

    def quadrat_test(spark, sf_dir):
        """Quadrat-count dispersion (operators/raster.py
        quadrat_dispersion — spatstat quadrat.test's VMR/chi-square):
        every raster cell is a quadrat over the bbox study region, and
        the whole statistic is ONE tiny global aggregate of exact
        integer sums — no second shuffle at any scale.  The DuckDB twin
        replays the identical sums and scalar assembly."""
        from tilekiln_spark.operators.raster import quadrat_dispersion, rasterize

        d = _mx_my(_docs(spark, sf_dir))
        out = quadrat_dispersion(rasterize(d, zoom=2, res=16), res=16)
        return out.select(
            "n_present", "bbox_n", "total_pts",
            (F.round("vmr", 6) + F.lit(0.0)).alias("vmr"),
            (F.round("chi2", 6) + F.lit(0.0)).alias("chi2"),
        )

    q["quadrat_test"] = quadrat_test

    def general_g_q(spark, sf_dir):
        """Getis-Ord General G (operators/raster.py general_g — ArcGIS
        High/Low Clustering): global adjacency cross-products off the
        SAME shared 3x3 stencil as Gi*/Moran, denominator (Σx)² − Σx²
        from the one-row moment aggregate, expected value from the
        closed-form ΣW.  Exact integer sums throughout.  The DuckDB twin
        replays the identical stencil and assembly."""
        from tilekiln_spark.operators.raster import general_g, rasterize

        d = _mx_my(_docs(spark, sf_dir))
        out = general_g(rasterize(d, zoom=2, res=16), res=16)
        return out.select(
            "n_present", "bbox_n",
            (F.round(F.col("g_obs") * 1.0e6, 6) + F.lit(0.0)).alias("g_obs_ppm"),
            (F.round(F.col("g_exp") * 1.0e6, 6) + F.lit(0.0)).alias("g_exp_ppm"),
        )

    q["general_g"] = general_g_q

    def join_counts_q(spark, sf_dir):
        """Join-count statistics (operators/raster.py join_counts —
        PySAL esda.Join_Counts): BB/BW/WW adjacent pairs for the binary
        Black = (count >= 2) classification, queen weights, with the
        nonfree-sampling E[BB].  The SAME shared stencil runs over the
        0/1 indicator, so every term is an exact small integer.  The
        DuckDB twin replays the indicator stencil and assembly."""
        from tilekiln_spark.operators.raster import join_counts, rasterize

        d = _mx_my(_docs(spark, sf_dir))
        out = join_counts(rasterize(d, zoom=2, res=16), threshold=2, res=16)
        return out.select(
            "n_black", "bbox_n", "bb_obs", "bw_obs", "ww_obs",
            (F.round("bb_exp", 6) + F.lit(0.0)).alias("bb_exp"),
        )

    q["join_counts"] = join_counts_q

    def raster_contours(spark, sf_dir):
        """Marching-squares contour segments over the doc-density raster
        (operators/raster.py contours — GDAL gdal_contour parity on the
        count grid): 4-way corner explode, ONE partial-agg groupBy per 2x2
        window, then the 16-case table + edge interpolation as pure JVM
        expressions (fixed saddle convention).  Both iso levels are cut
        from ONE window aggregation: the level-literal array explodes
        after the groupBy, so the raster is scanned and the windows
        shuffled exactly once.  The DuckDB twin re-runs the identical
        window assembly and case table from an offsets VALUES table."""
        from tilekiln_spark.operators.raster import contours, rasterize

        cells = rasterize(_mx_my(_docs(spark, sf_dir)), zoom=2, res=16)
        return contours(cells, level=(0.5, 2.5), res=16)

    q["raster_contours"] = raster_contours

    def raster_resample(spark, sf_dir):
        """gdalwarp -r bilinear 2x upsample (operators/raster.py
        resample_bilinear): the dual of raster_pyramid — each output
        subpixel bilinearly interpolates its 4 surrounding input CELL
        CENTERS.  Same shared 2x2 window assembly as contours
        (_stencil4), then a 4-subpixel literal-weights posexplode; the
        weights (0.5625/0.1875/0.0625) are exact binary fractions so
        parity with the DuckDB twin's offsets VALUES table is exact."""
        from tilekiln_spark.operators.raster import rasterize, resample_bilinear

        d = _mx_my(_docs(spark, sf_dir))
        return resample_bilinear(rasterize(d, zoom=2, res=16), factor=2, res=16)

    q["raster_resample"] = raster_resample

    def kde_density(spark, sf_dir):
        """Kernel-density heatmap (operators/raster.py kde_density):
        Epanechnikov kernel over a 2500 km grid, bandwidth 3750 km →
        bounded 5x5 neighbor explode + ONE partial-aggregated groupBy —
        the hexbin/hillshade scale shape, no dense raster, no exp().
        DuckDB re-runs the identical offsets cross join and kernel
        arithmetic."""
        from tilekiln_spark.operators.raster import kde_density

        d = _mx_my(_docs(spark, sf_dir))
        out = kde_density(d, cell=2.5e6, bandwidth=3.75e6)
        return out.select(
            "ix", "iy", (F.round(F.col("density"), 6) + 0.0).alias("density")
        )

    q["kde_density"] = kde_density

    def cluster_within(spark, sf_dir):
        """PostGIS ST_ClusterWithin: connected components of the full
        eps-graph — exactly DBSCAN with min_pts=1 (every point core), so
        this is the same audited pipeline with deterministic min-id
        labels; singletons are their own cluster."""
        from tilekiln_spark.operators.dbscan import dbscan

        pts = _mx_my(_docs(spark, sf_dir))
        out = dbscan(pts, eps=2.0e6, min_pts=1, key_col="doc_id")
        return out.select("doc_id", "cluster_id")

    q["cluster_within"] = cluster_within

    def idw_interpolate(spark, sf_dir):
        """Inverse-distance-weighted interpolation (the classic scattered-
        points -> surface estimator): the doc n_chars field estimated at
        the 16 grid seeds, weights 1/d², exact over all samples (the tiny
        target dim broadcasts; one partial-agg groupBy).  Coincident
        sample/target pairs take the sample value exactly (the standard
        IDW rule), expressed as a max-flag + conditional aggregate."""
        pts = _mx_my(_docs(spark, sf_dir)).select("doc_id", "n_chars", "mx", "my")
        cents = _grid_cents(spark)
        j = pts.crossJoin(F.broadcast(cents))
        d2 = (F.col("mx") - F.col("cx")) * (F.col("mx") - F.col("cx")) + (
            F.col("my") - F.col("cy")
        ) * (F.col("my") - F.col("cy"))
        w = F.lit(1.0) / d2
        v = F.col("n_chars").cast("double")
        agg = j.groupBy("cid").agg(
            F.sum(F.when(d2 > 0, w * v)).alias("num"),
            F.sum(F.when(d2 > 0, w)).alias("den"),
            F.max(F.when(d2 == 0, v)).alias("exact"),
        )
        est = F.coalesce(F.col("exact"), F.col("num") / F.col("den"))
        return agg.select("cid", F.round(est, 6).alias("idw_n_chars"))

    q["idw_interpolate"] = idw_interpolate

    def cluster_kmeans(spark, sf_dir):
        """ST_ClusterKMeans (operators/kmeans.py): 3 deterministic Lloyd
        rounds — key-ordered seeds, min-cid tie-break, centroids rounded
        to 3 decimals between rounds so distributed-mean ulp drift can
        never flip an assignment cross-engine.  The twin unrolls the same
        3 rounds as chained CTEs."""
        from tilekiln_spark.operators.kmeans import kmeans_2d

        pts = _mx_my(_docs(spark, sf_dir))
        return kmeans_2d(pts, k=4, iters=3, key_col="doc_id")

    q["cluster_kmeans"] = cluster_kmeans

    def point_buffers(spark, sf_dir):
        """ST_Buffer(point, r) parity (quad_segs convention): 8-vertex
        circle rings around the grid seeds from Python-hoisted cos/sin
        constants (functions/geometry.py point_buffer — no engine trig in
        the ring, so vertices are bit-identical cross-engine); every
        vertex value-checked via posexplode."""
        from tilekiln_spark.functions.geometry import point_buffer

        cents = _grid_cents(spark)
        xs, ys = point_buffer(F.col("cx"), F.col("cy"), 500_000.0, segments=2)
        return cents.select(
            "cid", F.posexplode(F.arrays_zip(xs.alias("x"), ys.alias("y")))
        ).select(
            "cid",
            F.col("pos").cast("int").alias("seq"),
            F.round(F.col("col.x"), 6).alias("px"),
            F.round(F.col("col.y"), 6).alias("py"),
        )

    q["point_buffers"] = point_buffers

    def hits_links(spark, sf_dir):
        """Kleinberg HITS hubs/authorities (operators/graph.py hits) over
        the same deterministic synthetic link graph as pagerank_links;
        8 rounds, max-normalized half-steps (order-independent given the
        per-node sums, so round(6) absorbs the engines' sum-order ulp)."""
        from tilekiln_spark.operators.graph import hits

        d = _docs(spark, sf_dir).select("doc_id")
        n = d.count()
        e = (
            d.filter((F.col("doc_id") % 5) != 0)
            .select(
                F.col("doc_id").alias("src"),
                F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
            )
            .select("src", ((F.col("src") * 7 + F.col("j")) % n).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        out = hits(d.select(F.col("doc_id").alias("node")), e, iterations=8)
        return out.select(
            F.col("node").alias("doc_id"),
            F.round(F.col("hub"), 6).alias("hub"),
            F.round(F.col("authority"), 6).alias("authority"),
        )

    q["hits_links"] = hits_links

    def layer_extents(spark, sf_dir):
        """PostGIS ST_Extent aggregate: per-language bounding envelope of
        the doc points + count (pure min/max partial aggregates — the
        envelope is what a tile seeder uses to bound its zoom worklists)."""
        pts = _mx_my(_docs(spark, sf_dir))
        return pts.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.round(F.min("mx"), 6).alias("xmin"),
            F.round(F.min("my"), 6).alias("ymin"),
            F.round(F.max("mx"), 6).alias("xmax"),
            F.round(F.max("my"), 6).alias("ymax"),
        )

    q["layer_extents"] = layer_extents

    def template_compile_buffer(spark, sf_dir):
        """Compiler tier: ST_AsMVTGeom(ST_Buffer(way, r), ...) over a POINT
        source — each point becomes a quad_segs circle POLYGON feature
        riding the shared polygon tile path (config/sqlt.py mode 'buffer'
        -> point_buffer ring + _poly_tile_rows bbox explode).  The twin
        recomputes the buffered envelopes and the clamped tile-range
        explode in SQL; per-tile feature counts pin the assignment."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = (
            _mx_my(_docs(spark, sf_dir))
            .where(F.col("doc_id") % 7 == 0)
            .select("mx", "my", "lang")
        )
        body = (
            "SELECT ST_AsMVTGeom(ST_Buffer(way, 1200000), {{bbox}}, {{extent}}) "
            "AS way, lang FROM pts WHERE way && {{bbox}}"
        )
        feats = CompiledTemplate(body).build(
            {"tables": {"pts": {"frame": d, "kind": "point"}}}, [1, 2], 4096, 0
        )
        return feats.groupBy("zoom", "x", "y").agg(
            F.count("*").alias("n_feat"),
            F.countDistinct("lang").alias("n_langs"),
        )

    q["template_compile_buffer"] = template_compile_buffer

    def knn_centroids(spark, sf_dir):
        """kNN point->centroid assignment (window ranking)."""
        pts = _mx_my(_docs(spark, sf_dir))
        cents = _grid_cents(spark)
        assigned = knn_assign(pts, cents, k=1, point_key="doc_id", search_zoom=2)
        return assigned.groupBy("cid").agg(F.count("*").alias("n_docs"))

    q["knn_centroids"] = knn_centroids

    def dwithin_join_q(spark, sf_dir):
        """Distance-band join (PostGIS ST_DWithin parity): every doc within
        1,500 km (mercator meters) of one of the 16 grid seeds, via the
        bounded 3x3 cell-neighborhood equi-join + exact squared-distance
        residual (operators/spatial_join.py dwithin_join — no cross join);
        the oracle runs the brute-force cross join with the identical
        multiply/add boundary test."""
        from tilekiln_spark.operators.spatial_join import dwithin_join

        pts = _mx_my(_docs(spark, sf_dir))
        seeds = _grid_cents(spark)
        j = dwithin_join(pts, seeds, radius=1_500_000.0)
        return j.select(
            "cid", "doc_id", (F.round("dist", 6) + 0.0).alias("dist_m")
        )

    q["dwithin_join"] = dwithin_join_q

    def ripleys_k_q(spark, sf_dir):
        """Ripley's K / Besag's L point-pattern statistic (operators/
        spatial_join.py ripleys_k) over a deterministic doc sample
        (doc_id % 7 == 0) in km coordinates: pair counting is ONE self
        dwithin_join at max radius (bounded 3x3 cell-neighborhood
        equi-join, no cross join), every radius cut from the same pair
        pass with the exact squared-distance boundary test, K/L
        assembled from exact integer counts + a 1-row bbox moment
        aggregate.  The DuckDB twin brute-forces the pairs with the
        identical boundary arithmetic."""
        from tilekiln_spark.operators.spatial_join import ripleys_k

        geo = _mx_my(_docs(spark, sf_dir)).where(F.col("doc_id") % 7 == 0)
        pts = geo.select("doc_id", "mx", "my")
        # meters in (dwithin_join's grid derivation is mercator-meter
        # based), km out — the unit conversion is exact scalar math
        out = ripleys_k(pts, [1.0e6, 2.5e6, 5.0e6])
        return out.select(
            (F.col("r") / 1000.0).alias("r_km"),
            "n_pairs",
            (F.round(F.col("k_est") / 1.0e6, 6) + F.lit(0.0)).alias("k_km2"),
            (F.round(F.col("l_est") / 1000.0, 6) + F.lit(0.0)).alias("l_km"),
        ).orderBy("r_km")

    q["ripleys_k"] = ripleys_k_q

    def cross_k_q(spark, sf_dir):
        """Bivariate Ripley's cross-K (operators/spatial_join.py
        cross_k — spatstat Kcross, no edge correction): does the 'en'
        pattern cluster around the 'de' pattern?  ONE dwithin join of A
        against B at max radius, every radius cut from the same pass
        with exact squared-distance boundary tests, bbox area over the
        combined pattern.  The DuckDB twin brute-forces the A×B pairs
        with identical arithmetic."""
        from tilekiln_spark.operators.spatial_join import cross_k

        geo = _mx_my(_docs(spark, sf_dir))
        a = geo.where(F.col("lang") == "en").select("doc_id", "mx", "my")
        b = geo.where(F.col("lang") == "de").select("doc_id", "mx", "my")
        out = cross_k(a, b, [1.0e6, 2.5e6, 5.0e6])
        return out.select(
            (F.col("r") / 1000.0).alias("r_km"),
            "n_pairs",
            (F.round(F.col("k_est") / 1.0e6, 6) + F.lit(0.0)).alias("k_km2"),
            (F.round(F.col("l_est") / 1000.0, 6) + F.lit(0.0)).alias("l_km"),
        ).orderBy("r_km")

    q["cross_k"] = cross_k_q

    def zonal_stats_q(spark, sf_dir):
        """Zonal statistics (PostGIS ST_SummaryStats(ST_Clip(...)) parity):
        rasterize docs at z2 into 16x16 per-tile count cells, then aggregate
        the cells whose CENTERS fall in each grid polygon (the GDAL
        cell-center rule) — the zone join is the audited grid PIP equi-join
        over the PRE-AGGREGATED raster, so the 100 TB cost is a point
        groupBy + a bounded-cell join, never a raw-point cross join."""
        from tilekiln_spark.operators.raster import rasterize, zonal_stats

        d = _mx_my(_docs(spark, sf_dir))
        rr = rasterize(d, zoom=2, res=16)
        return zonal_stats(rr, _grid_polys(spark), res=16, grid_zoom=4)

    q["zonal_stats"] = zonal_stats_q

    def cell_codes(spark, sf_dir):
        """Geohash + Bing-quadkey cell codecs (PostGIS ST_GeoHash parity,
        functions/cellcodes.py): per-doc geohash at precision 7 and the z6
        tile quadkey — both UNROLLED pure-codegen bit interleaves; the
        DuckDB twin is GENERATED from the same bit-layout loop
        (geohash_encode_sql / quadkey_encode_sql), so the engines share one
        arithmetic definition."""
        from tilekiln_spark.functions.cellcodes import geohash_encode, quadkey_encode

        d = _docs(spark, sf_dir).select(
            "doc_id",
            geocode_arith_lon(F.col("doc_id")).alias("lon"),
            geocode_arith_lat(F.col("doc_id")).alias("lat"),
        )
        d = d.withColumn("mx", merc_x(F.col("lon"))).withColumn("my", merc_y(F.col("lat")))
        z = F.lit(6)
        return d.select(
            "doc_id",
            geohash_encode(F.col("lat"), F.col("lon"), 7).alias("gh7"),
            quadkey_encode(6, tile_x(z, F.col("mx")), tile_y(z, F.col("my"))).alias("qk6"),
        )

    q["cell_codes"] = cell_codes

    def cell_decode(spark, sf_dir):
        """Geohash / quadkey DECODE (PostGIS ST_PointFromGeoHash + Bing
        tile-system parity, functions/cellcodes.py): decode the per-doc
        codes back to cell-center lat/lon and tile x/y — the inverse
        unrolled bit walks, pure codegen — and prove the roundtrip
        (center re-encodes to the identical code) as value columns.  The
        DuckDB twin is GENERATED from the same bit-layout loops."""
        from tilekiln_spark.functions.cellcodes import (
            geohash_decode,
            geohash_encode,
            quadkey_decode,
            quadkey_encode,
        )

        d = _docs(spark, sf_dir).select(
            "doc_id",
            geocode_arith_lon(F.col("doc_id")).alias("lon"),
            geocode_arith_lat(F.col("doc_id")).alias("lat"),
        )
        d = d.withColumn("mx", merc_x(F.col("lon"))).withColumn("my", merc_y(F.col("lat")))
        z = F.lit(6)
        enc = d.select(
            "doc_id",
            geohash_encode(F.col("lat"), F.col("lon"), 7).alias("gh7"),
            quadkey_encode(6, tile_x(z, F.col("mx")), tile_y(z, F.col("my"))).alias("qk6"),
        )
        dlat, dlon = geohash_decode(F.col("gh7"), 7)
        qx, qy = quadkey_decode(F.col("qk6"), 6)
        return enc.select(
            "doc_id",
            "gh7",
            F.round(dlat, 6).alias("cell_lat"),
            F.round(dlon, 6).alias("cell_lon"),
            qx.cast("int").alias("tile_x"),
            qy.cast("int").alias("tile_y"),
            (geohash_encode(dlat, dlon, 7) == F.col("gh7")).alias("gh_roundtrip"),
            (quadkey_encode(6, qx, qy) == F.col("qk6")).alias("qk_roundtrip"),
        )

    q["cell_decode"] = cell_decode

    def dwithin_geography(spark, sf_dir):
        """Geography ST_DWithin (great-circle meters on the PostGIS mean
        sphere, operators/spatial_join.py dwithin_geography_join): every
        (probe, doc) pair within 2,200 km.  Scale shape: bounded lat/lon
        cell-neighborhood equi-join (rows +-1; lon window from the exact
        haversine inversion; polar caps route to a sentinel bucket) + the
        exact haversine residual — no cross join.  The DuckDB twin is the
        same haversine formula text (functions/geodesic.py
        haversine_m_sql); distances round to cm because the engines' libm
        may differ in the last ulp."""
        from tilekiln_spark.operators.spatial_join import dwithin_geography_join

        d = _docs(spark, sf_dir).select(
            "doc_id",
            geocode_arith_lon(F.col("doc_id")).alias("lon"),
            geocode_arith_lat(F.col("doc_id")).alias("lat"),
        )
        probes = spark.range(16).select(
            F.col("id").cast("int").alias("cid"),
            (F.lit(-60.0) + (F.col("id") % 4).cast("double") * F.lit(40.0)).alias("slat"),
            (F.lit(-135.0) + F.floor(F.col("id") / 4).cast("double") * F.lit(90.0)).alias("slon"),
        )
        out = dwithin_geography_join(d, probes, 2_200_000.0)
        return out.select(
            "cid", "doc_id", F.round(F.col("dist_m"), 2).alias("dist_m")
        )

    q["dwithin_geography"] = dwithin_geography

    def poly_intersect_join(spark, sf_dir):
        """Polygon x polygon ST_Intersects join (operators/spatial_join.py
        polygons_intersect_join — PBSM grid shape: both bboxes explode to
        grid cells, hash equi-join, reporting-cell dedup, exact Arrow
        ring-pair refine).  The DuckDB twin runs the SAME decision
        arithmetic (functions/geometry.py rings_intersect_sql) over a
        cross join of the literal fixture — bit-identical booleans, so
        the pair set matches exactly."""
        from tilekiln_spark.operators.spatial_join import polygons_intersect_join

        schema = (
            "polygon_id int, xmin double, ymin double, xmax double, "
            "ymax double, ring_xs array<double>, ring_ys array<double>"
        )
        a_rings, b_rings = _intersect_fixture()

        def df(rings):
            return spark.createDataFrame(
                [
                    (gid, min(xs), min(ys), max(xs), max(ys), xs, ys)
                    for gid, xs, ys in rings
                ],
                schema,
            )

        out = polygons_intersect_join(df(a_rings), df(b_rings), grid_zoom=3)
        return out.select(
            F.col("polygon_id").alias("a_id"),
            F.col("b_polygon_id").alias("b_id"),
        )

    q["poly_intersect_join"] = poly_intersect_join

    def host_cap_q(spark, sf_dir):
        """Domain capping (operators/webstats.py host_cap — RefinedWeb's
        anti-spam stage): at most N docs per registrable domain, winners a
        deterministic unbiased md5-order sample, keep flags retained for
        funnel accounting.  ONE shuffle keyed on domain."""
        from tilekiln_spark.operators.webstats import host_cap

        urls = _messy_urls(_docs(spark, sf_dir))
        return host_cap(urls, per_domain=40).select(
            "doc_id", "domain", F.col("host_rank").cast("long").alias("host_rank"), "keep"
        )

    q["host_cap"] = host_cap_q

    def knn_geography(spark, sf_dir):
        """Geography kNN (operators/spatial_join.py knn_geography_assign):
        2 nearest probes per doc by great-circle meters, broadcast seed dim,
        one window keyed on the point.  Ranking orders by round-6 distance
        + seed tiebreak so cross-engine libm ulp cannot flip ranks."""
        from tilekiln_spark.operators.spatial_join import knn_geography_assign

        d = _docs(spark, sf_dir).select(
            "doc_id",
            geocode_arith_lon(F.col("doc_id")).alias("lon"),
            geocode_arith_lat(F.col("doc_id")).alias("lat"),
        )
        probes = spark.range(16).select(
            F.col("id").cast("int").alias("cid"),
            (F.lit(-60.0) + (F.col("id") % 4).cast("double") * F.lit(40.0)).alias("slat"),
            (F.lit(-135.0) + F.floor(F.col("id") / 4).cast("double") * F.lit(90.0)).alias("slon"),
        )
        out = knn_geography_assign(d, probes, k=2)
        return out.select(
            "doc_id",
            "cid",
            F.col("knn_rank").cast("long").alias("knn_rank"),
            F.round(F.col("dist_m"), 2).alias("dist_m"),
        )

    q["knn_geography"] = knn_geography

    def ring_validity(spark, sf_dir):
        """ST_IsSimple over ring geometries (operators/spatial_join.py
        make_ring_is_simple_udf — Arrow kernel: non-adjacent edge pairs must
        not cross or touch, adjacent pairs must not double back into a
        collinear spike).  The DuckDB twin (functions/geometry.py
        ring_is_simple_sql) generates the same decision arithmetic —
        bit-identical booleans on every fixture ring, degenerates and the
        bowtie/spike/self-touch invalids included."""
        from tilekiln_spark.operators.spatial_join import make_ring_is_simple_udf

        df = spark.createDataFrame(
            _validity_fixture(), "gid int, xs array<double>, ys array<double>"
        )
        return df.select(
            "gid",
            F.size("xs").alias("n_vertices"),
            make_ring_is_simple_udf()(F.col("xs"), F.col("ys")).alias("is_simple"),
        )

    q["ring_validity"] = ring_validity

    def raster_vectorize(spark, sf_dir):
        """Raster<->vector (north_rule): rasterize docs into per-tile 16x16
        count grids at z2, then vectorize cells with n >= 2 back into
        mercator cell polygons; the oracle re-derives both steps in SQL."""
        from tilekiln_spark.operators.raster import rasterize, vectorize

        d = _mx_my(_docs(spark, sf_dir))
        rr = rasterize(d, zoom=2, res=16)
        v = vectorize(rr, res=16, threshold=2)
        return v.select(
            "zoom", "x", "y", "bin_x", "bin_y", "n",
            (F.round("xmin", 3) + 0.0).alias("xmin"), (F.round("ymin", 3) + 0.0).alias("ymin"),
            (F.round("xmax", 3) + 0.0).alias("xmax"), (F.round("ymax", 3) + 0.0).alias("ymax"),
        )

    q["raster_vectorize"] = raster_vectorize

    def union_literals(spark, sf_dir):
        """B5/B6/B7: the water-template shape — two filtered projections with
        literal/NULL padding, UNION ALL, grouped counts."""
        d = _docs(spark, sf_dir)
        a = d.filter(F.col("lang") == "en").select(
            "doc_id", F.lit(None).cast("long").alias("osm_id"), F.lit("ocean").alias("water")
        )
        b = d.filter(F.col("source").isin("src1", "src2", "src3")).select(
            "doc_id", F.col("doc_id").alias("osm_id"), F.col("lang").alias("water")
        )
        u = a.unionByName(b)
        return u.groupBy("water").agg(
            F.count("*").alias("n_rows"), F.count("osm_id").alias("n_osm")
        )

    q["union_literals"] = union_literals

    def zoom_filter_dispatch(spark, sf_dir):
        """B6/B8/B9: admin-template predicates — IN-lists varying by 'zoom',
        OR-of-INs, numeric thresholds — evaluated per zoom band."""
        d = _docs(spark, sf_dir)
        lvl = (F.col("doc_id") % 8).cast("string")
        d = d.withColumn("admin_level", lvl)
        out = None
        for z, levels in ((2, ["0", "1", "2"]), (8, ["0", "1", "2", "3", "4"]), (12, ["0", "1", "2", "3", "4", "5", "6"])):
            part = (
                d.filter(F.col("admin_level").isin(levels))
                .filter((F.col("n_chars") > 100) | (F.col("lang").isin("en", "de")))
                .groupBy(F.lit(z).alias("zoom"))
                .agg(F.count("*").alias("n_rows"), F.sum(F.col("admin_level").cast("int")).alias("sum_lvl"))
            )
            out = part if out is None else out.unionByName(part)
        return out

    q["zoom_filter_dispatch"] = zoom_filter_dispatch

    def merge_upsert_semantics(spark, sf_dir):
        """A7/B15: the timestamp-preserving MERGE as a pure query — full outer
        join + IS DISTINCT FROM + COALESCE (fixed 'now' for determinism)."""
        e = _events(spark, sf_dir)
        old = e.filter(F.col("event_id") % 3 != 0).select(
            F.col("event_id").alias("key"),
            F.md5(F.col("event_type")).alias("data"),
            F.col("ts").alias("generated"),
        )
        new = e.filter(F.col("event_id") % 2 == 0).select(
            F.col("event_id").alias("key"),
            F.md5(F.when(F.col("event_id") % 4 == 0, F.col("event_type")).otherwise(F.col("props"))).alias("data"),
        )
        now = F.to_timestamp(F.lit("2026-06-01 00:00:00"))
        j = old.alias("o").join(new.alias("n"), "key", "full_outer")
        incoming = F.col("n.data").isNotNull()
        changed = ~F.col("o.data").eqNullSafe(F.col("n.data"))
        return j.select(
            "key",
            F.when(incoming, F.col("n.data")).otherwise(F.col("o.data")).alias("data"),
            F.when(
                incoming, F.when(changed, now).otherwise(F.coalesce(F.col("o.generated"), now))
            ).otherwise(F.col("o.generated")).alias("generated"),
        )

    q["merge_upsert_semantics"] = merge_upsert_semantics

    def tile_stats_percentiles(spark, sf_dir):
        """B12/B13: per-group count/sum + exact PERCENTILE_CONT values."""
        d = _docs(spark, sf_dir)
        pcts = [0.0, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 0.999, 1.0]
        agg = d.groupBy("lang").agg(
            F.count("*").alias("num_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.percentile(F.col("n_chars"), F.array([F.lit(p) for p in pcts])).alias("p"),
        )
        cols = [F.round(F.col("p")[i], 4).alias(f"p{str(p).replace('.', '_')}") for i, p in enumerate(pcts)]
        return agg.select("lang", "num_docs", "total_chars", *cols)

    q["tile_stats_percentiles"] = tile_stats_percentiles

    def greatest_freshness(spark, sf_dir):
        """A6/B11: GREATEST over per-layer timestamps with COALESCE floor."""
        e = _events(spark, sf_dir)
        floor_ts = F.to_timestamp(F.lit("2020-01-01 00:00:00"))
        g = e.groupBy("user_id").agg(
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t1"),
            F.max(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t2"),
        )
        return g.select(
            "user_id",
            F.greatest(F.coalesce(F.col("t1"), floor_ts), F.coalesce(F.col("t2"), floor_ts)).alias("freshest"),
        )

    q["greatest_freshness"] = greatest_freshness

    def event_windows(spark, sf_dir):
        """Streaming-shape batch query: tumbling 1h windows per event_type
        (Structured-Streaming-compatible aggregation, run as batch)."""
        e = _events(spark, sf_dir)
        w = F.window(F.col("ts"), "1 hour")
        return (
            e.groupBy(w.alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"), F.round(F.avg("value"), 4).alias("avg_value"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "avg_value")
        )

    q["event_windows"] = event_windows

    def event_sessions(spark, sf_dir):
        """Web-log sessionization (operators/events.py): per-user sessions
        split at >30-minute gaps via native session_window (the identical
        aggregate runs as a streaming query with a watermark).  DuckDB twin
        is the classic gaps-and-islands rewrite — lag + cumulative
        new-session flags."""
        from tilekiln_spark.operators.events import sessionize

        return sessionize(_events(spark, sf_dir), gap="30 minutes")

    q["event_sessions"] = event_sessions

    def emerging_hotspots(spark, sf_dir):
        """Mann-Kendall trend per grid cell over daily event counts
        (operators/events.py mann_kendall_cells) — the ArcGIS emerging-
        hot-spot primitive: densified per-period counts (empty period =
        0), S = sum of pairwise count-diff signs via ONE cell-keyed
        self-join, tie-corrected variance, continuity-corrected z.
        Every sum is an exact integer; the twin replays the identical
        densify/pairs/ties plan."""
        from tilekiln_spark.operators.events import mann_kendall_cells

        ev = _mx_my(_events(spark, sf_dir), id_col="event_id")
        return mann_kendall_cells(ev, cell=5e6, period_seconds=86400)

    q["emerging_hotspots"] = emerging_hotspots

    def trajectory_cpa_q(spark, sf_dir):
        """ST_ClosestPointOfApproach / ST_DistanceCPA between every user
        pair (operators/events.py trajectory_cpa): time-interpolated
        positions, per-segment-pair closed-form clamped-parabola minimum,
        day-bucketed interval equi-join (duplicate candidates absorbed by
        the final min), ONE (dist2, t) struct-argmin groupBy.  The twin
        replays the identical windows, buckets, and quadratic solve."""
        from tilekiln_spark.operators.events import trajectory_cpa

        ev = _mx_my(_events(spark, sf_dir), id_col="event_id")
        out = trajectory_cpa(ev, bucket_seconds=86400.0)
        return out.select(
            "u1",
            "u2",
            (F.round(F.col("cpa_dist") / 1e3, 6) + F.lit(0.0)).alias("cpa_km"),
            (F.round(F.col("t_cpa") - 1704067200.0, 3) + F.lit(0.0)).alias(
                "t_rel"
            ),
        )

    q["trajectory_cpa"] = trajectory_cpa_q

    def trajectory_sinuosity(spark, sf_dir):
        """Sinuosity + tortuosity per user trajectory: path length over
        straight-line displacement (functions/geometry.py line_length)
        and the mean absolute turning angle (turning_angle_sum — one
        ascending fold per chain).  Same ordered-track assembly as the
        Fréchet/DTW family; the twin replays identical folds."""
        from tilekiln_spark.functions.geometry import (
            line_length,
            turning_angle_sum,
        )

        ev = _mx_my(_events(spark, sf_dir), id_col="event_id")
        ordered = F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "mx", "my"))
        )
        agg = ev.groupBy("user_id").agg(ordered.alias("o"))
        tr = agg.select(
            "user_id",
            F.transform(F.col("o"), lambda s: s["mx"]).alias("xs"),
            F.transform(F.col("o"), lambda s: s["my"]).alias("ys"),
        )
        n = F.size("xs")
        plen = line_length(F.col("xs"), F.col("ys"))
        dx = F.element_at("xs", n) - F.element_at("xs", 1)
        dy = F.element_at("ys", n) - F.element_at("ys", 1)
        straight = F.sqrt(dx * dx + dy * dy)
        turn = turning_angle_sum(F.col("xs"), F.col("ys"))
        mean_turn = F.when(
            n >= 3, F.degrees(turn / (n - 2).cast("double"))
        ).otherwise(F.lit(0.0))
        return tr.select(
            "user_id",
            n.cast("int").alias("n_pts"),
            (F.round(plen / 1e3, 3) + F.lit(0.0)).alias("path_km"),
            (
                F.round(plen / F.nullif(straight, F.lit(0.0)), 6) + F.lit(0.0)
            ).alias("sinuosity"),
            (F.round(mean_turn, 6) + F.lit(0.0)).alias("mean_turn_deg"),
        )

    q["trajectory_sinuosity"] = trajectory_sinuosity

    def asof_join_views(spark, sf_dir):
        """Backward as-of join (operators/events.py asof_join — pandas
        merge_asof / kdb aj semantics): every click gains the most recent
        same-user view at-or-before its timestamp; equal-ts ties break by
        the largest view event_id.  Physical shape is ONE window pass over
        a tagged union (single hash exchange on user_id, no join node, no
        point-in-interval blowup); the DuckDB twin replays the identical
        union+last_value(IGNORE NULLS) construction with null ordering
        pinned to Spark's asc-nulls-first default."""
        from tilekiln_spark.operators.events import asof_join

        e = _events(spark, sf_dir)
        clicks = e.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts", "value"
        )
        views = e.where(F.col("event_type") == "view").select(
            "event_id", "user_id", "ts", "value"
        )
        return asof_join(
            clicks, views, ["user_id"], "ts",
            value_cols=["value"], tiebreak_col="event_id",
        )

    q["asof_join_views"] = asof_join_views

    def asof_join_nearest(spark, sf_dir):
        """direction='nearest' variant of asof_join_views: each click takes
        whichever same-user view is closer in time (ties go backward,
        pandas' merge_asof rule).  Both direction passes share ONE hash
        partitioning — one exchange, two in-partition sorts.  The DuckDB
        twin replays both window passes and the same pick rule via
        interval comparison."""
        from tilekiln_spark.operators.events import asof_join

        e = _events(spark, sf_dir)
        clicks = e.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts", "value"
        )
        views = e.where(F.col("event_type") == "view").select(
            "event_id", "user_id", "ts", "value"
        )
        return asof_join(
            clicks, views, ["user_id"], "ts",
            value_cols=["value"], tiebreak_col="event_id",
            direction="nearest",
        )

    q["asof_join_nearest"] = asof_join_nearest

    def interval_join_errors(spark, sf_dir):
        """Bucketed range join (operators/events.py interval_join): count
        same-user clicks inside each error's [ts, ts+4h) window.  The
        engine quantizes time into 4-hour buckets, explodes each
        interval to its ~2 covered buckets, equi-joins on (user, bucket)
        and applies the exact residual — a shuffle/broadcast hash join
        Catalyst plans freely, where a raw BETWEEN predicate would emit a
        BroadcastNestedLoopJoin (O(points x intervals) at 100 TB).  A
        point owns one bucket, so matches are never duplicated.  The
        DuckDB twin is the plain BETWEEN join."""
        from tilekiln_spark.operators.events import interval_join

        e = _events(spark, sf_dir)
        clicks = e.where(F.col("event_type") == "click").select(
            "user_id", "ts", "value"
        )
        errors = e.where(F.col("event_type") == "error").select(
            F.col("event_id").alias("iv_id"),
            "user_id",
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 4 hours")).alias("end"),
        )
        j = interval_join(
            clicks, errors, ts_col="ts", key_cols=["user_id"], bucket="4 hours"
        )
        return j.groupBy("iv_id").agg(
            F.count("*").alias("n_clicks"),
            F.round(F.sum("value"), 4).alias("click_value"),
        )

    q["interval_join_errors"] = interval_join_errors

    # ---- training-data ops ----

    def dedup_exact_q(spark, sf_dir):
        """Exact dedup over a corpus with planted exact duplicates."""
        c = _neardup_corpus(spark, sf_dir)
        kept = exact_dedup(c, "text", "doc_id")
        return kept.agg(
            F.count("*").alias("n_kept"), F.sum("doc_id").alias("sum_ids")
        )

    q["dedup_exact"] = dedup_exact_q

    def dedup_minhash_q(spark, sf_dir):
        """MinHash+LSH near-dup pairs, verified with exact Jaccard >= 0.8.
        num_perm=64/bands=16 -> miss probability ~1e-15 for the planted
        j~0.95 pairs, so the exact-Jaccard oracle matches."""
        c = _neardup_corpus(spark, sf_dir)
        return minhash_dedup_pairs(
            c, "text", "doc_id", threshold=0.8, num_perm=64, bands=16, k=3
        ).select("key_a", "key_b", F.round("jaccard", 4).alias("jaccard"))

    q["dedup_minhash"] = dedup_minhash_q

    def dedup_clusters_q(spark, sf_dir):
        """Pairs -> connected components -> per-doc cluster assignment with
        the canonical (min-id) survivor flagged.  Components run the
        alternating large-star/small-star contraction (dedup.py
        connected_components); same verified pair set as dedup_minhash, so
        the DuckDB twin recomputes exact pairs and resolves components with
        a recursive min-reachability CTE."""
        c = _neardup_corpus(spark, sf_dir)
        return dedup_clusters(
            c, "text", "doc_id", threshold=0.8, num_perm=64, bands=16, k=3
        )

    q["dedup_clusters"] = dedup_clusters_q

    def cluster_split_q(spark, sf_dir):
        """Leakage-free train/holdout split (sampling.cluster_safe_split):
        the md5 draw hashes the duplicate-cluster id from dedup_clusters,
        so near-duplicate documents can never straddle the split."""
        from tilekiln_spark.operators.sampling import cluster_safe_split

        c = _neardup_corpus(spark, sf_dir)
        labeled = dedup_clusters(
            c, "text", "doc_id", threshold=0.8, num_perm=64, bands=16, k=3
        )
        return cluster_safe_split(labeled, holdout_fraction=0.25, seed=11)

    q["cluster_split"] = cluster_split_q

    def paragraph_dedup_q(spark, sf_dir):
        """CCNet-style paragraph dedup (dedup.py paragraph_dedup): composite
        docs are built by pairing each document's text with its successor's
        (newline-joined), so every underlying paragraph appears in exactly
        two composites (plus whatever exact duplicates the corpus already
        carries); the operator must keep each repeated paragraph only in its
        min-key composite and reassemble survivors in original order."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        a = docs.select("doc_id", "text").filter(F.col("doc_id") < 60)
        b = docs.select(
            (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("text_b")
        )
        comp = a.join(b, "doc_id").select(
            "doc_id", F.concat("text", F.lit("\n"), "text_b").alias("text")
        )
        return paragraph_dedup(comp, "text", "doc_id").select(
            "doc_id",
            "text_clean",
            F.col("n_kept").cast("long").alias("n_kept"),
            F.col("n_dropped").cast("long").alias("n_dropped"),
        )

    q["paragraph_dedup"] = paragraph_dedup_q

    def duplicate_spans_q(spark, sf_dir):
        """Duplicated-span profile (dedup.py duplicate_spans): per-doc count
        of 8-token sliding windows whose exact content repeats in >=2
        distinct documents — the shuffle-friendly form of Lee et al. 2022
        exact substring dedup (hash windows, never a suffix array)."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return duplicate_spans(docs, "text", "doc_id", window=8, min_docs=2)

    q["duplicate_spans"] = duplicate_spans_q

    def duplicate_span_removal(spark, sf_dir):
        """The REMOVAL transform over the same window profile
        (dedup.remove_duplicate_spans): every token covered by a
        cross-document duplicated 8-gram is dropped and the doc is
        re-joined with single spaces — the Lee et al. exact-substring
        rewrite the dup_ratio signal feeds.  Flagged window starts come
        back as one int array per doc; the rewrite is a pure indexed-
        lambda array expression in BOTH engines."""
        from tilekiln_spark.operators.dedup import remove_duplicate_spans

        return remove_duplicate_spans(
            _docs(spark, sf_dir).select("doc_id", "text"), window=8, min_docs=2
        )

    q["duplicate_span_removal"] = duplicate_span_removal

    def dsir_weights_q(spark, sf_dir):
        """DSIR importance weights (selection.dsir_weights, Xie et al. 2023):
        hashed unigram+bigram bag models, target = the corpus's English
        slice, raw = the whole corpus; per-doc log importance weight."""
        from tilekiln_spark.operators.selection import dsir_weights

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        target = docs.filter(F.col("lang") == "en")
        return dsir_weights(docs, target, "text", "doc_id", buckets=8192)

    q["dsir_weights"] = dsir_weights_q

    def dsir_resample_q(spark, sf_dir):
        """DSIR's resampling half (selection.dsir_resample): Gumbel-max
        top-100 draw proportional to importance weight — deterministic
        md5-seeded Gumbel perturbation on each doc's log-weight, then
        TakeOrderedAndProject (per-partition heaps, no global sort).  The
        DuckDB twin wraps the shared dsir_weights SQL and replays the
        identical md5 -> uniform -> -ln(-ln u) -> round-6 key."""
        from tilekiln_spark.operators.selection import dsir_resample

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        target = docs.filter(F.col("lang") == "en")
        return dsir_resample(docs, target, k=100, buckets=8192)

    q["dsir_resample"] = dsir_resample_q

    def c4_line_filter_q(spark, sf_dir):
        """C4 line-level cleaning (quality.c4_line_filter, Raffel et al.
        2020 §2.2): per-line terminal-punctuation / min-words / banned-word
        gates, then the lorem-ipsum / brace / min-kept-lines page gate.
        The corpus fixture is single-line word soup, so the query first
        rebuilds each doc as 6-token lines — even lines period-terminated
        (pass), odd lines unterminated (fail), every 7th line prefixed with
        the banned word — exercising all three line gates and the page
        gate with real variation."""
        from tilekiln_spark.operators.quality import c4_line_filter

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        toks = F.split(F.trim(F.col("text")), r"\s+")
        nlines = F.ceil(F.size(toks) / F.lit(6.0)).cast("int")
        line = lambda i: F.concat(
            F.when(i % 7 == 0, F.lit("javascript ")).otherwise(F.lit("")),
            F.concat_ws(" ", F.slice(toks, i * 6 + 1, 6)),
            F.when(i % 2 == 0, F.lit(".")).otherwise(F.lit("")),
        )
        lined = docs.select(
            "doc_id",
            F.array_join(
                F.transform(F.sequence(F.lit(0), nlines - 1), line), "\n"
            ).alias("text"),
        )
        return c4_line_filter(lined, "text", "doc_id")

    q["c4_line_filter"] = c4_line_filter_q

    def url_normalize_q(spark, sf_dir):
        """URL canonicalization (functions/web.py): lowercase scheme+host,
        strip userinfo / default ports / fragments / tracking params; parse
        host, registrable domain, path depth.  Pure codegen expressions —
        the map-only stage-1 of a crawl ingest."""
        from tilekiln_spark.functions.web import (
            registrable_domain, url_depth, url_host, url_normalize, url_scheme,
        )
        urls = _messy_urls(_docs(spark, sf_dir))
        return urls.select(
            "doc_id",
            url_normalize("url").alias("url_norm"),
            url_scheme("url").alias("scheme"),
            url_host("url").alias("host"),
            registrable_domain("url").alias("domain"),
            url_depth("url").cast("long").alias("depth"),
        )

    q["url_normalize"] = url_normalize_q

    def cdx_index_q(spark, sf_dir):
        """Common-Crawl CDX index build (functions/web.py surt_key): each
        page's capture history keys by SURT (reversed host labels + ')' +
        lowercased path + sorted surviving query params — the wayback /
        CC-index sort convention), captures carry the 14-digit CDX
        timestamp, and revisit records collapse per (surt, digest): one
        groupBy emits the first capture time and the capture count.  The
        capture fixture is deterministic (1 + doc_id%3 captures, digest
        alternating by capture parity — a revisit every other fetch).
        Map-only until ONE partial-aggregated groupBy on the (surt,
        digest) key; at 10^12 rows the SURT key is the natural
        range-partition sort key (domain-prefix locality), exactly how the
        real CC index shards."""
        from tilekiln_spark.functions.web import surt_key

        docs = _messy_urls(_docs(spark, sf_dir))
        caps = docs.select(
            "doc_id",
            "url",
            "text",
            F.explode(
                F.sequence(F.lit(0), (F.col("doc_id") % 3).cast("int"))
            ).alias("k"),
        )
        ts = F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_interval(
            days=F.col("k"), secs=(F.col("doc_id") * 13) % 86400
        )
        z = caps.select(
            surt_key("url").alias("surt"),
            F.md5(
                F.concat(
                    F.col("text"), F.lit("|"), (F.col("k") % 2).cast("string")
                )
            ).alias("digest"),
            ts.alias("ts"),
        )
        return z.groupBy("surt", "digest").agg(
            F.date_format(F.min("ts"), "yyyyMMddHHmmss").alias("first_ts"),
            F.count("*").alias("n_captures"),
        )

    q["cdx_index"] = cdx_index_q

    def crawl_diff_q(spark, sf_dir):
        """Crawl-to-crawl diff over the CDX capture fixture: split the
        deterministic capture history into crawl A (even capture index)
        and crawl B (odd), take each side's LATEST digest per SURT key
        via ONE (ts, digest) struct-argmax groupBy with conditional
        aggregates (no pivot, no self-join), and classify every key as
        added / removed / changed / unchanged — the snapshot-diff job an
        incremental recrawl pipeline runs before fetch scheduling.  The
        twin replays the identical split and max_by tiebreak."""
        from tilekiln_spark.functions.web import surt_key

        docs = _messy_urls(_docs(spark, sf_dir))
        caps = docs.select(
            "doc_id",
            "url",
            "text",
            F.explode(
                F.sequence(F.lit(0), (F.col("doc_id") % 3).cast("int"))
            ).alias("k"),
        )
        ts = F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_interval(
            days=F.col("k"), secs=(F.col("doc_id") * 13) % 86400
        )
        # fixture reaches ALL four statuses: crawl A = even capture
        # index EXCEPT doc_id%7==0 misses its k=0 capture (-> "added"
        # keys), content rewrites only from the 3rd capture on (k>=2 ->
        # "changed"; 2-capture docs stay "unchanged"; 1-capture docs
        # with only an A capture are "removed")
        z = caps.select(
            surt_key("url").alias("surt"),
            (
                (F.col("k") % 2 == 0)
                & ~((F.col("doc_id") % 7 == 0) & (F.col("k") == 0))
            ).alias("in_a"),
            F.md5(
                F.concat(
                    F.col("text"),
                    F.when(F.col("k") >= 2, F.lit("|v2")).otherwise(F.lit("")),
                )
            ).alias("digest"),
            ts.alias("ts"),
        )
        per = z.groupBy("surt").agg(
            F.max(
                F.when(F.col("in_a"), F.struct(F.col("ts"), F.col("digest")))
            ).alias("a"),
            F.max(
                F.when(~F.col("in_a"), F.struct(F.col("ts"), F.col("digest")))
            ).alias("b"),
        )
        status = (
            F.when(F.col("a").isNull(), F.lit("added"))
            .when(F.col("b").isNull(), F.lit("removed"))
            .when(F.col("a.digest") != F.col("b.digest"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
        )
        return per.select(status.alias("status")).groupBy("status").agg(
            F.count("*").alias("n_keys")
        )

    q["crawl_diff"] = crawl_diff_q

    def url_filter_funnel_q(spark, sf_dir):
        """C4-style URL admission gates (operators/webstats.py): scheme /
        host blocklist / path badwords / depth, first-match reason, funnel
        counts per gate."""
        from tilekiln_spark.operators.webstats import url_filter_flags

        urls = _messy_urls(_docs(spark, sf_dir))
        flagged = url_filter_flags(
            urls, host_blocklist=("host3.example.com",), max_depth=4
        )
        return (
            flagged.groupBy(F.coalesce("drop_reason", F.lit("kept")).alias("gate"))
            .agg(F.count("*").alias("n"))
        )

    q["url_filter_funnel"] = url_filter_funnel_q

    def host_profile_q(spark, sf_dir):
        """Host-level rollup (operators/webstats.py host_profile): page
        count, language spread, text-duplication rate, mean length — the
        CCNet host-quality gate, one partial-agg shuffle on host."""
        from tilekiln_spark.operators.webstats import host_profile

        urls = _messy_urls(_docs(spark, sf_dir))
        return host_profile(urls, "url", "text", "lang").select(
            "host",
            F.col("n_pages").cast("long").alias("n_pages"),
            F.col("n_langs").cast("long").alias("n_langs"),
            F.col("n_distinct_texts").cast("long").alias("n_distinct_texts"),
            "dup_rate",
            "avg_chars",
        )

    q["host_profile"] = host_profile_q

    def latest_capture_q(spark, sf_dir):
        """Snapshot selection (operators/webstats.py latest_capture): three
        raw-URL variants per page (tracking param / fragment / clean) must
        collapse under normalization, and the newest capture per normalized
        URL wins.  The oracle derives the winner INDEPENDENTLY (max doc_id
        per page group), not by mirroring the implementation."""
        from tilekiln_spark.operators.webstats import latest_capture

        i = F.col("doc_id")
        url = F.concat(
            F.lit("https://WWW.Example.com/page"), (i % 50).cast("string"),
            F.when(i % 3 == 0, "?utm_source=feed").when(i % 3 == 1, "#frag").otherwise(""),
        )
        caps = _docs(spark, sf_dir).select(
            "doc_id",
            url.alias("url"),
            (F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_interval(secs=i * 13)).alias("warc_ts"),
        )
        return latest_capture(caps, "url", "warc_ts", tiebreak="doc_id").select(
            "url_norm", "doc_id", "warc_ts"
        )

    q["latest_capture"] = latest_capture_q

    def sample_mix_q(spark, sf_dir):
        """Deterministic corpus mixing (operators/sampling.py): an exact
        per-source quota slice, a per-source fraction mix, and a global
        holdout — every keep decision is md5(seed:key)-derived, so the
        DuckDB twin selects the byte-identical row sets.  The two fraction
        parts are map-only (no shuffle); the quota part is a literal
        row_number filter Catalyst executes as WindowGroupLimit (partial
        per-partition top-n before the stratum exchange)."""
        d = _docs(spark, sf_dir).select("doc_id", "source")
        parts = [
            stratified_quota_sample(d, "source", 4, "doc_id", seed=11)
            .withColumn("part", F.lit("quota")),
            sample_by(d, "source", {"src13": 1.0, "src8": 0.5}, "doc_id",
                      default=0.08, seed=11).withColumn("part", F.lit("mix")),
            sample_fraction(d, 0.25, "doc_id", seed=11)
            .withColumn("part", F.lit("holdout")),
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select("part", "doc_id", "source")

    q["sample_mix"] = sample_mix_q

    def dedup_simhash_q(spark, sf_dir):
        """SimHash exact-dedup pipeline: hamming-0 LSH candidates verified by
        normalized-text equality (identical text -> identical simhash ->
        collides in every band, so recall of true dups is exactly 1; the
        verify step drops sign-coincidence collisions, which exist in any
        64-bit sketch)."""
        d = _docs(spark, sf_dir).select("doc_id", "text")
        exact = d.filter(F.col("doc_id") < 30).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "text"
        )
        c = d.unionByName(exact)
        cands = simhash_pairs(c, "text", "doc_id", max_hamming=0)
        norm = F.md5(F.lower(F.trim(F.col("text"))))
        t = c.select(F.col("doc_id"), norm.alias("h"))
        return (
            cands.join(t.withColumnRenamed("doc_id", "key_a").withColumnRenamed("h", "ha"), "key_a")
            .join(t.withColumnRenamed("doc_id", "key_b").withColumnRenamed("h", "hb"), "key_b")
            .filter(F.col("ha") == F.col("hb"))
            .select("key_a", "key_b")
        )

    q["dedup_simhash"] = dedup_simhash_q

    def ngram_jaccard_q(spark, sf_dir):
        """Exact n-gram Jaccard on specific planted pairs (verify stage alone)."""
        c = _neardup_corpus(spark, sf_dir)
        a = c.filter((F.col("doc_id") >= 100000) & (F.col("doc_id") < 200000)).select(
            (F.col("doc_id") - 100000).alias("doc_id"), F.col("text").alias("tb")
        )
        base = c.filter(F.col("doc_id") < 60).select("doc_id", F.col("text").alias("ta"))
        return base.join(a, "doc_id").select(
            "doc_id", F.round(ngram_jaccard(F.col("ta"), F.col("tb"), 3), 4).alias("jaccard")
        )

    q["ngram_jaccard"] = ngram_jaccard_q

    def text_quality(spark, sf_dir):
        """Quality features per doc, averaged per lang."""
        d = _docs(spark, sf_dir)
        n_chars, n_tokens, punct, stop, mean_tok = quality_features(F.col("text"))
        per_doc = d.select(
            "lang", n_tokens.alias("n_tokens"), punct.alias("punct"), stop.alias("stop")
        )
        return per_doc.groupBy("lang").agg(
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("punct"), 6).alias("avg_punct_ratio"),
            F.round(F.avg("stop"), 6).alias("avg_stop_ratio"),
        )

    q["text_quality"] = text_quality

    def text_pii_repetition(spark, sf_dir):
        """MassiveText/Gopher-style repetition signals + PII scrubbing
        (functions/text.py): duplicate-line / duplicate-2-gram / bullet /
        ellipsis fractions, per-category PII counts, and md5 of the
        REDACTED text (so redaction is byte-checked cross-engine).  The
        corpus plants PII + repeated lines deterministically from doc_id;
        the DuckDB twin builds the identical planted rows."""
        from tilekiln_spark.functions.text import (
            bullet_line_fraction,
            dup_line_fraction,
            dup_ngram_fraction,
            ellipsis_line_fraction,
            pii_counts,
            redact_pii,
        )

        d = _docs(spark, sf_dir).select("doc_id", "text")
        nl = F.lit("\n")
        planted = d.filter(F.col("doc_id") < 40).select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.concat(
                F.lit("contact u"), F.col("doc_id").cast("string"),
                F.lit("@ex.com for info"), nl,
                F.lit("same line"), nl, F.lit("same line"), nl,
                F.lit("- bullet item"), nl,
                F.lit("ip 10.0.0."), (F.col("doc_id") % 250).cast("string"),
                F.lit(" call 555-123-4567 soon..."),
            ).alias("text"),
        )
        c = d.unionByName(planted)
        cnts = pii_counts(F.col("text"))
        return c.select(
            "doc_id",
            F.round(dup_line_fraction("text"), 4).alias("dup_line_frac"),
            F.round(dup_ngram_fraction("text", 2), 4).alias("dup_2gram_frac"),
            F.round(bullet_line_fraction("text"), 4).alias("bullet_frac"),
            F.round(ellipsis_line_fraction("text"), 4).alias("ellipsis_frac"),
            cnts["email"].alias("n_email"),
            cnts["ipv4"].alias("n_ipv4"),
            cnts["phone"].alias("n_phone"),
            F.md5(F.encode(redact_pii("text"), "utf-8")).alias("redacted_md5"),
        )

    q["text_pii_repetition"] = text_pii_repetition

    def decontaminate_overlap(spark, sf_dir):
        """Benchmark decontamination (operators/decontam.py): docs sharing
        an 8-token n-gram with the benchmark set (every 7th doc's text
        plays the eval set) are flagged with their distinct-hit count.
        Broadcast semi-join on the small benchmark shingle-hash set; the
        DuckDB twin joins the identical shingle STRINGS."""
        from tilekiln_spark.operators.decontam import contamination_hits

        d = _docs(spark, sf_dir).select("doc_id", "text")
        bench = d.filter(F.col("doc_id") % 7 == 0).select("text")
        return contamination_hits(d, bench, n=8)

    q["decontaminate_overlap"] = decontaminate_overlap

    def pack_sequences_q(spark, sf_dir):
        """GPT-style concat-and-chunk sequence packing (operators/packing.py):
        global prefix sum of doc lengths in key order via the two-pass
        range-partition + per-partition-cumsum + broadcast-offsets pattern
        (never a single-reducer global window); each doc gets the sequence
        ids it spans at seq_len=4096.  DuckDB twin is the plain windowed
        cumulative sum."""
        from tilekiln_spark.operators.packing import pack_sequences

        d = _docs(spark, sf_dir).select("doc_id", "n_chars")
        return pack_sequences(d, 4096, "n_chars", "doc_id")

    q["pack_sequences"] = pack_sequences_q

    def vocab_topk_q(spark, sf_dir):
        """Vocabulary counting (functions/text.py vocab_topk): the counting
        pass of tokenizer training.  One partial-aggregated groupBy on the
        token, then orderBy().limit() = TakeOrderedAndProject (per-partition
        local top-k, k*P rows merged on the driver — plan-asserted in
        tests, never a global single-reducer sort)."""
        from tilekiln_spark.functions.text import vocab_topk

        return vocab_topk(_docs(spark, sf_dir), k=100)

    q["vocab_topk"] = vocab_topk_q

    def lm_score_q(spark, sf_dir):
        """Pruned bigram LM + stupid-backoff document scoring (functions/
        lm.py — Brants et al. 2007, the CCNet-style quality filter's LM).
        Training is two partial-aggregated groupBys ending in
        TakeOrderedAndProject (top-30 unigrams / top-120 bigrams, ties
        broken by token so the cut is total); the pruned tables are
        broadcast into the scoring join, so the token stream never
        shuffles — the only exchange is the per-doc rollup, collapsed
        map-side to one row per document."""
        from tilekiln_spark.functions.lm import lm_doc_scores, train_bigram_lm

        d = _docs(spark, sf_dir)
        lm = train_bigram_lm(d, k_vocab=30, m_bigrams=120)
        return lm_doc_scores(d, lm)

    q["lm_score"] = lm_score_q

    def ccnet_buckets_q(spark, sf_dir):
        """CCNet per-language head/middle/tail corpus split (functions/
        lm.py ccnet_buckets — Wenzek et al. 2020's perplexity terciles over
        this engine's stupid-backoff avg_logprob).  Exact rank mode: the
        tercile rule is pure integer arithmetic (3*rn <= n+2), so both
        engines agree at every boundary; ties inside a language break by
        doc_id.  Physical shape: the LM score is the broadcast-model join
        from lm_score, then ONE hash exchange on lang feeds the window.
        The broadcast-cutoff mode (map-only at 100 TB, approx_percentile
        thresholds) is pytest-covered; recall-not-correctness drift keeps
        it out of the hash oracle, same contract as ann_ivf."""
        from tilekiln_spark.functions.lm import ccnet_buckets, train_bigram_lm

        d = _docs(spark, sf_dir)
        lm = train_bigram_lm(d, k_vocab=30, m_bigrams=120)
        return ccnet_buckets(d, lm, lang_col="lang")

    q["ccnet_buckets"] = ccnet_buckets_q

    def bpe_train_q(spark, sf_dir):
        """BPE merge training (functions/bpe.py — Sennrich et al. 2016,
        word-frequency formulation).  The word table is one TakeOrdered
        counting pass; each of the 8 merge rounds is a map + a partial-
        aggregated pair groupBy + a 1-ROW TakeOrdered — the only driver
        data is one (x, y) pair per round.  The DuckDB twin replays the
        identical rounds as chained materialized CTEs; left-to-right
        non-overlapping replace semantics (the BPE greedy rule) agree
        between Java String.replace and DuckDB replace by construction."""
        from tilekiln_spark.functions.bpe import bpe_train

        merges = bpe_train(_docs(spark, sf_dir), num_merges=8, v_words=500)
        return spark.createDataFrame(
            [(r, x, y, n) for r, x, y, n in merges],
            "step int, x string, y string, n long",
        )

    q["bpe_train"] = bpe_train_q

    def bpe_encode_q(spark, sf_dir):
        """Encode every document with the learned merge list: a chain of 8
        static replaces on the spaced-symbol doc string — pure codegen
        expressions, no UDF, no shuffle beyond the training rounds."""
        from tilekiln_spark.functions.bpe import bpe_token_count, bpe_train

        d = _docs(spark, sf_dir)
        merges = bpe_train(d, num_merges=8, v_words=500)
        return d.select(
            "doc_id",
            bpe_token_count(F.col("text"), merges).cast("int").alias("n_bpe"),
        )

    q["bpe_encode"] = bpe_encode_q

    def pack_token_ids(spark, sf_dir):
        """text -> token ids -> MATERIALIZED training sequences, the full
        tokenizer-apply + packing output path: BPE merges train on the
        corpus, every doc encodes to vocabulary ids (functions/bpe.
        bpe_token_ids — data-derived sorted vocab, literal-map lookup,
        map-only), and pack_token_sequences emits each 256-id sequence
        assembled from per-doc slices (one seq-keyed exchange of doc-span
        rows; never a per-token explode).  The DuckDB twin replays merge
        training, the encode chain, the vocab ranking, the prefix sum and
        the chunking — the complete artifact is cross-engine checked."""
        from tilekiln_spark.functions.bpe import bpe_token_ids, bpe_train
        from tilekiln_spark.operators.packing import pack_token_sequences

        d = _docs(spark, sf_dir)
        merges = bpe_train(d, num_merges=8, v_words=500)
        ids = bpe_token_ids(d, merges)
        return pack_token_sequences(ids, 256)

    q["pack_token_ids"] = pack_token_ids

    def quality_filter_funnel(spark, sf_dir):
        """Gopher-style doc admission gates (operators/quality.py — Rae et
        al. 2021 Appendix A): one map-only pass annotates keep +
        first-match drop_reason (all pure codegen expressions over the
        shared tokenizer — no UDF, no shuffle before the funnel rollup).
        Thresholds here are tuned so several gates fire on the fixture
        corpus; the DuckDB twin replays the identical CASE chain."""
        from tilekiln_spark.operators.quality import doc_quality_flags

        flagged = doc_quality_flags(
            _docs(spark, sf_dir),
            min_words=20,
            max_words=80,
            min_mean_word_len=4.0,
            max_dup_ngram_frac=0.08,
        )
        return flagged.groupBy(
            F.coalesce("drop_reason", F.lit("kept")).alias("gate")
        ).agg(F.count("*").alias("n_docs"))

    q["quality_filter_funnel"] = quality_filter_funnel

    def corpus_pipeline_quality(spark, sf_dir):
        """The composed pipeline with the Gopher gates as stage 0 (the
        production order: quality is map-only, so gating before the dedup
        shuffle shrinks every downstream stage).  Same funnel row as
        corpus_pipeline plus n_admitted; the DuckDB twin inserts the gate
        CTE between corpus and exact-dedup in the same chained SQL."""
        from tilekiln_spark.operators.pipeline import training_corpus_pipeline

        c = _neardup_corpus(spark, sf_dir)
        bench = _docs(spark, sf_dir).filter(F.col("doc_id") % 97 == 0).select("text")
        return training_corpus_pipeline(
            c, bench,
            quality={"min_words": 20, "max_words": 80,
                     "min_mean_word_len": 4.0, "max_dup_ngram_frac": 0.08},
        )

    q["corpus_pipeline_quality"] = corpus_pipeline_quality

    def shard_rollup(spark, sf_dir):
        """Deterministic output sharding (operators/sampling.shard_assign):
        the md5 draw assigns each doc a shard (engine/layout-independent)
        and a within-shard global-shuffle sort key; the rollup checks the
        split + order cross-engine.  Map-only assignment; one exchange on
        the shard key in the intended writer."""
        from tilekiln_spark.operators.sampling import shard_assign

        d = shard_assign(_docs(spark, sf_dir), 16)
        return d.groupBy("shard").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("sort_key").alias("first_key"),
        )

    q["shard_rollup"] = shard_rollup

    def corpus_pipeline_ccnet(spark, sf_dir):
        """The full CCNet-shaped funnel: Gopher gates -> pruned-bigram-LM
        perplexity filter (fixed logprob threshold, trained on the admitted
        docs themselves) -> exact dedup -> clusters -> decontamination ->
        sample -> pack.  The DuckDB twin splices the shared gate SQL AND
        the shared LM SQL into the same chained pipeline oracle."""
        from tilekiln_spark.operators.pipeline import training_corpus_pipeline

        c = _neardup_corpus(spark, sf_dir)
        bench = _docs(spark, sf_dir).filter(F.col("doc_id") % 97 == 0).select("text")
        return training_corpus_pipeline(
            c, bench,
            quality={"min_words": 20, "max_words": 80,
                     "min_mean_word_len": 4.0, "max_dup_ngram_frac": 0.08},
            lm_min_logprob=-4.15, lm_k_vocab=30, lm_m_bigrams=120,
        )

    q["corpus_pipeline_ccnet"] = corpus_pipeline_ccnet

    def corpus_pipeline_buckets(spark, sf_dir):
        """The paper-faithful CCNet funnel: Gopher gates -> per-language
        head/middle/tail perplexity terciles with TAIL DROPPED (CCNet's own
        selection, vs the fixed-threshold variant above; language derived
        by lang_id on the gated docs) -> exact dedup -> clusters ->
        decontamination -> sample -> pack.  The DuckDB twin splices the
        shared LM SQL + lang_id SQL + the integer tercile rule into the
        same chained pipeline oracle."""
        from tilekiln_spark.operators.pipeline import training_corpus_pipeline

        c = _neardup_corpus(spark, sf_dir)
        bench = _docs(spark, sf_dir).filter(F.col("doc_id") % 97 == 0).select("text")
        return training_corpus_pipeline(
            c, bench,
            quality={"min_words": 20, "max_words": 80,
                     "min_mean_word_len": 4.0, "max_dup_ngram_frac": 0.08},
            lm_buckets=("head", "middle"), lm_k_vocab=30, lm_m_bigrams=120,
        )

    q["corpus_pipeline_buckets"] = corpus_pipeline_buckets

    def lm3_score_q(spark, sf_dir):
        """Trigram chained stupid backoff (functions/lm.py TrigramLM): one
        more pruned counting pass on top of the bigram LM, five broadcast
        lookups at score time, same docs-not-tokens shuffle."""
        from tilekiln_spark.functions.lm import lm3_doc_scores, train_trigram_lm

        d = _docs(spark, sf_dir)
        lm = train_trigram_lm(d, k_vocab=30, m_bigrams=120, p_trigrams=200)
        return lm3_doc_scores(d, lm)

    q["lm3_score"] = lm3_score_q

    def pagerank_links(spark, sf_dir):
        """Damped PageRank with dangling-mass redistribution (operators/
        graph.py) over a deterministic synthetic link graph: doc d links
        to (7d + {1,2,3}) mod N unless d % 5 == 0 (those are dangling);
        self-loops dropped.  8 fixed power iterations; per iteration ONE
        src-keyed join + partial-aggregated groupBy(dst) + a 1-row
        broadcast dangling aggregate — the canonical distributed shape.
        Output is the N-scaled rank rounded to 6 (absorbs cross-engine
        float-sum order)."""
        from tilekiln_spark.operators.graph import pagerank

        d = _docs(spark, sf_dir).select("doc_id")
        n = d.count()
        e = (
            d.filter((F.col("doc_id") % 5) != 0)
            .select(
                F.col("doc_id").alias("src"),
                F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
            )
            .select("src", ((F.col("src") * 7 + F.col("j")) % n).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        ranks = pagerank(d.select(F.col("doc_id").alias("node")), e, iterations=8)
        return ranks.select(
            F.col("node").alias("doc_id"),
            F.round(F.col("rank") * float(n), 6).alias("norm_rank"),
        )

    q["pagerank_links"] = pagerank_links

    def anchor_texts(spark, sf_dir):
        """Inlink anchor-text rollup (operators/webstats.py
        anchor_text_rollup) over the same deterministic link graph
        pagerank_links uses, with the j-th whitespace token of the
        SOURCE page as the link's anchor (the shared split-parity
        tokenizer): per target, inlink count, distinct-anchor count, and
        the most common anchor with a (count desc, anchor asc) tiebreak
        via struct-min argmax.  Two compact-key shuffles; anchors never
        travel unaggregated past the first exchange.  The DuckDB twin
        replays the link generator and picks the winner with the same
        ordering."""
        from tilekiln_spark.operators.webstats import anchor_text_rollup

        d = _docs(spark, sf_dir).select("doc_id", "text")
        n = d.count()
        toks = F.split(F.trim(F.col("text")), r"\s+")
        e = (
            d.filter((F.col("doc_id") % 5) != 0)
            .select(
                F.col("doc_id").alias("src"),
                toks.alias("tk"),
                F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
            )
            .select(
                "src",
                ((F.col("src") * 7 + F.col("j")) % n).alias("dst"),
                F.lower(F.element_at(F.col("tk"), F.col("j"))).alias("anchor"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        return anchor_text_rollup(e).orderBy("dst")

    q["anchor_texts"] = anchor_texts

    def host_links(spark, sf_dir):
        """Host-to-host linkage matrix (operators/webstats.py
        host_link_matrix) over the shared deterministic link graph, with
        each endpoint's host derived by the messy-URL fixture's host
        rule (lowercased): one partial-agg groupBy on the host pair with
        an exact distinct-source count; internal flags site-internal
        cells.  The DuckDB twin replays the generator and rule."""
        from tilekiln_spark.operators.webstats import host_link_matrix

        d = _docs(spark, sf_dir).select("doc_id")
        n = d.count()

        def host_of(c):
            return F.lower(
                F.concat(
                    F.lit("Host"),
                    (c % 7).cast("string"),
                    F.when(c % 5 == 0, ".News").otherwise(""),
                    F.lit(".Example.com"),
                )
            )

        e = (
            d.filter((F.col("doc_id") % 5) != 0)
            .select(
                F.col("doc_id").alias("src"),
                F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
            )
            .select("src", ((F.col("src") * 7 + F.col("j")) % n).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .select(
                "src",
                host_of(F.col("src")).alias("src_host"),
                host_of(F.col("dst")).alias("dst_host"),
            )
        )
        return host_link_matrix(e).orderBy("src_host", "dst_host")

    q["host_links"] = host_links

    def host_diversity_q(spark, sf_dir):
        """Per-host language-diversity rollup (operators/webstats.py
        host_diversity): Simpson concentration from EXACT integer sums
        (order-independent, no fold), Shannon entropy as a sequential
        fold over the lang-sorted struct array so both engines add
        identical terms in identical order.  One (host, lang) partial
        agg + one groupBy(host).  Hosts from the messy-URL rule."""
        from tilekiln_spark.operators.webstats import host_diversity

        d = _docs(spark, sf_dir).select("doc_id", "lang")
        i = F.col("doc_id")
        host = F.lower(
            F.concat(
                F.lit("Host"),
                (i % 7).cast("string"),
                F.when(i % 5 == 0, ".News").otherwise(""),
                F.lit(".Example.com"),
            )
        )
        out = host_diversity(d.withColumn("host", host))
        return out.select(
            "host", "n_pages", "n_cats",
            (F.round("simpson", 6) + F.lit(0.0)).alias("simpson"),
            (F.round("shannon", 6) + F.lit(0.0)).alias("shannon"),
        ).orderBy("host")

    q["host_diversity"] = host_diversity_q

    def host_gini(spark, sf_dir):
        """Gini concentration of pages over hosts (operators/webstats.py
        concentration_gini): exact integer rank formula over the HOST
        dimension (one partial-agg rollup collapses pages first, so the
        global sort touches hosts, not pages); ties in the count rank
        provably commute in Σr·c, so the statistic is engine-independent.
        The DuckDB twin replays the identical ranks and scalar."""
        from tilekiln_spark.operators.webstats import concentration_gini

        d = _docs(spark, sf_dir).select("doc_id")
        i = F.col("doc_id")
        host = F.lower(
            F.concat(
                F.lit("Host"),
                (i % 7).cast("string"),
                F.when(i % 5 == 0, ".News").otherwise(""),
                F.lit(".Example.com"),
            )
        )
        per = d.select(host.alias("host")).groupBy("host").agg(
            F.count("*").alias("n")
        )
        out = concentration_gini(per, "host")
        return out.select(
            "n_keys", "total",
            (F.round("gini", 6) + F.lit(0.0)).alias("gini"),
        )

    q["host_gini"] = host_gini

    def lang_spatial_entropy(spark, sf_dir):
        """Per-language spatial entropy (the geographic-spread audit: is
        a language concentrated in one region or spread worldwide?):
        docs rasterize to z2 cells PER LANG (one partial-agg groupBy
        with lang in the key), then the same determinism split as
        host_diversity — Simpson concentration from exact integer sums,
        Shannon entropy as a fold over the cell-sorted struct array.
        Reuses operators/webstats.py host_diversity verbatim with the
        (lang, cell) roles swapped: the operator is already generic
        over (key, category)."""
        from tilekiln_spark.operators.webstats import host_diversity

        d = _mx_my(_docs(spark, sf_dir))
        cell = (
            F.col("tx").cast("long") * 1000000 + F.col("ty").cast("long")
        )
        from tilekiln_spark.functions.tileids import tile_x, tile_y

        z = F.lit(2)
        binned = d.select(
            "lang",
            tile_x(z, F.col("mx")).alias("tx"),
            tile_y(z, F.col("my")).alias("ty"),
        ).select("lang", cell.alias("cell"))
        out = host_diversity(binned, key_col="lang", cat_col="cell")
        return out.select(
            F.col("lang"),
            F.col("n_pages").alias("n_docs"),
            F.col("n_cats").alias("n_cells"),
            (F.round("simpson", 6) + F.lit(0.0)).alias("simpson"),
            (F.round("shannon", 6) + F.lit(0.0)).alias("shannon"),
        ).orderBy("lang")

    q["lang_spatial_entropy"] = lang_spatial_entropy

    def bm25_search(spark, sf_dir):
        """BM25 top-k lexical retrieval (operators/retrieval.py, Lucene IDF
        form): the per-doc token array is filtered to the query terms
        BEFORE the explode (map-side, docs sharing no term emit zero
        rows), one (doc, term) partial agg, broadcast df join, and a
        TakeOrdered cut on the ROUNDED score with id tie-break so the
        k-boundary is engine-independent."""
        from tilekiln_spark.operators.retrieval import bm25_topk

        return bm25_topk(
            _docs(spark, sf_dir), ["table", "window", "spark"], k=25
        )

    q["bm25_search"] = bm25_search

    def hybrid_search(spark, sf_dir):
        """Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009)
        of the BM25 top-50 and the cosine top-50 around a probe embedding
        (vec_id 0, the corpus's own vector — vec_id aligns with doc_id).
        Both inputs are bounded ranked lists, so the fusion runs on ~100
        rows; ranks are integers and each doc appears at most once per
        list, so the fused score is engine-exact."""
        from pyspark.sql import Window

        from tilekiln_spark.operators.retrieval import bm25_topk, rrf_fuse
        from tilekiln_spark.operators.similarity import brute_force_topk

        lex = bm25_topk(_docs(spark, sf_dir), ["table", "window", "spark"], k=50)
        lexr = lex.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            ),
        ).select("doc_id", "rank")
        emb = _embeddings(spark, sf_dir)
        probe = emb.filter(F.col("vec_id") == 0).select(
            F.lit(0).alias("probe_id"), "embedding"
        )
        vec = brute_force_topk(
            emb.filter(F.col("vec_id") >= 1), probe, k=50
        ).select(F.col("vec_id").alias("doc_id"), "rank")
        fused = rrf_fuse([lexr, vec])
        return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(15)

    q["hybrid_search"] = hybrid_search

    def tfidf_keywords_q(spark, sf_dir):
        """Per-doc characteristic terms by smoothed tf-idf (operators/
        retrieval.tfidf_keywords): one explode + (doc, term) partial agg,
        term-keyed df join (NO broadcast hint — the df table is the full
        vocabulary, corpus-sized at web scale), WindowGroupLimit top-3 cut
        on the rounded score with term tie-break."""
        from tilekiln_spark.operators.retrieval import tfidf_keywords

        return tfidf_keywords(_docs(spark, sf_dir), n_keywords=3)

    q["tfidf_keywords"] = tfidf_keywords_q

    def temperature_mix_q(spark, sf_dir):
        """Temperature source mixing (sampling.temperature_mix, the
        multilingual alpha-sampling rule at alpha=0.5): per-source keep
        fractions derived from sqrt-weighted counts (IEEE sqrt is
        correctly rounded, so the DuckDB twin reproduces them exactly),
        membership by the shared md5 draw.  Output = per-source kept
        counts."""
        from tilekiln_spark.operators.sampling import temperature_mix

        d = _docs(spark, sf_dir).select("doc_id", "source")
        out = temperature_mix(d, "source", alpha=0.5, target_fraction=0.5)
        return out.groupBy("source").agg(F.count("*").alias("n_kept"))

    q["temperature_mix"] = temperature_mix_q

    def corpus_pipeline(spark, sf_dir):
        """The composed pretraining-data pipeline (operators/pipeline.py):
        exact dedup -> near-dup clusters (keep canonical) -> benchmark
        decontamination -> deterministic 50% sample -> sequence packing,
        reported as one corpus-funnel stats row.  Every stage is an
        individually oracle-checked operator; this query checks their
        COMPOSITION against a DuckDB twin that chains the same CTEs."""
        from tilekiln_spark.operators.pipeline import training_corpus_pipeline

        c = _neardup_corpus(spark, sf_dir)
        bench = _docs(spark, sf_dir).filter(F.col("doc_id") % 97 == 0).select("text")
        return training_corpus_pipeline(c, bench)

    q["corpus_pipeline"] = corpus_pipeline

    def corpus_pipeline_probe(spark, sf_dir):
        """The composed pipeline with the LEARNED quality filter spliced in
        (probe={...}): after decontamination, the logistic linear probe —
        trained on the embeddings table, y = (label == 0), the exact
        contract the standalone linear_probe oracle verifies — scores every
        doc by id and those below min_prob drop; docs without an embedding
        row (the planted dup ids) pass.  The DuckDB twin splices the SAME
        probe-training CTE chain (_probe_cte_sql) into the pipeline chain,
        so the full gates->dedup->clusters->decontam->PROBE->sample->pack
        funnel is one cross-engine-checked composition."""
        from tilekiln_spark.operators.pipeline import training_corpus_pipeline

        c = _neardup_corpus(spark, sf_dir)
        bench = _docs(spark, sf_dir).filter(F.col("doc_id") % 97 == 0).select("text")
        emb = _embeddings(spark, sf_dir).select(
            F.col("vec_id").alias("doc_id"),
            "embedding",
            (F.col("label") == 0).cast("double").alias("y"),
        )
        return training_corpus_pipeline(
            c, bench,
            probe={"embeddings": emb, "label_col": "y", "min_prob": 0.282},
        )

    q["corpus_pipeline_probe"] = corpus_pipeline_probe

    def lang_id_q(spark, sf_dir):
        """Marker-based language ID vs the stored lang tag."""
        d = _docs(spark, sf_dir)
        return d.select(lang_id(F.col("text")).alias("detected"), "lang").groupBy(
            "detected", "lang"
        ).agg(F.count("*").alias("n_docs"))

    q["lang_id"] = lang_id_q

    def token_counts(spark, sf_dir):
        d = _docs(spark, sf_dir)
        return d.groupBy("source").agg(
            F.sum(token_count(F.col("text"))).alias("total_tokens"),
            F.max(token_count(F.col("text"))).alias("max_tokens"),
        )

    q["token_counts"] = token_counts

    def fingerprints(spark, sf_dir):
        d = _docs(spark, sf_dir)
        return d.select("doc_id", fingerprint_md5(F.col("text")).alias("fp"))

    q["fingerprints"] = fingerprints

    def similarity_bruteforce(spark, sf_dir):
        """Exact top-10 cosine neighbors for 5 probe vectors."""
        emb = _embeddings(spark, sf_dir)
        probes = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        corpus = emb.filter(F.col("vec_id") >= 5)
        topk = brute_force_topk(corpus, probes, k=10)
        return topk.select("probe_id", "vec_id", "rank")

    q["similarity_bruteforce"] = similarity_bruteforce

    def ann_matryoshka_topk(spark, sf_dir):
        """Matryoshka truncation retrieval (operators/similarity.py
        matryoshka_truncate): exact top-10 cosine over the FIRST-32-DIM
        prefix of corpus and probes — the MRL low-dim search tier that
        halves shuffle width ahead of int8 quantization.  Twin slices
        and ranks with list_cosine_similarity on the same prefix."""
        from tilekiln_spark.operators.similarity import matryoshka_truncate

        emb = matryoshka_truncate(_embeddings(spark, sf_dir), dims=32)
        probes = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        corpus = emb.filter(F.col("vec_id") >= 5)
        topk = brute_force_topk(corpus, probes, k=10)
        return topk.select("probe_id", "vec_id", "rank")

    q["ann_matryoshka_topk"] = ann_matryoshka_topk

    # ---- formerly rows-only; now value-checked end-to-end ----

    def mvt_encode_z4(spark, sf_dir):
        """ENGINE half of mvt_render_z4: the MVT aggregate producing the
        blobs, without the pure-Python verifier decode — bench.py times this
        separately so encoder-perf deltas aren't drowned by verifier cost."""
        d = _mx_my(_docs(spark, sf_dir))
        z = F.lit(4)
        feats = (
            d.withColumn("zoom", z.cast("int"))
            .withColumn("x", tile_x(z, F.col("mx")))
            .withColumn("y", tile_y(z, F.col("my")))
        )
        from tilekiln_spark.operators.mvt import mvt_geom_cols

        px, py, ok = mvt_geom_cols(F.col("zoom"), F.col("x"), F.col("y"), F.col("mx"), F.col("my"), 4096, 0)
        feats = feats.withColumn("px", px).withColumn("py", py).filter(ok)
        return mvt_layer_agg(
            feats.select("zoom", "x", "y", "px", "py", "lang"), "docs", 4096, ["lang"]
        )

    def mvt_render_z4(spark, sf_dir):
        """B3/B4: full MVT aggregate over document points at z4, closed
        end-to-end: the emitted protobuf blobs are DECODED back into per-tile
        sums the DuckDB twin reproduces from raw coordinate math."""
        from tilekiln_spark.operators.mvt import decode_tile_stats

        return decode_tile_stats(mvt_encode_z4(spark, sf_dir))

    q["mvt_render_z4"] = mvt_render_z4
    q["mvt_render_z4"].encode_only = mvt_encode_z4

    def mvt_poly_encode(spark, sf_dir):
        """ENGINE half of mvt_poly_render: clip + command-stream encode of
        the 6x6 polygon grid at z3, without the per-feature verifier decode."""
        from tilekiln_spark.operators.tiling import render_zoom

        cfg = Config(
            """
metadata: {id: vpoly}
vector_layers:
  gridpoly:
    fields: {water: Type}
    sql:
    - {minzoom: 0, maxzoom: 8, extent: 2048, buffer: 8, file: wp.b}
""",
            {"wp.b": "water_poly"},
        )
        polys = (
            _grid_polys(spark)
            .withColumn("layer", F.lit("water"))
            .withColumn("name", F.concat(F.lit("poly"), F.col("polygon_id")))
        )
        geo = spark.createDataFrame([], "url string, lang string, mx double, my double")
        return render_zoom(cfg, 3, {"pages_geo": geo, "layer_polygons": polys})

    def mvt_poly_render(spark, sf_dir):
        """B3/B4 for AREAL geometry: the deterministic 6x6 polygon grid
        renders as a POLYGON layer at z3 (clip to buffered tile box + CW
        command streams); blobs are decoded back to per-feature vertex
        counts and pixel extrema that DuckDB re-derives from rectangle
        intersection math."""
        import pandas as pd

        from tilekiln_spark.operators.mvt import decode_geom, decode_tile

        tiles = mvt_poly_encode(spark, sf_dir)

        out_schema = (
            "zoom int, x int, y int, osm_id long, n_vertices int, "
            "min_px long, max_px long, min_py long, max_py long"
        )

        def per_feature(batches):
            for pdf in batches:
                rows = []
                for z, x, y, blob in zip(pdf["zoom"], pdf["x"], pdf["y"], pdf["gridpoly_data"]):
                    (layer,) = decode_tile(bytes(blob))
                    ki = layer["keys"].index("osm_id")
                    for f in layer["features"]:
                        tags = f["tags"]
                        vi = next(
                            tags[i + 1] for i in range(0, len(tags), 2) if tags[i] == ki
                        )
                        osm_id = int(layer["values"][vi])
                        (ring,) = decode_geom(f)
                        vs = ring[:-1]  # drop the closing repeat
                        xs = [p[0] for p in vs]
                        ys = [p[1] for p in vs]
                        rows.append(
                            (int(z), int(x), int(y), osm_id, len(vs),
                             min(xs), max(xs), min(ys), max(ys))
                        )
                yield pd.DataFrame(
                    rows,
                    columns=["zoom", "x", "y", "osm_id", "n_vertices",
                             "min_px", "max_px", "min_py", "max_py"],
                )

        return tiles.mapInPandas(per_feature, out_schema)

    q["mvt_poly_render"] = mvt_poly_render

    def mvt_simplify_render(spark, sf_dir):
        """The compiled ST_Simplify path, hash-checked EXACTLY: the same
        6x6 polygon grid as mvt_poly_render, but every rectangle edge
        (bottom/right/top) densified with 3 exactly-collinear midpoints
        (horizontal/vertical edges: collinearity is exact in doubles), and
        the layer rendered through a compiled template whose geometry is
        ST_AsMVTGeom(ST_Simplify(way, 1.0), ...).  The thinning kernel
        (operators/simplify.py) must remove every midpoint — ring
        endpoints are pinned but both are true corners by construction —
        so the decoded per-feature stats equal mvt_poly_render's: the
        oracle is that query's twin VERBATIM.  Without the kernel the
        collinear midpoints survive the clip and the vertex counts (hence
        the hash) diverge."""
        import pandas as pd

        from tilekiln_spark.operators.mvt import decode_geom, decode_tile
        from tilekiln_spark.operators.tiling import render_zoom

        g = _grid_polys(spark)
        mx = (F.col("xmin") + F.col("xmax")) / 2
        my = (F.col("ymin") + F.col("ymax")) / 2
        qx1 = F.col("xmin") + (F.col("xmax") - F.col("xmin")) / 4
        qx3 = F.col("xmin") + 3 * (F.col("xmax") - F.col("xmin")) / 4
        qy1 = F.col("ymin") + (F.col("ymax") - F.col("ymin")) / 4
        qy3 = F.col("ymin") + 3 * (F.col("ymax") - F.col("ymin")) / 4
        dense = g.select(
            "polygon_id", "xmin", "ymin", "xmax", "ymax",
            F.col("polygon_id").cast("long").alias("osm_id"),
            # c0, 3 bottom mids, c1, 3 right mids, c2, 3 top mids, c3
            F.array(
                F.col("xmin"), qx1, mx, qx3,
                F.col("xmax"), F.col("xmax"), F.col("xmax"), F.col("xmax"),
                F.col("xmax"), qx3, mx, qx1,
                F.col("xmin"),
            ).alias("ring_xs"),
            F.array(
                F.col("ymin"), F.col("ymin"), F.col("ymin"), F.col("ymin"),
                F.col("ymin"), qy1, my, qy3,
                F.col("ymax"), F.col("ymax"), F.col("ymax"), F.col("ymax"),
                F.col("ymax"),
            ).alias("ring_ys"),
        )
        cfg = Config(
            """
metadata: {id: vsimp}
vector_layers:
  gridpoly:
    fields: {}
    sql:
    - {minzoom: 0, maxzoom: 8, extent: 2048, buffer: 8, file: sp.t}
""",
            {"sp.t": """
SELECT ST_AsMVTGeom(ST_Simplify(way, 1.0), {{bbox}}, {{extent}}) AS way,
       osm_id
FROM dense_polys
WHERE way && {{bbox}}
"""},
        )
        geo = spark.createDataFrame([], "url string, lang string, mx double, my double")
        tiles = render_zoom(cfg, 3, {
            "pages_geo": geo,
            "layer_polygons": dense.limit(0),
            "tables": {"dense_polys": {"frame": lambda s: dense, "kind": "polygon"}},
        })

        out_schema = (
            "zoom int, x int, y int, osm_id long, n_vertices int, "
            "min_px long, max_px long, min_py long, max_py long"
        )

        def per_feature(batches):
            for pdf in batches:
                rows = []
                for z, x, y, blob in zip(pdf["zoom"], pdf["x"], pdf["y"], pdf["gridpoly_data"]):
                    (layer,) = decode_tile(bytes(blob))
                    ki = layer["keys"].index("osm_id")
                    for f in layer["features"]:
                        tags = f["tags"]
                        vi = next(
                            tags[i + 1] for i in range(0, len(tags), 2) if tags[i] == ki
                        )
                        osm_id = int(layer["values"][vi])
                        (ring,) = decode_geom(f)
                        vs = ring[:-1]
                        xs = [p[0] for p in vs]
                        ys = [p[1] for p in vs]
                        rows.append(
                            (int(z), int(x), int(y), osm_id, len(vs),
                             min(xs), max(xs), min(ys), max(ys))
                        )
                yield pd.DataFrame(
                    rows,
                    columns=["zoom", "x", "y", "osm_id", "n_vertices",
                             "min_px", "max_px", "min_py", "max_py"],
                )

        return tiles.mapInPandas(per_feature, out_schema)

    q["mvt_simplify_render"] = mvt_simplify_render
    q["mvt_poly_render"].encode_only = mvt_poly_encode

    def mvt_holes_render(spark, sf_dir):
        """Interior rings (MVT 2.1 §4.3.3.3): a 4x4 grid of polygons each
        spanning 1.2 tiles with a centered square hole renders at z2; blobs
        decode back to per-(tile, feature) ring counts, exterior pixel
        extrema and the hole's (negative, CCW-in-screen-coords) surveyor
        area — all re-derivable from rectangle-intersection math in SQL.
        Holes clipped out of a tile drop; holes whose exterior leaves the
        tile entirely drop with it."""
        import pandas as pd

        from tilekiln_spark.operators.mvt import decode_geom, decode_tile
        from tilekiln_spark.operators.tiling import render_zoom

        cfg = Config(
            """
metadata: {id: vholes}
vector_layers:
  holepoly:
    fields: {water: Type}
    sql:
    - {minzoom: 0, maxzoom: 8, extent: 2048, buffer: 8, file: wp.b}
""",
            {"wp.b": "water_poly"},
        )
        polys = (
            _hole_polys(spark)
            .withColumn("layer", F.lit("water"))
            .withColumn("name", F.concat(F.lit("hp"), F.col("polygon_id")))
        )
        geo = spark.createDataFrame([], "url string, lang string, mx double, my double")
        tiles = render_zoom(cfg, 2, {"pages_geo": geo, "layer_polygons": polys})

        out_schema = (
            "zoom int, x int, y int, osm_id long, n_rings int, "
            "min_px long, max_px long, min_py long, max_py long, hole_area2 long"
        )

        def per_feature(batches):
            for pdf in batches:
                rows = []
                for z, x, y, blob in zip(pdf["zoom"], pdf["x"], pdf["y"], pdf["holepoly_data"]):
                    (layer,) = decode_tile(bytes(blob))
                    if not layer["features"]:
                        continue
                    ki = layer["keys"].index("osm_id")
                    for f in layer["features"]:
                        tags = f["tags"]
                        vi = next(
                            tags[i + 1] for i in range(0, len(tags), 2) if tags[i] == ki
                        )
                        osm_id = int(layer["values"][vi])
                        rings = decode_geom(f)
                        ext = rings[0][:-1]
                        xs = [p[0] for p in ext]
                        ys = [p[1] for p in ext]
                        hole_a2 = 0
                        for ring in rings[1:]:
                            vs = ring[:-1]
                            a2 = sum(
                                vs[i][0] * vs[(i + 1) % len(vs)][1]
                                - vs[(i + 1) % len(vs)][0] * vs[i][1]
                                for i in range(len(vs))
                            )
                            hole_a2 += a2
                        rows.append(
                            (int(z), int(x), int(y), osm_id, len(rings),
                             min(xs), max(xs), min(ys), max(ys), hole_a2)
                        )
                yield pd.DataFrame(
                    rows,
                    columns=["zoom", "x", "y", "osm_id", "n_rings",
                             "min_px", "max_px", "min_py", "max_py", "hole_area2"],
                )

        return tiles.mapInPandas(per_feature, out_schema)

    q["mvt_holes_render"] = mvt_holes_render

    def mvt_line_render(spark, sf_dir):
        """TRUE open polylines (B3 LINESTRING path): deterministic zigzag
        lines — including one that EXITS and RE-ENTERS a tile — render at z2
        through the polyline builder (Liang–Barsky part splits,
        mvt.py clip_lines_batch); blobs decode back to per-(tile, feature)
        part counts, vertex counts and pixel extrema that DuckDB re-derives
        by running the same Liang–Barsky parametric clip per segment in SQL
        (merge rule: consecutive segments fuse iff the shared joint vertex
        lies strictly inside the tile box, i.e. t1 = 1 and next t0 = 0)."""
        import pandas as pd

        from tilekiln_spark.operators.mvt import decode_geom, decode_tile
        from tilekiln_spark.operators.tiling import render_zoom

        cfg = Config(
            """
metadata: {id: vlines}
vector_layers:
  roadline:
    fields: {osm_id: Id}
    sql:
    - {minzoom: 0, maxzoom: 8, extent: 2048, file: rl.b}
""",
            {"rl.b": "polyline"},
        )
        geo = spark.createDataFrame([], "url string, lang string, mx double, my double")
        tiles = render_zoom(cfg, 2, {"pages_geo": geo, "layer_lines": _line_fixture(spark)})

        out_schema = (
            "zoom int, x int, y int, osm_id long, n_parts int, n_vertices int, "
            "min_px long, max_px long, min_py long, max_py long"
        )

        def per_feature(batches):
            for pdf in batches:
                rows = []
                for z, x, y, blob in zip(pdf["zoom"], pdf["x"], pdf["y"], pdf["roadline_data"]):
                    if blob is None or len(blob) == 0:
                        continue
                    (layer,) = decode_tile(bytes(blob))
                    if not layer["features"]:
                        continue
                    ki = layer["keys"].index("osm_id")
                    for f in layer["features"]:
                        tags = f["tags"]
                        vi = next(
                            tags[i + 1] for i in range(0, len(tags), 2) if tags[i] == ki
                        )
                        osm_id = int(layer["values"][vi])
                        parts = decode_geom(f)
                        xs = [p[0] for part in parts for p in part]
                        ys = [p[1] for part in parts for p in part]
                        rows.append(
                            (int(z), int(x), int(y), osm_id, len(parts),
                             sum(len(p) for p in parts),
                             min(xs), max(xs), min(ys), max(ys))
                        )
                yield pd.DataFrame(
                    rows,
                    columns=["zoom", "x", "y", "osm_id", "n_parts", "n_vertices",
                             "min_px", "max_px", "min_py", "max_py"],
                )

        return tiles.mapInPandas(per_feature, out_schema)

    q["mvt_line_render"] = mvt_line_render

    def geometry_measures(spark, sf_dir):
        """PostGIS planar measures ST_Area / ST_Perimeter / ST_Length
        (functions/geometry.py; the reference's templates read osm2pgsql's
        precomputed way_area and call PostGIS measures freely —
        tilekiln/definition.py:42-77).  Each measure is ONE F.aggregate fold
        over the coordinate arrays (built-in HOF, whole-stage codegen, no
        UDF, map-only); the DuckDB twin is GENERATED by the same *_sql
        builders so both engines execute one arithmetic definition,
        degenerate and null guard rows included."""
        from tilekiln_spark.functions.geometry import line_length, ring_area

        df = spark.createDataFrame(
            _measure_fixture_rows(),
            "gid int, kind string, xs array<double>, ys array<double>",
        )
        ring = F.col("kind") == "ring"
        xs, ys = F.col("xs"), F.col("ys")
        return df.select(
            "gid",
            "kind",
            F.size(xs).alias("n_vertices"),
            F.round(
                F.when(ring, ring_area(xs, ys)).otherwise(
                    F.when(xs.isNotNull(), F.lit(0.0))
                ),
                6,
            ).alias("area"),
            F.round(
                F.when(ring, line_length(xs, ys, closed=True)).otherwise(
                    line_length(xs, ys, closed=False)
                ),
                6,
            ).alias("boundary_len"),
        )

    q["geometry_measures"] = geometry_measures

    def template_compile_union(spark, sf_dir):
        """SQL-template compiler end-to-end (config/sqlt.py): a two-branch
        UNION ALL template with IN-lists, literals, NULL padding, a numeric
        filter and a zoom conditional compiles over a registered table of
        documents and aggregates per (zoom, lang, flag); the DuckDB twin
        re-derives the branches in plain SQL."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        body = """
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way, lang, NULL AS flag
FROM docs_geo
WHERE way && {{bbox}} AND lang IN ('en', 'de') AND n_chars > 100
{% if zoom <= 3 %} AND doc_id < 5000 {% endif %}
UNION ALL
SELECT ST_AsMVTGeom(way, {{bbox}}) AS way, lang, 'x' AS flag
FROM docs_geo
WHERE way && {{bbox}} AND lang = 'fr'
"""
        sources = {"tables": {"docs_geo": {"frame": d, "kind": "point"}}}
        feats = CompiledTemplate(body).build(sources, [2, 4], 4096, 0)
        return feats.groupBy("zoom", "lang", "flag").agg(
            F.count("*").alias("n_docs"),
            (F.round(F.sum("mx") / 1e6, 3) + 0.0).alias("sum_mx_mm"),
        )

    q["template_compile_union"] = template_compile_union

    def template_compile_recursive(spark, sf_dir):
        """r5 compiler tier (config/sqlt.py _recursive_query): WITH
        RECURSIVE compiles by BOUNDED UNROLL — level_0 = base, level_i =
        step with the CTE reference inlined as level_{i-1}, outer select
        distributed over the levels as UNION ALL branches (depth cap 16;
        a recursion that terminates within the cap compiles EXACTLY).
        Fixture: a doc-id doubling walk seeded at ids 1..9 — terminates
        in ~9 levels at sf0.01 — counted per reachable doc as UNION ALL
        path multiplicity.  The DuckDB twin runs the TRUE recursive CTE,
        so the unroll is checked against real recursion semantics."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        body = """
WITH RECURSIVE walk AS (
    SELECT way, doc_id, doc_id * 2 AS next_id
    FROM docs_geo WHERE doc_id >= 1 AND doc_id < 10
  UNION ALL
    SELECT d.way, d.doc_id, d.doc_id * 2 AS next_id
    FROM docs_geo d JOIN walk w ON d.doc_id = w.next_id
)
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way, doc_id
FROM walk
WHERE way && {{bbox}}
"""
        sources = {"tables": {"docs_geo": {"frame": d, "kind": "point"}}}
        feats = CompiledTemplate(body).build(sources, [2], 4096, 0)
        return feats.groupBy("doc_id").agg(
            F.count("*").alias("n_paths")
        ).orderBy("doc_id")

    q["template_compile_recursive"] = template_compile_recursive

    def template_compile_union_agg(spark, sf_dir):
        """r5 compiler tier (config/sqlt.py _dissolve_branch): the
        osm-carto dissolve idiom ST_AsMVTGeom(ST_Union(ST_SnapToGrid(
        way, g)), ...) GROUP BY keys compiles to ONE partial-agg shuffle
        per (zoom, tile, keys) collecting the DISTINCT snapped points +
        group aggregates, exploded to one point feature per union part
        (documented per-part feature-row deviation — identical pixels).
        Twin re-derives tiles, snapped parts and group counts in SQL."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        body = """
SELECT ST_AsMVTGeom(ST_Union(ST_SnapToGrid(way, 2500000)), {{bbox}}, {{extent}}) AS way,
       lang, count(*) AS n_docs
FROM docs_geo
WHERE way && {{bbox}} AND n_chars > 50
GROUP BY lang
"""
        sources = {"tables": {"docs_geo": {"frame": d, "kind": "point"}}}
        feats = CompiledTemplate(body).build(sources, [2], 4096, 0)
        return feats.select(
            F.col("zoom").cast("int").alias("zoom"),
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            (F.col("mx") + 0.0).alias("mx"),
            (F.col("my") + 0.0).alias("my"),
        )

    q["template_compile_union_agg"] = template_compile_union_agg

    def template_compile_not_in(spark, sf_dir):
        """r5 compiler tier (config/sqlt.py _apply_in_subquery): NOT IN
        (SELECT ...) compiles to the null-faithful anti join — a
        build-time null probe on the subquery side (any NULL empties the
        result, SQL three-valued logic), an IS NOT NULL probe filter,
        then a left-anti join.  Fixture excludes the two most common
        langs; the DuckDB twin runs the identical NOT IN natively."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        big = (
            d.groupBy("lang").count().orderBy(F.desc("count"), "lang")
            .limit(2).select("lang")
        )
        body = """
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way, lang
FROM docs_geo
WHERE way && {{bbox}} AND lang NOT IN (SELECT lang FROM big_langs)
"""
        sources = {"tables": {
            "docs_geo": {"frame": d, "kind": "point"},
            "big_langs": {"frame": big, "kind": "point", "broadcast": True},
        }}
        feats = CompiledTemplate(body).build(sources, [2], 4096, 0)
        return feats.groupBy("lang").agg(F.count("*").alias("n_docs")).orderBy("lang")

    q["template_compile_not_in"] = template_compile_not_in

    def template_compile_case(spark, sf_dir):
        """Round-4 compiler tier (config/sqlt.py): searched CASE, LIKE /
        ILIKE / NOT LIKE, BETWEEN / NOT BETWEEN and the round/concat/nullif
        whitelist compile over a registered point table; the DuckDB twin
        re-runs the identical CASE/LIKE logic in plain SQL."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        body = """
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way,
       CASE WHEN lang LIKE 'e%' THEN concat('e:', lang)
            WHEN lang IN ('fr', 'de', 'es') THEN 'eu'
            ELSE nullif(lang, 'zz') END AS fam,
       CASE WHEN n_chars BETWEEN 100 AND 299 THEN 'mid'
            WHEN n_chars >= 300 THEN 'long'
            ELSE 'short' END AS sizecls
FROM docs_geo
WHERE way && {{bbox}} AND source NOT LIKE 'src1%' AND NOT (lang ILIKE 'ZH')
{% if zoom <= 3 %} AND doc_id BETWEEN 0 AND 300 {% endif %}
"""
        sources = {"tables": {"docs_geo": {"frame": d, "kind": "point"}}}
        feats = CompiledTemplate(body).build(sources, [2, 4], 4096, 0)
        return feats.groupBy("zoom", "fam", "sizecls").agg(
            F.count("*").alias("n_docs"),
            (F.round(F.sum("mx") / 1e6, 3) + 0.0).alias("sum_mx_mm"),
        )

    q["template_compile_case"] = template_compile_case

    def template_compile_affine(spark, sf_dir):
        """Round-4 compiler tier (config/sqlt.py): affine geometry chains —
        ST_AsMVTGeom(ST_Translate(ST_Rotate(ST_Scale(way, ...), ...), ...))
        — peel outside-in into ONE composed 2x3 matrix applied as a
        pre-explode expression pass; ST_Rotate's trig is hoisted in Python
        so both engines fold identical float64 constants.  The twin applies
        the SAME composed matrix (built by the compiler's own
        _affine_compose) in plain SQL."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        body = (
            "SELECT ST_AsMVTGeom(ST_Translate(ST_Rotate(ST_Scale("
            "way, 0.5, 0.5), 0.25), 1000000, -500000), {{bbox}}, {{extent}}) "
            "AS way, lang FROM docs_geo WHERE way && {{bbox}}"
        )
        feats = CompiledTemplate(body).build(
            {"tables": {"docs_geo": {"frame": d, "kind": "point"}}},
            [3],
            4096,
            0,
        )
        return feats.groupBy("zoom", "lang").agg(
            F.count("*").alias("n_docs"),
            (F.round(F.sum("mx") / 1e6, 3) + 0.0).alias("sum_mx_mm"),
            (F.round(F.sum("my") / 1e6, 3) + 0.0).alias("sum_my_mm"),
        )

    q["template_compile_affine"] = template_compile_affine

    def template_compile_snap(spark, sf_dir):
        """Round-4 compiler tier (config/sqlt.py): ST_SnapToGrid +
        ST_Affine (PostGIS 2D form) chained inside ST_AsMVTGeom — the
        affine applies innermost, then the snap rounds to 250 km grid
        nodes (floor(v/s + 0.5)*s, the round-half-convention-free form);
        both compile to ONE pre-explode expression pass.  Checked per
        (zoom, lang): feature count, exact snapped-coordinate sums, and
        the distinct grid-node count."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        body = (
            "SELECT ST_AsMVTGeom(ST_SnapToGrid(ST_Affine("
            "way, 0.5, 0, 0, 0.5, 1000000, -500000), 250000), "
            "{{bbox}}, {{extent}}) AS way, lang FROM docs_geo "
            "WHERE way && {{bbox}}"
        )
        feats = CompiledTemplate(body).build(
            {"tables": {"docs_geo": {"frame": d, "kind": "point"}}},
            [3],
            4096,
            0,
        )
        node_key = (F.col("mx") / F.lit(250000.0)) * F.lit(1000.0) + (
            F.col("my") / F.lit(250000.0)
        )
        return feats.groupBy("zoom", "lang").agg(
            F.count("*").alias("n_docs"),
            (F.sum("mx") / F.lit(1e6) + 0.0).alias("sum_sx_mm"),
            (F.sum("my") / F.lit(1e6) + 0.0).alias("sum_sy_mm"),
            F.count_distinct(node_key).alias("n_nodes"),
        )

    q["template_compile_snap"] = template_compile_snap

    def template_compile_dwithin(spark, sf_dir):
        """Round-4 compiler tier (config/sqlt.py): PostGIS ST_DWithin
        proximity predicates — ST_SetSRID/ST_MakePoint/ST_Point forms, plain
        and negated, zoom-conditional — compile to the exact squared-distance
        residual over the point table's mercator columns; the DuckDB twin
        runs the identical multiply/add boundary test."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        body = """
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way, lang
FROM docs_geo
WHERE way && {{bbox}}
  AND ST_DWithin(way, ST_SetSRID(ST_MakePoint(2000000.0, 1000000.0), 3857), 5000000.0)
{% if zoom <= 3 %} AND NOT ST_DWithin(way, ST_Point(-8000000.0, -4000000.0), 2500000.0) {% endif %}
"""
        sources = {"tables": {"docs_geo": {"frame": d, "kind": "point"}}}
        feats = CompiledTemplate(body).build(sources, [2, 4], 4096, 0)
        return feats.groupBy("zoom", "lang").agg(
            F.count("*").alias("n_docs"),
            (F.round(F.sum("mx") / 1e6, 3) + 0.0).alias("sum_mx_mm"),
        )

    q["template_compile_dwithin"] = template_compile_dwithin

    def template_compile_geohash(spark, sf_dir):
        """Round-4 compiler tier (config/sqlt.py): PostGIS
        ST_GeoHash(ST_Transform(way, 4326), p) over a point source compiles
        to the unrolled codegen bit interleave (functions/cellcodes.py) on
        the inverse-mercator lat/lon of the point table; the DuckDB twin
        runs the identical inverse-mercator arithmetic + generated hash."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        body = """
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way,
       ST_GeoHash(ST_Transform(way, 4326), 4) AS gh
FROM docs_geo WHERE way && {{bbox}}
"""
        sources = {"tables": {"docs_geo": {"frame": d, "kind": "point"}}}
        feats = CompiledTemplate(body).build(sources, [2, 4], 4096, 0)
        return feats.groupBy("zoom", "gh").agg(
            F.count("*").alias("n_docs"),
            (F.round(F.sum("mx") / 1e6, 3) + 0.0).alias("sum_mx_mm"),
        )

    q["template_compile_geohash"] = template_compile_geohash

    def template_compile_stxy(spark, sf_dir):
        """Round-4 compiler tier (config/sqlt.py): PostGIS ST_X/ST_Y point
        coordinate accessors — plain (stored web-mercator) and inside
        ST_Transform(way, 4326) (inverse-mercator lon/lat) — compile to the
        point table's mx/my columns / their inverse-mercator arithmetic;
        the DuckDB twin runs the identical expressions.  Rounded to absorb
        cross-engine libm ulp drift (house convention)."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        body = """
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way,
       round(ST_X(ST_Transform(way, 4326)), 4) + 0.0 AS lon4,
       round(ST_Y(ST_Transform(way, 4326)), 4) + 0.0 AS lat4,
       round(ST_X(way) / 1000.0, 3) + 0.0 AS mx_km,
       round(ST_Y(way) / 1000.0, 3) + 0.0 AS my_km
FROM docs_geo WHERE way && {{bbox}}
"""
        sources = {"tables": {"docs_geo": {"frame": d, "kind": "point"}}}
        feats = CompiledTemplate(body).build(sources, [3], 4096, 0)
        return feats.select("zoom", "lon4", "lat4", "mx_km", "my_km")

    q["template_compile_stxy"] = template_compile_stxy

    def template_compile_subquery(spark, sf_dir):
        """Round-4 compiler tier #2 (config/sqlt.py): FROM (SELECT ...)
        derived tables — inner projection/filter with computed aliases,
        `way` geometry passthrough, outer predicates over inner aliases;
        DuckDB runs the identical nested query."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        body = """
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way,
       upper(tag) AS label, nc2
FROM (
    SELECT way, concat(lang, ':', source) AS tag, n_chars * 2 AS nc2
    FROM docs_geo
    WHERE lang <> 'zz' AND way && {{bbox}} AND doc_id NOT BETWEEN 900 AND 100000
) sub
WHERE way && {{bbox}} AND nc2 BETWEEN 100 AND 1200 AND tag NOT LIKE 'xx%'
"""
        sources = {"tables": {"docs_geo": {"frame": d, "kind": "point"}}}
        feats = CompiledTemplate(body).build(sources, [3], 4096, 0)
        return feats.groupBy("zoom", "label").agg(
            F.count("*").alias("n_docs"),
            F.sum("nc2").cast("long").alias("sum_nc2"),
        )

    q["template_compile_subquery"] = template_compile_subquery

    def template_compile_cte(spark, sf_dir):
        """Round-4 compiler tier (config/sqlt.py): non-recursive WITH CTEs
        — each CTE inlines as a named derived table (a later CTE references
        an earlier one), so the whole derived-table machinery applies;
        DuckDB runs the identical WITH query."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        body = """
WITH filtered AS (
    SELECT way, lang, source, n_chars FROM docs_geo
    WHERE lang <> 'zz' AND way && {{bbox}}
), tagged AS (
    SELECT way, concat(lang, ':', source) AS tag, n_chars * 2 AS nc2
    FROM filtered f
)
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way,
       upper(tag) AS label, nc2
FROM tagged
WHERE way && {{bbox}} AND nc2 BETWEEN 100 AND 1200 AND tag NOT LIKE 'xx%'
"""
        sources = {"tables": {"docs_geo": {"frame": d, "kind": "point"}}}
        feats = CompiledTemplate(body).build(sources, [3], 4096, 0)
        return feats.groupBy("zoom", "label").agg(
            F.count("*").alias("n_docs"),
            F.sum("nc2").cast("long").alias("sum_nc2"),
        )

    q["template_compile_cte"] = template_compile_cte

    def template_compile_exists(spark, sf_dir):
        """Round-4 compiler tier (config/sqlt.py): correlated [NOT] EXISTS
        — each polarity compiles to a semi/anti join on the correlation
        equality (inner-alias-qualified refs are inner, unqualified refs
        outer); DuckDB runs the identical EXISTS over a VALUES dim."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        dim = spark.createDataFrame(
            [("en", 1), ("de", 0), ("fr", 1), ("es", 1)],
            "dlang string, keep int",
        )
        body = """
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way, 'kept' AS part, lang
FROM docs_geo
WHERE way && {{bbox}} AND EXISTS (
    SELECT 1 FROM langdim d WHERE d.dlang = lang AND d.keep = 1
)
UNION ALL
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way, 'dropped' AS part, lang
FROM docs_geo
WHERE way && {{bbox}} AND NOT EXISTS (
    SELECT 1 FROM langdim d WHERE d.dlang = lang AND d.keep = 1
)
"""
        sources = {"tables": {
            "docs_geo": {"frame": d, "kind": "point"},
            "langdim": {"frame": dim, "kind": "point", "broadcast": True},
        }}
        feats = CompiledTemplate(body).build(sources, [3], 4096, 0)
        return feats.groupBy("zoom", "part", "lang").agg(
            F.count("*").alias("n_docs")
        )

    q["template_compile_exists"] = template_compile_exists

    def template_compile_scalar(spark, sf_dir):
        """Round-4 compiler tier (config/sqlt.py): uncorrelated scalar
        subqueries — (SELECT agg(col) FROM tbl [WHERE ...]) resolves to a
        build-time literal (one 1-row aggregate job; tile-independent, so
        one global value IS the reference's per-tile semantics).  Used in
        both WHERE and a SELECT item; DuckDB runs the identical scalar."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        body = """
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way, lang,
       (SELECT max(n_chars) FROM docs_geo) AS cap
FROM docs_geo
WHERE way && {{bbox}}
  AND n_chars > (SELECT avg(n_chars) FROM docs_geo WHERE lang <> 'zz')
"""
        sources = {"tables": {"docs_geo": {"frame": d, "kind": "point"}}}
        feats = CompiledTemplate(body).build(sources, [3], 4096, 0)
        return feats.groupBy("zoom", "lang", "cap").agg(
            F.count("*").alias("n_docs")
        )

    q["template_compile_scalar"] = template_compile_scalar

    def template_compile_join(spark, sf_dir):
        """Round-4 compiler tier #3 (config/sqlt.py): INNER/LEFT JOIN with
        table aliases and qualified refs — the geometry table joins a small
        language dim (a name-colliding column included, reached via the
        alias); DuckDB runs the identical join over a VALUES dim."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        dim = spark.createDataFrame(
            [("en", "germanic", 1.0), ("de", "germanic", 2.0),
             ("fr", "romance", 3.0), ("es", "romance", 4.0)],
            "lang string, family string, source double",  # `source` collides
        )
        body = """
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way,
       d.family AS fam, d.source AS weight, g.source AS src
FROM docs_geo g
LEFT JOIN langdim d ON g.lang = d.lang
WHERE way && {{bbox}} AND coalesce(d.family, 'other') <> 'romance'
"""
        sources = {"tables": {"docs_geo": {"frame": d, "kind": "point"},
                              "langdim": {"frame": dim, "kind": "point",
                                          "broadcast": True}}}
        feats = CompiledTemplate(body).build(sources, [2], 4096, 0)
        return feats.groupBy("zoom", "fam", "src").agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("weight"), 3).alias("sum_w"),
        )

    q["template_compile_join"] = template_compile_join

    def template_compile_semijoin(spark, sf_dir):
        """Round-4 compiler tier: `IN (SELECT col FROM tbl WHERE ...)`
        membership subqueries compiled to a LEFT-SEMI join on a distinct
        one-column build side (config/sqlt.py _apply_in_subquery), plus the
        `%` modulo operator.  DuckDB runs the identical IN-subquery."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        dim = spark.createDataFrame(
            [("en", 1), ("de", 0), ("fr", 1), ("es", 0)],
            "lang string, keep integer",
        )
        body = """
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way,
       doc_id, lang
FROM docs_geo
WHERE way && {{bbox}}
  AND lang IN (SELECT lang FROM langkeep WHERE keep = 1)
  AND doc_id % 3 = 0
"""
        sources = {"tables": {"docs_geo": {"frame": d, "kind": "point"},
                              "langkeep": {"frame": dim, "kind": "point",
                                           "broadcast": True}}}
        feats = CompiledTemplate(body).build(sources, [2], 4096, 0)
        return feats.groupBy("zoom", "lang").agg(
            F.count("*").alias("n_docs"), F.sum("doc_id").alias("sum_ids")
        )

    q["template_compile_semijoin"] = template_compile_semijoin

    def template_compile_hstore(spark, sf_dir):
        """Round-4 compiler tier #4 (config/sqlt.py): hstore-style operators
        over a map<string,string> column (osm2pgsql's `tags` shape) —
        `tags->'key'` (NULL when absent), `tags ? 'key'`, and the
        `(expr)::integer` postfix cast.  The tags map is derived
        deterministically from documents columns, so the DuckDB twin
        re-derives the same values from the base columns with CASE."""
        from tilekiln_spark.config.sqlt import CompiledTemplate

        d = _mx_my(_docs(spark, sf_dir))
        base = F.create_map(F.lit("lang"), F.col("lang"))
        with_pop = F.map_concat(
            base, F.create_map(F.lit("pop"), F.col("n_chars").cast("string"))
        )
        d = d.withColumn(
            "tags",
            F.when(F.col("doc_id") % 13 == 0, F.lit(None).cast("map<string,string>"))
            .when(F.col("doc_id") % 3 != 0, with_pop)
            .otherwise(base),
        )
        body = """
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way,
       tags->'lang' AS tl,
       (tags->'pop')::integer AS pop,
       tags ? 'pop' AS has_pop
FROM docs_geo
WHERE way && {{bbox}} AND tags ? 'lang'
  AND (coalesce((tags->'pop')::integer, 0) BETWEEN 50 AND 100000
       OR NOT (tags ? 'pop'))
"""
        sources = {"tables": {"docs_geo": {"frame": d, "kind": "point"}}}
        feats = CompiledTemplate(body).build(sources, [3], 4096, 0)
        return feats.groupBy("zoom", "tl", "has_pop").agg(
            F.count("*").alias("n_docs"),
            F.sum("pop").cast("long").alias("sum_pop"),
        )

    q["template_compile_hstore"] = template_compile_hstore

    def template_compile_topn(spark, sf_dir):
        """Round-4 compiler tier #5 (config/sqlt.py + operators/tiling.py):
        trailing ORDER BY ... LIMIT n.  The reference runs the template SQL
        once per tile (reference definition.py:42-77), so LIMIT caps EACH
        tile; the engine compiles it to a per-(zoom,x,y) row_number window
        (literal limit -> Catalyst WindowGroupLimit partial top-n before the
        shuffle).  ORDER BY ends on the unique doc_id so the top-n set is
        tie-free and the DuckDB twin (same window in plain SQL) is exact."""
        from tilekiln_spark.operators.tiling import _layer_band_features

        d = _mx_my(_docs(spark, sf_dir))
        cfg = Config(
            """
metadata: {id: topn}
vector_layers:
  docs:
    fields: {n_chars: Document length}
    sql:
    - {minzoom: 6, maxzoom: 6, extent: 4096, buffer: 0, file: topn.t}
""",
            {
                "topn.t": """
SELECT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way, doc_id, n_chars
FROM docs_geo
WHERE way && {{bbox}} AND lang IN ('en', 'fr')
ORDER BY n_chars DESC, doc_id ASC LIMIT 5
"""
            },
        )
        feats = _layer_band_features(
            cfg, "docs", [6],
            {"tables": {"docs_geo": {"frame": d, "kind": "point"}},
             "materialize": False},
            None,
        )
        return feats.select(
            "zoom", "x", "y",
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )

    q["template_compile_topn"] = template_compile_topn

    def template_compile_groupby(spark, sf_dir):
        """Round-4 compiler tier #6 (config/sqlt.py _cluster_branch):
        GROUP BY / HAVING with the aggregate geometry
        ST_AsMVTGeom(ST_Centroid(ST_Collect(way)), ...).  The reference runs
        the template once per tile (reference definition.py:42-77), so GROUP
        BY aggregates WITHIN each tile — compiled to ONE partial-aggregated
        groupBy on (zoom, x, y, keys); the centroid = (avg mx, avg my) stays
        inside the owning tile, so re-assignment is exact.  The DuckDB twin
        is the same floor-assignment + GROUP BY in plain SQL."""
        from tilekiln_spark.operators.tiling import _layer_band_features

        d = _mx_my(_docs(spark, sf_dir))
        cfg = Config(
            """
metadata: {id: gby}
vector_layers:
  docs:
    fields: {n_docs: Cluster size}
    sql:
    - {minzoom: 4, maxzoom: 4, extent: 4096, buffer: 0, file: gby.t}
""",
            {
                "gby.t": """
SELECT ST_AsMVTGeom(ST_Centroid(ST_Collect(way)), {{bbox}}, {{extent}}) AS way,
       lang, count(*) AS n_docs, count(DISTINCT source) AS n_src,
       sum(n_chars) AS total_chars,
       round(avg(n_chars), 1) AS avg_chars,
       round(avg(mx) / 1000000.0, 3) AS cx_mm
FROM docs_geo
WHERE way && {{bbox}} AND lang IN ('en', 'fr', 'de')
GROUP BY lang
HAVING count(*) >= 2
"""
            },
        )
        feats = _layer_band_features(
            cfg, "docs", [4],
            {"tables": {"docs_geo": {"frame": d, "kind": "point"}},
             "materialize": False},
            None,
        )
        return feats.select(
            "zoom", "x", "y", "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_src").cast("long").alias("n_src"),
            F.col("total_chars").cast("long").alias("total_chars"),
            (F.col("avg_chars") + F.lit(0.0)).alias("avg_chars"),
            (F.col("cx_mm") + F.lit(0.0)).alias("cx_mm"),
        )

    q["template_compile_groupby"] = template_compile_groupby

    def template_compile_distinct(spark, sf_dir):
        """Round-4 compiler tier #7 (config/sqlt.py + tiling._apply_tile_distinct):
        SELECT DISTINCT dedups the per-tile SQL result AFTER ST_AsMVTGeom
        quantization (pixel coords, not raw geometry).  A coarse extent (16
        px at z3 = ~313 km/pixel) makes the collapse real at sf scale; the
        DuckDB twin replicates the round((mx - xmin)/len * extent)
        quantization and SELECT DISTINCTs the same key."""
        from tilekiln_spark.operators.tiling import _layer_band_features

        d = _mx_my(_docs(spark, sf_dir))
        cfg = Config(
            """
metadata: {id: dst}
vector_layers:
  docs:
    fields: {lang: Language}
    sql:
    - {minzoom: 3, maxzoom: 3, extent: 16, buffer: 0, file: dst.t}
""",
            {
                "dst.t": """
SELECT DISTINCT ST_AsMVTGeom(way, {{bbox}}, {{extent}}) AS way, lang
FROM docs_geo WHERE way && {{bbox}}
"""
            },
        )
        feats = _layer_band_features(
            cfg, "docs", [3],
            {"tables": {"docs_geo": {"frame": d, "kind": "point"}},
             "materialize": False},
            None,
        )
        return feats.select(
            "zoom", "x", "y",
            F.col("px").cast("long").alias("px"),
            F.col("py").cast("long").alias("py"),
            "lang",
        )

    q["template_compile_distinct"] = template_compile_distinct

    def ann_lsh_topk(spark, sf_dir):
        """Hyperplane-LSH ANN top-k; the DuckDB twin recomputes the same
        deterministic signatures from the seeded plane literals, so bucketing
        AND rerank are value-checked (double-cast vectors on both sides)."""
        emb = _embeddings(spark, sf_dir).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        probes = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        corpus = emb.filter(F.col("vec_id") >= 5)
        out = lsh_topk(corpus, probes, dim=64, k=10, nbits=16, bands=4)
        return out.select("probe_id", "vec_id", F.round("cos", 6).alias("cos"), "rank")

    q["ann_lsh_topk"] = ann_lsh_topk

    def ann_ivf_topk(spark, sf_dir):
        """IVF coarse-quantizer ANN: deterministic centroids (8 smallest
        corpus keys), matmul bucket assignment, nprobe=2 bucket search,
        exact rerank — DuckDB re-derives identical buckets and ranks."""
        from tilekiln_spark.operators.similarity import ivf_topk

        emb = _embeddings(spark, sf_dir).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        probes = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        corpus = emb.filter(F.col("vec_id") >= 5)
        out = ivf_topk(corpus, probes, k=10, n_centroids=8, nprobe=2)
        return out.select("probe_id", "vec_id", F.round("cos", 6).alias("cos"), "rank")

    q["ann_ivf_topk"] = ann_ivf_topk

    def ann_quantized_topk(spark, sf_dir):
        """Brute-force top-k over int8-quantized embeddings
        (operators/similarity.py quantize_embeddings / quantized_topk):
        symmetric per-vector quantization, exact integer dot/norm
        accumulation, one double ratio — the DuckDB twin reproduces the
        raw qcos doubles bit-for-bit (no rounding in the compare)."""
        from tilekiln_spark.operators.similarity import quantized_topk

        emb = _embeddings(spark, sf_dir)
        probes = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("probe_id"), "embedding"
        )
        corpus = emb.filter(F.col("vec_id") >= 5)
        return quantized_topk(corpus, probes, k=10)

    q["ann_quantized_topk"] = ann_quantized_topk

    def embedding_neardups(spark, sf_dir):
        emb = _embeddings(spark, sf_dir).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        # plant near-identical vectors: copies with tiny perturbation
        dup = emb.filter(F.col("vec_id") < 20).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda v: v * 1.001).alias("embedding"),
        )
        corpus = emb.select("vec_id", "embedding").unionByName(dup)
        out = embedding_neardup_pairs(corpus, dim=64, threshold=0.999)
        return out.select("key_a", "key_b", F.round("cos", 6).alias("cos"))

    q["embedding_neardup"] = embedding_neardups

    def semantic_dedup_q(spark, sf_dir):
        """SemDeDup (Abbas et al. 2023) over the embeddings table with two
        generations of planted semantic duplicates (scaled copies — cosine
        ~1.0, well over the 0.9 threshold; max natural pairwise cosine in
        the fixture is 0.513): coarse min-key-centroid assignment (the
        ann_ivf_topk kernel), within-cluster exact cosine pairs, connected
        components, one keep/drop row per vector."""
        from tilekiln_spark.operators.similarity import semantic_dedup

        emb = _embeddings(spark, sf_dir).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        dup1 = emb.filter(F.col("vec_id") < 20).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda v: v * 1.001).alias("embedding"),
        )
        dup2 = emb.filter(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 200000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda v: v * 0.998).alias("embedding"),
        )
        corpus = emb.unionByName(dup1).unionByName(dup2)
        return semantic_dedup(corpus, threshold=0.9, n_centroids=8)

    q["semantic_dedup"] = semantic_dedup_q

    def semantic_dedup_outlier(spark, sf_dir):
        """SemDeDup with the PAPER's exemplar rule (canonical=
        'centroid_far'): the kept member of each epsilon-ball is the one
        with the lowest round-6 cosine to its coarse centroid (ties by
        key) — the DuckDB twin ranks the identical rounded cosine from
        the same centroid rows."""
        from tilekiln_spark.operators.similarity import semantic_dedup

        emb = _embeddings(spark, sf_dir).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        dup = emb.filter(F.col("vec_id") < 20).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda v: v * 1.001).alias("embedding"),
        )
        corpus = emb.unionByName(dup)
        return semantic_dedup(
            corpus, threshold=0.9, n_centroids=8, canonical="centroid_far"
        )

    q["semantic_dedup_outlier"] = semantic_dedup_outlier

    def linear_probe(spark, sf_dir):
        """FineWeb-Edu-style learned quality filter: logistic linear probe
        over the embedding column (operators/classifier.py), trained
        DISTRIBUTED (3 full-batch GD iterations, one 65-key partial-agg
        exchange each) on y = (label == 0), then scored map-only over the
        corpus.  The DuckDB twin replays every training iteration as
        chained CTEs under the module's explicit rounding contract, so the
        FIT is cross-engine-verified, not just the scores."""
        from tilekiln_spark.operators.classifier import (
            linear_probe_scores,
            train_linear_probe,
        )

        emb = _embeddings(spark, sf_dir).select(
            "vec_id",
            "embedding",
            (F.col("label") == 0).cast("double").alias("y"),
        )
        w = train_linear_probe(emb, dim=64, iters=3, lr=1.0)
        out = linear_probe_scores(emb, w, label_col="y")
        return out.select(
            "vec_id", F.col("y").cast("int").alias("y"), "prob", "pred"
        )

    q["linear_probe"] = linear_probe

    def dedup_incremental(spark, sf_dir):
        """Incremental crawl dedup (operators/dedup.dedup_against): a NEW
        increment — 40 exact copies of corpus docs + 20 deterministic
        gibberish docs (8 md5-hex tokens, zero shingle overlap with
        English) — is checked against the documents table as the existing
        index; one keep/drop row per new doc.  Copies match at jaccard 1.0
        (found in every band — no LSH-recall flakiness in the oracle
        compare); gibberish admits clean."""
        from tilekiln_spark.operators.dedup import dedup_against

        docs = _docs(spark, sf_dir).select("doc_id", "text")
        copies = docs.filter(F.col("doc_id") < 40).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "text"
        )
        gib_text = F.concat_ws(
            " ",
            *[
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{c}")))
                for c in "abcdefgh"
            ],
        )
        gibberish = docs.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 300000).alias("doc_id"), gib_text.alias("text")
        )
        new = copies.unionByName(gibberish)
        return dedup_against(new, docs, threshold=0.8)

    q["dedup_incremental"] = dedup_incremental

    def decontaminate_semantic(spark, sf_dir):
        """Embedding-space benchmark decontamination (operators/decontam.
        semantic_contamination): the benchmark = scaled copies of 15 corpus
        embeddings (cosine ~1.0 — paraphrase-leak stand-ins) + 5 gibberish
        directions derived only from the bench id (never match); broadcast
        nested-loop cosine vs every corpus vector, per-doc hit rollup."""
        from tilekiln_spark.operators.decontam import semantic_contamination

        emb = _embeddings(spark, sf_dir).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        leak = emb.filter(F.col("vec_id") < 15).select(
            (F.col("vec_id") + 900).alias("bench_id"),
            F.transform(F.col("embedding"), lambda v: v * 1.001).alias("embedding"),
        )
        # deterministic never-matching directions: one-hot-ish ramps keyed
        # on the bench id (orthogonal-ish to the random fixture vectors)
        clean = (
            emb.filter(F.col("vec_id") < 5)
            .select((F.col("vec_id") + 950).alias("bench_id"))
            .withColumn(
                "embedding",
                F.transform(
                    F.sequence(F.lit(1), F.lit(64)),
                    lambda i: F.when(
                        i == (F.col("bench_id") % 64) + 1, F.lit(1.0)
                    ).otherwise(F.lit(0.0)),
                ),
            )
        )
        bench = leak.unionByName(clean)
        return semantic_contamination(emb, bench, threshold=0.95)

    q["decontaminate_semantic"] = decontaminate_semantic

    def media_decode(spark, sf_dir):
        from tilekiln_spark.operators.multimodal import decode_image, synth_media

        return decode_image(synth_media(spark, 200))

    q["media_decode"] = media_decode

    def media_decode_real(spark, sf_dir):
        """REAL codec path, hash-checked (closes the r3 Train-media
        partial): executor-built solid-color PNGs (multimodal.synth_png_media
        — every pixel a closed-form function of media_id) decode through
        decode_image(strict=True) = the pure-numpy PNG codec
        (functions/png.py); DuckDB re-derives width/height/channel means and
        the cross-channel std from the same media_id formulas."""
        from tilekiln_spark.operators.multimodal import decode_image, synth_png_media

        out = decode_image(synth_png_media(spark, 200), strict=True)
        return out.select(
            "media_id", "width", "height", "mean_r", "mean_g", "mean_b",
            F.round("std", 4).alias("std4"),
        )

    q["media_decode_real"] = media_decode_real

    def media_decode_jpeg(spark, sf_dir):
        """REAL baseline-JPEG codec path, hash-checked (closes the r4
        "What's missing" #1 — JPEG is the dominant crawl image format):
        executor-built solid-color baseline JPEGs (multimodal.
        synth_jpeg_media) decode through decode_image(strict=True) = the
        pure-numpy huffman+dequant+IDCT+YCbCr codec (functions/jpeg.py).
        JPEG is lossy, but a solid color collapses the whole chain to a
        closed form over (r, g, b) — every rounding is the codec's
        floor(x + 0.5 + 1e-9) contract — which the DuckDB twin replays
        arithmetically (validated against the real codec for all 200 ids
        in tests/test_jpeg.py)."""
        from tilekiln_spark.operators.multimodal import decode_image, synth_jpeg_media

        out = decode_image(synth_jpeg_media(spark, 200), strict=True)
        return out.select(
            "media_id", "width", "height", "mean_r", "mean_g", "mean_b",
            F.round("std", 4).alias("std4"),
        )

    q["media_decode_jpeg"] = media_decode_jpeg

    def media_frame_sample(spark, sf_dir):
        from tilekiln_spark.operators.multimodal import frame_sample, synth_media

        return frame_sample(synth_media(spark, 100, kind="video"), every_ms=1000)

    q["media_frame_sample"] = media_frame_sample

    def hll_host_distinct(spark, sf_dir):
        """HyperLogLog distinct-URL estimate per host (operators/
        sketches.py hll_distinct — Flajolet et al. 2007): the at-scale
        replacement for count(DISTINCT url) per host, which at 10^12 rows
        shuffles every distinct key.  Registers are max(rho) per (host,
        bucket) — commutative and idempotent, so partial sketches merge
        exactly under any partitioning; the harmonic sum is a dyadic
        rational (exact in doubles), so Spark and the DuckDB twin produce
        the SAME estimate, not just statistically-close ones.  The exact
        distinct count rides along for the error column."""
        from tilekiln_spark.functions.web import url_host, url_normalize
        from tilekiln_spark.operators.sketches import hll_distinct

        urls = _messy_urls(_docs(spark, sf_dir)).select(
            url_host("url").alias("host"), url_normalize("url").alias("url_norm")
        )
        sk = hll_distinct(urls, F.col("url_norm"), group_cols=["host"], p=6)
        exact = urls.groupBy("host").agg(
            F.countDistinct("url_norm").alias("n_exact")
        )
        return sk.join(exact, "host").select(
            "host", "n_exact", "hll_est", "hll_registers_used"
        )

    q["hll_host_distinct"] = hll_host_distinct

    def kmv_lang_distinct(spark, sf_dir):
        """KMV / bottom-k distinct-text estimate per language (operators/
        sketches.py kmv_distinct — Bar-Yossef et al. 2002): keep the k=16
        smallest md5-derived hash values per group; estimate
        (k-1)/(h_k/2^32).  The k-th minimum is a rank over exact integers
        — no float state — and Catalyst's WindowGroupLimit prunes each map
        partition to its local bottom-k before the shuffle.  Exact
        distinct rides along; groups under k report exactly."""
        from tilekiln_spark.operators.sketches import kmv_distinct

        docs = _docs(spark, sf_dir).select("lang", F.md5("text").alias("sig"))
        sk = kmv_distinct(docs, F.col("sig"), group_cols=["lang"], k=16)
        exact = docs.groupBy("lang").agg(F.countDistinct("sig").alias("n_exact"))
        return sk.join(exact, "lang").select(
            "lang", "n_exact", "kmv_est", "kmv_exact_below_k"
        )

    q["kmv_lang_distinct"] = kmv_lang_distinct

    def cms_heavy_hitters(spark, sf_dir):
        """Count-min-sketch heavy hitters (operators/sketches.py
        cms_counters + cms_point_estimate — Cormode & Muthukrishnan 2005):
        depth-3 x width-32 integer counters over host page counts; the
        point estimate min_d(counter) never underestimates.  Counters are
        exact integer sums, so the merged sketch is identical under any
        partitioning and engine.  Probes are the exact top-8 hosts (count
        desc, host asc tie-break); the estimate column shows the one-sided
        sketch error against the exact count."""
        from tilekiln_spark.functions.web import url_host
        from tilekiln_spark.operators.sketches import (
            cms_counters, cms_point_estimate,
        )

        pages = _messy_urls(_docs(spark, sf_dir)).select(
            url_host("url").alias("host")
        )
        counters = cms_counters(pages, F.col("host"), depth=3, width=32)
        top = (
            pages.groupBy("host")
            .agg(F.count("*").alias("n_exact"))
            .orderBy(F.col("n_exact").desc(), F.col("host"))
            .limit(8)
        )
        est = cms_point_estimate(counters, top, "host", depth=3, width=32)
        return top.join(est, "host").select(
            "host", "n_exact", F.col("cms_est").cast("long").alias("cms_est")
        )

    q["cms_heavy_hitters"] = cms_heavy_hitters

    def bloom_decontam(spark, sf_dir):
        """Bloom-filter membership pre-filter (operators/sketches.py
        bloom_bits + bloom_probe): the decontamination shape at 100 TB —
        the eval-set bit set (m=1024, k=3, deterministic md5 positions) is
        tiny and broadcast; the corpus probe is map-only + one per-key
        count.  No false negatives by construction (every exact member
        must report bloom_hit = true); false positives are the sized-in
        cost that the exact-match join only pays on survivors.  Output is
        one row per distinct text signature with the sketch verdict and
        the exact membership bit so the driver hash pins both."""
        from tilekiln_spark.operators.sketches import bloom_bits, bloom_probe

        docs = _docs(spark, sf_dir)
        evalset = docs.where(F.col("doc_id") % 7 == 0).select(
            F.md5("text").alias("sig")
        ).distinct()
        probes = docs.select(F.md5("text").alias("sig")).distinct()
        bits = bloom_bits(evalset, F.col("sig"), m_bits=1024, k_hashes=3)
        hit = bloom_probe(bits, probes, "sig", m_bits=1024, k_hashes=3)
        exact = probes.join(
            evalset.withColumn("_in", F.lit(True)), ["sig"], "left"
        ).select("sig", F.coalesce("_in", F.lit(False)).alias("exact_hit"))
        return hit.join(exact, "sig").select("sig", "bloom_hit", "exact_hit")

    q["bloom_decontam"] = bloom_decontam

    def geary_c_q(spark, sf_dir):
        """Global Geary's C (operators/raster.py geary_c — PySAL
        esda.Geary, queen weights, bbox study region): the difference-
        based autocorrelation companion to morans_i.  The pair-difference
        numerator folds into 2·Σdeg·x² − 2·Σx·S8 off the SAME shared 3x3
        stencil — exact integer sums, one stencil shuffle + one tiny
        global aggregate.  The DuckDB twin replays the identical sums and
        the one final scalar assembly."""
        from tilekiln_spark.operators.raster import geary_c as _gc
        from tilekiln_spark.operators.raster import rasterize

        d = _mx_my(_docs(spark, sf_dir))
        return _gc(rasterize(d, zoom=2, res=16), res=16)

    q["geary_c"] = geary_c_q

    def raster_curvature(spark, sf_dir):
        """Zevenbergen–Thorne curvature (operators/raster.py curvature_zt
        — ArcGIS Curvature parity on the count grid): general / profile /
        plan curvature per present cell off the shared 3x3 stencil; flat
        windows (G²+H²=0) emit NULL profile/plan.  Pure arithmetic, same
        float expressions cross-engine."""
        from tilekiln_spark.operators.raster import curvature_zt, rasterize

        d = _mx_my(_docs(spark, sf_dir))
        return curvature_zt(rasterize(d, zoom=2, res=16), res=16)

    q["raster_curvature"] = raster_curvature

    def graph_triangles(spark, sf_dir):
        """Per-node triangle counts + local clustering coefficient
        (operators/graph.py triangle_counts — the GraphX TriangleCount /
        Watts-Strogatz canon) over the deterministic pagerank link graph,
        canonicalized to the undirected simple edge set.  Triangles are
        enumerated once each via the ordered u<v<w two-path join; per-node
        counts scatter to the three corners.  Exact integers; local_cc is
        the same float expression cross-engine."""
        from tilekiln_spark.operators.graph import triangle_counts

        d = _docs(spark, sf_dir).select("doc_id")
        n = d.count()
        e = (
            d.filter((F.col("doc_id") % 5) != 0)
            .select(
                F.col("doc_id").alias("src"),
                F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
            )
            .select("src", ((F.col("src") * 7 + F.col("j")) % n).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        return triangle_counts(e).select(
            F.col("node").cast("long").alias("node"),
            F.col("degree").cast("long").alias("degree"),
            F.col("n_tri").cast("long").alias("n_tri"),
            "local_cc",
        )

    q["graph_triangles"] = graph_triangles

    def k_core_q(spark, sf_dir):
        """k-core decomposition membership (operators/graph.py k_core —
        Seidman 1983) at k=4 over a designed core+periphery graph: a
        40-node ring core where i links to (i+1..3) mod 40 (undirected
        degree 6), a chain periphery i→i−1 (degree ≤ 3 with its every-
        third attachment into the core), so the peel genuinely removes
        the periphery and keeps exactly the ring.  Iterates to fixpoint
        (raises rather than truncating); the DuckDB twin unrolls a FIXED
        6 peel rounds — peeling is monotone, so any round count ≥ the
        convergence round (measured 2-3 here) lands on the identical
        fixpoint."""
        from tilekiln_spark.operators.graph import k_core

        d = _docs(spark, sf_dir).select("doc_id")
        core = (
            d.filter(F.col("doc_id") < 40)
            .select(
                F.col("doc_id").alias("src"),
                F.explode(
                    F.array(F.lit(1), F.lit(2), F.lit(3))
                ).alias("j"),
            )
            .select("src", ((F.col("src") + F.col("j")) % 40).alias("dst"))
        )
        chain = d.filter(F.col("doc_id") >= 40).select(
            F.col("doc_id").alias("src"), (F.col("doc_id") - 1).alias("dst")
        )
        attach = d.filter(
            (F.col("doc_id") >= 40) & (F.col("doc_id") % 3 == 0)
        ).select(F.col("doc_id").alias("src"), (F.col("doc_id") % 40).alias("dst"))
        e = core.union(chain).union(attach)
        out = k_core(e, k=4, max_iter=30)
        return out.select(
            F.col("node").cast("long").alias("node"),
            F.col("core_degree").cast("long").alias("core_degree"),
        )

    q["k_core"] = k_core_q

    def graph_assortativity(spark, sf_dir):
        """Degree assortativity coefficient (operators/graph.py
        degree_assortativity — Newman 2002 eq. 4) over the deterministic
        pagerank link graph canonicalized undirected.  Every sum before
        the final division is an exact integer (the snapped-moment
        determinism pattern), so the one-row result is order-independent
        without folds; the DuckDB twin re-derives the identical degree
        table and edge sums."""
        from tilekiln_spark.operators.graph import degree_assortativity

        d = _docs(spark, sf_dir).select("doc_id")
        n = d.count()
        e = (
            d.filter((F.col("doc_id") % 5) != 0)
            .select(
                F.col("doc_id").alias("src"),
                F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
            )
            .select("src", ((F.col("src") * 7 + F.col("j")) % n).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        out = degree_assortativity(e)
        return out.select(
            F.col("m_edges").cast("long").alias("m_edges"),
            F.col("sum_jk").cast("long").alias("sum_jk"),
            F.col("sum_j_plus_k").cast("long").alias("sum_j_plus_k"),
            F.col("sum_j2_plus_k2").cast("long").alias("sum_j2_plus_k2"),
            "assortativity",
        )

    q["graph_assortativity"] = graph_assortativity

    def graph_reciprocity(spark, sf_dir):
        """Per-node directed link reciprocity (operators/graph.py
        reciprocity — Garlaschelli & Loffredo 2004 resolved per source):
        a designed directed fixture over the doc ids — the one-way chain
        i -> (i+1) % n, a deliberate back-edge (i+1) % n -> i on every
        i % 3 == 0 (the mutual pairs), and one-way hub links
        i -> (i*7) % n on i % 4 == 0 — so zero, partial, and full
        reciprocity all occur.  mutual is ONE semi-join of the edge set
        against its own swap; all counts exact integers."""
        from tilekiln_spark.operators.graph import reciprocity

        d = _docs(spark, sf_dir).select("doc_id")
        n = d.count()
        chain = d.select(
            F.col("doc_id").alias("src"), ((F.col("doc_id") + 1) % n).alias("dst")
        )
        back = d.filter(F.col("doc_id") % 3 == 0).select(
            ((F.col("doc_id") + 1) % n).alias("src"), F.col("doc_id").alias("dst")
        )
        hub = d.filter(F.col("doc_id") % 4 == 0).select(
            F.col("doc_id").alias("src"), ((F.col("doc_id") * 7) % n).alias("dst")
        )
        e = chain.union(back).union(hub)
        out = reciprocity(e)
        return out.select(
            F.col("node").cast("long").alias("node"),
            F.col("out_deg").cast("long").alias("out_deg"),
            F.col("in_deg").cast("long").alias("in_deg"),
            F.col("mutual").cast("long").alias("mutual"),
            "reciprocity",
        )

    q["graph_reciprocity"] = graph_reciprocity

    def label_propagation_q(spark, sf_dir):
        """Synchronous label-propagation communities (operators/graph.py
        label_propagation — Raghavan 2007 / GraphX convention, smallest-
        label tie-break) over a designed two-community fixture: two
        30-cliques (nodes 0..29 and 30..59) joined by the single bridge
        edge 0 -- 30.  Round 1 floods the min label across the bridge
        (the known min-tie-break leak); the clique mode wins it back by
        round 2 — so the 4-round labels genuinely split into the two
        communities {0} / {30}.  FOUR fixed rounds on both engines — the
        bounded-unroll determinism argument, no convergence assumption —
        and the twin unrolls the identical four argmax rounds with
        (cnt DESC, label ASC) ordering."""
        from tilekiln_spark.operators.graph import label_propagation

        d = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < 60)
        g = d.select(
            (F.col("doc_id") >= 30).cast("int").alias("grp"), F.col("doc_id")
        )
        cliq = (
            g.select("grp", F.col("doc_id").alias("src"))
            .join(g.select("grp", F.col("doc_id").alias("dst")), "grp")
            .where(F.col("src") < F.col("dst"))
            .select("src", "dst")
        )
        bridge = d.filter(F.col("doc_id") == 0).select(
            F.col("doc_id").alias("src"), F.lit(30).alias("dst")
        )
        e = cliq.union(bridge)
        out = label_propagation(e, rounds=4)
        return out.select(
            F.col("node").cast("long").alias("node"),
            F.col("label").cast("long").alias("label"),
        )

    q["label_propagation"] = label_propagation_q

    def nn_join(spark, sf_dir):
        """Exact all-points nearest-neighbor join (operators/spatial_join.py
        nearest_neighbors — spatstat nndist / PostGIS lateral <-> at k=1)
        over the doc_id % 3 == 0 sample: a bounded self dwithin_join at
        4,000 km proposes candidates, the per-point argmin recomputes
        EXACT squared distance from coordinates with an nn_id tie-break,
        and the no-candidate tail falls back to a brute-force pass — so
        the result is exact whatever the radius.  The DuckDB twin
        brute-forces all pairs with the identical d2 arithmetic and
        (d2, nn_id) ordering."""
        from tilekiln_spark.operators.spatial_join import nearest_neighbors

        pts = _mx_my(_docs(spark, sf_dir)).where(F.col("doc_id") % 3 == 0)
        out = nearest_neighbors(pts.select("doc_id", "mx", "my"), 4.0e6)
        return out.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("nn_id").cast("long").alias("nn_id"),
            (F.round(F.sqrt(F.col("nn_d2")), 3) + F.lit(0.0)).alias("nn_dist_m"),
        )

    q["nn_join"] = nn_join

    def clark_evans_q(spark, sf_dir):
        """Clark-Evans nearest-neighbor R index + z statistic (operators/
        spatial_join.py clark_evans — Clark & Evans 1954, bbox study
        area, no edge correction) over the same doc sample: the exact NN
        join feeds a SORTED-fold mean (order-immaterial distributed sum),
        the bbox moments are exact min/max selections, and the one
        output row carries R and z rounded at 6dp on both engines."""
        from tilekiln_spark.operators.spatial_join import clark_evans

        pts = _mx_my(_docs(spark, sf_dir)).where(F.col("doc_id") % 3 == 0)
        out = clark_evans(pts.select("doc_id", "mx", "my"), 4.0e6)
        return out.select(
            F.col("n_points").cast("long").alias("n_points"),
            (F.round(F.col("area") / 1.0e12, 6) + F.lit(0.0)).alias("area_mkm2"),
            (F.round(F.col("mean_nn") / 1.0e3, 6) + F.lit(0.0)).alias("mean_nn_km"),
            (F.round(F.col("r_index"), 6) + F.lit(0.0)).alias("r_index"),
            (F.round(F.col("z_score"), 6) + F.lit(0.0)).alias("z_score"),
        )

    q["clark_evans"] = clark_evans_q

    def colocation_quotient_q(spark, sf_dir):
        """Colocation quotient matrix (operators/spatial_join.py
        colocation_quotient — Leslie & Kronenfeld 2011, k=1): which
        language's pages sit next to which?  Ordered (lang_a, lang_b)
        CLQ over the same exact NN join; every count an exact integer,
        the quotient ONE division of exact integers (bit-identical
        cross-engine), zero-pair rows emitted so the full |langs|^2 grid
        compares."""
        from tilekiln_spark.operators.spatial_join import colocation_quotient

        pts = _mx_my(_docs(spark, sf_dir)).where(F.col("doc_id") % 3 == 0)
        out = colocation_quotient(
            pts.select("doc_id", "lang", "mx", "my"), 4.0e6, category="lang"
        )
        return out.select(
            "cat_a",
            "cat_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("nn_pairs").cast("long").alias("nn_pairs"),
            (F.round("clq", 6) + F.lit(0.0)).alias("clq"),
        )

    q["colocation_quotient"] = colocation_quotient_q

    def _dem_cells(spark, sf_dir):
        """The hydrology DEM fixture: doc_id < 256 -> a 16x16 integer
        bowl with a deterministic bump, z = (gx-8)^2 + (gy-8)^2 +
        ((gx*7 + gy*3) % 5) — one interior sink, D8 paths up to 8 long,
        plateau ties that exercise the smallest-code tie-break.  Both
        engines re-derive every elevation."""
        d = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < 256)
        gx = (F.col("doc_id") % 16).cast("int")
        gy = F.floor(F.col("doc_id") / F.lit(16)).cast("int")
        z = (
            (gx - 8) * (gx - 8)
            + (gy - 8) * (gy - 8)
            + ((gx * 7 + gy * 3) % 5)
        ).cast("long")
        return d.select(
            F.lit(0).alias("x"),
            F.lit(0).alias("y"),
            gx.alias("bin_x"),
            gy.alias("bin_y"),
            z.alias("n"),
        )

    def flow_direction_d8(spark, sf_dir):
        """D8 flow direction (operators/raster.py d8_flow — O'Callaghan &
        Mark 1984, ESRI/GDAL codes) over the bowl-with-bump DEM: steepest
        downhill of 8 neighbors with the diagonal √2 priced EXACTLY as
        2·drop² vs drop² (integer squares — no irrational ever compared),
        ties to the smallest code, sinks code 0, absent neighbors
        elevation 0 (edge drains off-grid).  One shared 3x3 stencil + a
        map-only HOF argmax; the DuckDB twin re-runs the identical
        neighbor weights through a window argmax."""
        from tilekiln_spark.operators.raster import d8_flow

        out = d8_flow(_dem_cells(spark, sf_dir), res=16)
        return out.select(
            F.col("gx").cast("long").alias("gx"),
            F.col("gy").cast("long").alias("gy"),
            F.col("z").cast("long").alias("z"),
            F.col("d8").cast("long").alias("d8"),
            F.col("drop").cast("long").alias("drop"),
        )

    q["flow_direction_d8"] = flow_direction_d8

    def flow_accumulation_q(spark, sf_dir):
        """D8 flow accumulation (operators/raster.py flow_accumulation):
        upstream-cell counts over the D8 forest via the MONOTONE fixpoint
        acc'(c) = Σ_{u→c}(1 + acc(u)) — Spark iterates to the detected
        fixpoint (longest path 8 on this DEM, raises past max_iter), the
        twin unrolls 10 fixed rounds ≥ convergence (the k-core bounded-
        unroll argument).  All counts exact integers; the interior sink
        collects 195 of the 255 other cells."""
        from tilekiln_spark.operators.raster import flow_accumulation

        out = flow_accumulation(_dem_cells(spark, sf_dir), res=16, max_iter=20)
        return out.select(
            F.col("gx").cast("long").alias("gx"),
            F.col("gy").cast("long").alias("gy"),
            F.col("z").cast("long").alias("z"),
            F.col("d8").cast("long").alias("d8"),
            F.col("acc").cast("long").alias("acc"),
        )

    q["flow_accumulation"] = flow_accumulation_q

    def crawl_schedule_q(spark, sf_dir):
        """Politeness-constrained crawl-frontier schedule (operators/
        webstats.py crawl_schedule — the Heritrix/Nutch host-queue
        model) over the messy-URL corpus: per-host Crawl-delay seconds
        parsed from synthesized robots bodies (parse_crawl_delays; the
        .news hosts omit the directive and take the 7 s default), URLs
        sequenced per host with not_before_s = (seq-1)*delay, hosts
        PINNED to workers by the replayable md5_u32 hash, and each
        worker's queue ranked by (not_before_s, url).  The DuckDB twin
        derives the delays arithmetically from the host digit — an
        INDEPENDENT derivation that cross-checks the parser — and
        replays the same windows and md5 pin."""
        from tilekiln_spark.operators.webstats import (
            crawl_schedule, parse_crawl_delays,
        )
        from tilekiln_spark.functions.web import url_host

        pages = _messy_urls(_docs(spark, sf_dir)).select(
            "url", url_host("url").alias("host")
        )
        hosts = pages.select("host").distinct()
        d = F.regexp_extract("host", "host([0-9])", 1).cast("int")
        is_news = F.col("host").contains(".news.")
        txt = F.when(
            is_news, F.lit("User-Agent: *\nDisallow: /tmp/\n")
        ).otherwise(
            F.concat(
                F.lit("User-Agent: *\ncrawl-DELAY: "),
                (F.lit(5) + (d % 3) * 5).cast("string"),
                F.lit("\nDisallow: /cart\n"),
            )
        )
        delays = parse_crawl_delays(hosts.select("host", txt.alias("robots_txt")))
        out = crawl_schedule(pages, delays, workers=4, default_delay_s=7.0)
        return out.select(
            "url",
            "host",
            F.col("worker").cast("long").alias("worker"),
            F.col("fetch_seq").cast("long").alias("fetch_seq"),
            (F.round("not_before_s", 6) + F.lit(0.0)).alias("not_before_s"),
            F.col("queue_pos").cast("long").alias("queue_pos"),
        )

    q["crawl_schedule"] = crawl_schedule_q

    def watershed_basins_q(spark, sf_dir):
        """Watershed basin labeling (operators/raster.py watershed_basins
        — ESRI Watershed / GRASS r.watershed basins) over the bowl DEM by
        POINTER DOUBLING: each round one self-join squares the pointer,
        so the longest-path-8 forest converges in 3 doublings (log
        rounds, not path rounds — the technique that keeps basin labeling
        feasible on 100 TB DEMs).  Roots are the interior sink + every
        edge cell draining off-grid (61 on this DEM; the sink's basin
        holds 196 cells).  The twin unrolls 5 fixed doublings ≥
        convergence — past the fixpoint they are no-ops."""
        from tilekiln_spark.operators.raster import watershed_basins

        out = watershed_basins(_dem_cells(spark, sf_dir), res=16, max_iter=10)
        return out.select(
            F.col("gx").cast("long").alias("gx"),
            F.col("gy").cast("long").alias("gy"),
            F.col("z").cast("long").alias("z"),
            F.col("d8").cast("long").alias("d8"),
            F.col("basin_gx").cast("long").alias("basin_gx"),
            F.col("basin_gy").cast("long").alias("basin_gy"),
            "is_root",
        )

    q["watershed_basins"] = watershed_basins_q

    def g_function_q(spark, sf_dir):
        """NN-distance distribution G(r) (operators/spatial_join.py
        g_function — spatstat Gest, uncorrected) over the doc_id % 3
        sample at 1,000 / 2,500 / 5,000 km: one exact nearest_neighbors
        pass, every radius an EXACT squared-distance cut of the same
        result (the ripleys_k boundary rule) — counts exact integers,
        G one division each.  The twin brute-forces the NN minima and
        applies the identical cuts."""
        from tilekiln_spark.operators.spatial_join import g_function

        pts = _mx_my(_docs(spark, sf_dir)).where(F.col("doc_id") % 3 == 0)
        out = g_function(
            pts.select("doc_id", "mx", "my"), 4.0e6, [1.0e6, 2.5e6, 5.0e6]
        )
        return out.select(
            (F.col("r") / 1000.0).alias("r_km"),
            F.col("n_le").cast("long").alias("n_le"),
            (F.round("g_hat", 6) + F.lit(0.0)).alias("g_hat"),
        )

    q["g_function"] = g_function_q

    def community_modularity_q(spark, sf_dir):
        """Per-community Newman modularity (operators/graph.py
        community_modularity) of the label_propagation communities on
        the two-clique fixture: every formula input an exact integer
        (internal edge counts, degree sums — the snapped-moment rule),
        so Q_c is a single expression over exact values.  The twin
        recomputes the 4 LPA rounds AND the modularity rollup."""
        from tilekiln_spark.operators.graph import (
            community_modularity, label_propagation,
        )

        d = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < 60)
        g = d.select(
            (F.col("doc_id") >= 30).cast("int").alias("grp"), F.col("doc_id")
        )
        cliq = (
            g.select("grp", F.col("doc_id").alias("src"))
            .join(g.select("grp", F.col("doc_id").alias("dst")), "grp")
            .where(F.col("src") < F.col("dst"))
            .select("src", "dst")
        )
        bridge = d.filter(F.col("doc_id") == 0).select(
            F.col("doc_id").alias("src"), F.lit(30).alias("dst")
        )
        e = cliq.union(bridge)
        labels = label_propagation(e, rounds=4)
        out = community_modularity(e, labels)
        return out.select(
            F.col("label").cast("long").alias("label"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("internal_edges").cast("long").alias("internal_edges"),
            F.col("degree_sum").cast("long").alias("degree_sum"),
            (F.round("q_contrib", 6) + F.lit(0.0)).alias("q_contrib"),
        )

    q["community_modularity"] = community_modularity_q

    def strahler_order_q(spark, sf_dir):
        """Strahler stream order (operators/raster.py strahler_order —
        Strahler 1957 / GRASS r.stream.order) over the bowl DEM's D8
        forest: leaves order 1, order bumps only where two equal-order
        streams meet.  MONOTONE fixpoint from all-1 (orders only rise),
        detected on Spark, unrolled 7 fixed rounds in the twin (measured
        convergence 6 incl. detection; extra rounds no-ops).  The sink
        reaches order 5; every update is exact-integer (max + tie
        count)."""
        from tilekiln_spark.operators.raster import strahler_order

        out = strahler_order(_dem_cells(spark, sf_dir), res=16, max_iter=20)
        return out.select(
            F.col("gx").cast("long").alias("gx"),
            F.col("gy").cast("long").alias("gy"),
            F.col("z").cast("long").alias("z"),
            F.col("d8").cast("long").alias("d8"),
            F.col("strahler").cast("long").alias("strahler"),
        )

    q["strahler_order"] = strahler_order_q

    def _crater_cells(spark, sf_dir):
        """The depression-fill fixture: doc_id < 256 -> a 16x16 crater
        on Chebyshev rings d = max(|gx-8|,|gy-8|): basin z=d for d<=2,
        rim z=20 at d=3 with ONE notch cell (11,8) z=5, outside slope
        z=12-d.  The spill level is 8 — set by the d=4 ring OUTSIDE the
        notch, not the notch itself — the classic fill subtlety.  Both
        engines re-derive every elevation."""
        d = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < 256)
        gx = (F.col("doc_id") % 16).cast("int")
        gy = F.floor(F.col("doc_id") / F.lit(16)).cast("int")
        cd = F.greatest(F.abs(gx - 8), F.abs(gy - 8))
        z = (
            F.when(cd <= 2, cd)
            .when(
                cd == 3,
                F.when((gx == 11) & (gy == 8), F.lit(5)).otherwise(F.lit(20)),
            )
            .otherwise(F.lit(12) - cd)
        ).cast("long")
        return d.select(
            F.lit(0).alias("x"),
            F.lit(0).alias("y"),
            gx.alias("bin_x"),
            gy.alias("bin_y"),
            z.alias("n"),
        )

    def fill_sinks_q(spark, sf_dir):
        """Depression filling (operators/raster.py fill_sinks — Planchon
        & Darboux 2001 eps=0, ESRI Fill / GRASS r.fill.dir) over the
        notched-crater DEM: the monotone fixpoint W' = max(z, min_8 W)
        from W0=+BIG, absent neighbors elevation 0 (edge drains
        off-grid).  26 cells fill to the spill level 8 — set by the d=4
        ring outside the notch, the escape-path-max semantics.  Spark
        iterates to the detected fixpoint (round 11 here, raises past
        max_iter); the twin unrolls 14 fixed rounds >= convergence (the
        k-core bounded-unroll argument).  All-integer arithmetic."""
        from tilekiln_spark.operators.raster import fill_sinks

        out = fill_sinks(_crater_cells(spark, sf_dir), res=16, max_iter=20)
        return out.select(
            F.col("gx").cast("long").alias("gx"),
            F.col("gy").cast("long").alias("gy"),
            F.col("z").cast("long").alias("z"),
            F.col("filled").cast("long").alias("filled"),
            F.col("fill_depth").cast("long").alias("fill_depth"),
        )

    q["fill_sinks"] = fill_sinks_q

    def cost_distance_q(spark, sf_dir):
        """Accumulated-cost surface (operators/raster.py cost_distance —
        ESRI CostDistance / GRASS r.cost) priced by the Borgefors
        chamfer 2-3 integer metric: price(a->b) = (cost_a + cost_b) x
        (2 cardinal | 3 diagonal), every accumulated cost an EXACT
        integer.  Friction fixture: unit cost with a cost-50 wall at
        gx=8 and one unit gap at (8,12); source (2,8) — the optimal
        route east detours through the gap (cell (8,8): 122 across vs
        neighbors ~50 around).  Bellman-Ford relaxation from +BIG is
        MONOTONE NONINCREASING (fixpoint round 19 here; Spark iterates
        to detection, the twin unrolls 22 fixed rounds — the k-core
        bounded-unroll argument)."""
        from tilekiln_spark.operators.raster import cost_distance

        d = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < 256)
        gx = (F.col("doc_id") % 16).cast("int")
        gy = F.floor(F.col("doc_id") / F.lit(16)).cast("int")
        cost = F.when((gx == 8) & (gy != 12), F.lit(50)).otherwise(F.lit(1))
        cells = d.select(
            F.lit(0).alias("x"),
            F.lit(0).alias("y"),
            gx.alias("bin_x"),
            gy.alias("bin_y"),
            cost.cast("long").alias("n"),
        )
        out = cost_distance(cells, [(2, 8)], res=16, max_iter=40)
        return out.select(
            F.col("gx").cast("long").alias("gx"),
            F.col("gy").cast("long").alias("gy"),
            F.col("cost").cast("long").alias("cost"),
            F.col("acc").cast("long").alias("acc"),
        )

    q["cost_distance"] = cost_distance_q

    def flow_length_q(spark, sf_dir):
        """D8 flow length both directions (operators/raster.py
        flow_length — ESRI FlowLength) over the bowl DEM, steps priced
        in half-cell integer units (cardinal 2 / diagonal 3, the chamfer
        2-3 integerization): down = distance to sink/off-grid outlet,
        up = longest upstream drainage path (time-of-concentration
        pair).  Both MONOTONE NONDECREASING fixpoints from 0 (Spark
        iterates to detection; the twin unrolls 12 fixed rounds >= the
        longest-path-8 convergence).  All-integer arithmetic."""
        from tilekiln_spark.operators.raster import flow_length

        out = flow_length(_dem_cells(spark, sf_dir), res=16, max_iter=30)
        return out.select(
            F.col("gx").cast("long").alias("gx"),
            F.col("gy").cast("long").alias("gy"),
            F.col("z").cast("long").alias("z"),
            F.col("d8").cast("long").alias("d8"),
            F.col("down_len").cast("long").alias("down_len"),
            F.col("up_len").cast("long").alias("up_len"),
        )

    q["flow_length"] = flow_length_q

    def region_group_q(spark, sf_dir):
        """Raster region grouping (operators/raster.py region_group —
        ESRI RegionGroup / GDAL sieve labeling) under 8-connectivity
        over the 4x4-block value raster v = (gx//4 + gy//4) % 3: no two
        4-adjacent blocks share a value, but same-value blocks touch at
        corners, so 8-conn merges the anti-diagonal chains into 7
        regions (4-conn would give 16 — the pytest-covered contrast).
        Min-label propagation with a per-round pointer SHORTCUT
        (label-of-label, Shiloach-Vishkin style) — O(log diameter)
        rounds; the fixpoint (lexicographic-min cell per component) is
        schedule-independent, Spark iterates to detection (round 7
        here), the twin unrolls 9 identical rounds.  Labels are exact
        integer coordinate PAIRS — no packed-id overflow at z30 grids."""
        from tilekiln_spark.operators.raster import region_group

        d = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < 256)
        gx = (F.col("doc_id") % 16).cast("int")
        gy = F.floor(F.col("doc_id") / F.lit(16)).cast("int")
        v = ((F.floor(gx / F.lit(4)) + F.floor(gy / F.lit(4))) % 3).cast("long")
        cells = d.select(
            F.lit(0).alias("x"),
            F.lit(0).alias("y"),
            gx.alias("bin_x"),
            gy.alias("bin_y"),
            v.alias("n"),
        )
        out = region_group(cells, res=16, connectivity=8, max_iter=15)
        return out.select(
            F.col("gx").cast("long").alias("gx"),
            F.col("gy").cast("long").alias("gy"),
            F.col("v").cast("long").alias("v"),
            F.col("region_gx").cast("long").alias("region_gx"),
            F.col("region_gy").cast("long").alias("region_gy"),
            F.col("region_size").cast("long").alias("region_size"),
        )

    q["region_group"] = region_group_q

    def wetness_index_q(spark, sf_dir):
        """Topographic wetness index (operators/raster.py wetness_index
        — Beven & Kirkby 1979, GRASS r.topidx): TWI = ln((acc+1) /
        max(tan beta, 1e-3)) over the bowl DEM — the composition
        showcase of flow_accumulation (exact-integer upstream counts,
        twin unrolls 10 monotone rounds) and the Horn 3x3 slope stencil
        (identical term order both engines).  One equi-join + map-only
        math; floats rounded to 6 decimals at the boundary (the
        libm-ulp rule).  The interior sink (acc=195, near-flat) is the
        wettest cell."""
        from tilekiln_spark.operators.raster import wetness_index

        out = wetness_index(_dem_cells(spark, sf_dir), res=16, max_iter=20)
        return out.select(
            F.col("gx").cast("long").alias("gx"),
            F.col("gy").cast("long").alias("gy"),
            F.col("z").cast("long").alias("z"),
            F.col("acc").cast("long").alias("acc"),
            (F.col("tan_slope") + F.lit(0.0)).alias("tan_slope"),
            (F.col("twi") + F.lit(0.0)).alias("twi"),
        )

    q["wetness_index"] = wetness_index_q

    def sitemap_parse_q(spark, sf_dir):
        """Sitemap protocol parsing (operators/webstats.py
        parse_sitemaps — sitemaps.org): per-host XML synthesized
        deterministically (7 urlset hosts x 3 entries with
        parity-varying optional lastmod/changefreq/priority and
        embedded newlines/whitespace; 1 sitemapindex host whose nested
        <sitemap> locs come back as kind='index' recursion frontier).
        Pure codegen: ONE DOTALL lazy regexp_extract_all + posexplode,
        ''-to-NULL aligned across engines.  Map-only — the parsed rows
        feed crawl_schedule at 10^8-host scale with no shuffle."""
        from tilekiln_spark.operators.webstats import parse_sitemaps

        hosts = (
            _docs(spark, sf_dir)
            .select((F.col("doc_id") % 8).cast("int").alias("k"))
            .distinct()
        )
        host = F.concat(F.lit("host"), F.col("k").cast("string"),
                        F.lit(".example.com"))

        def entry(i):
            loc = F.concat(
                F.lit("\n  <url>\n    <loc> https://host"),
                F.col("k").cast("string"),
                F.lit(f".example.com/p{i} </loc>"),
            )
            lastmod = F.when(
                (F.col("k") + i) % 2 == 0,
                F.concat(
                    F.lit("\n    <lastmod>2024-01-0"),
                    (((F.col("k") + i) % 9) + 1).cast("string"),
                    F.lit("</lastmod>"),
                ),
            ).otherwise(F.lit(""))
            extra = F.lit(
                "\n    <changefreq>daily</changefreq>" if i == 1
                else ("\n    <priority>0.2</priority>" if i == 2 else "")
            )
            return F.concat(loc, lastmod, extra, F.lit("\n  </url>"))

        urlset = F.concat(
            F.lit('<?xml version="1.0"?>\n<urlset>'),
            entry(1), entry(2), entry(3),
            F.lit("\n</urlset>"),
        )
        index = F.lit(
            "<sitemapindex><sitemap><loc>https://host7.example.com/s1.xml"
            "</loc></sitemap><sitemap>\n<loc>https://host7.example.com/"
            "s2.xml</loc>\n<lastmod>2024-03-01</lastmod></sitemap>"
            "</sitemapindex>"
        )
        maps = hosts.select(
            host.alias("host"),
            F.when(F.col("k") == 7, index).otherwise(urlset).alias(
                "sitemap_xml"
            ),
        )
        out = parse_sitemaps(maps)
        return out.select(
            "host", "kind",
            F.col("pos").cast("long").alias("pos"),
            "loc", "lastmod", "changefreq",
            (F.col("priority") + 0.0).alias("priority"),
        )

    q["sitemap_parse"] = sitemap_parse_q

    def shape_compactness(spark, sf_dir):
        """Shape-compactness metrics per polygon — Polsby-Popper 4πA/P²
        (the districting-law standard), Schwartzberg 2√(πA)/P (both 1.0
        for a circle), and bbox elongation — over the full mixed ring
        fixture (rects, diamond, concave L, CW-wound ring).  Area and
        perimeter are the SAME shared folds the planar measures use
        (functions/geometry.py ring_area / ring_perimeter — one JVM HOF
        each, map-only); the twin is GENERATED by the same *_sql
        builders, so the arithmetic has one definition."""
        from tilekiln_spark.functions.geometry import ring_area, ring_perimeter

        polys = _contain_poly_fixture(
            spark, list(_CONTAIN_POLYS_UV) + list(_AREA_POLYS_UV)
        )
        xs, ys = F.col("ring_xs"), F.col("ring_ys")
        a = F.abs(ring_area(xs, ys))
        p = ring_perimeter(xs, ys)
        w = F.col("xmax") - F.col("xmin")
        h = F.col("ymax") - F.col("ymin")
        pi = float(math.pi)
        return polys.select(
            "polygon_id",
            (F.round(a / 1.0e12, 6) + F.lit(0.0)).alias("area_mkm2"),
            (F.round(p / 1.0e3, 6) + F.lit(0.0)).alias("perimeter_km"),
            (F.round(F.lit(4.0 * pi) * a / (p * p), 6) + F.lit(0.0)).alias(
                "polsby_popper"
            ),
            (F.round(F.lit(2.0) * F.sqrt(F.lit(pi) * a) / p, 6) + F.lit(0.0)).alias(
                "schwartzberg"
            ),
            (F.round(F.least(w, h) / F.greatest(w, h), 6) + F.lit(0.0)).alias(
                "elongation"
            ),
        )

    q["shape_compactness"] = shape_compactness

    def personalized_pagerank_q(spark, sf_dir):
        """Personalized PageRank (operators/graph.py personalized_pagerank
        — Haveliwala 2002) over the deterministic link graph with seeds
        doc_id % 50 == 0: all teleport AND dangling mass restarts at the
        10 seeds, so rank localizes around them.  8 power iterations;
        the twin unrolls the identical rounds (the pagerank_links
        pattern) with the seed-indicator teleport."""
        from tilekiln_spark.operators.graph import personalized_pagerank

        d = _docs(spark, sf_dir).select("doc_id")
        n = d.count()
        e = (
            d.filter((F.col("doc_id") % 5) != 0)
            .select(
                F.col("doc_id").alias("src"),
                F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
            )
            .select("src", ((F.col("src") * 7 + F.col("j")) % n).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        nodes = d.select(F.col("doc_id").alias("node"))
        seeds = nodes.filter(F.col("node") % 50 == 0)
        out = personalized_pagerank(nodes, e, seeds, iterations=8)
        return out.select(
            F.col("node").cast("long").alias("doc_id"),
            (F.round(F.col("rank") * float(n), 6) + F.lit(0.0)).alias("norm_rank"),
        )

    q["personalized_pagerank"] = personalized_pagerank_q

    def harmonic_centrality_q(spark, sf_dir):
        """Harmonic centrality (operators/graph.py harmonic_centrality —
        Boldi & Vigna 2014) over a 200-node slice of the deterministic
        link graph (dst = (src*7 + j) % 200, j in 1..3, sinks at
        src % 5 == 0): all-pairs directed BFS by min-plus rounds to a
        detected fixpoint (diameter 11 on this fixture), then the
        per-node ordered (distance, count) fold sum(cnt/d).  The twin
        is a depth-bounded recursive CTE (d < 16 >= diameter) whose
        min(d) per pair IS the BFS distance, folding the identical
        ascending-distance list."""
        from tilekiln_spark.operators.graph import harmonic_centrality

        nodes, e = _link_graph(spark, sf_dir, 200)
        out = harmonic_centrality(nodes, e)
        return out.select(
            F.col("node").cast("long").alias("node"),
            F.col("n_reached").cast("long").alias("n_reached"),
            F.col("eccentricity").cast("long").alias("eccentricity"),
            F.col("harmonic"),
        )

    q["harmonic_centrality"] = harmonic_centrality_q

    def betweenness_centrality_q(spark, sf_dir):
        """Exact directed betweenness (operators/graph.py
        betweenness_centrality — Freeman 1977 via the Brandes 2001
        pair-counting identity) over the same 200-node link-graph slice
        as harmonic_centrality: frontier BFS builds the all-pairs
        (distance, exact-integer path count) table, BC(v) folds
        sigma_sv * sigma_vt / sigma_st over sorted (s, t) per v.  The
        twin unrolls 12 frontier rounds (>= diameter 11) as chained
        CTEs and folds the identical ordered list."""
        from tilekiln_spark.operators.graph import betweenness_centrality

        nodes, e = _link_graph(spark, sf_dir, 200)
        out = betweenness_centrality(nodes, e)
        return out.select(
            F.col("node").cast("long").alias("node"), F.col("betweenness")
        )

    q["betweenness_centrality"] = betweenness_centrality_q

    def cocitation_q(spark, sf_dir):
        """Co-citation + bibliographic coupling pair counts
        (operators/graph.py cocitation_counts — Small 1973 / Kessler
        1963) over the full deterministic link graph, keeping pairs
        with either count >= 2 so the result pins the genuinely-shared
        link structure.  Exact integers; the twin is the same two
        self-joins in SQL."""
        from tilekiln_spark.operators.graph import cocitation_counts

        d = _docs(spark, sf_dir).select("doc_id")
        n = d.count()
        e = (
            d.filter((F.col("doc_id") % 5) != 0)
            .select(
                F.col("doc_id").alias("src"),
                F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
            )
            .select("src", ((F.col("src") * 7 + F.col("j")) % n).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        out = cocitation_counts(e, min_count=2)
        return out.select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.col("cocite").cast("long").alias("cocite"),
            F.col("coupling").cast("long").alias("coupling"),
        )

    q["cocitation"] = cocitation_q

    def collocations_q(spark, sf_dir):
        """PMI + t-score bigram collocations (functions/text.py
        collocations — Church & Hanks 1990) over the documents corpus
        at min_count=5: exact integer count tables, one closed-form
        float expression per statistic written identically in the
        twin."""
        from tilekiln_spark.functions.text import collocations

        return collocations(_docs(spark, sf_dir), min_count=5).select(
            "w1", "w2", F.col("c12").cast("long").alias("c12"), "pmi", "t_score"
        )

    q["collocations"] = collocations_q

    def simrank_q(spark, sf_dir):
        """SimRank (operators/graph.py simrank — Jeh & Widom 2002, c=0.8,
        5 iterations) over a 60-node slice of the deterministic link
        graph: sparse pair-table iteration, sorted (i, j) contribution
        fold, identity diagonal.  The twin unrolls the identical five
        rounds as chained CTEs."""
        from tilekiln_spark.operators.graph import simrank

        nodes, e = _link_graph(spark, sf_dir, 60)
        out = simrank(nodes, e, c=0.8, iterations=5)
        return out.select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.col("s"),
        )

    q["simrank"] = simrank_q

    def minimum_spanning_forest(spark, sf_dir):
        """Distributed Borůvka MSF (operators/graph.py boruvka_msf)
        over a 120-node undirected slice of the link graph with unique
        integer weights w = ((u*13 + v*29) % 211)*100000 + u*300 + v.
        Unique weights make the forest UNIQUE, so the twin verifies by
        the CUT PROPERTY — an edge is in the forest iff its endpoints
        are disconnected under strictly lighter edges (a recursive-CTE
        reachability per edge) — an independent algorithm agreeing on
        the same exact-integer edge set."""
        from tilekiln_spark.operators.graph import boruvka_msf

        nodes, raw = _link_graph(spark, sf_dir, 120)
        e = (
            raw.select(
                F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"),
            )
            .distinct()
            .select(
                "u",
                "v",
                (
                    ((F.col("u") * 13 + F.col("v") * 29) % 211) * 100000
                    + F.col("u") * 300
                    + F.col("v")
                ).alias("w"),
            )
        )
        out = boruvka_msf(nodes, e)
        return out.select(
            F.col("u").cast("long").alias("u"),
            F.col("v").cast("long").alias("v"),
            F.col("w").cast("long").alias("w"),
        )

    q["minimum_spanning_forest"] = minimum_spanning_forest

    def phrase_search_q(spark, sf_dir):
        """Positional phrase search (operators/retrieval.py
        phrase_search — IIR §2.4.2) for 'query big part' over the
        documents corpus: pre-explode term filter, (doc, pos) postings
        intersection, exact integer counts."""
        from tilekiln_spark.operators.retrieval import phrase_search

        out = phrase_search(
            _docs(spark, sf_dir), ["query", "big", "part"]
        )
        return out.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_matches").cast("long").alias("n_matches"),
            F.col("first_pos").cast("long").alias("first_pos"),
        )

    q["phrase_search"] = phrase_search_q

    def fuzzy_url_pairs(spark, sf_dir):
        """SymSpell deletion-neighborhood fuzzy join (operators/dedup.py
        ed1_pairs — Garbe 2012 / FastSS) over lang-slug strings
        ('<lang>-p<doc_id>', the URL path segments of the messy fixture):
        candidates from ONE equi-join on single-deletion variants,
        verified by exact levenshtein <= 1 — digit substitutions and
        insertions pair up within a language, cross-language slugs stay
        distance 2.  Exact integers; the twin builds the identical
        variant sets in SQL."""
        from tilekiln_spark.operators.dedup import ed1_pairs

        slugs = _docs(spark, sf_dir).select(
            F.concat(
                F.col("lang"), F.lit("-p"), F.col("doc_id").cast("string")
            ).alias("slug")
        )
        return ed1_pairs(slugs, "slug").select(
            "s1", "s2", F.col("dist").cast("long").alias("dist")
        )

    q["fuzzy_url_pairs"] = fuzzy_url_pairs

    def cluster_st_dbscan(spark, sf_dir):
        """ST-DBSCAN (operators/dbscan.py st_dbscan — Birant & Kut 2007)
        over a designed space-time fixture: three 20-point chains — two
        sharing LOCATIONS but 1000 s apart (time separates), one
        co-temporal but 500 m away (space separates) — plus 10 isolated
        noise points.  eps=15, eps_t=20, min_pts=3: chain interiors are
        cores, chain ends are borders, noise is NULL.  The twin
        recomputes the cylinder graph by brute cross join + recursive
        min-reachability — different algorithm, one answer."""
        from tilekiln_spark.operators.dbscan import st_dbscan

        i = F.col("id")
        grp = F.floor(i / 20).cast("long")
        j = (i % 20).cast("double")
        pts = spark.range(70).select(
            i.alias("pid"),
            F.when(grp == 3, F.lit(100000.0) + j * 5000.0)
            .otherwise(j * 10.0)
            .alias("mx"),
            F.when(grp == 2, F.lit(500.0))
            .when(grp == 3, F.lit(-800.0))
            .otherwise(F.lit(0.0))
            .alias("my"),
            F.when(grp == 1, F.lit(1000.0) + j * 5.0)
            .when(grp == 3, j * 37.0)
            .otherwise(j * 5.0)
            .alias("t"),
        )
        out = st_dbscan(pts, eps=15.0, eps_t=20.0, min_pts=3, key_col="pid")
        return out.select(
            F.col("pid").cast("long").alias("pid"),
            "is_core",
            F.col("cluster_id").cast("long").alias("cluster_id"),
        )

    q["cluster_st_dbscan"] = cluster_st_dbscan

    def containment_snippets(spark, sf_dir):
        """Asymmetric shingle containment (operators/dedup.py
        containment_pairs — Broder 1997) over documents plus derived
        40-token snippets (doc_id + 100000 for doc_id % 10 == 0): a
        snippet is CONTAINED in its source (cont_a ~ 1.0) while the
        Jaccard stays low — the pair resemblance dedup misses.
        Inverted-index candidates with the df <= 50 boilerplate cut,
        min_shared = 3."""
        from tilekiln_spark.operators.dedup import _tokens, containment_pairs

        d = _docs(spark, sf_dir).select("doc_id", "text")
        snip = d.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.array_join(F.slice(_tokens(F.col("text")), 1, 40), " ").alias(
                "text"
            ),
        )
        out = containment_pairs(
            d.unionByName(snip), k=3, min_shared=3, max_df=50
        )
        return out.select(
            F.col("key_a").cast("long").alias("key_a"),
            F.col("key_b").cast("long").alias("key_b"),
            F.col("shared").cast("long").alias("shared"),
            "cont_a",
            "cont_b",
            "jaccard",
        )

    q["containment_snippets"] = containment_snippets

    def least_cost_paths(spark, sf_dir):
        """Least-cost path extraction (operators/raster.py
        least_cost_path — ESRI CostPath / GRASS r.path) over the
        cost_distance walled-friction surface: backlink raster from the
        exact-integer optimality condition (min-(gx, gy) tie-break),
        chains enumerated by pointer doubling.  Targets (15, 8) and
        (15, 0) east of the wall — both paths must detour through the
        unit gap at (8, 12).  The twin walks the identical pred
        function one step at a time with a recursive CTE — different
        enumeration, same unique path."""
        from tilekiln_spark.operators.raster import cost_distance, least_cost_path

        d = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < 256)
        gx = (F.col("doc_id") % 16).cast("int")
        gy = F.floor(F.col("doc_id") / F.lit(16)).cast("int")
        cost = F.when((gx == 8) & (gy != 12), F.lit(50)).otherwise(F.lit(1))
        cells = d.select(
            F.lit(0).alias("x"),
            F.lit(0).alias("y"),
            gx.alias("bin_x"),
            gy.alias("bin_y"),
            cost.cast("long").alias("n"),
        )
        surf = cost_distance(cells, [(2, 8)], res=16, max_iter=40)
        out = least_cost_path(surf, [(15, 8), (15, 0)])
        return out.select(
            F.col("tx").cast("long").alias("tx"),
            F.col("ty").cast("long").alias("ty"),
            F.col("step").cast("long").alias("step"),
            F.col("gx").cast("long").alias("gx"),
            F.col("gy").cast("long").alias("gy"),
            F.col("acc").cast("long").alias("acc"),
        )

    q["least_cost_paths"] = least_cost_paths

    def link_prediction_q(spark, sf_dir):
        """Neighborhood link-prediction scores (operators/graph.py
        link_prediction — Liben-Nowell & Kleinberg 2003: common
        neighbors, Adamic-Adar, resource allocation, preferential
        attachment, neighborhood Jaccard) over the undirected 120-node
        link-graph slice, pairs with >= 2 common neighbors.  cn/pa are
        exact integers; aa/ra fold per-z terms in sorted z order."""
        from tilekiln_spark.operators.graph import link_prediction

        _nodes, e = _link_graph(spark, sf_dir, 120)
        out = link_prediction(e, min_common=2)
        return out.select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.col("cn").cast("long").alias("cn"),
            "aa",
            "ra",
            F.col("pa").cast("long").alias("pa"),
            "jacc",
        )

    q["link_prediction"] = link_prediction_q

    def cusum_alarms_q(spark, sf_dir):
        """CUSUM change detection (operators/events.py cusum_alarms —
        Page 1954) per event_type at hourly buckets, allowance k=3,
        threshold h=8: the max(0, S+y) recurrence computed as the
        EXACT-INTEGER running-minimum identity (two ordered window
        aggregates — no fold, no float), gap hours generated so they
        drain the statistic."""
        from tilekiln_spark.operators.events import cusum_alarms

        out = cusum_alarms(_events(spark, sf_dir), k=3, h=8)
        return out.select(
            F.col("key"),
            F.col("bucket").cast("long").alias("bucket"),
            F.col("cnt").cast("long").alias("cnt"),
            F.col("s").cast("long").alias("s"),
            "alarm",
        )

    q["cusum_alarms"] = cusum_alarms_q

    def keyness_en(spark, sf_dir):
        """Corpus-comparison keyness (functions/text.py keyness —
        Dunning 1993 G² in the Rayson-Garside form): en documents vs
        all other languages, combined count >= 5.  Exact integer count
        tables; G² is one closed-form two-ln expression written
        identically in the twin; the overuse direction is exact
        cross-multiplied integers."""
        from tilekiln_spark.functions.text import keyness

        d = _docs(spark, sf_dir)
        out = keyness(
            d.where(F.col("lang") == "en"),
            d.where(F.col("lang") != "en"),
            min_count=5,
        )
        return out.select(
            "token",
            F.col("cnt_a").cast("long").alias("cnt_a"),
            F.col("cnt_b").cast("long").alias("cnt_b"),
            "g2",
            "overused",
        )

    q["keyness_en"] = keyness_en

    def burst_detection(spark, sf_dir):
        """Two-state burst detection (operators/events.py burst_states
        — the Kleinberg 2002 automaton with integerized linear costs,
        the chamfer/EDR discipline) per event_type over the events
        stream: microsecond gaps, base gap g0 = span div m, burst slope
        2 with boundary at x = g0, transition penalty 2*g0.  ALL-integer
        Viterbi — one forward fold + one backpointer fold per stream;
        the twin replays the identical recurrence as step-indexed
        recursive CTEs (forward + backward)."""
        from tilekiln_spark.operators.events import burst_states

        out = burst_states(_events(spark, sf_dir))
        return out.select(
            "key",
            F.col("idx").cast("long").alias("idx"),
            F.col("gap_us").cast("long").alias("gap_us"),
            "burst",
        )

    q["burst_detection"] = burst_detection

    def _link_graph(spark, sf_dir, slice_n=None):
        """(nodes, edges) of the deterministic link graph dst =
        (src*7 + j) % N, j in 1..3, sinks at src % 5 == 0 — over the
        full documents table (N = row count) or, with ``slice_n``, the
        doc_id < slice_n slice with modulus slice_n (the bounded
        fixtures the all-pairs graph operators use)."""
        d = _docs(spark, sf_dir).select("doc_id")
        if slice_n is None:
            n = d.count()
        else:
            n = slice_n
            d = d.filter(F.col("doc_id") < slice_n)
        e = (
            d.filter((F.col("doc_id") % 5) != 0)
            .select(
                F.col("doc_id").alias("src"),
                F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
            )
            .select("src", ((F.col("src") * 7 + F.col("j")) % n).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        return d.select(F.col("doc_id").alias("node")), e

    def eigenvector_links(spark, sf_dir):
        """Eigenvector centrality (operators/graph.py
        eigenvector_centrality — Bonacich 1972, max-normalized power
        iteration, 8 rounds) over the full deterministic link graph;
        twin unrolls the identical rounds."""
        from tilekiln_spark.operators.graph import eigenvector_centrality

        nodes, e = _link_graph(spark, sf_dir)
        out = eigenvector_centrality(nodes, e, iterations=8)
        return out.select(
            F.col("node").cast("long").alias("doc_id"),
            (F.round("centrality", 6) + F.lit(0.0)).alias("centrality"),
        )

    q["eigenvector_links"] = eigenvector_links

    def katz_links(spark, sf_dir):
        """Katz centrality (operators/graph.py katz_centrality — Katz
        1953, alpha=0.2 beta=1, 8 truncated rounds) over the full
        deterministic link graph; twin unrolls the identical rounds."""
        from tilekiln_spark.operators.graph import katz_centrality

        nodes, e = _link_graph(spark, sf_dir)
        out = katz_centrality(nodes, e, alpha=0.2, beta=1.0, iterations=8)
        return out.select(
            F.col("node").cast("long").alias("doc_id"),
            (F.round("katz", 6) + F.lit(0.0)).alias("katz"),
        )

    q["katz_links"] = katz_links

    _CT_MARKERS = {
        "en": "the and is of to",
        "de": "der die und ist nicht",
        "fr": "le la les est une",
        "es": "el los es una que",
        "zh": "shi de le ma ne",
    }

    def langid_ngram_rank(spark, sf_dir):
        """Cavnar-Trenkle rank-order char-trigram classification
        (functions/text.py cavnar_trenkle — the textcat algorithm,
        k=40 profiles, out-of-place distance): documents carry
        deterministic per-language stopword markers (prepended 3x) so
        the trigram profiles genuinely separate; train on even doc_ids,
        classify odd.  EVERY rank, cut, and distance is an exact
        integer with (count desc, gram asc) tie-breaks — no float in
        the whole classifier."""
        from tilekiln_spark.functions.text import cavnar_trenkle

        d = _docs(spark, sf_dir)
        marker = F.coalesce(
            *[
                F.when(F.col("lang") == lg, F.lit(m))
                for lg, m in sorted(_CT_MARKERS.items())
            ]
        )
        marked = d.select(
            "doc_id",
            "lang",
            F.concat_ws(" ", marker, marker, marker, F.col("text")).alias(
                "text"
            ),
        )
        out = cavnar_trenkle(
            marked.where(F.col("doc_id") % 2 == 0),
            marked.where(F.col("doc_id") % 2 == 1),
            k=40,
        )
        return out.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "true_class",
            "pred_class",
            F.col("dist").cast("long").alias("dist"),
        )

    q["langid_ngram_rank"] = langid_ngram_rank

    def rich_club_q(spark, sf_dir):
        """Rich-club coefficients (operators/graph.py rich_club — Zhou
        & Mondragón 2004) at k in {2, 3, 4, 5} over the undirected
        120-node link-graph slice: exact integer N_k / E_k off one
        degree-annotated edge list, one division per threshold."""
        from tilekiln_spark.operators.graph import rich_club

        _nodes, e = _link_graph(spark, sf_dir, 120)
        return rich_club(e, [2, 3, 4, 5]).select(
            F.col("k").cast("long").alias("k"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            "phi",
        )

    q["rich_club"] = rich_club_q

    def k_truss_q(spark, sf_dir):
        """4-truss peeling (operators/graph.py k_truss — Cohen 2008)
        over two 8-cliques bridged by edges (0,8), (1,9), (0,9): the
        bridge support CASCADES — (0,8) dies round 1, which starves
        (0,9), which starves (1,9) — so the fixpoint genuinely
        iterates (depth 3); the surviving edges are exactly the two
        cliques at support 6.  The twin unrolls 5 identical monotone
        rounds."""
        from tilekiln_spark.operators.graph import k_truss

        d = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < 16)
        g = d.select(
            F.floor(F.col("doc_id") / 8).alias("grp"), F.col("doc_id")
        )
        cliq = (
            g.select("grp", F.col("doc_id").alias("src"))
            .join(g.select("grp", F.col("doc_id").alias("dst")), "grp")
            .where(F.col("src") < F.col("dst"))
            .select("src", "dst")
        )
        bridges = spark.createDataFrame(
            [(0, 8), (1, 9), (0, 9)], "src long, dst long"
        )
        out = k_truss(cliq.unionByName(bridges), k=4)
        return out.select(
            F.col("u").cast("long").alias("u"),
            F.col("v").cast("long").alias("v"),
            F.col("support").cast("long").alias("support"),
        )

    q["k_truss"] = k_truss_q

    def length_drift_langs(spark, sf_dir):
        """Exact 1-D Wasserstein-1 + KS distance (functions/text.py
        dist_compare) between the en document-length (n_chars)
        distribution and every other language — the classical
        distribution-drift pair in the CROSS-MULTIPLIED integer form:
        every accumulated quantity is an exact int64; one division per
        statistic at the end."""
        from tilekiln_spark.functions.text import dist_compare

        out = dist_compare(_docs(spark, sf_dir), baseline="en")
        return out.select(
            "cls",
            F.col("n_base").cast("long").alias("n_base"),
            F.col("n_cls").cast("long").alias("n_cls"),
            "w1",
            "ks",
        )

    q["length_drift_langs"] = length_drift_langs

    def lang_source_chi2(spark, sf_dir):
        """Pearson chi-square + Cramér's V (functions/text.py
        contingency_chi2) for the lang x source contingency table:
        cross-multiplied exact-integer cell terms folded in sorted
        (a, b) order, zero cells generated from the margins."""
        from tilekiln_spark.functions.text import contingency_chi2

        return contingency_chi2(_docs(spark, sf_dir), "lang", "source")

    q["lang_source_chi2"] = lang_source_chi2

    def event_acf(spark, sf_dir):
        """Autocorrelation of hourly event-count series per event_type
        at lags {1, 2, 3, 6, 12, 24} (operators/events.py series_acf —
        Box-Jenkins seasonality screening): gap-completed grid, lag
        pairs from a bucket self-join, exact-integer moments with one
        final sqrt/divide."""
        from tilekiln_spark.operators.events import series_acf

        out = series_acf(_events(spark, sf_dir), [1, 2, 3, 6, 12, 24])
        return out.select(
            "key",
            F.col("lag").cast("long").alias("lag"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            "r",
        )

    q["event_acf"] = event_acf

    def mann_whitney_langs(spark, sf_dir):
        """Mann-Whitney U + rank-biserial effect size (functions/text.py
        mann_whitney) between the en document-length distribution and
        every other language: exact int64 double-ranks, one final
        halving — the nonparametric companion to length_drift_langs."""
        from tilekiln_spark.functions.text import mann_whitney

        return mann_whitney(_docs(spark, sf_dir), baseline="en").select(
            "cls",
            F.col("n_base").cast("long").alias("n_base"),
            F.col("n_cls").cast("long").alias("n_cls"),
            "u",
            "rank_biserial",
        )

    q["mann_whitney_langs"] = mann_whitney_langs

    def spearman_len_tokens(spark, sf_dir):
        """Spearman rank correlation (functions/text.py spearman_rho)
        between n_chars and whitespace token count over all documents:
        exact int64 double-rank moments, one final sqrt/divide."""
        from tilekiln_spark.functions.text import spearman_rho, token_count

        d = _docs(spark, sf_dir).select(
            F.col("n_chars"), token_count(F.col("text")).alias("n_tok")
        )
        return spearman_rho(d, "n_chars", "n_tok")

    q["spearman_len_tokens"] = spearman_len_tokens

    def kendall_len_tokens(spark, sf_dir):
        """Kendall tau-b (functions/text.py kendall_tau) between
        n_chars and token count over all documents: exact integer
        concordant/discordant/tie pair counts off the canonical i < j
        self-join, one final sqrt/divide."""
        from tilekiln_spark.functions.text import kendall_tau, token_count

        d = _docs(spark, sf_dir).select(
            "doc_id", "n_chars", token_count(F.col("text")).alias("n_tok")
        )
        return kendall_tau(d, "n_chars", "n_tok")

    q["kendall_len_tokens"] = kendall_len_tokens

    def robust_length_stats(spark, sf_dir):
        """Exact median / MAD / 3-MAD outlier counts of n_chars per
        language (functions/text.py robust_center): position-formula
        medians over sorted multisets — halves and quarters, exactly
        representable, identical formula both engines."""
        from tilekiln_spark.functions.text import robust_center

        return robust_center(_docs(spark, sf_dir))

    q["robust_length_stats"] = robust_length_stats

    def benford_lengths(spark, sf_dir):
        """Benford first-digit screen (functions/text.py benford_digits)
        over n_chars: exact digit counts, closed-form log10
        expectations, digit-ordered chi fold."""
        from tilekiln_spark.functions.text import benford_digits

        return benford_digits(_docs(spark, sf_dir))

    q["benford_lengths"] = benford_lengths

    def theil_sen_len_tokens(spark, sf_dir):
        """Theil-Sen robust slope/intercept (functions/text.py
        theil_sen) of token count vs n_chars: median of exact pairwise
        slope divisions by position, residual-median intercept off the
        rounded slope."""
        from tilekiln_spark.functions.text import theil_sen, token_count

        d = _docs(spark, sf_dir).select(
            "doc_id", "n_chars", token_count(F.col("text")).alias("n_tok")
        )
        return theil_sen(d, "n_chars", "n_tok")

    q["theil_sen_len_tokens"] = theil_sen_len_tokens

    def retention_cohorts(spark, sf_dir):
        """Daily cohort retention triangle (operators/events.py
        retention_matrix): exact distinct-activity counts, one division
        per cell."""
        from tilekiln_spark.operators.events import retention_matrix

        out = retention_matrix(_events(spark, sf_dir))
        return out.select(
            F.col("cohort_day").cast("long").alias("cohort_day"),
            F.col("offset").cast("long").alias("offset"),
            F.col("n_cohort").cast("long").alias("n_cohort"),
            F.col("n_active").cast("long").alias("n_active"),
            "rate",
        )

    q["retention_cohorts"] = retention_cohorts

    def event_funnel(spark, sf_dir):
        """Ordered view -> click -> purchase funnel (operators/events.py
        funnel_steps, earliest-first semantics): one conditional-min
        pivot per user, CASE-cascade depth, exact counts."""
        from tilekiln_spark.operators.events import funnel_steps

        out = funnel_steps(
            _events(spark, sf_dir), ["view", "click", "purchase"]
        )
        return out.select(
            F.col("step_idx").cast("long").alias("step_idx"),
            "step",
            F.col("n_users").cast("long").alias("n_users"),
            "rate",
        )

    q["event_funnel"] = event_funnel

    def event_markov(spark, sf_dir):
        """Clickstream Markov model (operators/events.py
        markov_transitions): per-user adjacent transitions via ONE
        lead() window with (ts, event_id) tie-break, exact counts,
        row-normalized probabilities, stationary distribution by 12
        power rounds with sorted-source folds; twin unrolls the
        identical rounds."""
        from tilekiln_spark.operators.events import markov_transitions

        out = markov_transitions(_events(spark, sf_dir), iterations=12)
        return out.select(
            "from_type",
            "to_type",
            F.col("n").cast("long").alias("n"),
            "p",
            "stationary_from",
        )

    q["event_markov"] = event_markov

    def user_regularity(spark, sf_dir):
        """Inter-event regularity screen (operators/events.py
        regularity_flags — the timer-vs-bursty bot signal): per-user
        microsecond gap moments in DECIMAL(38,0), the CV < 0.25 flag
        decided by exact cross-multiplied comparison."""
        from tilekiln_spark.operators.events import regularity_flags

        out = regularity_flags(_events(spark, sf_dir))
        return out.select(
            F.col("key").cast("long").alias("user_id"),
            F.col("n_gaps").cast("long").alias("n_gaps"),
            "mean_gap_s",
            "cv",
            "is_regular",
        )

    q["user_regularity"] = user_regularity

    def edr_trajectories(spark, sf_dir):
        """Edit Distance on Real sequences (functions/geometry.py
        edr_distance — Chen/Özsu/Oria 2005) between every user trajectory
        and every fixture polyline at eps = 500 km: the INTEGER-valued
        DP (match iff d² <= eps², the exact dwithin boundary rule), so —
        unlike the DTW/Fréchet floats — the result needs no rounding at
        all.  Same single-live-row nested HOF fold, lines broadcast,
        map-only pair join; the twin unrolls the identical integer
        recurrence per fixture line."""
        from tilekiln_spark.functions.geometry import edr_distance

        ev = _mx_my(_events(spark, sf_dir), id_col="event_id")
        ordered = F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "mx", "my"))
        )
        agg = ev.groupBy("user_id").agg(ordered.alias("o"))
        tr = agg.select(
            "user_id",
            F.transform(F.col("o"), lambda s: s["mx"]).alias("axs"),
            F.transform(F.col("o"), lambda s: s["my"]).alias("ays"),
        )
        rows = []
        for lid, uv in _LINES_UV:
            pts = _line_merc(uv)
            rows.append((lid, [p[0] for p in pts], [p[1] for p in pts]))
        lines = spark.createDataFrame(
            rows, "line_id int, lxs array<double>, lys array<double>"
        )
        d = edr_distance(
            F.col("axs"), F.col("ays"), F.col("lxs"), F.col("lys"), 5.0e5
        )
        return tr.crossJoin(F.broadcast(lines)).select(
            "user_id",
            "line_id",
            d.cast("long").alias("edr"),
        )

    q["edr_trajectories"] = edr_trajectories

    def moran_correlogram_q(spark, sf_dir):
        """Moran's I correlogram over distance bands (operators/
        spatial_join.py moran_correlogram — the PySAL/spdep correlogram)
        on doc n_chars at bands (0,1000] / (1000,2500] / (2500,5000] km:
        binary band weights from ONE bounded self dwithin_join at the
        max radius, centered cross-products expanded into RAW INTEGER
        MOMENTS (the raster morans_i rule) so no order-dependent float
        sum exists; the twin brute-forces the pairs with the identical
        band cuts and moment algebra."""
        from tilekiln_spark.operators.spatial_join import moran_correlogram

        pts = _mx_my(_docs(spark, sf_dir)).where(F.col("doc_id") % 3 == 0)
        out = moran_correlogram(
            pts.select("doc_id", "mx", "my", "n_chars"),
            "n_chars",
            [1.0e6, 2.5e6, 5.0e6],
        )
        return out.select(
            F.col("band").cast("long").alias("band"),
            (F.col("r_lo") / 1000.0).alias("r_lo_km"),
            (F.col("r_hi") / 1000.0).alias("r_hi_km"),
            F.col("s0_pairs").cast("long").alias("s0_pairs"),
            (F.round("moran_i", 6) + F.lit(0.0)).alias("moran_i"),
        )

    q["moran_correlogram"] = moran_correlogram_q

    def zipf_fit_q(spark, sf_dir):
        """Zipf-law fit (functions/text.py zipf_fit): OLS of ln(freq) on
        ln(rank) over the top-60 corpus tokens — the corpus-health
        diagnostic of tokenizer training.  Heavy stage = the vocab_topk
        TakeOrderedAndProject; the fit folds k=60 rows with ONE
        sequential struct accumulator in rank order, replayed in DuckDB
        as four list_reduce folds over the same rank-ordered lists."""
        from tilekiln_spark.functions.text import zipf_fit

        out = zipf_fit(_docs(spark, sf_dir), k=60)
        return out.select(
            F.col("n_terms").cast("long").alias("n_terms"),
            (F.round("slope", 6) + F.lit(0.0)).alias("slope"),
            (F.round("intercept", 6) + F.lit(0.0)).alias("intercept"),
        )

    q["zipf_fit"] = zipf_fit_q

    def heaps_law_q(spark, sf_dir):
        """Heaps'-law vocabulary-growth curve + exponent (functions/
        text.py heaps_law) at checkpoints 100..500 docs: V and N at
        every checkpoint are conditional-sum cuts of TWO tiny
        post-aggregate tables (token first-occurrence doc, per-doc token
        count) — ONE pass each, no prefix re-scans; β is the zipf_fit
        4-sum sequential fold on ln V vs ln N, replayed with
        list_reduce."""
        from tilekiln_spark.functions.text import heaps_law

        out = heaps_law(_docs(spark, sf_dir), [100, 200, 300, 400, 500])
        return out.select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("vocab").cast("long").alias("vocab"),
            (F.round("beta", 6) + F.lit(0.0)).alias("beta"),
        )

    q["heaps_law"] = heaps_law_q

    def term_dispersion_q(spark, sf_dir):
        """Term dispersion / burstiness (functions/text.py
        term_dispersion — Church & Gale 1995) for the top-40 corpus
        terms: cf and df from ONE (doc, token) partial-agg groupBy, the
        TakeOrdered cut, all exact integers + two divisions — the
        boilerplate-token detector a dedup pass weights with."""
        from tilekiln_spark.functions.text import term_dispersion

        out = term_dispersion(_docs(spark, sf_dir), k=40)
        return out.select(
            "token",
            F.col("cf").cast("long").alias("cf"),
            F.col("df").cast("long").alias("df"),
            (F.round("doc_frac", 6) + F.lit(0.0)).alias("doc_frac"),
            (F.round("burstiness", 6) + F.lit(0.0)).alias("burstiness"),
        )

    q["term_dispersion"] = term_dispersion_q

    def robots_filter(spark, sf_dir):
        """robots.txt crawl admission (operators/webstats.py parse_robots
        + robots_decisions — RFC 9309 longest-match semantics): per-host
        robots bodies are synthesized deterministically (a language-
        directory Disallow with a /p1 Allow carve-out; .news hosts add a
        blanket Disallow: / with an /en/ Allow), parsed with pure codegen
        splits, and applied via ONE broadcast rule join + a struct-max
        argmax that encodes longest-wins / Allow-wins-ties exactly.
        Parser robustness is in the fixture: comments, Crawl-delay,
        Sitemap lines, mixed-case directives, never-matching rules."""
        from tilekiln_spark.functions.web import url_host, url_path
        from tilekiln_spark.operators.webstats import (
            parse_robots, robots_decisions,
        )

        pages = _messy_urls(_docs(spark, sf_dir)).select(
            "doc_id",
            url_host("url").alias("host"),
            url_path("url").alias("path"),
        )
        hosts = pages.select("host").distinct()
        d = F.regexp_extract("host", "host([0-9])", 1).cast("int")
        lang_d = (
            F.when(d % 5 == 0, "en")
            .when(d % 5 == 1, "fr")
            .when(d % 5 == 2, "de")
            .when(d % 5 == 3, "es")
            .otherwise("zh")
        )
        is_news = F.col("host").contains(".news.")
        txt = F.concat(
            F.lit("User-Agent: *\n# crawl rules\nDisallow: /"),
            lang_d,
            F.lit("/\nALLOW: /"),
            lang_d,
            F.lit("/p1\nCrawl-delay: 10\nSitemap: https://x/s.xml\ndisallow: /cart\n"),
            F.when(is_news, F.lit("Disallow: /\nAllow: /en/\n")).otherwise(
                F.lit("")
            ),
        )
        robots = hosts.select("host", txt.alias("robots_txt"))
        rules = parse_robots(robots)
        out = robots_decisions(pages, rules)
        return out.select("doc_id", "host", "path", "allowed", "rule_prefix")

    q["robots_filter"] = robots_filter

    return q


def _quality_gate_sql(
    src: str,
    min_words: int = 20,
    max_words: int = 80,
    min_mean: float = 4.0,
    max_mean: float = 10.0,
    max_bullet: float = 0.9,
    max_ell: float = 0.3,
    max_dupl: float = 0.3,
    max_dupng: float = 0.08,
    min_alpha: float = 0.8,
    min_stop: int = 2,
) -> str:
    """DuckDB replay of operators/quality.doc_quality_flags over table
    `src` (must expose doc_id, text): rows carry the first-match gate name
    (NULL when kept).  Shared by the quality_filter_funnel oracle and the
    corpus_pipeline_quality oracle, so the two stay one implementation."""
    return rf"""
        SELECT doc_id, text, CASE
                 WHEN n < {min_words} THEN 'too_few_words'
                 WHEN n > {max_words} THEN 'too_many_words'
                 WHEN mean_len < {min_mean} OR mean_len > {max_mean}
                      THEN 'word_length'
                 WHEN bullet > {max_bullet} THEN 'bullet_lines'
                 WHEN ell > {max_ell} THEN 'ellipsis_lines'
                 WHEN dupl > {max_dupl} THEN 'dup_lines'
                 WHEN dupng > {max_dupng} THEN 'dup_ngrams'
                 WHEN alpha < {min_alpha} THEN 'low_alpha_words'
                 WHEN nstop < {min_stop} THEN 'few_stopwords'
                 ELSE NULL END AS gate
        FROM (
            SELECT doc_id, text, n, mean_len, dupng, alpha, nstop,
                CASE WHEN len(ls) > 0 THEN len(list_filter(ls,
                     x -> regexp_matches(x, '^(-|\*|\d+\.)\s')))::DOUBLE / len(ls)
                     ELSE 0.0 END AS bullet,
                CASE WHEN len(ls) > 0 THEN len(list_filter(ls,
                     x -> regexp_matches(x, '\.\.\.$')))::DOUBLE / len(ls)
                     ELSE 0.0 END AS ell,
                CASE WHEN len(ls) > 1
                     THEN 1.0 - len(list_distinct(ls))::DOUBLE / len(ls)
                     ELSE 0.0 END AS dupl
            FROM (
                SELECT doc_id, text,
                    len(a) AS n,
                    CASE WHEN len(a) > 0
                         THEN list_aggregate(list_transform(a, x -> len(x)),
                              'sum')::DOUBLE / len(a)
                         ELSE 0.0 END AS mean_len,
                    list_filter(list_transform(string_split(text, chr(10)),
                                x -> trim(x)), x -> x != '') AS ls,
                    CASE WHEN len(a) - 1 > 1 THEN
                         1.0 - len(list_distinct(list_transform(
                             generate_series(1, len(a) - 1),
                             i -> a[i] || ' ' || a[i + 1])))::DOUBLE / (len(a) - 1)
                         ELSE 0.0 END AS dupng,
                    CASE WHEN len(a) > 0
                         THEN len(list_filter(a,
                              x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(a)
                         ELSE 0.0 END AS alpha,
                    len(list_intersect(list_distinct(a),
                        ['the','and','of','to','in','a','is','that','for','it'])) AS nstop
                FROM (
                    SELECT doc_id, text,
                           CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                                ELSE regexp_split_to_array(lower(trim(text)), '\s+')
                           END AS a
                    FROM {src})
            )
        )"""


def _lm_scores_sql(src: str, k_vocab: int, m_bigrams: int) -> str:
    """DuckDB replay of functions/lm train+score over table `src` (doc_id,
    text): a self-contained subquery yielding (doc_id, n_bigrams,
    avg_logprob).  Shared by the lm_score oracle and the CCNet-pipeline
    oracle so the prune/backoff chain has one implementation."""
    return rf"""(
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a
            FROM {src} WHERE trim(text) != ''
        ), tok AS (
            SELECT doc_id, unnest(a) AS w, generate_subscripts(a, 1) AS pos
            FROM toks
        ), tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM tok),
        uni AS (
            SELECT w, count(*) AS c FROM tok GROUP BY w
            ORDER BY c DESC, w LIMIT {k_vocab}
        ), bg AS (
            SELECT t1.doc_id, t1.w AS w1, t2.w AS w2
            FROM tok t1 JOIN tok t2
              ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
        ), bi AS (
            SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
            ORDER BY c DESC, w1, w2 LIMIT {m_bigrams}
        ), sc AS (
            SELECT g.doc_id,
                   CASE WHEN b.c IS NOT NULL AND u1.c IS NOT NULL
                        THEN ln(CAST(b.c AS DOUBLE) / u1.c)
                        WHEN u2.c IS NOT NULL THEN ln(0.4 * u2.c / t)
                        ELSE ln(0.4 * 0.5 / t) END AS lp
            FROM bg g
            LEFT JOIN bi b ON g.w1 = b.w1 AND g.w2 = b.w2
            LEFT JOIN uni u1 ON g.w1 = u1.w
            LEFT JOIN uni u2 ON g.w2 = u2.w
            CROSS JOIN tot
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(lp), 6) AS avg_logprob
        FROM sc GROUP BY doc_id
    )"""


def _lm3_scores_sql(src: str, k_vocab: int, m_bigrams: int, p_trigrams: int) -> str:
    """DuckDB replay of functions/lm train_trigram_lm + lm3_doc_scores over
    `src`: chained stupid backoff tri -> bi -> uni -> floor, one more
    pruned count table on top of the bigram builder."""
    return rf"""(
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a
            FROM {src} WHERE trim(text) != ''
        ), tok AS (
            SELECT doc_id, unnest(a) AS w, generate_subscripts(a, 1) AS pos
            FROM toks
        ), tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM tok),
        uni AS (
            SELECT w, count(*) AS c FROM tok GROUP BY w
            ORDER BY c DESC, w LIMIT {k_vocab}
        ), bg AS (
            SELECT t1.doc_id, t1.w AS w1, t2.w AS w2
            FROM tok t1 JOIN tok t2
              ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
        ), bi AS (
            SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
            ORDER BY c DESC, w1, w2 LIMIT {m_bigrams}
        ), tg AS (
            SELECT t1.doc_id, t1.w AS w1, t2.w AS w2, t3.w AS w3
            FROM tok t1
            JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
            JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
        ), tri AS (
            SELECT w1, w2, w3, count(*) AS c FROM tg GROUP BY w1, w2, w3
            ORDER BY c DESC, w1, w2, w3 LIMIT {p_trigrams}
        ), sc AS (
            SELECT g.doc_id,
                   CASE WHEN t3c.c IS NOT NULL AND b12.c IS NOT NULL
                        THEN ln(CAST(t3c.c AS DOUBLE) / b12.c)
                        ELSE ln(0.4 * CASE
                            WHEN b23.c IS NOT NULL AND u2.c IS NOT NULL
                                THEN CAST(b23.c AS DOUBLE) / u2.c
                            WHEN u3.c IS NOT NULL THEN 0.4 * u3.c / t
                            ELSE 0.4 * 0.5 / t END)
                   END AS lp
            FROM tg g
            LEFT JOIN tri t3c ON g.w1 = t3c.w1 AND g.w2 = t3c.w2 AND g.w3 = t3c.w3
            LEFT JOIN bi b12 ON g.w1 = b12.w1 AND g.w2 = b12.w2
            LEFT JOIN bi b23 ON g.w2 = b23.w1 AND g.w3 = b23.w2
            LEFT JOIN uni u2 ON g.w2 = u2.w
            LEFT JOIN uni u3 ON g.w3 = u3.w
            CROSS JOIN tot
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
               round(avg(lp), 6) AS avg_logprob
        FROM sc GROUP BY doc_id
    )"""


def _probe_cte_sql(iters: int = 3, lr: float = 1.0, dim: int = 64) -> str:
    """The probe-training CTE chain ``e AS (...) ... w{iters} AS (...)``
    (no WITH prefix) — shared by the standalone linear_probe oracle and
    the corpus_pipeline_probe splice."""
    parts = [
        f"""e AS MATERIALIZED (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
                   CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y
            FROM embeddings
        ), n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM e),
        dims AS MATERIALIZED (SELECT CAST(unnest(range({dim + 1})) AS INT) AS j),
        w0 AS MATERIALIZED (SELECT j, 0.0 AS w FROM dims)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", s{i} AS MATERIALIZED (
            SELECT vec_id, round(1.0 / (1.0 + exp(-z9)), 9) AS s FROM (
                SELECT e.vec_id,
                       round(sum(w.w * CASE WHEN w.j < {dim}
                                 THEN e.x[w.j + 1] ELSE 1.0 END), 9) AS z9
                FROM e, w{i - 1} w GROUP BY e.vec_id)
        ), g{i} AS MATERIALIZED (
            SELECT d.j,
                   round(sum((s.s - e.y) * CASE WHEN d.j < {dim}
                             THEN e.x[d.j + 1] ELSE 1.0 END)
                         / (SELECT cnt FROM n), 6) AS g
            FROM s{i} s JOIN e USING (vec_id), dims d GROUP BY d.j
        ), w{i} AS MATERIALIZED (
            SELECT w.j, round(w.w - {lr} * g.g, 6) AS w
            FROM w{i - 1} w JOIN g{i} g USING (j)
        )"""
        )
    return "".join(parts)


def _probe_sql(iters: int = 3, lr: float = 1.0, dim: int = 64) -> str:
    """DuckDB replay of operators/classifier.train_linear_probe +
    linear_probe_scores on y = (label == 0): every GD iteration as chained
    CTEs under the module's rounding contract (round-9 on z and sigmoid,
    round-6 on gradients and weights — both engines see identical decimal
    literals at every weight handoff, so the fit itself is verified)."""
    return f"""WITH {_probe_cte_sql(iters, lr, dim)}, zf AS (
            SELECT e.vec_id, e.y,
                   round(sum(w.w * CASE WHEN w.j < {dim}
                             THEN e.x[w.j + 1] ELSE 1.0 END), 9) AS z9
            FROM e, w{iters} w GROUP BY e.vec_id, e.y
        )
        SELECT vec_id, CAST(y AS INT) AS y,
               round(1.0 / (1.0 + exp(-z9)), 6) AS prob,
               CAST(round(1.0 / (1.0 + exp(-z9)), 6) >= 0.5 AS INT) AS pred
        FROM zf"""


def _pagerank_sql(j: int = 8, damping: float = 0.85) -> str:
    """DuckDB replay of operators/graph.pagerank over the deterministic
    synthetic link graph (doc d -> (7d + {1,2,3}) mod N for d % 5 != 0,
    self-loops dropped; every 5th doc dangling): j power iterations as
    chained MATERIALIZED CTEs, same pattern as the BPE oracle."""
    parts = [
        """WITH nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents),
        nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        edges AS MATERIALIZED (
            SELECT src, dst FROM (
                SELECT doc_id AS src,
                       (doc_id * 7 + j) % (SELECT count(*) FROM documents) AS dst
                FROM documents, (SELECT unnest([1, 2, 3]) AS j)
                WHERE doc_id % 5 != 0)
            WHERE src != dst
        ), deg AS MATERIALIZED (
            SELECT src, count(*) AS d FROM edges GROUP BY src
        ), r0 AS MATERIALIZED (
            SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes
        )"""
    ]
    for i in range(1, j + 1):
        parts.append(
            f""", c{i} AS MATERIALIZED (
            SELECT e.dst AS node, sum(r.rank / deg.d) AS contrib
            FROM edges e
            JOIN r{i - 1} r ON e.src = r.node
            JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ), g{i} AS MATERIALIZED (
            SELECT coalesce(sum(r.rank), 0.0) AS dm
            FROM r{i - 1} r LEFT JOIN deg ON deg.src = r.node
            WHERE deg.src IS NULL
        ), r{i} AS MATERIALIZED (
            SELECT nd.node,
                   (1 - {damping}) / (SELECT n FROM nn)
                   + {damping} * (coalesce(c.contrib, 0.0)
                                  + (SELECT dm FROM g{i}) / (SELECT n FROM nn)) AS rank
            FROM nodes nd LEFT JOIN c{i} c USING (node)
        )"""
        )
    parts.append(
        f"""
        SELECT node AS doc_id,
               round(rank * (SELECT n FROM nn), 6) AS norm_rank
        FROM r{j}"""
    )
    return "".join(parts)


def _betweenness_sql(rounds: int = 12) -> str:
    """DuckDB replay of operators/graph.betweenness_centrality over the
    200-node link-graph slice: ``rounds`` unrolled frontier-BFS rounds
    (each = edge join + sigma sum + anti-join vs reached, the layer
    property makes any rounds >= diameter exact), then the Brandes
    pair-counting triple join folding sigma_sv*sigma_vt/sigma_st in
    sorted (s, t) order per v."""
    parts = [
        """WITH d AS MATERIALIZED (
            SELECT doc_id FROM documents WHERE doc_id < 200
        ),
        e AS MATERIALIZED (
            SELECT src, dst FROM (
                SELECT doc_id AS src, (doc_id * 7 + j.j) % 200 AS dst
                FROM d CROSS JOIN (VALUES (1), (2), (3)) j(j)
                WHERE doc_id % 5 <> 0
            ) WHERE src <> dst
        ),
        f0 AS MATERIALIZED (
            SELECT doc_id AS src, doc_id AS node, 0 AS dd,
                   CAST(1 AS BIGINT) AS sigma
            FROM d
        ),
        r0 AS MATERIALIZED (SELECT * FROM f0)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", f{i} AS MATERIALIZED (
            SELECT src, node, {i} AS dd, sigma FROM (
                SELECT f.src, e.dst AS node, sum(f.sigma) AS sigma
                FROM f{i - 1} f JOIN e ON e.src = f.node
                GROUP BY f.src, e.dst
            ) g
            WHERE NOT EXISTS (
                SELECT 1 FROM r{i - 1} r
                WHERE r.src = g.src AND r.node = g.node
            )
        ), r{i} AS MATERIALIZED (
            SELECT * FROM r{i - 1} UNION ALL SELECT * FROM f{i}
        )"""
        )
    parts.append(
        f""", reach AS MATERIALIZED (SELECT * FROM r{rounds}),
        contrib AS (
            SELECT vt.src AS v, sv.src AS s, vt.node AS t,
                   CAST(sv.sigma * vt.sigma AS DOUBLE)
                   / CAST(st.sigma AS DOUBLE) AS c
            FROM reach sv
            JOIN reach vt ON vt.src = sv.node
            JOIN reach st ON st.src = sv.src AND st.node = vt.node
            WHERE sv.src <> sv.node AND vt.src <> vt.node
              AND sv.src <> vt.node
              AND sv.dd + vt.dd = st.dd
        ),
        per_v AS (
            SELECT v,
                   list_reduce(list(c ORDER BY s, t), (a, b) -> a + b) AS bc
            FROM contrib GROUP BY v
        )
        SELECT CAST(d.doc_id AS BIGINT) AS node,
               round(coalesce(p.bc, 0.0), 6) + 0.0 AS betweenness
        FROM d LEFT JOIN per_v p ON p.v = d.doc_id"""
    )
    return "".join(parts)


_LINKS_CTE = """nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents),
        edges AS MATERIALIZED (
            SELECT src, dst FROM (
                SELECT doc_id AS src,
                       (doc_id * 7 + j) % (SELECT count(*) FROM documents) AS dst
                FROM documents, (SELECT unnest([1, 2, 3]) AS j)
                WHERE doc_id % 5 != 0)
            WHERE src != dst
        )"""


def _eigen_sql(j: int = 8) -> str:
    """DuckDB replay of operators/graph.eigenvector_centrality: j
    unrolled max-normalized power rounds over the link graph."""
    parts = [f"WITH {_LINKS_CTE}, x0 AS MATERIALIZED (SELECT node, 1.0 AS x FROM nodes)"]
    for i in range(1, j + 1):
        parts.append(
            f""", s{i} AS MATERIALIZED (
            SELECT n.node, coalesce(sum(x.x), 0.0) AS s
            FROM nodes n
            LEFT JOIN edges e ON e.dst = n.node
            LEFT JOIN x{i - 1} x ON x.node = e.src
            GROUP BY n.node
        ), x{i} AS MATERIALIZED (
            SELECT node, s / greatest((SELECT max(s) FROM s{i}), 1e-300) AS x
            FROM s{i}
        )"""
        )
    parts.append(
        f"""
        SELECT CAST(node AS BIGINT) AS doc_id, round(x, 6) + 0.0 AS centrality
        FROM x{j}"""
    )
    return "".join(parts)


def _katz_sql(j: int = 8, alpha: float = 0.2, beta: float = 1.0) -> str:
    """DuckDB replay of operators/graph.katz_centrality: j unrolled
    attenuated rounds x_{k+1} = alpha * A^T x_k + beta."""
    a = f"CAST({alpha} AS DOUBLE)"
    b = f"CAST({beta} AS DOUBLE)"
    parts = [
        f"WITH {_LINKS_CTE}, x0 AS MATERIALIZED (SELECT node, {b} AS x FROM nodes)"
    ]
    for i in range(1, j + 1):
        parts.append(
            f""", x{i} AS MATERIALIZED (
            SELECT n.node,
                   {a} * coalesce(sum(x.x), 0.0) + {b} AS x
            FROM nodes n
            LEFT JOIN edges e ON e.dst = n.node
            LEFT JOIN x{i - 1} x ON x.node = e.src
            GROUP BY n.node
        )"""
        )
    parts.append(
        f"""
        SELECT CAST(node AS BIGINT) AS doc_id, round(x, 6) + 0.0 AS katz
        FROM x{j}"""
    )
    return "".join(parts)


def _simrank_sql(iters: int = 5, c: float = 0.8) -> str:
    """DuckDB replay of operators/graph.simrank over the 60-node
    link-graph slice: ``iters`` unrolled rounds, each the same
    in-edge double join + sorted (i, j) list_reduce fold + the
    identically-written c/(da*db) scale, diagonal re-unioned per
    round."""
    parts = [
        """WITH d AS MATERIALIZED (
            SELECT doc_id FROM documents WHERE doc_id < 60
        ),
        e AS MATERIALIZED (
            SELECT src, dst FROM (
                SELECT doc_id AS src, (doc_id * 7 + j.j) % 60 AS dst
                FROM d CROSS JOIN (VALUES (1), (2), (3)) j(j)
                WHERE doc_id % 5 <> 0
            ) WHERE src <> dst
        ),
        rev AS MATERIALIZED (
            SELECT DISTINCT dst AS a, src AS i FROM e WHERE dst <> src
        ),
        deg AS MATERIALIZED (SELECT a, count(*) AS dg FROM rev GROUP BY a),
        s0 AS MATERIALIZED (
            SELECT doc_id AS i, doc_id AS j, 1.0 AS s FROM d
        )"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""", c{k} AS MATERIALIZED (
            SELECT ra.a AS a, rb.a AS b,
                   list_reduce(list(p.s ORDER BY p.i, p.j),
                               (x, y) -> x + y) AS ssum
            FROM s{k - 1} p
            JOIN rev ra ON ra.i = p.i
            JOIN rev rb ON rb.i = p.j
            WHERE ra.a <> rb.a
            GROUP BY ra.a, rb.a
        ), s{k} AS MATERIALIZED (
            SELECT doc_id AS i, doc_id AS j, 1.0 AS s FROM d
            UNION ALL
            SELECT cc.a, cc.b,
                   {c} / CAST(da.dg * db.dg AS DOUBLE) * cc.ssum
            FROM c{k} cc
            JOIN deg da ON da.a = cc.a
            JOIN deg db ON db.a = cc.b
        )"""
        )
    parts.append(
        f"""
        SELECT CAST(i AS BIGINT) AS a, CAST(j AS BIGINT) AS b,
               round(s, 6) + 0.0 AS s
        FROM s{iters} WHERE i < j"""
    )
    return "".join(parts)


def _markov_sql(j: int = 12) -> str:
    """DuckDB replay of operators/events.markov_transitions: the same
    lead() pair extraction, then ``j`` unrolled power rounds with
    sorted-source list_reduce folds and the absorbing-state hold."""
    parts = [
        """WITH pairs AS MATERIALIZED (
            SELECT a, b, count(*) AS n FROM (
                SELECT event_type AS a,
                       lead(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS b
                FROM events
            ) WHERE b IS NOT NULL GROUP BY a, b
        ),
        totals AS (SELECT a, sum(n) AS tot FROM pairs GROUP BY a),
        probs AS MATERIALIZED (
            SELECT p.a, p.b, p.n,
                   CAST(p.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
            FROM pairs p JOIN totals t ON t.a = p.a
        ),
        states AS MATERIALIZED (
            SELECT DISTINCT s FROM (
                SELECT a AS s FROM probs UNION ALL SELECT b AS s FROM probs
            )
        ),
        ns AS (SELECT count(*) AS n FROM states),
        x0 AS MATERIALIZED (
            SELECT s, 1.0 / (SELECT n FROM ns) AS x FROM states
        )"""
    ]
    for i in range(1, j + 1):
        parts.append(
            f""", x{i} AS MATERIALIZED (
            SELECT st.s,
                   coalesce(mv.inflow, 0.0) + coalesce(hd.x, 0.0) AS x
            FROM states st
            LEFT JOIN (
                SELECT p.b AS s2,
                       list_reduce(list(x.x * p.p ORDER BY p.a),
                                   (u, v) -> u + v) AS inflow
                FROM x{i - 1} x JOIN probs p ON p.a = x.s
                GROUP BY p.b
            ) mv ON mv.s2 = st.s
            LEFT JOIN (
                SELECT x.s, x.x FROM x{i - 1} x
                WHERE NOT EXISTS (SELECT 1 FROM probs p WHERE p.a = x.s)
            ) hd ON hd.s = st.s
        )"""
        )
    parts.append(
        f"""
        SELECT pr.a AS from_type, pr.b AS to_type,
               CAST(pr.n AS BIGINT) AS n,
               round(pr.p, 6) + 0.0 AS p,
               round(x.x, 6) + 0.0 AS stationary_from
        FROM probs pr JOIN x{j} x ON x.s = pr.a"""
    )
    return "".join(parts)


def _ppr_sql(j: int = 8, damping: float = 0.85) -> str:
    """DuckDB replay of operators/graph.personalized_pagerank over the
    same synthetic link graph with seeds node % 50 == 0: j unrolled
    rounds, teleport AND dangling mass to the seed set only (the
    _pagerank_sql pattern with the seed-indicator vector)."""
    parts = [
        """WITH nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents),
        nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        sflag AS MATERIALIZED (
            SELECT node, CASE WHEN node % 50 = 0 THEN 1.0 ELSE 0.0 END AS s
            FROM nodes
        ),
        ns AS MATERIALIZED (SELECT sum(s) AS k FROM sflag),
        edges AS MATERIALIZED (
            SELECT src, dst FROM (
                SELECT doc_id AS src,
                       (doc_id * 7 + j) % (SELECT count(*) FROM documents) AS dst
                FROM documents, (SELECT unnest([1, 2, 3]) AS j)
                WHERE doc_id % 5 != 0)
            WHERE src != dst
        ), deg AS MATERIALIZED (
            SELECT src, count(*) AS d FROM edges GROUP BY src
        ), r0 AS MATERIALIZED (
            SELECT node, s / (SELECT k FROM ns) AS rank FROM sflag
        )"""
    ]
    for i in range(1, j + 1):
        parts.append(
            f""", c{i} AS MATERIALIZED (
            SELECT e.dst AS node, sum(r.rank / deg.d) AS contrib
            FROM edges e
            JOIN r{i - 1} r ON e.src = r.node
            JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ), g{i} AS MATERIALIZED (
            SELECT coalesce(sum(r.rank), 0.0) AS dm
            FROM r{i - 1} r LEFT JOIN deg ON deg.src = r.node
            WHERE deg.src IS NULL
        ), r{i} AS MATERIALIZED (
            SELECT sf.node,
                   (1 - {damping}) * sf.s / (SELECT k FROM ns)
                   + {damping} * (coalesce(c.contrib, 0.0)
                                  + (SELECT dm FROM g{i}) * sf.s
                                    / (SELECT k FROM ns)) AS rank
            FROM sflag sf LEFT JOIN c{i} c USING (node)
        )"""
        )
    parts.append(
        f"""
        SELECT node AS doc_id,
               round(rank * (SELECT n FROM nn), 6) + 0.0 AS norm_rank
        FROM r{j}"""
    )
    return "".join(parts)


def _bpe_rounds_sql(j: int, v_words: int) -> str:
    """DuckDB replay of functions/bpe.bpe_train: j merge rounds as chained
    MATERIALIZED CTEs.  Each round extracts adjacent symbol pairs
    (unnest + generate_subscripts self-join), takes the best pair with the
    same (n DESC, x, y) tie-break, and applies it with replace() — whose
    left-to-right non-overlapping scan matches Java String.replace, i.e.
    the BPE greedy-merge rule both engines share."""
    parts = [
        rf"""WITH words AS MATERIALIZED (
            SELECT w, count(*) AS c FROM (
                SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
                FROM documents WHERE trim(text) != ''
            ) GROUP BY w ORDER BY c DESC, w LIMIT {v_words}
        ), r0 AS MATERIALIZED (
            SELECT w, c,
                   ' ' || regexp_replace(w, '(.)', '\1 ', 'g') || '</w> ' AS s
            FROM words
        )"""
    ]
    for i in range(1, j + 1):
        parts.append(
            f""", e{i} AS MATERIALIZED (
            SELECT w, c, unnest(a) AS sym, generate_subscripts(a, 1) AS pos
            FROM (SELECT w, c, regexp_split_to_array(trim(s), ' ') AS a FROM r{i - 1})
        ), b{i} AS MATERIALIZED (
            SELECT e1.sym AS x, e2.sym AS y, sum(e1.c) AS n
            FROM e{i} e1 JOIN e{i} e2 ON e1.w = e2.w AND e2.pos = e1.pos + 1
            GROUP BY 1, 2 ORDER BY n DESC, x, y LIMIT 1
        ), r{i} AS MATERIALIZED (
            SELECT w, c, replace(s,
                ' ' || (SELECT x FROM b{i}) || ' ' || (SELECT y FROM b{i}) || ' ',
                ' ' || (SELECT x FROM b{i}) || (SELECT y FROM b{i}) || ' ') AS s
            FROM r{i - 1}
        )"""
        )
    return "".join(parts)


def oracle_sql() -> dict[str, str]:
    tx6, ty6 = _tile_xy_sql(6)
    o: dict[str, str] = {}

    o["tile_assign_z6"] = f"""
        {_GEO_CTE}
        SELECT {tx6} AS x, {ty6} AS y, CAST(count(*) AS BIGINT) AS n_docs
        FROM geo GROUP BY 1, 2
    """

    o["tile_pyramid"] = f"""
        {_GEO_CTE}, t6 AS (
            SELECT CAST({tx6} AS BIGINT) AS x, CAST({ty6} AS BIGINT) AS y,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM geo GROUP BY 1, 2
        ), anc AS (
            SELECT CAST(p AS INT) AS zoom,
                   x >> (6 - CAST(p AS INT)) AS x,
                   y >> (6 - CAST(p AS INT)) AS y,
                   n_docs
            FROM t6, unnest(generate_series(0, 6)) AS s(p)
        )
        SELECT zoom, x, y, CAST(count(*) AS BIGINT) AS n_tiles,
               CAST(sum(n_docs) AS BIGINT) AS n_docs
        FROM anc GROUP BY 1, 2, 3
    """

    parts = []
    for z in (0, 3, 6, 10):
        tx, ty = _tile_xy_sql(z)
        parts.append(
            f"SELECT {z} AS zoom, {tx} AS x, {ty} AS y, CAST(count(*) AS BIGINT) AS n_docs FROM geo GROUP BY 1,2,3"
        )
    o["tile_assign_multizoom"] = _GEO_CTE + " " + " UNION ALL ".join(parts)

    env_parts = []
    for z in range(4):
        length = f"(2.0 * {HW} / power(2.0, {z}))"
        env_parts.append(f"""
            SELECT {z} AS zoom, CAST(x.r AS INT) AS x, CAST(y.r AS INT) AS y,
                   round(-{HW} + x.r * {length}, 3) + 0.0 AS xmin,
                   round({HW} - y.r * {length} - {length}, 3) + 0.0 AS ymin,
                   round(-{HW} + x.r * {length} + {length}, 3) + 0.0 AS xmax,
                   round({HW} - y.r * {length}, 3) + 0.0 AS ymax
            FROM range({2**z}) x(r), range({2**z}) y(r)
        """)
    o["tile_envelope_grid"] = " UNION ALL ".join(env_parts)

    # Hilbert codec as a recursive CTE: iterate bit planes high->low carrying
    # (cx, cy, d); tileid = (4^z - 1)/3 + d
    o["hilbert_tileid"] = f"""
        WITH RECURSIVE tiles AS (
            {' UNION ALL '.join(f"SELECT CAST({z} AS BIGINT) AS zoom, CAST(id % {2**z} AS BIGINT) AS x, CAST(floor(id / {2**z}) AS BIGINT) AS y FROM range({4**z}) t(id)" for z in range(6))}
        ),
        steps AS (
            SELECT zoom, x, y, CAST(zoom - 1 AS INT) AS bit, x AS cx, y AS cy, CAST(0 AS BIGINT) AS d
            FROM tiles
            UNION ALL
            SELECT zoom, x, y, bit - 1,
                CASE WHEN ((cy >> bit) & 1) = 0
                     THEN CASE WHEN ((cx >> bit) & 1) = 1 THEN (1 << bit) - 1 - cy ELSE cy END
                     ELSE cx END AS cx,
                CASE WHEN ((cy >> bit) & 1) = 0
                     THEN CASE WHEN ((cx >> bit) & 1) = 1 THEN (1 << bit) - 1 - cx ELSE cx END
                     ELSE cy END AS cy,
                d + (CAST(1 AS BIGINT) << bit) * (CAST(1 AS BIGINT) << bit)
                  * xor(3 * ((cx >> bit) & 1), (cy >> bit) & 1) AS d
            FROM steps WHERE bit >= 0
        )
        SELECT zoom, x, y, CAST((power(4, zoom) - 1) / 3 AS BIGINT) + d AS tid
        FROM steps WHERE bit = -1
    """

    # hilbert-shards twin: same z6 tile keys, the recursive Hilbert
    # bit-walk over DISTINCT occupied tiles, positional shard formula
    _hs_tx, _hs_ty = _tile_xy_sql(6)
    o["hilbert_shards"] = f"""
        {_GEO_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
        txy AS (
            SELECT doc_id, CAST({_hs_tx} AS BIGINT) AS x,
                   CAST({_hs_ty} AS BIGINT) AS y
            FROM geo
        ),
        hx AS (SELECT DISTINCT x, y FROM txy),
        steps AS (
            SELECT x, y, CAST(5 AS INT) AS bit, x AS cx, y AS cy,
                   CAST(0 AS BIGINT) AS d
            FROM hx
            UNION ALL
            SELECT x, y, bit - 1,
                CASE WHEN ((cy >> bit) & 1) = 0
                     THEN CASE WHEN ((cx >> bit) & 1) = 1
                          THEN (1 << bit) - 1 - cy ELSE cy END
                     ELSE cx END AS cx,
                CASE WHEN ((cy >> bit) & 1) = 0
                     THEN CASE WHEN ((cx >> bit) & 1) = 1
                          THEN (1 << bit) - 1 - cx ELSE cx END
                     ELSE cy END AS cy,
                d + (CAST(1 AS BIGINT) << bit) * (CAST(1 AS BIGINT) << bit)
                  * xor(3 * ((cx >> bit) & 1), (cy >> bit) & 1) AS d
            FROM steps WHERE bit >= 0
        ),
        hid AS (
            SELECT x, y, CAST((power(4, 6) - 1) / 3 AS BIGINT) + d AS tid
            FROM steps WHERE bit = -1
        ),
        ranked AS (
            SELECT t.doc_id, h.tid,
                   row_number() OVER (ORDER BY h.tid, t.doc_id) AS rn,
                   count(*) OVER () AS total
            FROM txy t JOIN hid h ON h.x = t.x AND h.y = t.y
        )
        SELECT CAST(floor((rn - 1) * 8.0 / total) AS INTEGER) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(tid) AS min_tid, max(tid) AS max_tid
        FROM ranked GROUP BY 1 ORDER BY 1
    """

    # geoparse twin: identical tokenization, (count DESC, token) ranking,
    # rank-arithmetic geocode, broadcast-dim semantics as a plain join
    _gp_lat = GEOCODE_ARITH_LAT_SQL.format(id="(CAST(place_rank AS BIGINT) * 7919)")
    _gp_lon = GEOCODE_ARITH_LON_SQL.format(id="(CAST(place_rank AS BIGINT) * 7919)")
    o["gazetteer_geoparse"] = f"""
        WITH toks AS (
            SELECT doc_id, u.t AS place
            FROM documents,
                 UNNEST(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                    x -> x != '')) AS u(t)
        ),
        counts AS (
            SELECT place, count(*) AS n FROM toks
            WHERE len(place) >= 4 GROUP BY 1
        ),
        gaz AS (
            SELECT place,
                   CAST(row_number() OVER (ORDER BY n DESC, place) AS INT)
                       AS place_rank
            FROM counts ORDER BY n DESC, place LIMIT 20
        ),
        g2 AS (
            SELECT place, place_rank, {_gp_lat} AS lat, {_gp_lon} AS lon
            FROM gaz
        ),
        m AS (SELECT t.doc_id, g2.* FROM toks t JOIN g2 USING (place))
        SELECT place, place_rank,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_mentions,
               lat + 0.0 AS lat, lon + 0.0 AS lon
        FROM m GROUP BY place, place_rank, lat, lon
        ORDER BY place_rank
    """

    # co-mention twin: same gazetteer CTEs, distinct doc-place pairs,
    # ordered self-join, >= 2 doc support
    o["place_cooccurrence"] = f"""
        WITH toks AS (
            SELECT doc_id, u.t AS place
            FROM documents,
                 UNNEST(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                    x -> x != '')) AS u(t)
        ),
        counts AS (
            SELECT place, count(*) AS n FROM toks
            WHERE len(place) >= 4 GROUP BY 1
        ),
        gaz AS (
            SELECT place FROM counts ORDER BY n DESC, place LIMIT 20
        ),
        m AS (
            SELECT DISTINCT t.doc_id, t.place
            FROM toks t JOIN gaz USING (place)
        )
        SELECT a.place AS place_a, b.place AS place_b,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM m a JOIN m b
          ON a.doc_id = b.doc_id AND a.place < b.place
        GROUP BY 1, 2 HAVING count(*) >= 2
        ORDER BY 1, 2
    """

    # Douglas-Peucker twin: DP as a recursive span walk.  All per-span
    # interior argmax stats are precomputed non-recursively (aggregates
    # are not allowed in a recursive term), then the walk is a pure join:
    # every span with max d2 > tol^2 splits at its argmax vertex; the
    # kept set is exactly the endpoints appearing in the walk.
    _dp_verts = ", ".join(
        f"({lid}, {i}, {_flit(i * 1000)}, "
        f"{_flit(((i * m) % r - r // 2) * s)})"
        for lid, n, m, r, s in _DP_CHAINS
        for i in range(n)
    )
    _dp_last = ", ".join(f"({lid}, {n - 1})" for lid, n, m, r, s in _DP_CHAINS)
    o["simplify_dp"] = f"""
        WITH RECURSIVE verts(lid, i, x, y) AS (VALUES {_dp_verts}),
        lasts(lid, last_i) AS (VALUES {_dp_last}),
        raw AS (
            SELECT lo.lid, lo.i AS lo, hi.i AS hi, v.i AS vi,
                   CASE WHEN seg2 = 0 THEN 0.0 ELSE
                        ((v.x - lo.x) * (hi.x - lo.x)
                         + (v.y - lo.y) * (hi.y - lo.y)) / seg2 END AS tt,
                   seg2
                 , v.x AS vx, v.y AS vy, lo.x AS lox, lo.y AS loy,
                   hi.x AS hix, hi.y AS hiy
            FROM verts lo
            JOIN verts hi ON hi.lid = lo.lid AND hi.i > lo.i + 1
            JOIN verts v ON v.lid = lo.lid AND v.i > lo.i AND v.i < hi.i
            CROSS JOIN LATERAL (SELECT (hi.x - lo.x) * (hi.x - lo.x)
                                     + (hi.y - lo.y) * (hi.y - lo.y) AS seg2) s
        ),
        d2s AS (
            SELECT lid, lo, hi, vi,
                   CASE
                       WHEN seg2 = 0 OR tt < 0
                           THEN (vx - lox) * (vx - lox) + (vy - loy) * (vy - loy)
                       WHEN tt > 1
                           THEN (vx - hix) * (vx - hix) + (vy - hiy) * (vy - hiy)
                       ELSE ((vx - lox) * (hiy - loy) - (vy - loy) * (hix - lox))
                          * ((vx - lox) * (hiy - loy) - (vy - loy) * (hix - lox))
                          / seg2 END AS d2
            FROM raw
        ),
        spanmax AS (
            SELECT lid, lo, hi, max(d2) AS md FROM d2s GROUP BY 1, 2, 3
        ),
        spanarg AS (
            SELECT m.lid, m.lo, m.hi, m.md, min(d.vi) AS k
            FROM spanmax m JOIN d2s d
              ON d.lid = m.lid AND d.lo = m.lo AND d.hi = m.hi AND d.d2 = m.md
            GROUP BY 1, 2, 3, 4
        ),
        walk(lid, lo, hi) AS (
            SELECT lid, 0, last_i FROM lasts
            UNION ALL
            SELECT w.lid,
                   CASE WHEN c.s = 0 THEN w.lo ELSE p.k END,
                   CASE WHEN c.s = 0 THEN p.k ELSE w.hi END
            FROM walk w
            JOIN spanarg p ON p.lid = w.lid AND p.lo = w.lo AND p.hi = w.hi
            CROSS JOIN (VALUES (0), (1)) c(s)
            WHERE p.md > 360000.0
        ),
        kept AS (
            SELECT lid, i FROM (
                SELECT lid, lo AS i FROM walk
                UNION ALL SELECT lid, hi AS i FROM walk
            ) GROUP BY 1, 2
        )
        SELECT v.lid AS line_id,
               CAST(row_number() OVER (PARTITION BY v.lid ORDER BY v.i) - 1
                    AS INTEGER) AS seq,
               v.x + 0.0 AS px, v.y + 0.0 AS py
        FROM kept k JOIN verts v ON v.lid = k.lid AND v.i = k.i
        ORDER BY line_id, seq
    """

    # outlinks twin: the same edges derived ARITHMETICALLY — an
    # independent check of the regex extraction path
    o["html_outlinks"] = """
        WITH e AS (
            SELECT 'host' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS src,
                   'host' || CAST((doc_id * 7 + j.j * 13) % 20 AS VARCHAR)
                          || '.example' AS dst
            FROM documents,
                 unnest(generate_series(1, doc_id % 3 + 1)) AS j(j)
        )
        SELECT src, dst, CAST(count(*) AS BIGINT) AS n_links
        FROM e GROUP BY 1, 2 ORDER BY 1, 2
    """

    o["worklist_parse"] = """
        WITH lines AS (
            SELECT CAST(event_id % 4 AS INT) AS z,
                   CAST(event_id % CAST(power(2, event_id % 4) AS BIGINT) AS INT) AS x,
                   CAST(user_id % CAST(power(2, event_id % 4) AS BIGINT) AS INT) AS y,
                   event_type AS layer
            FROM events
        )
        SELECT z AS zoom, x, y, CAST(count(DISTINCT layer) AS BIGINT) AS n_layers
        FROM lines GROUP BY 1, 2, 3
    """

    o["spatial_join_grid"] = f"""
        {_GEO_CTE}, {_GRID_SQL}
        SELECT polygon_id, CAST(count(*) AS BIGINT) AS n_docs
        FROM geo JOIN polys
          ON geo.mx >= polys.xmin AND geo.mx <= polys.xmax
         AND geo.my >= polys.ymin AND geo.my <= polys.ymax
        GROUP BY 1
    """

    cell = 2.0 * HW / 4
    len2 = f"(2.0 * {HW} / power(2.0, 2))"
    tx2, ty2 = _tile_xy_sql(2)
    o["raster_vectorize"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, CAST(count(*) AS BIGINT) AS n
            FROM binned GROUP BY 1, 2, 3, 4
        )
        SELECT 2 AS zoom, x, y, bin_x, bin_y, n,
               round((-{HW} + x * {len2}) + bin_x * ({len2} / 16), 3) + 0.0 AS xmin,
               round(({HW} - y * {len2}) - (bin_y + 1) * ({len2} / 16), 3) + 0.0 AS ymin,
               round((-{HW} + x * {len2}) + (bin_x + 1) * ({len2} / 16), 3) + 0.0 AS xmax,
               round(({HW} - y * {len2}) - bin_y * ({len2} / 16), 3) + 0.0 AS ymax
        FROM counts WHERE n >= 2
    """

    from tilekiln_spark.functions.geometry import point_buffer_sql

    _pb_xs, _pb_ys = point_buffer_sql("cx", "cy", 500_000.0, segments=2)
    o["point_buffers"] = f"""
        WITH {_CENTS_SQL}, rings AS (
            SELECT cid, {_pb_xs} AS bx, {_pb_ys} AS by FROM cents
        )
        SELECT cid, CAST(i - 1 AS INTEGER) AS seq,
               round(bx[i], 6) + 0.0 AS px, round(by[i], 6) + 0.0 AS py
        FROM rings CROSS JOIN LATERAL unnest(range(1, len(bx) + 1)) AS u(i)
    """

    def _km_assign(src: str, cents: str) -> str:
        return (
            f"(SELECT doc_id, px, py, cid FROM ("
            f"SELECT g.doc_id, g.px, g.py, c.cid, "
            f"row_number() OVER (PARTITION BY g.doc_id ORDER BY "
            f"(g.px - c.cx) * (g.px - c.cx) + (g.py - c.cy) * (g.py - c.cy) ASC, "
            f"c.cid ASC) AS rn FROM {src} g CROSS JOIN {cents} c) WHERE rn = 1)"
        )

    def _km_update(assigned: str, prev: str) -> str:
        return (
            f"(SELECT p.cid, coalesce(u.ncx, p.cx) AS cx, coalesce(u.ncy, p.cy) AS cy "
            f"FROM {prev} p LEFT JOIN ("
            f"SELECT cid, round(avg(px), 3) AS ncx, round(avg(py), 3) AS ncy "
            f"FROM {assigned} GROUP BY cid) u USING (cid))"
        )

    o["cluster_kmeans"] = f"""
        {_GEO_CTE},
        p AS (SELECT doc_id, mx AS px, my AS py FROM geo),
        seeds AS (
            SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS INTEGER) AS cid,
                   px AS cx, py AS cy
            FROM (SELECT doc_id, px, py FROM p ORDER BY doc_id LIMIT 4)
        ),
        a1 AS {_km_assign('p', 'seeds')},
        c1 AS {_km_update('a1', 'seeds')},
        a2 AS {_km_assign('p', 'c1')},
        c2 AS {_km_update('a2', 'c1')},
        a3 AS {_km_assign('p', 'c2')}
        SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
               round(avg(px), 3) + 0.0 AS cx,
               round(avg(py), 3) + 0.0 AS cy
        FROM a3 GROUP BY cid
    """

    _cw_eps2 = repr(2.0e6 * 2.0e6)
    o["cluster_within"] = f"""
        {_GEO_CTE.replace("WITH geo", "WITH RECURSIVE geo", 1)},
        pairs AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id
            FROM geo a JOIN geo b ON a.doc_id != b.doc_id
             AND (a.mx - b.mx) * (a.mx - b.mx)
               + (a.my - b.my) * (a.my - b.my) <= CAST({_cw_eps2} AS DOUBLE)
        ),
        walk(src, dst) AS (
            SELECT doc_id, doc_id FROM geo
            UNION
            SELECT w.src, e.b_id FROM walk w JOIN pairs e ON e.a_id = w.dst
        )
        SELECT src AS doc_id, MIN(dst) AS cluster_id FROM walk GROUP BY 1
    """

    _idw_d2 = (
        "(geo.mx - cents.cx) * (geo.mx - cents.cx) "
        "+ (geo.my - cents.cy) * (geo.my - cents.cy)"
    )
    o["idw_interpolate"] = f"""
        {_GEO_CTE}, {_CENTS_SQL}, agg AS (
            SELECT cid,
                   sum(CASE WHEN ({_idw_d2}) > 0
                       THEN (1.0 / ({_idw_d2})) * CAST(n_chars AS DOUBLE) END) AS num,
                   sum(CASE WHEN ({_idw_d2}) > 0
                       THEN 1.0 / ({_idw_d2}) END) AS den,
                   max(CASE WHEN ({_idw_d2}) = 0
                       THEN CAST(n_chars AS DOUBLE) END) AS exact
            FROM geo CROSS JOIN cents GROUP BY 1
        )
        SELECT cid, round(coalesce(exact, num / den), 6) + 0.0 AS idw_n_chars
        FROM agg
    """

    import math as _math

    _hs_zen = _math.radians(45.0)
    _hs_c, _hs_s = repr(_math.cos(_hs_zen)), repr(_math.sin(_hs_zen))
    _hs_azm = repr(_math.radians(135.0))
    _hs_z = {i: f"z{i}" for i in range(9)}
    _hs_dzdx = (
        f"(({_hs_z[2]} + {_hs_z[5]} * 2.0 + {_hs_z[8]}) "
        f"- ({_hs_z[0]} + {_hs_z[3]} * 2.0 + {_hs_z[6]})) / 8.0"
    )
    _hs_dzdy = (
        f"(({_hs_z[6]} + {_hs_z[7]} * 2.0 + {_hs_z[8]}) "
        f"- ({_hs_z[0]} + {_hs_z[1]} * 2.0 + {_hs_z[2]})) / 8.0"
    )
    _hs_slope = f"atan(1.0 * sqrt(({_hs_dzdx}) * ({_hs_dzdx}) + ({_hs_dzdy}) * ({_hs_dzdy})))"
    _hs_aspect = f"atan2(({_hs_dzdy}), -({_hs_dzdx}))"
    _hs_shade = (
        f"255.0 * ({_hs_c} * cos({_hs_slope}) "
        f"+ {_hs_s} * sin({_hs_slope}) * cos({_hs_azm} - ({_hs_aspect})))"
    )
    _hs_zcols = ", ".join(
        f"coalesce(sum(CASE WHEN k = {i} THEN v END), 0.0) AS z{i}" for i in range(9)
    )
    _hs_offs = ", ".join(
        f"({k}, {dx}, {dy})"
        for k, (dy, dx) in enumerate(
            (dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)
        )
    )
    o["raster_pyramid"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy,
                   count(*) AS n
            FROM binned GROUP BY 1, 2
        )
        SELECT l.lv AS level,
               CAST(floor(gx / power(2, l.lv)) AS BIGINT) AS cx,
               CAST(floor(gy / power(2, l.lv)) AS BIGINT) AS cy,
               CAST(sum(n) AS BIGINT) AS total_n, count(*) AS n_cells
        FROM counts, unnest(generate_series(1, 3)) AS l(lv)
        GROUP BY 1, 2, 3
        ORDER BY level, cx, cy
    """

    o["raster_hillshade"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, CAST(count(*) AS DOUBLE) AS v
            FROM binned GROUP BY 1, 2, 3, 4
        ), cellsg AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy, v
            FROM counts
        ), offs(k, dx, dy) AS (VALUES {_hs_offs}),
        sh AS (
            SELECT gx - dx AS tgx, gy - dy AS tgy, k, v
            FROM cellsg CROSS JOIN offs
        ), agg AS (
            SELECT tgx, tgy, {_hs_zcols},
                   max(CASE WHEN k = 4 THEN 1 ELSE 0 END) AS present
            FROM sh GROUP BY 1, 2
        )
        SELECT tgx AS gx, tgy AS gy,
               greatest(round({_hs_shade}, 6), 0.0) + 0.0 AS shade
        FROM agg WHERE present = 1
    """

    # slope/aspect twin: same stencil CTEs as hillshade, same Horn
    # gradients (_hs_dzdx/_hs_dzdy), gdaldem formulas + the documented
    # flat -> -1.0 convention
    _sa_slope = f"degrees(atan(1.0 * sqrt(({_hs_dzdx}) * ({_hs_dzdx}) + ({_hs_dzdy}) * ({_hs_dzdy}))))"
    _sa_aspect = (
        f"CASE WHEN ({_hs_dzdx}) = 0.0 AND ({_hs_dzdy}) = 0.0 THEN -1.0 "
        f"ELSE fmod(degrees(atan2(({_hs_dzdy}), -({_hs_dzdx}))) + 360.0, 360.0) END"
    )
    o["raster_slope_aspect"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, CAST(count(*) AS DOUBLE) AS v
            FROM binned GROUP BY 1, 2, 3, 4
        ), cellsg AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy, v
            FROM counts
        ), offs(k, dx, dy) AS (VALUES {_hs_offs}),
        sh AS (
            SELECT gx - dx AS tgx, gy - dy AS tgy, k, v
            FROM cellsg CROSS JOIN offs
        ), agg AS (
            SELECT tgx, tgy, {_hs_zcols},
                   max(CASE WHEN k = 4 THEN 1 ELSE 0 END) AS present
            FROM sh GROUP BY 1, 2
        )
        SELECT tgx AS gx, tgy AS gy,
               round({_sa_slope}, 6) + 0.0 AS slope_deg,
               round({_sa_aspect}, 6) + 0.0 AS aspect_deg
        FROM agg WHERE present = 1
    """

    # terrain-measures twin: same stencil CTEs, gdaldem TRI/TPI/roughness
    # formulas with the SAME fixed neighbor-sum order (0,1,2,3,5,6,7,8,
    # left-assoc) as operators/raster.py terrain_measures
    _tm_nbrs = [0, 1, 2, 3, 5, 6, 7, 8]
    _tm_sq = " + ".join(f"(z{i} - z4) * (z{i} - z4)" for i in _tm_nbrs)
    _tm_ab = " + ".join(f"abs(z{i} - z4)" for i in _tm_nbrs)
    _tm_sm = " + ".join(f"z{i}" for i in _tm_nbrs)
    _tm_all = ", ".join(f"z{i}" for i in range(9))
    o["terrain_measures"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, CAST(count(*) AS DOUBLE) AS v
            FROM binned GROUP BY 1, 2, 3, 4
        ), cellsg AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy, v
            FROM counts
        ), offs(k, dx, dy) AS (VALUES {_hs_offs}),
        sh AS (
            SELECT gx - dx AS tgx, gy - dy AS tgy, k, v
            FROM cellsg CROSS JOIN offs
        ), agg AS (
            SELECT tgx, tgy, {_hs_zcols},
                   max(CASE WHEN k = 4 THEN 1 ELSE 0 END) AS present
            FROM sh GROUP BY 1, 2
        )
        SELECT tgx AS gx, tgy AS gy,
               round(sqrt({_tm_sq}), 6) + 0.0 AS tri_riley,
               round(({_tm_ab}) / 8.0, 6) + 0.0 AS tri_wilson,
               round(z4 - ({_tm_sm}) / 8.0, 6) + 0.0 AS tpi,
               round(greatest({_tm_all}) - least({_tm_all}), 6) + 0.0 AS roughness
        FROM agg WHERE present = 1
    """

    # proximity twin: identical bounded-offset VALUES table + min groupBy
    _px_offs = ", ".join(
        f"({dx}, {dy}, {dx * dx + dy * dy})"
        for dx in range(-4, 5)
        for dy in range(-4, 5)
        if dx * dx + dy * dy <= 16
    )
    o["raster_proximity"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), cellsg AS (
            SELECT DISTINCT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy
            FROM binned
        ), offs(dx, dy, d2) AS (VALUES {_px_offs})
        SELECT gx + dx AS gx, gy + dy AS gy,
               round(sqrt(CAST(min(d2) AS DOUBLE)), 6) + 0.0 AS dist
        FROM cellsg CROSS JOIN offs
        GROUP BY 1, 2
    """

    # Gi* twin: same stencil CTEs; study-region moments over the
    # present-cell bbox (zero cells contribute nothing), identical
    # term order in xbar / sdev / denom as operators/raster.py
    _gi_si = " + ".join(f"z{i}" for i in range(9))
    o["hotspot_gistar"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, CAST(count(*) AS DOUBLE) AS v
            FROM binned GROUP BY 1, 2, 3, 4
        ), cellsg AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy, v
            FROM counts
        ), gmom AS (
            SELECT sum(v) AS tot, sum(v * v) AS tot2,
                   CAST((max(gx) - min(gx) + 1)
                        * (max(gy) - min(gy) + 1) AS DOUBLE) AS nn
            FROM cellsg
        ), offs(k, dx, dy) AS (VALUES {_hs_offs}),
        sh AS (
            SELECT gx - dx AS tgx, gy - dy AS tgy, k, v
            FROM cellsg CROSS JOIN offs
        ), agg AS (
            SELECT tgx, tgy, {_hs_zcols},
                   max(CASE WHEN k = 4 THEN 1 ELSE 0 END) AS present
            FROM sh GROUP BY 1, 2
        )
        SELECT tgx AS gx, tgy AS gy,
               round((({_gi_si}) - (tot / nn) * 9.0)
                     / nullif(sqrt(tot2 / nn - (tot / nn) * (tot / nn))
                        * sqrt((nn * 9.0 - 9.0 * 9.0) / (nn - 1.0)), 0.0), 6)
                   + 0.0 AS gi_z
        FROM agg CROSS JOIN gmom WHERE present = 1
    """

    # Moran's I twin: same stencil + bbox-moment CTEs; exact integer sums
    # (cross-products, degree terms) so aggregation order is immaterial,
    # then the identical one-row scalar assembly
    _mi_s8 = " + ".join(f"z{i}" for i in (0, 1, 2, 3, 5, 6, 7, 8))
    o["morans_i"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, CAST(count(*) AS DOUBLE) AS v
            FROM binned GROUP BY 1, 2, 3, 4
        ), cellsg AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy, v
            FROM counts
        ), gmom AS (
            SELECT min(gx) AS bx0, max(gx) AS bx1,
                   min(gy) AS by0, max(gy) AS by1,
                   sum(v) AS tot, sum(v * v) AS tot2,
                   count(*) AS npres
            FROM cellsg
        ), offs(k, dx, dy) AS (VALUES {_hs_offs}),
        sh AS (
            SELECT gx - dx AS tgx, gy - dy AS tgy, k, v
            FROM cellsg CROSS JOIN offs
        ), agg AS (
            SELECT tgx, tgy, {_hs_zcols},
                   max(CASE WHEN k = 4 THEN 1 ELSE 0 END) AS present
            FROM sh GROUP BY 1, 2
        ), per AS (
            SELECT z4 * ({_mi_s8}) AS c,
                   z4 * CAST((1 + CAST(tgx > bx0 AS INT) + CAST(tgx < bx1 AS INT))
                             * (1 + CAST(tgy > by0 AS INT) + CAST(tgy < by1 AS INT))
                             - 1 AS DOUBLE) AS xd,
                   bx0, bx1, by0, by1, tot, tot2, npres
            FROM agg CROSS JOIN gmom WHERE present = 1
        ), sums AS (
            SELECT bx0, bx1, by0, by1, tot, tot2, npres,
                   sum(c) AS crs, sum(xd) AS sxd
            FROM per GROUP BY 1, 2, 3, 4, 5, 6, 7
        )
        SELECT npres AS n_present,
               CAST(CAST(bx1 - bx0 + 1 AS DOUBLE) * CAST(by1 - by0 + 1 AS DOUBLE) AS BIGINT) AS bbox_n,
               CAST(2.0 * (CAST(bx1 - bx0 + 1 AS DOUBLE) - 1.0) * CAST(by1 - by0 + 1 AS DOUBLE)
                    + 2.0 * CAST(bx1 - bx0 + 1 AS DOUBLE) * (CAST(by1 - by0 + 1 AS DOUBLE) - 1.0)
                    + 4.0 * (CAST(bx1 - bx0 + 1 AS DOUBLE) - 1.0) * (CAST(by1 - by0 + 1 AS DOUBLE) - 1.0) AS BIGINT) AS sw,
               round((CAST(bx1 - bx0 + 1 AS DOUBLE) * CAST(by1 - by0 + 1 AS DOUBLE)
                      / (2.0 * (CAST(bx1 - bx0 + 1 AS DOUBLE) - 1.0) * CAST(by1 - by0 + 1 AS DOUBLE)
                         + 2.0 * CAST(bx1 - bx0 + 1 AS DOUBLE) * (CAST(by1 - by0 + 1 AS DOUBLE) - 1.0)
                         + 4.0 * (CAST(bx1 - bx0 + 1 AS DOUBLE) - 1.0) * (CAST(by1 - by0 + 1 AS DOUBLE) - 1.0)))
                     * (crs - (tot / (CAST(bx1 - bx0 + 1 AS DOUBLE) * CAST(by1 - by0 + 1 AS DOUBLE))) * (2.0 * sxd)
                        + (tot / (CAST(bx1 - bx0 + 1 AS DOUBLE) * CAST(by1 - by0 + 1 AS DOUBLE)))
                          * (tot / (CAST(bx1 - bx0 + 1 AS DOUBLE) * CAST(by1 - by0 + 1 AS DOUBLE)))
                          * (2.0 * (CAST(bx1 - bx0 + 1 AS DOUBLE) - 1.0) * CAST(by1 - by0 + 1 AS DOUBLE)
                             + 2.0 * CAST(bx1 - bx0 + 1 AS DOUBLE) * (CAST(by1 - by0 + 1 AS DOUBLE) - 1.0)
                             + 4.0 * (CAST(bx1 - bx0 + 1 AS DOUBLE) - 1.0) * (CAST(by1 - by0 + 1 AS DOUBLE) - 1.0)))
                     / nullif(tot2 - (CAST(bx1 - bx0 + 1 AS DOUBLE) * CAST(by1 - by0 + 1 AS DOUBLE))
                              * ((tot / (CAST(bx1 - bx0 + 1 AS DOUBLE) * CAST(by1 - by0 + 1 AS DOUBLE)))
                                 * (tot / (CAST(bx1 - bx0 + 1 AS DOUBLE) * CAST(by1 - by0 + 1 AS DOUBLE)))), 0.0), 6)
                   + 0.0 AS moran_i
        FROM sums
    """

    # General G twin: shared stencil cross-products + one-row moments +
    # identical scalar assembly (ppm scaling matches the Spark side)
    o["general_g"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, CAST(count(*) AS DOUBLE) AS v
            FROM binned GROUP BY 1, 2, 3, 4
        ), cellsg AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy, v
            FROM counts
        ), gmom AS (
            SELECT count(*) AS n_present, sum(v) AS tot, sum(v * v) AS tot2,
                   CAST(max(gx) - min(gx) + 1 AS DOUBLE) AS a,
                   CAST(max(gy) - min(gy) + 1 AS DOUBLE) AS b
            FROM cellsg
        ), offs(k, dx, dy) AS (VALUES {_hs_offs}),
        sh AS (
            SELECT gx - dx AS tgx, gy - dy AS tgy, k, v
            FROM cellsg CROSS JOIN offs
        ), agg AS (
            SELECT tgx, tgy, {_hs_zcols},
                   max(CASE WHEN k = 4 THEN 1 ELSE 0 END) AS present
            FROM sh GROUP BY 1, 2
        ), num AS (
            SELECT sum(z4 * ({_mi_s8})) AS crs FROM agg WHERE present = 1
        )
        SELECT n_present, CAST(a * b AS BIGINT) AS bbox_n,
               round(crs / nullif(tot * tot - tot2, 0.0) * 1000000.0, 6)
                   + 0.0 AS g_obs_ppm,
               round((2.0 * (a - 1.0) * b + 2.0 * a * (b - 1.0)
                      + 4.0 * (a - 1.0) * (b - 1.0))
                     / (a * b * (a * b - 1.0)) * 1000000.0, 6)
                   + 0.0 AS g_exp_ppm
        FROM gmom CROSS JOIN num
    """

    # join-counts twin: the shared stencil over the 0/1 indicator +
    # identical exact-integer assembly
    o["join_counts"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y,
                   CAST(CASE WHEN count(*) >= 2 THEN 1 ELSE 0 END AS DOUBLE) AS v
            FROM binned GROUP BY 1, 2, 3, 4
        ), cellsg AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy, v
            FROM counts
        ), gmom AS (
            SELECT sum(v) AS nb,
                   min(gx) AS bx0, max(gx) AS bx1,
                   min(gy) AS by0, max(gy) AS by1
            FROM cellsg
        ), offs(k, dx, dy) AS (VALUES {_hs_offs}),
        sh AS (
            SELECT gx - dx AS tgx, gy - dy AS tgy, k, v
            FROM cellsg CROSS JOIN offs
        ), agg AS (
            SELECT tgx, tgy, {_hs_zcols},
                   max(CASE WHEN k = 4 THEN 1 ELSE 0 END) AS present
            FROM sh GROUP BY 1, 2
        ), per AS (
            SELECT z4 * ({_mi_s8}) AS bb2,
                   z4 * (CAST((1 + CAST(tgx > bx0 AS INT) + CAST(tgx < bx1 AS INT))
                              * (1 + CAST(tgy > by0 AS INT) + CAST(tgy < by1 AS INT))
                              - 1 AS DOUBLE) - ({_mi_s8})) AS bw,
                   nb, bx0, bx1, by0, by1
            FROM agg CROSS JOIN gmom WHERE present = 1
        ), sums AS (
            SELECT nb, bx0, bx1, by0, by1,
                   sum(bb2) AS sbb2, sum(bw) AS sbw
            FROM per GROUP BY 1, 2, 3, 4, 5
        ), dims AS (
            SELECT nb, sbb2, sbw,
                   CAST(bx1 - bx0 + 1 AS DOUBLE) AS a,
                   CAST(by1 - by0 + 1 AS DOUBLE) AS b
            FROM sums
        )
        SELECT CAST(nb AS BIGINT) AS n_black,
               CAST(a * b AS BIGINT) AS bbox_n,
               CAST(sbb2 / 2.0 AS BIGINT) AS bb_obs,
               CAST(sbw AS BIGINT) AS bw_obs,
               CAST((2.0 * (a - 1.0) * b + 2.0 * a * (b - 1.0)
                     + 4.0 * (a - 1.0) * (b - 1.0)) / 2.0
                    - sbb2 / 2.0 - sbw AS BIGINT) AS ww_obs,
               round((2.0 * (a - 1.0) * b + 2.0 * a * (b - 1.0)
                      + 4.0 * (a - 1.0) * (b - 1.0)) / 2.0
                     * nb * (nb - 1.0) / (a * b * (a * b - 1.0)), 6)
                   + 0.0 AS bb_exp
        FROM dims
    """

    # quadrat-dispersion twin: identical binning + one-row exact-sum
    # aggregate + identical scalar assembly
    o["quadrat_test"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, CAST(count(*) AS DOUBLE) AS v
            FROM binned GROUP BY 1, 2, 3, 4
        ), cellsg AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy, v
            FROM counts
        ), g AS (
            SELECT count(*) AS n_present, sum(v) AS tot, sum(v * v) AS tot2,
                   CAST((max(gx) - min(gx) + 1)
                        * (max(gy) - min(gy) + 1) AS DOUBLE) AS nn
            FROM cellsg
        )
        SELECT n_present, CAST(nn AS BIGINT) AS bbox_n,
               CAST(tot AS BIGINT) AS total_pts,
               round((tot2 - nn * ((tot / nn) * (tot / nn)))
                         / nullif(nn - 1.0, 0.0) / nullif(tot / nn, 0.0), 6)
                   + 0.0 AS vmr,
               round((nn - 1.0)
                     * ((tot2 - nn * ((tot / nn) * (tot / nn)))
                        / nullif(nn - 1.0, 0.0) / nullif(tot / nn, 0.0)), 6)
                   + 0.0 AS chi2
        FROM g
    """

    # focal-majority twin: identical long-form scatter, per-value counts,
    # bbox zero bucket, and (count desc, value asc) winner order
    _fm_offs = ", ".join(
        f"({1 if dx == 0 and dy == 0 else 0}, {dx}, {dy})"
        for dy in (-1, 0, 1)
        for dx in (-1, 0, 1)
    )
    o["focal_majority"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, count(*) AS v
            FROM binned GROUP BY 1, 2, 3, 4
        ), cellsg AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy, CAST(v AS BIGINT) AS v
            FROM counts
        ), gmom AS (
            SELECT min(gx) AS bx0, max(gx) AS bx1,
                   min(gy) AS by0, max(gy) AS by1
            FROM cellsg
        ), offs(ctr, dx, dy) AS (VALUES {_fm_offs}),
        sh AS (
            SELECT gx - dx AS tgx, gy - dy AS tgy, ctr, v
            FROM cellsg CROSS JOIN offs
        ), perv AS (
            SELECT tgx, tgy, v, count(*) AS cnt, max(ctr) AS anyctr
            FROM sh GROUP BY 1, 2, 3
        ), pert AS (
            SELECT tgx, tgy, v, cnt,
                   sum(cnt) OVER (PARTITION BY tgx, tgy) AS n_present,
                   max(anyctr) OVER (PARTITION BY tgx, tgy) AS present,
                   row_number() OVER (
                       PARTITION BY tgx, tgy ORDER BY cnt DESC, v ASC) AS rn
            FROM perv
        )
        SELECT tgx AS gx, tgy AS gy,
               CAST(CASE WHEN (1 + CAST(tgx > bx0 AS INT) + CAST(tgx < bx1 AS INT))
                              * (1 + CAST(tgy > by0 AS INT) + CAST(tgy < by1 AS INT))
                              - n_present >= cnt
                         THEN 0 ELSE v END AS BIGINT) AS majority
        FROM pert CROSS JOIN gmom
        WHERE rn = 1 AND present = 1
    """

    # local Moran's I (LISA) twin: same stencil + bbox-moment CTEs, then
    # the identical per-cell z·lag/m2 assembly and quadrant CASE order
    o["local_morans"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, CAST(count(*) AS DOUBLE) AS v
            FROM binned GROUP BY 1, 2, 3, 4
        ), cellsg AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy, v
            FROM counts
        ), gmom AS (
            SELECT min(gx) AS bx0, max(gx) AS bx1,
                   min(gy) AS by0, max(gy) AS by1,
                   sum(v) AS tot, sum(v * v) AS tot2
            FROM cellsg
        ), offs(k, dx, dy) AS (VALUES {_hs_offs}),
        sh AS (
            SELECT gx - dx AS tgx, gy - dy AS tgy, k, v
            FROM cellsg CROSS JOIN offs
        ), agg AS (
            SELECT tgx, tgy, {_hs_zcols},
                   max(CASE WHEN k = 4 THEN 1 ELSE 0 END) AS present
            FROM sh GROUP BY 1, 2
        ), fac AS (
            SELECT tgx, tgy,
                   z4 - (tot / (CAST(bx1 - bx0 + 1 AS DOUBLE) * CAST(by1 - by0 + 1 AS DOUBLE))) AS zi,
                   (({_mi_s8})
                    - CAST((1 + CAST(tgx > bx0 AS INT) + CAST(tgx < bx1 AS INT))
                           * (1 + CAST(tgy > by0 AS INT) + CAST(tgy < by1 AS INT))
                           - 1 AS DOUBLE)
                      * (tot / (CAST(bx1 - bx0 + 1 AS DOUBLE) * CAST(by1 - by0 + 1 AS DOUBLE))))
                   / CAST((1 + CAST(tgx > bx0 AS INT) + CAST(tgx < bx1 AS INT))
                          * (1 + CAST(tgy > by0 AS INT) + CAST(tgy < by1 AS INT))
                          - 1 AS DOUBLE) AS lag,
                   (tot2 - (CAST(bx1 - bx0 + 1 AS DOUBLE) * CAST(by1 - by0 + 1 AS DOUBLE))
                           * ((tot / (CAST(bx1 - bx0 + 1 AS DOUBLE) * CAST(by1 - by0 + 1 AS DOUBLE)))
                              * (tot / (CAST(bx1 - bx0 + 1 AS DOUBLE) * CAST(by1 - by0 + 1 AS DOUBLE)))))
                   / (CAST(bx1 - bx0 + 1 AS DOUBLE) * CAST(by1 - by0 + 1 AS DOUBLE)) AS m2
            FROM agg CROSS JOIN gmom WHERE present = 1
        ), lis AS (
            SELECT tgx, tgy, zi, lag, zi * lag / nullif(m2, 0.0) AS li FROM fac
        )
        SELECT tgx AS gx, tgy AS gy, round(li, 6) + 0.0 AS local_i,
               CASE WHEN li IS NULL THEN 'NA'
                    WHEN zi > 0 AND lag > 0 THEN 'HH'
                    WHEN zi < 0 AND lag < 0 THEN 'LL'
                    WHEN zi > 0 AND lag < 0 THEN 'HL'
                    WHEN zi < 0 AND lag > 0 THEN 'LH'
                    ELSE 'NA' END AS quad
        FROM lis
    """

    # viewshed twin: identical argmax observer, DDA snap, and integer
    # cross-multiplied tangent predicate
    o["viewshed"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, CAST(count(*) AS DOUBLE) AS v
            FROM binned GROUP BY 1, 2, 3, 4
        ), cellsg AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy, v
            FROM counts
        ), obs AS (
            SELECT gx AS ox, gy AS oy, v AS ov FROM cellsg
            QUALIFY row_number() OVER (ORDER BY v DESC, gx DESC, gy DESC) = 1
        ), tg AS (
            SELECT gx, gy, v, ox, oy, ov,
                   greatest(abs(gx - ox), abs(gy - oy)) AS steps
            FROM cellsg CROSS JOIN obs
            WHERE gx <> ox OR gy <> oy
        ), samp AS (
            SELECT gx, gy, v, ov, steps, u.s,
                   CAST(floor(ox + (gx - ox) * u.s / steps + 0.5) AS BIGINT) AS cx,
                   CAST(floor(oy + (gy - oy) * u.s / steps + 0.5) AS BIGINT) AS cy
            FROM tg CROSS JOIN LATERAL unnest(range(1, steps)) AS u(s)
            WHERE steps > 1
        ), jn AS (
            SELECT samp.*, coalesce(sv.v, 0.0) AS vs
            FROM samp LEFT JOIN cellsg sv ON sv.gx = samp.cx AND sv.gy = samp.cy
        ), bl AS (
            SELECT gx, gy,
                   sum(CAST((vs - ov) * steps >= (v - ov) * s AS BIGINT)) AS n_blockers
            FROM jn GROUP BY 1, 2
        )
        SELECT tg.gx, tg.gy,
               CAST(coalesce(bl.n_blockers, 0) AS BIGINT) AS n_blockers,
               coalesce(bl.n_blockers, 0) = 0 AS visible
        FROM tg LEFT JOIN bl ON bl.gx = tg.gx AND bl.gy = tg.gy
    """

    # marching-squares twin: identical window assembly (4 corner offsets,
    # k0=(0,0) k1=(1,0) k2=(1,1) k3=(0,1)), identical 16-case segment table and FIXED saddle
    # convention as operators/raster.py contours
    _ms_t = {
        "B": "CASE WHEN z1 <> z0 THEN (lv.level - z0) / (z1 - z0) ELSE 0.0 END",
        "R": "CASE WHEN z2 <> z1 THEN (lv.level - z1) / (z2 - z1) ELSE 0.0 END",
        "T": "CASE WHEN z2 <> z3 THEN (lv.level - z3) / (z2 - z3) ELSE 0.0 END",
        "L": "CASE WHEN z3 <> z0 THEN (lv.level - z0) / (z3 - z0) ELSE 0.0 END",
    }
    _ms_pt = {
        "B": (f"(CAST(wx AS DOUBLE) + ({_ms_t['B']}))", "CAST(wy AS DOUBLE)"),
        "R": ("(CAST(wx AS DOUBLE) + 1.0)", f"(CAST(wy AS DOUBLE) + ({_ms_t['R']}))"),
        "T": (f"(CAST(wx AS DOUBLE) + ({_ms_t['T']}))", "(CAST(wy AS DOUBLE) + 1.0)"),
        "L": ("CAST(wx AS DOUBLE)", f"(CAST(wy AS DOUBLE) + ({_ms_t['L']}))"),
    }
    _ms_seg0 = {
        1: "LB", 2: "BR", 3: "LR", 4: "RT", 5: "LT", 6: "BT", 7: "LT",
        8: "TL", 9: "BT", 10: "LB", 11: "RT", 12: "LR", 13: "BR", 14: "LB",
    }
    _ms_seg1 = {5: "RB", 10: "RT"}

    def _ms_case(segmap: dict, endpoint: int, coord: int) -> str:
        whens = " ".join(
            f"WHEN idx = {i} THEN {_ms_pt[ab[endpoint]][coord]}"
            for i, ab in segmap.items()
        )
        return f"CASE {whens} END"

    def _ms_branch(segmap: dict, part: int) -> str:
        in_list = ", ".join(str(i) for i in segmap)
        return (
            f"SELECT wx AS gx, wy AS gy, {part} AS part, "
            f"round({_ms_case(segmap, 0, 0)}, 6) + 0.0 AS x1, "
            f"round({_ms_case(segmap, 0, 1)}, 6) + 0.0 AS y1, "
            f"round({_ms_case(segmap, 1, 0)}, 6) + 0.0 AS x2, "
            f"round({_ms_case(segmap, 1, 1)}, 6) + 0.0 AS y2, "
            f"lv.level AS level "
            f"FROM agg CROSS JOIN (VALUES (0.5e0), (2.5e0)) AS lv(level) "
            f"WHERE idx IN ({in_list})"
        )

    _ms_zcols = ", ".join(
        f"coalesce(sum(CASE WHEN k = {i} THEN v END), 0.0) AS z{i}" for i in range(4)
    )
    _ms_idx = (
        "CAST(z0 >= lv.level AS INT) + 2 * CAST(z1 >= lv.level AS INT) "
        "+ 4 * CAST(z2 >= lv.level AS INT) + 8 * CAST(z3 >= lv.level AS INT)"
    )
    # idx depends on level, so fold it into each branch via a lateral-free
    # rewrite: compute idx inline in the WHERE/CASE by textual substitution
    _ms_b0 = _ms_branch(_ms_seg0, 0).replace("idx", f"({_ms_idx})")
    _ms_b1 = _ms_branch(_ms_seg1, 1).replace("idx", f"({_ms_idx})")
    o["raster_contours"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, CAST(count(*) AS DOUBLE) AS v
            FROM binned GROUP BY 1, 2, 3, 4
        ), cellsg AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy, v
            FROM counts
        ), offs(k, cx, cy) AS (VALUES (0, 0, 0), (1, 1, 0), (2, 1, 1), (3, 0, 1)),
        sh AS (
            SELECT gx - cx AS wx, gy - cy AS wy, k, v
            FROM cellsg CROSS JOIN offs
        ), agg AS (
            SELECT wx, wy, {_ms_zcols}
            FROM sh GROUP BY 1, 2
        )
        {_ms_b0} UNION ALL {_ms_b1}
    """

    # bilinear-resample twin: same _stencil4 window CTEs, subpixel
    # weights as exact-binary-fraction literals computed by the SAME
    # Python arithmetic as the engine's literal fold
    _rs_offs = []
    for _sy in range(2):
        for _sx in range(2):
            _u = (_sx + 0.5) / 2
            _v = (_sy + 0.5) / 2
            _rs_offs.append(
                f"({1 + _sx}, {1 + _sy}, {(1.0 - _u) * (1.0 - _v)!r}, "
                f"{_u * (1.0 - _v)!r}, {_u * _v!r}, {(1.0 - _u) * _v!r})"
            )
    o["raster_resample"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, CAST(count(*) AS DOUBLE) AS v
            FROM binned GROUP BY 1, 2, 3, 4
        ), cellsg AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy, v
            FROM counts
        ), offs(k, cx, cy) AS (VALUES (0, 0, 0), (1, 1, 0), (2, 1, 1), (3, 0, 1)),
        sh AS (
            SELECT gx - cx AS wx, gy - cy AS wy, k, v
            FROM cellsg CROSS JOIN offs
        ), agg AS (
            SELECT wx, wy, {_ms_zcols}
            FROM sh GROUP BY 1, 2
        ), subs(so_x, so_y, w0, w1, w2, w3) AS (VALUES {", ".join(_rs_offs)})
        SELECT wx * 2 + so_x AS opx, wy * 2 + so_y AS opy,
               round(z0 * w0 + z1 * w1 + z2 * w2 + z3 * w3, 6) + 0.0 AS value
        FROM agg CROSS JOIN subs
    """

    concave_parts = []
    for p, _n, xs, ys in _CONCAVE_RINGS:
        concave_parts.append(
            f"SELECT {p} AS polygon_id, CAST(count(*) AS BIGINT) AS n_docs "
            f"FROM geo WHERE {_raycast_sql(xs, ys)}"
        )
    o["spatial_join_concave"] = _GEO_CTE + " " + " UNION ALL ".join(concave_parts)
    # subdivision is an execution strategy, not a semantics change: the twin
    # is raw-ring containment over the same fixtures
    o["spatial_join_subdivided"] = o["spatial_join_concave"]

    from tilekiln_spark.functions.geometry import point_ring_distance_sql

    dist_parts = []
    for p, _n, rxs, rys in _CONCAVE_RINGS:
        xs_lit = "[" + ", ".join(repr(v) for v in rxs) + "]"
        ys_lit = "[" + ", ".join(repr(v) for v in rys) + "]"
        d = point_ring_distance_sql("mx", "my", xs_lit, ys_lit)
        dist_parts.append(
            f"SELECT doc_id, {p} AS polygon_id, "
            f"round(CASE WHEN {_raycast_sql(rxs, rys)} THEN 0.0 ELSE {d} END, 6) "
            f"AS dist_r FROM geo"
        )
    o["distance_to_rings"] = (
        _GEO_CTE
        + ", cand AS (" + " UNION ALL ".join(dist_parts) + "), best AS ("
        + "SELECT doc_id, polygon_id, dist_r, row_number() OVER ("
        + "PARTITION BY doc_id ORDER BY dist_r ASC, polygon_id ASC) AS rn FROM cand)"
        + " SELECT doc_id, polygon_id AS nearest_polygon, dist_r + 0.0 AS dist_m"
        + " FROM best WHERE rn = 1"
    )

    from tilekiln_spark.functions.geometry import hex_center_sql, hexbin_qr_sql

    hx_q, hx_r = hexbin_qr_sql("mx", "my", 1_500_000.0)
    hx_cx, hx_cy = hex_center_sql("q", "r", 1_500_000.0)
    o["hexbin_density"] = f"""
        {_GEO_CTE}, binned AS (
            SELECT {hx_q} AS q, {hx_r} AS r FROM geo
        ), agg AS (
            SELECT q, r, CAST(count(*) AS BIGINT) AS n_docs FROM binned GROUP BY 1, 2
        )
        SELECT q, r, n_docs,
               round({hx_cx}, 6) + 0.0 AS center_x,
               round({hx_cy}, 6) + 0.0 AS center_y
        FROM agg
    """

    from tilekiln_spark.functions.geodesic import geography_ring_area_sql

    geog_vals = ",".join(
        f"({g}, "
        + (
            "NULL, NULL"
            if lats is None
            else f"{lats!r}::DOUBLE[], {lons!r}::DOUBLE[]"
        )
        + ")"
        for g, lats, lons in _geog_ring_rows()
    )
    o["geography_area"] = f"""
        WITH t(gid, lats, lons) AS (VALUES {geog_vals})
        SELECT gid,
               round({geography_ring_area_sql('lats', 'lons')} / 1000000.0, 3) + 0.0
                   AS area_km2
        FROM t
    """

    from tilekiln_spark.functions.geometry import (
        line_interpolate_point_sql,
        ring_centroid_sql,
    )

    csx, csy = ring_centroid_sql("xs", "ys")
    o["polygon_centroids"] = f"""
        WITH g(gid, kind, xs, ys) AS (VALUES {_measure_values_sql()})
        SELECT gid, kind, round({csx}, 6) + 0.0 AS cx, round({csy}, 6) + 0.0 AS cy
        FROM g
    """

    from tilekiln_spark.functions.text import readability_sql

    rw, rs, rv, rflesch = readability_sql("text")
    o["readability"] = f"""
        WITH per_doc AS (
            SELECT lang, {rw} AS w, {rs} AS s, {rv} AS v, {rflesch} AS flesch
            FROM documents
        ), banded AS (
            SELECT lang, w, s, v, flesch,
                   CASE WHEN flesch >= 60.0 THEN 'easy'
                        WHEN flesch >= 30.0 THEN 'standard'
                        ELSE 'hard' END AS band
            FROM per_doc
        )
        SELECT lang, band, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(w) AS BIGINT) AS total_words,
               CAST(sum(v) AS BIGINT) AS total_vowel_groups,
               round(avg(flesch), 6) + 0.0 AS avg_flesch
        FROM banded GROUP BY 1, 2
    """

    from tilekiln_spark.functions.geometry import line_length_sql as _llen_sql

    _ev_mx = _MX_SQL.replace("doc_id", "event_id")
    _ev_my = _MY_SQL.replace("doc_id", "event_id")
    # emerging-hotspots twin: identical densify / pairs / tie plan; every
    # sum exact integer, sqrt twin-mirrored inside nullif
    _mk_var = (
        "(CAST(n_periods AS DOUBLE) * (CAST(n_periods AS DOUBLE) - 1.0)"
        " * (2.0 * CAST(n_periods AS DOUBLE) + 5.0) - tie_term) / 18.0"
    )
    o["emerging_hotspots"] = f"""
        WITH ev AS (
            SELECT {_ev_mx} AS mx, {_ev_my} AS my, ts FROM events
        ), src AS (
            SELECT CAST(floor(mx / 5000000.0) AS BIGINT) AS cx,
                   CAST(floor(my / 5000000.0) AS BIGINT) AS cy,
                   CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS p
            FROM ev
        ), counts AS (
            SELECT cx, cy, p, CAST(count(*) AS DOUBLE) AS x
            FROM src GROUP BY 1, 2, 3
        ), rng AS (SELECT min(p) AS pmin, max(p) AS pmax FROM counts),
        cellsd AS (SELECT DISTINCT cx, cy FROM counts),
        dense AS (
            SELECT c.cx, c.cy, u.p, coalesce(k.x, 0.0) AS x
            FROM cellsd c CROSS JOIN rng
                 CROSS JOIN LATERAL unnest(range(pmin, pmax + 1)) AS u(p)
            LEFT JOIN counts k ON k.cx = c.cx AND k.cy = c.cy AND k.p = u.p
        ), s AS (
            SELECT a.cx, a.cy,
                   sum(CAST(sign(b.x - a.x) AS BIGINT)) AS s_stat,
                   max(b.p) - min(a.p) + 1 AS n_periods
            FROM dense a JOIN dense b
              ON a.cx = b.cx AND a.cy = b.cy AND a.p < b.p
            GROUP BY 1, 2
        ), ties AS (
            SELECT cx, cy,
                   sum(t * (t - 1.0) * (2.0 * t + 5.0)) AS tie_term
            FROM (SELECT cx, cy, x, CAST(count(*) AS DOUBLE) AS t
                  FROM dense GROUP BY 1, 2, 3)
            GROUP BY 1, 2
        ), nev AS (
            SELECT cx, cy, count(*) AS n_events FROM src GROUP BY 1, 2
        )
        SELECT s.cx, s.cy, nev.n_events,
               CAST(s.s_stat AS BIGINT) AS s_stat,
               round(CASE
                   WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)
                        / sqrt(nullif({_mk_var}, 0.0))
                   WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)
                        / sqrt(nullif({_mk_var}, 0.0))
                   ELSE 0.0 END, 6) + 0.0 AS mk_z,
               CASE WHEN s_stat > 0 THEN 'increasing'
                    WHEN s_stat < 0 THEN 'decreasing'
                    ELSE 'none' END AS trend
        FROM s JOIN ties ON ties.cx = s.cx AND ties.cy = s.cy
               JOIN nev ON nev.cx = s.cx AND nev.cy = s.cy
    """

    from tilekiln_spark.functions.geometry import turning_angle_sum_sql

    _sin_len = _llen_sql("xs", "ys")
    _sin_turn = turning_angle_sum_sql("xs", "ys")
    _sin_straight = (
        "sqrt((xs[len(xs)] - xs[1]) * (xs[len(xs)] - xs[1]) "
        "+ (ys[len(ys)] - ys[1]) * (ys[len(ys)] - ys[1]))"
    )
    o["trajectory_sinuosity"] = f"""
        WITH ev AS (
            SELECT user_id, ts, event_id, {_ev_mx} AS mx, {_ev_my} AS my
            FROM events
        ), tracks AS (
            SELECT user_id,
                   list(mx ORDER BY ts, event_id) AS xs,
                   list(my ORDER BY ts, event_id) AS ys
            FROM ev GROUP BY user_id
        )
        SELECT user_id, CAST(len(xs) AS INTEGER) AS n_pts,
               round({_sin_len} / 1e3, 3) + 0.0 AS path_km,
               round({_sin_len} / nullif({_sin_straight}, 0.0), 6) + 0.0
                   AS sinuosity,
               round(CASE WHEN len(xs) >= 3
                     THEN degrees({_sin_turn}
                                  / CAST(len(xs) - 2 AS DOUBLE))
                     ELSE 0.0 END, 6) + 0.0 AS mean_turn_deg
        FROM tracks
    """

    # CPA twin: identical lead() segments, day buckets, and clamped
    # quadratic solve; QUALIFY mirrors the (dist2, t) struct-argmin
    o["trajectory_cpa"] = f"""
        WITH ev AS (
            SELECT user_id, event_id, ts, {_ev_mx} AS mx, {_ev_my} AS my
            FROM events
        ), pt AS (
            SELECT user_id AS u, epoch(ts) AS t, mx, my, event_id FROM ev
        ), seg0 AS (
            SELECT u, t AS t1, mx AS x1, my AS y1,
                   lead(t) OVER w AS t2, lead(mx) OVER w AS x2,
                   lead(my) OVER w AS y2
            FROM pt WINDOW w AS (PARTITION BY u ORDER BY t, event_id)
        ), seg AS (
            SELECT * FROM seg0 WHERE t2 IS NOT NULL AND t2 > t1
        ), segb AS (
            SELECT *, unnest(range(CAST(floor(t1 / 86400.0) AS BIGINT),
                                   CAST(floor(t2 / 86400.0) AS BIGINT) + 1)) AS bk
            FROM seg
        ), pr AS (
            SELECT a.u AS u1, b.u AS u2,
                   greatest(a.t1, b.t1) AS s, least(a.t2, b.t2) AS e,
                   a.t1 AS at1, a.x1 AS ax1, a.y1 AS ay1,
                   b.t1 AS bt1, b.x1 AS bx1, b.y1 AS by1,
                   (a.x2 - a.x1) / (a.t2 - a.t1) AS vax,
                   (a.y2 - a.y1) / (a.t2 - a.t1) AS vay,
                   (b.x2 - b.x1) / (b.t2 - b.t1) AS vbx,
                   (b.y2 - b.y1) / (b.t2 - b.t1) AS vby
            FROM segb a JOIN segb b
              ON a.bk = b.bk AND a.u < b.u
             AND a.t1 <= b.t2 AND b.t1 <= a.t2
        ), d0 AS (
            SELECT u1, u2, s, e,
                   (ax1 + vax * (s - at1)) - (bx1 + vbx * (s - bt1)) AS d0x,
                   (ay1 + vay * (s - at1)) - (by1 + vby * (s - bt1)) AS d0y,
                   vax - vbx AS vx, vay - vby AS vy
            FROM pr
        ), tc AS (
            SELECT u1, u2, s, d0x, d0y, vx, vy,
                   greatest(0.0, least(
                       CASE WHEN vx * vx + vy * vy > 0.0
                            THEN -(d0x * vx + d0y * vy) / (vx * vx + vy * vy)
                            ELSE 0.0 END, e - s)) AS tauc
            FROM d0
        ), cand AS (
            SELECT u1, u2,
                   (d0x + vx * tauc) * (d0x + vx * tauc)
                   + (d0y + vy * tauc) * (d0y + vy * tauc) AS dist2,
                   s + tauc AS t_at
            FROM tc
        )
        SELECT u1, u2,
               round(sqrt(dist2) / 1e3, 6) + 0.0 AS cpa_km,
               round(t_at - 1704067200.0, 3) + 0.0 AS t_rel
        FROM cand
        QUALIFY row_number() OVER (
            PARTITION BY u1, u2 ORDER BY dist2, t_at) = 1
    """

    o["user_trajectories"] = f"""
        WITH ev AS (
            SELECT user_id, ts, event_id, {_ev_mx} AS mx, {_ev_my} AS my
            FROM events
        ), tracks AS (
            SELECT user_id,
                   list(floor(mx) ORDER BY ts, event_id) AS xs,
                   list(floor(my) ORDER BY ts, event_id) AS ys
            FROM ev GROUP BY user_id
        )
        SELECT user_id, CAST(len(xs) AS INTEGER) AS n_pts,
               CAST(floor({_llen_sql('xs', 'ys')}) AS BIGINT) AS track_len_m
        FROM tracks
    """

    # bearings twin: identical snap + ordered arrays + trig-free unit
    # folds; one atan2 each side on identical doubles
    from tilekiln_spark.functions.geometry import (
        unit_displacement_sums_sql as _uds_sql,
    )

    _ub_sux, _ub_suy, _ub_ne = _uds_sql("xs", "ys")
    o["trajectory_bearings"] = f"""
        WITH ev AS (
            SELECT user_id, ts, event_id, {_ev_mx} AS mx, {_ev_my} AS my
            FROM events
        ), tracks AS (
            SELECT user_id,
                   list(floor(mx) ORDER BY ts, event_id) AS xs,
                   list(floor(my) ORDER BY ts, event_id) AS ys
            FROM ev GROUP BY user_id
        ), s AS (
            SELECT user_id, {_ub_sux} AS sux, {_ub_suy} AS suy,
                   {_ub_ne} AS n_edges
            FROM tracks
        )
        SELECT user_id, n_edges,
               round(atan2(sux, suy), 6) + 0.0 AS mean_bearing,
               round(sqrt(sux * sux + suy * suy) / n_edges, 6) + 0.0
                   AS resultant_r
        FROM s WHERE n_edges > 0
    """

    # Knox twin: brute-force ordered pairs over the sample with the
    # identical squared-distance and epoch-difference boundary tests
    o["knox_test"] = f"""
        WITH ev AS (
            SELECT event_id, epoch(ts) AS t, {_ev_mx} AS mx, {_ev_my} AS my
            FROM events WHERE event_id % 5 = 0
        ), mom AS (
            SELECT count(*) AS n_events FROM ev
        ), p AS (
            SELECT (a.mx - b.mx) * (a.mx - b.mx)
                       + (a.my - b.my) * (a.my - b.my) AS d2,
                   abs(a.t - b.t) AS dt
            FROM ev a JOIN ev b ON a.event_id <> b.event_id
        ), agg AS (
            SELECT
                sum(CASE WHEN d2 <= 2000000.0 * 2000000.0 THEN 1 ELSE 0 END)
                    AS n_space,
                sum(CASE WHEN dt <= 21600.0 THEN 1 ELSE 0 END) AS n_time,
                sum(CASE WHEN d2 <= 2000000.0 * 2000000.0
                          AND dt <= 21600.0 THEN 1 ELSE 0 END) AS n_both
            FROM p
        )
        SELECT n_events, CAST(n_events * (n_events - 1) AS BIGINT) AS n_pairs,
               CAST(n_space AS BIGINT) AS n_space,
               CAST(n_time AS BIGINT) AS n_time,
               CAST(n_both AS BIGINT) AS n_both,
               round(CAST(n_both AS DOUBLE)
                         * CAST(n_events * (n_events - 1) AS DOUBLE)
                     / nullif(CAST(n_space AS DOUBLE)
                              * CAST(n_time AS DOUBLE), 0.0), 6)
                   + 0.0 AS knox_ratio
        FROM agg CROSS JOIN mom
    """

    _odx_o, _ody_o = _tile_xy_sql(4, "omx", "omy")
    _odx_d, _ody_d = _tile_xy_sql(4, "dmx", "dmy")
    o["od_flows"] = f"""
        WITH ev AS (
            SELECT user_id, ts, event_id, {_ev_mx} AS mx, {_ev_my} AS my
            FROM events
        ), od AS (
            SELECT user_id,
                   first(mx ORDER BY ts, event_id) AS omx,
                   first(my ORDER BY ts, event_id) AS omy,
                   last(mx ORDER BY ts, event_id) AS dmx,
                   last(my ORDER BY ts, event_id) AS dmy
            FROM ev GROUP BY user_id
        ), per AS (
            SELECT {_odx_o} AS o_x, {_ody_o} AS o_y,
                   {_odx_d} AS d_x, {_ody_d} AS d_y,
                   sqrt((dmx - omx) * (dmx - omx) + (dmy - omy) * (dmy - omy))
                       / 1000.0 AS km
            FROM od
        )
        SELECT o_x, o_y, d_x, d_y, count(*) AS n_users,
               round(min(km), 6) + 0.0 AS min_km,
               round(max(km), 6) + 0.0 AS max_km
        FROM per GROUP BY 1, 2, 3, 4
    """

    from tilekiln_spark.functions.geometry import frechet_recursive_cte_sql

    _fr_ctes, _fr_sel = [], []
    for _lid, _uv in _LINES_UV:
        _pts = _line_merc(_uv)
        _cte, _fin = frechet_recursive_cte_sql(
            f"fdp{_lid}", "tracksf", "user_id", _pts
        )
        _fr_ctes.append(_cte)
        _fr_sel.append(
            f"SELECT user_id, {_lid} AS line_id, "
            f"round({_fin} / 1000.0, 6) + 0.0 AS frechet_km "
            f"FROM fdp{_lid} WHERE i = len(xs)"
        )
    o["frechet_trajectories"] = f"""
        WITH RECURSIVE ev AS (
            SELECT user_id, ts, event_id, {_ev_mx} AS mx, {_ev_my} AS my
            FROM events
        ), tracksf AS (
            SELECT user_id,
                   list(mx ORDER BY ts, event_id) AS xs,
                   list(my ORDER BY ts, event_id) AS ys
            FROM ev GROUP BY user_id
        ), {", ".join(_fr_ctes)}
        {" UNION ALL ".join(_fr_sel)}
    """

    from tilekiln_spark.functions.geometry import dtw_recursive_cte_sql

    _dtw_ctes, _dtw_sel = [], []
    for _lid, _uv in _LINES_UV:
        _pts = _line_merc(_uv)
        _cte, _fin = dtw_recursive_cte_sql(
            f"dtwp{_lid}", "tracksf", "user_id", _pts
        )
        _dtw_ctes.append(_cte)
        _dtw_sel.append(
            f"SELECT user_id, {_lid} AS line_id, "
            f"round({_fin} / 1000.0, 6) + 0.0 AS dtw_km "
            f"FROM dtwp{_lid} WHERE i = len(xs)"
        )
    o["dtw_trajectories"] = f"""
        WITH RECURSIVE ev AS (
            SELECT user_id, ts, event_id, {_ev_mx} AS mx, {_ev_my} AS my
            FROM events
        ), tracksf AS (
            SELECT user_id,
                   list(mx ORDER BY ts, event_id) AS xs,
                   list(my ORDER BY ts, event_id) AS ys
            FROM ev GROUP BY user_id
        ), {", ".join(_dtw_ctes)}
        {" UNION ALL ".join(_dtw_sel)}
    """

    # EDR twin: same tracksf CTE, one unrolled integer recurrence per
    # fixture line (exact eps^2 match test — no rounding anywhere)
    from tilekiln_spark.functions.geometry import edr_recursive_cte_sql

    _edr_ctes, _edr_sel = [], []
    for _lid, _uv in _LINES_UV:
        _pts = _line_merc(_uv)
        _cte, _fin = edr_recursive_cte_sql(
            f"edrp{_lid}", "tracksf", "user_id", _pts, 5.0e5
        )
        _edr_ctes.append(_cte)
        _edr_sel.append(
            f"SELECT user_id, {_lid} AS line_id, "
            f"CAST({_fin} AS BIGINT) AS edr "
            f"FROM edrp{_lid} WHERE i = len(xs)"
        )
    o["edr_trajectories"] = f"""
        WITH RECURSIVE ev AS (
            SELECT user_id, ts, event_id, {_ev_mx} AS mx, {_ev_my} AS my
            FROM events
        ), tracksf AS (
            SELECT user_id,
                   list(mx ORDER BY ts, event_id) AS xs,
                   list(my ORDER BY ts, event_id) AS ys
            FROM ev GROUP BY user_id
        ), {", ".join(_edr_ctes)}
        {" UNION ALL ".join(_edr_sel)}
    """

    from tilekiln_spark.functions.geometry import (
        line_locate_point_sql,
        point_chain_distance_sql,
    )

    _mm_d = point_chain_distance_sql("e.mx", "e.my", "li.xs", "li.ys")
    _mm_fr = line_locate_point_sql("li.xs", "li.ys", "e.mx", "e.my")
    o["map_match"] = f"""
        WITH ev AS (
            SELECT event_id, {_ev_mx} AS mx, {_ev_my} AS my
            FROM events WHERE event_id % 7 = 0
        ), li(lid, xs, ys) AS (VALUES {_line_chain_values_sql(_LINES_UV)}),
        pairs AS (
            SELECT e.event_id, li.lid AS line_id,
                   {_mm_d} AS d, {_mm_fr} AS fr
            FROM ev e CROSS JOIN li
        )
        SELECT event_id, line_id,
               round(d / 1e3, 3) + 0.0 AS km_dist,
               round(fr, 6) + 0.0 AS frac
        FROM pairs
        QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY d, line_id) = 1
    """

    _ll_merc = _line_merc(dict(_LINES_UV)[2])
    _ll_xs = "CAST([" + ", ".join(_flit(p[0]) for p in _ll_merc) + "] AS DOUBLE[])"
    _ll_ys = "CAST([" + ", ".join(_flit(p[1]) for p in _ll_merc) + "] AS DOUBLE[])"
    o["line_locate"] = f"""
        {_GEO_CTE}
        SELECT doc_id,
               round({line_locate_point_sql(_ll_xs, _ll_ys, 'mx', 'my')}, 6) + 0.0
                   AS frac
        FROM geo
    """

    from tilekiln_spark.functions.geometry import azimuth_sql

    o["knn_bearings"] = f"""
        {_GEO_CTE}, {_CENTS_SQL}, ranked AS (
            SELECT geo.doc_id, cents.cid, geo.mx, geo.my, cents.cx, cents.cy,
                   row_number() OVER (
                       PARTITION BY geo.doc_id
                       ORDER BY (geo.mx - cents.cx)^2 + (geo.my - cents.cy)^2 ASC,
                                cents.cx ASC, cents.cy ASC
                   ) AS rn
            FROM geo CROSS JOIN cents
        )
        SELECT doc_id, cid,
               round(degrees({azimuth_sql('mx', 'my', 'cx', 'cy')}), 6) + 0.0
                   AS bearing_deg
        FROM ranked WHERE rn = 1
    """

    from tilekiln_spark.functions.geodesic import (
        geography_line_length_sql,
        project_point_sql,
    )

    _glen = geography_line_length_sql("lats", "lons")
    _gperim = geography_line_length_sql("lats", "lons", closed=True)
    o["geography_length"] = f"""
        WITH g(gid, lats, lons) AS (VALUES {_geo_lines_values_sql()})
        SELECT gid,
               round(({_glen}) / 1000.0, 3) + 0.0 AS len_km,
               round(({_gperim}) / 1000.0, 3) + 0.0 AS perim_km
        FROM g
    """

    _pla2, _plo2 = project_point_sql("lat", "lon", "d", "az")
    o["st_project"] = f"""
        WITH p(pid, lat, lon, d, az) AS (VALUES {_project_values_sql()})
        SELECT pid,
               round({_pla2}, 6) + 0.0 AS lat2,
               round({_plo2}, 6) + 0.0 AS lon2
        FROM p
    """

    from tilekiln_spark.functions.geometry import closest_point_on_chain_sql

    _cp_px = "(((gid * 7) % 13 - 6) * 2000000.0)"
    _cp_py = "(((gid * 11) % 17 - 8) * 1500000.0)"
    _cp_rqx, _cp_rqy = closest_point_on_chain_sql(
        "xs", "ys", _cp_px, _cp_py, closed=True
    )
    _cp_cqx, _cp_cqy = closest_point_on_chain_sql(
        "xs", "ys", _cp_px, _cp_py, closed=False
    )
    o["closest_points"] = f"""
        WITH g(gid, kind, xs, ys) AS (VALUES {_measure_values_sql()})
        SELECT gid, kind,
               round(CASE WHEN kind = 'ring' THEN {_cp_rqx}
                          ELSE {_cp_cqx} END, 6) + 0.0 AS qx,
               round(CASE WHEN kind = 'ring' THEN {_cp_rqy}
                          ELSE {_cp_cqy} END, 6) + 0.0 AS qy
        FROM g
    """

    from tilekiln_spark.functions.geometry import chains_intersect_sql

    _ci = chains_intersect_sql("a.xs", "a.ys", "b.xs", "b.ys")
    o["line_intersect_join"] = f"""
        WITH a(lid, xs, ys) AS (VALUES {_line_chain_values_sql(_LINES_UV)}),
             b(lid, xs, ys) AS (VALUES {_line_chain_values_sql(_LINES_B_UV)})
        SELECT a.lid AS a_id, b.lid AS b_id
        FROM a CROSS JOIN b
        WHERE {_ci}
        ORDER BY a_id, b_id
    """

    from tilekiln_spark.functions.geometry import chain_in_ring_sql

    _cir = chain_in_ring_sql("l.xs", "l.ys", "p.xs", "p.ys")
    o["line_in_polygon_join"] = f"""
        WITH l(lid, xs, ys) AS (VALUES {_line_chain_values_sql(_LINES_UV)}),
             p(pid, xs, ys) AS (VALUES {_line_chain_values_sql(_CONTAIN_POLYS_UV)})
        SELECT l.lid AS line_id, p.pid AS poly_id
        FROM l CROSS JOIN p
        WHERE {_cir}
        ORDER BY line_id, poly_id
    """

    from tilekiln_spark.functions.geometry import chain_ring_clip_len_sql

    _clp = chain_ring_clip_len_sql("l.xs", "l.ys", "p.xs", "p.ys")
    o["line_clip_length"] = f"""
        WITH l(lid, xs, ys) AS (VALUES {_line_chain_values_sql(_LINES_UV)}),
             p(pid, xs, ys) AS (VALUES {_line_chain_values_sql(_CONTAIN_POLYS_UV)}),
             pairs AS (
                 SELECT l.lid AS line_id, p.pid AS poly_id, {_clp} AS il
                 FROM l CROSS JOIN p
             )
        SELECT line_id, poly_id, round(il / 1e3, 3) + 0.0 AS km_inside
        FROM pairs WHERE il > 0
        ORDER BY line_id, poly_id
    """

    from tilekiln_spark.functions.geometry import (
        ring_ring_clip_area_sql,
        ring_signed_area2_sql,
    )

    def _ccw_cols(xs: str, ys: str) -> tuple[str, str]:
        sa = ring_signed_area2_sql(xs, ys)
        return (
            f"CASE WHEN ({sa}) < 0 THEN list_reverse({xs}) ELSE {xs} END",
            f"CASE WHEN ({sa}) < 0 THEN list_reverse({ys}) ELSE {ys} END",
        )

    _ax_n, _ay_n = _ccw_cols("xs", "ys")
    _t2 = _LINE_TL * _LINE_TL
    _car = ring_ring_clip_area_sql("a.axs", "a.ays", "bb.bxs", "bb.bys")
    o["poly_clip_area"] = f"""
        WITH a0(aid, xs, ys) AS (VALUES {_line_chain_values_sql(_CONTAIN_POLYS_UV)}),
             b0(bid, xs, ys) AS (VALUES {_line_chain_values_sql(_AREA_POLYS_UV)}),
             a AS (SELECT aid, {_ax_n} AS axs, {_ay_n} AS ays FROM a0),
             bb AS (SELECT bid, {_ax_n} AS bxs, {_ay_n} AS bys FROM b0),
             pairs AS (
                 SELECT a.aid AS a_id, bb.bid AS b_id, {_car} AS ia
                 FROM a CROSS JOIN bb
             )
        SELECT a_id, b_id, round(ia / {_t2!r}, 6) + 0.0 AS tiles2
        FROM pairs WHERE ia > 0
        ORDER BY a_id, b_id
    """

    # difference/symdifference areas: area folds run over the ORIGINAL
    # ring order (oxs/oys — the Spark side folds the raw input arrays;
    # only the clip kernel CCW-normalizes), intersection from the same
    # ring_ring_clip_area kernel as poly_clip_area
    from tilekiln_spark.functions.geometry import ring_area_sql as _ra_sql

    o["poly_diff_area"] = f"""
        WITH a0(aid, xs, ys) AS (VALUES {_line_chain_values_sql(_CONTAIN_POLYS_UV)}),
             b0(bid, xs, ys) AS (VALUES {_line_chain_values_sql(_AREA_POLYS_UV)}),
             a AS (SELECT aid, xs AS oxs, ys AS oys,
                          {_ax_n} AS axs, {_ay_n} AS ays FROM a0),
             bb AS (SELECT bid, xs AS oxs, ys AS oys,
                           {_ax_n} AS bxs, {_ay_n} AS bys FROM b0),
             pairs AS (
                 SELECT a.aid AS a_id, bb.bid AS b_id, {_car} AS ia,
                        {_ra_sql("a.oxs", "a.oys")} AS a_area,
                        {_ra_sql("bb.oxs", "bb.oys")} AS b_area
                 FROM a CROSS JOIN bb
             )
        SELECT a_id, b_id,
               round((a_area - ia) / {_t2!r}, 6) + 0.0 AS diff_tiles2,
               round((a_area + b_area - 2 * ia) / {_t2!r}, 6) + 0.0
                   AS symdiff_tiles2
        FROM pairs WHERE ia > 0
        ORDER BY a_id, b_id
    """

    # named-predicate relate: intersects kernel on the RAW ring arrays
    # (the Spark candidates carry them verbatim), clip kernel on the
    # CCW-normalized ones (mirroring the numpy kernel's internal
    # normalization), thresholds from the same Python-hoisted constants
    from tilekiln_spark.functions.geometry import (
        rings_intersect_sql as _relate_ri,
    )
    from tilekiln_spark.operators.spatial_join import (
        RELATE_TOL_HI as _REL_HI,
        RELATE_TOL_LO as _REL_LO,
    )

    o["spatial_relate"] = f"""
        WITH a0(aid, xs, ys) AS (VALUES {_line_chain_values_sql(_CONTAIN_POLYS_UV)}),
             b0(bid, xs, ys) AS (VALUES {_line_chain_values_sql(_RELATE_POLYS_UV)}),
             a AS (SELECT aid, xs AS oxs, ys AS oys,
                          {_ax_n} AS axs, {_ay_n} AS ays FROM a0),
             bb AS (SELECT bid, xs AS oxs, ys AS oys,
                           {_ax_n} AS bxs, {_ay_n} AS bys FROM b0),
             pairs AS (
                 SELECT a.aid AS a_id, bb.bid AS b_id, {_car} AS ia,
                        {_ra_sql("a.oxs", "a.oys")} AS a_area,
                        {_ra_sql("bb.oxs", "bb.oys")} AS b_area
                 FROM a CROSS JOIN bb
                 WHERE {_relate_ri("a.oxs", "a.oys", "bb.oxs", "bb.oys")}
             )
        SELECT a_id, b_id,
               CASE WHEN ia < {_REL_LO!r} * least(a_area, b_area)
                        THEN 'touches'
                    WHEN ia >= {_REL_HI!r} * a_area
                         AND ia >= {_REL_HI!r} * b_area THEN 'equals'
                    WHEN ia >= {_REL_HI!r} * b_area THEN 'contains'
                    WHEN ia >= {_REL_HI!r} * a_area THEN 'within'
                    ELSE 'overlaps' END AS relation
        FROM pairs
        ORDER BY a_id, b_id
    """

    # ST_LineMerge twin: degree-2 nodes carry exactly two incidences, so
    # min/max(seg_id) IS the sorted through-pair; components via the same
    # recursive-CTE walk shape as the dbscan twin, seeded from EVERY
    # segment so singletons label themselves
    _lm_vals = ", ".join(
        f"({sid}, {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for sid, x1, y1, x2, y2 in _MERGE_SEG_ROWS
    )
    o["line_merge"] = f"""
        WITH RECURSIVE seg(seg_id, x1, y1, x2, y2) AS (VALUES {_lm_vals}),
        ends AS (
            SELECT seg_id, x1 AS nx, y1 AS ny FROM seg
            UNION ALL
            SELECT seg_id, x2 AS nx, y2 AS ny FROM seg
        ),
        nodes AS (
            SELECT nx, ny, count(*) AS degree,
                   min(seg_id) AS sa, max(seg_id) AS sb
            FROM ends GROUP BY 1, 2
        ),
        pairs AS (SELECT sa AS a, sb AS b FROM nodes
                  WHERE degree = 2 AND sa != sb),
        sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
        walk(src, dst) AS (
            SELECT seg_id, seg_id FROM seg
            UNION
            SELECT w.src, e.b FROM walk w JOIN sym e ON e.a = w.dst
        ),
        comp AS (SELECT src AS seg_id, MIN(dst) AS line_id FROM walk GROUP BY 1),
        free AS (
            SELECT e.seg_id, count(*) AS fe
            FROM ends e JOIN nodes n ON n.nx = e.nx AND n.ny = e.ny
            WHERE n.degree != 2 GROUP BY 1
        )
        SELECT c.line_id, count(*) AS n_segs,
               round(sum(sqrt((s.x2 - s.x1) * (s.x2 - s.x1)
                            + (s.y2 - s.y1) * (s.y2 - s.y1))), 6) + 0.0
                   AS merged_len,
               (sum(COALESCE(f.fe, 0)) = 0 AND count(*) > 1) AS is_ring
        FROM comp c
        JOIN seg s USING (seg_id)
        LEFT JOIN free f USING (seg_id)
        GROUP BY 1 ORDER BY 1
    """

    # shortest-paths twin: enumerate every walk from the source up to a
    # hop bound > graph diameter (positive weights -> any label-setting
    # path is simple, so the bound only prunes the cycle enumeration),
    # then pick the (dist, hops)-minimal label per node — the engine's
    # exact tiebreak
    _rt_vals = ", ".join(
        f"({s}, {d}, {w!r})" for s, d, w in _ROUTE_EDGES
    )
    o["route_shortest_paths"] = f"""
        WITH RECURSIVE e0(src, dst, w) AS (VALUES {_rt_vals}),
        e AS (SELECT src, dst, w FROM e0
              UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
        walk(node, d, hops) AS (
            SELECT CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE), 0
            UNION
            SELECT e.dst, w.d + e.w, w.hops + 1
            FROM walk w JOIN e ON e.src = w.node
            WHERE w.hops < 12
        )
        SELECT node, round(d, 6) + 0.0 AS dist, hops
        FROM walk
        QUALIFY row_number() OVER (PARTITION BY node ORDER BY d, hops) = 1
        ORDER BY node
    """

    o["service_areas"] = f"""
        WITH RECURSIVE e0(src, dst, w) AS (VALUES {_rt_vals}),
        e AS (SELECT src, dst, w FROM e0
              UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
        walk(node, d, hops, fac) AS (
            SELECT CAST(f.fac AS BIGINT), CAST(0.0 AS DOUBLE), 0,
                   CAST(f.fac AS BIGINT)
            FROM (VALUES (1), (7)) AS f(fac)
            UNION
            SELECT e.dst, w.d + e.w, w.hops + 1, w.fac
            FROM walk w JOIN e ON e.src = w.node
            WHERE w.d + e.w <= 5.0 AND w.hops < 12
        )
        SELECT fac AS facility, node, round(d, 6) + 0.0 AS dist, hops
        FROM walk
        QUALIFY row_number() OVER (
            PARTITION BY node, fac ORDER BY d, hops) = 1
        ORDER BY facility, node
    """

    o["closest_facility"] = f"""
        WITH RECURSIVE e0(src, dst, w) AS (VALUES {_rt_vals}),
        e AS (SELECT src, dst, w FROM e0
              UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
        walk(node, d, hops, fac) AS (
            SELECT CAST(f.fac AS BIGINT), CAST(0.0 AS DOUBLE), 0,
                   CAST(f.fac AS BIGINT)
            FROM (VALUES (1), (7), (99)) AS f(fac)
            UNION
            SELECT e.dst, w.d + e.w, w.hops + 1, w.fac
            FROM walk w JOIN e ON e.src = w.node
            WHERE w.hops < 12
        )
        SELECT node, fac AS facility, round(d, 6) + 0.0 AS dist, hops
        FROM walk
        QUALIFY row_number() OVER (
            PARTITION BY node ORDER BY d, hops, fac) = 1
        ORDER BY node
    """

    # cluster-intersecting twin: i<j cross-join pairs through the SAME
    # ring-pair intersects kernel the Spark refine runs, components via
    # the bounded recursive walk, singletons seeded from every pid
    _ci_vals = _line_chain_values_sql(
        [r for r in _CONTAIN_POLYS_UV if r[0] != 202] + _RELATE_POLYS_UV
    )
    o["cluster_intersecting"] = f"""
        WITH RECURSIVE p(pid, xs, ys) AS (VALUES {_ci_vals}),
        pairs AS (
            SELECT a.pid AS a, b.pid AS b
            FROM p a JOIN p b ON a.pid < b.pid
             AND {_relate_ri("a.xs", "a.ys", "b.xs", "b.ys")}
        ),
        sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
        walk(src, dst) AS (
            SELECT pid, pid FROM p
            UNION
            SELECT w.src, e.b FROM walk w JOIN sym e ON e.a = w.dst
        ),
        comp AS (SELECT src AS polygon_id, MIN(dst) AS cluster_id
                 FROM walk GROUP BY 1),
        sizes AS (SELECT cluster_id, count(*) AS n_members
                  FROM comp GROUP BY 1)
        SELECT c.polygon_id, c.cluster_id, s.n_members
        FROM comp c JOIN sizes s USING (cluster_id)
        ORDER BY c.polygon_id
    """

    # WET roundtrip twin: the invariant target straight off the table —
    # parse(build(docs)) must reproduce every (uri, BYTE length)
    o["wet_roundtrip"] = """
        SELECT 'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR)
                   AS uri,
               strlen(text) AS n_bytes
        FROM documents ORDER BY uri
    """

    # quadkey twin: identical floor-divide bit arithmetic; the decode
    # twin re-derives x/y from the just-built digits with the same fold
    from tilekiln_spark.functions.tileids import quadkey_sql as _qk_sql

    _qk = _qk_sql(5, "x", "y")
    o["quadkey_tiles"] = f"""
        WITH t AS (
            SELECT CAST(i % 32 AS BIGINT) AS x, CAST(i // 32 AS BIGINT) AS y
            FROM range(1024) r(i)
        ),
        enc AS (SELECT x, y, {_qk} AS qk FROM t)
        SELECT x, y, qk,
               CAST(list_sum(list_transform(range(1, 6), i ->
                   (CAST(qk[i] AS BIGINT) % 2) * CAST(power(2, 5 - i) AS BIGINT)
               )) AS BIGINT) AS rx,
               CAST(list_sum(list_transform(range(1, 6), i ->
                   (CAST(qk[i] AS BIGINT) // 2) * CAST(power(2, 5 - i) AS BIGINT)
               )) AS BIGINT) AS ry
        FROM enc ORDER BY x, y
    """

    # ST_Polygonize twin: half-edges, diamond pseudo-angle, per-node
    # window rank, rotational-predecessor successor join, cycle
    # components via the bounded recursive walk, Green-area HAVING
    _pg_vals = ", ".join(
        f"({sid}, {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for sid, x1, y1, x2, y2 in _POLYGONIZE_SEG_ROWS
    )
    _pg_ang = """CASE
            WHEN (vx - ux) >= 0 AND (vy - uy) >= 0
                THEN (vy - uy) / ((vx - ux) + (vy - uy))
            WHEN (vx - ux) < 0 AND (vy - uy) >= 0
                THEN 1 + (-(vx - ux)) / ((-(vx - ux)) + (vy - uy))
            WHEN (vx - ux) < 0 AND (vy - uy) < 0
                THEN 2 + (-(vy - uy)) / ((-(vx - ux)) + (-(vy - uy)))
            ELSE 3 + (vx - ux) / ((vx - ux) - (vy - uy)) END"""
    o["polygonize"] = f"""
        WITH RECURSIVE seg(seg_id, x1, y1, x2, y2) AS (VALUES {_pg_vals}),
        he AS (
            SELECT seg_id * 2 AS he_id, x1 AS ux, y1 AS uy,
                   x2 AS vx, y2 AS vy FROM seg
            UNION ALL
            SELECT seg_id * 2 + 1, x2, y2, x1, y1 FROM seg
        ),
        ang AS (SELECT he_id, ux, uy, {_pg_ang} AS pangle FROM he),
        rk AS (
            SELECT he_id, ux, uy,
                   row_number() OVER (PARTITION BY ux, uy
                                      ORDER BY pangle, he_id) AS r,
                   count(*) OVER (PARTITION BY ux, uy) AS n
            FROM ang
        ),
        succ AS (
            SELECT a.he_id - (a.he_id % 2) * 2 + 1 AS a, b.he_id AS b
            FROM rk a JOIN rk b ON a.ux = b.ux AND a.uy = b.uy
             AND b.r = ((a.r - 2 + a.n) % a.n) + 1
        ),
        sym AS (SELECT a, b FROM succ UNION SELECT b AS a, a AS b FROM succ),
        walk(src, dst) AS (
            SELECT a, a FROM succ
            UNION
            SELECT w.src, e.b FROM walk w JOIN sym e ON e.a = w.dst
        ),
        comp AS (SELECT src AS he_id, MIN(dst) AS face_id FROM walk GROUP BY 1),
        cyc AS (
            SELECT c.face_id, count(*) AS n_edges,
                   sum(h.ux * h.vy - h.vx * h.uy) / 2.0 AS area
            FROM comp c JOIN he h USING (he_id) GROUP BY 1
        ),
        rep AS (
            SELECT face_id, ux AS rx, uy AS ry FROM (
                SELECT c.face_id, h.ux, h.uy,
                       row_number() OVER (PARTITION BY c.face_id
                                          ORDER BY h.ux, h.uy) AS rn
                FROM comp c JOIN he h USING (he_id)
            ) WHERE rn = 1
        ),
        pos AS (SELECT * FROM cyc WHERE area > 0),
        neg AS (
            SELECT cyc.face_id AS nid, n_edges AS h_edges, area AS h_area,
                   r.rx, r.ry
            FROM cyc JOIN rep r USING (face_id) WHERE area < 0
        ),
        verts AS (SELECT DISTINCT c.face_id, h.ux, h.uy
                  FROM comp c JOIN he h USING (he_id)),
        conflict AS (
            SELECT DISTINCT a.face_id AS nid, b.face_id AS pid
            FROM verts a JOIN verts b
              ON a.ux = b.ux AND a.uy = b.uy AND a.face_id != b.face_id
        ),
        pedges AS (
            SELECT c.face_id AS pid, h.ux, h.uy, h.vx, h.vy
            FROM comp c JOIN he h USING (he_id)
            JOIN pos p ON p.face_id = c.face_id
        ),
        hits AS (
            SELECT n.nid, e.pid, count(*) AS k
            FROM neg n JOIN pedges e
              ON ((e.uy > n.ry) != (e.vy > n.ry))
             AND n.rx < e.ux + (n.ry - e.uy) * (e.vx - e.ux)
                                / (e.vy - e.uy)
            GROUP BY 1, 2
        ),
        contained AS (
            SELECT h.nid, h.pid FROM hits h
            WHERE h.k % 2 = 1 AND NOT EXISTS (
                SELECT 1 FROM conflict cf
                WHERE cf.nid = h.nid AND cf.pid = h.pid)
        ),
        parent AS (
            SELECT nid, pid FROM (
                SELECT ct.nid, ct.pid,
                       row_number() OVER (PARTITION BY ct.nid
                                          ORDER BY p.area, ct.pid) AS rn
                FROM contained ct JOIN pos p ON p.face_id = ct.pid
            ) WHERE rn = 1
        ),
        holes AS (
            SELECT pr.pid, sum(n.h_area) AS h_area,
                   sum(n.h_edges) AS h_edges
            FROM parent pr JOIN neg n ON n.nid = pr.nid GROUP BY 1
        )
        SELECT CAST(p.face_id AS BIGINT) AS face_id,
               CAST(p.n_edges + COALESCE(ho.h_edges, 0) AS BIGINT) AS n_edges,
               round(p.area + COALESCE(ho.h_area, 0.0), 6) + 0.0 AS area
        FROM pos p LEFT JOIN holes ho ON ho.pid = p.face_id
        WHERE p.area + COALESCE(ho.h_area, 0.0) > 0
        ORDER BY p.face_id
    """

    # geography-segmentize twin: bearing + haversine + forward geodesic
    # spliced from the same formula-text generators the engine uses
    from tilekiln_spark.functions.geodesic import (
        haversine_m_sql as _hv_sql,
        initial_bearing_sql as _ib_sql,
        project_point_sql as _pp_sql,
    )

    _sg_vals = ", ".join(
        f"({p}, {a!r}, {b!r}, {c!r}, {d!r})"
        for p, a, b, c, d in _SEGMENTIZE_GEO_ROWS
    )
    _sg_d = (
        f"(CAST(u.k AS DOUBLE) / 8.0 * "
        f"{_hv_sql('lat1', 'lon1', 'lat2', 'lon2')})"
    )
    _sg_la, _sg_lo = _pp_sql(
        "lat1", "lon1", _sg_d, _ib_sql("lat1", "lon1", "lat2", "lon2")
    )
    o["geography_segmentize"] = f"""
        WITH p(pid, lat1, lon1, lat2, lon2) AS (VALUES {_sg_vals})
        SELECT pid, CAST(u.k AS INTEGER) AS k,
               round({_sg_la}, 6) + 0.0 AS lat,
               round({_sg_lo}, 6) + 0.0 AS lon
        FROM p, unnest(generate_series(0, 8)) AS u(k)
        ORDER BY pid, k
    """

    # Hausdorff twin: identical exact-d2 min/max extremes, sqrt+round
    # only in the projection
    o["hausdorff_langs"] = f"""
        {_GEO_CTE},
        directed AS (
            SELECT a.lang AS g_a, b.lang AS g_b, a.doc_id,
                   min((a.mx - b.mx) * (a.mx - b.mx)
                     + (a.my - b.my) * (a.my - b.my)) AS nn2
            FROM geo a JOIN geo b ON a.lang != b.lang
            GROUP BY 1, 2, 3
        ),
        dir2 AS (SELECT g_a, g_b, max(nn2) AS d2 FROM directed GROUP BY 1, 2)
        SELECT f.g_a, f.g_b,
               round(sqrt(greatest(f.d2, r.d2)), 6) + 0.0 AS hausdorff
        FROM dir2 f JOIN dir2 r ON r.g_a = f.g_b AND r.g_b = f.g_a
        WHERE f.g_a < f.g_b
        ORDER BY f.g_a, f.g_b
    """

    # trajectory-stops twin: identical range arithmetic, the same
    # lag-flag running sum for segment ids, list-fold centroids
    o["trajectory_stops"] = """
        WITH pts AS (
            SELECT CAST(i // 25 AS BIGINT) AS user_id,
                   CAST((i % 25) * 10 AS BIGINT) AS ts,
                   CAST(i // 25 AS DOUBLE) * 100000.0
                     + CAST((i % 25) // 5 AS DOUBLE) * 1000.0
                     + CAST(i % 5 AS DOUBLE)
                       * (CASE WHEN (i % 25) // 5 = 2
                               THEN 100.0 ELSE 1.0 END) AS mx,
                   CAST(i // 25 AS DOUBLE) * 7.0 AS my
            FROM range(200) r(i)
        ),
        flagged AS (
            SELECT *, CASE WHEN lag(mx) OVER w IS NULL
                             OR sqrt((mx - lag(mx) OVER w)
                                     * (mx - lag(mx) OVER w)
                                   + (my - lag(my) OVER w)
                                     * (my - lag(my) OVER w)) > 50.0
                           THEN 1 ELSE 0 END AS jump
            FROM pts
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        seg AS (
            SELECT *, SUM(jump) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS seg_id
            FROM flagged
        ),
        rolled AS (
            SELECT user_id, seg_id, count(*) AS n_pts,
                   max(ts) - min(ts) AS dwell_s,
                   list_sum(list(mx ORDER BY ts)) / count(*) AS cx,
                   list_sum(list(my ORDER BY ts)) / count(*) AS cy
            FROM seg GROUP BY 1, 2
        )
        SELECT user_id, CAST(seg_id AS BIGINT) AS seg_id, n_pts, dwell_s,
               round(cx, 6) + 0.0 AS cx, round(cy, 6) + 0.0 AS cy
        FROM rolled WHERE n_pts >= 3
        ORDER BY user_id, seg_id
    """

    # ST_SharedPaths twin: identical collinearity tests + projection/
    # clamp arithmetic per i<j pair
    _sp_vals = ", ".join(
        f"({sid}, {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for sid, x1, y1, x2, y2 in _SHARED_SEG_ROWS
    )
    _sp_rx, _sp_ry = "(a.x2 - a.x1)", "(a.y2 - a.y1)"
    _sp_sx, _sp_sy = "(b.x2 - b.x1)", "(b.y2 - b.y1)"
    _sp_rr = f"({_sp_rx} * {_sp_rx} + {_sp_ry} * {_sp_ry})"
    _sp_t1 = f"(((b.x1 - a.x1) * {_sp_rx} + (b.y1 - a.y1) * {_sp_ry}) / {_sp_rr})"
    _sp_t2 = f"(((b.x2 - a.x1) * {_sp_rx} + (b.y2 - a.y1) * {_sp_ry}) / {_sp_rr})"
    o["shared_paths"] = f"""
        WITH seg(seg_id, x1, y1, x2, y2) AS (VALUES {_sp_vals}),
        pairs AS (
            SELECT a.seg_id AS a_id, b.seg_id AS b_id,
                   (least(1.0, greatest({_sp_t1}, {_sp_t2}))
                    - greatest(0.0, least({_sp_t1}, {_sp_t2})))
                       * sqrt({_sp_rr}) AS shared_len,
                   ({_sp_rx} * {_sp_sx} + {_sp_ry} * {_sp_sy}) > 0
                       AS same_dir
            FROM seg a JOIN seg b ON a.seg_id < b.seg_id
            WHERE ({_sp_rx} * {_sp_sy} - {_sp_ry} * {_sp_sx}) = 0
              AND ((b.x1 - a.x1) * {_sp_ry} - (b.y1 - a.y1) * {_sp_rx}) = 0
              AND {_sp_rr} > 0
        )
        SELECT a_id, b_id, round(shared_len, 6) + 0.0 AS shared_len, same_dir
        FROM pairs WHERE shared_len > 0
        ORDER BY a_id, b_id
    """

    # ST_Node twin: the identical parametric solve per ordered pair,
    # distinct sorted cut fractions per segment, parts via lateral unnest
    _nd_vals = ", ".join(
        f"({sid}, {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for sid, x1, y1, x2, y2 in _NODE_SEG_ROWS
    )
    _nd_den = "((a.x2 - a.x1) * (b.y2 - b.y1) - (a.y2 - a.y1) * (b.x2 - b.x1))"
    _nd_s = f"(((b.x1 - a.x1) * (b.y2 - b.y1) - (b.y1 - a.y1) * (b.x2 - b.x1)) / {_nd_den})"
    _nd_t = f"(((b.x1 - a.x1) * (a.y2 - a.y1) - (b.y1 - a.y1) * (a.x2 - a.x1)) / {_nd_den})"
    # collinear-overlap branch (node_segments r5): project B's endpoints
    # onto A's parameter line when den = 0 and the offset is collinear
    _nd_rr = "((a.x2 - a.x1) * (a.x2 - a.x1) + (a.y2 - a.y1) * (a.y2 - a.y1))"
    _nd_oc = "((b.x1 - a.x1) * (a.y2 - a.y1) - (b.y1 - a.y1) * (a.x2 - a.x1))"
    _nd_f1 = f"(((b.x1 - a.x1) * (a.x2 - a.x1) + (b.y1 - a.y1) * (a.y2 - a.y1)) / {_nd_rr})"
    _nd_f2 = f"(((b.x2 - a.x1) * (a.x2 - a.x1) + (b.y2 - a.y1) * (a.y2 - a.y1)) / {_nd_rr})"

    def _nd_cut_ctes(seg: str) -> str:
        """hits/chits/cuts CTE block of the ST_Node twin over table
        ``seg`` — the crossing/T-touch parametric solve PLUS the r5
        collinear-overlap endpoint projections, exactly node_segments."""
        return f"""
        hits AS (
            SELECT a.seg_id AS sid, {_nd_s} AS s, {_nd_t} AS t
            FROM {seg} a JOIN {seg} b ON a.seg_id != b.seg_id
            WHERE {_nd_den} != 0
        ),
        chits AS (
            SELECT a.seg_id AS sid, u.f AS s
            FROM {seg} a JOIN {seg} b ON a.seg_id != b.seg_id
            CROSS JOIN LATERAL unnest([{_nd_f1}, {_nd_f2}]) AS u(f)
            WHERE {_nd_den} = 0 AND {_nd_oc} = 0 AND {_nd_rr} != 0
        ),
        allcuts AS (
            SELECT sid, s FROM hits
            WHERE s > 0 AND s < 1 AND t >= 0 AND t <= 1
            UNION ALL
            SELECT sid, s FROM chits WHERE s > 0 AND s < 1
        ),
        cuts AS (
            SELECT sid, list_sort(list_distinct(list(s))) AS fs
            FROM allcuts GROUP BY 1
        )"""

    o["node_lines"] = f"""
        WITH seg(seg_id, x1, y1, x2, y2) AS (VALUES {_nd_vals}),
        {_nd_cut_ctes("seg")},
        fr AS (
            SELECT g.seg_id, g.x1, g.y1, g.x2, g.y2,
                   list_concat(list_concat([0.0], COALESCE(c.fs, [])), [1.0])
                       AS f
            FROM seg g LEFT JOIN cuts c ON c.sid = g.seg_id
        )
        SELECT seg_id, CAST(u.i AS INTEGER) AS part,
               round(x1 + f[u.i] * (x2 - x1), 6) + 0.0 AS px1,
               round(y1 + f[u.i] * (y2 - y1), 6) + 0.0 AS py1,
               round(x1 + f[u.i + 1] * (x2 - x1), 6) + 0.0 AS px2,
               round(y1 + f[u.i + 1] * (y2 - y1), 6) + 0.0 AS py2
        FROM fr, unnest(generate_series(1, len(f) - 1)) AS u(i)
        ORDER BY seg_id, part
    """

    # node->polygonize pipeline twin: the node CTEs (unrounded) feed the
    # polygonize CTEs; part ids renumbered seg_id*100+part on both engines
    _np_vals = ", ".join(
        f"({sid}, {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for sid, x1, y1, x2, y2 in _OVERLAP_SQ_SEGS
    )
    o["node_polygonize"] = f"""
        WITH RECURSIVE seg0(seg_id, x1, y1, x2, y2) AS (VALUES {_np_vals}),
        {_nd_cut_ctes("seg0")},
        fr AS (
            SELECT g.seg_id, g.x1, g.y1, g.x2, g.y2,
                   list_concat(list_concat([0.0], COALESCE(c.fs, [])), [1.0])
                       AS f
            FROM seg0 g LEFT JOIN cuts c ON c.sid = g.seg_id
        ),
        parts AS (
            SELECT seg_id * 100 + u.i AS pid,
                   x1 + f[u.i] * (x2 - x1) AS ax,
                   y1 + f[u.i] * (y2 - y1) AS ay,
                   x1 + f[u.i + 1] * (x2 - x1) AS bx,
                   y1 + f[u.i + 1] * (y2 - y1) AS by
            FROM fr, unnest(generate_series(1, len(f) - 1)) AS u(i)
        ),
        he AS (
            SELECT pid * 2 AS he_id, ax AS ux, ay AS uy,
                   bx AS vx, by AS vy FROM parts
            UNION ALL
            SELECT pid * 2 + 1, bx, by, ax, ay FROM parts
        ),
        ang AS (SELECT he_id, ux, uy, {_pg_ang} AS pangle FROM he),
        rk AS (
            SELECT he_id, ux, uy,
                   row_number() OVER (PARTITION BY ux, uy
                                      ORDER BY pangle, he_id) AS r,
                   count(*) OVER (PARTITION BY ux, uy) AS n
            FROM ang
        ),
        succ AS (
            SELECT a.he_id - (a.he_id % 2) * 2 + 1 AS a, b.he_id AS b
            FROM rk a JOIN rk b ON a.ux = b.ux AND a.uy = b.uy
             AND b.r = ((a.r - 2 + a.n) % a.n) + 1
        ),
        sym AS (SELECT a, b FROM succ UNION SELECT b AS a, a AS b FROM succ),
        walk(src, dst) AS (
            SELECT a, a FROM succ
            UNION
            SELECT w.src, e.b FROM walk w JOIN sym e ON e.a = w.dst
        ),
        comp AS (SELECT src AS he_id, MIN(dst) AS face_id FROM walk GROUP BY 1)
        SELECT c.face_id, count(*) AS n_edges,
               round(sum(h.ux * h.vy - h.vx * h.uy) / 2.0, 6) + 0.0 AS area
        FROM comp c JOIN he h USING (he_id)
        GROUP BY 1
        HAVING sum(h.ux * h.vy - h.vx * h.uy) / 2.0 > 0
        ORDER BY face_id
    """

    # union-area twin: node -> canonical dedupe + XOR toggles -> DCEL
    # faces -> recursive coverage walk from the negative cycles
    _ua_vals = ", ".join(
        f"({rid}, {_arr_sql(xs)}, {_arr_sql(ys)})"
        for rid, xs, ys in _UNION_RINGS
    )
    _ua_can = "(ax, ay) <= (bx, by)"

    def _ua_chain(vals: str) -> str:
        """The full coverage-arrangement CTE chain (node -> canonical
        dedupe + XOR toggles -> DCEL faces -> recursive coverage walk)
        parameterized on the ring VALUES list, so make_valid can reuse
        it over a different fixture."""
        return f"""
        WITH RECURSIVE r(ring_id, xs, ys) AS (VALUES {vals}),
        seg0(seg_id, x1, y1, x2, y2) AS (
            SELECT ring_id * 1048576 + u.k,
                   xs[u.k], ys[u.k],
                   xs[(u.k % len(xs)) + 1], ys[(u.k % len(ys)) + 1]
            FROM r, unnest(generate_series(1, len(xs))) AS u(k)
        ),
        {_nd_cut_ctes("seg0")},
        fr AS (
            SELECT g.seg_id, g.x1, g.y1, g.x2, g.y2,
                   list_concat(list_concat([0.0], COALESCE(c.fs, [])), [1.0])
                       AS f
            FROM seg0 g LEFT JOIN cuts c ON c.sid = g.seg_id
        ),
        rawparts AS (
            SELECT seg_id * 100 + u.i AS pid,
                   x1 + f[u.i] * (x2 - x1) AS ax,
                   y1 + f[u.i] * (y2 - y1) AS ay,
                   x1 + f[u.i + 1] * (x2 - x1) AS bx,
                   y1 + f[u.i + 1] * (y2 - y1) AS by
            FROM fr, unnest(generate_series(1, len(f) - 1)) AS u(i)
        ),
        canon AS (
            SELECT pid,
                   CASE WHEN {_ua_can} THEN ax ELSE bx END AS x1,
                   CASE WHEN {_ua_can} THEN ay ELSE by END AS y1,
                   CASE WHEN {_ua_can} THEN bx ELSE ax END AS x2,
                   CASE WHEN {_ua_can} THEN by ELSE ay END AS y2,
                   (CAST(1 AS BIGINT) << CAST(pid // 100 // 1048576 AS INTEGER)) AS bit
            FROM rawparts
        ),
        parts AS (
            SELECT min(pid) AS pid, x1, y1, x2, y2, bit_xor(bit) AS bit
            FROM canon GROUP BY x1, y1, x2, y2
        ),
        he AS (
            SELECT pid * 2 AS he_id, x1 AS ux, y1 AS uy,
                   x2 AS vx, y2 AS vy FROM parts
            UNION ALL
            SELECT pid * 2 + 1, x2, y2, x1, y1 FROM parts
        ),
        ang AS (SELECT he_id, ux, uy, {_pg_ang} AS pangle FROM he),
        rk AS (
            SELECT he_id, ux, uy,
                   row_number() OVER (PARTITION BY ux, uy
                                      ORDER BY pangle, he_id) AS r,
                   count(*) OVER (PARTITION BY ux, uy) AS n
            FROM ang
        ),
        succ AS (
            SELECT a.he_id - (a.he_id % 2) * 2 + 1 AS a, b.he_id AS b
            FROM rk a JOIN rk b ON a.ux = b.ux AND a.uy = b.uy
             AND b.r = ((a.r - 2 + a.n) % a.n) + 1
        ),
        sym AS (SELECT a, b FROM succ UNION SELECT b AS a, a AS b FROM succ),
        walk(src, dst) AS (
            SELECT a, a FROM succ
            UNION
            SELECT w.src, e.b FROM walk w JOIN sym e ON e.a = w.dst
        ),
        comp AS (SELECT src AS he_id, MIN(dst) AS face_id FROM walk GROUP BY 1),
        cyc AS (
            SELECT c.face_id,
                   sum(h.ux * h.vy - h.vx * h.uy) / 2.0 AS area
            FROM comp c JOIN he h USING (he_id) GROUP BY 1
        ),
        adj AS (
            SELECT DISTINCT ca.face_id AS face_a, cb.face_id AS face_b, p.bit
            FROM comp ca
            JOIN comp cb ON cb.he_id = ca.he_id - (ca.he_id % 2) * 2 + 1
            JOIN parts p ON p.pid = ca.he_id // 2
        ),
        wk(face, mask, root) AS (
            SELECT face_id, CAST(0 AS BIGINT), face_id FROM cyc WHERE area < 0
            UNION
            SELECT a.face_b, xor(w.mask, a.bit), w.root
            FROM wk w JOIN adj a ON a.face_a = w.face
        ),
        lbl0 AS (SELECT DISTINCT face, mask, root FROM wk),
        -- r5 disjoint-nesting correction (mirrors coverage_faces): a
        -- component's outer face seeds at the host face's mask =
        -- XOR of bits of other-component rings strictly containing the
        -- component's lexicographically-min outer-cycle vertex
        fring AS (
            SELECT DISTINCT p.pid // 100 // 1048576 AS ring_id, l.root
            FROM comp c
            JOIN parts p ON p.pid = c.he_id // 2
            JOIN lbl0 l ON l.face = c.face_id
        ),
        reps AS (
            SELECT face_id AS root, ux AS vx, uy AS vy FROM (
                SELECT c2.face_id, h.ux, h.uy,
                       row_number() OVER (PARTITION BY c2.face_id
                                          ORDER BY h.ux, h.uy) AS rn
                FROM comp c2 JOIN he h USING (he_id)
                JOIN cyc ON cyc.face_id = c2.face_id AND cyc.area < 0
            ) WHERE rn = 1
        ),
        seedm AS (
            SELECT reps.root,
                   CAST(sum(CAST(1 AS BIGINT) << CAST(r.ring_id AS INTEGER)) AS BIGINT)
                       AS seed_mask
            FROM reps
            JOIN r ON TRUE
            JOIN fring fr ON fr.ring_id = r.ring_id
             AND fr.root != reps.root
            WHERE list_sum(list_transform(
                      range(1, len(r.xs) + 1),
                      k -> CASE WHEN (r.ys[k] > reps.vy)
                                     != (r.ys[(k % len(r.ys)) + 1] > reps.vy)
                           THEN CASE WHEN reps.vx < r.xs[k]
                                          + (reps.vy - r.ys[k])
                                          * (r.xs[(k % len(r.xs)) + 1] - r.xs[k])
                                          / (r.ys[(k % len(r.ys)) + 1] - r.ys[k])
                                THEN 1 ELSE 0 END ELSE 0 END)) % 2 = 1
            GROUP BY 1
        ),
        lbl AS (
            SELECT l.face, xor(l.mask, COALESCE(s.seed_mask, 0)) AS mask
            FROM lbl0 l LEFT JOIN seedm s ON s.root = l.root
        )
    """

    _ua_cte = _ua_chain(_ua_vals)
    o["union_area_rings"] = f"""{_ua_cte}
        SELECT round(sum(c.area), 6) + 0.0 AS union_area,
               count(*) AS n_faces
        FROM cyc c JOIN lbl l ON l.face = c.face_id
        WHERE l.mask != 0
    """
    # exclusive areas: the SAME arrangement chain, a different tail —
    # faces whose mask is exactly one ring's bit
    o["exclusive_areas"] = f"""{_ua_cte},
        rid(ring_id) AS (SELECT unnest(generate_series(0,
            {len(_UNION_RINGS) - 1})))
        SELECT r2.ring_id,
               round(sum(c.area), 6) + 0.0 AS excl_area,
               count(*) AS n_faces
        FROM cyc c
        JOIN lbl l ON l.face = c.face_id
        JOIN rid r2 ON l.mask = (CAST(1 AS BIGINT) << CAST(r2.ring_id AS INTEGER))
        GROUP BY 1 ORDER BY 1
    """
    # make-valid twin: the SAME arrangement chain over the bowtie
    # fixture, tail = per-ring parity-bit join
    _mv_vals = ", ".join(
        f"({rid}, {_arr_sql(xs)}, {_arr_sql(ys)})"
        for rid, xs, ys in _MAKEVALID_RINGS
    )
    o["make_valid"] = f"""{_ua_chain(_mv_vals)},
        rid(ring_id) AS (SELECT unnest(generate_series(0,
            {len(_MAKEVALID_RINGS) - 1})))
        SELECT r2.ring_id,
               round(sum(c.area), 6) + 0.0 AS valid_area,
               count(*) AS n_faces
        FROM cyc c
        JOIN lbl l ON l.face = c.face_id
        JOIN rid r2 ON (l.mask & (CAST(1 AS BIGINT) << CAST(r2.ring_id AS INTEGER))) != 0
        GROUP BY 1 ORDER BY 1
    """

    # contested-area twin: coverage-depth histogram off the same chain
    o["contested_area"] = f"""{_ua_cte}
        SELECT CAST(bit_count(l.mask) AS INTEGER) AS depth,
               round(sum(c.area), 6) + 0.0 AS area,
               count(*) AS n_faces
        FROM cyc c JOIN lbl l ON l.face = c.face_id
        WHERE l.mask != 0
        GROUP BY 1 ORDER BY 1
    """

    # MIC twin: the same 6 refinement levels as chained CTEs, identical
    # signed-clearance arithmetic and (score DESC, px, py) tiebreak
    from tilekiln_spark.functions.geometry import (
        point_in_ring_sql as _mic_pir_sql,
        point_ring_distance_sql as _mic_prd_sql,
    )

    _mic_pir = _mic_pir_sql("px", "py", "xs", "ys")
    _mic_prd = _mic_prd_sql("px", "py", "xs", "ys")
    _mic_ctes = [
        f"p(pid, xs, ys) AS (VALUES {_line_chain_values_sql(_AREA_POLYS_UV)})",
        "g(i) AS (SELECT CAST(unnest(generate_series(0, 3)) AS DOUBLE))",
        "s0 AS (SELECT pid, xs, ys,"
        " (list_min(xs) + list_max(xs)) / 2.0 AS cx,"
        " (list_min(ys) + list_max(ys)) / 2.0 AS cy,"
        " (list_max(xs) - list_min(xs)) / 4.0 AS cw,"
        " (list_max(ys) - list_min(ys)) / 4.0 AS ch FROM p)",
    ]
    for _k in range(1, 7):
        _mic_ctes.append(
            f"cand{_k} AS (SELECT pid, xs, ys, cw, ch,"
            f" cx + (gi.i - 1.5) * cw AS px, cy + (gj.i - 1.5) * ch AS py"
            f" FROM s{_k - 1}, g gi, g gj)"
        )
        _mic_ctes.append(
            f"scored{_k} AS (SELECT *, CASE WHEN {_mic_pir}"
            f" THEN {_mic_prd} ELSE -({_mic_prd}) END AS score FROM cand{_k})"
        )
        _mic_ctes.append(
            f"pick{_k} AS (SELECT *, row_number() OVER (PARTITION BY pid"
            f" ORDER BY score DESC, px, py) AS rn FROM scored{_k})"
        )
        _mic_ctes.append(
            f"s{_k} AS (SELECT pid, xs, ys, px AS cx, py AS cy,"
            f" cw / 2.0 AS cw, ch / 2.0 AS ch, score AS radius"
            f" FROM pick{_k} WHERE rn = 1)"
        )
    _mic_with = ",\n        ".join(_mic_ctes)
    o["max_inscribed_circle"] = f"""
        WITH {_mic_with}
        SELECT pid AS polygon_id,
               round(cx, 6) + 0.0 AS cx,
               round(cy, 6) + 0.0 AS cy,
               round(radius, 6) + 0.0 AS radius
        FROM s6 ORDER BY pid
    """

    # Delaunay-family twins: the identical triple enumeration + incircle
    # determinant (term-order contract in operators/triangulate.py
    # incircle_det_sql / circumcenter_sql) as chained unnest CTEs over
    # the same quadrant point sample.
    from tilekiln_spark.operators.triangulate import (
        circumcenter_sql as _tri_ccsql,
        incircle_det_sql as _tri_detsql,
    )

    _tri_det = _tri_detsql(
        "x_a", "y_a", "x_b", "y_b", "x_c", "y_c", "xs[m]", "ys[m]"
    )
    _tri_ccx, _tri_ccy = _tri_ccsql("x_a", "y_a", "x_b", "y_b", "x_c", "y_c")
    _TRI_CTE = f"""pts AS (
            SELECT DISTINCT (CASE WHEN mx >= 0 THEN 2 ELSE 0 END
                             + CASE WHEN my >= 0 THEN 1 ELSE 0 END) AS gid,
                   mx, my
            FROM geo WHERE doc_id % 3 = 0
        ), gl AS (
            SELECT gid, list_transform(ps, s -> s.x) AS xs,
                   list_transform(ps, s -> s.y) AS ys
            FROM (SELECT gid, list_sort(list(struct_pack(x := mx, y := my))) AS ps
                  FROM pts GROUP BY gid)
            WHERE len(ps) >= 3
        ), ci AS (SELECT gid, xs, ys,
                         unnest(generate_series(1, len(xs) - 2)) AS i FROM gl),
        cj AS (SELECT gid, xs, ys, i,
                      unnest(generate_series(i + 1, len(xs) - 1)) AS j FROM ci),
        ck AS (SELECT gid, xs, ys, i, j,
                      unnest(generate_series(j + 1, len(xs))) AS k FROM cj),
        tri0 AS (SELECT gid, xs, ys, i, j, k,
            xs[i] AS x_a, ys[i] AS y_a, xs[j] AS x_b, ys[j] AS y_b,
            xs[k] AS x_c, ys[k] AS y_c,
            ((xs[j] - xs[i]) * (ys[k] - ys[i])
             - (ys[j] - ys[i]) * (xs[k] - xs[i])) AS dor
          FROM ck),
        tri AS (SELECT gid, i, j, k, x_a, y_a, x_b, y_b, x_c, y_c,
                abs(dor) / 2.0 AS tri_area,
                {_tri_ccx} AS ccx, {_tri_ccy} AS ccy
          FROM tri0
          WHERE dor != 0.0 AND len(list_filter(generate_series(1, len(xs)),
            m -> NOT (m = i OR m = j OR m = k OR ({_tri_det} * dor <= 0.0)))) = 0)"""

    o["delaunay_tin"] = f"""
        {_GEO_CTE}, {_TRI_CTE}
        SELECT gid, CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
               CAST(k AS INTEGER) AS k,
               round(ccx, 3) + 0.0 AS ccx, round(ccy, 3) + 0.0 AS ccy,
               round(tri_area / 1000000.0, 3) + 0.0 AS tri_km2
        FROM tri ORDER BY gid, i, j, k
    """

    o["largest_empty_circle"] = f"""
        {_GEO_CTE}, {_TRI_CTE},
        bbox AS (SELECT gid, min(mx) AS bx0, max(mx) AS bx1,
                        min(my) AS by0, max(my) AS by1
                 FROM pts GROUP BY gid),
        cand AS (
            SELECT t.gid, t.ccx, t.ccy,
                   ((x_a - ccx) * (x_a - ccx)
                    + (y_a - ccy) * (y_a - ccy)) AS r2
            FROM tri t JOIN bbox b ON t.gid = b.gid
            WHERE ccx >= bx0 AND ccx <= bx1 AND ccy >= by0 AND ccy <= by1)
        SELECT gid, round(ccx, 3) + 0.0 AS lec_x,
               round(ccy, 3) + 0.0 AS lec_y,
               round(sqrt(r2) / 1000.0, 6) + 0.0 AS lec_km
        FROM cand
        QUALIFY row_number() OVER (
            PARTITION BY gid ORDER BY r2 DESC, ccx DESC, ccy DESC) = 1
    """

    _TRI_EDGES = """edges AS (
            SELECT gid, ccx, ccy, i AS e1, j AS e2,
                   x_a AS x1, y_a AS y1, x_b AS x2, y_b AS y2 FROM {src}
            UNION ALL
            SELECT gid, ccx, ccy, j, k, x_b, y_b, x_c, y_c FROM {src}
            UNION ALL
            SELECT gid, ccx, ccy, i, k, x_a, y_a, x_c, y_c FROM {src})"""

    o["alpha_shape"] = f"""
        {_GEO_CTE}, {_TRI_CTE},
        kept AS (SELECT * FROM (
            SELECT *, ((x_a - ccx) * (x_a - ccx)
                       + (y_a - ccy) * (y_a - ccy)) AS r2 FROM tri)
            WHERE r2 <= 1.6e13),
        {_TRI_EDGES.format(src="kept")},
        stats AS (SELECT gid, count(*) AS n_tri, sum(tri_area) AS shape_area
                  FROM kept GROUP BY gid),
        be AS (SELECT gid, count(*) AS boundary_edges FROM (
                   SELECT gid, e1, e2 FROM edges
                   GROUP BY gid, e1, e2 HAVING count(*) = 1)
               GROUP BY gid)
        SELECT s.gid, s.n_tri, coalesce(be.boundary_edges, 0) AS boundary_edges,
               round(s.shape_area / 1000000.0, 3) + 0.0 AS shape_km2
        FROM stats s LEFT JOIN be USING (gid) ORDER BY s.gid
    """

    o["voronoi_bounded_cells"] = f"""
        {_GEO_CTE}, {_TRI_CTE},
        {_TRI_EDGES.format(src="tri")},
        eagg AS (SELECT gid, e1, e2, count(*) AS cnt,
                        list_sort(list(struct_pack(cx := ccx, cy := ccy))) AS cs,
                        min(x1) AS x1, min(y1) AS y1,
                        min(x2) AS x2, min(y2) AS y2
                 FROM edges GROUP BY gid, e1, e2),
        hs AS (SELECT DISTINCT gid, e1 AS site FROM eagg WHERE cnt = 1
               UNION SELECT gid, e2 FROM eagg WHERE cnt = 1),
        contrib AS (
            SELECT gid, e1 AS site, x1 AS sx, y1 AS sy,
                   abs((cs[1].cx - x1) * (cs[2].cy - y1)
                       - (cs[1].cy - y1) * (cs[2].cx - x1)) / 2.0 AS part
            FROM eagg WHERE cnt = 2
            UNION ALL
            SELECT gid, e2, x2, y2,
                   abs((cs[1].cx - x2) * (cs[2].cy - y2)
                       - (cs[1].cy - y2) * (cs[2].cx - x2)) / 2.0
            FROM eagg WHERE cnt = 2),
        cells AS (SELECT gid, site, min(sx) AS sx, min(sy) AS sy,
                         count(*) AS n_vertices, sum(part) AS cell_area
                  FROM contrib GROUP BY gid, site)
        SELECT c.gid, CAST(c.site AS INTEGER) AS site,
               round(c.sx, 6) + 0.0 AS sx, round(c.sy, 6) + 0.0 AS sy,
               c.n_vertices,
               round(c.cell_area / 1000000.0, 3) + 0.0 AS cell_km2
        FROM cells c
        WHERE NOT EXISTS (SELECT 1 FROM hs
                          WHERE hs.gid = c.gid AND hs.site = c.site)
        ORDER BY c.gid, c.site
    """

    from tilekiln_spark.functions.geometry import (
        min_clearance_sql as _mcl_sql,
    )

    o["min_clearance"] = f"""
        WITH p(polygon_id, xs, ys) AS (VALUES
            {_line_chain_values_sql(_CONTAIN_POLYS_UV)},
            {_line_chain_values_sql(_AREA_POLYS_UV)})
        SELECT polygon_id,
               round({_mcl_sql("xs", "ys")}, 6) + 0.0 AS clearance
        FROM p ORDER BY polygon_id
    """

    from tilekiln_spark.functions.geometry import (
        halfplane_clip_area_sql as _hpa_sql,
    )

    _split_selects = []
    for _lbl, _nx, _ny, _c in _SPLIT_BLADES:
        _split_selects.append(
            f"SELECT polygon_id, '{_lbl}' AS blade, "
            f"round(({_hpa_sql('xs', 'ys', _nx, _ny, _c)}) / 1000000.0, 3) "
            f"+ 0.0 AS a_le_km2, "
            f"round(({_hpa_sql('xs', 'ys', -_nx, -_ny, -_c)}) / 1000000.0, 3) "
            f"+ 0.0 AS a_gt_km2 FROM p"
        )
    o["split_blade_areas"] = (
        "WITH p(polygon_id, xs, ys) AS (VALUES "
        f"{_line_chain_values_sql(_CONTAIN_POLYS_UV)}, "
        f"{_line_chain_values_sql(_AREA_POLYS_UV)}) "
        + " UNION ALL ".join(_split_selects)
        + " ORDER BY blade, polygon_id"
    )

    from tilekiln_spark.functions.geometry import ring_normalize_sql

    _nr_x, _nr_y = ring_normalize_sql("xs", "ys")
    o["normalized_rings"] = (
        "WITH p(polygon_id, xs, ys) AS (VALUES "
        f"{_line_chain_values_sql(_CONTAIN_POLYS_UV)}, "
        f"{_line_chain_values_sql(_AREA_POLYS_UV)}), "
        f"normd AS (SELECT polygon_id, {_nr_x} AS nx, {_nr_y} AS ny FROM p) "
        "SELECT polygon_id, CAST(i - 1 AS INTEGER) AS seq, "
        "round(nx[i], 6) + 0.0 AS px, round(ny[i], 6) + 0.0 AS py "
        "FROM normd CROSS JOIN LATERAL unnest(range(1, len(nx) + 1)) AS u(i)"
    )



    # geometric-median twin: the same 8 Weiszfeld iterations as chained
    # CTEs (the pagerank/BPE replay pattern); every arithmetic op —
    # clamped distance, 1.0/d and x/d folds, final sx/sw division —
    # mirrors the engine's nested-HOF step exactly
    def _gm_step_sql(k: int) -> str:
        d = (
            "greatest(sqrt((xs[i] - mx) * (xs[i] - mx) "
            "+ (ys[i] - my) * (ys[i] - my)), 1e-12)"
        )
        rng = "range(1, len(xs) + 1)"
        sw = f"list_sum(list_transform({rng}, i -> 1.0 / {d}))"
        sx = f"list_sum(list_transform({rng}, i -> xs[i] / {d}))"
        sy = f"list_sum(list_transform({rng}, i -> ys[i] / {d}))"
        return (
            f"m{k} AS (SELECT lang, xs, ys, "
            f"({sx}) / ({sw}) AS mx, ({sy}) / ({sw}) AS my "
            f"FROM m{k - 1})"
        )

    _gm_ctes = ",\n        ".join(_gm_step_sql(k) for k in range(1, 9))
    # standard deviational ellipse twin: identical km snap -> exact
    # integer moment sums -> identical scalar assembly
    o["std_ellipse"] = f"""
        {_GEO_CTE}, sn AS (
            SELECT lang, floor(mx / 1000.0) AS xi, floor(my / 1000.0) AS yi
            FROM geo
        ), m AS (
            SELECT lang, CAST(count(*) AS DOUBLE) AS n,
                   sum(xi) AS sx, sum(yi) AS sy,
                   sum(xi * xi) AS sxx, sum(yi * yi) AS syy,
                   sum(xi * yi) AS sxy
            FROM sn GROUP BY lang
        ), c AS (
            SELECT lang, n, sx / n AS cx, sy / n AS cy,
                   sxx, syy, sxy
            FROM m
        ), d AS (
            SELECT lang, n, cx, cy,
                   sxx / n - cx * cx AS dxx,
                   syy / n - cy * cy AS dyy,
                   sxy / n - cx * cy AS dxy
            FROM c
        ), e AS (
            SELECT lang, n, cx, cy, dxx, dyy, dxy,
                   sqrt(((dxx - dyy) / 2.0) * ((dxx - dyy) / 2.0)
                        + dxy * dxy) AS com
            FROM d
        )
        SELECT lang, CAST(n AS BIGINT) AS n_pts,
               round(cx, 6) + 0.0 AS cx,
               round(cy, 6) + 0.0 AS cy,
               round(degrees(atan2(2.0 * dxy, dxx - dyy) / 2.0), 6) + 0.0
                   AS angle_deg,
               round(sqrt(2.0 * greatest((dxx + dyy) / 2.0 + com, 0.0)), 6)
                   + 0.0 AS major_km,
               round(sqrt(2.0 * greatest((dxx + dyy) / 2.0 - com, 0.0)), 6)
                   + 0.0 AS minor_km
        FROM e ORDER BY lang
    """

    o["geometric_median"] = f"""
        {_GEO_CTE},
        g AS (
            SELECT lang,
                   list(mx ORDER BY doc_id) AS xs,
                   list(my ORDER BY doc_id) AS ys
            FROM geo GROUP BY 1
        ),
        m0 AS (SELECT lang, xs, ys,
                      list_sum(xs) / len(xs) AS mx,
                      list_sum(ys) / len(ys) AS my FROM g),
        {_gm_ctes}
        SELECT lang, round(mx, 6) + 0.0 AS gx, round(my, 6) + 0.0 AS gy,
               CAST(len(xs) AS INTEGER) AS n_pts
        FROM m8 ORDER BY lang
    """

    from tilekiln_spark.functions.geometry import rings_intersect_sql as _ri_sql

    _tc_len = 2.0 * HW / 16
    _tc_x0 = f"((-{HW!r}) + CAST(c.gx AS DOUBLE) * {_tc_len!r})"
    _tc_y1 = f"({HW!r} - CAST(c.gy AS DOUBLE) * {_tc_len!r})"
    o["tile_cover"] = f"""
        WITH p(pid, xs, ys) AS (VALUES {_line_chain_values_sql(_AREA_POLYS_UV)}),
             c AS (
                 SELECT CAST(cx.r AS INTEGER) AS gx, CAST(cy.r AS INTEGER) AS gy
                 FROM range(0, 16) cx(r) CROSS JOIN range(0, 16) cy(r)
             ),
             rects AS (
                 SELECT gx, gy,
                        [{_tc_x0}, {_tc_x0} + {_tc_len!r},
                         {_tc_x0} + {_tc_len!r}, {_tc_x0}] AS rxs,
                        [{_tc_y1} - {_tc_len!r}, {_tc_y1} - {_tc_len!r},
                         {_tc_y1}, {_tc_y1}] AS rys
                 FROM c
             )
        SELECT p.pid AS polygon_id, rects.gx, rects.gy
        FROM p CROSS JOIN rects
        WHERE {_ri_sql("p.xs", "p.ys", "rects.rxs", "rects.rys")}
        ORDER BY polygon_id, gx, gy
    """

    # gen_points twin: identical float64 hash/LCG arithmetic, the same
    # single-point raycast, first-8-accepted by candidate index
    _gp_K, _gp_seed, _gp_n = 16 * 8, 7, 8
    _gp_base = (
        f"((CAST(p.pid AS DOUBLE) * {float(_gp_K)!r} + CAST(c.k AS DOUBLE) "
        f"+ {float(_gp_seed)!r}) * 2654435761.0)"
    )
    _gp_h1 = f"({_gp_base} - floor({_gp_base} / 4294967296.0) * 4294967296.0)"
    _gp_step = f"({_gp_h1} * 48271.0)"
    _gp_h2 = f"({_gp_step} - floor({_gp_step} / 2147483648.0) * 2147483648.0)"
    _gp_px = (
        f"(list_min(p.xs) + ({_gp_h1} / 4294967296.0) "
        f"* (list_max(p.xs) - list_min(p.xs)))"
    )
    _gp_py = (
        f"(list_min(p.ys) + ({_gp_h2} / 2147483648.0) "
        f"* (list_max(p.ys) - list_min(p.ys)))"
    )
    o["gen_points"] = f"""
        WITH p(pid, xs, ys) AS (VALUES {_line_chain_values_sql(_AREA_POLYS_UV)}),
             c AS (SELECT CAST(r AS INTEGER) AS k FROM range(1, {_gp_K} + 1) t(r)),
             cand AS (
                 SELECT p.pid AS polygon_id, c.k,
                        {_gp_px} AS px, {_gp_py} AS py, p.xs, p.ys
                 FROM p CROSS JOIN c
             )
        SELECT polygon_id,
               CAST(row_number() OVER (PARTITION BY polygon_id ORDER BY k)
                    AS INTEGER) AS pt_seq,
               round(px, 4) + 0.0 AS px, round(py, 4) + 0.0 AS py
        FROM (
            SELECT cand.polygon_id, cand.k, cand.px, cand.py
            FROM cand
            WHERE (list_sum(list_transform(range(1, len(cand.xs) + 1), j ->
                CASE WHEN ((cand.ys[j] > cand.py) != (cand.ys[(j % len(cand.xs)) + 1] > cand.py))
                THEN CASE WHEN cand.px < cand.xs[j] + (cand.py - cand.ys[j])
                * (cand.xs[(j % len(cand.xs)) + 1] - cand.xs[j])
                / (cand.ys[(j % len(cand.xs)) + 1] - cand.ys[j])
                THEN 1 ELSE 0 END ELSE 0 END)) % 2) = 1
        )
        QUALIFY pt_seq <= {_gp_n}
    """

    from tilekiln_spark.functions.geometry import ring_area_sql

    _a_area = ring_area_sql("a.axs", "a.ays")
    o["areal_interpolate"] = f"""
        WITH a0(aid, xs, ys) AS (VALUES {_line_chain_values_sql(_CONTAIN_POLYS_UV)}),
             b0(bid, xs, ys) AS (VALUES {_line_chain_values_sql(_AREA_POLYS_UV)}),
             a AS (SELECT aid, {_ax_n} AS axs, {_ay_n} AS ays FROM a0),
             bb AS (SELECT bid, {_ax_n} AS bxs, {_ay_n} AS bys FROM b0),
             pairs AS (
                 SELECT bb.bid AS zone_id,
                        (a.aid - 199) * 1000.0 AS pop,
                        {_car} AS ia,
                        {_a_area} AS a_area
                 FROM a CROSS JOIN bb
             )
        SELECT zone_id,
               round(sum(pop * ia / a_area), 3) + 0.0 AS est_pop,
               count(*) AS n_sources
        FROM pairs WHERE ia > 0
        GROUP BY 1
    """

    import math as _m

    from tilekiln_spark.config.sqlt import _affine_compose

    # the EXACT constants the compiler hoists: Translate o Rotate o Scale
    _af = _affine_compose(
        _affine_compose(
            (1.0, 0.0, 1000000.0, 0.0, 1.0, -500000.0),
            (_m.cos(0.25), -_m.sin(0.25), 0.0, _m.sin(0.25), _m.cos(0.25), 0.0),
        ),
        (0.5, 0.0, 0.0, 0.0, 0.5, 0.0),
    )
    _aa, _ab, _ac, _ad, _ae, _af6 = (repr(v) for v in _af)
    o["template_compile_affine"] = f"""
        {_GEO_CTE}
        SELECT 3 AS zoom, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(sum({_aa} * mx + {_ab} * my + {_ac}) / 1e6, 3) + 0.0
                   AS sum_mx_mm,
               round(sum({_ad} * mx + {_ae} * my + {_af6}) / 1e6, 3) + 0.0
                   AS sum_my_mm
        FROM geo
        GROUP BY 1, 2
    """

    # the compiled chain: affine (0.5 scale + translate) innermost, then the
    # 250 km snap — the SAME term shapes the compiler emits (incl. the 0.0*my
    # cross term), so both engines fold identical float64 arithmetic
    _sx = "(floor((0.5 * mx + 0.0 * my + 1000000.0) / 250000.0 + 0.5) * 250000.0)"
    _sy = "(floor((0.0 * mx + 0.5 * my + (-500000.0)) / 250000.0 + 0.5) * 250000.0)"
    o["template_compile_snap"] = f"""
        {_GEO_CTE}, snapped AS (
            SELECT lang, {_sx} AS sx, {_sy} AS sy FROM geo
        )
        SELECT 3 AS zoom, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               sum(sx) / 1e6 + 0.0 AS sum_sx_mm,
               sum(sy) / 1e6 + 0.0 AS sum_sy_mm,
               CAST(count(DISTINCT (sx / 250000.0) * 1000.0 + (sy / 250000.0))
                    AS BIGINT) AS n_nodes
        FROM snapped
        GROUP BY 1, 2
    """

    _kde_cx = "(CAST(g.ix AS DOUBLE) + 0.5) * 2500000.0"
    _kde_cy = "(CAST(g.iy AS DOUBLE) + 0.5) * 2500000.0"
    _kde_u2 = (
        f"(((g.mx - {_kde_cx}) / 3750000.0) * ((g.mx - {_kde_cx}) / 3750000.0) "
        f"+ ((g.my - {_kde_cy}) / 3750000.0) * ((g.my - {_kde_cy}) / 3750000.0))"
    )
    o["kde_density"] = f"""
        {_GEO_CTE}, offs(d) AS (VALUES (-2), (-1), (0), (1), (2)),
        g AS (
            SELECT CAST(floor(mx / 2500000.0) AS BIGINT) + ox.d AS ix,
                   CAST(floor(my / 2500000.0) AS BIGINT) + oy.d AS iy,
                   mx, my
            FROM geo CROSS JOIN offs ox CROSS JOIN offs oy
        )
        SELECT ix, iy,
               round(sum(CASE WHEN {_kde_u2} < 1.0
                              THEN 0.75 * (1.0 - {_kde_u2})
                              ELSE 0.0 END), 6) + 0.0 AS density
        FROM g
        GROUP BY 1, 2
        HAVING sum(CASE WHEN {_kde_u2} < 1.0
                        THEN 0.75 * (1.0 - {_kde_u2})
                        ELSE 0.0 END) > 0
    """

    o["snap_grid_dissolve"] = f"""
        {_GEO_CTE}
        SELECT floor(mx / 2500000.0 + 0.5) * 2500000.0 AS sx,
               floor(my / 2500000.0 + 0.5) * 2500000.0 AS sy,
               count(*) AS n_pts,
               min(doc_id) AS rep_doc
        FROM geo
        GROUP BY 1, 2
    """

    _db_eps2 = repr(2.5e6 * 2.5e6)
    o["cluster_dbscan"] = f"""
        {_GEO_CTE.replace("WITH geo", "WITH RECURSIVE geo", 1)},
        pairs AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id
            FROM geo a JOIN geo b ON a.doc_id != b.doc_id
             AND (a.mx - b.mx) * (a.mx - b.mx)
               + (a.my - b.my) * (a.my - b.my) <= CAST({_db_eps2} AS DOUBLE)
        ),
        deg AS (SELECT a_id, count(*) AS n FROM pairs GROUP BY 1),
        lbl AS (
            SELECT g.doc_id, COALESCE(d.n, 0) + 1 >= 4 AS is_core
            FROM geo g LEFT JOIN deg d ON d.a_id = g.doc_id
        ),
        cedges AS (
            SELECT p.a_id AS a, p.b_id AS b FROM pairs p
            JOIN lbl la ON la.doc_id = p.a_id AND la.is_core
            JOIN lbl lb ON lb.doc_id = p.b_id AND lb.is_core
        ),
        walk(src, dst) AS (
            SELECT doc_id, doc_id FROM lbl WHERE is_core
            UNION
            SELECT w.src, e.b FROM walk w JOIN cedges e ON e.a = w.dst
        ),
        core_lbl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM walk GROUP BY 1),
        border AS (
            SELECT p.a_id AS doc_id, MIN(c.cluster_id) AS cluster_id
            FROM pairs p
            JOIN lbl la ON la.doc_id = p.a_id AND NOT la.is_core
            JOIN core_lbl c ON c.doc_id = p.b_id
            GROUP BY 1
        )
        SELECT l.doc_id, l.is_core,
               COALESCE(cl.cluster_id, bl.cluster_id) AS cluster_id
        FROM lbl l
        LEFT JOIN core_lbl cl ON cl.doc_id = l.doc_id
        LEFT JOIN border bl ON bl.doc_id = l.doc_id
    """

    from tilekiln_spark.functions.geometry import ring_ring_distance_sql

    rr_vals = ", ".join(
        f"({g}, "
        + "CAST([" + ", ".join(_flit(v) for v in xs) + "] AS DOUBLE[]), "
        + "CAST([" + ", ".join(_flit(v) for v in ys) + "] AS DOUBLE[]))"
        for g, kind, xs, ys in _measure_fixture_rows()
        if kind == "ring" and xs
    )
    o["ring_pair_distance"] = f"""
        WITH r(gid, xs, ys) AS (VALUES {rr_vals})
        SELECT a.gid AS a_id, b.gid AS b_id,
               round({ring_ring_distance_sql('a.xs', 'a.ys', 'b.xs', 'b.ys')}, 6)
                   + 0.0 AS dist
        FROM r a CROSS JOIN r b WHERE a.gid < b.gid
    """

    ring_vals = ", ".join(
        f"({g}, 'ring{g}', "
        + "CAST([" + ", ".join(_flit(v) for v in xs) + "] AS DOUBLE[]), "
        + "CAST([" + ", ".join(_flit(v) for v in ys) + "] AS DOUBLE[]))"
        for g, kind, xs, ys in _measure_fixture_rows()
        if kind == "ring" and xs
    )
    o["template_compile_centroid"] = f"""
        WITH r(polygon_id, name, xs, ys) AS (VALUES {ring_vals}),
        z(zoom) AS (VALUES (1), (2))
        SELECT zoom, name,
               round({csx}, 6) + 0.0 AS cx,
               round({csy}, 6) + 0.0 AS cy
        FROM r CROSS JOIN z
    """

    li_rows = []
    for lid, uv in _LINES_UV:
        pts = _line_merc(uv)
        xs_l = "CAST([" + ", ".join(_flit(p[0]) for p in pts) + "] AS DOUBLE[])"
        ys_l = "CAST([" + ", ".join(_flit(p[1]) for p in pts) + "] AS DOUBLE[])"
        li_rows.append(f"({lid}, {xs_l}, {ys_l})")
    li_parts = []
    for fr in (0.25, 0.5, 0.75):
        ipx, ipy = line_interpolate_point_sql("xs", "ys", fr)
        li_parts.append(
            f"SELECT line_id, CAST({fr!r} AS DOUBLE) AS frac, "
            f"round({ipx}, 6) + 0.0 AS px, round({ipy}, 6) + 0.0 AS py FROM lines"
        )
    o["line_interpolate"] = (
        "WITH lines(line_id, xs, ys) AS (VALUES "
        + ", ".join(li_rows)
        + ") "
        + " UNION ALL ".join(li_parts)
    )

    from tilekiln_spark.functions.geometry import segmentize_sql

    seg_x, seg_y = segmentize_sql("xs", "ys", 1.5e6)
    o["line_segmentize"] = (
        "WITH lines(line_id, xs, ys) AS (VALUES "
        + ", ".join(li_rows)
        + f"), segd AS (SELECT line_id, {seg_x} AS sx, {seg_y} AS sy FROM lines) "
        + "SELECT line_id, CAST(i - 1 AS INTEGER) AS seq, "
        + "round(sx[i], 6) + 0.0 AS px, round(sy[i], 6) + 0.0 AS py "
        + "FROM segd CROSS JOIN LATERAL unnest(range(1, len(sx) + 1)) AS u(i)"
    )

    from tilekiln_spark.functions.geometry import offset_curve_sql

    _oc_parts = []
    for _side, _dd in (("L", 5.0e5), ("R", -5.0e5)):
        _ocx, _ocy = offset_curve_sql("xs", "ys", _dd)
        _oc_parts.append(
            f"SELECT line_id, '{_side}' AS side, ox, oy FROM "
            f"(SELECT line_id, {_ocx} AS ox, {_ocy} AS oy FROM lines)"
        )
    o["offset_curves"] = (
        "WITH lines(line_id, xs, ys) AS (VALUES "
        + ", ".join(li_rows)
        + "), offd AS (" + " UNION ALL ".join(_oc_parts) + ") "
        + "SELECT line_id, side, CAST(i - 1 AS INTEGER) AS seq, "
        + "round(ox[i], 6) + 0.0 AS px, round(oy[i], 6) + 0.0 AS py "
        + "FROM offd CROSS JOIN LATERAL unnest(range(1, len(ox) + 1)) AS u(i)"
    )

    from tilekiln_spark.functions.geometry import chaikin_once_sql

    _ck_x1, _ck_y1 = chaikin_once_sql("xs", "ys")
    _ck_x2, _ck_y2 = chaikin_once_sql("sx1", "sy1")
    o["chaikin_smooth"] = (
        "WITH lines(line_id, xs, ys) AS (VALUES "
        + ", ".join(li_rows)
        + f"), it1 AS (SELECT line_id, {_ck_x1} AS sx1, {_ck_y1} AS sy1 FROM lines)"
        + f", it2 AS (SELECT line_id, {_ck_x2} AS sx, {_ck_y2} AS sy FROM it1) "
        + "SELECT line_id, CAST(i - 1 AS INTEGER) AS seq, "
        + "sx[i] + 0.0 AS px, sy[i] + 0.0 AS py "
        + "FROM it2 CROSS JOIN LATERAL unnest(range(1, len(sx) + 1)) AS u(i)"
    )

    from tilekiln_spark.functions.geometry import line_substring_sql

    sub_x, sub_y = line_substring_sql("xs", "ys", 0.2, 0.75)
    o["line_substring"] = (
        "WITH lines(line_id, xs, ys) AS (VALUES "
        + ", ".join(li_rows)
        + f"), subd AS (SELECT line_id, {sub_x} AS sx, {sub_y} AS sy FROM lines) "
        + "SELECT line_id, CAST(i - 1 AS INTEGER) AS seq, "
        + "round(sx[i], 6) + 0.0 AS px, round(sy[i], 6) + 0.0 AS py "
        + "FROM subd CROSS JOIN LATERAL unnest(range(1, len(sx) + 1)) AS u(i)"
    )

    # hull membership decided the set-theoretic way (no chain algorithm):
    # p is a hull vertex iff no triangle of other sample points strictly
    # contains it (general position: testdata coords are md5-derived
    # doubles, so exactly-collinear triples don't occur)
    _tri = (
        "((o1 > 0 AND o2 > 0 AND o3 > 0) OR (o1 < 0 AND o2 < 0 AND o3 < 0))"
    )
    o["convex_hull_quadrants"] = f"""
        {_GEO_CTE}, pts AS (
            SELECT DISTINCT
                   (CASE WHEN mx >= 0 THEN 2 ELSE 0 END
                    + CASE WHEN my >= 0 THEN 1 ELSE 0 END) AS gid, mx, my
            FROM geo WHERE doc_id % 3 = 0
        )
        SELECT p.gid, round(p.mx, 6) + 0.0 AS hx, round(p.my, 6) + 0.0 AS hy
        FROM pts p
        WHERE NOT EXISTS (
            SELECT 1
            FROM pts a, pts b, pts c
            WHERE a.gid = p.gid AND b.gid = p.gid AND c.gid = p.gid
              AND {_tri.replace("o1", "((b.mx - a.mx) * (p.my - a.my) - (b.my - a.my) * (p.mx - a.mx))")
                       .replace("o2", "((c.mx - b.mx) * (p.my - b.my) - (c.my - b.my) * (p.mx - b.mx))")
                       .replace("o3", "((a.mx - c.mx) * (p.my - c.my) - (a.my - c.my) * (p.mx - c.mx))")}
        )
    """

    # OBB area: rotating calipers => the min-area rectangle aligns with a
    # hull edge; min over ALL hull-point pair directions (a superset of the
    # edges, order-invariant) is therefore exactly the same minimum the
    # Spark HOF fold computes — brute-forced here with joins over the same
    # set-theoretic hull CTE.
    _hull_cte = f"""pts AS (
            SELECT DISTINCT
                   (CASE WHEN mx >= 0 THEN 2 ELSE 0 END
                    + CASE WHEN my >= 0 THEN 1 ELSE 0 END) AS gid, mx, my
            FROM geo WHERE doc_id % 3 = 0
        ), hull AS (
            SELECT p.gid, p.mx, p.my
            FROM pts p
            WHERE NOT EXISTS (
                SELECT 1
                FROM pts a, pts b, pts c
                WHERE a.gid = p.gid AND b.gid = p.gid AND c.gid = p.gid
                  AND {_tri.replace("o1", "((b.mx - a.mx) * (p.my - a.my) - (b.my - a.my) * (p.mx - a.mx))")
                           .replace("o2", "((c.mx - b.mx) * (p.my - b.my) - (c.my - b.my) * (p.mx - b.mx))")
                           .replace("o3", "((a.mx - c.mx) * (p.my - c.my) - (a.my - c.my) * (p.mx - c.mx))")}
            )
        )"""
    o["oriented_envelope"] = f"""
        {_GEO_CTE}, {_hull_cte}, dirs AS (
            SELECT DISTINCT a.gid, (b.mx - a.mx) AS dx, (b.my - a.my) AS dy
            FROM hull a JOIN hull b ON a.gid = b.gid
            WHERE (b.mx - a.mx) * (b.mx - a.mx)
                + (b.my - a.my) * (b.my - a.my) > 0
        ), areas AS (
            SELECT d.gid,
                   (max(d.dx * h.mx + d.dy * h.my)
                    - min(d.dx * h.mx + d.dy * h.my))
                 * (max(-d.dy * h.mx + d.dx * h.my)
                    - min(-d.dy * h.mx + d.dx * h.my))
                 / (d.dx * d.dx + d.dy * d.dy) AS area
            FROM dirs d JOIN hull h ON h.gid = d.gid
            GROUP BY d.gid, d.dx, d.dy
        )
        SELECT gid, round(min(area) / 1000000.0, 3) + 0.0 AS obb_km2
        FROM areas GROUP BY gid
    """

    # MEC radius, minimax over pair-midpoint + triple-circumcenter
    # candidates: min over candidates of (max dist to hull points) is the
    # exact MEC radius with no containment predicate.  The row-value
    # (mx, my) ordering below mirrors the Spark side's sort_array so both
    # engines enumerate the IDENTICAL ordered triples (the circumcenter's
    # float term order follows the role assignment).
    _mec_d = (
        "2 * (a.mx * (b.my - c.my) + b.mx * (c.my - a.my)"
        " + c.mx * (a.my - b.my))"
    )
    _mec_a2 = "(a.mx * a.mx + a.my * a.my)"
    _mec_b2 = "(b.mx * b.mx + b.my * b.my)"
    _mec_c2 = "(c.mx * c.mx + c.my * c.my)"
    o["min_bounding_radius"] = f"""
        {_GEO_CTE}, {_hull_cte}, cands AS (
            SELECT a.gid, (a.mx + b.mx) / 2 AS cx, (a.my + b.my) / 2 AS cy
            FROM hull a JOIN hull b ON a.gid = b.gid
            WHERE (a.mx, a.my) < (b.mx, b.my)
            UNION ALL
            SELECT a.gid,
                   ({_mec_a2} * (b.my - c.my) + {_mec_b2} * (c.my - a.my)
                    + {_mec_c2} * (a.my - b.my)) / ({_mec_d}) AS cx,
                   ({_mec_a2} * (c.mx - b.mx) + {_mec_b2} * (a.mx - c.mx)
                    + {_mec_c2} * (b.mx - a.mx)) / ({_mec_d}) AS cy
            FROM hull a
            JOIN hull b ON a.gid = b.gid
            JOIN hull c ON b.gid = c.gid
            WHERE (a.mx, a.my) < (b.mx, b.my)
              AND (b.mx, b.my) < (c.mx, c.my)
              AND {_mec_d} <> 0
        ), scored AS (
            SELECT cd.gid, cd.cx, cd.cy,
                   max((h.mx - cd.cx) * (h.mx - cd.cx)
                     + (h.my - cd.cy) * (h.my - cd.cy)) AS maxd2
            FROM cands cd JOIN hull h ON h.gid = cd.gid
            GROUP BY cd.gid, cd.cx, cd.cy
        )
        SELECT gid, round(sqrt(min(maxd2)) / 1000.0, 3) + 0.0 AS mec_km
        FROM scored GROUP BY gid
    """

    o["knn_centroids"] = f"""
        {_GEO_CTE}, {_CENTS_SQL}, ranked AS (
            SELECT geo.doc_id, cents.cid,
                   row_number() OVER (
                       PARTITION BY geo.doc_id
                       ORDER BY (geo.mx - cents.cx)^2 + (geo.my - cents.cy)^2 ASC,
                                cents.cx ASC, cents.cy ASC
                   ) AS rn
            FROM geo CROSS JOIN cents
        )
        SELECT cid, CAST(count(*) AS BIGINT) AS n_docs FROM ranked WHERE rn = 1 GROUP BY 1
    """

    # Ripley's K twin: brute-force ordered pairs with the identical exact
    # squared-distance boundary test, identical K/L scalar assembly
    o["ripleys_k"] = f"""
        {_GEO_CTE}, s AS (
            SELECT doc_id, mx AS x, my AS y
            FROM geo WHERE doc_id % 7 = 0
        ), mom AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   (max(x) - min(x)) * (max(y) - min(y)) AS area
            FROM s
        ), pairs AS (
            SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
            FROM s a JOIN s b ON a.doc_id <> b.doc_id
        ), cn AS (
            SELECT rr.r AS r,
                   sum(CASE WHEN d2 <= rr.r * rr.r THEN 1 ELSE 0 END) AS cnt
            FROM pairs CROSS JOIN (
                VALUES (1000000.0), (2500000.0), (5000000.0)) rr(r)
            GROUP BY rr.r
        )
        SELECT r / 1000.0 AS r_km, CAST(cnt AS BIGINT) AS n_pairs,
               round(area * CAST(cnt AS DOUBLE) / (n * n) / 1000000.0, 6)
                   + 0.0 AS k_km2,
               round(sqrt(area * CAST(cnt AS DOUBLE) / (n * n)
                          / 3.141592653589793) / 1000.0, 6) + 0.0 AS l_km
        FROM cn CROSS JOIN mom ORDER BY r_km
    """

    # cross-K twin: brute-force A x B pairs, identical boundary tests,
    # combined-pattern bbox area
    o["cross_k"] = f"""
        {_GEO_CTE}, a AS (
            SELECT doc_id, mx AS x, my AS y FROM geo WHERE lang = 'en'
        ), b AS (
            SELECT doc_id, mx AS x, my AS y FROM geo WHERE lang = 'de'
        ), na AS (SELECT CAST(count(*) AS DOUBLE) AS na FROM a),
        nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM b),
        mom AS (
            SELECT (max(x) - min(x)) * (max(y) - min(y)) AS area
            FROM (SELECT x, y FROM a UNION ALL SELECT x, y FROM b)
        ), pairs AS (
            SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
            FROM a CROSS JOIN b
        ), cn AS (
            SELECT rr.r AS r,
                   sum(CASE WHEN d2 <= rr.r * rr.r THEN 1 ELSE 0 END) AS cnt
            FROM pairs CROSS JOIN (
                VALUES (1000000.0), (2500000.0), (5000000.0)) rr(r)
            GROUP BY rr.r
        )
        SELECT r / 1000.0 AS r_km, CAST(cnt AS BIGINT) AS n_pairs,
               round(area * CAST(cnt AS DOUBLE) / (na * nb) / 1000000.0, 6)
                   + 0.0 AS k_km2,
               round(sqrt(area * CAST(cnt AS DOUBLE) / (na * nb)
                          / 3.141592653589793) / 1000.0, 6) + 0.0 AS l_km
        FROM cn CROSS JOIN na CROSS JOIN nb CROSS JOIN mom ORDER BY r_km
    """

    o["dwithin_join"] = f"""
        {_GEO_CTE}, {_CENTS_SQL}
        SELECT cid, doc_id,
               round(sqrt((geo.mx - cents.cx) * (geo.mx - cents.cx)
                        + (geo.my - cents.cy) * (geo.my - cents.cy)), 6) + 0.0 AS dist_m
        FROM geo CROSS JOIN cents
        WHERE (geo.mx - cents.cx) * (geo.mx - cents.cx)
            + (geo.my - cents.cy) * (geo.my - cents.cy) <= {1_500_000.0 * 1_500_000.0!r}
    """

    o["zonal_stats"] = f"""
        {_GEO_CTE}, {_GRID_SQL}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, CAST(count(*) AS BIGINT) AS n
            FROM binned GROUP BY 1, 2, 3, 4
        ), centers AS (
            SELECT n,
                   (-{HW} + x * {len2}) + (bin_x + 0.5) * ({len2} / 16) AS cmx,
                   ({HW} - y * {len2}) - (bin_y + 0.5) * ({len2} / 16) AS cmy
            FROM counts
        )
        SELECT polygon_id,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(n) AS BIGINT) AS total,
               round(avg(n), 6) + 0.0 AS mean_val,
               CAST(min(n) AS BIGINT) AS min_val,
               CAST(max(n) AS BIGINT) AS max_val
        FROM centers JOIN polys
          ON cmx >= polys.xmin AND cmx <= polys.xmax
         AND cmy >= polys.ymin AND cmy <= polys.ymax
        GROUP BY 1
    """

    from tilekiln_spark.functions.cellcodes import (
        geohash_encode_sql,
        quadkey_encode_sql,
    )

    tx6, ty6 = _tile_xy_sql(6)
    o["cell_codes"] = f"""
        WITH g2 AS (
            SELECT doc_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat,
                   {_MX_SQL} AS mx, {_MY_SQL} AS my
            FROM documents
        )
        SELECT doc_id,
               {geohash_encode_sql("lat", "lon", 7)} AS gh7,
               {quadkey_encode_sql(6, tx6, ty6)} AS qk6
        FROM g2
    """

    from tilekiln_spark.functions.cellcodes import (
        geohash_decode_sql,
        quadkey_decode_sql,
    )

    _dec_lat, _dec_lon = geohash_decode_sql("gh7", 7)
    _dec_x, _dec_y = quadkey_decode_sql("qk6", 6)
    o["cell_decode"] = f"""
        WITH g2 AS (
            SELECT doc_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat,
                   {_MX_SQL} AS mx, {_MY_SQL} AS my
            FROM documents
        ), enc AS (
            SELECT doc_id,
                   {geohash_encode_sql("lat", "lon", 7)} AS gh7,
                   {quadkey_encode_sql(6, tx6, ty6)} AS qk6
            FROM g2
        ), dec AS (
            SELECT doc_id, gh7, qk6,
                   {_dec_lat} AS clat, {_dec_lon} AS clon,
                   {_dec_x} AS dx, {_dec_y} AS dy
            FROM enc
        )
        SELECT doc_id, gh7,
               round(clat, 6) + 0.0 AS cell_lat,
               round(clon, 6) + 0.0 AS cell_lon,
               CAST(dx AS INT) AS tile_x,
               CAST(dy AS INT) AS tile_y,
               ({geohash_encode_sql("clat", "clon", 7)} = gh7) AS gh_roundtrip,
               ({quadkey_encode_sql(6, "dx", "dy")} = qk6) AS qk_roundtrip
        FROM dec
    """

    from tilekiln_spark.functions.geodesic import haversine_m_sql

    o["dwithin_geography"] = f"""
        WITH d AS (
            SELECT doc_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM documents
        ), probes AS (
            SELECT CAST(id AS INT) AS cid,
                   -60.0 + CAST(id % 4 AS DOUBLE) * 40.0 AS slat,
                   -135.0 + CAST(floor(id / 4) AS DOUBLE) * 90.0 AS slon
            FROM range(16) t(id)
        )
        SELECT cid, doc_id,
               round({haversine_m_sql('lat', 'lon', 'slat', 'slon')}, 2) + 0.0
                   AS dist_m
        FROM d CROSS JOIN probes
        WHERE {haversine_m_sql('lat', 'lon', 'slat', 'slon')} <= 2200000.0
    """

    from tilekiln_spark.functions.geometry import ring_is_simple_sql

    o["ring_validity"] = f"""
        WITH g(gid, xs, ys) AS (VALUES {_validity_values_sql()})
        SELECT gid,
               CAST(len(xs) AS INT) AS n_vertices,
               coalesce({ring_is_simple_sql('xs', 'ys')}, FALSE) AS is_simple
        FROM g
    """

    o["knn_geography"] = f"""
        WITH d AS (
            SELECT doc_id, {_LON_SQL} AS lon, {_LAT_SQL} AS lat FROM documents
        ), probes AS (
            SELECT CAST(id AS INT) AS cid,
                   -60.0 + CAST(id % 4 AS DOUBLE) * 40.0 AS slat,
                   -135.0 + CAST(floor(id / 4) AS DOUBLE) * 90.0 AS slon
            FROM range(16) t(id)
        ), ranked AS (
            SELECT doc_id, cid,
                   {haversine_m_sql('lat', 'lon', 'slat', 'slon')} AS dist_m,
                   row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY round({haversine_m_sql('lat', 'lon', 'slat', 'slon')}, 6) ASC,
                                slat ASC, slon ASC
                   ) AS knn_rank
            FROM d CROSS JOIN probes
        )
        SELECT doc_id, cid, CAST(knn_rank AS BIGINT) AS knn_rank,
               round(dist_m, 2) + 0.0 AS dist_m
        FROM ranked WHERE knn_rank <= 2
    """

    from tilekiln_spark.functions.geometry import rings_intersect_sql

    _ia, _ib = _intersect_fixture()
    o["poly_intersect_join"] = f"""
        WITH a(a_id, axs, ays) AS (VALUES {_intersect_values_sql(_ia)}),
             b(b_id, bxs, bys) AS (VALUES {_intersect_values_sql(_ib)})
        SELECT a_id, b_id
        FROM a CROSS JOIN b
        WHERE {rings_intersect_sql('axs', 'ays', 'bxs', 'bys')}
    """

    o["union_literals"] = """
        WITH u AS (
            SELECT doc_id, CAST(NULL AS BIGINT) AS osm_id, 'ocean' AS water
            FROM documents WHERE lang = 'en'
            UNION ALL
            SELECT doc_id, doc_id AS osm_id, lang AS water
            FROM documents WHERE source IN ('src1', 'src2', 'src3')
        )
        SELECT water, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(osm_id) AS BIGINT) AS n_osm
        FROM u GROUP BY 1
    """

    zf_parts = []
    for z, levels in ((2, "('0','1','2')"), (8, "('0','1','2','3','4')"), (12, "('0','1','2','3','4','5','6')")):
        zf_parts.append(f"""
            SELECT {z} AS zoom, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(admin_level AS INT)) AS BIGINT) AS sum_lvl
            FROM (SELECT *, CAST(doc_id % 8 AS VARCHAR) AS admin_level FROM documents)
            WHERE admin_level IN {levels}
              AND (n_chars > 100 OR lang IN ('en', 'de'))
        """)
    o["zoom_filter_dispatch"] = " UNION ALL ".join(zf_parts)

    o["merge_upsert_semantics"] = """
        WITH old AS (
            SELECT event_id AS key, md5(event_type) AS data, ts AS generated
            FROM events WHERE event_id % 3 != 0
        ), new AS (
            SELECT event_id AS key,
                   md5(CASE WHEN event_id % 4 = 0 THEN event_type ELSE props END) AS data
            FROM events WHERE event_id % 2 = 0
        )
        SELECT coalesce(old.key, new.key) AS key,
               CASE WHEN new.data IS NOT NULL THEN new.data ELSE old.data END AS data,
               CASE WHEN new.data IS NOT NULL THEN
                   CASE WHEN old.data IS DISTINCT FROM new.data THEN TIMESTAMP '2026-06-01 00:00:00'
                        ELSE coalesce(old.generated, TIMESTAMP '2026-06-01 00:00:00') END
               ELSE old.generated END AS generated
        FROM old FULL OUTER JOIN new ON old.key = new.key
    """

    pcts = [0.0, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 0.999, 1.0]
    pct_cols = ", ".join(
        f"round(CAST(quantile_cont(n_chars, {p}) AS DOUBLE), 4) AS p{str(p).replace('.', '_')}"
        for p in pcts
    )
    o["tile_stats_percentiles"] = f"""
        SELECT lang, CAST(count(*) AS BIGINT) AS num_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars, {pct_cols}
        FROM documents GROUP BY lang
    """

    o["greatest_freshness"] = """
        SELECT user_id,
               greatest(
                   coalesce(max(CASE WHEN event_type = 'click' THEN ts END), TIMESTAMP '2020-01-01 00:00:00'),
                   coalesce(max(CASE WHEN event_type = 'view' THEN ts END), TIMESTAMP '2020-01-01 00:00:00')
               ) AS freshest
        FROM events GROUP BY user_id
    """

    o["event_windows"] = """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               round(avg(value), 4) AS avg_value
        FROM events GROUP BY 1, 2
    """

    o["event_sessions"] = """
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
            FROM events
        ), islands AS (
            SELECT user_id, ts, value,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM islands GROUP BY user_id, sid
    """

    o["asof_join_views"] = """
        WITH u AS (
            SELECT user_id, ts AS _ts, 1 AS _side, CAST(NULL AS BIGINT) AS _rtb,
                   event_id, ts, value,
                   CAST(NULL AS STRUCT(mts TIMESTAMP, v DOUBLE)) AS m
            FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT user_id, ts, 0, event_id,
                   NULL, NULL, NULL, struct_pack(mts := ts, v := value)
            FROM events WHERE event_type = 'view'
        ), f AS (
            SELECT event_id, user_id, ts, value, _side,
                   last_value(m IGNORE NULLS) OVER w AS fm
            FROM u
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY _ts, _side, _rtb NULLS FIRST
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, user_id, ts, value,
               fm.mts AS ts_asof, fm.v AS value_asof
        FROM f WHERE _side = 1
    """

    o["asof_join_nearest"] = """
        WITH u AS (
            SELECT user_id, ts AS _ts, 1 AS _side, CAST(NULL AS BIGINT) AS _rtb,
                   event_id, ts, value,
                   CAST(NULL AS STRUCT(mts TIMESTAMP, v DOUBLE)) AS m
            FROM events WHERE event_type = 'click'
            UNION ALL
            SELECT user_id, ts, 0, event_id,
                   NULL, NULL, NULL, struct_pack(mts := ts, v := value)
            FROM events WHERE event_type = 'view'
        ), f AS (
            SELECT event_id, user_id, ts, value, _side,
                   last_value(m IGNORE NULLS) OVER wb AS bm,
                   last_value(m IGNORE NULLS) OVER wf AS fm
            FROM u
            WINDOW wb AS (PARTITION BY user_id
                          ORDER BY _ts ASC, _side, _rtb NULLS FIRST
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY user_id
                          ORDER BY _ts DESC, _side, _rtb NULLS FIRST
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, user_id, ts, value,
               CASE WHEN bm.mts IS NOT NULL
                         AND (fm.mts IS NULL OR (ts - bm.mts) <= (fm.mts - ts))
                    THEN bm.mts ELSE fm.mts END AS ts_asof,
               CASE WHEN bm.mts IS NOT NULL
                         AND (fm.mts IS NULL OR (ts - bm.mts) <= (fm.mts - ts))
                    THEN bm.v ELSE fm.v END AS value_asof
        FROM f WHERE _side = 1
    """

    o["interval_join_errors"] = """
        SELECT e.event_id AS iv_id,
               CAST(count(*) AS BIGINT) AS n_clicks,
               round(sum(c.value), 4) AS click_value
        FROM events e JOIN events c
          ON c.user_id = e.user_id
         AND c.ts >= e.ts AND c.ts < e.ts + INTERVAL 4 HOUR
        WHERE e.event_type = 'error' AND c.event_type = 'click'
        GROUP BY e.event_id
    """

    o["dedup_exact"] = f"""
        {_NEARDUP_SQL}
        SELECT CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        FROM (
            SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM corpus
        ) WHERE rn = 1
    """

    # exact shingle-Jaccard over all pairs (oracle; engine side is LSH+verify)
    _SHINGLES = """
        shingled AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM corpus)
            WHERE len(toks) >= 3
        )
    """
    o["dedup_minhash"] = f"""
        {_NEARDUP_SQL}, {_SHINGLES}
        SELECT a.doc_id AS key_a, b.doc_id AS key_b,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                     len(list_distinct(a.sh || b.sh)), 4) AS jaccard
        FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              len(list_distinct(a.sh || b.sh)) >= 0.8
    """

    o["duplicate_spans"] = r"""
        WITH base AS (
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                        ELSE regexp_split_to_array(lower(trim(text)), '\s+')
                   END AS toks
            FROM documents
        ), wins AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 8
                        THEN list_transform(range(1, len(toks) - 6),
                             i -> md5(array_to_string(toks[i:i+7], ' ')))
                        ELSE CAST([] AS VARCHAR[]) END AS ws
            FROM base
        ), win_rows AS (
            SELECT doc_id, unnest(ws) AS h FROM wins
        ), dup AS (
            SELECT h FROM win_rows GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        ), counted AS (
            SELECT r.doc_id, count(*) AS nw,
                   sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS nd
            FROM win_rows r LEFT JOIN dup d USING (h) GROUP BY r.doc_id
        )
        SELECT b.doc_id,
               CAST(coalesce(c.nw, 0) AS BIGINT) AS n_windows,
               CAST(coalesce(c.nd, 0) AS BIGINT) AS n_dup_windows,
               CASE WHEN coalesce(c.nw, 0) > 0
                    THEN round(CAST(c.nd AS DOUBLE) / c.nw, 6)
                    ELSE 0.0 END AS dup_ratio
        FROM base b LEFT JOIN counted c USING (doc_id)
    """

    o["duplicate_span_removal"] = r"""
        WITH base AS (
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                        ELSE regexp_split_to_array(lower(trim(text)), '\s+')
                   END AS toks
            FROM documents
        ), wins AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 8
                        THEN list_transform(range(1, len(toks) - 6),
                             i -> md5(array_to_string(toks[i:i+7], ' ')))
                        ELSE CAST([] AS VARCHAR[]) END AS ws
            FROM base
        ), win_rows AS (
            SELECT doc_id, unnest(ws) AS h, generate_subscripts(ws, 1) AS pos
            FROM wins
        ), dup AS (
            SELECT h FROM win_rows GROUP BY h HAVING count(DISTINCT doc_id) >= 2
        ), flagged AS (
            SELECT r.doc_id, list(r.pos) AS ps
            FROM win_rows r JOIN dup USING (h) GROUP BY r.doc_id
        ), joined AS (
            SELECT b.doc_id, b.toks,
                   coalesce(f.ps, CAST([] AS BIGINT[])) AS ps
            FROM base b LEFT JOIN flagged f USING (doc_id)
        ), kept AS (
            SELECT doc_id, toks,
                   list_filter(toks, (x, j) ->
                       len(list_filter(ps, p -> p <= j AND j < p + 8)) = 0) AS kt
            FROM joined
        )
        SELECT doc_id,
               coalesce(array_to_string(kt, ' '), '') AS text_clean,
               CAST(len(kt) AS BIGINT) AS n_kept,
               CAST(len(toks) - len(kt) AS BIGINT) AS n_removed
        FROM kept
    """

    o["c4_line_filter"] = r"""
        WITH lined AS (
            SELECT doc_id,
                   array_to_string(list_transform(
                       range(0, CAST(ceil(len(a) / 6.0) AS INT)),
                       i -> (CASE WHEN i % 7 = 0 THEN 'javascript ' ELSE '' END)
                            || array_to_string(a[i*6+1 : i*6+6], ' ')
                            || (CASE WHEN i % 2 = 0 THEN '.' ELSE '' END)),
                       chr(10)) AS text
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
                  FROM documents)
        ),
        kept AS (
            SELECT doc_id, text, string_split(text, chr(10)) AS ls,
                   list_filter(string_split(text, chr(10)),
                       l -> regexp_matches(trim(l), '[.!?"]$')
                            AND len(regexp_split_to_array(trim(l), '\s+')) >= 5
                            AND NOT contains(lower(l), 'javascript')) AS ks
            FROM lined
        )
        SELECT doc_id,
               coalesce(array_to_string(ks, chr(10)), '') AS text_clean,
               CAST(len(ls) AS BIGINT) AS n_lines,
               CAST(len(ks) AS BIGINT) AS n_kept_lines,
               (len(ks) >= 3 AND NOT (contains(lower(text), 'lorem ipsum')
                                      OR contains(lower(text), '{'))) AS page_keep
        FROM kept
    """

    _dsir_w = r"""
        WITH toks AS (
            SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS a
            FROM documents WHERE trim(text) != ''
        ), grams AS (
            SELECT doc_id, lang, unnest(a) AS g FROM toks
            UNION ALL
            SELECT doc_id, lang,
                   unnest(list_transform(range(1, len(a)),
                          i -> a[i] || ' ' || a[i+1])) AS g
            FROM toks WHERE len(a) >= 2
        ), feats AS (
            SELECT doc_id, lang,
                   CAST(CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 8192 AS INT) AS b
            FROM grams
        ), ct AS (
            SELECT b, count(*) AS c FROM feats WHERE lang = 'en' GROUP BY b
        ), cr AS (
            SELECT b, count(*) AS c FROM feats GROUP BY b
        ), nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM feats WHERE lang = 'en'),
        nr AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM feats),
        ratio AS (
            SELECT cr.b,
                   ln((coalesce(ct.c, 0) + 1) / (nt.n + 8192))
                 - ln((cr.c + 1) / (nr.n + 8192)) AS lr
            FROM cr LEFT JOIN ct ON ct.b = cr.b CROSS JOIN nt CROSS JOIN nr
        ), scored AS (
            SELECT f.doc_id, count(*) AS n_grams,
                   round(sum(r.lr), 6) AS dsir_logweight
            FROM feats f JOIN ratio r USING (b) GROUP BY f.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
               coalesce(s.dsir_logweight, 0.0) AS dsir_logweight
        FROM documents d LEFT JOIN scored s USING (doc_id)
    """
    o["dsir_weights"] = _dsir_w
    o["dsir_resample"] = f"""
        WITH w AS ({_dsir_w})
        SELECT doc_id, n_grams, dsir_logweight,
               round(dsir_logweight
                     - ln(-ln((CAST('0x' || substr(md5('g42:' || CAST(doc_id AS VARCHAR)), 1, 8)
                                    AS BIGINT) + 0.5) / 4294967296.0)), 6) AS gumbel_key
        FROM w
        ORDER BY gumbel_key DESC, doc_id ASC
        LIMIT 100
    """

    o["paragraph_dedup"] = """
        WITH comp AS (
            SELECT a.doc_id, a.text || chr(10) || b.text AS text
            FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
            WHERE a.doc_id < 60
        ),
        paras AS (
            SELECT doc_id, unnest(ps) AS para, unnest(range(len(ps))) AS pos
            FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM comp)
        ),
        stats AS (
            SELECT md5(para) AS h, min(doc_id) AS canon
            FROM paras WHERE length(trim(para)) > 0
            GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
        ),
        flagged AS (
            SELECT p.doc_id, p.pos, p.para,
                   (length(trim(p.para)) = 0 OR s.canon IS NULL
                    OR s.canon = p.doc_id) AS keep
            FROM paras p LEFT JOIN stats s ON md5(p.para) = s.h
        )
        SELECT doc_id,
               coalesce(string_agg(CASE WHEN keep THEN para END,
                                   chr(10) ORDER BY pos), '') AS text_clean,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
        FROM flagged GROUP BY doc_id
    """

    o["url_normalize"] = f"""
        WITH {_MESSY_URLS_SQL}, {_URL_PARTS_SQL}
        SELECT doc_id, url_norm, scheme, host, domain, CAST(depth AS BIGINT) AS depth
        FROM web
    """

    # CDX/SURT twin: host/path/rest come from the shared norm CTE; the
    # SURT assembly mirrors functions/web.py surt_key term-for-term (one
    # leading www. label dropped, tracking strip + lowercase + byte sort
    # on query params, empty path -> '/')
    _surt_host = (
        "CASE WHEN regexp_extract(pre, '://([^:/]*)', 1) LIKE 'www.%' "
        "THEN substr(regexp_extract(pre, '://([^:/]*)', 1), 5) "
        "ELSE regexp_extract(pre, '://([^:/]*)', 1) END"
    )
    _surt_qs = (
        "array_to_string(list_sort(list_filter("
        "string_split(lower(CASE WHEN contains(rest, '?') "
        "THEN substr(rest, strpos(rest, '?') + 1) ELSE '' END), '&'), "
        "p -> p <> '' AND NOT regexp_matches(p, "
        "'^(utm_[^=]*|gclid|fbclid|msclkid|mc_cid|mc_eid|ref)(=|$)'))), '&')"
    )
    _surt_path = (
        "CASE WHEN regexp_extract(u1, '^[^:/?#]+://[^/?#]*(/[^?#]*)', 1) = '' "
        "THEN '/' ELSE lower(regexp_extract(u1, '^[^:/?#]+://[^/?#]*(/[^?#]*)', 1)) END"
    )
    _surt_key = (
        f"array_to_string(list_reverse(string_split({_surt_host}, '.')), ',') "
        f"|| ')' || {_surt_path} || "
        f"(CASE WHEN {_surt_qs} <> '' THEN '?' || {_surt_qs} ELSE '' END)"
    )
    o["cdx_index"] = f"""
        WITH {_MESSY_URLS_SQL}, {_URL_PARTS_SQL},
        caps AS (
            SELECT doc_id, text, {_surt_key} AS surt, k
            FROM norm CROSS JOIN LATERAL
                 unnest(range(0, doc_id % 3 + 1)) AS c(k)
        ), z AS (
            SELECT surt,
                   md5(text || '|' || CAST(k % 2 AS VARCHAR)) AS digest,
                   TIMESTAMP '2026-01-01 00:00:00'
                     + INTERVAL (k) DAY
                     + INTERVAL ((doc_id * 13) % 86400) SECOND AS ts
            FROM caps
        )
        SELECT surt, digest,
               strftime(min(ts), '%Y%m%d%H%M%S') AS first_ts,
               count(*) AS n_captures
        FROM z GROUP BY 1, 2
    """

    o["crawl_diff"] = f"""
        WITH {_MESSY_URLS_SQL}, {_URL_PARTS_SQL},
        caps AS (
            SELECT doc_id, text, {_surt_key} AS surt, k
            FROM norm CROSS JOIN LATERAL
                 unnest(range(0, doc_id % 3 + 1)) AS c(k)
        ), z AS (
            SELECT surt,
                   (k % 2 = 0) AND NOT (doc_id % 7 = 0 AND k = 0) AS in_a,
                   md5(text || CASE WHEN k >= 2 THEN '|v2' ELSE '' END) AS digest,
                   TIMESTAMP '2026-01-01 00:00:00'
                     + INTERVAL (k) DAY
                     + INTERVAL ((doc_id * 13) % 86400) SECOND AS ts
            FROM caps
        ), per AS (
            SELECT surt,
                   max(CASE WHEN in_a
                       THEN struct_pack(ts := ts, digest := digest) END) AS a,
                   max(CASE WHEN NOT in_a
                       THEN struct_pack(ts := ts, digest := digest) END) AS b
            FROM z GROUP BY surt
        )
        SELECT CASE WHEN a IS NULL THEN 'added'
                    WHEN b IS NULL THEN 'removed'
                    WHEN a.digest <> b.digest THEN 'changed'
                    ELSE 'unchanged' END AS status,
               count(*) AS n_keys
        FROM per GROUP BY 1
    """

    o["url_filter_funnel"] = f"""
        WITH {_MESSY_URLS_SQL}, {_URL_PARTS_SQL},
        gated AS (
            SELECT CASE
                WHEN scheme NOT IN ('http', 'https') THEN 'scheme'
                WHEN host = 'host3.example.com' THEN 'host_blocked'
                WHEN regexp_matches(lower(url),
                     '/[^?#]*(login|signup|cart|admin|tracker)') THEN 'path_badword'
                WHEN depth > 4 THEN 'too_deep'
                ELSE 'kept' END AS gate
            FROM web
        )
        SELECT gate, CAST(count(*) AS BIGINT) AS n FROM gated GROUP BY 1
    """

    o["host_cap"] = f"""
        WITH {_MESSY_URLS_SQL}, {_URL_PARTS_SQL},
        ranked AS (
            SELECT doc_id, domain,
                   row_number() OVER (
                       PARTITION BY domain
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS host_rank
            FROM web
        )
        SELECT doc_id, domain, CAST(host_rank AS BIGINT) AS host_rank,
               host_rank <= 40 AS keep
        FROM ranked
    """

    o["host_profile"] = f"""
        WITH {_MESSY_URLS_SQL}, {_URL_PARTS_SQL}
        SELECT host,
               CAST(count(*) AS BIGINT) AS n_pages,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
               1.0 - count(DISTINCT md5(text)) * 1.0 / count(*) AS dup_rate,
               avg(length(text)) AS avg_chars
        FROM web GROUP BY 1
    """

    o["latest_capture"] = """
        SELECT url_norm, doc_id, warc_ts FROM (
            SELECT 'https://www.example.com/page' || CAST(doc_id % 50 AS VARCHAR) AS url_norm,
                   doc_id,
                   TIMESTAMP '2026-01-01 00:00:00' + INTERVAL (doc_id * 13) SECOND AS warc_ts,
                   row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id DESC) AS rn
            FROM documents
        ) WHERE rn = 1
    """

    # pairs is MATERIALIZED: DuckDB inlines a plain CTE at every reference,
    # and the recursive walk reads edges (so the all-pairs join) each round
    o["dedup_clusters"] = f"""
        {_NEARDUP_SQL.replace("WITH corpus", "WITH RECURSIVE corpus", 1)}, {_SHINGLES},
        pairs AS MATERIALIZED (
            SELECT a.doc_id AS ka, b.doc_id AS kb
            FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                  len(list_distinct(a.sh || b.sh)) >= 0.8
        ),
        edges AS (
            SELECT ka AS a, kb AS b FROM pairs
            UNION ALL SELECT kb, ka FROM pairs
        ),
        walk(src, dst) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges)
            UNION
            SELECT w.src, e.b FROM walk w JOIN edges e ON e.a = w.dst
        ),
        comp AS (SELECT src AS node, MIN(dst) AS component FROM walk GROUP BY src)
        SELECT c.doc_id,
               COALESCE(p.component, c.doc_id) AS cluster_id,
               CAST(CASE WHEN COALESCE(p.component, c.doc_id) = c.doc_id
                    THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
        FROM corpus c LEFT JOIN comp p ON p.node = c.doc_id
    """

    o["cluster_split"] = f"""
        {_NEARDUP_SQL.replace("WITH corpus", "WITH RECURSIVE corpus", 1)}, {_SHINGLES},
        pairs AS MATERIALIZED (
            SELECT a.doc_id AS ka, b.doc_id AS kb
            FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                  len(list_distinct(a.sh || b.sh)) >= 0.8
        ),
        edges AS (
            SELECT ka AS a, kb AS b FROM pairs
            UNION ALL SELECT kb, ka FROM pairs
        ),
        walk(src, dst) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges)
            UNION
            SELECT w.src, e.b FROM walk w JOIN edges e ON e.a = w.dst
        ),
        comp AS (SELECT src AS node, MIN(dst) AS component FROM walk GROUP BY src),
        labeled AS (
            SELECT c.doc_id,
                   COALESCE(p.component, c.doc_id) AS cluster_id,
                   CAST(CASE WHEN COALESCE(p.component, c.doc_id) = c.doc_id
                        THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
            FROM corpus c LEFT JOIN comp p ON p.node = c.doc_id
        )
        SELECT doc_id, cluster_id, is_canonical,
               CASE WHEN substr(md5('s11:' || CAST(cluster_id AS VARCHAR)), 1, 16)
                         < '{_threshold_hex(0.25)}'
                    THEN 'holdout' ELSE 'train' END AS split
        FROM labeled
    """

    _mix_hash = "substr(md5('s11:' || CAST(doc_id AS VARCHAR)), 1, 16)"
    o["sample_mix"] = f"""
        WITH d AS (SELECT doc_id, source FROM documents)
        SELECT 'quota' AS part, doc_id, source FROM (
            SELECT doc_id, source,
                   row_number() OVER (PARTITION BY source
                       ORDER BY {_mix_hash}, doc_id) AS rn
            FROM d) WHERE rn <= 4
        UNION ALL
        SELECT 'mix', doc_id, source FROM d
        WHERE {_mix_hash} < CASE source
            WHEN 'src13' THEN '{_threshold_hex(1.0)}'
            WHEN 'src8' THEN '{_threshold_hex(0.5)}'
            ELSE '{_threshold_hex(0.08)}' END
        UNION ALL
        SELECT 'holdout', doc_id, source FROM d
        WHERE {_mix_hash} < '{_threshold_hex(0.25)}'
    """

    o["dedup_simhash"] = """
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 200000, text FROM documents WHERE doc_id < 30
        )
        SELECT a.doc_id AS key_a, b.doc_id AS key_b
        FROM corpus a JOIN corpus b
          ON a.doc_id < b.doc_id AND md5(lower(trim(a.text))) = md5(lower(trim(b.text)))
    """

    o["ngram_jaccard"] = f"""
        {_NEARDUP_SQL}, pairs AS (
            SELECT base.doc_id, base.text AS ta, near.text AS tb
            FROM corpus base JOIN corpus near ON near.doc_id = base.doc_id + 100000
            WHERE base.doc_id < 60
        ), sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(ta_toks) - 1),
                       i -> ta_toks[i] || ' ' || ta_toks[i+1] || ' ' || ta_toks[i+2])) AS sa,
                   list_distinct(list_transform(range(1, len(tb_toks) - 1),
                       i -> tb_toks[i] || ' ' || tb_toks[i+1] || ' ' || tb_toks[i+2])) AS sb
            FROM (SELECT doc_id,
                         regexp_split_to_array(lower(trim(ta)), '\\s+') AS ta_toks,
                         regexp_split_to_array(lower(trim(tb)), '\\s+') AS tb_toks
                  FROM pairs)
        )
        SELECT doc_id,
               round(CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
                     len(list_distinct(sa || sb)), 4) AS jaccard
        FROM sh
    """

    o["text_pii_repetition"] = r"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 300000,
                   'contact u' || CAST(doc_id AS VARCHAR) || '@ex.com for info'
                   || chr(10) || 'same line' || chr(10) || 'same line'
                   || chr(10) || '- bullet item' || chr(10)
                   || 'ip 10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
                   || ' call 555-123-4567 soon...'
            FROM documents WHERE doc_id < 40
        ), l AS (
            SELECT doc_id, text,
                   list_filter(list_transform(
                       regexp_split_to_array(text, '\n'), x -> trim(x)),
                       x -> x != '') AS ls,
                   CASE WHEN len(toks) >= 2 THEN list_transform(
                       range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
                   ELSE [] END AS gs
            FROM (SELECT doc_id, text,
                         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
                  FROM corpus)
        )
        SELECT doc_id,
            round(CASE WHEN len(ls) > 1
                THEN 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE)/len(ls)
                ELSE 0.0 END, 4) AS dup_line_frac,
            round(CASE WHEN len(gs) > 1
                THEN 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE)/len(gs)
                ELSE 0.0 END, 4) AS dup_2gram_frac,
            round(CASE WHEN len(ls) > 0
                THEN CAST(len(list_filter(ls,
                    x -> regexp_matches(x, '^(-|\*|\d+\.)\s'))) AS DOUBLE)/len(ls)
                ELSE 0.0 END, 4) AS bullet_frac,
            round(CASE WHEN len(ls) > 0
                THEN CAST(len(list_filter(ls,
                    x -> regexp_matches(x, '\.\.\.$'))) AS DOUBLE)/len(ls)
                ELSE 0.0 END, 4) AS ellipsis_frac,
            CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
            CAST(len(regexp_extract_all(text,
                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
            CAST(len(regexp_extract_all(text,
                '\+\d{7,15}\b|\b\d{3}-\d{3}-\d{4}\b')) AS INT) AS n_phone,
            md5(regexp_replace(regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g'),
                '\+\d{7,15}\b|\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g')) AS redacted_md5
        FROM l
    """

    o["decontaminate_overlap"] = r"""
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
            FROM documents
        ), grams AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(t) - 6),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                            t[i+3] || ' ' || t[i+4] || ' ' || t[i+5] || ' ' ||
                            t[i+6] || ' ' || t[i+7])) AS gs
            FROM toks WHERE len(t) >= 8
        ), bg AS (
            SELECT DISTINCT g FROM (
                SELECT unnest(gs) AS g FROM grams WHERE doc_id % 7 = 0)
        ), dg AS (
            SELECT doc_id, unnest(gs) AS g FROM grams
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM dg JOIN bg USING (g)
        GROUP BY doc_id
    """

    o["pack_sequences"] = """
        WITH c AS (
            SELECT doc_id, n_chars,
                   sum(n_chars) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_chars AS start
            FROM documents
        )
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
               CAST(floor(CAST(start AS DOUBLE)/4096) AS INT) AS first_seq,
               CAST(floor(CAST(start + greatest(n_chars, 1) - 1 AS DOUBLE)
                   / 4096) AS INT) AS last_seq,
               CAST(start % 4096 AS INT) AS seq_offset
        FROM c
    """

    # pairs MATERIALIZED as in dedup_clusters; the variants below inherit it
    o["corpus_pipeline"] = r"""
        WITH RECURSIVE corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000, text || ' zzz' FROM documents WHERE doc_id < 60
            UNION ALL
            SELECT doc_id + 200000, text FROM documents WHERE doc_id < 30
        ), exact AS (
            SELECT doc_id, text FROM (
                SELECT doc_id, text,
                       row_number() OVER (PARTITION BY md5(text)
                           ORDER BY doc_id) AS rn
                FROM corpus) WHERE rn = 1
        ), shingled AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
                  FROM exact)
            WHERE len(toks) >= 3
        ), pairs AS MATERIALIZED (
            SELECT a.doc_id AS ka, b.doc_id AS kb
            FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                  len(list_distinct(a.sh || b.sh)) >= 0.8
        ), edges AS (
            SELECT ka AS a, kb AS b FROM pairs
            UNION ALL SELECT kb, ka FROM pairs
        ), walk(src, dst) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges)
            UNION
            SELECT w.src, e.b FROM walk w JOIN edges e ON e.a = w.dst
        ), comp AS (
            SELECT src AS node, MIN(dst) AS component FROM walk GROUP BY src
        ), canonical AS (
            SELECT e.doc_id, e.text FROM exact e LEFT JOIN comp p ON p.node = e.doc_id
            WHERE COALESCE(p.component, e.doc_id) = e.doc_id
        ), cg AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(t) - 6),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                            t[i+3] || ' ' || t[i+4] || ' ' || t[i+5] || ' ' ||
                            t[i+6] || ' ' || t[i+7])) AS gs
            FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
                  FROM canonical) WHERE len(t) >= 8
        ), bg AS (
            SELECT DISTINCT g FROM (
                SELECT unnest(list_distinct(list_transform(range(1, len(t) - 6),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                         t[i+3] || ' ' || t[i+4] || ' ' || t[i+5] || ' ' ||
                         t[i+6] || ' ' || t[i+7]))) AS g
                FROM (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
                      FROM documents WHERE doc_id % 97 = 0) WHERE len(t) >= 8)
        ), contaminated AS (
            SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest(gs) AS g FROM cg) d
            JOIN bg USING (g)
        ), clean AS (
            SELECT c.doc_id, c.text FROM canonical c
            LEFT JOIN contaminated x USING (doc_id) WHERE x.doc_id IS NULL
        ), sampled AS (
            SELECT doc_id, length(text) AS len FROM clean
            WHERE substr(md5('s17:' || CAST(doc_id AS VARCHAR)), 1, 16)
                  < '8000000000000000'
        ), packd AS (
            SELECT len,
                   sum(len) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - len AS start
            FROM sampled
        )
        SELECT (SELECT count(*) FROM corpus) AS n_raw,
               (SELECT count(*) FROM exact) AS n_exact,
               (SELECT count(*) FROM canonical) AS n_canonical,
               (SELECT count(*) FROM clean) AS n_clean,
               CAST(count(*) AS BIGINT) AS n_sampled,
               CAST(sum(len) AS BIGINT) AS total_chars,
               CAST(max(CAST(floor(CAST(start + greatest(len, 1) - 1 AS DOUBLE)
                   / 4096) AS INT)) + 1 AS INT) AS n_sequences
        FROM packd
    """

    # corpus_pipeline with the quality gates as stage 0: same chained SQL
    # with a gated CTE spliced between corpus and exact (one implementation
    # of the gate logic — _quality_gate_sql — shared with the funnel oracle)
    _gated_cte = (
        "), gated AS (\n            SELECT doc_id, text FROM ("
        + _quality_gate_sql("corpus")
        + ") WHERE gate IS NULL\n        ), exact AS ("
    )
    _opq = o["corpus_pipeline"].replace("), exact AS (", _gated_cte, 1)
    _opq = _opq.replace("FROM corpus) WHERE rn = 1", "FROM gated) WHERE rn = 1", 1)
    _opq = _opq.replace(
        "(SELECT count(*) FROM corpus) AS n_raw,",
        "(SELECT count(*) FROM corpus) AS n_raw,\n"
        "               (SELECT count(*) FROM gated) AS n_admitted,",
        1,
    )
    o["corpus_pipeline_quality"] = _opq

    # ... and the CCNet variant adds the LM stage between gated and exact,
    # reusing the one _lm_scores_sql builder the lm_score oracle uses
    _lm_cte = (
        "), lmsc AS (\n            SELECT * FROM "
        + _lm_scores_sql("gated", 30, 120)
        + "\n        ), lmkept AS (\n"
        "            SELECT g.doc_id, g.text FROM gated g\n"
        "            LEFT JOIN lmsc s USING (doc_id)\n"
        "            WHERE coalesce(s.avg_logprob >= -4.15, true)\n"
        "        ), exact AS ("
    )
    _occ = _opq.replace("), exact AS (", _lm_cte, 1)
    _occ = _occ.replace("FROM gated) WHERE rn = 1", "FROM lmkept) WHERE rn = 1", 1)
    _occ = _occ.replace(
        "AS n_admitted,",
        "AS n_admitted,\n               (SELECT count(*) FROM lmkept) AS n_lm,",
        1,
    )
    o["corpus_pipeline_ccnet"] = _occ

    # ... and the bucket variant replaces the fixed threshold with the
    # per-language tercile rule (shared lang_id SQL + the same integer
    # arithmetic the ccnet_buckets oracle uses)
    from tilekiln_spark.functions.text import lang_id_sql as _lang_id_sql

    _bk_cte = (
        "), lmsc AS (\n            SELECT * FROM "
        + _lm_scores_sql("gated", 30, 120)
        + "\n        ), lmlang AS (\n"
        "            SELECT s.doc_id, s.avg_logprob, "
        + _lang_id_sql("g.text")
        + " AS lng\n"
        "            FROM lmsc s JOIN gated g USING (doc_id)\n"
        "        ), lmbk AS (\n"
        "            SELECT doc_id,\n"
        "                   CASE WHEN 3 * rn <= n + 2 THEN 'head'\n"
        "                        WHEN 3 * rn <= 2 * n + 2 THEN 'middle'\n"
        "                        ELSE 'tail' END AS bucket\n"
        "            FROM (SELECT doc_id,\n"
        "                         row_number() OVER (PARTITION BY lng\n"
        "                             ORDER BY avg_logprob DESC, doc_id) AS rn,\n"
        "                         count(*) OVER (PARTITION BY lng) AS n\n"
        "                  FROM lmlang)\n"
        "        ), lmkept AS (\n"
        "            SELECT g.doc_id, g.text FROM gated g\n"
        "            LEFT JOIN lmbk b USING (doc_id)\n"
        "            WHERE coalesce(b.bucket IN ('head', 'middle'), true)\n"
        "        ), exact AS ("
    )
    _ocb = _opq.replace("), exact AS (", _bk_cte, 1)
    _ocb = _ocb.replace("FROM gated) WHERE rn = 1", "FROM lmkept) WHERE rn = 1", 1)
    _ocb = _ocb.replace(
        "AS n_admitted,",
        "AS n_admitted,\n               (SELECT count(*) FROM lmkept) AS n_lm,",
        1,
    )
    o["corpus_pipeline_buckets"] = _ocb

    # ... and the probe variant splices the learned-filter stage between
    # clean and sampled, reusing the one _probe_cte_sql training chain the
    # linear_probe oracle uses (same data, same weights)
    _probe_block = (
        "), " + _probe_cte_sql(3, 1.0, 64) + """, zfp AS (
            SELECT e.vec_id, round(sum(w.w * CASE WHEN w.j < 64
                       THEN e.x[w.j + 1] ELSE 1.0 END), 9) AS z9
            FROM e, w3 w GROUP BY e.vec_id
        ), probs AS (
            SELECT vec_id AS doc_id,
                   round(1.0 / (1.0 + exp(-z9)), 6) AS prob
            FROM zfp
        ), probed AS (
            SELECT c.doc_id, c.text FROM clean c
            LEFT JOIN probs p USING (doc_id)
            WHERE COALESCE(p.prob >= 0.282, TRUE)
        ), sampled AS ("""
    )
    _opp = o["corpus_pipeline"].replace("), sampled AS (", _probe_block, 1)
    _opp = _opp.replace(
        "SELECT doc_id, length(text) AS len FROM clean",
        "SELECT doc_id, length(text) AS len FROM probed",
        1,
    )
    _opp = _opp.replace(
        "CAST(count(*) AS BIGINT) AS n_sampled,",
        "(SELECT count(*) FROM probed) AS n_probe,\n"
        "               CAST(count(*) AS BIGINT) AS n_sampled,",
        1,
    )
    o["corpus_pipeline_probe"] = _opp

    o["shard_rollup"] = """
        WITH s AS (
            SELECT n_chars,
                   CAST(CAST('0x' || substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) % 16 AS INT) AS shard,
                   substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 16) AS sort_key
            FROM documents
        )
        SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               min(sort_key) AS first_key
        FROM s GROUP BY shard
    """

    o["vocab_topk"] = r"""
        WITH toks AS (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
            FROM documents WHERE trim(text) != ''
        ), c AS (SELECT token, count(*) AS n FROM toks GROUP BY token)
        SELECT token, CAST(n AS BIGINT) AS n,
               CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS rank
        FROM c ORDER BY n DESC, token LIMIT 100
    """

    # zipf twin: same top-60 vocab cut; four list_reduce folds over
    # rank-ordered lists replay the Spark struct-accumulator fold
    o["zipf_fit"] = r"""
        WITH toks AS (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                AS token
            FROM documents WHERE trim(text) != ''
        ), c AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
        top AS (
            SELECT token, n,
                   row_number() OVER (ORDER BY n DESC, token) AS rank
            FROM c ORDER BY n DESC, token LIMIT 60
        ),
        lists AS (
            SELECT count(*) AS n_terms,
                   list(ln(CAST(rank AS DOUBLE)) ORDER BY rank) AS xs,
                   list(ln(CAST(n AS DOUBLE)) ORDER BY rank) AS ys,
                   list(ln(CAST(rank AS DOUBLE)) * ln(CAST(n AS DOUBLE))
                        ORDER BY rank) AS xys,
                   list(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))
                        ORDER BY rank) AS xxs
            FROM top
        ),
        sums AS (
            SELECT CAST(n_terms AS DOUBLE) AS n, n_terms,
                   list_reduce(xs, (a, b) -> a + b) AS sx,
                   list_reduce(ys, (a, b) -> a + b) AS sy,
                   list_reduce(xys, (a, b) -> a + b) AS sxy,
                   list_reduce(xxs, (a, b) -> a + b) AS sxx
            FROM lists
        )
        SELECT CAST(n_terms AS BIGINT) AS n_terms,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
                   AS slope,
               round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                     / n, 6) + 0.0 AS intercept
        FROM sums
    """

    # heaps twin: same first-occurrence/per-doc-count cuts + the same
    # rank-ordered list_reduce folds for beta
    o["heaps_law"] = r"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                       AS token
            FROM documents WHERE trim(text) != ''
        ),
        firsts AS (SELECT token, min(doc_id) AS fd FROM toks GROUP BY 1),
        dt AS (SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY 1),
        cps(n_docs) AS (VALUES (100), (200), (300), (400), (500)),
        pts AS (
            SELECT c.n_docs,
                   (SELECT coalesce(sum(n_tok), 0) FROM dt
                    WHERE doc_id < c.n_docs) AS n_tokens,
                   (SELECT count(*) FROM firsts
                    WHERE fd < c.n_docs) AS vocab
            FROM cps c
        ),
        lists AS (
            SELECT count(*) AS np,
                   list(ln(CAST(n_tokens AS DOUBLE)) ORDER BY n_docs) AS xs,
                   list(ln(CAST(vocab AS DOUBLE)) ORDER BY n_docs) AS ys,
                   list(ln(CAST(n_tokens AS DOUBLE))
                        * ln(CAST(vocab AS DOUBLE)) ORDER BY n_docs) AS xys,
                   list(ln(CAST(n_tokens AS DOUBLE))
                        * ln(CAST(n_tokens AS DOUBLE)) ORDER BY n_docs) AS xxs
            FROM pts
        ),
        fit AS (
            SELECT (CAST(np AS DOUBLE) * list_reduce(xys, (a, b) -> a + b)
                    - list_reduce(xs, (a, b) -> a + b)
                      * list_reduce(ys, (a, b) -> a + b))
                   / (CAST(np AS DOUBLE) * list_reduce(xxs, (a, b) -> a + b)
                      - list_reduce(xs, (a, b) -> a + b)
                        * list_reduce(xs, (a, b) -> a + b)) AS beta
            FROM lists
        )
        SELECT CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(vocab AS BIGINT) AS vocab,
               round(beta, 6) + 0.0 AS beta
        FROM pts CROSS JOIN fit
    """

    # dispersion twin: the same (doc, token) double rollup + top-40 cut
    o["term_dispersion"] = r"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                       AS token
            FROM documents WHERE trim(text) != ''
        ),
        per AS (
            SELECT doc_id, token, count(*) AS c FROM toks GROUP BY 1, 2
        ),
        agg AS (
            SELECT token, sum(c) AS cf, count(*) AS df FROM per GROUP BY 1
        ),
        nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
        SELECT token, CAST(cf AS BIGINT) AS cf, CAST(df AS BIGINT) AS df,
               round(CAST(df AS DOUBLE) / nd.n, 6) + 0.0 AS doc_frac,
               round(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) + 0.0
                   AS burstiness
        FROM agg CROSS JOIN nd
        ORDER BY cf DESC, token LIMIT 40
    """

    o["lm_score"] = "SELECT * FROM " + _lm_scores_sql("documents", 30, 120)
    o["ccnet_buckets"] = f"""
        WITH s AS (SELECT * FROM {_lm_scores_sql("documents", 30, 120)}),
        j AS (
            SELECT s.doc_id, d.lang, s.n_bigrams, s.avg_logprob
            FROM s JOIN documents d ON s.doc_id = d.doc_id
        ), r AS (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY avg_logprob DESC, doc_id ASC) AS rn,
                   count(*) OVER (PARTITION BY lang) AS n
            FROM j
        )
        SELECT doc_id, lang, n_bigrams, avg_logprob,
               CASE WHEN 3 * rn <= n + 2 THEN 'head'
                    WHEN 3 * rn <= 2 * n + 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM r
    """
    o["lm3_score"] = "SELECT * FROM " + _lm3_scores_sql("documents", 30, 120, 200)
    o["pagerank_links"] = _pagerank_sql(8, 0.85)

    # personalized-PR twin: same unrolled rounds, teleport/dangling mass
    # restricted to the node % 50 == 0 seed set
    o["personalized_pagerank"] = _ppr_sql(8, 0.85)

    # harmonic-centrality twin: depth-bounded recursive BFS (UNION
    # dedups (src, node, d) tuples; d < 16 >= diameter 11, so min(d)
    # per pair is the BFS distance), then the identical ascending-
    # distance cnt/d fold — (0.0 + x1) + x2 ... == list_reduce order
    o["harmonic_centrality"] = """
        WITH RECURSIVE
        d AS (SELECT doc_id FROM documents WHERE doc_id < 200),
        e AS (
            SELECT src, dst FROM (
                SELECT doc_id AS src, (doc_id * 7 + j.j) % 200 AS dst
                FROM d CROSS JOIN (VALUES (1), (2), (3)) j(j)
                WHERE doc_id % 5 <> 0
            ) WHERE src <> dst
        ),
        reach(src, node, dd) AS (
            SELECT doc_id, doc_id, 0 FROM d
            UNION
            SELECT r.src, e.dst, r.dd + 1
            FROM reach r JOIN e ON e.src = r.node
            WHERE r.dd < 16
        ),
        dist AS (
            SELECT src, node, min(dd) AS dd FROM reach GROUP BY src, node
        ),
        per_d AS (
            SELECT node, dd, count(*) AS cnt
            FROM dist WHERE src <> node GROUP BY node, dd
        ),
        agg AS (
            SELECT node,
                   sum(cnt) AS n_reached,
                   max(dd) AS eccentricity,
                   list_reduce(list(CAST(cnt AS DOUBLE) / dd ORDER BY dd),
                               (a, b) -> a + b) AS h
            FROM per_d GROUP BY node
        )
        SELECT CAST(d.doc_id AS BIGINT) AS node,
               CAST(coalesce(a.n_reached, 0) AS BIGINT) AS n_reached,
               CAST(coalesce(a.eccentricity, 0) AS BIGINT) AS eccentricity,
               round(coalesce(a.h, 0.0), 6) + 0.0 AS harmonic
        FROM d LEFT JOIN agg a ON a.node = d.doc_id
    """

    # betweenness twin: 12 unrolled frontier-BFS rounds + the Brandes
    # pair-counting triple join (see _betweenness_sql)
    o["betweenness_centrality"] = _betweenness_sql(12)

    # collocations twin: shared regexp tokenizer, pos+1 self-join
    # bigrams, the identical closed-form PMI / t-score expressions
    o["collocations"] = r"""
        WITH da AS MATERIALIZED (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a
            FROM documents WHERE trim(text) != ''
        ),
        tok AS MATERIALIZED (
            SELECT doc_id, unnest(a) AS w, generate_subscripts(a, 1) AS pos
            FROM da
        ),
        uni AS MATERIALIZED (SELECT w, count(*) AS c FROM tok GROUP BY w),
        tt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM tok),
        bi AS MATERIALIZED (
            SELECT t1.w AS w1, t2.w AS w2
            FROM tok t1 JOIN tok t2
              ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
        ),
        nbt AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM bi),
        c12t AS (
            SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2
            HAVING count(*) >= 5
        )
        SELECT c.w1, c.w2, CAST(c.c12 AS BIGINT) AS c12,
               round(log2((CAST(c.c12 AS DOUBLE) * tt.t * tt.t)
                          / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)
                             * nbt.nb)), 6) + 0.0 AS pmi,
               round((CAST(c.c12 AS DOUBLE)
                      - nbt.nb * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)
                        / (tt.t * tt.t))
                     / sqrt(CAST(c.c12 AS DOUBLE)), 6) + 0.0 AS t_score
        FROM c12t c
        JOIN uni u1 ON u1.w = c.w1
        JOIN uni u2 ON u2.w = c.w2
        CROSS JOIN tt CROSS JOIN nbt
    """

    # simrank twin: five unrolled sparse-pair rounds (see _simrank_sql)
    o["simrank"] = _simrank_sql(5, 0.8)

    # eigenvector / Katz twins: unrolled power rounds (see generators)
    o["eigenvector_links"] = _eigen_sql(8)
    o["katz_links"] = _katz_sql(8, 0.2, 1.0)

    # ST-DBSCAN twin: brute-force cylinder graph + recursive min-
    # reachability components (the cluster_dbscan twin pattern with the
    # |dt| <= eps_t conjunct)
    o["cluster_st_dbscan"] = """
        WITH RECURSIVE pts AS (
            SELECT i AS pid,
                   CASE WHEN i // 20 = 3 THEN 100000.0 + (i % 20) * 5000.0
                        ELSE (i % 20) * 10.0 END AS mx,
                   CASE WHEN i // 20 = 2 THEN 500.0
                        WHEN i // 20 = 3 THEN -800.0 ELSE 0.0 END AS my,
                   CASE WHEN i // 20 = 1 THEN 1000.0 + (i % 20) * 5.0
                        WHEN i // 20 = 3 THEN (i % 20) * 37.0
                        ELSE (i % 20) * 5.0 END AS t
            FROM range(70) r(i)
        ),
        pairs AS (
            SELECT a.pid AS a_id, b.pid AS b_id
            FROM pts a JOIN pts b ON a.pid != b.pid
             AND (a.mx - b.mx) * (a.mx - b.mx)
               + (a.my - b.my) * (a.my - b.my) <= 225.0
             AND abs(a.t - b.t) <= 20.0
        ),
        deg AS (SELECT a_id, count(*) AS n FROM pairs GROUP BY 1),
        lbl AS (
            SELECT p.pid, COALESCE(d.n, 0) + 1 >= 3 AS is_core
            FROM pts p LEFT JOIN deg d ON d.a_id = p.pid
        ),
        cedges AS (
            SELECT p.a_id AS a, p.b_id AS b FROM pairs p
            JOIN lbl la ON la.pid = p.a_id AND la.is_core
            JOIN lbl lb ON lb.pid = p.b_id AND lb.is_core
        ),
        walk(src, dst) AS (
            SELECT pid, pid FROM lbl WHERE is_core
            UNION
            SELECT w.src, e.b FROM walk w JOIN cedges e ON e.a = w.dst
        ),
        core_lbl AS (
            SELECT src AS pid, MIN(dst) AS cluster_id FROM walk GROUP BY 1
        ),
        border AS (
            SELECT p.a_id AS pid, MIN(c.cluster_id) AS cluster_id
            FROM pairs p
            JOIN lbl la ON la.pid = p.a_id AND NOT la.is_core
            JOIN core_lbl c ON c.pid = p.b_id
            GROUP BY 1
        )
        SELECT CAST(l.pid AS BIGINT) AS pid, l.is_core,
               CAST(COALESCE(cl.cluster_id, bl.cluster_id) AS BIGINT)
                   AS cluster_id
        FROM lbl l
        LEFT JOIN core_lbl cl ON cl.pid = l.pid
        LEFT JOIN border bl ON bl.pid = l.pid
    """

    # containment twin: identical snippet construction + shingle
    # inverted index with the same df cut and exact-integer counts
    o["containment_snippets"] = r"""
        WITH corpus2 AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000,
                   array_to_string(
                       regexp_split_to_array(lower(trim(text)), '\s+')[1:40],
                       ' ')
            FROM documents WHERE doc_id % 10 = 0
        ),
        shingled AS MATERIALIZED (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       AS sh
            FROM (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\s+') AS toks
                FROM corpus2
            ) WHERE len(toks) >= 3
        ),
        post AS MATERIALIZED (
            SELECT doc_id AS doc, unnest(sh) AS s FROM shingled
        ),
        sizes AS (SELECT doc, count(*) AS sz FROM post GROUP BY doc),
        rare AS MATERIALIZED (
            SELECT doc, s FROM post
            WHERE s IN (SELECT s FROM post GROUP BY s HAVING count(*) <= 50)
        ),
        pairs AS (
            SELECT x.doc AS key_a, y.doc AS key_b, count(*) AS shared
            FROM rare x JOIN rare y ON x.s = y.s AND x.doc < y.doc
            GROUP BY 1, 2 HAVING count(*) >= 3
        )
        SELECT CAST(p.key_a AS BIGINT) AS key_a,
               CAST(p.key_b AS BIGINT) AS key_b,
               CAST(p.shared AS BIGINT) AS shared,
               round(CAST(p.shared AS DOUBLE) / CAST(a.sz AS DOUBLE), 6)
                   + 0.0 AS cont_a,
               round(CAST(p.shared AS DOUBLE) / CAST(b.sz AS DOUBLE), 6)
                   + 0.0 AS cont_b,
               round(CAST(p.shared AS DOUBLE)
                     / CAST(a.sz + b.sz - p.shared AS DOUBLE), 6)
                   + 0.0 AS jaccard
        FROM pairs p
        JOIN sizes a ON a.doc = p.key_a
        JOIN sizes b ON b.doc = p.key_b
    """

    # phrase-search twin: shared tokenizer, 1-based positions, the same
    # (doc, pos) postings intersection
    o["phrase_search"] = r"""
        WITH da AS MATERIALIZED (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a
            FROM documents WHERE trim(text) != ''
        ),
        tok AS MATERIALIZED (
            SELECT doc_id, unnest(a) AS w, generate_subscripts(a, 1) AS pos
            FROM da
        ),
        hits AS (
            SELECT t1.doc_id, t1.pos
            FROM tok t1
            JOIN tok t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
            JOIN tok t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
            WHERE t1.w = 'query' AND t2.w = 'big' AND t3.w = 'part'
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(count(*) AS BIGINT) AS n_matches,
               CAST(min(pos) AS BIGINT) AS first_pos
        FROM hits GROUP BY doc_id
    """

    # fuzzy-join twin: identical deletion-variant construction + the
    # same levenshtein verify
    o["fuzzy_url_pairs"] = """
        WITH base AS MATERIALIZED (
            SELECT DISTINCT lang || '-p' || CAST(doc_id AS VARCHAR) AS s
            FROM documents
        ),
        var AS MATERIALIZED (
            SELECT DISTINCT s,
                   CASE WHEN t.i = 0 THEN s
                        ELSE substr(s, 1, t.i - 1) || substr(s, t.i + 1)
                   END AS v
            FROM base, unnest(range(0, length(s) + 1)) AS t(i)
        ),
        cand AS (
            SELECT DISTINCT x.s AS s1, y.s AS s2
            FROM var x JOIN var y ON x.v = y.v
            WHERE x.s < y.s
        )
        SELECT s1, s2, CAST(levenshtein(s1, s2) AS BIGINT) AS dist
        FROM cand WHERE levenshtein(s1, s2) <= 1
    """

    # MSF twin: the CUT PROPERTY on unique weights — edge in forest iff
    # endpoints disconnected under strictly lighter edges (per-edge
    # recursive reachability); independent of the Borůvka rounds
    o["minimum_spanning_forest"] = """
        WITH RECURSIVE
        d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        raw AS (
            SELECT src, dst FROM (
                SELECT doc_id AS src, (doc_id * 7 + j.j) % 120 AS dst
                FROM d CROSS JOIN (VALUES (1), (2), (3)) j(j)
                WHERE doc_id % 5 <> 0
            ) WHERE src <> dst
        ),
        e AS MATERIALIZED (
            SELECT u, v,
                   ((u * 13 + v * 29) % 211) * 100000 + u * 300 + v AS w
            FROM (
                SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                FROM raw
            )
        ),
        und AS MATERIALIZED (
            SELECT u AS a, v AS b, w FROM e
            UNION ALL SELECT v AS a, u AS b, w FROM e
        ),
        eid AS MATERIALIZED (
            SELECT row_number() OVER (ORDER BY w) AS id, u, v, w FROM e
        ),
        reach(id, wcap, node) AS (
            SELECT id, w, u FROM eid
            UNION
            SELECT r.id, r.wcap, l.b
            FROM reach r JOIN und l ON l.a = r.node AND l.w < r.wcap
        )
        SELECT CAST(x.u AS BIGINT) AS u, CAST(x.v AS BIGINT) AS v,
               CAST(x.w AS BIGINT) AS w
        FROM eid x
        WHERE NOT EXISTS (
            SELECT 1 FROM reach r WHERE r.id = x.id AND r.node = x.v
        )
    """

    # burst twin: the identical integer Viterbi recurrence as step-
    # indexed recursive CTEs — forward (costs + backpointers), then
    # backward state reconstruction
    o["burst_detection"] = """
        WITH RECURSIVE ev AS (
            SELECT event_type AS key, CAST(epoch_us(ts) AS BIGINT) AS t
            FROM events
        ),
        ord_t AS (
            SELECT key, t,
                   row_number() OVER (PARTITION BY key ORDER BY t) AS rn,
                   count(*) OVER (PARTITION BY key) AS n
            FROM ev
        ),
        gaps AS MATERIALIZED (
            SELECT a.key, a.rn AS i, b.t - a.t AS x
            FROM ord_t a JOIN ord_t b
              ON b.key = a.key AND b.rn = a.rn + 1
        ),
        g0t AS MATERIALIZED (
            SELECT key,
                   CAST(floor(CAST(max(t) - min(t) AS DOUBLE) / (count(*) - 1))
                        AS BIGINT) AS g0,
                   count(*) - 1 AS m
            FROM ev GROUP BY key HAVING count(*) >= 2
        ),
        fwd(key, i, c0, c1, p0, p1) AS (
            SELECT key, 0, CAST(0 AS BIGINT),
                   CAST(1125899906842624 AS BIGINT), false, false
            FROM g0t
            UNION ALL
            SELECT g.key, f.i + 1,
                   least(f.c0, f.c1) + g.x,
                   least(f.c0 + 2 * gg.g0, f.c1) + 2 * g.x - gg.g0,
                   f.c0 <= f.c1,
                   f.c0 + 2 * gg.g0 < f.c1
            FROM fwd f
            JOIN gaps g ON g.key = f.key AND g.i = f.i + 1
            JOIN g0t gg ON gg.key = f.key
        ),
        fwd_m AS MATERIALIZED (SELECT * FROM fwd),
        bwd(key, i, st) AS (
            SELECT f.key, f.i,
                   CASE WHEN f.c0 <= f.c1 THEN 0 ELSE 1 END
            FROM fwd_m f JOIN g0t gg ON gg.key = f.key AND f.i = gg.m
            UNION ALL
            SELECT b.key, b.i - 1,
                   CASE WHEN b.st = 1
                        THEN (CASE WHEN f.p1 THEN 0 ELSE 1 END)
                        ELSE (CASE WHEN f.p0 THEN 0 ELSE 1 END) END
            FROM bwd b JOIN fwd_m f ON f.key = b.key AND f.i = b.i
            WHERE b.i > 1
        )
        SELECT b.key, CAST(b.i AS BIGINT) AS idx,
               CAST(g.x AS BIGINT) AS gap_us,
               b.st = 1 AS burst
        FROM bwd b JOIN gaps g ON g.key = b.key AND g.i = b.i
    """

    # Cavnar-Trenkle twin: identical marker injection, trigram
    # extraction, (count desc, gram asc) rank cuts, and integer
    # out-of-place distance
    o["langid_ngram_rank"] = r"""
        WITH marked AS (
            SELECT doc_id, lang,
                   mk || ' ' || mk || ' ' || mk || ' ' || text AS text
            FROM (
                SELECT *, CASE lang
                    WHEN 'en' THEN 'the and is of to'
                    WHEN 'de' THEN 'der die und ist nicht'
                    WHEN 'fr' THEN 'le la les est une'
                    WHEN 'es' THEN 'el los es una que'
                    WHEN 'zh' THEN 'shi de le ma ne' ELSE '' END AS mk
                FROM documents
            )
        ),
        normed AS (
            SELECT doc_id, lang,
                   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
            FROM marked
        ),
        tg AS MATERIALIZED (
            SELECT doc_id, lang, unnest(
                CASE WHEN len(s) < 3 THEN CAST([] AS VARCHAR[])
                     ELSE list_transform(range(1, len(s) - 1),
                                         i -> substr(s, CAST(i AS INT), 3))
                END) AS gram
            FROM normed
        ),
        prof AS (
            SELECT lang AS cls, gram, count(*) AS c
            FROM tg WHERE doc_id % 2 = 0 GROUP BY 1, 2
        ),
        prof_k AS MATERIALIZED (
            SELECT cls, gram, rc FROM (
                SELECT cls, gram,
                       row_number() OVER (PARTITION BY cls
                           ORDER BY c DESC, gram ASC) AS rc
                FROM prof
            ) WHERE rc <= 40
        ),
        dgc AS (
            SELECT doc_id AS doc, lang AS truth, gram, count(*) AS c
            FROM tg WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3
        ),
        doc_k AS MATERIALIZED (
            SELECT doc, truth, gram, rd FROM (
                SELECT doc, truth, gram,
                       row_number() OVER (PARTITION BY doc
                           ORDER BY c DESC, gram ASC) AS rd
                FROM dgc WHERE c >= 2
            ) WHERE rd <= 40
        ),
        scored AS (
            SELECT d.doc, d.truth, cl.cls,
                   sum(coalesce(abs(d.rd - p.rc), 40)) AS dist
            FROM doc_k d
            CROSS JOIN (SELECT DISTINCT cls FROM prof_k) cl
            LEFT JOIN prof_k p ON p.cls = cl.cls AND p.gram = d.gram
            GROUP BY 1, 2, 3
        )
        SELECT CAST(doc AS BIGINT) AS doc_id, truth AS true_class,
               cls AS pred_class, CAST(dist AS BIGINT) AS dist
        FROM (
            SELECT *, row_number() OVER (PARTITION BY doc
                       ORDER BY dist ASC, cls ASC) AS rn
            FROM scored
        ) WHERE rn = 1
    """

    # keyness twin: shared tokenizer counts per corpus, full-outer
    # zero-fill, the identical closed-form two-ln G² expression
    o["keyness_en"] = r"""
        WITH ca AS MATERIALIZED (
            SELECT w, count(*) AS a FROM (
                SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
                FROM documents WHERE lang = 'en' AND trim(text) != ''
            ) GROUP BY w
        ),
        cb AS MATERIALIZED (
            SELECT w, count(*) AS b FROM (
                SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
                FROM documents WHERE lang != 'en' AND trim(text) != ''
            ) GROUP BY w
        ),
        na AS (SELECT sum(a) AS na FROM ca),
        nb AS (SELECT sum(b) AS nb FROM cb),
        j AS (
            SELECT coalesce(ca.w, cb.w) AS w,
                   coalesce(a, 0) AS a, coalesce(b, 0) AS b
            FROM ca FULL OUTER JOIN cb ON ca.w = cb.w
        )
        SELECT w AS token,
               CAST(a AS BIGINT) AS cnt_a, CAST(b AS BIGINT) AS cnt_b,
               round(2.0 * (
                   (CASE WHEN a > 0 THEN CAST(a AS DOUBLE) * ln(
                        CAST(a AS DOUBLE)
                        * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                        / (CAST(na AS DOUBLE)
                           * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))))
                    ELSE 0.0 END)
                 + (CASE WHEN b > 0 THEN CAST(b AS DOUBLE) * ln(
                        CAST(b AS DOUBLE)
                        * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                        / (CAST(nb AS DOUBLE)
                           * (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))))
                    ELSE 0.0 END)), 6) + 0.0 AS g2,
               a * nb > b * na AS overused
        FROM j CROSS JOIN na CROSS JOIN nb
        WHERE a + b >= 5
    """

    # CUSUM twin: identical bucket grid + the same two ordered window
    # aggregates — all exact integers
    o["cusum_alarms"] = """
        WITH counts AS (
            SELECT event_type AS key,
                   CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
                   count(*) AS cnt
            FROM events GROUP BY 1, 2
        ),
        bounds AS (SELECT min(bucket) AS b0, max(bucket) AS b1 FROM counts),
        grid AS (
            SELECT k.key, r.b AS bucket
            FROM (SELECT DISTINCT key FROM counts) k
            CROSS JOIN bounds
            CROSS JOIN LATERAL unnest(range(b0, b1 + 1)) r(b)
        ),
        full_g AS (
            SELECT g.key, g.bucket, coalesce(c.cnt, 0) AS cnt
            FROM grid g LEFT JOIN counts c
              ON c.key = g.key AND c.bucket = g.bucket
        ),
        p AS (
            SELECT key, bucket, cnt,
                   sum(cnt - 3) OVER (PARTITION BY key ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
            FROM full_g
        )
        SELECT key, CAST(bucket AS BIGINT) AS bucket,
               CAST(cnt AS BIGINT) AS cnt,
               CAST(p - least(CAST(0 AS BIGINT),
                              min(p) OVER (PARTITION BY key ORDER BY bucket
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)) AS BIGINT) AS s,
               (p - least(CAST(0 AS BIGINT),
                          min(p) OVER (PARTITION BY key ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW))) >= 8 AS alarm
        FROM p
    """

    # Mann-Whitney twin: identical tagged union, double-rank windows,
    # exact 2U arithmetic
    o["mann_whitney_langs"] = """
        WITH other AS (
            SELECT lang AS cls, n_chars AS v FROM documents WHERE lang != 'en'
        ),
        tagged AS (
            SELECT c.cls, b.n_chars AS v, 1 AS is_base
            FROM documents b
            CROSS JOIN (SELECT DISTINCT cls FROM other) c
            WHERE b.lang = 'en'
            UNION ALL
            SELECT cls, v, 0 AS is_base FROM other
        ),
        ranked AS (
            SELECT cls, is_base,
                   2 * rank() OVER (PARTITION BY cls ORDER BY v)
                   + count(*) OVER (PARTITION BY cls, v) - 1 AS dr
            FROM tagged
        ),
        agg AS (
            SELECT cls, sum(is_base) AS n1, sum(1 - is_base) AS n2,
                   sum(CASE WHEN is_base = 1 THEN dr ELSE 0 END) AS r2x
            FROM ranked GROUP BY cls
        )
        SELECT cls, CAST(n1 AS BIGINT) AS n_base, CAST(n2 AS BIGINT) AS n_cls,
               CAST(r2x - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u,
               round(CAST(r2x - n1 * (n1 + 1) AS DOUBLE)
                     / CAST(n1 * n2 AS DOUBLE) - 1.0, 6) + 0.0
                   AS rank_biserial
        FROM agg
    """

    # Markov twin: 12 unrolled power rounds (see _markov_sql)
    o["event_markov"] = _markov_sql(12)

    # regularity twin: identical lag gaps, hugeint moments (DuckDB sums
    # promote to int128 — matching the Spark DECIMAL(38,0) path), the
    # same cross-multiplied flag
    o["user_regularity"] = """
        WITH gaps AS (
            SELECT key, d FROM (
                SELECT user_id AS key,
                       CAST(epoch_us(ts) AS BIGINT)
                       - lag(CAST(epoch_us(ts) AS BIGINT)) OVER (
                             PARTITION BY user_id ORDER BY
                             CAST(epoch_us(ts) AS BIGINT)) AS d
                FROM events
            ) WHERE d IS NOT NULL
        ),
        m AS (
            SELECT key, count(*) AS n, sum(d) AS sd,
                   sum(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS sdd
            FROM gaps GROUP BY key HAVING count(*) >= 5
        )
        SELECT CAST(key AS BIGINT) AS user_id,
               CAST(n AS BIGINT) AS n_gaps,
               round(CAST(sd AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6), 6)
                   + 0.0 AS mean_gap_s,
               round(sqrt(CAST(CAST(n AS HUGEINT) * sdd
                               - CAST(sd AS HUGEINT) * CAST(sd AS HUGEINT)
                               AS DOUBLE)) / CAST(sd AS DOUBLE), 6) + 0.0
                   AS cv,
               10000 * (CAST(n AS HUGEINT) * sdd
                        - CAST(sd AS HUGEINT) * CAST(sd AS HUGEINT))
               < 625 * CAST(sd AS HUGEINT) * CAST(sd AS HUGEINT)
                   AS is_regular
        FROM m
    """

    # retention twin: same distinct-day activity + first-day cohorts
    o["retention_cohorts"] = """
        WITH act AS (
            SELECT DISTINCT user_id AS u,
                   CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
            FROM events
        ),
        first_d AS (SELECT u, min(d) AS d0 FROM act GROUP BY u),
        cohort AS (SELECT d0, count(*) AS n_cohort FROM first_d GROUP BY d0),
        cells AS (
            SELECT f.d0 AS cohort_day, a.d - f.d0 AS offset,
                   count(*) AS n_active
            FROM act a JOIN first_d f ON f.u = a.u
            GROUP BY 1, 2
        )
        SELECT CAST(c.cohort_day AS BIGINT) AS cohort_day,
               CAST(c.offset AS BIGINT) AS offset,
               CAST(k.n_cohort AS BIGINT) AS n_cohort,
               CAST(c.n_active AS BIGINT) AS n_active,
               round(CAST(c.n_active AS DOUBLE)
                     / CAST(k.n_cohort AS DOUBLE), 6) + 0.0 AS rate
        FROM cells c JOIN cohort k ON k.d0 = c.cohort_day
    """

    # funnel twin: identical conditional-min pivot + ordered-chain CASE
    o["event_funnel"] = """
        WITH mins AS (
            SELECT user_id AS u,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
            FROM events GROUP BY user_id
        ),
        depth AS (
            SELECT CASE
                WHEN t0 IS NULL THEN 0
                WHEN NOT (t1 IS NOT NULL AND t0 <= t1) THEN 1
                WHEN NOT (t1 IS NOT NULL AND t0 <= t1 AND t2 IS NOT NULL
                          AND t0 <= t2 AND t1 <= t2) THEN 2
                ELSE 3 END AS dep
            FROM mins
        ),
        counts AS (
            SELECT sum(CASE WHEN dep >= 1 THEN 1 ELSE 0 END) AS n1,
                   sum(CASE WHEN dep >= 2 THEN 1 ELSE 0 END) AS n2,
                   sum(CASE WHEN dep >= 3 THEN 1 ELSE 0 END) AS n3
            FROM depth
        )
        SELECT CAST(s.step_idx AS BIGINT) AS step_idx, s.step,
               CAST(CASE s.step_idx WHEN 1 THEN n1 WHEN 2 THEN n2
                    ELSE n3 END AS BIGINT) AS n_users,
               round(CAST(CASE s.step_idx WHEN 1 THEN n1 WHEN 2 THEN n2
                          ELSE n3 END AS DOUBLE)
                     / CAST(greatest(n1, 1) AS DOUBLE), 6) + 0.0 AS rate
        FROM counts
        CROSS JOIN (VALUES (1, 'view'), (2, 'click'), (3, 'purchase'))
            s(step_idx, step)
    """

    # Theil-Sen twin: identical pair slopes, position medians, rounded-
    # slope residuals
    o["theil_sen_len_tokens"] = r"""
        WITH d AS (
            SELECT doc_id AS i, n_chars AS x,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+'))
                   END AS y
            FROM documents
        ),
        slopes AS (
            SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS s
            FROM d a JOIN d b ON a.i < b.i
            WHERE a.x != b.x
        ),
        r1 AS (
            SELECT s, row_number() OVER (ORDER BY s) AS rn,
                   count(*) OVER () AS m
            FROM slopes
        ),
        ms AS (
            SELECT round(sum(s) / count(*), 6) + 0.0 AS slope,
                   max(m) AS n_slopes
            FROM r1
            WHERE rn = floor((m + 1) / 2) OR rn = floor(m / 2) + 1
        ),
        resid AS (
            SELECT ms.slope, ms.n_slopes,
                   CAST(d.y AS DOUBLE) - ms.slope * CAST(d.x AS DOUBLE) AS res
            FROM d CROSS JOIN ms
        ),
        r2 AS (
            SELECT slope, n_slopes, res,
                   row_number() OVER (ORDER BY res) AS rn,
                   count(*) OVER () AS n
            FROM resid
        )
        SELECT CAST(max(n) AS BIGINT) AS n_points,
               CAST(max(n_slopes) AS BIGINT) AS n_slopes,
               max(slope) AS slope,
               round(sum(res) / count(*), 6) + 0.0 AS intercept
        FROM r2
        WHERE rn = floor((n + 1) / 2) OR rn = floor(n / 2) + 1
    """

    # Benford twin: same digit extraction, log10 expectations, ordered
    # chi fold
    o["benford_lengths"] = """
        WITH pos AS (
            SELECT CAST(n_chars AS BIGINT) AS v FROM documents
            WHERE n_chars > 0
        ),
        counts AS (
            SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
                   count(*) AS observed
            FROM pos GROUP BY 1
        ),
        full_d AS (
            SELECT d.digit, coalesce(c.observed, 0) AS observed,
                   sum(coalesce(c.observed, 0)) OVER () AS n
            FROM (SELECT unnest(range(1, 10)) AS digit) d
            LEFT JOIN counts c ON c.digit = d.digit
        ),
        terms AS (
            SELECT digit, observed,
                   CAST(n AS DOUBLE)
                   * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS e,
                   (CAST(observed AS DOUBLE)
                    - CAST(n AS DOUBLE)
                      * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                   * (CAST(observed AS DOUBLE)
                      - CAST(n AS DOUBLE)
                        * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                   / (CAST(n AS DOUBLE)
                      * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) AS t
            FROM full_d
        ),
        chi AS (
            SELECT list_reduce(list(t ORDER BY digit), (x, y) -> x + y)
                   AS chi2
            FROM terms
        )
        SELECT CAST(digit AS BIGINT) AS digit,
               CAST(observed AS BIGINT) AS observed,
               round(e, 6) + 0.0 AS expected,
               round((SELECT chi2 FROM chi), 6) + 0.0 AS chi2
        FROM terms
    """

    # robust-stats twin: identical position-formula medians (NOT
    # DuckDB's builtin median), exact halves/quarters
    o["robust_length_stats"] = """
        WITH vals AS (SELECT lang AS cls, n_chars AS v FROM documents),
        r1 AS (
            SELECT cls, v,
                   row_number() OVER (PARTITION BY cls ORDER BY v) AS rn,
                   count(*) OVER (PARTITION BY cls) AS n
            FROM vals
        ),
        med AS (
            SELECT cls, sum(v) / count(*) AS med, max(n) AS n
            FROM r1
            WHERE rn = floor((n + 1) / 2) OR rn = floor(n / 2) + 1
            GROUP BY cls
        ),
        dev AS (
            SELECT vals.cls, vals.v, abs(vals.v - med.med) AS d
            FROM vals JOIN med ON med.cls = vals.cls
        ),
        r2 AS (
            SELECT cls, d,
                   row_number() OVER (PARTITION BY cls ORDER BY d) AS rn,
                   count(*) OVER (PARTITION BY cls) AS n
            FROM dev
        ),
        mad AS (
            SELECT cls, sum(d) / count(*) AS mad
            FROM r2
            WHERE rn = floor((n + 1) / 2) OR rn = floor(n / 2) + 1
            GROUP BY cls
        )
        SELECT dev.cls, CAST(count(*) AS BIGINT) AS n,
               max(med.med) + 0.0 AS median,
               max(mad.mad) + 0.0 AS mad,
               CAST(sum(CASE WHEN dev.d > 3 * mad.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM dev
        JOIN mad ON mad.cls = dev.cls
        JOIN med ON med.cls = dev.cls
        GROUP BY dev.cls
    """

    # Kendall twin: identical i < j pair set + exact pair-class counts
    o["kendall_len_tokens"] = r"""
        WITH d AS (
            SELECT doc_id AS i, n_chars AS x,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+'))
                   END AS y
            FROM documents
        ),
        p AS (
            SELECT a.x - b.x AS dx, a.y - b.y AS dy
            FROM d a JOIN d b ON a.i < b.i
        ),
        agg AS (
            SELECT count(*) AS n0,
                   sum(CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0)
                            THEN 1 ELSE 0 END) AS c,
                   sum(CASE WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0)
                            THEN 1 ELSE 0 END) AS dd,
                   sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS tx,
                   sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS ty
            FROM p
        )
        SELECT CAST(round((1.0 + sqrt(1.0 + 8.0 * n0)) / 2.0) AS BIGINT) AS n,
               CAST(c AS BIGINT) AS concordant,
               CAST(dd AS BIGINT) AS discordant,
               round(CAST(c - dd AS DOUBLE)
                     / sqrt(CAST(n0 - tx AS DOUBLE)
                            * CAST(n0 - ty AS DOUBLE)), 6) + 0.0 AS tau_b
        FROM agg
    """

    # Spearman twin: identical double-rank windows + moment formula
    o["spearman_len_tokens"] = r"""
        WITH d AS (
            SELECT n_chars AS x,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+'))
                   END AS y
            FROM documents
        ),
        r AS (
            SELECT 2 * rank() OVER (ORDER BY x)
                   + count(*) OVER (PARTITION BY x) - 1 AS rx,
                   2 * rank() OVER (ORDER BY y)
                   + count(*) OVER (PARTITION BY y) - 1 AS ry
            FROM d
        ),
        m AS (
            SELECT count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
                   sum(rx * ry) AS sxy, sum(rx * rx) AS sxx,
                   sum(ry * ry) AS syy
            FROM r
        )
        SELECT CAST(n AS BIGINT) AS n,
               CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                    THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                      * CAST(n * syy - sy * sy AS DOUBLE)),
                               6) + 0.0
               END AS rho
        FROM m
    """

    # ACF twin: same generated grid + lag self-join + exact-integer
    # moment formula
    o["event_acf"] = """
        WITH counts AS (
            SELECT event_type AS key,
                   CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
                   count(*) AS cnt
            FROM events GROUP BY 1, 2
        ),
        bounds AS (SELECT min(bucket) AS b0, max(bucket) AS b1 FROM counts),
        grid AS MATERIALIZED (
            SELECT g.key, g.bucket, coalesce(c.cnt, 0) AS cnt
            FROM (
                SELECT k.key, r.b AS bucket
                FROM (SELECT DISTINCT key FROM counts) k
                CROSS JOIN bounds
                CROSS JOIN LATERAL unnest(range(b0, b1 + 1)) r(b)
            ) g LEFT JOIN counts c
              ON c.key = g.key AND c.bucket = g.bucket
        ),
        lags(lag) AS (VALUES (1), (2), (3), (6), (12), (24)),
        pairs AS (
            SELECT x.key, l.lag, x.cnt AS x, y.cnt AS y
            FROM grid x
            CROSS JOIN lags l
            JOIN grid y ON y.key = x.key AND y.bucket = x.bucket + l.lag
        ),
        m AS (
            SELECT key, lag, count(*) AS n,
                   sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                   sum(x * x) AS sxx, sum(y * y) AS syy
            FROM pairs GROUP BY 1, 2
        )
        SELECT key, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
               CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                    THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                               / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                      * CAST(n * syy - sy * sy AS DOUBLE)),
                               6) + 0.0
               END AS r
        FROM m
    """

    # chi2 twin: identical margins/grid, cross-multiplied integer cell
    # terms, sorted-(a, b) list_reduce fold
    o["lang_source_chi2"] = """
        WITH cells AS (
            SELECT lang AS a, source AS b, count(*) AS o
            FROM documents GROUP BY 1, 2
        ),
        ra AS (SELECT a, sum(o) AS r FROM cells GROUP BY a),
        cb AS (SELECT b, sum(o) AS c FROM cells GROUP BY b),
        grid AS (
            SELECT ra.a, cb.b, ra.r, cb.c, coalesce(cells.o, 0) AS o
            FROM ra CROSS JOIN cb
            LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b
        ),
        tot AS (SELECT sum(o) AS n FROM grid),
        terms AS (
            SELECT g.a, g.b,
                   CAST((g.o * t.n - g.r * g.c) * (g.o * t.n - g.r * g.c)
                        AS DOUBLE)
                   / CAST(t.n * g.r * g.c AS DOUBLE) AS t
            FROM grid g CROSS JOIN tot t
        ),
        agg AS (
            SELECT (SELECT n FROM tot) AS n,
                   (SELECT count(*) FROM ra) AS r_levels,
                   (SELECT count(*) FROM cb) AS c_levels,
                   list_reduce(list(t ORDER BY a, b), (x, y) -> x + y)
                       AS chi2
            FROM terms
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(r_levels AS BIGINT) AS r_levels,
               CAST(c_levels AS BIGINT) AS c_levels,
               CAST((r_levels - 1) * (c_levels - 1) AS BIGINT) AS dof,
               round(chi2, 6) + 0.0 AS chi2,
               round(sqrt(chi2 / CAST(n * (least(r_levels, c_levels) - 1)
                                      AS DOUBLE)), 6) + 0.0 AS cramers_v
        FROM agg
    """

    # W1/KS twin: identical merged support, integer cumulative counts,
    # cross-multiplied |CA*m - CB*n| sums, one final division
    o["length_drift_langs"] = """
        WITH base AS (
            SELECT n_chars AS v, count(*) AS ca FROM documents
            WHERE lang = 'en' GROUP BY 1
        ),
        other AS (
            SELECT lang AS cls, n_chars AS v, count(*) AS cb FROM documents
            WHERE lang != 'en' GROUP BY 1, 2
        ),
        support AS (
            SELECT cls, v, sum(ca) AS ca, sum(cb) AS cb FROM (
                SELECT c.cls, b.v, b.ca, 0 AS cb
                FROM base b CROSS JOIN (SELECT DISTINCT cls FROM other) c
                UNION ALL
                SELECT cls, v, 0 AS ca, cb FROM other
            ) GROUP BY cls, v
        ),
        cum AS (
            SELECT cls, v,
                   sum(ca) OVER (PARTITION BY cls ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS CA,
                   sum(cb) OVER (PARTITION BY cls ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS CB,
                   sum(ca) OVER (PARTITION BY cls) AS n,
                   sum(cb) OVER (PARTITION BY cls) AS m,
                   lead(v) OVER (PARTITION BY cls ORDER BY v) AS nxt
            FROM support
        )
        SELECT cls,
               CAST(max(n) AS BIGINT) AS n_base,
               CAST(max(m) AS BIGINT) AS n_cls,
               round(CAST(sum(CASE WHEN nxt IS NOT NULL
                                   THEN abs(CA * m - CB * n) * (nxt - v)
                                   ELSE 0 END) AS DOUBLE)
                     / CAST(max(n) * max(m) AS DOUBLE), 6) + 0.0 AS w1,
               round(CAST(max(abs(CA * m - CB * n)) AS DOUBLE)
                     / CAST(max(n) * max(m) AS DOUBLE), 6) + 0.0 AS ks
        FROM cum GROUP BY cls
    """

    # k-truss twin: 5 unrolled monotone peeling rounds (cascade depth 3
    # on the fixture; extra rounds no-ops — the k-core argument)
    _kt_rounds = []
    _kt_prev = "e0"
    for _i in range(1, 6):
        _kt_rounds.append(f"""
        s{_i} AS MATERIALIZED (
            SELECT a AS n, b AS w FROM {_kt_prev}
            UNION ALL SELECT b AS n, a AS w FROM {_kt_prev}
        ),
        e{_i} AS MATERIALIZED (
            SELECT e.a, e.b, count(y.w) AS support
            FROM {_kt_prev} e
            LEFT JOIN s{_i} x ON x.n = e.a
            LEFT JOIN s{_i} y ON y.n = e.b AND y.w = x.w
            GROUP BY e.a, e.b
            HAVING count(y.w) >= 2
        )""")
        _kt_prev = f"e{_i}"
    o["k_truss"] = f"""
        WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 16),
        e0 AS MATERIALIZED (
            SELECT x.doc_id AS a, y.doc_id AS b
            FROM d x JOIN d y
              ON (x.doc_id // 8) = (y.doc_id // 8) AND x.doc_id < y.doc_id
            UNION ALL SELECT 0, 8 UNION ALL SELECT 1, 9 UNION ALL SELECT 0, 9
        ),
        {",".join(_kt_rounds)}
        SELECT CAST(a AS BIGINT) AS u, CAST(b AS BIGINT) AS v,
               CAST(support AS BIGINT) AS support
        FROM {_kt_prev}
    """

    # rich-club twin: same undirected degree-annotated edge list, one
    # threshold scan per k — exact integers, one division
    o["rich_club"] = """
        WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        e AS (
            SELECT src, dst FROM (
                SELECT doc_id AS src, (doc_id * 7 + j.j) % 120 AS dst
                FROM d CROSS JOIN (VALUES (1), (2), (3)) j(j)
                WHERE doc_id % 5 <> 0
            ) WHERE src <> dst
        ),
        und AS MATERIALIZED (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM e
        ),
        deg AS MATERIALIZED (
            SELECT n, count(*) AS dg FROM (
                SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und
            ) GROUP BY n
        ),
        ed AS MATERIALIZED (
            SELECT und.u, und.v, du.dg AS du, dv.dg AS dv
            FROM und
            JOIN deg du ON du.n = und.u
            JOIN deg dv ON dv.n = und.v
        ),
        ks(k) AS (VALUES (2), (3), (4), (5))
        SELECT CAST(ks.k AS BIGINT) AS k,
               CAST(nk.n_nodes AS BIGINT) AS n_nodes,
               CAST(ek.n_edges AS BIGINT) AS n_edges,
               round(CASE WHEN nk.n_nodes >= 2
                          THEN 2.0 * CAST(ek.n_edges AS DOUBLE)
                               / CAST(nk.n_nodes * (nk.n_nodes - 1) AS DOUBLE)
                          ELSE 0.0 END, 6) + 0.0 AS phi
        FROM ks
        CROSS JOIN LATERAL (
            SELECT count(*) AS n_nodes FROM deg WHERE dg > ks.k
        ) nk
        CROSS JOIN LATERAL (
            SELECT count(*) AS n_edges FROM ed
            WHERE du > ks.k AND dv > ks.k
        ) ek
    """

    # link-prediction twin: same undirected neighbor lists, shared-z
    # self-join, sorted-z list_reduce folds for aa/ra
    o["link_prediction"] = """
        WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
        e AS (
            SELECT src, dst FROM (
                SELECT doc_id AS src, (doc_id * 7 + j.j) % 120 AS dst
                FROM d CROSS JOIN (VALUES (1), (2), (3)) j(j)
                WHERE doc_id % 5 <> 0
            ) WHERE src <> dst
        ),
        und AS MATERIALIZED (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM e
        ),
        nbr AS MATERIALIZED (
            SELECT u AS node, v AS z FROM und
            UNION ALL SELECT v AS node, u AS z FROM und
        ),
        deg AS MATERIALIZED (
            SELECT node, count(*) AS deg FROM nbr GROUP BY node
        ),
        nz AS MATERIALIZED (
            SELECT n.node, n.z, dz.deg AS degz
            FROM nbr n JOIN deg dz ON dz.node = n.z
        ),
        pairs AS (
            SELECT x.node AS a, y.node AS b, count(*) AS cn,
                   list_reduce(
                       list(1.0 / ln(CAST(x.degz AS DOUBLE)) ORDER BY x.z),
                       (p, q) -> p + q) AS aa,
                   list_reduce(
                       list(1.0 / CAST(x.degz AS DOUBLE) ORDER BY x.z),
                       (p, q) -> p + q) AS ra
            FROM nz x JOIN nz y ON x.z = y.z AND x.node < y.node
            GROUP BY 1, 2 HAVING count(*) >= 2
        )
        SELECT CAST(p.a AS BIGINT) AS a, CAST(p.b AS BIGINT) AS b,
               CAST(p.cn AS BIGINT) AS cn,
               round(p.aa, 6) + 0.0 AS aa,
               round(p.ra, 6) + 0.0 AS ra,
               CAST(da.deg * db.deg AS BIGINT) AS pa,
               round(CAST(p.cn AS DOUBLE)
                     / CAST(da.deg + db.deg - p.cn AS DOUBLE), 6)
                   + 0.0 AS jacc
        FROM pairs p
        JOIN deg da ON da.node = p.a
        JOIN deg db ON db.node = p.b
    """

    # co-citation / coupling twin: the same two canonical-pair
    # self-joins, exact integers, full-outer zero-fill
    o["cocitation"] = """
        WITH nn AS (SELECT count(*) AS n FROM documents),
        e AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT doc_id AS src,
                       (doc_id * 7 + j.j) % (SELECT n FROM nn) AS dst
                FROM documents CROSS JOIN (VALUES (1), (2), (3)) j(j)
                WHERE doc_id % 5 <> 0
            ) WHERE src <> dst
        ),
        co AS (
            SELECT x.dst AS a, y.dst AS b, count(*) AS cocite
            FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst
            GROUP BY x.dst, y.dst
        ),
        bc AS (
            SELECT x.src AS a, y.src AS b, count(*) AS coupling
            FROM e x JOIN e y ON x.dst = y.dst AND x.src < y.src
            GROUP BY x.src, y.src
        )
        SELECT CAST(coalesce(co.a, bc.a) AS BIGINT) AS a,
               CAST(coalesce(co.b, bc.b) AS BIGINT) AS b,
               CAST(coalesce(cocite, 0) AS BIGINT) AS cocite,
               CAST(coalesce(coupling, 0) AS BIGINT) AS coupling
        FROM co FULL OUTER JOIN bc ON co.a = bc.a AND co.b = bc.b
        WHERE coalesce(cocite, 0) >= 2 OR coalesce(coupling, 0) >= 2
    """

    # host-link matrix twin: identical link generator + host rule
    o["host_links"] = """
        WITH nn AS (SELECT count(*) AS n FROM documents),
        links AS (
            SELECT d.doc_id AS src, (d.doc_id * 7 + j.j) % nn.n AS dst
            FROM documents d CROSS JOIN nn
                 CROSS JOIN (VALUES (1), (2), (3)) j(j)
            WHERE d.doc_id % 5 <> 0
        ), hosted AS (
            SELECT src,
                   lower('Host' || CAST(src % 7 AS VARCHAR)
                         || CASE WHEN src % 5 = 0 THEN '.News' ELSE '' END
                         || '.Example.com') AS src_host,
                   lower('Host' || CAST(dst % 7 AS VARCHAR)
                         || CASE WHEN dst % 5 = 0 THEN '.News' ELSE '' END
                         || '.Example.com') AS dst_host
            FROM links WHERE src <> dst
        )
        SELECT src_host, dst_host,
               count(*) AS n_links,
               count(DISTINCT src) AS n_src_pages,
               src_host = dst_host AS internal
        FROM hosted GROUP BY 1, 2 ORDER BY 1, 2
    """

    # host-gini twin: identical host rollup, ranks, and scalar assembly
    o["host_gini"] = """
        WITH hosted AS (
            SELECT lower('Host' || CAST(doc_id % 7 AS VARCHAR)
                   || CASE WHEN doc_id % 5 = 0 THEN '.News' ELSE '' END
                   || '.Example.com') AS host
            FROM documents
        ), per AS (
            SELECT host, count(*) AS c FROM hosted GROUP BY 1
        ), ranked AS (
            SELECT CAST(c AS BIGINT) AS c,
                   CAST(row_number() OVER (ORDER BY c ASC, host ASC)
                        AS BIGINT) AS r
            FROM per
        ), agg AS (
            SELECT count(*) AS n_keys, sum(c) AS total, sum(r * c) AS rc
            FROM ranked
        )
        SELECT n_keys, CAST(total AS BIGINT) AS total,
               CASE WHEN n_keys > 1 THEN
                   round(2.0 * CAST(rc AS DOUBLE)
                             / (CAST(n_keys AS DOUBLE) * CAST(total AS DOUBLE))
                         - (CAST(n_keys AS DOUBLE) + 1.0)
                           / CAST(n_keys AS DOUBLE), 6) + 0.0
               END AS gini
        FROM agg
    """

    # lang spatial-entropy twin: same (key, category) machinery with the
    # roles swapped — z2 cells as categories per lang
    o["lang_spatial_entropy"] = f"""
        {_GEO_CTE}, t AS (
            SELECT lang, {tx2} AS tx, {ty2} AS ty FROM geo
        ), binned AS (
            SELECT lang, CAST(tx AS BIGINT) * 1000000 + ty AS cell FROM t
        ), per AS (
            SELECT lang, cell, count(*) AS c FROM binned GROUP BY 1, 2
        ), agg AS (
            SELECT lang, sum(c) AS tt, count(*) AS n_cells,
                   sum(c * (c - 1)) AS s2,
                   list(c ORDER BY cell) AS cs
            FROM per GROUP BY 1
        )
        SELECT lang, CAST(tt AS BIGINT) AS n_docs, n_cells,
               round(CAST(s2 AS DOUBLE)
                     / nullif(CAST(tt AS DOUBLE) * (CAST(tt AS DOUBLE) - 1.0),
                              0.0), 6) + 0.0 AS simpson,
               round(-(list_sum(list_transform(cs, c ->
                   (CAST(c AS DOUBLE) / CAST(tt AS DOUBLE))
                   * ln(CAST(c AS DOUBLE) / CAST(tt AS DOUBLE))))), 6)
                   + 0.0 AS shannon
        FROM agg ORDER BY lang
    """

    # host-diversity twin: exact-integer Simpson + lang-ordered Shannon
    # fold (list_sum over the same sorted terms)
    o["host_diversity"] = """
        WITH hosted AS (
            SELECT lower('Host' || CAST(doc_id % 7 AS VARCHAR)
                   || CASE WHEN doc_id % 5 = 0 THEN '.News' ELSE '' END
                   || '.Example.com') AS host, lang
            FROM documents
        ), per AS (
            SELECT host, lang, count(*) AS c FROM hosted GROUP BY 1, 2
        ), agg AS (
            SELECT host, sum(c) AS t, count(*) AS n_cats,
                   sum(c * (c - 1)) AS s2,
                   list(c ORDER BY lang) AS cs
            FROM per GROUP BY 1
        )
        SELECT host, CAST(t AS BIGINT) AS n_pages, n_cats,
               round(CAST(s2 AS DOUBLE)
                     / nullif(CAST(t AS DOUBLE) * (CAST(t AS DOUBLE) - 1.0),
                              0.0), 6) + 0.0 AS simpson,
               round(-(list_sum(list_transform(cs, c ->
                   (CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                   * ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))))), 6)
                   + 0.0 AS shannon
        FROM agg ORDER BY host
    """

    # anchor-text rollup twin: identical link generator + split-parity
    # anchors; the winner is picked with the same (cnt desc, anchor asc)
    # ordering the Spark struct-min encodes
    o["anchor_texts"] = """
        WITH nn AS (SELECT count(*) AS n FROM documents),
        links AS (
            SELECT d.doc_id AS src,
                   (d.doc_id * 7 + j.j) % nn.n AS dst,
                   lower(list_extract(
                       regexp_split_to_array(trim(d.text), '\\s+'), j.j)) AS anchor
            FROM documents d CROSS JOIN nn
                 CROSS JOIN (VALUES (1), (2), (3)) j(j)
            WHERE d.doc_id % 5 <> 0
        ), l2 AS (
            SELECT dst, anchor FROM links
            WHERE src <> dst AND anchor IS NOT NULL AND anchor <> ''
        ), per AS (
            SELECT dst, anchor, count(*) AS cnt FROM l2 GROUP BY 1, 2
        ), ranked AS (
            SELECT dst, anchor, cnt,
                   sum(cnt) OVER (PARTITION BY dst) AS n_inlinks,
                   count(*) OVER (PARTITION BY dst) AS n_anchors,
                   row_number() OVER (
                       PARTITION BY dst ORDER BY cnt DESC, anchor ASC) AS rn
            FROM per
        )
        SELECT dst, CAST(n_inlinks AS BIGINT) AS n_inlinks,
               CAST(n_anchors AS BIGINT) AS n_anchors,
               anchor AS top_anchor, CAST(cnt AS BIGINT) AS top_anchor_n
        FROM ranked WHERE rn = 1 ORDER BY dst
    """

    def _hits_sql(j: int = 8) -> str:
        parts = [
            """WITH nodes AS MATERIALIZED (SELECT doc_id AS node FROM documents),
            edges AS MATERIALIZED (
                SELECT src, dst FROM (
                    SELECT doc_id AS src,
                           (doc_id * 7 + jj) % (SELECT count(*) FROM documents) AS dst
                    FROM documents, (SELECT unnest([1, 2, 3]) AS jj)
                    WHERE doc_id % 5 != 0)
                WHERE src != dst
            ), h0 AS MATERIALIZED (SELECT node, 1.0 AS hub FROM nodes)"""
        ]
        for i in range(1, j + 1):
            parts.append(
                f""", ar{i} AS MATERIALIZED (
                SELECT nd.node, coalesce(s.s, 0.0) AS s
                FROM nodes nd LEFT JOIN (
                    SELECT e.dst AS node, sum(h.hub) AS s
                    FROM edges e JOIN h{i - 1} h ON e.src = h.node GROUP BY e.dst
                ) s USING (node)
            ), a{i} AS MATERIALIZED (
                SELECT node, s / (SELECT greatest(max(s), 1e-300) FROM ar{i}) AS auth
                FROM ar{i}
            ), hr{i} AS MATERIALIZED (
                SELECT nd.node, coalesce(s.s, 0.0) AS s
                FROM nodes nd LEFT JOIN (
                    SELECT e.src AS node, sum(a.auth) AS s
                    FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
                ) s USING (node)
            ), h{i} AS MATERIALIZED (
                SELECT node, s / (SELECT greatest(max(s), 1e-300) FROM hr{i}) AS hub
                FROM hr{i}
            )"""
            )
        parts.append(
            f""" SELECT nd.node AS doc_id,
                   round(coalesce(h.hub, 0.0), 6) + 0.0 AS hub,
                   round(coalesce(a.auth, 0.0), 6) + 0.0 AS authority
            FROM nodes nd
            LEFT JOIN h{j} h USING (node)
            LEFT JOIN a{j} a USING (node)"""
        )
        return "".join(parts)

    o["hits_links"] = _hits_sql(8)

    o["layer_extents"] = f"""
        {_GEO_CTE}
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               round(min(mx), 6) + 0.0 AS xmin,
               round(min(my), 6) + 0.0 AS ymin,
               round(max(mx), 6) + 0.0 AS xmax,
               round(max(my), 6) + 0.0 AS ymax
        FROM geo GROUP BY lang
    """

    _tb_r = repr(1200000.0)
    _tb_parts = []
    for _z in (1, 2):
        _tx0, _ = _tile_xy_sql(_z, "bxmin", "bymin")
        _tx1, _ = _tile_xy_sql(_z, "bxmax", "bymin")
        _, _ty0 = _tile_xy_sql(_z, "bxmin", "bymax")
        _, _ty1 = _tile_xy_sql(_z, "bxmin", "bymin")
        _tb_parts.append(
            f"SELECT {_z} AS zoom, CAST(ux.x AS INTEGER) AS x, "
            f"CAST(uy.y AS INTEGER) AS y, lang FROM boxes "
            f"CROSS JOIN LATERAL unnest(range({_tx0}, ({_tx1}) + 1)) AS ux(x) "
            f"CROSS JOIN LATERAL unnest(range({_ty0}, ({_ty1}) + 1)) AS uy(y)"
        )
    o["template_compile_buffer"] = f"""
        {_GEO_CTE}, boxes AS (
            SELECT lang,
                   mx - CAST({_tb_r} AS DOUBLE) AS bxmin,
                   my - CAST({_tb_r} AS DOUBLE) AS bymin,
                   mx + CAST({_tb_r} AS DOUBLE) AS bxmax,
                   my + CAST({_tb_r} AS DOUBLE) AS bymax
            FROM geo WHERE doc_id % 7 = 0
        ), assigned AS ({' UNION ALL '.join(_tb_parts)})
        SELECT zoom, x, y, CAST(count(*) AS BIGINT) AS n_feat,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM assigned GROUP BY 1, 2, 3
    """

    o["bm25_search"] = r"""
        WITH base AS (
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                        ELSE regexp_split_to_array(lower(trim(text)), '\s+')
                   END AS a
            FROM documents
        ), stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(a)) AS avgdl FROM base
        ), hits AS (
            SELECT doc_id, len(a) AS dl,
                   unnest(list_filter(a,
                       x -> list_contains(['table','window','spark'], x))) AS term
            FROM base
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
            FROM hits GROUP BY doc_id, term
        ), dft AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), sc AS (
            SELECT doc_id,
                   round(sum(
                       ln((n - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * (1.2 + 1.0))
                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                   ), 6) AS score
            FROM tf JOIN dft USING (term) CROSS JOIN stats
            GROUP BY doc_id
        )
        SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 25
    """

    o["temperature_mix"] = """
        WITH c AS (
            SELECT source, count(*) AS n FROM documents GROUP BY source
        ), t AS (
            SELECT CAST(sum(n) AS DOUBLE) AS total,
                   sum(sqrt(CAST(n AS DOUBLE))) AS wsum
            FROM c
        ), f AS (
            SELECT source, n,
                   round(least(CAST(1.0 AS DOUBLE),
                       (0.5 * total) * (sqrt(CAST(n AS DOUBLE)) / wsum) / n), 9)
                       AS frac
            FROM c CROSS JOIN t
        ), kept AS (
            SELECT d.source FROM documents d JOIN f USING (source)
            WHERE substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 16) <
                  CASE WHEN frac >= 1.0 THEN 'g'
                       ELSE lpad(lower(to_hex(CAST(floor(
                            CAST(frac AS DOUBLE)
                            * CAST(18446744073709551616 AS DOUBLE))
                            AS UBIGINT))), 16, '0')
                  END
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY source
    """

    o["tfidf_keywords"] = r"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
            FROM documents WHERE trim(text) != ''
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
        ), dft AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        sc AS (
            SELECT doc_id, term,
                   round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6) AS score
            FROM tf JOIN dft USING (term) CROSS JOIN nn
        )
        SELECT doc_id, term, score, CAST(pos AS INT) AS pos FROM (
            SELECT doc_id, term, score,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, term) AS pos
            FROM sc) WHERE pos <= 3
    """

    # hybrid = the same BM25 chain (top-50) RRF-fused with the cosine
    # top-50 around probe vec_id 0 (list_cosine_similarity = the proven
    # cross-engine cosine from the similarity oracles)
    _bm25_chain = o["bm25_search"][: o["bm25_search"].rindex("SELECT doc_id, score")]
    o["hybrid_search"] = (
        _bm25_chain
        + r""", lex AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
            FROM (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 50)
        ), vecr AS (
            SELECT vec_id AS doc_id,
                   CAST(row_number() OVER (
                       ORDER BY list_cosine_similarity(embedding,
                           (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC,
                       vec_id ASC) AS INT) AS rank
            FROM embeddings WHERE vec_id >= 1
            QUALIFY rank <= 50
        ), u AS (
            SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) AS w FROM lex
            UNION ALL
            SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + rank) FROM vecr
        )
        SELECT doc_id, round(sum(w), 9) AS rrf FROM u GROUP BY doc_id
        ORDER BY rrf DESC, doc_id LIMIT 15
    """
    )

    _bpe_prefix = _bpe_rounds_sql(8, 500)
    o["bpe_train"] = _bpe_prefix + "".join(
        f"""{' UNION ALL ' if i > 1 else ' '}
        SELECT CAST({i} AS INT) AS step, x, y, CAST(n AS BIGINT) AS n FROM b{i}"""
        for i in range(1, 9)
    )

    _enc_chain = [
        r""", d0 AS (
            SELECT doc_id,
                   CASE WHEN trim(text) = '' OR text IS NULL THEN ' '
                        ELSE list_aggregate(list_transform(
                                 regexp_split_to_array(lower(trim(text)), '\s+'),
                                 t -> ' ' || regexp_replace(t, '(.)', '\1 ', 'g') || '</w>'),
                             'string_agg', '') || ' ' END AS s
            FROM documents
        )"""
    ]
    for i in range(1, 9):
        _enc_chain.append(
            f""", d{i} AS MATERIALIZED (
            SELECT doc_id, replace(s,
                ' ' || (SELECT x FROM b{i}) || ' ' || (SELECT y FROM b{i}) || ' ',
                ' ' || (SELECT x FROM b{i}) || (SELECT y FROM b{i}) || ' ') AS s
            FROM d{i - 1}
        )"""
        )
    o["bpe_encode"] = (
        _bpe_prefix
        + "".join(_enc_chain)
        + """
        SELECT doc_id,
               CAST(CASE WHEN trim(s) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(s), ' ')) END AS INT) AS n_bpe
        FROM d8
    """
    )

    o["pack_token_ids"] = (
        _bpe_prefix
        + "".join(_enc_chain)
        + r"""
        , syms AS (
            SELECT doc_id,
                   CASE WHEN trim(s) = '' THEN CAST([] AS VARCHAR[])
                        ELSE regexp_split_to_array(trim(s), ' ') END AS a
            FROM d8
        ), vocab AS (
            SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS INT) AS tid
            FROM (SELECT DISTINCT unnest(a) AS sym FROM syms)
        ), starts AS (
            SELECT doc_id,
                   sum(len(a)) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                   - len(a) AS st
            FROM syms
        ), ex AS (
            SELECT doc_id, unnest(a) AS sym, generate_subscripts(a, 1) AS pos
            FROM syms
        ), tok AS (
            SELECT v.tid, st.st + e.pos - 1 AS gpos
            FROM ex e JOIN vocab v USING (sym)
            JOIN starts st ON st.doc_id = e.doc_id
        )
        SELECT CAST(floor(CAST(gpos AS DOUBLE) / 256) AS INT) AS seq,
               list(tid ORDER BY gpos) AS token_ids,
               CAST(count(*) AS BIGINT) AS n_tokens
        FROM tok GROUP BY 1
    """
    )

    o["quality_filter_funnel"] = (
        "WITH g AS (" + _quality_gate_sql("documents") + ") "
        "SELECT coalesce(gate, 'kept') AS gate, CAST(count(*) AS BIGINT) AS n_docs "
        "FROM g GROUP BY 1"
    )

    o["text_quality"] = """
        WITH per_doc AS (
            SELECT lang,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
                   CASE WHEN len(text) > 0
                        THEN CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / len(text)
                        ELSE 0.0 END AS punct,
                   CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) > 0
                        THEN CAST(len(regexp_extract_all(text,
                             '(?i)\\b(the|and|of|to|in|a|is|that|for|it)\\b')) AS DOUBLE)
                             / len(regexp_split_to_array(trim(text), '\\s+'))
                        ELSE 0.0 END AS stop
            FROM documents
        )
        SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               round(avg(punct), 6) AS avg_punct_ratio,
               round(avg(stop), 6) AS avg_stop_ratio
        FROM per_doc GROUP BY lang
    """

    o["lang_id"] = f"""
        SELECT {lang_id_sql('text')} AS detected, lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1, 2
    """

    o["token_counts"] = """
        SELECT source,
               CAST(sum(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS total_tokens,
               CAST(max(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS max_tokens
        FROM documents GROUP BY source
    """

    o["fingerprints"] = """
        SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents
    """

    # ---- MVT render: decoded-blob stats vs raw coordinate math ----
    tx4, ty4 = _tile_xy_sql(4)
    len4 = f"(2.0 * {HW} / power(2.0, 4))"
    o["mvt_render_z4"] = f"""
        {_GEO_CTE}, t AS (
            SELECT lang, mx, my, {tx4} AS x, {ty4} AS y FROM geo
        ), p AS (
            SELECT lang, x, y,
                CAST(round((mx - (-{HW} + x * {len4})) / {len4} * 4096) AS BIGINT) AS px,
                CAST(round((({HW} - y * {len4}) - my) / {len4} * 4096) AS BIGINT) AS py
            FROM t
        )
        SELECT 4 AS zoom, x, y,
               CAST(count(*) AS BIGINT) AS n_features,
               CAST(count(*) AS BIGINT) AS n_decoded,
               CAST(sum(px) AS BIGINT) AS sum_px,
               CAST(sum(py) AS BIGINT) AS sum_py,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_vals
        FROM p
        WHERE px >= 0 AND px <= 4096 AND py >= 0 AND py <= 4096
        GROUP BY x, y
    """

    # ---- polygon layer: clip of axis-aligned rects == rect intersection ----
    len3 = f"(2.0 * {HW} / power(2.0, 3))"
    o["mvt_poly_render"] = f"""
        WITH {_GRID_SQL.strip().lstrip()},
        tiles AS (SELECT CAST(x.r AS INT) AS x, CAST(y.r AS INT) AS y
                  FROM range(8) x(r), range(8) y(r)),
        pt AS (
            SELECT p.polygon_id, t.x, t.y,
                   (p.xmin - (-{HW} + t.x * {len3})) / {len3} * 2048 AS pxmin,
                   (p.xmax - (-{HW} + t.x * {len3})) / {len3} * 2048 AS pxmax,
                   (({HW} - t.y * {len3}) - p.ymax) / {len3} * 2048 AS pymin,
                   (({HW} - t.y * {len3}) - p.ymin) / {len3} * 2048 AS pymax
            FROM polys p, tiles t
        )
        SELECT 3 AS zoom, x, y, polygon_id AS osm_id, 4 AS n_vertices,
               CAST(round(greatest(pxmin, -8)) AS BIGINT) AS min_px,
               CAST(round(least(pxmax, 2056)) AS BIGINT) AS max_px,
               CAST(round(greatest(pymin, -8)) AS BIGINT) AS min_py,
               CAST(round(least(pymax, 2056)) AS BIGINT) AS max_py
        FROM pt
        WHERE greatest(pxmin, -8) < least(pxmax, 2056)
          AND greatest(pymin, -8) < least(pymax, 2056)
    """

    # the simplify render must land on EXACTLY the undensified grid's
    # stats — the oracle is mvt_poly_render's twin verbatim
    o["mvt_simplify_render"] = o["mvt_poly_render"]

    o["tileset_diff_z6"] = f"""
        {_GEO_CTE}, o AS (
            SELECT {tx6} AS x, {ty6} AS y, count(*) AS n
            FROM geo WHERE doc_id % 5 != 0 GROUP BY 1, 2
        ), nn AS (
            SELECT {tx6} AS x, {ty6} AS y, count(*) AS n
            FROM geo GROUP BY 1, 2
        )
        SELECT coalesce(o.x, nn.x) AS x, coalesce(o.y, nn.y) AS y,
               CASE WHEN o.n IS NULL THEN 'added'
                    WHEN nn.n IS NULL THEN 'removed'
                    ELSE 'changed' END AS status
        FROM o FULL JOIN nn ON o.x = nn.x AND o.y = nn.y
        WHERE o.n IS NULL OR nn.n IS NULL OR o.n != nn.n
    """

    # ---- interior rings: rect - rect hole == two rectangle clips ----
    lenh = f"(2.0 * {HW} / power(2.0, 2))"
    o["mvt_holes_render"] = f"""
        WITH polys AS (
          SELECT id AS polygon_id,
                 -{HW} + (id % {_HOLE_N}) * {lenh} AS ox,
                 -{HW} + floor(id / {_HOLE_N}) * {lenh} AS oy
          FROM range({_HOLE_N * _HOLE_N}) t(id)
        ), tiles AS (SELECT CAST(x.r AS INT) AS x, CAST(y.r AS INT) AS y
                     FROM range({_HOLE_N}) x(r), range({_HOLE_N}) y(r)),
        pt AS (
          SELECT p.polygon_id, t.x, t.y,
            ((p.ox + 0.1 * {lenh}) - (-{HW} + t.x * {lenh})) / {lenh} * 2048 AS pxmin,
            ((p.ox + 1.3 * {lenh}) - (-{HW} + t.x * {lenh})) / {lenh} * 2048 AS pxmax,
            (({HW} - t.y * {lenh}) - (p.oy + 1.3 * {lenh})) / {lenh} * 2048 AS pymin,
            (({HW} - t.y * {lenh}) - (p.oy + 0.1 * {lenh})) / {lenh} * 2048 AS pymax,
            ((p.ox + 0.5 * {lenh}) - (-{HW} + t.x * {lenh})) / {lenh} * 2048 AS hxmin,
            ((p.ox + 0.7 * {lenh}) - (-{HW} + t.x * {lenh})) / {lenh} * 2048 AS hxmax,
            (({HW} - t.y * {lenh}) - (p.oy + 0.7 * {lenh})) / {lenh} * 2048 AS hymin,
            (({HW} - t.y * {lenh}) - (p.oy + 0.5 * {lenh})) / {lenh} * 2048 AS hymax
          FROM polys p, tiles t
        ), cl AS (
          SELECT polygon_id, x, y,
                 greatest(pxmin, -8) AS cxmin, least(pxmax, 2056) AS cxmax,
                 greatest(pymin, -8) AS cymin, least(pymax, 2056) AS cymax,
                 greatest(hxmin, -8) AS kxmin, least(hxmax, 2056) AS kxmax,
                 greatest(hymin, -8) AS kymin, least(hymax, 2056) AS kymax
          FROM pt
        )
        SELECT 2 AS zoom, x, y, polygon_id AS osm_id,
               CASE WHEN kxmin < kxmax AND kymin < kymax THEN 2 ELSE 1 END AS n_rings,
               CAST(round(cxmin) AS BIGINT) AS min_px,
               CAST(round(cxmax) AS BIGINT) AS max_px,
               CAST(round(cymin) AS BIGINT) AS min_py,
               CAST(round(cymax) AS BIGINT) AS max_py,
               CAST(CASE WHEN kxmin < kxmax AND kymin < kymax
                    THEN -2 * (round(kxmax) - round(kxmin)) * (round(kymax) - round(kymin))
                    ELSE 0 END AS BIGINT) AS hole_area2
        FROM cl
        WHERE cxmin < cxmax AND cymin < cymax
    """

    # Liang–Barsky in SQL, pixel space per (segment, tile): t0/t1 from the
    # per-axis parametric bounds (exact IEEE twins of clip_lines_batch's
    # r = q/p maxima/minima), clipped endpoints px1 + t*dx; consecutive
    # segments merge into one part iff t1 = 1 AND next t0 = 0 (joint vertex
    # strictly inside the box) AND the clipped endpoints are BITWISE equal
    # (clip_lines_batch's `disc` split compares floats exactly; px1 + 1.0*dx
    # can differ from the joint's own transform by an ulp), so
    # parts = accepted - merges and vertices = 2*accepted - merges.
    o["mvt_line_render"] = f"""
        WITH segs(osm_id, seg, mx1, my1, mx2, my2) AS (VALUES {_line_segs_sql()}),
        tiles AS (SELECT CAST(xr.r AS INT) AS x, CAST(yr.r AS INT) AS y
                  FROM range(4) xr(r), range(4) yr(r)),
        tb AS (
          -- envelope exactly as envelope_cols + _poly_tile_rows build it:
          -- xmin = -HW + x*L, xmax = xmin + L, tlen = xmax - xmin (an ulp
          -- off from L itself — the pixel math must reuse THESE doubles)
          SELECT x, y,
                 (-hw + x * tl) AS xmin_t,
                 (((-hw + x * tl) + tl) - (-hw + x * tl)) AS tlen,
                 (hw - y * tl) AS ymax_t
          FROM tiles, (SELECT CAST({HW!r} AS DOUBLE) AS hw,
                              CAST({_LINE_TL!r} AS DOUBLE) AS tl) c
        ),
        px AS (
          SELECT s.osm_id, s.seg, tb.x, tb.y,
                 (s.mx1 - tb.xmin_t) / tb.tlen * 2048 AS px1,
                 (tb.ymax_t - s.my1) / tb.tlen * 2048 AS py1,
                 (s.mx2 - tb.xmin_t) / tb.tlen * 2048 AS px2,
                 (tb.ymax_t - s.my2) / tb.tlen * 2048 AS py2
          FROM segs s, tb
        ),
        d AS (SELECT *, px2 - px1 AS dx, py2 - py1 AS dy FROM px),
        tt AS (
          SELECT *,
            greatest(
              CASE WHEN dx > 0 THEN (0 - px1) / dx WHEN dx < 0 THEN (2048 - px1) / dx ELSE 0 END,
              CASE WHEN dy > 0 THEN (0 - py1) / dy WHEN dy < 0 THEN (2048 - py1) / dy ELSE 0 END,
              0.0) AS t0,
            least(
              CASE WHEN dx > 0 THEN (2048 - px1) / dx WHEN dx < 0 THEN (0 - px1) / dx ELSE 1 END,
              CASE WHEN dy > 0 THEN (2048 - py1) / dy WHEN dy < 0 THEN (0 - py1) / dy ELSE 1 END,
              1.0) AS t1
          FROM d
        ),
        ends AS (
          SELECT osm_id, seg, x, y, t0, t1,
                 px1 + t0 * dx AS sx, py1 + t0 * dy AS sy,
                 px1 + t1 * dx AS ex, py1 + t1 * dy AS ey
          FROM tt
          WHERE t0 <= t1
            AND NOT (dx = 0 AND (px1 < 0 OR px1 > 2048))
            AND NOT (dy = 0 AND (py1 < 0 OR py1 > 2048))
        ),
        merges AS (
          SELECT a.osm_id, a.x, a.y, count(*) AS m
          FROM ends a JOIN ends b
            ON a.osm_id = b.osm_id AND a.x = b.x AND a.y = b.y
           AND b.seg = a.seg + 1 AND a.t1 = 1.0 AND b.t0 = 0.0
           AND a.ex = b.sx AND a.ey = b.sy
          GROUP BY 1, 2, 3
        ),
        agg AS (
          SELECT osm_id, x, y, count(*) AS v,
                 least(min(round(sx)), min(round(ex))) AS minpx,
                 greatest(max(round(sx)), max(round(ex))) AS maxpx,
                 least(min(round(sy)), min(round(ey))) AS minpy,
                 greatest(max(round(sy)), max(round(ey))) AS maxpy
          FROM ends GROUP BY 1, 2, 3
        )
        SELECT 2 AS zoom, a.x, a.y, CAST(a.osm_id AS BIGINT) AS osm_id,
               CAST(a.v - COALESCE(m.m, 0) AS INT) AS n_parts,
               CAST(2 * a.v - COALESCE(m.m, 0) AS INT) AS n_vertices,
               CAST(a.minpx AS BIGINT) AS min_px, CAST(a.maxpx AS BIGINT) AS max_px,
               CAST(a.minpy AS BIGINT) AS min_py, CAST(a.maxpy AS BIGINT) AS max_py
        FROM agg a LEFT JOIN merges m
          ON a.osm_id = m.osm_id AND a.x = m.x AND a.y = m.y
    """

    from tilekiln_spark.functions.geometry import (
        line_length_sql,
        ring_area_sql,
        ring_perimeter_sql,
    )

    o["geometry_measures"] = f"""
        WITH g(gid, kind, xs, ys) AS (VALUES {_measure_values_sql()})
        SELECT gid, kind,
               CAST(len(xs) AS INT) AS n_vertices,
               round(CASE WHEN kind = 'ring' THEN {ring_area_sql('xs', 'ys')}
                          WHEN xs IS NOT NULL THEN 0.0 END, 6) + 0.0 AS area,
               round(CASE WHEN kind = 'ring' THEN {ring_perimeter_sql('xs', 'ys')}
                          ELSE {line_length_sql('xs', 'ys')} END, 6) + 0.0
                   AS boundary_len
        FROM g
    """

    o["template_compile_union"] = f"""
        {_GEO_CTE}, z AS (SELECT UNNEST([2, 4]) AS zoom),
        b1 AS (
            SELECT z.zoom, geo.lang, CAST(NULL AS VARCHAR) AS flag, geo.mx
            FROM geo, z
            WHERE geo.lang IN ('en', 'de') AND geo.n_chars > 100
              AND (z.zoom > 3 OR geo.doc_id < 5000)
        ), b2 AS (
            SELECT z.zoom, geo.lang, 'x' AS flag, geo.mx
            FROM geo, z WHERE geo.lang = 'fr'
        ), u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
        SELECT zoom, lang, flag, CAST(count(*) AS BIGINT) AS n_docs,
               round(sum(mx) / 1e6, 3) + 0.0 AS sum_mx_mm
        FROM u GROUP BY 1, 2, 3
    """

    # recursive-compile twin: DuckDB runs the TRUE recursive CTE against
    # the engine's bounded unroll (UNION ALL path multiplicity per doc)
    o["template_compile_recursive"] = f"""
        {_GEO_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
        walk AS (
            SELECT doc_id FROM geo WHERE doc_id >= 1 AND doc_id < 10
            UNION ALL
            SELECT g.doc_id FROM geo g JOIN walk w ON g.doc_id = w.doc_id * 2
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paths
        FROM walk GROUP BY 1 ORDER BY 1
    """

    # dissolve-compile twin: snap FIRST, tile keys from the SNAPPED
    # position (the branch's documented membership rule), per-group
    # counts, DISTINCT union parts
    _da_tx, _da_ty = _tile_xy_sql(2, mx="sx", my="sy")
    o["template_compile_union_agg"] = f"""
        {_GEO_CTE}, s0 AS (
            SELECT lang,
                   floor(mx / 2500000.0 + 0.5) * 2500000.0 AS sx,
                   floor(my / 2500000.0 + 0.5) * 2500000.0 AS sy
            FROM geo WHERE n_chars > 50
        ), t AS (
            SELECT lang, sx AS mx, sy AS my, {_da_tx} AS tx, {_da_ty} AS ty
            FROM s0
        ), grp AS (
            SELECT tx, ty, lang, CAST(count(*) AS BIGINT) AS n_docs
            FROM t GROUP BY 1, 2, 3
        ), parts AS (
            SELECT DISTINCT tx, ty, lang, mx, my FROM t
        )
        SELECT CAST(2 AS INTEGER) AS zoom, p.lang, g.n_docs,
               p.mx + 0.0 AS mx, p.my + 0.0 AS my
        FROM parts p JOIN grp g
          ON g.tx = p.tx AND g.ty = p.ty AND g.lang = p.lang
    """

    # NOT IN twin: DuckDB evaluates the identical NOT IN natively (the
    # fixture subquery is null-free, so anti-join == NOT IN here; the
    # null cases are pinned by tests/test_template_compiler.py)
    o["template_compile_not_in"] = f"""
        {_GEO_CTE}, big AS (
            SELECT lang FROM geo GROUP BY lang
            ORDER BY count(*) DESC, lang LIMIT 2
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM geo WHERE lang NOT IN (SELECT lang FROM big)
        GROUP BY lang ORDER BY lang
    """

    o["template_compile_case"] = f"""
        {_GEO_CTE}, z AS (SELECT UNNEST([2, 4]) AS zoom),
        rows_ AS (
            SELECT z.zoom,
                   CASE WHEN geo.lang LIKE 'e%' THEN concat('e:', geo.lang)
                        WHEN geo.lang IN ('fr', 'de', 'es') THEN 'eu'
                        ELSE nullif(geo.lang, 'zz') END AS fam,
                   CASE WHEN geo.n_chars BETWEEN 100 AND 299 THEN 'mid'
                        WHEN geo.n_chars >= 300 THEN 'long'
                        ELSE 'short' END AS sizecls,
                   geo.mx
            FROM geo, z
            WHERE geo.source NOT LIKE 'src1%' AND NOT (geo.lang ILIKE 'ZH')
              AND (z.zoom > 3 OR geo.doc_id BETWEEN 0 AND 300)
        )
        SELECT zoom, fam, sizecls, CAST(count(*) AS BIGINT) AS n_docs,
               round(sum(mx) / 1e6, 3) + 0.0 AS sum_mx_mm
        FROM rows_ GROUP BY 1, 2, 3
    """

    o["template_compile_dwithin"] = f"""
        {_GEO_CTE}, z AS (SELECT UNNEST([2, 4]) AS zoom),
        rows_ AS (
            SELECT z.zoom, geo.lang, geo.mx
            FROM geo, z
            WHERE (geo.mx - 2000000.0) * (geo.mx - 2000000.0)
                + (geo.my - 1000000.0) * (geo.my - 1000000.0)
                 <= 5000000.0 * 5000000.0
              AND (z.zoom > 3 OR NOT (
                    (geo.mx - (-8000000.0)) * (geo.mx - (-8000000.0))
                  + (geo.my - (-4000000.0)) * (geo.my - (-4000000.0))
                   <= 2500000.0 * 2500000.0))
        )
        SELECT zoom, lang, CAST(count(*) AS BIGINT) AS n_docs,
               round(sum(mx) / 1e6, 3) + 0.0 AS sum_mx_mm
        FROM rows_ GROUP BY 1, 2
    """

    from tilekiln_spark.functions.cellcodes import geohash_encode_sql as _gh_sql

    o["template_compile_geohash"] = f"""
        {_GEO_CTE}, z AS (SELECT UNNEST([2, 4]) AS zoom),
        g2 AS (
            SELECT doc_id, mx,
                   degrees(2.0 * atan(exp(my / {HW} * pi())) - pi() / 2) AS lat2,
                   mx / {HW} * 180.0 AS lon2
            FROM geo
        ),
        rows_ AS (
            SELECT z.zoom, {_gh_sql("lat2", "lon2", 4)} AS gh, g2.mx
            FROM g2, z
        )
        SELECT zoom, gh, CAST(count(*) AS BIGINT) AS n_docs,
               round(sum(mx) / 1e6, 3) + 0.0 AS sum_mx_mm
        FROM rows_ GROUP BY 1, 2
    """

    o["template_compile_stxy"] = f"""
        {_GEO_CTE}
        SELECT CAST(3 AS INTEGER) AS zoom,
               round(mx / {HW} * 180.0, 4) + 0.0 AS lon4,
               round(degrees(2.0 * atan(exp(my / {HW} * pi())) - pi() / 2), 4)
                   + 0.0 AS lat4,
               round(mx / 1000.0, 3) + 0.0 AS mx_km,
               round(my / 1000.0, 3) + 0.0 AS my_km
        FROM geo
    """

    # ---- LSH: the seeded hyperplanes are plan constants, so DuckDB can
    # recompute the exact signatures (sign bits of plane dots) ----
    def _lsh_sig_sql(vec_expr: str, nbits: int = 16, dim: int = 64, seed: int = 42) -> str:
        from tilekiln_spark.operators.similarity import _hyperplanes

        planes = _hyperplanes(dim, nbits, seed)
        terms = []
        for i, row in enumerate(planes):
            lit = "[" + ", ".join(_flit(v) for v in row) + "]"
            terms.append(
                f"(CASE WHEN list_inner_product({vec_expr}, {lit}) >= 0 THEN {1 << i} ELSE 0 END)"
            )
        return "(" + " + ".join(terms) + ")"

    o["ann_lsh_topk"] = f"""
        WITH probes AS (
            SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 5
        ), corpus AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id >= 5
        ), csig AS (
            SELECT vec_id, {_lsh_sig_sql('v')} AS sig FROM corpus
        ), psig AS (
            SELECT probe_id, {_lsh_sig_sql('v')} AS sig FROM probes
        ), bands AS (SELECT unnest(range(4)) AS band),
        cb AS (SELECT vec_id, band, (sig >> CAST(band * 4 AS INT)) & 15 AS block FROM csig, bands),
        pb AS (SELECT probe_id, band, (sig >> CAST(band * 4 AS INT)) & 15 AS block FROM psig, bands),
        cand AS (SELECT DISTINCT probe_id, vec_id FROM cb JOIN pb USING (band, block)),
        scored AS (
            SELECT cand.probe_id, cand.vec_id,
                   list_cosine_similarity(corpus.v, probes.v) AS cos
            FROM cand
            JOIN corpus ON cand.vec_id = corpus.vec_id
            JOIN probes ON cand.probe_id = probes.probe_id
        ), ranked AS (
            SELECT probe_id, vec_id, cos,
                   row_number() OVER (
                       PARTITION BY probe_id ORDER BY cos DESC, vec_id ASC
                   ) AS rank
            FROM scored
        )
        SELECT probe_id, vec_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 10
    """

    o["ann_quantized_topk"] = """
        WITH q AS (
            SELECT vec_id,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s,
                   embedding
            FROM embeddings
        ), qq AS (
            SELECT vec_id,
                   CASE WHEN s > 0 THEN list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE)/s + 0.5) AS INTEGER))
                        ELSE list_transform(embedding, x -> 0) END AS q8
            FROM q
        ), probes AS (SELECT vec_id AS probe_id, q8 AS pq8 FROM qq WHERE vec_id < 5),
        corpus AS (SELECT * FROM qq WHERE vec_id >= 5),
        pairs AS (
            SELECT p.probe_id, c.vec_id,
                CAST(list_sum(list_transform(range(1, len(c.q8)+1),
                    i -> CAST(c.q8[i] AS BIGINT) * p.pq8[i])) AS DOUBLE) /
                (sqrt(CAST(list_sum(list_transform(c.q8,
                    v -> CAST(v AS BIGINT)*v)) AS DOUBLE)) *
                 sqrt(CAST(list_sum(list_transform(p.pq8,
                    v -> CAST(v AS BIGINT)*v)) AS DOUBLE))) AS qcos
            FROM corpus c CROSS JOIN probes p
        )
        SELECT probe_id, vec_id, qcos, CAST(rank AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY probe_id
                ORDER BY qcos DESC, vec_id) AS rank FROM pairs
        ) WHERE rank <= 10
    """

    o["ann_ivf_topk"] = """
        WITH probes AS (
            SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 5
        ), corpus AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id >= 5
        ), cents AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
            FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT 8)
        ), cassign AS (
            SELECT vec_id, cid,
                   row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, cv) DESC, cid ASC
                   ) AS rn
            FROM corpus, cents
        ), passign AS (
            SELECT probe_id, cid,
                   row_number() OVER (
                       PARTITION BY probe_id
                       ORDER BY list_cosine_similarity(v, cv) DESC, cid ASC
                   ) AS rn
            FROM probes, cents
        ), cand AS (
            SELECT pa.probe_id, ca.vec_id
            FROM (SELECT probe_id, cid FROM passign WHERE rn <= 2) pa
            JOIN (SELECT vec_id, cid FROM cassign WHERE rn = 1) ca USING (cid)
        ), scored AS (
            SELECT cand.probe_id, cand.vec_id,
                   list_cosine_similarity(corpus.v, probes.v) AS cos
            FROM cand
            JOIN corpus ON cand.vec_id = corpus.vec_id
            JOIN probes ON cand.probe_id = probes.probe_id
        ), ranked AS (
            SELECT probe_id, vec_id, cos,
                   row_number() OVER (
                       PARTITION BY probe_id ORDER BY cos DESC, vec_id ASC
                   ) AS rank
            FROM scored
        )
        SELECT probe_id, vec_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 10
    """

    o["embedding_neardup"] = f"""
        WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        corpus AS (
            SELECT vec_id, v FROM base
            UNION ALL
            SELECT vec_id + 100000, list_transform(v, x -> x * CAST(1.001 AS DOUBLE))
            FROM base WHERE vec_id < 20
        ), sigs AS (
            SELECT vec_id AS k, v, {_lsh_sig_sql('v')} AS sig FROM corpus
        ), bands AS (SELECT unnest(range(4)) AS band),
        sb AS (SELECT k, band, (sig >> CAST(band * 4 AS INT)) & 15 AS block FROM sigs, bands),
        pairs AS (
            SELECT DISTINCT a.k AS key_a, b.k AS key_b
            FROM sb a JOIN sb b USING (band, block)
            WHERE a.k < b.k
        ), scored AS (
            SELECT key_a, key_b, list_cosine_similarity(ca.v, cb.v) AS cos
            FROM pairs
            JOIN sigs ca ON ca.k = key_a
            JOIN sigs cb ON cb.k = key_b
        )
        SELECT key_a, key_b, round(cos, 6) AS cos FROM scored WHERE cos >= 0.999
    """

    o["semantic_dedup"] = """
        WITH RECURSIVE base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), corpus AS (
            SELECT vec_id, v FROM base
            UNION ALL
            SELECT vec_id + 100000, list_transform(v, x -> x * CAST(1.001 AS DOUBLE))
            FROM base WHERE vec_id < 20
            UNION ALL
            SELECT vec_id + 200000, list_transform(v, x -> x * CAST(0.998 AS DOUBLE))
            FROM base WHERE vec_id < 10
        ), cents AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
            FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT 8)
        ), cassign AS (
            SELECT vec_id, cid,
                   row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, cv) DESC, cid ASC
                   ) AS rn
            FROM corpus, cents
        ), assigned AS (
            SELECT vec_id, cid FROM cassign WHERE rn = 1
        ), pairs AS (
            SELECT a.vec_id AS ka, b.vec_id AS kb
            FROM assigned a
            JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
            JOIN corpus ca ON ca.vec_id = a.vec_id
            JOIN corpus cb ON cb.vec_id = b.vec_id
            WHERE list_cosine_similarity(ca.v, cb.v) >= 0.9
        ), edges AS (
            SELECT ka AS a, kb AS b FROM pairs
            UNION ALL SELECT kb, ka FROM pairs
        ), walk(src, dst) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges)
            UNION
            SELECT w.src, e.b FROM walk w JOIN edges e ON e.a = w.dst
        ), comp AS (
            SELECT src AS node, MIN(dst) AS component FROM walk GROUP BY src
        )
        SELECT c.vec_id,
               CAST(asg.cid AS INT) AS cluster,
               COALESCE(p.component, c.vec_id) AS sem_cluster_id,
               CAST(CASE WHEN COALESCE(p.component, c.vec_id) = c.vec_id
                    THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
        FROM corpus c
        JOIN assigned asg ON asg.vec_id = c.vec_id
        LEFT JOIN comp p ON p.node = c.vec_id
    """

    o["linear_probe"] = _probe_sql(3, 1.0, 64)

    o["dedup_incremental"] = """
        WITH idx AS (SELECT doc_id, text FROM documents),
        newdocs AS (
            SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id < 40
            UNION ALL
            SELECT doc_id + 300000 AS doc_id,
                   md5(CAST(doc_id AS VARCHAR) || ':a') || ' ' ||
                   md5(CAST(doc_id AS VARCHAR) || ':b') || ' ' ||
                   md5(CAST(doc_id AS VARCHAR) || ':c') || ' ' ||
                   md5(CAST(doc_id AS VARCHAR) || ':d') || ' ' ||
                   md5(CAST(doc_id AS VARCHAR) || ':e') || ' ' ||
                   md5(CAST(doc_id AS VARCHAR) || ':f') || ' ' ||
                   md5(CAST(doc_id AS VARCHAR) || ':g') || ' ' ||
                   md5(CAST(doc_id AS VARCHAR) || ':h') AS text
            FROM documents WHERE doc_id < 20
        ),
        sn AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                  FROM newdocs)
            WHERE len(toks) >= 3
        ),
        si AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
                  FROM idx)
            WHERE len(toks) >= 3
        ),
        matches AS (
            SELECT n.doc_id AS key_new, i.doc_id AS key_index
            FROM sn n JOIN si i
              ON CAST(len(list_intersect(n.sh, i.sh)) AS DOUBLE) /
                 len(list_distinct(n.sh || i.sh)) >= 0.8
        ),
        agg AS (
            SELECT key_new, MIN(key_index) AS dup_of,
                   CAST(count(*) AS BIGINT) AS n_dups
            FROM matches GROUP BY key_new
        )
        SELECT nd.doc_id,
               CAST(CASE WHEN a.dup_of IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup,
               a.dup_of,
               COALESCE(a.n_dups, 0) AS n_dups
        FROM newdocs nd LEFT JOIN agg a ON a.key_new = nd.doc_id
    """

    o["semantic_dedup_outlier"] = """
        WITH RECURSIVE base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), corpus AS (
            SELECT vec_id, v FROM base
            UNION ALL
            SELECT vec_id + 100000, list_transform(v, x -> x * CAST(1.001 AS DOUBLE))
            FROM base WHERE vec_id < 20
        ), cents AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
            FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT 8)
        ), cassign AS (
            SELECT vec_id, cid,
                   row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, cv) DESC, cid ASC
                   ) AS rn
            FROM corpus, cents
        ), assigned AS (
            SELECT vec_id, cid FROM cassign WHERE rn = 1
        ), pairs AS (
            SELECT a.vec_id AS ka, b.vec_id AS kb
            FROM assigned a
            JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
            JOIN corpus ca ON ca.vec_id = a.vec_id
            JOIN corpus cb ON cb.vec_id = b.vec_id
            WHERE list_cosine_similarity(ca.v, cb.v) >= 0.9
        ), edges AS (
            SELECT ka AS a, kb AS b FROM pairs
            UNION ALL SELECT kb, ka FROM pairs
        ), walk(src, dst) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges)
            UNION
            SELECT w.src, e.b FROM walk w JOIN edges e ON e.a = w.dst
        ), comp AS (
            SELECT src AS node, MIN(dst) AS component FROM walk GROUP BY src
        ), lab AS (
            SELECT c.vec_id, asg.cid,
                   COALESCE(p.component, c.vec_id) AS sem_cluster_id,
                   round(list_cosine_similarity(c.v, ct.cv), 6) AS ccos
            FROM corpus c
            JOIN assigned asg ON asg.vec_id = c.vec_id
            JOIN cents ct ON ct.cid = asg.cid
            LEFT JOIN comp p ON p.node = c.vec_id
        )
        SELECT vec_id,
               CAST(cid AS INT) AS cluster,
               sem_cluster_id,
               CAST(CASE WHEN row_number() OVER (
                        PARTITION BY sem_cluster_id
                        ORDER BY ccos ASC, vec_id ASC) = 1
                    THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
        FROM lab
    """

    o["decontaminate_semantic"] = """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        leak AS (
            SELECT vec_id + 900 AS bench_id,
                   list_transform(v, x -> x * CAST(1.001 AS DOUBLE)) AS bv
            FROM e WHERE vec_id < 15
        ),
        clean AS (
            SELECT vec_id + 950 AS bench_id,
                   list_transform(range(1, 65),
                       i -> CASE WHEN i = (vec_id + 950) % 64 + 1
                            THEN 1.0 ELSE 0.0 END) AS bv
            FROM e WHERE vec_id < 5
        ),
        bench AS (SELECT * FROM leak UNION ALL SELECT * FROM clean),
        hits AS (
            SELECT c.vec_id,
                   CAST(count(*) AS BIGINT) AS n_hits,
                   MIN(b.bench_id) AS hit_of,
                   round(MAX(list_cosine_similarity(c.v, b.bv)), 6) AS best_cos
            FROM e c JOIN bench b ON list_cosine_similarity(c.v, b.bv) >= 0.95
            GROUP BY c.vec_id
        )
        SELECT e.vec_id,
               COALESCE(h.n_hits, 0) AS n_hits,
               h.hit_of,
               COALESCE(h.best_cos, 0.0) AS best_cos
        FROM e LEFT JOIN hits h USING (vec_id)
    """

    # ---- media stubs: md5-derived fake stats, re-derived with hex math ----
    def _hexpair(pos: int) -> str:
        d = "0123456789abcdef"
        return (
            f"((strpos('{d}', substr(hx, {pos}, 1)) - 1) * 16"
            f" + strpos('{d}', substr(hx, {pos + 1}, 1)) - 1)"
        )

    o["media_decode"] = f"""
        WITH m AS (
            SELECT id AS media_id,
                   'FAKE/image/' || id || '/' || repeat('x', CAST(id % 100 + 1 AS INT)) AS payload,
                   CAST(id % 8 * 64 + 64 AS INT) AS width,
                   CAST(id % 5 * 64 + 64 AS INT) AS height
            FROM range(200) t(id)
        ), h AS (SELECT media_id, width, height, md5(payload) AS hx FROM m)
        SELECT media_id, width, height,
               CAST({_hexpair(1)} AS DOUBLE) AS mean_r,
               CAST({_hexpair(3)} AS DOUBLE) AS mean_g,
               CAST({_hexpair(5)} AS DOUBLE) AS mean_b,
               CAST({_hexpair(7)} AS DOUBLE) / 4.0 AS std
        FROM h
    """

    o["template_compile_subquery"] = f"""
        {_GEO_CTE},
        sub AS (
            SELECT geo.lang || ':' || geo.source AS tag, geo.n_chars * 2 AS nc2
            FROM geo
            WHERE geo.lang <> 'zz' AND geo.doc_id NOT BETWEEN 900 AND 100000
        )
        SELECT 3 AS zoom, upper(tag) AS label,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nc2) AS BIGINT) AS sum_nc2
        FROM sub
        WHERE nc2 BETWEEN 100 AND 1200 AND tag NOT LIKE 'xx%'
        GROUP BY 1, 2
    """

    o["template_compile_cte"] = f"""
        {_GEO_CTE},
        filtered AS (
            SELECT lang, source, n_chars FROM geo WHERE lang <> 'zz'
        ),
        tagged AS (
            SELECT lang || ':' || source AS tag, n_chars * 2 AS nc2
            FROM filtered
        )
        SELECT 3 AS zoom, upper(tag) AS label,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nc2) AS BIGINT) AS sum_nc2
        FROM tagged
        WHERE nc2 BETWEEN 100 AND 1200 AND tag NOT LIKE 'xx%'
        GROUP BY 1, 2
    """

    o["template_compile_exists"] = f"""
        {_GEO_CTE},
        langdim(dlang, keep) AS (VALUES
            ('en', 1), ('de', 0), ('fr', 1), ('es', 1))
        SELECT 3 AS zoom, 'kept' AS part, lang,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM geo
        WHERE EXISTS (SELECT 1 FROM langdim d
                      WHERE d.dlang = geo.lang AND d.keep = 1)
        GROUP BY 1, 2, 3
        UNION ALL
        SELECT 3 AS zoom, 'dropped' AS part, lang,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM geo
        WHERE NOT EXISTS (SELECT 1 FROM langdim d
                          WHERE d.dlang = geo.lang AND d.keep = 1)
        GROUP BY 1, 2, 3
    """

    o["template_compile_scalar"] = f"""
        {_GEO_CTE}
        SELECT 3 AS zoom, lang,
               (SELECT max(n_chars) FROM geo) AS cap,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM geo
        WHERE n_chars > (SELECT avg(n_chars) FROM geo WHERE lang <> 'zz')
        GROUP BY 1, 2, 3
    """

    o["template_compile_join"] = f"""
        {_GEO_CTE},
        dim(lang, family, w) AS (VALUES
            ('en', 'germanic', CAST(1.0 AS DOUBLE)),
            ('de', 'germanic', CAST(2.0 AS DOUBLE)),
            ('fr', 'romance', CAST(3.0 AS DOUBLE)),
            ('es', 'romance', CAST(4.0 AS DOUBLE))
        ),
        j AS (
            SELECT geo.source AS src, dim.family AS fam, dim.w AS weight
            FROM geo LEFT JOIN dim ON geo.lang = dim.lang
            WHERE coalesce(dim.family, 'other') <> 'romance'
        )
        SELECT 2 AS zoom, fam, src,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(sum(weight), 3) AS sum_w
        FROM j GROUP BY 1, 2, 3
    """

    o["template_compile_semijoin"] = f"""
        {_GEO_CTE},
        dim(lang, keep) AS (VALUES ('en', 1), ('de', 0), ('fr', 1), ('es', 0))
        SELECT 2 AS zoom, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS sum_ids
        FROM geo
        WHERE lang IN (SELECT lang FROM dim WHERE keep = 1)
          AND doc_id % 3 = 0
        GROUP BY 1, 2
    """

    o["template_compile_hstore"] = f"""
        {_GEO_CTE},
        rows_ AS (
            SELECT 3 AS zoom, geo.lang AS tl,
                   CASE WHEN geo.doc_id % 3 <> 0 THEN geo.n_chars END AS pop,
                   (geo.doc_id % 3 <> 0) AS has_pop
            FROM geo
            WHERE geo.doc_id % 13 <> 0
              AND (coalesce(CASE WHEN geo.doc_id % 3 <> 0 THEN geo.n_chars END, 0)
                     BETWEEN 50 AND 100000
                   OR NOT (geo.doc_id % 3 <> 0))
        )
        SELECT zoom, tl, has_pop, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(pop) AS BIGINT) AS sum_pop
        FROM rows_ GROUP BY 1, 2, 3
    """

    # per-tile top-n twin: the engine compiles the template's trailing
    # ORDER BY n_chars DESC, doc_id LIMIT 5 to a per-(zoom,x,y) row_number
    # window (the reference runs the SQL once per tile, so LIMIT caps each
    # tile); the twin is the same window in plain SQL.  doc_id is unique,
    # so the top-5 set is tie-free and exact.
    o["template_compile_topn"] = f"""
        {_GEO_CTE},
        f AS (
            SELECT 6 AS zoom, {tx6} AS x, {ty6} AS y, geo.doc_id, geo.n_chars
            FROM geo WHERE geo.lang IN ('en', 'fr')
        ),
        r AS (
            SELECT *, row_number() OVER (
                PARTITION BY zoom, x, y
                ORDER BY n_chars DESC, doc_id ASC
            ) AS rn FROM f
        )
        SELECT zoom, x, y, CAST(doc_id AS BIGINT) AS doc_id,
               CAST(n_chars AS BIGINT) AS n_chars
        FROM r WHERE rn <= 5
    """

    # per-tile GROUP BY twin: the engine compiles GROUP BY lang + HAVING to
    # one partial-aggregated groupBy on (zoom, x, y, lang); the twin is the
    # same floor tile assignment + GROUP BY in plain SQL.  Integer sums are
    # exact in both engines; avg(mx) is order-sensitive only below the
    # 3-dp/1e6 rounding.
    tx4, ty4 = _tile_xy_sql(4)
    o["template_compile_groupby"] = f"""
        {_GEO_CTE},
        f AS (
            SELECT 4 AS zoom, {tx4} AS x, {ty4} AS y, geo.lang, geo.source, geo.n_chars, geo.mx
            FROM geo WHERE geo.lang IN ('en', 'fr', 'de')
        )
        SELECT zoom, x, y, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_src,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               round(avg(n_chars), 1) + 0.0 AS avg_chars,
               round(avg(mx) / 1000000.0, 3) + 0.0 AS cx_mm
        FROM f GROUP BY 1, 2, 3, 4
        HAVING count(*) >= 2
    """

    # quantized-DISTINCT twin: replicate tile assignment AND the
    # round((coord - tile_min) / tile_len * extent) pixel quantization
    # (extent 16 at z3), then SELECT DISTINCT the quantized row — exactly
    # what the engine dedups (_apply_tile_distinct).  round() ties-away ==
    # Spark HALF_UP for these positive operands.
    tx3, ty3 = _tile_xy_sql(3)
    _len3 = f"(2.0 * {HW} / 8.0)"
    o["template_compile_distinct"] = f"""
        {_GEO_CTE},
        f AS (
            SELECT 3 AS zoom, {tx3} AS x, {ty3} AS y, geo.lang, geo.mx, geo.my
            FROM geo
        ),
        p AS (
            SELECT zoom, x, y, lang,
                   CAST(round((mx - (-{HW} + x * {_len3})) / {_len3} * 16) AS BIGINT) AS px,
                   CAST(round((({HW} - y * {_len3}) - my) / {_len3} * 16) AS BIGINT) AS py
            FROM f
        )
        SELECT DISTINCT zoom, x, y, px, py, lang FROM p
    """

    # real-codec twin: a solid-color image's per-channel means ARE the
    # channel bytes, and arr.std() over (h, w, 3) identical triples is the
    # population std of {r, g, b} — closed form in media_id.  Rounded to
    # 4 dp on both sides (the two engines order the float64 accumulation
    # differently; agreement is ~1e-12, far inside the rounding).
    o["media_decode_real"] = """
        WITH m AS (
            SELECT id AS media_id,
                   CAST(37 * id % 256 AS DOUBLE) AS r,
                   CAST(59 * id % 256 AS DOUBLE) AS g,
                   CAST(83 * id % 256 AS DOUBLE) AS b
            FROM range(200) t(id)
        ), mu AS (SELECT *, (r + g + b) / 3.0 AS m3 FROM m)
        SELECT media_id,
               CAST(media_id % 8 * 4 + 4 AS INT) AS width,
               CAST(media_id % 5 * 4 + 4 AS INT) AS height,
               r AS mean_r, g AS mean_g, b AS mean_b,
               round(sqrt((pow(r - m3, 2) + pow(g - m3, 2) + pow(b - m3, 2)) / 3.0), 4) AS std4
        FROM mu
    """

    # media_decode_jpeg twin: the solid-color closed form of the baseline
    # JPEG chain — RGB->YCbCr, DC quantize/dequantize by the Annex K [0]
    # entries (16 luma / 17 chroma), DC-only IDCT is constant, plane
    # uint8, YCbCr->RGB — with the codec's single rounding op
    # floor(x + 0.5 + 1e-9) replayed verbatim at every step.
    o["media_decode_jpeg"] = """
        WITH m AS (
            SELECT id AS media_id,
                   CAST(37 * id % 256 AS DOUBLE) AS r,
                   CAST(59 * id % 256 AS DOUBLE) AS g,
                   CAST(83 * id % 256 AS DOUBLE) AS b
            FROM range(200) t(id)
        ), p AS (
            SELECT media_id,
                   0.299 * r + 0.587 * g + 0.114 * b AS y,
                   -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0 AS cb,
                   0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0 AS cr
            FROM m
        ), d AS (
            SELECT media_id,
                   floor(8.0 * (y - 128.0) / 16.0 + 0.5 + 1e-9) AS dy,
                   floor(8.0 * (cb - 128.0) / 17.0 + 0.5 + 1e-9) AS dcb,
                   floor(8.0 * (cr - 128.0) / 17.0 + 0.5 + 1e-9) AS dcr
            FROM p
        ), pl AS (
            SELECT media_id,
                   least(greatest(floor(dy * 16.0 / 8.0 + 128.0 + 0.5 + 1e-9), 0.0), 255.0) AS py,
                   least(greatest(floor(dcb * 17.0 / 8.0 + 128.0 + 0.5 + 1e-9), 0.0), 255.0) AS pcb,
                   least(greatest(floor(dcr * 17.0 / 8.0 + 128.0 + 0.5 + 1e-9), 0.0), 255.0) AS pcr
            FROM d
        ), rgb AS (
            SELECT media_id,
                   least(greatest(floor(py + 1.402 * (pcr - 128.0) + 0.5 + 1e-9), 0.0), 255.0) AS mr,
                   least(greatest(floor(py - 0.344136286 * (pcb - 128.0)
                                           - 0.714136286 * (pcr - 128.0) + 0.5 + 1e-9), 0.0), 255.0) AS mg,
                   least(greatest(floor(py + 1.772 * (pcb - 128.0) + 0.5 + 1e-9), 0.0), 255.0) AS mb
            FROM pl
        ), mu AS (SELECT *, (mr + mg + mb) / 3.0 AS m3 FROM rgb)
        SELECT media_id,
               CAST(media_id % 6 * 8 + 8 AS INT) AS width,
               CAST(media_id % 4 * 8 + 8 AS INT) AS height,
               mr AS mean_r, mg AS mean_g, mb AS mean_b,
               round(sqrt((pow(mr - m3, 2) + pow(mg - m3, 2)
                           + pow(mb - m3, 2)) / 3.0), 4) AS std4
        FROM mu
    """

    o["media_frame_sample"] = """
        WITH v AS (
            SELECT id AS media_id,
                   unnest(generate_series(
                       0, greatest(CAST(floor((id % 30000) / 1000) AS INT) - 1, 0)
                   )) AS frame_idx
            FROM range(100) t(id)
        )
        SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
               CAST(frame_idx * 1000 AS INT) AS ts_ms
        FROM v
    """

    o["ann_matryoshka_topk"] = """
        WITH sliced AS (
            SELECT vec_id, embedding[1:32] AS e32 FROM embeddings
        ), probes AS (
            SELECT vec_id AS probe_id, e32 AS pvec FROM sliced WHERE vec_id < 5
        ), corpus AS (
            SELECT vec_id, e32 FROM sliced WHERE vec_id >= 5
        ), scored AS (
            SELECT probe_id, vec_id,
                   row_number() OVER (
                       PARTITION BY probe_id
                       ORDER BY list_cosine_similarity(e32, pvec) DESC, vec_id ASC
                   ) AS rank
            FROM corpus CROSS JOIN probes
        )
        SELECT probe_id, vec_id, CAST(rank AS INT) AS rank
        FROM scored WHERE rank <= 10
    """

    o["similarity_bruteforce"] = """
        WITH probes AS (
            SELECT vec_id AS probe_id, embedding AS pvec FROM embeddings WHERE vec_id < 5
        ), corpus AS (
            SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5
        ), scored AS (
            SELECT probe_id, vec_id,
                   row_number() OVER (
                       PARTITION BY probe_id
                       ORDER BY list_cosine_similarity(embedding, pvec) DESC, vec_id ASC
                   ) AS rank
            FROM corpus CROSS JOIN probes
        )
        SELECT probe_id, vec_id, CAST(rank AS INT) AS rank FROM scored WHERE rank <= 10
    """

    # ------------------------------------------------------------------
    # sketch twins: every hash is md5-derived and every combine step is an
    # order-independent algebra (max / integer sum / set union / rank), so
    # the DuckDB replay is bit-identical to the distributed sketch.
    # ------------------------------------------------------------------
    _amm = repr(0.709 * 64.0 * 64.0)

    o["hll_host_distinct"] = f"""
        WITH {_MESSY_URLS_SQL}, {_URL_PARTS_SQL},
        keys AS (SELECT host, url_norm FROM web),
        hashed AS (
            SELECT host,
                   CAST('0x' || substr(md5('hll:' || url_norm), 1, 8) AS BIGINT) AS h
            FROM keys
        ),
        hp AS (
            SELECT host,
                   CAST(floor(h / 67108864.0) AS INT) AS bkt,
                   h % 67108864 AS rest
            FROM hashed
        ),
        regs AS (
            SELECT host, bkt,
                   max(CASE WHEN rest = 0 THEN 27
                            ELSE 27 - length(bin(rest)) END) AS m
            FROM hp GROUP BY 1, 2
        ),
        per AS (
            SELECT host, sum(power(2.0, -m)) AS hsum, count(*) AS used
            FROM regs GROUP BY 1
        ),
        est AS (
            SELECT host, used,
                   {_amm} / ((64.0 - CAST(used AS DOUBLE)) + hsum) AS raw
            FROM per
        ),
        ex AS (SELECT host, count(DISTINCT url_norm) AS n_exact FROM keys GROUP BY 1)
        SELECT est.host, CAST(n_exact AS BIGINT) AS n_exact,
               round(CASE WHEN raw <= 160.0 AND (64.0 - CAST(used AS DOUBLE)) > 0.0
                          THEN 64.0 * ln(64.0 / (64.0 - CAST(used AS DOUBLE)))
                          ELSE raw END, 6) + 0.0 AS hll_est,
               CAST(used AS BIGINT) AS hll_registers_used
        FROM est JOIN ex ON est.host = ex.host
    """

    o["kmv_lang_distinct"] = """
        WITH sigs AS (SELECT lang, md5(text) AS sig FROM documents),
        hs AS (
            SELECT DISTINCT lang,
                   CAST('0x' || substr(md5('kmv:' || sig), 1, 8) AS BIGINT) AS h
            FROM sigs
        ),
        ranked AS (
            SELECT lang, h,
                   row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
            FROM hs
        ),
        nd AS (SELECT lang, count(*) AS nd FROM hs GROUP BY 1),
        kth AS (
            SELECT lang, max(CASE WHEN rn = 16 THEN h END) AS kth
            FROM ranked WHERE rn <= 16 GROUP BY 1
        ),
        ex AS (SELECT lang, count(DISTINCT sig) AS n_exact FROM sigs GROUP BY 1)
        SELECT k.lang, CAST(n_exact AS BIGINT) AS n_exact,
               round(CASE WHEN nd >= 16
                          THEN 15.0 * 4294967296.0 / CAST(kth AS DOUBLE)
                          ELSE CAST(nd AS DOUBLE) END, 4) + 0.0 AS kmv_est,
               nd < 16 AS kmv_exact_below_k
        FROM kth k JOIN nd USING (lang) JOIN ex USING (lang)
    """

    o["cms_heavy_hitters"] = f"""
        WITH {_MESSY_URLS_SQL}, {_URL_PARTS_SQL},
        pages AS (SELECT host FROM web),
        cnt AS (SELECT host, count(*) AS n_exact FROM pages GROUP BY 1),
        top AS (SELECT host, n_exact FROM cnt ORDER BY n_exact DESC, host LIMIT 8),
        ds(d) AS (VALUES (0), (1), (2)),
        counters AS (
            SELECT d,
                   CAST(CAST('0x' || substr(md5('cms' || CAST(d AS VARCHAR)
                        || ':' || host), 1, 8) AS BIGINT) % 32 AS INT) AS slot,
                   CAST(count(*) AS DOUBLE) AS c
            FROM pages CROSS JOIN ds GROUP BY 1, 2
        ),
        probe AS (
            SELECT t.host, t.n_exact, ds.d,
                   CAST(CAST('0x' || substr(md5('cms' || CAST(ds.d AS VARCHAR)
                        || ':' || t.host), 1, 8) AS BIGINT) % 32 AS INT) AS slot
            FROM top t CROSS JOIN ds
        )
        SELECT p.host, CAST(p.n_exact AS BIGINT) AS n_exact,
               CAST(min(coalesce(c.c, 0.0)) AS BIGINT) AS cms_est
        FROM probe p LEFT JOIN counters c ON p.d = c.d AND p.slot = c.slot
        GROUP BY 1, 2
    """

    o["bloom_decontam"] = """
        WITH evalset AS (
            SELECT DISTINCT md5(text) AS sig FROM documents WHERE doc_id % 7 = 0
        ),
        probes AS (SELECT DISTINCT md5(text) AS sig FROM documents),
        js(j) AS (VALUES (0), (1), (2)),
        bits AS (
            SELECT DISTINCT
                   CAST(CAST('0x' || substr(md5('b' || CAST(j AS VARCHAR)
                        || ':' || sig), 1, 8) AS BIGINT) % 1024 AS INT) AS pos
            FROM evalset CROSS JOIN js
        ),
        pp AS (
            SELECT sig,
                   CAST(CAST('0x' || substr(md5('b' || CAST(j AS VARCHAR)
                        || ':' || sig), 1, 8) AS BIGINT) % 1024 AS INT) AS pos
            FROM probes CROSS JOIN js
        ),
        hits AS (
            SELECT pp.sig,
                   sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) = 3 AS bloom_hit
            FROM pp LEFT JOIN bits b ON pp.pos = b.pos
            GROUP BY 1
        )
        SELECT h.sig, h.bloom_hit, (e.sig IS NOT NULL) AS exact_hit
        FROM hits h LEFT JOIN evalset e ON h.sig = e.sig
    """

    # Geary's C twin: shared stencil, deg arithmetic, exact integer sums,
    # identical final scalar assembly (same shape as the morans_i twin)
    _a = "CAST(bx1 - bx0 + 1 AS DOUBLE)"
    _b = "CAST(by1 - by0 + 1 AS DOUBLE)"
    _nn = f"({_a} * {_b})"
    _swx = (
        f"(2.0 * ({_a} - 1.0) * {_b} + 2.0 * {_a} * ({_b} - 1.0)"
        f" + 4.0 * ({_a} - 1.0) * ({_b} - 1.0))"
    )

    o["geary_c"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, CAST(count(*) AS DOUBLE) AS v
            FROM binned GROUP BY 1, 2, 3, 4
        ), cellsg AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy, v
            FROM counts
        ), gmom AS (
            SELECT min(gx) AS bx0, max(gx) AS bx1,
                   min(gy) AS by0, max(gy) AS by1,
                   sum(v) AS tot, sum(v * v) AS tot2,
                   count(*) AS npres
            FROM cellsg
        ), offs(k, dx, dy) AS (VALUES {_hs_offs}),
        sh AS (
            SELECT gx - dx AS tgx, gy - dy AS tgy, k, v
            FROM cellsg CROSS JOIN offs
        ), agg AS (
            SELECT tgx, tgy, {_hs_zcols},
                   max(CASE WHEN k = 4 THEN 1 ELSE 0 END) AS present
            FROM sh GROUP BY 1, 2
        ), per AS (
            SELECT z4 * z4 * CAST((1 + CAST(tgx > bx0 AS INT) + CAST(tgx < bx1 AS INT))
                             * (1 + CAST(tgy > by0 AS INT) + CAST(tgy < by1 AS INT))
                             - 1 AS DOUBLE) AS dq,
                   z4 * ({_mi_s8}) AS c,
                   bx0, bx1, by0, by1, tot, tot2, npres
            FROM agg CROSS JOIN gmom WHERE present = 1
        ), sums AS (
            SELECT bx0, bx1, by0, by1, tot, tot2, npres,
                   sum(dq) AS sdq, sum(c) AS crs
            FROM per GROUP BY 1, 2, 3, 4, 5, 6, 7
        )
        SELECT npres AS n_present,
               CAST({_nn} AS BIGINT) AS bbox_n,
               CAST({_swx} AS BIGINT) AS sw,
               round(({_nn} - 1.0) * (2.0 * sdq - 2.0 * crs)
                     / (2.0 * {_swx}
                        * nullif(tot2 - {_nn} * ((tot / {_nn}) * (tot / {_nn})), 0.0)), 6)
                   + 0.0 AS geary
        FROM sums
    """

    # Zevenbergen-Thorne curvature twin: shared stencil + the identical
    # float expressions (L = 1), NULL profile/plan on flat windows
    o["raster_curvature"] = f"""
        {_GEO_CTE}, t AS (
            SELECT mx, my, {tx2} AS x, {ty2} AS y FROM geo
        ), binned AS (
            SELECT x, y,
                   greatest(least(CAST(floor((mx - (-{HW} + x * {len2})) / {len2} * 16) AS INT), 15), 0) AS bin_x,
                   greatest(least(CAST(floor((({HW} - y * {len2}) - my) / {len2} * 16) AS INT), 15), 0) AS bin_y
            FROM t
        ), counts AS (
            SELECT x, y, bin_x, bin_y, CAST(count(*) AS DOUBLE) AS v
            FROM binned GROUP BY 1, 2, 3, 4
        ), cellsg AS (
            SELECT CAST(x AS BIGINT) * 16 + bin_x AS gx,
                   CAST(y AS BIGINT) * 16 + bin_y AS gy, v
            FROM counts
        ), offs(k, dx, dy) AS (VALUES {_hs_offs}),
        sh AS (
            SELECT gx - dx AS tgx, gy - dy AS tgy, k, v
            FROM cellsg CROSS JOIN offs
        ), agg AS (
            SELECT tgx, tgy, {_hs_zcols},
                   max(CASE WHEN k = 4 THEN 1 ELSE 0 END) AS present
            FROM sh GROUP BY 1, 2
        ), zt AS (
            SELECT tgx, tgy,
                   ((z3 + z5) / 2.0 - z4) / 1.0 AS d,
                   ((z1 + z7) / 2.0 - z4) / 1.0 AS e,
                   (-z0 + z2 + z6 - z8) / 4.0 AS fc,
                   (-z3 + z5) / 2.0 AS g,
                   (z1 - z7) / 2.0 AS h
            FROM agg WHERE present = 1
        )
        SELECT tgx AS gx, tgy AS gy,
               round(-2.0 * (d + e) * 100.0, 6) + 0.0 AS curv_general,
               round(-2.0 * (d * g * g + e * h * h + fc * g * h)
                     / nullif(g * g + h * h, 0.0), 6) + 0.0 AS curv_profile,
               round(2.0 * (d * h * h + e * g * g - fc * g * h)
                     / nullif(g * g + h * h, 0.0), 6) + 0.0 AS curv_plan
        FROM zt
    """

    # triangle-count twin: identical canonical edge set + the ordered
    # u<v<w two-path join, corners scattered and rolled up
    o["graph_triangles"] = """
        WITH nn AS (SELECT count(*) AS n FROM documents),
        links AS (
            SELECT d.doc_id AS src, (d.doc_id * 7 + j.j) % nn.n AS dst
            FROM documents d CROSS JOIN nn
                 CROSS JOIN (VALUES (1), (2), (3)) j(j)
            WHERE d.doc_id % 5 <> 0
        ),
        und AS (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM links WHERE src <> dst
        ),
        deg AS (
            SELECT node, count(*) AS degree FROM (
                SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
            ) GROUP BY 1
        ),
        tris AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM und e1
            JOIN und e2 ON e1.v = e2.u
            JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        corners AS (
            SELECT node, count(*) AS n_tri FROM (
                SELECT a AS node FROM tris
                UNION ALL SELECT b AS node FROM tris
                UNION ALL SELECT c AS node FROM tris
            ) GROUP BY 1
        )
        SELECT CAST(deg.node AS BIGINT) AS node,
               CAST(degree AS BIGINT) AS degree,
               CAST(coalesce(n_tri, 0) AS BIGINT) AS n_tri,
               round(CASE WHEN degree >= 2
                          THEN 2.0 * CAST(coalesce(n_tri, 0) AS DOUBLE)
                               / CAST(degree * (degree - 1) AS DOUBLE)
                     END, 6) + 0.0 AS local_cc
        FROM deg LEFT JOIN corners ON deg.node = corners.node
    """

    # k-core twin: 6 unrolled monotone peel rounds over the
    # designed core+periphery fixture, each round MATERIALIZED so DuckDB
    # does not inline the chain exponentially; extra rounds past the
    # fixpoint are no-ops
    o["k_core"] = """
        WITH d AS (SELECT doc_id FROM documents),
        core AS (
            SELECT doc_id AS src, (doc_id + j.j) % 40 AS dst
            FROM d CROSS JOIN (VALUES (1), (2), (3)) j(j)
            WHERE doc_id < 40
        ),
        chain AS (
            SELECT doc_id AS src, doc_id - 1 AS dst FROM d WHERE doc_id >= 40
        ),
        attach AS (
            SELECT doc_id AS src, doc_id % 40 AS dst
            FROM d WHERE doc_id >= 40 AND doc_id % 3 = 0
        ),
        links AS (
            SELECT * FROM core UNION ALL SELECT * FROM chain
            UNION ALL SELECT * FROM attach
        ),
        und AS MATERIALIZED (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM links WHERE src <> dst
        ),
        d1 AS MATERIALIZED (
            SELECT node, count(*) AS d FROM (
                SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
            ) GROUP BY 1
        ),
        er1 AS MATERIALIZED (
            SELECT u, v FROM und
            WHERE u IN (SELECT node FROM d1 WHERE d >= 4)
              AND v IN (SELECT node FROM d1 WHERE d >= 4)
        ),
        d2 AS MATERIALIZED (
            SELECT node, count(*) AS d FROM (
                SELECT u AS node FROM er1 UNION ALL SELECT v AS node FROM er1
            ) GROUP BY 1
        ),
        er2 AS MATERIALIZED (
            SELECT u, v FROM er1
            WHERE u IN (SELECT node FROM d2 WHERE d >= 4)
              AND v IN (SELECT node FROM d2 WHERE d >= 4)
        ),
        d3 AS MATERIALIZED (
            SELECT node, count(*) AS d FROM (
                SELECT u AS node FROM er2 UNION ALL SELECT v AS node FROM er2
            ) GROUP BY 1
        ),
        er3 AS MATERIALIZED (
            SELECT u, v FROM er2
            WHERE u IN (SELECT node FROM d3 WHERE d >= 4)
              AND v IN (SELECT node FROM d3 WHERE d >= 4)
        ),
        d4 AS MATERIALIZED (
            SELECT node, count(*) AS d FROM (
                SELECT u AS node FROM er3 UNION ALL SELECT v AS node FROM er3
            ) GROUP BY 1
        ),
        er4 AS MATERIALIZED (
            SELECT u, v FROM er3
            WHERE u IN (SELECT node FROM d4 WHERE d >= 4)
              AND v IN (SELECT node FROM d4 WHERE d >= 4)
        ),
        d5 AS MATERIALIZED (
            SELECT node, count(*) AS d FROM (
                SELECT u AS node FROM er4 UNION ALL SELECT v AS node FROM er4
            ) GROUP BY 1
        ),
        er5 AS MATERIALIZED (
            SELECT u, v FROM er4
            WHERE u IN (SELECT node FROM d5 WHERE d >= 4)
              AND v IN (SELECT node FROM d5 WHERE d >= 4)
        ),
        d6 AS MATERIALIZED (
            SELECT node, count(*) AS d FROM (
                SELECT u AS node FROM er5 UNION ALL SELECT v AS node FROM er5
            ) GROUP BY 1
        ),
        er6 AS MATERIALIZED (
            SELECT u, v FROM er5
            WHERE u IN (SELECT node FROM d6 WHERE d >= 4)
              AND v IN (SELECT node FROM d6 WHERE d >= 4)
        )
        SELECT CAST(node AS BIGINT) AS node,
               CAST(count(*) AS BIGINT) AS core_degree
        FROM (
            SELECT u AS node FROM er6
            UNION ALL SELECT v AS node FROM er6
        ) GROUP BY 1
    """

    # assortativity twin: same link generator + degree table; every sum
    # an exact integer before the one final division (snapped-moment rule)
    o["graph_assortativity"] = """
        WITH nn AS (SELECT count(*) AS n FROM documents),
        links AS (
            SELECT d.doc_id AS src, (d.doc_id * 7 + j.j) % nn.n AS dst
            FROM documents d CROSS JOIN nn
                 CROSS JOIN (VALUES (1), (2), (3)) j(j)
            WHERE d.doc_id % 5 <> 0
        ),
        und AS (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM links WHERE src <> dst
        ),
        deg AS (
            SELECT node, count(*) AS degree FROM (
                SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
            ) GROUP BY 1
        ),
        paired AS (
            SELECT du.degree AS ju, dv.degree AS jv
            FROM und
            JOIN deg du ON du.node = und.u
            JOIN deg dv ON dv.node = und.v
        ),
        sums AS (
            SELECT count(*) AS m_edges,
                   sum(ju * jv) AS sum_jk,
                   sum(ju + jv) AS sum_j_plus_k,
                   sum(ju * ju + jv * jv) AS sum_j2_plus_k2
            FROM paired
        )
        SELECT CAST(m_edges AS BIGINT) AS m_edges,
               CAST(sum_jk AS BIGINT) AS sum_jk,
               CAST(sum_j_plus_k AS BIGINT) AS sum_j_plus_k,
               CAST(sum_j2_plus_k2 AS BIGINT) AS sum_j2_plus_k2,
               round(
                 (CAST(sum_jk AS DOUBLE) / CAST(m_edges AS DOUBLE)
                  - pow(CAST(sum_j_plus_k AS DOUBLE)
                        / (2.0 * CAST(m_edges AS DOUBLE)), 2))
                 / nullif(
                     CAST(sum_j2_plus_k2 AS DOUBLE)
                     / (2.0 * CAST(m_edges AS DOUBLE))
                     - pow(CAST(sum_j_plus_k AS DOUBLE)
                           / (2.0 * CAST(m_edges AS DOUBLE)), 2),
                     0.0), 6) + 0.0 AS assortativity
        FROM sums
    """

    # reciprocity twin: identical chain/back/hub fixture; mutual via the
    # same dedup-then-semi-join against the swapped edge set
    o["graph_reciprocity"] = """
        WITH nn AS (SELECT count(*) AS n FROM documents),
        e AS (
            SELECT DISTINCT src, dst FROM (
                SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst
                FROM documents CROSS JOIN nn
                UNION ALL
                SELECT (doc_id + 1) % nn.n AS src, doc_id AS dst
                FROM documents CROSS JOIN nn WHERE doc_id % 3 = 0
                UNION ALL
                SELECT doc_id AS src, (doc_id * 7) % nn.n AS dst
                FROM documents CROSS JOIN nn WHERE doc_id % 4 = 0
            ) WHERE src <> dst
        ),
        outd AS (SELECT src AS node, count(*) AS out_deg FROM e GROUP BY 1),
        ind AS (SELECT dst AS node, count(*) AS in_deg FROM e GROUP BY 1),
        mut AS (
            SELECT e.src AS node, count(*) AS mutual
            FROM e WHERE EXISTS (
                SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src
            ) GROUP BY 1
        ),
        nodes AS (
            SELECT node FROM outd UNION SELECT node FROM ind
        )
        SELECT CAST(n.node AS BIGINT) AS node,
               CAST(coalesce(out_deg, 0) AS BIGINT) AS out_deg,
               CAST(coalesce(in_deg, 0) AS BIGINT) AS in_deg,
               CAST(coalesce(mutual, 0) AS BIGINT) AS mutual,
               CASE WHEN coalesce(out_deg, 0) > 0
                    THEN round(CAST(coalesce(mutual, 0) AS DOUBLE)
                               / CAST(out_deg AS DOUBLE), 6) + 0.0
               END AS reciprocity
        FROM nodes n
        LEFT JOIN outd ON outd.node = n.node
        LEFT JOIN ind ON ind.node = n.node
        LEFT JOIN mut ON mut.node = n.node
    """

    # LPA twin: the identical two-community fixture and FOUR unrolled
    # synchronous rounds, argmax by (cnt DESC, label ASC) — the same
    # ordering the Spark min(struct(-cnt, label)) encodes
    o["label_propagation"] = """
        WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        e AS (
            SELECT a.doc_id AS src, b.doc_id AS dst
            FROM d a JOIN d b
              ON (a.doc_id // 30) = (b.doc_id // 30)
             AND a.doc_id < b.doc_id
            UNION ALL
            SELECT 0 AS src, 30 AS dst FROM d WHERE doc_id = 0
        ),
        und AS MATERIALIZED (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM e WHERE src <> dst
        ),
        nb AS MATERIALIZED (
            SELECT u AS node, v AS nb FROM und
            UNION ALL SELECT v AS node, u AS nb FROM und
        ),
        l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM nb),
        r1 AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT nb.node, l.label,
                       row_number() OVER (PARTITION BY nb.node
                           ORDER BY count(*) DESC, l.label ASC) AS rn
                FROM nb JOIN l0 l ON l.node = nb.nb
                GROUP BY nb.node, l.label
            ) WHERE rn = 1
        ),
        r2 AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT nb.node, l.label,
                       row_number() OVER (PARTITION BY nb.node
                           ORDER BY count(*) DESC, l.label ASC) AS rn
                FROM nb JOIN r1 l ON l.node = nb.nb
                GROUP BY nb.node, l.label
            ) WHERE rn = 1
        ),
        r3 AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT nb.node, l.label,
                       row_number() OVER (PARTITION BY nb.node
                           ORDER BY count(*) DESC, l.label ASC) AS rn
                FROM nb JOIN r2 l ON l.node = nb.nb
                GROUP BY nb.node, l.label
            ) WHERE rn = 1
        ),
        r4 AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT nb.node, l.label,
                       row_number() OVER (PARTITION BY nb.node
                           ORDER BY count(*) DESC, l.label ASC) AS rn
                FROM nb JOIN r3 l ON l.node = nb.nb
                GROUP BY nb.node, l.label
            ) WHERE rn = 1
        )
        SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
        FROM r4
    """

    # crawl-schedule twin: delays derived ARITHMETICALLY from the host
    # digit (independent cross-check of the robots Crawl-delay parser),
    # same per-host sequence window, md5 worker pin, and queue ranking
    o["crawl_schedule"] = f"""
        WITH {_MESSY_URLS_SQL}, {_URL_PARTS_SQL},
        pages AS (SELECT url, host FROM web),
        hostd AS (
            SELECT DISTINCT host,
                   CAST(regexp_extract(host, 'host([0-9])', 1) AS INT) AS d,
                   host LIKE '%.news.%' AS is_news
            FROM pages
        ),
        delays AS (
            SELECT host, CAST(5 + (d % 3) * 5 AS DOUBLE) AS crawl_delay_s
            FROM hostd WHERE NOT is_news
        ),
        p AS (
            SELECT pages.url, pages.host,
                   coalesce(crawl_delay_s, 7.0) AS delay_s
            FROM pages LEFT JOIN delays ON delays.host = pages.host
        ),
        seq AS (
            SELECT url, host, delay_s,
                   row_number() OVER (PARTITION BY host ORDER BY url ASC)
                       AS fetch_seq
            FROM p
        ),
        w AS (
            SELECT url, host, fetch_seq,
                   CAST(fetch_seq - 1 AS DOUBLE) * delay_s AS not_before_s,
                   CAST(CAST('0x' || substr(md5(host), 1, 8) AS BIGINT) % 4
                        AS INT) AS worker
            FROM seq
        )
        SELECT url, host, CAST(worker AS BIGINT) AS worker,
               CAST(fetch_seq AS BIGINT) AS fetch_seq,
               round(not_before_s, 6) + 0.0 AS not_before_s,
               CAST(row_number() OVER (PARTITION BY worker
                    ORDER BY not_before_s ASC, url ASC) AS BIGINT)
                   AS queue_pos
        FROM w
    """

    # D8 twins: the bowl-with-bump DEM re-derived per cell; neighbor
    # weights 2*drop^2 (cardinal) vs drop^2 (diagonal) — integer squares,
    # the same exact comparison the Spark HOF argmax runs — resolved by a
    # (w DESC, code ASC) window argmax; sinks via LEFT JOIN
    _dem_sql = """
        dem AS (
            SELECT doc_id % 16 AS gx, doc_id // 16 AS gy,
                   (doc_id % 16 - 8) * (doc_id % 16 - 8)
                   + (doc_id // 16 - 8) * (doc_id // 16 - 8)
                   + (((doc_id % 16) * 7 + (doc_id // 16) * 3) % 5) AS z
            FROM documents WHERE doc_id < 256
        ),
        offs(code, dx, dy, card) AS (VALUES
            (32, -1, -1, 0), (64, 0, -1, 1), (128, 1, -1, 0),
            (16, -1, 0, 1), (1, 1, 0, 1),
            (8, -1, 1, 0), (4, 0, 1, 1), (2, 1, 1, 0)),
        nb AS (
            SELECT a.gx, a.gy, a.z, o.code, o.dx, o.dy,
                   a.z - coalesce(b.z, 0) AS dz,
                   (a.z - coalesce(b.z, 0)) * (a.z - coalesce(b.z, 0))
                   * CASE WHEN o.card = 1 THEN 2 ELSE 1 END AS w
            FROM dem a CROSS JOIN offs o
            LEFT JOIN dem b ON b.gx = a.gx + o.dx AND b.gy = a.gy + o.dy
        ),
        ranked AS (
            SELECT gx, gy, code, dx, dy, dz,
                   row_number() OVER (PARTITION BY gx, gy
                       ORDER BY w DESC, code ASC) AS rn
            FROM nb WHERE dz > 0
        ),
        sel AS (
            SELECT d.gx, d.gy, d.z,
                   coalesce(r.code, 0) AS d8,
                   coalesce(r.dz, 0) AS drop_,
                   d.gx + r.dx AS tx, d.gy + r.dy AS ty
            FROM dem d LEFT JOIN ranked r
              ON r.gx = d.gx AND r.gy = d.gy AND r.rn = 1
        )
    """

    o["flow_direction_d8"] = f"""
        WITH {_dem_sql}
        SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
               CAST(z AS BIGINT) AS z, CAST(d8 AS BIGINT) AS d8,
               CAST(drop_ AS BIGINT) AS drop
        FROM sel
    """

    # accumulation twin: 10 unrolled monotone rounds (longest flow path
    # on this DEM is 8), each MATERIALIZED — any fixed unroll >= the
    # convergence round lands on the Spark fixpoint
    _fa_rounds = []
    _fa_prev = "acc0"
    for _i in range(1, 11):
        _fa_rounds.append(f"""
        acc{_i} AS MATERIALIZED (
            SELECT n.gx, n.gy, coalesce(s.inacc, 0) AS acc
            FROM dem n LEFT JOIN (
                SELECT e.gx, e.gy, sum(1 + a.acc) AS inacc
                FROM edges e JOIN {_fa_prev} a
                  ON a.gx = e.ux AND a.gy = e.uy
                GROUP BY 1, 2
            ) s ON s.gx = n.gx AND s.gy = n.gy
        )""")
        _fa_prev = f"acc{_i}"
    o["flow_accumulation"] = f"""
        WITH {_dem_sql},
        edges AS MATERIALIZED (
            SELECT r.gx AS ux, r.gy AS uy, r.tx AS gx, r.ty AS gy
            FROM sel r
            WHERE r.d8 > 0 AND EXISTS (
                SELECT 1 FROM dem t WHERE t.gx = r.tx AND t.gy = r.ty
            )
        ),
        acc0 AS MATERIALIZED (SELECT gx, gy, 0 AS acc FROM dem),
        {",".join(_fa_rounds)}
        SELECT CAST(s.gx AS BIGINT) AS gx, CAST(s.gy AS BIGINT) AS gy,
               CAST(s.z AS BIGINT) AS z, CAST(s.d8 AS BIGINT) AS d8,
               CAST(a.acc AS BIGINT) AS acc
        FROM sel s JOIN {_fa_prev} a ON a.gx = s.gx AND a.gy = s.gy
    """

    # watershed twin: the same sel CTE (D8 pointers; off-grid/sink ->
    # self), then 5 unrolled pointer DOUBLINGS — convergence is 3 on the
    # longest-path-8 forest, extra doublings are no-ops
    _ws_rounds = []
    _ws_prev = "p0"
    for _i in range(1, 6):
        _ws_rounds.append(f"""
        p{_i} AS MATERIALIZED (
            SELECT a.gx, a.gy, b.px, b.py
            FROM {_ws_prev} a JOIN {_ws_prev} b
              ON b.gx = a.px AND b.gy = a.py
        )""")
        _ws_prev = f"p{_i}"
    o["watershed_basins"] = f"""
        WITH {_dem_sql},
        p0 AS MATERIALIZED (
            SELECT s.gx, s.gy,
                   CASE WHEN s.d8 > 0 AND t.gx IS NOT NULL
                        THEN s.tx ELSE s.gx END AS px,
                   CASE WHEN s.d8 > 0 AND t.gx IS NOT NULL
                        THEN s.ty ELSE s.gy END AS py
            FROM sel s LEFT JOIN dem t ON t.gx = s.tx AND t.gy = s.ty
        ),
        {",".join(_ws_rounds)}
        SELECT CAST(s.gx AS BIGINT) AS gx, CAST(s.gy AS BIGINT) AS gy,
               CAST(s.z AS BIGINT) AS z, CAST(s.d8 AS BIGINT) AS d8,
               CAST(p.px AS BIGINT) AS basin_gx,
               CAST(p.py AS BIGINT) AS basin_gy,
               (p.px = s.gx AND p.py = s.gy) AS is_root
        FROM sel s JOIN {_ws_prev} p ON p.gx = s.gx AND p.gy = s.gy
    """

    # strahler twin: same sel/edges CTEs, 7 unrolled monotone rounds;
    # count-at-max via a window partitioned per target cell
    _st_rounds = []
    _st_prev = "s0"
    for _i in range(1, 8):
        _st_rounds.append(f"""
        s{_i} AS MATERIALIZED (
            SELECT n.gx, n.gy,
                   coalesce(u.mx + CASE WHEN u.n_at_mx >= 2
                                        THEN 1 ELSE 0 END, 1) AS ord
            FROM dem n LEFT JOIN (
                SELECT gx, gy, mx, count(*) AS n_at_mx FROM (
                    SELECT e.gx, e.gy, a.ord,
                           max(a.ord) OVER (PARTITION BY e.gx, e.gy) AS mx
                    FROM edges e JOIN {_st_prev} a
                      ON a.gx = e.ux AND a.gy = e.uy
                ) WHERE ord = mx GROUP BY 1, 2, 3
            ) u ON u.gx = n.gx AND u.gy = n.gy
        )""")
        _st_prev = f"s{_i}"
    o["strahler_order"] = f"""
        WITH {_dem_sql},
        edges AS MATERIALIZED (
            SELECT r.gx AS ux, r.gy AS uy, r.tx AS gx, r.ty AS gy
            FROM sel r
            WHERE r.d8 > 0 AND EXISTS (
                SELECT 1 FROM dem t WHERE t.gx = r.tx AND t.gy = r.ty
            )
        ),
        s0 AS MATERIALIZED (SELECT gx, gy, 1 AS ord FROM dem),
        {",".join(_st_rounds)}
        SELECT CAST(s.gx AS BIGINT) AS gx, CAST(s.gy AS BIGINT) AS gy,
               CAST(s.z AS BIGINT) AS z, CAST(s.d8 AS BIGINT) AS d8,
               CAST(a.ord AS BIGINT) AS strahler
        FROM sel s JOIN {_st_prev} a ON a.gx = s.gx AND a.gy = s.gy
    """

    # fill_sinks twin: the notched-crater DEM re-derived per cell, then
    # 14 unrolled Planchon-Darboux rounds W' = max(z, min_8 W) from
    # W0 = +BIG (Spark fixpoint is round 11; extra rounds are no-ops —
    # the k-core bounded-unroll argument).  Absent neighbors read 0 via
    # CASE WHEN count(joined) < 8, the off-grid-drain convention.
    _fs_rounds = []
    _fs_prev = "w0"
    for _i in range(1, 15):
        _fs_rounds.append(f"""
        w{_i} AS MATERIALIZED (
            SELECT c.gx, c.gy, c.z,
                   greatest(c.z,
                            CASE WHEN count(p.w) < 8
                                 THEN least(coalesce(min(p.w), 0), 0)
                                 ELSE min(p.w) END) AS w
            FROM crater c CROSS JOIN offs8 o
            LEFT JOIN {_fs_prev} p
              ON p.gx = c.gx + o.dx AND p.gy = c.gy + o.dy
            GROUP BY c.gx, c.gy, c.z
        )""")
        _fs_prev = f"w{_i}"
    o["fill_sinks"] = f"""
        WITH crater AS (
            SELECT gx, gy,
                   CASE WHEN greatest(abs(gx - 8), abs(gy - 8)) <= 2
                            THEN greatest(abs(gx - 8), abs(gy - 8))
                        WHEN greatest(abs(gx - 8), abs(gy - 8)) = 3
                            THEN CASE WHEN gx = 11 AND gy = 8
                                      THEN 5 ELSE 20 END
                        ELSE 12 - greatest(abs(gx - 8), abs(gy - 8))
                   END AS z
            FROM (SELECT doc_id % 16 AS gx, doc_id // 16 AS gy
                  FROM documents WHERE doc_id < 256)
        ),
        offs8(dx, dy) AS (VALUES
            (-1, -1), (0, -1), (1, -1), (-1, 0),
            (1, 0), (-1, 1), (0, 1), (1, 1)),
        w0 AS MATERIALIZED (
            SELECT gx, gy, z, CAST(1099511627776 AS BIGINT) AS w
            FROM crater),
        {",".join(_fs_rounds)}
        SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
               CAST(z AS BIGINT) AS z, CAST(w AS BIGINT) AS filled,
               CAST(w - z AS BIGINT) AS fill_depth
        FROM {_fs_prev}
    """

    # cost_distance twin: the walled friction surface re-derived per
    # cell, 22 unrolled Bellman-Ford relaxations with the chamfer 2-3
    # integer pricing (Spark fixpoint is round 19; extra rounds no-ops —
    # the k-core bounded-unroll argument).  All-integer arithmetic.
    _cd_rounds = []
    _cd_prev = "d0"
    for _i in range(1, 23):
        _cd_rounds.append(f"""
        d{_i} AS MATERIALIZED (
            SELECT c.gx, c.gy, c.cost,
                   least(c.acc,
                         coalesce(min(p.acc + o.w * (p.cost + c.cost)),
                                  c.acc)) AS acc
            FROM {_cd_prev} c CROSS JOIN offs8w o
            LEFT JOIN {_cd_prev} p
              ON p.gx = c.gx + o.dx AND p.gy = c.gy + o.dy
            GROUP BY c.gx, c.gy, c.cost, c.acc
        )""")
        _cd_prev = f"d{_i}"
    o["cost_distance"] = f"""
        WITH fric AS (
            SELECT gx, gy,
                   CASE WHEN gx = 8 AND gy <> 12 THEN 50 ELSE 1 END AS cost
            FROM (SELECT doc_id % 16 AS gx, doc_id // 16 AS gy
                  FROM documents WHERE doc_id < 256)
        ),
        offs8w(dx, dy, w) AS (VALUES
            (-1, -1, 3), (0, -1, 2), (1, -1, 3), (-1, 0, 2),
            (1, 0, 2), (-1, 1, 3), (0, 1, 2), (1, 1, 3)),
        d0 AS MATERIALIZED (
            SELECT gx, gy, cost,
                   CASE WHEN gx = 2 AND gy = 8 THEN CAST(0 AS BIGINT)
                        ELSE CAST(1099511627776 AS BIGINT) END AS acc
            FROM fric),
        {",".join(_cd_rounds)}
        SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
               CAST(cost AS BIGINT) AS cost,
               CASE WHEN acc < 1099511627776
                    THEN CAST(acc AS BIGINT) END AS acc
        FROM {_cd_prev}
    """

    # least-cost-path twin: the SAME converged surface (identical
    # unrolled rounds), the identical argmin backlink (min (gx, gy)
    # tie-break), then a SEQUENTIAL recursive walk — vs Spark's
    # pointer-doubling enumeration
    o["least_cost_paths"] = f"""
        WITH RECURSIVE fric AS (
            SELECT gx, gy,
                   CASE WHEN gx = 8 AND gy <> 12 THEN 50 ELSE 1 END AS cost
            FROM (SELECT doc_id % 16 AS gx, doc_id // 16 AS gy
                  FROM documents WHERE doc_id < 256)
        ),
        offs8w(dx, dy, w) AS (VALUES
            (-1, -1, 3), (0, -1, 2), (1, -1, 3), (-1, 0, 2),
            (1, 0, 2), (-1, 1, 3), (0, 1, 2), (1, 1, 3)),
        d0 AS MATERIALIZED (
            SELECT gx, gy, cost,
                   CASE WHEN gx = 2 AND gy = 8 THEN CAST(0 AS BIGINT)
                        ELSE CAST(1099511627776 AS BIGINT) END AS acc
            FROM fric),
        {",".join(_cd_rounds)},
        surf AS MATERIALIZED (
            SELECT gx, gy, cost, acc FROM {_cd_prev}
            WHERE acc < 1099511627776
        ),
        pred AS MATERIALIZED (
            SELECT gx, gy, pgx, pgy FROM (
                SELECT c.gx, c.gy, p.gx AS pgx, p.gy AS pgy,
                       row_number() OVER (PARTITION BY c.gx, c.gy
                                          ORDER BY p.gx, p.gy) AS rn
                FROM surf c
                CROSS JOIN offs8w o
                JOIN surf p ON p.gx = c.gx + o.dx AND p.gy = c.gy + o.dy
                WHERE c.acc > 0
                  AND p.acc + o.w * (p.cost + c.cost) = c.acc
            ) WHERE rn = 1
        ),
        walk(tx, ty, step, gx, gy) AS (
            SELECT tx, ty, 0, tx, ty FROM (VALUES (15, 8), (15, 0)) t(tx, ty)
            UNION ALL
            SELECT w.tx, w.ty, w.step + 1, p.pgx, p.pgy
            FROM walk w JOIN pred p ON p.gx = w.gx AND p.gy = w.gy
        )
        SELECT CAST(w.tx AS BIGINT) AS tx, CAST(w.ty AS BIGINT) AS ty,
               CAST(w.step AS BIGINT) AS step,
               CAST(w.gx AS BIGINT) AS gx, CAST(w.gy AS BIGINT) AS gy,
               CAST(s.acc AS BIGINT) AS acc
        FROM walk w JOIN surf s ON s.gx = w.gx AND s.gy = w.gy
    """

    # flow_length twin: the bowl D8 sel CTE + 12 unrolled monotone
    # rounds each direction (longest flow path 8), steps priced
    # 2 cardinal / 3 diagonal — the same integer half-cell units
    _fl_w = "CASE WHEN s.d8 IN (2, 8, 32, 128) THEN 3 ELSE 2 END"
    _fl_dn_rounds, _fl_up_rounds = [], []
    _fl_dnp, _fl_upp = "dn0", "up0"
    for _i in range(1, 13):
        _fl_dn_rounds.append(f"""
        dn{_i} AS MATERIALIZED (
            SELECT s.gx, s.gy,
                   CASE WHEN s.d8 = 0 THEN 0
                        ELSE {_fl_w} + coalesce(p.dn, 0) END AS dn
            FROM sel s LEFT JOIN {_fl_dnp} p
              ON p.gx = s.tx AND p.gy = s.ty
        )""")
        _fl_up_rounds.append(f"""
        up{_i} AS MATERIALIZED (
            SELECT n.gx, n.gy, coalesce(m.mx, 0) AS up
            FROM dem n LEFT JOIN (
                SELECT s.tx AS gx, s.ty AS gy,
                       max({_fl_w} + u.up) AS mx
                FROM sel s JOIN {_fl_upp} u
                  ON u.gx = s.gx AND u.gy = s.gy
                WHERE s.d8 > 0 AND EXISTS (
                    SELECT 1 FROM dem t WHERE t.gx = s.tx AND t.gy = s.ty)
                GROUP BY 1, 2
            ) m ON m.gx = n.gx AND m.gy = n.gy
        )""")
        _fl_dnp, _fl_upp = f"dn{_i}", f"up{_i}"
    o["flow_length"] = f"""
        WITH {_dem_sql},
        dn0 AS MATERIALIZED (SELECT gx, gy, 0 AS dn FROM dem),
        up0 AS MATERIALIZED (SELECT gx, gy, 0 AS up FROM dem),
        {",".join(_fl_dn_rounds)},
        {",".join(_fl_up_rounds)}
        SELECT CAST(s.gx AS BIGINT) AS gx, CAST(s.gy AS BIGINT) AS gy,
               CAST(s.z AS BIGINT) AS z, CAST(s.d8 AS BIGINT) AS d8,
               CAST(d.dn AS BIGINT) AS down_len,
               CAST(u.up AS BIGINT) AS up_len
        FROM sel s
        JOIN {_fl_dnp} d ON d.gx = s.gx AND d.gy = s.gy
        JOIN {_fl_upp} u ON u.gx = s.gx AND u.gy = s.gy
    """

    # region_group twin: scalar labels l = gy*16 + gx (fixture-local —
    # monotone in the (gy, gx) lexicographic order the Spark pair labels
    # use), 9 unrolled rounds of the IDENTICAL Spark schedule: every
    # round reads the previous labels for all three min terms (own,
    # same-value 8-neighbor min, label-of-label shortcut); Spark
    # fixpoint is round 7, extra rounds are no-ops
    _rg_rounds = []
    _rg_prev = "l0"
    for _i in range(1, 10):
        _rg_rounds.append(f"""
        l{_i} AS MATERIALIZED (
            SELECT c.gx, c.gy, c.v,
                   least(least(c.l, coalesce(min(p.l), c.l)),
                         min(s.l)) AS l
            FROM {_rg_prev} c
            JOIN {_rg_prev} s
              ON s.gx = c.l % 16 AND s.gy = c.l // 16
            CROSS JOIN offs8 o
            LEFT JOIN {_rg_prev} p
              ON p.gx = c.gx + o.dx AND p.gy = c.gy + o.dy
             AND p.v = c.v
            GROUP BY c.gx, c.gy, c.v, c.l
        )""")
        _rg_prev = f"l{_i}"
    o["region_group"] = f"""
        WITH vals AS (
            SELECT doc_id % 16 AS gx, doc_id // 16 AS gy,
                   (doc_id % 16 // 4 + doc_id // 16 // 4) % 3 AS v
            FROM documents WHERE doc_id < 256
        ),
        offs8(dx, dy) AS (VALUES
            (-1, -1), (0, -1), (1, -1), (-1, 0),
            (1, 0), (-1, 1), (0, 1), (1, 1)),
        l0 AS MATERIALIZED (
            SELECT gx, gy, v, gy * 16 + gx AS l FROM vals),
        {",".join(_rg_rounds)},
        sized AS (
            SELECT gx, gy, v, l,
                   count(*) OVER (PARTITION BY l) AS region_size
            FROM {_rg_prev}
        )
        SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
               CAST(v AS BIGINT) AS v,
               CAST(l % 16 AS BIGINT) AS region_gx,
               CAST(l // 16 AS BIGINT) AS region_gy,
               CAST(region_size AS BIGINT) AS region_size
        FROM sized
    """

    # wetness_index twin: the flow_accumulation unroll (10 monotone
    # rounds) + the Horn slope stencil over the bowl DEM (the same
    # _hs_dzdx/_hs_dzdy expression text the slope twin uses, cell_size
    # 1), composed by one join; ln/sqrt rounded to 6 decimals (DuckDB
    # ln() is natural log — its log() is log10)
    _tw_rounds = []
    _tw_prev = "acc0"
    for _i in range(1, 11):
        _tw_rounds.append(f"""
        acc{_i} AS MATERIALIZED (
            SELECT n.gx, n.gy, coalesce(s.inacc, 0) AS acc
            FROM dem n LEFT JOIN (
                SELECT e.gx, e.gy, sum(1 + a.acc) AS inacc
                FROM edges e JOIN {_tw_prev} a
                  ON a.gx = e.ux AND a.gy = e.uy
                GROUP BY 1, 2
            ) s ON s.gx = n.gx AND s.gy = n.gy
        )""")
        _tw_prev = f"acc{_i}"
    o["wetness_index"] = f"""
        WITH {_dem_sql},
        edges AS MATERIALIZED (
            SELECT r.gx AS ux, r.gy AS uy, r.tx AS gx, r.ty AS gy
            FROM sel r
            WHERE r.d8 > 0 AND EXISTS (
                SELECT 1 FROM dem t WHERE t.gx = r.tx AND t.gy = r.ty
            )
        ),
        acc0 AS MATERIALIZED (SELECT gx, gy, 0 AS acc FROM dem),
        {",".join(_tw_rounds)},
        offs9(k, dx, dy) AS (VALUES {_hs_offs}),
        sh AS (
            SELECT gx - dx AS tgx, gy - dy AS tgy, k, CAST(z AS DOUBLE) AS v
            FROM dem CROSS JOIN offs9
        ),
        agg9 AS (
            SELECT tgx, tgy, {_hs_zcols},
                   max(CASE WHEN k = 4 THEN 1 ELSE 0 END) AS present
            FROM sh GROUP BY 1, 2
        ),
        tb AS (
            SELECT tgx AS gx, tgy AS gy,
                   sqrt(({_hs_dzdx}) * ({_hs_dzdx})
                        + ({_hs_dzdy}) * ({_hs_dzdy})) AS tanb
            FROM agg9 WHERE present = 1
        )
        SELECT CAST(d.gx AS BIGINT) AS gx, CAST(d.gy AS BIGINT) AS gy,
               CAST(d.z AS BIGINT) AS z, CAST(a.acc AS BIGINT) AS acc,
               round(t.tanb, 6) + 0.0 AS tan_slope,
               round(ln((a.acc + 1) / greatest(t.tanb, 0.001)), 6) + 0.0
                   AS twi
        FROM dem d
        JOIN {_tw_prev} a ON a.gx = d.gx AND a.gy = d.gy
        JOIN tb t ON t.gx = d.gx AND t.gy = d.gy
    """

    # sitemap_parse twin: rebuild the identical per-host XML, then the
    # same DOTALL lazy block extraction; DuckDB zips parallel unnests
    # for the 1-based entry order; ''-to-NULL via nullif matches the
    # Spark when(raw != '') rule
    def _sm_entry(i):
        extra = (
            "'\n    <changefreq>daily</changefreq>'" if i == 1
            else ("'\n    <priority>0.2</priority>'" if i == 2 else "''")
        )
        return f"""
        '\n  <url>\n    <loc> https://host' || k || '.example.com/p{i} </loc>'
        || CASE WHEN (k + {i}) % 2 = 0
                THEN '\n    <lastmod>2024-01-0' || ((k + {i}) % 9) + 1
                     || '</lastmod>' ELSE '' END
        || {extra}
        || '\n  </url>'
    """
    _sm_ws = "\\s*"
    _sm_field = lambda tag: (
        f"nullif(regexp_extract(block, '(?s)<{tag}>{_sm_ws}(.*?){_sm_ws}</{tag}>', 1), '')"
    )
    o["sitemap_parse"] = f"""
        WITH ks AS (
            SELECT DISTINCT CAST(doc_id % 8 AS INT) AS k FROM documents
        ),
        maps AS (
            SELECT 'host' || k || '.example.com' AS host,
                   CASE WHEN k = 7 THEN
                       '<sitemapindex><sitemap><loc>https://host7.example.com/s1.xml'
                       || '</loc></sitemap><sitemap>' || chr(10)
                       || '<loc>https://host7.example.com/s2.xml</loc>' || chr(10)
                       || '<lastmod>2024-03-01</lastmod></sitemap></sitemapindex>'
                   ELSE
                       '<?xml version="1.0"?>' || chr(10) || '<urlset>'
                       || {_sm_entry(1)} || {_sm_entry(2)} || {_sm_entry(3)}
                       || chr(10) || '</urlset>'
                   END AS xml
            FROM ks
        ),
        b AS (
            SELECT host, kind,
                   regexp_extract_all(
                       xml, '(?s)<' || tag || '>.*?</' || tag || '>', 0
                   ) AS blocks
            FROM maps CROSS JOIN (VALUES ('urlset', 'url'),
                                         ('index', 'sitemap')) t(kind, tag)
        ),
        e AS (
            SELECT host, kind, unnest(blocks) AS block,
                   unnest(generate_series(1, len(blocks))) AS pos
            FROM b
        )
        SELECT host, kind, CAST(pos AS BIGINT) AS pos,
               {_sm_field('loc')} AS loc,
               {_sm_field('lastmod')} AS lastmod,
               {_sm_field('changefreq')} AS changefreq,
               CAST({_sm_field('priority')} AS DOUBLE) AS priority
        FROM e
        WHERE {_sm_field('loc')} IS NOT NULL
    """

    # compactness twin: the same generated area/perimeter folds over the
    # identical float64 ring constants
    from tilekiln_spark.functions.geometry import (
        line_length_sql as _cll_sql,
        ring_area_sql as _cra_sql,
    )

    _cp_a = f"abs({_cra_sql('xs', 'ys')})"
    _cp_p = _cll_sql("xs", "ys", closed=True)
    o["shape_compactness"] = f"""
        WITH r(polygon_id, xs, ys) AS (VALUES
            {_line_chain_values_sql(list(_CONTAIN_POLYS_UV) + list(_AREA_POLYS_UV))}),
        m AS (
            SELECT polygon_id, {_cp_a} AS a, {_cp_p} AS p,
                   list_max(xs) - list_min(xs) AS w,
                   list_max(ys) - list_min(ys) AS h
            FROM r
        )
        SELECT CAST(polygon_id AS BIGINT) AS polygon_id,
               round(a / 1e12, 6) + 0.0 AS area_mkm2,
               round(p / 1e3, 6) + 0.0 AS perimeter_km,
               round(4.0 * pi() * a / (p * p), 6) + 0.0 AS polsby_popper,
               round(2.0 * sqrt(pi() * a) / p, 6) + 0.0 AS schwartzberg,
               round(least(w, h) / greatest(w, h), 6) + 0.0 AS elongation
        FROM m
    """

    # correlogram twin: brute-force band pairs + the same raw-integer
    # moment algebra (num/den expression order mirrored exactly)
    o["moran_correlogram"] = f"""
        {_GEO_CTE},
        pts AS (SELECT doc_id, mx, my, n_chars FROM geo WHERE doc_id % 3 = 0),
        pairs AS (
            SELECT a.n_chars AS xi, b.n_chars AS xj,
                   (a.mx - b.mx) * (a.mx - b.mx)
                   + (a.my - b.my) * (a.my - b.my) AS d2
            FROM pts a JOIN pts b ON a.doc_id <> b.doc_id
        ),
        banded AS (
            SELECT CASE WHEN d2 <= 1e6 * 1e6 THEN 0
                        WHEN d2 <= 2.5e6 * 2.5e6 THEN 1
                        WHEN d2 <= 5e6 * 5e6 THEN 2 END AS band,
                   xi, xj
            FROM pairs
        ),
        per AS (
            SELECT band, count(*) AS s0,
                   sum(CAST(xi AS BIGINT) * CAST(xj AS BIGINT)) AS sxx,
                   sum(CAST(xi AS BIGINT) + CAST(xj AS BIGINT)) AS sxpx
            FROM banded WHERE band IS NOT NULL GROUP BY 1
        ),
        g AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   sum(CAST(n_chars AS BIGINT)) AS sx,
                   sum(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
                       AS sx2
            FROM pts
        )
        SELECT CAST(band AS BIGINT) AS band,
               CAST(CASE band WHEN 0 THEN 0.0 WHEN 1 THEN 1000.0
                         ELSE 2500.0 END AS DOUBLE) AS r_lo_km,
               CAST(CASE band WHEN 0 THEN 1000.0 WHEN 1 THEN 2500.0
                         ELSE 5000.0 END AS DOUBLE) AS r_hi_km,
               CAST(s0 AS BIGINT) AS s0_pairs,
               round(
                 (n / CAST(s0 AS DOUBLE))
                 * ((CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) / n * CAST(sxpx AS DOUBLE)
                     + CAST(sx AS DOUBLE) / n * (CAST(sx AS DOUBLE) / n)
                       * CAST(s0 AS DOUBLE))
                    / (CAST(sx2 AS DOUBLE)
                       - n * (CAST(sx AS DOUBLE) / n)
                         * (CAST(sx AS DOUBLE) / n))), 6) + 0.0 AS moran_i
        FROM per CROSS JOIN g
        ORDER BY band
    """

    # G-function twin: brute-force NN minima + identical exact d2 cuts
    o["g_function"] = f"""
        {_GEO_CTE},
        pts AS (SELECT doc_id, mx, my FROM geo WHERE doc_id % 3 = 0),
        nnd AS (
            SELECT a.doc_id,
                   min((a.mx - b.mx) * (a.mx - b.mx)
                       + (a.my - b.my) * (a.my - b.my)) AS d2
            FROM pts a JOIN pts b ON a.doc_id <> b.doc_id
            GROUP BY 1
        ),
        n AS (SELECT count(*) AS n FROM pts),
        rs(r) AS (VALUES (1000000.0), (2500000.0), (5000000.0))
        SELECT r / 1000.0 AS r_km,
               CAST((SELECT count(*) FROM nnd WHERE d2 <= r * r) AS BIGINT)
                   AS n_le,
               round(CAST((SELECT count(*) FROM nnd WHERE d2 <= r * r)
                          AS DOUBLE) / CAST(n.n AS DOUBLE), 6) + 0.0 AS g_hat
        FROM rs CROSS JOIN n
        ORDER BY r_km
    """

    # modularity twin: re-runs the 4 unrolled LPA rounds (same CTE body
    # as the label_propagation twin) then the exact-integer rollup
    _lpa_rounds_sql = """
        WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        e AS (
            SELECT a.doc_id AS src, b.doc_id AS dst
            FROM d a JOIN d b
              ON (a.doc_id // 30) = (b.doc_id // 30)
             AND a.doc_id < b.doc_id
            UNION ALL
            SELECT 0 AS src, 30 AS dst FROM d WHERE doc_id = 0
        ),
        und AS MATERIALIZED (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM e WHERE src <> dst
        ),
        nb AS MATERIALIZED (
            SELECT u AS node, v AS nb FROM und
            UNION ALL SELECT v AS node, u AS nb FROM und
        ),
        l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM nb),
        r1 AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT nb.node, l.label,
                       row_number() OVER (PARTITION BY nb.node
                           ORDER BY count(*) DESC, l.label ASC) AS rn
                FROM nb JOIN l0 l ON l.node = nb.nb
                GROUP BY nb.node, l.label
            ) WHERE rn = 1
        ),
        r2 AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT nb.node, l.label,
                       row_number() OVER (PARTITION BY nb.node
                           ORDER BY count(*) DESC, l.label ASC) AS rn
                FROM nb JOIN r1 l ON l.node = nb.nb
                GROUP BY nb.node, l.label
            ) WHERE rn = 1
        ),
        r3 AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT nb.node, l.label,
                       row_number() OVER (PARTITION BY nb.node
                           ORDER BY count(*) DESC, l.label ASC) AS rn
                FROM nb JOIN r2 l ON l.node = nb.nb
                GROUP BY nb.node, l.label
            ) WHERE rn = 1
        ),
        r4 AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT nb.node, l.label,
                       row_number() OVER (PARTITION BY nb.node
                           ORDER BY count(*) DESC, l.label ASC) AS rn
                FROM nb JOIN r3 l ON l.node = nb.nb
                GROUP BY nb.node, l.label
            ) WHERE rn = 1
        )
    """
    o["community_modularity"] = _lpa_rounds_sql + """,
        m AS (SELECT count(*) AS m FROM und),
        tagged AS (
            SELECT und.u, und.v, lu.label AS lu, lv.label AS lv
            FROM und
            JOIN r4 lu ON lu.node = und.u
            JOIN r4 lv ON lv.node = und.v
        ),
        internal AS (
            SELECT lu AS label, count(*) AS internal_edges
            FROM tagged WHERE lu = lv GROUP BY 1
        ),
        deg AS (
            SELECT node, count(*) AS degree FROM (
                SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
            ) GROUP BY 1
        ),
        comm AS (
            SELECT r4.label, count(*) AS n_nodes,
                   sum(coalesce(deg.degree, 0)) AS degree_sum
            FROM r4 LEFT JOIN deg ON deg.node = r4.node
            GROUP BY 1
        )
        SELECT CAST(comm.label AS BIGINT) AS label,
               CAST(n_nodes AS BIGINT) AS n_nodes,
               CAST(coalesce(internal_edges, 0) AS BIGINT) AS internal_edges,
               CAST(degree_sum AS BIGINT) AS degree_sum,
               round(CAST(coalesce(internal_edges, 0) AS DOUBLE)
                     / CAST(m.m AS DOUBLE)
                     - (CAST(degree_sum AS DOUBLE)
                        / (2.0 * CAST(m.m AS DOUBLE)))
                     * (CAST(degree_sum AS DOUBLE)
                        / (2.0 * CAST(m.m AS DOUBLE))), 6) + 0.0 AS q_contrib
        FROM comm CROSS JOIN m LEFT JOIN internal
          ON internal.label = comm.label
    """

    # NN twin: brute-force all pairs with the identical exact d2
    # arithmetic and (d2, nn_id) argmin ordering
    o["nn_join"] = f"""
        {_GEO_CTE},
        pts AS (SELECT doc_id, mx, my FROM geo WHERE doc_id % 3 = 0),
        pairs AS (
            SELECT a.doc_id AS doc_id, b.doc_id AS nn_id,
                   (a.mx - b.mx) * (a.mx - b.mx)
                   + (a.my - b.my) * (a.my - b.my) AS d2
            FROM pts a JOIN pts b ON a.doc_id <> b.doc_id
        ),
        ranked AS (
            SELECT doc_id, nn_id, d2,
                   row_number() OVER (PARTITION BY doc_id
                       ORDER BY d2 ASC, nn_id ASC) AS rn
            FROM pairs
        )
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(nn_id AS BIGINT) AS nn_id,
               round(sqrt(d2), 3) + 0.0 AS nn_dist_m
        FROM ranked WHERE rn = 1
    """

    # Clark-Evans twin: same brute-force NN minima; the mean folds the
    # SORTED distance list with list_reduce — the identical sequential
    # fold Spark's sort_array + aggregate runs, so the sum is
    # bit-deterministic before the shared 6dp rounding
    o["clark_evans"] = f"""
        {_GEO_CTE},
        pts AS (SELECT doc_id, mx, my FROM geo WHERE doc_id % 3 = 0),
        nnd AS (
            SELECT a.doc_id,
                   min((a.mx - b.mx) * (a.mx - b.mx)
                       + (a.my - b.my) * (a.my - b.my)) AS d2
            FROM pts a JOIN pts b ON a.doc_id <> b.doc_id
            GROUP BY 1
        ),
        folded AS (
            SELECT list_reduce(list_sort(list(sqrt(d2))),
                               (acc, v) -> acc + v) AS sum_nn
            FROM nnd
        ),
        bbox AS (
            SELECT count(*) AS n, min(mx) AS x0, max(mx) AS x1,
                   min(my) AS y0, max(my) AS y1
            FROM pts
        )
        SELECT CAST(n AS BIGINT) AS n_points,
               round((x1 - x0) * (y1 - y0) / 1e12, 6) + 0.0 AS area_mkm2,
               round(sum_nn / CAST(n AS DOUBLE) / 1e3, 6) + 0.0 AS mean_nn_km,
               round((sum_nn / CAST(n AS DOUBLE))
                     / (1.0 / (2.0 * sqrt(CAST(n AS DOUBLE)
                                          / ((x1 - x0) * (y1 - y0))))),
                     6) + 0.0 AS r_index,
               round((sum_nn / CAST(n AS DOUBLE)
                      - 1.0 / (2.0 * sqrt(CAST(n AS DOUBLE)
                                          / ((x1 - x0) * (y1 - y0)))))
                     / (0.26136 / sqrt(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                                       / ((x1 - x0) * (y1 - y0)))),
                     6) + 0.0 AS z_score
        FROM folded CROSS JOIN bbox
    """

    # CLQ twin: same brute-force NN argmin, category tagging, and the
    # exact-integer quotient; zero rows kept via the sizes cross grid
    o["colocation_quotient"] = f"""
        {_GEO_CTE},
        pts AS (SELECT doc_id, lang, mx, my FROM geo WHERE doc_id % 3 = 0),
        ranked AS (
            SELECT a.doc_id, a.lang AS cat_a, b.lang AS cat_b,
                   row_number() OVER (PARTITION BY a.doc_id
                       ORDER BY (a.mx - b.mx) * (a.mx - b.mx)
                                + (a.my - b.my) * (a.my - b.my) ASC,
                                b.doc_id ASC) AS rn
            FROM pts a JOIN pts b ON a.doc_id <> b.doc_id
        ),
        c AS (
            SELECT cat_a, cat_b, count(*) AS nn_pairs
            FROM ranked WHERE rn = 1 GROUP BY 1, 2
        ),
        sizes AS (SELECT lang, count(*) AS n_cat FROM pts GROUP BY 1),
        total AS (SELECT count(*) AS n FROM pts)
        SELECT sa.lang AS cat_a, sb.lang AS cat_b,
               CAST(sa.n_cat AS BIGINT) AS n_a,
               CAST(sb.n_cat AS BIGINT) AS n_b,
               CAST(coalesce(nn_pairs, 0) AS BIGINT) AS nn_pairs,
               round((CAST(coalesce(nn_pairs, 0) AS DOUBLE)
                      / CAST(sa.n_cat AS DOUBLE))
                     / (CAST(sb.n_cat
                             - CASE WHEN sa.lang = sb.lang THEN 1 ELSE 0 END
                             AS DOUBLE)
                        / CAST(total.n - 1 AS DOUBLE)), 6) + 0.0 AS clq
        FROM sizes sa CROSS JOIN sizes sb CROSS JOIN total
        LEFT JOIN c ON c.cat_a = sa.lang AND c.cat_b = sb.lang
    """

    # robots twin: identical synthesized bodies, the same line-split
    # parse, and the same struct-max longest-wins/Allow-wins-ties argmax
    o["robots_filter"] = f"""
        WITH {_MESSY_URLS_SQL}, {_URL_PARTS_SQL},
        pages AS (SELECT doc_id, host, path FROM web),
        hosts AS (SELECT DISTINCT host FROM pages),
        hcfg AS (
            SELECT host,
                   CASE CAST(regexp_extract(host, 'host([0-9])', 1) AS INT) % 5
                        WHEN 0 THEN 'en' WHEN 1 THEN 'fr' WHEN 2 THEN 'de'
                        WHEN 3 THEN 'es' ELSE 'zh' END AS lang_d,
                   contains(host, '.news.') AS is_news
            FROM hosts
        ),
        robots AS (
            SELECT host,
                   'User-Agent: *' || chr(10) || '# crawl rules' || chr(10)
                   || 'Disallow: /' || lang_d || '/' || chr(10)
                   || 'ALLOW: /' || lang_d || '/p1' || chr(10)
                   || 'Crawl-delay: 10' || chr(10)
                   || 'Sitemap: https://x/s.xml' || chr(10)
                   || 'disallow: /cart' || chr(10)
                   || CASE WHEN is_news
                           THEN 'Disallow: /' || chr(10) || 'Allow: /en/' || chr(10)
                           ELSE '' END AS robots_txt
            FROM hcfg
        ),
        lines AS (
            SELECT host, unnest(string_split(robots_txt, chr(10))) AS line
            FROM robots
        ),
        rules AS (
            SELECT host,
                   lower(regexp_extract(line, '^\\s*([A-Za-z-]+)\\s*:', 1)) = 'allow' AS allow,
                   regexp_extract(line, '^\\s*[A-Za-z-]+\\s*:\\s*(\\S*)', 1) AS prefix
            FROM lines
            WHERE lower(regexp_extract(line, '^\\s*([A-Za-z-]+)\\s*:', 1))
                      IN ('allow', 'disallow')
              AND regexp_extract(line, '^\\s*[A-Za-z-]+\\s*:\\s*(\\S*)', 1) <> ''
        ),
        joined AS (
            SELECT p.doc_id, p.host, p.path, r.allow, r.prefix,
                   CASE WHEN r.prefix IS NOT NULL
                             AND starts_with(p.path, r.prefix)
                        THEN {{'rule_len': length(r.prefix),
                              'allow': r.allow, 'prefix': r.prefix}}
                   END AS cand
            FROM pages p LEFT JOIN rules r ON p.host = r.host
        ),
        dec AS (
            SELECT doc_id, host, path, max(cand) AS win
            FROM joined GROUP BY 1, 2, 3
        )
        SELECT doc_id, host, path,
               coalesce(win.allow, TRUE) AS allowed,
               win.prefix AS rule_prefix
        FROM dec
    """

    return o
