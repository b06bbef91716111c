"""Cell-index (slippy z14 tile) column expressions.

The reference's tile math (Tiles/TileStatic.cs:8-125) expressed as pure
Spark Column expressions — JVM-side, whole-stage-codegen'd, no Python in the
hot path.  ``cell_id = y * 2^zoom + x`` is the engine's H3/S2 analog and its
partitioning key everywhere.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_ZOOM = 14


def tile_x(lon: Column, zoom: int = DEFAULT_ZOOM) -> Column:
    """floor((lon+180)/360 * 2^zoom) — reference TileStatic.cs:113-125."""
    n = 1 << zoom
    return F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))).cast("long")


def tile_y(lat: Column, zoom: int = DEFAULT_ZOOM) -> Column:
    """Mercator y — reference TileStatic.cs:113-125, all JVM built-ins."""
    n = 1 << zoom
    rad = F.radians(lat)
    return F.floor(
        (F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad)) / F.lit(math.pi))
        / F.lit(2.0) * F.lit(float(n))
    ).cast("long")


def cell_id(lon: Column, lat: Column, zoom: int = DEFAULT_ZOOM) -> Column:
    """Flat cell id ``y * 2^zoom + x`` — reference TileStatic.cs:20-24."""
    n = 1 << zoom
    return (tile_y(lat, zoom) * F.lit(n) + tile_x(lon, zoom)).alias("cell_id")


def cell_x(cell: Column, zoom: int = DEFAULT_ZOOM) -> Column:
    return cell % F.lit(1 << zoom)


def cell_y(cell: Column, zoom: int = DEFAULT_ZOOM) -> Column:
    return (cell / F.lit(1 << zoom)).cast("long")


def cell_bounds(cell: Column, zoom: int = DEFAULT_ZOOM):
    """(min_lon, min_lat, max_lon, max_lat) columns for a cell — reference
    TileStatic.cs:26-39 (Box), inverse Mercator via built-ins."""
    n = float(1 << zoom)
    x = cell_x(cell, zoom).cast("double")
    y = cell_y(cell, zoom).cast("double")
    min_lon = x / F.lit(n) * F.lit(360.0) - F.lit(180.0)
    max_lon = (x + F.lit(1.0)) / F.lit(n) * F.lit(360.0) - F.lit(180.0)
    max_lat = F.degrees(F.atan(F.sinh(F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * y / F.lit(n)))))
    min_lat = F.degrees(F.atan(F.sinh(F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * (y + F.lit(1.0)) / F.lit(n)))))
    return min_lon, min_lat, max_lon, max_lat


def bbox_cells(min_lon: str = "min_lon", min_lat: str = "min_lat",
               max_lon: str = "max_lon", max_lat: str = "max_lat") -> Column:
    """array<long> of the z14 cells covering the bbox in the named columns,
    row by row from the top."""
    return F.flatten(F.transform(
        F.sequence(tile_y(F.col(max_lat)), tile_y(F.col(min_lat))),
        lambda cy: F.transform(
            F.sequence(tile_x(F.col(min_lon)), tile_x(F.col(max_lon))),
            lambda cx: cy * F.lit(1 << DEFAULT_ZOOM) + cx)))


def neighbor_cells(cell: Column, ring: int = 1, zoom: int = DEFAULT_ZOOM) -> Column:
    """array<long> of the distinct (2r+1)^2 halo cells around ``cell``, row
    by row from the top — the eager halo replacing the reference's lazy
    neighbor-tile loop (TiledBarrierGraphBuilder.cs:53-61).  The ringed
    halo without its ring tags; ``array_distinct`` drops the cells that
    the y clamp repeats at the poles."""
    return F.array_distinct(F.transform(
        neighbor_cells_ringed(cell, max_ring=ring, zoom=zoom),
        lambda h: h["cell"]))


def parent_cell(cell: Column, zoom_from: int = DEFAULT_ZOOM,
                zoom_to: int = 10) -> Column:
    """z``zoom_from`` cell id -> its ancestor z``zoom_to`` cell id."""
    d = zoom_from - zoom_to
    x = cell_x(cell, zoom_from)
    y = cell_y(cell, zoom_from)
    return (F.shiftright(y, d) * F.lit(1 << zoom_to)
            + F.shiftright(x, d)).alias("parent_cell")


def sub_tiles_for(cell: Column, zoom_from: int,
                  zoom_to: int = DEFAULT_ZOOM) -> Column:
    """array<long> of the 4^d z``zoom_to`` descendants of a z``zoom_from``
    cell — the pyramid descent for z<14 tile requests (reference
    TileStatic.cs:141-171); explode + face-guid dedup serves the union of
    subtile outputs (reference TiledPolygonGraphBuilder.cs:33-45)."""
    d = zoom_to - zoom_from
    n = 1 << d
    x = cell_x(cell, zoom_from)
    y = cell_y(cell, zoom_from)
    return F.flatten(F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda j: F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda i: (y * F.lit(n) + j) * F.lit(1 << zoom_to)
            + x * F.lit(n) + i)))


def neighbor_cells_ringed(cell: Column, max_ring: int = 3,
                          zoom: int = DEFAULT_ZOOM) -> Column:
    """array<struct<cell:long, ring:int>> of the (2r+1)^2 halo around
    ``cell``, each neighbor tagged with its Chebyshev ring distance, row by
    row from the top.  x wraps around the antimeridian; y is clamped at
    the poles, so the clamped rows repeat cells.  A null ``cell`` gives
    (2r+1)^2 entries with a null cell.

    Built from ONE literal array of the (dx, dy, ring) offsets and ONE
    ``transform`` that computes ``clamp(y+dy) * 2^z + pmod(x+dx, 2^z)``
    per element, not from a Python loop over the offsets.  The loop built
    49 structs of ~13 ``F.*`` calls each at ring 3, and every ``F.*`` call
    costs py4j round-trips on the driver: the expression took 6,998
    round-trips to build with the loop and 216 with the table, and
    building the whole ``assign_documents`` plan fell from ~9,500 to
    ~2,500.  The loop's 49-branch expression was also slower per row:
    over 2M cells (98M halo rows, ``local[4]``) ``explode_outer`` plus a
    sum took 54.6-56.3 s against 18.2-19.1 s for the table and its
    lambda, whose body is only the cell's integer arithmetic.

    Powers the SINGLE-PASS kNN snap: exploding all rings at once and
    taking min (tier, dist, guid) — where the consumer maps ring 0 and 1
    to one tier, because the expand-until-found loop's first probe is the
    whole 3x3 block — is semantically identical to the reference-style
    expand-until-found loop (first non-empty block wins),
    but builds ONE join instead of an iterative plan whose anti-join
    chain re-executes the whole upstream pipeline per ring (measured: the
    flagship entry() plan dropped from 118 exchanges to a handful)."""
    n = 1 << zoom
    x, y = cell_x(cell, zoom), cell_y(cell, zoom)
    r = range(-max_ring, max_ring + 1)
    offsets = F.expr("array(" + ", ".join(
        f"named_struct('dx', {dx}, 'dy', {dy}, 'ring', {max(abs(dx), abs(dy))})"
        for dy in r for dx in r) + ")")
    return F.transform(offsets, lambda o: F.struct(
        (F.greatest(F.lit(0), F.least(F.lit(n - 1), y + o["dy"])) * F.lit(n)
         + F.pmod(x + o["dx"], F.lit(n))).alias("cell"),
        o["ring"].alias("ring")))
