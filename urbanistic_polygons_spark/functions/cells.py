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


def neighbor_cells(cell: Column, ring: int = 1, zoom: int = DEFAULT_ZOOM) -> Column:
    """array<long> of the (2r+1)^2 halo cells around ``cell`` — the eager
    halo replacing the reference's lazy neighbor-tile loop
    (TiledBarrierGraphBuilder.cs:53-61).  Pure Column expression."""
    n = 1 << zoom
    x, y = cell_x(cell, zoom), cell_y(cell, zoom)
    cells = []
    for dy in range(-ring, ring + 1):
        for dx in range(-ring, ring + 1):
            nx = F.pmod(x + F.lit(dx), F.lit(n))
            ny = F.greatest(F.lit(0), F.least(F.lit(n - 1), y + F.lit(dy)))
            cells.append(ny * F.lit(n) + nx)
    return F.array_distinct(F.array(*cells))


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
    ``cell``, each neighbor tagged with its Chebyshev ring distance.

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
    entries = []
    for dy in range(-max_ring, max_ring + 1):
        for dx in range(-max_ring, max_ring + 1):
            nx = F.pmod(x + F.lit(dx), F.lit(n))
            ny = F.greatest(F.lit(0), F.least(F.lit(n - 1), y + F.lit(dy)))
            entries.append(F.struct(
                (ny * F.lit(n) + nx).alias("cell"),
                F.lit(max(abs(dx), abs(dy))).alias("ring")))
    return F.array(*entries)


def salted_prefix(cell: Column, key: Column, n_salts: int = 8,
                  prefix_bits: int = 8) -> Column:
    """Skew-defeating partition key: high bits of the cell id (spatial
    prefix, keeps locality) + a hash salt so one hot urban-core cell spreads
    over ``n_salts`` shuffle partitions (north_rule: salted repartitioning
    on cell prefixes)."""
    prefix = F.shiftright(cell, prefix_bits)
    salt = F.pmod(F.hash(key), F.lit(n_salts))
    return (prefix * F.lit(n_salts) + salt).alias("salted_prefix")
