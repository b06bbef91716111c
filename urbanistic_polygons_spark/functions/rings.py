"""Ring/shape text codec: the one place that knows how point sequences
travel between stages as text.

A point is the token ``'lon lat'``, each coordinate with 9 decimals, and
a sequence is its tokens joined by ``';'``.  Face rings, landuse rings and
the polygon index are closed (first point repeated last); an edge's
``shape_pts`` holds only the points between its two vertices (null or
``''`` for a straight edge).  Callers apply their own closing-point rule,
e.g. ``parse(ring)[:-1]``.

Two formatters write the format: ``fmt`` in the Python per-batch kernels
and ``token`` (Java ``format_string``) on the JVM.  They do not always
agree.  Python rounds the double's exact binary value; Java rounds its
shortest decimal form HALF_UP, so ``4.7000000045`` is ``4.700000004`` in
Python and ``4.700000005`` in Java.  About half of all values whose
shortest form ends in a 5 at the tenth decimal diverge, not only exact
binary ties.  A join between tokens of the two formatters must fail safe
on a miss (``merge._DEFAULT_RESISTANCE``).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

_SEP = ";"
_TOKEN = "%.9f %.9f"

# -- Python, for the Arrow/pandas kernels -------------------------------------


def parse(text: str | None) -> np.ndarray:
    """``'lon lat;...'`` -> float64 array of shape (n, 2); null or ``''``
    -> (0, 2)."""
    if not isinstance(text, str) or not text:
        return np.empty((0, 2))
    return np.array([p.split(" ") for p in text.split(_SEP)],
                    dtype=np.float64)


def fmt(lons: Iterable[float], lats: Iterable[float]) -> str:
    """The points (lons[i], lats[i]) as ``'lon lat;...'`` text."""
    return join(f"{x:.9f} {y:.9f}" for x, y in zip(lons, lats))


def join(tokens: Iterable[str]) -> str:
    """Point tokens (or texts) -> one text."""
    return _SEP.join(tokens)


# -- Column helpers, for the JVM side -----------------------------------------


def token(lon, lat) -> Column:
    """The ``'lon lat'`` token of one point."""
    return F.format_string(_TOKEN, lon, lat)


def tokens(text) -> Column:
    """Text -> ``array<string>`` of point tokens; null or ``''`` -> []."""
    return F.coalesce(F.split(F.nullif(text, F.lit("")), _SEP),
                      F.array().cast("array<string>"))


def points(text) -> Column:
    """Text -> ``array<struct<lon double, lat double>>``; null or ``''``
    -> []."""
    return F.transform(tokens(text), lambda p: F.struct(
        F.substring_index(p, " ", 1).cast("double").alias("lon"),
        F.substring_index(p, " ", -1).cast("double").alias("lat")))


def text(pts) -> Column:
    """A point array column (structs with ``lon``/``lat`` fields) -> text."""
    return concat(F.transform(pts, lambda p: token(p["lon"], p["lat"])))


def concat(*parts) -> Column:
    """Tokens, texts or arrays of them -> one text; nulls are skipped."""
    return F.concat_ws(_SEP, *parts)


def box(min_lon, min_lat, max_lon, max_lat) -> Column:
    """The closed clockwise ring of a bbox, from its north-west corner."""
    nw = token(min_lon, max_lat)
    return concat(nw, token(max_lon, max_lat), token(max_lon, min_lat),
                  token(min_lon, min_lat), nw)


def geojson(text) -> Column:
    """Text -> GeoJSON coordinate array text ``'[[lon,lat],...]'``."""
    return F.concat(F.lit("[["), F.replace(
        F.replace(text, F.lit(" "), F.lit(",")), F.lit(_SEP), F.lit("],[")),
        F.lit("]]"))
