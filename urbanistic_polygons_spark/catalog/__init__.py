"""Query catalog: every driver-checkable operator as (Spark query, DuckDB
oracle SQL) pairs, one module per domain.

Determinism contract: every computed value in an oracle-checked query is
either an integer, a string, or a float produced by the IDENTICAL IEEE
expression tree in both engines — so the driver's order-insensitive value
hash matches bit-for-bit.  Money sums go through per-row integer cents
(``CAST(ROUND(x*100) AS BIGINT)``), hashes through md5-hex-to-int
(verified cross-engine), and geometry through an integer "micro-coordinate"
space (10,000 micro-units = one z14 cell, mirroring the reference's 16384
per-tile quantization grid, Tiles/TileStatic.cs:57-73).

The real float lon/lat Mercator path is exercised by ``entry()`` and the
pytest oracle suite; the catalog's micro-space queries verify the engine's
join/agg/window/partitioning logic exactly.

Layout (builders and oracle SQL live in the domain modules, the text
builders' oracles in ``textsql``; the registration ORDER — the
driver-report contract — lives solely in ``registry.build_catalog``):

- ``_shared``    dialect shim, TABLES/register_views, micro-space CTEs
- ``spatial``    PIP / bbox / knn / halo / pyramid / salted + HDR aggs
- ``textsim``    fingerprints, set-similarity, embedding ANN builders
- ``spans``      interleaved spans synthesis (the input_hint shape)
- ``relational`` joins, packing/mixing/ordering, quality, graph algos
- ``media``      binary media byte-parse queries
- ``faces``      face extraction / landuse / tile serve / merge
- ``textsql``    DuckDB oracle SQL for module-backed text queries
- ``extras``     chunking / BPE stats / novelty / fuzzy / HLL / CMS / IDW
- ``lakehouse``  CDC MERGE/upsert
- ``clustering`` DBSCAN, SemDeDup
- ``registry``   the one ordered (name, module builder, module oracle) list
"""

from ._shared import TABLES, register_views  # noqa: F401
from .registry import build_catalog  # noqa: F401

# compatibility surface for tests/tools that imported from the old
# monolithic module
from ._shared import _rect_cells, _rects_df  # noqa: F401
from .faces import _grid_faces, _grid_graph, _grid_landuse  # noqa: F401
from .spans import q_spans_spark  # noqa: F401
from .spatial import _areal_terms  # noqa: F401
