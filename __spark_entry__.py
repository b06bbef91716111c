"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (interleaved spans ->
cell-index encode -> broadcast tiled polygon index -> PIP refine -> kNN
orphan snap) on sf0.001.  ``queries()``/``oracle_sql()`` expose the full
operator catalog (the ``urbanistic_polygons_spark.catalog`` package) with
DuckDB oracle SQL for every SQL-expressible operator.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: synthesize the
    interleaved-spans documents table (input_hint shape) from the flat
    documents parquet, assign every geo span to a polygon via the broadcast
    tiled index + PIP + kNN snap, and return span-sequence-preserving
    assignments."""
    from urbanistic_polygons_spark import datagen
    from urbanistic_polygons_spark.catalog.spans import flagship_documents
    from urbanistic_polygons_spark.operators.spatial_join import assign_documents

    docs = flagship_documents(spark, "/root/testdata/sf0.001")
    polygons = datagen.polygons_df(spark, 300, seed=43)
    return assign_documents(docs, polygons)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from urbanistic_polygons_spark.catalog import build_catalog
    return {name: spec["spark"] for name, spec in build_catalog().items()}


def oracle_sql() -> dict[str, str]:
    from urbanistic_polygons_spark.catalog import build_catalog
    return {name: spec["oracle"] for name, spec in build_catalog().items()
            if spec["oracle"] is not None}
