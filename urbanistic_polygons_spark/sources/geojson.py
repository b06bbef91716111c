"""GeoJSON sink (reference NTSExtensions.cs:18-34 ToGeoJson).

Feature geometry is built with pure Column expressions (JVM-side JSON
string assembly) — a FeatureCollection per tile or one Feature per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import rings


def faces_to_geojson_features(faces: DataFrame) -> DataFrame:
    """faces(face_guid, ring, ...) -> (face_guid, geojson string): one
    Feature per face polygon (reference ToPolygonFeature, Faces.cs:228-246)."""
    feature = F.concat(
        F.lit('{"type":"Feature","properties":{"face_guid":"'),
        F.col("face_guid"),
        F.lit('"},"geometry":{"type":"Polygon","coordinates":['),
        rings.geojson(F.col("ring")),
        F.lit("]}}"),
    )
    return faces.select("face_guid", feature.alias("geojson"))


def to_feature_collection(features: DataFrame, group_cols=None) -> DataFrame:
    """Assemble FeatureCollections: global (single row) or per group.
    Uses sort-within-group for deterministic output bytes."""
    if group_cols:
        agg = (features.groupBy(*group_cols)
               .agg(F.concat_ws(",", F.array_sort(
                   F.collect_list("geojson"))).alias("body")))
    else:
        agg = features.agg(F.concat_ws(",", F.array_sort(
            F.collect_list("geojson"))).alias("body"))
    return agg.withColumn(
        "feature_collection",
        F.concat(F.lit('{"type":"FeatureCollection","features":['),
                 F.col("body"), F.lit("]}"))).drop("body")
