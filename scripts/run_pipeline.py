#!/usr/bin/env python
"""Production-shaped pipeline entrypoint (SURVEY.md §3 lifecycle):

    spark-submit --py-files <zip> scripts/run_pipeline.py <workdir> [sf_dir]

Four stages, each an idempotent checkpoint via plans.lineage.LineageStore
(committed-partition anti-join = resume after a kill):

  1. ingest    documents -> interleaved spans -> geo points, cell-bucketed
  2. assign    broadcast tiled polygon index -> PIP + kNN snap
  3. rollup    per-cell assignment counts (density layer)
  4. tiles     density segments -> MVT blobs per z11 tile

Prints one JSON line of per-stage row counters + wall times.  Re-running
with the same workdir skips completed partitions (kill it mid-run and
rerun to see resume in action).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from urbanistic_polygons_spark import datagen  # noqa: E402
from urbanistic_polygons_spark.catalog.spans import (  # noqa: E402
    flagship_documents)
from urbanistic_polygons_spark.operators.spatial_join import (  # noqa: E402
    assign_documents, extract_geo_points)
from urbanistic_polygons_spark.plans.lineage import LineageStore  # noqa: E402
from urbanistic_polygons_spark.session import get_spark  # noqa: E402


def main() -> None:
    workdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/upspark_pipeline"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    spark = get_spark("pipeline")
    store = LineageStore(workdir)
    stages: dict[str, dict] = {}

    def run_stage(name, df, partition_col):
        t0 = time.perf_counter()
        out = store.checkpoint(df, name, partition_col)
        stages[name] = {
            "rows": store.counters(name).get("n_rows"),
            "partitions": store.counters(name).get("n_partitions"),
            "sec": round(time.perf_counter() - t0, 2),
        }
        return out

    # stage 1: ingest — interleaved spans -> geo points with cell ids,
    # partitioned by cell prefix (the salted-repartition key space)
    docs = flagship_documents(spark, sf_dir)
    pts = extract_geo_points(docs).withColumn(
        "cell_prefix", F.shiftright("cell_id", 8))
    pts = run_stage("ingest", pts, "cell_prefix")

    # stage 2: assign — full flagship (PIP + kNN) against the broadcast
    # polygon index, consuming the CHECKPOINTED stage-1 points so a resume
    # after a kill skips the ingest work entirely
    polygons = datagen.polygons_df(spark, 300, seed=43)
    assigned = assign_documents(docs, polygons, points=pts).withColumn(
        "cell_prefix", F.shiftright("cell_id", 8))
    assigned = run_stage("assign", assigned, "cell_prefix")

    # stage 3: rollup — per-cell density of assignments
    rollup = (assigned.groupBy("cell_id", "method")
              .agg(F.count("*").alias("n_docs"))
              .withColumn("cell_prefix", F.shiftright("cell_id", 8)))
    run_stage("rollup", rollup, "cell_prefix")

    # stage 4: tiles — assigned-point density -> z11 MVT blobs
    from urbanistic_polygons_spark.sources.mvt import faces_to_mvt
    cells = (assigned.filter(F.col("polygon_guid").isNotNull())
             .groupBy("cell_id").agg(F.count("*").alias("n")))
    from urbanistic_polygons_spark.functions import cells as C
    min_lon, min_lat, max_lon, max_lat = C.cell_bounds(F.col("cell_id"))
    pt = lambda a, b: F.format_string("%.9f %.9f", a, b)  # noqa: E731
    faces = cells.select(
        F.md5(F.col("cell_id").cast("string")).alias("face_guid"),
        F.concat_ws(";", pt(min_lon, max_lat), pt(max_lon, max_lat),
                    pt(max_lon, min_lat), pt(min_lon, min_lat),
                    pt(min_lon, max_lat)).alias("ring"),
        min_lon.alias("min_lon"), min_lat.alias("min_lat"),
        max_lon.alias("max_lon"), max_lat.alias("max_lat"))
    tiles = faces_to_mvt(faces, zoom=11).withColumn(
        "tile_prefix", F.col("tile_y"))
    run_stage("tiles", tiles.select(
        "tile_z", "tile_x", "tile_y", "n_features",
        F.length("mvt").alias("mvt_bytes"), "tile_prefix"), "tile_prefix")

    print(json.dumps({"workdir": workdir, "sf_dir": sf_dir, "stages": stages}))
    spark.stop()


if __name__ == "__main__":
    main()
