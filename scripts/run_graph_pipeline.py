#!/usr/bin/env python
"""Production-shaped GRAPH pipeline — the reference's preprocessor bulk
build (E2, Preprocessor/Program.cs:16-49: bbox -> TilesFor(14) ->
sequential BuildForTile) re-expressed as a resumable Spark job, extended
with the merge phase the reference never implemented:

    spark-submit --py-files <zip> scripts/run_graph_pipeline.py <workdir> [k]

Five stages, each an idempotent snapshot commit via
plans.lineage.LineageStore (committed-partition anti-join = resume after
a kill; GUID dedup on read):

  1. graph    ways -> planarized standardized edges + vertex/edge tables
              with content-addressed GUIDs, partitioned by tile
  2. faces    per-cell half-edge walk -> face polygons, GUID-deduped
  3. landuse  faces x landuse rings -> dominant class per face
  4. merge    resistance+similarity-gated region components
  5. tiles    merged faces -> z14 MVT blobs (region id as a property)

Input is the deterministic lattice generator at size ``k`` (no external
data in this sandbox); on a cluster, stage 1 reads the OSM-derived
``(nodes, ways)`` tables instead.  Prints one JSON line of per-stage row
counters + wall times.  Re-running with the same workdir skips committed
partitions.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from urbanistic_polygons_spark import datagen  # noqa: E402
from urbanistic_polygons_spark.operators.classify import (  # noqa: E402
    classify_barrier_ways, classify_landuse_ways)
from urbanistic_polygons_spark.operators.graph_build import (  # noqa: E402
    barrier_edges, build_faces, build_graph_tables)
from urbanistic_polygons_spark.operators.landuse_join import (  # noqa: E402
    assign_landuse, dominant_type, landuse_rings)
from urbanistic_polygons_spark.operators.merge import (  # noqa: E402
    merge_faces, segment_resistance)
from urbanistic_polygons_spark.plans.lineage import LineageStore  # noqa: E402


def run(spark, workdir: str, k: int = 6,
        merge_threshold: int = 3) -> dict:
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

    nodes_pdf, ways_pdf = datagen.gen_ways_grid(k=k, seed=44, jitter=0.0)
    nodes = spark.createDataFrame(
        nodes_pdf, schema="node_id long, lon double, lat double")
    ways = spark.createDataFrame(
        ways_pdf, schema="way_id long, nodes array<long>, tags map<string,string>")

    # the planar barrier edges, derived once: graph tables, faces and the
    # merge resistance all read this one materialized edge set
    edges = barrier_edges(nodes, ways).localCheckpoint(eager=True)

    # stage 1: entity tables (vertex/edge GUIDs = the cross-partition
    # join keys, reference TiledBarrierGraphSerializer.cs:14-85)
    vertices, g_edges = build_graph_tables(edges)
    run_stage("graph_vertices", vertices, "tile_id")
    run_stage("graph_edges", g_edges, "v1_tile")

    # stage 2: faces (checkpoint consumed by every later stage: resume
    # after a kill re-reads the committed faces, never re-walks)
    faces = build_faces(edges)
    faces = run_stage("faces", faces, "anchor_cell")
    faces = faces.dropDuplicates(["face_guid"]).localCheckpoint(eager=True)

    # stage 3: dominant landuse per face
    rings = landuse_rings(nodes, classify_landuse_ways(spark, ways))
    dom = (dominant_type(assign_landuse(faces, rings))
           .join(faces.select("face_guid", "anchor_cell"), "face_guid"))
    dom = run_stage("landuse", dom, "anchor_cell")

    # stage 4: merge-by-similarity regions over the same planar edges
    seg_res = segment_resistance(edges, classify_barrier_ways(spark, ways))
    merged = merge_faces(faces, seg_res, merge_threshold,
                         dominant=dom.select("face_guid", "dominant_cls"))
    merged = run_stage("merge", merged, "anchor_cell")

    # stage 5: merged interior faces -> z14 MVT blobs
    from urbanistic_polygons_spark.sources.mvt import faces_to_mvt
    tiles = faces_to_mvt(
        merged.select("face_guid", "ring", "min_lon", "min_lat",
                      "max_lon", "max_lat"))
    run_stage("tiles", tiles.select(
        "tile_z", "tile_x", "tile_y", "n_features",
        F.length("mvt").alias("mvt_bytes"),
        F.col("tile_y").alias("tile_prefix")), "tile_prefix")

    return {"workdir": workdir, "k": k, "stages": stages}


def main() -> None:
    from urbanistic_polygons_spark.session import get_spark
    workdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/upspark_graph_pipeline"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    spark = get_spark("graph_pipeline")
    print(json.dumps(run(spark, workdir, k)))
    spark.stop()


if __name__ == "__main__":
    main()
