"""Seeded benchmark inputs, written once per seed as parquet.

Documents come from ``datagen.gen_documents`` and the polygon index from
``datagen.gen_polygons``; the same seed always gives the same files.
``gen_polygons`` is a Python loop (20k polygons take ~12 s on one core),
so the polygons are generated in chunks by child processes, each writing
one parquet file, while the parent writes the documents; the parent waits
for every child.  A dataset is written under a temporary name and renamed,
so a killed run never leaves a partial cache entry behind.

    python3 perfbench/inputs.py <n_polygons> <seed> <out.parquet>

writes one polygon chunk (the child-process entry point).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

POLYGON_CHUNKS = 4
DOC_FILES = 8


def _docs_table(n_docs: int, seed: int, hot: int, skew: float):
    import pyarrow as pa

    from urbanistic_polygons_spark import datagen
    pdf = datagen.gen_documents(n_docs, seed, skew=skew, n_hot_cells=hot)
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    spans = [[{"kind": k, "text": t, "media_ref": m, "offset": o}
              for k, t, m, o in sp] for sp in pdf["spans"]]
    return pa.table({"doc_id": pa.array(pdf["doc_id"], pa.string()),
                     "spans": pa.array(spans, pa.list_(span_t))})


def _polygons_table(n: int, seed: int):
    import pyarrow as pa

    from urbanistic_polygons_spark import datagen
    pdf = datagen.gen_polygons(n, seed)
    return pa.table({
        "polygon_guid": pa.array(pdf["polygon_guid"], pa.string()),
        "cells": pa.array(pdf["cells"], pa.list_(pa.int64())),
        "ring": pa.array(pdf["ring"], pa.string()),
        **{c: pa.array(pdf[c], pa.float64())
           for c in ("min_lon", "min_lat", "max_lon", "max_lat")},
        "landuse": pa.array([list(d.items()) for d in pdf["landuse"]],
                            pa.map_(pa.string(), pa.float64())),
    })


def _tmp_dir(path: Path) -> Path:
    tmp = path.with_name(path.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    return tmp


def _write_docs(path: Path, n_docs: int, seed: int, hot: int,
                skew: float) -> None:
    """Documents as ``DOC_FILES`` parquet files (the file count sets how
    many tasks read them)."""
    import pyarrow.parquet as pq
    table = _docs_table(n_docs, seed, hot, skew)
    tmp = _tmp_dir(path)
    step = -(-table.num_rows // DOC_FILES)
    for i in range(DOC_FILES):
        pq.write_table(table.slice(i * step, step), tmp / f"part-{i:05d}.parquet")
    os.replace(tmp, path)


def ensure(cache: Path, seed: int, n_docs: int, n_polygons: int,
           hot: int, skew: float) -> dict[str, str]:
    """Return the parquet paths for ``seed``, generating missing ones."""
    cache.mkdir(parents=True, exist_ok=True)
    docs = cache / f"docs-n{n_docs}-hot{hot}-skew{skew}-seed{seed}.parquet"
    polys = cache / f"polygons-n{n_polygons}-seed{seed}.parquet"
    children = []
    if not polys.exists():
        tmp = _tmp_dir(polys)
        for i in range(POLYGON_CHUNKS):
            n = n_polygons // POLYGON_CHUNKS + (i < n_polygons % POLYGON_CHUNKS)
            # chunk seeds are disjoint from the document seed
            chunk_seed = 1_000_003 * (seed + 1) + i
            children.append(subprocess.Popen(
                [sys.executable, __file__, str(n), str(chunk_seed),
                 str(tmp / f"part-{i:05d}.parquet")]))
    try:
        if not docs.exists():
            _write_docs(docs, n_docs, seed, hot, skew)
    finally:
        codes = [c.wait() for c in children]
    if any(codes):
        raise RuntimeError(f"polygon generation failed: exit codes {codes}")
    if children:
        os.replace(tmp, polys)
    return {"docs": str(docs), "polygons": str(polys)}


if __name__ == "__main__":
    import pyarrow.parquet as pq
    n, seed, out = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
    pq.write_table(_polygons_table(n, seed), out)
