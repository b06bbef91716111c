#!/usr/bin/env python3
"""Repository benchmark: the document-assignment job end to end.

    python3 perfbench/run.py --workload assign_dense --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process, one Spark session on
``local[<usable cores>]``.  The run

1. generates the seeded inputs as parquet under ``.bench_cache/`` (timed
   apart as ``gen_s``; the engine never pays for it),
2. sets up: session start and one discarded warm-up job (``setup_s``),
3. repeats the job until ``--seconds`` have passed, checks every job's
   output against the correctness gate, and
4. prints one JSON line: end-to-end metrics with ``--trace 0``, per-layer
   metrics with ``--trace 1``.

Diagnostics (CPU probe, plan-reuse flags, per-job times, spans) go to
``.bench_out/``.  See ``perfbench/README.md`` for the workloads, the
metrics and which layer should move which end-to-end number.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".bench_cache"
OUT = ROOT / ".bench_out"
EXPECTED = HERE / "expected.json"

DEFAULT_SEED = 1
N_DOCS = 2_500
HOT_CORES = 64
SKEW = 0.8
POLYGONS = {"assign_dense": 20_000, "assign_sparse": 2_000}
MVT_ZOOM = 11
KNN_RINGS = 3
WARMUP_JOBS = 1
SHUFFLE_PARTITIONS = 8


def cpu_probe() -> float:
    """Fixed-work matmul seconds (the `bench.py` probe): a load
    thermometer, never a gate."""
    import numpy as np
    a = np.random.default_rng(1).random((2000, 2000))
    t0 = time.perf_counter()
    (a @ a).sum()
    return time.perf_counter() - t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(POLYGONS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "urbanistic_polygons_spark" / "__init__.py").is_file():
        print(f"error: no urbanistic_polygons_spark package under {ROOT}; "
              "run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    # Python workers import the package the same way the driver does
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    # shuffle files, local checkpoints and temp files stay in the checkout
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    import assign
    import inputs
    from tracing import Tracer, stop_spark

    probe_before = cpu_probe()
    t0 = time.perf_counter()
    paths = inputs.ensure(CACHE, args.seed, N_DOCS, POLYGONS[args.workload],
                          HOT_CORES, SKEW)
    gen_s = time.perf_counter() - t0

    cores = len(os.sched_getaffinity(0))
    t_setup = time.perf_counter()
    from urbanistic_polygons_spark.session import get_spark
    spark = get_spark("perfbench", cores=cores,
                      shuffle_partitions=SHUFFLE_PARTITIONS,
                      extra_conf={"spark.driver.memory": "2g"})
    session_start_s = time.perf_counter() - t_setup
    run_id = f"{args.workload}-{args.seed}-{int(time.time() * 1000)}"
    tracer = Tracer(spark, run_id)
    try:
        job = assign.AssignJob(spark, paths, MVT_ZOOM, KNN_RINGS)
        job.load()
        warmup_s = []
        for _ in range(WARMUP_JOBS):
            t0 = time.perf_counter()
            job.run(tracer.untraced())
            job.check()
            job.reset()
            warmup_s.append(time.perf_counter() - t0)
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        result = measure(job, tracer, args.seconds, traced=bool(args.trace))
    finally:
        stop_spark(spark)

    expected_key = f"{args.workload}/seed{args.seed}/cores{cores}"
    stored = json.loads(EXPECTED.read_text()).get(expected_key)
    reference = result["outputs"][0] if result["outputs"] else None
    stored_ok = stored is None or reference == stored
    failed = result["failed"] if stored_ok else result["attempted"]

    diag = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "trace": args.trace, "run_id": run_id, "gen_s": gen_s,
        "session_start_s": session_start_s, "setup_s": setup_s,
        "warmup_s": warmup_s,
        "cpu_probe_s": [probe_before, cpu_probe()],
        "expected_key": expected_key, "stored_match": stored_ok if stored else None,
        "reference_output": reference,
        "plan_reuse_flags": result["plan_reuse_flags"],
        "job_s": result["job_s"], "job_spark_jobs": result["job_spark_jobs"],
        "errors": result["errors"],
    }
    OUT.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (OUT / f"{stem}.json").write_text(json.dumps(diag, indent=1))
    if args.trace:
        tracer.dump(OUT / f"{stem}-spans.json")
        metrics = assign.layer_metrics(result["layers"], result["counters"],
                                     session_start_s)
        metrics.update(tracer.summary(result))
    else:
        job_s = statistics.median(result["job_s"]) if result["job_s"] else 0.0
        metrics = {
            "job_s": {"value": job_s, "unit": "s"},
            "items_per_s": {"value": job.n_spans / job_s if job_s else 0.0,
                            "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    print(json.dumps({"workload": args.workload, "gen_s": round(gen_s, 3),
                      "cpu_probe_s": [round(x, 4) for x in diag["cpu_probe_s"]],
                      "plan_reuse_flags": result["plan_reuse_flags"],
                      "stored_match": diag["stored_match"]}))
    print(json.dumps({"correct": failed == 0,
                      "attempted": result["attempted"], "failed": failed,
                      "metrics": metrics}))
    return 0


def measure(job, tracer, seconds: float, traced: bool) -> dict:
    """Repeat the job for ``seconds``.  A traced run alternates untraced
    and traced repetitions so the tracing overhead is measured in the same
    process; only the untraced ones feed ``job_s``."""
    res = {"job_s": [], "traced_s": [], "attempted": 0,
           "failed": 0, "outputs": [], "errors": [], "layers": [],
           "job_spark_jobs": [], "plan_reuse_flags": 0, "counters": None}
    first_jobs: dict[bool, int] = {}
    t_end = time.perf_counter() + seconds
    rep = 0
    while rep < 2 or time.perf_counter() < t_end:
        with_trace = traced and rep % 2 == 1
        span = tracer.traced() if with_trace else tracer.untraced()
        res["attempted"] += 1
        try:
            t0 = time.perf_counter()
            job.run(span)
            dt = time.perf_counter() - t0
            output = job.check()
        except Exception as e:  # a failed job counts, the run goes on
            res["failed"] += 1
            res["errors"].append(repr(e)[:500])
            job.reset()
            rep += 1
            continue
        n_jobs = span.spark_jobs()
        res["job_spark_jobs"].append(n_jobs)
        # Spark 4 can reuse results of identical plans: a repetition that
        # runs a different number of Spark jobs than the first is flagged
        first_jobs.setdefault(with_trace, n_jobs)
        if n_jobs != first_jobs[with_trace]:
            res["plan_reuse_flags"] += 1
        if res["outputs"] and output != res["outputs"][0]:
            res["failed"] += 1
        res["outputs"].append(output)
        if with_trace:
            res["traced_s"].append(dt)
            res["layers"].append(span.layers(dt))
            if res["counters"] is None:
                res["counters"] = job.counters()
        else:
            res["job_s"].append(dt)
        job.reset()
        rep += 1
    return res


if __name__ == "__main__":
    sys.exit(main())
