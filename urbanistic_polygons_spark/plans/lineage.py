"""Per-stage snapshot checkpoint / lineage / resume (north_rule).

The reference memoizes per-tile graph files on disk and skips existing ones
(TiledBarrierGraphBuilder.cs:45-46) — the Spark-native analog is an
Iceberg-style SNAPSHOT log over partitioned parquet:

- every ``checkpoint(df, stage)`` call is one COMMIT: rows are written
  under ``partition_col=<p>/_commit=<snapshot_id>/`` and a snapshot record
  (id, parent, partitions added, row counters, wall time) is appended to
  the stage's snapshot log;
- reads are MANIFEST-SCOPED: only files whose ``_commit`` id appears in
  the snapshot log are visible, so a crashed attempt's partially-written
  partition files are invisible (a plain directory read-back would
  double-count them after resume — the classic non-transactional-append
  bug that snapshot isolation exists to prevent);
- ``read(stage, as_of=<snapshot_id>)`` time-travels to any committed
  snapshot; ``rollback(stage, snapshot_id)`` truncates the log so a later
  resume reprocesses everything after it;
- ``resume_filter`` / the anti-join inside ``checkpoint`` re-process only
  partitions not committed by any visible snapshot — idempotent re-run
  (the S4 "file exists" skip, but transactional per partition+commit).

With Iceberg jars on the classpath the same API maps onto real Iceberg
snapshot commits; this parquet implementation is the in-sandbox fallback.

The in-memory counterparts live here too: ``cut_lineage`` is the
per-round lineage cut, ``fixpoint`` the one run-until-nothing-changes
loop built on it, and ``ensure_metrics_survive`` keeps ``df.observe``
counters alive on empty inputs.
"""

from __future__ import annotations

import json
import os
import time
import uuid
import warnings
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"


def ensure_metrics_survive(df: DataFrame) -> None:
    """Keep drop counters reliable: AQE's empty-relation propagation prunes
    CollectMetrics nodes when a downstream shuffle stage turns out empty at
    runtime (measured on Spark 4.1 — ``Observation.get`` hangs with an empty
    row), i.e. the lineage counters would vanish exactly when EVERY group
    was dropped.  Excluding the rule only disables an empty-input
    short-circuit; applied to the session only when a caller attaches an
    observation."""
    spark = df.sparkSession
    rule = ("org.apache.spark.sql.execution.adaptive."
            "AQEPropagateEmptyRelation")
    cur = spark.conf.get(_EXCLUDED_RULES, None)
    if not cur:
        spark.conf.set(_EXCLUDED_RULES, rule)
    elif rule not in cur:
        spark.conf.set(_EXCLUDED_RULES, cur + "," + rule)


_cut_lineage_warned = False


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` + drop the checkpoint's inherited size estimate
    — the lineage cut an ITERATIVE SELF-JOINING loop must use.

    Spark 4's ``localCheckpoint`` cuts the logical plan but keeps
    ``originStats`` = the origin plan's ESTIMATED statistics, and the
    size-only stats visitor estimates a join as the PRODUCT of its
    children's ``sizeInBytes``.  A loop whose round self-joins the
    previous round's checkpoint therefore SQUARES the inherited estimate
    every round — the digit count of the BigInt doubles per round, and
    by round ~16 "computing the estimate" means multiplying
    million-digit integers: the driver burns minutes of single-thread
    CPU inside ``BigInteger.multiply`` (Karatsuba/ToomCook3 frames under
    ``SizeInBytesOnlyStatsPlanVisitor.visitJoin`` — observed live on a
    500k-edge ``near_dup_components`` call that never finished; jstack
    evidence in BENCH.md r5).  At small scale the loop converges before
    the doubling matters, which is why this only surfaced at the 10x
    scale-stress — a textbook invisible-at-test-scale scale-killer.

    Dropping ``originStats`` resets the checkpoint leaf to
    ``defaultSizeInBytes``; every join these loops run is
    corpus-proportional on both sides (never a broadcast candidate), so
    the reset costs nothing in plan quality.  Uses the classic-Dataset
    internals via py4j; any drift in that internal API degrades to a
    plain (un-stripped) checkpoint and warns once per process."""
    ck = df.localCheckpoint(eager=eager)
    try:
        spark = df.sparkSession
        jdf = ck._jdf
        lr = jdf.queryExecution().analyzed()
        jvm = spark._jvm
        none = jvm.scala.Option.empty()
        stripped = lr.copy(lr.output(), lr.rdd(), lr.outputPartitioning(),
                           lr.outputOrdering(), lr.isStreaming(),
                           lr.stream(), jdf.sparkSession(), none, none)
        jnew = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            jdf.sparkSession(), stripped)
        return DataFrame(jnew, spark)
    except Exception as exc:
        global _cut_lineage_warned
        if not _cut_lineage_warned:
            _cut_lineage_warned = True
            warnings.warn(
                f"cut_lineage could not strip the checkpoint's inherited "
                f"statistics ({exc!r}); falling back to a plain "
                f"localCheckpoint, so self-joining loops may square their "
                f"size estimate every round", RuntimeWarning, stacklevel=2)
        return ck


def fixpoint(step: Callable[[DataFrame], DataFrame], state: DataFrame,
             max_rounds: int, name: str) -> DataFrame:
    """Run ``state = cut_lineage(step(state))`` until a round changes
    nothing.  ``step`` returns the next state with a boolean ``_changed``
    column; the loop stops on the first round whose checkpoint has no
    ``_changed`` row, read by one narrow ``filter(_changed).isEmpty()``
    (no shuffle, no join of two rounds, no ``Observation``).  Reaching
    ``max_rounds`` first warns and returns the last round's state.  The
    result never carries ``_changed``."""
    for _ in range(max_rounds):
        state = cut_lineage(step(state))
        if state.filter("_changed").isEmpty():
            return state.drop("_changed")
    warnings.warn(
        f"{name} stopped at max_rounds={max_rounds} before converging; "
        f"its result is the state after the last round", RuntimeWarning,
        stacklevel=2)
    return state.drop("_changed")


def _have_iceberg(spark: SparkSession) -> bool:
    # NOTE: a bare `spark._jvm.org.apache.iceberg.Table` attribute probe is
    # a FALSE POSITIVE — py4j resolves unknown paths to a JavaPackage
    # object without raising; Class.forName actually loads (or fails)
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def make_lineage_store(spark: SparkSession, root: str,
                       catalog: str | None = None):
    """Factory for the parquet/Iceberg switch: a real Iceberg-backed store
    when the runtime jars are on the classpath AND a Spark SQL catalog
    name is supplied (``spark.sql.catalog.<name>`` configured), else the
    parquet snapshot emulation.  Both expose the same interface
    (pinned by tests/test_landuse_sinks_misc.py interface-parity test)."""
    if catalog is not None and _have_iceberg(spark):
        return IcebergLineageStore(spark, catalog)
    return LineageStore(root)


def _counters(store, stage: str) -> dict:
    """Aggregate stage counters, derived from the snapshot log on every
    call so they can never lag a commit; ``{}`` for a stage with no
    snapshot."""
    snaps = store.snapshots(stage)
    if not snaps:
        return {}
    parts = store.committed_partitions(stage)
    return {"stage": stage, "partitions": parts,
            "n_partitions": len(parts),
            "n_rows": sum(s["rows_added"] for s in snaps),
            "current_snapshot": snaps[-1]["snapshot_id"],
            "committed_at": snaps[-1]["committed_at"]}


def run_stage(store, stages: dict, name: str, df: DataFrame,
              partition_col: str) -> DataFrame:
    """Commit ``df`` as stage ``name`` of ``store`` and record its row and
    partition counters and wall seconds in ``stages[name]``; returns the
    committed read-back."""
    t0 = time.perf_counter()
    out = store.checkpoint(df, name, partition_col)
    c = store.counters(name)
    stages[name] = {"rows": c.get("n_rows"),
                    "partitions": c.get("n_partitions"),
                    "sec": round(time.perf_counter() - t0, 2)}
    return out


def _is_complete(store, stage: str, expected_partitions: int) -> bool:
    """At least ``expected_partitions`` partitions of ``stage`` are
    committed."""
    c = store.counters(stage)
    return bool(c) and c.get("n_partitions", 0) >= expected_partitions


class IcebergLineageStore:
    """The same checkpoint/read/rollback/maintenance surface as
    :class:`LineageStore`, mapped onto REAL Iceberg snapshot commits
    (requires iceberg-spark-runtime on the classpath and a configured
    catalog — absent in this sandbox, so this class is exercised only by
    the jar-gated pytest; the interface-parity test runs everywhere).

    Mapping (emulation -> Iceberg):
      checkpoint   anti-join on the ``.partitions`` metadata table, then
                   one atomic ``writeTo(...).append()`` commit; counters
                   come from the commit's snapshot summary (write-task
                   metrics — never a read-back)
      read(as_of)  ``option("snapshot-id", ...)`` time travel
      rollback     ``CALL <cat>.system.rollback_to_snapshot``
      compact      ``CALL <cat>.system.rewrite_data_files``
      vacuum       ``expire_snapshots`` + ``remove_orphan_files``
    """

    def __init__(self, spark: SparkSession, catalog: str,
                 namespace: str = "lineage"):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def _tbl(self, stage: str) -> str:
        return f"{self.catalog}.{self.namespace}.{stage}"

    def _exists(self, stage: str) -> bool:
        return self.spark.catalog.tableExists(self._tbl(stage))

    # -- snapshot log ------------------------------------------------------

    def snapshots(self, stage: str) -> list[dict]:
        if not self._exists(stage):
            return []
        rows = (self.spark.read.table(f"{self._tbl(stage)}.snapshots")
                .orderBy("committed_at").collect())
        return [{"snapshot_id": r["snapshot_id"],
                 "parent_id": r["parent_id"],
                 "stage": stage,
                 "rows_added": int(r["summary"].get("added-records", 0)),
                 "committed_at": r["committed_at"].timestamp()}
                for r in rows]

    def committed_partitions(self, stage: str,
                             as_of: int | None = None) -> list:
        if not self._exists(stage):
            return []
        reader = self.spark.read
        if as_of is not None:
            reader = reader.option("snapshot-id", as_of)
        parts = reader.table(f"{self._tbl(stage)}.partitions").collect()
        return sorted(p["partition"][0] for p in parts)

    def counters(self, stage: str) -> dict:
        return _counters(self, stage)

    # -- commit / read / rollback ------------------------------------------

    def checkpoint(self, df: DataFrame, stage: str,
                   partition_col: str) -> DataFrame:
        tbl = self._tbl(stage)
        todo = df
        done = self.committed_partitions(stage)
        if done:
            done_df = self.spark.createDataFrame(
                [(d,) for d in done], f"{partition_col} long")
            todo = df.join(F.broadcast(done_df), partition_col, "left_anti")
        if self._exists(stage):
            todo.writeTo(tbl).append()          # one atomic snapshot commit
        else:
            todo.writeTo(tbl).partitionedBy(F.col(partition_col)).create()
        return self.read(stage)

    def read(self, stage: str, as_of: int | None = None) -> DataFrame:
        reader = self.spark.read
        if as_of is not None:
            reader = reader.option("snapshot-id", as_of)
        return reader.table(self._tbl(stage))

    def rollback(self, stage: str, snapshot_id: int) -> None:
        self.spark.sql(
            f"CALL {self.catalog}.system.rollback_to_snapshot"
            f"('{self.namespace}.{stage}', {int(snapshot_id)})")

    def is_complete(self, stage: str, expected_partitions: int) -> bool:
        return _is_complete(self, stage, expected_partitions)

    # -- maintenance --------------------------------------------------------

    def compact(self, stage: str) -> int:
        self.spark.sql(
            f"CALL {self.catalog}.system.rewrite_data_files"
            f"('{self.namespace}.{stage}')")
        snaps = self.snapshots(stage)
        return snaps[-1]["snapshot_id"] if snaps else 0

    def vacuum(self, stage: str) -> int:
        out = self.spark.sql(
            f"CALL {self.catalog}.system.expire_snapshots"
            f"(table => '{self.namespace}.{stage}', retain_last => 1)"
        ).collect()
        self.spark.sql(
            f"CALL {self.catalog}.system.remove_orphan_files"
            f"(table => '{self.namespace}.{stage}')")
        return int(out[0][0]) if out else 0


class LineageStore:
    """Filesystem-backed snapshot store with per-commit lineage and
    row/partition counters."""

    def __init__(self, root: str):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _stage_dir(self, stage: str) -> Path:
        return self.root / stage

    def _snapshots_path(self, stage: str) -> Path:
        return self.root / f"_snapshots_{stage}.json"

    @staticmethod
    def _atomic_write(path: Path, payload: dict) -> None:
        """Write-to-temp + rename: a crash mid-write must never truncate
        the existing log (Path.write_text opens with truncation — a kill
        between truncate and flush would lose EVERY committed snapshot).
        os.replace is atomic on POSIX within one filesystem."""
        tmp = path.with_suffix(".json.tmp")
        with open(tmp, "w") as f:
            f.write(json.dumps(payload))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    # -- snapshot log --------------------------------------------------------

    def _log(self, stage: str) -> dict:
        p = self._snapshots_path(stage)
        if not p.exists():
            return {"snapshots": [], "last_id": 0}
        return json.loads(p.read_text())

    def snapshots(self, stage: str) -> list[dict]:
        return self._log(stage)["snapshots"]

    def _visible(self, stage: str, as_of: int | None = None) -> list[dict]:
        snaps = self.snapshots(stage)
        if as_of is None:
            return snaps
        vis = [s for s in snaps if s["snapshot_id"] <= as_of]
        if not vis and snaps:
            # as_of predates every live snapshot: either it was expired by
            # compact() (its id is in some compacted_from) or it never
            # existed.  Raise loudly instead of silently returning an
            # empty frame (Iceberg's expire-snapshots behaves the same).
            expired = any(c <= as_of for s in snaps
                          for c in s.get("compacted_from", []))
            raise LookupError(
                f"snapshot {as_of} of stage {stage!r} "
                + ("was expired by compaction" if expired else "does not exist"))
        return vis

    def committed_partitions(self, stage: str,
                             as_of: int | None = None) -> list:
        parts: set = set()
        for s in self._visible(stage, as_of):
            parts.update(s["added_partitions"])
        return sorted(parts)

    def counters(self, stage: str) -> dict:
        return _counters(self, stage)

    # -- commit / read / rollback -------------------------------------------

    def _reserve_commit_id(self, stage: str) -> int:
        """Durably reserve the next ``_commit`` id BEFORE any data write:
        the log is persisted with ``last_id`` bumped while the snapshot
        record is still absent (= pending).  A crash between the data
        write and the commit record leaves orphan files under an id that
        no later attempt can ever reuse — without this reservation a
        resumed run would recompute the SAME id, append into the same
        ``_commit`` directories, and double-count rows on read."""
        log = self._log(stage)
        cid = log["last_id"] + 1
        self._atomic_write(self._snapshots_path(stage),
                           {"snapshots": log["snapshots"], "last_id": cid})
        return cid

    def checkpoint(self, df: DataFrame, stage: str,
                   partition_col: str) -> DataFrame:
        """One snapshot commit: append the not-yet-committed partitions
        under a fresh ``_commit`` id, record the snapshot, and return the
        manifest-scoped read-back (cuts the upstream plan)."""
        spark = df.sparkSession
        # ids are monotonic across ROLLBACKS too ("last_id" survives a log
        # truncation): re-using a rolled-back id would resurrect that
        # commit's still-on-disk files into the new snapshot's reads
        cid = self._reserve_commit_id(stage)
        snaps = self._log(stage)["snapshots"]
        done = self.committed_partitions(stage)
        todo = df
        if done:
            done_df = spark.createDataFrame(
                [(d,) for d in done], f"{partition_col} long")
            todo = df.join(F.broadcast(done_df), partition_col, "left_anti")
        out_dir = str(self._stage_dir(stage))
        # counters come from WRITE-JOB metrics (df.observe on the plan
        # being written), not a read-back of the committed files — at
        # scale a post-commit re-scan reads every byte just written, per
        # commit (Iceberg takes both counters from write-task metrics).
        # AQE's empty-relation pruning would drop the CollectMetrics node
        # exactly when todo is empty (Observation.get then hangs) — the
        # shared exclusion helper guards that, for this write only: the
        # session's previous setting is back once the counters are read.
        prev_excluded = spark.conf.get(_EXCLUDED_RULES, None)
        ensure_metrics_survive(todo)
        try:
            obs = Observation(f"lineage_{stage}_{cid}_{uuid.uuid4().hex[:8]}")
            staged = (todo.withColumn("_commit", F.lit(cid))
                      .observe(obs,
                               F.count(F.lit(1)).alias("rows_added"),
                               F.collect_set(partition_col)
                               .alias("added_partitions")))
            (staged.write.mode("append")
             .partitionBy(partition_col, "_commit").parquet(out_dir))
            # the files are on disk but INVISIBLE until the snapshot record
            # lands — a kill between write and commit leaves orphan files
            # that no read will ever include (and a re-run re-adds their
            # partitions under a new commit id)
            metrics = obs.get
        finally:
            if prev_excluded is None:
                spark.conf.unset(_EXCLUDED_RULES)
            else:
                spark.conf.set(_EXCLUDED_RULES, prev_excluded)
        added = list(metrics["added_partitions"] or [])
        rows_added = int(metrics["rows_added"])
        snaps.append({
            "snapshot_id": cid,
            "parent_id": snaps[-1]["snapshot_id"] if snaps else None,
            "stage": stage,
            "added_partitions": sorted(added),
            "rows_added": rows_added,
            "committed_at": time.time(),
        })
        self._atomic_write(self._snapshots_path(stage),
                           {"snapshots": snaps, "last_id": cid})
        if not any(s["added_partitions"] for s in snaps):
            # nothing has EVER been written for this stage: the directory
            # holds no parquet footers, so a read-back would fail schema
            # inference — return an empty frame with the input's schema
            return spark.createDataFrame([], df.schema)
        return self.read(stage)

    def read(self, stage: str, as_of: int | None = None) -> DataFrame:
        """Manifest-scoped read: only files of committed snapshots
        (optionally time-traveled to ``as_of``) are visible.  The
        ``_commit`` filter prunes whole partition directories."""
        spark = SparkSession.getActiveSession()
        ids = [s["snapshot_id"] for s in self._visible(stage, as_of)]
        df = spark.read.parquet(str(self._stage_dir(stage)))
        return df.filter(F.col("_commit").isin(ids)).drop("_commit")

    def rollback(self, stage: str, snapshot_id: int) -> None:
        """Truncate the snapshot log after ``snapshot_id``: later commits'
        files become invisible and their partitions uncommitted, so the
        next run reprocesses them."""
        log = self._log(stage)
        keep = [s for s in log["snapshots"] if s["snapshot_id"] <= snapshot_id]
        self._atomic_write(self._snapshots_path(stage),
                           {"snapshots": keep, "last_id": log["last_id"]})

    def is_complete(self, stage: str, expected_partitions: int) -> bool:
        return _is_complete(self, stage, expected_partitions)

    # -- maintenance: compaction + orphan cleanup ----------------------------

    def compact(self, stage: str) -> int:
        """Rewrite all visible snapshots into ONE commit (Iceberg's
        rewrite-data-files + expire-snapshots in one step).  A long-lived
        resumable stage accrues one commit per (re)run; every read lists
        all of them — at 10^5 commits the file listing itself becomes the
        bottleneck.  The compacted commit is written and recorded BEFORE
        the old snapshot records are dropped, so a crash mid-compaction
        leaves either the old log (compaction invisible) or the new one
        (old commits orphaned — vacuum reclaims them); never data loss.
        Returns the new snapshot id."""
        spark = SparkSession.getActiveSession()
        log = self._log(stage)
        if len(log["snapshots"]) <= 1:
            return (log["snapshots"][0]["snapshot_id"]
                    if log["snapshots"] else 0)
        old = log["snapshots"]
        part_col = None
        # partition column = first dir component under the stage dir
        for d in self._stage_dir(stage).iterdir():
            if d.is_dir() and "=" in d.name:
                part_col = d.name.split("=", 1)[0]
                break
        assert part_col is not None, f"no partitioned data for {stage}"
        # materialize BEFORE appending into the directory being read (a
        # same-path read+write job is undefined); at real scale this is
        # an Iceberg rewrite-data-files action over file groups instead
        df = self.read(stage).localCheckpoint(eager=True)
        cid = self._reserve_commit_id(stage)
        (df.withColumn("_commit", F.lit(cid))
         .write.mode("append")
         .partitionBy(part_col, "_commit")
         .parquet(str(self._stage_dir(stage))))
        self._atomic_write(self._snapshots_path(stage), {
            "snapshots": [{
                "snapshot_id": cid,
                "parent_id": old[-1]["snapshot_id"],
                "stage": stage,
                "added_partitions": self.committed_partitions(stage),
                "rows_added": sum(s["rows_added"] for s in old),
                "committed_at": time.time(),
                "compacted_from": [s["snapshot_id"] for s in old],
            }],
            "last_id": cid,
        })
        return cid

    def vacuum(self, stage: str) -> int:
        """Delete data files whose ``_commit`` id is not visible in the
        snapshot log — crashed attempts' orphans and compacted-away
        commits.  Safe at any time: invisible files are by definition
        never read.  Returns the number of commit directories removed."""
        import shutil
        visible = {s["snapshot_id"] for s in self.snapshots(stage)}
        removed = 0
        root = self._stage_dir(stage)
        if not root.exists():
            return 0
        for part_dir in root.iterdir():
            if not part_dir.is_dir():
                continue
            for commit_dir in part_dir.iterdir():
                if not commit_dir.name.startswith("_commit="):
                    continue
                cid = int(commit_dir.name.split("=", 1)[1])
                if cid not in visible:
                    shutil.rmtree(commit_dir)
                    removed += 1
        return removed
