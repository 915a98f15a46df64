"""Resumable validation runs: per-partition checkpoints + lineage manifest.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics persisted to an Iceberg manifest table". The unit of work is the
table's partition bucket (the conv-hash `bucket` column the transcript
table is written with — an Iceberg `bucket(conv_id)` transform on a real
deployment). Both modes, `run` and `run_incremental`, are one loop:

1. ONE stats pass: a map-side-combined `groupBy(bucket)` gives every
   bucket's (n_rows, content fingerprint) — the cost of a count.
2. ONE manifest read gives the buckets already done under this run_id
   (skipped in both modes, so a retried run resumes instead of
   re-recording them) and the latest (fingerprint, n_rows, n_violations)
   per bucket across all runs.
3. `run_incremental` carries every bucket whose fingerprint matches its
   latest manifest row: the previous metrics go forward as
   mode='carried' rows, all in ONE manifest append, and the bucket keeps
   its already-written violations partition.
4. Every other bucket is validated in deterministic order by ONE Spark
   job: the fused validation pass on that bucket (Catalyst prunes the
   scan to its files — check .explain() for PartitionFilters) is written
   to the sink while an Observation counts the rows written. Then one
   lineage row is appended to the manifest:

    (run_id, bucket, status, n_rows, n_violations, wall_s, finished_at,
     fingerprint, mode)

A bucket is only ever marked complete AFTER its violations are durably
written, so a crash between write and mark re-processes one bucket
(at-least-once; the violations sink is keyed by bucket so re-writes
overwrite that bucket's directory, keeping output exactly-once).

At cluster scale each bucket-job is itself fully parallel (a bucket holds
1/N of the table, spread over its files); bucket granularity only bounds
the blast radius of a restart, not parallelism.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from typical_spark.plans.validation import ValidationPlan

MANIFEST_SCHEMA = (
    "run_id string, bucket int, status string, n_rows long, "
    "n_violations long, wall_s double, finished_at double, "
    "fingerprint long, mode string"
)


class CheckpointedRun:
    def __init__(
        self,
        spark: SparkSession,
        plan: ValidationPlan,
        out_dir: str,
        run_id: str = "run",
        bucket_col: str = "bucket",
    ):
        self.spark = spark
        self.plan = plan
        self.out_dir = out_dir
        self.run_id = run_id
        self.bucket_col = bucket_col
        self.manifest_path = os.path.join(out_dir, "manifest")
        self.violations_path = os.path.join(out_dir, "violations")

    # -- stats and manifest --------------------------------------------

    def _bucket_stats(self, df: DataFrame) -> dict[int, tuple[int, int]]:
        """bucket -> (n_rows, fingerprint) in ONE map-side-combined pass.

        The fingerprint is order-independent: the sum of a per-row
        xxhash64 over every column, folded into 31 bits per row so the
        per-bucket sum stays exact (no long overflow) up to 2^32 rows per
        bucket. Any row change/insert/delete moves the sum (duplicate
        rows each contribute — XOR would let pairs cancel)."""
        h = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(1 << 31))
        rows = df.groupBy(self.bucket_col).agg(
            F.count(F.lit(1)).alias("n"), F.sum(h).alias("fp")
        ).collect()
        return {r[self.bucket_col]: (r["n"], r["fp"]) for r in rows}

    def bucket_fingerprints(self, df: DataFrame) -> dict[int, int]:
        """Content fingerprint per bucket (see _bucket_stats)."""
        return {b: fp for b, (_, fp) in self._bucket_stats(df).items()}

    def _manifest_state(self) -> tuple[set[int], dict[int, tuple]]:
        """(buckets done under this run_id, latest (fingerprint, n_rows,
        n_violations) per bucket across ALL runs) from one manifest read."""
        if not os.path.exists(self.manifest_path):
            return set(), {}
        rows = (
            self.manifest()
            .where(F.col("status") == "done")
            .groupBy("bucket")
            .agg(
                F.bool_or(F.col("run_id") == self.run_id).alias("here"),
                F.max_by(
                    F.struct("fingerprint", "n_rows", "n_violations"),
                    "finished_at",
                ).alias("last"),
            )
            .collect()
        )
        done = {r["bucket"] for r in rows if r["here"]}
        return done, {r["bucket"]: r["last"] for r in rows}

    def completed_buckets(self) -> set[int]:
        return self._manifest_state()[0]

    def _append_manifest(self, rows: list[tuple]) -> None:
        """rows: (bucket, n_rows, n_violations, wall_s, fingerprint, mode)."""
        now = time.time()
        data = [(self.run_id, b, "done", n, nv, wall, now, fp, mode)
                for b, n, nv, wall, fp, mode in rows]
        self.spark.createDataFrame(data, MANIFEST_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.manifest_path)

    # -- run -----------------------------------------------------------

    def _validate_bucket(self, df: DataFrame, b: int, n_rows: int, fp: int) -> None:
        t0 = time.time()
        part = df.where(F.col(self.bucket_col) == b)
        # counted on the write itself: one job evaluates the checks
        seen = Observation()
        vio = self.plan.violations(part, with_message=False).observe(
            seen, F.count(F.lit(1)).alias("n")
        )
        # per-bucket directory -> re-running a bucket overwrites, not
        # duplicates (exactly-once output under at-least-once driver)
        vio.write.mode("overwrite").parquet(
            os.path.join(self.violations_path, f"bucket={b}")
        )
        self._append_manifest(
            [(b, n_rows, seen.get["n"], time.time() - t0, fp, "validated")]
        )

    def _run(
        self, df: DataFrame, incremental: bool, fail_after: int | None = None
    ) -> tuple[int, int, int, int]:
        """The one bucket loop behind `run` and `run_incremental`; returns
        (buckets_total, previously_done, validated, carried)."""
        stats = self._bucket_stats(df)
        done, latest = self._manifest_state()
        carried, todo = [], []
        for b in sorted(stats):
            if b in done:
                continue
            last = latest.get(b)
            # a NULL fingerprint never equals a fresh one
            if incremental and last is not None and last[0] == stats[b][1]:
                carried.append((b, last[1], last[2], 0.0, last[0], "carried"))
            else:
                todo.append(b)
        if carried:
            self._append_manifest(carried)
        for i, b in enumerate(todo):
            if fail_after is not None and i >= fail_after:
                raise RuntimeError(f"injected failure after {i} buckets")
            self._validate_bucket(df, b, *stats[b])
        return len(stats), len(done), len(todo), len(carried)

    def run(
        self,
        df: DataFrame,
        fail_after: int | None = None,
    ) -> dict:
        """Process every not-yet-done bucket. `fail_after` aborts after N
        buckets (test hook for kill-and-resume)."""
        total, done, validated, _ = self._run(df, incremental=False, fail_after=fail_after)
        return {
            "run_id": self.run_id,
            "buckets_total": total,
            "buckets_previously_done": done,
            "buckets_processed": validated,
        }

    def run_incremental(self, df: DataFrame) -> dict:
        """Nightly-rerun mode: re-validate ONLY buckets whose content
        fingerprint changed since the last recorded validation (new
        buckets count as changed; a bucket whose previous manifest row
        predates fingerprints, i.e. fingerprint NULL, also counts as
        changed). Unchanged buckets carry their previous metrics
        forward as a mode='carried' manifest row and keep their
        already-written violations partition — so an append-mostly
        table pays only for the buckets that actually moved. Buckets
        already done under this run_id are skipped, as in `run`."""
        total, _, validated, carried = self._run(df, incremental=True)
        return {
            "run_id": self.run_id,
            "buckets_total": total,
            "buckets_validated": validated,
            "buckets_carried": carried,
        }

    def violations(self) -> DataFrame:
        return self.spark.read.option("basePath", self.violations_path).parquet(
            self.violations_path
        )

    def manifest(self) -> DataFrame:
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.manifest_path)


class StageCheckpoint:
    """Stage-level resume for multi-stage pipelines (the curation job's
    analog of CheckpointedRun's per-bucket manifest): each named stage's
    output is materialized to <root>/<name> as parquet, and a
    <name>.stage.json marker (row count, wall seconds) is committed only
    AFTER the write succeeds. A re-run loads completed stages from disk
    instead of recomputing them; a crash mid-write leaves no marker, so
    that stage re-runs from scratch (mode=overwrite keeps the output
    exactly-once).

    This also serves the cost model at scale: resuming from the
    materialized stage REPLACES the upstream lineage with a parquet
    scan, so a restarted 10-stage curation run on 100 TB re-reads only
    the last incomplete stage's input instead of recomputing the whole
    DAG (the same reason production pipelines write each stage to the
    lake; on Iceberg the stage table's snapshot is the marker)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        fingerprint: dict | None = None,
    ):
        """fingerprint: the parameters the staged outputs depend on
        (thresholds, input path, ...). Stored in each stage marker and
        VALIDATED on resume — without it, re-running with changed
        arguments would silently load stale stage output computed under
        the old ones (e.g. survivors deduped at a different jaccard)."""
        self.spark = spark
        self.root = root
        self.fingerprint = fingerprint
        os.makedirs(root, exist_ok=True)

    def _data_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _marker_path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.stage.json")

    def done(self, name: str) -> bool:
        return os.path.exists(self._marker_path(name))

    def completed(self) -> list[str]:
        return sorted(
            f[: -len(".stage.json")]
            for f in os.listdir(self.root)
            if f.endswith(".stage.json")
        )

    def stage(self, name: str, thunk) -> tuple[DataFrame, bool]:
        """Return (stage output, resumed?). Runs `thunk()` and
        materializes its DataFrame unless the stage already completed.
        Intermediates the thunk's result cached on its own behalf (the
        dedup family's _owned_cache) are unpersisted once the write has
        materialized them."""
        import json

        if self.done(name):
            with open(self._marker_path(name)) as fh:
                marker = json.load(fh)
            if self.fingerprint is not None and marker.get(
                "fingerprint"
            ) != self.fingerprint:
                raise ValueError(
                    f"stage {name!r} in {self.root} was built with "
                    f"different parameters: {marker.get('fingerprint')!r}"
                    f" vs current {self.fingerprint!r}; use a fresh "
                    "checkpoint dir (or delete the stale stage) instead "
                    "of silently mixing runs"
                )
            return self.spark.read.parquet(self._data_path(name)), True
        t0 = time.time()
        df = thunk()
        df.write.mode("overwrite").parquet(self._data_path(name))
        for cached in getattr(df, "_owned_cache", []):
            cached.unpersist(blocking=False)
        out = self.spark.read.parquet(self._data_path(name))
        marker = {
            "stage": name,
            "n_rows": out.count(),
            "wall_s": time.time() - t0,
            "finished_at": time.time(),
            "fingerprint": self.fingerprint,
        }
        tmp = self._marker_path(name) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(marker, fh)
        os.replace(tmp, self._marker_path(name))  # atomic commit
        return out, False
