"""The benchmark's two workloads and the checkpoint probe.

Each workload builds its fixture once per (turns, seed) with the engine's
own generator (`typical_spark.sources.transcripts`), registers it in a
session, runs one pass through the layers it exercises, and checks the
pass's output against an independent DuckDB expectation over the same
files (see expect.py). Why each workload exists is in README.md.
"""

from __future__ import annotations

import os

from perfbench.expect import Expectation


def _by_check_mismatch(what: str, got: dict, want: dict) -> list[str]:
    return [] if got == want else [f"{what}: got {sorted(got.items())}, want {sorted(want.items())}"]


class Workload:
    name = ""
    why = ""
    turns = 0  # default input size; the smoke test passes a tiny one
    buckets = 8

    def __init__(self, seed: int, data_dir: str, run_dir: str, turns: int | None = None):
        self.seed = seed
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.turns = turns or self.turns
        self.n_turns = 0  # rows the pass validates, known after register()
        self.passes = 0

    # -- fixture ---------------------------------------------------------

    def _tables(self, spark):
        from typical_spark.sources.transcripts import transcripts_dataset

        return transcripts_dataset(
            spark, self.turns, self.seed, cache_dir=self.data_dir, buckets=self.buckets
        )

    def register(self, spark) -> None:
        """Materialise the fixture if it is not on disk yet, then load it
        into this session."""
        self.tdf, self.cdf = self._tables(spark)

    def expect(self, ex: Expectation) -> None:
        """Expected outputs, from the files the registered tables scan."""
        ex.register("t", self.tdf.inputFiles(), hive=True)
        ex.register("c", self.cdf.inputFiles())
        self.want = ex.all_checks("t", "c")
        self.profile = ex.profile("t", "bucket")
        self.n_turns = self.profile["n_rows"]

    def _out_dir(self) -> str:
        self.passes += 1
        return os.path.join(self.run_dir, "out", f"pass{self.passes}")

    # -- probes the traced run adds after its passes ------------------------

    def probe(self, spark, plan, tracer, ex: Expectation) -> dict:
        """Layer calls outside the pass, made once by the traced run.
        Returns {"errors": [...], ...} like a checked pass output."""
        with tracer.span("plans.validation.row_checks"):
            plan.violations(self.tdf, with_message=False).write.format("noop").mode(
                "overwrite"
            ).save()
        return {"errors": []}


class NightlyBucketed(Workload):
    name = "nightly_bucketed"
    why = (
        "production nightly layout: conv_id-bucketed, sorted table, so the "
        "validation windows skip their Exchange and Sort"
    )
    turns = 50_000  # base turns; the table holds `factor` replicas
    factor = 2

    def _tables(self, spark):
        from typical_spark.sources.transcripts import scaled_dataset

        return scaled_dataset(
            spark, self.turns, self.factor, self.seed,
            cache_dir=self.data_dir, buckets=self.buckets,
        )

    def run_pass(self, spark, plan, tracer) -> dict:
        from pyspark.sql import functions as F

        from typical_spark.operators.drift import partition_digests
        from typical_spark.operators.stats import column_stats
        from typical_spark.pipeline import validation_summary

        with tracer.span("pipeline.validation_summary"):
            counts = validation_summary(plan, self.tdf, self.cdf, salt_buckets=8)
        with tracer.span("operators.stats.column_stats"):
            stats = column_stats(self.tdf, ["turn_idx", "text", "ts"]).collect()
        with tracer.span("operators.drift.partition_digests"):
            digests = (
                partition_digests(
                    self.tdf.withColumn("tsd", F.unix_timestamp("ts").cast("double")),
                    "tsd", "bucket",
                )
                .select("group_id", "n")
                .collect()
            )
        return {"counts": counts, "stats": stats, "digests": digests}

    def check(self, out: dict, ex: Expectation) -> list[str]:
        errs = _by_check_mismatch("violations by check", out["counts"], self.want)
        p = self.profile
        for r in out["stats"]:
            if (r["n_rows"], r["n_null"]) != (p["n_rows"], p["n_null"][r["column"]]):
                errs.append(f"column_stats {r['column']}: {r['n_rows']} rows, {r['n_null']} nulls")
        got = {r["group_id"]: int(r["n"]) for r in out["digests"]}
        if got != p["group_rows"]:
            errs.append(f"partition_digests weights per group: {sorted(got.items())}")
        return errs


class CheckpointProbe:
    """The checkpointed shape of the same job (`--checkpointed`, then
    `--incremental`): `CheckpointedRun.run` into a fresh directory, a
    change to `changed` of the table's buckets (role upper-cased), then
    `CheckpointedRun.run_incremental`, which must re-validate exactly the
    changed buckets and carry the rest."""

    changed = 2

    def __init__(self, wl: Workload):
        self.wl = wl
        first = wl.seed % wl.buckets
        self.buckets = tuple(sorted(
            (first + i * wl.buckets // self.changed) % wl.buckets for i in range(self.changed)
        ))

    def expect(self, ex: Expectation) -> None:
        self.want_rows = ex.row_checks("t")
        ex.register_changed("t_changed", "t", self.buckets)
        self.want_changed = ex.row_checks("t_changed")

    def changed_table(self):
        from pyspark.sql import functions as F

        hit = F.col("bucket").isin(list(self.buckets))
        return self.wl.tdf.withColumn(
            "role", F.when(hit, F.upper("role")).otherwise(F.col("role"))
        )

    def run(self, spark, plan, tracer, ex: Expectation) -> dict:
        from typical_spark.checkpoint import CheckpointedRun

        wl = self.wl
        out_dir = wl._out_dir()
        with tracer.span("checkpoint.bucket_fingerprints"):
            CheckpointedRun(spark, plan, out_dir).bucket_fingerprints(wl.tdf)
        with tracer.span("checkpoint.run"):
            full = CheckpointedRun(spark, plan, out_dir, run_id="full").run(wl.tdf)
        with tracer.span("checkpoint.run_incremental"):
            rerun = CheckpointedRun(spark, plan, out_dir, run_id="rerun").run_incremental(
                self.changed_table()
            )
        out = {"full": full, "rerun": rerun, "out_dir": out_dir}
        out["errors"] = self.check(out, ex)
        return out

    def check(self, out: dict, ex: Expectation) -> list[str]:
        errs = []
        nb, nc = self.wl.buckets, len(self.buckets)
        full, rerun = out["full"], out["rerun"]
        if (full["buckets_total"], full["buckets_processed"]) != (nb, nb):
            errs.append(f"full run: {full}")
        if (rerun["buckets_total"], rerun["buckets_validated"], rerun["buckets_carried"]) != (
            nb, nc, nb - nc,
        ):
            errs.append(f"rerun: {rerun}")
        manifest = os.path.join(out["out_dir"], "manifest")
        rows = ex.manifest(manifest)
        out["manifest_files"] = sum(f.endswith(".parquet") for f in os.listdir(manifest))
        out["bucket_wall_s"] = [r["wall_s"] for r in rows if r["mode"] == "validated"]
        first = [r for r in rows if r["run_id"] == "full"]
        if sum(r["n_rows"] for r in first) != self.wl.n_turns:
            errs.append(f"full run manifest rows: {sum(r['n_rows'] for r in first)}")
        if sum(r["n_violations"] for r in first) != sum(self.want_rows.values()):
            errs.append(f"full run manifest violations: {sum(r['n_violations'] for r in first)}")
        redone = sorted(
            r["bucket"] for r in rows if r["run_id"] == "rerun" and r["mode"] == "validated"
        )
        if redone != list(self.buckets):
            errs.append(f"re-validated buckets {redone}, changed {list(self.buckets)}")
        ex.register("vio", [os.path.join(out["out_dir"], "violations", "*", "*.parquet")],
                    hive=True)
        got = dict(ex.con.execute("SELECT check_id, count(*) FROM vio GROUP BY 1").fetchall())
        errs += _by_check_mismatch("violations by check after the rerun", got, self.want_changed)
        return errs


class LandingUnsorted(Workload):
    name = "landing_unsorted"
    why = (
        "freshly landed, unbucketed parquet: the windows shuffle and sort by "
        "conv_id, and violations are written beside the reads"
    )
    turns = 50_000

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.checkpoint = CheckpointProbe(self)

    def expect(self, ex: Expectation) -> None:
        super().expect(ex)
        self.checkpoint.expect(ex)

    def probe(self, spark, plan, tracer, ex: Expectation) -> dict:
        super().probe(spark, plan, tracer, ex)
        return self.checkpoint.run(spark, plan, tracer, ex)

    def run_pass(self, spark, plan, tracer) -> dict:
        from typical_spark.pipeline import full_validation, validation_summary
        from typical_spark.sources.tables import write_output

        target = os.path.join(self._out_dir(), "violations")
        with tracer.span("pipeline.full_validation"):
            vio = full_validation(plan, self.tdf, self.cdf, salt_buckets=8)
        with tracer.span("sources.tables.write_output"):
            write_output(vio, target, mode="overwrite")
        with tracer.span("pipeline.validation_summary"):
            counts = validation_summary(plan, self.tdf, self.cdf, salt_buckets=8)
        return {"counts": counts, "target": target}

    def check(self, out: dict, ex: Expectation) -> list[str]:
        errs = _by_check_mismatch("violations by check", out["counts"], self.want)
        ex.register("written", [os.path.join(out["target"], "*.parquet")])
        written = ex.con.execute("SELECT count(*) FROM written").fetchone()[0]
        if written != sum(out["counts"].values()):
            errs.append(f"{written} violations written, summary total {sum(out['counts'].values())}")
        return errs


WORKLOADS = {w.name: w for w in (NightlyBucketed, LandingUnsorted)}
