"""Kill-and-resume: a run killed mid-way resumes from the manifest and
produces exactly the same violations as an uninterrupted run
(SURVEY.md §5 engine test plan: "kill-and-resume from manifest")."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from typical_spark import compile_table_spec
from typical_spark.checkpoint import CheckpointedRun
from typical_spark.specs import transcript_spec


@pytest.fixture()
def bucketed_df(spark, transcripts_df):
    return transcripts_df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int")
    )


def test_kill_and_resume_produces_identical_output(spark, bucketed_df):
    plan = compile_table_spec(transcript_spec())
    full_expected = plan.violations(bucketed_df, with_message=False).count()

    tmp = tempfile.mkdtemp(prefix="ckpt_")
    try:
        run = CheckpointedRun(spark, plan, tmp, run_id="r1")
        with pytest.raises(RuntimeError, match="injected failure"):
            run.run(bucketed_df, fail_after=3)
        assert len(run.completed_buckets()) == 3

        # resume: picks up only the remaining buckets
        summary = CheckpointedRun(spark, plan, tmp, run_id="r1").run(bucketed_df)
        assert summary["buckets_previously_done"] == 3
        assert summary["buckets_processed"] == summary["buckets_total"] - 3

        got = run.violations().count()
        assert got == full_expected

        # manifest lineage covers every bucket exactly once, with metrics
        m = run.manifest().collect()
        assert sorted(r["bucket"] for r in m) == sorted(
            r[0] for r in bucketed_df.select("bucket").distinct().collect()
        )
        assert all(r["n_rows"] > 0 and r["wall_s"] >= 0 for r in m)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_rerun_is_noop(spark, bucketed_df):
    plan = compile_table_spec(transcript_spec())
    tmp = tempfile.mkdtemp(prefix="ckpt_")
    try:
        CheckpointedRun(spark, plan, tmp, run_id="r2").run(bucketed_df)
        again = CheckpointedRun(spark, plan, tmp, run_id="r2").run(bucketed_df)
        assert again["buckets_processed"] == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_incremental_revalidation_only_changed_buckets(spark, bucketed_df):
    """Nightly-rerun mode: after a full run, an incremental run over an
    UNCHANGED table carries every bucket (zero validated); mutating one
    bucket's rows re-validates exactly that bucket, and the violations
    sink reflects the mutation while untouched buckets keep their
    output. The fingerprint is order-independent (repartition does not
    dirty buckets)."""
    plan = compile_table_spec(transcript_spec())
    tmp = tempfile.mkdtemp(prefix="ckpt_inc_")
    try:
        df = bucketed_df.localCheckpoint()  # freeze content for mutation
        run = CheckpointedRun(spark, plan, tmp, run_id="full")
        run.run(df)
        base_vio = run.violations().count()

        # unchanged table (even reshuffled) -> all carried
        inc = CheckpointedRun(spark, plan, tmp, run_id="inc1")
        s1 = inc.run_incremental(df.repartition(16))
        assert s1["buckets_validated"] == 0
        assert s1["buckets_carried"] == s1["buckets_total"]
        assert run.violations().count() == base_vio

        # mutate ONE bucket: blank a required field in some of its rows
        target = df.select("bucket").head()["bucket"]
        mutated = df.withColumn(
            "role",
            F.when(
                (F.col("bucket") == target)
                & (F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(5)) == 0),
                F.lit(None).cast("string"),
            ).otherwise(F.col("role")),
        )
        inc2 = CheckpointedRun(spark, plan, tmp, run_id="inc2")
        s2 = inc2.run_incremental(mutated)
        assert s2["buckets_validated"] == 1
        assert s2["buckets_carried"] == s2["buckets_total"] - 1
        # the new null-role violations landed in the rewritten bucket
        assert inc2.violations().count() > base_vio
        m = {r["bucket"]: r["mode"] for r in
             inc2.manifest().where(F.col("run_id") == "inc2").collect()}
        assert m[target] == "validated"
        assert all(v == "carried" for b, v in m.items() if b != target)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_incremental_retry_same_run_id_records_each_bucket_once(spark, bucketed_df):
    """A run_incremental retried under its run_id skips the buckets that
    run already recorded, so its lineage covers each bucket once. Bucket
    0 holds only clean rows: its observed violation count must be 0."""
    plan = compile_table_spec(transcript_spec())
    df = bucketed_df.withColumn(
        "bucket",
        F.when(plan.valid_predicate(), F.lit(0))
        .otherwise(F.pmod(F.xxhash64("conv_id"), F.lit(3)) + 1)
        .cast("int"),
    )
    tmp = tempfile.mkdtemp(prefix="ckpt_retry_")
    try:
        first = CheckpointedRun(spark, plan, tmp, run_id="n1").run_incremental(df)
        assert first["buckets_validated"] == first["buckets_total"] == 4
        again = CheckpointedRun(spark, plan, tmp, run_id="n1").run_incremental(df)
        assert (again["buckets_validated"], again["buckets_carried"]) == (0, 0)

        rows = CheckpointedRun(spark, plan, tmp, run_id="n1").manifest().collect()
        assert sorted(r["bucket"] for r in rows) == [0, 1, 2, 3]
        n_vio = {r["bucket"]: r["n_violations"] for r in rows}
        assert n_vio[0] == 0
        assert sum(n_vio.values()) == plan.violations(
            df, with_message=False
        ).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_validate_job_incremental_flag(spark, transcripts_df, tmp_path):
    """--incremental on the cluster entrypoint: the first nightly run
    validates every bucket, an immediate rerun over the unchanged input
    carries all of them forward (fingerprint diff, zero re-validation)."""
    from jobs.validate_transcripts import main

    inp = str(tmp_path / "in")
    transcripts_df.limit(2000).withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int")
    ).write.parquet(inp)
    out = str(tmp_path / "out")
    assert main(["--input", inp, "--out", out,
                 "--run-id", "n1", "--incremental"]) == 0
    assert main(["--input", inp, "--out", out,
                 "--run-id", "n2", "--incremental"]) == 0
    m = spark.read.parquet(f"{out}/manifest").collect()
    modes = {}
    for r in m:
        modes.setdefault(r["run_id"], []).append(r["mode"])
    assert set(modes["n1"]) == {"validated"}
    assert set(modes["n2"]) == {"carried"}
    assert len(modes["n2"]) == len(modes["n1"])
