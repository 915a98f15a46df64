"""Cluster entrypoint: validate a transcript table end-to-end.

    spark-submit --py-files typical_spark.zip \
        jobs/validate_transcripts.py \
        --input  <parquet dir | iceberg://cat.db.transcripts> \
        --conversations <parquet dir | iceberg://...> \
        --out    <output dir | iceberg://cat.db> \
        --run-id nightly-2025-01-01 [--checkpointed | --incremental] \
        [--bucket-col bucket] [--spec spec.json] [--mode coerce|strict]

By default runs the fused full validation (row-level checks + uniqueness
+ ordering + referential) in one pass, writes the violations under
<out>/violations and prints the per-check counts. --checkpointed
validates bucket by bucket with a lineage manifest under <out>/manifest;
re-running with the same --run-id resumes an interrupted run (buckets
already done under that run id are skipped). --incremental re-validates
only the buckets whose content changed since the last manifest entry.
On a cluster the SparkSession comes from spark-submit's conf (no master
hardcoded here).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--conversations", default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="run")
    ap.add_argument("--bucket-col", default="bucket")
    ap.add_argument("--checkpointed", action="store_true",
                    help="per-bucket checkpointed mode (resumable)")
    ap.add_argument("--incremental", action="store_true",
                    help="nightly-rerun mode: re-validate only buckets "
                         "whose content fingerprint changed since the "
                         "last manifest entry (implies --checkpointed)")
    ap.add_argument("--spec", default=None,
                    help="JSON TableSpec file (spec_io format); default: "
                         "the built-in transcript spec")
    ap.add_argument("--mode", default="coerce", choices=("coerce", "strict"))
    args = ap.parse_args(argv)

    # only configure a session we create — getOrCreate() would apply
    # runtime confs to an already-running shared session
    spark = SparkSession.getActiveSession() or (
        SparkSession.builder.appName("typical-spark-validate")
        .config("spark.sql.session.timeZone", "UTC")
        # pinned tz: NTZ<->epoch conversions (watermarks, durations)
        # must agree across driver, executors, and oracles
        .config("spark.sql.ansi.enabled", "false")  # throughput knob only;
        .getOrCreate()            # engine is ANSI-safe (test_ansi_modes)
    )

    from typical_spark.checkpoint import CheckpointedRun
    from typical_spark.compiler import compile_table_spec
    from typical_spark.pipeline import full_validation, validation_summary
    from typical_spark.sources.tables import write_output
    from typical_spark.spec_io import spec_from_json_file
    from typical_spark.specs import transcript_spec

    spec = spec_from_json_file(args.spec) if args.spec else transcript_spec()
    plan = compile_table_spec(spec, mode=args.mode)
    tdf = spark.read.parquet(args.input) if not args.input.startswith("iceberg://") \
        else spark.read.format("iceberg").load(args.input[len("iceberg://"):])
    cdf = None
    if args.conversations:
        cdf = spark.read.parquet(args.conversations) \
            if not args.conversations.startswith("iceberg://") \
            else spark.read.format("iceberg").load(args.conversations[len("iceberg://"):])

    if args.checkpointed or args.incremental:
        run = CheckpointedRun(spark, plan, args.out, run_id=args.run_id,
                              bucket_col=args.bucket_col)
        summary = run.run_incremental(tdf) if args.incremental else run.run(tdf)
        print(json.dumps(summary))
        return 0

    vio = full_validation(plan, tdf, cdf)
    write_output(vio, f"{args.out.rstrip('/')}/violations", mode="overwrite")
    counts = validation_summary(plan, tdf, cdf)
    print(json.dumps({"run_id": args.run_id, "violations_by_check": counts}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
