"""End-to-end validation pipeline: every check class, one violations table.

This is the production shape of the engine: row-level checks (fused
projection), uniqueness, per-conversation ordering, and referential
integrity all emit into ONE violations stream with a common schema

    (conv_id, turn_idx, column, check_id, observed, expected)

so a run is a small, fixed number of Spark jobs regardless of how many
checks are configured — crucial at scale, where each extra action is an
extra full scan. The row-level pass is scan-local; uniqueness shuffles
only the narrow key columns (groupBy prefilter with map-side combine,
then windows over just the duplicate candidates); ordering shuffles the
conv-keyed columns once for its window; referential is a broadcast
anti-join (zero shuffle of the fact table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from typical_spark.plans.validation import ValidationPlan, violation_array

VIOLATION_SCHEMA_COLS = ("conv_id", "turn_idx", "column", "check_id", "observed", "expected")


def full_validation(
    plan: ValidationPlan,
    transcripts: DataFrame,
    conversations: DataFrame | None = None,
    salt_buckets: int = 1,
) -> DataFrame:
    """All violation classes as one DataFrame (see module docstring).

    FUSED plan (optimization guide §2.4 "remove shuffles outright"): the
    previous shape ran four independent subplans — row checks (1 scan),
    duplicate_rows (scan + groupBy-prefilter shuffle of every key + join
    + candidate window), ordering_violations (scan + conv-window shuffle)
    and a broadcast anti-join (1 scan) — ~4 scans of the table and 2 full
    key shuffles. All four checks are decided by the same narrow columns
    (conv_id, turn_idx, ts, role) plus the scan-local row-check array, so
    one scan and ONE exchange suffice:

      scan -> fused row-check array (text etc. never leaves the scan)
           -> conv_id IS NOT NULL: broadcast-join the conversations dim
              (scan-local, pre-shuffle; the dim is deduplicated and
              broadcast once — NULL conv_id rows carry a NULL `_dim`
              instead, since they can never match)
              lag() over (conv_id) = ordering checks
              + row_number over (conv_id, turn_idx) = keep-first dup rank
              (exchange AND sort both elided on a bucketed scan sorted
              by (conv_id, turn_idx, ts, role))
              conv_id IS NULL: row_number over (turn_idx) only — no
              ordering/referential checks apply, and the null rows
              shuffle/sort just themselves
           -> union, concat arrays, one explode.

    Splitting on nullability also means NULL-conv rows cannot pin one
    task (they shuffle by the dup key). Duplicate ranks are the plain keep-first
    row_number over (ts, role) — pytest-pinned equal to the salted
    duplicate_rows output on the transcript family. `salt_buckets` is
    accepted and ignored: the benchmark workloads (perfbench/workloads.py)
    and bench.py still pass it. The fused pass's only window partition
    key is conv_id — the same skew boundary ordering_violations always
    had — and a genuinely pathological key group can still use
    duplicate_rows(salt_buckets=N) standalone.
    """
    key = list(plan.spec.key_columns)
    kc, oc = key[0], key[-1]

    src = transcripts.select(
        F.col(kc), F.col(oc), F.col("ts"), F.col("role"),
        plan._violation_array().alias("_rv"),
    )
    # Two branches on conv_id nullability, unioned before the explode.
    # Non-null convs (≈ the whole table) window on conv_id ALONE with
    # order (turn_idx, ts, role): the required sort (conv_id, turn_idx,
    # ts, role) is then EXACTLY the bucketed table's declared SORTED BY,
    # so on a bucketed scan EnsureRequirements elides the Exchange AND
    # the 16M-row Sort outright (the earlier single-branch shape used a
    # synthetic NULL-spread key `_ns` as a second partition column,
    # which kept the exchange elidable but broke the sort-prefix match —
    # the Sort over the full table survived for no work the nulls
    # actually needed). NULL-conv rows need no ordering/referential
    # checks; their keep-first dup rank partitions by the dup key
    # (turn_idx) — same groups the (_ns = turn_idx) spread produced —
    # and they sort/shuffle only their own (typically tiny, and on the
    # bucketed layout row-group-prunable) row set. Plain un-bucketed
    # inputs shuffle the same total bytes as before (two exchanges over
    # disjoint row sets) plus one extra narrow scan.
    conv_rows = src.where(F.col(kc).isNotNull())
    null_rows = src.where(F.col(kc).isNull())

    # The dim joins the non-null branch only: a NULL conv_id never
    # matches, so the null branch carries a NULL `_dim` (a join there
    # would plan a second dedup aggregate + broadcast of the dim, since
    # each branch pushes its own conv_id filter into the dim scan).
    has_ref = conversations is not None
    if has_ref:
        dim = (
            conversations.select(F.col(kc))
            .dropDuplicates([kc])
            .withColumn("_dim", F.lit(True))
        )
        conv_rows = conv_rows.join(F.broadcast(dim), [kc], "left")
        null_rows = null_rows.withColumn("_dim", F.lit(None).cast("boolean"))

    w_ord = Window.partitionBy(kc).orderBy(
        F.col(oc).asc(), F.col("ts").asc(), F.col("role").asc()
    )
    w_dup = Window.partitionBy(kc, oc).orderBy(
        F.col("ts").asc(), F.col("role").asc()
    )
    ann_a = conv_rows.select(
        "*",
        F.lag(oc).over(w_ord).alias("_po"),
        F.lag("ts").over(w_ord).alias("_pts"),
    ).select("*", F.row_number().over(w_dup).alias("_dr"))

    w_dup_null = Window.partitionBy(oc).orderBy(
        F.col("ts").asc(), F.col("role").asc()
    )
    oc_type = src.schema[oc].dataType
    ts_type = src.schema["ts"].dataType
    ann_b = null_rows.select(
        "*",
        F.lit(None).cast(oc_type).alias("_po"),
        F.lit(None).cast(ts_type).alias("_pts"),
    ).select("*", F.row_number().over(w_dup_null).alias("_dr"))
    ann = ann_a.unionByName(ann_b)

    conv_nn = F.col(kc).isNotNull()
    d = F.col(oc) - F.col("_po")

    def _v(check_id: str, observed, expected, column: str):
        return F.struct(
            F.lit(column).alias("column"),
            F.lit(check_id).alias("check_id"),
            observed.alias("observed"),
            expected.alias("expected"),
        )

    extras = [
        (
            F.col("_dr") > 1,
            _v(
                "unique_key",
                F.col("_dr").cast("string"),
                F.lit(f"unique {tuple(key)}"),
                key[-1],
            ),
        ),
        (
            conv_nn & F.col("_po").isNotNull() & (d == 0),
            _v(
                "order_duplicate",
                F.col(oc).cast("string"),
                F.concat(F.lit("!= prev "), F.col("_po")),
                oc,
            ),
        ),
        (
            conv_nn & F.col("_po").isNotNull() & (d > 1),
            _v(
                "order_gap",
                F.col(oc).cast("string"),
                F.concat(F.lit("prev + 1 = "), F.col("_po") + 1),
                oc,
            ),
        ),
        (
            conv_nn
            & F.col("_pts").isNotNull()
            & F.col("ts").isNotNull()
            & (F.col("ts") < F.col("_pts"))
            & (d > 0),
            _v(
                "ts_out_of_order",
                F.col("ts").cast("string"),
                F.concat(F.lit(">= prev ts "), F.col("_pts").cast("string")),
                oc,
            ),
        ),
    ]
    if has_ref:
        extras.append(
            (
                conv_nn & F.col("_dim").isNull(),
                _v(
                    "referential",
                    F.col(kc).cast("string"),
                    F.lit(f"{kc} exists in conversations"),
                    kc,
                ),
            )
        )

    combined = F.concat(F.col("_rv"), violation_array(extras))
    return (
        ann.select(F.col(kc), F.col(oc), F.explode(combined).alias("v"))
        .select(kc, oc, "v.*")
    )


def validation_summary(
    plan: ValidationPlan,
    transcripts: DataFrame,
    conversations: DataFrame | None = None,
    salt_buckets: int = 1,
) -> dict:
    """One-action summary: violation counts per check class."""
    vio = full_validation(plan, transcripts, conversations, salt_buckets)
    rows = vio.groupBy("check_id").agg(F.count(F.lit(1)).alias("n")).collect()
    return {r["check_id"]: r["n"] for r in rows}
