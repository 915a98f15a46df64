"""pipeline.full_validation pinned on a hand-built fixture that hits every
branch of the fused plan: NULL conv_id rows (one with a NULL turn_idx)
take the null-key branch, and the conv_id rows carry a duplicate key, a
turn gap, a ts regression and a conversation missing from the dim."""

from pyspark.sql import functions as F

from typical_spark import compile_table_spec
from typical_spark.pipeline import full_validation
from typical_spark.specs import transcript_spec

A, B = "c00000001", "c00000002"  # B is missing from the conversations dim
UNIQUE = "unique ('conv_id', 'turn_idx')"
NOT_NULL = "value is not null"
MISSING = "conv_id exists in conversations"

ROWS = [
    (A, 0, "user", "2025-01-01 00:00:00"),
    (A, 1, "assistant", "2025-01-01 00:00:05"),
    (A, 1, "assistant", "2025-01-01 00:00:06"),  # duplicate (A, 1)
    (A, 3, "user", "2025-01-01 00:00:02"),  # gap 1 -> 3 and ts regression
    (B, 0, "user", "2025-01-01 00:00:10"),
    (B, 1, "moderator", "2025-01-01 00:00:11"),  # role not in the enum
    (None, 0, "user", "2025-01-01 00:00:20"),
    (None, None, "user", "2025-01-01 00:00:21"),
    (None, 0, "user", "2025-01-01 00:00:22"),  # duplicate (NULL, 0)
]

EXPECTED = sorted([
    (A, 1, "turn_idx", "unique_key", "2", UNIQUE),
    (A, 1, "turn_idx", "order_duplicate", "1", "!= prev 1"),
    (A, 3, "turn_idx", "order_gap", "3", "prev + 1 = 2"),
    (A, 3, "turn_idx", "ts_out_of_order", "2025-01-01 00:00:02",
     ">= prev ts 2025-01-01 00:00:06"),
    (B, 0, "conv_id", "referential", B, MISSING),
    (B, 1, "conv_id", "referential", B, MISSING),
    (B, 1, "role", "enum", "moderator",
     "one of ['assistant', 'system', 'tool', 'user']"),
    (None, 0, "conv_id", "not_null", None, NOT_NULL),
    (None, 0, "conv_id", "not_null", None, NOT_NULL),
    (None, 0, "turn_idx", "unique_key", "2", UNIQUE),
    (None, None, "conv_id", "not_null", None, NOT_NULL),
    (None, None, "turn_idx", "not_null", None, NOT_NULL),
], key=repr)


def test_full_validation_pinned_violations(spark):
    plan = compile_table_spec(transcript_spec())
    # ts built from strings in the session time zone, so the stringified
    # ts values in the violations do not depend on the host's zone
    tdf = spark.createDataFrame(
        [(c, t, r, "x", None, ts) for c, t, r, ts in ROWS],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    cdf = spark.createDataFrame([(A,)], "conv_id string")
    got = sorted((tuple(r) for r in full_validation(plan, tdf, cdf).collect()),
                 key=repr)
    assert got == EXPECTED
