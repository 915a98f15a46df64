"""ValidationPlan — compiled, reusable, fused validation over a DataFrame.

The plan is the distributed analog of typical's SerdeProtocol (reference:
typic/serde/common.py:40-74, built once per type at resolver.py:581-657):
compiled once on the driver, then applied to any number of rows. Where the
reference executes one closure per value, the plan executes ONE fused
narrow projection per table scan:

    df.select(keys…, concat(
        when(viol_1, array(struct(...))).otherwise(<empty array>),
        when(viol_2, array(struct(...))).otherwise(<empty array>), …))

— all checks in one whole-stage-codegen span, no shuffle, no second
scan. Violations explode out of the array; valid rows are `size(arr)==0`.
At 100 TB this matters: the naive per-check `df.where(~pred)` plan scans
the table N_checks times; the fused plan scans it once and Parquet reads
only the checked columns (column pruning keeps `ReadSchema` narrow).

Keep higher-order functions (`filter`, `array_compact`, which rewrites to
`filter(arr, x -> isnotnull(x))`) out of any per-row check array: Spark's
`ArrayFilter` is a `CodegenFallback`, so one lambda in the array sends
every check expression inside it through interpreted `eval()` per row.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass
from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from typical_spark.compiler import CompiledCheck
from typical_spark.specs import TableSpec

# Stable violation-row schema (analog of ConstraintValueError fields,
# reference typic/constraints/common.py:169-173).
VIOLATION_COLUMNS = ("column", "check_id", "observed", "expected", "message")


def violation_array(
    entries: Sequence[tuple[Column, Column]],
    fields: Sequence[str] = VIOLATION_COLUMNS[:4],
) -> Column:
    """array<struct> of the payloads whose condition is true, in entry
    order: `concat(when(cond, array(payload)).otherwise(<empty>), …)`.

    Every piece is a codegen'd expression (no lambda; see the module
    docstring). `fields` names the string fields of each payload struct;
    the empty array is typed with them, all NOT NULL, so the result's
    element nullability is exactly the payloads' own and the array has
    `containsNull=false`. Zero entries give that typed empty array.
    """
    empty = F.array().cast(
        ArrayType(StructType([StructField(f, StringType(), False) for f in fields]), False)
    )
    if not entries:
        return empty
    return F.concat(
        *[F.when(cond, F.array(payload)).otherwise(empty) for cond, payload in entries]
    )


@dataclass(frozen=True)
class ValidationPlan:
    spec: TableSpec
    checks: tuple[CompiledCheck, ...]
    coercions: dict  # column -> Column (repair projections)
    transforms: dict  # column -> Column (mutating pre-checks)

    # ---- projections -------------------------------------------------

    def schema_violations(self, df: DataFrame, total: bool = False) -> list[dict]:
        """Structural spec-vs-schema diff (missing/extra/mis-typed
        columns), driver-side, before any task runs — fail fast when the
        table can't even SHAPE-satisfy the spec. See
        schema.schema_conformance."""
        from typical_spark.schema import schema_conformance

        return schema_conformance(df, self.spec, total=total)

    def coerce(self, df: DataFrame) -> DataFrame:
        """Apply coercion projections (the distributed transmute). Columns
        listed in `coercions` are replaced by their repaired value; original
        values remain observable to checks via the violation pass run
        BEFORE coercion if desired."""
        out = df
        for name, expr in self.coercions.items():
            out = out.withColumn(name, expr)
        return out

    def transform(self, df: DataFrame) -> DataFrame:
        """Apply mutating pre-checks (trim / curtail / array dedup —
        reference text.py:48-52, array.py:139-141)."""
        out = df
        for name, expr in self.transforms.items():
            out = out.withColumn(name, expr)
        return out

    # ---- the fused violation pass ------------------------------------

    def _violation_array(self) -> Column:
        return violation_array([
            (
                c.violation_cond,
                F.struct(
                    F.lit(c.column).alias("column"),
                    F.lit(c.check_id).alias("check_id"),
                    c.observed.alias("observed"),
                    F.lit(c.expected).alias("expected"),
                ),
            )
            for c in self.checks
        ])

    def annotate(self, df: DataFrame, col: str = "_violations") -> DataFrame:
        """df + an array<struct> column of this row's violations (empty
        array == valid row). One fused projection; no shuffle."""
        return df.withColumn(col, self._violation_array())

    def violations(self, df: DataFrame, with_message: bool = True) -> DataFrame:
        """The violations table: one row per (row, failed check).

        Output: key_columns… , column, check_id, observed, expected[, message].
        """
        keys = [F.col(k) for k in self.spec.key_columns]
        ann = df.select(*keys, self._violation_array().alias("_v"))
        # no size() pre-filter: explode already drops empty arrays, and a
        # filter here is pushed BELOW the projection by Catalyst, which
        # duplicates the whole fused check array (every regex/range
        # check evaluated twice per row — measured ~2x on the 16M-turn
        # flagship row pass)
        out = (
            ann.select(*self.spec.key_columns, F.explode("_v").alias("v"))
            .select(*self.spec.key_columns, "v.*")
        )
        if with_message:
            # "{field}: value <{v!r}> fails constraints: {constraints}"
            out = out.withColumn(
                "message",
                F.concat(
                    F.col("column"), F.lit(": value <"),
                    F.coalesce(F.col("observed"), F.lit("None")),
                    F.lit("> fails constraints: "), F.col("expected"),
                ),
            )
        return out

    def split(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(valid_rows, invalid_rows) — both from the same fused pass."""
        ann = self.annotate(df, "_violations")
        valid = ann.where(F.size("_violations") == 0).drop("_violations")
        invalid = ann.where(F.size("_violations") > 0).drop("_violations")
        return valid, invalid

    def valid_predicate(self) -> Column:
        """Single boolean Column 'row passes all checks' — stays a pure
        Catalyst conjunction so it can push into the scan when used alone."""
        conds = [~c.violation_cond | c.violation_cond.isNull() for c in self.checks]
        return reduce(lambda a, b: a & b, conds, F.lit(True))

    # ---- verdicts ----------------------------------------------------

    def verdicts(self, df: DataFrame, partition_col: Column | None = None) -> DataFrame:
        """Per-partition, per-check pass/fail verdicts.

        One aggregation pass: Spark's hash aggregate computes map-side
        partials per input partition, then a single shuffle on the (small)
        partition_id key — no per-check scans. Output:
        (partition_id, check_id, n_rows, n_violations, pass).
        """
        pid = partition_col if partition_col is not None else F.spark_partition_id()
        # n_violations of an id = its (row, check) violations: one
        # codegen'd count per check, summed over the checks sharing the id
        per_id: dict[str, list[Column]] = {}
        for c in self.checks:
            per_id.setdefault(c.check_id, []).append(F.count(F.when(c.violation_cond, 1)))
        cids = sorted(per_id)
        agg = df.groupBy(pid.alias("partition_id")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[reduce(add, per_id[cid]).alias(cid) for cid in cids],
        )
        stack = F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in cids]),
                # backticks: check ids may contain dots (e.g. the array-
                # element checks' "elements.subject_not_null"), which a
                # bare F.col would parse as a struct accessor
                F.array(*[F.col(f"`{c}`") for c in cids]),
            )
        )
        return (
            agg.select("partition_id", "n_rows", stack.alias("check_id", "n_violations"))
            .withColumn("pass", F.col("n_violations") == 0)
        )
