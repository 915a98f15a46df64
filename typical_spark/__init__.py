"""typical_spark — a PySpark-native schema + constraint validation engine.

A from-scratch distributed re-expression of the semantics of
`seandstewart/typical` (reference at /root/reference): declarative
typing-style constraint specs compiled into columnar coerce-and-validate
operators over Spark DataFrames, plus the table-level generalizations a
distributed engine needs (uniqueness, referential integrity, column stats,
distribution drift) and large-scale training-data pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing).

Design notes
------------
- Declarative specs (`typical_spark.specs`) are the analog of typical's
  constraint dataclasses (reference: typic/constraints/{number,text,array,
  mapping}.py); the compiler (`typical_spark.compiler`) is the analog of
  typic/constraints/factory.py + typic/gen.py, except it emits Catalyst
  `Column` expressions instead of string-templated Python, so every check
  runs JVM-side inside whole-stage codegen.
- Row-level checks are fused into ONE narrow projection pass producing
  `array<struct>` violation payloads that are exploded into a violations
  table — the distributed analog of `ConstraintValueError`
  (reference: typic/constraints/common.py:147-174).
- Table-level operators live in `typical_spark.operators`.
"""

from typical_spark.session import get_spark
from typical_spark.specs import (
    ArrayCheck,
    Check,
    DecimalCheck,
    EnumCheck,
    FieldSpec,
    FormatCheck,
    MapCheck,
    NotNullCheck,
    NumberCheck,
    TableSpec,
    TaggedCheck,
    TextCheck,
    TimestampRangeCheck,
    UnionCheck,
    discover_tag,
    register_check,
)
from typical_spark.compiler import compile_table_spec
from typical_spark.plans.validation import ValidationPlan
from typical_spark.driverside import enforce, from_rows, load_env_settings
from typical_spark.schema import (
    schema_conformance,
    spec_to_json_schema,
    spec_to_structtype,
)
from typical_spark.spec_io import spec_from_json, spec_to_json

__all__ = [
    "get_spark",
    "Check",
    "NumberCheck",
    "TextCheck",
    "EnumCheck",
    "NotNullCheck",
    "ArrayCheck",
    "TimestampRangeCheck",
    "DecimalCheck",
    "FormatCheck",
    "MapCheck",
    "TaggedCheck",
    "UnionCheck",
    "FieldSpec",
    "TableSpec",
    "discover_tag",
    "register_check",
    "compile_table_spec",
    "ValidationPlan",
    "from_rows",
    "enforce",
    "load_env_settings",
    "schema_conformance",
    "spec_to_json_schema",
    "spec_to_structtype",
    "spec_to_json",
    "spec_from_json",
]

__version__ = "0.1.0"
