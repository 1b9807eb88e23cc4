"""Type lattice + task-spec → Spark StructType (reference FieldUtils semantics).

Reference type mapping re-expressed (FieldUtils.java:18-68, SURVEY.md §1.2):
  string (fallback) → StringType      bigint/long → LongType
  tinyint/int → IntegerType           bool/boolean → BooleanType
  timestamp/timestamp_ntz → TimestampNTZType (micros)
  date → DateType                     decimal(p,s) → DecimalType(p,s)

No nested/array/map types in the sink schema (nesting exists only as JSON
*input* ref paths). Timestamps parse ``yyyy-MM-dd HH:mm:ss``; dates accept a
bare date or a full datetime and truncate (DateTimeUtils.java:15-29).
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

from .config import FieldSpec, TaskSpec

_DECIMAL_RE = re.compile(r"^decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", re.I)

# patterns matching the reference's DateTimeUtils (java SimpleDateFormat-ish →
# Spark datetime pattern; identical layout)
TIMESTAMP_PATTERN = "yyyy-MM-dd HH:mm:ss"
DATE_PATTERN = "yyyy-MM-dd"


def spark_type(type_str: str) -> T.DataType:
    """Config type string → Spark DataType (FieldUtils.java:18-68)."""
    t = (type_str or "").strip().lower()
    m = _DECIMAL_RE.match(t)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    if t in ("bigint", "long"):
        return T.LongType()
    if t in ("tinyint", "int"):
        return T.IntegerType()
    if t in ("bool", "boolean"):
        return T.BooleanType()
    if t in ("timestamp", "timestamp_ntz"):
        return T.TimestampNTZType()
    if t == "date":
        return T.DateType()
    if t in ("float", "double"):
        # not in the reference lattice; accepted for the analytics surface
        return T.DoubleType() if t == "double" else T.FloatType()
    # reference fallback: unknown → string (FieldUtils.java:18-19, 45-46)
    return T.StringType()


def struct_type(spec: TaskSpec) -> T.StructType:
    """Task spec → StructType honoring not-null (intended semantics)."""
    not_null = set(spec.not_null_cols)
    return T.StructType(
        [
            T.StructField(f.name, spark_type(f.type), f.name not in not_null)
            for f in spec.ordered_fields
        ]
    )


# ---------------------------------------------------------------------------
# Canal-JSON CDC envelope schema (wire format the ingest layer parses).
# Shape per DeserializedSchema.java:96-125 and the captured envelope at
# DeserializedSchemaTest.java:39; FIXTURES.md §2. All data[] leaf values
# arrive as strings and are cast per the target schema.
# ---------------------------------------------------------------------------


def envelope_schema(payload_fields: list[str]) -> T.StructType:
    """Envelope StructType with data[] elements as all-string structs."""
    payload = T.StructType(
        [T.StructField(n, T.StringType(), True) for n in payload_fields]
    )
    return T.StructType(
        [
            T.StructField("data", T.ArrayType(payload), True),
            T.StructField("database", T.StringType(), True),
            T.StructField("table", T.StringType(), True),
            T.StructField("type", T.StringType(), True),
            T.StructField("isDdl", T.BooleanType(), True),
            T.StructField("ts", T.LongType(), True),
            T.StructField("es", T.LongType(), True),
            # TiCDC-style commit timestamp; surfaced as a BIGINT column when
            # a configured field named CommitTs/commit_ts has no data[] value
            # (DeserializedSchema.java:184-186)
            T.StructField("CommitTs", T.LongType(), True),
            T.StructField("old", T.ArrayType(payload), True),
            T.StructField("pkNames", T.ArrayType(T.StringType()), True),
            T.StructField("sql", T.StringType(), True),
            # Kafka record metadata carried inline when simulating the broker
            # with a file stream (real Kafka source supplies these natively).
            T.StructField("_offset", T.LongType(), True),
            T.StructField("_partition", T.IntegerType(), True),
        ]
    )


# The transcripts sink schema (BASELINE.json input_hint / FIXTURES.md §1).
TRANSCRIPT_FIELDS = [
    FieldSpec("conv_id", 1, "string", is_nullable=False, is_primary_key=True),
    FieldSpec("turn_idx", 2, "int", is_nullable=False, is_primary_key=True),
    FieldSpec("role", 3, "string"),
    FieldSpec("text", 4, "string"),
    FieldSpec("tool", 5, "string"),
    FieldSpec("ts", 6, "timestamp"),
]


def transcript_task(database: str = "chat", table: str = "transcripts") -> TaskSpec:
    return TaskSpec(
        source_database=database,
        source_table=table,
        fields=list(TRANSCRIPT_FIELDS),
        namespace="chat",
        table="transcripts",
        partition_by="days(ts)",
    )
