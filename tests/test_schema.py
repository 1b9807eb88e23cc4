"""Schema/config unit tests — port of the reference's ParamsUtilsTest
semantics (ParamsUtilsTest.java:47-63) onto the new config module.
Pure Python — no SparkSession needed for the parsing half.
"""

from __future__ import annotations

from pyspark.sql import types as T

from kafka2iceberg_spark import config, schema

# transcript analogue of the reference test fixture arg string
# (ParamsUtilsTest.java:18: fields.bid/dt with seq/type/pk/ref params)
ARGS = [
    "source-database=chat",
    "source-table=transcripts",
    "fields.conv_id.seq=1",
    "fields.conv_id.type=string",
    "fields.conv_id.is_primary_key=true",
    "fields.turn_idx.seq=2",
    "fields.turn_idx.type=int",
    "fields.turn_idx.is_primary_key=true",
    "fields.turn_idx.is_nullable=false",
    "fields.role.seq=3",
    "fields.role.type=string",
    "fields.text.seq=4",
    "fields.text.type=string",
    "fields.tool.seq=5",
    "fields.tool.type=string",
    "fields.ts.seq=6",
    "fields.ts.type=timestamp",
    "fields.dt.seq=7",
    "fields.dt.type=date",
    "fields.dt.ref=data.ts",
    "iceberg.table='transcripts'",
]


def test_parse_args_quote_stripping():
    p = config.parse_args(ARGS)
    assert p["iceberg.table"] == "transcripts"
    assert p["source-database"] == "chat"


def test_primary_keys_and_ordering():
    spec = config.task_from_params(config.parse_args(ARGS))
    # reference expects the PK set extracted from is_primary_key=true
    # (ParamsUtilsTest.java:47-51: [bid, dt] → here [conv_id, turn_idx])
    assert spec.primary_keys == ["conv_id", "turn_idx"]
    assert [f.name for f in spec.ordered_fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "dt",
    ]


def test_not_null_intended_semantics():
    # the reference's getNotNullableCols has a known quirk (returns fields
    # marked is_primary_key=false — ParamUtils.java:189-200); we implement
    # the intended rule: explicit not-null ∪ primary keys (SURVEY.md §1.3)
    spec = config.task_from_params(config.parse_args(ARGS))
    assert spec.not_null_cols == ["conv_id", "turn_idx"]


def test_ref_map_defaults_and_overrides():
    # default ref = data.<name> (ParamUtils.java:246-256); explicit override
    # for the derived dt column (task.json:89-94 analogue)
    spec = config.task_from_params(config.parse_args(ARGS))
    assert spec.ref_map["dt"] == "data.ts"
    assert spec.ref_map["text"] == "data.text"
    dt = next(f for f in spec.ordered_fields if f.name == "dt")
    assert isinstance(schema.spark_type(dt.type), T.DateType)


def test_type_lattice():
    # FieldUtils.java:18-68 mapping incl. decimal parse and string fallback
    assert schema.spark_type("bigint") == T.LongType()
    assert schema.spark_type("long") == T.LongType()
    assert schema.spark_type("tinyint") == T.IntegerType()
    assert schema.spark_type("int") == T.IntegerType()
    assert schema.spark_type("bool") == T.BooleanType()
    assert schema.spark_type("boolean") == T.BooleanType()
    assert schema.spark_type("timestamp") == T.TimestampNTZType()
    assert schema.spark_type("timestamp_ntz") == T.TimestampNTZType()
    assert schema.spark_type("date") == T.DateType()
    assert schema.spark_type("decimal(16,4)") == T.DecimalType(16, 4)
    assert schema.spark_type("decimal( 7 , 2 )") == T.DecimalType(7, 2)
    assert schema.spark_type("whatever") == T.StringType()
