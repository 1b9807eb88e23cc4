"""Dimension enrichment (Flink broadcast-state analogue):
pipeline.enrich_with_dim broadcast-LEFT-joins a dimension into the facts.
Unmatched facts surface with NULL enrichment, never dropped.
"""

from __future__ import annotations

from kafka2iceberg_spark.pipeline import enrich_with_dim

TOOLS = ["search", "python", "browser", "calculator"]


def _dim_rows(spark, pairs):
    return spark.createDataFrame(pairs, "tool string, owner string")


def test_enrich_with_dim_left_join_and_prefix(spark):
    facts = spark.createDataFrame(
        [("c1", "search"), ("c2", None), ("c3", "unknown")],
        "conv_id string, tool string",
    )
    dim = _dim_rows(spark, [(t, "team_v1") for t in TOOLS])
    out = {r["conv_id"]: r["dim_owner"] for r in enrich_with_dim(
        facts, dim, on="tool"
    ).collect()}
    assert out == {"c1": "team_v1", "c2": None, "c3": None}
