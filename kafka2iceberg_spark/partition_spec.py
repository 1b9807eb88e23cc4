"""Iceberg-style hidden partitioning: transforms + spec evolution support.

A partition SPEC is an ordered list of transformed source columns, e.g.
``["day(ts)", "bucket(16, conv_id)"]``. Rows carry no partition column —
the partition value is DERIVED at write time (Iceberg's hidden
partitioning, spec.md "Partition Transforms"), so queries never need to
know the layout and the layout can change without rewriting data.

Transforms (mirroring Iceberg's): ``identity``, ``day``, ``month``,
``hour``, ``bucket(N, col)`` (hash-mod — we use Spark's xxhash64 where
Iceberg uses murmur3; the contract — deterministic, uniform, stable across
restarts — is the same), ``truncate(W, col)`` (string prefix / integer
floor-to-width).

Spec EVOLUTION (reference parity: Iceberg partition-spec evolution): a
table may change its spec mid-life; files written under an old spec stay
valid and readable, new files land under the new spec, and range reads
skip files by their column stats whichever spec wrote them. At 100 TB this is
what lets a pipeline move from day- to hour-granularity (or add a bucket
dimension for a hot key) without an O(table) rewrite.

Partition-value encoding: spec 0 (the constructor's legacy day-partition)
keeps the historical bare format (``2026-08-17`` / ``all``) so existing
tables and tests are untouched; every later spec prefixes its values with
``s{spec_id}-`` and joins multi-field values with ``_`` — all characters
Hive path-escaping leaves alone — so values from different specs can never
collide inside one snapshot's manifest map.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SPEC_RE = re.compile(
    r"^\s*(identity|day|month|hour)\s*\(\s*(\w+)\s*\)\s*$|"
    r"^\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*$"
)

# lexicographic order of the formatted value == chronological order
_TIME_FMT = {"day": "yyyy-MM-dd", "month": "yyyy-MM", "hour": "yyyy-MM-dd-HH"}


@dataclass(frozen=True)
class PartitionField:
    transform: str  # identity | day | month | hour | bucket | truncate
    source: str  # source column name
    param: int | None = None  # N for bucket, W for truncate

    def to_json(self) -> dict:
        return {"transform": self.transform, "source": self.source, "param": self.param}

    @staticmethod
    def from_json(d: dict) -> "PartitionField":
        return PartitionField(d["transform"], d["source"], d.get("param"))

    def __str__(self) -> str:
        if self.param is not None:
            return f"{self.transform}({self.param}, {self.source})"
        return f"{self.transform}({self.source})"


def parse_field(s: str | PartitionField) -> PartitionField:
    if isinstance(s, PartitionField):
        return s
    m = _SPEC_RE.match(s)
    if not m:
        raise ValueError(
            f"bad partition field {s!r} — expected identity|day|month|hour(col) "
            "or bucket|truncate(N, col)"
        )
    if m.group(1):
        return PartitionField(m.group(1), m.group(2))
    return PartitionField(m.group(3), m.group(5), int(m.group(4)))


def parse_spec(fields) -> list[PartitionField]:
    return [parse_field(f) for f in fields]


def spec_to_json(spec: list[PartitionField]) -> list[dict]:
    return [f.to_json() for f in spec]


def spec_from_json(js: list[dict]) -> list[PartitionField]:
    return [PartitionField.from_json(d) for d in js]


def field_expr(f: PartitionField, null_sentinel: str) -> Column:
    """The transformed partition value of one field, as a codegen'd string
    Column (no Python in the write path)."""
    col = F.col(f.source)
    if f.transform == "identity":
        out = col.cast("string")
    elif f.transform in _TIME_FMT:
        out = F.date_format(col, _TIME_FMT[f.transform])
    elif f.transform == "bucket":
        out = F.pmod(F.xxhash64(col), F.lit(f.param)).cast("string")
    elif f.transform == "truncate":
        # string prefix; integral sources get floor-to-width in spec_expr,
        # which can see the bound DataFrame's dtype (Columns are untyped)
        out = F.when(col.isNull(), F.lit(None)).otherwise(
            F.substring(col.cast("string"), 1, f.param)
        )
    else:
        raise ValueError(f"unknown transform {f.transform}")
    return F.coalesce(out, F.lit(null_sentinel))


def spec_expr(
    spec: list[PartitionField], df: DataFrame, null_sentinel: str
) -> Column:
    """Full partition value of a row under ``spec`` (fields joined by '_'),
    bound against ``df`` so truncate can pick string-prefix vs int-floor
    from the actual column dtype."""
    dtypes = dict(df.dtypes)
    parts: list[Column] = []
    for f in spec:
        if f.transform == "truncate" and dtypes.get(f.source) in (
            "int",
            "bigint",
            "smallint",
            "tinyint",
        ):
            col = F.col(f.source)
            e = F.coalesce(
                (col - F.pmod(col, F.lit(f.param))).cast("string"),
                F.lit(null_sentinel),
            )
        else:
            e = field_expr(f, null_sentinel)
        if len(spec) > 1:
            # multi-field values are '_'-joined, so '_' inside a field value
            # (identity strings; the null sentinel itself is
            # '__HIVE_DEFAULT_PARTITION__') would make the value ambiguous
            # to split. Percent-escape, Iceberg-path style; single-field
            # layouts stay byte-identical to pre-evolution tables.
            e = F.replace(
                F.replace(e, F.lit("%"), F.lit("%25")),
                F.lit("_"),
                F.lit("%5F"),
            )
        parts.append(e)
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, F.lit("_"), p)
    return out


def pval_prefix(spec_id: int) -> str:
    return "" if spec_id == 0 else f"s{spec_id}-"


_PREFIX_RE = re.compile(r"^s(\d+)-")


def spec_id_of_pval(pval: str) -> int:
    m = _PREFIX_RE.match(pval)
    return int(m.group(1)) if m else 0
