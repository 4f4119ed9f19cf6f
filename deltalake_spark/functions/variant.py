"""Variant / dynamic-JSON column helpers.

The reference implements a full Parquet VARIANT binary codec
(/root/reference/src/parquet/variant.ts:80-684) plus shredding helpers
(src/parquet/index.ts:290-326) because its rows are schemaless JS objects.
Spark 4 has native ``VariantType`` (binary variant encoding per the same
Parquet spec), so our surface is thin wrappers plus the two operations that
matter at scale:

- **shredding** (:func:`shred`): materialize typed subcolumns from a
  variant/JSON column so Parquet writes real column chunks with min/max
  stats → file skipping + pushdown work on those paths (the whole point of
  the reference's shredding machinery);
- **schema inference** (:func:`parse_json_typed`): when the shape IS
  stable, promote JSON strings to real structs (SURVEY §1: use native
  nested types where shape is known, variant where it isn't).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def to_variant(col: Column | str) -> Column:
    """JSON string column → VariantType (binary variant encoding —
    reference encodeVariant, variant.ts:80-217, now engine-native)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.parse_json(c)


def variant_get(col: Column | str, path: str, as_type: str = "string") -> Column:
    """Typed path extraction from a variant (reference decodeVariant +
    path walk, variant.ts:447-684). Strict: errors on type mismatch."""
    c = F.col(col) if isinstance(col, str) else col
    return F.variant_get(c, path, as_type)


def try_variant_get(col: Column | str, path: str,
                    as_type: str = "string") -> Column:
    """Null-on-mismatch variant extraction."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_variant_get(c, path, as_type)


def shred(
    df: DataFrame,
    variant_col: str,
    paths: dict[str, tuple[str, str]],
) -> DataFrame:
    """Shred variant paths into typed top-level columns.

    ``paths`` maps new column name → (variant path, spark type), e.g.
    ``{"k": ("$.k", "int")}``. Writing the result persists real Parquet
    column chunks with stats, so scans filtering on shredded columns skip
    files/row groups — the reference tracked 'shredded' typed subcolumns
    for exactly this (src/parquet/index.ts:290-326).
    """
    out = df
    for name, (path, typ) in paths.items():
        out = out.withColumn(
            name, F.try_variant_get(F.col(variant_col), path, typ)
        )
    return out


def infer_json_schema(df: DataFrame, json_col: str, sample: int = 1000):
    """Infer a struct schema from a sample of a JSON-string column
    (reference infers schema from data at write time,
    src/delta/table.ts:1289-1334)."""
    sampled = [
        r[0] for r in df.select(json_col).limit(sample).collect()
        if r[0] is not None
    ]
    if not sampled:
        return None
    rdd_free = df.sparkSession.createDataFrame(
        [(s,) for s in sampled], f"{json_col} string"
    )
    return rdd_free.select(
        F.schema_of_json(F.lit(sampled[0])).alias("s")
    ).first()["s"]


def parse_json_typed(df: DataFrame, json_col: str,
                     out_col: str | None = None,
                     sample: int = 1000) -> DataFrame:
    """Promote a JSON-string column to a real struct when shape is stable
    (reference parseJsonFields on read, src/utils/index.ts:311-335 — done
    once here, not per row per query)."""
    ddl = infer_json_schema(df, json_col, sample)
    if ddl is None:
        return df
    return df.withColumn(out_col or json_col,
                         F.from_json(F.col(json_col), ddl))
