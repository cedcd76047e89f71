"""Explicit schema validation & conformance.

The reference has NO schema checking: column names come from the
cursor (util.py:173) and types pass through opaquely to psycopg2
(util.py:218,232) — a source-side column rename or type change is
discovered as a target INSERT error (or silent corruption). Spark
carries a real StructType on every DataFrame, so the engine validates
for free (SURVEY.md §1.2): specs may declare an expected DDL schema,
reads are checked before any write, and a mismatch fails THAT table
with a readable diff (error isolation keeps other tables running).

``conform_schema`` is the evolution counterpart: project/cast a
compatible frame INTO the declared shape (add missing nullable
columns as typed nulls, cast same-named columns, drop or reject
extras) — the write side then always sees one stable contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType


class SchemaMismatchError(ValueError):
    """Raised when a DataFrame does not match its declared schema."""


def contains_map(dt: DataType) -> bool:
    """True when ``dt`` is, or nests, a MapType. Spark can neither
    order nor hash a map, so code that sorts or hashes whole rows
    renders such columns through ``to_json`` (deterministic for the
    same row) instead."""
    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(contains_map(f.dataType) for f in dt.fields)
    return False


def _expected(schema: str | StructType) -> StructType:
    return schema if isinstance(schema, StructType) else StructType.fromDDL(schema)


def schema_diff(df: DataFrame, expected: str | StructType) -> list[str]:
    """Human-readable differences between df.schema and the declared
    schema (empty list == match). Name-keyed; column ORDER is not a
    difference (SELECT fixes order for free)."""
    exp = _expected(expected)
    have = {f.name: f.dataType for f in df.schema.fields}
    want = {f.name: f.dataType for f in exp.fields}
    problems: list[str] = []
    for name, dt in want.items():
        if name not in have:
            problems.append(f"missing column: {name} {dt.simpleString()}")
        elif have[name] != dt:
            problems.append(
                f"type mismatch: {name} is {have[name].simpleString()}, "
                f"expected {dt.simpleString()}"
            )
    for name in have:
        if name not in want:
            problems.append(f"unexpected column: {name} {have[name].simpleString()}")
    return problems


def validate_schema(
    df: DataFrame, expected: str | StructType, allow_extra: bool = False
) -> DataFrame:
    """Assert df matches the declared schema; returns df (column order
    normalized to the declaration) or raises SchemaMismatchError with
    every difference listed. ``allow_extra`` tolerates (and drops)
    surplus source columns — the common widen-upstream case."""
    exp = _expected(expected)
    problems = schema_diff(df, exp)
    if allow_extra:
        problems = [p for p in problems if not p.startswith("unexpected column")]
    if problems:
        raise SchemaMismatchError(
            "schema mismatch:\n  " + "\n  ".join(problems)
        )
    return df.select(*[f.name for f in exp.fields])


def conform_schema(
    df: DataFrame, expected: str | StructType, strict_extra: bool = False
) -> DataFrame:
    """Schema evolution: project df INTO the declared shape — missing
    columns appear as typed nulls, same-named columns are cast to the
    declared type, extras are dropped (or rejected with
    ``strict_extra``). Casts are Catalyst expressions, so conformance
    is map-only and codegen'd at any scale."""
    exp = _expected(expected)
    have = {f.name for f in df.schema.fields}
    if strict_extra:
        extras = have - {f.name for f in exp.fields}
        if extras:
            raise SchemaMismatchError(f"unexpected columns: {sorted(extras)}")
    cols = [
        (F.col(f.name).cast(f.dataType) if f.name in have
         else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in exp.fields
    ]
    return df.select(*cols)
