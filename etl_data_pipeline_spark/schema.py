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

``parquet_schema``/``read_parquet`` resolve a parquet read's schema on
the driver from the one footer Spark's own inference would read, so a
read costs a footer instead of a one-task inference job.
"""

from __future__ import annotations

import json
import re

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

_PARQUET_PKG = "org.apache.spark.sql.execution.datasources.parquet."
_GLOB_CHARS = re.compile(r"[*?\[\]{}\\]")


class SchemaMismatchError(ValueError):
    """Raised when a DataFrame does not match its declared schema."""


def _listing_hides(name: str) -> bool:
    """Spark's file-listing filter (``HadoopFSUtils.shouldFilterOutPathName``):
    ``_``/``.``-prefixed names and in-flight ``._COPYING_`` files are
    invisible to a read, except the parquet summary files."""
    hidden = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return hidden and not name.startswith(("_common_metadata", "_metadata"))


def parquet_schema(
    spark: SparkSession, path: str, *, nanos_as_long: bool = False
) -> StructType | None:
    """The schema ``spark.read.parquet(path).schema`` would infer, read
    on the driver from one footer — no Spark job.

    Spark's inference (``ParquetUtils.inferSchema`` with ``mergeSchema``
    off) reads the footer of the first data file by full path string
    and converts it with ``ParquetFileFormat.readSchemaFromFooter``; this
    does the same through the driver's Hadoop ``FileSystem`` and Spark's
    own converter over the session's SQL conf (the confs inference
    leaves at their defaults — case sensitivity, field ids — only act
    when matching a requested schema, which this never passes).
    ``nanos_as_long`` reads TIMESTAMP(NANOS) columns as bigint for this
    one call (``spark.sql.legacy.parquet.nanosAsLong`` on a copy of the
    session conf — the session is never touched).

    Returns None — the caller then lets Spark infer, so the read keeps
    Spark's own outcome and error — when:

    - the path is missing (Spark raises ``PATH_NOT_FOUND``) or is a glob;
    - the directory holds no visible data file (e.g. only
      ``_temporary``/``_SUCCESS``: ``UNABLE_TO_INFER_SCHEMA``);
    - it has a visible subdirectory (partition discovery stays Spark's);
    - ``_metadata``/``_common_metadata`` is present (inference prefers it);
    - ``spark.sql.parquet.mergeSchema`` is on, or
      ``spark.sql.parquet.ignoreVariantAnnotation`` (inference's
      converter ignores that conf);
    - the footer cannot be read or converted.
    """
    if _GLOB_CHARS.search(path):
        return None
    client = spark.sparkContext._gateway._gateway_client

    def jclass(name: str) -> JavaClass:
        return JavaClass(name, client)

    state = spark._jsparkSession.sessionState()
    try:
        conf = state.conf()
        if conf.isParquetSchemaMergingEnabled() or conf.parquetIgnoreVariantAnnotation():
            return None
        if nanos_as_long:
            conf = conf.clone()
            conf.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
        hadoop_conf = state.newHadoopConf()
        root = jclass("org.apache.hadoop.fs.Path")(path)
        fs = root.getFileSystem(hadoop_conf)
        status = fs.getFileStatus(root)  # missing path -> FileNotFoundException
        if status.isDirectory():
            data = []
            for child in fs.listStatus(root):
                name = child.getPath().getName()
                if _listing_hides(name):
                    continue
                if child.isDirectory() or name.startswith("_"):
                    return None
                data.append((name, child))
            if not data:
                return None
            # same-directory paths order as their names; Java compares
            # strings by UTF-16 code unit
            status = min(data, key=lambda d: d[0].encode("utf-16-be"))[1]
        elif _listing_hides(status.getPath().getName()):
            return None
        footer = jclass("org.apache.parquet.hadoop.Footer")(
            status.getPath(),
            jclass(_PARQUET_PKG + "ParquetFooterReader").readFooter(
                jclass("org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(
                    status, hadoop_conf
                ),
                jclass(
                    "org.apache.parquet.format.converter.ParquetMetadataConverter"
                ).SKIP_ROW_GROUPS,
            ),
        )
        schema = jclass(_PARQUET_PKG + "ParquetFileFormat").readSchemaFromFooter(
            footer, jclass(_PARQUET_PKG + "ParquetToSparkSchemaConverter")(conf)
        )
        return StructType.fromJson(json.loads(schema.asNullable().json()))
    except Py4JError:
        return None


def read_parquet(
    spark: SparkSession, path: str, reader_options: dict | None = None
) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema from
    :func:`parquet_schema` when it names one (no inference job), else
    Spark's own inference. Reader options go to Spark unchanged and
    leave the schema to it."""
    reader = spark.read
    if reader_options:
        return reader.options(**reader_options).parquet(path)
    schema = parquet_schema(spark, path)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


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
