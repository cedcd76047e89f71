"""Schema validation & conformance (SURVEY.md §1.2 — the checking the
reference never does)."""

import os

import pytest
from pyspark.sql import functions as F

from etl_data_pipeline_spark.schema import (
    SchemaMismatchError,
    conform_schema,
    parquet_schema,
    read_parquet,
    schema_diff,
    validate_schema,
)
from etl_data_pipeline_spark.session import TPCH_TABLES, load_table


def test_validate_pass_and_column_order(spark):
    df = spark.createDataFrame([("x", 1)], "b string, a bigint").select("b", "a")
    out = validate_schema(df, "a BIGINT, b STRING")
    assert out.columns == ["a", "b"]  # normalized to declaration order


def test_validate_missing_and_mistyped(spark):
    df = spark.createDataFrame([(1, 2)], "a bigint, c bigint")
    with pytest.raises(SchemaMismatchError) as e:
        validate_schema(df, "a BIGINT, b STRING")
    msg = str(e.value)
    assert "missing column: b" in msg and "unexpected column: c" in msg
    df2 = spark.createDataFrame([("1",)], "a string")
    diff = schema_diff(df2, "a BIGINT")
    assert diff == ["type mismatch: a is string, expected bigint"]


def test_validate_allow_extra_drops(spark):
    df = spark.createDataFrame([(1, "x", 9.9)], "a bigint, b string, extra double")
    out = validate_schema(df, "a BIGINT, b STRING", allow_extra=True)
    assert out.columns == ["a", "b"]


def test_conform_adds_nulls_and_casts(spark):
    df = spark.createDataFrame([("5", "x")], "a string, extra string")
    out = conform_schema(df, "a BIGINT, b STRING")
    row = out.first()
    assert out.columns == ["a", "b"]
    assert row.a == 5 and row.b is None
    with pytest.raises(SchemaMismatchError):
        conform_schema(df, "a BIGINT, b STRING", strict_extra=True)


def test_pipeline_fails_table_on_schema_drift(spark, tmp_path):
    from etl_data_pipeline_spark.pipeline import IncrementalPipeline
    from etl_data_pipeline_spark.spec import PipelineSpec, TableSpec
    from etl_data_pipeline_spark.watermark import WatermarkStore

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "x")], "id long, v string").write.parquet(
        os.path.join(src, "t.parquet")
    )
    spec = PipelineSpec(
        tables=[
            TableSpec(
                name="t",
                source_options={"dir": src},
                sink_options={"dir": str(tmp_path / "sink")},
                expected_schema="id BIGINT, v STRING, missing_col DOUBLE",
            )
        ]
    )
    pipe = IncrementalPipeline(spark, spec, WatermarkStore(str(tmp_path / "s.json")))
    (res,) = pipe.run()
    assert res.status == "failed"
    assert "missing column: missing_col" in res.error
    assert not os.path.exists(os.path.join(str(tmp_path / "sink"), "t"))


# -- parquet_schema: the footer schema equals Spark's inference -------------


def _jobs_in_group(spark, group, fn):
    """(fn(), Spark jobs it submitted), counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "schema resolution job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_parquet_schema_equals_inference_on_harness_tables(spark, sf_dir, sf):
    for t in TPCH_TABLES:
        path = os.path.join(os.path.dirname(sf_dir), sf, f"{t}.parquet")
        assert parquet_schema(spark, path) == spark.read.parquet(path).schema, t


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_load_table_submits_no_spark_job(spark, sf_dir, sf):
    """Every harness table resolves without an inference job."""
    d = os.path.join(os.path.dirname(sf_dir), sf)
    for t in TPCH_TABLES:
        df, jobs = _jobs_in_group(
            spark, f"load-{sf}-{t}", lambda: load_table(spark, d, t)
        )
        assert df.columns and jobs == 0, (t, jobs)


def _edge_tables():
    import datetime as dt
    from decimal import Decimal

    import pyarrow as pa

    ts = [dt.datetime(2024, 1, 2, 3, 4, 5, 678901), None]
    return {
        "ntz": pa.table({"ts": pa.array(ts, pa.timestamp("us"))}),
        "ntz_ms": pa.table({"ts": pa.array(ts, pa.timestamp("ms"))}),
        "tz": pa.table({"ts": pa.array(ts, pa.timestamp("us", tz="UTC"))}),
        "decimal": pa.table(
            {"d": pa.array([Decimal("1.25"), None], pa.decimal128(12, 2))}
        ),
        "list_float": pa.table(
            {"v": pa.array([[1.5, 2.0], None], pa.list_(pa.float32()))}
        ),
        "struct": pa.table(
            {"s": pa.array([{"a": 1, "b": "x"}, None],
                           pa.struct([("a", pa.int64()), ("b", pa.string())]))}
        ),
        "map": pa.table(
            {"m": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int32()))}
        ),
        "small_ints": pa.table(
            {"i8": pa.array([1, None], pa.int8()),
             "i16": pa.array([2, None], pa.int16())}
        ),
        "not_null": pa.table(
            pa.Table.from_pydict({"k": [1, 2]}).columns,
            schema=pa.schema([pa.field("k", pa.int64(), nullable=False)]),
        ),
    }


def _assert_same_read(spark, path):
    inferred = spark.read.parquet(path)
    assert parquet_schema(spark, path) == inferred.schema
    df, jobs = _jobs_in_group(spark, f"edge-{path}", lambda: read_parquet(spark, path))
    assert jobs == 0 and df.schema == inferred.schema
    assert sorted(map(repr, df.collect())) == sorted(map(repr, inferred.collect()))


def test_parquet_schema_equals_inference_on_edge_files(spark, tmp_path):
    import pyarrow.parquet as pq

    for name, table in _edge_tables().items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(table, path)
        _assert_same_read(spark, path)
    # a Spark-written directory: row metadata in the footer, _SUCCESS
    # and .crc side files next to the part files
    out = str(tmp_path / "spark_written")
    spark.range(3).selectExpr(
        "id", "CAST(id AS DECIMAL(10, 2)) AS d", "array(id) AS a",
        "named_struct('x', id) AS s", "map('k', id) AS m",
        "CAST(timestamp_micros(id) AS TIMESTAMP_NTZ) AS ntz",
        "timestamp_micros(id) AS ts",
        "CAST(id AS TINYINT) AS i8",
    ).coalesce(2).write.parquet(out)
    assert any(f.startswith(("_", ".")) for f in os.listdir(out))
    _assert_same_read(spark, out)


def test_parquet_schema_picks_the_file_spark_infers_from(spark, tmp_path):
    """Files of differing schema: both pick the first visible data file
    by path; hidden files (``_``/``.``-prefixed) are never the source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "multi"
    d.mkdir()
    pq.write_table(pa.table({"a": [1], "late": ["x"]}), d / "part-b.parquet")
    pq.write_table(pa.table({"a": [2], "early": [1.5]}), d / "part-a.parquet")
    pq.write_table(pa.table({"hidden": [0]}), d / ".part-0.parquet")
    pq.write_table(pa.table({"hidden": [0]}), d / "_part-0.parquet")
    schema = parquet_schema(spark, str(d))
    assert schema == spark.read.parquet(str(d)).schema
    assert schema.fieldNames() == ["a", "early"]


def test_parquet_schema_none_cases_keep_spark_outcome(spark, tmp_path):
    """Where the footer cannot name the schema, the read is Spark's."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    from etl_data_pipeline_spark.sinks import read_parquet_if_exists

    # missing path: still PATH_NOT_FOUND, i.e. "first write"
    missing = str(tmp_path / "missing")
    assert parquet_schema(spark, missing) is None
    assert read_parquet_if_exists(spark, missing) is None

    # only an in-flight _temporary dir: still UNABLE_TO_INFER_SCHEMA
    tmp_only = tmp_path / "tmp_only"
    (tmp_only / "_temporary" / "0").mkdir(parents=True)
    pq.write_table(pa.table({"a": [1]}), tmp_only / "_temporary" / "0" / "p.parquet")
    assert parquet_schema(spark, str(tmp_only)) is None
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        read_parquet(spark, str(tmp_only))

    # hive-partitioned: partition discovery keeps the partition column
    parted = str(tmp_path / "parted")
    spark.createDataFrame([(1, "eu"), (2, "us")], "k long, region string") \
        .write.partitionBy("region").parquet(parted)
    assert parquet_schema(spark, parted) is None
    df = read_parquet(spark, parted)
    assert df.schema == spark.read.parquet(parted).schema
    assert "region" in df.columns

    # summary file present: inference prefers it
    summ = tmp_path / "summary"
    summ.mkdir()
    pq.write_table(pa.table({"a": [1]}), summ / "part-0.parquet")
    pq.write_metadata(pa.schema([("a", pa.int64())]), summ / "_common_metadata")
    assert parquet_schema(spark, str(summ)) is None

    # reader options go to Spark: mergeSchema still merges
    merge = tmp_path / "merge"
    merge.mkdir()
    pq.write_table(pa.table({"a": [1], "x": ["s"]}), merge / "part-0.parquet")
    pq.write_table(pa.table({"a": [2], "y": [2.5]}), merge / "part-1.parquet")
    merged = read_parquet(spark, str(merge), {"mergeSchema": "true"})
    assert merged.schema == (
        spark.read.option("mergeSchema", "true").parquet(str(merge)).schema
    )
    assert sorted(merged.columns) == ["a", "x", "y"]
    # ... and so does the session-wide switch
    key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try:
        assert parquet_schema(spark, str(merge)) is None
        assert sorted(read_parquet(spark, str(merge)).columns) == ["a", "x", "y"]
    finally:
        spark.conf.unset(key)


@pytest.mark.parametrize("caller_value", [None, "true"])
def test_load_table_events_nanos_leaves_session_conf_alone(
    spark, tmp_path, caller_value
):
    """A TIMESTAMP(NANOS) ``events.ts`` lands as exact-micros timestamp
    and the session's nanosAsLong key is the same before and after,
    whether the caller left it unset or set it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos = [1_700_000_000_123_456_789, 1_700_000_000_999_999_999]
    pq.write_table(
        pa.table({"ts": pa.array(nanos, pa.timestamp("ns")), "v": [1, 2]}),
        tmp_path / "events.parquet",
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    if caller_value is not None:
        spark.conf.set(key, caller_value)
    try:
        before = spark.conf.get(key, None)
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        micros = [r[0] for r in df.selectExpr("unix_micros(ts)").orderBy(1).collect()]
        assert micros == [n // 1000 for n in nanos]
        assert spark.conf.get(key, None) == before == caller_value
    finally:
        spark.conf.unset(key)
