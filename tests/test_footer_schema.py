"""``read_table`` takes its schema from the parquet footer: the footer
schema equals what Spark's inference plus the NANOS normalization gave,
the rows are the same, the tables Spark must still infer (Hive-partitioned,
unmappable types) still are, and neither the reads nor the trifecta build
over them launch a Spark job."""

import decimal
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, TimestampNTZType, TimestampType

from dbt_schema_builder_spark.config import AppPolicy, SourcePolicy
from dbt_schema_builder_spark.session import TABLES, footer_schema, read_table
from dbt_schema_builder_spark.views import TrifectaBuilder

_EPOCH_NTZ = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"


def _inferred(spark, path):
    """What ``read_table`` returned when Spark inferred every schema:
    the inferred read, NANOS columns (epoch-nanos longs under
    ``nanosAsLong``) truncated to TIMESTAMP_NTZ micros."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    arrow = pq.read_schema(path)
    for f in arrow:
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            df = df.withColumn(
                f.name, F.expr(f"timestampadd(MICROSECOND, {f.name} div 1000, {_EPOCH_NTZ})")
            )
    return df


def _every_type_file(path):
    n = 3
    table = pa.table({
        "id": pa.array(range(n), pa.int64()),
        "i8": pa.array([1, None, -3], pa.int8()),
        "i16": pa.array([1, 2, None], pa.int16()),
        "i32": pa.array([None, 2, 3], pa.int32()),
        "f32": pa.array([1.5, None, -2.25], pa.float32()),
        "f64": pa.array([0.1, 2.0, None], pa.float64()),
        "dec": pa.array([decimal.Decimal("1.25"), None, decimal.Decimal("-3.50")],
                        pa.decimal128(10, 2)),
        "d": pa.array([0, 19000, None], pa.date32()),
        "bin": pa.array([b"\x00\x01", None, b""], pa.binary()),
        "flag": pa.array([True, None, False], pa.bool_()),
        "s": pa.array(["a", "it's", None], pa.string()),
        "lst": pa.array([[1, 2], None, []], pa.list_(pa.int32())),
        "st": pa.array([{"a": 1, "b": "x"}, None, {"a": None, "b": None}],
                       pa.struct([("a", pa.int32()), ("b", pa.string())])),
        "m": pa.array([[("k", 1)], None, []], pa.map_(pa.string(), pa.int64())),
        "ts_us": pa.array([1_700_000_000_123_456, None, 0], pa.timestamp("us")),
        "ts_utc": pa.array([1_700_000_000_123_456, 1, None], pa.timestamp("us", tz="UTC")),
        "ts_ns": pa.array([1_700_000_000_123_456_789, None, -1], pa.timestamp("ns")),
        "req": pa.array([7, 8, 9], pa.int32()),
    })
    schema = pa.schema([f.with_nullable(f.name != "req") for f in table.schema])
    pq.write_table(table.cast(schema), path)
    return path


@pytest.mark.parametrize("name", TABLES)
def test_footer_schema_matches_inference(spark, sf_dir, name):
    path = f"{sf_dir}/{name}.parquet"
    schema, _ = footer_schema(path)
    assert schema == _inferred(spark, path).schema
    assert read_table(spark, path).schema == schema


def test_footer_schema_covers_every_column_type(spark, tmp_path):
    path = _every_type_file(str(tmp_path / "types.parquet"))
    schema, nanos = footer_schema(path)
    old = _inferred(spark, path)
    assert schema == old.schema
    assert list(nanos) == ["ts_ns"]
    assert schema["ts_ns"].dataType == TimestampNTZType()
    assert schema["req"].nullable  # REQUIRED in the footer, nullable in Spark
    new = read_table(spark, path)
    assert new.schema == schema
    # map columns cannot take part in a set operation: compare sorted rows
    assert new.orderBy("id").collect() == old.orderBy("id").collect()


@pytest.mark.parametrize("name", ["orders", "lineitem", "events"])
def test_footer_schema_reads_the_same_rows(spark, sf_dir, name):
    path = f"{sf_dir}/{name}.parquet"
    new, old = read_table(spark, path), _inferred(spark, path)
    assert new.count() == old.count() > 0
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_hive_partitioned_directory_is_inferred(spark, tmp_path):
    root = tmp_path / "part_table"
    for k in (1, 2):
        (root / f"k={k}").mkdir(parents=True)
        pq.write_table(
            pa.table({"id": pa.array([k], pa.int64()),
                      "ts": pa.array([k * 1_000_000_001], pa.timestamp("us"))}),
            str(root / f"k={k}" / "part-0.parquet"),
        )
    assert footer_schema(str(root)) == (None, {})
    df = read_table(spark, str(root))
    assert df.schema == spark.read.parquet(str(root)).schema
    assert df.columns == ["id", "ts", "k"]
    assert sorted(r.k for r in df.collect()) == [1, 2]


@pytest.mark.parametrize(
    "column",
    [pa.array([1, 2], pa.uint32()), pa.array([1, 2], pa.duration("us"))],
    ids=["rejected-uint32", "read-otherwise-duration"],
)
def test_unmappable_type_is_inferred(spark, tmp_path, column):
    path = str(tmp_path / "odd.parquet")
    pq.write_table(
        pa.table({"odd": column,
                  "ts_ns": pa.array([1_000_000_000_123_456_789, None], pa.timestamp("ns"))}),
        path,
    )
    schema, nanos = footer_schema(path)
    assert schema is None and list(nanos) == ["ts_ns"]
    df = read_table(spark, path)
    assert df.schema == _inferred(spark, path).schema
    assert df.schema["ts_ns"] == StructField("ts_ns", TimestampNTZType(), True)


def test_spark_written_int96_directory(spark, tmp_path):
    # Spark's own INT96 timestamps (footer: timestamp[ns]) are read as
    # timestamps and cast to TIMESTAMP_NTZ, as the inferred read did
    path = str(tmp_path / "int96")
    prior = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.sql(
            "SELECT 1 AS id, TIMESTAMP'2020-01-01 01:02:03.123456' AS ts"
        ).write.parquet(path)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prior)
    schema, nanos = footer_schema(path)
    assert nanos == {"ts": TimestampType()}
    old = spark.read.parquet(path).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    assert schema == old.schema
    df = read_table(spark, path)
    assert df.schema == schema and df.collect() == old.collect()


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches, read from the status tracker under one
    job group. A marker job runs after ``fn``; the listener bus delivers
    events in order, so once the marker is visible every job of ``fn``
    is too."""
    sc, group = spark.sparkContext, f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        fn()
    finally:
        sc.setJobGroup(f"{group}-marker", "job-count pin marker")
        sc.parallelize([0], 1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker, deadline = sc.statusTracker(), time.monotonic() + 30
    while not tracker.getJobIdsForGroup(f"{group}-marker"):
        assert time.monotonic() < deadline, "marker job never reached the tracker"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_read_and_build_launch_no_job(spark, sf_dir, tmp_path):
    tables = {}

    def read():
        tables.update({t: read_table(spark, f"{sf_dir}/{t}.parquet") for t in TABLES})

    assert _jobs_launched(spark, read) == 0
    policy = AppPolicy(
        app="PIN",
        sources={"RAW": SourcePolicy(
            name="RAW", exclude=["embeddings"], soft_delete=("l_shipdate", "IS NOT NULL")
        )},
        redactions={"PIN.CUSTOMER": {"C_NAME": "<redacted>", "C_ACCTBAL": 0}},
        banned_columns=["PROPS"],
        unmanaged_tables=["PIN.SUPPLIER"],
    )
    results = []
    assert _jobs_launched(
        spark, lambda: results.append(TrifectaBuilder(spark, policy).materialize(tables))
    ) == 0
    assert len(results[0].views) == 2 * (len(TABLES) - 2)
    # the pin sees jobs: an inferred read launches one
    path = _every_type_file(str(tmp_path / "types.parquet"))
    assert _jobs_launched(spark, lambda: spark.read.parquet(path)) >= 1
