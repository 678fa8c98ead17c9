"""SparkSession construction tuned for the engine.

Single place that encodes the scale-oriented defaults: AQE on (runtime
re-planning, skew-join handling, partition coalescing), a broadcast threshold
sized for dimension tables, and Arrow for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    MapType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from .policy.identifiers import backtick


def get_spark(
    app_name: str = "dbt-schema-builder-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the same entry points run under the driver harness and under pytest.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dimension tables (region/nation/customer/supplier/part at test SF)
        # should broadcast; 64 MiB leaves headroom at larger SF while the
        # 100 TB fact side never broadcasts.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas UDF / applyInPandas / mapInPandas paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(NANOS) is rejected by default; read as long and
        # convert in read_table (Spark has no nanosecond timestamp type).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Parquet scans: vectorized reader + pushdown are on by default;
        # keep split size default (128 MiB) — right for wide fact scans.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Whole-stage-codegen class cache: the default (100 entries)
        # thrashes on any session running more than a handful of
        # distinct queries — measured on the 119-query bench: ~1,600
        # distinct codegen units, 2,550 Janino recompiles PER PASS at
        # ~4 ms each under the default, ~0 recompiles on warm passes at
        # 8192 (OPTIMIZATION_r13.md §8). Driver-side JVM memory only
        # (~1.6k small generated classes), independent of core count /
        # data scale.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _footer_file(path: str) -> str | None:
    """The file whose footer Spark's inference reads for ``path``: the
    path itself, or the first data file of a flat local directory (files
    hidden by Spark's rule skipped). None for anything else — a remote URI,
    an empty directory, or a directory with subdirectories (a
    Hive-partitioned table's partition columns are in no footer)."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    entries = sorted(
        e for e in os.listdir(path)
        if not e.startswith(".") and not (e.startswith("_") and "=" not in e)
    )
    if not entries or any(os.path.isdir(os.path.join(path, e)) for e in entries):
        return None
    return os.path.join(path, entries[0])


def _nested_types(arrow_type):
    """Every Arrow type nested inside ``arrow_type`` (list items, struct
    fields, map entries), depth first."""
    for i in range(arrow_type.num_fields):
        child = arrow_type.field(i).type
        yield child
        yield from _nested_types(child)


def _as_nullable(dtype: DataType) -> DataType:
    """Spark's ``asNullable``: a file source reads every field, array
    element and map value as nullable, whatever the footer says."""
    if isinstance(dtype, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True) for f in dtype.fields]
        )
    if isinstance(dtype, ArrayType):
        return ArrayType(_as_nullable(dtype.elementType), True)
    if isinstance(dtype, MapType):
        return MapType(_as_nullable(dtype.keyType), _as_nullable(dtype.valueType), True)
    return dtype


def footer_schema(path: str) -> tuple[StructType | None, dict[str, DataType]]:
    """The schema ``read_table`` returns for a parquet table, from one read
    of one footer, and its TIMESTAMP(NANOS) columns.

    The schema is PySpark's Arrow mapping with naive timestamps as
    TIMESTAMP_NTZ — the types Spark's own inference gives, every field
    nullable — except that NANOS columns carry their normalized type,
    TIMESTAMP_NTZ micros. The NANOS map holds the type Spark reads each of
    them as: an epoch-nanos long for INT64 (``nanosAsLong``), a timestamp
    for legacy INT96.

    The schema is None where the footer cannot decide it, and Spark must
    infer: no single local footer (see ``_footer_file``), a type PySpark's
    mapping rejects (unsigned integers, float16, date64, ...), a type Spark
    reads differently from that mapping (duration and null columns, TIME),
    or a NANOS timestamp nested in a struct, list or map."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    file = _footer_file(path)
    if file is None:
        return None, {}
    footer = pq.ParquetFile(file).schema  # the footer read ``read_schema`` makes
    arrow = footer.to_arrow_schema()
    int96 = {
        footer.column(i).path
        for i in range(len(footer))
        if footer.column(i).physical_type == "INT96"
    }
    nanos: dict[str, DataType] = {
        f.name: TimestampType() if f.name in int96 else LongType()
        for f in arrow
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    }
    for f in arrow:
        nested = list(_nested_types(f.type))
        if any(
            pa.types.is_duration(t) or pa.types.is_time(t) or pa.types.is_null(t)
            for t in [f.type, *nested]
        ) or any(pa.types.is_timestamp(t) and t.unit == "ns" for t in nested):
            return None, nanos
    try:
        schema = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    except TypeError:  # PySparkTypeError: no Spark type for this Arrow type
        return None, nanos
    return _as_nullable(StructType([
        StructField(f.name, TimestampNTZType()) if f.name in nanos else f
        for f in schema.fields
    ])), nanos


_EPOCH_NTZ = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"


def epoch_millis(col) -> F.Column:
    """Epoch milliseconds of a timestamp column, NTZ-safe.

    ``unix_millis`` rejects TIMESTAMP_NTZ (the type every nanos parquet
    column surfaces as under Spark 4.1); ``timestamp_diff`` against an NTZ
    epoch literal computes the same floor-to-ms value without a timezone
    dependency. LTZ inputs are first cast to NTZ (identity under the UTC
    session this engine pins)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MILLISECOND",
        F.expr(_EPOCH_NTZ),
        c.cast("timestamp_ntz"),
    )


def epoch_micros(col) -> F.Column:
    """Epoch microseconds, NTZ-safe twin of ``unix_micros``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND",
        F.expr(_EPOCH_NTZ),
        c.cast("timestamp_ntz"),
    )


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read one parquet table with the schema its footer gives, normalizing
    nanosecond timestamps to TIMESTAMP_NTZ microseconds on any runtime.

    One footer read (``footer_schema``) decides both the schema and the
    NANOS handling, and Spark is given that schema, so the read runs no
    schema-inference job. Only where the footer cannot decide the schema
    (a Hive-partitioned directory, a type without an exact Spark mapping)
    does Spark infer it, one job per read as before.

    This is the one seam where timestamp representation is decided: every
    consumer sees TIMESTAMP_NTZ micros and derives epoch math through
    ``epoch_millis``/``epoch_micros`` (never ``unix_millis``, which
    rejects NTZ). A NANOS column is read as its epoch-nanos long — with a
    given schema under any session, and under inference through the
    ``nanosAsLong`` conf set here — and converted with integer ``div``
    (full int64 precision, truncating to the micro as DuckDB does) from
    the NTZ epoch, which needs no timezone; a legacy INT96 timestamp is
    cast to NTZ (an identity under the UTC session the engine pins)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    schema, nanos = footer_schema(path)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(StructType([
            StructField(f.name, nanos.get(f.name, f.dataType)) for f in schema.fields
        ]))
    df = reader.parquet(path)
    normalized = {}
    for c, stored in nanos.items():
        if isinstance(stored, LongType):
            normalized[c] = F.expr(
                f"timestampadd(MICROSECOND, {backtick(c)} div 1000, {_EPOCH_NTZ})"
            )
        else:
            normalized[c] = F.expr(f"CAST({backtick(c)} AS TIMESTAMP_NTZ)")
    return df.withColumns(normalized) if normalized else df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES):
    """Load the driver's parquet tables as a dict of DataFrames."""
    return {name: read_table(spark, f"{sf_dir}/{name}.parquet") for name in names}


def source_schemas(source_dir: str) -> dict[str, StructType]:
    """The schema ``read_table`` gives every table in ``source_dir``, by
    table name: one per ``<name>.parquet`` entry, a file or a directory
    table, sorted. Entries starting with ``.`` or ``_`` are hidden, as
    Spark hides them.

    Each schema comes from the table's footer (``footer_schema``), so the
    scan starts no JVM. Only a table whose footer cannot decide its schema
    (a Hive-partitioned directory, a type without an exact Spark mapping)
    starts a session, once, and takes ``read_table``'s inferred schema."""
    schemas: dict[str, StructType] = {}
    spark = None
    for entry in sorted(os.listdir(source_dir)):
        if entry.startswith((".", "_")) or not entry.endswith(".parquet"):
            continue
        path = os.path.join(source_dir, entry)
        schema, _ = footer_schema(path)
        if schema is None:
            spark = spark or get_spark()
            schema = read_table(spark, path).schema
        schemas[entry[: -len(".parquet")]] = schema
    return schemas


# ---------------------------------------------------------------------------
# Operator cache hygiene (r6 verdict "what's wrong" #1)
#
# Operators persist() subtrees their returned plan consumes more than once
# (self-join inputs, LM tables, signature frames). The persist must OUTLIVE
# the function — the consumer materializes the returned DataFrame later —
# so the operator cannot unpersist before returning, and a library user
# composing many operators in one session accumulates cached blocks until
# LRU eviction (the pollution mechanism that fabricated three past bench
# "regressions"). The contract: operators register every persist here via
# ``track_persist``; the consumer calls ``release_caches()`` after
# materializing results (bench.py and tools/driver_sim.py do — between
# queries). ``spark.catalog.clearCache()`` also works but nukes the
# caller's OWN cached frames too; this release is scoped to what the
# operators pinned.
# ---------------------------------------------------------------------------

_TRACKED_PERSISTS: list = []


def track_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() + register for scoped release. STRONG references by
    design: the JVM-side cache outlives the operator's Python locals
    (persist is cluster state, not object state — a weakref registry
    would silently forget every block the moment the operator
    returned); what's held is a plan wrapper, a few KB each, cleared
    on every release."""
    out = df.persist(storage_level) if storage_level is not None else df.persist()
    _TRACKED_PERSISTS.append(out)
    return out


def release_caches() -> int:
    """Unpersist every operator-tracked cached frame; returns how many
    were released. Blocking=False (Spark's default): the JVM frees the
    blocks asynchronously. Takes no session argument on purpose: the
    persist registry is process-global (one tracked list regardless of
    how many sessions exist), and a parameter would wrongly suggest
    per-session scoping."""
    n = 0
    for df in _TRACKED_PERSISTS:
        try:
            df.unpersist()
            n += 1
        except Exception:
            # session already stopped — nothing to free
            pass
    _TRACKED_PERSISTS.clear()
    return n
