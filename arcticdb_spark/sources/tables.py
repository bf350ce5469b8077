"""Loaders for the driver's TPC-H-ish parquet tables (TESTDATA.md).

Handles the nanosecond-timestamp impedance: the ``events`` table stores
``ts`` as parquet TIMESTAMP(NANOS); Spark reads it as long (with
``spark.sql.legacy.parquet.nanosAsLong=true``) and we truncate to a µs
TIMESTAMP with *exact integer division* (``div 1000`` — no double rounding at
1e18 magnitudes). This matches DuckDB's ``CAST(ts_ns AS TIMESTAMP)``
truncation bit-for-bit, so oracle comparisons are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def ensure_session_conf(spark: SparkSession) -> None:
    """Make an externally-created session (e.g. the verify driver's) behave
    like ours for the configs that change RESULTS, not just speed. All are
    runtime-settable SQL confs."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.ansi.enabled", "false")


def _footer_read_schema(path: str) -> T.StructType | None:
    """The EXACT schema Spark's parquet inference would produce for
    ``path``, derived from one driver-side pyarrow footer read (~0.3 ms)
    instead of the JVM inference pass (~100+ ms of DataSource/footer
    machinery per call, guide §5 — the driver should do almost no work,
    and re-inferring an immutable table's schema on every query is pure
    metadata overhead; DuckDB's per-query footer parse is sub-ms).

    Only single files whose columns all fall inside the verified mapping
    below qualify; anything else returns None and the caller uses Spark's
    own inference. The mapping mirrors the session confs ``ensure_session_
    conf`` pins: ``nanosAsLong=true`` (TIMESTAMP(NANOS) -> LongType) and
    Spark 4's default ``inferTimestampNTZ`` (µs without UTC adjustment ->
    TimestampNTZType). Equality with the inference output is pinned per
    table/SF by tests/test_sources_footer_schema.py."""
    import os

    import pyarrow.parquet as pq

    if not os.path.isfile(path):
        return None   # directory layouts keep partition-column discovery

    def _spark_type(t):
        import pyarrow.types as pat
        if pat.is_int64(t):
            return T.LongType()
        if pat.is_int32(t):
            return T.IntegerType()
        if pat.is_int16(t):
            return T.ShortType()
        if pat.is_int8(t):
            return T.ByteType()
        if pat.is_float64(t):
            return T.DoubleType()
        if pat.is_float32(t):
            return T.FloatType()
        if pat.is_string(t) or pat.is_large_string(t):
            return T.StringType()
        if pat.is_boolean(t):
            return T.BooleanType()
        if pat.is_date32(t):
            return T.DateType()
        if pat.is_timestamp(t):
            if t.unit == "ns":
                return T.LongType()   # nanosAsLong=true reads NANOS as long
            if t.unit == "us":
                return T.TimestampType() if t.tz else T.TimestampNTZType()
            return None               # s/ms: inference rules differ — punt
        if pat.is_list(t):
            et = _spark_type(t.value_type)
            if et is None:
                return None
            return T.ArrayType(et, t.value_field.nullable)
        return None                   # unsigned/decimal/binary/...: punt

    try:
        sch = pq.ParquetFile(path).schema_arrow
    except Exception:
        return None
    fields = []
    for f in sch:
        dt = _spark_type(f.type)
        if dt is None:
            return None
        # parquet inference marks every top-level column nullable
        fields.append(T.StructField(f.name, dt, True))
    return T.StructType(fields)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = _footer_read_schema(path)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
    # convert any ns-long epoch column that was a parquet TIMESTAMP(NANOS)
    # back to a µs TIMESTAMP (floor/truncate — positive epochs only here)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count from the parquet footer — metadata-only, no scan.

    The distributed analogue is the manifest's ``total_rows`` / per-file
    footer num_rows; strategy decisions (broadcast vs grid GEMM) should use
    this, not ``df.count()``."""
    import os

    import pyarrow.parquet as pq
    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        # multi-file table (Spark directory layout): sum the per-file
        # footer counts — still metadata-only, one footer read per file,
        # exactly what a manifest total_rows aggregate does at scale.
        # os.walk, not listdir: hive-partitioned tables nest their part
        # files under key=value subdirectories (r13 source-layout matrix)
        return sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for root, _dirs, files in os.walk(path)
            for f in files if f.endswith(".parquet"))
    return pq.ParquetFile(path).metadata.num_rows
