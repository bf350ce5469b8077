"""SparkSession factory tuned for columnar OLAP over Parquet.

Local test mode is ``local[N]`` (single JVM); the config below is written for
a real multi-executor cluster too: AQE for runtime re-planning / skew joins,
shuffle partitions sized to cores locally (on a cluster: 2-3x total cores),
Arrow for any pandas interchange, UTC session timezone so timestamps compare
bit-exactly against external oracles (DuckDB is UTC-naive).

Local sessions start their Python workers through ``arcticdb_spark.pydaemon``
(``spark.python.daemon.module``). Before CPython 3.12 every Python-UDF task
re-reads pyspark.zip's central directory once per zipimporter (~100 ms of
CPU per task, ~300 ms per UDF stage on 4 cores); the daemon makes that
re-read happen only when the archive changed. On 3.12 and later it is
pyspark's own daemon unchanged. It is set only for ``local[...]`` masters
whose Python workers can import this package (its parent directory is the
working directory, on ``PYTHONPATH`` or a site directory): a cluster's or
an unimportable worker would fail to start the daemon at all.
"""

from __future__ import annotations

import os
import re
import site

from pyspark.sql import SparkSession

_DEFAULTS = {
    # --- correctness-critical ---
    "spark.sql.session.timeZone": "UTC",
    # keep Spark's (non-ANSI) permissive casts; our expression layer does its
    # own explicit promotion (SURVEY §2.2) so ANSI runtime errors are unwanted
    "spark.sql.ansi.enabled": "false",
    # read TIMESTAMP(NANOS) parquet as long nanoseconds (Spark timestamps are
    # µs; the reference is ns — SURVEY §1.3). sources/tables.py converts.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # write µs-typed timestamps (INT96 default has NO footer min/max stats —
    # our manifest pruning and Parquet row-group skipping depend on them)
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # --- performance ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.ui.enabled": "false",
    # scale-adaptive, not a constant: initial shuffle partitions track the
    # provisioned cores (the driver benches several core counts via
    # $SPARK_GRAFT_CPUS) and AQE coalescing shrinks small shuffles further;
    # on a real cluster set 2-3x total cores via the cluster conf instead
    "spark.sql.shuffle.partitions":
        os.environ.get("SPARK_GRAFT_CPUS", "32")
        if os.environ.get("SPARK_GRAFT_CPUS", "").isdigit() else "32",
    # local mode = ONE JVM doing executor work for all threads; the 1g
    # default heap GC-thrashes under 32 concurrent tasks + cached tables.
    # Only effective at JVM launch (harmless no-op via getOrCreate on an
    # existing session). On a real cluster this is the driver only;
    # executor memory comes from the cluster conf.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    "spark.driver.maxResultSize": "4g",
}


def get_spark(app_name: str = "arcticdb_spark", master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Return (or create) the shared SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    when no cluster master is configured; on a real cluster pass/inherit the
    cluster master and the same conf applies.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if re.fullmatch(r"local(\[[^\]]*\])?", master) and _workers_import_us():
        conf["spark.python.daemon.module"] = "arcticdb_spark.pydaemon"
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _workers_import_us() -> bool:
    """Whether a local Python worker (started in this process's working
    directory, with its ``PYTHONPATH``) can import this package."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
            *site.getsitepackages(), site.getusersitepackages()]
    return any(d and os.path.realpath(d) == os.path.realpath(root)
               for d in dirs)
