"""SparkSession factory.

The reference runs a single synchronous Python process per document
(``/root/reference/src/app.py:46-116``); our engine is corpus-at-a-time on
Spark. One session factory, tuned for the driver's local[N] harness but with
settings that hold on a real cluster:

- AQE on (runtime coalesce / skew-join / join-strategy switching) — this is
  the 100 TB posture: plans written here declare intent, AQE fixes runtime
  partition counts.
- shuffle.partitions sized to cores locally; on a cluster AQE coalesces the
  (larger) configured value down, so the code never hard-codes a cluster size.
- UTC session timezone so results hash-match the DuckDB oracle.
- Arrow enabled for every pandas interchange (Pandas UDFs are the only
  Python-side compute path over DataFrames we allow; the server parses a
  single upload on its request thread, before any DataFrame exists).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "multiagent-document-etl-spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the session. ``cpus`` defaults to $SPARK_GRAFT_CPUS or *."""
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(env) if env else 0
    master = f"local[{cpus}]" if cpus else "local[*]"
    n_shuffle = max(cpus, 32) if cpus else 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        # events.parquet carries TIMESTAMP(NANOS), which the Spark parquet
        # reader rejects; read nanos as LongType and convert in io.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
