"""SparkSession factory tuned for this engine.

Defaults are chosen for correctness-vs-oracle first (UTC timestamps, ANSI off
so dirty-data casts return NULL like the reference's tolerant parsers), and
for scale second (AQE on, skew-join handling on, sensible shuffle
parallelism). On a real cluster only `shuffle_partitions` and memory knobs
need revisiting; the logical plans in this package are partition-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "neotree-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    - ``spark.sql.session.timeZone=UTC``: the DuckDB oracle is UTC-naive.
    - ANSI mode is left at the Spark default (ON in Spark 4) so local runs
      behave like the driver's vanilla session; the reference's
      malformed-value→NULL contract is encoded per-expression with
      ``try_cast``/``try_to_timestamp``, not by a session-wide switch.
    - AQE + skew join: at 100 TB the hot keys in session/uid-shaped data skew;
      AQE re-plans shuffles at runtime and splits skewed partitions.
    - ``spark.sql.codegen.cache.maxEntries=8192``: Spark caches the classes
      whole-stage codegen compiles, keyed by their source, in one LRU per
      JVM. Its default of 100 entries is smaller than this engine's working
      set, so a long-lived driver evicts every class before its next use
      and pays janino compilation and JIT warm-up again on every pass: at
      the default, the three iterative graph queries alone compile about
      170 classes per warm pass; with this cache, none. One ``bench.py``
      pass over the whole registry at sf0.01 compiles 5,237 distinct
      classes; 8192 holds all of them with headroom for new queries. The
      setting is static, so it only takes effect on a session this
      function creates.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS), which the vectorized reader
        # rejects; read as long and convert (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
