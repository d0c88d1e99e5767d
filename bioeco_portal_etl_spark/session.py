"""SparkSession factory.

The reference executes eagerly in-memory single-node R (SURVEY.md §4.1); this
engine instead declares lazy DataFrame plans and lets Catalyst/Tungsten plan
physical execution. Session defaults are chosen for correctness-parity with the
DuckDB oracle (UTC session timezone, ANSI off to match permissive R semantics)
and for scale (AQE on: runtime partition coalescing + skew-join splitting).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bioeco-portal-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster, ``master`` comes from spark-submit; locally we default to
    ``local[$SPARK_GRAFT_CPUS]``. Shuffle partitions default to 2x local cores
    (small local runs) — on a 1000-executor cluster AQE coalesces from a high
    initial count, so production submits should raise this to ~2-3x total cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- correctness parity with the DuckDB oracle ---
        .config("spark.sql.session.timeZone", "UTC")
        # permissive R semantics (as.numeric junk -> NA, out-of-range index
        # -> NULL) — the reference never errors on dirty cells
        .config("spark.sql.ansi.enabled", "false")
        # read TIMESTAMP(NANOS) parquet columns as long; sources.files
        # converts them back to (microsecond) timestamps on load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- scale posture (SURVEY.md §4.3) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for the few pandas-UDF paths (geo transform, multimodal decode)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- Python <-> JVM boundary ---
        # PySpark captures the Python call site of every Column built with
        # pyspark.sql.functions for DataFrame error contexts, costing ~11
        # extra py4j round trips per call (F.col: 14 -> 3); plan building
        # is call-heavy, so it is off. Errors still name the failing
        # expression, only not the Python line that built it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # SQL UDF runners (pandas UDFs, applyInPandas*) add a
        # SPARK_SIMPLIFIED_TRACEBACK env var to their workers when this is
        # on; the worker env keys the Python daemon, so they would start a
        # second daemon beside the RDD one. Off: one daemon per executor,
        # and UDF errors carry the full Python traceback.
        .config("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled", "false")
        .config(
            "spark.sql.shuffle.partitions",
            str(
                shuffle_partitions
                if shuffle_partitions is not None
                else (int(cpus) if str(cpus).isdigit() else 32)
            ),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
