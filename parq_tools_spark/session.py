"""SparkSession factory tuned for the engine.

Local-mode defaults mirror the test/bench environment (one JVM,
``local[N]`` threads); on a real cluster the same settings are safe —
AQE handles partition coalescing and skew joins at runtime, which is
how this engine stays efficient at 100 TB without per-query hand
tuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


def get_spark(app_name: str = "parq_tools_spark", **extra_conf) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults chosen for scale:

    - AQE on: runtime partition coalescing + skew-join splitting.
    - ``shuffle.partitions`` sized to local cores (overridable; on a
      cluster set to ~2-3x total cores — AQE coalesces the excess).
    - Arrow enabled for any pandas-interop boundary (``toPandas``,
      Pandas UDFs) — vectorized transfer instead of per-row pickling.
    - UTC session timezone so timestamp semantics are deterministic.
    - ``cleanCheckpoints``: reliable checkpoints (``materialize()``'s
      ``reliable`` mode) are removed when their DataFrame is
      garbage-collected, so a long-running stream does not grow its
      checkpoint directory without bound.
    """
    # mapInPandas closures import this package lazily on the Python
    # workers; a sys.path tweak in the driver process does NOT reach
    # them. Exporting the package root on PYTHONPATH before the
    # context launches does (local mode forks workers from the driver
    # env). On a real cluster the package is pip-installed / shipped
    # via --py-files, so the extra entry is inert there.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + py_path if py_path else "")
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        # reliable-mode materialize() checkpoints are per call: delete
        # each one once its DataFrame is garbage-collected
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for key, value in extra_conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
