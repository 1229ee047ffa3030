"""SparkSession builder with the configs this engine relies on.

Tuned for the pipeline's workload shape:
- AQE on (runtime coalescing + skew-join splitting);
- Arrow enabled with a bounded batch size (image payloads are large;
  a 10k-row default Arrow batch of 800x600 images would blow executor
  memory — SURVEY.md §7 risk list);
- shuffle partitions sized for local[32] test runs (override at scale).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows per Arrow batch crossing the JVM->Python boundary in mapInPandas.
# Each row may carry an image of ~100 KB-1 MB; 64 rows keeps a batch
# well under Arrow's 2 GiB limits and executor memory.
ARROW_BATCH_ROWS = 64


def get_spark(
    app_name: str = "ocrs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    from .malloc_tuning import export_malloc_env, tune_malloc

    tune_malloc()  # driver-side numpy work (fixtures, local engine runs)
    export_malloc_env()  # inherited by the JVM and its Python workers

    # Make the package importable in executor Python workers. In local
    # mode workers inherit the driver env; on a real cluster ship the
    # package with `spark-submit --py-files ocrs_spark.zip` instead.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.environ.get("PYTHONPATH", "")
    if repo_root not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{pythonpath}" if pythonpath else repo_root
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # Defense in depth: all epoch math in queries is written to be
        # tz-independent (timestampdiff over TIMESTAMP_NTZ), but pin UTC
        # anyway so any residual zoned cast behaves like the DuckDB
        # oracles, which treat naive timestamps as UTC.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Keep stage-progress bars out of the console: bench.py's stdout
        # must end with one machine-parseable JSON line (driver contract).
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
