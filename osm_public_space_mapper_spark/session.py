"""SparkSession factory tuned for the engine.

Test/bench runs use local[N]; the same settings apply unchanged on a real
cluster via spark-submit --py-files (see BENCH/BASELINE.md for the two-
parallelism scaling protocol)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(app: str = "osm-public-space-mapper-spark", cores: int | str = "*", shuffle_partitions: int | None = None) -> SparkSession:
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # 16g: the 96M-image scaling bench at local[32] sits near the GC
        # ceiling at 8g (GCLocker retry warnings, occasional task OOM)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # managed (bucketed) tables land in tmp, never the repo working dir
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR",
                os.path.join(tempfile.gettempdir(), "ospm_warehouse"),
            ),
        )
    )
    return builder.getOrCreate()
