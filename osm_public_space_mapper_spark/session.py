"""SparkSession factory tuned for the engine.

Test/bench runs use local[N]; the same settings apply unchanged on a real
cluster via spark-submit --py-files (see BENCH/BASELINE.md for the two-
parallelism scaling protocol)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


def get_spark(app: str = "osm-public-space-mapper-spark", cores: int | str = "*", shuffle_partitions: int | None = None) -> SparkSession:
    """The engine's local[cores] session.

    PySpark's DataFrame origin capture is off
    (`spark.python.sql.dataFrameDebugging.enabled=false`): with it on, every
    `F.*` / `Column` / `DataFrame` call walks the Python stack and makes about
    six extra py4j round trips to record its call site, which is most of the
    Python-side cost of building the classify and records plans. What is lost is
    only the Python call-site lines in the "DataFrame" query context of a
    runtime error (e.g. an ANSI cast failure); the error itself still raises
    with its message and the SQL context. It is a static conf, so it holds
    only for a session this factory creates, not one already running."""
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
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
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


def pin(df: DataFrame) -> DataFrame:
    """Materialize `df` with an eager `localCheckpoint` and return the
    checkpointed frame, with the persistent-RDD ids it created recorded as
    `_pinned` so `release` can free them.

    A localCheckpoint truncates lineage and keeps its blocks on executor
    storage only: losing an executor loses its blocks and fails the next
    action on the frame (and on every frame derived from it) for good. At
    cluster scale commit the data to a table instead."""
    sc = df.sparkSession.sparkContext
    before = _persistent_ids(sc)
    out = df.localCheckpoint(eager=True)
    out._pinned = [(sc, _persistent_ids(sc) - before)]
    return out


def release(df: DataFrame) -> None:
    """Unpersist the checkpoints recorded on `df` by `pin` (or carried
    forward from a pinned frame). The frame and every frame derived from it
    are unusable afterwards. `DataFrame.unpersist()` is a no-op here: the
    pinned RDD lives outside the Dataset cache manager."""
    for sc, ids in getattr(df, "_pinned", []):
        jmap = sc._jsc.getPersistentRDDs()
        for k in list(jmap.keys()):
            if int(k) in ids:
                jmap[k].unpersist()


def _persistent_ids(sc) -> set:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keys()}
