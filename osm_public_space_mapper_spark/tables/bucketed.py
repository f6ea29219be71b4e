"""Bucketed table layout for co-located joins (100 TB design).

Writing both sides of the hot join bucketed + sorted on the join key makes
every downstream cell-keyed operation — equi-joins such as the J12
shuffle-hash mask join of ``pip_join_raster``, and groupBy-applyInPandas —
consume the stored partitioning directly: `HashPartitioning(bucket key)`
satisfies the operators' clustered distribution, so the physical plan
contains NO Exchange at all. At 10^12 rows this removes the single biggest
cost of the join (shuffling the image table); the one-time bucketed write
amortizes across every later query.

Salting widens the join key to ``(tile_cell, _salt)``; the bucket layout on
``tile_cell`` alone does not cover it, so a salted join over bucketed
tables shuffles again (tests/test_bucketed.py checks the unsalted plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

DEFAULT_BUCKETS = 64


def save_bucketed(df: DataFrame, table_name: str, key: str = "tile_cell",
                  n_buckets: int = DEFAULT_BUCKETS) -> None:
    """Persist df bucketed + sorted by `key` (Hive-bucketed parquet in the
    session warehouse; on a cluster this is the lakehouse table)."""
    import os
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # the default catalog is in-memory: a dropped-in-a-past-session table
    # leaves its managed location behind — clear it so overwrite works
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    shutil.rmtree(os.path.join(wh, table_name.lower()), ignore_errors=True)
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table_name)
    )


def images_with_tile_cell(images: DataFrame, group_res: int = 13) -> DataFrame:
    """Stamp the PIP group key so the stored layout matches the join."""
    from pyspark.sql import functions as F

    from ..functions.geometry import cell_expr

    return images.withColumn("tile_cell", cell_expr(group_res)(F.col("x"), F.col("y")))
