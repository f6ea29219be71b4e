"""Structured Streaming ingest of image rows into an Icelite table.

The reference has no streaming semantics (SURVEY.md §2.7), so this is
engine-side extra surface: a micro-batch pipeline that cell-encodes incoming
image rows with the SAME expressions as the batch path and appends them to an
Iceberg-layout table via foreachBatch, carrying per-partition lineage. The
availableNow trigger makes it testable (and usable for backfill) without a
long-running query.

  stream (rate / file source with images schema)
    → geotag from phash (JVM expressions)
    → project (Arrow UDF) → cell7 bucket (Catalyst cell_expr)
    → foreachBatch: IceliteTable.commit(batch, "cell7", stage=f"stream-{id}")
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geometry import cell_expr
from ..operators.joins import project_points, with_geotag
from ..tables.icelite import IceliteTable


def prepare_stream(images_stream: DataFrame) -> DataFrame:
    """Attach geotag + coarse cell bucket to a streaming images DataFrame.
    The projected x/y only feed the cell encode and are dropped again."""
    out = project_points(with_geotag(images_stream))
    return out.withColumn("cell7", cell_expr(7)(F.col("x"), F.col("y"))).drop("x", "y")


def stream_to_icelite(images_stream: DataFrame, table_path: str, checkpoint_dir: str):
    """Start an availableNow streaming query appending to an Icelite table.

    Each micro-batch commits one snapshot with per-partition lineage; Spark's
    streaming checkpoint gives source-offset exactly-once, Icelite's snapshot
    log records what landed."""
    prepared = prepare_stream(images_stream)
    table = IceliteTable(table_path)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.commit(batch_df, "cell7", stage=f"stream-batch-{batch_id}")

    return (
        prepared.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
