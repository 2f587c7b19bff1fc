"""Streaming ingest of image rows into the spatial pipeline.

The reference is strictly batch (SURVEY.md §2.9) — this is the optional
stretch: ``readStream`` over an images directory, each micro-batch pushed
through the SAME batch kernels (footprints -> cells -> per-cell counts /
mosaics) via foreachBatch.  Exactly-once EFFECTIVE semantics: foreachBatch
itself is at-least-once (a crash between the sink write and the epoch
commit replays the micro-batch), so each epoch OVERWRITES its own
``epoch=<id>`` partition directory — the replay is idempotent and readers
of the root path never see duplicates.  ``availableNow`` processes the
backlog and stops — the pattern scales to a continuous feed unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geojson_vt_rs_spark.sources.images import IMAGE_SCHEMA


def stream_cell_counts(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    zoom: int = 5,
) -> None:
    """Micro-batch: assign cells and append per-cell counts per batch."""
    from geojson_vt_rs_spark.plans.spatial import with_cells, with_footprints

    stream = spark.readStream.schema(IMAGE_SCHEMA).parquet(src_dir)

    def handle(batch: DataFrame, epoch_id: int) -> None:
        (
            with_cells(with_footprints(batch), zoom)
            .groupBy("cx", "cy")
            .agg(F.count(F.lit(1)).alias("n"))
            # idempotent per-epoch dir: a replayed micro-batch overwrites
            # its own partition instead of double-appending
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"epoch={int(epoch_id)}"))
        )

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_windowed_event_counts(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
    max_files_per_trigger: int = 1,
) -> None:
    """Watermarked tumbling-window counts over an event stream.

    Append output mode: a window row is emitted exactly once, when the
    watermark (max event time − ``watermark``) passes its end — rows
    arriving later than the watermark allows are DROPPED from their
    closed window (the late-data contract).  Per-epoch overwrite sink as
    elsewhere (idempotent replays)."""
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
        )
    )

    def handle(batch: DataFrame, epoch_id: int) -> None:
        batch.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={int(epoch_id)}")
        )

    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
