"""Incremental / streaming ingestion.

Reference analogue: the clipboard poll source — detect new data, process
once, append to history (reference src/managers/ClipboardManager.cpp:
69-96 change-detection; history append HistoryManager.cpp:275-328).
Spark restatement: a file-source Structured Stream over the docs
directory; each micro-batch runs the SAME batch extraction operator
(a scalar pandas UDF works unchanged on streaming DataFrames), and the sink is
``foreachBatch`` -> content-hash anti-join -> checkpointed append, so
replayed micro-batches are idempotent (at-least-once delivery x
idempotent sink = effectively exactly-once, the Iceberg pattern).

Also: watermarked windowed metrics over a result/event stream (the live
ops dashboard analogue of the history count queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xs_vlm_ocr_spark.schemas import DOCS_SCHEMA


def stream_docs(spark: SparkSession, input_dir: str, max_files_per_trigger: int = 10) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def start_incremental_extraction(
    spark: SparkSession,
    input_dir: str,
    job,  # xs_vlm_ocr_spark.job.ExtractionJob
    checkpoint_dir: str,
    run_kwargs: dict | None = None,
):
    """writeStream.foreachBatch -> ExtractionJob.run per micro-batch.

    The job's anti-join against the committed snapshot makes redelivered
    batches no-ops; the streaming checkpoint gives source-offset
    tracking (epoch ids continue across restarts, so ``stream-{epoch}``
    run ids never collide). ``run_kwargs`` forwards job.run options
    (target_partitions, compact_after) to every micro-batch run.
    Returns the StreamingQuery.
    """
    docs = stream_docs(spark, input_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        job.run(spark, batch_df, run_id=f"stream-{epoch_id}",
                **(run_kwargs or {}))

    return (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_doc_metrics(
    docs_stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts (late data beyond the
    watermark is dropped deterministically)."""
    return (
        docs_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            F.col("n_docs"),
        )
    )

