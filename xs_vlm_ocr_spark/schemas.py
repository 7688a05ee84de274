"""Declared schemas — the engine's data contract.

Everything is declared explicitly (never inferred): pandas-UDF return
types must be stable and golden-equality demands byte-stable types.

Reference mapping (see SURVEY.md §1):
  - DOCS_SCHEMA      <- BASELINE.json:input_hint (interleaved text+media spans)
  - SPAN_OUT / EXTRACTED_SCHEMA <- the (kind, text, media_ref, order)
    invariant; reference analogue `TextBlock`/`OCRResult.textBlocks`
    (reference src/core/OCRResult.h:9-42)
  - RESULTS_SCHEMA   <- reference SQLite `history` table
    (reference src/managers/HistoryManager.cpp:52-65) + OCRResult fields
  - LINEAGE_SCHEMA   <- north-rule per-partition metrics rows
  - STRATEGIES_SCHEMA <- reference ModelConfig/provider inheritance
    (reference src/core/ModelAdapter.h:9-19, src/utils/ConfigManager.cpp:193-207)
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- input docs

SPAN_IN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),       # html|pdf_line|text|media
        T.StructField("text", T.StringType(), False),       # '' for media spans
        T.StructField("media_ref", T.StringType(), False),  # '' unless kind='media'
        T.StructField("offset", T.IntegerType(), False),    # byte offset, strictly increasing
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_IN, containsNull=False), False),
    ]
)

# ------------------------------------------------------------- extracted out

SPAN_OUT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),       # text|media
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("order", T.IntegerType(), False),     # dense 0..n-1 reading order
    ]
)

# Combined output of the extraction stage: one row per doc, carrying two
# narrow per-row lineage columns (partition_id, cum_wall_ms) that
# `operators.extraction.split_extraction_output` aggregates into the
# per-partition LINEAGE rows — no marker rows, no second pass.
EXTRACTION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("success", T.BooleanType(), True),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("spans_out", T.ArrayType(SPAN_OUT, containsNull=False), True),
        T.StructField("full_text", T.StringType(), True),
        T.StructField("model_name", T.StringType(), True),
        T.StructField("content_hash", T.StringType(), True),
        T.StructField("processing_time_ms", T.LongType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("cum_wall_ms", T.LongType(), True),
    ]
)

# ------------------------------------------------------- results / history

# Mirrors the reference history table (HistoryManager.cpp:52-65): the
# queryable output store for the SQL surface (filter/search/count/
# pagination/retention/dedup). ExtractionJob.run commits exactly these
# columns (stamped at append time by job.stamp_results) plus the engine
# extras (doc_id, spans_out) — so the history operators run unchanged
# on the engine's own committed output (tests/test_results_history.py).
RESULTS_SCHEMA = T.StructType(
    [
        # 128-bit content-derived id (md5 hex of run_id + content_hash,
        # job.stamp_results) — collision-safe at 10^12 rows, unlike a
        # 64-bit hash; lexicographic order serves the (ts, id) tiebreak
        T.StructField("id", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("source", T.StringType(), True),      # upload|paste|shortcut|dragdrop
        T.StructField("success", T.BooleanType(), False),
        T.StructField("full_text", T.StringType(), True),
        T.StructField("model_name", T.StringType(), True),
        T.StructField("processing_time_ms", T.LongType(), True),  # 0 marks a cache hit
        T.StructField("error_message", T.StringType(), True),
        T.StructField("content_hash", T.StringType(), True),
    ]
)

# One committed results run's parquet columns: RESULTS_SCHEMA then the
# engine extras, in job.stamp_results' order.
RESULTS_RUN_SCHEMA = T.StructType(
    RESULTS_SCHEMA.fields + [
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("spans_out", T.ArrayType(SPAN_OUT, containsNull=False), True),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("docs_in", T.LongType(), False),
        T.StructField("docs_out", T.LongType(), False),
        T.StructField("span_count", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)

STRATEGIES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("display_name", T.StringType(), True),
        T.StructField("type", T.StringType(), True),        # local|online
        T.StructField("engine", T.StringType(), False),
        T.StructField("provider", T.StringType(), True),
        T.StructField("params", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("enabled", T.BooleanType(), False),
    ]
)
