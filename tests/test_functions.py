"""Cleanup chains, JSON fallback parse, retention."""

import pyspark.sql.functions as F

from xs_vlm_ocr_spark.functions import (
    glm_cleanup_chain,
    parse_response_with_fallbacks,
)


def test_glm_cleanup_chain(spark):
    rows = [
        ('<|begin_of_box|>"hello world"<|end_of_box|>',),
        (":  leading colon text ",),
        ('"wrapped"',),
        ("trailing comma,",),
        ("  plain  ",),
    ]
    df = spark.createDataFrame(rows, "raw string")
    got = [r["c"] for r in df.select(glm_cleanup_chain(F.col("raw")).alias("c")).collect()]
    assert got == ["hello world", "leading colon text", "wrapped", "trailing comma", "plain"]


def test_parse_response_with_fallbacks(spark):
    rows = [
        ('{"output": {"text": "A"}}',),
        ('{"choices": [{"message": {"content": "B"}}]}',),
        ('{"output_text": "C"}',),
        ('{"error": {"message": "boom"}}',),
    ]
    df = spark.createDataFrame(rows, "resp string")
    got = [r["c"] for r in
           df.select(parse_response_with_fallbacks(F.col("resp")).alias("c")).collect()]
    assert got == ["A", "B", "C", "ERROR: boom"]


def test_retention_compacts_table(spark, tmp_path):
    from xs_vlm_ocr_spark.operators.history import apply_retention
    from xs_vlm_ocr_spark.table_io import CheckpointedTable

    t = CheckpointedTable(str(tmp_path / "hist"))
    df1 = spark.range(0, 100).selectExpr("id", "timestamp_millis(1700000000000 + id * 1000) AS ts")
    df2 = spark.range(100, 200).selectExpr("id", "timestamp_millis(1700000000000 + id * 1000) AS ts")
    t.append(df1, "r1")
    t.append(df2, "r2")
    assert t.read(spark).count() == 200

    apply_retention(t, spark, 50, ts_col="ts", id_col="id")
    kept = t.read(spark)
    assert kept.count() == 50
    assert kept.agg(F.min("id")).first()[0] == 150  # newest 50 survive
    assert len(t.committed_runs()) == 1  # compacted to one snapshot
