"""Structured Streaming: incremental extraction equals batch extraction;
redelivery is idempotent; watermarked windowed metrics match batch; and
STREAM INGEST PARITY — the foreachBatch sink routes every micro-batch
through the same derived-table syncs as batch ingest (near-dup index,
contamination, signals), so batch and stream runs over the same docs
converge on identical committed state."""

from xs_vlm_ocr_spark.corpus import gen_docs_df
from xs_vlm_ocr_spark.job import ExtractionJob
from xs_vlm_ocr_spark.streaming.incremental import (
    start_incremental_extraction,
    windowed_doc_metrics,
)


def test_incremental_extraction_matches_batch(spark, tmp_path):
    in_dir = str(tmp_path / "incoming")
    # two arrival waves as separate files
    gen_docs_df(spark, 40).write.mode("append").parquet(in_dir)
    gen_docs_df(spark, 60).write.mode("append").parquet(in_dir)

    job = ExtractionJob(str(tmp_path / "stream_job"))
    q = start_incremental_extraction(spark, in_dir, job, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = job.read_results(spark)
    # waves overlap on doc_ids 0..39: the content-hash anti-join dedups
    assert got.count() == 60
    batch_job = ExtractionJob(str(tmp_path / "batch_job"))
    batch_job.run(spark, gen_docs_df(spark, 60))
    a = {(r["doc_id"], r["content_hash"], r["full_text"]) for r in got.collect()}
    b = {(r["doc_id"], r["content_hash"], r["full_text"])
         for r in batch_job.read_results(spark).collect()}
    assert a == b

    # new arrivals picked up by a fresh availableNow trigger
    gen_docs_df(spark, 80).write.mode("append").parquet(in_dir)
    q2 = start_incremental_extraction(spark, in_dir, job, str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    assert job.read_results(spark).count() == 80


def test_windowed_metrics_matches_batch(spark, tmp_path):
    import pyspark.sql.functions as F

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    ev_dir = str(tmp_path / "ev")
    ev.write.parquet(ev_dir)

    stream = spark.readStream.schema("ts timestamp").parquet(ev_dir)
    agg = windowed_doc_metrics(stream, "ts", "1 hour", "2 hours")
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("win_out").start())
    q.processAllAvailable()
    q.stop()
    got = {(r["window_start_us"], r["n_docs"])
           for r in spark.sql("select * from win_out").collect()}
    exp = {(r["w"], r["n"]) for r in ev.groupBy(
        F.unix_micros(F.date_trunc("hour", "ts")).alias("w")
    ).agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == exp


def test_stream_ingest_converges_with_batch(spark, tmp_path):
    """Round-7 stretch: the SAME docs ingested (a) as one batch run and
    (b) as two streaming micro-batches converge on IDENTICAL committed
    derived state — near-dup pair set, band-index rows, contamination
    spans and quality signals. Parity is structural (the foreachBatch
    sink calls job.run, which owns every derived-table sync), and the
    md5 hash family makes index append == rebuild bit-exact, so even
    the increment boundaries leave no trace."""
    from pyspark.sql import functions as F

    from xs_vlm_ocr_spark.schemas import DOCS_SCHEMA

    words = [f"w{i:03d}" for i in range(200)]
    base = " ".join(words)
    texts = {
        "a": base,
        "c": " ".join(f"unrelated{i:03d}" for i in range(120)),
        # near-dups of `a`, arriving in the SECOND wave (cross-increment
        # for the stream; within-run for the batch)
        "b": base.replace("w050", "xychanged"),
        "d": base.replace("w150", "zqswapped"),
        "e": " ".join(f"lonely{i:03d}" for i in range(80)),
    }

    def docs_df(ids):
        rows = [
            {"doc_id": i,
             "spans": [{"kind": "text", "text": texts[i],
                        "media_ref": "", "offset": 0}]}
            for i in ids
        ]
        return spark.createDataFrame(rows, DOCS_SCHEMA)

    # held-out corpus: 13 consecutive words of `base` — contaminates
    # a, b, d (the substitutions are outside the window)
    heldout_dir = str(tmp_path / "heldout")
    spark.createDataFrame(
        [(0, " ".join(words[20:33]))], "doc_id long, text string"
    ).coalesce(1).write.parquet(heldout_dir)

    def state(job):
        pairs = {(r["a"], r["b"], r["est_jaccard"])
                 for r in job.read_near_dup_pairs(spark).collect()}
        idx = {(r["doc_id"], r["band"], r["bucket"])
               for r in job.neardup_index.read(spark).collect()}
        spans = {(r["doc_id"], r["start_tok"], r["end_tok"])
                 for r in job.read_contamination(spark).collect()}
        sig_df = job.read_signals(spark)
        sig_cols = [c for c in sig_df.columns if c != "run_id"]
        sig = {tuple(r[c] for c in sig_cols) for r in sig_df.collect()}
        return pairs, idx, spans, sig

    kw = dict(near_dup_threshold=0.5, heldout_dir=heldout_dir,
              compute_signals=True)

    # batch: everything in ONE run
    batch_job = ExtractionJob(str(tmp_path / "batch_out"), **kw)
    batch_job.run(spark, docs_df(["a", "c", "b", "d", "e"]))
    batch_state = state(batch_job)
    assert len(batch_state[0]) == 3   # (a,b) (a,d) (b,d)
    assert {s[0] for s in batch_state[2]} == {
        r["content_hash"] for r in batch_job.read_results(spark)
        .filter(F.col("doc_id").isin("a", "b", "d")).collect()
    }

    # stream: two arrival waves, two micro-batch runs through the sink
    in_dir = str(tmp_path / "incoming")
    docs_df(["a", "c"]).write.mode("append").parquet(in_dir)
    stream_job = ExtractionJob(str(tmp_path / "stream_out"), **kw)
    q = start_incremental_extraction(spark, in_dir, stream_job,
                                     str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    docs_df(["b", "d", "e"]).write.mode("append").parquet(in_dir)
    q2 = start_incremental_extraction(spark, in_dir, stream_job,
                                      str(tmp_path / "ckpt"))
    q2.awaitTermination(120)

    # two separate increments actually happened (not one big batch)
    assert len(stream_job.results.committed_runs()) == 2
    assert state(stream_job) == batch_state
