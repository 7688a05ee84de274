"""Bucketed results table: the dedup-probe join must not re-shuffle the
bucketed (big) side — only the probe side exchanges."""

import pyspark.sql.functions as F
from oracles import n_shuffle_exchanges

from xs_vlm_ocr_spark.table_io import CheckpointedTable


def test_bucketed_join_skips_big_side_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        committed = spark.range(0, 50_000).select(
            F.md5(F.col("id").cast("string")).alias("content_hash"),
            F.lit(True).alias("success"),
        )
        probe = spark.range(0, 1_000).select(
            F.md5((F.col("id") * 2).cast("string")).alias("content_hash")
        )

        plain = committed.join(probe, "content_hash")
        n_plain = n_shuffle_exchanges(plain)

        table = CheckpointedTable(str(tmp_path / "committed"),
                                  bucket_key="content_hash", n_buckets=8)
        table.append(committed, "r0")
        bucketed = table.read(spark).join(probe, "content_hash")
        n_bucketed = n_shuffle_exchanges(bucketed)

        # plain SMJ shuffles both sides; bucketed shuffles only the probe
        assert n_plain == 2, n_plain
        assert n_bucketed == 1, n_bucketed

        # and the join is still correct
        expected = {r["content_hash"] for r in committed.join(probe, "content_hash")
                    .select("content_hash").collect()}
        got = {r["content_hash"] for r in bucketed.select("content_hash").collect()}
        assert got == expected and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_job_resume_probe_committed_side_exchange_free(spark, tmp_path_factory):
    """The REAL resume path: a committed-then-resumed ExtractionJob's
    cache anti-join must not re-shuffle the committed results table.

    The results table is committed bucketBy(32, content_hash) through
    the session catalog (table_io.CheckpointedTable bucket_key), so the
    committed side's scan AND the distinct-hashes aggregate on it ride
    the bucket partitioning: exactly ONE Exchange in the whole probe
    plan (the new batch), versus two-plus for the same files read as
    plain parquet. At 10^12 committed rows that Exchange is the
    difference between shuffling the corpus every ingest and shuffling
    only the increment."""
    import os

    from xs_vlm_ocr_spark.corpus import gen_docs_df
    from xs_vlm_ocr_spark.job import ExtractionJob
    from xs_vlm_ocr_spark.operators.dedup import filter_uncached
    from xs_vlm_ocr_spark.operators.extraction import valid_docs, with_content_hash
    from xs_vlm_ocr_spark.table_io import CheckpointedTable

    out = str(tmp_path_factory.mktemp("job_bucketed"))
    job = ExtractionJob(out)
    job.run(spark, gen_docs_df(spark, 60))

    jobs = with_content_hash(valid_docs(gen_docs_df(spark, 120)))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        committed = job.read_results(spark)
        resume = filter_uncached(jobs, committed)
        # unbucketed CONTROL: the same committed files read as plain
        # parquet (read_raw bypasses the catalog bucket spec — a plain
        # CheckpointedTable constructor is now refused by check_layout)
        control = filter_uncached(jobs, job.results.read_raw(spark))

        n_resume = n_shuffle_exchanges(resume)
        n_control = n_shuffle_exchanges(control)
        assert n_resume == 1, f"probe side only, got {n_resume} exchanges"
        assert n_control >= 2, n_control

        # resume semantics unchanged: only the 60 new docs survive
        assert resume.count() == 60
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_bucketed_results_survive_fresh_session_catalog(spark, tmp_path_factory,
                                                       monkeypatch):
    """The catalog is per-session (in-memory) but the TABLE is the
    files: after the catalog entry disappears (new driver resuming a
    crashed job), read() re-registers the external table over the
    existing data dir and registers the manifest's committed runs as
    its run_id partitions — never the dir a crashed run left behind."""
    import os

    import pytest

    from xs_vlm_ocr_spark.corpus import gen_docs_df
    from xs_vlm_ocr_spark.job import ExtractionJob

    out = str(tmp_path_factory.mktemp("job_fresh_catalog"))
    job = ExtractionJob(out)
    job.run(spark, gen_docs_df(spark, 40))
    before = {r["doc_id"] for r in job.read_results(spark).select("doc_id").collect()}

    # a crashed run: its results dir is written, the manifest never flips
    def crash(*_a, **_k):
        raise OSError("crash before the manifest rename")

    monkeypatch.setattr(job.results, "_commit", crash)
    with pytest.raises(OSError):
        job.run(spark, gen_docs_df(spark, 60), run_id="crashed")
    monkeypatch.undo()
    assert os.path.isdir(job.results.run_dir("crashed"))

    # simulate the new session: drop only the catalog entry (external
    # table: data stays), then read again
    spark.sql(f"DROP TABLE {job.results.table_name}")
    after_df = job.read_results(spark)
    after = {r["doc_id"] for r in after_df.select("doc_id").collect()}
    assert after == before and len(after) == 40
    partitions = {row[0].split("=", 1)[1] for row in spark.sql(
        f"SHOW PARTITIONS {job.results.table_name}").collect()}
    assert partitions == set(job.results.committed_runs())
    # and the re-registered scan is still bucketed (join adds no
    # exchange on this side)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = after_df.sparkSession.range(5).select(
            F.md5(F.col("id").cast("string")).alias("content_hash")
        )
        n = n_shuffle_exchanges(after_df.select("content_hash").join(probe, "content_hash"))
        assert n == 1, n
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_cache_hits_window_rides_bucket_partitioning(spark, tmp_path_factory):
    """The replay path's latest-successful-wins window partitions by
    content_hash — on the bucketed committed table its required
    distribution is ALREADY satisfied by the scan, so the whole
    cache_hits plan (window + rn filter + broadcast semi-join against
    the probe) contains ZERO hash-partitioning exchanges: at 10^12
    committed rows the replay probe never re-shuffles history."""
    from xs_vlm_ocr_spark.corpus import gen_docs_df
    from xs_vlm_ocr_spark.job import ExtractionJob
    from xs_vlm_ocr_spark.operators.dedup import cache_hits

    out = str(tmp_path_factory.mktemp("job_hits_plan"))
    job = ExtractionJob(out)
    job.run(spark, gen_docs_df(spark, 50))

    committed = job.read_results(spark)
    probe = committed.select("content_hash").limit(10)
    hits = cache_hits(probe, committed)
    assert hits.count() == 10
    plan = hits._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Window [" in plan  # the latest-wins ranking is there...
    assert plan.count("Exchange hashpartitioning") == 0, plan  # ...unshuffled
