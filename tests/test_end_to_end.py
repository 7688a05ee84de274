"""End-to-end slice (SURVEY §7 step 1): corpus -> flagship plan -> golden
equality of the Spark extraction vs the pure-Python single-doc oracle,
lineage rows, and checkpoint/resume semantics."""

import pytest

from xs_vlm_ocr_spark.corpus import doc_id_for, gen_doc, gen_docs_df
from xs_vlm_ocr_spark.extract import extract_doc, merge_full_text
from xs_vlm_ocr_spark.job import ExtractionJob

N_DOCS = 120


def _spans_key(rows):
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans_out"]
        ]
        for r in rows
    }


@pytest.fixture(scope="module")
def docs(spark):
    return gen_docs_df(spark, N_DOCS).cache()


def test_golden_span_equality(spark, docs, tmp_path_factory):
    """The invariant: Spark output (kind, text, media_ref, order) sequence
    per doc_id is byte-equal to the single-doc oracle — across Arrow batch
    and partition boundaries."""
    job = ExtractionJob(str(tmp_path_factory.mktemp("job_golden")))
    job.run(spark, docs)
    results = job.read_results(spark)
    rows = [r.asDict(recursive=True) for r in results.collect()]
    assert len(rows) == N_DOCS
    assert all(r["success"] for r in rows)

    actual = _spans_key(rows)
    for i in range(N_DOCS):
        did = doc_id_for(i)
        expected = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in extract_doc(gen_doc(did)["spans"])
        ]
        assert actual[did] == expected, f"span mismatch for {did}"

    # full_text merge invariant (reference OCRResult::mergeFullText)
    by_id = {r["doc_id"]: r for r in rows}
    for i in range(0, N_DOCS, 7):
        did = doc_id_for(i)
        exp = merge_full_text(extract_doc(gen_doc(did)["spans"]))
        assert by_id[did]["full_text"] == exp


def test_lineage_rows(spark, docs, tmp_path_factory):
    job = ExtractionJob(str(tmp_path_factory.mktemp("job_lineage")))
    job.run(spark, docs, target_partitions=6)
    lin = [r.asDict() for r in job.read_lineage(spark).collect()]
    assert sum(r["docs_in"] for r in lin) == N_DOCS
    assert sum(r["docs_out"] for r in lin) == N_DOCS
    assert all(r["stage"] == "extract" for r in lin)
    assert all(r["wall_ms"] >= 0 for r in lin)
    total_spans = sum(r["span_count"] for r in lin)
    assert total_spans > N_DOCS  # every doc emits >=1 span on this corpus


def test_resume_processes_only_missing(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job_resume"))
    half = gen_docs_df(spark, N_DOCS // 2)
    full = gen_docs_df(spark, N_DOCS)

    job = ExtractionJob(out)
    job.run(spark, half)
    assert job.read_results(spark).count() == N_DOCS // 2

    # rerun over the full corpus: only the missing half is extracted
    run2 = job.run(spark, full)
    lin2 = job.read_lineage(spark).filter(f"run_id = '{run2}'")
    assert lin2.agg({"docs_in": "sum"}).first()[0] == N_DOCS // 2

    # final table equals a fresh single-run extraction
    fresh = ExtractionJob(str(tmp_path_factory.mktemp("job_fresh")))
    fresh.run(spark, gen_docs_df(spark, N_DOCS))
    a = {(r["doc_id"], r["content_hash"], r["full_text"])
         for r in job.read_results(spark).collect()}
    b = {(r["doc_id"], r["content_hash"], r["full_text"])
         for r in fresh.read_results(spark).collect()}
    assert a == b and len(a) == N_DOCS


def test_crash_before_commit_is_invisible(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job_crash"))
    docs = gen_docs_df(spark, 30)
    job = ExtractionJob(out)
    job.run(spark, docs, fail_after_staging=True)
    assert job.read_results(spark) is None  # nothing committed

    job.run(spark, docs)  # clean rerun completes everything
    assert job.read_results(spark).count() == 30


def test_staging_deleted_once_run_commits(spark, tmp_path_factory):
    """A run's staged copy is deleted once its results and lineage
    appends commit; a crash after staging leaves it behind, and the
    rerun commits the same table a single clean run would."""
    import os

    out = str(tmp_path_factory.mktemp("job_staging"))
    docs = gen_docs_df(spark, 30)
    job = ExtractionJob(out)
    job.run(spark, docs, run_id="crashed", fail_after_staging=True)
    assert os.path.isdir(os.path.join(out, "staging", "crashed"))

    job.run(spark, docs, run_id="clean")
    assert not os.path.exists(os.path.join(out, "staging", "clean"))
    assert job.read_results(spark).count() == 30


def test_unsafe_run_id_refused_before_any_write(spark, tmp_path_factory):
    """A caller's run id names the staging dir and a results run dir.
    '../results' resolves the staging write onto the committed results
    table, which the post-commit staging cleanup then deletes: it is
    refused before anything is written, and the table stays intact."""
    out = str(tmp_path_factory.mktemp("job_run_id"))
    job = ExtractionJob(out)
    job.run(spark, gen_docs_df(spark, 20), run_id="r0")
    with open(job.results.manifest_path) as f:
        manifest = f.read()

    with pytest.raises(ValueError, match=r"\.\./results"):
        job.run(spark, gen_docs_df(spark, 30), run_id="../results")
    with open(job.results.manifest_path) as f:
        assert f.read() == manifest
    assert job.read_results(spark).count() == 20


def _observed_runtime_empty_write(spark, path):
    """Observed count of a write whose join side is empty only at run
    time: AQEPropagateEmptyRelation would replan the join as an empty
    relation and drop the CollectMetrics node with it."""
    import uuid

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(f"probe_{uuid.uuid4().hex}")
    left = spark.range(50).observe(obs, F.count(F.lit(1)).alias("n"))
    right = spark.range(50).filter(F.col("id") > 100)
    left.join(right, "id").write.mode("overwrite").parquet(path)
    return obs.get["n"]


@pytest.mark.parametrize("original", [
    None, "org.apache.spark.sql.catalyst.optimizer.EliminateLimits",
])
def test_observation_safe_aqe_is_reentrant(spark, tmp_path, original):
    """Overlapping guarded writes on ONE session, nested and from two
    threads whose holds interleave (the first leaves while the second
    still writes): every observed write gets its count, and the conf
    ends equal to its original value, unset included."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from xs_vlm_ocr_spark.job import _AQE_RULE_KEY, _observation_safe_aqe

    if original is None:
        spark.conf.unset(_AQE_RULE_KEY)
    else:
        spark.conf.set(_AQE_RULE_KEY, original)
    try:
        # precondition: unguarded, this probe really loses its count
        with pytest.raises(Exception):
            _observed_runtime_empty_write(spark, str(tmp_path / "bare"))

        with _observation_safe_aqe(spark):
            assert _observed_runtime_empty_write(spark, str(tmp_path / "n0")) == 50
            with _observation_safe_aqe(spark):
                assert _observed_runtime_empty_write(spark, str(tmp_path / "n1")) == 50
            assert _observed_runtime_empty_write(spark, str(tmp_path / "n2")) == 50
        assert spark.conf.get(_AQE_RULE_KEY, None) == original

        first_in, second_in, first_out = (threading.Event() for _ in range(3))

        def first():
            with _observation_safe_aqe(spark):
                n = _observed_runtime_empty_write(spark, str(tmp_path / "t1"))
                first_in.set()
                assert second_in.wait(120)
            first_out.set()
            return n

        def second():
            assert first_in.wait(120)
            with _observation_safe_aqe(spark):
                second_in.set()
                assert first_out.wait(120)
                return _observed_runtime_empty_write(spark, str(tmp_path / "t2"))

        with ThreadPoolExecutor(2) as pool:
            f1, f2 = pool.submit(first), pool.submit(second)
            assert (f1.result(), f2.result()) == (50, 50)
        assert spark.conf.get(_AQE_RULE_KEY, None) == original
    finally:
        spark.conf.unset(_AQE_RULE_KEY)


def test_observation_safe_aqe_holds_under_thread_churn(spark):
    """More threads than cores entering and leaving the guard with a
    short switch interval: inside every hold the rule is excluded (a
    lost refcount update would let one holder restore the conf under
    another), and the conf ends unset as it began."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from xs_vlm_ocr_spark.job import _AQE_RULE, _AQE_RULE_KEY, _observation_safe_aqe

    def churn(_):
        missing = 0
        for _ in range(25):
            with _observation_safe_aqe(spark):
                missing += _AQE_RULE not in (spark.conf.get(_AQE_RULE_KEY, None) or "")
        return missing

    spark.conf.unset(_AQE_RULE_KEY)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(12) as pool:
            futures = [pool.submit(churn, i) for i in range(12)]
            assert [f.result(timeout=300) for f in futures] == [0] * 12
    finally:
        sys.setswitchinterval(interval)
    assert spark.conf.get(_AQE_RULE_KEY, None) is None


def test_idempotent_second_run_is_noop(spark, docs, tmp_path_factory):
    job = ExtractionJob(str(tmp_path_factory.mktemp("job_idem")))
    job.run(spark, docs)
    run2 = job.run(spark, docs)
    lin2 = job.read_lineage(spark).filter(f"run_id = '{run2}'")
    # empty plan -> zero tasks -> zero (or all-zero) lineage rows
    assert (lin2.agg({"docs_in": "sum"}).first()[0] or 0) == 0
    assert job.read_results(spark).count() == N_DOCS


def test_invalid_docs_counted_in_lineage(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from xs_vlm_ocr_spark.schemas import DOCS_SCHEMA

    good = gen_docs_df(spark, 20)
    bad = spark.createDataFrame(
        [{"doc_id": f"bad_{i}", "spans": []} for i in range(3)], DOCS_SCHEMA
    )
    job = ExtractionJob(str(tmp_path_factory.mktemp("job_invalid")))
    run_id = job.run(spark, good.unionByName(bad))

    assert job.read_results(spark).count() == 20  # only valid docs extracted
    inv = job.read_lineage(spark).filter(
        (F.col("run_id") == run_id) & (F.col("stage") == "invalid")
    ).collect()
    assert len(inv) == 1 and inv[0]["docs_in"] == 3 and inv[0]["docs_out"] == 0


def test_invalid_count_exact_under_skew_split(spark, tmp_path_factory):
    """The invalid-doc count comes from an Observation attached below the
    validity filter and is collected in the SAME pass as the extraction
    (no second input scan). If the skew split's cold/hot branches ever
    re-executed the observed subtree, the count would double — so force
    the skewed path (giant docs >> median) and require the exact count."""
    from pyspark.sql import functions as F

    from xs_vlm_ocr_spark.operators.skew import doc_length_stats
    from xs_vlm_ocr_spark.schemas import DOCS_SCHEMA

    tiny = [
        {"doc_id": f"t{i}", "spans": [{"kind": "text", "text": "ab",
                                       "media_ref": "", "offset": 0}]}
        for i in range(60)
    ]
    giant = [
        {"doc_id": f"g{i}", "spans": [{"kind": "text", "text": "x" * 20000,
                                       "media_ref": "", "offset": 0}]}
        for i in range(3)
    ]
    bad = [{"doc_id": f"bad{i}", "spans": []} for i in range(5)]
    docs = spark.createDataFrame(tiny + giant + bad, DOCS_SCHEMA)

    # precondition: this corpus must actually trigger the skew branch
    st = doc_length_stats(docs, sample_fraction=1.0)
    assert st.hot / st.median >= 10.0

    job = ExtractionJob(str(tmp_path_factory.mktemp("job_skew_inv")),
                        skew_sample_fraction=1.0)
    run_id = job.run(spark, docs)
    inv = job.read_lineage(spark).filter(
        (F.col("run_id") == run_id) & (F.col("stage") == "invalid")
    ).collect()
    assert len(inv) == 1 and inv[0]["docs_in"] == 5  # exact, not doubled
    assert job.read_results(spark).count() == 63


def test_single_file_input_extraction_fans_out(spark, tmp_path_factory):
    """A single-row-group parquet input (ONE scan partition) must not
    serialize the extraction: AQE sizes the dedup exchange by BYTES and
    coalesces a small batch to one task, but the stage above it is
    per-row-expensive Python — the job pins the fan-out with an explicit
    repartition (exempt from AQE coalescing) whenever the source scan
    has fewer partitions than the target. Asserted via lineage
    partition_id (deterministic; no timing)."""
    import pyspark.sql.functions as F

    src = str(tmp_path_factory.mktemp("onefile") / "docs")
    gen_docs_df(spark, 400).coalesce(1).write.parquet(src)
    docs = spark.read.parquet(src)
    assert docs.rdd.getNumPartitions() == 1

    job = ExtractionJob(str(tmp_path_factory.mktemp("job_onefile")))
    rid = job.run(spark, docs)
    lin = job.read_lineage(spark).filter(
        (F.col("run_id") == rid) & (F.col("partition_id") >= 0)
        & (F.col("docs_in") > 0)
    )
    n_parts = lin.select("partition_id").distinct().count()
    assert n_parts > 4, f"extraction ran on {n_parts} partition(s)"
