"""write_deduped: the pipeline's decisions APPLIED (round-7 directive 2).

Every decision artifact existed — near-dup clusters (is_canonical),
contamination spans, quality signals — but nothing materialized the
cleaned corpus they describe. These tests pin the decision->action step
against a pure-Python golden on a planted corpus: twins collapse to the
canonical member, contaminated windows are cut (or the doc dropped),
quality failures drop, and the per-reason counts land in lineage and
the snapshot's manifest meta.
"""

import re

import pytest
from pyspark.sql import functions as F

from xs_vlm_ocr_spark.extract.pipeline import WS_CHARS
from xs_vlm_ocr_spark.job import ExtractionJob
from xs_vlm_ocr_spark.schemas import DOCS_SCHEMA
from xs_vlm_ocr_spark.table_io import CheckpointedTable

BENCH = " ".join(f"bench{i:02d}" for i in range(12))
CLEAN_1 = " ".join(f"alpha{i:03d}" for i in range(60))
CLEAN_2 = " ".join(f"beta{i:03d}" for i in range(60))
# TAINTED must NOT share vocabulary with any clean doc: at threshold 0.5
# the near-dup stage would (correctly) collapse it into that doc's
# cluster and the duplicate drop would shadow the span-surgery path
TAINTED = (" ".join(f"gamma{i:03d}" for i in range(30)) + " " + BENCH
           + " " + " ".join(f"gamma{i:03d}" for i in range(30, 60)))
TWIN_A = " ".join(f"w{i:03d}" for i in range(200))
TWIN_B = TWIN_A.replace("w050", "xychanged")
LOW_QUALITY = "zz zz"  # < 50 chars and mean word < 3 -> score 1/3


def _python_golden_surgery(text: str, heldout: str, n: int) -> str:
    """Pure-Python mirror of span surgery: remove every token position
    covered by an n-gram shared with the held-out text."""
    # WS_CHARS is already regex-escaped for embedding in a char class
    ws = re.compile(f"[{WS_CHARS}]+")
    toks = ws.split(text.strip())
    lo = [t.lower() for t in toks]
    held = ws.split(heldout.strip().lower())
    held_grams = {
        " ".join(held[i:i + n]) for i in range(max(len(held) - n, 0) + 1)
    }
    removed = set()
    for p in range(max(len(lo) - n, 0) + 1):
        if " ".join(lo[p:p + n]) in held_grams:
            removed.update(range(p, p + n))
    return " ".join(t for i, t in enumerate(toks) if i not in removed)


def _docs(spark, items):
    rows = [
        {"doc_id": did,
         "spans": [{"kind": "text", "text": text, "media_ref": "", "offset": 0}]}
        for did, text in items
    ]
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def _heldout(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("heldout") / "bench")
    spark.createDataFrame([(0, BENCH)], "doc_id long, text string") \
        .write.parquet(d)
    return d


def _hashes(job, spark):
    res = job.read_results(spark)
    return {r["full_text"]: r["content_hash"] for r in res.collect()}


@pytest.fixture(scope="module")
def decided(spark, tmp_path_factory):
    """One job with every decision input on, two ingests, one
    write_deduped pass — shared by the value assertions below."""
    out = str(tmp_path_factory.mktemp("wd_job"))
    hd = _heldout(spark, tmp_path_factory)
    job = ExtractionJob(out, near_dup_threshold=0.5, heldout_dir=hd,
                        contamination_n=5, compute_signals=True)
    job.run(spark, _docs(spark, [("a", TWIN_A), ("t", TAINTED),
                                 ("c1", CLEAN_1)]))
    job.run(spark, _docs(spark, [("b", TWIN_B), ("q", LOW_QUALITY),
                                 ("c2", CLEAN_2)]))
    dest = str(tmp_path_factory.mktemp("wd_dest") / "corpus")
    counts = job.write_deduped(spark, dest, min_quality=0.5)
    rows = {r["doc_id"]: (r["text"], r["was_trimmed"])
            for r in CheckpointedTable(dest).read(spark).collect()}
    return job, dest, counts, rows


def test_kept_set_matches_golden(decided, spark):
    job, dest, counts, rows = decided
    h = _hashes(job, spark)
    twin_keep = min(h[TWIN_A], h[TWIN_B])
    expect_kept = {twin_keep, h[TAINTED], h[CLEAN_1], h[CLEAN_2]}
    assert set(rows) == expect_kept
    assert counts["docs_in"] == 6
    assert counts["kept"] == 4
    assert counts["dropped_duplicate"] == 1
    assert counts["dropped_quality"] == 1
    assert counts["dropped_contaminated"] == 0
    assert counts["trimmed_docs"] == 1


def test_surgery_equals_python_golden(decided, spark):
    job, dest, counts, rows = decided
    h = _hashes(job, spark)
    golden = _python_golden_surgery(TAINTED, BENCH, n=5)
    assert rows[h[TAINTED]] == (golden, True)
    assert "bench00" not in rows[h[TAINTED]][0]
    # untouched docs keep their bytes exactly, not a re-join
    assert rows[h[CLEAN_1]] == (CLEAN_1, False)
    assert rows[h[CLEAN_2]] == (CLEAN_2, False)


def test_counts_in_lineage_and_meta(decided, spark):
    job, dest, counts, rows = decided
    meta = CheckpointedTable(dest).get_meta()
    for k, v in counts.items():
        assert meta[k] == v
    lin = job.read_lineage(spark).filter(
        F.col("stage").startswith("dedup:")
    ).collect()
    by_stage = {r["stage"]: r["docs_out"] for r in lin}
    assert by_stage == {
        "dedup:kept": 4, "dedup:duplicate": 1,
        "dedup:contaminated": 0, "dedup:quality": 1,
    }
    assert all(r["docs_in"] == 6 for r in lin)


def test_rerun_is_idempotent(decided, spark):
    """Same corpus + same params -> same deterministic snapshot id,
    identical content, and NO duplicate lineage rows."""
    job, dest, counts, rows = decided
    n_lineage = job.read_lineage(spark).count()
    counts2 = job.write_deduped(spark, dest, min_quality=0.5)
    assert counts2 == counts
    rows2 = {r["doc_id"]: (r["text"], r["was_trimmed"])
             for r in CheckpointedTable(dest).read(spark).collect()}
    assert rows2 == rows
    assert job.read_lineage(spark).count() == n_lineage


def test_drop_contaminated_mode(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wd_drop"))
    hd = _heldout(spark, tmp_path_factory)
    job = ExtractionJob(out, heldout_dir=hd, contamination_n=5)
    job.run(spark, _docs(spark, [("t", TAINTED), ("c1", CLEAN_1)]))
    dest = str(tmp_path_factory.mktemp("wd_drop_dest") / "corpus")
    counts = job.write_deduped(spark, dest, drop_contaminated=True)
    h = _hashes(job, spark)
    rows = {r["doc_id"] for r in CheckpointedTable(dest).read(spark).collect()}
    assert rows == {h[CLEAN_1]}
    assert counts["dropped_contaminated"] == 1
    assert counts["trimmed_docs"] == 0


def test_plain_job_passthrough(spark, tmp_path_factory):
    """No decision inputs at all -> every committed doc kept verbatim
    (write_deduped degrades to an exact-dedup snapshot of the corpus,
    since the committed corpus is already one row per content_hash)."""
    out = str(tmp_path_factory.mktemp("wd_plain"))
    job = ExtractionJob(out)
    job.run(spark, _docs(spark, [("c1", CLEAN_1), ("c2", CLEAN_2)]))
    dest = str(tmp_path_factory.mktemp("wd_plain_dest") / "corpus")
    counts = job.write_deduped(spark, dest)
    assert counts["kept"] == 2 and counts["docs_in"] == 2
    rows = {r["doc_id"]: r["text"]
            for r in CheckpointedTable(dest).read(spark).collect()}
    assert set(rows.values()) == {CLEAN_1, CLEAN_2}


def test_quality_flags_require_signals(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wd_guard"))
    job = ExtractionJob(out)
    with pytest.raises(ValueError, match="compute_signals"):
        job.write_deduped(spark, str(tmp_path_factory.mktemp("d")),
                          min_quality=0.5)


def test_snapshot_id_stable_across_empty_rerun(spark, tmp_path_factory):
    """A rerun over an already-ingested corpus commits a ZERO-ROW results
    run; the decision over identical content must mint the IDENTICAL
    deterministic snapshot id (keyed on content_runs, not all_time_runs
    — caught by tools/rehearse.py on the CLI surface)."""
    out = str(tmp_path_factory.mktemp("wd_idem"))
    dest = str(tmp_path_factory.mktemp("wd_idem_dest"))
    job = ExtractionJob(out)
    docs = _docs(spark, [("a", CLEAN_1), ("b", CLEAN_2)])
    job.run(spark, docs)
    c1 = job.write_deduped(spark, dest)

    job.run(spark, docs)  # zero new docs -> zero-row results run
    assert len(job.results.all_time_runs()) == 2
    assert len(job.results.content_runs()) == 1
    c2 = job.write_deduped(spark, dest)
    assert c2 == c1  # snapshot id AND counts


def test_snapshot_id_tracks_decision_table_provenance(spark, tmp_path_factory):
    """The documented rebuild flow — delete the contamination dir and
    re-run with a different n, or point at an updated held-out set —
    must mint a NEW snapshot id: with the id keyed only on results
    content + thresholds, the committed-snapshot fast path silently
    served the STALE cleaned corpus as current (r7 advice, medium)."""
    import shutil

    out = str(tmp_path_factory.mktemp("wd_prov"))
    dest = str(tmp_path_factory.mktemp("wd_prov_dest"))
    hd = _heldout(spark, tmp_path_factory)
    job = ExtractionJob(out, heldout_dir=hd, contamination_n=5)
    job.run(spark, _docs(spark, [("t", TAINTED), ("c1", CLEAN_1)]))
    c1 = job.write_deduped(spark, dest)

    # rebuild flow: drop the contamination table, change n, re-derive
    shutil.rmtree(job.contamination.path)
    job2 = ExtractionJob(out, heldout_dir=hd, contamination_n=7)
    c2 = job2.write_deduped(spark, dest)
    assert c2["snapshot"] != c1["snapshot"]  # not the stale fast path

    # updated held-out CONTENT at the same path also changes the id
    job3 = ExtractionJob(out, heldout_dir=hd, contamination_n=7)
    spark.createDataFrame([(1, CLEAN_2)], "doc_id long, text string") \
        .write.mode("append").parquet(hd)
    shutil.rmtree(job3.contamination.path)
    c3 = job3.write_deduped(spark, dest)
    assert c3["snapshot"] != c2["snapshot"]

    # a PARTITIONED held-out set: a row appended inside an existing
    # partition dir changes no top-level entry, and still changes the id
    pd = str(tmp_path_factory.mktemp("heldout_part") / "bench")
    schema = "doc_id long, text string, lang string"
    spark.createDataFrame([(0, BENCH, "en")], schema) \
        .write.partitionBy("lang").parquet(pd)
    job4 = ExtractionJob(out, heldout_dir=pd, contamination_n=7)
    shutil.rmtree(job4.contamination.path)
    c4 = job4.write_deduped(spark, dest)
    spark.createDataFrame([(1, CLEAN_2, "en")], schema) \
        .write.mode("append").partitionBy("lang").parquet(pd)
    shutil.rmtree(job4.contamination.path)
    c5 = job4.write_deduped(spark, dest)
    assert c5["snapshot"] != c4["snapshot"]


def test_meta_crash_heals_without_rewrite(spark, tmp_path_factory):
    """Crash window between the snapshot commit and its meta stamp:
    write_deduped finds the committed snapshot with stale meta,
    re-derives the counts with one aggregate, and never rewrites the
    live snapshot (replace() would refuse the committed id)."""
    import os

    out = str(tmp_path_factory.mktemp("wd_heal"))
    dest = str(tmp_path_factory.mktemp("wd_heal_dest"))
    job = ExtractionJob(out)
    job.run(spark, _docs(spark, [("a", CLEAN_1), ("b", CLEAN_2)]))
    c1 = job.write_deduped(spark, dest)

    tbl = CheckpointedTable(dest)
    tbl.set_meta({})  # simulate the lost-meta crash state
    files = {
        os.path.join(r, f) for r, _d, fs in os.walk(os.path.join(dest, "data"))
        for f in fs
    }
    c2 = job.write_deduped(spark, dest)
    assert c2 == c1
    assert tbl.get_meta() == c1  # meta healed
    after = {
        os.path.join(r, f) for r, _d, fs in os.walk(os.path.join(dest, "data"))
        for f in fs
    }
    assert after == files  # no rewrite of the committed snapshot


def test_read_clean_view_equals_snapshot(decided, spark):
    """read_clean (the zero-copy view) returns EXACTLY the rows
    write_deduped materialized for the same parameters — the two
    surfaces share one decision builder and must never fork."""
    job, dest, counts, rows = decided
    view = {r["doc_id"]: (r["text"], r["was_trimmed"])
            for r in job.read_clean(spark, min_quality=0.5).collect()}
    assert view == rows


def test_read_clean_pushes_id_filter_to_results_scan(decided, spark):
    """The point of the view at scale: a consumer's doc_id filter must
    reach the results parquet scan as a pushed filter (the snapshot
    would serve it too, but the view does it with zero bytes written) —
    and a point lookup returns the same decided row."""
    job, dest, counts, rows = decided
    some_id = next(iter(rows))
    got = job.read_clean(spark, min_quality=0.5).filter(
        F.col("doc_id") == some_id)
    plan = got._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "PushedFilters: [" in final
    # the content_hash point filter reaches at least one parquet scan
    assert "IsNotNull(content_hash), EqualTo(content_hash," in final \
        or "EqualTo(content_hash," in final
    row = got.collect()
    assert len(row) == 1
    assert (row[0]["text"], row[0]["was_trimmed"]) == rows[some_id]


def test_read_clean_requires_signals_for_quality(spark, tmp_path_factory):
    job = ExtractionJob(str(tmp_path_factory.mktemp("rc_guard")))
    with pytest.raises(ValueError, match="compute_signals"):
        job.read_clean(spark, min_quality=0.5)


def test_write_deduped_on_never_run_job(spark, tmp_path_factory):
    """A job with ZERO committed results (never ran, or a read-only
    mirror of an empty deployment): the decision over the empty corpus
    must commit a zero-row snapshot with all-zero counts — not hang on
    the drop-count Observation (empty-relation propagation may rewrite
    the observed subtree; run() guards its own Observation against
    exactly that) — and read_clean must return an empty frame with the
    contract columns. The rerun takes the committed-snapshot fast path
    and mints the same id."""
    out = str(tmp_path_factory.mktemp("wd_never"))
    dest = str(tmp_path_factory.mktemp("wd_never_dest"))
    job = ExtractionJob(out)
    counts = job.write_deduped(spark, dest)
    assert counts["docs_in"] == 0 and counts["kept"] == 0
    assert counts["dropped_duplicate"] == 0
    assert counts["dropped_contaminated"] == 0
    assert counts["dropped_quality"] == 0

    view = job.read_clean(spark)
    assert view.columns == ["doc_id", "text", "was_trimmed"]
    assert view.count() == 0

    assert job.write_deduped(spark, dest) == counts  # fast-path rerun
