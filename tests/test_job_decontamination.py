"""Decontamination + quality signals ON THE JOB SURFACE (round-7
directives 1 and 6).

The operators (text_dedup.ngram_contamination / contamination_spans,
text_analysis.repetition_signals / quality_score / lang_id) were
oracle-checked since round 6 but nothing on ExtractionJob ran them — the
exact gap the near-dup loop closed last round. These tests pin the
integration:

  * run(heldout_dir=...) commits, per results run, the merged
    contaminated token spans of the run's extracted text against the
    held-out corpus (GPT-3 appendix-C discipline, Brown et al. 2020) to
    a `contamination` CheckpointedTable;
  * run(compute_signals=True) commits per-doc Gopher repetition stats +
    token counts + quality + lang-id to a `signals` table, ONE
    zero-shuffle projection per increment;
  * both follow the derived-table crash-consistency rule shared with
    the near-dup index (ExtractionJob._increments): suffix heal,
    zero-row-run marking, bootstrap over a rewritten corpus, loud
    failure on the one unhealable violation;
  * plan pins: the held-out gram set broadcasts and the increment's
    grams never shuffle (one groupBy(doc) exchange total); the signals
    projection has zero hash exchanges.

Reference analogue: every derived result row is persisted
(HistoryManager.cpp:275-328) — here the derived rows are training-data
hygiene verdicts.
"""

import pytest
from pyspark.sql import functions as F

from xs_vlm_ocr_spark.job import ExtractionJob
from xs_vlm_ocr_spark.schemas import DOCS_SCHEMA

# a distinctive held-out passage: any train doc containing >= N
# consecutive of these tokens shares an N-gram with the test set
BENCH = " ".join(f"bench{i:02d}" for i in range(12))
CLEAN_1 = " ".join(f"alpha{i:03d}" for i in range(60))
CLEAN_2 = " ".join(f"beta{i:03d}" for i in range(60))
# contaminated: the benchmark passage embedded mid-document
TAINTED_1 = CLEAN_1[:200] + " " + BENCH + " " + CLEAN_1[200:]
TAINTED_2 = BENCH + " " + CLEAN_2


def _docs(spark, items):
    rows = [
        {"doc_id": did,
         "spans": [{"kind": "text", "text": text, "media_ref": "", "offset": 0}]}
        for did, text in items
    ]
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def _heldout(spark, tmp_path_factory, texts=(BENCH,)):
    d = str(tmp_path_factory.mktemp("heldout") / "bench")
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).write.parquet(d)
    return d


def _text_to_hash(job, spark):
    res = job.read_results(spark)
    return {r["full_text"]: r["content_hash"] for r in res.collect()}


def _span_rows(job, spark):
    spans = job.read_contamination(spark)
    if spans is None:
        return set()
    return {(r["doc_id"], r["start_tok"], r["end_tok"]) for r in spans.collect()}


def test_spans_committed_per_increment(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job_decon"))
    hd = _heldout(spark, tmp_path_factory)
    job = ExtractionJob(out, heldout_dir=hd, contamination_n=5)

    r1 = job.run(spark, _docs(spark, [("t1", TAINTED_1), ("c1", CLEAN_1)]))
    h = _text_to_hash(job, spark)
    got = _span_rows(job, spark)
    # only the tainted doc is flagged, with ONE merged span
    assert {d for d, _, _ in got} == {h[TAINTED_1]}
    assert len(got) == 1

    # the committed spans equal the pure operator run on the same corpus
    from xs_vlm_ocr_spark.operators.text_dedup import contamination_spans
    expect = {
        (r["doc_id"], r["start_tok"], r["end_tok"])
        for r in contamination_spans(
            job._committed_corpus(spark), job._heldout_corpus(spark),
            n=5, text_col="full_text",
        ).collect()
    }
    assert got == expect

    # second increment: only the new run is scanned, spans accumulate
    r2 = job.run(spark, _docs(spark, [("t2", TAINTED_2), ("c2", CLEAN_2)]))
    h = _text_to_hash(job, spark)
    got = _span_rows(job, spark)
    assert {d for d, _, _ in got} == {h[TAINTED_1], h[TAINTED_2]}
    assert set(job.contamination.committed_runs()) == {r1, r2}
    # TAINTED_2 starts with the passage: span starts at token 0
    t2_spans = [(s, e) for d, s, e in got if d == h[TAINTED_2]]
    assert t2_spans == [(0, 12)]


def test_crash_heal_equals_no_crash(spark, tmp_path_factory):
    hd = _heldout(spark, tmp_path_factory)
    b1 = [("t1", TAINTED_1), ("c1", CLEAN_1)]
    b2 = [("t2", TAINTED_2)]
    b3 = [("c2", CLEAN_2)]

    clean_out = str(tmp_path_factory.mktemp("decon_clean"))
    clean = ExtractionJob(clean_out, heldout_dir=hd, contamination_n=5,
                          compute_signals=True)
    for b in (b1, b2, b3):
        clean.run(spark, _docs(spark, b))

    crash_out = str(tmp_path_factory.mktemp("decon_crash"))
    crashed = ExtractionJob(crash_out, heldout_dir=hd, contamination_n=5,
                            compute_signals=True)
    crashed.run(spark, _docs(spark, b1))
    # "crash" between the results commit and the contamination commit:
    # a plain job (no heldout) runs the same commit path without sync
    ExtractionJob(crash_out).run(spark, _docs(spark, b2))
    pending = [r for r in crashed.results.committed_runs()
               if r not in crashed.contamination.all_time_runs()]
    assert len(pending) == 1
    crashed.run(spark, _docs(spark, b3))  # heals the suffix, then itself

    assert _span_rows(crashed, spark) == _span_rows(clean, spark)
    assert len(crashed.contamination.all_time_runs()) == 3

    def signal_rows(job):
        sig = job.read_signals(spark).drop("run_id")
        return sorted(tuple(r) for r in sig.collect())

    assert signal_rows(crashed) == signal_rows(clean)
    assert len(crashed.signals.all_time_runs()) == 3


def test_zero_row_run_marked_ingested(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("decon_zero"))
    hd = _heldout(spark, tmp_path_factory)
    job = ExtractionJob(out, heldout_dir=hd, contamination_n=5,
                        compute_signals=True)
    batch = _docs(spark, [("t1", TAINTED_1), ("c1", CLEAN_1)])
    job.run(spark, batch)
    r2 = job.run(spark, batch)  # all docs resumed away: zero-row run
    assert r2 in job.contamination.all_time_runs()
    assert r2 in job.signals.all_time_runs()
    assert job.sync_contamination(spark) == []
    assert job.sync_signals(spark) == []
    h = _text_to_hash(job, spark)
    assert len(_span_rows(job, spark)) == 1
    assert job.read_signals(spark).count() == len(h)


def test_bootstrap_over_compacted_corpus(spark, tmp_path_factory):
    """Enabling decontamination/signals on a corpus whose results were
    already compacted must BOOTSTRAP (one full-corpus increment), not
    brick — and must dedup replayed hashes so per-doc state never
    doubles."""
    out = str(tmp_path_factory.mktemp("decon_boot"))
    hd = _heldout(spark, tmp_path_factory)
    plain = ExtractionJob(out)
    plain.run(spark, _docs(spark, [("t1", TAINTED_1), ("c1", CLEAN_1)]))
    plain.run(spark, _docs(spark, [("t2", TAINTED_2)]))
    plain.results.compact(spark)

    job = ExtractionJob(out, heldout_dir=hd, contamination_n=5,
                        compute_signals=True)
    job.run(spark, _docs(spark, [("c2", CLEAN_2)]))
    h = _text_to_hash(job, spark)
    assert any(r.startswith("bootstrap-")
               for r in job.contamination.all_time_runs())
    assert {d for d, _, _ in _span_rows(job, spark)} == {
        h[TAINTED_1], h[TAINTED_2]
    }
    assert job.read_signals(spark).count() == len(h)
    # subsequent runs are plain increments
    job.run(spark, _docs(spark, [("c3", " ".join(f"g{i}" for i in range(40)))]))
    assert job.sync_contamination(spark) == []
    assert job.sync_signals(spark) == []
    assert job.read_signals(spark).count() == len(h) + 1


def test_lost_increment_fails_loud(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("decon_lost"))
    hd = _heldout(spark, tmp_path_factory)
    job = ExtractionJob(out, heldout_dir=hd, contamination_n=5,
                        compute_signals=True)
    job.run(spark, _docs(spark, [("c1", CLEAN_1)]))
    ExtractionJob(out).run(spark, _docs(spark, [("t1", TAINTED_1)]))
    job.results.compact(spark)
    with pytest.raises(RuntimeError, match="compacted/expired away"):
        job.sync_contamination(spark)
    with pytest.raises(RuntimeError, match="compacted/expired away"):
        job.sync_signals(spark)


def test_in_step_sync_skips_heldout_read(spark, tmp_path_factory):
    """An in-step contamination sync has nothing to scan, so it must not
    touch the held-out corpus: a held-out dir moved after ingestion
    does not break write_deduped / read_clean(sync=True)."""
    import os

    out = str(tmp_path_factory.mktemp("decon_moved"))
    hd = _heldout(spark, tmp_path_factory)
    job = ExtractionJob(out, heldout_dir=hd, contamination_n=5)
    job.run(spark, _docs(spark, [("t1", TAINTED_1), ("c1", CLEAN_1)]))
    os.rename(hd, hd + "_moved")
    assert job.sync_contamination(spark) == []
    assert job.read_clean(spark, sync=True).count() == 2
    dest = str(tmp_path_factory.mktemp("decon_moved_clean") / "clean")
    assert job.write_deduped(spark, dest)["kept"] == 2


def test_signals_values_match_operators(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("signals_vals"))
    job = ExtractionJob(out, compute_signals=True, repetition_n=2)
    rep_doc = "spam spam spam spam spam"
    job.run(spark, _docs(spark, [("c1", CLEAN_1), ("r1", rep_doc)]))
    h = _text_to_hash(job, spark)
    sig = {r["doc_id"]: r.asDict() for r in job.read_signals(spark).collect()}
    assert set(sig) == set(h.values())

    # cross-check against the direct operator expressions on the corpus
    from xs_vlm_ocr_spark.operators.text_analysis import (
        bpe_ish_token_count, lang_id, quality_score, token_count,
    )
    t = F.col("full_text")
    direct = {
        r["doc_id"]: r.asDict()
        for r in job._committed_corpus(spark).select(
            "doc_id",
            token_count(t).cast("long").alias("n_tokens"),
            bpe_ish_token_count(t).cast("long").alias("n_bpe_tokens"),
            quality_score(t).alias("quality_score"),
            lang_id(t).alias("lang"),
        ).collect()
    }
    for d, row in direct.items():
        for k in ("n_tokens", "n_bpe_tokens", "quality_score", "lang"):
            assert sig[d][k] == row[k], (d, k)
    # the repetition columns ride along in the same row
    r1 = sig[h[rep_doc]]
    assert r1["n_tokens"] == 5
    assert r1["n_grams"] == 4 and r1["n_distinct_grams"] == 1
    assert r1["dup_gram_frac"] == 0.75 and r1["top_gram_frac"] == 1.0


def test_job_path_plan_pins(spark, tmp_path_factory):
    """The 100 TB shape of both ingest stages, on the JOB's own frames:
    contamination — held-out grams BROADCAST, the increment's grams
    never shuffle (exactly one hash exchange: the groupBy(doc) of hit
    positions); signals — zero hash exchanges, no window."""
    import re

    out = str(tmp_path_factory.mktemp("decon_plan"))
    hd = _heldout(spark, tmp_path_factory)
    job = ExtractionJob(out, heldout_dir=hd, contamination_n=5,
                        compute_signals=True)
    r1 = job.run(spark, _docs(spark, [("t1", TAINTED_1), ("c1", CLEAN_1)]))

    from xs_vlm_ocr_spark.operators.text_analysis import repetition_signals
    from xs_vlm_ocr_spark.operators.text_dedup import contamination_spans

    spans = contamination_spans(
        job._run_corpus(spark, r1), job._heldout_corpus(spark),
        n=5, text_col="full_text",
    )
    plan = spans._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastExchange" in plan  # held-out gram set ships whole
    hash_ex = re.findall(r"Exchange hashpartitioning\(([^,]+),", plan)
    # the increment's grams NEVER hash-shuffle: the only exchanges are
    # the groupBy(doc) of hit positions (a sliver of the corpus) and the
    # tiny held-out side's own gram-distinct, which lives UNDER the
    # broadcast (printed after it in the tree)
    doc_ex = [e for e in hash_ex if e.startswith("doc_id")]
    g_ex = [e for e in hash_ex if e.startswith("g#")]
    assert len(doc_ex) == 1 and len(g_ex) <= 1, plan
    assert len(hash_ex) == len(doc_ex) + len(g_ex), plan
    if g_ex:
        assert (plan.index(f"Exchange hashpartitioning({g_ex[0]}")
                > plan.index("BroadcastExchange")), plan

    sig = repetition_signals(job._run_corpus(spark, r1),
                             text_col="full_text", id_col="doc_id", n=2)
    plan = sig._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Window" not in plan
    assert "Exchange hashpartitioning" not in plan
