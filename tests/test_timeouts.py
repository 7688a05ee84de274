"""Per-doc extraction timeout (C5): a doc exceeding the wall budget is
routed as an error row — never thrown, never dropped — matching the
reference adapters' request-timeout handling (late response discarded,
error surfaced).

Deterministic despite the noisy VM: the slow engine sleeps 100 ms
against a 10 ms budget (10x margin), the fast case gets a 10-minute
budget.
"""

import time

from xs_vlm_ocr_spark import strategies
from xs_vlm_ocr_spark.corpus import gen_docs_df
from xs_vlm_ocr_spark.extract.pipeline import extract_doc_bypass
from xs_vlm_ocr_spark.operators.extraction import (
    extract_spans,
    split_extraction_output,
    with_content_hash,
)


def test_timeout_routes_error_rows(spark, monkeypatch):
    # defined in-test: cloudpickle serializes the closure by VALUE
    # (a module-level function would pickle by reference to a module
    # the executor workers can't import)
    def _slow_engine(codes, offs, heavy, blanks, _sleep=time.sleep,
                     _extract=extract_doc_bypass):
        _sleep(0.1)
        return _extract(codes, offs, heavy, blanks)

    monkeypatch.setitem(strategies.REGISTRY, "slow_engine", _slow_engine)
    docs = with_content_hash(gen_docs_df(spark, 8), "slow_engine")
    results, lineage = split_extraction_output(
        extract_spans(docs, "slow_engine", timeout_ms=10)
    )
    rows = results.collect()
    assert len(rows) == 8  # every doc accounted for
    assert all(not r["success"] for r in rows)
    assert all(r["error_message"].startswith("timeout:") for r in rows)
    assert all(r["processing_time_ms"] >= 100 for r in rows)
    # timed-out docs are not counted as successful output
    assert lineage.agg({"docs_out": "sum"}).first()[0] == 0


def test_no_timeout_within_budget(spark):
    docs = with_content_hash(gen_docs_df(spark, 8))
    results, _ = split_extraction_output(
        extract_spans(docs, timeout_ms=600_000)
    )
    rows = results.collect()
    assert len(rows) == 8 and all(r["success"] for r in rows)
