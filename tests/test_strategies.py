"""Strategy config: provider inheritance join and engine dispatch."""

import pytest

from xs_vlm_ocr_spark import strategies as S

CONFIG = {
    "providers": [
        {"id": "p1", "name": "ProvOne", "api_host": "https://p1", "api_key": "K1"},
        {"id": "p2", "name": "ProvTwo", "api_host": "https://p2", "api_key": ""},
    ],
    "models": [
        {"id": "m1", "display_name": "M1", "type": "online", "engine": "main_content_v1",
         "provider": "p1", "params": {"api_key": "OWN", "temperature": "0.1"}, "enabled": True},
        {"id": "m2", "display_name": "M2", "type": "online", "engine": "passthrough",
         "provider": "p1", "params": {}, "enabled": False},
        {"id": "m3", "display_name": "M3", "type": "online", "engine": "unregistered_engine",
         "provider": "p2", "params": {}, "enabled": True},
        {"id": "m4", "display_name": "M4", "type": "local", "engine": "passthrough",
         "provider": "p2", "params": {"api_host": ""}, "enabled": True},
    ],
}


@pytest.fixture(scope="module")
def inherited(spark):
    models = S.strategies_df(spark, CONFIG)
    provs = S.providers_df(spark, CONFIG)
    return {r["id"]: r for r in S.inherit_provider_params(models, provs).collect()}


def test_model_param_wins_over_provider(inherited):
    assert inherited["m1"]["params"]["api_key"] == "OWN"
    assert inherited["m1"]["params"]["api_host"] == "https://p1"
    assert inherited["m1"]["params"]["temperature"] == "0.1"


def test_provider_fills_missing(inherited):
    assert inherited["m2"]["params"]["api_key"] == "K1"
    # empty provider value stays empty (nothing to inherit)
    assert inherited["m3"]["params"]["api_key"] == ""
    assert inherited["m4"]["params"]["api_host"] == "https://p2"


def test_engine_dispatch_changes_extraction(spark):
    from xs_vlm_ocr_spark.corpus import gen_docs_df
    from xs_vlm_ocr_spark.operators.extraction import extract_spans, split_extraction_output

    docs = gen_docs_df(spark, 10)
    main, _ = split_extraction_output(extract_spans(docs, "main_content_v1"))
    raw, _ = split_extraction_output(extract_spans(docs, "passthrough"))
    m = {r["doc_id"]: r["full_text"] for r in main.collect()}
    p = {r["doc_id"]: r["full_text"] for r in raw.collect()}
    # passthrough keeps boilerplate -> strictly more text on html docs
    assert any(len(p[d]) > len(m[d]) for d in m)
    assert all(len(p[d]) >= len(m[d]) > 0 or p[d] == m[d] for d in m)
