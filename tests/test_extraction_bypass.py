"""The Arrow-bypass extraction plan: cross-language parity pins.

The bypass plan splits one semantic across two engines — Python runs
``extract_doc_bypass`` (html strip, XY-cut), Catalyst runs the mask
(codes/heavy/blanks) and the assembly (passthrough resolution + _norm).
These tests pin every cross-language seam:

  * ``norm_col``/blank-RLIKE == ``_norm`` for EVERY BMP codepoint;
  * Spark bypass output == pure ``extract_doc`` on adversarial docs
    (exotic whitespace, unknown kinds, blank text spans, empty media
    refs, pdf runs, html payloads);
  * the Catalyst ``passthrough`` plan == its Python spec on the same
    docs, with no Python node in the plan;
  * the bypass plan's Python inputs genuinely exclude plain-text span
    payloads (the point of the whole design).
"""

import pytest
from pyspark.sql import functions as F

from xs_vlm_ocr_spark.extract.pipeline import _norm, extract_doc
from xs_vlm_ocr_spark.operators.extraction import (
    _extract_spans_bypass,
    extract_spans,
    norm_col,
    with_content_hash,
)

EDGE_DOCS = [
    # exotic whitespace inside/around text spans (outside the pinned
    # class: must be PRESERVED by _norm in both engines)
    ("w0", [("text", "  a\tbc  ", "", 0)]),
    ("w1", [("text", "\x0b\f nbsp\xa0glued \r\n", "", 0)]),
    ("w2", [("text", "\x1cfile\x1dsep\x1e", "", 0)]),
    ("w3", [("text", "ideo　space linesep", "", 0)]),
    ("w4", [("text", " \t\r\n\f\x0b ", "", 0)]),      # blank after norm: dropped
    ("w5", [("text", "\xa0", "", 0)]),                  # NOT blank (nbsp kept)
    # unknown kinds dropped; media with empty ref
    ("k0", [("junk", "zz", "", 0), ("text", "keep", "", 5)]),
    ("k1", [("media", "", "", 0), ("media", "", "img://a/1", 3)]),
    # interleaving + pdf runs split by a media span
    ("m0", [
        ("pdf_line", "0.1,0.1,0.9,0.2|first line", "", 0),
        ("pdf_line", "0.1,0.25,0.9,0.35|second line", "", 10),
        ("media", "", "img://m0/1", 20),
        ("pdf_line", "0.1,0.5,0.9,0.6|after image", "", 30),
        ("text", "  tail   text ", "", 40),
    ]),
    # html payload with boilerplate + offsets out of input order
    ("h0", [
        ("text", "post", "", 100),
        ("html", "<html><nav>menu</nav><p>Main content paragraph that "
                 "is long enough to score as body text for the density "
                 "heuristic, with several words.</p></html>", "", 0),
    ]),
    # equal offsets: stable by input index
    ("e0", [("text", "first", "", 7), ("text", "second", "", 7),
            ("media", "", "img://e0", 7)]),
]


def _docs_df(spark):
    rows = [
        {"doc_id": did,
         "spans": [{"kind": k, "text": t, "media_ref": r, "offset": o}
                   for (k, t, r, o) in spans]}
        for did, spans in EDGE_DOCS
    ]
    from xs_vlm_ocr_spark.schemas import DOCS_SCHEMA

    return spark.createDataFrame(rows, DOCS_SCHEMA)


def _expected():
    return {
        did: [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in extract_doc(
                [{"kind": k, "text": t, "media_ref": r, "offset": o}
                 for (k, t, r, o) in spans]
            )
        ]
        for did, spans in EDGE_DOCS
    }


def _collect_spans(df):
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in r["spans_out"]
        ]
        for r in df.collect()
    }


def test_norm_parity_every_bmp_codepoint(spark):
    """JVM norm_col == Python _norm for a probe string around EVERY BMP
    codepoint (surrogates excluded — unencodable in UTF-8). The bypass
    plan's blank flags derive from norm_col('') == '', so this parity is
    also the blank-predicate parity."""
    probes = []
    for cp in range(0x10000):
        if 0xD800 <= cp <= 0xDFFF:
            continue
        c = chr(cp)
        probes.append((cp, f" a{c}{c}b "))
        probes.append((cp + 0x110000, c))  # solo char: blank-predicate probe
    df = spark.createDataFrame(probes, "id long, s string")
    got = {
        r["id"]: r["n"]
        for r in df.select("id", norm_col(F.col("s")).alias("n")).collect()
    }
    for pid, s in probes:
        assert got[pid] == _norm(s), (pid, repr(s), repr(got[pid]), repr(_norm(s)))


@pytest.fixture(scope="module")
def hashed(spark):
    return with_content_hash(_docs_df(spark)).cache()


def _merged_full_text(extract):
    from xs_vlm_ocr_spark.extract.pipeline import merge_full_text

    return {
        did: merge_full_text(extract(
            [{"kind": k, "text": t, "media_ref": r, "offset": o}
             for (k, t, r, o) in spans]
        ))
        for did, spans in EDGE_DOCS
    }


def test_bypass_equals_pure_extractor_on_edge_docs(spark, hashed):
    from xs_vlm_ocr_spark.extract.pipeline import extract_doc_bypass

    out = _extract_spans_bypass(hashed, extract_doc_bypass, "main_content_v1", None)
    rows = out.collect()
    assert all(r["success"] and r["error_message"] == "" for r in rows)
    assert all(r["model_name"] == "main_content_v1" for r in rows)
    # content_hash is carried through unchanged
    want_hash = {r["doc_id"]: r["content_hash"]
                 for r in hashed.select("doc_id", "content_hash").collect()}
    assert {r["doc_id"]: r["content_hash"] for r in rows} == want_hash
    got = _collect_spans(out)
    assert got == _expected()
    # full_text merge parity too
    assert {r["doc_id"]: r["full_text"] for r in rows} == \
        _merged_full_text(extract_doc)


def test_passthrough_is_catalyst_and_equals_python_spec(spark):
    """``passthrough`` runs as a Catalyst expression: on every edge doc
    it equals its Python spec in (kind, text, media_ref, order) and in
    full_text, and its executed plan has no Python node."""
    from oracles import passthrough_doc

    out = extract_spans(_docs_df(spark), "passthrough")
    rows = out.collect()
    assert len(rows) == len(EDGE_DOCS)
    assert all(r["success"] and r["error_message"] == "" for r in rows)
    assert all(r["processing_time_ms"] == 0 and r["cum_wall_ms"] == 0
               for r in rows)
    want = {
        did: [(s["kind"], s["text"], s["media_ref"], s["order"])
              for s in passthrough_doc(
                  [{"kind": k, "text": t, "media_ref": r, "offset": o}
                   for (k, t, r, o) in spans])]
        for did, spans in EDGE_DOCS
    }
    assert _collect_spans(out) == want
    assert {r["doc_id"]: r["full_text"] for r in rows} == \
        _merged_full_text(passthrough_doc)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "PythonUDF" not in plan, plan


def test_bypass_ships_no_plain_text_bytes(spark, hashed):
    """The design invariant: the Python stage's input columns exclude
    `text`-span payloads entirely — a text-only doc contributes NULLs to
    the heavy column. Asserted by intercepting what the bypass function
    actually receives."""
    from xs_vlm_ocr_spark.extract.pipeline import extract_doc_bypass

    marker = "UNIQUE_PLAINTEXT_PAYLOAD_XYZZY"
    from xs_vlm_ocr_spark.schemas import DOCS_SCHEMA

    docs = spark.createDataFrame(
        [{"doc_id": "p0",
          "spans": [{"kind": "text", "text": marker, "media_ref": "", "offset": 0},
                    {"kind": "html", "text": "<p>html payload here</p>",
                     "media_ref": "", "offset": 5}]}],
        DOCS_SCHEMA,
    )

    def probe(codes, offs, heavy, blanks):
        seen = [h for h in heavy if h is not None]
        assert all(marker not in h for h in seen), "plain text crossed Arrow!"
        assert any("html payload" in h for h in seen)
        return extract_doc_bypass(codes, offs, heavy, blanks)

    out = _extract_spans_bypass(with_content_hash(docs), probe,
                                "main_content_v1", None)
    rows = out.collect()  # assertion inside the worker -> error row if it fired
    assert rows[0]["success"], rows[0]["error_message"]
    assert rows[0]["spans_out"][0]["text"] == marker  # resolved JVM-side


def test_bypass_error_isolation(spark, hashed):
    """A strategy that throws produces error rows, never a raised task."""
    def boom(codes, offs, heavy, blanks):
        raise ValueError("synthetic failure")

    out = _extract_spans_bypass(hashed, boom, "main_content_v1", None)
    rows = out.collect()
    assert rows and all(not r["success"] for r in rows)
    assert all("synthetic failure" in r["error_message"] for r in rows)
    assert all(r["spans_out"] == [] and r["full_text"] == "" for r in rows)


def test_explode_downstream_runs_udf_once(spark, hashed):
    """Regression pin: InferFiltersFromGenerate once synthesized a
    size(spans_out)>0 filter whose pushed-down condition contained the
    pandas UDF, running the whole extraction TWICE. asNondeterministic
    on the UDF bars that pushdown; the physical plan of an exploded
    consumer must contain exactly one ArrowEvalPython."""
    from xs_vlm_ocr_spark.extract.pipeline import extract_doc_bypass

    out = _extract_spans_bypass(hashed, extract_doc_bypass, "main_content_v1", None)
    q = out.select("doc_id", F.explode("spans_out").alias("s"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE prints both plans
    assert plan.count("ArrowEvalPython") == 1, plan[:2000]
