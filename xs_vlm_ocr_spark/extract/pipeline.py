"""Single-document extraction pipeline + media-span anchoring.

``extract_doc`` is the per-document semantic the whole engine is defined
by: interleaved input spans -> ordered (kind, text, media_ref, order)
output spans. It is the golden oracle, and it composes the same
``extract_doc_bypass`` the Spark pandas UDF runs — never duplicated, so
the invariant holds by construction.

Stages (BASELINE.json:north_star):
  (a) html spans   -> strip_html boilerplate removal -> text segments
  (b) pdf_line runs-> XY-cut reading order + paragraph merge
  (c) anchoring    -> re-interleave extracted text with media spans by
      byte offset (reference analogue: contextId re-association,
      reference src/ui/MainWindow.cpp:1972-1983, and the Gemini
      parts-join, src/adapters/GeminiAdapter.cpp:59-94)

Anchoring rule: every output segment is keyed by (anchor_offset,
segment_index) where anchor_offset is the source span's byte offset (for
a run of consecutive pdf_line spans: the run's first offset). Output
order is the dense rank over that key — explicit, never arrival order
(lesson from the reference's nondeterministic completion ordering,
SURVEY.md §3.2).
"""

from __future__ import annotations

import re
from typing import Iterable, Mapping, Sequence

from xs_vlm_ocr_spark.extract.html_strip import strip_html
from xs_vlm_ocr_spark.extract.xycut import xycut_paragraphs

Span = Mapping  # kind, text, media_ref, offset
OutSpan = dict  # kind, text, media_ref, order

# The engine-wide whitespace contract: one explicit ASCII class, shared
# by every tokenizer/normalizer in BOTH languages (Python here; Spark/
# DuckDB via operators.text_analysis.WS_RE, built from this constant).
# A bare str.split()/\s+ would silently disagree across engines: Python
# str.split also breaks on \x1c-\x1f/\x85/NBSP, Java \s+ includes \x0B
# but RE2 (DuckDB) does not. Pinning the class here makes `_norm` (the
# text-span extraction semantic) expressible JVM-side as
# trim(regexp_replace(text, WS_RE, ' ')) with exact parity — which is
# what lets the Arrow-bypass plan keep plain-text spans out of Python
# entirely (operators.extraction).
WS_CHARS = r" \t\n\r\f\x0b"
_WS = re.compile(f"[{WS_CHARS}]+")


def _norm(text: str) -> str:
    """Collapse pinned-class whitespace runs to single spaces and strip
    the edges. Exactly trim(regexp_replace(text, WS_RE, ' ')) in Spark —
    parity pinned by tests/test_properties.py over every BMP codepoint."""
    return _WS.sub(" ", text).strip(" ")


# Kind codes for the bypass calling convention: int32 arrays cross the
# Arrow boundary far cheaper than repeated kind strings.
KIND_HTML, KIND_PDF, KIND_TEXT, KIND_MEDIA = 1, 2, 3, 4
KIND_CODE = {"html": KIND_HTML, "pdf_line": KIND_PDF,
             "text": KIND_TEXT, "media": KIND_MEDIA}


def extract_doc_bypass(
    codes: Sequence[int], offs: Sequence[int],
    heavy: Sequence[str | None], blanks: Sequence[bool],
) -> tuple[list[str | None], list[int]]:
    """The Python half of the extraction split — ONLY the spans that
    genuinely need Python (html boilerplate strip, pdf XY-cut) carry
    their bytes here; `text`/`media` spans are placeholders resolved
    JVM-side (operators.extraction), so a document's plain text never
    crosses the Arrow boundary in either direction (at 32 workers per
    socket that transport is the measured scaling bottleneck —
    BENCH/BASELINE.md noop control; reference analogue: the adapters
    ship only the image payload, never already-known metadata,
    reference src/adapters/QwenAdapter.cpp:99-125).

    Inputs are parallel arrays over the doc's spans:
      codes  — KIND_CODE per span (0 = unknown, dropped);
      offs   — byte offsets (ordering key, stable by input index);
      heavy  — span text for html/pdf_line spans, None otherwise;
      blanks — for text spans: True iff _norm(text) == '' (computed
               JVM-side; a blank text span emits nothing).

    Returns (o_texts, o_src), index-aligned output slots in reading
    order: a Python-produced slot has o_texts[j] = extracted text and
    o_src[j] = -1; a passthrough slot (text/media span) has
    o_texts[j] = None and o_src[j] = the INPUT span index, which the
    assembly stage resolves against the original span array.
    """
    order = sorted(range(len(codes)), key=offs.__getitem__)
    o_texts: list[str | None] = []
    o_src: list[int] = []
    t_app, s_app = o_texts.append, o_src.append
    pdf_run: list[str] = []

    def flush_pdf() -> None:
        if pdf_run:
            for para in xycut_paragraphs(pdf_run):
                t_app(para); s_app(-1)  # noqa: E702
            pdf_run.clear()

    for i in order:
        code = codes[i]
        if code == KIND_PDF:
            pdf_run.append(heavy[i] or "")
            continue
        flush_pdf()
        if code == KIND_HTML:
            for seg in strip_html(heavy[i] or ""):
                t_app(seg); s_app(-1)  # noqa: E702
        elif code == KIND_TEXT:
            if not blanks[i]:
                t_app(None); s_app(i)  # noqa: E702
        elif code == KIND_MEDIA:
            t_app(None); s_app(i)  # noqa: E702
        # unknown kinds are dropped (validity is filtered upstream)
    flush_pdf()
    return o_texts, o_src


def assemble_spans(
    kinds: Sequence[str], texts: Sequence[str], refs: Sequence[str],
    o_texts: Sequence[str | None], o_src: Sequence[int],
) -> tuple[list[str], list[str], list[str]]:
    """The assembly half of the split, as a pure function: resolve the
    bypass stage's passthrough slots against the original spans. The
    Spark plan evaluates EXACTLY this rule as a Catalyst transform()
    (operators.extraction._assemble_col) — cross-implementation parity
    is pinned end-to-end by tests/test_end_to_end.py golden equality
    and per-codepoint by the _norm parity test."""
    out_kinds: list[str] = []
    out_texts: list[str] = []
    out_refs: list[str] = []
    for t, s in zip(o_texts, o_src):
        if s >= 0:
            if kinds[s] == "media":
                out_kinds.append("media")
                out_texts.append("")
                out_refs.append(refs[s] or "")
            else:
                out_kinds.append("text")
                out_texts.append(_norm(texts[s] or ""))
                out_refs.append("")
        else:
            out_kinds.append("text")
            out_texts.append(t or "")
            out_refs.append("")
    return out_kinds, out_texts, out_refs


def extract_doc_arrays(
    kinds: Sequence[str], texts: Sequence[str],
    refs: Sequence[str], offs: Sequence[int],
) -> tuple[list[str], list[str], list[str]]:
    """THE single-doc extraction semantic, over parallel primitive arrays
    -> (out_kinds, out_texts, out_refs). Output index IS the dense
    `order`.

    Defined as the mask -> bypass -> assemble composition, so the pure
    oracle and the Spark plan (JVM mask, Python bypass, JVM assemble)
    share one implementation by construction — never forked.
    ``extract_doc`` is a thin dict adapter over this function, so the
    golden tests pin the same code path the UDF runs. The full-text
    merge is NOT done here: the Spark stage computes it JVM-side from
    the assembled spans so text bytes cross the Arrow boundary zero
    times (plain text) or once (html/pdf payloads); the pure-Python rule
    lives in ``merge_full_text`` and the two are pinned equal by
    tests/test_end_to_end.py::test_golden_span_equality.
    """
    codes = [KIND_CODE.get(k, 0) for k in kinds]
    heavy = [
        texts[i] if codes[i] in (KIND_HTML, KIND_PDF) else None
        for i in range(len(codes))
    ]
    blanks = [
        codes[i] == KIND_TEXT and not _norm(texts[i] or "")
        for i in range(len(codes))
    ]
    o_texts, o_src = extract_doc_bypass(codes, offs, heavy, blanks)
    return assemble_spans(kinds, texts, refs, o_texts, o_src)


def extract_doc(spans: Sequence[Span]) -> list[OutSpan]:
    """Extract one document's input spans into ordered output spans
    (dict-span adapter over ``extract_doc_arrays`` — one implementation,
    two calling conventions)."""
    out_kinds, out_texts, out_refs = extract_doc_arrays(
        [s["kind"] for s in spans],
        [s["text"] for s in spans],
        [s["media_ref"] for s in spans],
        [s["offset"] for s in spans],
    )
    return [
        {"kind": k, "text": t, "media_ref": m, "order": i}
        for i, (k, t, m) in enumerate(zip(out_kinds, out_texts, out_refs))
    ]


def merge_full_text(spans_out: Iterable[OutSpan]) -> str:
    """Join non-empty text spans with newlines.

    Reference analogue: OCRResult::mergeFullText (reference
    src/core/OCRResult.h:33-41).
    """
    return "\n".join(s["text"] for s in spans_out if s["kind"] == "text" and s["text"])
