"""Deterministic synthetic interleaved-document corpus (FIXTURES.md §1).

Every document is a pure function of (seed, doc_id): generation is
distributed via ``mapInPandas`` over ``spark.range`` and is invariant to
partitioning, so tests, bench and the resume fixtures all see identical
bytes. No wall-clock, no external data.

Profile (seed=42 default):
  ~45% HTML-flavored docs (main content + nav/footer/aside/link-farm
        boilerplate with controlled link density),
  ~35% PDF-flavored docs (1-3 column line boxes emitted in scanline
        order so XY-cut must recover reading order, optional full-width
        title band),
  ~20% mixed (plain text spans + an HTML fragment + a small PDF page);
  every doc carries 0-5 media spans at known byte offsets;
  doc byte-length is log-uniform; in ``skewed`` mode 1% of docs are
  ~40x the median (north-rule skew fixtures).
"""

from __future__ import annotations

import random
from typing import Iterator

import pandas as pd

from xs_vlm_ocr_spark.schemas import DOCS_SCHEMA

DEFAULT_SEED = 42

_WORDS = (
    "analysis apache arrow batch broadcast catalog catalyst cluster column "
    "commit compute corpus data dense document driver engine executor "
    "extract filter format graph hash index ingest join kernel layout "
    "lineage logical machine manifest merge metric model module network "
    "offset operator optimizer order output page parallel parquet partition "
    "pipeline plan predicate profile projection quantile query range record "
    "reduce region relation replica report result rollup runtime sample "
    "scan schema segment session shuffle signal snapshot source spark span "
    "stage storage stream struct table task text throughput token trace "
    "transform tuple vector window worker write"
).split()


def _rng(seed: int, doc_id: str) -> random.Random:
    return random.Random(f"corpus:{seed}:{doc_id}")


def _sentence(rng: random.Random, n_words: int) -> str:
    ws = [rng.choice(_WORDS) for _ in range(n_words)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def _paragraph(rng: random.Random, n_sentences: int) -> str:
    return " ".join(_sentence(rng, rng.randint(6, 14)) for _ in range(n_sentences))


# --------------------------------------------------------------- HTML docs

def _html_page(rng: random.Random, n_paras: int) -> str:
    nav_items = "".join(
        f'<li><a href="#{i}">{rng.choice(_WORDS)}</a></li>' for i in range(rng.randint(4, 9))
    )
    farm = " ".join(
        f'<a href="#f{i}">{rng.choice(_WORDS)} {rng.choice(_WORDS)}</a>'
        for i in range(rng.randint(5, 12))
    )
    body: list[str] = [
        "<header><h1>site banner</h1></header>",
        f"<nav><ul>{nav_items}</ul></nav>",
        '<div id="main"><article>',
        f"<h2>{_sentence(rng, rng.randint(3, 6))}</h2>",
    ]
    for _ in range(n_paras):
        body.append(f"<p>{_paragraph(rng, rng.randint(2, 5))}</p>")
        if rng.random() < 0.15:
            # a link-dense teaser paragraph: must be stripped
            body.append(f'<p><a href="#x">{rng.choice(_WORDS)}</a> <a href="#y">{rng.choice(_WORDS)}</a></p>')
    body.append("</article></div>")
    body.append(f"<aside>{farm}</aside>")
    body.append(f"<footer><p>copyright {rng.randint(2000, 2026)} example</p></footer>")
    inner = "".join(body)
    return f"<html><head><title>t</title><style>.x{{color:red}}</style></head><body>{inner}</body></html>"


# ---------------------------------------------------------------- PDF docs

def _pdf_lines(rng: random.Random, n_paras: int) -> list[str]:
    """Line-box span texts for one page, emitted in scanline order."""
    n_cols = rng.choice((1, 2, 2, 3))
    gutter = 0.08
    x_left, x_right = 0.05, 0.95
    col_w = (x_right - x_left - gutter * (n_cols - 1)) / n_cols
    lines: list[tuple[float, float, float, float, str]] = []

    if rng.random() < 0.5:
        # full-width title band, separated by a y-gap > Y_GAP_MIN
        lines.append((x_left, 0.02, x_right, 0.04, _sentence(rng, rng.randint(4, 8))))
        y_start = 0.12
    else:
        y_start = 0.06

    line_h, intra_gap, para_gap = 0.02, 0.008, 0.035
    per_col = max(1, (n_paras + n_cols - 1) // n_cols)
    p = 0
    for c in range(n_cols):
        if p >= n_paras:
            break
        cx0 = x_left + c * (col_w + gutter)
        cx1 = cx0 + col_w
        y = y_start
        for _ in range(per_col):
            if p >= n_paras or y > 0.92:
                break
            for _ in range(rng.randint(2, 5)):  # lines in paragraph
                if y > 0.94:
                    break
                lines.append((cx0, y, cx1, y + line_h, " ".join(rng.choice(_WORDS) for _ in range(rng.randint(4, 8)))))
                y += line_h + intra_gap
            y += para_gap - intra_gap
            p += 1
    # scanline order: sorted by (y, x) — interleaves columns, so the
    # span order differs from reading order and XY-cut has work to do
    lines.sort(key=lambda ln: (ln[1], ln[0]))
    return [f"{x0:.4f},{y0:.4f},{x1:.4f},{y1:.4f}|{txt}" for x0, y0, x1, y1, txt in lines]


# ------------------------------------------------------------ doc assembly

def gen_doc(doc_id: str, seed: int = DEFAULT_SEED, hot: bool = False) -> dict:
    """One interleaved document as a plain dict conforming to DOCS_SCHEMA."""
    rng = _rng(seed, doc_id)
    # log-ish size distribution; hot docs ~40x
    n_paras = int(2 * (30 ** rng.random()))
    if hot:
        n_paras = (n_paras + 10) * 40
    flavor = rng.random()
    if hot:
        flavor = 0.0  # hot docs are giant HTML pages (pdf pages cap at one
        # page height, so only the html flavor grows without bound)
    raw_spans: list[tuple[str, str, str]] = []  # (kind, text, media_ref)

    n_media = rng.randint(0, 5)
    if flavor < 0.45:
        raw_spans.append(("html", _html_page(rng, n_paras), ""))
    elif flavor < 0.80:
        for t in _pdf_lines(rng, n_paras):
            raw_spans.append(("pdf_line", t, ""))
    else:
        raw_spans.append(("text", _paragraph(rng, rng.randint(1, 4)), ""))
        raw_spans.append(("html", _html_page(rng, max(1, n_paras // 2)), ""))
        for t in _pdf_lines(rng, max(1, n_paras // 2)):
            raw_spans.append(("pdf_line", t, ""))

    # sprinkle media spans at deterministic positions
    for k in range(n_media):
        pos = rng.randint(0, len(raw_spans))
        raw_spans.insert(pos, ("media", "", f"img://{doc_id}/{k}"))

    spans, off = [], 0
    for kind, text, ref in raw_spans:
        spans.append({"kind": kind, "text": text, "media_ref": ref, "offset": off})
        off += len(text.encode("utf-8", errors="ignore")) + len(ref) + 1
    return {"doc_id": doc_id, "spans": spans}


def doc_id_for(i: int) -> str:
    return f"doc_{i:08d}"


def is_hot(i: int, skewed: bool) -> bool:
    return skewed and i % 100 == 0


def gen_docs_df(spark, n_docs: int, seed: int = DEFAULT_SEED, skewed: bool = False,
                partitions: int | None = None):
    """Distributed deterministic corpus: one row per doc, generated on
    executors (no driver materialization — the 10^12-doc-shaped path)."""
    num_parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs = [gen_doc(doc_id_for(int(i)), seed, hot=is_hot(int(i), skewed)) for i in pdf["id"]]
            yield pd.DataFrame(
                {"doc_id": [d["doc_id"] for d in docs], "spans": [d["spans"] for d in docs]}
            )

    return (
        spark.range(0, n_docs, numPartitions=num_parts)
        .mapInPandas(gen, schema=DOCS_SCHEMA)
    )


# ------------------------------------------- driver-shaped interleave

def gen_interleave_doc(doc_id: str, seed: int = DEFAULT_SEED) -> dict:
    """One doc in the DRIVER's interleaved shape (BASELINE.json
    input_hint, mirrored by __spark_entry__._interleave_documents): an
    html span wrapping the body in nav/footer boilerplate, a media span,
    and a plain-text span repeating the body. This is the workload where
    the Arrow-bypass transport cut is largest (the plain-text copy of the
    body never crosses the Python boundary), used by perfbench's
    interleaved inputs (perfbench/inputs.py)."""
    rng = _rng(seed, doc_id)
    body = _paragraph(rng, rng.randint(8, 24))
    html = (
        '<nav><ul><li><a href="#">home</a></li><li><a href="#">about</a></li>'
        '<li><a href="#">contact</a></li></ul></nav><article><p>'
        + body
        + "</p></article><footer><p>footer text</p></footer>"
    )
    ref = f"img://{doc_id}/0"
    off1 = len(html.encode("utf-8")) + 1
    off2 = off1 + len(ref) + 1
    return {
        "doc_id": doc_id,
        "spans": [
            {"kind": "html", "text": html, "media_ref": "", "offset": 0},
            {"kind": "media", "text": "", "media_ref": ref, "offset": off1},
            {"kind": "text", "text": body, "media_ref": "", "offset": off2},
        ],
    }

