"""Seeded inputs. Every document is a pure function of (seed, doc_id)
through the engine's own corpus generator, written as parquet with
pyarrow so the engine receives only files, never a live DataFrame.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

from xs_vlm_ocr_spark import corpus

DOCS_ARROW = pa.schema([
    pa.field("doc_id", pa.string(), False),
    pa.field("spans", pa.list_(pa.struct([
        pa.field("kind", pa.string(), False),
        pa.field("text", pa.string(), False),
        pa.field("media_ref", pa.string(), False),
        pa.field("offset", pa.int32(), False),
    ])), False),
])

TWIN_WORD = "neardupword"


def write_docs(docs: list[dict], out_dir: str, n_files: int) -> dict:
    """Round-robin ``docs`` over ``n_files`` parquet files."""
    os.makedirs(out_dir)
    for f in range(n_files):
        pq.write_table(pa.Table.from_pylist(docs[f::n_files], schema=DOCS_ARROW),
                       os.path.join(out_dir, f"part-{f:05d}.parquet"))
    return {"docs": len(docs), "files": n_files, "bytes": dir_bytes(out_dir)}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


# every 20th doc is hot (~40x the median size): 5%, five times the
# engine's own skewed profile, so that the job's skew statistics, taken
# over every row (see workloads.IngestFresh), always take the split
HOT_EVERY = 20
# The largest hot doc sets the extraction stage's time, and hot sizes
# vary 6x with the generator seed; hot docs come from this fixed seed so
# that every run has the same stragglers and only the cold mix varies.
HOT_SEED = "hot"


def skewed_corpus(seed, n_docs: int) -> list[dict]:
    """The engine's skewed document mix (~45% HTML, ~35% PDF, ~20%
    mixed) with a hot doc every ``HOT_EVERY`` docs."""
    return [skewed_doc(seed, corpus.doc_id_for(i)) for i in range(n_docs)]


def skewed_doc(seed, doc_id: str) -> dict:
    if int(doc_id.rsplit("_", 1)[1]) % HOT_EVERY == 0:
        return corpus.gen_doc(doc_id, HOT_SEED, hot=True)
    return corpus.gen_doc(doc_id, seed)


def _rebody(doc: dict, doc_id: str, body_fn) -> dict:
    """An interleave-shaped doc whose body (the html article text and
    the plain-text span, which repeat it) is rewritten by ``body_fn``;
    offsets are recomputed the way the generator computes them."""
    html, media, text = doc["spans"]
    body = body_fn(text["text"])
    new_html = html["text"].replace(text["text"], body)
    ref = f"img://{doc_id}/0"
    off1 = len(new_html.encode("utf-8")) + 1
    off2 = off1 + len(ref) + 1
    return {"doc_id": doc_id, "spans": [
        {**html, "text": new_html, "offset": 0},
        {**media, "media_ref": ref, "offset": off1},
        {**text, "text": body, "offset": off2},
    ]}


def interleave_doc(seed: int, i: int) -> dict:
    return corpus.gen_interleave_doc(corpus.doc_id_for(i), seed)


def twin_of(doc: dict) -> dict:
    """A near-duplicate: same body with its first word substituted
    (3-gram Jaccard ~0.98), under a new doc id and content hash."""
    return _rebody(doc, doc["doc_id"] + "_twin",
                   lambda b: re.sub(r"^\S+", TWIN_WORD, b, count=1))
