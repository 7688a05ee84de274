"""Specifications and diagnostics that tests compare the engine to.

Nothing in the package imports this module. Most functions restate one
engine semantic in plain Python so a test can pin the Catalyst
implementation against it; the rest are test-only references that need
Spark (the all-pairs cosine oracle, the physical-plan Exchange count)
or the driver-side corpus.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xs_vlm_ocr_spark import corpus
from xs_vlm_ocr_spark.extract.pipeline import WS_CHARS, _norm
from xs_vlm_ocr_spark.operators import similarity
from xs_vlm_ocr_spark.operators.text_dedup import with_word_gram_strings

_WS_SPLIT = re.compile(f"[{WS_CHARS}]+")


def tokenize(text: str) -> list[str]:
    """Python mirror of the JVM tokenizer
    ``split(lower(trim(text)), WS_RE)``: trim strips ASCII spaces only,
    the split class is the pinned WS_CHARS, and Spark's split (limit -1)
    KEEPS leading/trailing empty tokens — so does re.split.

    Case-mapping caveat: Python ``str.lower()`` is locale-independent;
    Java ``toLowerCase`` uses the JVM default locale, which diverges on
    locale-special mappings (tr/az dotted-I: 'I' -> 'ı'). session.py
    pins the JVM to -Duser.language=en so both sides use the root-like
    mapping; parity on locale-sensitive codepoints is only guaranteed
    under that pin."""
    return _WS_SPLIT.split(text.strip(" ").lower())


def doc_grams(text: str, n: int) -> list[str]:
    """Word n-grams over ``tokenize`` — the same gram strings (and the
    same ``g != ''`` filter) as the JVM ``with_word_gram_strings``."""
    toks = tokenize(text)
    if len(toks) < n:
        grams = [" ".join(toks)] if toks else []
    else:
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    return [g for g in grams if g]


def with_word_shingles(df: DataFrame, text_col: str = "text", n: int = 3,
                       id_col: str = "doc_id") -> DataFrame:
    """(doc_id, shingle): each doc's distinct word n-grams keyed by
    xxhash64 — the input of the naive shingle self-join that the PPJoin
    operator must equal."""
    return (
        with_word_gram_strings(df, text_col, n, id_col)
        .select("doc_id", F.xxhash64("g").alias("shingle"))
    )


def passthrough_doc(spans: list[dict]) -> list[dict]:
    """The `passthrough` engine: every span in offset order (stable by
    input index), media spans keep their ref, every other kind becomes a
    whitespace-normalized text span. No span is dropped."""
    return [
        {"kind": "media" if s["kind"] == "media" else "text",
         "text": "" if s["kind"] == "media" else _norm(s["text"] or ""),
         "media_ref": s["media_ref"] or "", "order": i}
        for i, s in enumerate(sorted(spans, key=lambda s: s["offset"]))
    ]


def gen_docs_local(n_docs: int, seed: int = corpus.DEFAULT_SEED,
                   skewed: bool = False) -> list[dict]:
    """The first ``n_docs`` docs of ``corpus.gen_docs_df``, built on the
    driver."""
    return [corpus.gen_doc(corpus.doc_id_for(i), seed,
                           hot=corpus.is_hot(i, skewed))
            for i in range(n_docs)]


def embedding_near_dup_pairs_exact(df: DataFrame, vec_col: str = "embedding",
                                   id_col: str = "vec_id",
                                   threshold: float = 0.95) -> DataFrame:
    """All-pairs exact cosine near-dup (O(N^2) cross join): the oracle
    ``text_dedup.embedding_near_dup_pairs`` must equal at any threshold.
    Same double-precision expression as that operator's verify."""
    dot, norm = similarity._dot, similarity._norm
    a = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"),
                  norm(F.col(vec_col)).alias("_na"))
    b = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"),
                  norm(F.col(vec_col)).alias("_nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine", dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b")
    )


def n_shuffle_exchanges(df: DataFrame) -> int:
    """Count Exchange operators in the physical plan (a bucketed-side
    join should add none for that side)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange ")
