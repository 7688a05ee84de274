"""Property-based invariants (hypothesis) over the pure extraction core.

These pin the invariants golden-equality relies on: dense ordering,
media preservation, determinism, whitespace canonicalization, input
permutation-invariance of the geometric stages.
"""

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from xs_vlm_ocr_spark.extract import extract_doc, strip_html, xycut_paragraphs
from xs_vlm_ocr_spark.extract.html_strip import strip_html_stdlib

_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80
)

_span = st.fixed_dictionaries(
    {
        "kind": st.sampled_from(["html", "pdf_line", "text", "media", "junk"]),
        "text": _text,
        "media_ref": st.sampled_from(["", "img://d/1", "img://d/2"]),
        "offset": st.integers(min_value=0, max_value=10_000),
    }
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_span, max_size=12))
def test_extract_doc_invariants(spans):
    out = extract_doc(spans)
    # dense ordering 0..n-1
    assert [s["order"] for s in out] == list(range(len(out)))
    # determinism
    assert extract_doc(spans) == out
    # every media span survives exactly once, in offset order
    media_in = [s["media_ref"] for s in sorted(spans, key=lambda s: s["offset"])
                if s["kind"] == "media"]
    media_out = [s["media_ref"] for s in out if s["kind"] == "media"]
    assert media_out == media_in
    # text spans are whitespace-canonical (pinned-class _norm for plain
    # text spans; html segments are canonical under strip_html's own
    # rule, which implies _norm-idempotence too) and non-empty
    from xs_vlm_ocr_spark.extract.pipeline import _norm

    for s in out:
        if s["kind"] == "text":
            assert _norm(s["text"]) == s["text"] and s["text"]
        assert s["kind"] in ("text", "media")


@settings(max_examples=100, deadline=None)
@given(_text)
def test_strip_html_safe_on_arbitrary_input(raw):
    segs = strip_html(raw)
    assert all(seg == " ".join(seg.split()) and seg for seg in segs)
    assert strip_html(raw) == segs  # deterministic


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(0, 0.9), st.floats(0, 0.9),
            st.floats(0.01, 0.1), st.floats(0.01, 0.05),
            st.integers(0, 1000),
        ),
        max_size=15,
    ),
    st.randoms(use_true_random=False),
)
def test_xycut_permutation_invariant(boxes, rnd):
    lines = [
        f"{x:.4f},{y:.4f},{x + w:.4f},{y + h:.4f}|line {i}"
        for x, y, w, h, i in boxes
    ]
    base = xycut_paragraphs(lines)
    shuffled = list(lines)
    rnd.shuffle(shuffled)
    assert xycut_paragraphs(shuffled) == base


@settings(max_examples=80, deadline=None)
@given(st.lists(st.sampled_from("alpha beta gamma delta <p> </p> <div> </div> <a> </a> &amp; text".split()), max_size=40))
def test_tokenizer_parity_on_generated_taggy_input(tokens):
    html = " ".join(tokens)
    assert strip_html(html) == strip_html_stdlib(html)


def test_prefix_filter_ngram_equals_bruteforce_random(spark):
    """Property: prefix+positional filtering is an exact optimization on
    arbitrary corpora (random docs, random threshold) — few examples,
    each runs Spark jobs, so this is a seeded loop not @given."""
    import random

    from pyspark.sql import functions as F

    from oracles import with_word_shingles

    from xs_vlm_ocr_spark.operators.text_dedup import ngram_jaccard_pairs

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(10)]
    for case in range(3):
        n_docs = rng.randint(5, 14)
        docs = [
            (f"d{i}", " ".join(rng.choice(vocab)
                               for _ in range(rng.randint(0, 30))))
            for i in range(n_docs)
        ]
        # plant one near-identical pair
        if docs[0][1]:
            docs.append(("dup", docs[0][1] + " extraword"))
        df = spark.createDataFrame(docs, "doc_id string, text string")
        t = rng.choice([0.3, 0.5, 0.8])

        sh = with_word_shingles(df)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        naive = (
            sh.select(F.col("doc_id").alias("a"), "shingle")
            .join(sh.select(F.col("doc_id").alias("b"), "shingle"), "shingle")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b").agg(F.count(F.lit(1)).alias("inter"))
            .join(sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na")), "a")
            .join(sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb")), "b")
            .filter(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")) >= t)
        )
        want = sorted(tuple(r) for r in
                      naive.select("a", "b", "inter", "na", "nb").collect())
        got = sorted(tuple(r) for r in
                     ngram_jaccard_pairs(df, threshold=t).collect())
        assert got == want, f"case {case} threshold {t}"
