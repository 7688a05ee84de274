"""Text analysis for training-data pipelines — all JVM-side built-ins.

Language-ID (stopword-hit heuristic), quality scoring (length / punct /
stopword ratios), token counting, and a content fingerprint. Each is a
column expression factory (composable, codegen'd, no Python), exercised
over the driver's `documents` table and oracle-checked where the SQL is
portable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal per-language stopword markers for the n-gram heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "los", "que", "es"],
    "fr": ["le", "la", "les", "des", "est"],
}

# Whitespace pinned to an explicit class: Java \s == [ \t\n\x0B\f\r] but
# RE2 (DuckDB) \s == [\t\n\f\r ] (no \x0B), so a bare \s+ in Spark vs the
# oracle SQL would disagree on vertical-tab input. Every tokenizing
# operator AND its DuckDB oracle (__spark_entry__.py) use THESE constants
# so the semantics are identical by construction. The single source of
# truth lives in extract.pipeline (pure-Python layer) so the Python-side
# tokenizers/normalizers share the exact same class.
from xs_vlm_ocr_spark.extract.pipeline import WS_CHARS  # noqa: E402

WS_RE = f"[{WS_CHARS}]+"

_WORD_BOUNDARY = f"(^|[{WS_CHARS}]){{w}}([{WS_CHARS}]|$)"

BPE_RE = f"([A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_CHARS}])"


def token_count(text: Column) -> Column:
    """Whitespace tokenization count (split is codegen'd)."""
    return F.size(F.split(F.trim(text), WS_RE))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish proxy: word pieces + digit runs + punctuation marks each
    count as a token (regex segmentation, still JVM-side)."""
    return F.size(
        F.regexp_extract_all(text, F.lit(BPE_RE), F.lit(1))
    )


def stopword_hits(text: Column, lang: str) -> Column:
    """Number of marker-word occurrences (word-boundary regex count)."""
    t = F.lower(text)
    total = F.lit(0)
    for w in LANG_MARKERS[lang]:
        total = total + F.regexp_count(t, F.lit(_WORD_BOUNDARY.format(w=w)))
    return total


def lang_id(text: Column) -> Column:
    """Argmax over per-language stopword-hit counts; 'und' (undetermined)
    when no marker hits. Deterministic tie-break: lexicographic lang."""
    scores = [(lang, stopword_hits(text, lang)) for lang in sorted(LANG_MARKERS)]
    best_score = None
    best_lang = F.lit("und")
    # fold: keep the first (lexicographically smallest) argmax
    for lang, score in scores:
        if best_score is None:
            best_score, best_lang = score, F.when(score > 0, F.lit(lang)).otherwise(F.lit("und"))
        else:
            better = score > best_score
            best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
            best_score = F.when(better, score).otherwise(best_score)
    return best_lang


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\p{Punct}]", "")
    return F.octet_length(stripped) / F.greatest(F.length(text), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality: length band + moderate punctuation +
    mean-word-length band. Pure arithmetic over codegen'd primitives."""
    n_chars = F.length(text)
    n_tokens = token_count(text)
    mean_word = n_chars / F.greatest(n_tokens, F.lit(1))
    len_ok = F.when((n_chars >= 50) & (n_chars <= 100_000), 1.0).otherwise(0.0)
    word_ok = F.when((mean_word >= 3.0) & (mean_word <= 12.0), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(text) <= 0.2, 1.0).otherwise(0.0)
    return (len_ok + word_ok + punct_ok) / F.lit(3.0)


def fingerprint64_md5(text: Column) -> Column:
    """Portable 64-bit content fingerprint (the exact-dup key): first 60
    bits of md5 of the whitespace-canonical form (trimmed, each
    whitespace run one space), as a signed BIGINT, reproducible in any
    engine with md5 — DuckDB oracle:
    CAST(('0x' || substr(md5(...), 1, 15)) AS BIGINT). 15 hex digits
    keep the value inside the positive BIGINT range on both sides."""
    canon = F.regexp_replace(F.trim(text), WS_RE, " ")
    return F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")


def repetition_signals(df, text_col: str = "text", id_col: str = "doc_id",
                       n: int = 2, extra: dict | None = None):
    """Gopher-style repetition quality signals (Rae et al. 2021,
    Appendix A1.1 "repetitious text" filters), adapted to word n-grams
    — the duplicate-line/paragraph variants need line structure the
    corpus schema does not guarantee, while the n-gram variants are the
    ones that survive normalization anyway.

    Per doc: n_grams (total n-gram occurrences), n_distinct_grams,
    dup_gram_frac (fraction of occurrences that repeat an already-seen
    gram), top_gram (most frequent; ties -> lexicographically smallest,
    so deterministic), top_gram_frac (its share of all occurrences).
    Docs too short for any n-gram get zero counts and an empty top_gram.

    Plan shape: ZERO shuffles. The signals are per-document, so there
    is no reason to explode the corpus into a (doc, gram) shuffle (at
    10^12 docs that shuffle carries every token n times — twice): the
    counts come from array functions and the mode from a single
    run-length fold over the per-doc sorted gram array
    (``F.aggregate``), entirely inside one projection. Higher-order
    functions are interpreted (no codegen), but per-row compute beats a
    corpus-wide shuffle by orders of magnitude at scale — and the sort
    is per-doc, never global. Ties: the array is sorted ascending and
    the fold replaces the best only on a STRICTLY longer run, so the
    mode is the lexicographically smallest top gram — deterministic,
    same semantics as the previous min(struct(-count, gram))
    aggregation (the unchanged DuckDB oracle pins the equivalence).

    ``extra``: optional {name: Column-over-df} computed in the SAME
    zero-shuffle projection and carried through to the output — how the
    job's signals table gets token counts / quality / lang-id in one
    pass instead of a per-doc join against a second scan.
    """
    from xs_vlm_ocr_spark.operators.skew import fan_out_small_input

    toks = F.split(F.lower(F.trim(F.col(text_col))), WS_RE)
    # docs with fewer than n tokens have NO n-gram (empty array) — a
    # truncated partial gram would score every one-word doc as
    # maximally repetitious (top_gram_frac 1.0). This intentionally
    # DIFFERS from the dedup shingler (with_word_gram_strings keeps the
    # partial gram so two identical short docs still pair up).
    # The split is STAGED under its own alias first: higher-order
    # functions are interpreted (no common-subexpression elimination),
    # so an inlined `slice(split(text), i+1, n)` lambda re-tokenizes the
    # whole text once per gram — O(tokens²) per doc.
    grams = F.when(
        F.size("_toks") >= n,
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - n),
                lambda i: F.array_join(F.slice("_toks", i + 1, n), " "),
            ),
            lambda g: g != "",
        ),
    ).otherwise(F.array().cast("array<string>"))
    # alias once and reference the column: a non-cheap expression used
    # by several consumers is NOT re-inlined per use (CollapseProject
    # refuses), so the gram array materializes once per row
    extra = extra or {}
    with_grams = fan_out_small_input(df).select(
        F.col(id_col).alias("doc_id"), toks.alias("_toks"),
        *[c.alias(name) for name, c in extra.items()],
    ).select(
        "doc_id", grams.alias("_grams"), *extra.keys(),
    )
    acc0 = F.struct(
        F.lit("").alias("cur"), F.lit(0).cast("long").alias("cur_n"),
        F.lit("").alias("best"), F.lit(0).cast("long").alias("best_n"),
    )
    def _step(acc, g):
        cur_n = F.when(g == acc["cur"], acc["cur_n"] + 1).otherwise(F.lit(1))
        longer = cur_n > acc["best_n"]
        return F.struct(
            g.alias("cur"), cur_n.alias("cur_n"),
            F.when(longer, g).otherwise(acc["best"]).alias("best"),
            F.when(longer, cur_n).otherwise(acc["best_n"]).alias("best_n"),
        )
    # stage the fold under an alias: referenced twice below, and an
    # aliased non-cheap expression used more than once is not re-inlined
    staged = with_grams.select(
        "doc_id",
        F.size("_grams").cast("long").alias("n_grams"),
        F.size(F.array_distinct("_grams")).cast("long").alias("n_distinct_grams"),
        F.aggregate(F.array_sort(F.col("_grams")), acc0, _step).alias("_top"),
        *extra.keys(),
    )
    n_grams, n_distinct = F.col("n_grams"), F.col("n_distinct_grams")
    return staged.select(
        "doc_id",
        *extra.keys(),
        "n_grams",
        "n_distinct_grams",
        F.when(n_grams > 0, (n_grams - n_distinct) * 1.0 / n_grams)
        .otherwise(F.lit(0.0)).alias("dup_gram_frac"),
        F.col("_top.best").alias("top_gram"),
        F.when(n_grams > 0, F.col("_top.best_n") * 1.0 / n_grams)
        .otherwise(F.lit(0.0)).alias("top_gram_frac"),
    )
