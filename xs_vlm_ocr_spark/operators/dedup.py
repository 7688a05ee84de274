"""Content-hash memoization / incremental recompute (reference D1/J2).

The reference's single most engine-like idea: hash(job) -> prior
successful result; on hit skip compute and replay the cached result with
processing_time_ms=0 (reference src/managers/HistoryManager.cpp:433-508,
hit paths src/ui/MainWindow.cpp:1643-1660 and 1416-1439).

Spark restatement: a left-anti join of jobs against the committed
results snapshot on content_hash — this is simultaneously the dedup
cache AND the resume-from-checkpoint mechanism (north rule). At scale the
committed-hash side is projected to the single hash column before the
join (column pruning keeps the shuffle narrow); when the committed set is
small Spark's AQE/broadcast threshold turns it into a broadcast join
automatically — we only hint when the caller knows it is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xs_vlm_ocr_spark.operators.history import latest_per_key


def committed_hashes(results: DataFrame) -> DataFrame:
    """Distinct content hashes of successful committed results (P4:
    success-only predicate, reference HistoryManager.cpp:472-482)."""
    return results.filter(F.col("success")).select("content_hash").distinct()


def filter_uncached(jobs: DataFrame, results: DataFrame | None,
                    broadcast_hashes: bool = False) -> DataFrame:
    """Jobs that still need compute: anti-join on content_hash."""
    if results is None:
        return jobs
    hashes = committed_hashes(results)
    if broadcast_hashes:
        hashes = F.broadcast(hashes)
    return jobs.join(hashes, "content_hash", "left_anti")


def cache_hits(jobs: DataFrame, results: DataFrame | None) -> DataFrame | None:
    """Replay of memoized results for jobs whose hash is already
    committed: most-recent successful result wins — ORDER BY ts DESC
    exactly like the reference (O4, HistoryManager.cpp:480-483, the
    history row's insert timestamp), id as the within-timestamp
    tiebreak — re-emitted with processing_time_ms=0 (reference
    MainWindow.cpp:1654). ``results`` must carry the commit stamps
    (`ts`, `id`) that ExtractionJob.run adds at append time."""
    if results is None:
        return None
    latest = latest_per_key(results.filter(F.col("success")),
                            ["content_hash"], "ts", "id")
    probe = jobs.select("content_hash").distinct()
    return (
        latest.join(probe, "content_hash", "left_semi")
        .withColumn("processing_time_ms", F.lit(0).cast("long"))
    )


def decide_corpus(corpus: DataFrame, *, text_col: str = "full_text",
                  id_col: str = "doc_id",
                  clusters: DataFrame | None = None,
                  spans: DataFrame | None = None,
                  signals: DataFrame | None = None,
                  drop_contaminated: bool = False,
                  min_quality: float | None = None,
                  max_dup_gram_frac: float | None = None,
                  max_top_gram_frac: float | None = None) -> DataFrame:
    """The corpus-cleaning DECISION as one declarative projection —
    shared verbatim by ``ExtractionJob.write_deduped`` (over committed
    tables) and the ``deduped_kept_corpus`` contract query (over the
    testdata ``documents`` table), so the deployed decision and the
    oracle-checked one can never fork.

    Inputs (all optional; an absent input disables that filter):
      clusters — (id_col, is_canonical): near-dup cluster assignment;
        non-canonical rows drop as ``duplicate``;
      spans    — (id_col, start_tok, end_tok): merged contaminated
        token windows. Default is GPT-3 appendix-C SPAN SURGERY (cut
        the window, keep the doc; Brown et al. 2020);
        ``drop_contaminated=True`` drops flagged docs whole;
      signals  — (id_col, quality_score, dup_gram_frac, top_gram_frac):
        Gopher-style keep/drop thresholds (Rae et al. 2021 A1.1).

    Returns one row per corpus row: (id_col, text, reason,
    was_trimmed). ``reason`` is NULL for kept rows, else the FIRST
    failing filter in precedence duplicate > contaminated > quality
    (a doc failing several counts once). ``text`` is the post-surgery
    text for trimmed rows; untouched rows keep their bytes exactly
    (never a re-join). Token indices in ``spans`` refer to the pinned
    whitespace split (text_analysis.WS_RE) of the trimmed text — the
    same tokenizer the span emitters use, so positions line up by
    construction.

    100 TB shape: every decision input joins the corpus on the id —
    each is orders of magnitude narrower than the text it describes;
    the span cut is a per-row array fold; zero extra shuffle beyond
    the (broadcast-eligible) decision joins."""
    from xs_vlm_ocr_spark.operators.text_analysis import WS_RE

    dup = F.lit(False)
    if clusters is not None:
        corpus = corpus.join(
            clusters.select(id_col, "is_canonical"), id_col, "left"
        )
        dup = F.coalesce(F.col("is_canonical"), F.lit(1)) == 0
    span_t = "array<struct<start_tok:bigint,end_tok:bigint>>"
    spans_col = F.expr("array()").cast(span_t)
    if spans is not None:
        per_doc = spans.groupBy(id_col).agg(
            F.sort_array(F.collect_list(
                F.struct("start_tok", "end_tok")
            )).alias("_spans")
        )
        corpus = corpus.join(per_doc, id_col, "left")
        spans_col = F.coalesce(F.col("_spans"),
                               F.expr("array()").cast(span_t))
    low_quality = F.lit(False)
    if signals is not None:
        corpus = corpus.join(
            signals.select(id_col, "quality_score", "dup_gram_frac",
                           "top_gram_frac"),
            id_col, "left",
        )
        if min_quality is not None:
            low_quality = low_quality | (
                F.col("quality_score") < min_quality)
        if max_dup_gram_frac is not None:
            low_quality = low_quality | (
                F.col("dup_gram_frac") > max_dup_gram_frac)
        if max_top_gram_frac is not None:
            low_quality = low_quality | (
                F.col("top_gram_frac") > max_top_gram_frac)

    contaminated = F.size(spans_col) > 0
    reason = (
        F.when(dup, "duplicate")
        .when(F.lit(drop_contaminated) & contaminated, "contaminated")
        .when(low_quality, "quality")
    )  # NULL = kept
    trimmed = contaminated & ~F.lit(drop_contaminated)
    toks = F.split(F.trim(F.col(text_col)), WS_RE)
    # cut the contaminated windows: token index against the merged
    # span list (tiny per doc)
    clean = F.array_join(
        F.filter(toks, lambda x, i: ~F.exists(
            spans_col,
            lambda s: (i >= s["start_tok"]) & (i < s["end_tok"]),
        )),
        " ",
    )
    return corpus.select(
        id_col,
        F.when(trimmed, clean).otherwise(F.col(text_col)).alias("text"),
        reason.alias("reason"),
        trimmed.alias("was_trimmed"),
    )


def exact_dedup(df: DataFrame, text_col: str = "full_text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact text dedup: md5-groupBy keep-first (training-data pipeline
    primitive). Deterministic winner: lowest ``id_col`` per hash; rows of
    ``id_col`` must be unique keys (they are doc ids).

    Scale shape: groupBy+min does MAP-SIDE partial aggregation, so a
    mega duplicate cluster (empty docs, boilerplate — the norm in web
    crawl) collapses to one row per map partition before the shuffle;
    the winner set then semi-joins back on the COMPOSITE (_h, id) key,
    which hash-distributes even a single-hash cluster across reducers.
    The previous row_number window over partitionBy(_h) serialized the
    whole cluster onto one reducer — same groupBy-not-window rule as
    text_dedup.py's doc-frequency aggregation. Pinned by
    tests/test_history_ops.py::test_exact_dedup_mega_cluster_plan.

    NULL text forms its OWN group (a sentinel key outside md5's hex
    alphabet — it cannot collide with any real hash, including empty
    string's): one representative NULL-text row survives, distinct from
    the empty-string group. md5(NULL) is NULL and NULL keys never
    survive an equi semi-join, so hashing the raw column would silently
    DROP every NULL-text row — a contract change for a generic
    operator (the engine's own pipeline filters invalid docs first, but
    callers outside it may not)."""
    h = F.when(
        F.col(text_col).isNull(), F.lit("<null>")
    ).otherwise(F.md5(F.col(text_col)))
    with_h = df.withColumn("_h", h)
    winners = with_h.groupBy("_h").agg(F.min(id_col).alias(id_col))
    return with_h.join(winners, ["_h", id_col], "left_semi").drop("_h")
