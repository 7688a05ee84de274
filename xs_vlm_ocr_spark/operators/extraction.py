"""The extraction map stage — the engine's core operator family.

Spark restatement of the reference's recognize() adapter family
(reference src/core/ModelAdapter.h:35, dispatch src/ui/MainWindow.cpp:
846-882): one Arrow batch in, one batch of extraction outputs out,
wrapping the pure single-doc functions of ``xs_vlm_ocr_spark.extract``
(so golden equality holds by construction and no state can leak across
batch boundaries).

An engine runs on one of two plans, and both feed one output projection:

  * **Arrow-bypass** (every Python engine, e.g. ``main_content_v1``):
    a SCALAR pandas UDF over exactly four derived columns — kind codes
    (int), offsets (int), html/pdf payloads, text-blank flags. Plain
    ``text`` spans and ``media`` refs never cross the Arrow boundary in
    either direction: whitespace normalization of text spans is the JVM
    ``trim(regexp_replace(., WS_RE, ' '))`` twin of ``_norm`` and the
    output span array is assembled JVM-side from (o_texts, o_src)
    placeholders against the ORIGINAL span array, which never leaves the
    JVM. Reference analogue: the adapters ship only the image payload,
    never the already-known metadata (src/adapters/QwenAdapter.cpp:
    99-125). The only Python is the html strip and the pdf XY-cut.
  * **Catalyst** (the ``"passthrough"`` engine): an offset sort, a kind
    map and a whitespace normalize are all expressible in SQL, so that
    engine is one span-array expression with no Python node in the plan.

Design points for 100 TB:
  * everything upstream/downstream of the UDF is JVM-side Catalyst
    (validity filter, content hash, norm/blank derivation, span
    assembly, full-text merge, joins);
  * per-document failure isolation: errors become rows, never thrown
    (reference C4, src/core/OCRPipeline.cpp:84-108);
  * per-partition lineage (partition_id, docs_in, docs_out, span_count,
    wall_ms — north-rule metrics table) is carried as two narrow
    per-row columns (partition_id, cum_wall_ms) and aggregated by
    ``split_extraction_output`` — map-side partial agg, no second pass
    over the data, no driver-side accumulation;
  * per-doc processing_time_ms instrumentation (reference
    src/core/OCRResult.h:26); cache hits carry 0 (MainWindow.cpp:1654),
    and so does the Catalyst plan, which runs no Python to time.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xs_vlm_ocr_spark.extract.pipeline import (
    KIND_HTML,
    KIND_MEDIA,
    KIND_PDF,
    KIND_TEXT,
    extract_doc_bypass,
)
from xs_vlm_ocr_spark.operators.text_analysis import WS_RE

DEFAULT_MODEL = "main_content_v1"

# Unit separator keeps the hash preimage unambiguous.
_HASH_SEP = "\x1f"

def norm_col(text: Column) -> Column:
    """JVM twin of ``extract.pipeline._norm`` (pinned-class whitespace
    collapse + space strip). Exact parity per BMP codepoint is pinned by
    tests/test_extraction_bypass.py."""
    return F.trim(F.regexp_replace(text, WS_RE, " "))


def is_valid_doc() -> Column:
    """Validity predicate P3 (reference src/ui/MainWindow.cpp:1364-1368):
    non-null doc with at least one span. Never null (a null ``spans``
    makes the conjunction false), so ``~is_valid_doc()`` is exactly the
    invalid rows, which the job counts rather than dropping silently."""
    return F.col("doc_id").isNotNull() & F.col("spans").isNotNull() & (F.size("spans") > 0)


def valid_docs(docs: DataFrame) -> DataFrame:
    return docs.filter(is_valid_doc())


def with_content_hash(docs: DataFrame, model_name: str = DEFAULT_MODEL) -> DataFrame:
    """Deterministic md5 over canonicalized (doc, strategy) — JVM-side,
    codegen'd. Reference: HistoryManager::computeContentHash
    (src/managers/HistoryManager.cpp:433-464)."""
    return docs.withColumn(
        "content_hash",
        F.md5(
            F.concat_ws(
                _HASH_SEP, F.col("doc_id"), F.lit(model_name), F.to_json(F.col("spans"))
            )
        ),
    )


def extract_spans(docs: DataFrame, model_name: str = DEFAULT_MODEL,
                  timeout_ms: int | None = None,
                  passthrough: list[str] | None = None) -> DataFrame:
    """docs(doc_id, spans[, content_hash]) -> extraction-output rows
    (EXTRACTION_OUTPUT_SCHEMA): one row per doc, carrying per-row
    lineage columns (partition_id, cum_wall_ms); aggregate with
    ``split_extraction_output``.

    ``timeout_ms``: per-doc wall budget (reference C5 — the adapters'
    request timeout, e.g. QwenAdapter's network timeout). A doc whose
    extraction exceeds the budget is routed as an error row
    (success=false, error 'timeout: ...'), exactly like the reference
    discarding a late response — never thrown, never silently dropped.
    Spark analogue of the hard-kill side: task-level speculative
    execution / spark.task.reaper on a real cluster; in-process the
    extractor is a pure function so a soft budget suffices.

    Engine dispatch (reference MainWindow.cpp:846-882): strategy name ->
    registered bypass-convention extractor, run on the Arrow-bypass
    plan; unknown names use the default. The ``"passthrough"`` engine
    has no Python extractor and runs as a Catalyst expression, so its
    ``processing_time_ms`` and lineage wall time are 0 and
    ``timeout_ms`` has nothing to bound.

    ``passthrough``: extra narrow columns of ``docs`` (e.g. the replay
    path's ``is_hit`` flag) carried verbatim onto the output rows.
    """
    if "content_hash" not in docs.columns:
        docs = with_content_hash(docs, model_name)
    from xs_vlm_ocr_spark.strategies import REGISTRY

    bypass_fn = REGISTRY.get(model_name, extract_doc_bypass)
    pt = passthrough or []
    if bypass_fn is None:
        return _output(docs, _passthrough_spans(F.col("spans")),
                       F.lit(None).cast("string"), F.lit(0).cast("long"),
                       F.lit(0).cast("long"), model_name, pt)
    return _extract_spans_bypass(docs, bypass_fn, model_name, timeout_ms, pt)


def _output(df: DataFrame, spans_out: Column, err: Column, ms: Column,
            cum_wall_ms: Column, model_name: str,
            passthrough: list[str]) -> DataFrame:
    """The output projection both plans share. Two selects on purpose:
    full_text derives from the ALIASED spans_out column, so the
    (non-cheap, interpreted — higher-order functions have no codegen)
    assembly expression is evaluated once per row; CollapseProject
    keeps the boundary because the alias is referenced twice."""
    assembled = df.select(
        "doc_id",
        err.isNull().alias("success"),
        F.coalesce(err, F.lit("")).alias("error_message"),
        spans_out.alias("spans_out"),
        F.lit(model_name).alias("model_name"),
        "content_hash",
        ms.alias("processing_time_ms"),
        F.spark_partition_id().alias("partition_id"),
        cum_wall_ms.alias("cum_wall_ms"),
        *passthrough,
    )
    return assembled.select(
        "doc_id", "success", "error_message", "spans_out",
        full_text_col(F.col("spans_out")).alias("full_text"),
        "model_name", "content_hash", "processing_time_ms",
        "partition_id", "cum_wall_ms", *passthrough,
    )


# ------------------------------------------------ Catalyst plan

def _passthrough_spans(spans: Column) -> Column:
    """spans_out of the ``passthrough`` engine: every span in offset
    order (ties by input index — struct ordering compares fields left to
    right), media spans keep their ref, every other kind becomes a
    ``norm_col`` text span. No span is dropped."""
    ordered = F.array_sort(F.transform(
        spans, lambda s, i: F.struct(s["offset"].alias("o"), i.alias("i"),
                                     s.alias("s"))))

    def out(z: Column, j: Column) -> Column:
        s = z["s"]
        is_media = s["kind"] == F.lit("media")
        return F.struct(
            F.when(is_media, F.lit("media")).otherwise(F.lit("text")).alias("kind"),
            F.when(is_media, F.lit(""))
            .otherwise(norm_col(F.coalesce(s["text"], F.lit("")))).alias("text"),
            F.coalesce(s["media_ref"], F.lit("")).alias("media_ref"),
            j.cast("int").alias("order"),
        )

    return F.transform(ordered, out)


# ------------------------------------------------------- bypass plan

_BYPASS_RESULT_TYPE = T.StructType(
    [
        T.StructField("texts", T.ArrayType(T.StringType()), True),
        T.StructField("src", T.ArrayType(T.IntegerType()), True),
        T.StructField("ms", T.LongType(), True),
        T.StructField("err", T.StringType(), True),
        T.StructField("cum_wall_ms", T.LongType(), True),
    ]
)


def _bypass_udf(bypass_fn, timeout_ms: int | None):
    """Scalar pandas UDF: (codes, offs, heavy, blanks) -> result struct.

    ``cum_wall_ms`` is the wall time since the current task started in
    this worker (a closure keyed on (stage, partition, attempt) — python
    workers are reused across tasks but run one task at a time);
    max() per partition in split_extraction_output recovers per-task
    wall to within the final batch's serde flush.
    """
    state: dict = {}

    def run(codes: pd.Series, offs: pd.Series, heavy: pd.Series,
            blanks: pd.Series) -> pd.DataFrame:
        ctx = TaskContext.get()
        key = (
            (ctx.stageId(), ctx.partitionId(), ctx.taskAttemptId())
            if ctx is not None else None
        )
        if state.get("key") != key:
            state["key"] = key
            state["t0"] = time.monotonic()
        c_t: list = []; c_s: list = []; c_ms: list = []; c_err: list = []  # noqa: E702
        for c, o, h, b in zip(codes, offs, heavy, blanks):
            t0 = time.monotonic_ns()
            try:
                # Arrow hands each list-typed cell over as a numpy array;
                # per-element access on those boxes every int/str, which
                # taxes the pure-Python extractor loop ~15% (measured).
                # One bulk tolist() per doc converts to plain lists.
                o_texts, o_src = bypass_fn(
                    c.tolist(), o.tolist(), h.tolist(), b.tolist())
                elapsed = (time.monotonic_ns() - t0) // 1_000_000
                if timeout_ms is not None and elapsed > timeout_ms:
                    c_t.append([]); c_s.append([])  # noqa: E702
                    c_err.append(f"timeout: {elapsed} ms > budget {timeout_ms} ms")
                else:
                    c_t.append(o_texts); c_s.append(o_src); c_err.append(None)  # noqa: E702
                c_ms.append(elapsed)
            except Exception as exc:  # failure isolation: error rows, never raise
                elapsed = (time.monotonic_ns() - t0) // 1_000_000
                c_t.append([]); c_s.append([])  # noqa: E702
                c_err.append(f"{type(exc).__name__}: {exc}"[:500])
                c_ms.append(elapsed)
        cum = int((time.monotonic() - state["t0"]) * 1000)
        return pd.DataFrame(
            {"texts": c_t, "src": c_s, "ms": c_ms, "err": c_err,
             "cum_wall_ms": [cum] * len(c_ms)}
        )

    # asNondeterministic is load-bearing, not cosmetic: the timing fields
    # genuinely vary run-to-run, AND it bars the optimizer from pushing
    # predicates through / duplicating the UDF — without it,
    # InferFiltersFromGenerate turns a downstream explode(spans_out) into
    # a size()>0 filter whose pushed-down condition CONTAINS the UDF,
    # running the whole extraction twice (observed: 2x ArrowEvalPython in
    # the physical plan; tests/test_extraction_bypass.py pins
    # single-evaluation).
    return F.pandas_udf(run, returnType=_BYPASS_RESULT_TYPE).asNondeterministic()


def full_text_col(spans_out: Column) -> Column:
    """Full-text merge JVM-side over an assembled span array (same rule
    as ``extract.pipeline.merge_full_text``; parity pinned by
    tests/test_end_to_end.py)."""
    return F.array_join(
        F.transform(
            F.filter(
                spans_out,
                lambda s: (s["kind"] == F.lit("text")) & (s["text"] != F.lit("")),
            ),
            lambda s: s["text"],
        ),
        "\n",
    )


def _assemble_col(keep: Column, res: Column) -> Column:
    """spans_out — the Catalyst twin of
    ``extract.pipeline.assemble_spans``: resolve passthrough slots
    (src >= 0) against the PRUNED span array ``_keep`` (int kind code,
    pre-normed text, media ref — html/pdf payload bytes are not carried
    past the Python stage at all). F.get is 0-based and NULL-safe for
    the -1 sentinel (no ANSI element_at error)."""
    z = F.arrays_zip(res["texts"].alias("t"), res["src"].alias("s"))

    def pick(zs: Column, i: Column) -> Column:
        sp = F.get(keep, zs["s"])
        is_pass = zs["s"] >= 0
        is_media = is_pass & (sp["code"] == F.lit(KIND_MEDIA))
        kind = F.when(is_media, F.lit("media")).otherwise(F.lit("text"))
        text = (
            F.when(is_media, F.lit(""))
            .when(is_pass, sp["ntext"])
            .otherwise(F.coalesce(zs["t"], F.lit("")))
        )
        ref = F.when(is_media, sp["ref"]).otherwise(F.lit(""))
        return F.struct(
            kind.alias("kind"), text.alias("text"), ref.alias("media_ref"),
            i.cast("int").alias("order"),
        )

    return F.transform(z, pick)


def _extract_spans_bypass(docs: DataFrame, bypass_fn, model_name: str,
                          timeout_ms: int | None,
                          passthrough: list[str] = ()) -> DataFrame:
    spans = F.col("spans")
    # One lower projection evaluates every spans-derived column (so a
    # COMPUTED spans expression — e.g. the flagship interleave — is
    # evaluated once per row, CollapseProject keeps the boundary), and
    # the original spans column is DROPPED before the Python stage:
    #   _keep  — pruned per-span carry (kind CODE, pre-normed text for
    #            text spans, ref for media spans). ArrowEvalPython
    #            buffers every input row JVM-side to join with the UDF
    #            output; carrying html/pdf payloads through that buffer
    #            would waste the bytes the bypass saves, so they end
    #            here. The kind-string CASE runs in this ONE pass; every
    #            later consumer (codes arg, blank flags, assembly) works
    #            on the int code / materialized fields.
    #   _heavy — html/pdf payloads (the ONLY string bytes that cross).
    #   _offs  — ordering key.
    # norm runs HERE, exactly once per text span; the blank flags and
    # the assembly both read the normed value.
    keep = F.transform(
        spans,
        lambda s: F.struct(
            F.when(s["kind"] == F.lit("html"), KIND_HTML)
            .when(s["kind"] == F.lit("pdf_line"), KIND_PDF)
            .when(s["kind"] == F.lit("text"), KIND_TEXT)
            .when(s["kind"] == F.lit("media"), KIND_MEDIA)
            .otherwise(0)
            .cast("int")
            .alias("code"),
            F.when(
                s["kind"] == F.lit("text"),
                norm_col(F.coalesce(s["text"], F.lit(""))),
            ).alias("ntext"),
            F.when(
                s["kind"] == F.lit("media"), F.coalesce(s["media_ref"], F.lit(""))
            ).alias("ref"),
        ),
    )
    heavy = F.transform(
        spans, lambda s: F.when(s["kind"].isin("html", "pdf_line"), s["text"])
    )
    pre = docs.withColumns(
        {"_keep": keep, "_heavy": heavy, "_offs": spans["offset"]}
    ).drop("spans")
    kcol = F.col("_keep")
    codes = kcol["code"]  # GetArrayStructFields: no per-span lambda eval
    blanks = F.transform(
        kcol,
        lambda k: (k["code"] == F.lit(KIND_TEXT)) & (k["ntext"] == F.lit("")),
    )
    udf = _bypass_udf(bypass_fn, timeout_ms)
    out = pre.withColumn("_x", udf(codes, F.col("_offs"), F.col("_heavy"), blanks))
    return _output(out, _assemble_col(kcol, F.col("_x")), F.col("_x.err"),
                   F.col("_x.ms"), F.col("_x.cum_wall_ms"), model_name,
                   passthrough)


def split_extraction_output(combined: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(results, lineage) from the combined extraction output.

    Lineage is a narrow groupBy over the two per-row carrier columns
    (partial agg map-side; on the job path the input is the staged
    parquet, so this is a column-pruned scan of 4 small columns — never
    a recompute of the extraction). Partitions that ran zero docs
    produce no lineage row (there is nothing to account for)."""
    results = combined.drop("partition_id", "cum_wall_ms")
    lineage = combined.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(F.col("success").cast("long")).alias("docs_out"),
        F.sum(F.size("spans_out").cast("long")).alias("span_count"),
        F.max("cum_wall_ms").alias("wall_ms"),
    )
    return results, lineage
