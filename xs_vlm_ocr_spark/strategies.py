"""Extraction-strategy configuration (reference's model/provider system).

Mirrors the reference's config model (SURVEY.md §1.3): a JSON config
with ``providers``, ``models`` (strategies), ``prompt_templates`` and
``settings`` sections (reference models_config.json, parsed at
src/utils/ConfigManager.cpp:46-110). Driver-side parse + broadcast-sized
dimension tables; the provider->model param inheritance is a broadcast
left join with coalesce (reference ConfigManager.cpp:193-207, J1).

The extractor dispatch table (reference engine-string dispatch,
MainWindow.cpp:846-882) is the Python REGISTRY below: engine name ->
bypass-convention extraction callable, wrapped by operators.extraction.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xs_vlm_ocr_spark.extract.pipeline import extract_doc_bypass
from xs_vlm_ocr_spark.schemas import STRATEGIES_SCHEMA

# engine name -> bypass-convention extractor
# (codes, offs, heavy, blanks) -> (o_texts, o_src), run by
# operators.extraction on the Arrow-bypass plan. "main_content_v1" is
# the full pipeline. "passthrough" maps to None: it has no Python
# extractor — offset order, kind map and whitespace normalization run
# as one Catalyst expression (operators.extraction).
REGISTRY = {
    "main_content_v1": extract_doc_bypass,
    "passthrough": None,
}

DEFAULT_CONFIG = {
    "settings": {"max_history": 50, "history_page_size": 20, "batch_concurrency": 4},
    "providers": [
        {"id": "local", "name": "Local", "api_host": "", "api_key": ""},
    ],
    "models": [
        {"id": "main_content_v1", "display_name": "Main content v1", "type": "local",
         "engine": "main_content_v1", "provider": "local", "params": {}, "enabled": True},
        {"id": "passthrough", "display_name": "Span passthrough", "type": "local",
         "engine": "passthrough", "provider": "local", "params": {}, "enabled": True},
    ],
    "prompt_templates": [
        # two-level categorical dictionary (reference PromptTemplate,
        # ConfigManager.h:23-32: type 识别/翻译/解答/整理 -> recognize/
        # translate/solve/organize; category 通用/表格/公式 -> general/
        # table/formula)
        {"name": "extract", "content": "extract main content", "type": "recognize",
         "category": "general"},
        {"name": "table", "content": "extract tables as markdown", "type": "recognize",
         "category": "table"},
        {"name": "formula", "content": "extract formulas as latex", "type": "recognize",
         "category": "formula"},
        {"name": "translate_en", "content": "translate to english", "type": "translate",
         "category": "general"},
        {"name": "solve", "content": "solve step by step", "type": "solve",
         "category": "general"},
        {"name": "summarize", "content": "organize into a summary", "type": "organize",
         "category": "general"},
    ],
}

# fixed main-type tab order (reference MainWindow.cpp:2470 typeOrder)
TEMPLATE_TYPES = ["recognize", "translate", "solve", "organize"]


def load_config(path: str | None = None) -> dict:
    if path is None:
        return DEFAULT_CONFIG
    with open(path) as f:
        return json.load(f)


def strategies_df(spark: SparkSession, config: dict) -> DataFrame:
    rows = [
        (
            m["id"], m.get("display_name"), m.get("type"), m["engine"],
            m.get("provider"), {str(k): str(v) for k, v in m.get("params", {}).items()},
            bool(m.get("enabled", True)),
        )
        for m in config.get("models", [])
    ]
    return spark.createDataFrame(rows, STRATEGIES_SCHEMA)


def providers_df(spark: SparkSession, config: dict) -> DataFrame:
    rows = [
        (p["id"], p.get("name"), p.get("api_host", ""), p.get("api_key", ""))
        for p in config.get("providers", [])
    ]
    return spark.createDataFrame(
        rows, "id string, name string, api_host string, api_key string"
    )


def inherit_provider_params(models: DataFrame, providers: DataFrame) -> DataFrame:
    """J1: model LEFT JOIN provider; model-level params win, provider
    fills the gaps (coalesce) — broadcast the provider dim."""
    p = providers.select(
        F.col("id").alias("provider"),
        F.col("api_host").alias("_p_host"),
        F.col("api_key").alias("_p_key"),
    )
    joined = models.join(F.broadcast(p), "provider", "left")
    host = F.coalesce(F.nullif(F.element_at("params", "api_host"), F.lit("")),
                      F.nullif(F.col("_p_host"), F.lit("")))
    key = F.coalesce(F.nullif(F.element_at("params", "api_key"), F.lit("")),
                     F.nullif(F.col("_p_key"), F.lit("")))
    return joined.withColumn(
        "params",
        F.map_concat(
            F.map_filter("params", lambda k, _: ~k.isin("api_host", "api_key")),
            F.map_from_arrays(
                F.array(F.lit("api_host"), F.lit("api_key")),
                F.array(F.coalesce(host, F.lit("")), F.coalesce(key, F.lit(""))),
            ),
        ),
    ).drop("_p_host", "_p_key")


def prompt_templates_df(spark: SparkSession, config: dict) -> DataFrame:
    """Prompt-template dimension table (reference PromptTemplate,
    ConfigManager.h:23-32). ``pos`` preserves config insertion order;
    a missing/empty type defaults to 'recognize' (ConfigManager.cpp:316
    defaults to 识别)."""
    rows = [
        (
            t.get("name"), t.get("content"),
            (t.get("type") or "recognize"), (t.get("category") or "general"),
            i,
        )
        for i, t in enumerate(config.get("prompt_templates", []))
    ]
    return spark.createDataFrame(
        rows, "name string, content string, type string, category string, pos int"
    )


def templates_by_type(templates: DataFrame,
                      type_order: list[str] | None = None) -> DataFrame:
    """The UI's grouped-template query (reference MainWindow.cpp:
    2470-2493): fixed main-type tab order, insertion order within a
    type, display label 'name [category]'."""
    from pyspark.sql import Window

    order = type_order or TEMPLATE_TYPES
    type_rank = F.array_position(
        F.array(*[F.lit(t) for t in order]), F.col("type")
    ).cast("int")
    w = Window.partitionBy("type").orderBy("pos")
    return (
        templates.filter(F.col("type").isin(order))
        .withColumn("type_rank", type_rank)
        .withColumn("slot", F.row_number().over(w))
        .withColumn(
            "label",
            F.concat(F.col("name"), F.lit(" ["), F.col("category"), F.lit("]")),
        )
        .select("type", "type_rank", "slot", "name", "category", "label", "content")
    )

