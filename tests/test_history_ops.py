"""Unit coverage for history/dedup operators not hit by the oracle
harness: keyset pagination, cache-hit replay, invalid-doc routing,
exact dedup winners."""

import pyspark.sql.functions as F
import pytest

from xs_vlm_ocr_spark.operators.dedup import cache_hits, exact_dedup
from xs_vlm_ocr_spark.operators.extraction import is_valid_doc, valid_docs
from xs_vlm_ocr_spark.operators.history import page_after, paginate


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet").cache()


def test_keyset_pagination_equals_offset_pagination(spark, events):
    ev = events.select("event_id", F.col("ts").cast("timestamp").alias("ts"))
    p0 = paginate(ev, "ts", "event_id", page=0, page_size=25).collect()
    p1 = paginate(ev, "ts", "event_id", page=1, page_size=25).collect()

    k0 = page_after(ev, "ts", "event_id", None, 25).collect()
    last = (k0[-1]["ts"], k0[-1]["event_id"])
    k1 = page_after(ev, "ts", "event_id", last, 25).collect()

    key = lambda rows: [(r["ts"], r["event_id"]) for r in rows]  # noqa: E731
    assert sorted(key(p0)) == sorted(key(k0))
    assert sorted(key(p1)) == sorted(key(k1))


def test_cache_hits_replay_with_zero_time(spark):
    # latest-successful-wins is ordered by the history timestamp (ts DESC,
    # id tiebreak — reference HistoryManager.cpp:480-483), NOT by any
    # duration proxy: the older h1 row deliberately has the LARGER
    # processing_time_ms so a wrong proxy would pick the wrong row.
    from datetime import datetime

    d = lambda day: datetime(2024, 1, day)  # noqa: E731
    results = spark.createDataFrame(
        [
            ("h1", "d1", True, "text newer", 120, d(2), 2),
            ("h1", "d1", True, "text older", 999, d(1), 1),
            ("h2", "d2", False, "", 50, d(3), 3),  # failed: never a hit
            ("h3", "d3", True, "text three", 60, d(1), 4),
        ],
        "content_hash string, doc_id string, success boolean, "
        "full_text string, processing_time_ms long, ts timestamp, id long",
    )
    jobs = spark.createDataFrame([("h1",), ("h2",), ("h9",)], "content_hash string")
    hits = {r["content_hash"]: r for r in cache_hits(jobs, results).collect()}
    assert set(hits) == {"h1"}  # h2 failed, h9 unknown
    assert hits["h1"]["processing_time_ms"] == 0  # reference cache-hit marker
    assert hits["h1"]["full_text"] == "text newer"  # ts DESC, not duration


def test_invalid_docs_routed_not_dropped(spark):
    from xs_vlm_ocr_spark.schemas import DOCS_SCHEMA

    rows = [
        {"doc_id": "ok", "spans": [{"kind": "text", "text": "x", "media_ref": "", "offset": 0}]},
        {"doc_id": "empty", "spans": []},
    ]
    df = spark.createDataFrame(rows, DOCS_SCHEMA)
    assert [r["doc_id"] for r in valid_docs(df).collect()] == ["ok"]
    invalid = df.filter(~is_valid_doc())
    assert [r["doc_id"] for r in invalid.collect()] == ["empty"]
    assert valid_docs(df).count() + invalid.count() == df.count()


def test_exact_dedup_keeps_lowest_doc_id(spark):
    df = spark.createDataFrame(
        [("b", "same text"), ("a", "same text"), ("c", "other text")],
        "doc_id string, full_text string",
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(df).collect())
    assert kept == ["a", "c"]


def test_exact_dedup_null_text_kept_distinct_from_empty(spark):
    """NULL text rows are a GROUP, not a drop: md5(NULL)=NULL would
    silently lose them through the equi semi-join; the sentinel key
    keeps one NULL-text representative, distinct from the ''-text
    group (the sentinel is outside md5's hex alphabet)."""
    df = spark.createDataFrame(
        [("n2", None), ("n1", None), ("e1", ""), ("e2", ""), ("t", "x")],
        "doc_id string, full_text string",
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(df).collect())
    assert kept == ["e1", "n1", "t"]


def test_exact_dedup_mega_cluster_plan(spark):
    """Planted mega-dup cluster (10^5 copies of ONE text — the web-crawl
    boilerplate shape): exact_dedup must stay a map-side-combining
    groupBy + composite-key semi-join, never a window over the hash.

    A row_number window partitioned by _h serializes the whole cluster
    onto one reducer; the fixed plan (a) partially aggregates the
    cluster to one row per map partition (partial_min below the
    exchange) and (b) semi-joins on (_h, doc_id), whose hash spreads a
    single-hash cluster across reducers. Deterministic plan assertions —
    timing flakes on this VM (CLAUDE.md)."""
    n = 100_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < n - 3, F.lit("boilerplate page"))
        .otherwise(F.concat(F.lit("unique "), F.col("id"))).alias("full_text"),
    )
    out = exact_dedup(df)
    rows = out.collect()
    # 1 winner for the cluster (lowest id) + 3 unique tails
    assert len(rows) == 4
    assert min(r["doc_id"] for r in rows) == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Window [" not in plan, "hot-hash window is back"
    assert "partial_min" in plan, "winner agg must map-side combine"
    # the semi-join keys must include doc_id (composite key: a one-hash
    # cluster hash-distributes instead of landing on one reducer)
    semi = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert semi and all("doc_id" in ln for ln in semi), plan


def test_paginate_plan_is_bounded_topk(spark):
    """paginate must rank only the page-bounded TakeOrderedAndProject
    output, never window the whole table: the global sort work runs as
    parallel per-partition top-k; the single-partition window pass sees
    <= (page+1)*page_size rows."""
    from xs_vlm_ocr_spark.operators.history import paginate

    df = spark.range(20_000).select(
        F.format_string("id%08d", F.col("id")).alias("id"),
        F.timestamp_seconds(F.col("id") % 1999).alias("ts"),
    )
    page = paginate(df, "ts", "id", page=2, page_size=10)
    rows = page.collect()
    assert len(rows) == 10
    plan = page._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan, plan
