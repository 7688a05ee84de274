"""Physical-plan audit: assert the plan-shape invariants that matter at
100 TB, over EVERY registered contract query, and write PLAN_AUDIT.md.

Generic invariants (all queries, executed plan at sf0.01, AQE final):
  * no CartesianProduct node anywhere;
  * no BroadcastNestedLoopJoin — except queries whitelisted with a
    reason (the brute-force KNN's broadcast-score plan is the intended
    shape: tiny query side x full scan, no join key exists);
  * no row-at-a-time Python eval (BatchEvalPython) — Python enters
    plans only as Arrow-batched pandas stages (ArrowEvalPython /
    MapInPandas), and only in the operators whose payload is Python.

Query-specific invariants on top (scan pushdown, broadcast joins,
partial top-k, map-side aggregation, codegen, window shapes).

Run: python tools/plan_audit.py [sf_dir]   (writes PLAN_AUDIT.md)
Exit code 1 if any invariant fails — usable as a CI gate.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# query -> list of (label, predicate) over the executed-plan string
def _has(s):
    return lambda plan: s in plan


def _absent(s):
    return lambda plan: s not in plan


def _codegen(plan):
    # final AQE plans mark codegen'd nodes with "*(n)" stage prefixes
    import re

    return re.search(r"\*\(\d+\)", plan) is not None


def _single_window(plan):
    # exactly one Window node ("Window [" excludes WindowGroupLimit)
    import re

    return len(re.findall(r"\bWindow \[", plan)) == 1


def _single_window_exchange(plan):
    # all window passes share one hash partitioning (one shuffle total)
    return plan.count("Exchange hashpartitioning") == 1


def _equi_join(plan):
    # candidate generation is a hash/sort-merge/broadcast EQUI join —
    # the linear-shuffle shape (the generic checks already exclude the
    # quadratic CartesianProduct / BroadcastNestedLoopJoin nodes)
    return any(j in plan for j in
               ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def _arrow_python_stage(plan):
    # Python payload enters the plan ONLY as an Arrow-batched stage
    return "MapInPandas" in plan or "ArrowEvalPython" in plan


# Queries whose plan legitimately contains a BroadcastNestedLoopJoin,
# with the reason (generic check skips them; everything else must not).
BNLJ_OK: dict[str, str] = {
    # brute-force KNN: a tiny broadcast query side scored against the
    # full scan — there IS no equi key; this is the intended 100 TB plan
    # (the LSH/IVF variants are the bucketed alternatives)
    "knn_topk_cosine": "broadcast brute-force scoring (no join key exists)",
}

# Generic invariants applied to EVERY registered query.
GENERIC: list[tuple[str, object]] = [
    ("no cartesian product", _absent("CartesianProduct")),
    # r8: InferFiltersFromGenerate + pushdown can duplicate a whole gram
    # pipeline into an interpreted pre-Filter when an explode's child is
    # a pre-aliased attribute (measured 15x on the sf1.0 gram explode —
    # see text_dedup.with_distinct_gram_arrays). The signature of the
    # regression is a size(...) guard wrapping the tokenize/gram tree
    # inside a Filter condition.
    ("no duplicated gram pipeline in an inferred generate filter",
     lambda p: "size(filter(array_distinct(transform" not in p
     and "size(array_distinct(transform" not in p),
    ("no row-at-a-time python eval", _absent("BatchEvalPython")),
]

CHECKS: dict[str, list[tuple[str, object]]] = {
    "tpch_q1_pricing_summary": [
        ("filter pushed to parquet scan", _has("PushedFilters: [IsNotNull(l_shipdate)")),
        ("map-side partial aggregation", _has("partial_sum")),
        ("whole-stage codegen", _codegen),
    ],
    "history_point_lookup": [
        ("point predicate pushed to scan", _has("PushedFilters: [IsNotNull(event_id), EqualTo(event_id")),
        ("no shuffle at all", _absent("Exchange hashpartitioning")),
    ],
    "knn_topk_cosine": [
        ("query side broadcast", _has("BroadcastExchange")),
        ("partial top-k below the shuffle (WindowGroupLimit)",
         _has("row_number(), 10, Partial")),
    ],
    "dedup_cache_probe": [
        ("anti-join", _has("LeftAnti")),
    ],
    "ngram_jaccard_pairs": [
        ("hash aggregation", _has("HashAggregate")),
    ],
    "minhash_lsh_pairs": [
        ("whole-stage codegen (md5 family all-JVM)", _codegen),
        ("no python UDF anywhere in the plan", _absent("PythonUDF")),
    ],
    "incremental_minhash_probe": [
        ("no python UDF anywhere in the plan", _absent("PythonUDF")),
        ("index probe is a single-key bucket equi join", _equi_join),
    ],
    "minhash_index_maintenance": [
        ("no python UDF anywhere in the plan", _absent("PythonUDF")),
        ("append is a union, never a join", _absent("Join")),
        ("signature agg map-side combines", _has("partial_min")),
    ],
    "simhash_near_pairs": [
        ("no python UDF anywhere in the plan (md5 family)", _absent("PythonUDF")),
    ],
    "neardup_clusters": [
        # large-star/small-star already converged when this df is built;
        # the returned plan is the final docs-side cluster assignment
        ("cluster assignment is an equi join", _equi_join),
        ("no python UDF anywhere in the plan", _absent("PythonUDF")),
        ("no corpus window", lambda p: "Window [" not in p),
    ],
    "neardup_clusters_incremental": [
        ("cluster assignment is an equi join", _equi_join),
        ("no python UDF anywhere in the plan", _absent("PythonUDF")),
        ("no corpus window", lambda p: "Window [" not in p),
    ],
    "ngram_contamination": [
        # the tiny held-out gram set broadcasts; the train side (the
        # 100 TB one) never shuffles its grams
        ("test gram set broadcast", _has("BroadcastHashJoin")),
        ("map-side partial aggregation", _has("partial_count")),
        ("no python UDF anywhere in the plan", _absent("PythonUDF")),
    ],
    "contamination_spans": [
        ("test gram set broadcast", _has("BroadcastHashJoin")),
        # interval merge is a per-doc fold over sorted hit positions —
        # never a window over the corpus
        ("no corpus window", lambda p: "Window [" not in p),
        ("no python UDF anywhere in the plan", _absent("PythonUDF")),
    ],
    "repetition_signals": [
        # per-doc signals computed inside one projection (array ops +
        # run-length fold over the per-doc sorted grams): no corpus
        # shuffle at all — the explode->(doc,gram) aggregation shape
        # would shuffle every token n times, twice
        ("no corpus window", lambda p: "Window [" not in p),
        ("zero shuffle (no hash-partitioning exchange)",
         _absent("Exchange hashpartitioning")),
        ("no python UDF anywhere in the plan", _absent("PythonUDF")),
    ],
    "config_inheritance_join": [
        ("dim side broadcast", _has("BroadcastHashJoin")),
    ],
    "topk_per_group": [
        ("dim side broadcast", _has("BroadcastHashJoin")),
        ("partial top-k below the shuffle (WindowGroupLimit)",
         _has("row_number(), 3, Partial")),
    ],
    "history_latest_per_key": [
        ("single window pass", _single_window),
    ],
    "sessionize": [
        ("windows stay in one partitioning pass (single shuffle)",
         _single_window_exchange),
    ],
    "asof_join": [
        ("union-tag composition: no join node at all (single window pass)",
         _absent("Join")),
    ],
    "events_hourly_rollup": [
        ("partial aggregation before shuffle", _has("HashAggregate")),
    ],
    "semi_anti_set_ops": [
        ("semi + anti forms, both broadcast on the filtered dim",
         lambda p: "LeftSemi" in p and "LeftAnti" in p),
    ],
    "history_filtered_count": [
        ("range predicate pushed to parquet scan",
         _has("PushedFilters: [IsNotNull(ts)")),
    ],
    "char_stats": [
        ("aggregate pushes column pruning to the scan",
         lambda p: "ReadSchema" in p and "text" not in p.split("ReadSchema")[1][:200]),
    ],
    "dedup_exact_groups": [
        ("map-side partial aggregation", _has("partial_count")),
    ],
    "dedup_exact_keep_first": [
        # a row_number window over partitionBy(_h) serializes a mega dup
        # cluster onto one reducer; winners must come from a map-side
        # combining agg + composite-key semi-join
        ("winner agg map-side combines (partial_min)", _has("partial_min")),
        ("no hot-hash window", lambda p: "Window [" not in p),
        ("winner semi-join", _has("LeftSemi")),
    ],
    "history_page": [
        # OFFSET/LIMIT must rank only the page-bounded top-k set, not
        # window the whole table
        ("parallel partial top-k (TakeOrderedAndProject)",
         _has("TakeOrderedAndProject")),
    ],
    "history_topn_retention": [
        # global row_number window = single-reducer sort of the whole
        # history table; winners must be parallel partial top-k
        ("parallel partial top-k (TakeOrderedAndProject)",
         _has("TakeOrderedAndProject")),
        ("no global window", lambda p: "Window [" not in p),
    ],
    "batch_status_counts": [
        ("map-side partial aggregation", _has("HashAggregate")),
    ],
    "knn_lsh": [
        ("bucket candidate generation is an equi join", _equi_join),
    ],
    "embedding_near_dup": [
        ("eps-grid candidate generation is an equi join", _equi_join),
    ],
    "deduped_kept_corpus": [
        # the whole decision is joins + per-row folds: no cartesian
        # anywhere in the composed clusters/spans/signals plan
        ("no cartesian product in the composed decision",
         _absent("CartesianProduct")),
        ("all-JVM decision (no python UDF)", _absent("PythonUDF")),
    ],
    "fingerprint_dedup": [
        ("all-JVM (no python UDF in the plan)", _absent("PythonUDF")),
        ("hash aggregation", _has("HashAggregate")),
    ],
    "media_decode": [
        ("python payload is an Arrow-batched stage", _arrow_python_stage),
    ],
    "extract_flagship": [
        ("python payload is an Arrow-batched stage", _arrow_python_stage),
        # the Arrow-bypass UDF must appear EXACTLY once: optimizer rules
        # (InferFiltersFromGenerate + pushdown) once duplicated it under
        # the explode, running the whole extraction twice
        ("extraction python stage evaluated exactly once",
         lambda p: p.count("ArrowEvalPython") + p.count("MapInPandas") == 1),
        # plain-text span payloads stay out of Python: the UDF input is
        # the pruned carry (_keep/_heavy), never the raw spans.text blob
        ("bypass plan (pruned _keep carry feeds the UDF)", _has("_keep")),
    ],
    "events_cube": [
        ("cube lowered to Expand + hash aggregation",
         lambda p: "Expand" in p and "HashAggregate" in p),
    ],
    "events_daily_pivot": [
        ("pivot lowered to hash aggregation (no per-column scans)",
         _has("HashAggregate")),
    ],
    "running_window_agg": [
        ("single window pass", _single_window),
        ("one partitioning shuffle", _single_window_exchange),
    ],
    # streaming_hourly_rollup: the contract query returns the sink's
    # materialized rows (LocalTableScan) — the windowed aggregation runs
    # inside the streaming engine, out of reach of this df's plan. Its
    # values are checked by the DuckDB oracle and by
    # tests/test_streaming.py::test_windowed_metrics_matches_batch; no
    # test pins that its watermark keeps the state bounded
    "token_count": [
        ("all-JVM scalar pipeline (codegen, no python UDF)",
         lambda p: _codegen(p) and "PythonUDF" not in p),
    ],
    "quality_score": [
        ("all-JVM scalar pipeline (codegen, no python UDF)",
         lambda p: _codegen(p) and "PythonUDF" not in p),
    ],
    "lang_id": [
        ("all-JVM scalar pipeline (codegen, no python UDF)",
         lambda p: _codegen(p) and "PythonUDF" not in p),
    ],
    "glm_cleanup": [
        ("all-JVM scalar pipeline (codegen, no python UDF)",
         lambda p: _codegen(p) and "PythonUDF" not in p),
    ],
    "json_response_parse": [
        ("all-JVM scalar pipeline (codegen, no python UDF)",
         lambda p: _codegen(p) and "PythonUDF" not in p),
    ],
    "scalar_functions": [
        ("all-JVM scalar pipeline (codegen, no python UDF)",
         lambda p: _codegen(p) and "PythonUDF" not in p),
    ],
}


def main() -> int:
    import __spark_entry__ as em
    from xs_vlm_ocr_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit", cores=8, shuffle_partitions=8)
    queries = em.queries()

    lines = [
        "# PLAN_AUDIT — physical-plan invariants (executed plans, AQE final)",
        "",
        f"Source: `tools/plan_audit.py` over ALL registered contract queries at `{sf_dir}`.",
        "Each check is a structural assertion on the executed physical plan —",
        "the properties that decide whether the plan survives a 100 TB input",
        "(scan pushdown, broadcast vs shuffle, no quadratic join nodes, no",
        "row-at-a-time Python, JVM-side codegen). Generic invariants (no",
        "CartesianProduct, no BroadcastNestedLoopJoin unless whitelisted with",
        "a reason, no BatchEvalPython) run on every query; targeted checks",
        "on top. Exit code gates CI.",
        "",
        "| query | check | result |",
        "|---|---|---|",
    ]
    n_fail = 0
    for name in queries:
        checks = list(GENERIC)
        if name in BNLJ_OK:
            checks.append(
                (f"nested-loop join allowed: {BNLJ_OK[name]}", lambda p: True)
            )
        else:
            checks.append(
                ("no nested-loop join", _absent("BroadcastNestedLoopJoin"))
            )
        checks += CHECKS.get(name, [])
        df = queries[name](spark, sf_dir)
        df.collect()  # execute THIS df's plan so AQE finalizes it
        plan = df._jdf.queryExecution().executedPlan().toString()
        # AdaptiveSparkPlan.toString() prints BOTH the final and the
        # initial plan; counting checks (single window pass, one
        # exchange) must see only the executed Final Plan section
        plan = plan.split("== Initial Plan ==")[0]
        for label, pred in checks:
            ok = pred(plan)
            n_fail += 0 if ok else 1
            lines.append(f"| {name} | {label} | {'PASS' if ok else '**FAIL**'} |")
            print(f"[{'PASS' if ok else 'FAIL'}] {name}: {label}")
    lines += [
        "",
        "Plan-level pytest gates (run in CI): bucketed join skips the big-side",
        "shuffle (`tests/test_bucketing.py`), broadcast dedup probe leaves the",
        "jobs side shuffle-free (`tests/test_dedup_probe.py`), IVF probe scan",
        "carries PartitionFilters (`tests/test_similarity.py`), skew split adds",
        "zero shuffle on unskewed input (`tests/test_skew.py`).",
        "",
    ]
    with open(os.path.join(REPO, "PLAN_AUDIT.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"\nPLAN_AUDIT.md written; {n_fail} failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
