"""Per-round benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": seconds, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The flagship number is the extraction stage over the deterministic
synthetic interleaved corpus (docs/sec also reported in "extra").
Scaling-efficiency evidence (local[8] vs local[32]) is produced by
tools/bench_scaling.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-timed-run 1-min loadavg + raw seconds, keyed by query — the VM has
# minute-scale co-tenant load drift (±15% with 3-8x outliers, see
# BENCH/BASELINE.md), and without a load stamp a slow run cannot be told
# apart from a real regression (round-3 verdict What's-wrong #1).
_LOADS: dict[str, list[float]] = {}
_RUN_SECS: dict[str, list[float]] = {}
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
# corpus sized to the sf tier: sf0.1 -> 50k interleaved docs (big enough
# that per-job fixed overhead (~1.5-2 s: scheduling, Arrow setup, python
# worker comm) doesn't dominate the docs/sec number)
_SF = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", str(int(500_000 * _SF))))


def _force(df) -> None:
    """Fully evaluate EVERY output column without disk.

    A bare count() silently column-prunes expensive projected columns
    (scalar pandas UDFs, span assembly, similarity math) out of the
    measured plan — the r4 extract_corpus diagnosis applies to every
    query whose hot columns aren't needed for row counting. The noop
    sink is the canonical full-evaluation forcing write."""
    df.write.format("noop").mode("overwrite").save()


def _extract_bench(spark) -> tuple[float, int]:
    """Flagship: synthetic corpus -> full extraction plan -> count.

    Warmup pass on a small slice spins up the python worker pool and
    JITs the plan (cold extraction runs 3-5x slower than steady state);
    then min of SPARK_GRAFT_BENCH_RUNS timed runs, consistent with the
    per-query protocol."""
    from xs_vlm_ocr_spark.corpus import gen_docs_df
    from xs_vlm_ocr_spark.operators.extraction import (
        extract_spans, split_extraction_output, valid_docs, with_content_hash,
    )
    from xs_vlm_ocr_spark.operators.skew import repartition_by_doc_length

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    docs = gen_docs_df(spark, N_DOCS).persist()
    n = docs.count()  # materialize corpus outside the timed window

    def one_pass(src):
        jobs = repartition_by_doc_length(with_content_hash(valid_docs(src)), CPUS * 3)
        results, _ = split_extraction_output(extract_spans(jobs))
        _force(results)
        return results.count()  # cheap pruned pass, kept for the assert

    one_pass(gen_docs_df(spark, max(200, N_DOCS // 100)))  # warmup
    best = float("inf")
    for _ in range(runs):  # same sample count as the per-query protocol
        _LOADS.setdefault("extract_corpus", []).append(round(os.getloadavg()[0], 1))
        t0 = time.monotonic()
        n_out = one_pass(docs)
        best = min(best, time.monotonic() - t0)
        _RUN_SECS.setdefault("extract_corpus", []).append(
            round(time.monotonic() - t0, 3))
        assert n_out == n, (n_out, n)
    docs.unpersist()
    return best, n


def main() -> None:
    from xs_vlm_ocr_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS)
    qtimes: dict[str, float] = {}

    # warm the JVM/Arrow path once with a small slice
    spark.range(1000).selectExpr("sum(id)").collect()

    extract_sec, n_docs = _extract_bench(spark)
    qtimes["extract_corpus"] = round(extract_sec, 3)

    # min of N runs per query, after a tiny-scale warmup pass: identical
    # plans measured cold vs JIT-warm differ up to 20x (the generated
    # whole-stage code tiers up through the JVM's C1/C2 compilers), and
    # the VM adds minute-scale host noise (±15% with 3-8x outliers — see
    # BENCH/BASELINE.md). Warmup compiles the codegen paths on ~50 rows;
    # min-of-N then measures the engine's steady state, not the host.
    # Each timed run rebuilds the full plan AND starts cache-cold:
    # Spark's CacheManager matches persist() by CANONICAL LOGICAL PLAN,
    # so a rebuilt identical query silently reuses the previous run's
    # materialized operator-level persists (ngram_jaccard_pairs,
    # minhash_lsh_pairs) — without the clearCache below, min-of-N
    # measured a cache-warm rerun that skips the shingle/signature
    # computation entirely, a state no production single-shot query
    # ever sees (adjudicated r6, BENCH/BASELINE.md: 4.4 s recompute vs
    # 0.5-1.1 s cached rerun at quiet load, identical 108-node plans).
    # Per-query numbers for those two queries from rounds <= 5 are
    # cache-warm and NOT comparable with r6+.
    RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    WARM_DIR = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    queries = entrymod.queries()
    for name in (
        "tpch_q1_pricing_summary",
        "events_hourly_rollup",
        "history_latest_per_key",
        "dedup_cache_probe",
        "knn_topk_cosine",
        "extract_flagship",
        "ngram_jaccard_pairs",
        "minhash_lsh_pairs",
        "asof_join",
    ):
        if os.path.isdir(WARM_DIR) and WARM_DIR != SF_DIR:
            _force(queries[name](spark, WARM_DIR))
        best = float("inf")
        for _ in range(RUNS):
            spark.catalog.clearCache()  # no cross-run persist reuse
            _LOADS.setdefault(name, []).append(round(os.getloadavg()[0], 1))
            t0 = time.monotonic()
            _force(queries[name](spark, SF_DIR))
            sec = time.monotonic() - t0
            _RUN_SECS.setdefault(name, []).append(round(sec, 3))
            best = min(best, sec)
        qtimes[name] = round(best, 3)

    total = round(sum(qtimes.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": qtimes,
                "sf": _SF,
                "extra": {
                    "extract_docs": n_docs,
                    "extract_docs_per_sec": round(n_docs / extract_sec, 1),
                    "cores": CPUS,
                    "runs_per_query": RUNS,
                    "agg": "min",
                    # r5+: EVERY benched query forces EVERY output column
                    # via a noop write (r4 did so only for extract_corpus;
                    # before that a bare count() column-pruned expensive
                    # projections). Per-query numbers before r5 — and
                    # extract numbers before r4 — are NOT comparable
                    # (BENCH/BASELINE.md).
                    "forcing": "noop-write-all-queries",
                    # r6+: cache cleared before every timed run — see
                    # the CacheManager canonical-plan note above
                    "cache": "cleared-before-each-run",
                    # loadavg at the START of each timed run + that run's
                    # raw seconds (same order) — a regressed min with a
                    # high load stamp is host noise, not the engine
                    "loadavg_per_run": _LOADS,
                    "secs_per_run": _RUN_SECS,
                },
            }
        )
    )


if __name__ == "__main__":
    main()
