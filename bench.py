"""Per-round benchmark harness (driver contract) and the one measurement
protocol every bench tool shares.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": seconds, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The flagship number is the extraction stage over the deterministic
synthetic interleaved corpus (docs/sec also reported in "extra").
``time_query`` and ``extraction_pass`` are the protocol:
tools/bench_extra.py times a subset of QUERIES with the first (and
dumps their plans), and tools/bench_scaling.py times the second at
N = cores/4 and 4N, paired and interleaved, for the N -> 4N scaling
efficiency.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from xs_vlm_ocr_spark.operators.extraction import (  # noqa: E402
    extract_spans, split_extraction_output, valid_docs, with_content_hash,
)
from xs_vlm_ocr_spark.operators.skew import repartition_by_doc_length  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_DIR = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
# corpus sized to the sf tier: sf0.1 -> 50k interleaved docs (big enough
# that per-job fixed overhead (~1.5-2 s: scheduling, Arrow setup, python
# worker comm) doesn't dominate the docs/sec number)
_SF = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", str(int(500_000 * _SF))))

# the declared queries timed after extract_corpus, in headline order
QUERIES = (
    "tpch_q1_pricing_summary",
    "events_hourly_rollup",
    "history_latest_per_key",
    "dedup_cache_probe",
    "knn_topk_cosine",
    "extract_flagship",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "asof_join",
)


def _force(df) -> None:
    """Fully evaluate EVERY output column without disk.

    A bare count() silently column-prunes expensive projected columns
    (scalar pandas UDFs, span assembly, similarity math) out of the
    measured plan — the r4 extract_corpus diagnosis applies to every
    query whose hot columns aren't needed for row counting. The noop
    sink is the canonical full-evaluation forcing write."""
    df.write.format("noop").mode("overwrite").save()


def extraction_pass(src, cores: int) -> int:
    """The timed extraction pipeline: valid docs -> content hash -> skew
    split into ``cores * 3`` partitions -> extract -> forced results.
    Returns the results row count (a cheap pruned pass, kept for the
    callers' assert)."""
    jobs = repartition_by_doc_length(with_content_hash(valid_docs(src)), cores * 3)
    results, _ = split_extraction_output(extract_spans(jobs))
    _force(results)
    return results.count()


def _min_of_runs(run, runs: int, before=lambda: None):
    """(best, secs, loads) over ``runs`` timed calls of ``run()``.

    ``loads`` is the 1-min loadavg at the START of each timed run, in
    the same order as its raw seconds ``secs``: the VM has minute-scale
    co-tenant load drift (±15% with 3-8x outliers, see
    BENCH/BASELINE.md), and without a load stamp a slow run cannot be
    told apart from a real regression."""
    secs: list[float] = []
    loads: list[float] = []
    for _ in range(runs):
        before()
        loads.append(round(os.getloadavg()[0], 1))
        t0 = time.monotonic()
        run()
        secs.append(round(time.monotonic() - t0, 3))
    return min(secs), secs, loads


def time_query(spark, queries, name: str) -> tuple[float, list[float], list[float]]:
    """(best, secs, loads) of RUNS timed runs of ``queries[name]`` at
    SF_DIR.

    min of N runs per query, after a tiny-scale warmup pass: identical
    plans measured cold vs JIT-warm differ up to 20x (the generated
    whole-stage code tiers up through the JVM's C1/C2 compilers), and
    the VM adds minute-scale host noise. Warmup compiles the codegen
    paths on ~50 rows; min-of-N then measures the engine's steady
    state, not the host. Each timed run rebuilds the full plan AND
    starts cache-cold: Spark's CacheManager matches persist() by
    CANONICAL LOGICAL PLAN, so a rebuilt identical query silently reuses
    the previous run's materialized operator-level persists
    (ngram_jaccard_pairs, minhash_lsh_pairs) — without the clearCache,
    min-of-N measured a cache-warm rerun that skips the
    shingle/signature computation entirely, a state no production
    single-shot query ever sees (adjudicated r6, BENCH/BASELINE.md:
    4.4 s recompute vs 0.5-1.1 s cached rerun at quiet load, identical
    108-node plans). Per-query numbers for those two queries from
    rounds <= 5 are cache-warm and NOT comparable with r6+."""
    if os.path.isdir(WARM_DIR) and WARM_DIR != SF_DIR:
        _force(queries[name](spark, WARM_DIR))
    return _min_of_runs(lambda: _force(queries[name](spark, SF_DIR)), RUNS,
                        before=spark.catalog.clearCache)


def _extract_bench(spark) -> tuple[float, list[float], list[float]]:
    """Flagship: synthetic corpus -> ``extraction_pass``.

    Warmup pass on a small slice spins up the python worker pool and
    JITs the plan (cold extraction runs 3-5x slower than steady state);
    then min of RUNS timed runs, consistent with the per-query
    protocol. The corpus stays persisted across runs, so no
    clearCache here."""
    from xs_vlm_ocr_spark.corpus import gen_docs_df

    docs = gen_docs_df(spark, N_DOCS).persist()
    assert docs.count() == N_DOCS  # materialize corpus outside the timed window
    extraction_pass(gen_docs_df(spark, max(200, N_DOCS // 100)), CPUS)  # warmup

    def run():
        n_out = extraction_pass(docs, CPUS)
        assert n_out == N_DOCS, (n_out, N_DOCS)

    timed = _min_of_runs(run, RUNS)
    docs.unpersist()
    return timed


def main() -> None:
    from xs_vlm_ocr_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS)

    # warm the JVM/Arrow path once with a small slice
    spark.range(1000).selectExpr("sum(id)").collect()

    timed = {"extract_corpus": _extract_bench(spark)}
    queries = entrymod.queries()
    for name in QUERIES:
        timed[name] = time_query(spark, queries, name)
    qtimes = {name: best for name, (best, _, _) in timed.items()}

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
                    "extract_docs": N_DOCS,
                    "extract_docs_per_sec": round(
                        N_DOCS / qtimes["extract_corpus"], 1),
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
                    # time_query's CacheManager note
                    "cache": "cleared-before-each-run",
                    # loadavg at the START of each timed run + that run's
                    # raw seconds (same order) — a regressed min with a
                    # high load stamp is host noise, not the engine
                    "loadavg_per_run": {n: t[2] for n, t in timed.items()},
                    "secs_per_run": {n: t[1] for n, t in timed.items()},
                },
            }
        )
    )


if __name__ == "__main__":
    main()
