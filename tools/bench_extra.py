"""Round-8 optimization measurement harness (bench.py is FROZEN).

Mirrors the bench protocol exactly (warm at sf0.001, clearCache before
every timed run, noop-sink forcing, min-of-N, loadavg stamps) but for an
arbitrary subset of the declared queries, and can dump
``explain("formatted")`` per query to plans/r08/.

Usage:
  python tools/bench_extra.py --queries ngram_jaccard_pairs,minhash_lsh_pairs
  python tools/bench_extra.py --queries all --runs 3
  python tools/bench_extra.py --explain before --queries ngram_jaccard_pairs
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
WARM_DIR = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

BENCHED = [
    "tpch_q1_pricing_summary",
    "events_hourly_rollup",
    "history_latest_per_key",
    "dedup_cache_probe",
    "knn_topk_cosine",
    "extract_flagship",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "asof_join",
]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="all")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain", default=None,
                    help="suffix (e.g. 'before'/'after'): write plans/r08/<q>_<suffix>.txt")
    ap.add_argument("--sf-dir", default=SF_DIR)
    args = ap.parse_args()

    from xs_vlm_ocr_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("bench_extra", cores=CPUS, shuffle_partitions=CPUS)
    spark.range(1000).selectExpr("sum(id)").collect()
    queries = entrymod.queries()
    names = BENCHED if args.queries == "all" else args.queries.split(",")

    if args.explain:
        outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "plans", "r08")
        os.makedirs(outdir, exist_ok=True)
        for name in names:
            df = queries[name](spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            path = os.path.join(outdir, f"{name}_{args.explain}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
        return

    out: dict[str, object] = {}
    per_run: dict[str, list[float]] = {}
    loads: dict[str, list[float]] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}:warm")
        if os.path.isdir(WARM_DIR) and WARM_DIR != args.sf_dir:
            _force(queries[name](spark, WARM_DIR))
        best = float("inf")
        for i in range(args.runs):
            spark.catalog.clearCache()
            loads.setdefault(name, []).append(round(os.getloadavg()[0], 1))
            spark.sparkContext.setJobDescription(f"bench_extra:{name}:run{i}")
            t0 = time.monotonic()
            _force(queries[name](spark, args.sf_dir))
            sec = time.monotonic() - t0
            per_run.setdefault(name, []).append(round(sec, 3))
            best = min(best, sec)
        out[name] = round(best, 3)
    print(json.dumps({"sf_dir": args.sf_dir, "queries": out,
                      "secs_per_run": per_run, "loadavg_per_run": loads}))


if __name__ == "__main__":
    main()
