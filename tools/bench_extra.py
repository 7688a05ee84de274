"""Per-query profiler over bench.py's protocol.

Times any subset of bench.py's QUERIES with ``bench.time_query`` (warm
at $SPARK_GRAFT_WARM_DIR, clearCache before every timed run, noop-sink
forcing, min of $SPARK_GRAFT_BENCH_RUNS, loadavg stamps) at
$SPARK_GRAFT_SF_DIR, or dumps ``explain("formatted")`` per query to
plans/r08/.

Usage:
  python tools/bench_extra.py --queries ngram_jaccard_pairs,minhash_lsh_pairs
  python tools/bench_extra.py --queries all
  python tools/bench_extra.py --explain before --queries ngram_jaccard_pairs
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="all")
    ap.add_argument("--explain", default=None,
                    help="suffix (e.g. 'before'/'after'): write plans/r08/<q>_<suffix>.txt")
    args = ap.parse_args()

    from xs_vlm_ocr_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("bench_extra", cores=bench.CPUS, shuffle_partitions=bench.CPUS)
    spark.range(1000).selectExpr("sum(id)").collect()
    queries = entrymod.queries()
    names = bench.QUERIES if args.queries == "all" else args.queries.split(",")

    if args.explain:
        outdir = os.path.join(REPO, "plans", "r08")
        os.makedirs(outdir, exist_ok=True)
        for name in names:
            df = queries[name](spark, bench.SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            path = os.path.join(outdir, f"{name}_{args.explain}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
        return

    timed = {name: bench.time_query(spark, queries, name) for name in names}
    print(json.dumps({
        "sf_dir": bench.SF_DIR,
        "queries": {n: t[0] for n, t in timed.items()},
        "secs_per_run": {n: t[1] for n, t in timed.items()},
        "loadavg_per_run": {n: t[2] for n, t in timed.items()},
    }))


if __name__ == "__main__":
    main()
