"""End-to-end rehearsal of the persisted near-dup ingest loop on the
spark-submit surface (round-6 directive 2 done-criterion).

Drives the REAL CLI (job_main.py as a subprocess, cold JVM each pass —
the deployment shape) through the full loop the unit tests pin at toy
scale, at sf0.1 scale:

  pass 1  fresh corpus batch      -> builds the band index from zero
  pass 2  batch with planted near-dups of pass-1 docs
                                  -> stored-index probe finds the
                                     CROSS-INCREMENT pairs without
                                     re-reading pass-1 text; increment
                                     appended under the same commit
                                     discipline
  crash   a results run committed WITHOUT its index sync (the widest
          crash window: anywhere between results commit and index
          append) -> next CLI pass HEALS it before ingesting itself
  pass 3  run with --compact-after 2 -> every output table folds to one
          snapshot; file counts stay bounded; ancestry keeps healed
          increments looking ingested

Prints one JSON line per pass plus a final summary; paste the table
into CHANGES.md. Inputs are derived deterministically from the
driver's sf0.1 documents table (batches split by doc_id; near-dups are
single-word substitutions, word-3-gram Jaccard ~0.99).

Usage:  python tools/rehearse_neardup.py [sf_dir] [workdir]
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

THRESHOLD = "0.5"


def _spark():
    from xs_vlm_ocr_spark.session import get_spark

    spark = get_spark("neardup-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def make_inputs(spark, sf_dir: str, workdir: str) -> dict[str, str]:
    """Three deterministic interleaved batches from the documents table:
    b1 = docs 0-2999; b2 = docs 3000-4499 + near-dup twins of 200 b1
    docs (distinct doc_id/content, one word substituted); b3 = docs
    4500-4999."""
    from pyspark.sql import functions as F

    from __spark_entry__ import _interleave_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    paths = {}
    b1 = docs.filter(F.col("doc_id") < 3000)
    twins = (
        docs.filter(F.col("doc_id") < 200)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        # substitute the first word — distinct text (new content hash,
        # survives exact-dedup resume) but ~0.99 shingle Jaccard
        .withColumn("text", F.regexp_replace("text", r"^\S+", "neardupword"))
    )
    b2 = docs.filter((F.col("doc_id") >= 3000) & (F.col("doc_id") < 4500)).unionByName(twins)
    b3 = docs.filter(F.col("doc_id") >= 4500)
    for name, df in (("b1", b1), ("b2", b2), ("b3", b3)):
        p = os.path.join(workdir, f"in_{name}")
        _interleave_documents(df).repartition(8).write.mode("overwrite").parquet(p)
        paths[name] = p
    return paths


def run_cli(inp: str, out: str, *extra: str) -> tuple[float, dict]:
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "job_main.py"),
         "--input", inp, "--output", out,
         "--near-dup-threshold", THRESHOLD, *extra],
        capture_output=True, text=True, cwd=REPO, timeout=900,
    )
    wall = time.monotonic() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit(f"CLI failed ({p.returncode})")
    line = [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
    return wall, json.loads(line)


def n_files(table_dir: str) -> int:
    return len(glob.glob(os.path.join(table_dir, "**", "*.parquet"),
                         recursive=True))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import tempfile

    workdir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(
        prefix="neardup_rehearsal_")
    out = os.path.join(workdir, "out")
    spark = _spark()
    inputs = make_inputs(spark, sf_dir, workdir)

    report: dict[str, dict] = {}

    wall, summary = run_cli(inputs["b1"], out)
    report["pass1_fresh"] = {"wall_s": round(wall, 1), **summary,
                             "loadavg": round(os.getloadavg()[0], 1)}
    organic_b1 = summary["near_dup_pairs"]  # corpus has organic near-dups

    wall, summary = run_cli(inputs["b2"], out)
    report["pass2_probe"] = {"wall_s": round(wall, 1), **summary,
                             "loadavg": round(os.getloadavg()[0], 1)}
    # 200 planted twins -> >=200 NEW cross-increment pairs via the
    # stored index, on top of batch 1's organic within-increment pairs
    assert summary["near_dup_pairs"] - organic_b1 >= 200, (summary, organic_b1)

    # crash rehearsal: commit b3's results WITHOUT the index sync (the
    # job_main flag off = the same commit path, sync skipped), then a
    # no-new-docs rerun WITH the flag must heal exactly that run
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "job_main.py"),
         "--input", inputs["b3"], "--output", out],
        capture_output=True, text=True, cwd=REPO, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    crash_wall = time.monotonic() - t0

    from xs_vlm_ocr_spark.job import ExtractionJob

    job = ExtractionJob(out, near_dup_threshold=float(THRESHOLD))
    pending = [r for r in job.results.committed_runs()
               if r not in job.neardup_index.all_time_runs()]
    assert len(pending) == 1, pending  # exactly the 'crashed' run

    wall, summary = run_cli(inputs["b3"], out, "--compact-after", "2")
    report["pass3_heal_compact"] = {
        "wall_s": round(wall, 1), "crashed_pass_wall_s": round(crash_wall, 1),
        **summary, "loadavg": round(os.getloadavg()[0], 1)}

    job = ExtractionJob(out, near_dup_threshold=float(THRESHOLD))
    from xs_vlm_ocr_spark.table_io import REWRITE_PREFIXES

    healed = [r for r in job.results.all_time_runs()
              if not r.startswith(REWRITE_PREFIXES)
              and r not in job.neardup_index.all_time_runs()]
    assert healed == [], healed  # crash healed, nothing pending
    assert all(len(t.committed_runs()) == 1 for t in
               (job.results, job.lineage, job.neardup_index,
                job.neardup_pairs))  # compaction folded every table
    report["files_after_compact"] = {
        name: n_files(os.path.join(out, name))
        for name in ("results", "lineage", "neardup_index", "neardup_pairs")
    }
    idx = job.neardup_index.read(spark)
    pairs = job.read_near_dup_pairs(spark)
    report["final_state"] = {
        "index_rows": idx.count(),
        "index_docs": idx.select("doc_id").distinct().count(),
        "pairs": pairs.count(),
        "distinct_pairs": pairs.select("a", "b").distinct().count(),
    }
    # ancestry invariant: every original doc of the corpus indexed once
    # per band, no duplicates from the heal or the compaction
    assert report["final_state"]["index_rows"] == \
        4 * report["final_state"]["index_docs"], report["final_state"]

    # pass 4: the dedup DECISION on the CLI surface — a no-new-docs
    # rerun with --emit-clusters materializes connected components over
    # the committed pairs (each planted twin pair collapses to one
    # cluster with one canonical winner)
    cl_dir = os.path.join(workdir, "clusters")
    wall, summary = run_cli(inputs["b3"], out, "--emit-clusters", cl_dir)
    report["pass4_clusters"] = {"wall_s": round(wall, 1), **summary,
                                "loadavg": round(os.getloadavg()[0], 1)}
    n_docs = report["final_state"]["index_docs"]
    assert summary["clusters"] + summary["duplicate_docs"] == n_docs
    assert summary["duplicate_docs"] >= 200  # every planted twin decided
    emitted = spark.read.parquet(cl_dir)
    assert emitted.count() == n_docs
    assert emitted.filter("is_canonical = 1").count() == summary["clusters"]
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
