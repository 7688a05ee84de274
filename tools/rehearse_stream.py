"""End-to-end rehearsal of `job_main.py --stream` on the spark-submit
surface: streaming ingest across COLD PROCESS RESTARTS must converge on
bit-identical committed state to batch ingest of the same corpus.

The pytest parity test (tests/test_streaming.py) pins batch==stream
in-process at toy scale; this drives the REAL CLI (subprocess, cold JVM
per invocation — the cron/daemon deployment shape) at sf0.1 scale, with
the near-dup index loop and quality signals enabled, and exercises the
one thing the in-process test cannot: the streaming source-offset
checkpoint surviving process exit, so a re-invocation ingests ONLY the
files that arrived since the last run.

  stream pass 1   wave-1 files visible -> micro-batch run(s) commit
                  results + index + signals; process exits
  stream pass 2   wave-2 files (incl. near-dup twins of wave-1 docs)
                  appended to the SAME input dir -> only they are
                  ingested (checkpoint); cross-wave twins found via the
                  STORED index probe across a process boundary
  stream pass 3   nothing new arrived -> zero micro-batches, zero
                  commits, well-formed summary (the idle cron tick)
  batch twin      the same two waves as two plain batch runs into a
                  separate output
  converge        committed pair set, band-index rows, per-doc signals
                  and result content hashes are SET-EQUAL between the
                  two outputs (canonical (a<b) pair orientation and the
                  md5 hash family make this bit-for-bit, not just
                  up-to-symmetry)

Prints one JSON line per pass plus CONVERGED true/false; paste the
summary into CHANGES.md.

Usage:  python tools/rehearse_stream.py [sf_dir] [workdir]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

THRESHOLD = "0.5"
FLAGS = ("--near-dup-threshold", THRESHOLD, "--signals")


def _spark():
    from xs_vlm_ocr_spark.session import get_spark

    spark = get_spark("stream-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def make_waves(spark, sf_dir: str, workdir: str) -> dict[str, str]:
    """Two deterministic interleaved waves from the documents table:
    w1 = docs 0-2499; w2 = docs 2500-3999 + near-dup twins of 150 w1
    docs (one word substituted: new content hash, ~0.99 shingle
    Jaccard — must be found CROSS-WAVE via the stored index)."""
    from pyspark.sql import functions as F

    from __spark_entry__ import _interleave_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    twins = (
        docs.filter(F.col("doc_id") < 150)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.regexp_replace("text", r"^\S+", "neardupword"))
    )
    w1 = docs.filter(F.col("doc_id") < 2500)
    w2 = docs.filter(
        (F.col("doc_id") >= 2500) & (F.col("doc_id") < 4000)
    ).unionByName(twins)
    paths = {}
    for name, df in (("w1", w1), ("w2", w2)):
        p = os.path.join(workdir, f"in_{name}")
        _interleave_documents(df).repartition(8).write.mode(
            "overwrite").parquet(p)
        paths[name] = p
    return paths


def run_cli(inp: str, out: str, *extra: str) -> tuple[float, dict]:
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "job_main.py"),
         "--input", inp, "--output", out, *FLAGS, *extra],
        capture_output=True, text=True, cwd=REPO, timeout=900,
    )
    wall = time.monotonic() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit(f"CLI failed ({p.returncode})")
    line = [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
    return wall, json.loads(line)


def _copy_files(src: str, dst: str) -> None:
    """Append src's parquet part files into dst (a new arrival wave:
    new file names so the stream source sees them as unseen)."""
    import shutil

    os.makedirs(dst, exist_ok=True)
    for i, f in enumerate(sorted(os.listdir(src))):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(src, f),
                        os.path.join(dst, f"wave-{os.path.basename(src)}-{i}.parquet"))


def state(spark, out: str):
    """The committed derived state as comparable sets."""
    from xs_vlm_ocr_spark.job import ExtractionJob

    job = ExtractionJob(out, near_dup_threshold=float(THRESHOLD),
                        compute_signals=True)
    pairs = {(r["a"], r["b"], r["est_jaccard"])
             for r in job.read_near_dup_pairs(spark).collect()}
    idx = {(r["doc_id"], r["band"], r["bucket"])
           for r in job.neardup_index.read(spark).collect()}
    sig_df = job.read_signals(spark)
    sig_cols = sorted(c for c in sig_df.columns if c != "run_id")
    sig = {tuple(r[c] for c in sig_cols) for r in sig_df.collect()}
    hashes = {r["content_hash"]
              for r in job.read_results(spark).select("content_hash").collect()}
    return pairs, idx, sig, hashes


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import tempfile

    workdir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(
        prefix="stream_rehearsal_")
    spark = _spark()
    waves = make_waves(spark, sf_dir, workdir)
    incoming = os.path.join(workdir, "incoming")
    s_out = os.path.join(workdir, "stream_out")
    b_out = os.path.join(workdir, "batch_out")
    report: dict[str, dict] = {}

    _copy_files(waves["w1"], incoming)
    wall, summary = run_cli(incoming, s_out, "--stream")
    report["stream1_w1"] = {"wall_s": round(wall, 1), **summary,
                            "loadavg": round(os.getloadavg()[0], 1)}

    _copy_files(waves["w2"], incoming)
    wall, summary = run_cli(incoming, s_out, "--stream")
    report["stream2_w2"] = {"wall_s": round(wall, 1), **summary,
                            "loadavg": round(os.getloadavg()[0], 1)}

    wall, summary = run_cli(incoming, s_out, "--stream")
    report["stream3_idle"] = {"wall_s": round(wall, 1), **summary}
    assert summary["micro_batches"] == 0, "idle tick committed something"
    assert summary["docs_in"] == 0

    for name in ("w1", "w2"):
        wall, summary = run_cli(waves[name], b_out)
        report[f"batch_{name}"] = {"wall_s": round(wall, 1), **summary}

    s_state, b_state = state(spark, s_out), state(spark, b_out)
    converged = s_state == b_state
    report["converged"] = {
        "pairs_equal": s_state[0] == b_state[0],
        "index_equal": s_state[1] == b_state[1],
        "signals_equal": s_state[2] == b_state[2],
        "hashes_equal": s_state[3] == b_state[3],
        "n_pairs": len(s_state[0]),
    }
    # twin accounting: every planted twin pairs with its wave-1 original
    from pyspark.sql import functions as F

    from xs_vlm_ocr_spark.job import ExtractionJob

    job = ExtractionJob(s_out, near_dup_threshold=float(THRESHOLD),
                        compute_signals=True)
    res = job.read_results(spark).filter(
        F.col("doc_id").cast("long") >= 1_000_000
    ).select("content_hash")
    twin_hashes = {r["content_hash"] for r in res.collect()}
    twin_pairs = sum(1 for a, b, _ in s_state[0]
                     if a in twin_hashes or b in twin_hashes)
    report["converged"]["n_twins_found"] = twin_pairs

    for k, v in report.items():
        print(json.dumps({k: v}))
    print(json.dumps({"CONVERGED": converged,
                      "planted_twins": 150,
                      "twin_pairs_found": twin_pairs}))
    if not converged or twin_pairs < 150:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
