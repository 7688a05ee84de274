"""End-to-end rehearsal of the CLEAN-CORPUS pipeline on the
spark-submit surface (round-7 directives 1+2 done-criterion).

Drives the REAL CLI (job_main.py as a subprocess, cold JVM each pass —
the deployment shape) through the full decontamination + quality +
dedup decision loop at sf0.1 scale:

  pass 1  fresh batch with a PLANTED 13-word contamination sentinel in
          150 docs + a held-out corpus containing that exact 13-gram
          -> results + contamination spans + signals committed
  pass 2  batch with 200 planted near-dup twins of pass-1 docs
          -> cross-increment pairs via the stored index; the
             contamination/signals increments scan ONLY the new run
  crash   a results run committed WITHOUT its contamination/signals
          sync (the widest crash window: anywhere between the results
          commit and the derived-table appends) -> the next full pass
          HEALS exactly that suffix before ingesting itself
  final   --write-deduped: the decision MATERIALIZED. Verified against
          ground truth:
            * no kept text contains the sentinel (span surgery cut it)
            * >=200 docs dropped as `duplicate` (every planted twin
              pair collapsed to one canonical)
            * untrimmed kept rows keep their committed bytes EXACTLY
            * a 20-doc sample of trimmed rows equals a pure-Python
              re-derivation of the surgery (token cut on the pinned
              whitespace class) — the sf0.1 echo of
              tests/test_write_deduped.py::test_surgery_equals_python_golden
            * re-running the same decision is IDEMPOTENT: same
              deterministic snapshot id, same counts, same row set

Prints one JSON line per pass plus a final summary; paste the table
into CHANGES.md. Inputs are derived deterministically from the
driver's sf0.1 documents table — no external data.

Usage:  python tools/rehearse_clean_corpus.py [sf_dir] [workdir]
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

THRESHOLD = "0.5"
# 13 words that cannot occur in the synthetic corpus vocabulary: the
# held-out doc is exactly this string, so its ONLY word 13-gram is the
# sentinel itself and every planted train doc gets exactly one span
SENTINEL = " ".join(f"zqx{i}held" for i in range(13))
N_PLANTED = 150   # docs 0-149 carry the sentinel
N_TWINS = 200     # docs 200-399 get a near-dup twin (id + 1_000_000)
QUALITY_FLAGS = ["--min-quality", "0.9", "--max-top-gram-frac", "0.08"]


def _spark():
    from xs_vlm_ocr_spark.session import get_spark

    spark = get_spark("clean-corpus-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def make_inputs(spark, sf_dir: str, workdir: str) -> dict[str, str]:
    from pyspark.sql import functions as F

    from __spark_entry__ import _interleave_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    paths = {}
    # b1: docs 0-2999; the first 150 get the sentinel appended
    b1 = docs.filter(F.col("doc_id") < 3000).withColumn(
        "text",
        F.when(F.col("doc_id") < N_PLANTED,
               F.concat(F.col("text"), F.lit(" " + SENTINEL)))
        .otherwise(F.col("text")),
    )
    # b2: docs 3000-4499 + near-dup twins of docs 200-399 (distinct id
    # and content hash — first word substituted; ~0.99 shingle Jaccard)
    twins = (
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 200 + N_TWINS))
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.regexp_replace("text", r"^\S+", "neardupword"))
    )
    b2 = docs.filter(
        (F.col("doc_id") >= 3000) & (F.col("doc_id") < 4500)
    ).unionByName(twins)
    b3 = docs.filter(F.col("doc_id") >= 4500)
    for name, df in (("b1", b1), ("b2", b2), ("b3", b3)):
        p = os.path.join(workdir, f"in_{name}")
        _interleave_documents(df).repartition(8).write.mode(
            "overwrite").parquet(p)
        paths[name] = p
    # held-out corpus: the sentinel doc plus a decoy the corpus cannot
    # contain — the documents-table convention (a `text` column)
    heldout = spark.createDataFrame(
        [(0, SENTINEL), (1, " ".join(f"decoyword{i}" for i in range(20)))],
        "doc_id long, text string",
    )
    hp = os.path.join(workdir, "heldout")
    heldout.coalesce(1).write.mode("overwrite").parquet(hp)
    paths["heldout"] = hp
    return paths


def run_cli(inp: str, out: str, heldout: str | None, *extra: str,
            neardup: bool = True, signals: bool = True) -> tuple[float, dict]:
    cmd = [sys.executable, os.path.join(REPO, "job_main.py"),
           "--input", inp, "--output", out]
    if neardup:
        cmd += ["--near-dup-threshold", THRESHOLD]
    if heldout is not None:
        cmd += ["--heldout", heldout]
    if signals:
        cmd += ["--signals"]
    cmd += list(extra)
    t0 = time.monotonic()
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO,
                       timeout=1800)
    wall = time.monotonic() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit(f"CLI failed ({p.returncode})")
    line = [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
    return wall, json.loads(line)


def python_surgery(text: str, spans: list[tuple[int, int]]) -> str:
    """Independent pure-Python re-derivation of the span cut (the
    golden): tokenize on the pinned whitespace class, drop tokens in
    any [start, end) window, re-join on single spaces."""
    from xs_vlm_ocr_spark.operators.text_analysis import WS_RE

    toks = re.split(WS_RE, text.strip())
    keep = [t for i, t in enumerate(toks)
            if not any(s <= i < e for s, e in spans)]
    return " ".join(keep)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import tempfile

    workdir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(
        prefix="clean_corpus_rehearsal_")
    out = os.path.join(workdir, "out")
    clean_dir = os.path.join(workdir, "clean")
    spark = _spark()
    inputs = make_inputs(spark, sf_dir, workdir)
    report: dict[str, dict] = {}

    # ---- pass 1: fresh ingest, all derived stages on -----------------
    wall, summary = run_cli(inputs["b1"], out, inputs["heldout"])
    report["pass1_fresh"] = {"wall_s": round(wall, 1), **summary,
                             "loadavg": round(os.getloadavg()[0], 1)}
    # every planted doc flagged, nothing else (13-gram sentinel is
    # outside the corpus vocabulary; decoy matches nothing). TWO spans
    # per doc: the interleaved input repeats the body as an html span
    # AND a plain-text span (__spark_entry__._interleave_documents), so
    # the extracted full_text carries the sentinel twice, far apart —
    # the span merge keeps them separate. The rehearsal's first run
    # caught exactly this (asserted ==150 spans, got 300).
    assert summary["contaminated_docs"] == N_PLANTED, summary
    assert summary["contamination_spans"] == 2 * N_PLANTED, summary
    organic_pairs = summary["near_dup_pairs"]

    # ---- pass 2: twins probe the stored index; increments only -------
    wall, summary = run_cli(inputs["b2"], out, inputs["heldout"])
    report["pass2_increment"] = {"wall_s": round(wall, 1), **summary,
                                 "loadavg": round(os.getloadavg()[0], 1)}
    assert summary["near_dup_pairs"] - organic_pairs >= N_TWINS, (
        summary, organic_pairs)
    assert summary["contaminated_docs"] == N_PLANTED, summary  # unchanged

    # ---- crash: results commit WITHOUT the derived-table syncs -------
    t0 = time.monotonic()
    wall, _ = run_cli(inputs["b3"], out, None, neardup=False, signals=False)
    crash_wall = time.monotonic() - t0

    from xs_vlm_ocr_spark.job import ExtractionJob

    job = ExtractionJob(out, near_dup_threshold=float(THRESHOLD),
                        heldout_dir=inputs["heldout"], compute_signals=True)
    committed = job.results.committed_runs()
    pend = {
        t: [r for r in committed if r not in getattr(job, t).all_time_runs()]
        for t in ("contamination", "signals", "neardup_index")
    }
    assert all(len(v) == 1 for v in pend.values()), pend  # the crashed run
    report["crash_window"] = {
        "crashed_pass_wall_s": round(crash_wall, 1),
        "pending_runs": {t: len(v) for t, v in pend.items()},
    }

    # ---- heal + the decision materialized ----------------------------
    wall, summary = run_cli(
        inputs["b3"], out, inputs["heldout"],
        "--write-deduped", clean_dir, *QUALITY_FLAGS)
    report["pass3_heal_write_deduped"] = {
        "wall_s": round(wall, 1), **summary,
        "loadavg": round(os.getloadavg()[0], 1)}
    job = ExtractionJob(out, near_dup_threshold=float(THRESHOLD),
                        heldout_dir=inputs["heldout"], compute_signals=True)
    committed = job.results.committed_runs()
    for t in ("contamination", "signals", "neardup_index"):
        left = [r for r in committed
                if r not in getattr(job, t).all_time_runs()]
        assert left == [], (t, left)  # healed, nothing pending
    d = summary["deduped"]
    assert d["docs_in"] == d["kept"] + d["dropped_duplicate"] + \
        d["dropped_contaminated"] + d["dropped_quality"], d
    assert d["dropped_duplicate"] >= N_TWINS, d  # every twin pair decided
    assert d["dropped_contaminated"] == 0, d     # surgery mode: trim, keep
    assert d["trimmed_docs"] >= 1, d

    # ---- ground truth over the materialized corpus -------------------
    from pyspark.sql import functions as F

    from xs_vlm_ocr_spark.table_io import CheckpointedTable

    kept = CheckpointedTable(clean_dir).read(spark)
    n_kept = kept.count()
    assert n_kept == d["kept"], (n_kept, d)
    # surgery removed the sentinel from EVERY kept doc
    leaked = kept.filter(F.col("text").contains("zqx0held")).count()
    assert leaked == 0, f"{leaked} kept docs still contain the sentinel"
    # untrimmed kept rows keep their committed bytes exactly
    results = job.read_results(spark).select(
        F.col("content_hash").alias("doc_id"), "full_text").dropDuplicates(
        ["doc_id"])
    diff = (kept.filter(~F.col("was_trimmed"))
            .join(results, "doc_id")
            .filter(F.col("text") != F.col("full_text")).count())
    assert diff == 0, f"{diff} untrimmed rows differ from committed bytes"
    # 20-doc sample of trimmed rows vs the pure-Python golden
    spans = job.read_contamination(spark)
    sample = (kept.filter(F.col("was_trimmed")).limit(20)
              .join(results, "doc_id")
              .join(spans.groupBy("doc_id").agg(
                  F.collect_list(F.struct("start_tok", "end_tok"))
                  .alias("sp")), "doc_id")
              .collect())
    assert len(sample) == 20, len(sample)
    for row in sample:
        golden = python_surgery(
            row["full_text"], [(s["start_tok"], s["end_tok"])
                               for s in row["sp"]])
        assert row["text"] == golden, row["doc_id"]
    report["ground_truth"] = {
        "kept_rows": n_kept, "sentinel_leaks": 0,
        "untrimmed_byte_mismatches": 0, "golden_sample_checked": len(sample),
    }

    # ---- idempotency: same decision -> same snapshot, ZERO rewrite ---
    kept_set = {(r["doc_id"], bool(r["was_trimmed"]), r["text"])
                for r in kept.collect()}  # eager: survives any rewrite
    files_before = {
        os.path.join(root, f): os.path.getmtime(os.path.join(root, f))
        for root, _dirs, fs in os.walk(clean_dir) for f in fs
    }
    wall, summary2 = run_cli(
        inputs["b3"], out, inputs["heldout"],
        "--write-deduped", clean_dir, *QUALITY_FLAGS)
    d2 = summary2["deduped"]
    assert d2 == d, (d, d2)  # deterministic snapshot id + counts
    files_after = {
        os.path.join(root, f): os.path.getmtime(os.path.join(root, f))
        for root, _dirs, fs in os.walk(clean_dir) for f in fs
    }
    # the rerun RECOGNIZED the committed snapshot and skipped the
    # rewrite: every file (data + manifest) byte- and mtime-stable
    assert files_after == files_before, (
        set(files_after.items()) ^ set(files_before.items()))
    kept2_set = {(r["doc_id"], bool(r["was_trimmed"]), r["text"])
                 for r in CheckpointedTable(clean_dir).read(spark).collect()}
    assert kept2_set == kept_set
    report["idempotent_rerun"] = {"wall_s": round(wall, 1),
                                  "snapshot": d2["snapshot"],
                                  "rewrite_skipped": True}
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
