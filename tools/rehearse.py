"""The one rehearsal driver: `job_main.py` on the spark-submit surface, a
cold process per pass, through one table of scenarios.

It checks the crash-consistency promise end to end (every derived row
is persisted; a rerun converges on the state of one clean run) and
stream == batch, across process boundaries:

  batch   fresh_b1      fresh ingest; a 13-word sentinel planted in some
                        docs and held out -> contamination spans
          increment_b2  first-word twins of b1 docs -> cross-increment
                        pairs found through the STORED band index
          crash_b3      results commit with every derived stage off:
                        exactly one pending run per derived table
          heal_b3       heals that run, compacts every table to one
                        snapshot, emits clusters, materializes the
                        cleaned corpus; checked against ground truth
          rerun_b3      the same pass again: same snapshot, not one
                        file rewritten
  stream  wave_b1, wave_b2  b1 and b2 arriving as two --stream waves
          idle          nothing new arrived: zero micro-batches; the
                        committed state equals batch's after increment_b2

Inputs are cut from the corpus's documents table at fixed fractions of
its row count, so every batch holds rows at any scale factor (at sf0.1:
b1 = docs 0-2999, sentinel in 0-149; b2 = docs 3000-4499 + twins of
200-399; b3 = docs 4500-4999).

Prints one JSON line per pass, then "REHEARSAL: PASS".

Usage:  python tools/rehearse.py [sf_dir] [workdir]
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
from types import SimpleNamespace

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from __spark_entry__ import _interleave_documents  # noqa: E402
from xs_vlm_ocr_spark.job import ExtractionJob  # noqa: E402
from xs_vlm_ocr_spark.operators.text_analysis import WS_RE  # noqa: E402
from xs_vlm_ocr_spark.operators.text_dedup import minhash_lsh_pairs  # noqa: E402
from xs_vlm_ocr_spark.session import get_spark  # noqa: E402
from xs_vlm_ocr_spark.table_io import REWRITE_PREFIXES, CheckpointedTable  # noqa: E402

THRESHOLD = "0.5"
# 13 words outside the corpus vocabulary: the held-out doc is exactly
# this string, so its ONLY word 13-gram is the sentinel itself
SENTINEL = " ".join(f"zqx{i}held" for i in range(13))
TWIN_ID_OFFSET = 1_000_000
QUALITY_FLAGS = ("--min-quality", "0.9", "--max-top-gram-frac", "0.08")
DERIVED = ("neardup_index", "contamination", "signals")


def make_inputs(spark, sf_dir: str, workdir: str):
    """b1/b2/b3 as interleaved parquet plus the held-out corpus; returns
    (paths, number of sentinel docs, number of twins)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    b1_end, b2_end = n * 6 // 10, n * 9 // 10
    planted, twin_lo, twin_hi = n * 3 // 100, n * 4 // 100, n * 8 // 100
    doc_id = F.col("doc_id")
    b1 = docs.filter(doc_id < b1_end).withColumn("text", F.when(
        doc_id < planted, F.concat("text", F.lit(" " + SENTINEL))
    ).otherwise(F.col("text")))
    # distinct id and content hash, one word substituted
    twins = (docs.filter((doc_id >= twin_lo) & (doc_id < twin_hi))
             .withColumn("doc_id", doc_id + TWIN_ID_OFFSET)
             .withColumn("text", F.regexp_replace("text", r"^\S+", "neardupword")))
    b2 = docs.filter((doc_id >= b1_end) & (doc_id < b2_end)).unionByName(twins)
    paths = {name: os.path.join(workdir, name)
             for name in ("in_b1", "in_b2", "in_b3", "heldout")}
    for name, df in (("in_b1", b1), ("in_b2", b2),
                     ("in_b3", docs.filter(doc_id >= b2_end))):
        _interleave_documents(df).repartition(8).write.mode(
            "overwrite").parquet(paths[name])
    # the sentinel doc plus a decoy the corpus cannot contain
    spark.createDataFrame(
        [(0, SENTINEL), (1, " ".join(f"decoyword{i}" for i in range(20)))],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(paths["heldout"])
    return paths, planted, twin_hi - twin_lo


def run_cli(inp: str, out: str, args) -> tuple[float, dict]:
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "job_main.py"),
         "--input", inp, "--output", out, *args],
        capture_output=True, text=True, cwd=REPO, timeout=1800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit(f"CLI failed ({p.returncode})")
    line = [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
    return time.monotonic() - t0, json.loads(line)


def rows(df, cols=None) -> set[tuple]:
    cols = cols or sorted(c for c in df.columns if c != "run_id")
    return {tuple(row) for row in df.select(*cols).collect()}


def state(r, job) -> dict[str, set]:
    """The committed state as comparable sets (run ids excluded)."""
    return {
        "pairs": rows(job.read_near_dup_pairs(r.spark), ["a", "b", "est_jaccard"]),
        "index": rows(job.neardup_index.read(r.spark), ["doc_id", "band", "bucket"]),
        "signals": rows(job.read_signals(r.spark)),
        "contamination": rows(job.read_contamination(r.spark)),
        "hashes": rows(job.read_results(r.spark), ["content_hash"]),
    }


def pending(job) -> dict[str, list[str]]:
    """Per derived table, the ingest runs it has not absorbed. Rewrite
    snapshots (compaction) are not ingest runs; the runs they folded
    stay in all_time_runs."""
    runs = [x for x in job.results.all_time_runs()
            if not x.startswith(REWRITE_PREFIXES)]
    return {t: [x for x in runs if x not in getattr(job, t).all_time_runs()]
            for t in DERIVED}


def python_surgery(text: str, spans: list[tuple[int, int]]) -> str:
    """Pure-Python golden of the span cut: tokenize on the pinned
    whitespace class, drop tokens in any [start, end), join on spaces."""
    toks = re.split(WS_RE, text.strip())
    return " ".join(t for i, t in enumerate(toks)
                    if not any(s <= i < e for s, e in spans))


def clean_snapshot(r) -> tuple[dict, set]:
    """The cleaned corpus's (file -> mtime) map and its row set."""
    files = {os.path.join(root, f): os.path.getmtime(os.path.join(root, f))
             for root, _dirs, fs in os.walk(r.clean) for f in fs}
    kept = CheckpointedTable(r.clean).read(r.spark).collect()
    return files, {(x["doc_id"], bool(x["was_trimmed"]), x["text"]) for x in kept}


# ---- per-pass checks, in scenario-table order ------------------------

def check_fresh(r, s, job):
    # the interleaved input carries each body twice (html + plain-text
    # span), so every planted doc has TWO sentinel spans
    assert s["contaminated_docs"] == r.planted, s
    assert s["contamination_spans"] == 2 * r.planted, s
    r.organic_pairs = s["near_dup_pairs"]


def check_increment(r, s, job):
    assert s["near_dup_pairs"] - r.organic_pairs >= r.twins, (s, r.organic_pairs)
    assert s["contaminated_docs"] == r.planted, s  # b2 adds none
    r.batch_b2 = state(r, job)
    # the index appended across processes pairs exactly what one LSH
    # pass over the whole committed corpus pairs (append == rebuild)
    results = job.read_results(r.spark)
    rebuilt = minhash_lsh_pairs(results, "full_text", "content_hash")
    assert rows(rebuilt.filter(F.col("est_jaccard") >= float(THRESHOLD)),
                ["a", "b", "est_jaccard"]) == r.batch_b2["pairs"]
    # pairs touching a twin; not bounded by the twin count: a twin of a
    # short doc can sit below the LSH's reach (word-3-gram Jaccard ~0.6
    # after the first-word substitution)
    twin_hashes = {x["content_hash"] for x in results.filter(
        F.col("doc_id").cast("long") >= TWIN_ID_OFFSET).collect()}
    found = sum(1 for a, b, _ in r.batch_b2["pairs"]
                if a in twin_hashes or b in twin_hashes)
    return {"twin_pairs_found": found}


def check_crash(r, s, job):
    pend = pending(job)
    assert all(len(v) == 1 for v in pend.values()), pend
    return {"pending_runs": {t: len(v) for t, v in pend.items()}}


def check_heal(r, s, job):
    assert not any(pending(job).values()), pending(job)
    d = s["deduped"]
    # compaction folded every table; write_deduped then appended its
    # own lineage run
    runs = {t: getattr(job, t).committed_runs()
            for t in ("results", "lineage", "neardup_pairs", *DERIVED)}
    assert runs.pop("lineage")[1:] == [d["snapshot"]], runs
    assert all(len(v) == 1 for v in runs.values()), runs
    idx = job.neardup_index.read(r.spark)
    index_rows, index_docs = idx.count(), idx.select("doc_id").distinct().count()
    # every doc indexed once per band: nothing doubled by heal or compaction
    assert index_rows == 4 * index_docs, (index_rows, index_docs)

    assert s["clusters"] + s["duplicate_docs"] == index_docs, s
    assert s["duplicate_docs"] >= r.twins, s
    emitted = r.spark.read.parquet(r.clusters)
    assert emitted.count() == index_docs
    assert emitted.filter("is_canonical = 1").count() == s["clusters"]

    assert d["docs_in"] == d["kept"] + d["dropped_duplicate"] + \
        d["dropped_contaminated"] + d["dropped_quality"], d
    assert d["dropped_duplicate"] >= r.twins, d
    assert d["dropped_contaminated"] == 0, d  # surgery mode: trim, keep
    assert d["trimmed_docs"] >= 1, d

    # ground truth over the materialized corpus
    kept = CheckpointedTable(r.clean).read(r.spark)
    assert kept.count() == d["kept"], d
    leaked = kept.filter(F.col("text").contains("zqx0held")).count()
    assert leaked == 0, f"{leaked} kept docs still contain the sentinel"
    results = job.read_results(r.spark).select(
        F.col("content_hash").alias("doc_id"), "full_text"
    ).dropDuplicates(["doc_id"])
    diff = (kept.filter(~F.col("was_trimmed")).join(results, "doc_id")
            .filter(F.col("text") != F.col("full_text")).count())
    assert diff == 0, f"{diff} untrimmed rows differ from committed bytes"
    n_sample = min(20, d["trimmed_docs"])
    spans = job.read_contamination(r.spark).groupBy("doc_id").agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("sp"))
    sample = (kept.filter(F.col("was_trimmed")).limit(n_sample)
              .join(results, "doc_id").join(spans, "doc_id").collect())
    assert len(sample) == n_sample, len(sample)
    for x in sample:
        golden = python_surgery(x["full_text"], [tuple(sp) for sp in x["sp"]])
        assert x["text"] == golden, x["doc_id"]
    r.deduped, r.snapshot = d, clean_snapshot(r)  # eager, for the rerun
    return {"index_docs": index_docs, "golden_sample_checked": n_sample}


def check_rerun(r, s, job):
    assert s["deduped"] == r.deduped, (r.deduped, s["deduped"])
    # the rerun recognized the committed snapshot: every file (data and
    # manifest) is byte- and mtime-stable, and so are the rows
    files, kept = clean_snapshot(r)
    assert files == r.snapshot[0], set(files.items()) ^ set(r.snapshot[0].items())
    assert kept == r.snapshot[1]


def check_idle(r, s, job):
    assert s["micro_batches"] == 0 and s["docs_in"] == 0, s
    stream = state(r, job)
    equal = {k: stream[k] == r.batch_b2[k] for k in stream}
    assert all(equal.values()), equal
    return {"stream_equals_batch": equal}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    workdir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(
        prefix="rehearsal_")
    spark = get_spark("rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    paths, planted, twins = make_inputs(spark, sf_dir, workdir)
    r = SimpleNamespace(spark=spark, planted=planted, twins=twins,
                        clean=os.path.join(workdir, "clean"),
                        clusters=os.path.join(workdir, "clusters"))
    batch_out, stream_out = (os.path.join(workdir, d)
                             for d in ("batch_out", "stream_out"))
    incoming = os.path.join(workdir, "incoming")

    derived = ("--near-dup-threshold", THRESHOLD, "--heldout", paths["heldout"],
               "--signals")
    heal = (*derived, "--compact-after", "2", "--emit-clusters", r.clusters,
            "--write-deduped", r.clean, *QUALITY_FLAGS)
    stream = (*derived, "--stream")
    # (pass, output dir, input batch, CLI args, check); a --stream pass
    # first copies its batch into the watched dir as a new arrival wave
    table = [
        ("batch/fresh_b1", batch_out, "in_b1", derived, check_fresh),
        ("batch/increment_b2", batch_out, "in_b2", derived, check_increment),
        ("batch/crash_b3", batch_out, "in_b3", (), check_crash),
        ("batch/heal_b3", batch_out, "in_b3", heal, check_heal),
        ("batch/rerun_b3", batch_out, "in_b3", heal, check_rerun),
        ("stream/wave_b1", stream_out, "in_b1", stream, None),
        ("stream/wave_b2", stream_out, "in_b2", stream, None),
        ("stream/idle", stream_out, None, stream, check_idle),
    ]
    t0 = time.monotonic()
    for name, out, batch, args, check in table:
        inp = paths.get(batch)
        if "--stream" in args:
            os.makedirs(incoming, exist_ok=True)
            for i, f in enumerate(sorted(os.listdir(inp)) if inp else []):
                if f.endswith(".parquet"):  # new names: unseen by the source
                    shutil.copy(os.path.join(inp, f), os.path.join(
                        incoming, f"wave-{batch}-{i}.parquet"))
            inp = incoming
        wall, summary = run_cli(inp, out, args)
        line = {"pass": name, "wall_s": round(wall, 1),
                "loadavg": round(os.getloadavg()[0], 1), **summary}
        if check:
            job = ExtractionJob(out, near_dup_threshold=float(THRESHOLD),
                                heldout_dir=paths["heldout"], compute_signals=True)
            line.update(check(r, summary, job) or {})
        print(json.dumps(line), flush=True)
    print(f"REHEARSAL: PASS ({len(table)} passes, {time.monotonic() - t0:.0f}s; "
          f"{planted} planted, {twins} twins)")


if __name__ == "__main__":
    main()
