"""spark-submit entrypoint.

    python tools/package.py                      # -> dist/xs_vlm_ocr_spark.zip
    spark-submit --py-files dist/xs_vlm_ocr_spark.zip job_main.py \
        --input /path/docs_parquet --output /path/out \
        [--model main_content_v1] [--partitions N] [--run-id RID]

Reads the interleaved docs table, runs the resumable extraction job
(anti-join against the committed snapshot -> skew-aware repartition ->
vectorized extraction -> results + lineage commit), prints a one-line
JSON summary. With ``--stream`` the input dir is a Structured Streaming
file source instead: each micro-batch takes the SAME run path (one
committed run per batch, every derived stage synced), the availableNow
trigger drains currently-visible files then exits, and the checkpoint
makes the next invocation ingest only files that arrived since — the
cron/daemon ingest shape, converging on bit-identical committed state
to batch ingest (tests/test_streaming.py).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="interleaved docs parquet dir")
    ap.add_argument("--output", required=True, help="job output root (results/lineage)")
    ap.add_argument("--model", default="main_content_v1")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--timeout-ms", type=int, default=None,
                    help="per-doc wall budget; over-budget docs become error rows")
    ap.add_argument("--source", default="batch",
                    help="history `source` stamp on committed rows")
    ap.add_argument("--replay-hits", action="store_true",
                    help="re-emit cached results for committed hashes as new "
                         "history rows with processing_time_ms=0 (reference "
                         "hit path); default is pure resume semantics")
    ap.add_argument("--near-dup-threshold", type=float, default=None,
                    help="enable the persisted MinHash near-dup ingest loop: "
                         "probe each run's extracted text against the stored "
                         "band index (committed corpus never re-read), commit "
                         "pairs with est_jaccard >= T, append the increment's "
                         "band rows; crash-consistent (heal on next run)")
    ap.add_argument("--emit-clusters", default=None, metavar="DIR",
                    help="after the run, materialize the committed-corpus "
                         "dedup decision (content_hash -> cluster_id, "
                         "is_canonical; connected components over the "
                         "committed near-dup pairs) as parquet at DIR; "
                         "requires --near-dup-threshold")
    ap.add_argument("--heldout", default=None, metavar="DIR",
                    help="enable train/test decontamination as an ingest "
                         "stage: scan each run's extracted text against the "
                         "held-out corpus at DIR (parquet with a text column; "
                         "grams broadcast) and commit the merged contaminated "
                         "token spans to a `contamination` table; "
                         "crash-consistent (heal on next run)")
    ap.add_argument("--contamination-n", type=int, default=13,
                    help="word n-gram size for --heldout (GPT-3 appendix-C "
                         "uses 13)")
    ap.add_argument("--signals", action="store_true",
                    help="commit per-doc quality signals (Gopher repetition "
                         "stats + token counts + quality score + lang-id; one "
                         "zero-shuffle pass) to a `signals` table each run")
    ap.add_argument("--write-deduped", default=None, metavar="DIR",
                    help="after the run, APPLY the pipeline's decisions and "
                         "materialize the cleaned corpus at DIR (atomic "
                         "snapshot of doc_id, text, was_trimmed): keep one "
                         "canonical doc per near-dup cluster (with "
                         "--near-dup-threshold), surgically remove committed "
                         "contaminated spans (with --heldout; see "
                         "--drop-contaminated), drop docs failing the quality "
                         "thresholds (with --signals); per-reason drop counts "
                         "land in lineage and the snapshot's manifest meta")
    ap.add_argument("--drop-contaminated", action="store_true",
                    help="drop contaminated docs whole instead of the default "
                         "span surgery (requires --heldout)")
    ap.add_argument("--min-quality", type=float, default=None,
                    help="drop docs with quality_score below this "
                         "(requires --signals)")
    ap.add_argument("--max-dup-gram-frac", type=float, default=None,
                    help="drop docs with duplicate-gram fraction above this "
                         "(Gopher repetition filter; requires --signals)")
    ap.add_argument("--max-top-gram-frac", type=float, default=None,
                    help="drop docs whose top gram covers more than this "
                         "fraction (Gopher; requires --signals)")
    ap.add_argument("--stream", action="store_true",
                    help="treat --input as a STREAMING source directory: "
                         "ingest via Structured Streaming (foreachBatch -> "
                         "the same resumable run per micro-batch, "
                         "availableNow trigger — drain what's there, then "
                         "exit). The checkpoint makes a re-invocation ingest "
                         "only files that arrived since the last one; every "
                         "derived stage (--near-dup-threshold, --heldout, "
                         "--signals) syncs per micro-batch, converging on "
                         "the same committed state as batch ingest")
    ap.add_argument("--stream-checkpoint", default=None, metavar="DIR",
                    help="streaming source-offset checkpoint dir "
                         "(default: <output>/stream_checkpoint)")
    ap.add_argument("--compact-after", type=int, default=None,
                    help="compaction policy: after the run commits, merge any "
                         "output table holding more than N committed runs "
                         "into one snapshot (bounds small-file growth across "
                         "long-lived daily ingests)")
    args = ap.parse_args()
    if args.emit_clusters and args.near_dup_threshold is None:
        # reject BEFORE the (potentially hours-long) extraction runs —
        # this is pure argparse state
        ap.error("--emit-clusters requires --near-dup-threshold")
    if args.drop_contaminated and args.heldout is None:
        ap.error("--drop-contaminated requires --heldout")
    quality_flags = (args.min_quality, args.max_dup_gram_frac,
                     args.max_top_gram_frac)
    if any(x is not None for x in quality_flags) and not args.signals:
        ap.error("quality thresholds require --signals")
    if args.write_deduped is None and (
            args.drop_contaminated or any(x is not None for x in quality_flags)):
        ap.error("--drop-contaminated / quality thresholds only apply with "
                 "--write-deduped")
    if args.stream and args.run_id is not None:
        ap.error("--stream mints one run id per micro-batch "
                 "(stream-<epoch>); --run-id only applies to batch mode")
    if args.stream and args.replay_hits:
        ap.error("--replay-hits is the interactive batch hit path; under "
                 "--stream a redelivered micro-batch would re-emit hit rows "
                 "on every restart")
    if args.stream_checkpoint is not None and not args.stream:
        ap.error("--stream-checkpoint requires --stream")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from xs_vlm_ocr_spark.job import ExtractionJob

    # under spark-submit the session config comes from --conf; this
    # getOrCreate just attaches (local fallback for direct python runs)
    spark = SparkSession.builder.appName("xs_vlm_ocr_spark_job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # pin the session TZ regardless of the submitting host's config: the
    # committed `ts` stamp is a naive datetime whose epoch depends on this
    # setting, and cross-host runs against one output dir must agree on
    # recency ordering (cache_hits / latest_per_key order by ts DESC)
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    job = ExtractionJob(args.output, model_name=args.model,
                        timeout_ms=args.timeout_ms, source=args.source,
                        replay_hits=args.replay_hits,
                        near_dup_threshold=args.near_dup_threshold,
                        heldout_dir=args.heldout,
                        contamination_n=args.contamination_n,
                        compute_signals=args.signals)
    if args.stream:
        import os

        from xs_vlm_ocr_spark.streaming.incremental import (
            start_incremental_extraction,
        )

        before = job.results.all_time_runs()
        ckpt = args.stream_checkpoint or os.path.join(
            args.output, "stream_checkpoint"
        )
        q = start_incremental_extraction(
            spark, args.input, job, ckpt,
            run_kwargs={"target_partitions": args.partitions,
                        "compact_after": args.compact_after},
        )
        q.awaitTermination()
        # new INGEST runs only (a compact_after policy firing mid-stream
        # mints rewrite snapshot ids; they are not micro-batches)
        run_ids = sorted(r for r in job.results.all_time_runs() - before
                         if r.startswith("stream-"))
    else:
        docs = spark.read.parquet(args.input)
        run_ids = [job.run(spark, docs, run_id=args.run_id,
                           target_partitions=args.partitions,
                           compact_after=args.compact_after)]

    results = job.read_results(spark)
    lineage = job.read_lineage(spark)  # None iff nothing ever committed
    stats = (
        lineage.filter(F.col("run_id").isin(run_ids))
        .groupBy().sum("docs_in", "docs_out", "span_count", "wall_ms").first()
        if lineage is not None else (None, None, None, None)
    )
    summary = {
        "run_id": run_ids[0] if len(run_ids) == 1 else None,
        "total_results": results.count() if results is not None else 0,
        "docs_in": stats[0] or 0,
        "docs_out": stats[1] or 0,
        "span_count": stats[2] or 0,
    }
    if args.stream:
        summary["run_ids"] = run_ids
        summary["micro_batches"] = len(run_ids)
    if args.near_dup_threshold is not None:
        pairs = job.read_near_dup_pairs(spark)
        summary["near_dup_pairs"] = pairs.count() if pairs is not None else 0
        if args.emit_clusters:
            clusters = job.near_dup_clusters(spark)
            if clusters is None:  # zero committed results: nothing to decide
                summary["clusters"] = 0
                summary["duplicate_docs"] = 0
            else:
                # ATOMIC export: write to a temp dir, move the old
                # export aside, rename the temp into place, then delete
                # the aside copy — a crash at any point leaves a
                # complete export at dest or, between the two renames,
                # the previous one at the aside path (never a partial
                # dir). Directory renames are atomic on POSIX local
                # filesystems only; an object store (S3/GCS) has no
                # rename and needs a catalog commit instead (an Iceberg/
                # Delta table swap). Counts come from the committed
                # export (an Observation can't carry the COUNT DISTINCT
                # the cluster count needs).
                import os
                import shutil
                import uuid as _uuid

                dest = args.emit_clusters.rstrip("/")
                tag = _uuid.uuid4().hex[:8]
                tmp, aside = f"{dest}.tmp.{tag}", f"{dest}.old.{tag}"
                try:
                    clusters.write.mode("overwrite").parquet(tmp)
                    if os.path.isdir(dest):
                        os.replace(dest, aside)
                    os.replace(tmp, dest)  # atomic flip
                except BaseException:
                    if os.path.isdir(aside) and not os.path.exists(dest):
                        os.replace(aside, dest)  # put the previous one back
                    raise
                finally:
                    shutil.rmtree(tmp, ignore_errors=True)
                shutil.rmtree(aside, ignore_errors=True)
                emitted = spark.read.parquet(dest)
                summary["clusters"] = emitted.select("cluster_id").distinct().count()
                summary["duplicate_docs"] = emitted.filter("is_canonical = 0").count()
    if args.heldout is not None:
        spans = job.read_contamination(spark)
        summary["contaminated_docs"] = (
            spans.select("doc_id").distinct().count() if spans is not None else 0
        )
        summary["contamination_spans"] = spans.count() if spans is not None else 0
    if args.signals:
        sig = job.read_signals(spark)
        summary["signal_docs"] = sig.count() if sig is not None else 0
    if args.write_deduped is not None:
        summary["deduped"] = job.write_deduped(
            spark, args.write_deduped,
            drop_contaminated=args.drop_contaminated,
            min_quality=args.min_quality,
            max_dup_gram_frac=args.max_dup_gram_frac,
            max_top_gram_frac=args.max_top_gram_frac,
        )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
