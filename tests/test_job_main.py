"""The spark-submit surface (job_main.py): argparse -> ExtractionJob ->
one-line JSON summary. Runs main() in-process (getOrCreate attaches to
the test session) — the same path `spark-submit ... job_main.py` takes.
"""

import json
import sys

from xs_vlm_ocr_spark.corpus import gen_docs_df


def _run_cli(monkeypatch, capsys, argv):
    import job_main

    monkeypatch.setattr(sys, "argv", ["job_main.py", *argv])
    job_main.main()
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out)


def test_job_main_end_to_end_and_resume(spark, tmp_path, monkeypatch, capsys):
    docs_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    gen_docs_df(spark, 40).write.parquet(docs_dir)

    summary = _run_cli(monkeypatch, capsys,
                       ["--input", docs_dir, "--output", out_dir])
    assert summary["total_results"] == 40
    assert summary["docs_in"] == 40 and summary["docs_out"] == 40
    assert summary["run_id"]

    # second invocation over the same input: pure resume semantics —
    # every doc is a cache hit, nothing re-extracted, table unchanged
    again = _run_cli(monkeypatch, capsys,
                     ["--input", docs_dir, "--output", out_dir])
    assert again["total_results"] == 40
    assert again["docs_in"] == 0

    # --replay-hits: hits re-emitted as new history rows with the
    # processing_time_ms=0 marker (reference hit path)
    replayed = _run_cli(monkeypatch, capsys,
                        ["--input", docs_dir, "--output", out_dir,
                         "--replay-hits", "--source", "retry"])
    assert replayed["total_results"] == 80
    from xs_vlm_ocr_spark.job import ExtractionJob

    res = ExtractionJob(out_dir).read_results(spark)
    hits = res.filter("processing_time_ms = 0 AND source = 'retry'")
    assert hits.count() == 40


def test_job_main_emit_clusters(spark, tmp_path, monkeypatch, capsys):
    """--emit-clusters materializes the committed-corpus dedup decision
    (requires --near-dup-threshold; errors out without it)."""
    import pytest

    from xs_vlm_ocr_spark.schemas import DOCS_SCHEMA

    base = " ".join(f"w{i:03d}" for i in range(200))
    rows = [
        {"doc_id": d,
         "spans": [{"kind": "text", "text": t, "media_ref": "", "offset": 0}]}
        for d, t in [("a", base), ("b", base.replace("w050", "changed")),
                     ("c", " ".join(f"u{i:03d}" for i in range(120)))]
    ]
    docs_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    cl_dir = str(tmp_path / "clusters")
    spark.createDataFrame(rows, DOCS_SCHEMA).write.parquet(docs_dir)

    summary = _run_cli(monkeypatch, capsys,
                       ["--input", docs_dir, "--output", out_dir,
                        "--near-dup-threshold", "0.5",
                        "--emit-clusters", cl_dir])
    # a ~ b near-dups -> 2 clusters over 3 docs, one duplicate dropped
    assert summary["near_dup_pairs"] == 1
    assert summary["clusters"] == 2
    assert summary["duplicate_docs"] == 1
    emitted = spark.read.parquet(cl_dir)
    assert emitted.filter("is_canonical = 1").count() == 2

    with pytest.raises(SystemExit):  # flag without the near-dup loop
        _run_cli(monkeypatch, capsys,
                 ["--input", docs_dir, "--output", out_dir,
                  "--emit-clusters", cl_dir])


def test_job_main_emit_clusters_replaces_existing_export(
        spark, tmp_path, monkeypatch, capsys):
    """An existing export at the --emit-clusters dest is moved aside,
    swapped for the new one and then deleted; a failed swap puts the
    previous export back. No temp or aside dir is left next to dest."""
    import os

    import pytest

    from xs_vlm_ocr_spark.schemas import DOCS_SCHEMA

    rows = [
        {"doc_id": d,
         "spans": [{"kind": "text", "text": " ".join(f"{d}{i:03d}" for i in range(80)),
                    "media_ref": "", "offset": 0}]}
        for d in ("a", "b")
    ]
    docs_dir = str(tmp_path / "docs")
    cl_dir = str(tmp_path / "clusters")
    spark.createDataFrame(rows, DOCS_SCHEMA).write.parquet(docs_dir)
    spark.range(7).write.parquet(cl_dir)  # a stale export already there
    argv = ["--input", docs_dir, "--output", str(tmp_path / "out"),
            "--near-dup-threshold", "0.5", "--emit-clusters", cl_dir]

    summary = _run_cli(monkeypatch, capsys, argv)
    assert summary["clusters"] == 2
    assert set(spark.read.parquet(cl_dir).columns) >= {"cluster_id", "is_canonical"}
    assert sorted(os.listdir(tmp_path)) == ["clusters", "docs", "out"]
    before = sorted(os.listdir(cl_dir))

    real_replace = os.replace

    def failing_swap(src, dst):
        if dst == cl_dir and ".tmp." in str(src):
            raise OSError("simulated failed swap")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_swap)
    with pytest.raises(OSError, match="simulated"):
        _run_cli(monkeypatch, capsys, argv)
    monkeypatch.setattr(os, "replace", real_replace)
    assert sorted(os.listdir(cl_dir)) == before  # previous export back
    assert sorted(os.listdir(tmp_path)) == ["clusters", "docs", "out"]


def test_job_main_stream_mode(spark, tmp_path, monkeypatch, capsys):
    """--stream: the CLI ingests the input dir as a Structured Stream —
    one committed run per micro-batch, availableNow drain, and the
    checkpoint makes the NEXT invocation pick up only newly-arrived
    files (the cron/daemon ingest shape)."""
    import pytest

    docs_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    gen_docs_df(spark, 30).write.mode("append").parquet(docs_dir)

    summary = _run_cli(monkeypatch, capsys,
                       ["--input", docs_dir, "--output", out_dir, "--stream"])
    assert summary["total_results"] == 30
    assert summary["docs_in"] == 30
    assert summary["micro_batches"] >= 1
    assert all(r.startswith("stream-") for r in summary["run_ids"])

    # a second wave of files arrives; re-invoking ingests ONLY them
    # (source offsets live in the checkpoint) and epoch-numbered run ids
    # continue rather than collide
    gen_docs_df(spark, 45).write.mode("append").parquet(docs_dir)
    again = _run_cli(monkeypatch, capsys,
                     ["--input", docs_dir, "--output", out_dir, "--stream"])
    assert again["total_results"] == 45  # 30 + the 15 genuinely new docs
    assert not set(again["run_ids"]) & set(summary["run_ids"])

    # nothing new: zero micro-batches, summary still well-formed
    idle = _run_cli(monkeypatch, capsys,
                    ["--input", docs_dir, "--output", out_dir, "--stream"])
    assert idle["total_results"] == 45
    assert idle["micro_batches"] == 0 and idle["docs_in"] == 0

    with pytest.raises(SystemExit):  # batch-only flags rejected upfront
        _run_cli(monkeypatch, capsys,
                 ["--input", docs_dir, "--output", out_dir, "--stream",
                  "--run-id", "rid"])
    with pytest.raises(SystemExit):
        _run_cli(monkeypatch, capsys,
                 ["--input", docs_dir, "--output", out_dir,
                  "--stream-checkpoint", str(tmp_path / "ck")])
