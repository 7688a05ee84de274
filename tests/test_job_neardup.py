"""The persisted near-dup loop ON THE JOB SURFACE (round-6 directive 2).

The operators (minhash_band_index / minhash_probe_index /
minhash_index_append) formed a complete 100 TB ingestion loop since
round 5, but only in tests and contract queries — nothing on
ExtractionJob ever probed or maintained a stored index. These tests pin
the integration:

  * run(near_dup_threshold=T) commits, per results run, the >=T pairs
    (within-increment self-pairs AND cross-increment probe pairs against
    the committed index — committed corpus text never re-read) and then
    appends the increment's band rows, both under the usual
    CheckpointedTable commit discipline;
  * crash consistency: a results run committed without its index append
    (crash anywhere between the results commit and the index commit) is
    healed by the next sync — and because the md5 hash family makes
    append == rebuild bit-exact, the healed state EQUALS the no-crash
    state;
  * pairs-then-crash idempotence: a pairs run that committed before the
    crash is not rewritten (no duplicate pairs);
  * rewrite snapshots of the results table (compact-/expire-/migrate-)
    are never treated as increments — and absorbing a NEVER-ingested run
    into a rewrite (only possible via a manual compact between a crash
    and the next run) fails LOUDLY instead of silently dropping or
    duplicating index content.

Reference analogue: the content-dedup ingest path around the history
store (HistoryManager.cpp:275-328) — here generalized to NEAR-dup with
a persisted LSH index, the piece the reference's single-node SQLite
design never needed.
"""

import pytest
from pyspark.sql import functions as F

from xs_vlm_ocr_spark.job import ExtractionJob
from xs_vlm_ocr_spark.schemas import DOCS_SCHEMA, RESULTS_RUN_SCHEMA

WORDS = [f"w{i:03d}" for i in range(200)]
BASE = " ".join(WORDS)
# near-duplicates of BASE: one word substituted (word-3-gram Jaccard
# ~0.97 — far above any sane threshold, and distinct content hashes so
# the exact-dedup resume path keeps them all)
NEAR_A = BASE
NEAR_B = BASE.replace("w050", "xychanged")
NEAR_D = BASE.replace("w150", "zqswapped")
OTHER_C = " ".join(f"unrelated{i:03d}" for i in range(120))


def _docs(spark, items):
    rows = [
        {"doc_id": did,
         "spans": [{"kind": "text", "text": text, "media_ref": "", "offset": 0}]}
        for did, text in items
    ]
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def _text_to_hash(job, spark):
    res = job.read_results(spark)
    return {r["full_text"]: r["content_hash"] for r in res.collect()}


def _pair_set(job, spark):
    pairs = job.read_near_dup_pairs(spark)
    if pairs is None:
        return set()
    return {tuple(sorted((r["a"], r["b"]))) for r in pairs.collect()}


def _index_rows(job, spark):
    idx = job.neardup_index.read(spark)
    if idx is None:
        return set()
    return {(r["doc_id"], r["band"], r["bucket"]) for r in idx.collect()}


def test_within_and_cross_increment_pairs(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job_nd"))
    job = ExtractionJob(out, near_dup_threshold=0.5)

    # batch 1: A ~ B near-dups, C unrelated -> one within-increment pair
    r1 = job.run(spark, _docs(spark, [("a", NEAR_A), ("b", NEAR_B),
                                      ("c", OTHER_C)]))
    h = _text_to_hash(job, spark)
    assert _pair_set(job, spark) == {tuple(sorted((h[NEAR_A], h[NEAR_B])))}

    # batch 2: D ~ A/B (cross-increment, found via the stored-index
    # probe — batch-1 text is never re-read), plus a fresh unrelated doc
    r2 = job.run(spark, _docs(spark, [("d", NEAR_D),
                                      ("e", " ".join(f"q{i}" for i in range(80)))]))
    h = _text_to_hash(job, spark)
    expected = {
        tuple(sorted((h[NEAR_A], h[NEAR_B]))),
        tuple(sorted((h[NEAR_A], h[NEAR_D]))),
        tuple(sorted((h[NEAR_B], h[NEAR_D]))),
    }
    assert _pair_set(job, spark) == expected

    # the index holds band rows for every successful doc of both runs
    assert {r for r, _, _ in _index_rows(job, spark)} == set(h.values())
    assert set(job.neardup_index.committed_runs()) == {r1, r2}
    # pairs are stamped with the run that discovered them
    pairs = job.read_near_dup_pairs(spark)
    by_run = {r["run_id"] for r in pairs.collect()}
    assert by_run == {r1, r2}


def test_crash_heal_equals_no_crash(spark, tmp_path_factory):
    crash_out = str(tmp_path_factory.mktemp("job_nd_crash"))
    clean_out = str(tmp_path_factory.mktemp("job_nd_clean"))
    b1 = [("a", NEAR_A), ("c", OTHER_C)]
    b2 = [("b", NEAR_B)]
    b3 = [("d", NEAR_D)]

    # no-crash twin
    clean = ExtractionJob(clean_out, near_dup_threshold=0.5)
    for b in (b1, b2, b3):
        clean.run(spark, _docs(spark, b))

    # crashed run: batch 2's results commit lands but the crash hits
    # before sync (threshold=None job = the same commit path, no sync)
    crashed = ExtractionJob(crash_out, near_dup_threshold=0.5)
    crashed.run(spark, _docs(spark, b1))
    ExtractionJob(crash_out).run(spark, _docs(spark, b2))  # "crashed" run
    # the next run heals the suffix, then ingests itself
    pending_before = [
        r for r in crashed.results.committed_runs()
        if r not in crashed.neardup_index.all_time_runs()
    ]
    assert len(pending_before) == 1  # exactly the crashed run is pending
    crashed.run(spark, _docs(spark, b3))

    # healed state == no-crash state, bit-for-bit on the index content
    # and pair set (run_ids differ; content must not)
    assert _index_rows(crashed, spark) == _index_rows(clean, spark)
    assert _pair_set(crashed, spark) == _pair_set(clean, spark)
    sig_crashed = {
        (r["doc_id"], tuple(r["sig"]))
        for r in crashed.neardup_index.read(spark).collect()
    }
    sig_clean = {
        (r["doc_id"], tuple(r["sig"]))
        for r in clean.neardup_index.read(spark).collect()
    }
    assert sig_crashed == sig_clean


def test_pairs_committed_before_crash_not_duplicated(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job_nd_paircrash"))
    job = ExtractionJob(out, near_dup_threshold=0.5)
    job.run(spark, _docs(spark, [("a", NEAR_A), ("c", OTHER_C)]))
    r2 = job.run(spark, _docs(spark, [("b", NEAR_B)]))

    # simulate the narrow crash window: pairs for r2 committed, index
    # append for r2 did not (drop r2 from the INDEX manifest + its dir)
    idx = job.neardup_index
    runs = [r for r in idx.committed_runs() if r != r2]
    stats = {k: v for k, v in idx.run_stats().items() if k != r2}
    import json, os, shutil
    m = idx._load_manifest()
    m["runs"] = runs
    m["stats"] = stats
    m.pop("ancestry", None)  # r2 was never 'absorbed'; it simply didn't commit
    with open(idx.manifest_path, "w") as f:
        json.dump(m, f)
    shutil.rmtree(idx.run_dir(r2), ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS {idx.table_name}")

    n_pairs_before = job.read_near_dup_pairs(spark).count()
    healed = job.sync_near_dup_index(spark)
    assert healed == [r2]
    # pairs run was already committed -> NOT rewritten, no duplicates
    assert job.read_near_dup_pairs(spark).count() == n_pairs_before
    assert r2 in job.neardup_index.committed_runs()
    h = _text_to_hash(job, spark)
    assert {r for r, _, _ in _index_rows(job, spark)} == set(h.values())


def test_rewrite_snapshots_are_not_increments(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job_nd_compact"))
    job = ExtractionJob(out, near_dup_threshold=0.5)
    job.run(spark, _docs(spark, [("a", NEAR_A), ("c", OTHER_C)]))
    # compact_after=1 folds the results runs into ONE compact- snapshot
    job.run(spark, _docs(spark, [("b", NEAR_B)]), compact_after=1)
    assert any(r.startswith("compact-") for r in job.results.committed_runs())

    # the next run must ingest ONLY itself — never the compacted corpus
    r3 = job.run(spark, _docs(spark, [("d", NEAR_D)]))
    h = _text_to_hash(job, spark)
    idx_docs = [r for r, _, _ in _index_rows(job, spark)]
    # every doc exactly once per (band): bands=4 rows per doc, no dupes
    assert sorted(set(idx_docs)) == sorted(h.values())
    assert len(_index_rows(job, spark)) == 4 * len(h)
    assert _pair_set(job, spark) == {
        tuple(sorted((h[NEAR_A], h[NEAR_B]))),
        tuple(sorted((h[NEAR_A], h[NEAR_D]))),
        tuple(sorted((h[NEAR_B], h[NEAR_D]))),
    }


def test_zero_row_run_is_marked_ingested(spark, tmp_path_factory):
    """A rerun of an already-committed batch produces a results run with
    ZERO rows — the manifest commits it but no run_id partition dir is
    written. Sync must not crash on the missing path, and must still
    MARK the run ingested (else healing reconsiders it forever)."""
    out = str(tmp_path_factory.mktemp("job_nd_zero"))
    job = ExtractionJob(out, near_dup_threshold=0.5)
    batch = _docs(spark, [("a", NEAR_A), ("b", NEAR_B)])
    r1 = job.run(spark, batch)
    r2 = job.run(spark, batch)  # all docs resumed away: zero-row run
    assert r2 in job.neardup_index.all_time_runs()
    assert job.sync_near_dup_index(spark) == []  # nothing pending
    # index content unchanged: one entry per (doc, band), no dupes
    h = _text_to_hash(job, spark)
    assert len(_index_rows(job, spark)) == 4 * len(h)
    assert _pair_set(job, spark) == {tuple(sorted((h[NEAR_A], h[NEAR_B])))}


def test_near_dup_clusters_decision(spark, tmp_path_factory):
    """pairs -> clusters on the job surface: the committed corpus'
    dedup DECISION (content_hash -> cluster_id, is_canonical) via
    distributed connected components over the committed pairs table;
    docs in no pair are their own singleton cluster."""
    out = str(tmp_path_factory.mktemp("job_nd_clusters"))
    job = ExtractionJob(out, near_dup_threshold=0.5)
    job.run(spark, _docs(spark, [("a", NEAR_A), ("b", NEAR_B), ("c", OTHER_C)]))
    job.run(spark, _docs(spark, [("d", NEAR_D)]))

    h = _text_to_hash(job, spark)
    rows = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
            for r in job.near_dup_clusters(spark).collect()}
    assert set(rows) == set(h.values())  # every committed doc decided
    trio = sorted(h[t] for t in (NEAR_A, NEAR_B, NEAR_D))
    # A~B and A~D, B~D pairs -> one transitive cluster, min-hash canonical
    for t in trio:
        assert rows[t] == (trio[0], 1 if t == trio[0] else 0)
    assert rows[h[OTHER_C]] == (h[OTHER_C], 1)  # singleton is canonical
    n_canonical = sum(c for _, c in rows.values())
    assert n_canonical == 2  # one winner for the trio + the singleton


def test_sync_clusters_incremental_path(spark, tmp_path_factory):
    """The persisted assignment advances INCREMENTALLY (prev stars +
    pending pairs runs only) and equals a from-scratch CC at every
    step; an in-step table syncs to None; a pairs compaction that
    absorbs run dirs forces the (always-correct) full-rebuild path."""
    from xs_vlm_ocr_spark.operators.components import connected_components

    out = str(tmp_path_factory.mktemp("job_nd_sync"))
    job = ExtractionJob(out, near_dup_threshold=0.5)

    def assignment():
        tbl = job.neardup_clusters_tbl.read(spark)
        return {(r["node"], r["component"]) for r in tbl.collect()}

    def full_cc():
        return {
            (r["node"], r["component"])
            for r in connected_components(
                job.read_near_dup_pairs(spark).select("a", "b")
            ).collect()
        }

    job.run(spark, _docs(spark, [("a", NEAR_A), ("b", NEAR_B), ("c", OTHER_C)]))
    assert job.sync_clusters(spark) is not None  # first snapshot
    assert job.sync_clusters(spark) is None      # in step now
    assert assignment() == full_cc()
    stamp1 = job.neardup_clusters_tbl.get_meta()["src_runs"]

    # second ingest: the sync must read ONLY the new pairs run (the
    # incremental path), and the result must equal the full recompute
    job.run(spark, _docs(spark, [("d", NEAR_D)]))
    assert job.sync_clusters(spark) is not None
    assert assignment() == full_cc()
    stamp2 = job.neardup_clusters_tbl.get_meta()["src_runs"]
    assert set(stamp2) > set(stamp1)
    # the assignment rows carry NO bookkeeping column — the reflected
    # set is manifest meta, not a per-row stamp
    assert "src_runs" not in job.neardup_clusters_tbl.read(spark).columns

    # compact the pairs table (absorbs the per-run dirs), then ingest
    # again: pending run dirs readable -> still incremental; but a
    # table synced BEFORE compaction with a pending pre-compaction run
    # would need the fallback — simulate by resetting the clusters
    # table to its first snapshot's reflected set
    job.neardup_pairs.compact(spark)
    job.run(spark, _docs(spark, [("e", NEAR_A.replace("w010", "qq"))]))
    # roll the meta back so pre-compaction runs look pending
    tbl = job.neardup_clusters_tbl
    rolled = spark.read.parquet(tbl.run_dir(tbl.committed_runs()[0]))
    tbl.replace(rolled, "clusters-rolledback", meta={"src_runs": stamp1})
    assert job.sync_clusters(spark) is not None  # full-rebuild fallback
    assert assignment() == full_cc()


def test_sync_clusters_zero_row_snapshot_keeps_meta(spark, tmp_path_factory):
    """A corpus with NO near-dup pairs commits a zero-row assignment
    snapshot; the manifest meta still records the reflected pairs runs,
    so the next sync is a no-op instead of an idempotent redo (the
    per-row stamp lost this information — round-6 known edge)."""
    out = str(tmp_path_factory.mktemp("job_nd_zero"))
    job = ExtractionJob(out, near_dup_threshold=0.5)
    job.run(spark, _docs(spark, [("a", NEAR_A), ("c", OTHER_C)]))  # no pair
    assert job.read_near_dup_pairs(spark).count() == 0
    assert job.sync_clusters(spark) is not None
    assert job.neardup_clusters_tbl.get_meta()["src_runs"]
    assert job.sync_clusters(spark) is None  # in step despite zero rows


def test_sync_clusters_heals_lost_meta_without_rewrite(spark, tmp_path_factory):
    """Meta-lost committed snapshot (wiped meta / legacy zero-row): the
    redo mints the SAME deterministic id as the committed snapshot;
    sync must heal the bookkeeping via set_meta instead of calling
    replace() on a committed id (which raises — r7 advice, medium:
    every sync_clusters and every consumer raised until the dir was
    hand-deleted)."""
    out = str(tmp_path_factory.mktemp("job_nd_heal_meta"))
    job = ExtractionJob(out, near_dup_threshold=0.5)
    job.run(spark, _docs(spark, [("a", NEAR_A), ("b", NEAR_B)]))
    assert job.sync_clusters(spark) is not None
    runs_now = job.neardup_clusters_tbl.get_meta()["src_runs"]

    job.neardup_clusters_tbl.set_meta({})  # simulate lost bookkeeping
    # heals in place: no raise, no rewrite, meta restored, in step after
    assert job.sync_clusters(spark) is None
    assert job.neardup_clusters_tbl.get_meta()["src_runs"] == runs_now
    assert job.sync_clusters(spark) is None
    assert job.near_dup_clusters(spark) is not None  # consumers work again


def _spark_jobs(spark, fn, group):
    """fn() and the Spark job ids it started (statusTracker, by job
    group)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_in_step_sync_clusters_starts_no_spark_job(spark, tmp_path_factory):
    """An in-step sync decides from the manifest meta alone: the clusters
    snapshot is read only on the incremental path, so the no-op costs
    no Spark job."""
    out = str(tmp_path_factory.mktemp("job_nd_instep"))
    job = ExtractionJob(out, near_dup_threshold=0.5)
    job.run(spark, _docs(spark, [("a", NEAR_A), ("b", NEAR_B)]))
    assert job.sync_clusters(spark) is not None
    res, jobs = _spark_jobs(spark, lambda: job.sync_clusters(spark),
                            "in_step_sync_clusters")
    assert res is None
    assert jobs == []


def test_run_corpus_frame_starts_no_spark_job(spark, tmp_path_factory):
    """Building one results run's probe frame reads with a known schema:
    no footer-inference job (one per derived-table increment before)."""
    out = str(tmp_path_factory.mktemp("job_nd_run_corpus"))
    job = ExtractionJob(out)
    rid = job.run(spark, _docs(spark, [("a", NEAR_A), ("c", OTHER_C)]))
    df, jobs = _spark_jobs(spark, lambda: job._run_corpus(spark, rid),
                           "run_corpus_frame")
    assert jobs == []
    assert df.columns == ["doc_id", "full_text"]
    assert {r["full_text"] for r in df.collect()} == {NEAR_A, OTHER_C}
    # the schema it reads with is the one the run's files hold
    stored = spark.read.parquet(job.results.run_dir(rid)).schema
    assert stored.simpleString() == RESULTS_RUN_SCHEMA.simpleString()


def _n_cached(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def test_sync_releases_band_row_cache(spark, tmp_path_factory, monkeypatch):
    """Each sync persists the increment's band rows for its three
    consumers and releases them afterwards — also when a commit raises.
    A cache entry left behind per increment would pin memory for the
    session's life and be matched during every later query's
    planning (streaming micro-batches and daemon ingests sync forever)."""
    out = str(tmp_path_factory.mktemp("job_nd_cache"))
    job = ExtractionJob(out, near_dup_threshold=0.5)
    before = _n_cached(spark)
    job.run(spark, _docs(spark, [("a", NEAR_A), ("c", OTHER_C)]))
    job.run(spark, _docs(spark, [("b", NEAR_B)]))
    assert _n_cached(spark) == before

    # a results run committed without its sync, then a sync whose
    # pairs commit fails: the error propagates, the cache is released
    ExtractionJob(out).run(spark, _docs(spark, [("d", NEAR_D)]))

    def boom(*args, **kwargs):
        raise RuntimeError("pairs commit failed")

    monkeypatch.setattr(job.neardup_pairs, "append", boom)
    with pytest.raises(RuntimeError, match="pairs commit failed"):
        job.sync_near_dup_index(spark)
    assert _n_cached(spark) == before


def test_lost_increment_fails_loud(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job_nd_lost"))
    job = ExtractionJob(out, near_dup_threshold=0.5)
    job.run(spark, _docs(spark, [("a", NEAR_A)]))
    # crash before sync of run 2, then a MANUAL compact absorbs it: the
    # un-ingested increment is now unrecoverable per-run
    ExtractionJob(out).run(spark, _docs(spark, [("b", NEAR_B)]))
    job.results.compact(spark)
    with pytest.raises(RuntimeError, match="compacted/expired away"):
        job.sync_near_dup_index(spark)


def test_retention_rewrite_is_not_an_increment(spark, tmp_path_factory):
    """apply_retention mints a 'retain-' rewrite snapshot of the results
    table; the sync loop must not re-ingest the retained corpus as a
    fresh increment (a stale prefix list once doubled the index)."""
    from xs_vlm_ocr_spark.operators.history import apply_retention

    out = str(tmp_path_factory.mktemp("job_nd_retain"))
    job = ExtractionJob(out, near_dup_threshold=0.5)
    job.run(spark, _docs(spark, [("a", NEAR_A), ("b", NEAR_B), ("c", OTHER_C)]))
    h = _text_to_hash(job, spark)
    n_idx = len(_index_rows(job, spark))
    apply_retention(job.results, spark, n=10, ts_col="ts", id_col="id")
    assert any(r.startswith("retain-") for r in job.results.committed_runs())

    # next run ingests ONLY itself; the retained corpus is not re-indexed
    job.run(spark, _docs(spark, [("d", NEAR_D)]))
    h = _text_to_hash(job, spark)
    assert len(_index_rows(job, spark)) == n_idx + 4  # one new doc x 4 bands
    assert len(_index_rows(job, spark)) == 4 * len(h)


def test_bootstrap_fresh_index_over_compacted_corpus(spark, tmp_path_factory):
    """Enabling near-dup on a corpus whose results were already
    compacted must BOOTSTRAP (one full-corpus increment), not brick:
    same pair set as per-run ingestion, coverage marked atomically."""
    out = str(tmp_path_factory.mktemp("job_nd_boot"))
    # history accumulated WITHOUT near-dup, then compacted
    plain = ExtractionJob(out)
    plain.run(spark, _docs(spark, [("a", NEAR_A), ("c", OTHER_C)]))
    plain.run(spark, _docs(spark, [("b", NEAR_B)]))
    plain.results.compact(spark)

    # near-dup enabled later: first run bootstraps the whole corpus
    job = ExtractionJob(out, near_dup_threshold=0.5)
    job.run(spark, _docs(spark, [("d", NEAR_D)]))
    h = _text_to_hash(job, spark)
    assert any(r.startswith("bootstrap-")
               for r in job.neardup_index.all_time_runs())
    # full pair set incl. the new doc (ingested by the bootstrap pass)
    assert _pair_set(job, spark) == {
        tuple(sorted((h[NEAR_A], h[NEAR_B]))),
        tuple(sorted((h[NEAR_A], h[NEAR_D]))),
        tuple(sorted((h[NEAR_B], h[NEAR_D]))),
    }
    assert len(_index_rows(job, spark)) == 4 * len(h)
    # subsequent runs are plain increments — no re-bootstrap, no dupes
    job.run(spark, _docs(spark, [("e", " ".join(f"z{i}" for i in range(60)))]))
    h = _text_to_hash(job, spark)
    assert len(_index_rows(job, spark)) == 4 * len(h)
    assert job.sync_near_dup_index(spark) == []


def test_canonical_is_min_surviving_member(spark, tmp_path_factory):
    """After retention retires a cluster's minimum member, the decision
    surface promotes the smallest SURVIVING member to canonical — a
    keep-canonical dedup pass must never drop a whole cluster."""
    out = str(tmp_path_factory.mktemp("job_nd_surv"))
    job = ExtractionJob(out, near_dup_threshold=0.5)
    job.run(spark, _docs(spark, [("a", NEAR_A), ("c", OTHER_C)]))
    job.run(spark, _docs(spark, [("b", NEAR_B)]))
    h = _text_to_hash(job, spark)
    lo, hi = sorted((h[NEAR_A], h[NEAR_B]))

    # drop run 1 (doc a and c) from the results; pairs/index keep history
    run1 = job.results.committed_runs()[0]
    import shutil
    m = job.results._load_manifest()
    m["runs"] = [r for r in m["runs"] if r != run1]
    import json as _json
    with open(job.results.manifest_path, "w") as f:
        _json.dump(m, f)
    shutil.rmtree(job.results.run_dir(run1), ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS {job.results.table_name}")

    rows = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
            for r in job.near_dup_clusters(spark).collect()}
    surviving = set(rows)
    assert surviving <= {h[NEAR_A], h[NEAR_B], h[OTHER_C]}
    # whichever of the pair survives must be canonical even if the
    # cluster id (the retired minimum) is not present
    present_pair = [d for d in (lo, hi) if d in surviving]
    for d in present_pair:
        cl, canon = rows[d]
        assert canon == (1 if d == min(present_pair) else 0)
    assert all(c == 1 for d, (_, c) in rows.items()
               if d not in (lo, hi))  # singletons canonical
    # every cluster with members has exactly one canonical row
    by_cluster = {}
    for d, (cl, c) in rows.items():
        by_cluster.setdefault(cl, []).append(c)
    assert all(sum(cs) == 1 for cs in by_cluster.values())
