"""CheckpointedTable: schema evolution, manifest stats/run pruning,
layout migration, compaction policy, time retention.

Reference analogues: the store migrates in place (ALTER TABLE history
ADD COLUMN content_hash, HistoryManager.cpp:70-77) and old rows keep
working; idx_timestamp DESC (:70-77) is the ts-axis index the manifest
min/max stats restate as Iceberg-style run pruning.
"""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from xs_vlm_ocr_spark.table_io import CheckpointedTable


def _ts_rows(spark, day: int, n: int = 10, run: int = 0):
    """n rows whose ts all fall on 2026-01-<day>."""
    return spark.range(n).select(
        F.md5(F.concat(F.lit(f"r{run}-"), F.col("id").cast("string"))).alias("content_hash"),
        (F.lit(datetime(2026, 1, day, 12, 0, 0)).cast("timestamp")
         + F.make_interval(mins=F.col("id").cast("int"))).alias("ts"),
        F.col("id").alias("payload"),
    )


def test_schema_evolution_added_column(spark, tmp_path_factory):
    tbl = CheckpointedTable(str(tmp_path_factory.mktemp("tbl_evo")))
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    tbl.append(v1, "run1")

    v2 = spark.createDataFrame(
        [(3, "c", "h3")], "id long, name string, content_hash string"
    )
    tbl.append(v2, "run2")

    out = tbl.read(spark)
    assert set(out.columns) == {"id", "name", "content_hash"}
    rows = {r["id"]: r["content_hash"] for r in out.collect()}
    assert rows == {1: None, 2: None, 3: "h3"}
    # old-schema rows still filterable on the new column
    assert out.filter(F.col("content_hash").isNull()).count() == 2


def test_schema_evolution_dropped_column_reads_union(spark, tmp_path_factory):
    """A later run writing FEWER columns: union schema keeps the column,
    new rows read as null."""
    tbl = CheckpointedTable(str(tmp_path_factory.mktemp("tbl_evo2")))
    tbl.append(
        spark.createDataFrame([(1, "x")], "id long, extra string"), "r1"
    )
    tbl.append(spark.createDataFrame([(2,)], "id long"), "r2")
    out = tbl.read(spark)
    assert set(out.columns) == {"id", "extra"}
    assert {r["id"]: r["extra"] for r in out.collect()} == {1: "x", 2: None}


def test_compact_merges_snapshots_and_shrinks_files(spark, tmp_path_factory):
    """compact() rewrites N committed runs as ONE snapshot: same rows,
    single manifest entry, fewer data files (the small-file problem a
    run-per-ingest layout accumulates), old run dirs expired. Bucketed
    tables stay bucketed: the resume-join plan shape survives
    compaction."""
    import glob
    import os

    from pyspark.sql import functions as F

    from oracles import n_shuffle_exchanges
    from xs_vlm_ocr_spark.table_io import CheckpointedTable

    path = str(tmp_path_factory.mktemp("tbl_compact") / "t")
    tbl = CheckpointedTable(path, bucket_key="content_hash", n_buckets=4)
    for run in range(3):
        df = spark.range(run * 100, run * 100 + 100).select(
            F.md5(F.col("id").cast("string")).alias("content_hash"),
            F.col("id").alias("payload"),
        ).repartition(4)
        tbl.append(df, f"run{run}")

    def data_files():
        return [p for p in glob.glob(os.path.join(path, "data", "**", "*.parquet"),
                                     recursive=True)]

    before_rows = {r["payload"] for r in tbl.read(spark).collect()}
    n_before = len(data_files())
    assert len(tbl.committed_runs()) == 3

    run_id = tbl.compact(spark)
    assert run_id is not None
    assert tbl.committed_runs() == [run_id]
    after_rows = {r["payload"] for r in tbl.read(spark).collect()}
    assert after_rows == before_rows and len(after_rows) == 300
    n_after = len(data_files())
    assert n_after < n_before, (n_after, n_before)

    # still bucketed: a key join on the compacted table adds no exchange
    # on the table side
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = spark.range(10).select(
            F.md5(F.col("id").cast("string")).alias("content_hash"))
        n = n_shuffle_exchanges(tbl.read(spark).join(probe, "content_hash"))
        assert n == 1, n
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    # idempotent no-op on a single-snapshot table
    assert tbl.compact(spark) is None


@pytest.mark.parametrize("n_buckets", [4, 32])
def test_bucketed_append_writes_one_file_per_bucket(spark, tmp_path_factory,
                                                    n_buckets):
    """Each append's hash-repartition means ONE file per bucket per run
    — without it every upstream partition writes its own file per
    bucket (tasks x buckets small files per ingest). The write runs k =
    largest divisor of n_buckets <= defaultParallelism tasks (8 cores
    here: k = 4 for 4 buckets, 8 for 32), each writing whole buckets:
    every row sits in the file named for its Murmur3 bucket, and the
    bucketed read still joins on the key with one Exchange."""
    import glob
    import os

    from oracles import n_shuffle_exchanges

    sc = spark.sparkContext
    k = {4: 4, 32: 8}[n_buckets]
    assert sc.defaultParallelism == 8
    path = str(tmp_path_factory.mktemp("tbl_files") / "t")
    tbl = CheckpointedTable(path, bucket_key="content_hash",
                            n_buckets=n_buckets)
    df = spark.range(0, 500, 1, 16).select(  # many upstream partitions
        F.md5(F.col("id").cast("string")).alias("content_hash"),
        F.col("id").alias("payload"),
    )
    group = f"bucketed_write_{n_buckets}"
    sc.setJobGroup(group, "bucketed append")
    try:
        tbl.append(df, "r0")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    run_dir = os.path.join(path, "data", "run_id=r0")
    assert len(glob.glob(os.path.join(run_dir, "*.parquet"))) == n_buckets
    placed = spark.read.parquet(run_dir).select(
        F.regexp_extract(F.input_file_name(), r"_(\d{5})\.c\d{3}", 1)
        .cast("int").alias("file_bucket"),
        F.pmod(F.hash("content_hash"), F.lit(n_buckets)).alias("bucket"),
    )
    assert placed.filter(F.col("file_bucket") != F.col("bucket")).count() == 0
    assert placed.select("file_bucket").distinct().count() == n_buckets

    # the write is the group's last job; its result stage is its last
    tracker = sc.statusTracker()
    last_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    write_stage = tracker.getStageInfo(max(last_job.stageIds))
    assert write_stage.numTasks == k, write_stage

    broadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        probe = spark.range(0, 300, 1, 3).select(
            F.md5((F.col("id") * 3).cast("string")).alias("content_hash"))
        joined = tbl.read(spark).join(probe, "content_hash")
        assert n_shuffle_exchanges(joined) == 1
        assert joined.count() == 167  # multiples of 3 below 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcast)
    assert tbl.read(spark).count() == 500


# ---------------------------------------------------- manifest ts stats


def test_ts_stats_prune_plain_read_at_file_level(spark, tmp_path_factory):
    """Time-bounded read over a many-run table must OPEN only the
    overlapping runs' files (manifest min/max stats — the reference's
    idx_timestamp as Iceberg-style run pruning), asserted at the
    filesystem level via inputFiles()."""
    path = str(tmp_path_factory.mktemp("tbl_stats") / "t")
    tbl = CheckpointedTable(path, stats_col="ts")
    for day in (1, 10, 20):
        tbl.append(_ts_rows(spark, day, run=day), f"day{day}")

    stats = tbl.run_stats()
    assert set(stats) == {"day1", "day10", "day20"}
    assert all(s["col"] == "ts" and s["min_us"] < s["max_us"]
               for s in stats.values())

    out = tbl.read(spark, ts_start=datetime(2026, 1, 9),
                   ts_end=datetime(2026, 1, 11))
    files = out.inputFiles()
    assert files and all("run_id=day10" in f for f in files), files
    assert out.count() == 10

    # half-open windows prune too
    recent = tbl.read(spark, ts_start=datetime(2026, 1, 15))
    assert all("run_id=day20" in f for f in recent.inputFiles())
    # no window: everything
    assert tbl.read(spark).count() == 30
    # fully outside every run: no files at all -> empty table semantics
    assert tbl.read(spark, ts_start=datetime(2027, 1, 1)) is None


def test_ts_stats_runs_without_stats_conservatively_kept(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tbl_nostats") / "t")
    legacy = CheckpointedTable(path)  # no stats_col: commits no stats
    legacy.append(_ts_rows(spark, 1), "old")
    tbl = CheckpointedTable(path, stats_col="ts")
    tbl.append(_ts_rows(spark, 20, run=1), "new")
    # window matches neither run's data range start, but the stats-less
    # run must still be read (pruning is conservative)
    out = tbl.read(spark, ts_start=datetime(2026, 1, 19))
    assert {("run_id=old" in f) or ("run_id=new" in f) for f in out.inputFiles()} == {True}
    assert any("run_id=old" in f for f in out.inputFiles())


def test_ts_stats_prune_bucketed_partition_filter(spark, tmp_path_factory):
    """Bucketed tables prune the same way: the committed-run isin filter
    is built from the PRUNED run list, so expired runs never reach the
    scan's partition filter."""
    path = str(tmp_path_factory.mktemp("tbl_statsb") / "t")
    tbl = CheckpointedTable(path, bucket_key="content_hash", n_buckets=4,
                            stats_col="ts")
    for day in (1, 20):
        tbl.append(_ts_rows(spark, day, run=day), f"day{day}")
    out = tbl.read(spark, ts_start=datetime(2026, 1, 15))
    assert out.count() == 10
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "day20" in plan and "day1," not in plan.replace("day1)", "day1,"), plan


def test_append_computes_stats_by_scan_when_no_bounds(spark, tmp_path_factory):
    """Generic callers without known bounds get a post-write scan of
    ONLY the new run; explicit stats_bounds skips the scan (engine path)."""
    path = str(tmp_path_factory.mktemp("tbl_scanstats") / "t")
    tbl = CheckpointedTable(path, stats_col="ts")
    tbl.append(_ts_rows(spark, 5), "scanned")
    tbl.append(_ts_rows(spark, 6), "bounded",
               stats_bounds=(datetime(2026, 1, 6, 12), datetime(2026, 1, 6, 13)))
    from datetime import timedelta

    s = tbl.run_stats()
    epoch_us = (datetime(2026, 1, 5, 12) - datetime(1970, 1, 1)) // timedelta(
        microseconds=1)
    assert s["scanned"]["min_us"] == epoch_us
    assert s["bounded"]["max_us"] - s["bounded"]["min_us"] == 3_600_000_000


# --------------------------------------------------------- layout guard


def test_layout_mismatch_raises_and_migrate_rewrites(spark, tmp_path_factory):
    """A results dir committed PLAIN then reopened BUCKETED must fail
    loudly at read/append time (not IllegalStateException mid-scan),
    and migrate() must rewrite it into the new layout atomically."""
    path = str(tmp_path_factory.mktemp("tbl_layout") / "t")
    plain = CheckpointedTable(path)
    plain.append(_ts_rows(spark, 1), "r0")

    bucketed = CheckpointedTable(path, bucket_key="content_hash", n_buckets=4)
    with pytest.raises(RuntimeError, match="layout"):
        bucketed.read(spark)
    with pytest.raises(RuntimeError, match="migrate"):
        bucketed.append(_ts_rows(spark, 2), "r1")

    rid = bucketed.migrate(spark)
    assert rid is not None and bucketed.committed_runs() == [rid]
    assert bucketed.read(spark).count() == 10
    bucketed.append(_ts_rows(spark, 2, run=1), "r1")  # now appendable
    assert bucketed.read(spark).count() == 20
    # and the old layout is now refused in the other direction
    with pytest.raises(RuntimeError, match="layout"):
        CheckpointedTable(path).read(spark)


def test_manifest_without_layout_refused_before_any_scan(spark, tmp_path_factory,
                                                        monkeypatch):
    """A manifest with committed runs but no layout record is not a
    format the engine writes: ``read`` refuses it with a RuntimeError
    naming the table, before Spark scans anything, under either
    constructor layout."""
    import json
    import re

    from pyspark.sql import SparkSession

    path = str(tmp_path_factory.mktemp("tbl_nolayout") / "t")
    CheckpointedTable(path).append(_ts_rows(spark, 1), "r0")
    manifest = CheckpointedTable(path).manifest_path
    with open(manifest) as f:
        m = json.load(f)
    m.pop("layout")
    with open(manifest, "w") as f:
        json.dump(m, f)

    def no_scan(self):
        raise AssertionError("spark.read reached before the layout check")

    monkeypatch.setattr(SparkSession, "read", property(no_scan))
    for tbl in (CheckpointedTable(path),
                CheckpointedTable(path, bucket_key="content_hash", n_buckets=4)):
        with pytest.raises(RuntimeError, match=re.escape(path)):
            tbl.read(spark)


# ------------------------------------------- bucketed schema evolution


def test_bucketed_schema_evolution_raises_and_compact_migrates(spark, tmp_path_factory):
    """Directive: evolved-schema append to a bucketed table = LOUD,
    documented error (not corruption); migration = atomic
    compact(target_schema) rewrite, after which the append succeeds and
    old rows read as typed nulls."""
    from pyspark.sql import types as T

    path = str(tmp_path_factory.mktemp("tbl_evo_bucketed") / "t")
    tbl = CheckpointedTable(path, bucket_key="content_hash", n_buckets=4)
    tbl.append(_ts_rows(spark, 1), "r0")

    evolved = _ts_rows(spark, 2, run=1).withColumn("lang", F.lit("en"))
    with pytest.raises(ValueError, match="compact\\(spark, target_schema"):
        tbl.append(evolved, "r1")
    # nothing corrupted, nothing committed
    assert tbl.committed_runs() == ["r0"]
    assert tbl.read(spark).count() == 10

    rid = tbl.compact(spark, target_schema=evolved.schema)
    assert tbl.committed_runs() == [rid]
    out = tbl.read(spark)
    assert out.schema["lang"].dataType == T.StringType()
    assert out.filter(F.col("lang").isNull()).count() == 10

    tbl.append(evolved, "r1")  # evolved append now valid
    assert tbl.read(spark).filter(F.col("lang") == "en").count() == 10
    # the bucketed-join guarantee survived the migration
    from oracles import n_shuffle_exchanges
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = spark.range(5).select(
            F.md5(F.concat(F.lit("r0-"), F.col("id").cast("string"))).alias("content_hash"))
        assert n_shuffle_exchanges(tbl.read(spark).join(probe, "content_hash")) == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_bucketed_schema_guard_survives_fresh_session_catalog(spark, tmp_path_factory):
    """The guard must hold when the catalog entry is gone (new session):
    committed schema is recovered from the run-dir parquet footer."""
    path = str(tmp_path_factory.mktemp("tbl_evo_fresh") / "t")
    tbl = CheckpointedTable(path, bucket_key="content_hash", n_buckets=4)
    tbl.append(_ts_rows(spark, 1), "r0")
    spark.sql(f"DROP TABLE IF EXISTS {tbl.table_name}")  # simulate new session

    fresh = CheckpointedTable(path, bucket_key="content_hash", n_buckets=4)
    with pytest.raises(ValueError, match="schema evolution"):
        fresh.append(_ts_rows(spark, 2).withColumn("lang", F.lit("x")), "r1")


def test_unsafe_run_id_refused_before_any_write(spark, tmp_path):
    """Spark escapes ':' in a partition dir (run_id=...T07%3A00...), so a
    bucketed run under a timestamp id lands where run_dir() never looks:
    it would commit and then read as empty. Such an id is refused
    before anything is written or committed."""
    import os

    tbl = CheckpointedTable(str(tmp_path / "t"), bucket_key="content_hash",
                            n_buckets=4)
    tbl.append(_ts_rows(spark, 1), "r0")
    with pytest.raises(ValueError, match="2026-10-19T07:00:00"):
        tbl.append(_ts_rows(spark, 2, run=1), "2026-10-19T07:00:00")
    assert tbl.committed_runs() == ["r0"]
    assert [d for d in os.listdir(tbl.data_dir)
            if d.startswith("run_id=")] == ["run_id=r0"]
    assert tbl.read(spark).count() == 10


def test_bucketed_read_sees_runs_committed_by_another_process(spark, tmp_path):
    """A session that already read a bucketed table must still see runs
    another process commits later: the read registers every committed
    run its catalog entry lacks, instead of filtering the new manifest's
    run ids through a catalog that has no partitions for them (10 rows
    where the manifest commits 20). Once every run is registered, a
    read adds no Spark job."""
    import shutil

    writer = CheckpointedTable(str(tmp_path / "writer"),
                               bucket_key="content_hash", n_buckets=4)
    writer.append(_ts_rows(spark, 1), "r0")
    shutil.copytree(writer.path, str(tmp_path / "t"))
    tbl = CheckpointedTable(str(tmp_path / "t"), bucket_key="content_hash",
                            n_buckets=4)
    assert tbl.read(spark).count() == 10  # registers the catalog entry

    # the other process commits r1: its run dir, then the 2-run manifest
    writer.append(_ts_rows(spark, 2, run=1), "r1")
    shutil.copytree(writer.run_dir("r1"), tbl.run_dir("r1"))
    shutil.copy(writer.manifest_path, tbl.manifest_path)
    assert tbl.committed_runs() == ["r0", "r1"]
    assert tbl.read(spark).count() == 20

    sc = spark.sparkContext
    sc.setJobGroup("registered_read", "read of registered runs")
    try:
        tbl.read(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("registered_read") == []


# ---------------------------------------------- replace() self-insert


def test_bucketed_replace_refuses_catalog_self_insert(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tbl_selfins") / "t")
    tbl = CheckpointedTable(path, bucket_key="content_hash", n_buckets=4)
    tbl.append(_ts_rows(spark, 1), "r0")

    catalog_plan = tbl.read(spark).filter(F.col("payload") < 5)
    with pytest.raises(ValueError, match="self-insert"):
        tbl.replace(catalog_plan, "r1")
    assert tbl.committed_runs() == ["r0"]  # untouched

    raw_plan = tbl.read_raw(spark).filter(F.col("payload") < 5)
    tbl.replace(raw_plan, "r1")
    assert tbl.committed_runs() == ["r1"]
    assert tbl.read(spark).count() == 5


# ------------------------------------------------- compaction policy


def test_maybe_compact_bounds_run_count(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tbl_policy") / "t")
    tbl = CheckpointedTable(path, stats_col="ts")
    for i in range(5):
        tbl.append(_ts_rows(spark, i + 1, run=i), f"r{i}")
        tbl.maybe_compact(spark, max_runs=3)
        assert len(tbl.committed_runs()) <= 3
    assert tbl.read(spark).count() == 50
    # stats survive compaction (recomputed for the merged snapshot)
    s = tbl.run_stats()
    assert len(s) == len(tbl.committed_runs()) and s


def test_compact_folds_zero_row_runs(spark, tmp_path_factory):
    """A zero-row run commits a manifest entry with no data dir; compact
    must still fold the run LIST to one snapshot (gating on physical
    dirs once made the policy a silent no-op after any resume run that
    contributed nothing — and downstream, kept the results table from
    ever reaching the bootstrap precondition in rehearsal)."""
    path = str(tmp_path_factory.mktemp("tbl_zero") / "t")
    tbl = CheckpointedTable(path)
    tbl.append(spark.range(5).selectExpr("id", "'x' AS v"), "r1")
    tbl._commit("r2-zero")  # zero-row run: manifest only, no dir
    assert len(tbl.committed_runs()) == 2
    rid = tbl.maybe_compact(spark, max_runs=1)
    assert rid is not None and rid.startswith("compact-")
    assert tbl.committed_runs() == [rid]
    assert {"r1", "r2-zero"} <= tbl.all_time_runs()
    assert tbl.read(spark).count() == 5


def test_compact_crash_before_manifest_flip_changes_nothing(spark, tmp_path_factory):
    """Crash mid-compaction (after the rewrite, before the manifest
    rename): every pre-policy snapshot stays committed and readable."""
    path = str(tmp_path_factory.mktemp("tbl_crashcompact") / "t")
    tbl = CheckpointedTable(path, stats_col="ts")
    for i in range(3):
        tbl.append(_ts_rows(spark, i + 1, run=i), f"r{i}")
    before = tbl.committed_runs()

    real = tbl._write_manifest
    tbl._write_manifest = lambda *a, **k: (_ for _ in ()).throw(OSError("crash"))
    with pytest.raises(OSError):
        tbl.compact(spark)
    tbl._write_manifest = real

    assert tbl.committed_runs() == before
    assert tbl.read(spark).count() == 30


# ------------------------------------------------------ time retention


def test_expire_before_is_metadata_only_for_whole_runs(spark, tmp_path_factory):
    """Runs wholly below the cutoff are dropped by manifest flip alone —
    no rewrite, no scan of surviving data (Iceberg expire_snapshots /
    reference retention DELETE, on the ts axis)."""
    import os

    path = str(tmp_path_factory.mktemp("tbl_expire") / "t")
    tbl = CheckpointedTable(path, stats_col="ts")
    for day in (1, 10, 20):
        tbl.append(_ts_rows(spark, day, run=day), f"day{day}")
    kept_files_before = set(tbl.read(spark, ts_start=datetime(2026, 1, 5)).inputFiles())

    expired = tbl.expire_before(spark, datetime(2026, 1, 15))
    assert sorted(expired) == ["day1", "day10"]
    assert tbl.committed_runs() == ["day20"]
    assert not os.path.exists(tbl.run_dir("day1"))
    # surviving run's files are byte-identical (never rewritten)
    assert {f for f in tbl.read(spark).inputFiles()} <= kept_files_before
    assert tbl.read(spark).count() == 10
    # idempotent
    assert tbl.expire_before(spark, datetime(2026, 1, 15)) == []


def test_expire_before_rewrites_straddling_run(spark, tmp_path_factory):
    """A run whose ts range straddles the cutoff keeps only its
    surviving rows, republished as ONE new run in the same atomic flip."""
    path = str(tmp_path_factory.mktemp("tbl_straddle") / "t")
    tbl = CheckpointedTable(path, stats_col="ts")
    # rows at 12:00..12:09 on day 1; cutoff mid-run
    tbl.append(_ts_rows(spark, 1), "mixed")
    expired = tbl.expire_before(spark, datetime(2026, 1, 1, 12, 5))
    assert expired == ["mixed"]
    runs = tbl.committed_runs()
    assert len(runs) == 1 and runs[0].startswith("expire-")
    out = tbl.read(spark).collect()
    assert len(out) == 5 and all(r["ts"] >= datetime(2026, 1, 1, 12, 5) for r in out)
    # stats recomputed for the boundary run
    from datetime import timedelta

    cutoff_us = (datetime(2026, 1, 1, 12, 5) - datetime(1970, 1, 1)) // timedelta(
        microseconds=1)
    assert tbl.run_stats()[runs[0]]["min_us"] == cutoff_us


def test_expire_before_integer_stats_col_straddle(spark, tmp_path_factory):
    """Generic integer stats column (epoch MICROseconds by the manifest
    convention): the straddle rewrite must compare the raw integers
    against the cutoff — a bigint->timestamp cast reads SECONDS and
    would silently keep every below-cutoff row in the boundary run
    (round-6 advice)."""
    from datetime import timedelta

    path = str(tmp_path_factory.mktemp("tbl_int_stats") / "t")
    tbl = CheckpointedTable(path, stats_col="ts_us")
    base = (datetime(2026, 1, 1, 12, 0) - datetime(1970, 1, 1)) // timedelta(
        microseconds=1)
    rows = spark.range(10).select(
        F.col("id").alias("payload"),
        (F.lit(base) + F.col("id") * 60_000_000).alias("ts_us"),  # 1/min
    )
    tbl.append(rows, "mixed")
    cutoff = datetime(2026, 1, 1, 12, 5)
    assert tbl.expire_before(spark, cutoff) == ["mixed"]
    out = tbl.read(spark).collect()
    cut_us = (cutoff - datetime(1970, 1, 1)) // timedelta(microseconds=1)
    assert len(out) == 5 and all(r["ts_us"] >= cut_us for r in out)


def test_expire_before_unsupported_stats_type_raises(spark, tmp_path_factory):
    """A straddling run with a non-temporal, non-integer stats column
    must refuse loudly instead of mis-retaining rows."""
    path = str(tmp_path_factory.mktemp("tbl_bad_stats") / "t")
    tbl = CheckpointedTable(path, stats_col="score")
    rows = spark.range(10).select(
        F.col("id").alias("payload"),
        (F.col("id") * 1.5).alias("score"),  # double: no faithful compare
    )
    tbl.append(rows, "mixed")
    with pytest.raises(TypeError, match="unsupported type"):
        tbl.expire_before(spark, 7)  # cutoff inside [0, 13.5]


def test_empty_runs_tracked_and_survive_compaction(spark, tmp_path):
    """Zero-row appends are recorded in the manifest's empty_runs (no
    data scan — footer counts only) and content_runs() names exactly the
    runs that hold rows, stably across compaction."""
    from xs_vlm_ocr_spark.table_io import CheckpointedTable

    t = CheckpointedTable(str(tmp_path / "tcr"))
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    t.append(df, "r1")
    t.append(df.filter("id < 0"), "r2")       # zero rows, unbucketed
    t.append(df.filter("id >= 3"), "r3")
    assert t.all_time_runs() == {"r1", "r2", "r3"}
    assert t.content_runs() == {"r1", "r3"}
    assert t.read(spark).count() == 7

    t.compact(spark)
    assert t.content_runs() == {"r1", "r3"}   # bookkeeping survives
    assert "r2" not in t.content_runs()
    assert t.read(spark).count() == 7

    # bucketed shape: a zero-row run writes NO dir at all
    b = CheckpointedTable(str(tmp_path / "tcr_b"), bucket_key="id")
    b.append(df, "b1")
    b.append(df.filter("id < 0"), "b2")
    assert b.content_runs() == {"b1"}
    assert b.all_time_runs() == {"b1", "b2"}


def test_replace_refuses_committed_run_id(spark, tmp_path):
    """Rewriting the LIVE snapshot's dir in place would corrupt the
    table on a mid-write crash — replace() must refuse the id loudly
    (content-addressed callers skip the rewrite instead)."""
    import pytest

    from xs_vlm_ocr_spark.table_io import CheckpointedTable

    t = CheckpointedTable(str(tmp_path / "rg"))
    df = spark.range(3).selectExpr("id")
    t.replace(df, "s1")
    with pytest.raises(ValueError, match="committed snapshot"):
        t.replace(df, "s1")
    assert t.read(spark).count() == 3  # untouched
