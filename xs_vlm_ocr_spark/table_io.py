"""Checkpointed append-only table: parquet + atomic manifest.

Thin stand-in for the Iceberg tables the north rule specifies (snapshot
commit, resumability, lineage metrics table) — the sandbox has no Iceberg
jars, so the same semantics are provided by:

  * ONE run writer, ``_write_run``: every write verb (``append``,
    ``replace``, ``compact``, ``expire_before``, ``migrate``) lands its
    rows as parquet under ``<path>/data/run_id=<id>/`` through it — the
    only code that knows how a layout (plain or bucketed) writes a run;
  * ONE commit point: the atomic rewrite of ``<path>/manifest.json``
    (write-temp + os.replace) that publishes the written run. The
    full-table rewrites (``replace`` and, through it, ``compact``;
    ``migrate``) share ONE snapshot rewrite, ``_rewrite``: write the
    run, flip the manifest to ``[run_id]``, vacuum the replaced runs;
  * ``read`` sees ONLY committed runs — a crashed job's partial files are
    invisible, exactly like an uncommitted Iceberg snapshot. A bucketed
    table's catalog partitions are registered from the MANIFEST alone
    (never from a directory listing), so crash debris under ``data/``
    never becomes a partition;
  * resume = anti-join against ``read()`` (operators.dedup).

Run ids become a directory name and a partition literal, and the job
takes them from its caller, so each one must match
``[A-Za-z0-9][A-Za-z0-9_.-]*`` (``check_run_id``): a '/' or '..' would
write outside the table, and a character Spark escapes in partition
dirs (':' -> '%3A') would land a bucketed run where ``run_dir`` never
looks.

The manifest additionally records (Iceberg metadata analogues):

  * the physical LAYOUT (bucket_key/n_buckets or plain) — a constructor
    whose layout disagrees with the committed files fails LOUDLY with a
    ``migrate()`` hint instead of an IllegalStateException deep inside a
    bucketed scan over unbucketed files;
  * per-run MIN/MAX of a designated stats column (``stats_col``) — the
    manifest-level column statistics that let time-bounded reads prune
    whole committed runs before any file is opened. This is the
    reference's SECOND index, ``idx_timestamp`` (timestamp DESC,
    src/managers/HistoryManager.cpp:70-77), re-expressed as Iceberg
    manifest stats: runs are append-ordered by time, so a recent-window
    query over years of committed runs skips nearly every run without
    touching a single parquet footer (at 10^12 rows across thousands of
    snapshots, footer-level row-group pruning alone still costs millions
    of footer reads per query).

On a real cluster this class is replaced 1:1 by
``df.writeTo(tbl).append()`` on an Iceberg catalog; every caller goes
through this interface so the swap is local.

Reference analogue: the SQLite history store + content-hash cache commit
(reference src/managers/HistoryManager.cpp:275-328, 433-508).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from datetime import date, datetime, timedelta, timezone
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_EPOCH = datetime(1970, 1, 1)


def _to_us(v) -> int:
    """Stats-column value -> epoch microseconds (exact integer math; a
    float round-trip of a 2026 timestamp*1e6 already loses microsecond
    exactness). Naive datetimes are UTC by convention — the session TZ
    is pinned UTC everywhere in this engine (session.py)."""
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return (v - _EPOCH) // timedelta(microseconds=1)
    if isinstance(v, date):
        return (datetime(v.year, v.month, v.day) - _EPOCH) // timedelta(microseconds=1)
    if isinstance(v, str):
        return _to_us(datetime.fromisoformat(v))
    return int(v)


# Run-id prefixes minted by REWRITE operations (compact / expire /
# migrate / retention): snapshots whose rows all came from runs already
# committed. Every consumer that iterates "increments" (the near-dup
# sync loop, cluster maintenance, rehearsal tooling) must skip these —
# keep the list HERE, next to where rewrite ids are minted, so adding a
# rewrite kind cannot silently desynchronize a copy elsewhere (a stale
# copy once ingested a whole retained corpus as a fresh increment).
REWRITE_PREFIXES = ("compact-", "expire-", "migrate-", "retain-")

_RUN_ID_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]*")


def check_run_id(run_id: str) -> str:
    """``run_id`` unchanged if it is a safe run id (see the module
    docstring), else ValueError naming it — before anything is written."""
    if not isinstance(run_id, str) or not _RUN_ID_RE.fullmatch(run_id):
        raise ValueError(
            f"invalid run id {run_id!r}: a run id names a directory and a "
            "partition value, so it must match [A-Za-z0-9][A-Za-z0-9_.-]*"
        )
    return run_id


class CheckpointedTable:
    """``bucket_key`` opts a table into BUCKETED layout: every run is
    written ``bucketBy(n_buckets, key).sortBy(key)`` through the session
    catalog (an external table over the same ``data/`` dir, partitioned
    by run_id), so a recurring join on the key — the daily resume
    anti-join against a committed table that grows toward 10^12 rows —
    reads the committed side PRE-PARTITIONED: zero Exchange on the big
    side, only the new batch shuffles (tests/test_bucketing.py pins the
    plan). Each run holds ONE file per non-empty bucket, written by k =
    the largest divisor of n_buckets that is <= the cluster's task
    slots: a divisor routes every bucket to a single write task, so
    one task per core writes n_buckets / k whole buckets
    (``_bucketed_write``). The manifest stays the ONLY commit point:
    the catalog's ``run_id`` partitions are registered from it and every
    read filters to its runs, so crash atomicity is unchanged. On a real
    deployment this is the Iceberg ``bucket(N, content_hash)`` partition
    transform — same 1:1 swap as the rest of this class; reference
    analogue: ``idx_content_hash``, the reference's index on its
    cache-probe key (src/managers/HistoryManager.cpp:70-77).

    The default (bucket_key=None) keeps plain parquet appends and
    mergeSchema evolution; bucketed tables trade mergeSchema evolution
    for layout (exactly Iceberg's trade until a spec update) — an
    evolved-schema append to a bucketed table raises loudly at plan
    time (``append``'s schema guard) and the migration path is
    an atomic ``compact(spark, target_schema=...)`` rewrite.

    ``stats_col``: name of a column whose per-run min/max is recorded in
    the manifest at commit, enabling run-level pruning in ``read(...,
    ts_start=, ts_end=)`` and O(metadata) time retention
    (``expire_before``). Callers that know the bounds without a scan
    (the engine stamps one commit timestamp per run) pass
    ``stats_bounds`` to ``append``; otherwise the freshly written run —
    and only it — is scanned once for min/max.

    Every verb writes through ``_write_run`` (the one layout branch, the
    run-id check, the stats) and commits with one manifest rename;
    ``replace``/``compact``/``migrate`` are the one ``_rewrite``."""

    def __init__(self, path: str, bucket_key: str | None = None,
                 n_buckets: int = 32, stats_col: str | None = None) -> None:
        self.path = path
        self.bucket_key = bucket_key
        self.n_buckets = n_buckets
        self.stats_col = stats_col
        self.data_dir = os.path.join(path, "data")
        self.manifest_path = os.path.join(path, "manifest.json")
        # deterministic name: a NEW session (resume after crash) derives
        # the same catalog entry from the path and re-registers it
        digest = __import__("hashlib").md5(path.encode()).hexdigest()[:12]
        self.table_name = f"ckpt_{digest}"

    # ------------------------------------------------------------- manifest
    def _load_manifest(self) -> dict | None:
        if not os.path.exists(self.manifest_path):
            return None
        with open(self.manifest_path) as f:
            return json.load(f)

    def committed_runs(self) -> list[str]:
        m = self._load_manifest()
        return m["runs"] if m else []

    def run_stats(self) -> dict:
        """Per-run manifest stats: {run_id: {col, min_us, max_us}}.
        Runs committed before stats existed (or without a stats_col)
        simply have no entry — readers treat them conservatively."""
        m = self._load_manifest()
        return m.get("stats", {}) if m else {}

    def _layout(self) -> dict | None:
        if self.bucket_key is None:
            return None
        return {"bucket_key": self.bucket_key, "n_buckets": self.n_buckets}

    def check_layout(self) -> None:
        """Fail LOUDLY when the constructor's layout disagrees with the
        committed files — before any Spark scan. Without this, opening a
        pre-bucketing results dir as a bucketed table dies mid-scan with
        Spark's 'Invalid bucket file' IllegalStateException (no hint),
        and the reverse silently reads bucketed files without their
        layout guarantee. Every manifest with runs records its layout; a
        manifest without the record is refused, not guessed at."""
        m = self._load_manifest()
        if m is None or not m.get("runs"):
            return  # empty/new table: the constructor defines the layout
        if "layout" not in m:
            raise RuntimeError(
                f"checkpointed table {self.path} has committed runs but its "
                "manifest records no layout"
            )
        stored, mine = m["layout"], self._layout()
        if stored != mine:
            raise RuntimeError(
                f"checkpointed table {self.path} was committed with layout "
                f"{stored} but is being opened with layout {mine}: reads "
                "would fail mid-scan or lose the bucketing guarantee. "
                "Open it with the committed layout, or migrate the data: "
                "construct with the NEW layout and call .migrate(spark) "
                "(atomic rewrite; old snapshots stay readable until the "
                "manifest flips)."
            )

    def _write_manifest(self, runs: list[str], stats: dict,
                        meta: dict | None = None,
                        mark_empty: tuple[str, ...] = ()) -> None:
        """The ONLY commit point: write-temp + atomic rename.

        ``ancestry`` tracks every run id EVER committed that a rewrite
        (compact/replace/expire/migrate) later absorbed or dropped —
        Iceberg snapshot-lineage analogue. ``all_time_runs`` stays
        stable across rewrites, which is what incremental consumers
        keyed on run ids (the near-dup index heal loop, job.py) need:
        compacting an index table must not make its ingested increments
        look un-ingested.

        ``meta``: small table-level JSON dict (Iceberg table-properties
        analogue) committed in the SAME atomic rename as the data it
        describes — O(1) bookkeeping that survives compaction, zero-row
        snapshots and any row-level surgery (the previous home for
        derived-snapshot provenance was a constant per-row stamp column,
        which a zero-row snapshot loses and every rewrite re-parses and
        re-stamps row-wide). None preserves the committed meta.

        ``empty_runs``: run ids committed with ZERO data rows (a rerun
        of an already-ingested batch is the routine producer). Like
        ancestry it only ever grows and survives every rewrite — it is
        what lets :meth:`content_runs` name the runs that actually hold
        rows without touching data files."""
        old = self._load_manifest() or {}
        prev = set(old.get("runs", [])) | set(old.get("ancestry", []))
        empty = set(old.get("empty_runs", [])) | set(mark_empty)
        if meta is None:
            meta = old.get("meta", {})
        tmp = self.manifest_path + f".tmp.{uuid.uuid4().hex}"
        os.makedirs(self.path, exist_ok=True)
        live = set(runs)
        stats = {r: s for r, s in stats.items() if r in live}
        with open(tmp, "w") as f:
            json.dump({"runs": runs, "layout": self._layout(),
                       "stats": stats, "meta": meta,
                       "ancestry": sorted(prev - live),
                       "empty_runs": sorted(empty)}, f)
        os.replace(tmp, self.manifest_path)  # atomic commit point

    def get_meta(self) -> dict:
        """Committed table-level meta dict (empty for a new table)."""
        m = self._load_manifest() or {}
        return m.get("meta", {})

    def set_meta(self, meta: dict) -> None:
        """Replace the table-level meta dict (atomic manifest rewrite;
        runs/stats untouched). For meta only computable AFTER the data
        action — e.g. observed drop counts stamped onto a snapshot a
        moment after ``replace`` committed it; callers for whom the
        tiny data-without-meta crash window matters should pass ``meta``
        into append/replace instead (one atomic commit)."""
        self._write_manifest(self.committed_runs(), self.run_stats(),
                             meta=meta)

    def all_time_runs(self) -> set[str]:
        """Every run id ever committed, including those folded away by
        rewrites — the stable bookkeeping key for incremental ingestion
        (a compacted table still knows which increments it contains)."""
        m = self._load_manifest() or {}
        return set(m.get("runs", [])) | set(m.get("ancestry", []))

    def _commit(self, run_id: str, run_stat: dict | None = None,
                also_mark: list[str] | tuple[str, ...] = (),
                meta: dict | None = None,
                mark_empty: tuple[str, ...] = ()) -> None:
        runs = self.committed_runs()
        for r in (run_id, *also_mark):
            if r not in runs:
                runs.append(r)
        stats = self.run_stats()
        if run_stat is not None:
            stats[run_id] = run_stat
        self._write_manifest(runs, stats, meta=meta, mark_empty=mark_empty)

    def _run_holds_rows(self, run_id: str) -> bool:
        """Whether the just-written run dir holds any data row — parquet
        FOOTER counts only, no data scan (a zero-row bucketed write
        creates no dir at all; an unbucketed empty write creates
        schema-only part files whose footers say num_rows=0)."""
        d = self.run_dir(run_id)
        if not os.path.isdir(d):
            return False
        import pyarrow.parquet as pq

        return any(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows > 0
            for root, _dirs, files in os.walk(d)
            for f in files if f.endswith(".parquet")
        )

    def content_runs(self) -> set[str]:
        """Run ids that contributed actual rows: ``all_time_runs`` minus
        the committed-empty set minus rewrite snapshots (compact/expire/
        migrate re-arrange committed content, they never add any; their
        original ids stay in ancestry). The stable CONTENT key for
        consumers that derive state identity from "which data went in"
        (e.g. the deterministic write_deduped snapshot id) — a routine
        zero-new-docs rerun mints a run id, and a compaction mints a
        rewrite id, but neither must look like new content."""
        m = self._load_manifest() or {}
        return {
            r for r in self.all_time_runs()
            if not r.startswith(REWRITE_PREFIXES)
        } - set(m.get("empty_runs", []))

    def _compute_run_stat(self, spark: SparkSession, run_id: str,
                          stats_bounds=None) -> dict | None:
        if self.stats_col is None:
            return None
        if stats_bounds is not None:
            lo, hi = stats_bounds
        else:
            from pyspark.sql import functions as F

            # a zero-row run on a bucketed table commits a manifest
            # entry with NO run dir — nothing to scan, no pruning info
            if not os.path.isdir(self.run_dir(run_id)):
                return None
            row = spark.read.parquet(self.run_dir(run_id)).agg(
                F.min(self.stats_col), F.max(self.stats_col)
            ).first()
            lo, hi = row[0], row[1]
        if lo is None or hi is None:
            return None  # empty run (or all-null column): no pruning info
        return {"col": self.stats_col, "min_us": _to_us(lo), "max_us": _to_us(hi)}

    def _prune_runs(self, runs: list[str], ts_start, ts_end) -> list[str]:
        """Manifest-level run pruning: drop runs whose [min,max] stats
        interval cannot overlap [ts_start, ts_end]; runs without stats
        are conservatively kept. The row-level predicate still applies
        downstream — pruning is a strict superset guarantee."""
        if ts_start is None and ts_end is None:
            return runs
        lo = _to_us(ts_start) if ts_start is not None else None
        hi = _to_us(ts_end) if ts_end is not None else None
        stats = self.run_stats()
        kept = []
        for r in runs:
            s = stats.get(r)
            if s is None:
                kept.append(r)
                continue
            if (lo is not None and s["max_us"] < lo) or (
                hi is not None and s["min_us"] > hi
            ):
                continue
            kept.append(r)
        return kept

    # ----------------------------------------------------------------- I/O
    def run_dir(self, run_id: str) -> str:
        return os.path.join(self.data_dir, f"run_id={run_id}")

    def _write_run(self, df: DataFrame, run_id: str,
                   stats_bounds=None) -> dict | None:
        """The ONE run writer: writes ``df`` as run ``run_id`` in this
        table's layout — plain parquet under ``run_dir``, or
        ``_bucketed_write`` — and returns its manifest stat. It commits
        nothing: publishing the run is the caller's manifest rename."""
        check_run_id(run_id)
        if self.bucket_key is None:
            df.write.mode("overwrite").parquet(self.run_dir(run_id))
        else:
            self._bucketed_write(df, run_id)
        return self._compute_run_stat(df.sparkSession, run_id, stats_bounds)

    def _rewrite(self, df: DataFrame, run_id: str, stats_bounds=None,
                 meta: dict | None = None) -> None:
        """The ONE snapshot rewrite: write ``df`` as run ``run_id``, flip
        the manifest to ``[run_id]`` in one rename, then vacuum the runs
        it replaced (expired snapshots). A crash before the rename leaves
        the old snapshot committed and intact."""
        old_runs = self.committed_runs()
        stat = self._write_run(df, run_id, stats_bounds)
        self._write_manifest([run_id], {run_id: stat} if stat else {},
                             meta=meta)
        for r in old_runs:  # post-commit cleanup
            self.abandon(r)

    def _ensure_registered(self, spark: SparkSession,
                           schema: T.StructType) -> None:
        """Catalog registration for the bucketed layout. The in-memory
        catalog dies with the session, so a resumed job re-creates the
        SAME external table (name derived from path) over the existing
        data dir — the files, not the catalog, are the durable artifact
        (like an Iceberg metadata re-read). The entry starts with no
        partitions: ``read`` registers the committed runs from the
        manifest, so an uncommitted run dir never becomes one."""
        if spark.catalog.tableExists(self.table_name):
            return
        # pre-create the location: CREATE TABLE over a missing dir logs a
        # noisy (benign) FileStreamSink FileNotFoundException warning
        os.makedirs(self.data_dir, exist_ok=True)
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in schema.fields if f.name != "run_id"
        )
        spark.sql(
            f"CREATE TABLE {self.table_name} ({cols}, run_id string) "
            f"USING parquet PARTITIONED BY (run_id) "
            f"CLUSTERED BY ({self.bucket_key}) "
            f"SORTED BY ({self.bucket_key}) INTO {self.n_buckets} BUCKETS "
            f"LOCATION '{self.data_dir}'"
        )

    def append(self, df: DataFrame, run_id: str, stats_bounds=None,
               also_mark: list[str] | tuple[str, ...] = (),
               meta: dict | None = None) -> None:
        """Write then commit. Crash before the manifest rewrite leaves the
        table unchanged (the partial run dir is garbage, never read).

        ``stats_bounds``: known (min, max) of ``stats_col`` for this run
        — skips the post-write stats scan (the engine's results table
        stamps ONE commit timestamp per run, so bounds are exact and
        free).

        ``also_mark``: extra run ids committed in the SAME atomic
        manifest write, with no data of their own (reads tolerate
        dir-less committed runs — the zero-row-run shape). Used by
        bootstrap-style ingestion where one data run covers content the
        bookkeeping tracks under other ids: marking in the same commit
        leaves no crash window in which the data is committed but its
        coverage is not."""
        self.check_layout()
        if self.bucket_key is not None:
            # A bucketed table's schema is FIXED by its catalog entry —
            # an evolved-schema append would either throw Spark's opaque
            # saveAsTable mismatch or silently corrupt the layout, so it
            # is rejected HERE with the migration path spelled out
            # (Iceberg analogue: schema evolution needs a table-spec
            # update, not a write; reference analogue: the ALTER TABLE
            # migration, HistoryManager.cpp:70-77). replace()/compact()
            # are full rewrites and may legitimately change the schema.
            diff = self._catalog_schema_mismatch(df.sparkSession, df.schema)
            if diff is not None:
                raise ValueError(
                    f"schema evolution on BUCKETED table {self.path} "
                    f"({diff}): a bucketed table's schema is fixed by its "
                    "layout. Migrate atomically with compact(spark, "
                    "target_schema=<new schema>) — existing rows are "
                    "cast/null-extended and rewritten as one snapshot — "
                    "then retry the append."
                )
        stat = self._write_run(df, run_id, stats_bounds)
        mark_empty = () if self._run_holds_rows(run_id) else (run_id,)
        self._commit(run_id, stat, also_mark=also_mark, meta=meta,
                     mark_empty=mark_empty)

    def _catalog_schema_mismatch(self, spark: SparkSession,
                                 schema: T.StructType) -> str | None:
        """Bucketed schema-evolution guard: the incoming run's columns
        vs the committed ones (order-insensitive; run_id excluded).
        The committed schema comes from the catalog entry when
        registered, else — fresh session appending to durable files —
        out of an existing run dir's parquet footer, so the guard holds
        across session restarts too. Returns a human diff or None."""
        if spark.catalog.tableExists(self.table_name):
            committed = spark.table(self.table_name).schema
        else:
            dirs = [d for d in (self.run_dir(r) for r in self.committed_runs())
                    if os.path.exists(d)]
            if not dirs:
                return None
            committed = spark.read.parquet(dirs[0]).schema
        have = {
            f.name: f.dataType.simpleString()
            for f in committed.fields if f.name != "run_id"
        }
        want = {f.name: f.dataType.simpleString()
                for f in schema.fields if f.name != "run_id"}
        if have == want:
            return None
        added = sorted(set(want) - set(have))
        missing = sorted(set(have) - set(want))
        changed = sorted(
            f"{k}: {have[k]} -> {want[k]}"
            for k in set(have) & set(want) if have[k] != want[k]
        )
        return f"added={added} missing={missing} changed={changed}"

    def _bucketed_write(self, df: DataFrame, run_id: str) -> None:
        """One bucketed snapshot write. The hash-repartition on the key
        is load-bearing: Spark's bucket id is Murmur3Hash(key) pmod
        n_buckets, and repartition(k, col) routes a row by the SAME hash
        pmod k. With k dividing n_buckets, pmod(h, k) is a function of
        pmod(h, n_buckets), so every bucket's rows land in exactly ONE
        write task and each run holds ONE file per non-empty bucket
        (without the repartition, every upstream partition writes its
        own file per bucket: tasks x buckets small files per run —
        measured 1000+ files for one 5k-doc append). Each task writes
        n_buckets / k bucket files. k is the largest divisor of
        n_buckets that fits the task slots (defaultParallelism): one task
        per core, not one per bucket — on 4 cores a 32-bucket append runs
        4 tasks in one wave instead of 32 in 8, and with >= n_buckets
        slots k = n_buckets. k stays a fixed-number repartition, so AQE
        cannot coalesce it. Iceberg analogue:
        write.distribution-mode=hash on a bucket-transform table.

        Schema guarding lives in the CALLERS: ``append`` rejects an
        evolved schema outright; ``replace`` (and so ``compact``) is a
        full rewrite, so it re-creates the catalog entry when the schema
        changes instead, and ``migrate`` drops the entry up front."""
        from pyspark.sql import functions as F

        spark = df.sparkSession
        self._ensure_registered(spark, df.schema)
        self.abandon(run_id)  # retry of a crashed run: clean partial dir
        slots = spark.sparkContext.defaultParallelism
        k = max(d for d in range(1, min(slots, self.n_buckets) + 1)
                if self.n_buckets % d == 0)
        (
            df.repartition(k, F.col(self.bucket_key))
            .withColumn("run_id", F.lit(run_id))
            .write.partitionBy("run_id")
            .bucketBy(self.n_buckets, self.bucket_key)
            .sortBy(self.bucket_key)
            .mode("append")
            .format("parquet")
            .saveAsTable(self.table_name)
        )

    def abandon(self, run_id: str) -> None:
        shutil.rmtree(self.run_dir(run_id), ignore_errors=True)
        if self.bucket_key is not None:
            active = SparkSession.getActiveSession()
            if active is not None and active.catalog.tableExists(self.table_name):
                active.sql(
                    f"ALTER TABLE {self.table_name} DROP IF EXISTS "
                    f"PARTITION (run_id='{run_id}')"
                )

    def replace(self, df: DataFrame, run_id: str, stats_bounds=None,
                meta: dict | None = None) -> None:
        """Rewrite the table as a single snapshot (``_rewrite``, atomic):
        the manifest flips to [run_id] in one rename; old run dirs become
        garbage (expired snapshots) and are vacuumed afterwards. Reference
        analogue: top-N retention rewrite + VACUUM (HistoryManager.cpp:
        330-363, 391-395); Iceberg analogue: overwrite + expire_snapshots.

        A bucketed replace REFUSES a plan that reads this table through
        its own catalog entry (self-insert: the bucketed write appends
        into the very table the plan scans — it happens to work while
        appends only add new run_id partitions, but is fragile against
        stricter self-insert checks or a mid-write re-scan). Build the
        rewrite plan from ``read_raw()`` instead — plain parquet over
        the committed run dirs, the same trick ``compact`` uses.

        REFUSES a run_id that is already committed: the rewrite targets
        that id's run dir, so overwriting the LIVE snapshot's files
        before the manifest rename would turn a mid-write crash into
        committed-manifest-points-at-partial-data — the one sequence
        that breaks the write-then-flip discipline. Content-addressed
        callers (deterministic snapshot ids) must skip the rewrite when
        the id is already committed (same id == same content); see
        job.write_deduped, whose idempotent rerun first hit this."""
        self.check_layout()
        if run_id in self.committed_runs():
            raise ValueError(
                f"replace() on {self.path}: run_id '{run_id}' is the "
                "committed snapshot — rewriting its dir in place would "
                "corrupt the live table on a mid-write crash. Skip the "
                "rewrite (content-addressed ids: same id == same "
                "content) or mint a fresh id."
            )
        if self.bucket_key is not None:
            plan = df._jdf.queryExecution().analyzed().toString()
            if self.table_name in plan:
                raise ValueError(
                    f"replace() on bucketed table {self.path}: the incoming "
                    "plan reads this table's own catalog entry "
                    f"({self.table_name}) — a self-insert. Rebuild the plan "
                    "from table.read_raw(spark) (plain parquet over the "
                    "committed run dirs) and retry."
                )
            # a rewrite may legitimately change the schema (compaction
            # migration); the catalog entry pins the old one — re-create
            # it (external table: data files untouched)
            if self._catalog_schema_mismatch(df.sparkSession, df.schema) is not None:
                df.sparkSession.sql(f"DROP TABLE IF EXISTS {self.table_name}")
        self._rewrite(df, run_id, stats_bounds, meta)

    def compact(self, spark: SparkSession,
                target_schema: T.StructType | None = None) -> str | None:
        """Merge all committed snapshots into ONE (Iceberg analogue:
        rewrite_data_files + expire_snapshots; reference analogue:
        VACUUM, HistoryManager.cpp:391-395).

        A run-per-append layout accumulates a directory per ingest — at
        daily 100 TB ingests that is the classic small-file problem:
        scan tasks multiply, bucket files fragment (each append writes
        its own per-bucket files, so a bucketed read opens
        runs x buckets files per bucket). Compaction rewrites the table
        as one snapshot through ``replace``: the source is ``read_raw``
        (plain parquet, bypassing the catalog so the rewrite never
        inserts into a table it is reading), bucketed tables land one
        file per bucket (``_bucketed_write``'s hash-repartition), and the
        manifest flip is the same atomic commit as every other write — a
        crash mid-compaction leaves the old snapshots fully intact.

        ``target_schema``: SCHEMA MIGRATION for bucketed tables (whose
        appends reject evolution): existing columns are cast to the
        target type, absent columns materialize as typed nulls, columns
        not in the target are dropped, and ``replace`` re-creates the
        catalog entry with the new schema in the same atomic rewrite.
        With a target_schema the rewrite proceeds even for a
        single-snapshot table (it is a migration, not just a merge)."""
        from pyspark.sql import functions as F

        # gate on committed RUNS, not physical dirs: a zero-row run
        # commits a manifest entry with no dir, and folding it into the
        # snapshot (absorbed into ancestry) is exactly what bounds
        # manifest growth — gating on dirs once made compact a silent
        # no-op whenever a resume run contributed zero rows
        if len(self.committed_runs()) <= 1 and target_schema is None:
            return None
        src = self.read_raw(spark)
        if src is None:
            return None
        if target_schema is not None:
            src = src.select(*[
                (F.col(f.name) if f.name in src.columns
                 else F.lit(None)).cast(f.dataType).alias(f.name)
                for f in target_schema.fields if f.name != "run_id"
            ])
        run_id = f"compact-{uuid.uuid4().hex[:8]}"
        self.replace(src, run_id)
        return run_id

    def maybe_compact(self, spark: SparkSession, max_runs: int) -> str | None:
        """Compaction POLICY hook: compact when the committed-run count
        exceeds ``max_runs``, bounding file-count growth in long-lived
        deployments (every append adds a run dir; a bucketed read opens
        runs x buckets files). Callers invoke it right after their own
        commit (job.ExtractionJob.run(compact_after=N)); crash-safety is
        compact()'s — the manifest flip is atomic, a crash mid-policy
        leaves all pre-policy snapshots committed and readable."""
        if len(self.committed_runs()) <= max_runs:
            return None
        return self.compact(spark)

    def expire_before(self, spark: SparkSession, cutoff) -> list[str]:
        """Time-axis retention in O(metadata): DROP whole runs whose
        manifest max stat is below the cutoff — no table rewrite, just
        an atomic manifest flip plus post-commit dir cleanup (Iceberg
        analogue: expire_snapshots; the ts-axis twin of the count-based
        ``retention_topn`` rewrite). The engine's results runs carry one
        commit timestamp each, so time retention is ALWAYS pure
        metadata there.

        Runs STRADDLING the cutoff (min < cutoff <= max) — possible for
        generic callers whose stats column varies within a run — are
        rewritten: their surviving rows land in ONE new run (committed
        with recomputed stats), and the manifest flip that publishes it
        simultaneously drops the straddlers; a crash before the flip
        changes nothing. Runs WITHOUT stats are kept untouched (pruning
        is conservative); returns the list of expired run ids."""
        from pyspark.sql import functions as F

        self.check_layout()
        cut_us = _to_us(cutoff)
        stats = self.run_stats()
        runs = self.committed_runs()
        dead, straddle, kept = [], [], []
        for r in runs:
            s = stats.get(r)
            if s is None:
                kept.append(r)
            elif s["max_us"] < cut_us:
                dead.append(r)
            elif s["min_us"] < cut_us:
                straddle.append(r)
            else:
                kept.append(r)
        if not dead and not straddle:
            return []
        new_stats = {r: stats[r] for r in kept if r in stats}
        new_runs = list(kept)
        if straddle:
            col = stats[straddle[0]]["col"]
            src = spark.read.option("mergeSchema", "true").parquet(
                *[self.run_dir(r) for r in straddle]
            )
            # the row filter must agree with _to_us's manifest encoding:
            # integer stats columns are epoch MICROseconds by convention
            # (compare directly — a bigint->timestamp cast would read
            # them as SECONDS and silently keep every below-cutoff row
            # in the boundary run); temporal/string columns go through
            # the timestamp cast. Anything else can't be compared
            # faithfully — refuse rather than mis-retain.
            dt = src.schema[col].dataType
            if isinstance(dt, (T.ByteType, T.ShortType,
                               T.IntegerType, T.LongType)):
                src = src.filter(F.col(col) >= F.lit(cut_us))
            elif isinstance(dt, (T.TimestampType, T.TimestampNTZType,
                                 T.DateType, T.StringType)):
                src = src.filter(
                    F.col(col).cast("timestamp")
                    >= F.lit(_EPOCH + timedelta(microseconds=cut_us))
                )
            else:
                raise TypeError(
                    f"expire_before straddle rewrite on {self.path}: "
                    f"stats column {col!r} has unsupported type "
                    f"{dt.simpleString()} (supported: integer epoch-us, "
                    "timestamp, date, ISO string)"
                )
            boundary = f"expire-{uuid.uuid4().hex[:8]}"
            stat = self._write_run(src, boundary)
            if stat is not None:
                new_stats[boundary] = stat
            new_runs.append(boundary)
        # atomic flip: boundary run published AND expired runs dropped in
        # one rename; crash before this line leaves the table unchanged
        self._write_manifest(new_runs, new_stats)
        for r in dead + straddle:  # post-commit cleanup (vacuum)
            self.abandon(r)
        return dead + straddle

    def migrate(self, spark: SparkSession) -> str | None:
        """Atomic layout migration: rewrite the committed rows into the
        CONSTRUCTOR'S layout (the one ``check_layout`` just refused to
        open). Plain->bucketed backfills an upgraded deployment's
        pre-bucketing results dir; bucketed->plain (or re-bucketing)
        works the same way. The data is re-sourced through ``read_raw``
        (parquet files are parquet regardless of bucket layout), any
        stale catalog entry is dropped, and the rewrite is the usual
        ``_rewrite``. Unlike ``replace`` it skips ``check_layout``:
        opening a mismatched layout is its purpose."""
        src = self.read_raw(spark)
        if src is None:  # stamp the layout only
            self._write_manifest(self.committed_runs(), self.run_stats())
            return None
        spark.sql(f"DROP TABLE IF EXISTS {self.table_name}")
        run_id = f"migrate-{uuid.uuid4().hex[:8]}"
        self._rewrite(src, run_id)
        return run_id

    def read_raw(self, spark: SparkSession) -> DataFrame | None:
        """Committed rows as a PLAIN parquet read over the run dirs,
        bypassing the catalog — no bucketed-scan guarantee, but safe as
        the SOURCE of a plan that ``replace()``s this same table (the
        bucketed write must never insert into a table its own plan is
        scanning) — the source ``compact`` and ``migrate`` rewrite."""
        dirs = [d for d in (self.run_dir(r) for r in self.committed_runs())
                if os.path.exists(d)]
        if not dirs:
            return None
        return spark.read.option("mergeSchema", "true").parquet(*dirs)

    def read(self, spark: SparkSession, ts_start=None, ts_end=None) -> DataFrame | None:
        """DataFrame over committed runs only; None when table is empty.

        ``ts_start``/``ts_end`` (optional, inclusive): manifest-stats run
        pruning on ``stats_col`` — runs whose recorded [min,max] cannot
        overlap the window contribute NO files to the scan (the
        reference's idx_timestamp, as Iceberg-style metadata pruning).
        The caller still applies its row-level predicate; pruning only
        guarantees a superset. Runs without stats are always read.

        Unbucketed: mergeSchema — schema evolution across snapshots (a
        run appended with an added column reads as the UNION schema,
        older rows null for the new column). Reference analogue:
        in-place store migration, ALTER TABLE history ADD COLUMN
        content_hash (HistoryManager.cpp:70-77).

        Bucketed: a catalog-table scan filtered to committed run_id
        partitions (partition-pruned; uncommitted/crashed runs are never
        registered and never read) — the scan reports
        HashPartitioning(bucket_key, n_buckets), so downstream joins and
        aggregations on the key add no Exchange on this side."""
        from pyspark.sql import functions as F

        self.check_layout()
        runs = self._prune_runs(self.committed_runs(), ts_start, ts_end)
        live = [r for r in runs if os.path.exists(self.run_dir(r))]
        if not live:
            return None
        if self.bucket_key is None:
            return spark.read.option("mergeSchema", "true").parquet(
                *map(self.run_dir, live))
        if not spark.catalog.tableExists(self.table_name):
            # fresh session over durable files: re-create the entry
            self._ensure_registered(
                spark, spark.read.parquet(self.run_dir(live[0])).schema)
        # THE partition registration: every committed run the catalog
        # entry lacks (all of them after a re-creation; runs another
        # process committed since this session registered the table)
        # is added from the manifest — the run_id filter below would
        # silently drop their rows. SHOW PARTITIONS is a catalog lookup
        # on the driver, no Spark job.
        known = {unquote(row[0].split("=", 1)[1]) for row in
                 spark.sql(f"SHOW PARTITIONS {self.table_name}").collect()}
        missing = [r for r in live if r not in known]
        if missing:
            spark.sql(f"ALTER TABLE {self.table_name} ADD IF NOT EXISTS "
                      + " ".join(f"PARTITION (run_id='{r}')" for r in missing))
        return (
            spark.table(self.table_name)
            .filter(F.col("run_id").isin(runs))
            .drop("run_id")
        )
