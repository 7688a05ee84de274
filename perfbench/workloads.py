"""The benchmark's workloads: closed loops, one client, one process.

Each workload generates its inputs from the seed, seeds any committed
state and warms up during set-up, then runs its step schedule. A step is
one operation through the engine's public API, timed from the call until
its result is committed or collected; its output check runs after the
clock stops and counts against ``failed`` when it does not hold.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from perfbench import inputs

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool
    traced: bool
    info: dict = field(default_factory=dict)


class OpFailed(Exception):
    """An operation raised: the workload's state is unknown, so the run
    stops scheduling steps."""


class Recorder:
    """Times operations and records their outcomes. In a traced run the
    ops of each kind alternate traced and untraced (kinds that run once
    are always traced), so one process yields both the per-layer spans
    and the tracing overhead on the same inputs. Which of the two runs
    first flips with the seed, so the overhead is not the difference
    between a first and a second execution."""

    def __init__(self, tracer, trace: bool, seed: int = 0) -> None:
        self.tracer = tracer
        self.trace = trace
        self.seed = seed
        self.ops: list[Op] = []
        self._seen: dict[str, int] = {}
        self._flip = bool(seed % 2)

    def run(self, kind: str, fn, check, once: bool = False,
            paired: bool = False):
        """Time ``fn(info)``, then run ``check(result, info)``. A
        ``paired`` op has no side effects: a traced run times it both
        untraced and traced, back to back on the same state, the order
        flipping from one paired op to the next."""
        if self.trace and paired:
            self._flip = not self._flip
            first = self._run_one(kind, fn, check, traced=self._flip)
            self._run_one(kind, fn, check, traced=not self._flip)
            return first
        n = self._seen.get(kind, 0)
        self._seen[kind] = n + 1
        return self._run_one(kind, fn, check,
                             traced=self.trace and (once or (n + self.seed) % 2 == 0))

    def _run_one(self, kind: str, fn, check, traced: bool):
        info: dict = {}
        self.tracer.active = traced
        t0 = time.monotonic()
        try:
            with self.tracer.span(kind, "op", info):
                out = fn(info)
            latency = time.monotonic() - t0
        except Exception as exc:
            traceback.print_exc()
            self.ops.append(Op(kind, time.monotonic() - t0, False, traced, info))
            raise OpFailed(kind) from exc
        finally:
            self.tracer.active = False
        try:
            ok = bool(check(out, info))
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"check failed: {kind} {info}", flush=True)
        self.ops.append(Op(kind, latency, ok, traced, info))
        return out


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _time(fn):
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def parquet(table) -> str:
    """A DuckDB scan of a CheckpointedTable's committed run files; the
    checks read committed state without starting Spark jobs."""
    files = [f for r in table.committed_runs()
             for f in glob.glob(os.path.join(table.run_dir(r), "**", "*.parquet"),
                                recursive=True)]
    return f"read_parquet({files!r}, hive_partitioning = false)"


def duck(db, table, sql: str, *args) -> list:
    """Run ``sql`` in DuckDB with the view ``r`` over ``table``'s
    committed runs."""
    db.execute(f"CREATE OR REPLACE VIEW r AS SELECT * FROM {parquet(table)}")
    return db.execute(sql, list(args)).fetchall()


def _lineage_info(db, job, run_id: str, info: dict) -> None:
    rows = db.execute(f"SELECT docs_in, wall_ms FROM {parquet(job.lineage)} "
                      "WHERE run_id = ? AND stage = 'extract'", [run_id]).fetchall()
    info["docs_extracted"] = sum(r[0] for r in rows)
    walls = [r[1] for r in rows if r[1] is not None]
    if walls and statistics.median(walls) > 0:
        info["wall_max_over_median"] = max(walls) / statistics.median(walls)


# ---------------------------------------------------------------- reads

KEYWORDS = ("pipeline", "shuffle", "manifest", "kernel", "snapshot")


class HistoryReads:
    """The seven history reads, each through ``job.read_results`` and
    ``operators.history`` and collected, each checked against a DuckDB
    recompute over the same committed parquet files. Their parameters
    (ts window, keyword, point id, keyset cursor) are drawn from the
    seed and the committed state at the first read of each round."""

    kinds = ("filtered_count", "filter_history", "paginate", "page_after",
             "latest_per_key", "point_lookup", "retention_topn")

    def __init__(self, spark, db, seed: int) -> None:
        self.spark = spark
        self.db = db
        self.seed = seed
        self.job = None
        self.params: dict = {}

    def duck(self, sql: str, *args) -> list:
        return duck(self.db, self.job.results, sql, *args)

    def _params(self) -> dict:
        runs = self.job.results.committed_runs()
        stats = self.job.results.run_stats()[runs[-1]]
        rng = random.Random(f"{self.seed}:reads:{len(runs)}")
        ids = [r[0] for r in self.duck("SELECT id FROM r ORDER BY id")]
        page0 = self.duck("SELECT epoch_us(ts), id FROM r ORDER BY ts DESC, id DESC LIMIT 20")
        us = lambda v: _EPOCH + timedelta(microseconds=v)  # noqa: E731
        return {"lo": us(stats["min_us"]), "hi": us(stats["max_us"]),
                "lo_us": stats["min_us"], "hi_us": stats["max_us"],
                "kw": rng.choice(KEYWORDS), "point": rng.choice(ids),
                "after": (us(page0[-1][0]), page0[-1][1]), "after_us": page0[-1][0]}

    def run(self, j: int, rec: Recorder) -> None:
        from xs_vlm_ocr_spark.operators import history as H

        kind = self.kinds[j]
        if j == 0:
            self.params = self._params()
        p, job, spark = self.params, self.job, self.spark
        kw_pred = "(contains(lower(full_text), ?) OR contains(lower(model_name), ?))"
        order = "ORDER BY ts DESC, id DESC"
        if kind == "filtered_count":
            def q():
                df = job.read_results(spark, p["lo"], p["hi"])
                return [tuple(r) for r in H.filtered_count(
                    df, start=p["lo"], end=p["hi"], keyword=p["kw"]).collect()]
            sql = (f"SELECT count(*) FROM r WHERE epoch_us(ts) BETWEEN ? AND ? AND {kw_pred}",
                   p["lo_us"], p["hi_us"], p["kw"], p["kw"])
        elif kind == "filter_history":
            def q():
                return [tuple(r) for r in H.filter_history(
                    job.read_results(spark), keyword=p["kw"]).select("id").collect()]
            sql = (f"SELECT id FROM r WHERE {kw_pred}", p["kw"], p["kw"])
        elif kind == "paginate":
            def q():
                return [tuple(r) for r in H.paginate(
                    job.read_results(spark), "ts", "id", 1, 20).select("id").collect()]
            sql = (f"SELECT id FROM r {order} LIMIT 20 OFFSET 20",)
        elif kind == "page_after":
            def q():
                return [tuple(r) for r in H.page_after(
                    job.read_results(spark), "ts", "id", p["after"], 20).select("id").collect()]
            sql = (f"SELECT id FROM r WHERE epoch_us(ts) < ? OR (epoch_us(ts) = ? AND id < ?) "
                   f"{order} LIMIT 20", p["after_us"], p["after_us"], p["after"][1])
        elif kind == "latest_per_key":
            def q():
                return [tuple(r) for r in H.latest_per_key(
                    job.read_results(spark), ["doc_id"], "ts", "id")
                    .select("doc_id", "id").collect()]
            sql = (f"SELECT doc_id, id FROM (SELECT doc_id, id, row_number() OVER "
                   f"(PARTITION BY doc_id {order}) AS rn FROM r) WHERE rn = 1",)
        elif kind == "point_lookup":
            def q():
                return [tuple(r) for r in H.point_lookup(
                    job.read_results(spark), "id", p["point"])
                    .select("id", "doc_id", "full_text").collect()]
            sql = ("SELECT id, doc_id, full_text FROM r WHERE id = ?", p["point"])
        else:
            def q():
                return [tuple(r) for r in H.retention_topn(
                    job.read_results(spark), 50, "ts", "id").select("id").collect()]
            sql = (f"SELECT id FROM r {order} LIMIT 50",)
        ordered = kind in ("paginate", "page_after")

        def op(info):
            rows = q()
            info["rows_returned"] = len(rows)
            return rows

        def check(rows, info):
            want = [tuple(r) for r in self.duck(*sql)]
            return rows == want if ordered else sorted(rows) == sorted(want)

        rec.run(f"read.{kind}", op, check, paired=True)

    def warm_up(self) -> float:
        """One untimed round; raises when a read disagrees with DuckDB."""
        from perfbench.tracing import Tracer

        warm = Recorder(Tracer(self.spark), False)
        t = _time(lambda: [self.run(j, warm) for j in range(len(self.kinds))])
        if not all(op.ok for op in warm.ops):
            raise RuntimeError("history reads disagree with DuckDB in warm-up")
        return t


# ------------------------------------------------------------------ fresh

class IngestFresh:
    """``ExtractionJob.run`` with no derived stages over a seeded skewed
    corpus, each run into an empty output dir, followed by the seven
    history reads on the output it committed.

    Why: extraction Python compute, Arrow transport and the skew split
    dominate the ingest; the commit is one append and the ingest reads
    no history, so an extraction or skew change shows here. The corpus
    is written as twice as many files as the job's target partitions
    (the real-scale plan: the small-input fan-out guard stays off). The
    reads measure the read path on a one-run table.

    The job decides on the skew split from the p99/median byte length
    of a row sample. With the default 5% sample and the engine's 1% hot
    docs, whether the sample holds a hot doc depends on the file layout,
    which would switch the physical plan (and halve the ingest time)
    from seed to seed. So the job samples every row
    (``skew_sample_fraction=1.0``) and every 20th doc is hot: the p99
    estimate then always lands on a hot doc and every run takes the
    split, whatever the seed."""

    name = "ingest_fresh"
    round_len = 1 + len(HistoryReads.kinds)

    def __init__(self, spark, work: str, seed: int, smoke: bool, trace: bool) -> None:
        import duckdb

        self.spark = spark
        self.work = work
        self.seed = seed
        self.db = duckdb.connect()
        self.reads = HistoryReads(spark, self.db, seed)
        # the run after the cold one still runs ~30% slow (JIT tiering);
        # a traced run compares a traced and an untraced run, so both
        # must come after it
        self.warm_runs = 2 if trace else 1
        self.n_docs = 40 if smoke else 120
        # ExtractionJob.plan's default target: defaultParallelism * 3
        self.n_files = 2 * 3 * spark.sparkContext.defaultParallelism
        self.corpus: dict = {}
        self.facts: dict = {}

    def min_steps(self, trace: bool) -> int:
        # traced: one traced and one untraced ingest
        return self.round_len * (2 if trace else 1)

    def setup(self) -> dict[str, float]:
        t0 = time.monotonic()
        path = os.path.join(self.work, "in", "fresh")
        stats = inputs.write_docs(inputs.skewed_corpus(self.seed, self.n_docs),
                                  path, self.n_files)
        gen_s = time.monotonic() - t0
        self.corpus = {"path": path, **stats}
        self.facts = {"docs_per_run": self.n_docs, "files_per_run": self.n_files,
                      "input_bytes": stats["bytes"],
                      "why": "more files than target partitions: the real-scale "
                             "plan, fan-out guard off, skew split on"}

        # cold runs of the same corpus compile every plan the timed runs use
        def warm():
            for i in range(self.warm_runs):
                self.reads.job, _ = self._ingest(
                    path, os.path.join(self.work, "out", f"warm{i}"))
            self.reads.warm_up()
        return {"inputs_s": gen_s, "warmup_s": _time(warm)}

    def _ingest(self, in_dir: str, out_dir: str):
        from xs_vlm_ocr_spark.job import ExtractionJob

        job = ExtractionJob(out_dir, skew_sample_fraction=1.0)
        return job, job.run(self.spark, self.spark.read.parquet(in_dir))

    def step(self, i: int, rec: Recorder) -> None:
        j = i % self.round_len
        if j > 0:
            self.reads.run(j - 1, rec)
            return
        c = self.corpus
        out = _fresh_dir(os.path.join(self.work, "out", "fresh"))

        def op(info):
            info["docs_offered"] = c["docs"]
            return self._ingest(c["path"], out)

        res = rec.run("ingest", op, lambda res, info: self._check(c, out, res, info))
        self.reads.job = res[0]

    def _check(self, c: dict, out: str, res, info: dict) -> bool:
        from xs_vlm_ocr_spark import corpus
        from xs_vlm_ocr_spark.extract.pipeline import extract_doc

        job, run_id = res
        results = parquet(job.results)
        n, ids, errors = self.db.execute(
            f"SELECT count(*), count(DISTINCT doc_id), count(*) FILTER (WHERE NOT success) "
            f"FROM {results}").fetchone()
        info["docs_committed"] = n
        info["error_rows"] = errors
        info["stored_ratio"] = inputs.dir_bytes(out) / c["bytes"]
        info["runs_committed"] = len(job.results.committed_runs())
        ok = n == ids == c["docs"] and errors == 0
        # seeded sample against the pure single-doc oracle; always include
        # the first hot doc
        rng = random.Random(f"{self.seed}:sample")
        sample = sorted({corpus.doc_id_for(0)} | {corpus.doc_id_for(rng.randrange(c["docs"]))
                                                  for _ in range(19)})
        got = {doc_id: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans]
               for doc_id, spans in self.db.execute(
                   f"SELECT doc_id, spans_out FROM {results} WHERE list_contains(?, doc_id)",
                   [sample]).fetchall()}
        for doc_id in sample:
            want = [(s["kind"], s["text"], s["media_ref"], s["order"])
                    for s in extract_doc(inputs.skewed_doc(self.seed, doc_id)["spans"])]
            ok = ok and got.get(doc_id) == want
        _lineage_info(self.db, job, run_id, info)
        return ok

    def docs_per_s(self, ops: list[Op]) -> float:
        """Median over the ingests of docs committed / ``run()`` wall."""
        rates = [op.info["docs_committed"] / op.latency_s for op in ops
                 if op.kind == "ingest" and op.ok]
        return statistics.median(rates) if rates else 0.0


# --------------------------------------------------- incremental cleaning

QUALITY = {"min_quality": 0.9, "max_top_gram_frac": 0.08}


class IncrementalCleaning:
    """One long-lived output dir with the cleaning loop's near-dup index
    and quality signals on, read through its cleaned-corpus view after
    each commit.

    Set-up commits a base run (its cold first run is also the warm-up
    of the increment). The step schedule is: one
    increment of few files (fan-out guard on) mixing new
    interleave-shaped docs, re-delivered committed docs (skipped by the
    resume anti-join) and planted near-dup twins; then the cleaned-corpus
    read (``read_clean`` with quality gates: the cluster sync, then the
    dedup and quality decision), repeated while the run's time lasts.
    The first clean read is the process's first: it includes compiling
    its plans, and ``ingest_docs_per_s`` leaves it out.

    Why: the derived syncs (MinHash probe and append, signals, clusters)
    and the commit/manifest path dominate and grow with committed state;
    extraction is a small share, so an extraction gain should barely
    move this workload."""

    name = "incremental_cleaning"

    def __init__(self, spark, work: str, seed: int, smoke: bool, trace: bool) -> None:
        import duckdb

        self.spark = spark
        self.work = work
        self.seed = seed
        self.smoke = smoke
        self.db = duckdb.connect()
        self.job = None
        self.facts: dict = {}

    def min_steps(self, trace: bool) -> int:
        return 2  # the increment, the clean read

    def _duck(self, sql: str, *args) -> list:
        return duck(self.db, self.job.results, sql, *args)

    def _make_inputs(self, root: str) -> dict:
        n_base, n_new, n_redeliver, n_twins = (
            (40, 20, 5, 5) if self.smoke else (200, 100, 30, 20))
        rng = random.Random(f"{self.seed}:incremental")
        base = [inputs.interleave_doc(self.seed, i) for i in range(n_base)]
        new = [inputs.interleave_doc(self.seed, n_base + i) for i in range(n_new)]
        # twins of the longest bodies: one substituted word leaves their
        # 3-gram Jaccard J near 0.99, and the job's 4-band x 4-row MinHash
        # misses a pair with p = (1 - J^4)^4 < 1e-5; a short body's twin
        # (J ~ 0.88) is missed with p ~ 0.03, which would flake the check
        by_len = sorted(range(n_base),
                        key=lambda i: (-len(base[i]["spans"][2]["text"]), i))
        originals = by_len[:n_twins]
        redeliver = [base[i] for i in rng.sample(by_len[n_twins:], n_redeliver)]
        twins = [inputs.twin_of(base[i]) for i in originals]
        inc = new + redeliver + twins
        rng.shuffle(inc)
        os.makedirs(root)
        b = inputs.write_docs(base, os.path.join(root, "base"), 4)
        i = inputs.write_docs(inc, os.path.join(root, "inc"), 3)
        return {"root": root, "base": b, "inc": i, "n_new": n_new + n_twins,
                "n_offered": len(inc),
                "twin_pairs": [(base[i]["doc_id"], t["doc_id"])
                               for i, t in zip(originals, twins)]}

    def setup(self) -> dict[str, float]:
        from xs_vlm_ocr_spark.job import ExtractionJob

        t0 = time.monotonic()
        self.inp = self._make_inputs(os.path.join(self.work, "in", "inc"))
        gen_s = time.monotonic() - t0
        self.facts = {"base_docs": self.inp["base"]["docs"],
                      "base_files": self.inp["base"]["files"],
                      "increment_docs": self.inp["inc"]["docs"],
                      "increment_files": self.inp["inc"]["files"],
                      "input_bytes": self.inp["base"]["bytes"] + self.inp["inc"]["bytes"],
                      "why": "few files per increment: the fan-out guard fires"}
        self.out = _fresh_dir(os.path.join(self.work, "out", "history"))
        self.job = ExtractionJob(self.out, near_dup_threshold=0.5, compute_signals=True)
        seed_s = _time(lambda: self.job.run(
            self.spark, self.spark.read.parquet(os.path.join(self.inp["root"], "base"))))
        self.base_rows = self._duck("SELECT count(*) FROM r")[0][0]
        return {"inputs_s": gen_s, "seed_state_s": seed_s}

    def step(self, i: int, rec: Recorder) -> None:
        if i == 0:
            self._increment(rec)
        else:
            # the first clean read syncs the clusters; later ones find
            # them in step, so the traced run times the first one traced
            rec.run("read.clean", lambda info: self._read_clean(), self._check_clean,
                    once=i == 1)

    def _read_clean(self) -> list[str]:
        return [r[0] for r in self.job.read_clean(self.spark, **QUALITY)
                .select("doc_id").collect()]

    def _check_clean(self, kept: list[str], info: dict) -> bool:
        """The kept docs equal a DuckDB recompute of the decision over
        the committed tables: the smallest hash of each near-dup cluster
        (a doc in no pair is its own cluster) that passes the quality
        gates; and no planted twin pair is kept whole."""
        job = self.job
        want = [r[0] for r in self.db.execute(f"""
            WITH docs AS (SELECT DISTINCT content_hash AS h FROM {parquet(job.results)}
                          WHERE success AND length(full_text) > 0),
                 c AS (SELECT h, min(h) OVER (PARTITION BY coalesce(cl.component, h)) AS canon
                       FROM docs LEFT JOIN {parquet(job.neardup_clusters_tbl)} cl
                       ON cl.node = docs.h)
            SELECT h FROM c JOIN {parquet(job.signals)} s ON s.doc_id = c.h
            WHERE h = canon AND s.quality_score >= ? AND s.top_gram_frac <= ?""",
            [QUALITY["min_quality"], QUALITY["max_top_gram_frac"]]).fetchall()]
        info["docs_kept"] = len(kept)
        hash_of = dict(self._duck("SELECT doc_id, content_hash FROM r"))
        kept_set = set(kept)
        twins_ok = not any(hash_of[a] in kept_set and hash_of[b] in kept_set
                           for a, b in self.inp["twin_pairs"])
        return sorted(kept) == sorted(want) and twins_ok

    def _increment(self, rec: Recorder) -> None:
        inc_dir = os.path.join(self.inp["root"], "inc")
        duck = self._duck

        def op(info):
            info["docs_offered"] = self.inp["n_offered"]
            return self.job.run(self.spark, self.spark.read.parquet(inc_dir))

        def check(run_id, info):
            rows = duck("SELECT count(*) FROM r")[0][0]
            info["docs_committed"] = rows - self.base_rows
            info["runs_committed"] = len(self.job.results.committed_runs())
            info["stored_ratio"] = inputs.dir_bytes(self.out) / self.facts["input_bytes"]
            info["error_rows"] = duck("SELECT count(*) FROM r WHERE NOT success")[0][0]
            pairs = self.db.execute(
                f"SELECT a, b, run_id FROM {parquet(self.job.neardup_pairs)}").fetchall()
            info["pairs_out"] = sum(r[2] == run_id for r in pairs)
            info["pairs_in"] = len(pairs)
            _lineage_info(self.db, self.job, run_id, info)
            hash_of = dict(duck("SELECT doc_id, content_hash FROM r"))
            found = {frozenset(r[:2]) for r in pairs}
            twins_ok = all(frozenset((hash_of[a], hash_of[b])) in found
                           for a, b in self.inp["twin_pairs"])
            n_signals = self.db.execute(
                f"SELECT count(DISTINCT doc_id) FROM {parquet(self.job.signals)}"
            ).fetchone()[0]
            # re-delivered docs add no rows; every new doc and twin does
            return (info["docs_committed"] == self.inp["n_new"] and info["error_rows"] == 0
                    and twins_ok and n_signals == rows)

        rec.run("increment", op, check, once=True)

    def docs_per_s(self, ops: list[Op]) -> float:
        """Docs the increment committed / its ``run()`` wall."""
        inc = [op for op in ops if op.kind == "increment" and op.ok]
        return inc[0].info["docs_committed"] / inc[0].latency_s if inc else 0.0


WORKLOADS = {w.name: w for w in (IngestFresh, IncrementalCleaning)}
