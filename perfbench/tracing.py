"""Per-layer attribution for traced runs.

Spans come from wrappers installed around the engine's public calls
(module functions and class methods, patched in this process only;
nothing that runs inside a Python worker is wrapped). A span sets its
id as the Spark job group, so every Spark job a call triggers is tagged
with the innermost open span. The counts come from the Spark event log
the traced session writes; each job, stage, task and SQL-metric update
is attributed to a span through its job group.

Self time of a span = its duration minus the durations of its child
spans. The benchmark's own op spans are the roots; their self time is
work no wrapped engine call covers (``job.unattributed_ms``), so the
layers' self times plus that sum to the traced wall exactly.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict

from perfbench.workloads import HistoryReads

# (module, owner attribute or None for module functions, names, layer)
TARGETS = [
    ("xs_vlm_ocr_spark.job", "ExtractionJob",
     ["run", "plan", "sync_near_dup_index", "sync_signals", "sync_clusters",
      "near_dup_clusters", "read_clean", "read_results"], "job"),
    ("xs_vlm_ocr_spark.table_io", "CheckpointedTable",
     ["append", "replace", "read", "read_raw"], "table_io"),
    ("xs_vlm_ocr_spark.operators.extraction", None,
     ["valid_docs", "with_content_hash", "extract_spans",
      "split_extraction_output"], "extraction"),
    ("xs_vlm_ocr_spark.operators.skew", None,
     ["doc_length_stats", "repartition_by_doc_length"], "skew"),
    ("xs_vlm_ocr_spark.operators.dedup", None,
     ["committed_hashes", "filter_uncached", "decide_corpus"], "dedup"),
    ("xs_vlm_ocr_spark.operators.text_dedup", None,
     ["minhash_band_index", "minhash_pairs_from_index",
      "minhash_probe_index"], "text_dedup"),
    ("xs_vlm_ocr_spark.operators.text_analysis", None,
     ["repetition_signals"], "text_analysis"),
    ("xs_vlm_ocr_spark.operators.components", None,
     ["connected_components", "incremental_components",
      "finalize_canonical"], "components"),
    ("xs_vlm_ocr_spark.operators.history", None,
     ["filter_history", "filtered_count", "paginate", "page_after",
      "latest_per_key", "point_lookup", "retention_topn"], "history"),
]
LAYERS = ["job", "table_io", "extraction", "skew", "dedup", "text_dedup",
          "text_analysis", "components", "history"]
HISTORY_OPS = HistoryReads.kinds
_JOINS = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")
_GROUP_PREFIX = "perfbench-span-"

# name, unit, better — the per-layer metrics every traced run prints
METRICS = [
    ("extraction.python_ms", "ms", "lower"),
    ("extraction.python_rows", "count", "lower"),
    ("extraction.bytes_to_python", "bytes", "lower"),
    ("extraction.bytes_from_python", "bytes", "lower"),
    ("extraction.stage_task_ms", "ms", "lower"),
    ("extraction.jvm_ms", "ms", "lower"),
    ("extraction.error_rows", "count", "lower"),
    ("extraction.self_ms", "ms", "lower"),
    ("skew.stats_ms", "ms", "lower"),
    ("skew.extract_partitions", "count", "higher"),
    ("skew.task_wall_max_over_median", "ratio", "lower"),
    ("skew.self_ms", "ms", "lower"),
    ("dedup.docs_extracted", "count", "lower"),
    ("dedup.skip_ratio", "ratio", "higher"),
    ("dedup.decide_ms", "ms", "lower"),
    ("dedup.self_ms", "ms", "lower"),
    ("table_io.append_ms", "ms", "lower"),
    ("table_io.append_files", "count", "lower"),
    ("table_io.append_bytes", "bytes", "lower"),
    ("table_io.read_ms", "ms", "lower"),
    ("table_io.runs_committed", "count", "lower"),
    ("table_io.stored_bytes_per_input_byte", "ratio", "lower"),
    ("table_io.self_ms", "ms", "lower"),
    ("job.plan_ms", "ms", "lower"),
    ("job.stage_write_ms", "ms", "lower"),
    ("job.commit_ms", "ms", "lower"),
    ("job.sync_near_dup_ms", "ms", "lower"),
    ("job.sync_signals_ms", "ms", "lower"),
    ("job.sync_clusters_ms", "ms", "lower"),
    ("job.read_clean_ms", "ms", "lower"),
    ("job.unattributed_ms", "ms", "lower"),
    ("job.self_ms", "ms", "lower"),
    ("text_dedup.task_ms", "ms", "lower"),
    ("text_dedup.candidate_rows", "count", "lower"),
    ("text_dedup.pairs_out", "count", "higher"),
    ("text_dedup.candidate_yield", "ratio", "higher"),
    ("text_dedup.shuffle_bytes", "bytes", "lower"),
    ("text_dedup.self_ms", "ms", "lower"),
    ("text_analysis.signals_task_ms", "ms", "lower"),
    ("text_analysis.self_ms", "ms", "lower"),
    ("components.ms", "ms", "lower"),
    ("components.jobs", "count", "lower"),
    ("components.pairs_in", "count", "lower"),
    ("components.self_ms", "ms", "lower"),
    *[(f"history.{op}_p50_ms", "ms", "lower") for op in HISTORY_OPS],
    ("history.planning_ms", "ms", "lower"),
    ("history.rows_scanned_per_row_returned", "ratio", "lower"),
    ("history.files_scanned_per_read", "count", "lower"),
    ("history.self_ms", "ms", "lower"),
    ("spark.task_busy_frac", "ratio", "higher"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("trace.wall_ms", "ms", "lower"),
    ("trace.overhead_ms", "ms", "lower"),
]


class Tracer:
    """Span recorder. Spans are kept in memory and written out once,
    when the run ends. Inactive (the untraced ops of a traced run, and
    every op of an untraced run) a wrapper is one extra Python call."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.active = False
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, layer: str, info: dict | None = None):
        if not self.active:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "epoch_ms": time.time() * 1000, "t0": time.monotonic(),
               "t1": None, "info": info if info is not None else {}}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"{_GROUP_PREFIX}{sid}", name)
        try:
            yield rec
        finally:
            rec["t1"] = time.monotonic()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"{_GROUP_PREFIX}{parent['id']}",
                                    parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # --------------------------------------------------------- wrapping
    def install(self) -> None:
        """Wrap every TARGETS call, including the aliases other engine
        modules imported by name (``from ... import extract_spans``)."""
        import importlib

        for modname, owner_name, names, layer in TARGETS:
            mod = importlib.import_module(modname)
            owner = getattr(mod, owner_name) if owner_name else mod
            prefix = owner_name or modname.rsplit(".", 1)[-1]
            for name in names:
                orig = getattr(owner, name)
                wrapper = self._wrap(orig, f"{prefix}.{name}", layer)
                if owner_name:
                    self._patch(owner, name, wrapper)
                    continue
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith("xs_vlm_ocr_spark"):
                        for attr, val in list(vars(m).items()):
                            if val is orig:
                                self._patch(m, attr, wrapper)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)
        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patches):
            setattr(owner, attr, old)
        self._patches.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ----------------------------------------------------------- event log

class EventLog:
    """The counts a traced session's event log holds, keyed by span id."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}          # job id -> {span, time}
        self.span_jobs: dict[int, list[int]] = defaultdict(list)
        self.stage_span: dict[int, int | None] = {}
        self.exec_span: dict[int, int | None] = {}
        self.acc_node: dict[int, tuple[str, str]] = {}
        # span -> counter name -> value
        self.counts: dict[int | None, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        # stage ids whose tasks ran a Python UDF node
        self.python_stages: set[int] = set()
        self.stage_tasks: dict[int, int] = defaultdict(int)
        self.stage_run_ms: dict[int, float] = defaultdict(float)
        files = [f for f in glob.glob(os.path.join(log_dir, "*"))
                 if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    @staticmethod
    def _span_of(props: dict) -> int | None:
        group = (props or {}).get("spark.jobGroup.id") or ""
        return int(group[len(_GROUP_PREFIX):]) if group.startswith(_GROUP_PREFIX) else None

    def _plan(self, info: dict) -> None:
        for m in info.get("metrics", []):
            self.acc_node[m["accumulatorId"]] = (info["nodeName"], m["name"])
        for child in info.get("children", []):
            self._plan(child)

    def _acc(self, span, acc_id: int, value) -> None:
        node = self.acc_node.get(acc_id)
        if node is None or value is None:
            return
        try:  # task accumulable updates are logged as strings
            value = float(value)
        except (TypeError, ValueError):
            return
        self.counts[span][f"{node[0]}|{node[1]}"] += value
        if node[0].startswith(_JOINS) and node[1] == "number of output rows":
            self.counts[span]["join_rows"] += value

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = self._span_of(props)
            self.jobs[e["Job ID"]] = {"span": span, "time": e["Submission Time"]}
            if span is not None:
                self.span_jobs[span].append(e["Job ID"])
                self.counts[span]["jobs"] += 1
            for sid in e["Stage IDs"]:
                self.stage_span.setdefault(sid, span)
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                self.exec_span.setdefault(int(ex), span)
        elif kind == "SparkListenerTaskEnd":
            stage = e["Stage ID"]
            span = self.stage_span.get(stage)
            m = e.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            c = self.counts[span]
            c["tasks"] += 1
            c["run_ms"] += run_ms
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            c["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            self.stage_tasks[stage] += 1
            self.stage_run_ms[stage] += run_ms
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                node = self.acc_node.get(a["ID"])
                if node is not None and node[0] == "ArrowEvalPython":
                    self.python_stages.add(stage)
                self._acc(span, a["ID"], a.get("Update"))
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            span = self.exec_span.get(e["executionId"])
            for acc_id, value in e["accumUpdates"]:
                self._acc(span, acc_id, value)


# ----------------------------------------------------------- report

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(spans: list[dict], log: EventLog, ops: list,
                  cores: int) -> dict[str, float]:
    """Every METRICS value from the traced spans, the event log and the
    per-op facts the workload recorded (``op.info``)."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])

    def dur(s):
        return (s["t1"] - s["t0"]) * 1000

    def self_ms(s):
        return dur(s) - sum(dur(by_id[k]) for k in kids[s["id"]])

    def subtree(sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids[x])
        return out

    def total(name=None, layer=None, parent_name=None, outermost=False):
        acc = 0.0
        for s in spans:
            if name is not None and s["name"] != name:
                continue
            if layer is not None and s["layer"] != layer:
                continue
            parent = by_id.get(s["parent"])
            if parent_name is not None and (parent is None or parent["name"] != parent_name):
                continue
            if outermost and parent is not None and parent["layer"] == s["layer"]:
                continue
            acc += dur(s)
        return acc

    def counts_under(pred, key):
        return sum(log.counts[x].get(key, 0.0)
                   for s in spans if pred(s) for x in subtree(s["id"]))

    def count_all(key):
        return sum(log.counts[s["id"]].get(key, 0.0) for s in spans)

    roots = [s for s in spans if s["parent"] is None]
    wall = sum(dur(s) for s in roots)
    out: dict[str, float] = {}
    selfs = defaultdict(float)
    for s in spans:
        selfs["unattributed" if s["parent"] is None else s["layer"]] += self_ms(s)
    for layer in LAYERS:
        out[f"{layer}.self_ms"] = selfs[layer]
    out["job.unattributed_ms"] = selfs["unattributed"]

    py = "ArrowEvalPython|"
    out["extraction.python_ms"] = count_all(py + "time to run Python workers")
    out["extraction.python_rows"] = count_all(py + "number of output rows")
    out["extraction.bytes_to_python"] = count_all(py + "data sent to Python workers")
    out["extraction.bytes_from_python"] = count_all(py + "data returned from Python workers")
    traced_stages = {st for st, sp in log.stage_span.items() if sp is not None}
    py_stages = log.python_stages & traced_stages
    out["extraction.stage_task_ms"] = sum(log.stage_run_ms[s] for s in py_stages)
    out["extraction.jvm_ms"] = out["extraction.stage_task_ms"] - out["extraction.python_ms"]
    out["skew.extract_partitions"] = sum(log.stage_tasks[s] for s in py_stages)
    out["skew.stats_ms"] = total("skew.doc_length_stats")

    infos = [op.info for op in ops if op.traced]

    def info_sum(key):
        return float(sum(i.get(key, 0) for i in infos))

    out["extraction.error_rows"] = info_sum("error_rows")
    walls = [i["wall_max_over_median"] for i in infos if "wall_max_over_median" in i]
    out["skew.task_wall_max_over_median"] = _median(walls)
    out["dedup.docs_extracted"] = info_sum("docs_extracted")
    offered = info_sum("docs_offered")
    out["dedup.skip_ratio"] = 1 - out["dedup.docs_extracted"] / offered if offered else 0.0
    # the clean read less its cluster sync: building and executing the
    # decide_corpus decision (sync_clusters runs nowhere else)
    out["dedup.decide_ms"] = total("read.clean") - total("ExtractionJob.sync_clusters")

    def is_append(s):
        return s["name"] == "CheckpointedTable.append"
    out["table_io.append_ms"] = total("CheckpointedTable.append")
    out["table_io.append_files"] = counts_under(
        is_append, "Execute InsertIntoHadoopFsRelationCommand|number of written files")
    out["table_io.append_bytes"] = counts_under(
        is_append, "Execute InsertIntoHadoopFsRelationCommand|written output")
    out["table_io.read_ms"] = total("CheckpointedTable.read")
    runs = [i["runs_committed"] for i in infos if "runs_committed" in i]
    out["table_io.runs_committed"] = float(max(runs)) if runs else 0.0
    stored = [i["stored_ratio"] for i in infos if "stored_ratio" in i]
    out["table_io.stored_bytes_per_input_byte"] = _median(stored)

    out["job.plan_ms"] = total("ExtractionJob.plan")
    out["job.stage_write_ms"] = sum(self_ms(s) for s in spans
                                    if s["name"] == "ExtractionJob.run")
    out["job.commit_ms"] = total("CheckpointedTable.append",
                                 parent_name="ExtractionJob.run")
    out["job.sync_near_dup_ms"] = total("ExtractionJob.sync_near_dup_index")
    out["job.sync_signals_ms"] = total("ExtractionJob.sync_signals")
    out["job.sync_clusters_ms"] = total("ExtractionJob.sync_clusters")
    out["job.read_clean_ms"] = total("ExtractionJob.read_clean")

    def in_sync_neardup(s):
        return s["name"] == "ExtractionJob.sync_near_dup_index"
    out["text_dedup.task_ms"] = counts_under(in_sync_neardup, "run_ms")
    out["text_dedup.candidate_rows"] = counts_under(in_sync_neardup, "join_rows")
    out["text_dedup.pairs_out"] = info_sum("pairs_out")
    out["text_dedup.candidate_yield"] = (
        out["text_dedup.pairs_out"] / out["text_dedup.candidate_rows"]
        if out["text_dedup.candidate_rows"] else 0.0)
    out["text_dedup.shuffle_bytes"] = counts_under(in_sync_neardup, "shuffle_write")
    out["text_analysis.signals_task_ms"] = counts_under(
        lambda s: s["name"] == "ExtractionJob.sync_signals", "run_ms")

    out["components.ms"] = total(layer="components", outermost=True)
    out["components.jobs"] = counts_under(
        lambda s: s["layer"] == "components"
        and by_id.get(s["parent"], {}).get("layer") != "components", "jobs")
    out["components.pairs_in"] = info_sum("pairs_in")

    reads = [s for s in roots if s["name"] in {f"read.{op}" for op in HISTORY_OPS}]
    for op in HISTORY_OPS:
        out[f"history.{op}_p50_ms"] = _median(
            [dur(s) for s in reads if s["name"] == f"read.{op}"])
    planning = []
    for s in reads:
        times = [log.jobs[j]["time"] for x in subtree(s["id"]) for j in log.span_jobs[x]]
        if times:
            planning.append(min(times) - s["epoch_ms"])
    out["history.planning_ms"] = _median(planning)
    scanned = sum(log.counts[x].get(k, 0.0) for s in reads for x in subtree(s["id"])
                  for k in log.counts[x] if k.startswith("Scan parquet")
                  and k.endswith("|number of output rows"))
    returned = sum(s["info"].get("rows_returned", 0) for s in reads)
    out["history.rows_scanned_per_row_returned"] = scanned / returned if returned else 0.0
    files = sum(log.counts[x].get(k, 0.0) for s in reads for x in subtree(s["id"])
                for k in log.counts[x] if k.startswith("Scan parquet")
                and k.endswith("|number of files read"))
    out["history.files_scanned_per_read"] = files / len(reads) if reads else 0.0

    run_ms = count_all("run_ms")
    out["spark.task_busy_frac"] = run_ms / (wall * cores) if wall else 0.0
    out["spark.gc_ms"] = count_all("gc_ms")
    out["spark.shuffle_write_bytes"] = count_all("shuffle_write")
    out["spark.spill_bytes"] = count_all("spill")
    out["spark.jobs"] = count_all("jobs")
    out["spark.tasks"] = count_all("tasks")
    out["trace.wall_ms"] = wall

    traced = defaultdict(list)
    plain = defaultdict(list)
    for op in ops:
        (traced if op.traced else plain)[op.kind].append(op.latency_s * 1000)
    diffs = [_median(traced[k]) - _median(plain[k]) for k in traced if plain.get(k)]
    out["trace.overhead_ms"] = _median(diffs)
    return out
