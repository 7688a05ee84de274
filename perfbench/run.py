"""The repository benchmark.

    python3 perfbench/run.py --workload ingest_fresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --workload all --seed 1 --seconds 1 --trace 0 --smoke

Drives the engine's public Python API in one process on local[nproc],
the same API job_main.py uses, over inputs generated from ``--seed``.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). The lines
before it are a readable report. ``--smoke`` runs tiny inputs so a
change can confirm the benchmark itself still runs. See BASELINE.md in
this directory for the protocol and the reference numbers.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
WORKLOAD_NAMES = ("ingest_fresh", "incremental_cleaning")
END_TO_END = [("setup_s", "s"), ("ingest_docs_per_s", "docs/s"),
              ("stored_bytes_per_input_byte", "ratio"), ("peak_pss_mb", "MB")]


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOAD_NAMES, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    return ap.parse_args(argv)


def tail_percentile(xs: list[float]) -> tuple[str, float] | None:
    """The highest percentile with at least ten samples beyond it
    (nearest rank), or None below twenty samples."""
    n = len(xs)
    if n < 20:
        return None
    q = math.floor(100 * (1 - 10 / n))
    return f"p{q}", sorted(xs)[math.ceil(q / 100 * n) - 1]


def run_workload(name: str, args) -> dict:
    from perfbench import environment

    work = os.path.join(ROOT, ".bench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = environment.pin(ROOT, work)

    from perfbench.tracing import METRICS, EventLog, Tracer, layer_metrics
    from perfbench.workloads import WORKLOADS, OpFailed, Recorder
    from xs_vlm_ocr_spark.session import get_spark

    cores = int(env["SPARK_GRAFT_CPUS"])
    stamp = environment.stamp(ROOT, env)
    ticks = environment.cpu_ticks()
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    with environment.PeakMemory() as mem:
        t_session = time.monotonic()
        spark = get_spark(f"perfbench-{name}", cores=cores, shuffle_partitions=cores,
                          extra_conf=environment.session_conf(work, event_dir))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.monotonic() - t_session
        try:
            wl = WORKLOADS[name](spark, work, args.seed, args.smoke, bool(args.trace))
            phases = wl.setup()
            tracer = Tracer(spark)
            if args.trace:
                tracer.install()
            rec = Recorder(tracer, bool(args.trace), args.seed)
            steps = 0
            t_measure = time.monotonic()
            deadline = t_measure + args.seconds
            min_steps = wl.min_steps(bool(args.trace))
            try:
                while steps < min_steps or time.monotonic() < deadline:
                    wl.step(steps, rec)
                    steps += 1
            except OpFailed:
                pass
            measured_s = time.monotonic() - t_measure
            tracer.uninstall()
        finally:
            environment.stop_spark(spark)
    stamp["loadavg_end"] = round(os.getloadavg()[0], 2)
    stamp["cpu_steal_frac"] = environment.steal_frac(ticks)

    ops = rec.ops
    failed = sum(not op.ok for op in ops)
    setup_s = t_measure - T_START  # process start -> first timed op
    stored = [op.info["stored_ratio"] for op in ops if "stored_ratio" in op.info]
    e2e = {
        "setup_s": setup_s,
        "ingest_docs_per_s": wl.docs_per_s(ops),
        "stored_bytes_per_input_byte": statistics.median(stored) if stored else 0.0,
        "peak_pss_mb": mem.peak_mb,
    }
    report = {
        "workload": name, "seed": args.seed, "smoke": args.smoke,
        "env": stamp, "inputs": wl.facts, "measured_s": round(measured_s, 3),
        "setup": {"python_start_s": round(t_session - T_START, 3),
                  "session_s": round(session_s, 3),
                  **{k: round(v, 3) for k, v in phases.items()}},
        "ops": len(ops), "failed_op_frac": failed / len(ops) if ops else 1.0,
        "by_kind": _by_kind(ops),
    }
    if args.trace:
        spans_path = os.path.join(ROOT, ".bench_work", "traces",
                                  f"{name}-seed{args.seed}-{os.getpid()}.json")
        tracer.dump(spans_path)
        layers = layer_metrics(tracer.spans, EventLog(event_dir), ops, cores)
        metrics = {m: {"value": layers[m], "unit": u} for m, u, _better in METRICS}
        self_sum = sum(layers[k] for k in layers if k.endswith(".self_ms"))
        report["trace"] = {
            "spans_file": os.path.relpath(spans_path, ROOT),
            "self_ms_sum": round(self_sum + layers["job.unattributed_ms"], 3),
            "traced_wall_ms": round(layers["trace.wall_ms"], 3),
        }
    else:
        metrics = {m: {"value": e2e[m], "unit": u} for m, u in END_TO_END}
    shutil.rmtree(work, ignore_errors=True)
    _print_report(report, metrics)
    return {"correct": failed == 0 and len(ops) > 0, "attempted": len(ops),
            "failed": failed, "metrics": metrics}


def _by_kind(ops) -> dict:
    kinds: dict[str, list[float]] = {}
    for op in ops:
        kinds.setdefault(op.kind, []).append(op.latency_s * 1000)
    out = {}
    for kind, xs in kinds.items():
        row = {"n": len(xs), "p50_ms": round(statistics.median(xs), 2)}
        tail = tail_percentile(xs)
        if tail:
            row[f"{tail[0]}_ms"] = round(tail[1], 2)
        out[kind] = row
    reads = [x for k, xs in kinds.items() if k.startswith("read.") for x in xs]
    if reads:
        row = {"n": len(reads), "p50_ms": round(statistics.median(reads), 2)}
        tail = tail_percentile(reads)
        if tail:
            row[f"{tail[0]}_ms"] = round(tail[1], 2)
        out["query (all reads)"] = row
    return out


def _print_report(report: dict, metrics: dict) -> None:
    print(f"== perfbench {report['workload']} seed={report['seed']}")
    for key in ("env", "inputs", "setup", "by_kind"):
        print(f"{key}: {json.dumps(report[key])}")
    print(f"measured_s: {report['measured_s']}  ops: {report['ops']}  "
          f"failed_op_frac: {report['failed_op_frac']}")
    if "trace" in report:
        print(f"trace: {json.dumps(report['trace'])}")
    for name, m in metrics.items():
        print(f"  {name:42s} {m['value']:>16.4f} {m['unit']}")
    sys.stdout.flush()


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "xs_vlm_ocr_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload != "all":
        print(json.dumps(run_workload(args.workload, args)))
        return 0
    # every workload in a fresh process (its own JVM), then one summary
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        sys.stderr.write(proc.stderr[-4000:])
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"perfbench: {name} exited {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


if __name__ == "__main__":
    sys.exit(main())
