"""N -> 4N scaling-efficiency evidence (north rule, sandbox protocol).

No real multi-executor cluster exists here, so per BASELINE.md §(c) the
same extraction pass (``bench.extraction_pass``) runs on the same input
at two local parallelism levels — N = cores // 4 and 4N, with
cores taken from the process's CPU affinity — standing in for N and 4N
executors.

PAIRED-INTERLEAVED protocol: this host shows minute-scale external
load drift (identical runs vary up to 12x minutes apart), so measuring
the two levels in separate, minutes-apart processes is noise-dominated.
Instead both JVMs are kept alive simultaneously (each idle while the
other runs) and timed runs ALTERNATE back-to-back: N, 4N, N, 4N, ... —
every efficiency pair is measured seconds apart under near-identical
host conditions. Prints ONE JSON line: raw per-pair, overhead-adjusted
and best-vs-best efficiencies, per-run seconds and loadavg, and the
host's own pure-CPU N -> 4N ceiling.

Usage: python tools/bench_scaling.py [n_docs] [n_pairs]
  n_docs defaults to bench.py's N_DOCS; n_pairs to 5. RUN ALONE —
  concurrent jobs pollute the numbers.
"""

from __future__ import annotations

import json
import os
import select
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
cores, n_docs = int(sys.argv[1]), int(sys.argv[2])
# two JVMs live side by side for the whole measurement: cap each heap
# (at the default 50k docs, 1 -> 4 cores, both together peak near 4.2 GB RSS)
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
from bench import extraction_pass
from xs_vlm_ocr_spark.corpus import gen_docs_df
from xs_vlm_ocr_spark.session import get_spark

spark = get_spark(f"bench_scaling_{cores}", cores=cores, shuffle_partitions=cores)
docs = gen_docs_df(spark, n_docs).persist()
# tiny same-shape corpus: measures the per-run FIXED overhead (job
# scheduling, skew-stats sampling jobs, arrow/python round-trip floor)
# that is identical at both parallelism levels and does not shrink with
# cores -- reported so an overhead-adjusted efficiency can be computed
tiny = gen_docs_df(spark, 2000).persist()
assert docs.count() == n_docs and tiny.count() == 2000

def timed(src, n):
    t0 = time.monotonic()
    assert extraction_pass(src, cores) == n
    return time.monotonic() - t0

print("READY", flush=True)
for line in sys.stdin:
    cmd = line.strip()
    if cmd == "run":
        sec = timed(docs, n_docs)
        print(json.dumps({"sec": round(sec, 3),
                          "load": round(os.getloadavg()[0], 1)}), flush=True)
    elif cmd == "t0":
        sec = min(timed(tiny, 2000) for _ in range(3))
        print(json.dumps({"sec": sec}), flush=True)
    elif cmd == "quit":
        break
"""


class WorkerHang(RuntimeError):
    pass


class Worker:
    # one Spark job at these doc counts finishes in well under 3 min;
    # a command silent for 10 means a wedged python worker (observed
    # once: an executor task epoll-waiting forever on a dead worker
    # socket) — kill the pair and remeasure rather than hang the bench
    CMD_TIMEOUT = 600.0

    def __init__(self, cores: int, n_docs: int) -> None:
        self.cores = cores
        self.errlog = os.path.join(tempfile.gettempdir(),
                                   f"bench_scaling_{cores}.stderr")
        self._errfile = open(self.errlog, "w")  # closed in quit()
        self.proc = subprocess.Popen(
            [sys.executable, "-u", "-c", WORKER % {"repo": REPO},
             str(cores), str(n_docs)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._errfile, text=True,
        )
        while True:
            line = self._readline(self.CMD_TIMEOUT)
            if not line:
                raise RuntimeError(f"worker local[{cores}] died during startup")
            if line.strip() == "READY":
                break

    def _readline(self, timeout: float) -> str:
        r, _, _ = select.select([self.proc.stdout], [], [], timeout)
        if not r:
            self.proc.kill()
            raise WorkerHang(
                f"worker local[{self.cores}] silent for {timeout:.0f}s — "
                f"killed; stderr tail: {self._err_tail()}")
        return self.proc.stdout.readline()

    def _err_tail(self) -> str:
        try:
            with open(self.errlog) as f:
                return " | ".join(f.read().splitlines()[-5:])
        except Exception:
            return "<unavailable>"

    def _cmd(self, cmd: str) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        while True:
            line = self._readline(self.CMD_TIMEOUT)
            if not line:
                raise RuntimeError(
                    f"worker local[{self.cores}] died mid-run; "
                    f"stderr tail: {self._err_tail()}")
            line = line.strip()
            if line.startswith("{"):
                return json.loads(line)

    def run(self) -> dict:
        return self._cmd("run")

    def t0(self) -> float:
        return self._cmd("t0")["sec"]

    def quit(self) -> None:
        try:
            self.proc.stdin.write("quit\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()
        finally:
            self._errfile.close()  # pair retries would otherwise leak fds


def measure_pair(n: int, n4: int, n_docs: int, n_pairs: int,
                 _retry: bool = True) -> dict:
    wl = Worker(n, n_docs)
    wh = Worker(n4, n_docs)
    try:
        wl.run(); wh.run()  # warmup: JVM JIT + python worker pool spin-up
        t0_lo, t0_hi = wl.t0(), wh.t0()  # per-level fixed overhead
        lows, highs = [], []
        for _ in range(n_pairs):
            lows.append(wl.run())
            highs.append(wh.run())
    except WorkerHang as exc:
        # a wedged python worker poisons the whole pair (the partner JVM
        # sits idle while we wait) — restart both sessions and remeasure
        # the pair from scratch, once
        print(f"[bench_scaling] {exc}", file=sys.stderr, flush=True)
        wl.quit(); wh.quit()
        if not _retry:
            raise
        print(f"[bench_scaling] retrying pair {n}->{n4}",
              file=sys.stderr, flush=True)
        return measure_pair(n, n4, n_docs, n_pairs, _retry=False)
    finally:
        wl.quit(); wh.quit()
    pair_effs = [lo["sec"] / hi["sec"] / 4.0 for lo, hi in zip(lows, highs)]
    # overhead-adjusted: subtract each level's measured fixed per-run cost
    # (identical work that cannot shrink with cores); this is the speedup
    # on the scalable portion — the quantity a multi-node 4N comparison
    # would measure, since per-JOB overhead is paid once either way
    adj_effs = [
        max(lo["sec"] - t0_lo, 1e-9) / max(hi["sec"] - t0_hi, 1e-9) / 4.0
        for lo, hi in zip(lows, highs)
    ]
    best_lo = min(r["sec"] for r in lows)
    best_hi = min(r["sec"] for r in highs)
    return {
        "n": n, "n4": n4, "n_docs": n_docs,
        "median_eff": round(sorted(pair_effs)[len(pair_effs) // 2], 3),
        "median_adj_eff": round(sorted(adj_effs)[len(adj_effs) // 2], 3),
        "best_eff": round(best_lo / best_hi / 4.0, 3),
        "pair_effs": [round(e, 3) for e in pair_effs],
        "adj_effs": [round(e, 3) for e in adj_effs],
        "t0_lo": round(t0_lo, 3), "t0_hi": round(t0_hi, 3),
        "lows": lows, "highs": highs,
        "low_dps": round(n_docs / best_lo, 1),
        "high_dps": round(n_docs / best_hi, 1),
    }


def host_cpu_ceiling(n: int, n4: int, dur: float = 12.0) -> float:
    """The HOST's own n->4n pure-CPU scaling ceiling, with zero Spark and
    near-zero memory traffic: run `k` plain python processes doing
    register arithmetic for `dur` seconds, sum iterations, compare
    aggregates. On a virtualized box the ratio can sit measurably below
    4x (hypervisor scheduling, all-core frequency, CPU steal) — the hard
    upper bound ANY n->4n measurement here can reach."""
    prog = (
        "import sys,time\n"
        "end=time.monotonic()+float(sys.argv[1]); n=0; x=1\n"
        "while time.monotonic()<end:\n"
        "    for _ in range(10000): x=(x*1103515245+12345)&0xFFFFFFFF\n"
        "    n+=10000\n"
        "print(n)\n"
    )

    def agg(k: int) -> int:
        procs = [subprocess.Popen([sys.executable, "-c", prog, str(dur)],
                                  stdout=subprocess.PIPE, text=True)
                 for _ in range(k)]
        return sum(int(p.communicate()[0]) for p in procs)

    return round(agg(n4) / agg(n) / (n4 / n), 3)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else bench.N_DOCS
    n_pairs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    cores = len(os.sched_getaffinity(0))
    if cores < 4:
        sys.exit(f"an N -> 4N pair needs at least 4 CPUs; this process may "
                 f"run on {cores}")
    n = cores // 4
    ceiling = host_cpu_ceiling(n, 4 * n)
    print(json.dumps({"cores": cores, "host_cpu_ceiling": ceiling,
                      **measure_pair(n, 4 * n, n_docs, n_pairs)}))


if __name__ == "__main__":
    main()
