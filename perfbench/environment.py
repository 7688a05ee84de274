"""Host pinning, the result stamp and the process-tree memory sampler.

Everything the benchmark writes (inputs, job outputs, Spark local dirs,
the JVM's temp files, the event log, the warehouse dir) lives under one
work dir inside the checkout, so a run reads and writes nothing outside
it and leaves nothing behind but the trace file.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys
import threading
import time

# The engine's session builder defaults to 48g of driver heap, sized for
# a large host. The benchmark caps it at 2g (a quarter of RAM on small
# hosts). The heap starts small and grows as the engine's use needs, so
# peak memory follows the engine's heap use up to the cap.
_MAX_DRIVER_MEM_MB = 2048


def host_cores() -> int:
    """Cores the process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def _total_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin(root: str, work: str) -> dict[str, str]:
    """Export the environment the engine and its Python workers read.

    Must run before pyspark or the engine is imported: the session
    module reads ``SPARK_GRAFT_CPUS`` at import, and the JVM and the
    Python workers inherit this process's environment."""
    cores = host_cores()
    mem_mb = min(_MAX_DRIVER_MEM_MB, _total_ram_mb() // 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": root,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # one Python worker runs per core; native thread pools sized to
        # the core count inside each would oversubscribe the host
        "OMP_NUM_THREADS": "1",
        # the short-lived JVM spark-submit starts to build the driver's
        # command line gets none of the driver's options
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # the engine stamps naive UTC datetimes; pyspark converts naive
        # datetimes with the process time zone
        "TZ": "UTC",
    }
    os.environ.update(env)
    time.tzset()
    return env


def session_conf(work: str, event_log_dir: str | None) -> dict[str, str]:
    """Extra Spark conf: keep the warehouse and the JVM's temp files in
    the work dir, silence the console progress bar, and (traced runs
    only) write an uncompressed, unrolled event log."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # prepended to the engine's own extraJavaOptions, not replacing them
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _git_commit(root: str) -> str | None:
    if shutil.which("git") is None or not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def stamp(root: str, env: dict[str, str]) -> dict:
    """What the run ran on: stamped into every result."""
    import pyspark

    return {
        "cores": int(env["SPARK_GRAFT_CPUS"]),
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "ram_mb": _total_ram_mb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "git_commit": _git_commit(root),
        "loadavg_start": round(os.getloadavg()[0], 2),
    }


def cpu_ticks() -> list[int]:
    """The host's cumulative CPU ticks: user, nice, system, idle, iowait,
    irq, softirq, steal (the first line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int]) -> float:
    """Share of CPU time since ``before`` that the hypervisor gave to
    other guests: the host's load, which this benchmark cannot see in
    loadavg."""
    delta = [b - a for a, b in zip(before, cpu_ticks())]
    return round(delta[7] / sum(delta), 4) if sum(delta) else 0.0


class PeakMemory:
    """Peak memory of this process and all its descendants (driver
    Python, the JVM and its Python workers), sampled from /proc on a
    daemon thread. Each process counts its proportional set size (PSS):
    pages the forked Python workers share are split among them instead
    of being counted once per worker, so the figure does not jump with
    the number of live workers."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb,
                               sum(_pss_kb(p) for p in [me, *_descendants(me)]) / 1024)
            self._stop.wait(self.interval_s)


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process exited while we sampled
        pass
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait until every
    process this run started (the JVM and its Python daemon) is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from one pass over /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out
