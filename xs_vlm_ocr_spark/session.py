"""SparkSession builder for this engine.

local[N] in the sandbox; the same config block is what we'd ship via
spark-submit --conf on a real cluster (AQE on, Arrow on, UTC, shuffle
partitions sized to cores locally / to data volume on a cluster).
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def _worker_daemon_conf() -> dict[str, str]:
    """``spark.python.daemon.module`` = ``worker_daemon`` when the Python
    workers can import it: this package is a plain directory under the
    driver's cwd, a ``PYTHONPATH`` entry or site-packages (get_spark
    runs local[N], so the workers share the driver's cwd and env). A
    package imported from an archive (``spark-submit --py-files``) keeps
    Spark's default daemon: one that cannot import its module fails
    every Python task."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isfile(os.path.join(pkg, "worker_daemon.py")):
        return {}
    visible = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
               *site.getsitepackages(), site.getusersitepackages()]
    root = os.path.realpath(os.path.dirname(pkg))
    if any(p and os.path.realpath(p) == root for p in visible):
        return {"spark.python.daemon.module": f"{__package__}.worker_daemon"}
    return {}


def get_spark(
    app_name: str = "xs_vlm_ocr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # measured on this workload: 4096-row Arrow batches cut per-batch
        # python round-trip overhead ~30% vs 2048 (tools/bench_scaling.py)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # cap GC parallelism: with 32 task threads + 32 python workers on
        # one socket, default GC threads (=cores) fight the extraction
        # workers for the memory bus (measured ~25% stage time)
        # user.language pin: Java toLowerCase is default-locale-sensitive
        # (tr/az dotted-I), Python str.lower() is not — the gram
        # tokenizer's parity with its Python spec (tests/oracles.py)
        # assumes a root-like locale on the JVM side. ConcGCThreads may not
        # exceed ParallelGCThreads: the JVM refuses to start at cores=1
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:ParallelGCThreads={min(8, cores)} -XX:ConcGCThreads={min(2, cores)}"
            " -Duser.language=en -Duser.country=US",
        )
        .config("spark.ui.enabled", "false")
        # pyspark's call-site capture wraps every F.* / Column / DataFrame
        # call in extra py4j round trips (an ExtractionJob.run makes about
        # twice as many with it on); it only adds the "== DataFrame =="
        # call-site block to JVM error messages
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in {**_worker_daemon_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
