"""get_spark starts a driver at every core count."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_single_core_session_starts():
    """At cores=1 the driver's GC options once asked for ConcGCThreads=2
    > ParallelGCThreads=1, which the JVM rejects before Spark starts —
    local[1], the N side of the 1 -> 4 scaling pair, could not run."""
    code = ("from xs_vlm_ocr_spark.session import get_spark; "
            "print(get_spark('single_core', cores=1).range(3).count())")
    p = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                       capture_output=True, text=True, timeout=300,
                       env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"})
    assert p.returncode == 0, p.stderr[-2000:]
    assert p.stdout.split()[-1] == "3"
