"""get_spark's session: it starts at every core count, its Python
workers run through ``worker_daemon`` where they can import it, and its
driver makes no call-site capture round trips."""

import json
import os
import subprocess
import sys
import zipfile

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


WORKER_PROBE = r"""
import json, os, sys, time, zipimport
import pandas as pd
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F
from xs_vlm_ocr_spark.session import get_spark, stop_spark

spark = get_spark("worker_probe", cores=1)

@F.pandas_udf("string")
def probe(s: pd.Series) -> pd.Series:
    import pyspark
    zips = sorted(k for k, v in sys.path_importer_cache.items()
                  if isinstance(v, zipimport.zipimporter))
    return s.map(lambda _: json.dumps(
        {"zips": zips, "pyspark": pyspark.__file__, "pgid": os.getpgid(0)}))

seen = json.loads(spark.range(1).select(probe(F.col("id").cast("string"))).first()[0])
out = {"daemon": spark.conf.get("spark.python.daemon.module", None),
       "debugging": is_debugging_enabled(), "driver_pyspark": sys.modules["pyspark"].__file__,
       **seen}
stop_spark()

def group_alive(pgid):
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            stat = open(f"/proc/{pid}/stat").read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[2]) == pgid:
            return True
    return False

# the daemon's process group (it and every forked worker) ends with the
# session; poll, since the JVM signals it asynchronously
deadline = time.monotonic() + 60
while group_alive(out["pgid"]) and time.monotonic() < deadline:
    time.sleep(0.2)
out["left_running"] = group_alive(out["pgid"])
print(json.dumps(out))
"""


def _probe(cwd, prefix: str = "") -> dict:
    """WORKER_PROBE's result, run in a fresh process from ``cwd`` with no
    PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "-c", prefix + WORKER_PROBE], cwd=cwd,
                       capture_output=True, text=True, timeout=300,
                       env={**env, "SPARK_GRAFT_DRIVER_MEM": "1g"})
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_workers_run_without_archive_importers():
    """Through get_spark a Python worker's importer cache holds no
    zipimporter (pyspark.zip, the py4j zip and the spark-core jar would
    each re-read their archive on every task's invalidate_caches), it
    imports the driver's pyspark, call-site capture is off, and no
    daemon or worker outlives the session."""
    out = _probe(REPO)
    assert out["daemon"] == "xs_vlm_ocr_spark.worker_daemon"
    assert out["zips"] == []
    assert out["pyspark"] == out["driver_pyspark"]
    assert out["debugging"] is False
    assert out["left_running"] is False


def test_default_daemon_when_package_not_worker_visible(tmp_path):
    """A package the workers cannot import from a plain directory keeps
    Spark's default daemon, and Python tasks still run: imported through
    a sys.path entry the workers do not share, or from a --py-files
    style archive."""
    out = _probe(tmp_path, f"import sys; sys.path.insert(0, {REPO!r})\n")
    assert out["daemon"] is None
    assert out["left_running"] is False

    pkg_zip = tmp_path / "xs_vlm_ocr_spark.zip"
    with zipfile.ZipFile(pkg_zip, "w") as z:
        for root, _dirs, files in os.walk(os.path.join(REPO, "xs_vlm_ocr_spark")):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, REPO))
    p = subprocess.run(
        [sys.executable, "-c", "from xs_vlm_ocr_spark import session; "
         "print(session.__file__); print(session._worker_daemon_conf())"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
        env={**os.environ, "PYTHONPATH": str(pkg_zip)})
    assert p.returncode == 0, p.stderr[-2000:]
    imported_from, conf = p.stdout.strip().splitlines()
    assert imported_from.startswith(str(pkg_zip))
    assert conf == "{}"


def _zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    return str(path)


def _package(root, name: str, version: str) -> str:
    os.makedirs(os.path.join(root, name))
    for fn, src in (("__init__.py", ""), ("version.py", f"__version__ = '{version}'\n")):
        with open(os.path.join(root, name, fn), "w") as f:
            f.write(src)
    return str(root)


def test_prune_drops_only_archives_the_directories_cover(tmp_path):
    """worker_daemon.prune removes an archive (and its cache keys) only
    when it holds no Python or every top-level module in it resolves
    from a directory entry at the same version."""
    from xs_vlm_ocr_spark.worker_daemon import prune

    site = _package(tmp_path / "site", "pyspark", "4.1.2")
    _package(tmp_path / "site", "py4j", "0.10.9.9")
    pyspark_zip = _zip(tmp_path / "pyspark.zip", {
        "pyspark/__init__.py": "", "pyspark/version.py": "__version__ = '4.1.2'\n",
        "pyspark/sql/__init__.py": ""})
    py4j_zip = _zip(tmp_path / "py4j.zip", {
        "py4j/__init__.py": "", "py4j/version.py": "__version__ = '0.10.9.9'\n"})
    jar = _zip(tmp_path / "core.jar", {"META-INF/MANIFEST.MF": "", "org/A.class": ""})
    extra_zip = _zip(tmp_path / "extra.zip", {
        "pyspark/__init__.py": "", "pyspark/version.py": "__version__ = '4.1.2'\n",
        "onlyhere.py": ""})
    old_zip = _zip(tmp_path / "old.zip", {
        "pyspark/__init__.py": "", "pyspark/version.py": "__version__ = '4.0.0'\n"})

    path = [pyspark_zip, py4j_zip, jar, extra_zip, old_zip, site]
    cache = {p: object() for p in path}
    cache[pyspark_zip + "/pyspark/sql"] = object()
    cache[jar + "/org"] = object()
    kept, kept_cache = prune(path, cache)
    # a module absent from the directories, a version-mismatched pyspark
    assert kept == [extra_zip, old_zip, site]
    assert set(kept_cache) == {extra_zip, old_zip, site}

    # archives only (as on a cluster): nothing changes
    archives = [pyspark_zip, py4j_zip]
    only_cache = {p: object() for p in archives}
    assert prune(archives, only_cache) == (archives, only_cache)
