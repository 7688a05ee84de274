"""Python worker daemon that starts ``pyspark.daemon`` on a path without
redundant archives.

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar on every
Python worker's ``PYTHONPATH``, and pyspark calls
``importlib.invalidate_caches()`` once per task, which makes every
zipimporter in ``sys.path_importer_cache`` re-read its archive's whole
directory (the jar alone has 5,359 entries and no Python). Where pyspark
and py4j are also installed as directories, those archives supply
nothing, so this module drops them before the daemon forks its workers.
``session.get_spark`` names it in ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from pathlib import Path

_VERSION = re.compile(rb"__version__[^=\n]*=\s*['\"]([^'\"]+)['\"]")


def _version(src: bytes) -> bytes:
    m = _VERSION.search(src)
    return m.group(1) if m else src


def _redundant(archive: str, dirs: list[str]) -> bool:
    """True when ``archive`` holds no Python at all, or every top-level
    module in it also resolves from one of ``dirs``, a package at the
    same ``version.py`` version as the archive's copy."""
    try:
        with zipfile.ZipFile(archive) as z:
            py = [n for n in z.namelist() if n.endswith((".py", ".pyc"))]
            versions = {n.split("/")[0]: _version(z.read(n)) for n in py
                        if n.count("/") == 1 and n.endswith("/version.py")}
    except (OSError, zipfile.BadZipFile):
        return False
    pkgs = {n.split("/")[0] for n in py if "/" in n}
    mods = {n.rsplit(".", 1)[0] for n in py if "/" not in n}

    def pkg_in(d: str, pkg: str) -> bool:
        if not os.path.isfile(os.path.join(d, pkg, "__init__.py")):
            return False
        vfile = Path(d, pkg, "version.py")
        return pkg not in versions or (
            vfile.is_file() and _version(vfile.read_bytes()) == versions[pkg])

    return (all(any(pkg_in(d, p) for d in dirs) for p in pkgs)
            and all(any(os.path.isfile(os.path.join(d, m + ".py")) for d in dirs)
                    for m in mods))


def prune(path: list[str], cache: dict) -> tuple[list[str], dict]:
    """``(path, cache)`` without the redundant archives: each archive
    entry of ``path`` that ``_redundant`` clears is removed, with every
    ``cache`` key at or under it. Directory entries are never removed,
    so a path whose modules exist only as archives comes back unchanged
    (apart from archives that hold no Python)."""
    dirs = [p for p in path if os.path.isdir(p)]
    drop = {p for p in path if os.path.isfile(p) and _redundant(p, dirs)}
    under = tuple(p + os.sep for p in drop)
    return ([p for p in path if p not in drop],
            {k: v for k, v in cache.items()
             if k not in drop and not k.startswith(under)})


def main() -> None:
    path, cache = prune(sys.path, sys.path_importer_cache)
    sys.path[:] = path
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(cache)
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
