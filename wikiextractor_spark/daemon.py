"""Python-worker daemon for sessions built by ``session.get_spark``
(``spark.python.daemon.module``).

Spark puts its own archive copies of pyspark and py4j, and the
spark-core jar, ahead of site-packages on every Python worker's
``sys.path``.  Every task's ``setup_spark_files`` ends with
``importlib.invalidate_caches()``, which makes each cached
``zipimporter`` re-read its archive's central directory: a warm
worker holds about fifteen of them, so the call costs 0.1–0.25 s per
task on a 4-core VM.  When the interpreter already has pyspark and
py4j installed at exactly the archives' versions, the archives add
nothing, so this module drops them from ``sys.path`` and
``sys.path_importer_cache`` before it starts Spark's own daemon.  In
any other case the path stays exactly as Spark set it.  Per-task
``--py-files`` and ``addPyFile`` entries are added later, by the
worker, and are never touched.

This module imports nothing from pyspark before the path is chosen,
so the daemon and every worker it forks load pyspark from the
installed package.
"""

from __future__ import annotations

import glob
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""", re.M)


def _archive_version(archive: str, package: str) -> str | None:
    """``package/version.py``'s ``__version__`` inside ``archive``,
    read as text (nothing is imported)."""
    try:
        with zipfile.ZipFile(archive) as z:
            m = _VERSION.search(z.read(f"{package}/version.py").decode("utf-8"))
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    return m.group(1) if m else None


def _installed_version(package: str, path: list[str]) -> str | None:
    """``__version__`` of the ``package`` directory that ``path``
    would import, read as text."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), encoding="utf-8") as fh:
            m = _VERSION.search(fh.read())
    except OSError:
        return None
    return m.group(1) if m else None


def worker_path(path: list[str], spark_home: str) -> list[str]:
    """``path`` without ``spark_home``'s pyspark and py4j archives and
    spark-core jar, when the rest of ``path`` imports pyspark and py4j
    at exactly the archives' versions; otherwise ``path`` unchanged."""
    lib = os.path.join(spark_home, "python", "lib")
    archives = {
        "pyspark": glob.glob(os.path.join(lib, "pyspark.zip")),
        "py4j": glob.glob(os.path.join(lib, "py4j-*-src.zip")),
    }
    jars = glob.glob(os.path.join(spark_home, "jars", "spark-core_*.jar"))
    spark_files = {os.path.realpath(f) for f in [*archives["pyspark"], *archives["py4j"], *jars]}
    rest = [p for p in path if os.path.realpath(p) not in spark_files]
    if len(rest) == len(path):
        return list(path)
    for package, zips in archives.items():
        installed = _installed_version(package, rest)
        if installed is None or any(_archive_version(z, package) != installed for z in zips):
            return list(path)
    return rest


def main() -> None:
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        kept = worker_path(sys.path, spark_home)
        dropped = [p for p in sys.path if p not in kept]
        sys.path[:] = kept

        def inside(entry: str) -> bool:
            return any(entry == d or entry.startswith(d + os.sep) for d in dropped)

        for key in list(sys.path_importer_cache):
            if inside(key):
                del sys.path_importer_cache[key]
        # the Jython probe in ``copy`` and ``pickle`` (``from org.python.core
        # import ...``) has already imported ``org`` as a namespace package
        # from the jar; its stale ``__path__`` would re-create the jar's
        # zipimporter on the next probe
        for name, module in list(sys.modules.items()):
            path = list(getattr(module, "__path__", None) or ())
            if path and all(inside(p) for p in path):
                del sys.modules[name]

    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
