"""Python worker daemon that imports PySpark from the installed package.

Spark starts ``python -m <spark.python.daemon.module>`` with a PYTHONPATH
that puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar ahead of site-packages. Each of those archives (and each
package imported from one) becomes a zipimporter, and PySpark calls
``importlib.invalidate_caches()`` at every runner start, which re-reads
every zipimporter's archive directory: ~0.2 s per call on a 4-core host
with four workers starting at once, about half of the worker busy time
of a live stateful stream. When the installed ``pyspark`` and ``py4j``
are on the rest of the path and that ``pyspark`` is the archive's
version, this module drops the archives before any PySpark import;
workers fork from the daemon and inherit its import state. Otherwise it
keeps the path and says why on stderr.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

SPARK_ARCHIVES = ("python/lib/pyspark.zip", "python/lib/py4j-*.zip", "jars/*.jar")
_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""", re.M)


def spark_archive_free_path(path: list[str], spark_home: str | None):
    """``(path without the $SPARK_HOME archives, None)`` when the installed
    PySpark can stand in for them, else ``(path, why)`` unchanged."""
    if not spark_home:
        return path, "SPARK_HOME is not set"
    home = os.path.realpath(spark_home)

    def archive(entry: str) -> bool:
        rel = os.path.relpath(os.path.realpath(entry or "."), home)
        return any(fnmatch.fnmatchcase(rel, pat) for pat in SPARK_ARCHIVES)

    dropped = [p for p in path if archive(p)]
    if not dropped:
        return path, None
    rest = [p for p in path if not archive(p)]
    specs = {name: PathFinder.find_spec(name, rest) for name in ("pyspark", "py4j")}
    missing = [name for name, spec in specs.items() if spec is None or spec.origin is None]
    if missing:
        return path, f"no installed {' or '.join(missing)} outside {home}"
    zips = [p for p in dropped if p.endswith("pyspark.zip")]
    try:
        with open(os.path.join(os.path.dirname(specs["pyspark"].origin), "version.py")) as f:
            have = _VERSION.search(f.read()).group(1)
        want = have
        if zips:
            with zipfile.ZipFile(zips[0]) as zf:
                want = _VERSION.search(zf.read("pyspark/version.py").decode()).group(1)
    except (OSError, KeyError, AttributeError, zipfile.BadZipFile) as e:
        return path, f"cannot read the PySpark versions ({e!r})"
    if have != want:
        return path, f"installed pyspark {have} is not {zips[0]}'s {want}"
    return rest, None


def _use_installed_pyspark() -> None:
    path, why = spark_archive_free_path(sys.path, os.environ.get("SPARK_HOME"))
    if why:
        print(f"worker_daemon: keeping the Spark archives on sys.path: {why}", file=sys.stderr)
        return
    gone = set(sys.path) - set(path)
    sys.path[:] = path
    for key in list(sys.path_importer_cache):
        if any(key == g or key.startswith(g + os.sep) for g in gone):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _use_installed_pyspark()
    from pyspark.daemon import manager

    manager()
