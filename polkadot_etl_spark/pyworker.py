"""Python daemon for local masters (``spark.python.daemon.module``).

Spark puts SPARK_HOME's ``pyspark.zip``, the py4j zip and the spark-core
jar at the front of every Python worker's path. The zip holds no
``.pyc``, so each daemon start compiles pyspark from source, and every
task's ``importlib.invalidate_caches()`` re-reads the directory of each
zipimporter (eagerly under CPython 3.11). When the interpreter already
has the same pyspark version compiled, and a py4j, the daemon drops the
archives before it imports pyspark, and the workers it forks run the
driver's pyspark. The worker-JVM protocol is version-private, so any
other install leaves the path as Spark set it.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _version(source: bytes) -> str:
    ns: dict = {}
    exec(source, ns)
    return ns["__version__"]


def compiled_path(sys_path: list[str], spark_home: str) -> list[str]:
    """``sys_path`` without the archives under ``spark_home`` if pyspark
    (same version as SPARK_HOME's ``pyspark.zip``) and py4j resolve
    without them; otherwise ``sys_path`` itself."""
    home = os.path.join(os.path.realpath(spark_home), "")
    kept = [
        p
        for p in sys_path
        if not (p.endswith((".zip", ".jar")) and os.path.realpath(p).startswith(home))
    ]
    spec = PathFinder.find_spec("pyspark", kept)
    if spec is None or not spec.origin or PathFinder.find_spec("py4j", kept) is None:
        return sys_path
    try:
        with zipfile.ZipFile(os.path.join(home, "python", "lib", "pyspark.zip")) as zf:
            shipped = _version(zf.read("pyspark/version.py"))
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as fh:
            installed = _version(fh.read())
    except (OSError, KeyError):
        return sys_path
    return kept if installed == shipped else sys_path


if __name__ == "__main__":
    if "SPARK_HOME" in os.environ:
        path = compiled_path(sys.path, os.environ["SPARK_HOME"])
        for dropped in set(sys.path) - set(path):
            sys.path_importer_cache.pop(dropped, None)
        sys.path[:] = path
    from pyspark.daemon import manager

    manager()
