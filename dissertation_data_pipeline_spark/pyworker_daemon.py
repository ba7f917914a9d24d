"""Python-worker daemon: ``pyspark.daemon`` without Spark's archives on ``sys.path``.

Spark starts every Python worker with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j zip and the spark-core jar on ``sys.path``.  pyspark calls
``importlib.invalidate_caches()`` once per task, and on Python 3.11 that
makes each cached ``zipimporter`` re-read its whole archive directory:
about 0.2 s per task (DESIGN §14).  When the pyspark left on the path
once those archives are gone is the build ``$SPARK_HOME`` ships, the
worker imports it instead; otherwise ``sys.path`` stays as found.
``session.get_spark`` starts workers through this module.

The module imports no pyspark before the path is chosen, and neither
does the package ``__init__`` that ``python -m`` runs first.
"""

import importlib.machinery
import os
import sys
import zipfile


def worker_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` minus every regular file under ``spark_home``, if the
    pyspark found on the rest has the ``version.py`` of
    ``spark_home``'s ``pyspark.zip``; else ``path`` itself."""
    if not spark_home:
        return path
    home = os.path.join(os.path.realpath(spark_home), "")
    kept = [
        p for p in path if not (os.path.isfile(p) and os.path.realpath(p).startswith(home))
    ]
    spec = importlib.machinery.PathFinder.find_spec("pyspark", kept)
    if spec is None or not spec.submodule_search_locations:
        return path
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as fh:
            found = fh.read()
        with zipfile.ZipFile(os.path.join(spark_home, "python", "lib", "pyspark.zip")) as zf:
            shipped = zf.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return kept if found == shipped else path


if __name__ == "__main__":
    chosen = worker_path(sys.path, os.environ.get("SPARK_HOME"))
    if chosen is not sys.path:
        sys.path[:] = chosen
        sys.path_importer_cache.clear()
    from pyspark import daemon

    daemon.manager()
