"""Python worker daemon that imports the installed pyspark, not Spark's
archives.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and
the spark-core jar at the head of every Python worker's PYTHONPATH. Each
task then runs ``pyspark.worker_util.setup_spark_files``, whose
``importlib.invalidate_caches()`` makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its whole archive directory — on
Python 3.11 that is one importer per imported pyspark subpackage, about
16 importers and 27k central-directory entries, ~0.2 s of every task
before the UDF runs (SCALE.md, "Python worker fixed cost").

When the same pyspark release (and py4j) is installed as a plain
directory further down ``sys.path`` — the driver already imports it from
there — this daemon drops the archives from ``sys.path`` and their
importers from ``sys.path_importer_cache`` before pyspark is imported,
then runs the stock ``pyspark.daemon.manager()``. Otherwise ``sys.path``
is left as Spark built it. ``session.get_spark`` selects this module via
``spark.python.daemon.module``.

Imports nothing from pyspark at module load, and neither may the
package ``__init__`` — ``python -m`` imports it first.
"""

from __future__ import annotations

import importlib.machinery
import os
import sys
import zipfile


def _is_spark_archive(entry: str) -> bool:
    """An archive that Spark's ``PythonUtils.sparkPythonPath`` supplies:
    pyspark.zip, the py4j source zip, or a jar."""
    name = os.path.basename(entry)
    return os.path.isfile(entry) and (
        name == "pyspark.zip"
        or name.endswith(".jar")
        or (name.startswith("py4j-") and name.endswith(".zip"))
    )


def _directory_package(name: str, path: list[str]) -> str | None:
    """Directory of package ``name`` as resolved on ``path``, or None when
    it is missing or would load from an archive."""
    spec = importlib.machinery.PathFinder.find_spec(name, path)
    if spec is None or not spec.origin or not os.path.isfile(spec.origin):
        return None
    return os.path.dirname(spec.origin)


def _same_pyspark_release(archive: str, pkg_dir: str) -> bool:
    """The installed pyspark is the archive's release — the worker protocol
    must match the JVM that supplied the archive."""
    try:
        with zipfile.ZipFile(archive) as z:
            zipped = z.read("pyspark/version.py")
        with open(os.path.join(pkg_dir, "version.py"), "rb") as f:
            return f.read() == zipped
    except (OSError, KeyError, zipfile.BadZipFile):
        return False


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when pyspark — and py4j, if its
    zip is dropped — still resolve from directories on what remains;
    otherwise ``path`` itself, unchanged."""
    dropped = [p for p in path if _is_spark_archive(p)]
    if not dropped:
        return path
    kept = [p for p in path if p not in dropped]
    pyspark_dir = _directory_package("pyspark", kept)
    if pyspark_dir is None:
        return path
    for archive in dropped:
        name = os.path.basename(archive)
        if name == "pyspark.zip" and not _same_pyspark_release(archive, pyspark_dir):
            return path
        if name.startswith("py4j-") and _directory_package("py4j", kept) is None:
            return path
    return kept


def _drop_archive_importers() -> None:
    new_path = worker_path(sys.path)
    if new_path is sys.path:
        return
    dropped = [p for p in sys.path if p not in new_path]
    sys.path[:] = new_path
    # zipimporter keys are the archive itself and archive/subpackage
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _drop_archive_importers()
    from pyspark.daemon import manager

    manager()
