"""Python workers import the installed pyspark, not Spark's archives
(cassandra_pmem_spark/worker_daemon.py).

Every task's ``importlib.invalidate_caches()`` re-reads each zipimporter's
archive directory, so a worker that imported pyspark from pyspark.zip pays
that on every task; these tests pin that no such importer is left.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

from pyspark.sql import functions as F

from cassandra_pmem_spark.worker_daemon import worker_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_udf_worker_imports_pyspark_from_a_directory(spark):
    def worker_imports(_):  # nested: pickled by value, not by module
        import json
        import sys
        import zipimport

        import pyspark

        return json.dumps({
            "pyspark": pyspark.__file__,
            "zip_importers": sorted(
                k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)
            ),
        })

    probe = F.udf(worker_imports, "string")
    got = json.loads(spark.range(1).select(probe("id")).first()[0])
    assert os.path.isfile(got["pyspark"]), got["pyspark"]
    spark_archives = [
        k for k in got["zip_importers"] if "pyspark.zip" in k or ".jar" in k
    ]
    assert spark_archives == []


def _fake_pyspark_zip(path, version=b"__version__ = '9.9.9'\n"):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", version)
    return str(path)


def _fake_package(root, name, files):
    pkg = root / name
    pkg.mkdir(parents=True)
    for fname, data in files.items():
        (pkg / fname).write_bytes(data)
    return str(root)


def test_path_unchanged_without_a_directory_pyspark(tmp_path):
    archive = _fake_pyspark_zip(tmp_path / "pyspark.zip")
    empty = tmp_path / "empty"
    empty.mkdir()
    path = [archive, str(empty)]
    assert worker_path(path) == [archive, str(empty)]


def test_path_drops_archives_for_the_same_release(tmp_path):
    version = b"__version__ = '9.9.9'\n"
    archive = _fake_pyspark_zip(tmp_path / "pyspark.zip", version)
    jar = tmp_path / "spark-core.jar"
    jar.write_bytes(b"")
    site = _fake_package(
        tmp_path / "site", "pyspark", {"__init__.py": b"", "version.py": version}
    )
    assert worker_path([archive, str(jar), site]) == [site]
    # another installed release keeps Spark's own archive
    other = _fake_package(
        tmp_path / "other", "pyspark",
        {"__init__.py": b"", "version.py": b"__version__ = '1.0.0'\n"},
    )
    assert worker_path([archive, other]) == [archive, other]


def test_session_from_foreign_working_directory_runs_a_udf(tmp_path):
    # the daemon module is found through spark.executorEnv.PYTHONPATH,
    # not through the working directory or the caller's PYTHONPATH
    script = f"""
import sys
sys.path.insert(0, {ROOT!r})
from pyspark.sql import functions as F
from cassandra_pmem_spark.session import get_spark

def pyspark_file(_):
    import pyspark
    return pyspark.__file__

spark = get_spark("worker-daemon-cwd", shuffle_partitions=2)
try:
    print(spark.range(1).select(F.udf(pyspark_file, "string")("id")).first()[0])
finally:
    spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    worker_pyspark = out.stdout.strip().splitlines()[-1]
    assert os.path.isfile(worker_pyspark), worker_pyspark
