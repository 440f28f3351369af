"""Python workers run the installed pyspark, not Spark's source zip: the
daemon `logagent_spark._pydaemon` drops Spark's zips and jar from the
workers' `sys.path` (only when the versions match), and `get_spark`
selects it only where workers can import it."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pyarrow as pa
import pyspark
import pytest

from logagent_spark._pydaemon import installed_version, without_spark_zips
from logagent_spark.session import DAEMON_MODULE, worker_daemon_module

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_udf_workers_run_the_installed_pyspark(spark):
    def worker_view(it):  # a closure, so it pickles by value
        import zipimport

        import pyspark

        for _ in it:
            yield pa.RecordBatch.from_pylist([{
                "pyspark": pyspark.__file__,
                "archives": [p for p in sys.path
                             if p.endswith((".zip", ".jar"))],
                "zipimporters": sum(
                    isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values()),
            }])

    assert spark.conf.get("spark.python.daemon.module") == DAEMON_MODULE
    rows = spark.range(0, 4, 1, 4).mapInArrow(
        worker_view,
        "pyspark string, archives array<string>, zipimporters long",
    ).collect()
    assert len(rows) == 4
    for r in rows:
        assert r.pyspark == pyspark.__file__
        names = [os.path.basename(p) for p in r.archives]
        assert "pyspark.zip" not in names
        assert not [n for n in names
                    if n.startswith(("py4j-", "spark-core_"))], names
        assert r.zipimporters == 0


@pytest.fixture()
def spark_lib(tmp_path):
    """A Spark layout as `sparkPythonPath` puts it on a worker's path:
    (path, the three entries it added)."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/version.py", "__version__: str = '4.1.2'\n")
    added = [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip"),
             str(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar")]
    return ["/work", *added, "/usr/lib/python3.11"], added


def _installed(pyspark_v="4.1.2", py4j_v="0.10.9.9", seen=None):
    def installed(name, path):
        if seen is not None:
            seen.append((name, list(path)))
        return {"pyspark": pyspark_v, "py4j": py4j_v}[name]
    return installed


def test_path_rule_drops_the_three_entries_on_matching_versions(spark_lib):
    path, _ = spark_lib
    seen = []
    kept = without_spark_zips(path, _installed(seen=seen))
    assert kept == ["/work", "/usr/lib/python3.11"]
    # the installed versions are read from the path that remains
    assert {n for n, _ in seen} == {"pyspark", "py4j"}
    assert all(p == kept for _, p in seen)


@pytest.mark.parametrize("versions", [
    {"pyspark_v": "4.1.1"}, {"py4j_v": "0.10.9.7"}, {"pyspark_v": None},
], ids=["pyspark-mismatch", "py4j-mismatch", "pyspark-not-installed"])
def test_path_rule_keeps_the_path_on_a_version_mismatch(spark_lib, versions):
    path, _ = spark_lib
    assert without_spark_zips(path, _installed(**versions)) == path


def test_path_rule_keeps_the_path_when_a_zip_is_missing(spark_lib):
    path, (pyspark_zip, py4j_zip, _) = spark_lib
    no_py4j = [p for p in path if p != py4j_zip]
    assert without_spark_zips(no_py4j, _installed()) == no_py4j
    no_pyspark = [p for p in path if p != pyspark_zip]
    assert without_spark_zips(no_pyspark, _installed()) == no_pyspark
    os.remove(pyspark_zip)  # on the path, but not on disk
    assert without_spark_zips(path, _installed()) == path


def test_installed_version_reads_the_given_path():
    from importlib.metadata import version

    assert installed_version("pyspark", sys.path) == version("pyspark")
    assert installed_version("pyspark", []) is None


def test_guard_selects_the_daemon_only_where_workers_can_import_it(tmp_path):
    elsewhere = str(tmp_path)
    assert worker_daemon_module("local[4]", {}, REPO) == DAEMON_MODULE
    assert worker_daemon_module("local", {}, REPO) == DAEMON_MODULE
    assert worker_daemon_module(
        "local[*]", {"PYTHONPATH": REPO}, elsewhere) == DAEMON_MODULE
    # a cluster master, even a local one whose executors are separate JVMs
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert worker_daemon_module(master, {}, REPO) is None
    # under spark-submit the JVM does not have this process's environment
    assert worker_daemon_module(
        "local[4]", {"PYSPARK_GATEWAY_PORT": "40000"}, REPO) is None
    # the engine is not importable from the workers' cwd or PYTHONPATH
    assert worker_daemon_module("local[4]", {}, elsewhere) is None
    assert worker_daemon_module(
        "local[4]", {"PYTHONPATH": os.path.join(REPO, "tests")},
        elsewhere) is None


def test_engine_import_stays_pyspark_free():
    # `python -m logagent_spark._pydaemon` imports the package (and the
    # module) before it can drop Spark's zips from the path
    code = ("import sys, logagent_spark, logagent_spark._pydaemon; "
            "print(sorted(m for m in sys.modules "
            "if m.split('.')[0] in ('pyspark', 'py4j')))")
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"
