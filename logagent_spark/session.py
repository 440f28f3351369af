"""SparkSession factory tuned for the engine.

Local mode stands in for a multi-executor cluster: the same configs
(AQE, shuffle partition sizing, Arrow) are what we'd set cluster-side;
`parallelism` maps to executor cores at scale.

Python workers run the installed pyspark, not Spark's source zip: when
the workers can import the engine as their daemon starts, the session
sets `spark.python.daemon.module` to `logagent_spark._pydaemon`, which
drops Spark's pyspark zip, py4j zip and spark-core jar from the workers'
`sys.path` when the installed pyspark and py4j are the same releases
(see that module for the per-task cost they carry). That holds when the
master is `local[...]`, this process launched the JVM (not under
spark-submit, whose JVM does not have this process's environment), and
the directory holding `logagent_spark` is the JVM's cwd, is on its
`PYTHONPATH`, or is a site-packages dir. `extra` still overrides it.
"""

from __future__ import annotations

import os
import re
import site
from collections.abc import Mapping

from pyspark import SparkContext
from pyspark.sql import SparkSession

DAEMON_MODULE = "logagent_spark._pydaemon"
_ENGINE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_daemon_module(
    master: str, environ: Mapping[str, str], cwd: str
) -> str | None:
    """The `spark.python.daemon.module` for a session whose JVM runs with
    `environ` in `cwd`, or None to keep Spark's own daemon."""
    if (not re.fullmatch(r"local(\[[^\]]*\])?", master)
            or "PYSPARK_GATEWAY_PORT" in environ):
        return None
    dirs = [cwd, *site.getsitepackages(),
            *(p for p in environ.get("PYTHONPATH", "").split(os.pathsep) if p)]
    engine = os.path.realpath(_ENGINE_PARENT)
    if any(os.path.realpath(os.path.join(cwd, d)) == engine for d in dirs):
        return DAEMON_MODULE
    return None


def _jvm_launch_env() -> tuple[Mapping[str, str], str]:
    """The environment and cwd the JVM starts Python workers with: this
    process's when the session launches the JVM, else the running JVM's
    (it keeps what it was launched with)."""
    gateway = SparkContext._gateway
    if gateway is None:
        return os.environ, os.getcwd()
    system = gateway.jvm.java.lang.System
    return ({**os.environ, "PYTHONPATH": system.getenv("PYTHONPATH") or ""},
            system.getProperty("user.dir"))


def get_spark(
    app: str = "logagent_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(parallelism, 4)
    master = f"local[{parallelism}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd beats snappy on the write-heavy multiplex sink BOTH ways:
        # measured 6.1s vs 7.5-9.5s on the 4M-row headline write AND
        # 311 MB vs 625 MB on disk (fewer bytes win on storage, and the
        # read-back aggregate scans half the data). Override via extra.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    daemon = worker_daemon_module(
        (extra or {}).get("spark.master", master), *_jvm_launch_env())
    if daemon is not None:
        b = b.config("spark.python.daemon.module", daemon)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
