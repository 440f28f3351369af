"""pyspark's Python worker daemon, run on the installed pyspark instead of
Spark's source zip.

    python -m logagent_spark._pydaemon pyspark.worker

Spark starts its daemon with `PYTHONPATH` led by the three entries
`PythonUtils.sparkPythonPath` adds: `$SPARK_HOME/python/lib/pyspark.zip`,
the `py4j-<version>-src.zip` beside it and the spark-core jar (no `.py`
in it). On CPython 3.11 that costs twice:
- each new daemon compiles pyspark from the zip's `.py` sources (a zip
  caches no bytecode): importing `pyspark.daemon` took 1.3 s, against
  0.2 s from the installed, byte-compiled package (4-vCPU VM);
- every task calls `importlib.invalidate_caches()` (pyspark
  `worker_util.setup_spark_files`), which makes every zipimporter in
  `sys.path_importer_cache` re-read its whole zip directory: one per path
  entry plus one per pyspark subpackage imported from the zip (16 on a
  reused worker).

When the installed `pyspark` and `py4j` are the zips' releases, this
module drops those entries, and the importers already cached for them,
before anything imports pyspark; then it runs `pyspark.daemon.manager()`,
and the workers it forks inherit the cleaned path. On a version mismatch,
a missing zip or any error the path stays as Spark set it.
`session.get_spark` selects this module through
`spark.python.daemon.module`. Nothing here may print: the daemon's stdout
carries its port to the JVM.
"""

from __future__ import annotations

import importlib.metadata
import os
import re
import sys
import zipfile
from typing import Callable

_PY4J_ZIP = re.compile(r"py4j-(.+)-src\.zip")
_SPARK_CORE_JAR = re.compile(r"spark-core_[\d.]+-.+\.jar")
_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""")


def installed_version(name: str, path: list[str]) -> str | None:
    """The version of the distribution `name` installed on `path`."""
    dist = next(iter(importlib.metadata.distributions(name=name, path=path)),
                None)
    return dist.version if dist is not None else None


def without_spark_zips(
    path: list[str],
    installed: Callable[[str, list[str]], str | None] = installed_version,
) -> list[str]:
    """`path` without Spark's pyspark zip, py4j zip and spark-core jar,
    when `installed(name, remaining path)` gives the zips' pyspark and
    py4j versions; otherwise `path` unchanged."""
    try:
        pyspark_zip, = (p for p in path
                        if os.path.basename(p) == "pyspark.zip")
        lib = os.path.dirname(pyspark_zip)
        (py4j_zip, py4j_version), = (
            (p, m.group(1)) for p in path
            if os.path.dirname(p) == lib
            and (m := _PY4J_ZIP.fullmatch(os.path.basename(p))))
        with zipfile.ZipFile(pyspark_zip) as z:
            source = z.read("pyspark/version.py").decode()
        pyspark_version = _VERSION.search(source).group(1)
        drop = {pyspark_zip, py4j_zip} | {
            p for p in path if _SPARK_CORE_JAR.fullmatch(os.path.basename(p))}
        kept = [p for p in path if p not in drop]
        if (installed("pyspark", kept) == pyspark_version
                and installed("py4j", kept) == py4j_version):
            return kept
    except Exception:
        # Spark's own path always works, and nothing may stop the daemon
        # or reach its stdout: any failure here keeps that path.
        pass
    return path


def _drop_spark_zips() -> None:
    kept = without_spark_zips(sys.path)
    dropped = set(sys.path) - set(kept)
    if not dropped:
        return
    sys.path[:] = kept

    def under(p: str) -> bool:
        return any(p == d or p.startswith(d + os.sep) for d in dropped)

    for key in [k for k in sys.path_importer_cache if under(k)]:
        del sys.path_importer_cache[key]
    # A package found in a dropped entry keeps that entry on its __path__
    # and would re-create its importer: `org`, a namespace portion of the
    # spark-core jar, is imported by `copy` (via dataclasses) at start-up.
    for name in [n for n, m in sys.modules.items()
                 if any(under(p) for p in getattr(m, "__path__", ()))]:
        del sys.modules[name]


if __name__ == "__main__":
    _drop_spark_zips()
    from pyspark.daemon import manager

    manager()
