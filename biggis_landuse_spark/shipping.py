"""Ship the package to Spark workers for pandas-UDF execution.

Operators built purely from Spark SQL expressions never need this —
they execute in the JVM. But ``mapInPandas`` / ``applyInPandas``
closures are unpickled inside Python worker processes, which import
``biggis_landuse_spark`` by name; when the driving process runs from
outside the repo (or on a real cluster), workers need the package on
their path. ``ensure_package_shipped`` zips the package once per
SparkContext and registers it via ``addPyFile`` — the standard
mechanism for shipping job code, valid in local mode and on clusters.

Every operator that uses a pandas UDF calls this first. Concurrent
callers (the per-band ingest threads) are serialized, so the zip is
written and registered once — never rewritten while an executor may
be fetching it.
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()
_SHIP_LOCK = threading.Lock()


def ensure_package_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    key = id(sc)
    with _SHIP_LOCK:
        if key in _SHIPPED:
            return
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zpath = os.path.join(
            tempfile.gettempdir(), f"biggis_landuse_spark_pkg_{os.getpid()}.zip"
        )
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
        try:
            sc.addPyFile(zpath)
        except Exception:
            pass  # already registered under this name in this context
        _SHIPPED.add(key)
