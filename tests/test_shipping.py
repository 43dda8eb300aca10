"""ensure_package_shipped under concurrent callers: one zip, one
addPyFile per SparkContext."""

from __future__ import annotations

import threading
import types
import zipfile

from biggis_landuse_spark import shipping


def test_concurrent_callers_ship_once(monkeypatch, tmp_path):
    calls = {"zip": 0, "add": 0}
    real_zipfile = zipfile.ZipFile

    class CountingZipFile(real_zipfile):
        def __init__(self, *args, **kwargs):
            calls["zip"] += 1
            super().__init__(*args, **kwargs)

    def add_py_file(path):
        calls["add"] += 1

    monkeypatch.setattr(shipping, "_SHIPPED", set())
    monkeypatch.setattr(shipping.zipfile, "ZipFile", CountingZipFile)
    monkeypatch.setattr(shipping.tempfile, "gettempdir", lambda: str(tmp_path))
    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(addPyFile=add_py_file)
    )
    start = threading.Barrier(8)

    def ship():
        start.wait()
        shipping.ensure_package_shipped(spark)

    threads = [threading.Thread(target=ship) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert calls == {"zip": 1, "add": 1}
