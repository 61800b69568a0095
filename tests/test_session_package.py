"""A session from ``session.build_spark`` ships the ``adlspark`` package
to its Python workers (``addPyFile`` of the package zip), so kernels
whose worker code imports ``adlspark`` run from any working directory —
not only from the repo root, whose path the workers inherit as CWD."""

from __future__ import annotations

import zipfile
from urllib.parse import urlparse


def test_build_spark_registers_package_zip(spark):
    # the suite's session comes from build_spark (tests/conftest.py)
    shipped = [
        urlparse(f).path
        for f in spark.sparkContext.listFiles
        if f.endswith(".zip")
    ]
    assert shipped, spark.sparkContext.listFiles
    for path in shipped:
        with zipfile.ZipFile(path) as zf:
            names = set(zf.namelist())
        assert {"adlspark/__init__.py", "adlspark/session.py",
                "adlspark/streaming/streams.py"} <= names, (path, sorted(names)[:5])
