"""The zip-directory cache of ``geomesa_sql_spark._zipcache``: an
unchanged archive is not re-read by ``importlib.invalidate_caches``, a
rewritten one is, and every Python worker that ran an engine UDF carries
the patch."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

import geomesa_sql_spark  # noqa: F401  (installs the patch in this process)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="Python 3.12 reads zip directories lazily; nothing is patched",
)


def test_unchanged_archive_not_reread_and_rewrite_imports(tmp_path, monkeypatch):
    arc = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("zc_first.py", "X = 1\n")
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == arc:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(arc)
    try:
        assert importlib.import_module("zc_first").X == 1
        importlib.invalidate_caches()  # the first call reads and stamps
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        with zipfile.ZipFile(arc, "a") as z:
            z.writestr("zc_second.py", "Y = 2\n")
        st = os.stat(arc)
        os.utime(arc, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        importlib.invalidate_caches()
        assert reads == [arc]
        assert importlib.import_module("zc_second").Y == 2
    finally:
        for m in ("zc_first", "zc_second"):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(arc, None)
        zipimport._zip_directory_cache.pop(arc, None)


def test_python_workers_carry_the_patch(spark):
    """A worker that unpickled an engine UDF has imported the package,
    and with it the patch: the probe chained after ``st_point_wkb`` runs
    in the same worker, and no worker that imported the package is
    without it."""
    from geomesa_sql_spark.functions.st import st_point_wkb

    @F.pandas_udf("string")
    def patched_by(s: pd.Series) -> pd.Series:
        import sys as _sys
        import zipimport as _zi

        mod = _zi.zipimporter.invalidate_caches.__module__
        return pd.Series([f"{mod}|{'geomesa_sql_spark' in _sys.modules}"] * len(s))

    pts = spark.range(0, 64, 1, 1).select(
        st_point_wkb(F.col("id").cast("double"), F.col("id").cast("double")).alias("g")
    )
    chained = {r[0] for r in pts.select(patched_by("g")).collect()}
    assert chained == {"geomesa_sql_spark._zipcache|True"}

    seen = {r[0] for r in spark.range(0, 64, 1, 8).select(patched_by("id")).collect()}
    assert {s for s in seen if s.endswith("|True")} <= {"geomesa_sql_spark._zipcache|True"}
