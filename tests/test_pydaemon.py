"""The zip-free Python worker daemon (gensor_spark/pydaemon.py).

Spark puts its bundled ``pyspark.zip``, the py4j zip and the ``spark-core``
jar ahead of site-packages on each worker's ``sys.path``; every task then
re-reads those archives in ``importlib.invalidate_caches()``. ``get_spark``
starts the workers through ``gensor_spark.pydaemon``, which drops the
bundled entries when the interpreter's own pyspark is the same version.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pandas as pd
import pyspark

from gensor_spark.pydaemon import spark_free_path

ROOT = Path(__file__).resolve().parents[1]


def test_workers_import_the_drivers_pyspark(spark):
    def probe(batches):
        import sys

        import pyspark

        zips = sum(type(f).__name__ == "zipimporter"
                   for f in sys.path_importer_cache.values())
        for _ in batches:
            yield pd.DataFrame({"zips": [zips], "version": [pyspark.__version__],
                                "file": [pyspark.__file__]})

    rows = (spark.range(4, numPartitions=2)
            .mapInPandas(probe, "zips long, version string, file string")
            .collect())
    assert rows
    for row in rows:
        assert row.zips == 0, row
        assert row.version == pyspark.__version__
        assert ".zip" not in row.file


def _spark_home(tmp_path: Path, bundled_version: str) -> tuple[Path, list[str]]:
    """A fake ``$SPARK_HOME`` whose path entries sit first, as Spark sets them."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f'__version__: str = "{bundled_version}"\n')
    with zipfile.ZipFile(lib / "py4j-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    jars = tmp_path / "spark" / "jars"
    jars.mkdir()
    (jars / "spark-core.jar").write_bytes(b"")
    entries = [str(lib / "pyspark.zip"), str(lib / "py4j-src.zip"),
               str(jars / "spark-core.jar")]
    return tmp_path / "spark", entries


def _site(tmp_path: Path, version: str | None) -> str:
    """A site dir; with ``version`` it holds a ``pyspark`` package of it."""
    site = tmp_path / "site"
    site.mkdir()
    if version is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(
            f"__version__: str = '{version}'\n")
    return str(site)


def test_path_filter_drops_bundled_entries_on_matching_version(tmp_path):
    home, bundled = _spark_home(tmp_path, "4.1.2")
    site = _site(tmp_path, "4.1.2")
    path = [str(tmp_path), *bundled, site]
    assert spark_free_path(path, str(home)) == [str(tmp_path), site]
    # the zips are bundled only when they lie under $SPARK_HOME
    assert spark_free_path(path, str(tmp_path / "elsewhere")) is path
    assert spark_free_path(path, None) is path


def test_path_filter_keeps_path_without_own_pyspark(tmp_path):
    home, bundled = _spark_home(tmp_path, "4.1.2")
    path = [*bundled, _site(tmp_path, None)]
    assert spark_free_path(path, str(home)) == path


def test_path_filter_keeps_path_on_version_mismatch(tmp_path):
    home, bundled = _spark_home(tmp_path, "4.1.2")
    path = [*bundled, _site(tmp_path, "4.0.0")]
    assert spark_free_path(path, str(home)) == path


def test_udfs_run_from_a_foreign_cwd(tmp_path):
    """A driver started outside the repo, with no PYTHONPATH: the workers
    still import the engine (its daemon and its kernels)."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        import pandas as pd
        from gensor_spark.session import get_spark
        from gensor_spark.operators.kalman import kalman_smooth

        spark = get_spark(master="local[1]")
        plain = spark.range(3).mapInPandas(lambda it: it, "id long").collect()
        pts = spark.createDataFrame(pd.DataFrame({{
            "doc_id": ["a"] * 4, "source": ["s"] * 4, "seq": range(4),
            "value": [1.0, 2.0, 3.0, 4.0]}}))
        kern = kalman_smooth(pts).collect()
        print("ROWS", len(plain), len(kern))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert "ROWS 3 4" in out.stdout, out.stderr[-3000:]


def test_daemon_preloads_pandas_and_pyarrow():
    """The daemon imports pandas and pyarrow before it forks its workers,
    so no worker imports them on its first Arrow task."""
    script = textwrap.dedent(f"""
        import runpy
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from gensor_spark import pydaemon

        mods = ("pandas", "pyarrow")
        before = [m in sys.modules for m in mods]
        runpy.run_module = lambda *a, **k: print(
            "LOADED", before, [m in sys.modules for m in mods])
        pydaemon.main()
    """)
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, timeout=120)
    assert "LOADED [False, False] [True, True]" in out.stdout, out.stderr
