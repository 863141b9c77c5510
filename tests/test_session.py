"""Python workers of a ``get_spark()`` session run under the engine's worker
daemon (vector_db_spark/pyworker.py), which re-reads a zip archive on
``importlib.invalidate_caches()`` only when the archive changed."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
from pyspark.sql.functions import pandas_udf

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_python(script: str, cwd: str, env: dict | None = None) -> dict:
    """Run ``script`` in a fresh interpreter; its last stdout line is JSON."""
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_udf_runs_under_the_patched_daemon(spark):
    @pandas_udf("string")
    def worker_info(s: pd.Series) -> pd.Series:
        import zipimport

        with open("/proc/self/cmdline", "rb") as f:
            cmdline = f.read().replace(b"\0", b" ").decode()
        patched = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        return pd.Series([json.dumps([cmdline, patched])] * len(s))

    rows = spark.range(4).repartition(2).select(worker_info("id").alias("w")).collect()
    for r in rows:
        cmdline, patched = json.loads(r.w)
        assert "vector_db_spark.pyworker" in cmdline
        assert patched == os.path.join(CHECKOUT, "vector_db_spark", "pyworker.py")


def test_rewritten_zip_is_reread_and_unchanged_zip_is_not(tmp_path):
    """Invalidation keeps its meaning: new contents of a rewritten archive
    import after ``importlib.invalidate_caches()``; an unchanged archive is
    not re-read once its importer has been stamped."""
    out = _run_python(
        f"""
        import importlib, json, sys, zipfile, zipimport
        sys.path.insert(0, {CHECKOUT!r})
        import vector_db_spark.pyworker
        vector_db_spark.pyworker.install()

        zp = {str(tmp_path / "shipped.zip")!r}
        def write(src, **extra):
            with zipfile.ZipFile(zp, "w") as z:
                z.writestr("shipped_mod.py", src)
                for name, body in extra.items():
                    z.writestr(name + ".py", body)

        reads = []
        stock_read = zipimport._read_directory
        def counting_read(path):
            reads.append(path)
            return stock_read(path)
        zipimport._read_directory = counting_read

        write("VALUE = 1\\n")
        sys.path.insert(0, zp)
        import shipped_mod
        first = shipped_mod.VALUE
        importlib.invalidate_caches()  # stamps the importer
        n0 = len(reads)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        unchanged_reads = len(reads) - n0

        write("VALUE = 22\\n", shipped_extra="ADDED = True\\n")
        del sys.modules["shipped_mod"]
        importlib.invalidate_caches()
        import shipped_extra, shipped_mod
        print(json.dumps([first, unchanged_reads, shipped_mod.VALUE, shipped_extra.ADDED]))
        """,
        cwd=str(tmp_path),
    )
    assert out == [1, 0, 22, True]


def test_add_py_file_zip_imports_in_udf(spark, tmp_path):
    zp = tmp_path / "vdb_shipped_pkg.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("vdb_shipped_mod.py", "def tag():\n    return 'shipped-ok'\n")
    spark.sparkContext.addPyFile(str(zp))

    @pandas_udf("string")
    def shipped(s: pd.Series) -> pd.Series:
        import vdb_shipped_mod

        return pd.Series([vdb_shipped_mod.tag()] * len(s))

    rows = spark.range(4).repartition(2).select(shipped("id").alias("t")).collect()
    assert [r.t for r in rows] == ["shipped-ok"] * 4


def test_workers_import_the_checkout_from_outside_it(tmp_path):
    """A driver whose cwd is outside the checkout, with no PYTHONPATH, still
    runs Python jobs: the session puts the checkout on the workers' path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    out = _run_python(
        f"""
        import json, sys
        sys.path.insert(0, {CHECKOUT!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf
        from vector_db_spark.functions.embedding import stub_embedder
        from vector_db_spark.session import get_spark

        spark = get_spark("outside-checkout")
        spark.sparkContext.setLogLevel("ERROR")

        @pandas_udf("string")
        def package_file(s: pd.Series) -> pd.Series:
            import vector_db_spark
            return pd.Series([vector_db_spark.__file__] * len(s))

        docs = spark.createDataFrame([(t,) for t in "abcd"], "content string")
        rows = docs.select(
            F.size(stub_embedder(8)(F.col("content"))).alias("dim"),
            package_file("content").alias("pkg"),
        ).collect()
        spark.stop()
        print(json.dumps([sorted({{r.dim for r in rows}}), sorted({{r.pkg for r in rows}})]))
        """,
        cwd=str(tmp_path),
        env=env,
    )
    dims, pkgs = out
    assert dims == [8]
    assert pkgs == [os.path.join(CHECKOUT, "vector_db_spark", "__init__.py")]
