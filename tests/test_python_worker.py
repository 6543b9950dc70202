"""Python workers of the ``get_spark`` session run the volga daemon
(``volga_spark.pydaemon``): the per-task ``importlib.invalidate_caches()``
no longer re-reads the zip archives on the worker's path, and a file shipped
mid-session with ``addPyFile`` still imports."""

from __future__ import annotations

import sys
import uuid
import zipfile

import pandas as pd
import pytest


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13 zipimport drops the cache entry instead of re-reading it")
def test_task_start_keeps_the_pyspark_zip_directory(spark):
    def probe(it):
        import importlib
        import sys
        import zipimport

        for _ in it:
            pass
        archive = next(p for p in zipimport._zip_directory_cache
                       if p.endswith("pyspark.zip"))
        before = id(zipimport._zip_directory_cache[archive])
        importlib.invalidate_caches()
        after = id(zipimport._zip_directory_cache[archive])
        main = getattr(sys.modules["__main__"], "__spec__", None)
        yield pd.DataFrame({"archive": [archive], "before": [before],
                            "after": [after],
                            "daemon": [getattr(main, "name", None)]})

    rows = (spark.range(4, numPartitions=4)
            .mapInPandas(probe, "archive string, before long, after long, daemon string")
            .collect())
    assert len(rows) == 4
    for r in rows:
        assert r["before"] == r["after"], f"{r['archive']} was re-read at task start"
        assert r["daemon"] == "volga_spark.pydaemon"


def test_add_py_file_mid_session_is_importable(spark, tmp_path):
    sc = spark.sparkContext
    parts = sc.defaultParallelism
    # workers are up and have imported from their path before the file ships
    assert spark.range(parts, numPartitions=parts).mapInPandas(
        lambda it: it, "id long").count() == parts

    name = f"volga_probe_{uuid.uuid4().hex}"
    value = uuid.uuid4().hex
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", f"VALUE = {value!r}\n")
    sc.addPyFile(str(archive))

    def read(it):
        import importlib

        mod = importlib.import_module(name)
        for pdf in it:
            yield pd.DataFrame({"v": [mod.VALUE] * len(pdf)})

    got = spark.range(parts, numPartitions=parts).mapInPandas(read, "v string").collect()
    assert [r["v"] for r in got] == [value] * parts
