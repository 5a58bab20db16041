"""The Python-worker daemon's zipimport fix (svoe_spark.pyworker)."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from svoe_spark import pyworker

STDLIB = pyworker._stdlib_invalidate_caches


def _write_zip(path, modules):
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")
    tmp.replace(path)


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="the daemon patches CPython < 3.12 only")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"pw_first": 1})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("pw_first", "pw_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pw_first").VALUE == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)

    importlib.invalidate_caches()  # first sight of the archive: one read
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads

    # a rewritten archive is re-read, and its new module imports
    _write_zip(archive, {"pw_first": 1, "pw_second": 2})
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module("pw_second").VALUE == 2


def test_workers_run_the_engine_daemon_and_the_driver_keeps_stdlib(spark):
    def report(pdf):
        import zipimport

        import pandas as pd
        from pyspark import TaskContext

        fn = zipimport.zipimporter.invalidate_caches
        task = TaskContext.get().partitionId()
        return pd.DataFrame({"task": [task], "fn": [f"{fn.__module__}.{fn.__qualname__}"]})

    # 64 groups over 4 hash partitions: every task gets some
    df = spark.range(0, 256, numPartitions=4).selectExpr("id % 64 AS k").repartition(4, "k")
    rows = df.groupBy("k").applyInPandas(report, schema="task int, fn string").collect()

    expected = pyworker.invalidate_caches if sys.version_info < (3, 12) else STDLIB
    assert {r.task for r in rows} == {0, 1, 2, 3}
    assert {r.fn for r in rows} == {f"{expected.__module__}.{expected.__qualname__}"}
    assert zipimport.zipimporter.invalidate_caches is STDLIB
