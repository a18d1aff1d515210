"""The Python worker daemon (raster2points_spark/_pydaemon.py) keeps an
unchanged zip archive's directory across tasks and still re-reads a
rewritten one."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport


def test_invalidate_keeps_unchanged_zip_and_rereads_rewritten(tmp_path, monkeypatch):
    from raster2points_spark import _pydaemon

    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("r2p_zip_a.py", "X = 1\n")
    # restored after the test: the stock method and an empty stamp table
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(_pydaemon, "_stamps", {})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("r2p_zip_a").X == 1
        importer = sys.path_importer_cache[str(archive)]
        _pydaemon.install()
        files = importer._files
        importlib.invalidate_caches()
        assert importer._files is files
        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("r2p_zip_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert importlib.import_module("r2p_zip_b").Y == 2
    finally:
        for name in ("r2p_zip_a", "r2p_zip_b"):
            sys.modules.pop(name, None)


def test_python_workers_keep_pyspark_zip_directory_across_tasks(spark):
    """Successive 1-partition Python jobs: a worker that runs another
    task still holds the same pyspark.zip directory object (the stock
    daemon re-reads it at the start of every task)."""

    def probe(batches):
        import os
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        dirs = [v for k, v in zipimport._zip_directory_cache.items() if k.endswith("pyspark.zip")]
        yield pa.RecordBatch.from_pylist(
            [{"pid": os.getpid(), "dir": id(dirs[0]) if dirs else None}]
        )

    seen: dict[int, int] = {}
    # idle workers are handed out in turn: run jobs until one repeats
    for _ in range(64):
        (r,) = spark.range(1, numPartitions=1).mapInArrow(probe, "pid long, dir long").collect()
        assert r.dir is not None, "the worker imported nothing from pyspark.zip"
        if r.pid in seen:
            assert seen[r.pid] == r.dir
            break
        seen[r.pid] = r.dir
    else:
        raise AssertionError(f"no Python worker ran two tasks: {sorted(seen)}")
