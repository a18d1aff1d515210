"""The Python worker daemon (raster2points_spark/_pydaemon.py) puts the
installed pyspark ahead of Spark's source-only archives when the versions
match, keeps an unchanged zip archive's directory across tasks and still
re-reads a rewritten one."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from raster2points_spark._pydaemon import installed_first

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _site(root, **versions):
    """A directory of packages ``name/__init__.py`` + ``name/version.py``."""
    for pkg, version in versions.items():
        (root / pkg).mkdir(parents=True)
        (root / pkg / "__init__.py").write_text("")
        (root / pkg / "version.py").write_text(f"__version__ = {version!r}\n")
    return str(root)


def _zip(path, *members, **versions):
    """A zip archive holding ``members`` and the versioned packages."""
    with zipfile.ZipFile(path, "w") as z:
        for name in members:
            z.writestr(name, "")
        for pkg, version in versions.items():
            z.writestr(f"{pkg}/__init__.py", "")
            z.writestr(f"{pkg}/version.py", f"__version__ = {version!r}\n")
    return str(path)


def test_installed_first_moves_directories_before_archives(tmp_path):
    lib = _site(tmp_path / "lib")
    site = _site(tmp_path / "site", pyspark="4.1.2", py4j="0.10.9.9")
    pyspark_zip = _zip(tmp_path / "pyspark.zip", pyspark="4.1.2")
    py4j_zip = _zip(tmp_path / "py4j-src.zip", py4j="0.10.9.9")
    jar = _zip(tmp_path / "core.jar", "org/apache/spark/SparkContext.class")
    path = [lib, pyspark_zip, py4j_zip, jar, site]
    assert installed_first(path) == [lib, site, pyspark_zip, py4j_zip, jar]


@pytest.mark.parametrize("pkg", ["pyspark", "py4j"])
def test_installed_first_keeps_path_on_version_mismatch(tmp_path, pkg):
    site = _site(tmp_path / "site", pyspark="4.1.2", py4j="0.10.9.9")
    archived = {"pyspark": "4.1.2", "py4j": "0.10.9.9", pkg: "0.0.1"}
    pyspark_zip = _zip(tmp_path / "pyspark.zip", pyspark=archived["pyspark"])
    py4j_zip = _zip(tmp_path / "py4j-src.zip", py4j=archived["py4j"])
    path = [pyspark_zip, py4j_zip, site]
    assert installed_first(path) == path


def test_installed_first_ignores_archives_without_pyspark(tmp_path):
    site = _site(tmp_path / "site", pyspark="4.1.2")
    jar = _zip(tmp_path / "core.jar", "org/apache/spark/SparkContext.class")
    other = _zip(tmp_path / "deps.zip", "helpers.py")
    assert installed_first([jar, other, site]) == [site, jar, other]


def test_installed_first_keeps_path_without_installed_pyspark(tmp_path):
    lib = _site(tmp_path / "lib", py4j="0.10.9.9")
    pyspark_zip = _zip(tmp_path / "pyspark.zip", pyspark="4.1.2")
    jar = _zip(tmp_path / "core.jar", "org/apache/spark/SparkContext.class")
    for path in ([pyspark_zip, lib], [jar, lib]):
        assert installed_first(path) == path


def test_package_import_leaves_pyspark_unloaded():
    """``python -m raster2points_spark._pydaemon`` imports the package
    first; pyspark must still be unimported when the path is reordered."""
    code = (
        "import sys, raster2points_spark; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"


def test_python_workers_import_the_installed_pyspark(spark):
    """A task runs the installed pyspark (a real file, not a member of
    pyspark.zip) of the driver's version."""
    import pyspark

    def probe(batches):
        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"file": pyspark.__file__, "version": pyspark.__version__}]
        )

    df = spark.range(1, numPartitions=1).mapInArrow(probe, "file string, version string")
    (r,) = df.collect()
    assert os.path.isfile(r.file), r.file
    assert r.version == pyspark.__version__


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
