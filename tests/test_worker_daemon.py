"""The Python worker daemon that get_spark installs: zip-import directories
are re-read only when their archive changes, and every worker of the
session runs with that rule."""

import os
import sys
import zipfile
import zipimport

import pytest

from importpipeline_spark import worker_daemon


def _write_zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["mod_a"])
    importers = [zipimport.zipimporter(path), zipimport.zipimporter(path)]
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    for _ in range(5):
        for imp in importers:
            worker_daemon.invalidate_caches(imp)
    assert len(reads) <= 1

    # a second module: size and mtime change → one shared re-read
    _write_zip(path, ["mod_a", "mod_b"])
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    del reads[:]
    for _ in range(3):
        for imp in importers:
            worker_daemon.invalidate_caches(imp)
    assert reads == [path]
    for imp in importers:
        assert imp.find_spec("mod_b") is not None
        assert imp.find_spec("mod_a") is not None

    # a vanished archive reads as empty, as the stdlib rule does
    os.remove(path)
    worker_daemon.invalidate_caches(importers[0])
    assert importers[0].find_spec("mod_a") is None


def test_get_spark_workers_keep_zip_directories(spark):
    def _invalidate_rule(_):
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        yield f.__qualname__, f.__code__.co_filename

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == worker_daemon.__name__
    rules = set(spark.sparkContext.parallelize(range(4), 4)
                .mapPartitions(_invalidate_rule).collect())
    (qualname, filename), = rules
    if sys.version_info >= (3, 12):
        assert filename != worker_daemon.__file__
        pytest.skip("the stdlib invalidates zip directories lazily")
    assert qualname == worker_daemon.invalidate_caches.__qualname__
    assert os.path.samefile(filename, worker_daemon.__file__)
