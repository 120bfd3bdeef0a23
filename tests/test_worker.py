"""Worker-side set-up (`lantern_extras_spark.worker`) and package shipping.

The stat-checked `zipimporter.invalidate_caches`: an archive is re-read
after `importlib.invalidate_caches()` only when it changed on disk, the
install is a no-op on CPython 3.13+, and inside a Spark worker that ran a
library kernel the per-task refresh is cheap. Also: the shipped package zip
is replaced atomically."""

import importlib
import os
import sys
import threading
import uuid
import zipfile
import zipimport

import pytest

from lantern_extras_spark import worker
from lantern_extras_spark.session import _write_package_zip


def _write_zip(path: str, modules: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)
    os.replace(tmp, path)


@pytest.fixture
def zip_reads(monkeypatch):
    """Restores zipimporter.invalidate_caches after the test and counts
    `_read_directory` calls per archive."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ re-reads lazily itself")
def test_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch, zip_reads):
    mod_a, mod_b = (f"zr_{uuid.uuid4().hex}" for _ in range(2))
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, {mod_a: "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(mod_a).X == 1
    del zip_reads[:]

    assert worker.install_zip_refresh()
    assert worker.install_zip_refresh()  # idempotent
    importlib.invalidate_caches()  # first refresh after install: one read
    assert zip_reads.count(archive) == 1
    del zip_reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zip_reads.count(archive) == 0  # unchanged: not re-read

    # replaced on disk (new inode): re-read once, new module importable
    _write_zip(archive, {mod_a: "X = 1\n", mod_b: "Y = 2\n"})
    importlib.invalidate_caches()
    assert zip_reads.count(archive) == 1
    assert importlib.import_module(mod_b).Y == 2
    del zip_reads[:]

    # rewritten in place (same inode, new size): also re-read
    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("extra.txt", "more")
    importlib.invalidate_caches()
    assert zip_reads.count(archive) == 1

    for m in (mod_a, mod_b):
        sys.modules.pop(m, None)


def test_install_is_a_noop_on_313(monkeypatch, zip_reads):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert worker.install_zip_refresh() is False
    assert zipimport.zipimporter.invalidate_caches is before


def test_prepare_does_nothing_on_the_driver(zip_reads):
    before = zipimport.zipimporter.invalidate_caches
    worker.prepare()
    assert zipimport.zipimporter.invalidate_caches is before


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ re-reads lazily itself")
def test_worker_refresh_is_cheap_after_a_library_kernel(spark):
    """Runs `pq.quantize` (a library kernel) and then, in a worker that ran
    it, times the per-task `importlib.invalidate_caches()` PySpark issues."""
    import pandas as pd

    from lantern_extras_spark.operators import pq as PQ
    from lantern_extras_spark.session import local_frame

    cores = spark.sparkContext.defaultParallelism
    vecs = local_frame(spark, [(i, [float(i), 1.0]) for i in range(4 * cores)],
                       "id long, v array<double>")
    codebook = local_frame(spark, [(0, 0, [0.0, 0.0]), (0, 1, [9.0, 9.0])],
                           "subvector_id int, centroid_id int, c array<float>")
    assert PQ.quantize(vecs, codebook, vec_col="v", dim=2).count() == 4 * cores

    def probe(batches):
        import importlib
        import sys
        import time
        import zipimport

        from lantern_extras_spark.operators import pq  # noqa: F401  (library code)

        n_zip = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        installed = getattr(zipimport.zipimporter.invalidate_caches, "_stat_checked", False)
        importlib.invalidate_caches()  # the previous task's refresh
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            best = min(best, time.perf_counter() - t0)
        for _ in batches:
            pass
        yield pd.DataFrame({"n_zip": [n_zip], "installed": [installed], "secs": [best]})

    out = (
        spark.range(cores, numPartitions=cores)
        .mapInPandas(probe, "n_zip long, installed boolean, secs double")
        .collect()
    )
    assert all(r["installed"] for r in out)
    assert all(r["n_zip"] >= 1 for r in out)  # there are archives to re-read
    assert max(r["secs"] for r in out) < 0.010, out


def test_package_zip_is_replaced_atomically(tmp_path):
    zpath = str(tmp_path / "lantern_extras_spark_pkg.zip")
    _write_package_zip(zpath)
    errors: list[BaseException] = []

    def writer():
        try:
            for _ in range(15):
                _write_package_zip(zpath)
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=writer) for _ in range(2)]
    for t in threads:
        t.start()
    reads = 0
    while any(t.is_alive() for t in threads) or reads == 0:
        with zipfile.ZipFile(zpath) as zf:  # a partial archive raises BadZipFile
            assert "lantern_extras_spark/session.py" in zf.namelist()
            assert zf.testzip() is None
        reads += 1
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert not errors
    assert os.listdir(tmp_path) == ["lantern_extras_spark_pkg.zip"]  # no temp files left
