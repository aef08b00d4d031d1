"""zipimport directory-cache shim (baum_welch_spark/_zipcache.py): an
unchanged archive is not re-read on ``importlib.invalidate_caches()``, a
rewritten one is, and the shim is off on CPython 3.13+. The last test checks
the same in a reused Spark Python worker."""

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest

from baum_welch_spark import _zipcache


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding a module and a package (two zipimporters on one archive),
    on sys.path; yields its path and removes every trace at teardown."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(
        archive,
        {"zc_mod_a.py": "X = 1\n", "zc_pkg/__init__.py": "", "zc_pkg/sub.py": "Y = 2\n"},
    )
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("zc_mod_a", "zc_mod_b", "zc_pkg", "zc_pkg.sub"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)
    _zipcache._read_stat.pop(archive, None)


def _count_reads(monkeypatch, archive: str) -> list:
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    import zc_mod_a  # noqa: F401
    import zc_pkg.sub  # noqa: F401

    importers = [
        f for k, f in sys.path_importer_cache.items()
        if k.startswith(zip_on_path) and isinstance(f, zipimport.zipimporter)
    ]
    assert len(importers) == 2
    reads = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()
    # the archive was read by zipimporter.__init__, not through the shim:
    # the first call reads it once for both importers, then never again
    assert len(reads) <= 1
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert importers[0]._files is importers[1]._files
    assert importlib.import_module("zc_pkg.sub").Y == 2


def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    import zc_mod_a  # noqa: F401

    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zc_mod_b")
    _write_zip(zip_on_path, {"zc_mod_a.py": "X = 1\n", "zc_mod_b.py": "Z = 3\n"})
    reads = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zc_mod_b").Z == 3


def test_not_installed_on_python_313(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _zipcache._original_invalidate
    )
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is _zipcache._original_invalidate


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="zipimport is lazy on 3.13+")
def test_spark_worker_keeps_pyspark_zip_directory(spark):
    """After a package UDF has run, a later task in a Python worker sees the
    wrapper, holds zipimporters (pyspark is imported from pyspark.zip), and
    re-reads no archive on ``importlib.invalidate_caches()``."""
    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.decode import score_sequences
    from baum_welch_spark.hmm.kernel import loglik_batch, pack, symbol_emit

    model = HMM.random(2, 3, seed=1)
    seqs = spark.createDataFrame([(0, [0, 1, 2])], "seq_id bigint, obs array<int>")
    assert len(score_sequences(spark, seqs, model).collect()) == 1

    pi, A, B = model.pi, model.A, model.B

    def probe(batches):
        for _ in batches:
            pass
        # referencing a package function makes this a package UDF too, so
        # the worker has the wrapper whichever idle worker runs the task
        [p] = pack([np.array([0, 1])], 2, n_symbols=3)
        loglik_batch(pi, A, symbol_emit(B)(p.obs), p)
        patched = zipimport.zipimporter.invalidate_caches.__module__ == _zipcache.__name__
        n_zip = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        importlib.invalidate_caches()  # what every task start runs
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({"patched": [patched], "n_zip": [n_zip], "reads": [len(reads)]})

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "patched boolean, n_zip int, reads int")
        .collect()[0]
    )
    assert row.patched
    assert row.n_zip >= 1
    assert row.reads == 0
