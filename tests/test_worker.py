"""The Python-worker zip re-read wrapper (``js_hll_spark/_worker.py``):
an unchanged archive is read once, a rewritten one again, and the wrapper
installs only in a Spark worker on an interpreter that re-reads eagerly.
Every test restores ``zipimport`` so pytest's own importers stay stock."""

from __future__ import annotations

import importlib.util
import zipfile
import zipimport

import pytest

from js_hll_spark import _worker
from js_hll_spark._worker import skip_unchanged_zip_rereads


def _stock(monkeypatch):
    """Restore the stdlib ``invalidate_caches`` when the test ends."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _write(archive, members):
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        for name, src in members.items():
            zf.writestr(f"zpkg/{name}.py", src)


def test_zip_reread_only_when_archive_changes(tmp_path, monkeypatch):
    if hasattr(zipimport.zipimporter, "_get_files"):
        pytest.skip("this interpreter re-reads zip directories lazily")
    _stock(monkeypatch)
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    archive = str(tmp_path / "pkgs.zip")
    _write(archive, {"a": "X = 1\n"})
    top = zipimport.zipimporter(archive)
    sub = zipimport.zipimporter(f"{archive}/zpkg/")
    assert _load(top, "zpkg").__name__ == "zpkg"
    assert _load(sub, "zpkg.a").X == 1

    assert _worker._wrap_invalidate_caches()
    reads.clear()
    for _ in range(3):
        top.invalidate_caches()
        sub.invalidate_caches()
    assert reads.count(archive) <= 1
    assert _load(sub, "zpkg.a").X == 1

    # rewrite in place (same inode) with one more member
    _write(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
    reads.clear()
    top.invalidate_caches()
    sub.invalidate_caches()
    assert reads.count(archive) == 1
    assert _load(sub, "zpkg.b").Y == 2
    assert _load(top, "zpkg").__name__ == "zpkg"


def test_wrapper_needs_worker_and_eager_rereads(monkeypatch):
    from pyspark.core.files import SparkFiles

    _stock(monkeypatch)
    stock = zipimport.zipimporter.invalidate_caches
    assert not skip_unchanged_zip_rereads()  # not a worker

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(zipimport.zipimporter, "_get_files", lambda self: {}, raising=False)
    assert not skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is stock

    monkeypatch.delattr(zipimport.zipimporter, "_get_files")
    assert skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches.__wrapped__ is stock
    assert skip_unchanged_zip_rereads()  # once per process
    assert zipimport.zipimporter.invalidate_caches.__wrapped__ is stock


def test_worker_tasks_skip_zip_rereads(spark):
    """Every task after a worker's first one reads no zip directory."""
    import pyarrow as pa

    def probe(batches):
        import os
        import zipimport

        import js_hll_spark  # noqa: F401  (installs the wrapper)

        counter = getattr(zipimport, "_probe_reads", None)
        if counter is None:
            # this worker's first probe: its set-up ran before the counter
            counter = zipimport._probe_reads = [0]
            read_directory = zipimport._read_directory

            def counting(archive):
                counter[0] += 1
                return read_directory(archive)

            zipimport._read_directory = counting
            reads = -1
        else:
            reads = counter[0]
        counter[0] = 0
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "pid": [os.getpid()],
                "installed": [hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")],
                "reads": [reads],
            }
        )

    rows = (
        spark.range(0, 16, 1, 16)
        .mapInArrow(probe, "pid long, installed boolean, reads long")
        .collect()
    )
    assert len(rows) == 16
    assert all(r.installed for r in rows)
    later = [r.reads for r in rows if r.reads >= 0]
    assert len(later) >= 16 - len({r.pid for r in rows})
    assert later and set(later) == {0}
    # the driver keeps the stdlib importer
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
    assert not skip_unchanged_zip_rereads()
