"""The engine's Python worker daemon (pydaemon.py): a zip importer re-reads
its archive's directory on `importlib.invalidate_caches()` only when the
archive changed, and every Python task of a `get_spark` session runs in a
worker forked from that daemon, where a zip shipped later with
`addPyFile` still imports."""

from __future__ import annotations

import importlib
import os
import zipfile
import zipimport

from clinical_search_data_pipeline_spark import pydaemon


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "pkgs.zip")
    mod_a, mod_b = f"pw_a_{tmp_path.name}", f"pw_b_{tmp_path.name}"
    _write_zip(archive, {mod_a: "VALUE = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(mod_a).VALUE == 1

    reads = []
    real_read = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    importlib.invalidate_caches()  # the first call reads and signs
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, {mod_a: "VALUE = 1\n", mod_b: "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module(mod_b).VALUE == 2


def test_session_workers_use_the_engine_daemon(spark, tmp_path):
    def worker_patch(_):
        code = zipimport.zipimporter.invalidate_caches.__code__
        return code.co_name, os.path.realpath(code.co_filename)

    sc = spark.sparkContext
    name, filename = sc.parallelize([0], 1).map(worker_patch).first()
    assert name == "invalidate_caches"
    assert filename == os.path.realpath(pydaemon.__file__)

    # a zip shipped after the first Python task still imports in a task
    mod = f"pw_shipped_{tmp_path.name}"
    archive = str(tmp_path / f"{mod}.zip")
    _write_zip(archive, {mod: "VALUE = 42\n"})
    sc.addPyFile(archive)

    def load(_):
        return importlib.import_module(mod).VALUE

    assert sc.parallelize([0, 1], 2).map(load).collect() == [42, 42]
