"""The Python worker daemon of local sessions (`pydaemon`)."""

from __future__ import annotations

import os
import zipfile
import zipimport

from legendary_data_pipeline_spark import pydaemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, ["alpha"])
    importer = zipimport.zipimporter(path)
    reread, reads = pydaemon._reread, []
    monkeypatch.setattr(pydaemon, "_reread", lambda self: (reads.append(1), reread(self)))

    pydaemon._invalidate_if_changed(importer)
    pydaemon._invalidate_if_changed(importer)
    pydaemon._invalidate_if_changed(importer)
    assert len(reads) == 1  # first call stamps, unchanged archive is skipped

    _write_zip(path, ["alpha", "beta"])
    os.utime(path, ns=(0, 1))  # a distinct mtime even on a coarse clock
    pydaemon._invalidate_if_changed(importer)
    assert len(reads) == 2
    assert importer.find_spec("beta") is not None

    os.remove(path)
    pydaemon._invalidate_if_changed(importer)  # a vanished archive re-reads
    assert len(reads) == 3
    assert importer.find_spec("alpha") is None


def test_local_session_python_tasks_run_through_pydaemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == pydaemon.__name__

    def main_module(_):
        import sys

        yield sys.modules["__main__"].__spec__.name

    names = spark.sparkContext.parallelize(range(4), 2).mapPartitions(main_module).collect()
    assert names == [pydaemon.__name__] * 2
