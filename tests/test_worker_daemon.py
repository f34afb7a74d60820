"""The Python-worker daemon's stat-checked zip directory cache."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from etl_rf_matrix_controller_spark import worker_daemon


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """A second invalidate_caches() leaves an unchanged archive's
    directory alone; a rewritten archive is re-read and its new member
    imports."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_probe_a.py": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.setattr(worker_daemon, "_read_keys", {})
    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_probe_a").X == 1
        importlib.invalidate_caches()
        first = reads.count(archive)
        importlib.invalidate_caches()
        assert reads.count(archive) == first

        _write_zip(archive, {"wd_probe_a.py": "X = 1\n", "wd_probe_b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == first + 1
        assert importlib.import_module("wd_probe_b").Y == 2
    finally:
        for name in ("wd_probe_a", "wd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_python_workers_run_the_patched_daemon(spark):
    """Sessions from get_spark fork their Python workers from
    worker_daemon, so a task sees the stat-checked invalidation."""

    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"module": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    rows = spark.range(1, numPartitions=1).mapInPandas(probe, "module string").collect()
    assert [r.module for r in rows] == [worker_daemon.__name__]
