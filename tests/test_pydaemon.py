"""The worker daemon's zip-directory guard (raster_tools_spark._pydaemon):
installed in the session's Python workers, and re-reading an archive's
directory only when the archive changed."""

import importlib
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from raster_tools_spark import _pydaemon


def test_session_workers_use_the_guard(spark):
    """Below CPython 3.13 every worker runs the guarded
    ``zipimporter.invalidate_caches``; from 3.13 on the stock one, which
    is already lazy."""

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"fn": [fn.__qualname__],
                            "before_313": [sys.version_info < (3, 13)]})

    assert (spark.conf.get("spark.python.daemon.module")
            == "raster_tools_spark._pydaemon")
    rows = {
        (r.fn, r.before_313)
        for r in spark.range(0, 8, 1, 8)
        .mapInPandas(probe, "fn string, before_313 boolean").collect()
    }
    assert rows in ({("_guarded_invalidate", True)},
                    {("zipimporter.invalidate_caches", False)})


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pkg/__init__.py", "")
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="the guard is installed only below CPython 3.13")
def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    arc = str(tmp_path / "mods.zip")
    _write_zip(arc, ["_zg_mod_a"])
    monkeypatch.syspath_prepend(arc)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pydaemon._guarded_invalidate)
    try:
        assert importlib.import_module("_zg_mod_a").NAME == "_zg_mod_a"
        sub = zipimport.zipimporter(arc + "/pkg")  # a second importer

        # first sight of the archive: read, as the stock method does
        n = reads.count(arc)
        importlib.invalidate_caches()
        assert reads.count(arc) == n + 1

        # unchanged: neither importer re-reads, both see the cached dir
        for _ in range(5):
            importlib.invalidate_caches()
            sub.invalidate_caches()
        assert reads.count(arc) == n + 1
        assert sub._files is zipimport._zip_directory_cache[arc]
        with pytest.raises(ImportError):
            importlib.import_module("_zg_mod_b")

        # rewritten with a new module: re-read once, and it imports
        _write_zip(arc, ["_zg_mod_a", "_zg_mod_b"])
        importlib.invalidate_caches()
        assert reads.count(arc) == n + 2
        sub.invalidate_caches()
        assert reads.count(arc) == n + 2
        assert "_zg_mod_b.py" in sub._files
        assert importlib.import_module("_zg_mod_b").NAME == "_zg_mod_b"
    finally:
        for name in ("_zg_mod_a", "_zg_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(arc, None)


def test_daemon_only_from_this_package(tmp_path, monkeypatch):
    """``python -m`` imports from the working directory first: another
    copy of the package there keeps the stock daemon."""
    from raster_tools_spark import session

    monkeypatch.chdir(tmp_path)
    assert session._workers_import_this_package()
    (tmp_path / "raster_tools_spark").mkdir()
    assert not session._workers_import_this_package()
    pkg = Path(session.__file__).resolve().parent
    monkeypatch.chdir(pkg.parent)
    assert session._workers_import_this_package()
