"""Importing hermes_spark makes importlib.invalidate_caches() skip zip
archives that have not changed (hermes_spark/zipcache.py), and an
archive that was rewritten is still re-read."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import hermes_spark  # noqa: F401  (installs the fix)


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zipped_a"])
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zipped_a").NAME == "zipped_a"

        reads = []
        read_directory = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        if sys.version_info < (3, 13):
            # 3.13+ runs without the fix: its invalidation is lazy, and
            # an import inside invalidate_caches() may read the archive
            assert archive not in reads

        # a rewritten archive (new size, new mtime) is read again, and
        # the module it added imports
        _write_zip(archive, ["zipped_a", "zipped_b"])
        importlib.invalidate_caches()
        assert importlib.import_module("zipped_b").NAME == "zipped_b"
    finally:
        sys.modules.pop("zipped_a", None)
        sys.modules.pop("zipped_b", None)
