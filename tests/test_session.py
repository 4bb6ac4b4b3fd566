"""The worker package zip that ``get_spark`` ships with ``addPyFile``."""

from __future__ import annotations

import os
import shutil
import tempfile
import zipfile

import pytest

from warc_bench_spark import session
from warc_bench_spark.session import _package_zip


def test_package_zip_is_written_once_per_source_digest(tmp_path, monkeypatch):
    """Two calls return the same finished file: the zip is named by the
    package's source digest and moved into place whole, so no caller sees
    a half-written zip and no temp file is left behind."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = _package_zip()
    mtime = os.stat(first).st_mtime_ns
    second = _package_zip()
    assert first == second
    assert os.stat(second).st_mtime_ns == mtime  # not rewritten
    assert os.listdir(tmp_path) == [os.path.basename(first)]
    with zipfile.ZipFile(first) as z:
        assert "warc_bench_spark/operators/crawl.py" in z.namelist()


def _copy_package(root):
    """A private copy of the package under ``root``, so a test may edit
    its sources without touching the real ones."""
    src = os.path.join(session._PKG_ROOT, "warc_bench_spark")
    shutil.copytree(
        src,
        os.path.join(root, "warc_bench_spark"),
        ignore=shutil.ignore_patterns("__pycache__"),
    )


def test_package_zip_name_follows_source_digest(tmp_path, monkeypatch):
    """An edited source gets a new zip: a session never ships the zip of
    an older source version because it happens to sit in the temp dir."""
    pkg_root, zips = tmp_path / "pkg", tmp_path / "zips"
    zips.mkdir()
    _copy_package(str(pkg_root))
    monkeypatch.setattr(session, "_PKG_ROOT", str(pkg_root))
    monkeypatch.setattr(tempfile, "tempdir", str(zips))
    before = _package_zip()
    edited = pkg_root / "warc_bench_spark" / "operators" / "crawl.py"
    edited.write_text(edited.read_text() + "\n# edited\n")
    after = _package_zip()
    assert after != before
    assert sorted(os.listdir(zips)) == sorted(
        [os.path.basename(before), os.path.basename(after)]
    )
    with zipfile.ZipFile(after) as z:
        shipped = z.read("warc_bench_spark/operators/crawl.py").decode()
    assert shipped.endswith("# edited\n")


def test_package_zip_failed_write_leaves_nothing(tmp_path, monkeypatch):
    """A write that fails part-way removes its temp file and publishes no
    zip, so the next call writes a whole one."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def fail(self, *args, **kwargs):
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(zipfile.ZipFile, "write", fail)
        with pytest.raises(OSError, match="disk full"):
            _package_zip()
    assert os.listdir(tmp_path) == []
    out = _package_zip()
    with zipfile.ZipFile(out) as z:
        assert z.testzip() is None
        assert "warc_bench_spark/operators/crawl.py" in z.namelist()
