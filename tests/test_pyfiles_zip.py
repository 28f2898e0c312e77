"""The checked-in ``--py-files`` artifact (``dist/src_to_kb_spark.zip``,
built by ``tools/package_pyfiles.py``) ships the current package source
and is importable on its own.  Spark-free."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from .conftest import REPO

ZIP = os.path.join(REPO, "dist", "src_to_kb_spark.zip")


def _package_sources() -> dict[str, bytes]:
    out = {}
    for dirpath, _dirnames, filenames in os.walk(os.path.join(REPO, "src_to_kb_spark")):
        if "__pycache__" in dirpath:
            continue
        for fn in filenames:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as f:
                    out[os.path.relpath(full, REPO).replace(os.sep, "/")] = f.read()
    return out


def test_zip_holds_exactly_the_package_sources():
    with zipfile.ZipFile(ZIP) as z:
        shipped = {n: z.read(n) for n in z.namelist()}
    src = _package_sources()
    assert sorted(shipped) == sorted(src), (
        "rebuild with tools/package_pyfiles.py")
    stale = [n for n in src if shipped[n] != src[n]]
    assert not stale, f"stale in the zip (rebuild it): {stale}"


def test_zip_alone_imports_the_pipeline(tmp_path):
    # -I: neither the repository, the working directory nor PYTHONPATH
    # is on sys.path — only the zip and the interpreter's site-packages
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import src_to_kb_spark.pipeline as p; print(p.__file__)"
    )
    out = subprocess.run(
        [sys.executable, "-I", "-c", code, ZIP],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip().startswith(ZIP), out.stdout
