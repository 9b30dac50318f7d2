"""The zipimport shim (``zarr_datafusion_search_spark._zipimport``).

Every case runs in a fresh subprocess, because the shim patches the
interpreter-wide ``zipimport.zipimporter`` class and the checks count
directory reads from the first ``importlib.invalidate_caches()`` on.

- On the current interpreter the package import installs it (< 3.13) or
  leaves the stdlib method alone (>= 3.13).
- Other CPython versions found on PATH load the module file on its own,
  so the version gate runs on each side of 3.13 where those exist.

In both, after the first call the second and third re-read nothing, and a
zip rewritten in place still shows an added module and hides a removed one.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHIM = os.path.join(REPO, "zarr_datafusion_search_spark", "_zipimport.py")

_SCRIPT = r'''
import importlib, importlib.util, os, sys, tempfile, zipfile, zipimport

how, shim_path = sys.argv[1], sys.argv[2]
archive = os.path.join(tempfile.mkdtemp(), "lib.zip")
BASE = {"pkg/__init__.py": "", "pkg/old_mod.py": "X = 1\n"}
for sub in "abc":
    BASE[f"pkg/{sub}/__init__.py"] = ""
    BASE[f"pkg/{sub}/m.py"] = f"NAME = {sub!r}\n"


def write_zip(files):
    # "w" truncates the same file: same inode, new size
    with zipfile.ZipFile(archive, "w") as zf:
        for name, body in sorted(files.items()):
            zf.writestr(name, body)


write_zip(BASE)
sys.path.insert(0, archive)
import pkg.a.m, pkg.b.m, pkg.c.m  # one zipimporter per package directory

if how == "package":
    import zarr_datafusion_search_spark  # noqa: F401
else:
    spec = importlib.util.spec_from_file_location("_zipimport_shim", shim_path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))

method = zipimport.zipimporter.invalidate_caches
patched = method.__module__ != "zipimport"
assert patched == (sys.version_info < (3, 13)), (sys.version_info, method)

ours = [f for k, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter) and k.startswith(archive)]
assert len(ours) >= 4, ours

reads = []
real_read = zipimport._read_directory


def counting_read(path):
    reads.append(path)
    return real_read(path)


zipimport._read_directory = counting_read
importlib.invalidate_caches()
if patched:
    assert reads.count(archive) >= len(ours), reads
    for _ in range(2):
        reads.clear()
        importlib.invalidate_caches()
        assert reads == [], reads

write_zip({**BASE, "pkg/new_mod.py": "Y = 2\n"})
importlib.invalidate_caches()
import pkg.new_mod
assert pkg.new_mod.Y == 2

gone = dict(BASE)
del gone["pkg/old_mod.py"]
write_zip(gone)
importlib.invalidate_caches()
try:
    import pkg.old_mod
except ImportError:
    pass
else:
    raise AssertionError("pkg.old_mod imported after it left the archive")
print("OK", "patched" if patched else "stdlib")
'''


def _run(python: str, how: str) -> str:
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [python, "-c", _SCRIPT, how, SHIM],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    return proc.stdout


def test_package_import_installs_shim():
    out = _run(sys.executable, "package")
    expect = "OK patched" if sys.version_info < (3, 13) else "OK stdlib"
    assert expect in out


@pytest.mark.parametrize("name", ["python3.12", "python3.13"])
def test_version_gate_on_other_interpreters(name):
    python = shutil.which(name)
    if python is None:
        pytest.skip(f"{name} not on PATH")
    probe = subprocess.run(
        [python, "-c", "import sys; print(sys.version_info[:2] >= (3, 13))"],
        capture_output=True,
        text=True,
    )
    if probe.returncode != 0:
        pytest.skip(f"{name} does not start")
    out = _run(python, "file")
    expect = "OK stdlib" if probe.stdout.strip() == "True" else "OK patched"
    assert expect in out
