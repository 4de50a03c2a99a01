"""The spark-submit --py-files zip (scripts/make_package.py): it holds every
package module, and every module imports from the zip alone (zipimport has no
PEP 420 namespace packages, so each subpackage needs an ``__init__.py``)."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "csxj_crawler_spark"


def _make_package():
    spec = importlib.util.spec_from_file_location(
        "make_package", os.path.join(ROOT, "scripts", "make_package.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _package_sources() -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, PKG)):
        if "__pycache__" in dirpath:
            continue
        out += [
            os.path.relpath(os.path.join(dirpath, fn), ROOT).replace(os.sep, "/")
            for fn in files
            if fn.endswith(".py")
        ]
    return sorted(out)


def test_zip_lists_every_module(tmp_path):
    z = _make_package().build(str(tmp_path / "pkg.zip"))
    names = sorted(zipfile.ZipFile(z).namelist())
    assert names == _package_sources()
    for gone in ("operators/media.py", "functions/audio.py"):
        assert f"{PKG}/{gone}" not in names


def test_every_module_imports_from_zip(tmp_path):
    z = _make_package().build(str(tmp_path / "pkg.zip"))
    mods = [
        n[: -len(".py")].replace("/", ".").removesuffix(".__init__")
        for n in zipfile.ZipFile(z).namelist()
    ]
    probe = (
        "import importlib, json, sys\n"
        "zpath, bad = sys.argv[1], {}\n"
        "for m in sys.argv[2:]:\n"
        "    try:\n"
        "        f = importlib.import_module(m).__file__ or ''\n"
        "        if not f.startswith(zpath):\n"
        "            bad[m] = 'loaded from ' + f\n"
        "    except Exception as e:\n"
        "        bad[m] = repr(e)\n"
        "print(json.dumps(bad))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = z
    res = subprocess.run(
        [sys.executable, "-c", probe, z, *mods],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr
    assert json.loads(res.stdout.strip().splitlines()[-1]) == {}
