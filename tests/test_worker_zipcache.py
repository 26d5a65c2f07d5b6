"""The worker-side zip directory cache (``worker_zipcache``): inside a Spark
Python worker on CPython < 3.12, ``importlib.invalidate_caches()`` must not
re-parse an unchanged zip archive, must re-parse a rewritten one, and must
leave every other process untouched. Each case runs in a fresh interpreter
because the hook patches a process-wide class."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROG = r"""
import importlib, json, os, sys, zipfile, zipimport

archive = sys.argv[1]
fake_version = sys.argv[2] == "fake312"

def build(extra):
    files = {"zpkg/__init__.py": "", "zpkg/a.py": "A = 1\n",
             "zpkg/sub/__init__.py": "", "zpkg/sub/c.py": "C = 3\n"}
    files.update(extra)
    tmp = archive + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    os.replace(tmp, archive)

import spark_streaming_logservice_spark.worker_zipcache as wz

if fake_version:
    os.environ["PYTHON_WORKER_FACTORY_SECRET"] = "x"
    sys.version_info = (3, 12, 0, "final", 0)
    print(json.dumps({"installed": wz.install(),
        "patched": zipimport.zipimporter.invalidate_caches is not wz._STOCK_INVALIDATE}))
    sys.exit(0)

build({})
sys.path.insert(0, archive)
import zpkg.a, zpkg.sub.c
importers = sum(1 for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter) and k.startswith(archive))

reads = [0]
stock_read = zipimport._read_directory
def counting_read(path):
    reads[0] += 1
    return stock_read(path)
zipimport._read_directory = counting_read

importlib.invalidate_caches()   # may read once to record the archive's stat
reads[0] = 0
importlib.invalidate_caches()
unchanged_reads = reads[0]

build({"zpkg/b.py": "B = 2\n"})
reads[0] = 0
importlib.invalidate_caches()
rewritten_reads = reads[0]
import zpkg.b

print(json.dumps({
    "installed": zipimport.zipimporter.invalidate_caches is not wz._STOCK_INVALIDATE,
    "importers": importers, "unchanged_reads": unchanged_reads,
    "rewritten_reads": rewritten_reads, "b": zpkg.b.B,
}))
"""


def _run(tmp_path, worker: bool, mode: str = "real") -> dict:
    env = dict(os.environ, PYTHONPATH=ROOT)
    env.pop("PYTHON_WORKER_FACTORY_SECRET", None)
    if worker:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "test-secret"
    out = subprocess.run(
        [sys.executable, "-c", _PROG, str(tmp_path / "pkg.zip"), mode],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_worker_skips_reread_of_unchanged_archive(tmp_path):
    res = _run(tmp_path, worker=True)
    assert res["importers"] >= 2  # several prefixes share one archive
    assert res["installed"] == (sys.version_info < (3, 12))
    if res["installed"]:
        assert res["unchanged_reads"] == 0
        assert res["rewritten_reads"] >= 1
    assert res["b"] == 2  # a rewritten archive serves its new module


def test_not_installed_outside_a_worker(tmp_path):
    res = _run(tmp_path, worker=False)
    assert res["installed"] is False
    if sys.version_info < (3, 12):
        # the stock method re-parses the unchanged archive once per importer
        assert res["unchanged_reads"] == res["importers"]
    assert res["b"] == 2


def test_noop_on_cpython_312(tmp_path):
    res = _run(tmp_path, worker=False, mode="fake312")
    assert res == {"installed": False, "patched": False}
