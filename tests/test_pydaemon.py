"""The Python worker daemon entry (opc2mongodb_spark/pydaemon.py): unchanged
zip archives are not re-read on ``importlib.invalidate_caches()``, changed
ones are, and the engine's sessions run their workers under it."""

from __future__ import annotations

import os
import subprocess
import sys
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter: install() patches zipimport process-wide.
_ZIP_PROBE = r'''
import importlib, sys, zipfile, zipimport
from opc2mongodb_spark import pydaemon

path = sys.argv[1]

def write(names):
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(n + ".py", f"NAME = {n!r}\n")

write(["zmod_a"])
sys.path.insert(0, path)
import zmod_a
assert pydaemon.install()

reads = []
read = zipimport._read_directory
zipimport._read_directory = lambda a: reads.append(a) or read(a)
importlib.invalidate_caches()
assert reads == [], reads

write(["zmod_a", "zmod_b"])
importlib.invalidate_caches()
assert reads == [path], reads
import zmod_b
print(zmod_b.NAME)
'''


@pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter reads zip directories lazily; nothing to patch",
)
def test_invalidate_skips_unchanged_archive_and_rereads_changed(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_PROBE, str(tmp_path / "mods.zip")],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "zmod_b"


def test_package_import_is_light_and_exports_resolve():
    """The daemon imports the package ``__init__`` before every fork: it
    must not pull in pyspark or pandas, while the public names still
    resolve on first use."""
    import importlib

    import opc2mongodb_spark as pkg

    light = subprocess.run(
        [sys.executable, "-c", "import sys, opc2mongodb_spark; "
         "print(sorted({'pandas', 'pyspark'} & set(sys.modules)))"],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert light.returncode == 0, light.stderr
    assert light.stdout.strip() == "[]"
    for name in pkg.__all__:
        owner = importlib.import_module(pkg._EXPORTS[name])
        assert getattr(pkg, name) is getattr(owner, name)
    from opc2mongodb_spark import Engine

    assert Engine.__module__ == "opc2mongodb_spark.engine"
    with pytest.raises(AttributeError):
        pkg.no_such_name


def test_session_conf_sets_daemon_module_and_extra_conf_overrides():
    from opc2mongodb_spark import pydaemon
    from opc2mongodb_spark.session import build_session_conf

    key = "spark.python.daemon.module"
    assert build_session_conf()[key] == pydaemon.__name__
    conf = build_session_conf(extra_conf={key: "pyspark.daemon"})
    assert conf[key] == "pyspark.daemon"


def test_session_workers_run_wrapped_invalidate_caches(spark):
    """A worker of the test session forks from the daemon entry and its
    ``invalidate_caches`` leaves the (unchanged) pyspark.zip alone."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().split(b"\0")
        zips = [
            i for i in sys.path_importer_cache.values()
            if isinstance(i, zipimport.zipimporter)
        ]
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "parent": " ".join(a.decode() for a in parent[1:] if a),
            "wrapped": bool(getattr(
                zipimport.zipimporter.invalidate_caches, "keeps_zip_cache",
                False,
            )),
            "zips": len(zips),
            "reads": len(reads),
        }])

    row = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "parent string, wrapped boolean, zips long, reads long")
        .first()
    )
    assert row.parent == "-m opc2mongodb_spark.pydaemon pyspark.worker"
    assert row.wrapped
    assert row.zips > 0  # the worker imports pyspark from pyspark.zip
    assert row.reads == 0
