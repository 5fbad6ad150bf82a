"""The engine's Python-worker daemon (`financedatabase_spark.pydaemon`).

Every Python task ends its set-up with `importlib.invalidate_caches()`,
which on CPython 3.11 makes each cached zipimporter re-read its archive's
directory: ~0.2 CPU-s per task for the pyspark.zip, py4j and spark-core
archives on a worker's path. The daemon's guard skips the re-read while
the archive's stat is unchanged. These tests pin the guard's contract
(unchanged archive: no read; rewritten archive: re-read; deleted archive:
the original behaviour), that the session's workers really run it, and
that the workers import the engine from any working directory.
"""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from financedatabase_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def guarded_zip(tmp_path, monkeypatch):
    """A zip of one module on sys.path, the guard installed, and a log of
    the archives `zipimport._read_directory` reads."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_if_changed
    )
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"fdspark_zmod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    assert importlib.import_module("fdspark_zmod_a").VALUE == 1
    reads.clear()  # the importer's own first read
    yield path, reads
    for name in ("fdspark_zmod_a", "fdspark_zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(guarded_zip):
    path, reads = guarded_zip
    assert isinstance(sys.path_importer_cache[path], zipimport.zipimporter)
    importlib.invalidate_caches()  # first call: no stat stored yet, reads
    assert reads.count(path) == 1
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(path) == 0


def test_rewritten_archive_is_reread(guarded_zip):
    path, reads = guarded_zip
    importlib.invalidate_caches()
    _write_zip(path, {"fdspark_zmod_a": "VALUE = 1\n", "fdspark_zmod_b": "VALUE = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("fdspark_zmod_b").VALUE == 2


def test_deleted_archive_falls_back_to_original(guarded_zip):
    path, reads = guarded_zip
    importlib.invalidate_caches()
    os.remove(path)
    reads.clear()
    importlib.invalidate_caches()
    # the original invalidate_caches ran: it tried the read, failed and
    # emptied the importer's directory
    assert reads.count(path) == 1
    assert sys.path_importer_cache[path]._files == {}


def test_importing_pydaemon_installs_nothing():
    assert zipimport.zipimporter.invalidate_caches is pydaemon._original_invalidate


def test_workers_run_the_guard(spark):
    # defined in the test so cloudpickle ships it by value (the workers
    # cannot import this test module)
    def _worker_probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        # the task's own imports may have created importers after the task's
        # set-up invalidated the caches: store their stat once, then count
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        zips = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        yield pd.DataFrame(
            {
                "reads": [len(reads)],
                "zips": [zips],
                "guard": [zipimport.zipimporter.invalidate_caches.__name__],
            }
        )

    assert spark.conf.get("spark.python.daemon.module") == "financedatabase_spark.pydaemon"
    rows = (
        spark.range(0, 40, numPartitions=2)
        .mapInPandas(_worker_probe, "reads long, zips long, guard string")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r.guard == "invalidate_if_changed"
        assert r.zips >= 1  # there is something to guard
        assert r.reads == 0


def test_workers_import_the_engine_from_any_directory(tmp_path):
    """A driver started outside the checkout, with no PYTHONPATH: the
    daemon module and the engine's UDFs must still import in the
    workers."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from financedatabase_spark.operators.jpeg import jpeg_decode, synth_jpeg
        from financedatabase_spark.operators.multimodal import decode_features, dispatch_decode
        from financedatabase_spark.session import get_spark

        spark = get_spark("pydaemon-cwd", cpus=1)
        n = spark.range(10).mapInPandas(lambda it: it, "id long").count()
        assert n == 10, n
        ids = [1, 2, 3]
        df = spark.createDataFrame(
            [(i, synth_jpeg(i)) for i in ids], "doc_id long, payload binary"
        )
        out = {{r.doc_id: r.feature for r in decode_features(df, dispatch_decode).collect()}}
        for i in ids:
            assert out[i] == jpeg_decode(synth_jpeg(i)), i
        spark.stop()
        print("OK")
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = ""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "OK" in proc.stdout, proc.stderr[-4000:]
