"""The engine's PySpark daemon (oboyu_spark._pydaemon): Python tasks
re-read no unchanged zip archive on importlib.invalidate_caches(), a
replaced archive is still re-read, and the daemon imports on the
workers whatever the driver's working directory is."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13's zipimport re-reads no archive eagerly")
def test_worker_task_rereads_no_unchanged_archive(spark):
    def probe(it):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = [v for v in sys.path_importer_cache.values()
                     if isinstance(v, zipimport.zipimporter)]
        method = zipimport.zipimporter.invalidate_caches.__name__
        for _ in it:
            yield pd.DataFrame({"reads": [len(reads)],
                                "importers": [len(importers)],
                                "method": [method]})

    rows = spark.range(0, 2, 1, 2).mapInPandas(
        probe, "reads long, importers long, method string").collect()
    assert rows
    for r in rows:
        # control: the task runs under the engine's daemon, with the
        # pyspark.zip importers an unpatched call would each re-read
        assert r["method"] == "_invalidate_caches", r
        assert r["importers"] > 0, r
        assert r["reads"] == 0, r


def test_replaced_archive_is_reread(tmp_path, monkeypatch):
    from oboyu_spark import _pydaemon

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pydaemon._invalidate_caches)
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zsnap_a.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zsnap_a", "zsnap_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zsnap_a").VALUE == 1
    importlib.invalidate_caches()

    reads: list[str] = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real(path))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads  # unchanged: not re-read

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zsnap_a.py", "VALUE = 1\n")
        z.writestr("zsnap_b.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module("zsnap_b").VALUE == 2


def test_udf_runs_from_a_foreign_cwd(tmp_path):
    """The repo is on the driver's sys.path only (not PYTHONPATH) and
    the cwd holds no engine: the workers must still import the daemon
    module and run a __main__-defined UDF."""
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from oboyu_spark.session import get_spark

        def plus_one(it):
            for pdf in it:
                yield pdf + 1

        spark = get_spark(app_name="pydaemon_cwd", cores=1,
                          driver_memory="1g")
        rows = spark.range(3).mapInPandas(plus_one, "id long").collect()
        print("ids", sorted(r.id for r in rows))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["OBOYU_SPARK_NO_WARM"] = "1"
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "ids [1, 2, 3]" in out.stdout, out.stdout[-2000:]
