"""The worker daemon's zip-import refresh (``pyworker``): an archive is
re-read only when it changed, and a session started outside the repo with
no ``PYTHONPATH`` can still start the daemon."""

from __future__ import annotations

import importlib
import json
import os
import pathlib
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from ksana_corpus_builder_spark import pyworker

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="pyworker installs nothing on Python >= 3.13")
def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"m": "VERSION = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    pyworker.install()
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        assert importlib.import_module("m").VERSION == 1
        importlib.invalidate_caches()  # stamps the new importer
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []  # unchanged archive: not read again

        _write_zip(archive, {"m": "VERSION = 1\n", "n": "VERSION = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("n").VERSION == 2
    finally:
        for name in ("m", "n"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_session_daemon_imports_outside_repo(tmp_path):
    """From a cwd outside the repo with no PYTHONPATH, the workers still
    import the daemon module (via ``spark.executorEnv.PYTHONPATH``)."""
    script = textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {str(ROOT)!r})
        from ksana_corpus_builder_spark.session import get_spark

        def probe(batches):
            import zipimport
            import pandas as pd
            mod = zipimport.zipimporter.invalidate_caches.__module__
            for b in batches:
                yield pd.DataFrame({{"mod": [mod] * len(b)}})

        spark = get_spark(cpus=2)
        rows = (spark.range(0, 8, numPartitions=4)
                .mapInPandas(probe, "mod string").collect())
        print(json.dumps([len(rows), sorted({{r.mod for r in rows}})]))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    res = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    n, mods = json.loads(res.stdout.strip().splitlines()[-1])
    assert n == 8
    if sys.version_info < (3, 13):
        assert mods == ["ksana_corpus_builder_spark.pyworker"]
