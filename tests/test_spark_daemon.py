"""The Python-worker daemon shim: the zipimport invalidate_caches backport
and the warm, frozen runtime the workers fork from.

The backport removes a measured ~160 ms/task of worker CPU (Python 3.11
re-reads every zip central directory on each task's
``importlib.invalidate_caches()``); the warm step makes numpy, pandas and
pyarrow load once in the daemon and be shared copy-on-write.  Contracts:

1. unit: the wrapper skips the re-read while the archive stat is
   unchanged and performs it again when the archive changes (the
   CPython 3.12 semantics it backports);
2. session: ``get_spark`` routes workers through the shim module;
3. e2e: inside a live worker the patched method is installed and the
   inherited objects are frozen;
4. unit: the warm step loads the third-party runtime but no engine module,
   so workers still import the engine from their task's ``sys.path``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest


def _make_zip(path: str, payload: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zimod_probe.py", payload)


def test_wrapper_skips_unchanged_and_rereads_changed(tmp_path, monkeypatch):
    from mindocr_spark import spark_daemon as sd

    archive = str(tmp_path / "probe.zip")
    _make_zip(archive, "X = 1\n")
    imp = zipimport.zipimporter(archive)

    calls = []

    def fake_orig(self):
        calls.append(self.archive)

    monkeypatch.setattr(sd, "_orig_invalidate", fake_orig)
    monkeypatch.setattr(sd, "_archive_stats", {})

    sd._invalidate_if_changed(imp)
    assert calls == [archive]  # first call: real invalidation
    sd._invalidate_if_changed(imp)
    sd._invalidate_if_changed(imp)
    assert calls == [archive]  # unchanged archive: skipped

    # rewrite the archive with a different size -> must re-read
    _make_zip(archive, "X = 2  # changed payload, different size\n")
    sd._invalidate_if_changed(imp)
    assert calls == [archive, archive]

    # missing archive: falls through to the original (never silently skips)
    os.remove(archive)
    sd._invalidate_if_changed(imp)
    assert calls == [archive, archive, archive]


def test_session_routes_workers_through_shim(spark):
    assert (
        spark.conf.get("spark.python.daemon.module")
        == "mindocr_spark.spark_daemon"
    )


def test_patch_active_inside_worker(spark):
    import pandas as pd

    def probe(batches):
        import zipimport as zi

        name = zi.zipimporter.invalidate_caches.__name__
        for b in batches:
            yield pd.DataFrame({"name": [name] * len(b)})

    rows = (
        spark.range(0, 2, 1, 2)
        .mapInPandas(probe, "name string")
        .collect()
    )
    assert rows and all(r.name == "_invalidate_if_changed" for r in rows)


def test_workers_fork_frozen(spark):
    import pandas as pd

    def probe(batches):
        import gc

        frozen = gc.get_freeze_count()
        for b in batches:
            yield pd.DataFrame({"frozen": [frozen] * len(b)})

    rows = (
        spark.range(0, 2, 1, 2)
        .mapInPandas(probe, "frozen long")
        .collect()
    )
    assert rows and all(r.frozen > 0 for r in rows)


def test_warm_step_loads_no_engine_module():
    code = (
        "import json, sys\n"
        "from mindocr_spark import spark_daemon\n"
        "spark_daemon._warm_runtime()\n"
        "print(json.dumps(sorted(sys.modules)))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=root,
        capture_output=True,
        text=True,
        check=True,
    )
    loaded = set(json.loads(out.stdout))
    assert {"numpy", "pandas", "pyarrow"} <= loaded
    engine = {m for m in loaded if m.split(".")[0] == "mindocr_spark"}
    assert engine == {"mindocr_spark", "mindocr_spark.spark_daemon"}


@pytest.fixture(scope="module")
def spark():
    from mindocr_spark.session import get_spark

    s = get_spark(app_name="test_spark_daemon", cores=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
