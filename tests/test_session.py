"""Session master choice: a caller-sized local session, or the master the
launcher configured (spark-submit's ``--master``, default ``local[*]``)."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

from mindocr_spark.session import _local_master

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_local_master_choice(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert _local_master(3) == "local[3]"  # the caller's size wins
    assert _local_master() == "local[5]"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert _local_master() is None  # left to the launcher


def test_import_pins_blas_threads_before_numpy():
    """``import mindocr_spark`` sets one BLAS thread before anything loads
    numpy (OpenBLAS reads the variables once, at load) and keeps a value
    the caller already set."""
    blas = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS")
    env = {k: v for k, v in os.environ.items() if k not in blas}
    env["PYTHONPATH"] = ROOT
    probe = (
        "import os, sys, mindocr_spark\n"
        "print('numpy' in sys.modules, os.environ['OPENBLAS_NUM_THREADS'],"
        " os.environ['OMP_NUM_THREADS'])\n"
    )

    def run(extra):
        return subprocess.run(
            [sys.executable, "-c", probe], env={**env, **extra},
            capture_output=True, text=True, timeout=120, check=True,
        ).stdout.split()

    assert run({}) == ["False", "1", "1"]
    assert run({"OMP_NUM_THREADS": "3"}) == ["False", "1", "3"]


def test_spark_submit_master_and_engine_conf_apply(tmp_path):
    """Under spark-submit, ``get_spark`` keeps ``--master`` and still sets
    the engine's own session conf (daemon shim, UDS worker sockets)."""
    probe = tmp_path / "probe.py"
    probe.write_text(
        "from mindocr_spark.session import get_spark\n"
        "s = get_spark(app_name='probe')\n"
        "c = s.sparkContext.getConf()\n"
        "print('PROBE', s.sparkContext.master,"
        " c.get('spark.python.daemon.module'),"
        " c.get('spark.python.unix.domain.socket.enabled'))\n"
        "s.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["PYTHONPATH"] = ROOT
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [shutil.which("spark-submit"), "--master", "local[2]", "--driver-memory", "512m", str(probe)],
        env=env, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    line = next(ln for ln in out.splitlines() if ln.startswith("PROBE"))
    assert line.split()[1:] == ["local[2]", "mindocr_spark.spark_daemon", "true"]


def test_one_session_builder():
    """``session.get_spark`` is the only session builder: every other source
    module (the benchmark's own runner aside) takes its session from it."""
    root = Path(ROOT)
    patterns = ["*.py"] + [f"{d}/**/*.py" for d in ("mindocr_spark", "jobs", "tools", "tests")]
    sources = [p.relative_to(root).as_posix() for pat in patterns for p in root.glob(pat)]
    assert "mindocr_spark/session.py" in sources
    offenders = [
        path
        for path in sources
        if path not in ("mindocr_spark/session.py", "tests/test_session.py")
        and "SparkSession.builder" in (root / path).read_text(encoding="utf-8")
    ]
    assert offenders == []


def test_text_udf_survives_session_restart(tmp_path):
    """A fused ``extract`` in a second session, after the first one stopped,
    reports its text-UDF accumulator to the live SparkContext: stderr has no
    ``Failed to update accumulator`` line."""
    probe = tmp_path / "probe.py"
    probe.write_text(
        "import sys\n"
        "from mindocr_spark.data.gen_corpus import write_corpus_parquet\n"
        "from mindocr_spark.plans.extract import extract\n"
        "from mindocr_spark.session import get_spark\n"
        "d = sys.argv[1]\n"
        "write_corpus_parquet(d, 12, seed=42)\n"
        "for cores in (1, 2):\n"
        "    s = get_spark(app_name='accum', cores=cores)\n"
        "    spans = s.read.parquet(d + '/documents_spans.parquet')\n"
        "    media = s.read.parquet(d + '/media.parquet')\n"
        "    print('DOCS', len(extract(s, spans, media).collect()))\n"
        "    s.stop()\n"
    )
    env = dict(os.environ, PYTHONPATH=ROOT)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    run = subprocess.run(
        [sys.executable, str(probe), str(tmp_path / "corpus")],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.split().count("DOCS") == 2
    assert "Failed to update accumulator" not in run.stderr


def test_spark_submit_py_files_from_any_cwd(tmp_path):
    """``spark-submit --py-files dist/mindocr_spark.zip`` from a cwd outside
    the repo, with no PYTHONPATH: python workers (and the daemon shim they
    fork from) import the package from the zip and run a task."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from package import build

    zip_path = build(ROOT)
    probe = tmp_path / "probe.py"
    probe.write_text(
        "from mindocr_spark.session import get_spark\n"
        "s = get_spark(app_name='probe')\n"
        "print('PROBE', s.sparkContext.parallelize([1, 2], 1).map(lambda x: x + 1).sum())\n"
        "s.stop()\n"
    )
    env = {
        k: v for k, v in os.environ.items() if k not in ("SPARK_GRAFT_CPUS", "PYTHONPATH")
    }
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    run = subprocess.run(
        [shutil.which("spark-submit"), "--master", "local[2]", "--driver-memory", "512m",
         "--py-files", zip_path, str(probe)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert "PROBE 5" in run.stdout.splitlines()
