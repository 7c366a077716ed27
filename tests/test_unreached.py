"""Every engine definition has a production caller or an allow-list entry,
and so does every option (tools/unreached.py). No Spark session."""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from tools.unreached import report  # noqa: E402


def test_repo_has_no_unreached_definitions():
    unreached, stale = report(".")
    assert unreached == [], "engine definitions or options no production path reaches"
    assert stale == [], "allow-list entries that name nothing unreached or unset"


def _write(root, rel, src):
    path = root / rel
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(src)


def test_scan_reports_test_only_code_and_follows_fstrings(tmp_path):
    _write(tmp_path, "mindocr_spark/__init__.py", "")
    _write(
        tmp_path,
        "mindocr_spark/engine.py",
        'def run():\n'
        '    """Mentions only_tested, which does not count."""\n'
        '    return f"SELECT {_fragment_sql()} FROM t"\n'
        "\n\n"
        "def _fragment_sql():\n"
        '    return "1"\n'
        "\n\n"
        "def only_tested():\n"
        "    return 2\n"
        "\n\n"
        "def kept():\n"
        "    return _kept_helper()\n"
        "\n\n"
        "def _kept_helper():\n"
        "    return 3\n",
    )
    _write(
        tmp_path,
        "jobs/job.py",
        "from mindocr_spark.engine import run\n\nrun()\n",
    )
    _write(
        tmp_path,
        "tests/test_engine.py",
        "from mindocr_spark.engine import kept, only_tested\n\n"
        "def test_it():\n    assert only_tested() + kept() == 5\n",
    )
    unreached, stale = report(str(tmp_path), allowed={})
    assert unreached == ["engine._kept_helper", "engine.kept", "engine.only_tested"]
    assert stale == []

    # an allowed definition keeps what it uses; an entry for a reached or
    # missing definition is stale
    unreached, stale = report(
        str(tmp_path), allowed={"engine.kept": "", "engine.run": "", "engine.gone": ""}
    )
    assert unreached == ["engine.only_tested"]
    assert stale == ["engine.gone", "engine.run"]


def test_module_assignments_count_only_when_named(tmp_path):
    """A module-level constant or table is a definition, not a root: an
    unused one is reported, and a def named only inside a table is reached
    only while the table is."""
    _write(tmp_path, "mindocr_spark/__init__.py", '__version__ = "0"\n')
    _write(
        tmp_path,
        "mindocr_spark/engine.py",
        "UNUSED = 1\n"
        "LIMIT = 2\n"
        "\n\n"
        "def _double(x):\n"
        "    return 2 * x\n"
        "\n\n"
        'TABLE = {"double": _double}\n'
        "\n\n"
        "def run(x):\n"
        "    return min(x, LIMIT)\n",
    )
    _write(tmp_path, "jobs/job.py", "from mindocr_spark.engine import run\n\nrun(1)\n")
    unreached, stale = report(str(tmp_path), allowed={})
    assert unreached == ["engine.TABLE", "engine.UNUSED", "engine._double"]
    assert stale == []

    _write(
        tmp_path,
        "jobs/job.py",
        "from mindocr_spark.engine import TABLE, run\n\n"
        'run(TABLE["double"](1))\n',
    )
    unreached, stale = report(str(tmp_path), allowed={})
    assert unreached == ["engine.UNUSED"]
    assert stale == []


def test_options_need_a_caller_that_sets_them(tmp_path):
    """A parameter with a default counts as set only when a call passes it,
    by keyword, by position or through ``partial``."""
    _write(tmp_path, "mindocr_spark/__init__.py", "")
    _write(
        tmp_path,
        "mindocr_spark/engine.py",
        "def run(x, a=1, b=2, c=3):\n"
        "    return x + a + b + c\n",
    )
    _write(
        tmp_path,
        "jobs/job.py",
        "from functools import partial\n\n"
        "from mindocr_spark.engine import run\n\n"
        "run(1, a=5)\n"
        "partial(run, b=4)(1)\n",
    )
    unreached, stale = report(str(tmp_path), allowed={})
    assert unreached == ["engine.run(c)"]
    assert stale == []

    # an allowed option is not reported; an entry for an option a call
    # sets, or for no option at all, is stale
    unreached, stale = report(
        str(tmp_path),
        allowed={"engine.run(c)": "", "engine.run(a)": "", "engine.run(z)": ""},
    )
    assert unreached == []
    assert stale == ["engine.run(a)", "engine.run(z)"]

    # by position
    _write(
        tmp_path, "jobs/job.py", "from mindocr_spark.engine import run\n\nrun(1, 2, 3, 4)\n"
    )
    assert report(str(tmp_path), allowed={}) == ([], [])


def test_same_name_definitions_resolve_to_their_module(tmp_path):
    """A root's ``from module import name`` or ``module.name`` reaches that
    module's definition only, not another of the same name."""
    _write(tmp_path, "mindocr_spark/__init__.py", "")
    _write(tmp_path, "mindocr_spark/a.py", "def f():\n    return 1\n")
    _write(tmp_path, "mindocr_spark/b.py", "def f():\n    return 2\n")
    _write(tmp_path, "jobs/job.py", "from mindocr_spark.a import f\n\nf()\n")
    assert report(str(tmp_path), allowed={}) == (["b.f"], [])

    _write(tmp_path, "jobs/job.py", "from mindocr_spark import b\n\nb.f()\n")
    assert report(str(tmp_path), allowed={}) == (["a.f"], [])
