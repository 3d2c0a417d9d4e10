"""The engine's Python worker daemon: zip archives are re-read only when they
change, the workers run under it, and they import it from anywhere."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from rca_data_tools_spark.worker_daemon import reread_on_change

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    return str(path)


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _counting_invalidate():
    """A reread_on_change wrapper around a counting copy of the original,
    so nothing is installed on zipimporter in this process."""
    calls = []
    real = zipimport.zipimporter.invalidate_caches

    def original(self):
        calls.append(self.archive)
        real(self)

    return reread_on_change(original), calls


def test_unchanged_archive_is_not_reread(tmp_path):
    path = _write_zip(tmp_path / "lib.zip", {"a_mod.py": "X = 1\n", "pkg/__init__.py": ""})
    invalidate, calls = _counting_invalidate()
    importers = [zipimport.zipimporter(path), zipimport.zipimporter(os.path.join(path, "pkg"))]
    for _ in range(3):
        for imp in importers:
            invalidate(imp)
    # one read for the path, shared by both importers, then none
    assert calls == [path]
    assert _load(importers[0], "a_mod").X == 1


def test_rewritten_archive_is_reread_by_every_importer(tmp_path):
    path = _write_zip(tmp_path / "lib.zip", {"a_mod.py": "X = 1\n", "pkg/__init__.py": ""})
    invalidate, calls = _counting_invalidate()
    top, sub = zipimport.zipimporter(path), zipimport.zipimporter(os.path.join(path, "pkg"))
    invalidate(top)
    invalidate(sub)
    assert top.find_spec("b_mod") is None and sub.find_spec("late") is None

    _write_zip(path, {"a_mod.py": "X = 1\n", "b_mod.py": "Y = 2\n",
                      "pkg/__init__.py": "", "pkg/late.py": "Z = 3\n"})
    invalidate(top)
    invalidate(sub)
    # the second importer adopts the directory the first one re-read
    assert calls == [path, path]
    assert _load(top, "b_mod").Y == 2
    assert _load(sub, "late").Z == 3


def test_tasks_run_under_the_engine_daemon(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"module": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.createDataFrame([(1,)], "a int").mapInPandas(report, "module string").collect()
    assert {r.module for r in rows} == {"rca_data_tools_spark.worker_daemon"}


@pytest.mark.parametrize("kind", ["zip", "py"])
def test_pyfile_added_after_start_is_importable(spark, tmp_path, kind):
    """The case Spark's per-task cache invalidation exists for: a worker that
    already missed the module imports it once addPyFile shipped it."""
    name = f"late_{kind}_module"
    sc = spark.sparkContext

    def probe(_):
        import importlib

        try:
            return importlib.import_module(name).VALUE
        except ImportError:
            return None

    assert sc.parallelize([0], 1).map(probe).collect() == [None]
    src = f"VALUE = {kind!r}\n"
    if kind == "zip":
        path = _write_zip(tmp_path / f"{name}.zip", {f"{name}.py": src})
    else:
        path = tmp_path / f"{name}.py"
        path.write_text(src)
    sc.addPyFile(str(path))
    assert sc.parallelize([0], 1).map(probe).collect() == [kind]


def test_workers_import_the_daemon_from_any_cwd(tmp_path):
    """A session started outside the checkout, with no PYTHONPATH, still
    runs Python tasks: get_spark puts the package on the workers' path."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from rca_data_tools_spark.session import get_spark
        spark = get_spark("cwd-probe", master="local[1]")
        print(spark.createDataFrame([(1,)], "a int").rdd.map(lambda r: r.a).collect())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_GRAFT_EXTRA_CONF")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().splitlines()[-1] == "[1]"
