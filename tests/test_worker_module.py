"""pyspark_graft_worker: the Python-worker module ``get_spark`` selects.

``spark.python.worker.module`` is a static conf, so each session case
runs its own ``get_spark`` session in a subprocess. The subprocess starts
from a cwd outside the checkout with no ``PYTHONPATH``, the way an
external driver would: the workers then find the module only through
``get_spark``'s ``spark.executorEnv.PYTHONPATH`` pin.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv: repo root, a .py file and a .zip to addPyFile mid-session.
_SESSION_SCRIPT = r"""
import json
import sys

repo, extra_py, extra_zip = sys.argv[1:4]
sys.path.insert(0, repo)
from news_categorization_big_data_spark.session import get_spark

spark = get_spark("worker-module-test")
sc = spark.sparkContext


def guard(_):
    import zipimport

    return zipimport.zipimporter.invalidate_caches.__module__


def plus_one(batches):
    for b in batches:
        yield b.assign(id=b["id"] + 1)


def use_added(x):
    import graft_extra_py
    import graft_extra_zip

    return graft_extra_py.VALUE + graft_extra_zip.VALUE + x


out = {
    "rdd_map": sc.parallelize(range(8), 4).map(lambda x: x * x).collect(),
    "guard": sorted(set(sc.parallelize(range(4), 4).map(guard).collect())),
    "map_in_pandas": sorted(
        r.id for r in spark.range(100).repartition(4).mapInPandas(plus_one, "id long").collect()
    ),
}
sc.addPyFile(extra_py)
sc.addPyFile(extra_zip)
out["add_py_file"] = sorted(sc.parallelize(range(4), 4).map(use_added).collect())
spark.stop()
print(json.dumps(out))
"""


@pytest.fixture(scope="module", params=[True, False], ids=["daemon", "no_daemon"])
def session_run(request, tmp_path_factory):
    """The script's JSON result, from a session with or without
    PySpark's forking worker daemon."""
    tmp_path = tmp_path_factory.mktemp("worker_session")
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "graft_extra_py.py").write_text("VALUE = 10\n")
    with zipfile.ZipFile(extra / "graft_extra_zip.zip", "w") as zf:
        zf.writestr("graft_extra_zip.py", "VALUE = 100\n")
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_GRAFT_MASTER")}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    if not request.param:
        env["PYSPARK_SUBMIT_ARGS"] = "--conf spark.python.use.daemon=false pyspark-shell"
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _SESSION_SCRIPT,
            REPO,
            str(extra / "graft_extra_py.py"),
            str(extra / "graft_extra_zip.zip"),
        ],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_python_tasks_run_from_outside_the_checkout(session_run):
    assert session_run["rdd_map"] == [x * x for x in range(8)]
    assert session_run["map_in_pandas"] == list(range(1, 101))
    # The workers run the guarded invalidate_caches, not zipimport's own.
    assert "zipimport" not in session_run["guard"]


def test_add_py_file_mid_session_is_importable(session_run):
    assert session_run["add_py_file"] == [110 + x for x in range(4)]


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    import pyspark_graft_worker as worker

    # Importing the module installed the guard for this whole process;
    # the test keeps it and puts zipimport's own method back at the end.
    zipimport.zipimporter.invalidate_caches = worker._reread
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker.invalidate_caches)
    archive = tmp_path / "graft_zip_probe.zip"
    _write_zip(archive, {"graft_zip_a.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "graft_zip_a", raising=False)
    monkeypatch.delitem(sys.modules, "graft_zip_b", raising=False)
    assert importlib.import_module("graft_zip_a").VALUE == 1

    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importlib.invalidate_caches()  # the importer's first call records its stamp
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert str(archive) not in reads

    _write_zip(archive, {"graft_zip_a.py": "VALUE = 1\n", "graft_zip_b.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module("graft_zip_b").VALUE == 2
