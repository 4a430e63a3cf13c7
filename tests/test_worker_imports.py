"""A PySpark worker re-reads a zip archive's directory only when it changed.

Every Python task starts with ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``). Before CPython 3.12 each ``zipimporter``
then re-read its whole archive directory: ~16 reads of ``pyspark.zip`` per
task. Importing ``ocr_to_csv_spark`` in a worker installs
``ocr_to_csv_spark._keep_zip_directories``, after which a task re-reads an
archive only if its stat changed.
"""

import importlib.util
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12 invalidates zipimport directories lazily",
)

# One local[1] session, so a single reused worker runs all eight tasks in
# turn. Each task imports the package, then counts the archive directory
# reads that one more ``invalidate_caches()`` (the next task's setup) makes.
WORKER_SCRIPT = r"""
import json, sys
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[1]").appName("worker-imports")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "1g")
         .getOrCreate())
if len(sys.argv) > 1:
    spark.sparkContext.addPyFile(sys.argv[1])


def probe(batches):
    import importlib, os, time, zipimport
    import pandas as pd
    import ocr_to_csv_spark

    for _ in batches:
        pass
    reads = [0]
    read_directory = zipimport._read_directory

    def counted(archive):
        reads[0] += 1
        return read_directory(archive)

    zipimport._read_directory = counted
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    importers = [v for v in sys.path_importer_cache.values()
                 if isinstance(v, zipimport.zipimporter)]
    yield pd.DataFrame({
        "pid": [os.getpid()], "t": [time.monotonic()], "reads": [reads[0]],
        "importers": [len(importers)],
        "package_importers": [sum(v.archive.endswith("pkg.zip")
                                  for v in importers)],
        "origin": [ocr_to_csv_spark.__file__],
    })


schema = ("pid long, t double, reads long, importers long, "
          "package_importers long, origin string")
rows = spark.range(0, 8, 1, 8).mapInPandas(probe, schema).collect()
print(json.dumps([r.asDict() for r in rows]))
spark.stop()
"""


def _worker_tasks(tmp_path, pyfile=None):
    env = dict(os.environ)
    if pyfile:
        env.pop("PYTHONPATH", None)
        cwd = str(tmp_path)
    else:
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (REPO, env.get("PYTHONPATH")) if p
        )
        cwd = REPO
    out = subprocess.run(
        [sys.executable, "-c", WORKER_SCRIPT] + ([pyfile] if pyfile else []),
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _assert_later_tasks_read_nothing(tasks):
    assert len(tasks) == 8
    if max(t["importers"] for t in tasks) == 0:
        pytest.skip("the Python worker holds no zipimporter")
    by_pid = {}
    for t in sorted(tasks, key=lambda t: t["t"]):
        by_pid.setdefault(t["pid"], []).append(t)
    assert max(len(ts) for ts in by_pid.values()) >= 2, by_pid
    for ts in by_pid.values():
        assert [t["reads"] for t in ts[1:]] == [0] * (len(ts) - 1), ts


def test_worker_tasks_do_not_reread_zip_directories(tmp_path):
    tasks = _worker_tasks(tmp_path)
    assert all(t["origin"].startswith(REPO) for t in tasks), tasks[0]["origin"]
    _assert_later_tasks_read_nothing(tasks)


def test_worker_tasks_do_not_reread_under_py_files_deploy(tmp_path):
    spec = importlib.util.spec_from_file_location(
        "package_tool", os.path.join(REPO, "tools", "package.py")
    )
    package = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(package)
    zip_path = package.build(str(tmp_path / "pkg.zip"))
    tasks = _worker_tasks(tmp_path, pyfile=zip_path)
    assert all(
        t["origin"].endswith(os.path.join("pkg.zip", "ocr_to_csv_spark", "__init__.py"))
        for t in tasks
    ), tasks[0]["origin"]
    # the package's own zip adds importers beside pyspark's
    assert all(t["package_importers"] >= 1 for t in tasks), tasks
    _assert_later_tasks_read_nothing(tasks)


# No Spark: install the fix in a fresh interpreter with a tmp zip on
# sys.path, then change the zip under it.
DIRECT_SCRIPT = r"""
import importlib, sys, zipfile, zipimport

repo, zip_path = sys.argv[1:]


def write(members):
    with zipfile.ZipFile(zip_path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def reads_on_invalidate():
    n = [0]
    read_directory = zipimport._read_directory

    def counted(archive):
        n[0] += 1
        return read_directory(archive)

    zipimport._read_directory = counted
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    return n[0]


write({"zmod_a.py": "A = 1\n"})
sys.path[:0] = [zip_path, repo]
import zmod_a
import ocr_to_csv_spark

ocr_to_csv_spark._keep_zip_directories()
installed = zipimport.zipimporter.invalidate_caches
ocr_to_csv_spark._keep_zip_directories()
assert zipimport.zipimporter.invalidate_caches is installed, "installed twice"

unchanged = reads_on_invalidate()
write({"zmod_a.py": "A = 1\n", "zmod_b.py": "B = 2\n"})
changed = reads_on_invalidate()
import zmod_b
print(unchanged, changed, zmod_b.B)
"""


def test_invalidate_rereads_only_a_changed_zip(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", DIRECT_SCRIPT, REPO, str(tmp_path / "mods.zip")],
        cwd=tmp_path,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    unchanged, changed, b = out.stdout.split()
    assert unchanged == "0"
    assert int(changed) >= 1
    assert b == "2"
