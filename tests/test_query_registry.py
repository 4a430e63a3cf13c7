"""The driver contract's registry: ``queries()`` and ``oracle_sql()`` are
discovered from ``ocr_to_csv_spark/functions/``. Pins the frozen 493-name
library by digest, checks the per-module rule every discovered module
follows, and checks that discovery also works from the spark-submit zip
(zipimport). No Spark session is needed."""

import hashlib
import importlib
import importlib.util
import os
import pkgutil
import shutil
import subprocess
import sys

import __spark_entry__ as entrymod
from ocr_to_csv_spark import functions

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_QUERIES = 493
N_MODULE_QUERIES = 473  # the other 20 are defined in __spark_entry__.py
DIGEST = "842a19c101bb59c0"


def _digest(names) -> str:
    return hashlib.sha256("\n".join(sorted(names)).encode()).hexdigest()[:16]


def _library_modules() -> dict:
    return {
        info.name: importlib.import_module(f"{functions.__name__}.{info.name}")
        for info in pkgutil.iter_modules(functions.__path__)
    }


def test_queries_and_oracles_share_the_frozen_names():
    names = set(entrymod.queries())
    assert len(names) == N_QUERIES
    assert set(entrymod.oracle_sql()) == names
    assert _digest(names) == DIGEST


def test_every_library_module_defines_matching_queries_and_oracles():
    mods = _library_modules()
    util = mods.pop("util")
    assert not hasattr(util, "QUERIES") and not hasattr(util, "ORACLES")
    sizes = 0
    union: set[str] = set()
    for name, m in mods.items():
        assert set(m.QUERIES) == set(m.ORACLES), name
        sizes += len(m.QUERIES)
        union |= set(m.QUERIES)
    # no query name is defined by two modules
    assert sizes == len(union) == N_MODULE_QUERIES


def test_discovery_under_zipimport(tmp_path):
    spec = importlib.util.spec_from_file_location(
        "package_tool", os.path.join(REPO, "tools", "package.py")
    )
    package = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(package)
    zip_path = package.build(str(tmp_path / "pkg.zip"))
    entry_dir = tmp_path / "entry"
    entry_dir.mkdir()
    shutil.copy(os.path.join(REPO, "__spark_entry__.py"), entry_dir)
    script = f"""
import hashlib, sys
sys.path[:0] = [{zip_path!r}, {str(entry_dir)!r}]
import ocr_to_csv_spark
assert ocr_to_csv_spark.__file__.startswith({zip_path!r}), ocr_to_csv_spark.__file__
import __spark_entry__ as e
names = sorted(e.queries())
print(len(names), hashlib.sha256("\\n".join(names).encode()).hexdigest()[:16])
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == [str(N_QUERIES), DIGEST]
