"""Scratch parquet dirs for staged DataFrames — the only code that
creates or deletes them.

A stage that is read more than once (PDF fan-out, segmentation, the
state of an iterative query) is written to parquet and read back: the
local form of an Iceberg staging table, since ReusedExchange is not a
contract (PLANS.md note 1). Every dir lives under one per-process root.

Lifetime belongs to the caller: a dir made while ``with scope():`` is
open is removed when the innermost open scope exits; a dir made outside
any scope lives until the process exits. A DataFrame read from a dir is
therefore readable for exactly that long. Loops that stage per
iteration wrap each iteration in ``scope()`` so disk stays bounded.

The root is removed at exit. Roots of processes that died without exit
handlers (SIGKILL) are swept by the first ``path()`` of a later process.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
import time

_PREFIX = "ocr2csv_scratch_"
# a dead owner's root is swept only once it is this old, so a root whose
# owner is alive but hidden by a PID namespace is never swept mid-run
_STALE_AGE_S = 7200

_root: str | None = None
_scopes: list[list[str]] = []  # open scopes, innermost last


def _owner_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:  # e.g. EPERM: the pid exists under another user
        return True
    return True


def _sweep_dead_roots() -> None:
    tmp = tempfile.gettempdir()
    now = time.time()
    for name in os.listdir(tmp):
        if not name.startswith(_PREFIX):
            continue
        try:
            pid = int(name[len(_PREFIX):].split("_", 1)[0])
            p = os.path.join(tmp, name)
            if now - os.path.getmtime(p) > _STALE_AGE_S and not _owner_alive(pid):
                shutil.rmtree(p, ignore_errors=True)
        except (ValueError, OSError):
            pass


def path() -> str:
    """A fresh, empty scratch dir owned by the innermost open scope (or
    by the process when no scope is open)."""
    global _root
    if _root is None:
        _sweep_dead_roots()
        _root = tempfile.mkdtemp(prefix=f"{_PREFIX}{os.getpid()}_")
        atexit.register(shutil.rmtree, _root, True)
    d = tempfile.mkdtemp(dir=_root)
    if _scopes:
        _scopes[-1].append(d)
    return d


def stage(df):
    """Write ``df`` to a fresh scratch dir as parquet and read it back:
    later consumers scan the files instead of re-running ``df``'s plan.
    Iterative query state severs here, once per round, through
    ``functions.util.superstep`` rather than through chained
    ``localCheckpoint``, whose jobs grow super-linearly across
    generations in this Spark build (measured 1.6 s → 6.2 s → 63 s per
    call in boruvka_msf at sf0.1, the driver spinning in Catalyst stats
    estimation); a parquet round-trip costs the same every round."""
    d = path()
    df.write.mode("overwrite").parquet(d)
    # the known schema spares the footer-reading job of schema inference
    return df.sparkSession.read.schema(df.schema).parquet(d)


@contextlib.contextmanager
def scope():
    """Remove every scratch dir made inside the block when it exits."""
    dirs: list[str] = []
    _scopes.append(dirs)
    try:
        yield
    finally:
        _scopes.pop()
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
