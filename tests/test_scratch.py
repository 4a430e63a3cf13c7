"""Scratch lifetime: staged DataFrames stay readable until the caller's
scope ends, scopes reclaim their dirs, and process roots never leak —
removed at normal exit, swept after a SIGKILL."""

import os
import subprocess
import sys
import time

from ocr_to_csv_spark import scratch
from ocr_to_csv_spark.extraction import pipeline

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _extract(spark, corpus_dir):
    tabs = pipeline.load_corpus(spark, corpus_dir)
    return pipeline.extract(spark, tabs["documents"], tabs["media"], tabs["aliases"])


def test_first_result_readable_after_more_extracts(spark, corpus_dir):
    first = _extract(spark, corpus_dir)
    _extract(spark, corpus_dir)
    third = _extract(spark, corpus_dir)
    assert first["spans"].count() == third["spans"].count() > 0


def test_scope_removes_its_dirs_only(spark, corpus_dir):
    outside = _extract(spark, corpus_dir)
    root = os.path.dirname(scratch.path())
    before = set(os.listdir(root))
    with scratch.scope():
        inside = _extract(spark, corpus_dir)
        n_inside = inside["spans"].count()
        made = set(os.listdir(root)) - before
    assert made
    assert not any(os.path.exists(os.path.join(root, d)) for d in made)
    assert outside["spans"].count() == n_inside


def _run(code, tmp):
    env = dict(os.environ, TMPDIR=str(tmp), PYTHONPATH=REPO)
    return subprocess.run(
        [sys.executable, "-c", "from ocr_to_csv_spark import scratch\n" + code],
        env=env, capture_output=True, text=True,
    )


def _roots(tmp):
    return {n for n in os.listdir(tmp) if n.startswith("ocr2csv_scratch_")}


def test_normal_exit_leaves_no_root(tmp_path):
    r = _run("print(scratch.path())", tmp_path)
    assert r.returncode == 0, r.stderr
    made = r.stdout.strip()
    assert made.startswith(str(tmp_path))
    assert not os.path.exists(made)
    assert not _roots(tmp_path)


def test_sigkilled_root_swept_by_next_process(tmp_path):
    kill = "import os, signal\nscratch.path()\nos.kill(os.getpid(), signal.SIGKILL)"
    assert _run(kill, tmp_path).returncode == -9
    (old_dead,) = _roots(tmp_path)
    assert _run(kill, tmp_path).returncode == -9
    (young_dead,) = _roots(tmp_path) - {old_dead}
    live = f"ocr2csv_scratch_{os.getpid()}_held"  # owner: this process
    os.mkdir(tmp_path / live)
    three_h_ago = time.time() - 3 * 3600
    for name in (old_dead, live):
        os.utime(tmp_path / name, (three_h_ago, three_h_ago))

    r = _run("scratch.path()", tmp_path)
    assert r.returncode == 0, r.stderr
    left = _roots(tmp_path)
    assert old_dead not in left  # dead owner and older than 2 h
    assert young_dead in left  # dead owner but too young
    assert live in left  # owner alive, however old
