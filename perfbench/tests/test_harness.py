"""Self-tests of the benchmark harness; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracing import Span, Tracer, self_time  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_benchmark_json_workloads_exist():
    for w in _benchmark_json()["workloads"]:
        assert w["name"] in workloads.WORKLOADS


def test_mixed_window_fits_the_pool():
    mixed = workloads.WORKLOADS["mixed"]
    assert workloads.MIXED_FIRST + mixed.docs <= workloads.POOL_DOCS


@pytest.fixture(scope="module")
def pool() -> dict[str, pd.DataFrame]:
    from ocr_to_csv_spark.datagen.gen import gen_corpus

    return gen_corpus(120, seed=3)


@pytest.mark.parametrize("name", ["text", "scan"])
def test_selection_holds_only_its_kinds(pool, name):
    wl = workloads.WORKLOADS[name]
    docs = pa.Table.from_pandas(pool["documents"], preserve_index=False)
    ids = workloads.select(docs, wl)
    assert ids, f"no {name} documents in the pool"
    chosen = docs.filter(pa.compute.is_in(docs["doc_id"], pa.array(ids)))
    for kinds in workloads.span_kinds(chosen):
        assert kinds <= wl.kinds
    # the selection is the first such documents, in pool order
    every = [d for d, k in zip(docs["doc_id"].to_pylist(),
                               workloads.span_kinds(docs)) if k <= wl.kinds]
    assert ids == every[: wl.docs]


def test_golden_check_passes_on_goldens(pool):
    spans, rows = pool["expected_spans"], pool["expected_rows"]
    assert checks.check_pass({"spans": spans, "rows": rows}, spans, rows) == []


def test_golden_check_fails_when_one_span_moves(pool):
    exp = pool["expected_spans"]
    doc = exp["doc_id"].value_counts().idxmax()
    got = exp.copy()
    idx = got.index[got["doc_id"] == doc]
    first, last = idx[0], idx[-1]
    # move the document's first span to its end
    got.loc[first, "order"] = got.loc[last, "order"] + 1
    got.loc[idx[1:], "order"] -= 1
    assert checks.check_spans(got, exp)


def test_quarantine_and_csv_checks(pool):
    rows = pool["expected_rows"]
    assert checks.check_quarantine(pd.DataFrame({"doc_id": ["d"]}))
    csv = pd.DataFrame({"doc_id": sorted(set(rows["doc_id"]))})
    assert checks.check_csv(csv, rows) == []
    assert checks.check_csv(csv.iloc[1:], rows)


def test_self_time_is_duration_minus_child_coverage():
    parent = Span(0, "p", 0.0, 10.0, None, 1)
    kids = [
        Span(1, "a", 1.0, 3.0, 0, 1),
        Span(2, "b", 2.0, 4.0, 0, 1),  # overlaps a: covered once
        Span(3, "c", 6.0, 7.0, 0, 1),
        Span(4, "d", 9.5, 12.0, 0, 1),  # runs past the parent: clipped
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0 - 0.5)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_nests_spans_and_inherits_pass_id():
    t = Tracer()
    with t.span("pass", 7) as outer:
        with t.span("inner") as inner:
            pass
    assert inner.parent == outer.id and inner.pass_id == 7
    assert t.children(outer) == [inner]
    assert 0 <= self_time(outer, [inner]) <= outer.duration


def test_jpeg_split_by_start_of_frame_marker():
    import numpy as np

    from kernels import media_format
    from ocr_to_csv_spark.imaging import jpeg

    page = (np.arange(64 * 64, dtype=np.uint8).reshape(64, 64) % 251)
    assert media_format(jpeg.encode_gray(page, quality=90)) == "jpeg_baseline"
    assert media_format(
        jpeg.encode_gray_progressive(page, quality=90)) == "jpeg_progressive"
