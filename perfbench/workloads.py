"""Workload inputs: a seeded document pool and the corpora cut from it.

The pool is ``datagen.gen.write_corpus(seed)``. Documents are seeded one
by one, so document ``i`` is the same in a pool of any size, and a
workload is a fixed selection of whole documents from it: ``mixed`` a
window of the default mix that holds one mega-HTML and one mega-image
document, ``text`` and ``scan`` the first documents whose spans are all of
their kinds. The golden tables are filtered by ``doc_id`` with them.
Corpora are cached per seed under the work directory and are written
before any timing starts.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ALL_SINKS = ("spans", "rows", "csv", "review", "quarantine")
TEXT_KINDS = frozenset({"html", "text", "markdown", "latex"})
SCAN_KINDS = frozenset({"image", "pdf_page", "pdf"})

# documents 192..223 of every pool hold one mega-HTML document (index
# 193: ``gen_corpus`` makes index % 97 == 96 one) and one mega-image
# document (index 210: index % 211 == 210)
MIXED_FIRST = 192
POOL_DOCS = 256
MAX_POOL_DOCS = 4096
_DONE = "_perfbench_ok"


@dataclass(frozen=True)
class Workload:
    docs: int
    kinds: frozenset | None  # None: a window of the default mix
    sinks: tuple[str, ...]


WORKLOADS = {
    "mixed": Workload(docs=32, kinds=None, sinks=ALL_SINKS),
    "text": Workload(docs=72, kinds=TEXT_KINDS, sinks=ALL_SINKS),
    "scan": Workload(docs=16, kinds=SCAN_KINDS, sinks=("spans",)),
}


def span_kinds(documents: pa.Table) -> list[set[str]]:
    return [
        {s["kind"] for s in spans}
        for spans in documents.column("spans").to_pylist()
    ]


def select(documents: pa.Table, wl: Workload) -> list[str]:
    """doc_ids of the workload, at most ``wl.docs`` of them, in pool order."""
    ids = documents.column("doc_id").to_pylist()
    if wl.kinds is None:
        return ids[MIXED_FIRST : MIXED_FIRST + wl.docs]
    kinds = span_kinds(documents)
    return [d for d, k in zip(ids, kinds) if k <= wl.kinds][: wl.docs]


def _pool(work_dir: str, seed: int, n_docs: int, workers: int) -> str:
    from ocr_to_csv_spark.datagen.gen import corpus_is_current, write_corpus

    path = os.path.join(work_dir, f"pool-s{seed}-n{n_docs}")
    if not corpus_is_current(path):
        shutil.rmtree(path, ignore_errors=True)
        write_corpus(path, n_docs, seed=seed, workers=workers)
    return path


def _where(table: pa.Table, column: str, values: list) -> pa.Table:
    """Rows whose ``column`` is in ``values``; keeps the schema, so an empty
    result is still a typed table."""
    value_set = pa.array(values, type=table.schema.field(column).type)
    return table.filter(pc.is_in(table[column], value_set=value_set))


def prepare(work_dir: str, name: str, seed: int, workers: int) -> str:
    """Write (or reuse) the corpus of workload ``name`` for ``seed`` and
    return its directory, laid out as ``pipeline.load_corpus`` reads it,
    with ``expected_spans``/``expected_rows`` beside it."""
    from ocr_to_csv_spark.datagen.gen import GEN_VERSION

    wl = WORKLOADS[name]
    out = os.path.join(work_dir, f"{name}-n{wl.docs}-s{seed}-g{GEN_VERSION}")
    if os.path.exists(os.path.join(out, _DONE)):
        return out
    n_pool = POOL_DOCS  # holds the mixed window; all workloads share it
    while True:
        pool = _pool(work_dir, seed, n_pool, workers)
        documents = pq.read_table(os.path.join(pool, "documents.parquet"))
        ids = select(documents, wl)
        if len(ids) == wl.docs:
            break
        if n_pool >= MAX_POOL_DOCS:
            raise RuntimeError(
                f"{name}: {len(ids)} of {wl.docs} documents in a "
                f"{n_pool}-document pool for seed {seed}"
            )
        n_pool *= 2  # the smaller pool is a prefix of the larger one

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    documents = _where(documents, "doc_id", ids)
    refs = sorted(
        {s["media_ref"] for spans in documents.column("spans").to_pylist()
         for s in spans if s["media_ref"] is not None}
    )
    tables = {
        "documents": documents,
        # an empty media table must keep its types: Spark cannot infer
        # the schema of a parquet file without columns it can type
        "media": _where(pq.read_table(os.path.join(pool, "media.parquet")),
                        "media_ref", refs),
        "aliases": pq.read_table(os.path.join(pool, "aliases.parquet")),
    }
    for golden in ("expected_spans", "expected_rows"):
        tables[golden] = _where(
            pq.read_table(os.path.join(pool, f"{golden}.parquet")), "doc_id", ids
        )
    for tname, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{tname}.parquet"))
    open(os.path.join(out, _DONE), "w").close()
    return out
