"""End-to-end extraction pipeline: interleaved documents → ordered span
sequences + flattened CSV-row tables (SURVEY.md §3.1 Spark lifecycle).

Plan shape (everything declarative; Python only inside mapInPandas):

    documents ──posexplode──> spans
       ├── html/text ──parse_html mapInPandas──> items ─────────────┐
       └── image/pdf ──join media──repartition(doc,offset)          │
              └─ segment mapInPandas ──> dates / cells              │
                    ├ dates ──ocr──> page_dates (ordered J3 side)   │
                    └ cells ──F5 filter──repartition(doc,offset,row)│
                         └─ classify mapInPandas (broadcast aliases)│
                              └─ groupBy row ── sanity W1 ── F9 ────┤
                                                                    ▼
                              unionByName ── global span order ── sinks

Scale levers (SURVEY.md §4.3): the two explicit repartitions spread
mega-documents (doc-level skew) before the expensive Python stages — the
second keys on (doc_id, offset, row) so a single 1000-cell page fans
across tasks; AQE re-coalesces afterwards. Aliases ship as an explicit
broadcast (J1/J2 dictionary side). The media join is a plain equi-join on
media_ref so Catalyst/AQE pick broadcast vs shuffle by size.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import scratch


def _parquet_rowcount(path: str) -> int:
    """Total rows of a parquet directory from file FOOTERS only (pyarrow
    metadata read) — the sandbox analogue of a catalog/manifest row
    count; costs no Spark job."""
    import pyarrow.parquet as pq

    total = 0
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
    return total


DATE_REGEX = r"^\d{1,2}/\d{1,2}/(\d{4}|\d{2})$"

# partition multiplier for the two Python-heavy stages (segment input,
# cell-level salt): finer tasks shorten the straggler tail a mega
# document leaves at the end of those stages without inflating the
# partition count of the cheap assembly-tail exchanges. Default is
# ADAPTIVE: size those stages to ~8 tasks per core (measured +20%
# at local[32] with 64 shuffle partitions, where the static default
# left only 2 coarse tasks per thread and a long straggler tail);
# the same rule holds on a 1000-executor cluster, where the Python
# stages want several tasks per core regardless of the global shuffle
# setting. Set SPARK_GRAFT_PY_STAGE_FACTOR to pin it (the scaling
# protocol pins it so both parallelism levels run the identical plan).
# The +20% was measured while every Python task also paid 0.2-0.4 s of
# zip directory re-reads (skipped since: ``_keep_zip_directories`` in the
# package init), a cost that grew with the task count; not re-measured.
_PY_STAGE_TASKS_PER_CORE = 8


def _py_stage_factor(spark: SparkSession, n_part: int) -> int:
    env = os.environ.get("SPARK_GRAFT_PY_STAGE_FACTOR")
    if env:
        return int(env)
    cores = spark.sparkContext.defaultParallelism
    return max(1, -(-_PY_STAGE_TASKS_PER_CORE * cores // n_part))


ITEM_SCHEMA = (
    "doc_id string, offset int, seq int, out_kind string, out_text string, "
    "cells array<string>"
)
SEG_SCHEMA = (
    "doc_id string, offset int, media_ref string, item string, idx int, "
    "row int, col int, raw binary, ch int, cw int, dstr string"
)
VAL_SCHEMA = (
    "doc_id string, offset int, media_ref string, row int, col int, "
    "text string, prob double, accepted boolean"
)
PDF_PAGE_SCHEMA = (
    "media_ref string, page_idx int, page_ref string, content binary, "
    "err string"
)


# --------------------------------------------------------------------------
# sources
# --------------------------------------------------------------------------


def load_corpus(spark: SparkSession, corpus_dir: str) -> dict[str, DataFrame]:
    out = {}
    for name in ("documents", "media", "aliases"):
        path = os.path.join(corpus_dir, f"{name}.parquet")
        out[name] = spark.read.parquet(path)
    return out


def explode_spans(documents: DataFrame) -> DataFrame:
    """S1: documents → one row per span, quarantining unknown kinds."""
    spans = documents.select(
        "doc_id", F.explode("spans").alias("span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )
    return spans


GOOD_KINDS = ("html", "text", "markdown", "latex", "image", "pdf_page", "pdf")


def quarantine_bad_kinds(spans: DataFrame) -> tuple[DataFrame, DataFrame]:
    """File-extension dispatch analogue (reference modules/image_scraper.py:103):
    unsupported kinds go to a quarantine sink instead of erroring the job."""
    good = spans.filter(F.col("kind").isin(*GOOD_KINDS))
    bad = spans.filter(~F.col("kind").isin(*GOOD_KINDS))
    return good, bad


# --------------------------------------------------------------------------
# pandas-UDF stage bodies (vectorized; no per-row Python UDFs)
# --------------------------------------------------------------------------


def _typed_frame(data: dict, dtypes: dict) -> pd.DataFrame:
    """Build a pandas frame with explicit per-column dtypes so empty
    batches still convert to the declared Arrow schema (a zero-row dict
    frame defaults every column to float64, which Arrow can't cast to
    list/binary types)."""
    return pd.DataFrame(
        {k: pd.Series(v, dtype=dtypes.get(k, "object")) for k, v in data.items()}
    )


_ITEM_DTYPES = {"offset": "int64", "seq": "int64"}
_SEG_DTYPES = {"offset": "int64", "idx": "int64", "row": "int64", "col": "int64",
               "ch": "int64", "cw": "int64"}
_VAL_DTYPES = {"offset": "int64", "row": "int64", "col": "int64",
               "prob": "float64", "accepted": "bool"}


def _parse_html_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from .html_extract import parse_html
    from .latex import parse_latex
    from .markdown import parse_markdown

    for pdf in it:
        out = {k: [] for k in ("doc_id", "offset", "seq", "out_kind", "out_text", "cells")}
        for doc_id, offset, kind, text in zip(
            pdf["doc_id"], pdf["offset"], pdf["kind"], pdf["text"]
        ):
            if kind == "text":
                out["doc_id"].append(doc_id)
                out["offset"].append(offset)
                out["seq"].append(0)
                out["out_kind"].append("text")
                out["out_text"].append(text)
                out["cells"].append(None)
                continue
            seq = 0
            parse = {
                "markdown": parse_markdown,
                "latex": parse_latex,
            }.get(kind, parse_html)
            for item_kind, payload in parse(text):
                if item_kind == "header_row":
                    continue  # F5: header rows dropped
                out["doc_id"].append(doc_id)
                out["offset"].append(offset)
                out["seq"].append(seq)
                if item_kind == "text":
                    out["out_kind"].append("text")
                    out["out_text"].append(payload)
                    out["cells"].append(None)
                else:
                    out["out_kind"].append("table_row")
                    out["out_text"].append(None)
                    out["cells"].append(list(payload))
                seq += 1
        yield _typed_frame(out, _ITEM_DTYPES)


def _segment_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..imaging.codecs import decode_image
    from ..imaging.segment import segment_page
    from .cells import read_date_box

    for pdf in it:
        out = {k: [] for k in ("doc_id", "offset", "media_ref", "item", "idx",
                               "row", "col", "raw", "ch", "cw", "dstr")}

        def emit(doc_id, offset, ref, item, idx, row, col, raw, ch, cw, dstr):
            out["doc_id"].append(doc_id)
            out["offset"].append(offset)
            out["media_ref"].append(ref)
            out["item"].append(item)
            out["idx"].append(idx)
            out["row"].append(row)
            out["col"].append(col)
            out["raw"].append(raw)
            out["ch"].append(ch)
            out["cw"].append(cw)
            out["dstr"].append(dstr)

        for doc_id, offset, ref, content in zip(
            pdf["doc_id"], pdf["offset"], pdf["media_ref"], pdf["content"]
        ):
            try:
                page = decode_image(bytes(content))  # png or baseline jpeg
                dates, cells = segment_page(page)
            except Exception as e:  # corrupt/truncated media: quarantine,
                # never fail the task (a 10^12-doc corpus WILL contain junk)
                emit(doc_id, offset, ref, "error", -1, -1, -1, None, 0, 0,
                     f"{type(e).__name__}: {e}"[:200])
                continue
            # date boxes are OCR'd here (cheap, few per page) so the date
            # branch needs no second Python stage downstream.
            # Cells ship as RAW uint8 bytes + dims: the staged parquet's own
            # compression replaces per-cell zlib PNG (whose deflate+inflate
            # was pure CPU/bandwidth overhead between two stages we control)
            for i, d in enumerate(dates):
                emit(doc_id, offset, ref, "date", i, -1, -1, None, 0, 0,
                     read_date_box(d))
            for r, row_cells in enumerate(cells):
                for c, cell in enumerate(row_cells):
                    arr = cell if cell.flags["C_CONTIGUOUS"] else cell.copy()
                    emit(doc_id, offset, ref, "cell", -1, r, c,
                         arr.tobytes(), arr.shape[0], arr.shape[1], None)
        yield _typed_frame(out, _SEG_DTYPES)


def _make_classify(alias_bc):
    """``alias_bc`` is a SparkContext broadcast of ``(names, purposes)``:
    one torrent-distributed copy per executor instead of re-serializing
    the dictionary into every task closure (SURVEY.md §2.1 S4)."""

    def _classify_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .cells import correct_cell

        names, purposes = alias_bc.value
        for pdf in it:
            recs = []
            for doc_id, offset, ref, item, row, col, raw, ch, cw in zip(
                pdf["doc_id"], pdf["offset"], pdf["media_ref"], pdf["item"],
                pdf["row"], pdf["col"], pdf["raw"], pdf["ch"], pdf["cw"]
            ):
                # dispatch INSIDE the UDF (F5 header/kind pruning): a
                # plan-level filter would be pushed below the shared
                # post-segment exchange, de-duplicating it away
                if item != "cell" or row <= 0 or col <= 0:
                    continue
                img = np.frombuffer(raw, dtype=np.uint8).reshape(int(ch), int(cw))
                text, prob, accepted = correct_cell(img, int(col), names, purposes)
                recs.append((doc_id, int(offset), ref, int(row), int(col),
                             text, float(prob), bool(accepted)))
            cols = ["doc_id", "offset", "media_ref", "row", "col",
                    "text", "prob", "accepted"]
            yield _typed_frame(
                {c: [r[i] for r in recs] for i, c in enumerate(cols)}, _VAL_DTYPES
            )

    return _classify_batches


def _pdf_pages_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..imaging import png as pngc
    from ..sources.pdf import extract_page_images

    dtypes = {"page_idx": "int64"}
    for pdf_df in it:
        out = {k: [] for k in ("media_ref", "page_idx", "page_ref", "content", "err")}
        for ref, content in zip(pdf_df["media_ref"], pdf_df["content"]):
            try:
                pages = extract_page_images(bytes(content))
            except Exception as e:  # vector-only / corrupt PDFs: quarantine
                out["media_ref"].append(ref)
                out["page_idx"].append(-1)
                out["page_ref"].append(None)
                out["content"].append(None)
                out["err"].append(f"{type(e).__name__}: {e}"[:200])
                continue
            for i, pg in enumerate(pages):
                out["media_ref"].append(ref)
                out["page_idx"].append(i)
                out["page_ref"].append(f"{ref}#p{i}")
                out["content"].append(pngc.encode_gray(pg))
                out["err"].append(None)
        yield _typed_frame(out, dtypes)


def _expand_pdf_spans(
    spark: SparkSession, spans: DataFrame, media: DataFrame, n_part: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """S2: PDF → page-image scan (reference image_scraper.py:107-111 via
    Poppler; here the pure-stdlib ``sources.pdf`` extractor).

    Each ``kind='pdf'`` span fans out to one ``pdf_page`` span per
    embedded page (media_ref ``<ref>#p<i>``, content re-encoded PNG into
    the media dimension), then ALL spans are renumbered so offsets stay
    the per-document ordinal the rest of the pipeline keys on. Returns
    (spans', media', quarantine_rows).

    PDF presence is derived from the SAME job that stages the fan-out:
    the decode stage always runs (a PDF-free corpus scans only the
    kind-pruned span slice and writes an empty stage), and emptiness is
    then read from the staged parquet FOOTERS driver-side — zero extra
    Spark jobs either way, where the old design paid a separate limit-1
    probe job per extract (a real scan over a non-partition column on a
    100 TB catalog)."""
    pdf_blobs = (
        spans.filter(F.col("kind") == "pdf")
        .select("media_ref")
        .distinct()
        .join(media, "media_ref")
        .repartition(n_part, "media_ref")
        .select("media_ref", "content")
    )
    pages = pdf_blobs.mapInPandas(_pdf_pages_batches, schema=PDF_PAGE_SCHEMA)
    # one decode per PDF: stage the fan-out (3 consumers below)
    stage_dir = scratch.path()
    pages.write.mode("overwrite").parquet(stage_dir)
    if _parquet_rowcount(stage_dir) == 0:  # footer metadata, no Spark job
        empty = spark.createDataFrame(
            [], "doc_id string, kind string, text string, media_ref string, offset int"
        )
        return spans, media, empty
    pages = spark.read.parquet(stage_dir)

    pdf_spans = spans.filter(F.col("kind") == "pdf").select(
        "doc_id", "offset", "media_ref"
    )
    page_spans = pdf_spans.join(
        pages.filter(F.col("page_idx") >= 0), "media_ref"
    ).select(
        "doc_id",
        F.lit("pdf_page").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.col("page_ref").alias("media_ref"),
        "offset",
        "page_idx",
    )
    # only documents CONTAINING a pdf span are renumbered (their later
    # spans shift to make room for the fanned-out pages); every other
    # document keeps its original offsets untouched — and stays out of
    # the renumber shuffle entirely
    pdf_docs = pdf_spans.select("doc_id").distinct()
    untouched = spans.join(pdf_docs, "doc_id", "left_anti")
    affected = (
        spans.filter(F.col("kind") != "pdf")
        .join(pdf_docs, "doc_id", "left_semi")
        .withColumn("page_idx", F.lit(0))
        .unionByName(page_spans)
    )
    w = Window.partitionBy("doc_id").orderBy("offset", "page_idx")
    spans2 = untouched.unionByName(
        affected.withColumn("offset", F.row_number().over(w) - 1).drop("page_idx")
    )

    media2 = media.unionByName(
        pages.filter(F.col("page_idx") >= 0).select(
            F.col("page_ref").alias("media_ref"),
            "content",
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
        )
    )
    quar = pdf_spans.join(pages.filter(F.col("page_idx") < 0), "media_ref").select(
        "doc_id",
        F.lit("media_error").alias("kind"),
        F.col("err").alias("text"),
        "media_ref",
        "offset",
    )
    return spans2, media2, quar


# --------------------------------------------------------------------------
# pipeline
# --------------------------------------------------------------------------


def extract(
    spark: SparkSession,
    documents: DataFrame,
    media: DataFrame,
    aliases: DataFrame,
    shuffle_partitions: int | None = None,
    _salt_granularity: str = "cell",
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns {'spans', 'rows', 'quarantine',
    'review'} DataFrames.

    spans: (doc_id, kind, text, media_ref, order) — the per-document ordered
    span sequence (the north_rule invariant surface).
    rows:  (doc_id, page, row, name, time_in, time_out, hours, purpose,
            date, day) — the flattened CSV-row table (reference main.py:182).
    review: the cells the reference would have asked a human about.

    Lifetime contract: each call stages its PDF fan-out and segmentation
    output to ``scratch`` dirs, so the returned DataFrames stay readable
    until the enclosing ``scratch.scope()`` exits, or until the process
    exits when there is none.
    """
    n_part = shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    py_factor = _py_stage_factor(spark, n_part)

    spans, quarantine = quarantine_bad_kinds(explode_spans(documents))

    # aliases are collected CONCURRENTLY with the PDF probe/staging jobs
    # below — independent driver-blocking actions; overlapping them takes
    # one small job off the serial floor
    import concurrent.futures as _cf

    _alias_pool = _cf.ThreadPoolExecutor(max_workers=1)
    _alias_fut = _alias_pool.submit(aliases.collect)

    # ---- PDF fan-out (S2) ------------------------------------------------
    spans, media, pdf_quar = _expand_pdf_spans(spark, spans, media, n_part)
    quarantine = quarantine.unionByName(pdf_quar)

    # ---- HTML / text branch ----------------------------------------------
    # explicit repartition: a single-file scan would otherwise feed the
    # whole HTML-parse Python stage to one task (same skew lever as the
    # image branch below)
    ht_items = (
        spans.filter(F.col("kind").isin("html", "text", "markdown", "latex"))
        .select("doc_id", "offset", "kind", "text")
        .repartition(n_part, "doc_id", "offset")
        .mapInPandas(_parse_html_batches, schema=ITEM_SCHEMA)
    )

    # ---- image branch: segment -------------------------------------------
    # explicit repartition on (doc_id, offset): spreads a mega-document's
    # pages across tasks before the expensive Python stage (§4.3 salting)
    pages = (
        spans.filter(F.col("kind").isin("image", "pdf_page"))
        .join(media, "media_ref")
        .repartition(py_factor * n_part, "doc_id", "offset")
    )
    seg = pages.select("doc_id", "offset", "media_ref", "content").mapInPandas(
        _segment_batches, schema=SEG_SCHEMA
    )
    # The segmentation output is consumed by TWO branches (classify, page-
    # date rollup), so it must be computed exactly once. Relying on
    # ReusedExchange proved fragile (filter pushdown / CollapseRepartition
    # rewrite the branch subtrees until they no longer dedup → the whole
    # segment UDF silently re-runs per branch, +87 core-sec per branch at
    # 2560 docs), and persist() races both branches on cache population.
    # So: MATERIALIZE the stage to scratch parquet — the local analogue of
    # the Iceberg staging table a 10^12-doc pipeline would write here
    # anyway (it is also the natural segment/OCR resume boundary). The
    # (doc_id, offset, row) repartition is the cell-level salt: a single
    # mega page fans out across tasks before the OCR-heavy stage (§4.3),
    # and the staged files inherit that layout.
    salt_cols = ("doc_id", "offset", "row")
    if _salt_granularity == "doc":
        # benchmark counterfactual ONLY (tools/skew_bench.py passes this
        # explicitly): document-granularity distribution, which a
        # mega-document straggles. An explicit parameter, not an env var,
        # so no stray deployment setting can silently degrade the salt
        # (ADVICE r4).
        salt_cols = ("doc_id",)
    seg = seg.repartition(py_factor * n_part, *salt_cols)
    seg = scratch.stage(seg)

    # aliases: small dictionary dimension → driver-collected (overlapped
    # with the PDF stage above) + broadcast to every classify task
    # (J1/J2 broadcast side, reference aliases.json)
    alias_rows = _alias_fut.result()
    _alias_pool.shutdown()
    names = sorted(r["value"] for r in alias_rows if r["col"] == 1)
    purposes = sorted(r["value"] for r in alias_rows if r["col"] == 5)
    alias_bc = spark.sparkContext.broadcast((names, purposes))

    # Both consumers of `seg` (classify, page-date rollup) read the SAME
    # exchange subtree with NO intervening filters — any branch filter
    # would be pushed below the exchange, making the sibling subtrees
    # canonically different and silently re-running segmentation per
    # branch (measured: +87 core-sec per extra branch at 2560 docs).
    # Cell dispatch happens inside the classify UDF; date dispatch happens
    # via the null-dropping when() inside collect_list below.
    vals = seg.mapInPandas(_make_classify(alias_bc), schema=VAL_SCHEMA)

    # date ordering parity (reference main.py:176-180): regex matches are
    # insert(0)-prepended (reversing among themselves), others appended.
    # One filterless rollup per page: non-date rows contribute NULL keys,
    # which collect_list drops.
    is_date = F.col("dstr").rlike(DATE_REGEX)
    date_key = F.when(
        F.col("item") == "date",
        F.struct(
            F.when(is_date, F.lit(0)).otherwise(F.lit(1)).alias("grp"),
            F.when(is_date, -F.col("idx")).otherwise(F.col("idx")).alias("pos"),
            F.col("dstr").alias("dstr"),
            F.col("media_ref").alias("media_ref"),
        ),
    )
    page_dates_full = seg.groupBy("doc_id", "offset").agg(
        F.array_sort(F.collect_list(date_key)).alias("dkeys")
    )
    page_dates = page_dates_full.select(
        "doc_id",
        "offset",
        F.transform(F.col("dkeys"), lambda x: x["dstr"]).alias("dates"),
    )

    # ---- assemble one output row per table row ---------------------------
    # ONE repartition on (doc_id, offset) for the whole assembly tail: the
    # groupBy below clusters on a superset of these keys and every window
    # partitions on exactly these keys, so Catalyst inserts no further
    # exchanges until the final document-level span ordering
    vals = vals.repartition(n_part, "doc_id", "offset")

    def val_of(c: int, field: str):
        return F.max(F.when(F.col("col") == c, F.col(field)))

    row_vals = vals.groupBy("doc_id", "offset", "media_ref", "row").agg(
        val_of(1, "text").alias("name"),
        val_of(1, "prob").alias("name_prob"),
        val_of(1, "accepted").alias("name_acc"),
        val_of(2, "text").alias("time_in"),
        val_of(2, "accepted").alias("ti_acc"),
        val_of(3, "text").alias("time_out"),
        val_of(3, "accepted").alias("to_acc"),
        val_of(4, "text").alias("hours"),
        val_of(4, "accepted").alias("hr_acc"),
        val_of(5, "text").alias("purpose"),
        val_of(5, "accepted").alias("pp_acc"),
    )

    # W1 sanity dedup: among accepted duplicates of a name on one page keep
    # the highest probability, first occurrence on ties (strict '>' in
    # reference modules/sanity.py:25) — order (prob desc, row asc).
    # Expressed as run-detection over a PAGE-partitioned window (ordered so
    # equal (name, name_acc) rows are contiguous, best first): a row is a
    # demotable duplicate iff its predecessor has the same (name, name_acc).
    # Same result as a per-name window, but partitions on (doc_id, offset)
    # — the assembly-wide distribution — so no extra exchange
    w = Window.partitionBy("doc_id", "offset").orderBy(
        F.asc("name"), F.asc("name_acc"), F.desc("name_prob"), F.asc("row")
    )
    prev = F.lag(F.struct("name", "name_acc")).over(w)
    is_dup = (
        prev.isNotNull()
        & (prev["name"] == F.col("name"))
        & (prev["name_acc"] == F.col("name_acc"))
    )
    deduped = row_vals.withColumn(
        "name_acc",
        F.when(
            F.col("name_acc") & (F.col("name") != "") & is_dup,
            F.lit(False),
        ).otherwise(F.col("name_acc")),
    )

    # F9 blank-row filter: first 4 slots all accepted AND empty → drop
    # (reference modules/sanity.py:55-67)
    kept = deduped.filter(
        ~(
            F.col("name_acc") & (F.col("name") == "")
            & F.col("ti_acc") & (F.col("time_in") == "")
            & F.col("to_acc") & (F.col("time_out") == "")
            & F.col("hr_acc") & (F.col("hours") == "")
        )
    )

    # J3: page dates replicated onto every row of the page — broadcast the
    # tiny per-page date side so `kept` keeps its (doc_id, offset) layout
    image_rows = (
        kept.join(F.broadcast(page_dates), ["doc_id", "offset"], "left")
        .withColumn("date", F.get("dates", F.lit(0)))
        .withColumn("day", F.get("dates", F.lit(1)))
    )

    # renumber surviving rows 1..n per page (reference pops blank rows from
    # the list, so CSV row indices are post-removal)
    w_rows = Window.partitionBy("doc_id", "offset").orderBy("row")
    image_rows = image_rows.withColumn("out_row", F.row_number().over(w_rows))

    html_rows = ht_items.filter(F.col("out_kind") == "table_row").select(
        "doc_id",
        "offset",
        F.col("seq"),
        F.get("cells", F.lit(0)).alias("name"),
        F.get("cells", F.lit(1)).alias("time_in"),
        F.get("cells", F.lit(2)).alias("time_out"),
        F.get("cells", F.lit(3)).alias("hours"),
        F.get("cells", F.lit(4)).alias("purpose"),
        F.lit(None).cast("string").alias("date"),
        F.lit(None).cast("string").alias("day"),
    )
    w_hrows = Window.partitionBy("doc_id", "offset").orderBy("seq")
    html_rows = html_rows.withColumn("out_row", F.row_number().over(w_hrows))

    rows = html_rows.select(
        "doc_id", F.col("offset").alias("page"), F.col("out_row").alias("row"),
        "name", "time_in", "time_out", "hours", "purpose", "date", "day",
    ).unionByName(
        image_rows.select(
            "doc_id", F.col("offset").alias("page"), F.col("out_row").alias("row"),
            "name", "time_in", "time_out", "hours", "purpose", "date", "day",
        )
    )

    # ---- span sequence assembly (W2 ordering) ----------------------------
    csv_line = F.concat_ws(
        ",", "name", "time_in", "time_out", "hours", "purpose", "date", "day"
    )
    image_row_spans = image_rows.select(
        "doc_id",
        "offset",
        F.lit("table_row").alias("kind"),
        csv_line.alias("text"),
        "media_ref",
        (F.lit(1000000) + F.col("out_row")).alias("seq"),
    )
    date_spans = (
        page_dates_full.select(
            "doc_id", "offset", F.explode("dkeys").alias("dk")
        )
        .select(
            "doc_id",
            "offset",
            F.lit("date").alias("kind"),
            F.col("dk.dstr").alias("text"),
            F.col("dk.media_ref").alias("media_ref"),
            F.when(F.col("dk.grp") == 0, F.col("dk.pos"))
            .otherwise(F.lit(500000) + F.col("dk.pos"))
            .alias("seq"),
        )
    )
    html_spans = ht_items.select(
        "doc_id",
        "offset",
        F.when(F.col("out_kind") == "text", "text").otherwise("table_row").alias("kind"),
        F.when(F.col("out_kind") == "text", F.col("out_text"))
        .otherwise(F.concat_ws(",", F.col("cells")))
        .alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.col("seq").cast("long").alias("seq"),
    )

    all_spans = html_spans.unionByName(date_spans).unionByName(image_row_spans)
    w_order = Window.partitionBy("doc_id").orderBy("offset", "seq")
    spans_out = all_spans.withColumn(
        "order", F.row_number().over(w_order) - 1
    ).select("doc_id", "kind", "text", "media_ref", "order")

    # review sink: cells the reference would have asked a human about
    # (SURVEY.md §2.11) — lazily derived from the classify output
    from .aliases import review_queue

    review = review_queue(vals)

    # media that failed to decode/segment joins the bad-kind quarantine
    media_errors = seg.filter(F.col("item") == "error").select(
        "doc_id",
        F.lit("media_error").alias("kind"),
        F.col("dstr").alias("text"),
        "media_ref",
        "offset",
    )
    quarantine = quarantine.unionByName(media_errors)

    return {
        "spans": spans_out,
        "rows": rows,
        "quarantine": quarantine,
        "review": review,
    }


# --------------------------------------------------------------------------
# sinks
# --------------------------------------------------------------------------


def to_csv_strings(rows: DataFrame) -> DataFrame:
    """S5 CSV sink parity: one CSV string per document — rows newline-joined
    per page, pages separated by a blank line (reference main.py:242-254)."""
    line = F.concat_ws(
        ",", "name", "time_in", "time_out", "hours", "purpose", "date", "day"
    )
    per_page = (
        rows.withColumn("line", line)
        .groupBy("doc_id", "page")
        .agg(
            F.concat(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("row"), F.col("line")))
                        ),
                        lambda x: x["line"],
                    ),
                    "\n",
                ),
                F.lit("\n\n"),
            ).alias("page_csv")
        )
    )
    return per_page.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("page"), F.col("page_csv")))),
                lambda x: x["page_csv"],
            ),
            "",
        ).alias("csv")
    )


def write_outputs(result: dict[str, DataFrame], out_dir: str) -> None:
    """Parquet span/row sinks + per-document CSV directory."""
    result["spans"].write.mode("overwrite").parquet(os.path.join(out_dir, "extracted"))
    result["rows"].write.mode("overwrite").parquet(os.path.join(out_dir, "rows"))
    to_csv_strings(result["rows"]).write.mode("overwrite").parquet(
        os.path.join(out_dir, "csv")
    )
