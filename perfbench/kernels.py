"""Single-threaded, in-process replay of the module kernels over a
workload's own inputs, each call inside a span of the layer it belongs to.

The replay follows the pipeline's Python stages: PDF containers are split
into page images and re-encoded as PNG, every page is decoded and
segmented, date boxes are read, and every body cell (row > 0, col > 0) is
classified; HTML, Markdown and LaTeX spans are parsed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from tracing import Tracer, self_time

FORMATS = ("png", "jpeg_baseline", "jpeg_progressive", "gif", "bmp", "tiff",
           "webp")
PARSERS = ("html_extract", "markdown", "latex")


def media_format(data: bytes) -> str:
    """``codecs.sniff_format``, with JPEG split by its start-of-frame marker
    into ``jpeg_baseline`` (SOF0/SOF1) and ``jpeg_progressive`` (SOF2)."""
    from ocr_to_csv_spark.imaging.codecs import sniff_format

    fmt = sniff_format(data)
    if fmt != "jpeg":
        return fmt
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker == 0xC2:
            return "jpeg_progressive"
        if marker in (0xC0, 0xC1):
            return "jpeg_baseline"
        if marker in (0xD8, 0x01, 0xFF) or 0xD0 <= marker <= 0xD7:
            pos += 1 if marker == 0xFF else 2
            continue
        pos += 2 + int.from_bytes(data[pos + 2 : pos + 4], "big")
    return "jpeg_baseline"


def replay(corpus_dir: str, tracer: Tracer) -> dict[str, float]:
    """Replay the kernels over the corpus in ``corpus_dir``; return the
    per-layer figures (times in ms, summed over all inputs)."""
    from ocr_to_csv_spark.extraction.cells import (
        correct_cell, is_blank_cell, read_date_box,
    )
    from ocr_to_csv_spark.extraction.html_extract import parse_html
    from ocr_to_csv_spark.extraction.latex import parse_latex
    from ocr_to_csv_spark.extraction.markdown import parse_markdown
    from ocr_to_csv_spark.imaging import png
    from ocr_to_csv_spark.imaging.codecs import decode_image
    from ocr_to_csv_spark.imaging.segment import segment_page
    from ocr_to_csv_spark.sources.pdf import extract_page_images

    docs = pd.read_parquet(os.path.join(corpus_dir, "documents.parquet"))
    media = pd.read_parquet(os.path.join(corpus_dir, "media.parquet"))
    blobs = dict(zip(media["media_ref"], media["content"]))
    aliases = pd.read_parquet(os.path.join(corpus_dir, "aliases.parquet"))
    names = sorted(aliases.loc[aliases["col"] == 1, "value"])
    purposes = sorted(aliases.loc[aliases["col"] == 5, "value"])
    parse = {"html": ("html_extract", parse_html),
             "markdown": ("markdown", parse_markdown),
             "latex": ("latex", parse_latex)}

    counts = {"codecs.pages": 0, "pdf.pages": 0, "segment.cells": 0,
              "segment.dates": 0, "html_extract.rows": 0}
    blank = attempts = 0
    pages: list[tuple[str, bytes]] = []

    with tracer.span("kernel") as root:
        for spans in docs["spans"]:
            for s in spans:
                kind = s["kind"]
                if kind in parse:
                    layer, fn = parse[kind]
                    with tracer.span(f"{layer}.parse"):
                        items = fn(s["text"])
                    if layer == "html_extract":
                        counts["html_extract.rows"] += sum(
                            1 for k, _ in items if k == "table_row")
                elif kind == "pdf":
                    with tracer.span("pdf.extract"):
                        imgs = extract_page_images(bytes(blobs[s["media_ref"]]))
                        encoded = [png.encode_gray(p) for p in imgs]
                    counts["pdf.pages"] += len(encoded)
                    pages += [("png", b) for b in encoded]
                elif kind in ("image", "pdf_page"):
                    blob = bytes(blobs[s["media_ref"]])
                    pages.append((media_format(blob), blob))

        for fmt, blob in pages:
            with tracer.span(f"codecs.decode.{fmt}"):
                page = decode_image(blob)
            counts["codecs.pages"] += 1
            with tracer.span("segment.page"):
                dates, cells = segment_page(page)
            counts["segment.dates"] += len(dates)
            counts["segment.cells"] += sum(len(r) for r in cells)
            for d in dates:
                with tracer.span("cells.date"):
                    read_date_box(d)
            for r, row in enumerate(cells):
                for c, cell in enumerate(row):
                    if r == 0 or c == 0:
                        continue  # header row/column: the pipeline skips them
                    img = np.ascontiguousarray(cell)
                    attempts += 1
                    blank += is_blank_cell(img)
                    with tracer.span("cells.correct"):
                        correct_cell(img, c, names, purposes)

    ms = {f"codecs.decode_ms.{f}": tracer.total(f"codecs.decode.{f}") * 1e3
          for f in FORMATS}
    ms.update({f"{p}.parse_ms": tracer.total(f"{p}.parse") * 1e3 for p in PARSERS})
    ms.update({
        "pdf.extract_ms": tracer.total("pdf.extract") * 1e3,
        "segment.page_ms": tracer.total("segment.page") * 1e3,
        "cells.correct_ms": tracer.total("cells.correct") * 1e3,
        "cells.date_ms": tracer.total("cells.date") * 1e3,
        "cells.blank_frac": blank / attempts if attempts else 0.0,
        "kernel.core_s": root.duration - self_time(root, tracer.children(root)),
    })
    return {**ms, **counts}
