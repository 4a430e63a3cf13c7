"""Checkpoint/resume (north_rule lineage) and streaming-lift tests."""

import os
import shutil

import pandas as pd
from pyspark.sql import functions as F

from ocr_to_csv_spark import scratch
from ocr_to_csv_spark.extraction import pipeline
from ocr_to_csv_spark.plans import checkpoint as cp


def _spans_pdf(spark, path):
    return (
        spark.read.parquet(path)
        .select("doc_id", "kind", "text", "media_ref", "order")
        .toPandas()
        .sort_values(["doc_id", "order"])
        .reset_index(drop=True)
    )


def test_checkpoint_resume_no_recompute(spark, corpus_dir, tmp_path):
    out = str(tmp_path / "out")

    # simulated crash: only the first group of buckets completes
    r1 = cp.run_extract_checkpointed(
        spark, corpus_dir, out, run_id="r1", n_buckets=8, group_size=2, max_groups=1
    )
    assert r1["processed"] == 2 and r1["skipped"] == 0 and r1["remaining"] == 6
    done_after_crash = cp.completed_buckets(spark, os.path.join(out, "run_state"), "r1")
    assert len(done_after_crash) == 2

    # resume: skips the completed buckets, finishes the rest (3 groups,
    # each in its own scratch scope, so no staged dir outlives the call)
    root = os.path.dirname(scratch.path())
    n_dirs = len(os.listdir(root))
    r2 = cp.run_extract_checkpointed(
        spark, corpus_dir, out, run_id="r1", n_buckets=8, group_size=2
    )
    assert r2["skipped"] == 2 and r2["processed"] == 6
    assert len(os.listdir(root)) <= n_dirs

    # third invocation is a no-op (everything checkpointed)
    r3 = cp.run_extract_checkpointed(
        spark, corpus_dir, out, run_id="r1", n_buckets=8, group_size=2
    )
    assert r3["skipped"] == 8 and r3["processed"] == 0

    # outputs equal the golden fixtures despite the crash/resume
    got = _spans_pdf(spark, os.path.join(out, "extracted"))
    exp = (
        pd.read_parquet(f"{corpus_dir}/expected_spans.parquet")
        .sort_values(["doc_id", "order"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.fillna(""), exp.fillna(""), check_dtype=False
    )

    # lineage metrics reconcile with the output tables
    m = cp.run_metrics(spark, os.path.join(out, "run_state"), "r1").collect()
    assert len(m) == 1 and m[0]["status"] == "done"
    assert m[0]["span_count"] == len(got)
    assert m[0]["buckets"] == 8


def test_stream_matches_batch(spark, corpus_dir, tmp_path):
    from ocr_to_csv_spark.streaming.stream import stream_extract

    # stream source: the documents parquet split into multiple files
    stream_src = str(tmp_path / "docs_stream")
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet").select(
        "doc_id",
        F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )
    docs.repartition(3).write.parquet(stream_src)

    out = str(tmp_path / "stream_out")
    stream_extract(
        spark,
        stream_src,
        corpus_dir,
        out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )

    got = _spans_pdf(spark, os.path.join(out, "extracted"))
    tabs = pipeline.load_corpus(spark, corpus_dir)
    batch = pipeline.extract(spark, tabs["documents"], tabs["media"], tabs["aliases"])
    exp = (
        batch["spans"]
        .toPandas()
        .sort_values(["doc_id", "order"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got.fillna(""), exp.fillna(""), check_dtype=False)


def test_multimodal_metadata_and_quarantine(spark, corpus_dir):
    from ocr_to_csv_spark.extraction import multimodal

    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    meta = multimodal.media_metadata(media).toPandas()
    # corpus v6 mixes every cv2.imread format plus the crawl staples:
    # png/jpeg (incl. color + progressive), bmp, tiff, webp, gif images,
    # pdf containers
    img_fmts = ("png", "jpeg", "bmp", "tiff", "webp", "gif")
    assert set(meta["fmt"]) <= set(img_fmts) | {"pdf"}
    for fmt in img_fmts:
        assert (meta["fmt"] == fmt).any(), f"corpus lacks {fmt} media"
    imgs = meta[meta["fmt"].isin(list(img_fmts))]
    assert (imgs["width"] > 0).all() and (imgs["height"] > 0).all()
    assert imgs["fill_ratio"].between(0, 1).all()
    pdfs = meta[meta["fmt"] == "pdf"]
    assert (pdfs["width"] == -1).all()

    # blob with a JPEG signature but junk body → corrupt_* quarantine row,
    # not a crash; audio/video-ish blobs quarantine as their sniffed kind
    junk = spark.createDataFrame(
        [("j1", bytearray(b"\xff\xd8junkjpeg")),
         ("j2", bytearray(b"RIFF....WAVE"))],
        "media_ref string, content binary",
    )
    qmeta = multimodal.media_metadata(junk)
    quarantined = {r["media_ref"]: r["fmt"]
                   for r in multimodal.quarantine_undecodable(qmeta).collect()}
    assert quarantined == {"j1": "corrupt_jpeg", "j2": "wav"}


def test_corrupt_media_quarantined_not_fatal(spark, corpus_dir):
    docs = spark.createDataFrame(
        [("d1", [{"kind": "image", "text": None, "media_ref": "bad", "offset": 0}]),
         ("d2", [{"kind": "image", "text": None, "media_ref": "trunc", "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    good = spark.read.parquet(f"{corpus_dir}/media.parquet")
    png_prefix = bytes(good.first()["content"])[:40]  # truncated PNG
    media = spark.createDataFrame(
        [("bad", bytearray(b"not a png at all")), ("trunc", bytearray(png_prefix))],
        "media_ref string, content binary",
    )
    aliases = spark.read.parquet(f"{corpus_dir}/aliases.parquet")
    res = pipeline.extract(spark, docs, media, aliases)
    assert res["spans"].count() == 0  # nothing extractable
    q = res["quarantine"].collect()
    assert {r["kind"] for r in q} == {"media_error"}
    assert {r["doc_id"] for r in q} == {"d1", "d2"}


def test_media_features_shape(spark, corpus_dir):
    from ocr_to_csv_spark.extraction import multimodal

    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    feats = multimodal.media_features(media).toPandas()
    # every decodable image gets a feature row; pdf containers are skipped
    from ocr_to_csv_spark.extraction.multimodal import DECODABLE, sniff_format

    n_imgs = sum(
        1 for r in media.collect() if sniff_format(bytes(r["content"])) in DECODABLE
    )
    assert len(feats) == n_imgs > 0
    assert all(len(f) == 16 * 16 + 8 for f in feats["feat"])
    # feature vectors are normalized-ish: histogram tail sums to 1
    import numpy as np
    tail = np.array([f[-8:] for f in feats["feat"]], dtype=np.float64)
    assert np.allclose(tail.sum(axis=1), 1.0, atol=1e-3)
    # thumbnails decode back to 16x16
    from ocr_to_csv_spark.imaging import png as pngc
    t = pngc.decode(bytes(feats.iloc[0]["thumb"]))
    assert t.shape == (16, 16)


def test_stream_upsert_idempotent_under_redelivery(spark, tmp_path):
    """Overlapping rows across micro-batches (simulated re-delivery)
    merge to exactly one copy each — the at-least-once stream plus an
    idempotent MERGE sink gives exactly-once table state."""
    import os

    from ocr_to_csv_spark.streaming.stream import stream_upsert

    src = str(tmp_path / "upsert_src")
    os.makedirs(src)
    a = spark.createDataFrame([(i, f"v{i}") for i in range(50)], "id int, v string")
    b = spark.createDataFrame(
        [(i, f"v{i}") for i in range(25, 75)], "id int, v string"
    )  # 25..49 re-delivered
    a.coalesce(1).write.mode("append").parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)

    stream_upsert(
        spark,
        src,
        "id int, v string",
        str(tmp_path / "cat"),
        "merged",
        str(tmp_path / "up_ckpt"),
        order_by=["id"],
        max_files_per_trigger=1,
    )
    from ocr_to_csv_spark.sources import Catalog

    got = Catalog(spark, str(tmp_path / "cat")).read("merged").collect()
    assert len(got) == 75
    assert {r["id"] for r in got} == set(range(75))


def test_stream_upsert_keyed_replaces_changed_rows(spark, tmp_path):
    """With keys= the sink is a true key-based MERGE: a row re-arriving
    in a later micro-batch with CHANGED non-key values replaces the old
    row instead of duplicating the key (insert-distinct would keep both)."""
    import os

    from ocr_to_csv_spark.sources import Catalog
    from ocr_to_csv_spark.streaming.stream import stream_upsert

    src = str(tmp_path / "kup_src")
    os.makedirs(src)
    a = spark.createDataFrame([(i, f"v{i}") for i in range(20)], "id int, v string")
    b = spark.createDataFrame(
        [(i, f"NEW{i}") for i in range(10, 20)], "id int, v string"
    )  # same keys, changed values
    a.coalesce(1).write.mode("append").parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)

    stream_upsert(
        spark, src, "id int, v string", str(tmp_path / "kcat"), "merged",
        str(tmp_path / "kup_ckpt"), max_files_per_trigger=1, keys=["id"],
    )
    got = {r["id"]: r["v"] for r in
           Catalog(spark, str(tmp_path / "kcat")).read("merged").collect()}
    assert len(got) == 20
    assert got[5] == "v5" and got[15] == "NEW15"
