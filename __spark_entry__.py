"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` covers the SURVEY.md §2 operator inventory (relational
layer) plus the training-data pipeline operators (dedup / similarity /
text analysis) over the driver's sf tables, and the flagship extraction
pipeline over a deterministic self-generated interleaved corpus whose
golden outputs serve as the DuckDB oracle (read by absolute parquet path).

The registry is discovered, not listed: every module under
``ocr_to_csv_spark/functions/`` that defines ``QUERIES`` and ``ORACLES``
contributes both dicts, next to the flagship queries defined here.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_to_csv_spark import functions as _functions
from ocr_to_csv_spark.functions import textops

# The query library: every module under functions/ that defines QUERIES
# (and ORACLES). Imported with this module, never earlier: some modules
# read environment variables at import time.
_LIBRARY = [
    m
    for m in (
        importlib.import_module(f"{_functions.__name__}.{info.name}")
        for info in pkgutil.iter_modules(_functions.__path__)
    )
    if hasattr(m, "QUERIES")
]

CORPUS_DOCS = 40
CORPUS_SEED = 42


def _corpus_dir() -> str:
    """Deterministic self-generated interleaved corpus (cached)."""
    d = f"/tmp/ocr2csv_corpus_{CORPUS_DOCS}_{CORPUS_SEED}"
    from ocr_to_csv_spark.datagen.gen import corpus_is_current, write_corpus

    if not corpus_is_current(d):
        import shutil

        shutil.rmtree(d, ignore_errors=True)  # drop stale goldens/stagings
        write_corpus(d, CORPUS_DOCS, seed=CORPUS_SEED)
    return d


def _stage_tag(*modules) -> str:
    """Content hash folded into every staged-fixture filename: hashes
    the provider module source AND this file AND the shared decode
    substrate (imaging codecs + archive/audio/video parsers) every
    staged fixture transitively depends on, so a synth/golden-formula
    OR codec change regenerates the staging instead of silently
    comparing against stale /tmp goldens even when the manual
    *_STAGE_V bump is forgotten (ADVICE r3, r4). Hashed by
    ``util.source_md5``, the golden-cache key ``util.gold_tag`` uses."""
    from ocr_to_csv_spark.extraction import audio as _dep_audio
    from ocr_to_csv_spark.extraction import video as _dep_video
    from ocr_to_csv_spark.functions.util import source_md5
    from ocr_to_csv_spark.imaging import codecs as _dep_codecs
    from ocr_to_csv_spark.imaging import gif as _dep_gif
    from ocr_to_csv_spark.imaging import jpeg as _dep_jpeg
    from ocr_to_csv_spark.imaging import netpbm as _dep_netpbm
    from ocr_to_csv_spark.imaging import png as _dep_png
    from ocr_to_csv_spark.imaging import simple_formats as _dep_simple
    from ocr_to_csv_spark.imaging import webp as _dep_webp
    from ocr_to_csv_spark.sources import archive as _dep_archive

    transitive = (
        _dep_codecs,
        _dep_jpeg,
        _dep_png,
        _dep_gif,
        _dep_webp,
        _dep_netpbm,
        _dep_simple,
        _dep_audio,
        _dep_video,
        _dep_archive,
    )
    h = source_md5((*modules, *transitive))
    try:  # this file by path — the module may be loaded under any name
        with open(__file__, "rb") as f:
            h.update(f.read())
    except OSError:
        pass
    return h.hexdigest()[:8]



def _staged_media_feats(spark: SparkSession) -> str:
    """Materialize the media feature vectors once (Spark mapInPandas path)
    so downstream consumers scan parquet instead of re-running the decode
    stage per plan branch — the staging-table idiom the extraction
    pipeline also uses."""
    from ocr_to_csv_spark.extraction.multimodal import media_features

    from ocr_to_csv_spark.extraction import multimodal as _mm_mod

    d = _corpus_dir()
    p = os.path.join(d, f"staged_media_feat_{_stage_tag(_mm_mod)}.parquet")
    if not os.path.exists(p):
        media = spark.read.parquet(os.path.join(d, "media.parquet"))
        media_features(media).write.mode("overwrite").parquet(p)
    return p


def _extract(spark: SparkSession) -> dict[str, DataFrame]:
    from ocr_to_csv_spark.extraction import pipeline

    tabs = pipeline.load_corpus(spark, _corpus_dir())
    return pipeline.extract(spark, tabs["documents"], tabs["media"], tabs["aliases"])


def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full interleaved-document extraction → ordered span
    sequences (north_rule invariant). Oracle = golden fixture parquet."""
    res = _extract(spark)
    return res["spans"].select(
        "doc_id", "kind", "text",
        F.coalesce("media_ref", F.lit("")).alias("media_ref"),
        F.col("order").cast("long").alias("ord"),
    )


def q_extract_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: flattened CSV-row table (reference main.py:182 layout)."""
    res = _extract(spark)
    out = res["rows"]
    for c in ("name", "time_in", "time_out", "hours", "purpose", "date", "day"):
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit("")))
    return out.select(
        "doc_id", F.col("page").cast("long").alias("page"),
        F.col("row").cast("long").alias("row"),
        "name", "time_in", "time_out", "hours", "purpose", "date", "day",
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: PNG metadata over the binary media column
    (decode = the pure-numpy codec). Oracle = golden metadata computed by
    the datagen from the pre-encode arrays (codec is lossless, so the
    decode path must reproduce them exactly)."""
    from ocr_to_csv_spark.extraction.multimodal import media_metadata

    media = spark.read.parquet(os.path.join(_corpus_dir(), "media.parquet"))
    return media_metadata(media).select(
        "media_ref", "fmt",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "n_bytes", "mean_intensity", "fill_ratio",
    )


N_AUDIO = 24
AUDIO_STAGE_V = 2  # bump when synth_wav or the audio feature formulas change


def _staged_audio_paths() -> tuple[str, str, str]:
    """Deterministic WAV blob table + its golden feature table (computed
    from the raw samples at synthesis time; PCM is lossless so the
    decode stage must reproduce them bit-exactly). Includes one stereo
    blob per 6 and one deliberately truncated blob that must land as
    fmt='corrupt_wav', not a task failure. Staged names carry
    AUDIO_STAGE_V so a formula change can't silently compare against
    stale goldens (corpus GEN_VERSION bumps also wipe the directory)."""
    import pandas as pd

    from ocr_to_csv_spark.extraction.audio import (
        audio_signature_np, decode_pcm_ch0, synth_wav,
    )

    from ocr_to_csv_spark.extraction import audio as _audio_mod

    d = _corpus_dir()
    tg = _stage_tag(_audio_mod)
    blobs_p = os.path.join(d, f"audio_blobs_v{AUDIO_STAGE_V}_{tg}.parquet")
    gold_p = os.path.join(
        d, f"expected_audio_meta_v{AUDIO_STAGE_V}_{tg}.parquet")
    sig_p = os.path.join(
        d, f"expected_audio_sig_v{AUDIO_STAGE_V}_{tg}.parquet")
    if not all(os.path.exists(p) for p in (blobs_p, gold_p, sig_p)):
        blobs, gold, sigs = [], [], []
        for s in range(N_AUDIO):
            data, exp = synth_wav(
                s, sr=8000 if s % 3 else 16000, n=4000 + 250 * (s % 5),
                channels=2 if s % 6 == 0 else 1,
            )
            if s == N_AUDIO - 1:  # truncated body → corrupt_wav
                data = data[: len(data) // 2]
                exp = {
                    "media_ref": exp["media_ref"], "fmt": "corrupt_wav",
                    "sample_rate": -1, "n_channels": -1, "n_samples": -1,
                    "duration_ms": -1, "energy": -1, "zero_crossings": -1,
                }
            else:
                sigs.append({
                    "media_ref": exp["media_ref"],
                    "feat": [float(x) for x in
                             audio_signature_np(decode_pcm_ch0(data))],
                })
            blobs.append({"media_ref": exp["media_ref"], "content": data})
            gold.append(exp)
        pd.DataFrame(blobs).to_parquet(blobs_p, index=False)
        pd.DataFrame(gold).to_parquet(gold_p, index=False)
        pd.DataFrame(sigs).to_parquet(sig_p, index=False)
    return blobs_p, gold_p, sig_p


def q_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality: WAV/PCM decode (stdlib wave + numpy, mapInPandas)
    to integer-exact features; corrupt blobs yield corrupt_wav rows.
    Oracle = golden features from synthesis time."""
    from ocr_to_csv_spark.extraction.audio import audio_features

    blobs_p, _, _ = _staged_audio_paths()
    blobs = spark.read.parquet(blobs_p)
    return audio_features(blobs).select(
        "media_ref", "fmt",
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("n_channels").cast("long").alias("n_channels"),
        "n_samples", "duration_ms", "energy", "zero_crossings",
    )


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup: 64-bin energy-envelope signatures (mapInPandas
    over the PCM decode) through the SAME banded hyperplane LSH plan as
    image/video near-dup (dims=64) — no cross join; corrupt blobs carry
    no signature and quarantine via audio_features. Oracle = identical
    LSH + cosine in DuckDB over the golden signature fixtures."""
    from ocr_to_csv_spark.extraction.audio import AUDIO_SIG_BINS, audio_signatures
    from ocr_to_csv_spark.extraction.multimodal import media_near_dup

    blobs_p, _, _ = _staged_audio_paths()
    blobs = spark.read.parquet(blobs_p)
    return media_near_dup(
        audio_signatures(blobs), top=10, dims=AUDIO_SIG_BINS
    )


N_VIDEO = 16
VIDEO_STAGE_V = 1  # bump when synth_avi or the video feature formulas change


def _staged_video_paths() -> tuple[str, str, str]:
    """Deterministic AVI blob table + golden feature table + golden
    264-dim signature table. Mix: raw-Y800 (goldens from pre-encode
    frames, bit-exact) and MJPEG (goldens from the deterministic decode,
    the lossy-media convention of datagen/gen.py); varied dims/fps; one
    deliberately truncated blob that must land as fmt='corrupt_avi'."""
    import pandas as pd

    from ocr_to_csv_spark.extraction.video import (
        sample_frames, synth_avi, video_signature_np,
    )

    from ocr_to_csv_spark.extraction import video as _video_mod

    d = _corpus_dir()
    tg = _stage_tag(_video_mod)
    blobs_p = os.path.join(d, f"video_blobs_v{VIDEO_STAGE_V}_{tg}.parquet")
    gold_p = os.path.join(
        d, f"expected_video_meta_v{VIDEO_STAGE_V}_{tg}.parquet")
    sig_p = os.path.join(
        d, f"expected_video_sig_v{VIDEO_STAGE_V}_{tg}.parquet")
    if not all(os.path.exists(p) for p in (blobs_p, gold_p, sig_p)):
        blobs, gold, sigs = [], [], []
        for s in range(N_VIDEO):
            codec = "mjpg" if s % 2 else "raw"
            data, exp = synth_avi(
                s, w=40 + 8 * (s % 3), h=32 + 8 * (s % 2),
                n_frames=9 + (s % 4) * 3, fps=8 + 2 * (s % 3), codec=codec,
            )
            if s == N_VIDEO - 1:  # truncated container → corrupt_avi
                data = data[: len(data) // 2]
                exp = {"media_ref": exp["media_ref"], "fmt": "corrupt_avi",
                       "width": -1, "height": -1, "n_frames": -1, "fps": -1,
                       "duration_ms": -1, "n_sampled": -1,
                       "intensity_sum": -1, "motion": -1}
            else:
                _, frames = sample_frames(data, 3)
                sigs.append({"media_ref": exp["media_ref"],
                             "feat": video_signature_np(frames).tolist()})
            blobs.append({"media_ref": exp["media_ref"], "content": data})
            gold.append(exp)
        pd.DataFrame(blobs).to_parquet(blobs_p, index=False)
        pd.DataFrame(gold).to_parquet(gold_p, index=False)
        pd.DataFrame(sigs).to_parquet(sig_p, index=False)
    return blobs_p, gold_p, sig_p


def q_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video modality: AVI container parse + MJPEG/raw-Y800 frame decode
    (pure-numpy, mapInPandas) with every-3rd-frame sampling to
    integer-exact features; corrupt blobs yield corrupt_avi rows.
    Oracle = golden features from synthesis time."""
    from ocr_to_csv_spark.extraction.video import video_features

    blobs_p, _, _ = _staged_video_paths()
    blobs = spark.read.parquet(blobs_p)
    return video_features(blobs, every_n=3).select(
        "media_ref", "fmt",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "n_frames",
        F.col("fps").cast("long").alias("fps"),
        "duration_ms", "n_sampled", "intensity_sum", "motion",
    )


def q_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup: per-video 264-dim signatures (mean sampled frame,
    same recipe as image features) through the banded hyperplane LSH —
    identical no-cross-join plan as image near-dup. Oracle = same LSH +
    cosine in DuckDB over the golden signature fixtures."""
    from ocr_to_csv_spark.extraction.multimodal import media_near_dup
    from ocr_to_csv_spark.extraction.video import video_signatures

    blobs_p, _, _ = _staged_video_paths()
    blobs = spark.read.parquet(blobs_p)
    return media_near_dup(video_signatures(blobs, every_n=3), top=10)


N_WEBP = 12
WEBP_STAGE_V = 2  # bump when encode_gray or the meta formulas change


def _staged_webp_paths() -> tuple[str, str]:
    """Deterministic WebP-lossless blob table + golden metadata table.
    The VP8L codec is lossless, so the decode path must reproduce the
    pre-encode arrays bit-exactly (goldens computed from the arrays at
    synthesis time — the PNG/WAV convention). Mix: full-range noise and
    binarized scan-like frames, varied dims; one deliberately truncated
    blob that must land as fmt='corrupt_webp'."""
    import numpy as np
    import pandas as pd

    from ocr_to_csv_spark.imaging.webp import encode_gray

    from ocr_to_csv_spark.imaging import webp as _webp_mod

    d = _corpus_dir()
    tg = _stage_tag(_webp_mod)
    blobs_p = os.path.join(d, f"webp_blobs_v{WEBP_STAGE_V}_{tg}.parquet")
    gold_p = os.path.join(
        d, f"expected_webp_meta_v{WEBP_STAGE_V}_{tg}.parquet")
    if not all(os.path.exists(p) for p in (blobs_p, gold_p)):
        blobs, gold = [], []
        for s in range(N_WEBP):
            rng = np.random.RandomState(1000 + s)
            h, w = 24 + 4 * (s % 5), 32 + 8 * (s % 3)
            img = (rng.rand(h, w) * 256).astype(np.uint8)
            if s % 3 == 0:  # binarized scan-like page
                img = (img > 128).astype(np.uint8) * 255
            data = encode_gray(img)
            ref = f"webp{s:03d}"
            if s == N_WEBP - 1:  # truncated body → corrupt_webp
                data = data[: len(data) // 2]
                gold.append({
                    "media_ref": ref, "fmt": "corrupt_webp",
                    "width": -1, "height": -1, "n_bytes": len(data),
                    "mean_intensity": float("nan"),
                    "fill_ratio": float("nan"),
                })
            else:
                gold.append({
                    "media_ref": ref, "fmt": "webp",
                    "width": w, "height": h, "n_bytes": len(data),
                    "mean_intensity": round(float(img.mean()), 4),
                    "fill_ratio": round(float((img < 128).mean()), 4),
                })
            blobs.append({"media_ref": ref, "content": data})
        pd.DataFrame(blobs).to_parquet(blobs_p, index=False)
        pd.DataFrame(gold).to_parquet(gold_p, index=False)
    return blobs_p, gold_p


def q_webp_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP modality: pure-Python VP8L decode (imaging/webp.py) through
    the standard media_metadata mapInPandas pass; corrupt blobs yield
    corrupt_webp rows. Oracle = golden metadata from synthesis time."""
    from ocr_to_csv_spark.extraction.multimodal import media_metadata

    blobs_p, _ = _staged_webp_paths()
    blobs = spark.read.parquet(blobs_p)
    return media_metadata(blobs).select(
        "media_ref", "fmt",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "n_bytes", "mean_intensity", "fill_ratio",
    )


N_GIF = 12
GIF_STAGE_V = 1  # bump when gif.encode_gray or the meta formulas change


def _staged_gif_paths() -> tuple[str, str]:
    """Deterministic GIF blob table + golden metadata table (gray LZW is
    lossless, so goldens come from the pre-encode arrays). Mix of
    sequential and interlaced frames, varied dims; one deliberately
    truncated blob that must land as fmt='corrupt_gif'."""
    import numpy as np
    import pandas as pd

    from ocr_to_csv_spark.imaging.gif import encode_gray

    from ocr_to_csv_spark.imaging import gif as _gif_mod

    d = _corpus_dir()
    tg = _stage_tag(_gif_mod)
    blobs_p = os.path.join(d, f"gif_blobs_v{GIF_STAGE_V}_{tg}.parquet")
    gold_p = os.path.join(d, f"expected_gif_meta_v{GIF_STAGE_V}_{tg}.parquet")
    if not all(os.path.exists(p) for p in (blobs_p, gold_p)):
        blobs, gold = [], []
        for s in range(N_GIF):
            rng = np.random.RandomState(2000 + s)
            h, w = 20 + 6 * (s % 4), 28 + 10 * (s % 3)
            img = (rng.rand(h, w) * 256).astype(np.uint8)
            if s % 4 == 0:  # binarized scan-like page
                img = (img > 128).astype(np.uint8) * 255
            data = encode_gray(img, interlace=(s % 2 == 1))
            ref = f"gif{s:03d}"
            if s == N_GIF - 1:  # truncated body -> corrupt_gif
                data = data[: len(data) // 2]
                gold.append({
                    "media_ref": ref, "fmt": "corrupt_gif",
                    "width": -1, "height": -1, "n_bytes": len(data),
                    "mean_intensity": float("nan"),
                    "fill_ratio": float("nan"),
                })
            else:
                gold.append({
                    "media_ref": ref, "fmt": "gif",
                    "width": w, "height": h, "n_bytes": len(data),
                    "mean_intensity": round(float(img.mean()), 4),
                    "fill_ratio": round(float((img < 128).mean()), 4),
                })
            blobs.append({"media_ref": ref, "content": data})
        pd.DataFrame(blobs).to_parquet(blobs_p, index=False)
        pd.DataFrame(gold).to_parquet(gold_p, index=False)
    return blobs_p, gold_p


def q_gif_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF modality: pure-Python LZW decode (imaging/gif.py, sequential
    and interlaced) through the standard media_metadata mapInPandas
    pass; corrupt blobs yield corrupt_gif rows. Oracle = golden
    metadata from synthesis time."""
    from ocr_to_csv_spark.extraction.multimodal import media_metadata

    blobs_p, _ = _staged_gif_paths()
    blobs = spark.read.parquet(blobs_p)
    return media_metadata(blobs).select(
        "media_ref", "fmt",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "n_bytes", "mean_intensity", "fill_ratio",
    )


N_WARC = 10
WARC_STAGE_V = 1  # bump when synth_warc or the parse/strip rules change


def _staged_warc_paths() -> tuple[str, str]:
    """Deterministic WARC blob table + golden record table (expected
    rows computed at synthesis time from the pre-encode page text — the
    audio/video golden convention). Mix: plain .warc (even seeds) and
    multi-member-gzip .warc.gz (odd seeds, the Common Crawl layout);
    one blob truncated mid-final-record (prefix records recover + one
    corrupt_warc marker) and one pure-junk blob (marker only)."""
    import pandas as pd

    from ocr_to_csv_spark.sources.warc import synth_warc

    from ocr_to_csv_spark.sources import warc as _warc_mod

    d = _corpus_dir()
    tg = _stage_tag(_warc_mod)
    blobs_p = os.path.join(d, f"warc_blobs_v{WARC_STAGE_V}_{tg}.parquet")
    gold_p = os.path.join(
        d, f"expected_warc_records_v{WARC_STAGE_V}_{tg}.parquet")
    if not all(os.path.exists(p) for p in (blobs_p, gold_p)):
        blobs, gold = [], []
        for s in range(N_WARC):
            if s == N_WARC - 1:  # undecodable container
                ref = f"warc-{s}"
                blobs.append({"warc_ref": ref,
                              "content": b"not a warc stream"})
                gold.append({
                    "warc_ref": ref, "rec_idx": -1,
                    "rec_type": "corrupt_warc", "url": None, "host": None,
                    "status": -1, "mime": "", "payload_bytes": -1,
                    "text": "", "n_tokens": -1,
                })
                continue
            data, exp = synth_warc(s, n_pages=5 + s % 4,
                                   gzip_members=bool(s % 2))
            if s == N_WARC - 2 and not s % 2:
                # clip the final record's terminator: every earlier
                # record parses, the last one quarantines the blob tail
                data = data[:-3]
                exp = exp[:-1] + [{
                    "warc_ref": exp[0]["warc_ref"], "rec_idx": -1,
                    "rec_type": "corrupt_warc", "url": None, "host": None,
                    "status": -1, "mime": "", "payload_bytes": -1,
                    "text": "", "n_tokens": -1,
                }]
            blobs.append({"warc_ref": exp[0]["warc_ref"], "content": data})
            gold.extend(exp)
        pd.DataFrame(blobs).to_parquet(blobs_p, index=False)
        pd.DataFrame(gold).to_parquet(gold_p, index=False)
    return blobs_p, gold_p


N_TAR = 6
N_ZIP = 6
ARCH_STAGE_V = 1  # bump when synth_tar/synth_zip or the parsers change


def _staged_archive_paths() -> tuple[str, str, str, str]:
    """Deterministic TAR/ZIP blob tables + golden member tables (the
    warc staging convention). Probes: one junk tar, one tar with a
    flipped header byte (prefix members recover + corrupt_tar marker),
    one zip with its EOCD clipped (corrupt_zip marker) and one zip
    with a flipped central-directory CRC byte (member still parses,
    crc_ok = 0 — bit-rot detection, not rejection)."""
    import pandas as pd

    from ocr_to_csv_spark.sources.archive import synth_tar, synth_zip

    from ocr_to_csv_spark.sources import archive as _arch_mod

    d = _corpus_dir()
    ct = _stage_tag(_arch_mod)
    tb = os.path.join(d, f"tar_blobs_v{ARCH_STAGE_V}_{ct}.parquet")
    tg = os.path.join(d, f"expected_tar_members_v{ARCH_STAGE_V}_{ct}.parquet")
    zb = os.path.join(d, f"zip_blobs_v{ARCH_STAGE_V}_{ct}.parquet")
    zg = os.path.join(d, f"expected_zip_members_v{ARCH_STAGE_V}_{ct}.parquet")
    if not all(os.path.exists(p) for p in (tb, tg, zb, zg)):
        tblobs, tgold, zblobs, zgold = [], [], [], []
        for s in range(N_TAR):
            if s == N_TAR - 1:
                tblobs.append({"tar_ref": f"tar-{s}",
                               "content": b"definitely not a tarball"})
                tgold.append({
                    "tar_ref": f"tar-{s}", "idx": -1, "name": "",
                    "size": -1, "text": "", "n_tokens": -1,
                    "status": "corrupt_tar",
                })
                continue
            data, exp = synth_tar(s, n_members=4 + s % 3)
            if s == N_TAR - 2:
                # flip a byte in the THIRD member's header magic:
                # members 0-1 recover, then the corrupt marker
                off = 0
                for _ in range(2):
                    hsz = int(
                        data[off + 124 : off + 136].rstrip(b"\x00 "), 8
                    )
                    off += 512 + hsz + ((-hsz) % 512)
                data = (data[: off + 257] + b"X" + data[off + 258 :])
                exp = exp[:2] + [{
                    "tar_ref": exp[0]["tar_ref"], "idx": -1, "name": "",
                    "size": -1, "text": "", "n_tokens": -1,
                    "status": "corrupt_tar",
                }]
            tblobs.append({"tar_ref": exp[0]["tar_ref"], "content": data})
            tgold.extend(exp)
        for s in range(N_ZIP):
            data, exp = synth_zip(s, n_members=3 + s % 3)
            if s == N_ZIP - 1:
                data = data[:-12]  # clip the EOCD mid-record
                exp = [{
                    "zip_ref": exp[0]["zip_ref"], "idx": -1, "name": "",
                    "method": "", "size": -1, "crc_ok": 0, "text": "",
                    "n_tokens": -1, "status": "corrupt_zip",
                }]
            elif s == N_ZIP - 2:
                cd = data.find(b"PK\x01\x02")
                data = (data[: cd + 16]
                        + bytes([data[cd + 16] ^ 0xFF])
                        + data[cd + 17 :])
                exp = [dict(exp[0], crc_ok=0)] + exp[1:]
            zblobs.append({"zip_ref": exp[0]["zip_ref"], "content": data})
            zgold.extend(exp)
        pd.DataFrame(tblobs).to_parquet(tb, index=False)
        pd.DataFrame(tgold).to_parquet(tg, index=False)
        pd.DataFrame(zblobs).to_parquet(zb, index=False)
        pd.DataFrame(zgold).to_parquet(zg, index=False)
    return tb, tg, zb, zg


def q_tar_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAR container source: ustar 512-byte framing with checksum
    verification, member fan-out in mapInPandas; quarantine on framing
    failure. Oracle = golden members from synthesis time."""
    from ocr_to_csv_spark.sources.archive import tar_members

    tb, _, _, _ = _staged_archive_paths()
    blobs = spark.read.parquet(tb)
    return tar_members(blobs).select(
        "tar_ref", F.col("idx").cast("long").alias("idx"), "name",
        "size", "text", "n_tokens", "status",
    )


def q_zip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP container source: EOCD → central directory walk, store +
    raw-deflate members, CRC32 re-verified per member. Oracle = golden
    members from synthesis time."""
    from ocr_to_csv_spark.sources.archive import zip_members

    _, _, zb, _ = _staged_archive_paths()
    blobs = spark.read.parquet(zb)
    return zip_members(blobs).select(
        "zip_ref", F.col("idx").cast("long").alias("idx"), "name",
        "method", "size", F.col("crc_ok").cast("long").alias("crc_ok"),
        "text", "n_tokens", "status",
    )


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC source: stdlib multi-member-gzip + record framing parse,
    HTTP response split, HTML→text strip — one row per crawl record
    (mapInPandas; per-segment parallelism at crawl scale). Oracle =
    golden records from synthesis time."""
    from ocr_to_csv_spark.sources.warc import warc_records

    blobs_p, _ = _staged_warc_paths()
    blobs = spark.read.parquet(blobs_p)
    return warc_records(blobs).select(
        "warc_ref",
        F.col("rec_idx").cast("long").alias("rec_idx"),
        "rec_type", "url", "host",
        F.col("status").cast("long").alias("status"),
        "mime", "payload_bytes", "text", "n_tokens",
    )


def q_warc_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl rollup over the WARC record stream: page count,
    payload bytes, 200-rate, token volume — the first aggregate any
    crawl-curation pipeline runs (host-level quality gates). One
    map-side-partial groupBy downstream of the record parse. Oracle =
    the same rollup in DuckDB over the golden record fixture."""
    from ocr_to_csv_spark.sources.warc import warc_records

    blobs_p, _ = _staged_warc_paths()
    recs = warc_records(spark.read.parquet(blobs_p))
    return (
        recs.filter(F.col("rec_type") == "response")
        .groupBy("host")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("payload_bytes").alias("total_bytes"),
            F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("n_ok"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


JSONL_STAGE_V = 1
JSONL_SCHEMA = (
    "doc_id bigint, text string, score double, published boolean, ts string"
)


def _staged_jsonl_paths() -> tuple[str, str]:
    """Deterministic JSONL fixture (the corpus-release interchange
    format): 12 typed lines — one with a missing field (→ null), one
    with an unknown extra field (→ ignored) — plus two malformed lines
    (invalid JSON; a type-mismatched number) that must quarantine, and
    the golden quarantine table."""
    import pandas as pd

    d = _corpus_dir()
    jl_p = os.path.join(d, f"fixture_v{JSONL_STAGE_V}.jsonl")
    gold_q = os.path.join(d, f"expected_jsonl_quarantine_v{JSONL_STAGE_V}.parquet")
    if not all(os.path.exists(p) for p in (jl_p, gold_q)):
        lines = []
        for i in range(12):
            if i == 3:  # missing score → null
                lines.append(
                    f'{{"doc_id": {i}, "text": "doc {i} body", '
                    f'"published": {str(i % 2 == 0).lower()}, '
                    f'"ts": "2026-01-{i + 1:02d}"}}'
                )
            elif i == 4:  # unknown extra field → ignored
                lines.append(
                    f'{{"doc_id": {i}, "text": "doc {i} body", '
                    f'"score": {i * 0.5}, "published": '
                    f'{str(i % 2 == 0).lower()}, '
                    f'"ts": "2026-01-{i + 1:02d}", "extra": 99}}'
                )
            else:
                lines.append(
                    f'{{"doc_id": {i}, "text": "doc {i} body", '
                    f'"score": {i * 0.5}, "published": '
                    f'{str(i % 2 == 0).lower()}, '
                    f'"ts": "2026-01-{i + 1:02d}"}}'
                )
        bad = [
            '{"doc_id": 12, "text": "bad score", "score": "not-a-number", '
            '"published": true, "ts": "2026-02-01"}',
            '{this is not json at all',
        ]
        with open(jl_p, "w") as f:
            f.write("\n".join(lines + bad) + "\n")
        pd.DataFrame({"raw_line": bad}).to_parquet(gold_q, index=False)
    return jl_p, gold_q


def q_jsonl_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingest, good-row side: Spark's native PERMISSIVE json
    reader with explicit schema. Oracle = DuckDB read_json with
    ignore_errors (drops exactly what Spark quarantines)."""
    from ocr_to_csv_spark.sources.jsonl import read_jsonl_quarantine

    jl_p, _ = _staged_jsonl_paths()
    good, _ = read_jsonl_quarantine(spark, jl_p, JSONL_SCHEMA)
    return good


def q_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingest, quarantine side: malformed lines preserved raw for
    replay. Oracle = golden quarantine fixture."""
    from ocr_to_csv_spark.sources.jsonl import read_jsonl_quarantine

    jl_p, _ = _staged_jsonl_paths()
    _, bad = read_jsonl_quarantine(spark, jl_p, JSONL_SCHEMA)
    return bad


CSV_STAGE_V = 1
CSV_SCHEMA = "id bigint, name string, score double, flag boolean"


def _staged_csv_paths() -> tuple[str, str]:
    """Deterministic CSV fixture: 10 good rows (one with a QUOTED
    delimiter), plus an extra-column row, a bad-cast row, and a
    short row — each malformed per Spark's PERMISSIVE contract — and
    the golden quarantine table."""
    import pandas as pd

    d = _corpus_dir()
    csv_p = os.path.join(d, f"fixture_v{CSV_STAGE_V}.csv")
    gold_q = os.path.join(d, f"expected_csv_quarantine_v{CSV_STAGE_V}.parquet")
    if not all(os.path.exists(p) for p in (csv_p, gold_q)):
        good = [
            f"{i},name{i},{i * 0.5},{'true' if i % 2 == 0 else 'false'}"
            for i in range(9)
        ] + ['9,"name,with,commas",4.5,false']
        bad = [
            "10,extra,5.0,true,SURPLUS",
            "not-a-number,badcast,5.5,true",
            "12,short,6.0",
        ]
        with open(csv_p, "w") as f:
            f.write("\n".join(good + bad) + "\n")
        pd.DataFrame({"raw_line": bad}).to_parquet(gold_q, index=False)
    return csv_p, gold_q


def q_csv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest, good-row side: native PERMISSIVE csv reader with
    explicit schema. Oracle = DuckDB strict read_csv(ignore_errors),
    which drops exactly what Spark quarantines."""
    from ocr_to_csv_spark.sources.csv_ingest import read_csv_quarantine

    csv_p, _ = _staged_csv_paths()
    good, _ = read_csv_quarantine(spark, csv_p, CSV_SCHEMA)
    return good


def q_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest, quarantine side: malformed rows preserved raw."""
    from ocr_to_csv_spark.sources.csv_ingest import read_csv_quarantine

    csv_p, _ = _staged_csv_paths()
    _, bad = read_csv_quarantine(spark, csv_p, CSV_SCHEMA)
    return bad


XML_STAGE_V = 1
XML_SCHEMA = "id bigint, title string, score double"
N_XML = 10


def _staged_xml_paths() -> tuple[str, str]:
    """Deterministic XML fixture (rowTag=doc): N_XML docs with known
    fields — one with a MISSING element (→ null, not malformed) — plus
    one type-mismatched doc that must quarantine; golden good-row table
    written from the pre-encode values."""
    import pandas as pd

    d = _corpus_dir()
    xml_p = os.path.join(d, f"fixture_v{XML_STAGE_V}.xml")
    gold_p = os.path.join(d, f"expected_xml_rows_v{XML_STAGE_V}.parquet")
    if not all(os.path.exists(p) for p in (xml_p, gold_p)):
        rows, gold = [], []
        for i in range(N_XML):
            if i == 7:  # missing score element → null
                rows.append(f"<doc><id>{i}</id><title>t{i}</title></doc>")
                gold.append({"id": i, "title": f"t{i}", "score": None})
            else:
                rows.append(
                    f"<doc><id>{i}</id><title>t{i}</title>"
                    f"<score>{i * 0.5}</score></doc>"
                )
                gold.append({"id": i, "title": f"t{i}", "score": i * 0.5})
        rows.append("<doc><id>oops</id><title>bad</title>"
                    "<score>9.5</score></doc>")  # type mismatch → quarantine
        with open(xml_p, "w") as f:
            f.write("<docs>\n" + "\n".join(rows) + "\n</docs>\n")
        pd.DataFrame(gold).to_parquet(gold_p, index=False)
    return xml_p, gold_p


def q_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest, good-row side: Spark 4's native xml source
    (rowTag streaming parse), PERMISSIVE quarantine split. Oracle =
    golden rows from synthesis time (DuckDB has no XML reader)."""
    from ocr_to_csv_spark.sources.xml_ingest import read_xml_quarantine

    xml_p, _ = _staged_xml_paths()
    good, _ = read_xml_quarantine(spark, xml_p, XML_SCHEMA, row_tag="doc")
    return good


def q_mor_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read equality deletes (Iceberg v2 delete files): base
    table staged once from orders (o_orderkey % 10 < 3), one delete
    commit (o_orderkey % 20 == 1); the read is base LEFT ANTI JOIN
    deletes with the delete set broadcast — the base is never
    rewritten. Oracle = the same predicates straight in SQL."""
    from ocr_to_csv_spark.sources.catalog import Catalog

    tag = os.path.basename(sf_dir.rstrip("/")) or "default"
    cat = Catalog(spark, os.path.join(_corpus_dir(), f"mor_v1_{tag}"))
    if not cat.exists("orders_sub"):
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        cat.append(
            orders.filter(F.col("o_orderkey") % 10 < 3), "orders_sub"
        )
        cat.delete_where(
            "orders_sub", F.col("o_orderkey") % 20 == 1, ["o_orderkey"]
        )
    return cat.read_mor("orders_sub", ["o_orderkey"]).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )


def q_multimodal_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup over extracted 264-dim features via banded
    hyperplane LSH (no cross join — the 100 TB path). Oracle = the same
    LSH + cosine in DuckDB SQL over the golden feature fixtures."""
    from ocr_to_csv_spark.extraction.multimodal import media_near_dup

    feats = spark.read.parquet(_staged_media_feats(spark))
    return media_near_dup(feats, top=10)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship composite over /root/testdata/sf0.001: exact-dedup +
    quality + language-ID + fingerprint of the documents table — the
    training-data curation pass every corpus gets before extraction."""
    sf = "/root/testdata/sf0.001"
    dq = textops.q_quality_score(spark, sf).select("doc_id", "n_tokens", "quality", "band")
    lang = textops.q_lang_id(spark, sf).select("doc_id", "lang_pred")
    ded = textops.q_dedup_exact(spark, sf).select("doc_id", "keep")
    fp = textops.q_fingerprint(spark, sf).select("doc_id", "fp")
    return dq.join(lang, "doc_id").join(ded, "doc_id").join(fp, "doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: fn for m in _LIBRARY for name, fn in m.QUERIES.items()
    }
    out.update(
        {
            "extract_spans": q_extract_spans,
            "extract_rows": q_extract_rows,
            "multimodal_meta": q_multimodal_meta,
            "multimodal_near_dup": q_multimodal_near_dup,
            "audio_meta": q_audio_meta,
            "audio_near_dup": q_audio_near_dup,
            "video_meta": q_video_meta,
            "webp_meta": q_webp_meta,
            "gif_meta": q_gif_meta,
            "video_near_dup": q_video_near_dup,
            "warc_extract": q_warc_extract,
            "tar_extract": q_tar_extract,
            "zip_extract": q_zip_extract,
            "warc_hosts": q_warc_hosts,
            "jsonl_parse": q_jsonl_parse,
            "jsonl_quarantine": q_jsonl_quarantine,
            "mor_read": q_mor_read,
            "csv_parse": q_csv_parse,
            "csv_quarantine": q_csv_quarantine,
            "xml_parse": q_xml_parse,
        }
    )
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {
        name: sql for m in _LIBRARY for name, sql in m.ORACLES.items()
    }
    # flagship oracles: the deterministic golden fixtures (absolute path —
    # generated on demand so DuckDB can read them even if queries() ran in
    # another process)
    d = _corpus_dir()
    out["extract_spans"] = f"""
        SELECT doc_id, kind, text,
               coalesce(media_ref, '') AS media_ref,
               "order"::BIGINT AS ord
        FROM '{d}/expected_spans.parquet'
    """
    out["extract_rows"] = f"""
        SELECT doc_id, page::BIGINT AS page, row::BIGINT AS row,
               coalesce(name, '') AS name, coalesce(time_in, '') AS time_in,
               coalesce(time_out, '') AS time_out, coalesce(hours, '') AS hours,
               coalesce(purpose, '') AS purpose, coalesce(date, '') AS date,
               coalesce(day, '') AS day
        FROM '{d}/expected_rows.parquet'
    """
    # multimodal oracles: golden metadata/features computed by the datagen
    # from the pre-encode arrays (the lossless codec means the pipeline's
    # decode path must reproduce them bit-exactly)
    _, audio_gold, audio_sig = _staged_audio_paths()
    out["audio_meta"] = f"""
        SELECT media_ref, fmt,
               sample_rate::BIGINT AS sample_rate,
               n_channels::BIGINT AS n_channels,
               n_samples::BIGINT AS n_samples,
               duration_ms::BIGINT AS duration_ms,
               energy::BIGINT AS energy,
               zero_crossings::BIGINT AS zero_crossings
        FROM '{audio_gold}'
    """
    out["audio_near_dup"] = _near_dup_oracle_sql(audio_sig, dims=64)
    out["multimodal_meta"] = f"""
        SELECT media_ref, fmt, width::BIGINT AS width, height::BIGINT AS height,
               n_bytes::BIGINT AS n_bytes, mean_intensity, fill_ratio
        FROM '{d}/expected_media_meta.parquet'
    """
    _, video_gold, video_sig = _staged_video_paths()
    out["video_meta"] = f"""
        SELECT media_ref, fmt,
               width::BIGINT AS width, height::BIGINT AS height,
               n_frames::BIGINT AS n_frames, fps::BIGINT AS fps,
               duration_ms::BIGINT AS duration_ms,
               n_sampled::BIGINT AS n_sampled,
               intensity_sum::BIGINT AS intensity_sum,
               motion::BIGINT AS motion
        FROM '{video_gold}'
    """
    out["multimodal_near_dup"] = _near_dup_oracle_sql(
        f"{d}/expected_media_feat.parquet"
    )
    out["video_near_dup"] = _near_dup_oracle_sql(video_sig)
    _, webp_gold = _staged_webp_paths()
    _, gif_gold = _staged_gif_paths()
    out["gif_meta"] = f"""
        SELECT media_ref, fmt,
               width::BIGINT AS width, height::BIGINT AS height,
               n_bytes::BIGINT AS n_bytes, mean_intensity, fill_ratio
        FROM '{gif_gold}'
    """
    out["webp_meta"] = f"""
        SELECT media_ref, fmt,
               width::BIGINT AS width, height::BIGINT AS height,
               n_bytes::BIGINT AS n_bytes, mean_intensity, fill_ratio
        FROM '{webp_gold}'
    """
    _, warc_gold = _staged_warc_paths()
    _, tar_gold, _, zip_gold = _staged_archive_paths()
    out["tar_extract"] = f"""
        SELECT tar_ref, idx::BIGINT AS idx, name, size::BIGINT AS size,
               text, n_tokens::BIGINT AS n_tokens, status
        FROM '{tar_gold}'
    """
    out["zip_extract"] = f"""
        SELECT zip_ref, idx::BIGINT AS idx, name, method,
               size::BIGINT AS size, crc_ok::BIGINT AS crc_ok,
               text, n_tokens::BIGINT AS n_tokens, status
        FROM '{zip_gold}'
    """
    out["warc_extract"] = f"""
        SELECT warc_ref, rec_idx::BIGINT AS rec_idx, rec_type, url, host,
               status::BIGINT AS status, mime,
               payload_bytes::BIGINT AS payload_bytes,
               text, n_tokens::BIGINT AS n_tokens
        FROM '{warc_gold}'
    """
    out["warc_hosts"] = f"""
        SELECT host,
               count(*)::BIGINT AS n_pages,
               sum(payload_bytes)::BIGINT AS total_bytes,
               sum(CASE WHEN status = 200 THEN 1 ELSE 0 END)::BIGINT AS n_ok,
               sum(n_tokens)::BIGINT AS total_tokens
        FROM '{warc_gold}'
        WHERE rec_type = 'response'
        GROUP BY host
    """
    # strict-parse oracle over RAW lines: a line is good iff valid JSON
    # AND every present field carries the schema's JSON type — exactly
    # Spark's PERMISSIVE good/quarantine split (DuckDB's read_json
    # ignore_errors instead NULLs bad fields, a different contract)
    jl_p, jl_gold_q = _staged_jsonl_paths()
    out["jsonl_parse"] = f"""
        WITH raw AS (
            SELECT line FROM read_csv('{jl_p}', delim='\x01', header=false,
                quote='', escape='', columns={{'line': 'VARCHAR'}})
        ),
        ok AS (
            SELECT line FROM raw
            WHERE json_valid(line)
              AND coalesce(json_type(line, '$.doc_id')
                           IN ('BIGINT', 'UBIGINT'), true)
              AND coalesce(json_type(line, '$.text') = 'VARCHAR', true)
              AND coalesce(json_type(line, '$.score')
                           IN ('DOUBLE', 'BIGINT', 'UBIGINT'), true)
              AND coalesce(json_type(line, '$.published') = 'BOOLEAN', true)
              AND coalesce(json_type(line, '$.ts') = 'VARCHAR', true)
        )
        SELECT json_extract(line, '$.doc_id')::BIGINT AS doc_id,
               json_extract_string(line, '$.text') AS text,
               json_extract(line, '$.score')::DOUBLE AS score,
               json_extract_string(line, '$.published')::BOOLEAN AS published,
               json_extract_string(line, '$.ts') AS ts
        FROM ok
    """
    out["jsonl_quarantine"] = f"SELECT raw_line FROM '{jl_gold_q}'"
    out["mor_read"] = """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderpriority
        FROM orders
        WHERE o_orderkey % 10 < 3 AND NOT o_orderkey % 20 = 1
    """
    csv_p, csv_gold_q = _staged_csv_paths()
    out["csv_parse"] = f"""
        SELECT id, name, score, flag
        FROM read_csv('{csv_p}', header=false, ignore_errors=true,
                      null_padding=false, auto_detect=false,
                      columns={{'id': 'BIGINT', 'name': 'VARCHAR',
                                'score': 'DOUBLE', 'flag': 'BOOLEAN'}})
    """
    out["csv_quarantine"] = f"SELECT raw_line FROM '{csv_gold_q}'"
    _, xml_gold = _staged_xml_paths()
    out["xml_parse"] = f"""
        SELECT id::BIGINT AS id, title, score::DOUBLE AS score
        FROM '{xml_gold}'
    """
    return out


def _near_dup_oracle_sql(feat_path: str, dims: int = 264) -> str:
    """DuckDB recomputation of the banded-hyperplane-LSH near-dup query
    over a golden feature parquet (shared by image/video at 264 dims and
    audio at 64)."""
    _fold_dot = (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(generate_series(1, {dims}), i -> {{a}}[i] * {{b}}[i])), "
        "(x, y) -> x + y)"
    )
    return f"""
        WITH f AS (
            SELECT media_ref, feat::DOUBLE[] AS v
            FROM '{feat_path}'
        ),
        dots AS (
            SELECT media_ref, j,
                   list_reduce(list_prepend(0.0::DOUBLE,
                       list_transform(generate_series(1, {dims}),
                           k -> v[k] * ((('0x' || substr(md5(j::VARCHAR || ',' || k::VARCHAR), 1, 8))::BIGINT % 2001 - 1000) / 1000.0))),
                       (x, y) -> x + y) AS dot
            FROM (SELECT media_ref, v, unnest(generate_series(0, 7)) AS j FROM f)
        ),
        sig AS (
            SELECT media_ref,
                   sum(CASE WHEN dot > 0 THEN CAST(pow(2.0, j) AS BIGINT) ELSE 0 END)::BIGINT AS sig
            FROM dots GROUP BY media_ref
        ),
        bands AS (
            SELECT media_ref, band,
                   CASE WHEN band = 0 THEN sig % 16 ELSE sig // 16 END AS bval
            FROM (SELECT media_ref, sig, unnest(generate_series(0, 1)) AS band FROM sig)
        ),
        cands AS (
            SELECT DISTINCT a.media_ref AS ra, c.media_ref AS rb
            FROM bands a JOIN bands c ON a.band = c.band AND a.bval = c.bval
            WHERE a.media_ref < c.media_ref
        )
        SELECT ra, rb,
               round({_fold_dot.format(a="fa.v", b="fb.v")}
                     / (sqrt({_fold_dot.format(a="fa.v", b="fa.v")})
                        * sqrt({_fold_dot.format(a="fb.v", b="fb.v")})), 4) AS sim
        FROM cands
        JOIN f fa ON fa.media_ref = cands.ra
        JOIN f fb ON fb.media_ref = cands.rb
        ORDER BY sim DESC, ra ASC, rb ASC LIMIT 10
    """
