"""End-to-end training-set build: the job a pretraining-data user runs
over this engine — one call from raw interleaved corpus to audited,
packed training shards.

Stages (every one an operator this repo already oracles individually;
this module is the COMPOSITION, with write-audit-publish around it):

1. EXTRACT      — the flagship pipeline (HTML/PDF/media → ordered spans)
2. REASSEMBLE   — spans → one text document per doc_id (ordered concat)
3. NEAR-DEDUP   — MinHash→LSH→clusters: drop every non-canonical member
4. QUALITY GATE — distinct-token floor (the quality_score signal)
5. PACK         — GPT-style SEQ_LEN packing (pack_sequences plan)
6. PUBLISH      — shards land on a SnapshotCatalog BRANCH, an audit
                  checks them (non-empty, no duplicate fingerprints,
                  no zero-length docs), then fast_forward publishes —
                  a failed audit leaves main untouched (WAP).

The intermediate document table is written in the standard sf shape
(documents.parquet) so stages 3-5 are the SAME registry queries the
correctness gate checks, running unchanged on derived data — at
10^12 docs each stage is one of the already-scale-audited plans, and
the staging dirs are the scratch tables the extraction pipeline
already uses.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import scratch
from ..extraction import pipeline
from ..functions import curation5, dedup, textops
from ..sources.snapshots import SnapshotCatalog

MIN_DISTINCT_TOKENS = 4  # quality floor for stage 4


def _reassemble(spans: DataFrame) -> DataFrame:
    """Spans → sf-shaped documents table (numeric doc_id, ordered
    text concat, lang/source carried as constants + char count)."""
    txt = spans.filter(F.col("text").isNotNull() & (F.col("text") != ""))
    docs = (
        txt.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("order").alias("o"), F.col("text").alias("t")))
                    ),
                    lambda s: s["t"],
                ),
            ).alias("text")
        )
        .select(
            F.regexp_replace("doc_id", "[^0-9]", "").cast("bigint").alias("doc_id"),
            "text",
            F.lit("en").alias("lang"),
            F.lit("extracted").alias("source"),
            F.length("text").cast("bigint").alias("n_chars"),
        )
    )
    return docs


def build_training_set(
    spark: SparkSession, corpus_dir: str, catalog_base: str
) -> dict:
    """Run the full corpus→shards job; returns stage counts. Shards
    publish to table 'training_shards' only if the audit passes."""
    # every consumer of the staged tables runs before this returns
    with scratch.scope():
        tabs = pipeline.load_corpus(spark, corpus_dir)
        res = pipeline.extract(
            spark, tabs["documents"], tabs["media"], tabs["aliases"]
        )
        spans = res["spans"]

        stage1 = scratch.path()
        _reassemble(spans).write.mode("overwrite").parquet(
            os.path.join(stage1, "documents.parquet")
        )
        docs = spark.read.parquet(os.path.join(stage1, "documents.parquet"))
        n_docs = docs.count()

        # near-dup pass: drop every cluster member except the canonical doc
        clusters = dedup.q_dedup_clusters(spark, stage1)
        surv = dedup.q_dedup_survivors(spark, stage1)  # multi-doc clusters only
        drop = (
            clusters.join(surv.select("cluster_id", "keep_doc"), "cluster_id")
            .filter(F.col("doc_id") != F.col("keep_doc"))
            .select("doc_id")
        )
        deduped = docs.join(drop, "doc_id", "left_anti")

        # quality gate: distinct-token floor (same signal as quality_score)
        toks = F.split(F.col("text"), r"\s+")
        survivors = deduped.filter(
            F.size(F.array_distinct(toks)) >= MIN_DISTINCT_TOKENS
        )
        stage2 = scratch.path()
        survivors.write.mode("overwrite").parquet(
            os.path.join(stage2, "documents.parquet")
        )
        n_clean = spark.read.parquet(
            os.path.join(stage2, "documents.parquet")
        ).count()

        shards = curation5.q_pack_sequences(spark, stage2)
        fps = textops.q_fingerprint(spark, stage2).select("doc_id", "fp")
        out = shards.join(fps, "doc_id")

        cat = SnapshotCatalog(spark, catalog_base)
        # WAP: seed an empty main snapshot (schema only), stage on a branch
        cat.overwrite(out.limit(0), "training_shards")
        cat.create_branch("training_shards", "audit")
        cat.append(out, "training_shards", branch="audit")
        staged = cat.read("training_shards", branch="audit")
        n_shard_rows = staged.count()
        n_dup_fp = (
            staged.groupBy("fp").count().filter(F.col("count") > 1).count()
        )
        n_empty = staged.filter(F.col("n_tokens") <= 0).count()
        audit_ok = n_shard_rows > 0 and n_dup_fp == 0 and n_empty == 0
        if audit_ok:
            cat.fast_forward("training_shards", "audit")
    return {
        "extracted_docs": n_docs,
        "after_dedup_and_quality": n_clean,
        "shard_rows": n_shard_rows,
        "dup_fingerprints": n_dup_fp,
        "empty_docs": n_empty,
        "published": audit_ok,
    }
