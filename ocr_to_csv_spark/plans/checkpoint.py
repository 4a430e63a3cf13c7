"""Checkpointed, resumable extraction runs (north_rule requirement).

The reference restarts from scratch on every run (no state anywhere); at
10^12 documents a failed job must resume without recomputation. Design:

- documents are hash-partitioned into ``n_buckets`` lineage buckets by
  ``pmod(hash(doc_id), n_buckets)`` — the unit of checkpointing. On a real
  cluster these map to Iceberg partition values of the output tables.
- each bucket is one independent batch of work: outputs land under
  ``bucket=<b>/`` (idempotent overwrite per bucket), then a state row
  ``(run_id, bucket, docs_done, span_count, row_count, status, updated_at)``
  is appended to the ``run_state`` table. State append happens strictly
  AFTER the bucket's outputs commit, so a crash between the two re-runs
  the bucket (at-least-once, idempotent because the bucket dir is
  overwritten atomically by Spark's commit protocol).
- resume = anti-join: buckets present in run_state with status='done' for
  this run_id are skipped; everything else re-runs.

Buckets are processed in groups of ``group_size`` to balance scheduling
overhead against checkpoint granularity; within a group all buckets run
in one Spark job (full cluster parallelism), so wall-clock cost of
checkpointing is one extra shuffle-free filter per group.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import scratch
from ..sources import Catalog

STATE_SCHEMA = (
    "run_id string, bucket int, docs_done long, span_count long, "
    "row_count long, status string, updated_at double"
)


def bucket_of(doc_id_col, n_buckets: int):
    """Lineage bucket: non-negative stable hash partition of doc_id."""
    return F.pmod(F.hash(doc_id_col), F.lit(n_buckets))


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    cat = Catalog(spark, os.path.dirname(state_dir) or ".")
    name = os.path.basename(state_dir)
    if cat.exists(name):
        return cat.read(name, schema=STATE_SCHEMA)
    return spark.createDataFrame([], STATE_SCHEMA)


def completed_buckets(spark: SparkSession, state_dir: str, run_id: str) -> set[int]:
    st = read_state(spark, state_dir)
    rows = (
        st.filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("bucket")
        .distinct()
        .collect()
    )
    return {r["bucket"] for r in rows}


def run_metrics(spark: SparkSession, state_dir: str, run_id: str) -> DataFrame:
    """Per-run rollup of the lineage table (A5/A6 analogue)."""
    st = read_state(spark, state_dir)
    return (
        st.filter(F.col("run_id") == run_id)
        .groupBy("run_id", "status")
        .agg(
            F.countDistinct("bucket").alias("buckets"),
            F.sum("docs_done").alias("docs_done"),
            F.sum("span_count").alias("span_count"),
            F.sum("row_count").alias("row_count"),
            F.max("updated_at").alias("last_update"),
        )
    )


def run_extract_checkpointed(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    run_id: str,
    n_buckets: int = 16,
    group_size: int = 4,
    max_groups: int | None = None,
) -> dict:
    """Run the extraction pipeline with per-bucket-group checkpointing.

    ``max_groups`` exists for failure-injection tests: process only the
    first K remaining groups then stop (simulating a mid-run crash).
    Returns summary counters. Re-invoking with the same run_id resumes.
    """
    from ..extraction import pipeline

    state_dir = os.path.join(out_dir, "run_state")
    tabs = pipeline.load_corpus(spark, corpus_dir)
    docs = tabs["documents"].withColumn(
        "_bucket", bucket_of(F.col("doc_id"), n_buckets)
    )

    done = completed_buckets(spark, state_dir, run_id)
    remaining = [b for b in range(n_buckets) if b not in done]
    groups = [
        remaining[i : i + group_size] for i in range(0, len(remaining), group_size)
    ]
    if max_groups is not None:
        groups = groups[:max_groups]

    processed = 0
    for group in groups:
        with scratch.scope():  # a group's staging dies with the group
            gdocs = docs.filter(F.col("_bucket").isin(group)).drop("_bucket")
            res = pipeline.extract(spark, gdocs, tabs["media"], tabs["aliases"])

            spans = res["spans"].withColumn(
                "bucket", bucket_of(F.col("doc_id"), n_buckets)
            )
            rows = res["rows"].withColumn(
                "bucket", bucket_of(F.col("doc_id"), n_buckets)
            )
            # idempotent per-bucket commit: dynamic partition overwrite replaces
            # exactly the buckets in this group, never earlier ones (Iceberg:
            # overwritePartitions — see sources/catalog.py mapping)
            cat = Catalog(spark, out_dir)
            cat.overwrite_partitions(spans, "extracted", ["bucket"])
            cat.overwrite_partitions(rows, "rows", ["bucket"])

            # lineage metrics per bucket, appended only after outputs committed
            per_bucket = (
                spans.groupBy("bucket")
                .agg(
                    F.countDistinct("doc_id").alias("docs_done"),
                    F.count("*").alias("span_count"),
                )
                .join(
                    rows.groupBy("bucket").agg(F.count("*").alias("row_count")),
                    "bucket",
                    "left",
                )
            )
            now = time.time()
            present = {r["bucket"]: r for r in per_bucket.collect()}
            state_rows = [
                (
                    run_id,
                    int(b),
                    int(present[b]["docs_done"]) if b in present else 0,
                    int(present[b]["span_count"]) if b in present else 0,
                    int(present[b]["row_count"] or 0) if b in present else 0,
                    "done",
                    now,
                )
                for b in group
            ]
            cat_state = Catalog(spark, os.path.dirname(state_dir) or ".")
            cat_state.append(
                spark.createDataFrame(state_rows, STATE_SCHEMA).coalesce(1),
                os.path.basename(state_dir),
            )
        processed += len(group)

    return {
        "run_id": run_id,
        "n_buckets": n_buckets,
        "skipped": len(done),
        "processed": processed,
        "remaining": len(remaining) - processed,
    }
