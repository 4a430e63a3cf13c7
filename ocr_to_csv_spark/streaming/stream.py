"""Streaming extraction: ``readStream`` on the documents table →
``foreachBatch`` running the SAME batch stage functions → append sinks.

Every stage of the pipeline is a stateless per-document map (SURVEY.md
§1.3), so the batch plan lifts to Structured Streaming unchanged: each
micro-batch of documents goes through ``pipeline.extract`` and appends to
the span/row sinks. Exactly-once lands on Spark's streaming checkpoint +
idempotent parquet/Iceberg appends. Watermarks/session windows are not
required (no cross-document state in the extraction path; dedup/metrics
run as periodic batch passes over the sink tables).

``trigger(availableNow=True)`` drains the backlog and stops — the test
mode; a production run would use a processing-time trigger.
"""

from __future__ import annotations

import os

DOC_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def stream_extract(
    spark,
    docs_stream_dir: str,
    corpus_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain ``docs_stream_dir`` (directory of documents-parquet files)
    through the extraction pipeline into append-mode parquet sinks."""
    from .. import scratch
    from ..extraction import pipeline

    tabs = pipeline.load_corpus(spark, corpus_dir)
    media, aliases = tabs["media"], tabs["aliases"]

    reader = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(docs_stream_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        with scratch.scope():
            res = pipeline.extract(batch_df.sparkSession, batch_df, media, aliases)
            res["spans"].write.mode("append").parquet(
                os.path.join(out_dir, "extracted")
            )
            res["rows"].write.mode("append").parquet(os.path.join(out_dir, "rows"))

    q = (
        docs.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_upsert(
    spark,
    stream_dir: str,
    schema: str,
    catalog_base: str,
    name: str,
    checkpoint_dir: str,
    order_by: list[str] | None = None,
    max_files_per_trigger: int | None = None,
    keys: list[str] | None = None,
) -> None:
    """Streaming MERGE sink: each micro-batch upserts into a Catalog
    table. With ``keys`` set this is a true key-based MERGE
    (``merge_upsert``: a row re-arriving with CHANGED non-key values
    REPLACES the old row — Iceberg ``MERGE INTO ... WHEN MATCHED THEN
    UPDATE``); without keys it is insert-distinct (``merge_distinct``:
    idempotent for identical re-delivery only — changed values for the
    same logical key would coexist). Structured Streaming's foreachBatch
    is at-least-once — a crashed epoch can re-deliver a batch — so
    exactly-once table state comes from the sink being IDEMPOTENT in
    either mode. This is the parquet stand-in for Iceberg ``MERGE INTO``
    driven by a stream, and the pattern that keeps a continuously-
    ingested dedup/alias table correct at 10^12-doc scale."""
    from ..sources.catalog import Catalog

    cat = Catalog(spark, catalog_base)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(stream_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        if keys:
            cat.merge_upsert(batch_df, name, keys=keys)
        else:
            cat.merge_distinct(batch_df, name, order_by=order_by)

    q = (
        src.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_snapshot_append(
    spark,
    stream_dir: str,
    schema: str,
    catalog_base: str,
    name: str,
    checkpoint_dir: str,
    run_id: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Exactly-once streaming append onto a ``SnapshotCatalog`` table —
    the Iceberg streaming-sink commit protocol. ``foreachBatch`` is
    at-least-once (a crashed epoch re-delivers its batch, and a restart
    from a lost checkpoint restarts batch numbering at 0), so the sink
    records ``run_id:batch_id`` in each snapshot's summary and SKIPS
    commit keys it has already seen: re-delivery becomes a no-op at the
    metadata layer, with no reliance on data-level dedup. ``run_id``
    namespaces batch ids across logically distinct streams into the same
    table (Iceberg uses the streaming query id the same way); reusing a
    run_id asserts "same source, same partitioning of the input into
    batches" — which is exactly what a checkpoint-restore re-delivery
    is. The dedup scan reads O(snapshots) manifest JSON on the driver,
    never data."""
    from ..sources.snapshots import SnapshotCatalog

    cat = SnapshotCatalog(spark, catalog_base)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(stream_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        key = f"{run_id}:{batch_id}"
        if key in cat.committed_summaries(name, "commit_key"):
            return  # re-delivered epoch: already durable, skip
        cat.append(batch_df, name, summary={"commit_key": key})

    q = (
        src.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_gated_append(
    spark,
    stream_dir: str,
    schema: str,
    catalog_base: str,
    name: str,
    checkpoint_dir: str,
    run_id: str,
    rules: list[tuple[str, str]],
    max_violation_rate: float = 0.0,
    quarantine: str | None = None,
    max_files_per_trigger: int | None = None,
) -> dict:
    """Streaming ingest with a write-audit-publish gate: each micro-batch
    is STAGED on a branch of the snapshot table, the staged delta is
    audited against row-local DQ ``rules`` (``(rule_name, violation
    predicate SQL)``), and only a passing batch is published to main via
    ``fast_forward`` — a failing batch is diverted whole to a quarantine
    table with its violation counts in the commit summary. This is the
    Iceberg ``spark.wap.branch`` pattern glued to the Deequ-style gate of
    ``functions.dataops.q_dq_audit``: the audit reads back exactly the
    bytes that would become visible (via ``read_incremental`` over the
    staged dir), not the in-flight DataFrame, so a codec/write bug is
    caught before readers can see it.

    Exactly-once: publication is the fast_forward pointer move, so a
    batch's commit key counts as durable only when its manifest is on
    MAIN's ancestry (or in the quarantine history) — a crash after
    staging but before publishing re-delivers the batch, which re-stages
    under the same branch name (the abandoned dir is unreferenced once
    its manifest expires). At 100 TB every step is metadata-sized except
    the one audit aggregate over the new batch."""
    from pyspark.sql import functions as F

    from ..sources.snapshots import SnapshotCatalog

    cat = SnapshotCatalog(spark, catalog_base)
    qname = quarantine or f"{name}_quarantine"
    stats = {"published": 0, "quarantined": 0, "skipped": 0}

    def _published_keys() -> set:
        keys = set()
        sid = cat.current_snapshot_id(name)
        while sid is not None:
            man = cat._load_manifest(name, sid)
            k = man["summary"].get("commit_key")
            if k:
                keys.add(k)
            sid = man.get("parent_id")
        if cat.exists(qname):
            keys |= cat.committed_summaries(qname, "commit_key")
        return keys

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(stream_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        key = f"{run_id}:{batch_id}"
        if cat.exists(name) and key in _published_keys():
            stats["skipped"] += 1
            return  # durably published or quarantined: no-op re-delivery
        branch = f"wap_{run_id}_{batch_id}"
        if not cat.exists(name):
            cat.overwrite(batch_df.limit(0), name)  # bootstrap schema
        if branch in cat.branches(name):
            cat.drop_branch(name, branch)  # crashed predecessor's stage
        fork = cat.create_branch(name, branch)
        staged_sid = cat.append(
            batch_df, name, branch=branch, summary={"commit_key": key}
        )
        delta = cat.read_incremental(name, fork, staged_sid)
        audit = delta.agg(
            F.count("*").alias("n"),
            *[
                F.sum(F.expr(pred).cast("long")).alias(f"v{i}")
                for i, (_, pred) in enumerate(rules)
            ],
        ).first()
        n = audit["n"]
        viols = {
            rule: int(audit[f"v{i}"] or 0)
            for i, (rule, _) in enumerate(rules)
        }
        rate = (sum(viols.values()) / n) if n else 0.0
        if rate <= max_violation_rate:
            cat.fast_forward(name, branch)
            cat.drop_branch(name, branch)
            stats["published"] += 1
        else:
            cat.drop_branch(name, branch)
            if not cat.exists(qname):
                cat.overwrite(batch_df.limit(0), qname)  # bootstrap schema
            cat.append(
                batch_df, qname,
                summary={
                    "commit_key": key,
                    "violation_rate": rate,
                    **{f"violations_{r}": v for r, v in viols.items()},
                },
            )
            stats["quarantined"] += 1

    q = (
        src.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stats
