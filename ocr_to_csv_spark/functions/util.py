"""Shared helpers for the query library.

Parity discipline (Spark vs DuckDB oracle):
- hashing: md5 hex of UTF-8 bytes is identical in both engines;
  ``hex32`` converts the first 8 hex chars to a non-negative int64 the
  same way on both sides (Spark ``conv(substr(md5(x),1,8),16,10)`` ==
  DuckDB ``('0x' || substr(md5(x),1,8))::BIGINT``).
- float math: any value that feeds an ORDER BY / comparison is computed
  as a *sequential left fold* on both sides (Spark ``F.aggregate`` over
  an array == DuckDB ``list_reduce``) so doubles are bit-identical, then
  rounded before output.
- every output column is explicitly aliased identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import scratch


def table(spark, sf_dir: str, name: str, spread: bool = False):
    """Read an sf table. ``spread=True`` is for compute-heavy map stages
    (hashing/folds over every row): when the scan produces fewer
    partitions than the session's parallelism (single small file → one
    task), repartition so the expensive projection uses every core. At
    real scale inputs have many splits and this is a no-op."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread:
        target = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    return df


def one_row(spark, sf_dir: str):
    """One-row anchor for data-independent queries: the region count
    ties the computation to the corpus and validates the sf_dir
    contract."""
    d = table(spark, sf_dir, "region")
    return d.agg(F.count(F.lit(1)).cast("long").alias("n_regions"))


def superstep(state, step, max_rounds: int, metrics=None, done=None):
    """Drive an iterative query: the one place its state severs lineage
    and its convergence is tested.

    ``state`` is staged through ``scratch.stage`` as round 0, then
    ``step(state, r)`` is staged for r = 1..``max_rounds``. ``metrics``
    (name -> non-distinct aggregate Column) ride every staging write as
    a Spark ``Observation``, so reading them runs no extra job;
    ``history`` is the list of metric dicts of rounds 0..r. ``done``
    (history -> bool) is tested after every round, round 0 included, so
    an already-converged state runs no step. Without ``done`` the loop
    runs exactly ``max_rounds`` rounds; with it, ``max_rounds`` is a
    fixpoint guard and running out of rounds raises ``RuntimeError``.
    Returns ``(state, history)``."""
    from pyspark.sql import Observation

    history: list[dict] = []

    def sever(df):
        obs = Observation()
        cols = [c.alias(k) for k, c in (metrics or {}).items()]
        out = scratch.stage(df.observe(obs, *cols) if cols else df)
        history.append(obs.get if cols else {})
        return out

    state = sever(state)
    for r in range(1, max_rounds + 1):
        if done is not None and done(history):
            return state, history
        state = sever(step(state, r))
    if done is not None and not done(history):
        raise RuntimeError(f"superstep: no fixpoint in {max_rounds} rounds")
    return state, history


def hash_min_fixpoint(edges, labels, max_sweeps: int = 40):
    """Hash-min label propagation to fixpoint over a symmetric edge
    list — the contraction/connected-components inner loop. Per sweep:
    one keyed join + min-agg (the hash-min step), then ONE pointer jump
    (lbl := min(lbl, lbl[lbl])) so distance-to-minimum at least halves
    — fixpoint in O(log diameter) sweeps instead of O(diameter). Each
    sweep is one ``superstep`` staging write whose observed change count
    is the convergence test (round 0, the input, has nothing to compare
    against, so at least one sweep runs). ``edges``: (a, b) both directions;
    ``labels``: (cid, lbl). Returns the fixpoint (cid, lbl); raises
    ``RuntimeError`` when ``max_sweeps`` sweeps do not reach it."""

    def sweep(labels, _r):
        labels = labels.select("cid", "lbl")
        nb = (
            edges.join(
                labels.select(F.col("cid").alias("a"), F.col("lbl").alias("la")),
                "a",
            )
            .groupBy("b")
            .agg(F.min("la").alias("mn"))
        )
        stepped = labels.join(nb, labels.cid == nb.b, "left").select(
            "cid",
            F.col("lbl").alias("old"),
            F.least("lbl", F.coalesce("mn", F.col("lbl"))).alias("mid"),
        )
        jump = stepped.select(
            F.col("cid").alias("jcid"), F.col("mid").alias("jlbl")
        )
        return stepped.join(jump, stepped.mid == jump.jcid, "left").select(
            "cid",
            "old",
            F.least("mid", F.coalesce("jlbl", F.col("mid"))).alias("lbl"),
        )

    labels, _ = superstep(
        labels.select("cid", "lbl", F.col("lbl").alias("old")),
        sweep,
        max_sweeps,
        metrics={"changed": F.sum((F.col("lbl") != F.col("old")).cast("long"))},
        done=lambda h: len(h) > 1 and not h[-1]["changed"],
    )
    return labels.drop("old")


def global_seq(df, order_cols: list[str], out: str = "seq"):
    """Distributed global row_number over a total-order key WITHOUT a
    single-partition window: range-partition on the key, count rows per
    partition (≤ n_partitions rows to the driver — bounded, not
    data-proportional), prefix-sum the offsets, then add a
    WITHIN-partition row_number. This is the zipWithIndex /
    partition-offset-rank substitution every global ORDER BY needs at
    10^12 rows; the per-pid window shuffles by pid hash, so every
    partition ranks in parallel. ``order_cols`` must be a unique total
    order (ascending) — then offset + local rank == global row_number
    exactly. ``localCheckpoint`` pins partition ids between the
    count job and the rank job (production analogue: a scratch table).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    np_ = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = (
        df.repartitionByRange(np_, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = dict(
        (r["_pid"], r["n"])
        for r in base.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    )
    offs, acc = [], 0
    for p in range(np_):
        offs.append((p, acc))
        acc += counts.get(p, 0)
    off_df = spark.createDataFrame(offs, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*[F.asc(c) for c in order_cols])
    return (
        base.join(F.broadcast(off_df), "_pid")
        .withColumn(out, (F.col("_off") + F.row_number().over(w)).cast("long"))
        .drop("_pid", "_off")
    )


def source_md5(modules):
    """md5 over the source of each module, or over its name when the
    source is unreadable (zipimport deploy): the content key of the
    /tmp staged-golden caches. Returns the hash object so callers can
    fold in more bytes."""
    import hashlib
    import inspect

    h = hashlib.md5()
    for m in modules:
        try:
            h.update(inspect.getsource(m).encode())
        except (OSError, TypeError):
            h.update(getattr(m, "__name__", str(m)).encode())
    return h


def gold_tag(sf_dir: str, module_name: str) -> str:
    """Cache tag for /tmp staged-golden parquet files: the sf-dir
    basename plus a content hash of the module that defines the golden
    formula, so a formula change (e.g. the r4 dbscan density-adaptive-ε
    change) invalidates warm /tmp caches instead of silently comparing
    against stale goldens (ADVICE r4)."""
    import os
    import sys

    h = source_md5([sys.modules.get(module_name, module_name)])
    base = os.path.basename(sf_dir.rstrip("/")) or "default"
    return f"{base}_{h.hexdigest()[:8]}"


def hex32(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative int64 (parity with DuckDB
    ``('0x' || substr(md5(x),1,8))::BIGINT``)."""
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 8), 16, 10).cast(
        "long"
    )


DUCK_HEX32 = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"


def hex32b(col: Column) -> Column:
    """Second independent 32-bit slice of the same md5 (hex chars 9-16) —
    a second hash function for Bloom filters at zero extra hashing cost
    (parity with DuckDB ``('0x' || substr(md5(x),9,8))::BIGINT``)."""
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 9, 8), 16, 10).cast(
        "long"
    )


DUCK_HEX32B = "(('0x' || substr(md5({x}), 9, 8))::BIGINT)"


def tokens(col: Column) -> Column:
    """Whitespace tokenization, empty tokens dropped (same as DuckDB
    ``list_filter(string_split_regex(x, '\\s+'), t -> t <> '')``)."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


DUCK_TOKENS = "list_filter(string_split_regex({x}, '\\s+'), t -> t <> '')"


def ngrams(col: Column, n: int) -> Column:
    """Space-joined word n-grams in document order (empty array when the
    document has < n tokens). Pure expression — survives codegen."""
    toks = tokens(col)
    sz = F.size(toks)
    return F.when(
        sz >= n,
        F.transform(
            F.sequence(F.lit(1), sz - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def duck_ngrams(n: int, toks: str = "toks") -> str:
    """DuckDB expression matching :func:`ngrams` over a token-list column
    named ``toks`` (same empty-array behaviour for short docs)."""
    joined = " || ' ' || ".join(f"{toks}[i+{j}]" if j else f"{toks}[i]" for j in range(n))
    return (
        f"list_transform(generate_series(1, greatest(len({toks}) - {n - 1}, 0)), "
        f"i -> {joined})"
    )
