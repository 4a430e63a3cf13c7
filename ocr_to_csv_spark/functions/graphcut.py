"""Graph densification + partitioning audit, batch 97: k-truss
decomposition (iterative support peeling to fixpoint) and a
hash-partition quality audit (edge cut + modularity) — the two
readouts that decide how a 10^12-node link graph gets stored and
which cohesive core is worth mining.

Scale design (100 TB):
- ``k_truss``: the textbook distributed peel (Cohen 2008) — each round
  recomputes triangle support over the SURVIVING edge set (one
  wedge self-equi-join on the shared endpoint + one left-semi close
  check + one keyed count, the exact plan ``edge_support`` already
  runs once) and drops edges with support < K-2. The edge set only
  SHRINKS, so per-round cost is monotone non-increasing; the wedge
  join is degree-bounded (the synthesized graph has deg ≤ 6;
  production caps hubs first — the ``triangles``/``common_neighbors``
  mitigation). Each round is one ``util.superstep`` staging write. The
  k-truss is the unique maximal subgraph with that property, so the
  fixpoint is order-independent — golden-oracled by an independent
  pure-Python peeler (the ``boruvka_msf`` pattern).
- ``partition_quality``: the audit run BEFORE choosing a partitioner
  for a distributed graph job — for the hash sharding ``node % P``,
  cut vs intra edges, per-part degree mass, and Newman modularity Q of
  the hash partition as the exact integer rational
  Q_num/Q_den = (4m·E_intra − Σ_c d_c²) / 4m². Only aggregates cross
  the shuffle: Σ_c d_c² needs node-degree → part-degree-sum → one
  square-and-sum, never a per-part join; the final row is a cross of
  three single-row aggregates (allowlisted tier).

Reference parity: no graph layer in the reference; completes the
cohesion family (triangles, edge_support, kcore) with the edge-grain
decomposition, and gives the storage-planning counterpart to
``compaction_plan`` for graph-shaped tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .linkpred import _EDGES_SQL, _py_undirected_edges, _undirected_edges
from .util import gold_tag, superstep

K_TRUSS = 4  # edges must sit in ≥ 2 triangles of the survivor graph
TRUSS_ROUNDS = 64  # fixpoint guard; each round peels ≥ 1 edge or stops
N_PARTS = 8  # hash-sharding fan-out under audit

# The bare modular graph is too sparse for a 4-truss (its 4-truss is
# empty — measured), so the truss input augments it with deterministic
# planted structure: twelve 5-cliques on ids 0..59 (each clique edge has
# support 3 → the 4-truss core) and a triangle strip on ids 100..129
# whose skip edges have support 1 — the strip is kept by the ONE-SHOT
# support≥2 flag (edge_support's in_truss) on its interior path edges
# but fully unzipped by the true iterative peel, which is exactly the
# semantic difference this operator adds (3 peel rounds at sf0.01:
# 841 edges → 120 survivors vs 149 one-shot).
CLIQUE_IDS = 60   # ids < 60 form 5-cliques by id // 5
STRIP_LO, STRIP_HI = 100, 130


def _truss_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modular link graph ∪ planted cliques + strip (lo < hi, distinct)."""
    from .util import table

    ue = _undirected_edges(spark, sf_dir)
    ids = table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id")
    )
    i = F.col("id")
    cl = (
        ids.filter(i < CLIQUE_IDS)
        .select(i, F.explode(F.array(*[F.lit(o) for o in (1, 2, 3, 4)])).alias("o"))
        .select(i.alias("src"), (i + F.col("o")).alias("dst"))
        .filter(
            (F.col("dst") < CLIQUE_IDS)
            & (F.floor(F.col("dst") / 5) == F.floor(F.col("src") / 5))
        )
    )
    st = (
        ids.filter((i >= STRIP_LO) & (i < STRIP_HI))
        .select(i, F.explode(F.array(F.lit(1), F.lit(2))).alias("o"))
        .select(i.alias("src"), (i + F.col("o")).alias("dst"))
        .filter(F.col("dst") < STRIP_HI)
    )
    planted = cl.unionByName(st).select(
        F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
    )
    return ue.unionByName(planted).distinct()
def _support(ue: DataFrame) -> DataFrame:
    """Per-edge triangle support within ``ue`` (lo, hi, support) —
    the edge_support plan: wedge equi-join + semi close + keyed count."""
    adj = ue.select(
        F.col("lo").alias("node"), F.col("hi").alias("nbr")
    ).unionByName(
        ue.select(F.col("hi").alias("node"), F.col("lo").alias("nbr"))
    )
    left = adj.select(F.col("nbr").alias("z"), F.col("node").alias("a"))
    right = adj.select(F.col("nbr").alias("z"), F.col("node").alias("b"))
    wedges = left.join(right, "z").filter(F.col("a") < F.col("b"))
    closed = wedges.join(
        ue, (wedges.a == ue.lo) & (wedges.b == ue.hi), "left_semi"
    )
    sup = closed.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
    return ue.join(
        sup, (ue.lo == sup.a) & (ue.hi == sup.b), "left"
    ).select(
        "lo", "hi", F.coalesce(F.col("support"), F.lit(0)).alias("support")
    )


def q_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K_TRUSS-truss of the modular link graph: peel edges with
    support < K-2 until none drop; emit surviving (lo, hi, support)
    with support measured IN the fixpoint subgraph (module doc)."""

    def peel(state, _r):
        return _support(state.select("lo", "hi")).filter(
            F.col("support") >= K_TRUSS - 2
        )

    # the edge set only shrinks, so an unchanged edge count is the
    # fixpoint, and the last round's support is measured in it
    keep, _ = superstep(
        _truss_edges(spark, sf_dir).withColumn(
            "support", F.lit(None).cast("long")
        ),
        peel,
        TRUSS_ROUNDS,
        metrics={"n": F.count(F.lit(1))},
        done=lambda h: len(h) > 1 and h[-1]["n"] == h[-2]["n"],
    )
    return keep.select(
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
        F.col("support").cast("long").alias("support"),
    ).orderBy("lo", "hi")


def _py_truss_edges(sf_dir: str) -> set[tuple[int, int]]:
    """Independent rebuild of the augmented truss graph."""
    pairs = _py_undirected_edges(sf_dir)
    for a in range(CLIQUE_IDS):
        for o in (1, 2, 3, 4):
            b = a + o
            if b < CLIQUE_IDS and b // 5 == a // 5:
                pairs.add((a, b))
    for a in range(STRIP_LO, STRIP_HI):
        for o in (1, 2):
            b = a + o
            if b < STRIP_HI:
                pairs.add((a, b))
    return pairs


def _py_truss(edges: set[tuple[int, int]], k: int) -> dict[tuple[int, int], int]:
    """Textbook sequential k-truss peel — the independent golden."""
    cur = set(edges)
    while True:
        adj: dict[int, set[int]] = {}
        for lo, hi in cur:
            adj.setdefault(lo, set()).add(hi)
            adj.setdefault(hi, set()).add(lo)
        sup = {e: len(adj[e[0]] & adj[e[1]]) for e in cur}
        new = {e for e in cur if sup[e] >= k - 2}
        if new == cur:
            return {e: sup[e] for e in cur}
        cur = new


def _staged_truss_gold(sf_dir: str | None = None) -> str:
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )

    import pandas as pd

    tag = gold_tag(sf_dir, __name__)
    # v2: augmented graph (cliques + strip); version tag guards against
    # stale goldens when the graph construction changes (ADVICE r2)
    p = f"/tmp/ocr2csv_truss_gold_v2_{K_TRUSS}_{tag}.parquet"
    if not os.path.exists(p):
        sup = _py_truss(_py_truss_edges(sf_dir), K_TRUSS)
        rows = sorted((lo, hi, s) for (lo, hi), s in sup.items())
        pd.DataFrame(rows, columns=["lo", "hi", "support"]).to_parquet(
            p, index=False
        )
    return p


def _truss_oracle_sql(sf_dir: str | None = None) -> str:
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    gold = _staged_truss_gold(sf_dir)
    return f"""
        SELECT lo::BIGINT AS lo, hi::BIGINT AS hi,
               support::BIGINT AS support
        FROM '{gold}' ORDER BY lo, hi
    """


def q_partition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-sharding audit for part = node % N_PARTS: edge counts by
    locality, degree-mass square sum, exact modularity rational and its
    one-division float, node-balance milli ratio (module doc)."""
    ue = _undirected_edges(spark, sf_dir)
    intra = (F.col("lo") % N_PARTS) == (F.col("hi") % N_PARTS)
    e = ue.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum((~intra).cast("long")).alias("cut_edges"),
        F.sum(intra.cast("long")).alias("intra_edges"),
    )
    adj = ue.select(F.col("lo").alias("node")).unionByName(
        ue.select(F.col("hi").alias("node"))
    )
    d2 = (
        adj.groupBy((F.col("node") % N_PARTS).alias("part"))
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.sum(F.col("d") * F.col("d")).alias("sum_d2"))
    )
    from .util import table

    nodes = table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id")
    )
    bal = nodes.groupBy((F.col("id") % N_PARTS).alias("part")).agg(
        F.count(F.lit(1)).alias("c")
    ).agg(
        F.max("c").alias("max_part"), F.sum("c").alias("n_nodes")
    )
    q_num = 4 * F.col("m") * F.col("intra_edges") - F.col("sum_d2")
    q_den = 4 * F.col("m") * F.col("m")
    return (
        e.crossJoin(F.broadcast(d2))
        .crossJoin(F.broadcast(bal))
        .select(
            "m",
            "cut_edges",
            "intra_edges",
            "sum_d2",
            q_num.cast("long").alias("q_num"),
            q_den.cast("long").alias("q_den"),
            (q_num.cast("double") / q_den.cast("double")).alias("q"),
            F.floor(
                F.col("max_part") * N_PARTS * 1000 / F.col("n_nodes")
            ).cast("long").alias("imbalance_milli"),
        )
    )


_PARTITION_SQL = (
    _EDGES_SQL
    + f""",
    e AS (
        SELECT count(*)::BIGINT AS m,
               sum(CASE WHEN lo % {N_PARTS} <> hi % {N_PARTS}
                        THEN 1 ELSE 0 END)::BIGINT AS cut_edges,
               sum(CASE WHEN lo % {N_PARTS} = hi % {N_PARTS}
                        THEN 1 ELSE 0 END)::BIGINT AS intra_edges
        FROM ue
    ),
    adj AS (SELECT lo AS node FROM ue UNION ALL SELECT hi FROM ue),
    d2 AS (
        SELECT sum(d * d)::BIGINT AS sum_d2 FROM (
            SELECT count(*)::BIGINT AS d FROM adj GROUP BY node % {N_PARTS}
        )
    ),
    bal AS (
        SELECT max(c)::BIGINT AS max_part, sum(c)::BIGINT AS n_nodes FROM (
            SELECT count(*)::BIGINT AS c FROM documents
            GROUP BY doc_id::BIGINT % {N_PARTS}
        )
    )
    SELECT m, cut_edges, intra_edges, sum_d2,
           (4 * m * intra_edges - sum_d2)::BIGINT AS q_num,
           (4 * m * m)::BIGINT AS q_den,
           CAST(4 * m * intra_edges - sum_d2 AS DOUBLE)
               / CAST(4 * m * m AS DOUBLE) AS q,
           CAST(floor(max_part * {N_PARTS} * 1000.0 / n_nodes) AS BIGINT)
               AS imbalance_milli
    FROM e CROSS JOIN d2 CROSS JOIN bal
"""
)


QUERIES = {
    "k_truss": q_k_truss,
    "partition_quality": q_partition_quality,
}

ORACLES = {
    "k_truss": _truss_oracle_sql(),
    "partition_quality": _PARTITION_SQL,
}
