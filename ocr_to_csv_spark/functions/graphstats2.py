"""Centrality operators, batch 87: closeness and harmonic centrality
of a bounded seed set via ONE shared multi-source BFS — the global
node-importance measures pagerank/trustrank (eigenvector family) and
kcore/degree (local family) don't cover.

Scale design (100 TB):
- All-pairs closeness is O(V·E) and off the table; the standard
  cluster recipe (Eppstein-Wang / webgraph practice) is exact BFS from
  a BOUNDED SEED SET. Seeds here are doc_id % 53 == 0 (deterministic,
  |V|/53 of the nodes); the frontier state is a SPARSE (seed, node,
  dist) table — |seeds|·reach rows, hash-partitioned, nothing
  node-sized on the driver. Each of the H supersteps is ONE keyed
  equi-join (edges ⋈ frontier on src) + ONE (seed, node) min-aggregate
  over the union with the previous state — the bfs_dist Pregel idiom
  generalized to multi-source by widening the key; each round is one
  ``util.superstep`` staging write.
- ``closeness_centrality``: per seed, H-hop reach count, exact integer
  distance sum, eccentricity-within-horizon; closeness = (n−1)/Σd is
  left as the exact (num, den) integer pair — no division crosses the
  engines.
- ``harmonic_centrality``: Σ 1/d over reached nodes — the
  disconnected-graph-safe variant — computed EXACTLY in fixed point:
  1/d scaled by LCM(1..H) = 60 is an integer for every d ≤ H, so the
  score is an exact int64 (the pagerank integer-fixed-point
  discipline applied to distances).

Both read the SAME synthesized modular link graph as bfs_dist /
pagerank (``curation.py:220``), so centrality ranks are comparable
across the graph family. Reference parity: no graph layer in the
reference; completes the centrality family for crawl-frontier
prioritization (closeness = expected hops to the rest of the web).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import scratch
from .graphtext import _edges
from .util import superstep, table

H_ROUNDS = 5  # BFS horizon (documented exact-within-horizon semantics)
SEED_MOD = 53  # seeds = ids divisible by this
HARM_LCM = 60  # LCM(1..5): 60/d is integer for every hop count d ≤ 5


def _graph(spark: SparkSession, sf_dir: str):
    """The shared modular doc→doc edge set (curation.q_bfs_dist)."""
    d = table(spark, sf_dir, "documents", spread=True)
    n = d.count()
    nodes = d.select(F.col("doc_id").cast("long").alias("id"))
    return nodes, _edges(nodes, n)


def _bfs_state(nodes: DataFrame, edges: DataFrame):
    """Sparse (seed, id, dist) table after H_ROUNDS supersteps over
    ``edges`` (src, dst) from the seeds among ``nodes``. Every round
    reads the edges, so they are staged once; returns (staged edges,
    state)."""
    edges = scratch.stage(edges)

    def relax(state, _r):
        nxt = edges.join(state.withColumnRenamed("id", "src"), "src").select(
            "seed", F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist")
        )
        return (
            state.unionByName(nxt)
            .groupBy("seed", "id")
            .agg(F.min("dist").alias("dist"))
        )

    state, _ = superstep(
        nodes.filter(F.col("id") % SEED_MOD == 0).select(
            F.col("id").alias("seed"),
            F.col("id"),
            F.lit(0).cast("long").alias("dist"),
        ),
        relax,
        H_ROUNDS,
    )
    return edges, state


def q_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per seed: H-hop reach, exact Σdist, eccentricity, and closeness
    as the exact integer pair ((n_reached−1), Σdist)."""
    s = _bfs_state(*_graph(spark, sf_dir))[1]
    return s.groupBy("seed").agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.sum("dist").alias("sum_dist"),
        F.max("dist").alias("ecc"),
    ).select(
        "seed", "n_reached", "sum_dist", "ecc",
        (F.col("n_reached") - 1).alias("closeness_num"),
        F.col("sum_dist").alias("closeness_den"),
    )


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per seed: Σ 60/d over reached nodes (d ≥ 1) — exact int64
    fixed-point harmonic centrality."""
    s = _bfs_state(*_graph(spark, sf_dir))[1].filter(F.col("dist") >= 1)
    return s.groupBy("seed").agg(
        F.sum(
            (F.lit(HARM_LCM).cast("long") / F.col("dist")).cast("long")
        ).alias("harmonic_x60"),
        F.count(F.lit(1)).alias("n_reached"),
    )


_GRAPH_SQL = """
nn AS (SELECT count(*)::BIGINT AS n FROM documents),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
edges AS (
    SELECT id AS src, (id * 2 + 1) % nn.n AS dst FROM nodes, nn
    WHERE id % 3 <> 0
    UNION ALL
    SELECT id AS src, (id * 7 + 3) % nn.n AS dst FROM nodes, nn
    WHERE id % 2 = 0
    UNION ALL
    SELECT id AS src, (id + nn.n // 2) % nn.n AS dst FROM nodes, nn
    WHERE id % 6 = 1
)
"""


def _bfs_sql() -> str:
    return f"""
WITH RECURSIVE {_GRAPH_SQL},
walk(seed, id, dist) AS (
    SELECT id AS seed, id, CAST(0 AS BIGINT) AS dist
    FROM nodes WHERE id % {SEED_MOD} = 0
    UNION
    SELECT w.seed, e.dst AS id, w.dist + 1 AS dist
    FROM walk w JOIN edges e ON e.src = w.id
    WHERE w.dist < {H_ROUNDS}
),
state AS (
    SELECT seed, id, min(dist) AS dist FROM walk GROUP BY seed, id
)
"""


_CLOSE_SQL = f"""
{_bfs_sql()}
SELECT seed, count(*)::BIGINT AS n_reached,
       sum(dist)::BIGINT AS sum_dist,
       max(dist)::BIGINT AS ecc,
       (count(*) - 1)::BIGINT AS closeness_num,
       sum(dist)::BIGINT AS closeness_den
FROM state GROUP BY seed
"""


_HARM_SQL = f"""
{_bfs_sql()}
SELECT seed,
       sum(CAST({HARM_LCM} / dist AS BIGINT))::BIGINT AS harmonic_x60,
       count(*)::BIGINT AS n_reached
FROM state WHERE dist >= 1 GROUP BY seed
"""


QUERIES = {
    "closeness_centrality": q_closeness_centrality,
    "harmonic_centrality": q_harmonic_centrality,
}

ORACLES = {
    "closeness_centrality": _CLOSE_SQL,
    "harmonic_centrality": _HARM_SQL,
}
