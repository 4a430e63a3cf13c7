"""Path-counting centrality, batch 102: exact shortest-path counts (σ)
and stress centrality from the bounded seed set — the Brandes two-phase
(forward σ accumulation, reverse dependency accumulation) kept ENTIRELY
in integers: stress counts paths instead of summing Brandes'
σ_v/σ_w rationals, so no division ever crosses an engine boundary.

Scale design (100 TB):
- Same discipline as ``closeness_centrality`` (graphstats2): exact BFS
  from the bounded doc_id % 53 seed set, sparse (seed, node, …) state,
  H = 5 horizon — but over the UNDIRECTED closure of the modular link
  graph (deduplicated to a simple graph — σ on a multigraph would
  double-count parallel edges). The directed graph's reach is tiny
  (avg out-degree 1.33, ~4 nodes/seed) and has NO shortest-path
  multiplicities (σ ≡ 1, measured) — path-count centrality is only
  meaningful on the symmetric graph, where diamonds are real
  (523 (seed,node) pairs, 19 with σ > 1 at sf0.001; test-pinned). Forward phase: σ(s,v) at level k = one edges ⋈ level-(k−1)
  equi-join + one (seed, node) sum-aggregate, gated by the dist table
  so only SHORTEST-DAG edges contribute. Reverse phase: R(s,v) =
  1 + Σ_{v→w in DAG} R(s,w) walks levels H−1..0 the same way. Each
  superstep is join + keyed agg, one ``util.superstep`` round (the
  graphstats2 BFS on the symmetric edge set).
- ``sp_counts``: the forward phase standalone — (seed, node, dist, σ),
  all exact int64 (out-degree ≤ 3 and H = 5 bound σ far below
  overflow).
- ``stress_centrality``: stress(v) = Σ_{s, t ≠ v} σ_st(v) within the
  horizon = Σ_s σ(s,v)·(R(s,v) − 1) for v ≠ s, where R counts DAG
  paths leaving v (R − 1 drops the empty path / t = v term). One
  (seed,node) join of the two phases + one node-keyed sum. Exact-
  within-horizon semantics documented, like closeness.
- Oracle: real DuckDB SQL (not a golden) — recursive CTE for dist,
  the σ and R recurrences unrolled over the H = 5 levels.

Reference parity: no graph layer in the reference; completes the
centrality family (pagerank/trustrank = eigenvector, closeness/
harmonic = distance, kcore/degree = local) with the path-count axis —
the load-bearing-node signal for crawl-frontier bottleneck analysis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .graphstats2 import H_ROUNDS, SEED_MOD, _bfs_state, _graph
from .util import superstep


def _dedges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric closure, deduplicated (module doc)."""
    nodes, edges = _graph(spark, sf_dir)
    return edges.unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    ).distinct()


def _sigma(edges: DataFrame, dist: DataFrame) -> DataFrame:
    """(seed, id, dist, sigma): exact shortest-path counts by level.
    The state accumulates every level; round k reads level k − 1."""

    def level(acc, k):
        nxt = (
            edges.join(
                acc.filter(F.col("dist") == k - 1)
                .select("seed", F.col("id").alias("src"), "sigma"),
                "src",
            )
            .select("seed", F.col("dst").alias("id"), "sigma")
            .join(
                dist.filter(F.col("dist") == k).select("seed", "id"),
                ["seed", "id"],
            )
            .groupBy("seed", "id")
            .agg(F.sum("sigma").alias("sigma"))
        )
        return acc.unionByName(nxt.withColumn("dist", F.lit(k).cast("long")))

    out, _ = superstep(
        dist.filter(F.col("dist") == 0).select(
            "seed", "id", F.lit(1).cast("long").alias("sigma"),
            F.lit(0).cast("long").alias("dist"),
        ),
        level,
        H_ROUNDS,
    )
    return out


def q_sp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """σ(s, v) within the H-hop horizon (module doc)."""
    edges, dist = _bfs_state(_graph(spark, sf_dir)[0], _dedges(spark, sf_dir))
    return _sigma(edges, dist).select(
        "seed",
        "id",
        F.col("dist").cast("long").alias("dist"),
        F.col("sigma").cast("long").alias("sigma"),
    ).orderBy("seed", "id")


def q_stress_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stress(v) = Σ_s σ(s,v)·(R(s,v)−1), v ≠ s (module doc)."""
    edges, dist = _bfs_state(_graph(spark, sf_dir)[0], _dedges(spark, sf_dir))
    sigma = _sigma(edges, dist)

    def level(acc, r):
        # round r fills level k = H − r from level k + 1
        k = H_ROUNDS - r
        contrib = (
            edges.join(
                acc.filter(F.col("dist") == k + 1)
                .select("seed", F.col("id").alias("dst"), "r"),
                "dst",
            )
            .groupBy("seed", "src")
            .agg(F.sum("r").alias("succ_r"))
            .withColumnRenamed("src", "id")
        )
        rk = (
            dist.filter(F.col("dist") == k)
            .select("seed", "id")
            .join(contrib, ["seed", "id"], "left")
            .select(
                "seed",
                "id",
                (F.lit(1) + F.coalesce("succ_r", F.lit(0)))
                .cast("long")
                .alias("r"),
                F.lit(k).cast("long").alias("dist"),
            )
        )
        return acc.unionByName(rk)

    r, _ = superstep(
        dist.filter(F.col("dist") == H_ROUNDS).select(
            "seed", "id", F.lit(1).cast("long").alias("r"), "dist"
        ),
        level,
        H_ROUNDS,
    )
    return (
        sigma.filter(F.col("dist") >= 1)
        .join(r.drop("dist"), ["seed", "id"])
        .groupBy("id")
        .agg(
            F.sum(F.col("sigma") * (F.col("r") - 1)).alias("stress"),
            F.count(F.lit(1)).alias("n_seeds"),
        )
        .select(
            "id",
            F.col("stress").cast("long").alias("stress"),
            F.col("n_seeds").cast("long").alias("n_seeds"),
        )
        .orderBy("id")
    )


def _base_sql() -> str:
    """Shared CTE prefix: graph, dedup, dist, and σ levels unrolled."""
    from .graphstats2 import _GRAPH_SQL

    lvl = [
        f"""s0 AS (
        SELECT seed, id, CAST(1 AS BIGINT) AS sigma
        FROM state WHERE dist = 0
    )"""
    ]
    for k in range(1, H_ROUNDS + 1):
        lvl.append(
            f"""s{k} AS (
        SELECT p.seed, e.dst AS id, sum(p.sigma)::BIGINT AS sigma
        FROM s{k - 1} p
        JOIN dedges e ON e.src = p.id
        JOIN state st ON st.seed = p.seed AND st.id = e.dst
                      AND st.dist = {k}
        GROUP BY p.seed, e.dst
    )"""
        )
    sigma_union = "\n        UNION ALL\n".join(
        f"        SELECT seed, id, CAST({k} AS BIGINT) AS dist, sigma "
        f"FROM s{k}"
        for k in range(H_ROUNDS + 1)
    )
    return f"""
WITH RECURSIVE {_GRAPH_SQL},
dedges AS (
    SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    )
),
walk(seed, id, dist) AS (
    SELECT id AS seed, id, CAST(0 AS BIGINT) AS dist
    FROM nodes WHERE id % {SEED_MOD} = 0
    UNION
    SELECT w.seed, e.dst AS id, w.dist + 1 AS dist
    FROM walk w JOIN dedges e ON e.src = w.id
    WHERE w.dist < {H_ROUNDS}
),
state AS (
    SELECT seed, id, min(dist) AS dist FROM walk GROUP BY seed, id
),
{", ".join(lvl)},
sigma AS (
{sigma_union}
)
"""


_SP_SQL = (
    _base_sql()
    + """
SELECT seed, id, dist, sigma FROM sigma ORDER BY seed, id
"""
)


def _stress_sql() -> str:
    rs = [
        f"""r{H_ROUNDS} AS (
        SELECT seed, id, CAST(1 AS BIGINT) AS r
        FROM state WHERE dist = {H_ROUNDS}
    )"""
    ]
    for k in range(H_ROUNDS - 1, -1, -1):
        rs.append(
            f"""r{k} AS (
        SELECT st.seed, st.id,
               (1 + COALESCE(c.succ_r, 0))::BIGINT AS r
        FROM state st LEFT JOIN (
            SELECT n.seed, e.src AS id, sum(n.r)::BIGINT AS succ_r
            FROM r{k + 1} n JOIN dedges e ON e.dst = n.id
            GROUP BY n.seed, e.src
        ) c ON c.seed = st.seed AND c.id = st.id
        WHERE st.dist = {k}
    )"""
        )
    r_union = "\n        UNION ALL\n".join(
        f"        SELECT seed, id, r FROM r{k}"
        for k in range(H_ROUNDS, -1, -1)
    )
    return (
        _base_sql()
        + f""",
{", ".join(rs)},
rr AS (
{r_union}
)
SELECT s.id, sum(s.sigma * (rr.r - 1))::BIGINT AS stress,
       count(*)::BIGINT AS n_seeds
FROM sigma s JOIN rr ON rr.seed = s.seed AND rr.id = s.id
WHERE s.dist >= 1
GROUP BY s.id
ORDER BY s.id
"""
    )


QUERIES = {
    "sp_counts": q_sp_counts,
    "stress_centrality": q_stress_centrality,
}

ORACLES = {
    "sp_counts": _SP_SQL,
    "stress_centrality": _stress_sql(),
}
