"""Graph extent estimation, batch 108b: diameter lower bound via the
double BFS sweep — the standard practical answer to "how wide is this
web graph" (exact diameter is all-pairs and off the table at 10^9
nodes; the double sweep is two BFS passes and is exact on trees and
empirically tight on real graphs).

Scale design (100 TB):
- Two FULL (uncapped) BFS passes over the undirected closure
  (brandesops' symmetric edge set): pass 1 from the deterministic
  pivot (node 0) to ITS eccentricity; the sweep node u = the farthest
  node (max dist, min id tie-break — one argmax aggregate); pass 2
  from u gives ecc(u) ≥ the true radius-based bound, and the reported
  lower bound diameter_lb = ecc(u) ≥ ecc(pivot). Each BFS superstep is
  the bfs_dist Pregel idiom (edges ⋈ frontier + min-agg, one
  ``util.superstep`` round); rounds = graph diameter (≤ ~20 here,
  O(log n) on web graphs). Only NEW nodes (dist = round − 1) form the
  frontier, so the join shrinks to zero at convergence — the loop
  exits when the frontier empties, no fixed horizon.
- Output is one row of exact integers: pivot/u, both eccentricities,
  reach counts (= connected-component size seen from each), and the
  lower bound. The python mirror computes the TRUE diameter by
  all-pairs BFS at test scale and pins lb ≤ diameter ≤ 2·lb (the
  double-sweep guarantee on connected graphs).

Oracle: real DuckDB SQL — two recursive-CTE BFS passes with the sweep
node chosen by the same argmax, dist capped at n (safe: dist strictly
increases, UNION dedups, and no shortest path exceeds n−1 hops).

Reference parity: no graph layer in the reference; completes the
extent family (closeness/harmonic = per-seed distance mass,
sp_counts/stress = path counts) with the global width readout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .brandesops import _dedges
from .graphstats2 import _graph
from .util import superstep

PIVOT = 0  # deterministic first-sweep source
BFS_ROUNDS = 64  # fixpoint guard; rounds = eccentricity + 1


def _bfs_full(edges: DataFrame, src_df: DataFrame) -> DataFrame:
    """(id, dist) exact BFS to fixpoint from the single-row src_df.
    Round r's frontier is the nodes first reached at dist r − 1."""

    def expand(state, r):
        relax = (
            edges.join(
                state.filter(F.col("dist") == r - 1)
                .select(F.col("id").alias("src"), "dist"),
                "src",
            )
            .select(F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist"))
            .distinct()
        )
        new = relax.join(state, "id", "left_anti").groupBy("id").agg(
            F.min("dist").alias("dist")
        )
        return state.unionByName(new)

    # the reached set only grows, so an unchanged count is the fixpoint
    state, _ = superstep(
        src_df.select("id", F.lit(0).cast("long").alias("dist")),
        expand,
        BFS_ROUNDS,
        metrics={"n": F.count(F.lit(1))},
        done=lambda h: len(h) > 1 and h[-1]["n"] == h[-2]["n"],
    )
    return state


def q_diameter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep diameter lower bound (module doc). One row:
    (pivot, ecc_pivot, n_reached_pivot, sweep_node, ecc_sweep,
    n_reached_sweep, diameter_lb)."""
    nodes, _ = _graph(spark, sf_dir)
    edges = _dedges(spark, sf_dir).localCheckpoint(eager=False)
    d1 = _bfs_full(edges, nodes.filter(F.col("id") == PIVOT))
    far = d1.agg(
        F.max(F.struct(F.col("dist"), (-F.col("id")).alias("ni"))).alias("m")
    ).select(
        (-F.col("m.ni")).alias("id"), F.col("m.dist").alias("ecc_pivot")
    )
    stats1 = d1.agg(
        F.max("dist").alias("ecc_pivot"),
        F.count(F.lit(1)).alias("n_reached_pivot"),
    )
    u = far.select("id")
    d2 = _bfs_full(edges, u)
    stats2 = d2.agg(
        F.max("dist").alias("ecc_sweep"),
        F.count(F.lit(1)).alias("n_reached_sweep"),
    )
    return (
        stats1.crossJoin(F.broadcast(far.select(F.col("id").alias("sweep_node"))))
        .crossJoin(F.broadcast(stats2))
        .select(
            F.lit(PIVOT).cast("long").alias("pivot"),
            F.col("ecc_pivot").cast("long").alias("ecc_pivot"),
            F.col("n_reached_pivot").cast("long").alias("n_reached_pivot"),
            F.col("sweep_node").cast("long").alias("sweep_node"),
            F.col("ecc_sweep").cast("long").alias("ecc_sweep"),
            F.col("n_reached_sweep").cast("long").alias("n_reached_sweep"),
            F.greatest("ecc_sweep", "ecc_pivot").cast("long").alias(
                "diameter_lb"
            ),
        )
    )


def _sweep_sql() -> str:
    from .graphstats2 import _GRAPH_SQL

    return f"""
WITH RECURSIVE {_GRAPH_SQL},
dedges AS (
    SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM edges
        UNION ALL
        SELECT dst AS src, src AS dst FROM edges
    )
),
nn2 AS (SELECT count(*)::BIGINT AS n FROM nodes),
walk1(id, dist) AS (
    SELECT CAST({PIVOT} AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist
    UNION
    SELECT e.dst, w.dist + 1
    FROM walk1 w JOIN dedges e ON e.src = w.id, nn2
    WHERE w.dist < nn2.n
),
d1 AS (SELECT id, min(dist) AS dist FROM walk1 GROUP BY id),
far AS (
    SELECT id, dist AS ecc_pivot FROM d1
    ORDER BY dist DESC, id ASC LIMIT 1
),
s1 AS (SELECT max(dist)::BIGINT AS ecc_pivot,
              count(*)::BIGINT AS n_reached_pivot FROM d1),
walk2(id, dist) AS (
    SELECT id, CAST(0 AS BIGINT) FROM far
    UNION
    SELECT e.dst, w.dist + 1
    FROM walk2 w JOIN dedges e ON e.src = w.id, nn2
    WHERE w.dist < nn2.n
),
d2 AS (SELECT id, min(dist) AS dist FROM walk2 GROUP BY id),
s2 AS (SELECT max(dist)::BIGINT AS ecc_sweep,
              count(*)::BIGINT AS n_reached_sweep FROM d2)
SELECT CAST({PIVOT} AS BIGINT) AS pivot,
       s1.ecc_pivot, s1.n_reached_pivot,
       far.id::BIGINT AS sweep_node,
       s2.ecc_sweep, s2.n_reached_sweep,
       greatest(s2.ecc_sweep, s1.ecc_pivot)::BIGINT AS diameter_lb
FROM s1 CROSS JOIN far CROSS JOIN s2
"""


QUERIES = {"diameter_sweep": q_diameter_sweep}
ORACLES = {"diameter_sweep": _sweep_sql()}
