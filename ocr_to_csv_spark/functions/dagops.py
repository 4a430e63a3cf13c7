"""DAG + data-profiling surface, batch 54: longest-path topological
levels (the scheduling/layering primitive for dependency DAGs) and a
functional-dependency audit (the data-profiling check behind schema
normalization and key discovery).

The DAG is synthesized deterministically from customer keys: node k
has parent edges k→k div 2 (k ≥ 2) and k→k div 3 (k ≥ 3), deduped
where the two coincide (e.g. 3 div 2 = 3 div 3 = 1) — a genuine
multi-parent DAG of depth ≤ ~log₂ n, roots {0, 1}.

Scale design (100 TB):
- ``dag_levels`` is Pregel-shaped max-propagation: per round one
  keyed equi-join (edges ⋈ levels) + one max-aggregate, one
  ``util.superstep`` round each, and an early exit when the observed
  level sum reaches fixpoint — O(depth) rounds, each a linear shuffle;
  nothing node-sized ever reaches the driver. The DuckDB oracle walks
  every root path with a RECURSIVE CTE and takes max depth — the
  semantics the iteration must reproduce.
- ``fd_audit`` evaluates candidate functional dependencies LHS → RHS
  as one two-level aggregate each (distinct RHS per LHS value, then
  violation counts) — partial-agg map-side, unioned across candidates;
  a profiler runs dozens of these in one pass over each table.

Reference parity: no DAG/profiling layer in the reference; extends
``hierops`` (trees/chains) to multi-parent DAGs and the ``profile`` /
``dq_audit`` family with dependency discovery.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .util import superstep, table

MAX_ROUNDS = 14  # fixpoint guard; ≥ DAG depth at any tested sf (depth ~ log2 n)


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(child, par) parent edges of the synthetic DAG, deduped."""
    n = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("child")
    )
    e2 = n.filter(F.col("child") >= 2).select(
        "child", F.expr("child div 2").alias("par")
    )
    e3 = n.filter(F.col("child") >= 3).select(
        "child", F.expr("child div 3").alias("par")
    )
    return e2.unionByName(e3).distinct()


def q_dag_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-path level per node (roots level 0): iterative
    max-propagation to fixpoint."""
    nodes = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node")
    )
    edges = _edges(spark, sf_dir).localCheckpoint()

    def relax(lvl, _r):
        upd = (
            edges.join(lvl, edges.par == lvl.node)
            .groupBy("child")
            .agg((F.max("lvl") + 1).alias("cand"))
        )
        return nodes.join(upd, nodes.node == upd.child, "left").select(
            "node", F.coalesce("cand", F.lit(0)).alias("lvl")
        )

    # levels only grow (longest path), so an unchanged level sum is the
    # fixpoint
    lvl, _ = superstep(
        nodes.select("node", F.lit(0).alias("lvl")),
        relax,
        MAX_ROUNDS,
        metrics={"s": F.sum("lvl")},
        done=lambda h: len(h) > 1 and h[-1]["s"] == h[-2]["s"],
    )
    return lvl


_DAG_SQL = """
WITH RECURSIVE edges AS (
    SELECT child, par FROM (
        SELECT c_custkey AS child, c_custkey // 2 AS par
        FROM customer WHERE c_custkey >= 2
        UNION
        SELECT c_custkey AS child, c_custkey // 3 AS par
        FROM customer WHERE c_custkey >= 3
    )
),
up AS (
    SELECT c_custkey AS node, c_custkey AS cur, 0 AS d FROM customer
    UNION ALL
    SELECT u.node, e.par, u.d + 1
    FROM up u JOIN edges e ON e.child = u.cur
)
SELECT node, max(d)::BIGINT AS lvl
FROM up WHERE cur < 2 OR cur NOT IN (SELECT child FROM edges)
GROUP BY node
"""


FD_CANDIDATES = [
    # (table, lhs, rhs) — a mix of holding and violated dependencies
    ("nation", "n_name", "n_regionkey"),
    ("part", "p_brand", "p_type"),
    ("orders", "o_orderpriority", "o_orderstatus"),
    ("customer", "c_mktsegment", "c_nationkey"),
]


def q_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate LHS → RHS,
    count LHS values, violating LHS values (>1 distinct RHS), and
    whether the dependency holds."""
    outs = []
    for tbl, lhs, rhs in FD_CANDIDATES:
        t = table(spark, sf_dir, tbl)
        per = t.groupBy(F.col(lhs)).agg(
            F.countDistinct(F.col(rhs)).alias("n_rhs")
        )
        outs.append(
            per.agg(
                F.lit(tbl).alias("tbl"),
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                F.count("*").alias("n_lhs"),
                F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
                .alias("n_violating"),
                F.min(F.when(F.col("n_rhs") > 1, 0).otherwise(1))
                .alias("holds"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def _fd_sql() -> str:
    parts = []
    for tbl, lhs, rhs in FD_CANDIDATES:
        parts.append(f"""
            SELECT '{tbl}' AS tbl, '{lhs}' AS lhs, '{rhs}' AS rhs,
                   count(*)::BIGINT AS n_lhs,
                   sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT
                       AS n_violating,
                   min(CASE WHEN n_rhs > 1 THEN 0 ELSE 1 END)::BIGINT
                       AS holds
            FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS n_rhs
                  FROM {tbl} GROUP BY {lhs})
        """)
    return " UNION ALL ".join(parts)


QUERIES = {"dag_levels": q_dag_levels, "fd_audit": q_fd_audit}
ORACLES = {"dag_levels": _DAG_SQL, "fd_audit": _fd_sql()}
