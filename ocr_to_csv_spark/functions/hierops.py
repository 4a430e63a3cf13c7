"""Hierarchy surface, batch 51: pointer-doubling chain resolution and
ancestor-closure subtree aggregation — the two distributed-hierarchy
shapes (URL redirect chains, org charts, category trees, thread
reply-chains) that SQL engines serve with RECURSIVE CTEs and a
distributed engine must re-express as bounded join rounds.

The hierarchy is synthesized deterministically from customer keys
(parent(k) = k div 2, roots 0 and 1 — a binary-heap-shaped forest,
depth = ⌊log₂ max_key⌋, derived from the data per run), so both
engines derive identical
structure from the same table; swap in a real parent column for
production data.

Scale design (100 TB):
- ``redirect_resolve`` uses POINTER DOUBLING: the successor map
  composes with itself each round (f ∘ f, jump distances add), so a
  depth-D chain resolves in ⌈log₂ D⌉ keyed equi-joins — 12 rounds
  covers depth 4096, where naive per-hop iteration needs D rounds.
  Each round is one node-sized hash join and one ``util.superstep``
  staging write.
- ``subtree_sums`` builds the ancestor CLOSURE (node → each of its
  ≤ depth ancestors) by plain per-hop iteration — O(n·depth) rows is
  the OUTPUT size, so doubling cannot beat it — then one join with the
  measure and one groupBy. Exact integer cents. Round count comes
  from the data (⌊log₂ max_key⌋ + 1, a 1-row aggregate), never a
  constant: a fixed cap silently truncates once the table outgrows
  it (caught by the sf0.1 gate, r4).
- The DuckDB oracles are literal RECURSIVE CTEs — the semantics the
  distributed plans must reproduce.

Reference parity: no hierarchy layer in the reference; complements the
iterative-graph family (``pagerank``/``connected_components``/``scc``
in textops/dedup) with DAG-free chain/tree shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .util import superstep, table

DOUBLING_ROUNDS = 12  # fixpoint guard; resolves chains up to depth 4096


def _nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )


def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve every node to its chain root + exact depth via pointer
    doubling (log-round, not depth-round)."""
    n = _nodes(spark, sf_dir)
    f = n.select(
        F.col("node").alias("src"),
        F.when(F.col("node") >= 2, F.expr("node div 2"))
        .otherwise(F.col("node")).alias("dst"),
        F.when(F.col("node") >= 2, F.lit(1)).otherwise(F.lit(0)).alias("d"),
    )

    def double(f, _r):
        a, b = f.alias("a"), f.alias("b")
        return a.join(b, F.col("a.dst") == F.col("b.src")).select(
            F.col("a.src").alias("src"),
            F.col("b.dst").alias("dst"),
            (F.col("a.d") + F.col("b.d")).alias("d"),
        )

    # done once every pointer reached a root (roots are 0 and 1)
    f, _ = superstep(
        f,
        double,
        DOUBLING_ROUNDS,
        metrics={"open": F.sum((F.col("dst") >= 2).cast("long"))},
        done=lambda h: not h[-1]["open"],
    )
    return f.select(
        F.col("src").alias("node"), F.col("dst").alias("root"),
        F.col("d").alias("depth"),
    )


_REDIRECT_SQL = """
WITH RECURSIVE walk AS (
    SELECT c_custkey AS node, c_custkey AS cur, 0 AS d FROM customer
    UNION ALL
    SELECT node, cur // 2, d + 1 FROM walk WHERE cur >= 2
)
SELECT node, cur::BIGINT AS root, d::BIGINT AS depth
FROM walk WHERE cur < 2
"""


def q_subtree_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per node: account-balance cents summed over its whole subtree
    (descendants + self) and the descendant count — ancestor closure,
    one measure join, one groupBy."""
    import math

    n = _nodes(spark, sf_dir)
    self_pairs = n.select(
        F.col("node"), F.col("node").alias("anc")
    )
    pairs = self_pairs
    cur = self_pairs
    # rounds derived from the DATA, not a constant: depth of the heap
    # forest is floor(log2(max key)) — a fixed bound silently truncates
    # subtrees the moment the table outgrows it (this failed the sf0.1
    # gate at depth 13 with the old CLOSURE_ROUNDS=12 cap)
    mx = n.agg(F.max("node")).collect()[0][0] or 1
    rounds = max(1, int(math.log2(max(mx, 1))) + 1)
    for _ in range(rounds):
        cur = cur.filter(F.col("anc") >= 2).select(
            "node", F.expr("anc div 2").alias("anc")
        )
        pairs = pairs.unionByName(cur)
    sums = (
        pairs.join(n, "node")
        .groupBy("anc")
        .agg(
            F.sum("cents").alias("subtree_cents"),
            F.count("*").alias("subtree_size"),
        )
    )
    return sums.select(
        F.col("anc").alias("node"), "subtree_cents", "subtree_size"
    )


_SUBTREE_SQL = """
WITH RECURSIVE anc AS (
    SELECT c_custkey AS node, c_custkey AS anc FROM customer
    UNION ALL
    SELECT node, anc // 2 FROM anc WHERE anc >= 2
)
SELECT a.anc::BIGINT AS node,
       sum(round(c.c_acctbal * 100)::BIGINT)::BIGINT AS subtree_cents,
       count(*)::BIGINT AS subtree_size
FROM anc a JOIN customer c ON c.c_custkey = a.node
GROUP BY a.anc
"""


QUERIES = {
    "redirect_resolve": q_redirect_resolve,
    "subtree_sums": q_subtree_sums,
}

ORACLES = {
    "redirect_resolve": _REDIRECT_SQL,
    "subtree_sums": _SUBTREE_SQL,
}
