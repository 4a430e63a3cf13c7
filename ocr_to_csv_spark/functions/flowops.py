"""Shop scheduling + parity audit, batch 138: Johnson's two-machine
flow-shop rule over data-derived job workloads, and an odd-cycle
(bipartiteness) audit of the shared link graph by parity-labelled
frontier expansion — the optimal-ordering classic next to
lpt_makespan/critical_path, and the "can this graph be 2-colored?"
structure probe next to ball2_size/bfs_dist.

Scale design (100 TB):
- ``johnson_flowshop``: per-part two-stage processing times are ONE
  keyed aggregate over lineitem (a = Σ quantity, b = Σ cents mod 997
  + 1 — exact ints); only the top-J=32 heaviest jobs enter the
  schedule (one TakeOrderedAndProject), and the entire Johnson
  construction — partition into a<b / a≥b, sort ascending-a then
  descending-b, then the makespan recurrence c1 += a, c2 = max(c2,c1)
  + b — happens INSIDE one row over the J-sized collected array: an
  array_sort by the Johnson key struct + one sequential fold. The
  4/3-style guarantee is replaced by the exact optimality property
  Johnson proves: the test pins makespan == the DP-free lower bound
  achieved or beats the naive id-order schedule.
- ``bipartite_check``: from S probe seeds (id % 50 == 0), K=6 rounds
  over the SYMMETRIZED distinct edge set; state = distinct
  (seed, node, parity) triples, each round ONE frontier⋈edges
  equi-join + distinct union (state is seeds×nodes×2-bounded, the
  anf_reach discipline), one ``util.superstep`` round each. A node
  reached on both parities from the same seed witnesses an odd closed
  walk through that seed's ball — the exact non-bipartiteness
  certificate; conflict counts per seed are the output.

Reference parity: no scheduling/graph layer in the reference; extends
lpt_makespan/critical_path (schedops) and ball2_size/bfs_dist
(graphstats family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import scratch
from .graphtext import _edges
from .util import superstep, table

FS_JOBS = 32
BP_ROUNDS = 6
BP_SEED_MOD = 50


def _jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_partkey").alias("job")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("a"),
        (
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            % 997
            + 1
        ).alias("b"),
    )
    return per.orderBy(F.col("a").desc(), "job").limit(FS_JOBS)


def q_johnson_flowshop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (module doc): n_jobs, Johnson makespan, the naive
    id-order makespan, and the classic lower bound."""
    jobs = _jobs(spark, sf_dir)
    # johnson key: a<b jobs first by a asc; then a>=b jobs by b desc
    key = F.struct(
        F.when(F.col("a") < F.col("b"), F.lit(0)).otherwise(F.lit(1)).alias(
            "grp"
        ),
        F.when(F.col("a") < F.col("b"), F.col("a"))
        .otherwise(-F.col("b"))
        .alias("k"),
        F.col("job").alias("job"),
        F.col("a").alias("a"),
        F.col("b").alias("b"),
    )
    packed = jobs.agg(
        F.array_sort(F.collect_list(key)).alias("jseq"),
        F.array_sort(
            F.collect_list(F.struct("job", "a", "b"))
        ).alias("idseq"),
        F.count(F.lit(1)).cast("long").alias("n_jobs"),
        F.sum("a").cast("long").alias("sum_a"),
        F.sum("b").cast("long").alias("sum_b"),
        F.min("a").cast("long").alias("min_a"),
        F.min("b").cast("long").alias("min_b"),
    )

    def makespan(seq):
        fin = F.aggregate(
            seq,
            F.array(F.lit(0).cast("long"), F.lit(0).cast("long")),
            lambda acc, j: F.array(
                F.element_at(acc, 1) + j["a"],
                F.greatest(
                    F.element_at(acc, 2), F.element_at(acc, 1) + j["a"]
                )
                + j["b"],
            ),
        )
        return F.element_at(fin, 2)

    return packed.select(
        "n_jobs",
        makespan(F.col("jseq")).alias("makespan"),
        makespan(F.col("idseq")).alias("makespan_idorder"),
        F.greatest(
            F.col("sum_a") + F.col("min_b"), F.col("sum_b") + F.col("min_a")
        ).alias("lower_bound"),
    )


def q_bipartite_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per probe seed (module doc): ball size, nodes reached on both
    parities (odd-walk witnesses), and the bipartite verdict."""
    d = table(spark, sf_dir, "documents", spread=True)
    n = d.count()
    nodes = d.select(F.col("doc_id").cast("long").alias("id"))
    e = _edges(nodes, n)
    sym = scratch.stage(  # read by every round
        e.select("src", "dst")
        .unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )

    def expand(state, _r):
        step = state.join(sym.withColumnRenamed("src", "node"), "node").select(
            "seed",
            F.col("dst").alias("node"),
            (F.lit(1) - F.col("parity")).alias("parity"),
        )
        return state.unionByName(step).distinct()

    state, _ = superstep(
        nodes.filter(F.col("id") % BP_SEED_MOD == 0).select(
            F.col("id").alias("seed"),
            F.col("id").alias("node"),
            F.lit(0).cast("long").alias("parity"),
        ),
        expand,
        BP_ROUNDS,
    )
    per_node = state.groupBy("seed", "node").agg(
        F.count(F.lit(1)).alias("np")
    )
    return (
        per_node.groupBy("seed")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.sum(F.when(F.col("np") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_conflict"),
        )
        .withColumn(
            "bipartite_ball", (F.col("n_conflict") == 0).cast("long")
        )
        .orderBy("seed")
    )


_JOHNSON_SQL = """
WITH per AS (
    SELECT l_partkey AS job,
           sum(l_quantity::BIGINT)::BIGINT AS a,
           (sum(CAST(round(l_extendedprice * 100) AS BIGINT)) % 997 + 1)
               ::BIGINT AS b
    FROM lineitem GROUP BY l_partkey
),
top AS (SELECT * FROM per ORDER BY a DESC, job LIMIT {J}),
packed AS (
    SELECT count(*)::BIGINT AS n_jobs,
           sum(a)::BIGINT AS sum_a, sum(b)::BIGINT AS sum_b,
           min(a)::BIGINT AS min_a, min(b)::BIGINT AS min_b,
           list(struct_pack(a := a, b := b)
                ORDER BY CASE WHEN a < b THEN 0 ELSE 1 END,
                         CASE WHEN a < b THEN a ELSE -b END, job) AS jseq,
           list(struct_pack(a := a, b := b) ORDER BY job) AS idseq
    FROM top
)
SELECT n_jobs,
       list_reduce(list_prepend([0::BIGINT, 0::BIGINT],
           list_transform(jseq, j -> [j.a, j.b])),
           (acc, jv) -> [acc[1] + jv[1],
                         greatest(acc[2], acc[1] + jv[1]) + jv[2]]
       )[2]::BIGINT AS makespan,
       list_reduce(list_prepend([0::BIGINT, 0::BIGINT],
           list_transform(idseq, j -> [j.a, j.b])),
           (acc, jv) -> [acc[1] + jv[1],
                         greatest(acc[2], acc[1] + jv[1]) + jv[2]]
       )[2]::BIGINT AS makespan_idorder,
       greatest(sum_a + min_b, sum_b + min_a)::BIGINT AS lower_bound
FROM packed
""".format(J=FS_JOBS)


def _bipartite_sql() -> str:
    rounds = []
    prev = "v0"
    for r in range(BP_ROUNDS):
        rounds.append(
            f"v{r + 1} AS (SELECT DISTINCT seed, node, parity FROM ("
            f"SELECT seed, node, parity FROM {prev} UNION ALL "
            f"SELECT p.seed, e.dst AS node, 1 - p.parity AS parity "
            f"FROM {prev} p JOIN sym e ON e.src = p.node))"
        )
        prev = f"v{r + 1}"
    return f"""
WITH nodes AS (SELECT doc_id::BIGINT AS id FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM documents),
edges AS (
    SELECT id AS src, (id*2+1) % (SELECT n FROM nn) AS dst
    FROM nodes WHERE id % 3 <> 0
    UNION ALL
    SELECT id, (id*7+3) % (SELECT n FROM nn) FROM nodes WHERE id % 2 = 0
    UNION ALL
    SELECT id, (id + (SELECT n FROM nn) // 2) % (SELECT n FROM nn)
    FROM nodes WHERE id % 6 = 1
),
sym AS (
    SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)
),
v0 AS (SELECT id AS seed, id AS node, 0::BIGINT AS parity
       FROM nodes WHERE id % {BP_SEED_MOD} = 0),
{', '.join(rounds)},
per_node AS (
    SELECT seed, node, count(*)::BIGINT AS np
    FROM {prev} GROUP BY seed, node
)
SELECT seed,
       count(*)::BIGINT AS n_reached,
       sum(CASE WHEN np > 1 THEN 1 ELSE 0 END)::BIGINT AS n_conflict,
       (sum(CASE WHEN np > 1 THEN 1 ELSE 0 END) = 0)::BIGINT
           AS bipartite_ball
FROM per_node
GROUP BY seed
ORDER BY seed
"""


QUERIES = {
    "johnson_flowshop": q_johnson_flowshop,
    "bipartite_check": q_bipartite_check,
}

ORACLES = {
    "johnson_flowshop": _JOHNSON_SQL,
    "bipartite_check": _bipartite_sql(),
}
