"""Graph sampling estimators, batch 127: wedge-sampling triangle
estimation audited against the exact compact-forward count, and
deterministic hash-driven random-walk sampling — the two sub-linear
probes a graph pipeline runs when the exact global statistic is the
thing you cannot afford at 10^12 edges.

Scale design (100 TB):
- ``triangle_est``: wedges are enumerated PER NODE from the sorted
  adjacency array (degree-bounded map-side explode; at web scale the
  hub cap / degree-ordering mitigation documented at k_truss applies),
  then DETERMINISTICALLY thinned to ~1/P by an md5 coin on the wedge
  identity — uniform over wedges, shared verbatim with the oracle.
  Closure of the sampled wedges is ONE left-semi equi-join against the
  edge set; the estimate κ·W_tot/3 is exact integer arithmetic
  (closed·W_tot div (3·sampled)). The exact control is the standard
  two-equi-join compact-forward count — the O(wedges) job the sample
  exists to avoid.
- ``hash_walks``: W walks start at the id % 31 == 0 seeds; each of
  L=4 steps is ONE equi-join of the walk frontier against the
  out-adjacency arrays (degree ≤ 3 ⇒ array-indexing is map-side), the
  next hop picked by hex32(walk|step) % out-degree — reproducible
  "randomness" with zero RNG state (the weighted_sample discipline).
  Dangling nodes end their walk. Each step is one ``util.superstep``
  round over the positions of every depth so far, and the L+1
  depth-summary rows are ONE grouped aggregate over that state.

Reference parity: no graph layer in the reference; the approximate
members of the triangle family (triangles, edge_support, k_truss,
clustering_coeff) and the traversal family (bfs_dist, anf_reach).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .graphtext import _edges
from .linkpred import _EDGES_SQL, _undirected_edges
from .util import DUCK_HEX32, hex32, superstep, table

WS_P = 4  # keep a wedge iff md5 % WS_P == 0 (~25% sample)
WALK_L = 4  # walk length
WALK_SEED_MOD = 31  # id % MOD == 0 starts a walk


def q_triangle_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wedge-sampling triangle estimate vs the exact count
    (module doc): one row."""
    ue = _undirected_edges(spark, sf_dir).localCheckpoint()
    adj = ue.select(F.col("lo").alias("node"), F.col("hi").alias("nbr")).unionByName(
        ue.select(F.col("hi").alias("node"), F.col("lo").alias("nbr"))
    )
    nbrs = adj.groupBy("node").agg(
        F.sort_array(F.collect_list("nbr")).alias("ns")
    )
    d = F.size("ns")
    w_tot = nbrs.agg(
        F.sum((d * (d - 1) / 2).cast("long")).alias("w_tot")
    )
    idx = F.sequence(F.lit(1), d)
    pairs = nbrs.select(
        "node",
        F.explode(
            F.flatten(
                F.transform(
                    idx,
                    lambda i: F.filter(
                        F.transform(
                            idx,
                            lambda j: F.when(
                                j > i,
                                F.struct(
                                    F.get(F.col("ns"), i - 1).alias("a"),
                                    F.get(F.col("ns"), j - 1).alias("b"),
                                ),
                            ),
                        ),
                        lambda s: s.isNotNull(),
                    ),
                )
            )
        ).alias("p"),
    ).select("node", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    h = hex32(
        F.concat_ws("|", F.lit("ws"), F.col("node"), F.col("a"), F.col("b"))
    )
    sampled = pairs.filter(h % WS_P == 0).select(
        F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
    )
    n_sampled = sampled.count()
    closed = sampled.join(ue, ["lo", "hi"], "left_semi").count()
    e1 = ue.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = ue.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = ue.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    exact = e1.join(e2, "b").join(e3, ["a", "c"]).count()
    return w_tot.select(
        F.col("w_tot").cast("long").alias("w_tot"),
        F.lit(n_sampled).cast("long").alias("n_sampled"),
        F.lit(closed).cast("long").alias("n_closed"),
        F.expr(
            f"cast({closed}L * w_tot div (3 * greatest({n_sampled}L, 1L)) "
            "as bigint)"
        ).alias("est_triangles"),
        F.lit(exact).cast("long").alias("exact_triangles"),
    )


_WS_H = DUCK_HEX32.format(x="'ws' || '|' || node || '|' || a || '|' || b")

_TRI_SQL = (
    _EDGES_SQL
    + f""",
adj AS (
    SELECT lo AS node, hi AS nbr FROM ue
    UNION ALL SELECT hi, lo FROM ue
),
nbrs AS (SELECT node, list(nbr ORDER BY nbr) AS ns FROM adj GROUP BY node),
wt AS (
    SELECT sum((len(ns) * (len(ns) - 1) / 2)::BIGINT)::BIGINT AS w_tot
    FROM nbrs
),
pairs AS (
    SELECT node::VARCHAR AS node, ns[i]::VARCHAR AS a, ns[j]::VARCHAR AS b,
           ns[i]::BIGINT AS ai, ns[j]::BIGINT AS bi
    FROM nbrs,
         LATERAL (SELECT unnest(generate_series(1, len(ns))) AS i),
         LATERAL (SELECT unnest(generate_series(1, len(ns))) AS j)
    WHERE j > i
),
sampled AS (
    SELECT least(ai, bi) AS lo, greatest(ai, bi) AS hi
    FROM pairs WHERE ({_WS_H}) % {WS_P} = 0
),
ns_ AS (SELECT count(*)::BIGINT AS n_sampled FROM sampled),
closed AS (
    SELECT count(*)::BIGINT AS n_closed FROM sampled s
    WHERE EXISTS (SELECT 1 FROM ue WHERE ue.lo = s.lo AND ue.hi = s.hi)
),
exact AS (
    SELECT count(*)::BIGINT AS exact_triangles
    FROM ue e1
    JOIN ue e2 ON e2.lo = e1.hi
    JOIN ue e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
)
SELECT (SELECT w_tot FROM wt) AS w_tot,
       (SELECT n_sampled FROM ns_) AS n_sampled,
       (SELECT n_closed FROM closed) AS n_closed,
       ((SELECT n_closed FROM closed) * (SELECT w_tot FROM wt)
        // (3 * greatest((SELECT n_sampled FROM ns_), 1)))::BIGINT
           AS est_triangles,
       (SELECT exact_triangles FROM exact) AS exact_triangles
"""
)


def q_hash_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks (module doc): per depth
    (step, n_active, n_distinct_nodes)."""
    dtab = table(spark, sf_dir, "documents")
    n = dtab.count()
    nodes = dtab.select(F.col("doc_id").cast("long").alias("id"))
    edges = _edges(nodes, n).filter(F.col("src") != F.col("dst"))
    outn = edges.groupBy(F.col("src").alias("cur")).agg(
        F.sort_array(F.collect_list("dst")).alias("ns")
    ).localCheckpoint()

    def advance(state, step):
        h = hex32(
            F.concat_ws("|", F.lit("wk"), F.col("walk"), F.lit(str(step)))
        )
        nxt = (
            state.filter(F.col("step") == step - 1)
            .join(outn, "cur")
            .select(
                "walk",
                F.get(F.col("ns"), (h % F.size("ns")).cast("int")).alias(
                    "cur"
                ),
                F.lit(step).cast("long").alias("step"),
            )
        )
        return state.unionByName(nxt)

    # state: every walk's position at every depth so far
    state, _ = superstep(
        nodes.filter(F.col("id") % WALK_SEED_MOD == 0).select(
            F.col("id").alias("walk"),
            F.col("id").alias("cur"),
            F.lit(0).cast("long").alias("step"),
        ),
        advance,
        WALK_L,
    )
    per = state.groupBy("step").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.count_distinct("cur").alias("n_distinct_nodes"),
    )
    return (
        spark.range(WALK_L + 1).withColumnRenamed("id", "step")
        .join(per, "step", "left").na.fill(0).orderBy("step")
    )


def _walk_h(step: int) -> str:
    return DUCK_HEX32.format(x=f"'wk' || '|' || walk::VARCHAR || '|' || '{step}'")


def _walks_sql() -> str:
    base = f"""
nodes AS (SELECT doc_id::BIGINT AS id FROM documents),
nn AS (SELECT count(*)::BIGINT AS n FROM documents),
edges AS (
    SELECT src, dst FROM (
        SELECT id AS src, (id*2+1) % (SELECT n FROM nn) AS dst
        FROM nodes WHERE id % 3 <> 0
        UNION ALL
        SELECT id, (id*7+3) % (SELECT n FROM nn) FROM nodes WHERE id % 2 = 0
        UNION ALL
        SELECT id, (id + (SELECT n FROM nn) // 2) % (SELECT n FROM nn)
        FROM nodes WHERE id % 6 = 1
    ) WHERE src <> dst
),
outn AS (SELECT src AS cur, list(dst ORDER BY dst) AS ns FROM edges
         GROUP BY src),
s0 AS (SELECT id AS walk, id AS cur FROM nodes
       WHERE id % {WALK_SEED_MOD} = 0)"""
    layers = [base]
    for step in range(1, WALK_L + 1):
        layers.append(f"""
s{step} AS (
    SELECT s.walk,
           o.ns[(({_walk_h(step)}) % len(o.ns))::INTEGER + 1] AS cur
    FROM s{step - 1} s JOIN outn o USING (cur)
)""")
    selects = " UNION ALL ".join(
        f"SELECT {k}::BIGINT AS step, (SELECT count(*) FROM s{k})::BIGINT "
        f"AS n_active, (SELECT count(DISTINCT cur) FROM s{k})::BIGINT "
        f"AS n_distinct_nodes"
        for k in range(0, WALK_L + 1)
    )
    return "WITH " + ",".join(layers) + "\n" + selects + "\nORDER BY step"


QUERIES = {
    "triangle_est": q_triangle_est,
    "hash_walks": q_hash_walks,
}

ORACLES = {
    "triangle_est": _TRI_SQL,
    "hash_walks": _walks_sql(),
}
