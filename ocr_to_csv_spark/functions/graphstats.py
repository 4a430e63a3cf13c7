"""Graph-structure operators, batch 62: Adamic-Adar link scoring and
the degree assortativity coefficient.

Scale design (100 TB):
- ``adamic_adar`` (Adamic & Adar 2003): like ``common_neighbors``'s
  resource-allocation score but weighting each shared neighbor z by
  1/ln(deg(z)). The transcendental is kept OUT of both engines: the
  per-degree weight round(SCALE/ln(d)) is precomputed once in Python
  and embedded as the SAME integer lookup literal in the Spark plan
  and the DuckDB oracle (the ``ring_assign`` precedent), so the score
  is an exact int64 sum — no cross-engine libm, no float-order
  dependence. Degrees above the LUT bound clamp to the last entry
  (contribution is monotone-decreasing; documented fixed-point
  semantics). Same shuffle shape as ``common_neighbors``: the pair
  candidates come from one equi-join of the adjacency list with
  itself ON THE SHARED NEIGHBOR — per-neighbor cost deg², the honest
  scale lever being a hub-degree cap, and nothing quadratic crosses
  the shuffle un-keyed.
- ``assortativity`` (Newman 2002): Pearson correlation of the degrees
  at the two ends of every edge. With the sums taken over ordered
  edge endpoints the coefficient reduces to the FULLY RATIONAL form
    r = (4M·Σjk − (Σ(j+k))²) / (2M·Σ(j²+k²) − (Σ(j+k))²)
  — every term an exact int64 (bounds: with max degree d and M edges
  the largest term is 4M²d², far under 2^63 for any per-partition
  graph this engine materializes), one IEEE division at the end. Plan
  shape: degree table (one groupBy), two broadcast-joins of the edge
  list against it (degree table is node-sized but the join is a
  keyed equi-join, broadcast only when small), and a single global
  aggregate of four integer sums — constant-width shuffle.

Reference parity: no graph layer in the reference; extends the
link-prediction family (``common_neighbors``, ``edge_negatives``,
``pr_at_k``) with the classic weighted score and the global-structure
audit used to characterize crawl/link graphs before training on them.

Batch 64 adds two more structure audits:
- ``edge_support``: per-edge triangle support — the k-truss peel step
  (Cohen 2008). Wedges come from the adjacency self-join ON THE SHARED
  NEIGHBOR (the ``triangles`` shape), then close against the edge set
  with one keyed equi-join; support counting is a groupBy on the edge
  key. Each edge also gets its k-truss-(K_TRUSS) survival flag. At
  10^12 edges the wedge join is the standard degree-capped triangle
  plan — nothing leaves the (lo, hi) key space un-keyed.
- ``ball2_size``: exact 1-hop and 2-hop neighborhood sizes per node
  (the first two points of the neighborhood function that HyperANF
  approximates; exact here because the audit is per-node and the
  2-hop frontier is one adjacency-adjacency equi-join + distinct).
  Used to spot crawl-graph hubs before sampling.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .graphtext import _edges
from .linkpred import _EDGES_SQL, _undirected_edges
from .util import table

AA_SCALE = 1_000_000
AA_MAX_DEG = 64
# weight LUT: deg -> round(SCALE / ln(deg)), deg in [2, AA_MAX_DEG]
AA_LUT = {
    d: int(round(AA_SCALE / math.log(d))) for d in range(2, AA_MAX_DEG + 1)
}
AA_TOP = 50


def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar scores for non-adjacent pairs on the doc link graph;
    top AA_TOP by (aa desc, a, b). See module docstring."""
    ue = _undirected_edges(spark, sf_dir).cache()
    adj = ue.select(
        F.col("lo").alias("node"), F.col("hi").alias("nbr")
    ).unionByName(ue.select(F.col("hi").alias("node"), F.col("lo").alias("nbr")))
    deg = adj.groupBy("nbr").agg(F.count(F.lit(1)).alias("deg"))
    lut = F.create_map(
        *[x for d, w in AA_LUT.items() for x in (F.lit(d), F.lit(w))]
    )
    clamped = F.least(F.col("deg"), F.lit(AA_MAX_DEG))
    wdeg = deg.select(
        F.col("nbr").alias("z"), lut[clamped].cast("long").alias("w")
    )
    left = adj.select(F.col("nbr").alias("z"), F.col("node").alias("a"))
    right = adj.select(F.col("nbr").alias("z"), F.col("node").alias("b"))
    cand = (
        left.join(right, "z")
        .filter(F.col("a") < F.col("b"))
        .join(wdeg, "z")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"), F.sum("w").alias("aa_scaled"))
    )
    fresh = cand.join(
        ue, (cand.a == ue.lo) & (cand.b == ue.hi), "left_anti"
    )
    return (
        fresh.select(
            "a",
            "b",
            "cn",
            "aa_scaled",
            (F.col("aa_scaled").cast("double") / F.lit(float(AA_SCALE))).alias(
                "aa"
            ),
        )
        .orderBy(F.desc("aa_scaled"), F.asc("a"), F.asc("b"))
        .limit(AA_TOP)
    )


_AA_CASE = (
    "CASE least(deg, " + str(AA_MAX_DEG) + ") "
    + " ".join(f"WHEN {d} THEN {w}" for d, w in AA_LUT.items())
    + " END"
)

_AA_SQL = (
    _EDGES_SQL
    + f""",
    adj AS (
        SELECT lo AS node, hi AS nbr FROM ue
        UNION ALL
        SELECT hi, lo FROM ue
    ),
    deg AS (SELECT nbr, count(*)::BIGINT AS deg FROM adj GROUP BY nbr),
    wdeg AS (SELECT nbr AS z, CAST({_AA_CASE} AS BIGINT) AS w FROM deg),
    cand AS (
        SELECT l.node AS a, r.node AS b,
               count(*)::BIGINT AS cn,
               CAST(sum(w.w) AS BIGINT) AS aa_scaled
        FROM adj l
        JOIN adj r ON l.nbr = r.nbr AND l.node < r.node
        JOIN wdeg w ON w.z = l.nbr
        GROUP BY 1, 2
    ),
    fresh AS (
        SELECT c.* FROM cand c
        ANTI JOIN ue ON c.a = ue.lo AND c.b = ue.hi
    )
    SELECT a, b, cn, aa_scaled,
           CAST(aa_scaled AS DOUBLE) / {float(AA_SCALE)} AS aa
    FROM fresh
    ORDER BY aa_scaled DESC, a ASC, b ASC
    LIMIT {AA_TOP}
"""
)


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the doc link graph as an exact rational
    (see module docstring)."""
    ue = _undirected_edges(spark, sf_dir).cache()
    adj = ue.select(
        F.col("lo").alias("node"), F.col("hi").alias("nbr")
    ).unionByName(ue.select(F.col("hi").alias("node"), F.col("lo").alias("nbr")))
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    dj = deg.select(F.col("node").alias("lo"), F.col("deg").alias("j"))
    dk = deg.select(F.col("node").alias("hi"), F.col("deg").alias("k"))
    per_edge = ue.join(dj, "lo").join(dk, "hi")
    s = per_edge.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("j") * F.col("k")).alias("s_jk"),
        F.sum(F.col("j") + F.col("k")).alias("s_sum"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k")).alias(
            "s_sq"
        ),
    )
    num = F.lit(4) * F.col("m") * F.col("s_jk") - F.col("s_sum") * F.col(
        "s_sum"
    )
    den = F.lit(2) * F.col("m") * F.col("s_sq") - F.col("s_sum") * F.col(
        "s_sum"
    )
    return s.select(
        "m",
        "s_jk",
        "s_sum",
        "s_sq",
        num.alias("r_num"),
        den.alias("r_den"),
        (num.cast("double") / den.cast("double")).alias("r"),
    )


_ASSORT_SQL = (
    _EDGES_SQL
    + """,
    adj AS (
        SELECT lo AS node, hi AS nbr FROM ue
        UNION ALL
        SELECT hi, lo FROM ue
    ),
    deg AS (SELECT node, count(*)::BIGINT AS deg FROM adj GROUP BY node),
    per_edge AS (
        SELECT dj.deg AS j, dk.deg AS k
        FROM ue
        JOIN deg dj ON dj.node = ue.lo
        JOIN deg dk ON dk.node = ue.hi
    ),
    s AS (
        SELECT count(*)::BIGINT AS m,
               CAST(sum(j * k) AS BIGINT) AS s_jk,
               CAST(sum(j + k) AS BIGINT) AS s_sum,
               CAST(sum(j * j + k * k) AS BIGINT) AS s_sq
        FROM per_edge
    )
    SELECT m, s_jk, s_sum, s_sq,
           CAST(4 * m * s_jk - s_sum * s_sum AS BIGINT) AS r_num,
           CAST(2 * m * s_sq - s_sum * s_sum AS BIGINT) AS r_den,
           CAST(4 * m * s_jk - s_sum * s_sum AS DOUBLE)
               / CAST(2 * m * s_sq - s_sum * s_sum AS DOUBLE) AS r
    FROM s
"""
)


K_TRUSS = 3  # survival flag: edge belongs to the 3-truss (support ≥ 1)


def q_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle support per edge + k-truss peel flag (module doc)."""
    ue = _undirected_edges(spark, sf_dir).cache()
    adj = ue.select(
        F.col("lo").alias("node"), F.col("hi").alias("nbr")
    ).unionByName(ue.select(F.col("hi").alias("node"), F.col("lo").alias("nbr")))
    # wedges a < b sharing z, closed by the (a, b) edge
    left = adj.select(F.col("nbr").alias("z"), F.col("node").alias("a"))
    right = adj.select(F.col("nbr").alias("z"), F.col("node").alias("b"))
    wedges = left.join(right, "z").filter(F.col("a") < F.col("b"))
    closed = wedges.join(
        ue, (wedges.a == ue.lo) & (wedges.b == ue.hi), "left_semi"
    )
    sup = closed.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
    out = ue.join(
        sup, (ue.lo == sup.a) & (ue.hi == sup.b), "left"
    ).select(
        "lo",
        "hi",
        F.coalesce(F.col("support"), F.lit(0)).alias("support"),
    )
    return out.withColumn(
        "in_truss", (F.col("support") >= K_TRUSS - 2).cast("long")
    ).orderBy("lo", "hi")


_SUPPORT_SQL = (
    _EDGES_SQL
    + f""",
    adj AS (
        SELECT lo AS node, hi AS nbr FROM ue
        UNION ALL
        SELECT hi, lo FROM ue
    ),
    closed AS (
        SELECT l.node AS a, r.node AS b
        FROM adj l
        JOIN adj r ON l.nbr = r.nbr AND l.node < r.node
        SEMI JOIN ue ON l.node = ue.lo AND r.node = ue.hi
    ),
    sup AS (SELECT a, b, count(*)::BIGINT AS support
            FROM closed GROUP BY a, b)
    SELECT ue.lo, ue.hi,
           COALESCE(sup.support, 0)::BIGINT AS support,
           CAST(COALESCE(sup.support, 0) >= {K_TRUSS - 2} AS BIGINT)
               AS in_truss
    FROM ue LEFT JOIN sup ON ue.lo = sup.a AND ue.hi = sup.b
    ORDER BY lo, hi
"""
)


def q_ball2_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-hop and 2-hop neighborhood sizes per node (module doc)."""
    ue = _undirected_edges(spark, sf_dir).cache()
    adj = ue.select(
        F.col("lo").alias("node"), F.col("hi").alias("nbr")
    ).unionByName(ue.select(F.col("hi").alias("node"), F.col("lo").alias("nbr")))
    two_hop = adj.select(F.col("node"), F.col("nbr").alias("mid")).join(
        adj.select(F.col("node").alias("mid"), F.col("nbr").alias("far")),
        "mid",
    ).select("node", F.col("far").alias("nbr"))
    ball = (
        adj.select("node", "nbr")
        .unionByName(two_hop)
        .filter(F.col("node") != F.col("nbr"))
        .distinct()
    )
    b1 = adj.groupBy("node").agg(F.count(F.lit(1)).alias("ball1"))
    b2 = ball.groupBy("node").agg(F.count(F.lit(1)).alias("ball2"))
    return b1.join(b2, "node").orderBy("node")


_BALL2_SQL = (
    _EDGES_SQL
    + """,
    adj AS (
        SELECT lo AS node, hi AS nbr FROM ue
        UNION ALL
        SELECT hi, lo FROM ue
    ),
    two_hop AS (
        SELECT a.node, b.nbr
        FROM adj a JOIN adj b ON a.nbr = b.node
    ),
    ball AS (
        SELECT DISTINCT node, nbr FROM (
            SELECT node, nbr FROM adj
            UNION ALL
            SELECT node, nbr FROM two_hop
        ) WHERE node <> nbr
    ),
    b1 AS (SELECT node, count(*)::BIGINT AS ball1 FROM adj GROUP BY node),
    b2 AS (SELECT node, count(*)::BIGINT AS ball2 FROM ball GROUP BY node)
    SELECT b1.node AS node, b1.ball1, b2.ball2
    FROM b1 JOIN b2 ON b1.node = b2.node
    ORDER BY b1.node
"""
)


# --- TrustRank (batch 71) -------------------------------------------------
# Personalized PageRank whose teleport mass goes ONLY to a trusted seed
# set (Gyöngyi et al. 2004) — the standard web-spam demotion signal for
# crawl curation. Same Pregel-in-DataFrame plan as q_pagerank (one keyed
# join + one keyed aggregation per superstep, nothing node-sized on the
# driver), same integer fixed-point discipline: seeds start with
# TR_SCALE units, each superstep propagates floor(floor(r·85/100)/deg)
# along the DIRECTED modular link graph and re-seeds floor(TR_SCALE·
# 15/100) to seed nodes only. Deterministic floor leakage matches the
# unrolled DuckDB oracle bit-for-bit.

TR_SCALE = 1_000_000
TR_ITERS = 3
TR_SEED_MOD = 10  # trusted seeds: doc_id % 10 == 0


def q_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded personalized PageRank (see block comment above)."""
    d = table(spark, sf_dir, "documents", spread=True)
    n = d.count()
    nodes = d.select(F.col("doc_id").cast("long").alias("id"))
    edges = _edges(nodes, n)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = edges.join(outdeg, "src")
    seed = (F.col("id") % TR_SEED_MOD == 0).cast("long")
    base = TR_SCALE * 15 // 100
    ranks = nodes.select(
        "id", (seed * TR_SCALE).cast("long").alias("r")
    )
    for _ in range(TR_ITERS):
        inc = (
            ed.join(ranks.withColumnRenamed("id", "src"), "src")
            .select("dst", F.expr("(r * 85 div 100) div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inc"))
        )
        ranks = nodes.join(inc, nodes.id == inc.dst, "left").select(
            "id",
            (seed * base + F.coalesce("inc", F.lit(0))).cast("long").alias("r"),
        )
    return ranks.select(
        F.col("id").alias("doc_id"),
        F.col("r").alias("trust_units"),
        (F.col("id") % TR_SEED_MOD == 0).cast("long").alias("is_seed"),
    )


_TR_STEP = """
    r%d AS (
        SELECT n.id,
               (CASE WHEN n.id %% {mod} = 0 THEN {base} ELSE 0 END
                + coalesce(c.inc, 0))::BIGINT AS r
        FROM nodes n LEFT JOIN (
            SELECT e.dst, sum((p.r * 85 // 100) // d.deg)::BIGINT AS inc
            FROM edges e JOIN deg d USING (src) JOIN r%d p ON p.id = e.src
            GROUP BY e.dst
        ) c ON c.dst = n.id
    )
"""

_TR_SQL = """
    WITH nodes AS (SELECT doc_id::BIGINT AS id FROM documents),
    nn AS (SELECT count(*)::BIGINT AS n FROM documents),
    edges AS (
        SELECT id AS src, (id*2+1) %% (SELECT n FROM nn) AS dst
        FROM nodes WHERE id %% 3 <> 0
        UNION ALL
        SELECT id, (id*7+3) %% (SELECT n FROM nn) FROM nodes WHERE id %% 2 = 0
        UNION ALL
        SELECT id, (id + (SELECT n FROM nn) // 2) %% (SELECT n FROM nn)
        FROM nodes WHERE id %% 6 = 1
    ),
    deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src),
    r0 AS (SELECT id, (CASE WHEN id %% {mod} = 0 THEN {scale} ELSE 0 END)::BIGINT AS r
           FROM nodes),
    %s
    SELECT id AS doc_id, r AS trust_units,
           CAST(id %% {mod} = 0 AS BIGINT) AS is_seed
    FROM r%d
"""


def _trustrank_oracle_sql() -> str:
    step = _TR_STEP.format(mod=TR_SEED_MOD, base=TR_SCALE * 15 // 100)
    steps = ",".join(step % (k + 1, k) for k in range(TR_ITERS))
    sql = _TR_SQL.format(mod=TR_SEED_MOD, scale=TR_SCALE)
    return sql % (steps, TR_ITERS)  # %-format folds %% -> %


QUERIES = {
    "adamic_adar": q_adamic_adar,
    "assortativity": q_assortativity,
    "edge_support": q_edge_support,
    "ball2_size": q_ball2_size,
    "trustrank": q_trustrank,
}

ORACLES = {
    "adamic_adar": _AA_SQL,
    "assortativity": _ASSORT_SQL,
    "edge_support": _SUPPORT_SQL,
    "ball2_size": _BALL2_SQL,
    "trustrank": _trustrank_oracle_sql(),
}
