"""Link-prediction + SQL-surface batch 17: common-neighbor /
resource-allocation link scoring, INTERSECT/EXCEPT set ops, the
correlated-scalar-subquery class (rewritten as agg+join), and
deterministic curriculum ordering for training-data scheduling.

Scale design (100 TB):
- ``common_neighbors`` joins the undirected adjacency list with itself
  ON THE SHARED NEIGHBOR — per-neighbor cost is deg², so the honest
  scale lever is a degree cap on hubs (the synthesized graph is
  bounded-degree ≤ 6; production would ``filter(deg <= CAP)`` first,
  the standard triangle/link-pred mitigation already used by
  ``triangles``). Existing edges are removed with a keyed left-anti
  join; the resource-allocation score Σ floor(SCALE/deg(z)) stays in
  integers (floor per neighbor, order-independent sum).
- ``set_ops`` is two shuffles on the same key (INTERSECT + EXCEPT are
  both hash-distinct co-partitioned joins); Catalyst plans both as
  aggregate-based set ops, never sorts.
- ``above_avg_subquery`` demonstrates the correlated-scalar-subquery
  class the scale-RIGHT way: the subquery is decorrelated into one
  per-key aggregate + an equi-join (Spark would do this itself via
  RewriteCorrelatedScalarSubquery; writing it explicitly keeps the
  plan visible). Strictly-above-average is evaluated as
  cents·n > sum_cents — integers only, no float average.
- ``curriculum_order`` assigns each doc a within-source rank (longest
  docs first — the "easy → hard" proxy here) and interleaves sources
  round-robin: global seq = rank over (rn, source). The global
  ordering is ``util.global_seq`` partition-offset ranks — range
  partition on the unique key, bounded per-partition counts to the
  driver, offset + parallel within-partition row_number — so no
  single-partition window exists anywhere in the plan (test-asserted).

Reference parity: no graph/scheduling layer in the reference; extends
graphtext.py (HITS/label-prop) and curation (mix/pack) families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .graphtext import _edges
from .util import global_seq, table

RA_SCALE = 10_000
TOP_PAIRS = 50


def _undirected_edges(spark: SparkSession, sf_dir: str):
    """Same modular link graph as q_pagerank (textops.py), undirected
    and deduplicated with lo < hi."""
    d = table(spark, sf_dir, "documents")
    n = d.count()
    nodes = d.select(F.col("doc_id").cast("long").alias("id"))
    e = _edges(nodes, n).filter(F.col("src") != F.col("dst"))
    return (
        e.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .distinct()
    )


_EDGES_SQL = """
    WITH nodes AS (SELECT doc_id::BIGINT AS id FROM documents),
    nn AS (SELECT count(*)::BIGINT AS n FROM documents),
    raw AS (
        SELECT id AS src, (id*2+1) % (SELECT n FROM nn) AS dst
        FROM nodes WHERE id % 3 <> 0
        UNION ALL
        SELECT id, (id*7+3) % (SELECT n FROM nn) FROM nodes WHERE id % 2 = 0
        UNION ALL
        SELECT id, (id + (SELECT n FROM nn) // 2) % (SELECT n FROM nn)
        FROM nodes WHERE id % 6 = 1
    ),
    ue AS (
        SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
        FROM raw WHERE src <> dst
    )
"""


def _py_undirected_edges(sf_dir: str) -> set[tuple[int, int]]:
    """Independent pure-Python rebuild of ``_undirected_edges``: the
    (lo, hi) pairs of the modular link graph, self-loops dropped — the
    input of the staged python goldens."""
    import glob

    import pandas as pd

    files = sorted(glob.glob(f"{sf_dir}/documents.parquet")) or sorted(
        glob.glob(f"{sf_dir}/documents.parquet/*.parquet")
    )
    ids = pd.concat(
        [pd.read_parquet(f, columns=["doc_id"]) for f in files]
    )["doc_id"].astype(int).tolist()
    n = len(ids)
    pairs: set[tuple[int, int]] = set()
    for i in ids:
        raw = []
        if i % 3 != 0:
            raw.append((i, (i * 2 + 1) % n))
        if i % 2 == 0:
            raw.append((i, (i * 7 + 3) % n))
        if i % 6 == 1:
            raw.append((i, (i + n // 2) % n))
        for a, b in raw:
            if a != b:
                pairs.add((min(a, b), max(a, b)))
    return pairs


def q_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the doc link graph: for non-adjacent pairs,
    common-neighbor count and integer resource-allocation score
    Σ floor(RA_SCALE / deg(z)); top TOP_PAIRS by (cn desc, ra desc,
    a, b)."""
    ue = _undirected_edges(spark, sf_dir).cache()
    adj = ue.select(F.col("lo").alias("node"), F.col("hi").alias("nbr")).unionByName(
        ue.select(F.col("hi").alias("node"), F.col("lo").alias("nbr"))
    )
    deg = adj.groupBy("nbr").agg(F.count("*").alias("deg"))
    # pairs (a, b) with a < b sharing neighbor z = nbr-joined adjacency
    left = adj.select(F.col("nbr").alias("z"), F.col("node").alias("a"))
    right = adj.select(F.col("nbr").alias("z"), F.col("node").alias("b"))
    cand = (
        left.join(right, "z")
        .filter(F.col("a") < F.col("b"))
        .join(
            deg.withColumnRenamed("nbr", "z"),
            "z",
        )
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("cn"),
            F.sum(F.expr(f"{RA_SCALE} div deg")).alias("ra"),
        )
    )
    fresh = cand.join(
        ue,
        (cand.a == ue.lo) & (cand.b == ue.hi),
        "left_anti",
    )
    return (
        fresh.orderBy(F.desc("cn"), F.desc("ra"), F.asc("a"), F.asc("b"))
        .limit(TOP_PAIRS)
    )


_COMMON_NEIGHBORS_SQL = (
    _EDGES_SQL
    + f""",
    adj AS (
        SELECT lo AS node, hi AS nbr FROM ue
        UNION ALL
        SELECT hi, lo FROM ue
    ),
    deg AS (SELECT nbr, count(*)::BIGINT AS deg FROM adj GROUP BY nbr),
    cand AS (
        SELECT l.node AS a, r.node AS b,
               count(*)::BIGINT AS cn,
               sum({RA_SCALE} // d.deg)::BIGINT AS ra
        FROM adj l
        JOIN adj r ON l.nbr = r.nbr AND l.node < r.node
        JOIN deg d ON d.nbr = l.nbr
        GROUP BY l.node, r.node
    )
    SELECT a, b, cn, ra FROM cand
    WHERE NOT EXISTS (SELECT 1 FROM ue WHERE ue.lo = a AND ue.hi = b)
    ORDER BY cn DESC, ra DESC, a ASC, b ASC
    LIMIT {TOP_PAIRS}
"""
)


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT surface (set_union covers UNION): customers
    with open orders vs customers with negative balance, tagged."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("custkey"))
    )
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("custkey"))
    )
    both = o.intersect(c).select("custkey", F.lit("both").alias("op"))
    only_open = o.subtract(c).select(
        "custkey", F.lit("open_only").alias("op")
    )
    return both.unionByName(only_open)


_SET_OPS_SQL = """
    WITH o AS (SELECT o_custkey AS custkey FROM orders
               WHERE o_orderstatus = 'O'),
    c AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0)
    SELECT custkey, 'both' AS op FROM (
        SELECT custkey FROM o INTERSECT SELECT custkey FROM c)
    UNION ALL
    SELECT custkey, 'open_only' AS op FROM (
        SELECT custkey FROM o EXCEPT SELECT custkey FROM c)
"""


def q_above_avg_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders strictly above their customer's average order value —
    the correlated-scalar-subquery class, decorrelated to one per-key
    aggregate + equi-join; comparison in exact integers
    (cents · n_orders > sum_cents)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    per = o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"), F.sum("cents").alias("sum_cents")
    )
    return (
        o.join(per, "o_custkey")
        .filter(F.col("cents") * F.col("n_orders") > F.col("sum_cents"))
        .select("o_orderkey", "o_custkey", "cents")
    )


_ABOVE_AVG_SQL = """
    SELECT o_orderkey, o_custkey, cents
    FROM (
        SELECT o_orderkey, o_custkey,
               round(o_totalprice * 100)::BIGINT AS cents
        FROM orders
    ) o
    WHERE cents * (SELECT count(*) FROM orders i
                   WHERE i.o_custkey = o.o_custkey)
          > (SELECT sum(round(i.o_totalprice * 100)::BIGINT) FROM orders i
             WHERE i.o_custkey = o.o_custkey)
"""


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum schedule: within each source rank docs
    longest-first (n_chars desc, doc_id), then interleave sources
    round-robin — seq = rank over (rn, source).

    The global seq is computed by ``util.global_seq`` partition-offset
    ranks (range-partition on the unique (rn, source, doc_id) key,
    bounded per-partition counts to the driver, offset + local
    row_number) — NOT a single-partition window, so the plan carries no
    SinglePartition exchange and survives 10^12 docs. Asserted in
    tests/test_linkpred.py."""
    d = table(spark, sf_dir, "documents")
    w_src = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = d.select(
        "doc_id", "source", "n_chars"
    ).withColumn("rn", F.row_number().over(w_src).cast("long"))
    return global_seq(ranked, ["rn", "source", "doc_id"], out="seq").select(
        "doc_id", "source", "n_chars", "rn", "seq"
    )


_CURRICULUM_SQL = """
    SELECT doc_id, source, n_chars, rn,
           row_number() OVER (ORDER BY rn ASC, source ASC, doc_id ASC)::BIGINT
               AS seq
    FROM (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id ASC)::BIGINT
                   AS rn
        FROM documents
    )
"""


QUERIES = {
    "common_neighbors": q_common_neighbors,
    "set_ops": q_set_ops,
    "above_avg_subquery": q_above_avg_subquery,
    "curriculum_order": q_curriculum_order,
}

ORACLES = {
    "common_neighbors": _COMMON_NEIGHBORS_SQL,
    "set_ops": _SET_OPS_SQL,
    "above_avg_subquery": _ABOVE_AVG_SQL,
    "curriculum_order": _CURRICULUM_SQL,
}


# ---------------------------------------------------------------- batch 39

NEG_PER_NODE = 4


def q_edge_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NEGATIVE sampling for link-prediction training —
    the other half of the training pairs common_neighbors scores: per
    node, NEG_PER_NODE hash-derived candidate partners, normalized
    undirected, with TRUE edges removed by a keyed left-anti join.
    Hash-based (no RNG) so every epoch, engine, and retry draws the
    SAME negatives — the reproducibility property epoch_shuffle
    establishes for ordering, applied to sampling; at 10^12 edges the
    candidate fan-out is a constant per node and the anti-join is the
    only shuffle. Self-pairs and hash collisions dedup before the
    anti-join so the output is a clean (a, b) negative set."""
    from .util import DUCK_HEX32, hex32  # noqa: F401 (oracle uses DUCK_HEX32)

    d = table(spark, sf_dir, "documents")
    n = d.count()
    ue = _undirected_edges(spark, sf_dir)
    probes = (
        d.select(F.col("doc_id").cast("long").alias("id"))
        .select("id", F.explode(F.sequence(F.lit(1), F.lit(NEG_PER_NODE))).alias("j"))
        .select(
            "id",
            (
                hex32(
                    F.concat(
                        F.col("id").cast("string"), F.lit(":"),
                        F.col("j").cast("string"),
                    )
                ) % n
            ).alias("cand"),
        )
        .filter(F.col("cand") != F.col("id"))
        .select(
            F.least("id", "cand").alias("lo"),
            F.greatest("id", "cand").alias("hi"),
        )
        .distinct()
    )
    return probes.join(ue, ["lo", "hi"], "left_anti").select(
        F.col("lo").alias("a"), F.col("hi").alias("b")
    )


def _neg_sql() -> str:
    from .util import DUCK_HEX32

    h = DUCK_HEX32.format(x="(CAST(id AS VARCHAR) || ':' || CAST(j AS VARCHAR))")
    return f"""
    {_EDGES_SQL},
    ids AS (SELECT doc_id::BIGINT AS id FROM documents),
    probes AS (
        SELECT DISTINCT least(id, cand) AS lo, greatest(id, cand) AS hi
        FROM (
            SELECT id, {h} % (SELECT n FROM nn) AS cand
            FROM ids, unnest(generate_series(1, {NEG_PER_NODE})) AS t(j)
        ) WHERE cand <> id
    )
    SELECT p.lo AS a, p.hi AS b
    FROM probes p
    LEFT JOIN ue ON p.lo = ue.lo AND p.hi = ue.hi
    WHERE ue.lo IS NULL
"""


QUERIES["edge_negatives"] = q_edge_negatives
ORACLES["edge_negatives"] = _neg_sql()
