"""Graph resource allocation, batch 148: Jones–Plassmann greedy
coloring and the matching-based 2-approximate vertex cover over the
shared undirected link graph — the distributed register-allocation /
conflict-scheduling primitive next to luby_mis, and the covering dual
of greedy_matching with a PROVABLE approximation factor.

Scale design (100 TB):
- ``greedy_coloring`` (Jones–Plassmann 1993): each round, an uncolored
  node colors itself iff its hash priority is the strict minimum among
  its UNCOLORED neighbors (the luby_mis local-min device — two
  adjacent nodes can never win the same round, so simultaneous
  coloring is safe), taking the mex of its already-colored neighbors'
  colors (a bounded in-row filter over sequence(0, deg)). Each round:
  one live-edge join + one keyed min + one colored-neighbor join +
  one keyed mex — the uncolored set shrinks monotonically, one
  ``util.superstep`` round each. Like luby_mis/greedy_matching, the
  oracle is a STAGED GOLDEN computed by an independent sequential
  python implementation.
- ``vertex_cover``: cover = both endpoints of the greedy maximal
  matching (cascadeops) — covers every edge (else the matching wasn't
  maximal) with |cover| = 2|M| ≤ 2·OPT (any cover needs ≥ one
  endpoint per matched edge) — the textbook 2-approximation, both
  properties pinned in the test. Oracle derives from the matching
  golden, so the two queries stay consistent by construction.

Reference parity: no graph layer in the reference; extends luby_mis
(misops), greedy_matching (cascadeops), kcore, label_prop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cascadeops import _staged_matching_gold, q_greedy_matching
from .linkpred import _py_undirected_edges, _undirected_edges
from .misops import _prio
from .util import gold_tag, superstep

COLOR_ROUNDS = 60  # fixpoint guard; expected O(log n) rounds


def q_greedy_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jones–Plassmann coloring (module doc): (id, color) per node of
    the link graph."""
    ue = _undirected_edges(spark, sf_dir)
    sym = (
        ue.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        .unionByName(ue.select(F.col("hi").alias("a"), F.col("lo").alias("b")))
        .localCheckpoint()
    )
    nodes = sym.select(F.col("a").alias("id")).distinct()

    def color_round(state, _r):
        uncolored = state.filter(F.col("color").isNull())
        colors = state.filter(F.col("color").isNotNull())
        live = sym.join(
            uncolored.select(F.col("id").alias("a")), "a"
        ).join(
            uncolored.select(F.col("id").alias("b"), F.col("prio").alias("pb")),
            "b",
        )
        nmin = live.groupBy("a").agg(F.min("pb").alias("nmin"))
        marked = uncolored.join(
            nmin.withColumnRenamed("a", "id"), "id", "left"
        ).withColumn(
            "win", F.col("nmin").isNull() | (F.col("prio") < F.col("nmin"))
        )
        winners = marked.filter("win").select("id", "prio")
        # mex of the colored neighbors' colors (0 when none is colored)
        ncol = (
            winners.join(sym.withColumnRenamed("a", "id"), "id")
            .join(
                colors.select(F.col("id").alias("b"), F.col("color").alias("nc")),
                "b",
            )
            .groupBy("id")
            .agg(F.collect_set("nc").alias("cs"))
            .withColumn(
                "color",
                F.array_min(
                    F.filter(
                        F.sequence(
                            F.lit(0).cast("long"),
                            F.size("cs").cast("long"),
                        ),
                        lambda k: ~F.array_contains(F.col("cs"), k),
                    )
                ),
            )
            .select("id", "color")
        )
        mexes = winners.join(ncol, "id", "left").select(
            "id", "prio", F.coalesce("color", F.lit(0)).cast("long").alias("color")
        )
        return (
            colors.unionByName(mexes)
            .unionByName(marked.filter(~F.col("win")).select("id", "prio", "color"))
        )

    state, _ = superstep(
        nodes.select(
            "id", _prio(F.col("id")).alias("prio"),
            F.lit(None).cast("long").alias("color"),
        ),
        color_round,
        COLOR_ROUNDS,
        metrics={"left": F.sum(F.col("color").isNull().cast("long"))},
        done=lambda h: not h[-1]["left"],
    )
    return state.select(
        F.col("id").cast("long").alias("id"), F.col("color")
    ).orderBy("id")


def q_vertex_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matching-based 2-approx vertex cover (module doc): every link-
    graph node with its in_cover flag, plus the matching size."""
    m = q_greedy_matching(spark, sf_dir)
    ends = (
        m.select(F.col("lo").alias("id"))
        .unionByName(m.select(F.col("hi").alias("id")))
        .distinct()
        .withColumn("in_cover", F.lit(1))
    )
    ue = _undirected_edges(spark, sf_dir)
    nodes = (
        ue.select(F.col("lo").alias("id"))
        .unionByName(ue.select(F.col("hi").alias("id")))
        .distinct()
    )
    return (
        nodes.join(ends, "id", "left")
        .select(
            F.col("id").cast("long").alias("id"),
            F.coalesce("in_cover", F.lit(0)).cast("long").alias("in_cover"),
        )
        .orderBy("id")
    )


def _py_jones_plassmann(sf_dir: str) -> list[tuple[int, int]]:
    """Independent sequential simulation of the SAME JP rounds."""
    nbrs: dict[int, set[int]] = {}
    for a, b in _py_undirected_edges(sf_dir):
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)

    def prio(v):
        return ((v * 2654435761) % 2147483648) * 4294967296 + v

    colors: dict[int, int] = {}
    uncolored = set(nbrs)
    while uncolored:
        winners = [
            v
            for v in uncolored
            if all(
                prio(v) < prio(u)
                for u in nbrs[v]
                if u in uncolored and u != v
            )
        ]
        for v in winners:
            used = {colors[u] for u in nbrs[v] if u in colors}
            c = 0
            while c in used:
                c += 1
            colors[v] = c
        uncolored -= set(winners)
    return sorted(colors.items())


def _staged_coloring_gold(sf_dir: str | None = None) -> str:
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )

    import pandas as pd

    tag = gold_tag(sf_dir, __name__)
    p = f"/tmp/ocr2csv_coloring_gold_{tag}.parquet"
    if not os.path.exists(p):
        pd.DataFrame(
            _py_jones_plassmann(sf_dir), columns=["id", "color"]
        ).to_parquet(p, index=False)
    return p


def _coloring_oracle_sql() -> str:
    gold = _staged_coloring_gold()
    return (
        f"SELECT id::BIGINT AS id, color::BIGINT AS color FROM '{gold}' "
        f"ORDER BY id"
    )


def _cover_oracle_sql() -> str:
    gold = _staged_matching_gold()
    from .linkpred import _EDGES_SQL

    return f"""
{_EDGES_SQL},
gnodes AS (
    SELECT DISTINCT id FROM (
        SELECT lo AS id FROM ue UNION ALL SELECT hi FROM ue)
),
ends AS (
    SELECT DISTINCT id FROM (
        SELECT lo AS id FROM '{gold}' UNION ALL SELECT hi FROM '{gold}')
)
SELECT n.id::BIGINT AS id,
       (CASE WHEN e.id IS NULL THEN 0 ELSE 1 END)::BIGINT AS in_cover
FROM gnodes n LEFT JOIN ends e ON e.id = n.id
ORDER BY n.id
"""


QUERIES = {
    "greedy_coloring": q_greedy_coloring,
    "vertex_cover": q_vertex_cover,
}

ORACLES = {
    "greedy_coloring": _coloring_oracle_sql(),
    "vertex_cover": _cover_oracle_sql(),
}
