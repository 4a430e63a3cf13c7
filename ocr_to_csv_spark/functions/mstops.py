"""Spanning-tree surface, batch 74: distributed Borůvka minimum
spanning forest over the weighted doc link graph, plus the per-node
minimum-incident-edge primitive (Borůvka's inner step) as a strict
cross-engine oracle.

Scale design (100 TB):
- ``min_incident_edge``: one union (both edge directions) + one keyed
  min-aggregation on a (w, lo, hi) struct — pure map-side partial agg,
  the cheapest possible shape. This is exactly the per-component
  selection step Borůvka iterates, so its strict DuckDB oracle also
  pins the tie-break semantics the full algorithm relies on.
- ``boruvka_msf``: the textbook O(log V)-round parallel MSF
  (Borůvka 1926; the GraphX/Pregel formulation). Per round:
  (1) relabel edge endpoints by component (two keyed equi-joins),
  (2) drop intra-component edges,
  (3) per-component minimum outgoing edge via groupBy-min on the
      (w, lo, hi) struct — map-side partial agg, never all-pairs,
  (4) contract: hash-min label propagation WITH ONE POINTER JUMP
      (lbl := min(lbl, lbl[lbl])) per sweep on the component
      multigraph induced by the selected edges — the jump at least
      halves the distance-to-minimum each sweep, so the fixpoint
      arrives in O(log diameter) sweeps instead of O(diameter). The
      graph has at most one edge per live component (component-count-
      sized, geometrically shrinking); each sweep is one
      ``util.superstep`` staging write whose observed change count is
      the convergence test (``util.hash_min_fixpoint``). The outer
      rounds run on ``util.superstep`` too, which severs state through
      ``scratch.stage``, not ``localCheckpoint`` — see its docstring
      for the measured checkpoint pathology this avoids.
  The strict total order (w, lo, hi) makes edge weights effectively
  distinct, so the MSF is UNIQUE (standard exchange argument) and an
  independent pure-Python Kruskal with union-find is a bit-exact
  golden oracle — the ``stable_matching`` pattern (matchops.py).
  Nothing node-sized ever reaches the driver; per-round cost is a
  constant number of keyed joins/aggs over data that shrinks 2× per
  round. At 10^12 edges this is the standard log²V-job MSF plan.

Edge weights are the deterministic integer hash
``(lo*48271 + hi*16807) % 9973 + 1`` computed identically in Spark,
DuckDB, and the Python oracle — no float crosses engines.

Reference parity: no graph layer in the reference; completes the
graph-algorithm family (pagerank, connected components, triangles,
k-truss, trustrank, pointer-doubling) with the classic weighted
optimization primitive used for clustering dedup graphs (single-link
clustering IS the MSF cut at a threshold).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .linkpred import _EDGES_SQL, _py_undirected_edges, _undirected_edges
from .. import scratch
from .util import gold_tag, hash_min_fixpoint, superstep

MSF_ROUNDS = 24  # fixpoint guard; > log2(max component count) at any test sf
_CONTRACT_SWEEPS = 40  # fixpoint guard; loop exits on no-change


def _weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undirected modular link graph with the deterministic
    integer weight hash (module docstring)."""
    ue = _undirected_edges(spark, sf_dir)
    w = (F.col("lo") * 48271 + F.col("hi") * 16807) % 9973 + 1
    return ue.select("lo", "hi", w.cast("long").alias("w"))


_WEIGHTED_SQL = (
    _EDGES_SQL
    + """,
    we AS (
        SELECT lo, hi, (lo*48271 + hi*16807) % 9973 + 1 AS w FROM ue
    )
"""
)


def q_min_incident_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per node, its minimum incident edge under the strict
    (w, lo, hi) order — Borůvka's selection step as a standalone,
    strictly-oracled primitive."""
    e = _weighted_edges(spark, sf_dir)
    pick = F.struct(F.col("w"), F.col("lo"), F.col("hi"))
    inc = e.select(F.col("lo").alias("node"), pick.alias("e")).unionByName(
        e.select(F.col("hi").alias("node"), pick.alias("e"))
    )
    return inc.groupBy("node").agg(F.min("e").alias("m")).select(
        "node",
        F.col("m.w").alias("w"),
        F.col("m.lo").alias("lo"),
        F.col("m.hi").alias("hi"),
    )


# DuckDB min_by has no struct ordering — encode the strict (w, lo, hi)
# order as one scalar: keys < 10^6 at every test sf (doc_id < 5000),
# w <= 9973, so the encoding stays far under 2^63 (matchops precedent).
_MIN_INCIDENT_SQL = (
    _WEIGHTED_SQL
    + """,
    inc AS (
        SELECT lo AS node, w, lo, hi FROM we
        UNION ALL
        SELECT hi, w, lo, hi FROM we
    )
    SELECT node::BIGINT AS node,
           min_by(w, (w*1000000 + lo)*1000000 + hi)::BIGINT AS w,
           min_by(lo, (w*1000000 + lo)*1000000 + hi)::BIGINT AS lo,
           min_by(hi, (w*1000000 + lo)*1000000 + hi)::BIGINT AS hi
    FROM inc GROUP BY node
"""
)



def q_boruvka_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Borůvka minimum spanning forest (module docstring).
    Unique under the strict (w, lo, hi) order; golden-oracled by an
    independent pure-Python Kruskal."""
    e = scratch.stage(_weighted_edges(spark, sf_dir))

    def boruvka_round(state, _r):
        comp = state.filter(F.col("id").isNotNull()).select("id", "comp")
        msf = state.filter(F.col("lo").isNotNull()).select("lo", "hi", "w")
        ec = (
            e.join(
                comp.select(F.col("id").alias("lo"), F.col("comp").alias("clo")),
                "lo",
            )
            .join(
                comp.select(F.col("id").alias("hi"), F.col("comp").alias("chi")),
                "hi",
            )
            .filter(F.col("clo") != F.col("chi"))
        )
        pick = F.struct(
            F.col("w"), F.col("lo"), F.col("hi"), F.col("clo"), F.col("chi")
        )
        cand = ec.select(F.col("clo").alias("c"), pick.alias("e")).unionByName(
            ec.select(F.col("chi").alias("c"), pick.alias("e"))
        )
        # staged once: every contraction sweep reads it
        sel = scratch.stage(
            cand.groupBy("c")
            .agg(F.min("e").alias("m"))
            .select("m.*")
            .distinct()
        )
        # Contract: hash-min to fixpoint on the component multigraph.
        ce = sel.select(F.col("clo").alias("a"), F.col("chi").alias("b"))
        ce = ce.unionByName(
            ce.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct()
        lbl = hash_min_fixpoint(
            ce,
            comp.select(F.col("comp").alias("cid"))
            .distinct()
            .select("cid", F.col("cid").alias("lbl")),
            _CONTRACT_SWEEPS,
        )
        comp = comp.join(lbl, comp.comp == lbl.cid).select(
            "id", F.col("lbl").alias("comp")
        )
        msf = msf.unionByName(sel.select("lo", "hi", "w")).distinct()
        return comp.unionByName(msf, allowMissingColumns=True)

    # state: component rows (id, comp) and forest rows (lo, hi, w), the
    # other kind's columns null. The forest only grows, so an unchanged size means no component had an
    # outgoing edge left: the fixpoint
    state, _ = superstep(
        e.select(F.col("lo").alias("id"))
        .unionByName(e.select(F.col("hi").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .unionByName(e.filter(F.lit(False)), allowMissingColumns=True),
        boruvka_round,
        MSF_ROUNDS,
        metrics={"n": F.count("lo")},
        done=lambda h: len(h) > 1 and h[-1]["n"] == h[-2]["n"],
    )
    return state.filter(F.col("lo").isNotNull()).select(
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
        F.col("w").cast("long").alias("w"),
    )


def _py_weighted_edges(sf_dir: str) -> list[tuple[int, int, int]]:
    """Pure-Python recomputation of the weighted link graph from first
    principles (doc_ids → modular edges → weight hash) — fully
    independent of the Spark plan."""
    pairs = _py_undirected_edges(sf_dir)
    return sorted(
        (w, lo, hi)
        for lo, hi in pairs
        for w in ((lo * 48271 + hi * 16807) % 9973 + 1,)
    )


def _py_kruskal(weighted: list[tuple[int, int, int]]) -> list[tuple]:
    """Textbook Kruskal with union-find under the strict (w, lo, hi)
    order — the independent MSF oracle."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    out = []
    for w, lo, hi in sorted(weighted):
        ra, rb = find(lo), find(hi)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            out.append((lo, hi, w))
    return sorted(out)


def _staged_msf_gold(sf_dir: str | None = None) -> str:
    """Golden MSF from the independent Kruskal, staged per sf dir."""
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )

    import pandas as pd

    tag = gold_tag(sf_dir, __name__)
    p = f"/tmp/ocr2csv_msf_gold_{tag}.parquet"
    if not os.path.exists(p):
        rows = _py_kruskal(_py_weighted_edges(sf_dir))
        pd.DataFrame(rows, columns=["lo", "hi", "w"]).to_parquet(
            p, index=False
        )
    return p


def _msf_oracle_sql(sf_dir: str | None = None) -> str:
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    gold = _staged_msf_gold(sf_dir)
    return f"""
        SELECT lo::BIGINT AS lo, hi::BIGINT AS hi, w::BIGINT AS w
        FROM '{gold}'
    """


QUERIES = {
    "min_incident_edge": q_min_incident_edge,
    "boruvka_msf": q_boruvka_msf,
}

ORACLES = {
    "min_incident_edge": _MIN_INCIDENT_SQL,
    "boruvka_msf": _msf_oracle_sql(),
}
