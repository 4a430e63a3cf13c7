"""Parallel selection + trend audit, batch 79: deterministic Luby-style
maximal independent set on the doc link graph, and the Mann–Kendall
trend test on the daily event series.

Scale design (100 TB):
- ``luby_mis`` (Luby 1986, derandomized by hash priority): the classic
  symmetry-breaking primitive behind distributed scheduling, graph
  coloring, and conflict-free sampling. Each node gets the INJECTIVE
  deterministic priority prio(k) = ((k·2654435761) mod 2³¹)·2³² + k;
  per round, every undecided node that is a strict local minimum among
  its undecided neighbors joins the MIS and its neighbors drop out.
  Per round: one edge⋈undecided semi-join, one keyed min-agg, one
  left join — the pagerank/boruvka superstep shape, O(log n) expected
  rounds, one ``util.superstep`` round each, nothing node-sized on
  the driver. The parallel local-minimum iteration provably equals
  the SEQUENTIAL greedy MIS in priority order (the lexicographically
  first MIS), so a trivially-auditable pure-Python greedy is the
  independent golden oracle (stable_matching pattern).
- ``mann_kendall``: the standard nonparametric monotone-trend test —
  S = Σ_{i<j} sign(v_j − v_i) over the daily series, with the exact
  tie-corrected variance 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)
  shipped as an exact int64 (no float crosses engines). The O(n²)
  pair set is confined to the DAY-grain aggregate (calendar-bounded —
  the theil_sen discipline, statsops.py:366); everything upstream is
  one keyed groupBy.

Reference parity: no graph/trend layer in the reference; completes the
parallel-algorithm family (pagerank, CC, SCC, BFS/SSSP, k-core,
Borůvka) with the symmetry-breaking primitive, and the trend family
(theil_sen, cusum_drift, ewma) with the hypothesis-test statistic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .linkpred import _py_undirected_edges, _undirected_edges
from .statsops import TS_FROM, TS_TO
from .util import gold_tag, superstep, table

_MIS_ROUNDS = 40  # fixpoint guard; expected O(log n) rounds


def _prio(col):
    return ((col * 2654435761) % 2147483648) * 4294967296 + col


def q_luby_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Luby MIS (module docstring): returns every node of
    the link graph with its in_mis flag."""
    ue = _undirected_edges(spark, sf_dir)
    edges = ue.select(F.col("lo").alias("a"), F.col("hi").alias("b")).unionByName(
        ue.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
    ).localCheckpoint()
    nodes = edges.select(F.col("a").alias("id")).distinct()

    def select_round(state, _r):
        undecided = state.filter(F.col("in_mis").isNull())
        ue_live = (
            edges.join(
                undecided.select(F.col("id").alias("a")), "a"
            ).join(
                undecided.select(
                    F.col("id").alias("b"), F.col("prio").alias("pb")
                ),
                "b",
            )
        )
        nbr_min = ue_live.groupBy("a").agg(F.min("pb").alias("nmin"))
        marked = undecided.join(nbr_min, undecided.id == nbr_min.a, "left").select(
            "id", "prio",
            (F.col("nmin").isNull() | (F.col("prio") < F.col("nmin"))).alias("win"),
        )
        # neighbors of this round's winners drop out (in_mis = 0)
        hit = (
            edges.join(marked.filter("win").select(F.col("id").alias("a")), "a")
            .select(F.col("b").alias("id"), F.lit(True).alias("hit"))
            .distinct()
        )
        decided = marked.join(hit, "id", "left").select(
            "id", "prio",
            F.when(F.col("win"), 1).when(F.col("hit"), 0).alias("in_mis"),
        )
        return state.filter(F.col("in_mis").isNotNull()).unionByName(decided)

    # state: every node, in_mis NULL while undecided
    state, _ = superstep(
        nodes.select(
            "id", _prio(F.col("id")).alias("prio"),
            F.lit(None).cast("int").alias("in_mis"),
        ),
        select_round,
        _MIS_ROUNDS,
        metrics={"left": F.count(F.when(F.col("in_mis").isNull(), 1))},
        done=lambda h: not h[-1]["left"],
    )
    return state.select(
        F.col("id").cast("long").alias("id"),
        F.col("in_mis").cast("int").alias("in_mis"),
    )


def _py_greedy_mis(sf_dir: str) -> list[tuple[int, int]]:
    """Sequential greedy MIS in priority order — provably equal to the
    parallel local-minimum iteration; fully independent recomputation
    from doc_ids."""
    adj: dict[int, set] = {}
    for a, b in _py_undirected_edges(sf_dir):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    prio = {k: ((k * 2654435761) % 2147483648) * 4294967296 + k for k in adj}
    mis: set = set()
    blocked: set = set()
    for k in sorted(adj, key=lambda k: prio[k]):
        if k not in blocked:
            mis.add(k)
            blocked |= adj[k]
            blocked.add(k)
    return sorted((k, int(k in mis)) for k in adj)


def _staged_mis_gold(sf_dir: str | None = None) -> str:
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )

    import pandas as pd

    tag = gold_tag(sf_dir, __name__)
    p = f"/tmp/ocr2csv_mis_gold_{tag}.parquet"
    if not os.path.exists(p):
        pd.DataFrame(
            _py_greedy_mis(sf_dir), columns=["id", "in_mis"]
        ).to_parquet(p, index=False)
    return p


def _mis_oracle_sql(sf_dir: str | None = None) -> str:
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    gold = _staged_mis_gold(sf_dir)
    return f"""
        SELECT id::BIGINT AS id, in_mis::INT AS in_mis FROM '{gold}'
    """


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall S with exact tie-corrected 18·Var(S) over the daily
    event-value series (module docstring)."""
    ev = table(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit(TS_FROM).cast("timestamp"))
        & (F.col("ts") < F.lit(TS_TO).cast("timestamp"))
    )
    day = F.datediff(F.col("ts").cast("date"), F.lit("1995-01-01").cast("date"))
    daily = ev.groupBy(day.alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("v")
    ).localCheckpoint()  # calendar-sized; reused by pairs + ties
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(b, F.col("a.d") < F.col("b.d"))
        .select(F.signum(F.col("b.v") - F.col("a.v")).cast("long").alias("sg"))
        .agg(F.sum("sg").alias("s_stat"), F.count(F.lit(1)).alias("n_pairs"))
    )
    ties = daily.groupBy("v").agg(F.count(F.lit(1)).alias("t")).agg(
        F.sum(
            F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
        ).alias("tie_term"),
        F.sum("t").alias("n_days"),
    )
    return (
        s.crossJoin(ties)
        .select(
            "s_stat",
            F.col("n_days").cast("long").alias("n_days"),
            (
                F.col("n_days") * (F.col("n_days") - 1)
                * (2 * F.col("n_days") + 5)
                - F.col("tie_term")
            ).cast("long").alias("var18"),
        )
    )


_MK_SQL = f"""
WITH daily AS (
    SELECT date_diff('day', DATE '1995-01-01', ts::DATE) AS d,
           sum(CAST(round(value * 100) AS BIGINT)) AS v
    FROM events
    WHERE ts >= TIMESTAMP '{TS_FROM}' AND ts < TIMESTAMP '{TS_TO}'
    GROUP BY 1
),
s AS (
    SELECT sum(CASE WHEN b.v > a.v THEN 1
                    WHEN b.v < a.v THEN -1 ELSE 0 END)::BIGINT AS s_stat
    FROM daily a JOIN daily b ON a.d < b.d
),
ties AS (
    SELECT sum(t * (t-1) * (2*t+5))::BIGINT AS tie_term,
           sum(t)::BIGINT AS n_days
    FROM (SELECT count(*)::BIGINT AS t FROM daily GROUP BY v)
)
SELECT s.s_stat, ties.n_days,
       (ties.n_days * (ties.n_days - 1) * (2 * ties.n_days + 5)
        - ties.tie_term)::BIGINT AS var18
FROM s, ties
"""


QUERIES = {
    "luby_mis": q_luby_mis,
    "mann_kendall": q_mann_kendall,
}

ORACLES = {
    "luby_mis": _mis_oracle_sql(),
    "mann_kendall": _MK_SQL,
}
