"""Matching + agreement surface, batch 57: one deferred-acceptance
matching round (the Gale–Shapley/auction primitive for assignment at
scale) and Cohen's kappa between two of the repo's own quality
classifiers (inter-rater reliability — the metric that says whether
two curation filters agree beyond chance).

Scale design (100 TB):
- ``stable_match_round``: candidate generation is the grid-bucketed
  radius join (``geoops`` — equi-join, never all-pairs); a round is
  then two keyed min_by aggregations — every customer proposes to its
  nearest in-radius supplier, every supplier accepts its nearest
  proposer. Deterministic tie-breaks on (dist2, key). Full stable
  matching iterates this round on the rejected side; one round is the
  building block and is itself useful (greedy assignment).
- ``cohens_kappa``: composes two EXISTING oracle-checked classifiers
  (quality_score's band, gopher_quality's rule card) — one doc-keyed
  join, one aggregate to the 2×2 contingency, kappa emitted as the
  exact rational (N·Σdiag − Σrᵢcᵢ) / (N² − Σrᵢcᵢ); no float crosses
  engines.

Reference parity: no matching/agreement layer in the reference;
extends ``geoops`` (candidates) and audits the curation layer against
itself.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .curation8 import ORACLES as C8_ORACLES
from .geoops import _GEO_SQL, q_geo_grid_join
from .textops import ORACLES as TX_ORACLES
from .util import gold_tag, superstep

GS_ROUNDS = 64  # fixpoint guard; rounds ≤ max candidates per customer


def q_stable_match_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One propose-accept matching round over in-radius
    (supplier, customer) candidates: customers propose to their
    nearest supplier, suppliers accept their nearest proposer."""
    cand = q_geo_grid_join(spark, sf_dir)
    prop = cand.groupBy("c_custkey").agg(
        F.min_by(
            "s_suppkey",
            F.struct(F.col("dist2").alias("d"),
                     F.col("s_suppkey").alias("k")),
        ).alias("s_suppkey"),
        F.min(F.struct(F.col("dist2").alias("d"),
                       F.col("s_suppkey").alias("k"))).alias("pd"),
    ).select("c_custkey", "s_suppkey", F.col("pd.d").alias("dist2"))
    return prop.groupBy("s_suppkey").agg(
        F.min_by(
            "c_custkey",
            F.struct(F.col("dist2").alias("d"),
                     F.col("c_custkey").alias("k")),
        ).alias("c_custkey"),
        F.min(F.struct(F.col("dist2").alias("d"),
                       F.col("c_custkey").alias("k"))).alias("ad"),
    ).select("s_suppkey", "c_custkey", F.col("ad.d").alias("dist2"))


# DuckDB's min_by has no struct ordering — encode the (dist2, key)
# lexicographic tie-break as one scalar (keys < 10^7 in every sf)
_MATCH_SQL = f"""
WITH cand AS ({_GEO_SQL}),
prop AS (
    SELECT c_custkey,
           min_by(s_suppkey, dist2 * 10000000 + s_suppkey) AS s_suppkey,
           min(dist2) AS dist2
    FROM cand GROUP BY c_custkey
)
SELECT s_suppkey,
       min_by(c_custkey, dist2 * 10000000 + c_custkey) AS c_custkey,
       min(dist2)::BIGINT AS dist2
FROM prop GROUP BY s_suppkey
"""


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between rater A = (quality_score band == 'keep')
    and rater B = gopher_quality's keep flag, as an exact rational."""
    from .curation8 import q_gopher_quality
    from .textops import q_quality_score

    a = q_quality_score(spark, sf_dir).select(
        "doc_id", (F.col("band") == "keep").cast("int").alias("a")
    )
    b = q_gopher_quality(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("int").alias("b")
    )
    j = a.join(b, "doc_id")
    agg = j.agg(
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"),
    )
    n = F.col("n11") + F.col("n10") + F.col("n01") + F.col("n00")
    sum_rc = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    )
    return agg.select(
        "n11", "n10", "n01", "n00",
        (n * (F.col("n11") + F.col("n00")) - sum_rc).alias("kappa_num"),
        (n * n - sum_rc).alias("kappa_den"),
    )


def _kappa_sql() -> str:
    return f"""
        WITH qa AS ({TX_ORACLES["quality_score"]}),
        qb AS ({C8_ORACLES["gopher_quality"]}),
        j AS (
            SELECT CASE WHEN qa.band = 'keep' THEN 1 ELSE 0 END AS a,
                   qb.keep AS b
            FROM qa JOIN qb USING (doc_id)
        ),
        c AS (
            SELECT sum(a * b) AS n11, sum(a * (1 - b)) AS n10,
                   sum((1 - a) * b) AS n01,
                   sum((1 - a) * (1 - b)) AS n00
            FROM j
        )
        SELECT n11::BIGINT AS n11, n10::BIGINT AS n10,
               n01::BIGINT AS n01, n00::BIGINT AS n00,
               ((n11 + n10 + n01 + n00) * (n11 + n00)
                - ((n11 + n10) * (n11 + n01)
                   + (n01 + n00) * (n10 + n00)))::BIGINT AS kappa_num,
               ((n11 + n10 + n01 + n00) * (n11 + n10 + n01 + n00)
                - ((n11 + n10) * (n11 + n01)
                   + (n01 + n00) * (n10 + n00)))::BIGINT AS kappa_den
        FROM c
    """


def q_stable_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL Gale–Shapley deferred acceptance over the in-radius
    candidates (customers propose): iterate the propose-accept round,
    rejected proposals accumulate, freed customers re-propose to their
    next-nearest supplier, until no proposal is rejected. Strict
    preferences ((dist2, key) total order) make the customer-optimal
    outcome unique, so the pure-Python textbook implementation is an
    independent oracle.

    Scale shape: per round two keyed aggregations + one anti-join
    against the rejected-pair set (bounded by |candidates|); one
    ``util.superstep`` round each; rounds ≤ max candidates per customer
    (a constant of the radius, not of data size)."""
    cand = q_geo_grid_join(spark, sf_dir).localCheckpoint()

    def propose(state, _r):
        tentative = state.filter(~F.col("rej")).select(
            "s_suppkey", "c_custkey", "dist2"
        )
        avail = cand.join(
            state.filter(F.col("rej")).select("c_custkey", "s_suppkey"),
            ["c_custkey", "s_suppkey"],
            "left_anti",
        ).join(tentative.select("c_custkey"), "c_custkey", "left_anti")
        props = avail.groupBy("c_custkey").agg(
            F.min_by(
                "s_suppkey",
                F.struct(F.col("dist2").alias("d"),
                         F.col("s_suppkey").alias("k")),
            ).alias("s_suppkey"),
            F.min(F.struct(F.col("dist2").alias("d"),
                           F.col("s_suppkey").alias("k"))).alias("pd"),
        ).select("c_custkey", "s_suppkey", F.col("pd.d").alias("dist2"))
        pool = props.unionByName(tentative)
        new_tent = pool.groupBy("s_suppkey").agg(
            F.min_by(
                "c_custkey",
                F.struct(F.col("dist2").alias("d"),
                         F.col("c_custkey").alias("k")),
            ).alias("c_custkey"),
            F.min(F.struct(F.col("dist2").alias("d"),
                           F.col("c_custkey").alias("k"))).alias("ad"),
        ).select("s_suppkey", "c_custkey", F.col("ad.d").alias("dist2"))
        losers = pool.join(new_tent, ["s_suppkey", "c_custkey"], "left_anti")
        return (
            new_tent.withColumn("rej", F.lit(False))
            .unionByName(state.filter(F.col("rej")))
            .unionByName(losers.withColumn("rej", F.lit(True)))
        )

    # state: tentative pairs and rejected pairs (rej). Rejections only
    # accumulate and every loser is a new one, so an unchanged rejected
    # count means the last round rejected nothing: the fixpoint
    state, _ = superstep(
        cand.select(
            "c_custkey", "s_suppkey", "dist2", F.lit(False).alias("rej")
        ).filter(F.lit(False)),
        propose,
        GS_ROUNDS,
        metrics={"rej": F.count(F.when(F.col("rej"), 1))},
        done=lambda h: len(h) > 1 and h[-1]["rej"] == h[-2]["rej"],
    )
    return state.filter(~F.col("rej")).select("s_suppkey", "c_custkey", "dist2")


def _py_points_and_candidates(sf_dir: str):
    """Pure-Python recomputation of the geo candidates from first
    principles (keys → modular points → in-radius pairs) — fully
    independent of the Spark plan."""
    import glob

    import pandas as pd

    def keys(tbl, col):
        files = sorted(glob.glob(f"{sf_dir}/{tbl}.parquet")) or sorted(
            glob.glob(f"{sf_dir}/{tbl}.parquet/*.parquet")
        )
        return pd.concat([pd.read_parquet(f, columns=[col])
                          for f in files])[col].tolist()

    cust = {k: (k * 37 % 1000, k * 91 % 1000)
            for k in keys("customer", "c_custkey")}
    supp = {k: (k * 53 % 1000, k * 17 % 1000)
            for k in keys("supplier", "s_suppkey")}
    cand = {}
    for c, (cx, cy) in cust.items():
        for s, (sx, sy) in supp.items():
            d2 = (cx - sx) ** 2 + (cy - sy) ** 2
            if d2 <= 64:
                cand[(c, s)] = d2
    return cand


def _py_gale_shapley(cand: dict) -> list[tuple]:
    """Textbook customer-proposing deferred acceptance."""
    prefs: dict = {}
    for (c, s), d in cand.items():
        prefs.setdefault(c, []).append((d, s))
    for c in prefs:
        prefs[c].sort()
    nxt = {c: 0 for c in prefs}
    held: dict = {}  # s -> (d, c)
    free = list(prefs)
    while free:
        c = free.pop()
        while nxt[c] < len(prefs[c]):
            d, s = prefs[c][nxt[c]]
            nxt[c] += 1
            cur = held.get(s)
            if cur is None or (d, c) < cur:
                if cur is not None:
                    free.append(cur[1])
                held[s] = (d, c)
                break
    return sorted((s, c, d) for s, (d, c) in held.items())


def _staged_matching_gold(sf_dir: str) -> str:
    """Golden stable matching from the independent pure-Python
    implementation, staged per sf dir."""

    import pandas as pd

    tag = gold_tag(sf_dir, __name__)
    p = f"/tmp/ocr2csv_match_gold_{tag}.parquet"
    if not os.path.exists(p):
        rows = _py_gale_shapley(_py_points_and_candidates(sf_dir))
        pd.DataFrame(
            rows, columns=["s_suppkey", "c_custkey", "dist2"]
        ).to_parquet(p, index=False)
    return p


def _matching_oracle_sql(sf_dir: str | None = None) -> str:
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    gold = _staged_matching_gold(sf_dir)
    return f"""
        SELECT s_suppkey::BIGINT AS s_suppkey,
               c_custkey::BIGINT AS c_custkey, dist2::BIGINT AS dist2
        FROM '{gold}'
    """


QUERIES = {
    "stable_match_round": q_stable_match_round,
    "cohens_kappa": q_cohens_kappa,
    "stable_matching": q_stable_matching,
}

ORACLES = {
    "stable_match_round": _MATCH_SQL,
    "cohens_kappa": _kappa_sql(),
    "stable_matching": _matching_oracle_sql(),
}
