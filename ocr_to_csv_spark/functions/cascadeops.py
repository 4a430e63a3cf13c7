"""Network-process operators, batch 123: deterministic linear-threshold
influence cascade over the directed link graph, and parallel greedy
maximal matching (local-minimum edge selection ≡ sequential greedy on
the priority order) — the diffusion and pairing primitives next to
luby_mis in the distributed-algorithms family.

Scale design (100 TB):
- ``cascade_spread``: seeds are a map-side predicate (id % 97 == 0);
  each round is ONE edges⋈active equi-join + one (node) keyed count
  compared against the node's hash-derived integer threshold — the
  pagerank superstep shape, unrolled to R=3 rounds. Thresholds are
  md5-derived literal-free expressions (hex32, shared with the DuckDB
  oracle verbatim), so the cascade is bit-deterministic. Output is
  round-bounded (4 rows): actives + newly-activated per round.
- ``greedy_matching``: edges carry the injective priority
  (hex32('m|lo|hi'), lo, hi); per round an edge joins the matching iff
  its priority is the strict minimum among live edges at BOTH
  endpoints — two keyed min-aggs + one join per round, matched
  endpoints drop by left_anti, one ``util.superstep`` round each, and
  the loop ends when no live edge remains. The parallel local-min
  iteration provably equals the SEQUENTIAL greedy matching in priority
  order (the luby_mis argument on the line graph), so the independent
  pure-python greedy is the golden oracle (misops staged-gold
  pattern).

Reference parity: no graph layer in the reference; extends the
distributed-combinatorics family (luby_mis, boruvka_msf, k_truss,
stable_matching) with diffusion + matching.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .graphtext import _edges
from .linkpred import _EDGES_SQL, _py_undirected_edges, _undirected_edges
from .util import gold_tag, DUCK_HEX32, hex32, superstep, table

CASCADE_R = 3  # propagation rounds
SEED_MOD = 97  # id % SEED_MOD == 0 seeds the cascade
MATCH_ROUNDS = 24  # fixpoint guard; the loop exits when no live edge remains


def q_cascade_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-threshold cascade (module doc): per round
    (round, n_active, n_new)."""
    d = table(spark, sf_dir, "documents")
    n = d.count()
    nodes = d.select(F.col("doc_id").cast("long").alias("id"))
    edges = _edges(nodes, n).filter(F.col("src") != F.col("dst"))
    th = (hex32(F.concat(F.lit("th|"), F.col("id").cast("string"))) % 2 + 1).alias(
        "theta"
    )
    thresh = nodes.select("id", th)

    def spread(active, _r):
        influenced = (
            edges.join(active.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.count(F.lit(1)).alias("n_act"))
        )
        newly = (
            influenced.join(thresh, "id")
            .filter(F.col("n_act") >= F.col("theta"))
            .select("id")
            .join(active, "id", "left_anti")
        )
        return active.unionByName(newly)

    _, hist = superstep(
        nodes.filter(F.col("id") % SEED_MOD == 0).select("id"),
        spread,
        CASCADE_R,
        metrics={"n": F.count(F.lit(1))},
    )
    n_act = [h["n"] for h in hist]
    counts = [
        (r, n_act[r], n_act[r] - (n_act[r - 1] if r else 0))
        for r in range(len(n_act))
    ]
    return spark.createDataFrame(
        counts, "round long, n_active long, n_new long"
    ).orderBy("round")


_CASCADE_H = DUCK_HEX32.format(x="'th|' || id::VARCHAR")


def _cascade_sql() -> str:
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
thresh AS (SELECT id, ({_CASCADE_H}) % 2 + 1 AS theta FROM nodes),
a0 AS (SELECT id FROM nodes WHERE id % {SEED_MOD} = 0)"""
    layers = [base]
    for r in range(1, CASCADE_R + 1):
        layers.append(f"""
a{r} AS (
    SELECT id FROM a{r - 1}
    UNION
    SELECT i.id FROM (
        SELECT e.dst AS id, count(*) AS n_act
        FROM edges e JOIN a{r - 1} a ON a.id = e.src
        GROUP BY e.dst
    ) i JOIN thresh t ON t.id = i.id
    WHERE i.n_act >= t.theta
)""")
    selects = " UNION ALL ".join(
        f"SELECT {r}::BIGINT AS round, (SELECT count(*) FROM a{r})::BIGINT "
        f"AS n_active, ((SELECT count(*) FROM a{r}) "
        f"- (SELECT count(*) FROM a{max(r - 1, 0) if r else 0})"
        f"{' * 0' if r == 0 else ''})::BIGINT AS n_new"
        for r in range(0, CASCADE_R + 1)
    )
    return "WITH " + ",".join(layers) + "\n" + selects + "\nORDER BY round"


def q_greedy_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel greedy maximal matching (module doc): matched edges
    (lo, hi)."""
    ue = _undirected_edges(spark, sf_dir)
    h = hex32(
        F.concat(
            F.lit("m|"),
            F.col("lo").cast("string"),
            F.lit("|"),
            F.col("hi").cast("string"),
        )
    )

    def match(state, _r):
        live = state.filter(~F.col("matched"))
        pr = F.struct("h", "lo", "hi")
        ends = live.select(F.col("lo").alias("node"), pr.alias("p")).unionByName(
            live.select(F.col("hi").alias("node"), pr.alias("p"))
        )
        nmin = ends.groupBy("node").agg(F.min("p").alias("pmin"))
        wins = (
            live.join(nmin.withColumnRenamed("node", "lo"), "lo")
            .withColumnRenamed("pmin", "pmin_lo")
            .join(nmin.withColumnRenamed("node", "hi"), "hi")
            .withColumnRenamed("pmin", "pmin_hi")
            .filter(
                (F.struct("h", "lo", "hi") == F.col("pmin_lo"))
                & (F.struct("h", "lo", "hi") == F.col("pmin_hi"))
            )
            .select("lo", "hi", "h", F.lit(True).alias("matched"))
        )
        used = wins.select(F.col("lo").alias("node")).unionByName(
            wins.select(F.col("hi").alias("node"))
        )
        rest = (
            live.join(used.withColumnRenamed("node", "lo"), "lo", "left_anti")
            .join(used.withColumnRenamed("node", "hi"), "hi", "left_anti")
            .select("lo", "hi", "h", "matched")
        )
        return state.filter(F.col("matched")).unionByName(wins).unionByName(rest)

    state, _ = superstep(
        ue.select("lo", "hi", h.alias("h"), F.lit(False).alias("matched")),
        match,
        MATCH_ROUNDS,
        metrics={"live": F.sum((~F.col("matched")).cast("long"))},
        done=lambda hist: not hist[-1]["live"],
    )
    return state.filter(F.col("matched")).select(
        F.col("lo").cast("long").alias("lo"), F.col("hi").cast("long").alias("hi")
    ).orderBy("lo", "hi")


def _py_greedy_matching(sf_dir: str) -> list[tuple[int, int]]:
    """Sequential greedy matching in (hash, lo, hi) priority order —
    fully independent recomputation from doc_ids."""
    import hashlib

    ue = _py_undirected_edges(sf_dir)

    def h(lo, hi):
        return int(
            hashlib.md5(f"m|{lo}|{hi}".encode()).hexdigest()[:8], 16
        )

    taken: set = set()
    out = []
    for lo, hi in sorted(ue, key=lambda e: (h(*e), e[0], e[1])):
        if lo not in taken and hi not in taken:
            out.append((lo, hi))
            taken.add(lo)
            taken.add(hi)
    return sorted(out)


def _staged_matching_gold(sf_dir: str | None = None) -> str:
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )

    import pandas as pd

    tag = gold_tag(sf_dir, __name__)
    p = f"/tmp/ocr2csv_matching_gold_{tag}.parquet"
    if not os.path.exists(p):
        pd.DataFrame(
            _py_greedy_matching(sf_dir), columns=["lo", "hi"]
        ).to_parquet(p, index=False)
    return p


def _matching_oracle_sql() -> str:
    gold = _staged_matching_gold()
    return f"SELECT lo::BIGINT AS lo, hi::BIGINT AS hi FROM '{gold}' ORDER BY lo, hi"


QUERIES = {
    "cascade_spread": q_cascade_spread,
    "greedy_matching": q_greedy_matching,
}

ORACLES = {
    "cascade_spread": _cascade_sql(),
    "greedy_matching": _matching_oracle_sql(),
}
