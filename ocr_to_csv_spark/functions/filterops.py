"""Probabilistic-filter construction, batch 153: the XOR/BDZ-filter
peeling process and a measured-vs-theory Bloom false-positive audit —
the static-filter build primitive (peelability is THE
xor-filter feasibility condition) next to bloom_semi_join/cms_freq,
and the calibration check that a deployed Bloom's FPR matches
(1−e^{−kn/m})^k.

Scale design (100 TB):
- ``xor_peel``: the 3-uniform hypergraph (key → 3 md5 cells in
  m = ⌊1.40n⌋+1) peels by rounds: a cell with exactly ONE incident
  key releases that key. Each round = ONE (cell) keyed count + ONE
  semi-join back to the live keys — the connected-components round
  shape, one ``util.superstep`` round each, K=12 rounds (peeling completes in
  O(log n) rounds whp at this load). c*≈1.23 is the ASYMPTOTIC
  peelability threshold; at the small n of the test corpora the 2-core
  fluctuations bite, so this build uses the slack tier c = 1.40
  (production xor filters instead segment + retry with a fresh seed).
  Output: counts + the success flag (all peeled ⇔ the xor filter is
  constructible) — pinned true in the test.
- ``bloom_fpr_audit``: the filter is built COMMUTATIVELY — per-key
  bit positions explode to (word, mask) and ONE bit_or aggregate per
  32-bit word (order-free, shuffle-safe); probes (a disjoint key set)
  join the word table and count keys with all k=3 bits set — every
  such hit is a false positive by construction. Measured FPR in exact
  milli vs the theoretical rate (one pow chain, milli-rounded).

Reference parity: no filter layer in the reference; extends
bloom_semi_join, cms_freq, hll_distinct, ring_rebalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .util import DUCK_HEX32, hex32, superstep, table

PEEL_ROUNDS = 12
PEEL_C_MILLI = 1400  # m = floor(1.40 n) + 1 (see module doc)
BLOOM_M = 4096
BLOOM_WORDS = BLOOM_M // 32
BLOOM_K = 3


def _key_cells(keys: DataFrame, m_col) -> DataFrame:
    """(key, cell) — 3 hash cells per key."""
    parts = []
    for h in range(3):
        parts.append(
            keys.select(
                "key",
                (
                    hex32(
                        F.concat(
                            F.lit(f"xp{h}|"), F.col("key").cast("string")
                        )
                    )
                    % m_col
                ).alias("cell"),
            )
        )
    return parts[0].unionByName(parts[1]).unionByName(parts[2])


def q_xor_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (module doc): (n_keys, m_cells, n_peeled, success)."""
    c = table(spark, sf_dir, "customer")
    keys = c.select(F.col("c_custkey").cast("long").alias("key"))
    n = keys.count()
    m = (n * PEEL_C_MILLI) // 1000 + 1

    def peel(live, _r):
        kc = _key_cells(live, F.lit(m))
        singles = (
            kc.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") == 1)
            .select("cell")
        )
        peeled = kc.join(singles, "cell").select("key").distinct()
        return live.join(peeled, "key", "left_anti")

    _, hist = superstep(
        keys, peel, PEEL_ROUNDS, metrics={"n": F.count(F.lit(1))}
    )
    n_rem = hist[-1]["n"]
    return spark.createDataFrame(
        [(n, m, n - n_rem, int(n_rem == 0))],
        "n_keys long, m_cells long, n_peeled long, success long",
    )


def q_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (module doc): (n_build, n_probe, n_fp, fp_milli,
    theory_milli)."""
    c = table(spark, sf_dir, "customer")
    keys = c.select(F.col("c_custkey").cast("long").alias("key"))
    build = keys.filter(F.col("key") % 2 == 0)
    probe = keys.filter(F.col("key") % 2 == 1)

    def bits(df):
        parts = []
        for h in range(BLOOM_K):
            p = hex32(
                F.concat(F.lit(f"bf{h}|"), F.col("key").cast("string"))
            ) % BLOOM_M
            parts.append(
                df.select(
                    "key",
                    F.floor(p / 32).cast("long").alias("word"),
                    F.expr(
                        f"shiftleft(1L, int(({DUCK_SPARK_P.format(h=h)})"
                        f" % 32))"
                    ).alias("mask"),
                )
            )
        out = parts[0]
        for pp in parts[1:]:
            out = out.unionByName(pp)
        return out

    bb = bits(build)
    words = bb.groupBy("word").agg(F.expr("bit_or(mask)").alias("bitsw"))
    pb = bits(probe)
    checked = pb.join(F.broadcast(words), "word", "left").select(
        "key",
        (
            F.coalesce(F.expr("bitsw & mask"), F.lit(0)) != 0
        ).cast("long").alias("hit"),
    )
    per_key = checked.groupBy("key").agg(F.sum("hit").alias("n_set"))
    agg = per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe"),
        F.sum((F.col("n_set") == BLOOM_K).cast("long"))
        .cast("long")
        .alias("n_fp"),
    )
    n_build = build.count()
    # floor, not round: the true value sits near a .5 boundary where a
    # 1-ulp pow() divergence between engines would flip round()
    theory = (
        f"CAST(floor(power(1 - power(1 - 1.0/{BLOOM_M}, "
        f"{BLOOM_K} * {n_build}), {BLOOM_K}) * 1000) AS BIGINT)"
    )
    return agg.select(
        F.lit(n_build).cast("long").alias("n_build"),
        "n_probe",
        "n_fp",
        F.expr("(1000 * n_fp) div n_probe").alias("fp_milli"),
        F.expr(theory).alias("theory_milli"),
    )


# the Spark-side bit position expression must be textual for shiftleft;
# mirror of hex32(...) % BLOOM_M
DUCK_SPARK_P = (
    "conv(substring(md5(encode(concat('bf{h}|', cast(key as string)), "
    f"'UTF-8')), 1, 8), 16, 10) % {BLOOM_M}"
)


def _peel_sql() -> str:
    cells = " UNION ALL ".join(
        f"SELECT key, ({DUCK_HEX32.format(x=chr(39) + f'xp{h}|' + chr(39) + ' || key::VARCHAR')}) % (SELECT m FROM mm) AS cell FROM {{src}}"
        for h in range(3)
    )
    layers = [
        "k0 AS (SELECT c_custkey::BIGINT AS key FROM customer)",
        "nn AS (SELECT count(*)::BIGINT AS n FROM k0)",
        f"mm AS (SELECT (n * {PEEL_C_MILLI}) // 1000 + 1 AS m FROM nn)",
    ]
    prev = "k0"
    for r in range(PEEL_ROUNDS):
        layers.append(
            f"e{r} AS MATERIALIZED ({cells.format(src=prev)})"
        )
        layers.append(
            f"s{r} AS (SELECT cell FROM e{r} GROUP BY cell "
            f"HAVING count(*) = 1)"
        )
        layers.append(
            f"p{r} AS (SELECT DISTINCT key FROM e{r} JOIN s{r} USING (cell))"
        )
        layers.append(
            f"k{r + 1} AS MATERIALIZED (SELECT key FROM {prev} WHERE key NOT IN "
            f"(SELECT key FROM p{r}))"
        )
        prev = f"k{r + 1}"
    return (
        "WITH " + ",\n".join(layers) + f"""
SELECT (SELECT n FROM nn) AS n_keys,
       (SELECT m FROM mm) AS m_cells,
       ((SELECT n FROM nn) - count(*))::BIGINT AS n_peeled,
       (count(*) = 0)::BIGINT AS success
FROM {prev}
"""
    )


def _bloom_sql() -> str:
    def pexpr(h, key="key"):
        return (
            f"({DUCK_HEX32.format(x=chr(39) + f'bf{h}|' + chr(39) + ' || ' + key + '::VARCHAR')}) % {BLOOM_M}"
        )

    bbits = " UNION ALL ".join(
        f"SELECT key, ({pexpr(h)}) // 32 AS word, "
        f"(1::BIGINT << (({pexpr(h)}) % 32)::INT) AS mask FROM build"
        for h in range(BLOOM_K)
    )
    pbits = " UNION ALL ".join(
        f"SELECT key, ({pexpr(h)}) // 32 AS word, "
        f"(1::BIGINT << (({pexpr(h)}) % 32)::INT) AS mask FROM probe"
        for h in range(BLOOM_K)
    )
    return f"""
WITH keys AS (SELECT c_custkey::BIGINT AS key FROM customer),
build AS (SELECT key FROM keys WHERE key % 2 = 0),
probe AS (SELECT key FROM keys WHERE key % 2 = 1),
bb AS ({bbits}),
words AS (SELECT word, bit_or(mask) AS bitsw FROM bb GROUP BY word),
pb AS ({pbits}),
checked AS (
    SELECT pb.key,
           (CASE WHEN coalesce(w.bitsw & pb.mask, 0) <> 0 THEN 1 ELSE 0
            END)::BIGINT AS hit
    FROM pb LEFT JOIN words w USING (word)
),
per_key AS (SELECT key, sum(hit) AS n_set FROM checked GROUP BY key),
agg AS (
    SELECT count(*)::BIGINT AS n_probe,
           sum(CASE WHEN n_set = {BLOOM_K} THEN 1 ELSE 0 END)::BIGINT
               AS n_fp
    FROM per_key
),
nb AS (SELECT count(*)::BIGINT AS n_build FROM build)
SELECT n_build, n_probe, n_fp,
       ((1000 * n_fp) // n_probe)::BIGINT AS fp_milli,
       CAST(floor(power(1 - power(1 - 1.0/{BLOOM_M},
           {BLOOM_K} * n_build), {BLOOM_K}) * 1000) AS BIGINT)
           AS theory_milli
FROM agg, nb
"""


QUERIES = {
    "xor_peel": q_xor_peel,
    "bloom_fpr_audit": q_bloom_fpr_audit,
}

ORACLES = {
    "xor_peel": _peel_sql(),
    "bloom_fpr_audit": _bloom_sql(),
}
