"""Approximate counting, batch 163: the Morris counter (the original
1978 approximate counter — count to n in loglog n bits) and the
Flajolet–Martin PCSA distinct sketch (the 1985 ancestor of
hll_distinct) — completing the cardinality-sketch genealogy
(FM → LogLog → HLL already present as hll_distinct/hll_merge).

Scale design (100 TB):
- ``morris_counter``: increments are md5-coin-flipped per (counter,
  step) with acceptance u < 2^(30−c) — zero RNG state, fully
  replayable; K=4 counters × N=2048 steps fold INSIDE one row (exact
  int state), estimates 2^c − 1 audited against the true step count
  with the loglog storage bound visible (c ≤ ~13 for n=2048).
- ``fm_sketch``: per customer key, ρ = position of the lowest set bit
  of the md5 hash; the m=8 group bitmaps build by ONE order-free
  bit_or aggregate (the bloom/rank_select discipline); R_g = lowest
  unset bit per bitmap, and the PCSA estimate m·2^(ΣR/m)/φ is emitted
  in milli (floor — pow-boundary discipline) beside the exact
  distinct count it approximates.

Reference parity: no sketch layer in the reference; extends
hll_distinct, cms_freq, ams_f2, theta_intersect, bloom_fpr_audit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .util import DUCK_HEX32, hex32, one_row, table

MO_COUNTERS = 4
MO_STEPS = 2048
FM_M = 8
FM_BITS = 24
FM_PHI_MICRO = 773510  # φ·1e6


def q_morris_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morris counters (module doc): per counter (counter_id, c_final,
    est, true_n, err_milli)."""
    base = one_row(spark, sf_dir)

    threshs = F.array(
        *[F.lit((1 << 30) >> c).cast("long") for c in range(31)]
    )

    def run(a: int) -> Column:
        def step(acc, t):
            u = hex32(
                F.concat(F.lit(f"mo|{a}|"), t.cast("string"))
            ) % (1 << 30)
            thresh = F.coalesce(
                F.try_element_at(threshs, acc.cast("int") + 1),
                F.lit(0).cast("long"),
            )
            return acc + (u < thresh).cast("long")

        return F.aggregate(
            F.sequence(F.lit(1), F.lit(MO_STEPS)),
            F.lit(0).cast("long"),
            step,
        )

    rows = F.array(
        *[
            F.struct(
                F.lit(a).cast("long").alias("counter_id"),
                run(a).alias("c_final"),
            )
            for a in range(MO_COUNTERS)
        ]
    )
    out = base.select(F.explode(rows).alias("r")).select(
        "r.counter_id", "r.c_final"
    )
    est = F.expr("shiftleft(1L, int(c_final)) - 1")
    return out.select(
        "counter_id",
        "c_final",
        est.alias("est"),
        F.lit(MO_STEPS).cast("long").alias("true_n"),
        F.expr(
            f"(1000 * abs(shiftleft(1L, int(c_final)) - 1 - {MO_STEPS})) "
            f"div {MO_STEPS}"
        ).alias("err_milli"),
    ).orderBy("counter_id")


def q_fm_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCSA distinct estimate over customer keys (module doc): one row
    (n_exact, sum_r, est_milli)."""
    c = table(spark, sf_dir, "customer")
    h = hex32(F.concat(F.lit("fm|"), F.col("c_custkey").cast("string")))
    g = (h % FM_M).alias("grp")
    hv = F.floor(h / FM_M).cast("long")
    # rebuild with pure Column bit test: bit b set iff
    # floor(hv / 2^b) % 2 == 1
    pows = F.array(
        *[F.lit(1 << b).cast("long") for b in range(FM_BITS + 1)]
    )
    rho = F.coalesce(
        F.array_min(
            F.filter(
                F.sequence(F.lit(0), F.lit(FM_BITS - 1)),
                lambda b: (
                    F.floor(hv / F.element_at(pows, b.cast("int") + 1))
                    % 2
                    == 1
                ),
            )
        ),
        F.lit(FM_BITS - 1).cast("long"),
    )
    pts = c.select(g, rho.alias("rho"), F.col("c_custkey"))
    maps = pts.groupBy("grp").agg(
        F.expr("bit_or(shiftleft(1L, int(rho)))").alias("bitmap"),
    )
    rg = maps.select(
        "grp",
        F.coalesce(
            F.array_min(
                F.filter(
                    F.sequence(F.lit(0), F.lit(FM_BITS - 1)),
                    lambda b: (
                        F.floor(
                            F.col("bitmap")
                            / F.element_at(pows, b.cast("int") + 1)
                        )
                        % 2
                        == 0
                    ),
                )
            ),
            F.lit(FM_BITS).cast("long"),
        ).alias("r"),
    )
    exact = c.agg(
        F.countDistinct("c_custkey").cast("long").alias("n_exact")
    )
    agg = rg.agg(F.sum("r").cast("long").alias("sum_r")).crossJoin(
        F.broadcast(exact)
    )
    est = F.expr(
        f"CAST(floor({FM_M} * power(2.0, CAST(sum_r AS DOUBLE) / {FM_M}) "
        f"/ ({FM_PHI_MICRO} / 1e6) * 1000) AS BIGINT)"
    )
    return agg.select("n_exact", "sum_r", est.alias("est_milli"))


def _morris_sql() -> str:
    runs = ", ".join(
        f"""struct_pack(counter_id := {a}::BIGINT, c_final :=
            list_reduce(list_prepend([0::BIGINT],
                list_transform(generate_series(1, {MO_STEPS}),
                               t -> [t::BIGINT])),
                (acc, tv) -> [acc[1] + (CASE WHEN
                    ({DUCK_HEX32.format(x=f"'mo|{a}|' || tv[1]::VARCHAR")})
                    % {1 << 30} < ({1 << 30} >> acc[1]::INT)
                    THEN 1 ELSE 0 END)])[1])"""
        for a in range(MO_COUNTERS)
    )
    return f"""
WITH base AS (SELECT count(*)::BIGINT AS n_regions FROM region),
rows_ AS (
    SELECT unnest([{runs}]) AS r FROM base
)
SELECT (r).counter_id AS counter_id,
       (r).c_final::BIGINT AS c_final,
       ((1::BIGINT << (r).c_final::INT) - 1)::BIGINT AS est,
       {MO_STEPS}::BIGINT AS true_n,
       ((1000 * abs((1::BIGINT << (r).c_final::INT) - 1 - {MO_STEPS}))
           // {MO_STEPS})::BIGINT AS err_milli
FROM rows_
ORDER BY counter_id
"""


def _fm_sql() -> str:
    h = DUCK_HEX32.format(x="'fm|' || c_custkey::VARCHAR")
    return f"""
WITH pts AS (
    SELECT ({h}) % {FM_M} AS grp,
           coalesce(list_min(list_filter(
               generate_series(0, {FM_BITS - 1}),
               b -> (({h}) // {FM_M}) // (1::BIGINT << b::INT) % 2 = 1)),
               {FM_BITS - 1}) AS rho,
           c_custkey
    FROM customer
),
maps AS (
    SELECT grp, bit_or(1::BIGINT << rho::INT) AS bitmap
    FROM pts GROUP BY grp
),
rg AS (
    SELECT grp,
           coalesce(list_min(list_filter(
               generate_series(0, {FM_BITS - 1}),
               b -> bitmap // (1::BIGINT << b::INT) % 2 = 0)),
               {FM_BITS}) AS r
    FROM maps
),
ex AS (SELECT count(DISTINCT c_custkey)::BIGINT AS n_exact FROM customer)
SELECT n_exact,
       (SELECT sum(r) FROM rg)::BIGINT AS sum_r,
       CAST(floor({FM_M} * power(2.0,
           CAST((SELECT sum(r) FROM rg) AS DOUBLE) / {FM_M})
           / ({FM_PHI_MICRO} / 1e6) * 1000) AS BIGINT) AS est_milli
FROM ex
"""


QUERIES = {
    "morris_counter": q_morris_counter,
    "fm_sketch": q_fm_sketch,
}

ORACLES = {
    "morris_counter": _morris_sql(),
    "fm_sketch": _fm_sql(),
}
