"""Optimal stopping, batch 162: the secretary (1/e) rule and a
prophet-inequality threshold rule replayed over deterministic
candidate streams — the two classic online-decision guarantees next
to the bandit replays (ucb/etc), with success/payoff measured against
hindsight optima.

Scale design (100 TB):
- Candidate values are md5-derived per (stream, position) — zero RNG
  state; M=32 streams × N=24 candidates evaluate INSIDE one row (a
  transform over streams with bounded inner folds), anchored to the
  corpus by one count. Everything is exact int64: record maxima,
  stop positions, picked values, per-stream milli ratios.
- ``secretary_stop``: skip ⌊N/e⌋=8, then take the first candidate
  beating the observation-phase record (else the last); success ⇔
  the global argmax was picked. The ≈1/e success probability shows
  up as the success_milli band pinned in the test.
- ``prophet_threshold``: accept the first value ≥ the distribution
  median 2³¹ (values are uniform on [0, 2³²)); the prophet-inequality
  payoff guarantee (≥ half the hindsight max in expectation) is
  pinned on the aggregate milli ratio.

Reference parity: no decision layer in the reference; extends
ucb_bandit/etc_bandit, sprt_decision, team_draft.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .util import DUCK_HEX32, hex32, one_row

M_STREAMS = 32
N_CAND = 24
SKIP = 8  # floor(24/e)
MEDIAN = 1 << 31


def _val(m: Column, i: Column) -> Column:
    return hex32(
        F.concat(
            F.lit("sec|"), m.cast("string"), F.lit("|"), i.cast("string")
        )
    )


def q_secretary_stop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (module doc): (n_streams, n_cand, skip, n_success,
    success_milli)."""
    base = one_row(spark, sf_dir)
    streams = F.transform(
        F.sequence(F.lit(0), F.lit(M_STREAMS - 1)),
        lambda m: _secretary_one(m),
    )
    n_succ = F.aggregate(
        streams, F.lit(0).cast("long"), lambda acc, s: acc + s
    )
    return base.select(
        F.lit(M_STREAMS).cast("long").alias("n_streams"),
        F.lit(N_CAND).cast("long").alias("n_cand"),
        F.lit(SKIP).cast("long").alias("skip"),
        n_succ.alias("n_success"),
        F.floor(n_succ * 1000 / M_STREAMS).cast("long").alias(
            "success_milli"
        ),
    )


def _secretary_one(m: Column) -> Column:
    idx = F.sequence(F.lit(1), F.lit(N_CAND))
    vals = F.transform(idx, lambda i: _val(m, i))
    record = F.array_max(F.slice(vals, 1, SKIP))
    # first beater after the observation phase (0 if none)
    beater = F.coalesce(
        F.array_min(
            F.filter(
                idx,
                lambda i: (i > SKIP)
                & (F.element_at(vals, i.cast("int")) > record),
            )
        ),
        F.lit(N_CAND).cast("long"),
    )
    picked = F.element_at(vals, beater.cast("int"))
    return (picked == F.array_max(vals)).cast("long")


def q_prophet_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (module doc): (n_streams, n_cand, total_ratio_milli,
    mean_ratio_milli)."""
    base = one_row(spark, sf_dir)

    def one(m):
        idx = F.sequence(F.lit(1), F.lit(N_CAND))
        vals = F.transform(idx, lambda i: _val(m, i))
        first = F.coalesce(
            F.array_min(
                F.filter(
                    idx,
                    lambda i: F.element_at(vals, i.cast("int"))
                    >= MEDIAN,
                )
            ),
            F.lit(N_CAND).cast("long"),
        )
        picked = F.element_at(vals, first.cast("int"))
        mx = F.array_max(vals)
        return F.floor((1000 * picked) / mx).cast("long")

    streams = F.transform(
        F.sequence(F.lit(0), F.lit(M_STREAMS - 1)), one
    )
    tot = F.aggregate(
        streams, F.lit(0).cast("long"), lambda acc, s: acc + s
    )
    return base.select(
        F.lit(M_STREAMS).cast("long").alias("n_streams"),
        F.lit(N_CAND).cast("long").alias("n_cand"),
        tot.alias("total_ratio_milli"),
        F.floor(tot / M_STREAMS).cast("long").alias("mean_ratio_milli"),
    )


def _v_sql(m: str, i: str) -> str:
    return DUCK_HEX32.format(
        x=f"'sec|' || ({m})::VARCHAR || '|' || ({i})::VARCHAR"
    )


_SEC_SQL = f"""
WITH base AS (SELECT count(*)::BIGINT AS n_regions FROM region),
per AS (
    SELECT list_sum(list_transform(generate_series(0, {M_STREAMS - 1}),
        m -> (CASE WHEN
            ((list_transform(generate_series(1, {N_CAND}),
                i -> {_v_sql('m', 'i')}))[
             coalesce(list_min(list_filter(generate_series(1, {N_CAND}),
                i -> i > {SKIP} AND {_v_sql('m', 'i')} >
                    list_max(list_transform(generate_series(1, {SKIP}),
                             j -> {_v_sql('m', 'j')})))), {N_CAND})]
             = list_max(list_transform(generate_series(1, {N_CAND}),
                        i -> {_v_sql('m', 'i')})))
            THEN 1 ELSE 0 END)::BIGINT))::BIGINT AS n_success
    FROM base
)
SELECT {M_STREAMS}::BIGINT AS n_streams, {N_CAND}::BIGINT AS n_cand,
       {SKIP}::BIGINT AS skip, n_success,
       ((n_success * 1000) // {M_STREAMS})::BIGINT AS success_milli
FROM per
"""

_PRO_SQL = f"""
WITH base AS (SELECT count(*)::BIGINT AS n_regions FROM region),
per AS (
    SELECT list_sum(list_transform(generate_series(0, {M_STREAMS - 1}),
        m -> floor((1000.0 *
            (list_transform(generate_series(1, {N_CAND}),
                i -> {_v_sql('m', 'i')}))[
             coalesce(list_min(list_filter(generate_series(1, {N_CAND}),
                i -> {_v_sql('m', 'i')} >= {MEDIAN})), {N_CAND})])
            / list_max(list_transform(generate_series(1, {N_CAND}),
                       i -> {_v_sql('m', 'i')})))::BIGINT))::BIGINT
        AS total_ratio_milli
    FROM base
)
SELECT {M_STREAMS}::BIGINT AS n_streams, {N_CAND}::BIGINT AS n_cand,
       total_ratio_milli,
       floor(total_ratio_milli / {M_STREAMS}.0)::BIGINT
           AS mean_ratio_milli
FROM per
"""

QUERIES = {
    "secretary_stop": q_secretary_stop,
    "prophet_threshold": q_prophet_threshold,
}

ORACLES = {
    "secretary_stop": _SEC_SQL,
    "prophet_threshold": _PRO_SQL,
}
