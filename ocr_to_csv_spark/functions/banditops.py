"""Online learning, batch 161: UCB1 and explore-then-commit bandit
policies replayed over deterministic Bernoulli reward streams — the
adaptive-experimentation layer next to ab_test/sprt_decision (which
assume fixed allocation), with the exploration/exploitation trade
measured head-to-head on identical arms.

Scale design (100 TB):
- Reward streams are md5-derived per (arm, step) — zero RNG state
  (the block_bootstrap discipline), so both policies replay exactly
  and the oracle re-derives every pull. Each policy is ONE bounded
  in-row fold over the T=64 steps on a one-row frame: state =
  [n_a, s_a per arm] exact int64.
- ``ucb_bandit``: scores s/n + sqrt(2·ln t / n) are leaf-rounded to
  INTEGER nano BEFORE the argmax comparison (packed-key least over
  negated scores), so arm choice never rides a raw float comparison
  across engines; first K steps play each arm once.
- ``etc_bandit``: round-robin exploration for m=8 pulls per arm, then
  commit to the best empirical mean — the comparison clears to exact
  integers (s_a·m vs s_b·m at equal pull counts). The test pins both
  policies above the uniform-play baseline on these streams and
  mirrors every pull.

Reference parity: no online-learning layer in the reference; extends
ab_test, sprt_decision, team_draft, cuped.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .util import one_row

ARMS = (300, 500, 700)  # Bernoulli p in milli
T_STEPS = 64
ETC_M = 8
NANO = 1_000_000_000
KEY_BIG = 10**12  # keys stay positive: (BIG - score)*8 + arm
SUM_BIG = 10**6


def _reward(a: int, t: Column) -> Column:
    """Deterministic Bernoulli(p_a) reward at step t (md5-derived)."""
    from .util import hex32

    return (
        hex32(F.concat(F.lit(f"bd|{a}|"), t.cast("string"))) % 1000
        < ARMS[a]
    ).cast("long")


def q_ucb_bandit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 replay (module doc): one row (t_steps, n_0, n_1, n_2,
    s_total, best_arm)."""
    base = one_row(spark, sf_dir)
    k = len(ARMS)

    def step(acc, t):
        # acc = [n0, n1, n2, s0, s1, s2]
        def ucb_key(a):
            # guards keep the arithmetic finite on the forced steps
            # (t <= K), where these values are never used
            n = F.greatest(F.element_at(acc, a + 1), F.lit(1).cast("long"))
            s = F.element_at(acc, k + a + 1)
            tt = F.greatest(t - 1, F.lit(1)).cast("double")
            score = s.cast("double") / n + F.sqrt(2 * F.ln(tt) / n)
            nano = F.round(score * NANO).cast("long")
            return (F.lit(KEY_BIG).cast("long") - nano) * 8 + a

        forced = t <= k  # play arm t-1 first K steps
        key = F.least(*[ucb_key(a) for a in range(k)])
        arm = F.when(forced, (t - 1).cast("int")).otherwise(
            (key % 8).cast("int")
        )
        r = F.when(arm == 0, _reward(0, t)).otherwise(
            F.when(arm == 1, _reward(1, t)).otherwise(_reward(2, t))
        )
        return F.transform(
            F.sequence(F.lit(1), F.lit(2 * k)),
            lambda i: F.when(i == arm + 1, F.element_at(acc, i) + 1)
            .when(i == k + arm.cast("long") + 1, F.element_at(acc, i) + r)
            .otherwise(F.element_at(acc, i)),
        )

    init = F.array(*[F.lit(0).cast("long") for _ in range(2 * len(ARMS))])
    fin = F.aggregate(
        F.sequence(F.lit(1), F.lit(T_STEPS)), init, step
    )
    best = F.least(
        *[
            (F.lit(SUM_BIG).cast("long")
             - F.element_at(fin, len(ARMS) + a + 1)) * 8 + a
            for a in range(len(ARMS))
        ]
    )
    return base.select(
        F.lit(T_STEPS).cast("long").alias("t_steps"),
        *[
            F.element_at(fin, a + 1).alias(f"n_{a}")
            for a in range(len(ARMS))
        ],
        (
            sum(F.element_at(fin, len(ARMS) + a + 1) for a in range(len(ARMS)))
        ).alias("s_total"),
        (best % 8).cast("long").alias("best_arm"),
    )


def q_etc_bandit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explore-then-commit replay (module doc): same shape as
    q_ucb_bandit."""
    base = one_row(spark, sf_dir)
    k = len(ARMS)
    explore = k * ETC_M

    def step(acc, t):
        arm_explore = ((t - 1) % k).cast("int")
        commit_key = F.least(
            *[
                (F.lit(SUM_BIG).cast("long")
                 - F.element_at(acc, k + a + 1)) * 8 + a
                for a in range(k)
            ]
        )
        arm = F.when(t <= explore, arm_explore).otherwise(
            (commit_key % 8).cast("int")
        )
        r = F.when(arm == 0, _reward(0, t)).otherwise(
            F.when(arm == 1, _reward(1, t)).otherwise(_reward(2, t))
        )
        return F.transform(
            F.sequence(F.lit(1), F.lit(2 * k)),
            lambda i: F.when(i == arm + 1, F.element_at(acc, i) + 1)
            .when(i == k + arm.cast("long") + 1, F.element_at(acc, i) + r)
            .otherwise(F.element_at(acc, i)),
        )

    init = F.array(*[F.lit(0).cast("long") for _ in range(2 * k)])
    fin = F.aggregate(
        F.sequence(F.lit(1), F.lit(T_STEPS)), init, step
    )
    best = F.least(
        *[
            (F.lit(SUM_BIG).cast("long")
             - F.element_at(fin, k + a + 1)) * 8 + a
            for a in range(k)
        ]
    )
    return base.select(
        F.lit(T_STEPS).cast("long").alias("t_steps"),
        *[F.element_at(fin, a + 1).alias(f"n_{a}") for a in range(k)],
        (
            sum(F.element_at(fin, k + a + 1) for a in range(k))
        ).alias("s_total"),
        (best % 8).cast("long").alias("best_arm"),
    )


def _duck_reward(a: int, t: str) -> str:
    return (
        f"(CASE WHEN (('0x' || substr(md5('bd|{a}|' || ({t})::VARCHAR), "
        f"1, 8))::BIGINT) % 1000 < {ARMS[a]} THEN 1 ELSE 0 END)::BIGINT"
    )


def _bandit_sql(ucb: bool) -> str:
    k = len(ARMS)
    if ucb:
        keys = ", ".join(
            f"(({10**12} - CAST(round((CAST(acc[{k + a + 1}] AS DOUBLE) / greatest(acc[{a + 1}], 1)"
            f" + sqrt(2 * ln(greatest(tv[1] - 1, 1)::DOUBLE) / greatest(acc[{a + 1}], 1))) * {NANO}) "
            f"AS BIGINT)) * 8 + {a})"
            for a in range(k)
        )
        arm = (
            f"(CASE WHEN tv[1] <= {k} THEN tv[1] - 1 "
            f"ELSE least({keys}) % 8 END)"
        )
    else:
        keys = ", ".join(
            f"(({10**6} - acc[{k + a + 1}]) * 8 + {a})" for a in range(k)
        )
        arm = (
            f"(CASE WHEN tv[1] <= {k * ETC_M} THEN (tv[1] - 1) % {k} "
            f"ELSE least({keys}) % 8 END)"
        )
    r = (
        f"(CASE WHEN {arm} = 0 THEN {_duck_reward(0, 'tv[1]')} "
        f"WHEN {arm} = 1 THEN {_duck_reward(1, 'tv[1]')} "
        f"ELSE {_duck_reward(2, 'tv[1]')} END)"
    )
    upd = (
        f"list_transform(generate_series(1, {2 * k}), i -> "
        f"CASE WHEN i = {arm} + 1 THEN acc[i] + 1 "
        f"WHEN i = {k} + {arm} + 1 THEN acc[i] + {r} "
        f"ELSE acc[i] END)"
    )
    init = "[" + ", ".join("0::BIGINT" for _ in range(2 * k)) + "]"
    bests = ", ".join(
        f"(({10**6} - fin[{k + a + 1}]) * 8 + {a})" for a in range(k)
    )
    ns = ", ".join(f"fin[{a + 1}]::BIGINT AS n_{a}" for a in range(k))
    stot = " + ".join(f"fin[{k + a + 1}]" for a in range(k))
    return f"""
WITH base AS (SELECT count(*)::BIGINT AS n_regions FROM region),
folded AS (
    SELECT n_regions,
           list_reduce(
               list_prepend({init},
                   list_transform(generate_series(1, {T_STEPS}),
                                  t -> [t::BIGINT])),
               (acc, tv) -> {upd}) AS fin
    FROM base
)
SELECT {T_STEPS}::BIGINT AS t_steps, {ns},
       ({stot})::BIGINT AS s_total,
       (least({bests}) % 8)::BIGINT AS best_arm
FROM folded
"""


QUERIES = {
    "ucb_bandit": q_ucb_bandit,
    "etc_bandit": q_etc_bandit,
}

ORACLES = {
    "ucb_bandit": _bandit_sql(True),
    "etc_bandit": _bandit_sql(False),
}
