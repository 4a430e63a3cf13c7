"""Routing heuristics, batch 164: nearest-neighbor TSP construction
and a first-improvement 2-opt pass over hashed city points — the
classic tour heuristics next to transport_nw/lpt_makespan, under the
Manhattan metric so every cost and every improvement test is exact
int64.

Scale design (100 TB):
- N=16 cities are md5-placed on the 4096² grid (data-independent
  literals shared verbatim with the oracle, anchored to the corpus by
  one count). Both heuristics are bounded in-row folds on a one-row
  frame: state = [tour(16), visited-bitmask/cost] packed longs.
- ``tsp_nn``: 15 greedy steps, each an unrolled packed-key argmin
  over the unvisited cities (the transport_lcm device).
- ``tsp_2opt``: ONE first-improvement pass folding over the 105
  (i, j) reversal candidates in lexicographic order — the improvement
  test touches only the 4 edge endpoints (exact Manhattan deltas),
  the accepted reversal rebuilds the tour array by slice/reverse/
  concat. The guarantee 2opt_cost ≤ nn_cost is pinned, as is tour
  validity (a permutation) in both mirrors.

Reference parity: no routing layer in the reference; extends
transport_nw/transport_lcm, lpt_makespan, johnson_flowshop,
closest_pair.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .util import one_row

N_CITY = 16
GRID = 4096
XS = [
    int(hashlib.md5(f"tspx|{i}".encode()).hexdigest()[:8], 16) % GRID
    for i in range(N_CITY)
]
YS = [
    int(hashlib.md5(f"tspy|{i}".encode()).hexdigest()[:8], 16) % GRID
    for i in range(N_CITY)
]
DIST = [
    [abs(XS[i] - XS[j]) + abs(YS[i] - YS[j]) for j in range(N_CITY)]
    for i in range(N_CITY)
]
PAIRS = [
    (i, j) for i in range(1, N_CITY - 1) for j in range(i + 1, N_CITY)
]


def _dist_arr() -> Column:
    # flattened row-major distance matrix as literals
    return F.array(
        *[
            F.lit(DIST[i][j]).cast("long")
            for i in range(N_CITY)
            for j in range(N_CITY)
        ]
    )


def _d(darr: Column, a: Column, b: Column) -> Column:
    return F.element_at(darr, (a * N_CITY + b).cast("int") + 1)


def _nn_tour() -> Column:
    """acc = [tour..., mask] built by 15 greedy steps from city 0."""
    darr = _dist_arr()

    def step(acc, _):
        cur = F.element_at(acc, F.size(acc) - 1)  # last tour element
        mask = F.element_at(acc, -1)
        key = None
        for c in range(N_CITY):
            unvisited = (
                F.floor(mask / F.lit(1 << c).cast("long")) % 2 == 0
            )
            cand = F.when(
                unvisited,
                _d(darr, cur, F.lit(c).cast("long")) * 16 + c,
            ).otherwise(F.lit(1 << 40).cast("long"))
            key = cand if key is None else F.least(key, cand)
        nxt = (key % 16).cast("long")
        return F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(nxt, F.element_at(acc, -1)
                    + F.element_at(
                        F.array(*[F.lit(1 << c).cast("long")
                                  for c in range(N_CITY)]),
                        nxt.cast("int") + 1,
                    )),
        )

    init = F.array(F.lit(0).cast("long"), F.lit(1).cast("long"))
    fin = F.aggregate(
        F.sequence(F.lit(1), F.lit(N_CITY - 1)), init, step
    )
    return F.slice(fin, 1, N_CITY)  # the tour


def _tour_cost(tour: Column) -> Column:
    darr = _dist_arr()
    legs = F.aggregate(
        F.sequence(F.lit(1), F.lit(N_CITY - 1)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + _d(
            darr,
            F.element_at(tour, i.cast("int")),
            F.element_at(tour, i.cast("int") + 1),
        ),
    )
    return legs + _d(
        darr, F.element_at(tour, N_CITY), F.element_at(tour, 1)
    )


def q_tsp_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (module doc): (n_cities, tour, cost)."""
    base = one_row(spark, sf_dir)
    tour = _nn_tour()
    return base.select(
        F.lit(N_CITY).cast("long").alias("n_cities"),
        F.array_join(
            F.transform(tour, lambda x: x.cast("string")), ","
        ).alias("tour"),
        _tour_cost(tour).alias("cost"),
    )


def _two_opt(tour0: Column) -> Column:
    """One first-improvement pass over PAIRS (i, j): reverse
    tour[i+1..j] when it shortens the cycle."""
    darr = _dist_arr()

    def step(acc, p):
        i = F.floor(p / 100).cast("int")
        j = (p % 100).cast("int")
        a = F.element_at(acc, i)
        b = F.element_at(acc, i + 1)
        c = F.element_at(acc, j)
        dd = F.element_at(
            acc, F.when(j == N_CITY, F.lit(1)).otherwise(j + 1)
        )
        delta = (
            _d(darr, a, c) + _d(darr, b, dd)
            - _d(darr, a, b) - _d(darr, c, dd)
        )
        improved = F.concat(
            F.slice(acc, 1, i),
            F.reverse(F.slice(acc, i + 1, j - i)),
            F.slice(acc, j + 1, F.lit(N_CITY) - j),
        )
        return F.when(delta < 0, improved).otherwise(acc)

    pairs = F.array(
        *[F.lit(i * 100 + j).cast("long") for i, j in PAIRS]
    )
    return F.aggregate(pairs, tour0, step)


def q_tsp_2opt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (module doc): (n_cities, tour, cost, nn_cost)."""
    base = one_row(spark, sf_dir)
    nn = _nn_tour()
    base = base.withColumn("nn_tour", nn)
    t2 = _two_opt(F.col("nn_tour"))
    return base.select(
        F.lit(N_CITY).cast("long").alias("n_cities"),
        F.array_join(
            F.transform(t2, lambda x: x.cast("string")), ","
        ).alias("tour"),
        _tour_cost(t2).alias("cost"),
        _tour_cost(F.col("nn_tour")).alias("nn_cost"),
    )


def _darr_sql() -> str:
    return "[" + ", ".join(
        str(DIST[i][j]) for i in range(N_CITY) for j in range(N_CITY)
    ) + "]"


def _dd(a: str, b: str) -> str:
    return f"({_darr_sql()})[({a}) * {N_CITY} + ({b}) + 1]"


def _nn_sql_tour() -> str:
    cands = ", ".join(
        f"(CASE WHEN (acc[-1] // {1 << c}) % 2 = 0 THEN "
        f"{_dd('acc[len(acc) - 1]', str(c))} * 16 + {c} "
        f"ELSE {1 << 40} END)"
        for c in range(N_CITY)
    )
    pows = "[" + ", ".join(str(1 << c) for c in range(N_CITY)) + "]"
    step = (
        f"list_concat(list_slice(acc, 1, len(acc) - 1), "
        f"[least({cands}) % 16, acc[-1] + "
        f"({pows})[(least({cands}) % 16)::INT + 1]])"
    )
    return (
        f"list_slice(list_reduce(list_prepend([0::BIGINT, 1::BIGINT], "
        f"list_transform(generate_series(1, {N_CITY - 1}), "
        f"t -> [t::BIGINT, 0::BIGINT])), (acc, tv) -> {step}), "
        f"1, {N_CITY})"
    )


def _cost_sql(tour: str) -> str:
    legs = (
        f"list_reduce(list_prepend([0::BIGINT], "
        f"list_transform(generate_series(1, {N_CITY - 1}), "
        f"i -> [i::BIGINT])), (acc, iv) -> [acc[1] + "
        f"{_dd(f'({tour})[iv[1]::INT]', f'({tour})[iv[1]::INT + 1]')}])[1]"
    )
    wrap = _dd(f"({tour})[{N_CITY}]", f"({tour})[1]")
    return f"({legs} + {wrap})"


def _two_opt_sql(tour: str) -> str:
    pairs = "[" + ", ".join(str(i * 100 + j) for i, j in PAIRS) + "]"
    a = "acc[(pv[1] // 100)::INT]"
    b = "acc[(pv[1] // 100)::INT + 1]"
    c = "acc[(pv[1] % 100)::INT]"
    d = (
        f"acc[(CASE WHEN pv[1] % 100 = {N_CITY} THEN 1 "
        f"ELSE pv[1] % 100 + 1 END)::INT]"
    )
    delta = (
        f"({_dd(a, c)} + {_dd(b, d)} - {_dd(a, b)} - {_dd(c, d)})"
    )
    improved = (
        f"list_concat(list_concat("
        f"list_slice(acc, 1, (pv[1] // 100)::INT), "
        f"list_reverse(list_slice(acc, (pv[1] // 100)::INT + 1, "
        f"(pv[1] % 100)::INT))), "
        f"list_slice(acc, (pv[1] % 100)::INT + 1, {N_CITY}))"
    )
    step = f"CASE WHEN {delta} < 0 THEN {improved} ELSE acc END"
    return (
        f"list_reduce(list_prepend({tour}, "
        f"list_transform({pairs}, p -> [p::BIGINT])), "
        f"(acc, pv) -> {step})"
    )


_NN_SQL = f"""
WITH base AS (SELECT count(*)::BIGINT AS n_regions FROM region),
t AS (SELECT {_nn_sql_tour()} AS tour FROM base)
SELECT {N_CITY}::BIGINT AS n_cities,
       array_to_string(list_transform(tour, x -> x::VARCHAR), ',')
           AS tour,
       {_cost_sql('tour')}::BIGINT AS cost
FROM t
"""

_T2_SQL = f"""
WITH base AS (SELECT count(*)::BIGINT AS n_regions FROM region),
t AS (SELECT {_nn_sql_tour()} AS nn_tour FROM base),
t2 AS (SELECT nn_tour, {_two_opt_sql('nn_tour')} AS tour FROM t)
SELECT {N_CITY}::BIGINT AS n_cities,
       array_to_string(list_transform(tour, x -> x::VARCHAR), ',')
           AS tour,
       {_cost_sql('tour')}::BIGINT AS cost,
       {_cost_sql('nn_tour')}::BIGINT AS nn_cost
FROM t2
"""

QUERIES = {
    "tsp_nn": q_tsp_nn,
    "tsp_2opt": q_tsp_2opt,
}

ORACLES = {
    "tsp_nn": _NN_SQL,
    "tsp_2opt": _T2_SQL,
}
