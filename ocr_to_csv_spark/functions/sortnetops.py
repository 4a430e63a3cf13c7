"""Sorting primitives, batch 168: Batcher's odd-even merge network and
pancake sort over hashed 16-element arrays — the data-oblivious
comparator network behind distributed/hardware sorting (a FIXED
comparator sequence, no data-dependent control flow: exactly the shape
a vectorized or secure-computation sort uses) and the prefix-reversal
classic, both with their structural guarantees pinned.

Scale design (100 TB):
- Inputs are md5-derived 16-long arrays per probe key (corpus-
  anchored). ``batcher_sort`` applies the 63 compare-exchange pairs of
  the n=16 odd-even merging network as ONE in-row fold over the
  literal comparator list — the network is data-oblivious, so the
  fold is the entire algorithm; output equality with array_sort and
  the comparator count 63 = (k²−k+4)·2^(k−2)−1 for k=4 are the pins.
- ``pancake_sort``: repeatedly flip the maximum of the unsorted
  prefix to the front and then into place — each step two bounded
  prefix reversals (slice/reverse/concat); flips ≤ 2n−3 pinned and
  every intermediate state is a permutation by construction.

Reference parity: no sorting layer in the reference; extends
topk/window_rank (comparison sorts the engine already leans on),
tsp_2opt (reversal surgery), luby_mis (oblivious parallel rounds).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .util import DUCK_HEX32, hex32, one_row

SN_N = 16
N_ARRAYS = 6


def _batcher_pairs(n: int) -> list[tuple[int, int]]:
    """Comparator list (0-based) of Batcher's odd-even merge sort."""
    pairs: list[tuple[int, int]] = []
    p = 1
    while p < n:
        k = p
        while k >= 1:
            for j in range(k % p, n - k, 2 * k):
                for i in range(0, min(k, n - j - k)):
                    if (i + j) // (2 * p) == (i + j + k) // (2 * p):
                        pairs.append((i + j, i + j + k))
            k //= 2
        p *= 2
    return pairs


BATCHER = _batcher_pairs(SN_N)


def _arr(tag: int) -> Column:
    return F.array(
        *[
            hex32(F.lit(f"sn|{tag}|{i}")) % 10000
            for i in range(SN_N)
        ]
    )


def q_batcher_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per probe array (module doc): (arr_id, n_comparators, sorted_ok,
    head, tail)."""
    base = one_row(spark, sf_dir)
    rows = []
    for tag in range(N_ARRAYS):
        a0 = _arr(tag)
        pairs = F.array(
            *[F.lit(i * 100 + j).cast("long") for i, j in BATCHER]
        )

        def step(acc, p):
            i = F.floor(p / 100).cast("int") + 1
            j = (p % 100).cast("int") + 1
            lo = F.least(F.element_at(acc, i), F.element_at(acc, j))
            hi = F.greatest(F.element_at(acc, i), F.element_at(acc, j))
            return F.transform(
                F.sequence(F.lit(1), F.lit(SN_N)),
                lambda t: F.when(t == i, lo)
                .when(t == j, hi)
                .otherwise(F.element_at(acc, t)),
            )

        net = F.aggregate(pairs, a0, step)
        rows.append(
            F.struct(
                F.lit(tag).cast("long").alias("arr_id"),
                (net == F.array_sort(a0)).cast("long").alias("sorted_ok"),
                F.element_at(net, 1).alias("head"),
                F.element_at(net, SN_N).alias("tail"),
            )
        )
    return (
        base.select(F.explode(F.array(*rows)).alias("r"))
        .select(
            "r.arr_id",
            F.lit(len(BATCHER)).cast("long").alias("n_comparators"),
            "r.sorted_ok",
            "r.head",
            "r.tail",
        )
        .orderBy("arr_id")
    )


def q_pancake_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per probe array (module doc): (arr_id, n_flips, sorted_ok)."""
    base = one_row(spark, sf_dir)
    rows = []
    for tag in range(N_ARRAYS):
        a0 = _arr(tag)
        # acc = [flips, arr...]; steps k = N..2 place the max of the
        # first k elements at position k via two flips
        def step(acc, kk):
            k = kk.cast("int")
            arr = F.slice(acc, 2, SN_N)
            pre = F.slice(arr, 1, k)
            mx = F.array_max(pre)
            pos = F.array_position(arr, mx)  # first occurrence
            flip1 = F.concat(
                F.reverse(F.slice(arr, 1, pos.cast("int"))),
                F.slice(
                    arr, pos.cast("int") + 1,
                    F.lit(SN_N) - pos.cast("int"),
                ),
            )
            flip2 = F.concat(
                F.reverse(F.slice(flip1, 1, k)),
                F.slice(flip1, k + 1, F.lit(SN_N) - k),
            )
            already = pos == kk
            nflips = F.element_at(acc, 1) + F.when(
                already, F.lit(0).cast("long")
            ).otherwise(
                F.when(pos == 1, F.lit(1).cast("long")).otherwise(
                    F.lit(2).cast("long")
                )
            )
            newarr = F.when(already, arr).otherwise(
                F.when(pos == 1,
                       F.concat(
                           F.reverse(F.slice(arr, 1, k)),
                           F.slice(arr, k + 1, F.lit(SN_N) - k),
                       )).otherwise(flip2)
            )
            return F.concat(F.array(nflips), newarr)

        init = F.concat(F.array(F.lit(0).cast("long")), a0)
        fin = F.aggregate(
            F.sequence(F.lit(SN_N), F.lit(2), F.lit(-1)),
            init,
            step,
        )
        rows.append(
            F.struct(
                F.lit(tag).cast("long").alias("arr_id"),
                F.element_at(fin, 1).alias("n_flips"),
                (F.slice(fin, 2, SN_N) == F.array_sort(a0))
                .cast("long")
                .alias("sorted_ok"),
            )
        )
    return (
        base.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.arr_id", "r.n_flips", "r.sorted_ok")
        .orderBy("arr_id")
    )


def _arr_sql(tag: int) -> str:
    vals = ", ".join(
        f"({DUCK_HEX32.format(x=chr(39) + f'sn|{tag}|{i}' + chr(39))}) "
        f"% 10000"
        for i in range(SN_N)
    )
    return f"[{vals}]"


def _batcher_sql() -> str:
    pair_lits = "[" + ", ".join(
        str(i * 100 + j) for i, j in BATCHER
    ) + "]"
    step = (
        f"list_transform(generate_series(1, {SN_N}), t -> "
        f"CASE WHEN t = (pv[1] // 100)::INT + 1 THEN "
        f"least(acc[(pv[1] // 100)::INT + 1], acc[(pv[1] % 100)::INT + 1]) "
        f"WHEN t = (pv[1] % 100)::INT + 1 THEN "
        f"greatest(acc[(pv[1] // 100)::INT + 1], acc[(pv[1] % 100)::INT + 1]) "
        f"ELSE acc[t] END)"
    )
    sels = []
    for tag in range(N_ARRAYS):
        a = _arr_sql(tag)
        net = (
            f"list_reduce(list_prepend({a}, "
            f"list_transform({pair_lits}, p -> [p::BIGINT])), "
            f"(acc, pv) -> {step})"
        )
        sels.append(
            f"SELECT {tag}::BIGINT AS arr_id, "
            f"{len(BATCHER)}::BIGINT AS n_comparators, "
            f"(({net}) = list_sort({a}))::BIGINT AS sorted_ok, "
            f"({net})[1]::BIGINT AS head, "
            f"({net})[{SN_N}]::BIGINT AS tail FROM base"
        )
    return (
        "WITH base AS (SELECT count(*)::BIGINT AS n_regions FROM region)\n"
        + " UNION ALL ".join(sels)
        + "\nORDER BY arr_id"
    )


def _pancake_sql() -> str:
    arr = "list_slice(acc, 2, {n} + 1)".format(n=SN_N)
    pos = f"list_position({arr}, list_max(list_slice({arr}, 1, kv[1]::INT)))"
    flip1 = (
        f"list_concat(list_reverse(list_slice({arr}, 1, ({pos})::INT)), "
        f"list_slice({arr}, ({pos})::INT + 1, {SN_N}))"
    )
    flip_k_of = "list_concat(list_reverse(list_slice({src}, 1, kv[1]::INT)), list_slice({src}, kv[1]::INT + 1, " + str(SN_N) + "))"
    flip2 = flip_k_of.format(src=f"({flip1})")
    flipp = flip_k_of.format(src=arr)
    nfl = (
        f"acc[1] + (CASE WHEN {pos} = kv[1] THEN 0 "
        f"WHEN {pos} = 1 THEN 1 ELSE 2 END)"
    )
    newarr = (
        f"(CASE WHEN {pos} = kv[1] THEN {arr} "
        f"WHEN {pos} = 1 THEN {flipp} ELSE {flip2} END)"
    )
    step = f"list_concat([{nfl}], {newarr})"
    sels = []
    for tag in range(N_ARRAYS):
        a = _arr_sql(tag)
        seq = "[" + ", ".join(str(k) for k in range(SN_N, 1, -1)) + "]"
        fin = (
            f"list_reduce(list_prepend(list_prepend(0::BIGINT, {a}), "
            f"list_transform({seq}, k -> [k::BIGINT])), "
            f"(acc, kv) -> {step})"
        )
        sels.append(
            f"SELECT {tag}::BIGINT AS arr_id, "
            f"({fin})[1]::BIGINT AS n_flips, "
            f"((list_slice({fin}, 2, {SN_N} + 1)) = list_sort({a}))"
            f"::BIGINT AS sorted_ok FROM base"
        )
    return (
        "WITH base AS (SELECT count(*)::BIGINT AS n_regions FROM region)\n"
        + " UNION ALL ".join(sels)
        + "\nORDER BY arr_id"
    )


QUERIES = {
    "batcher_sort": q_batcher_sort,
    "pancake_sort": q_pancake_sort,
}

ORACLES = {
    "batcher_sort": _batcher_sql(),
    "pancake_sort": _pancake_sql(),
}
