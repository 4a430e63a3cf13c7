"""Sequence-similarity operators, batch 115: Smith–Waterman local
alignment between blocked string pairs as a pure nested codegen fold,
and an exact-integer matrix profile (motif + discord discovery) over
the zero-filled daily event series.

Scale design (100 TB):
- ``smith_waterman``: the classic local-alignment DP (match +2,
  mismatch −1, gap −1, floor 0) confined INSIDE one row — the in-row
  bounded-DP discipline (dtw/lcs/viterbi/unigram_segment). Pairs are
  brand-blocked (lead over the partkey order within p_brand — exactly
  one candidate per part, the soundex_block/snm cross-kill rule), and
  names are truncated to 20 chars so the DP is ≤ 21×21 per row. The
  fold accumulator is a FLAT int64 array (the whole H matrix,
  flattened row-major — batch-89's struct/nested-accumulator
  corruption lesson); the previous row is addressed by arithmetic on
  the running length, and the local-alignment score is one array_max
  at the end. No UDF, no extra shuffle beyond the blocked self-join.
- ``matrix_profile``: per event type, the zero-filled daily series
  (peakops spine — span ≤ 64 by construction) yields all W=7 windows;
  the profile distance d(i,j) = Σ(x[i+k]−x[j+k])² is EXACT int64, the
  per-window nearest neighbour under the |i−j| ≥ W exclusion zone and
  the motif/discord argmins are array expressions over packed
  (d·128+idx) int64 keys (span ≤ 64 ⇒ idx < 128, d ≤ 7·(peak count)²
  keeps the pack far inside int64). The O(nw²·W) scan is ≤ 24k
  integer ops confined to one calendar-bounded row per type; the only
  shuffle is the daily keyed agg the spine already pays.

Reference parity: no alignment/series layer in the reference; extends
the edit-distance family (lev_verify, jaro_winkler, dtw_dist,
lcs_series) with the local-alignment member and the anomaly family
(changepoint, peak_prominence) with the motif/discord readout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .peakops import _FILLED_SQL, _filled_series
from .util import table

SW_MATCH = 2
SW_MISMATCH = -1
SW_GAP = -1
SW_MAXLEN = 20  # names truncated so the DP is bounded 21×21

MP_W = 7  # matrix-profile window length (days)
MP_PACK = 128  # index packing base (span ≤ 64 < 128)


def _sw_col(xa: Column, xb: Column) -> Column:
    """Smith–Waterman score via a flat-matrix nested fold (module doc).

    Accumulator = H flattened row-major, row width n+1 (n = len(xb));
    after processing r rows of xa its length is (r+1)·(n+1). Inside the
    inner fold, row = [0, H_new[1..c-1]] and the previous H row starts
    at offset L − (n+1) of the outer accumulator."""
    zero = F.lit(0).cast("long")
    n = F.size(xb)
    row0 = F.transform(F.sequence(F.lit(0), n), lambda _: zero)

    def outer(acc, av):
        base = F.size(acc) - (n + 1)  # 0-based offset of H_prev[0]

        def inner(row, bv):
            c = F.size(row)  # computing H_new[c], 1-based col c
            diag = F.get(acc, base + c - 1)
            up = F.get(acc, base + c)
            left = F.element_at(row, -1)
            sub = F.when(av == bv, F.lit(SW_MATCH)).otherwise(
                F.lit(SW_MISMATCH)
            )
            score = F.greatest(
                zero, diag + sub, up + F.lit(SW_GAP), left + F.lit(SW_GAP)
            ).cast("long")
            return F.concat(row, F.array(score))

        return F.concat(acc, F.aggregate(xb, F.array(zero), inner))

    return F.array_max(F.aggregate(xa, row0, outer))


def q_smith_waterman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-alignment score for each brand-blocked adjacent part-name
    pair (module doc): (p_brand, key_a, key_b, len_a, len_b, sw).

    The O(m·n) DP per pair runs in an Arrow-batched ``mapInPandas``
    stage: the Catalyst nested-fold form (``_sw_col``, kept for the
    property tests) concatenates the flattened H matrix per cell —
    O((mn)²) interpreted copying, 34 s at sf0.1 vs ~2 s here. Pairing
    stays JVM-side (brand window); integer-exact recurrence identical
    to the fold and the DuckDB oracle."""
    p = table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_partkey")
    pairs = (
        p.select(
            "p_brand",
            F.col("p_partkey").cast("long").alias("key_a"),
            F.substring("p_name", 1, SW_MAXLEN).alias("name_a"),
            F.lead("p_partkey").over(w).cast("long").alias("key_b"),
            F.substring(
                F.lead("p_name").over(w), 1, SW_MAXLEN
            ).alias("name_b"),
        )
        .filter(F.col("key_b").isNotNull())
    )

    def sw_batch(batches):
        import pandas as pd

        for pdf in batches:
            sws, las, lbs = [], [], []
            for a, b in zip(pdf["name_a"], pdf["name_b"]):
                xa = [ord(c) for c in a]
                xb = [ord(c) for c in b]
                las.append(len(xa))
                lbs.append(len(xb))
                prev = [0] * (len(xb) + 1)
                best = 0
                for av in xa:
                    row = [0]
                    for c, bv in enumerate(xb, 1):
                        s_ = SW_MATCH if av == bv else SW_MISMATCH
                        v = max(
                            0, prev[c - 1] + s_, prev[c] + SW_GAP,
                            row[-1] + SW_GAP,
                        )
                        row.append(v)
                        if v > best:
                            best = v
                    prev = row
                sws.append(best)
            yield pd.DataFrame(
                {
                    "p_brand": pdf["p_brand"],
                    "key_a": pdf["key_a"],
                    "key_b": pdf["key_b"],
                    "len_a": las,
                    "len_b": lbs,
                    "sw": sws,
                }
            )

    return pairs.mapInPandas(
        sw_batch,
        "p_brand string, key_a long, key_b long, len_a long, len_b long,"
        " sw long",
    ).orderBy("p_brand", "key_a")


_SW_CODES = (
    "list_transform(generate_series(1, length(substr({s}, 1, %d))), "
    "i -> ascii(substr(substr({s}, 1, %d), i, 1))::BIGINT)" % (SW_MAXLEN, SW_MAXLEN)
)

_SW_SQL = f"""
WITH pairs AS (
    SELECT p_brand,
           p_partkey::BIGINT AS key_a,
           p_name AS name_a,
           lead(p_partkey) OVER w AS key_b,
           lead(p_name) OVER w AS name_b
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_partkey)
),
coded AS (
    SELECT p_brand, key_a, key_b::BIGINT AS key_b,
           {_SW_CODES.format(s='name_a')} AS xa,
           {_SW_CODES.format(s='name_b')} AS xb
    FROM pairs WHERE key_b IS NOT NULL
)
SELECT p_brand, key_a, key_b,
       len(xa)::BIGINT AS len_a, len(xb)::BIGINT AS len_b,
       list_max(list_reduce(
           list_prepend(list_transform(generate_series(0, len(xb)),
                                       x -> 0::BIGINT),
                        list_transform(xa, a -> [a])),
           (acc, avl) -> list_concat(acc, list_reduce(
               list_prepend([0::BIGINT], list_transform(xb, b -> [b])),
               (row, bvl) -> list_append(row, greatest(
                   0::BIGINT,
                   acc[len(acc) - len(xb) - 1 + len(row) - 1 + 1]
                     + CASE WHEN avl[1] = bvl[1] THEN {SW_MATCH}
                            ELSE {SW_MISMATCH} END,
                   acc[len(acc) - len(xb) - 1 + len(row) + 1] + {SW_GAP},
                   row[-1] + {SW_GAP}))))
       ))::BIGINT AS sw
FROM coded
ORDER BY p_brand, key_a
"""


def q_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: motif (closest window pair) and discord (most
    isolated window) of the W=7 daily-count series (module doc)."""
    s = _filled_series(spark, sf_dir).filter(F.size("xs") >= 3 * MP_W)
    xs = F.col("xs")
    nw = F.size(xs) - (MP_W - 1)
    big = F.lit(1 << 60).cast("long")
    idx = F.sequence(F.lit(1), nw)

    def dist(i, j):
        ks = F.sequence(F.lit(0), F.lit(MP_W - 1))
        return F.aggregate(
            ks,
            F.lit(0).cast("long"),
            lambda acc, k: acc
            + (F.get(xs, i - 1 + k) - F.get(xs, j - 1 + k))
            * (F.get(xs, i - 1 + k) - F.get(xs, j - 1 + k)),
        )

    # per window i: min over admissible j of d·PACK + j
    packed = F.transform(
        idx,
        lambda i: F.array_min(
            F.transform(
                idx,
                lambda j: F.when(
                    F.abs(i - j) >= MP_W, dist(i, j) * MP_PACK + j
                ).otherwise(big),
            )
        ),
    )
    st = s.select("typ", nw.cast("long").alias("n_windows"), packed.alias("pk"))
    pk = F.col("pk")
    is_ = F.sequence(F.lit(1), F.size(pk))
    motif_key = F.array_min(
        F.transform(
            is_,
            lambda i: F.shiftright(F.get(pk, i - 1), 7)
            * MP_PACK
            * MP_PACK
            + i * MP_PACK
            + F.get(pk, i - 1).bitwiseAND(MP_PACK - 1),
        )
    )
    discord_key = F.array_max(
        F.transform(
            is_,
            lambda i: F.shiftright(F.get(pk, i - 1), 7) * MP_PACK
            + (MP_PACK - 1 - i),
        )
    )
    return st.select(
        "typ",
        "n_windows",
        F.shiftright(motif_key, 14).cast("long").alias("motif_d"),
        F.shiftright(motif_key, 7).bitwiseAND(MP_PACK - 1).cast("long").alias(
            "motif_i"
        ),
        motif_key.bitwiseAND(MP_PACK - 1).cast("long").alias("motif_j"),
        F.shiftright(discord_key, 7).cast("long").alias("discord_d"),
        (
            F.lit(MP_PACK - 1) - discord_key.bitwiseAND(MP_PACK - 1)
        ).cast("long").alias("discord_i"),
    ).orderBy("typ")


_MP_SQL = f"""
WITH filled AS ({_FILLED_SQL}),
st AS (
    SELECT typ, xs, (len(xs) - {MP_W - 1})::BIGINT AS nw
    FROM filled WHERE len(xs) >= {3 * MP_W}
),
pk AS (
    SELECT typ, nw,
           list_transform(generate_series(1, nw::INTEGER), i ->
               list_min(list_transform(generate_series(1, nw::INTEGER), j ->
                   CASE WHEN abs(i - j) >= {MP_W}
                        THEN list_sum(list_transform(
                                 generate_series(0, {MP_W - 1}),
                                 k -> (xs[i + k] - xs[j + k])
                                      * (xs[i + k] - xs[j + k])
                             ))::BIGINT * {MP_PACK} + j
                        ELSE {1 << 60}::BIGINT END))
           ) AS pk
    FROM st
),
keys AS (
    SELECT typ, nw AS n_windows,
           list_min(list_transform(generate_series(1, len(pk)::INTEGER), i ->
               (pk[i] // {MP_PACK}) * {MP_PACK * MP_PACK}
               + i * {MP_PACK} + pk[i] % {MP_PACK})) AS mk,
           list_max(list_transform(generate_series(1, len(pk)::INTEGER), i ->
               (pk[i] // {MP_PACK}) * {MP_PACK}
               + ({MP_PACK - 1} - i))) AS dk
    FROM pk
)
SELECT typ, n_windows,
       (mk >> 14)::BIGINT AS motif_d,
       ((mk >> 7) & {MP_PACK - 1})::BIGINT AS motif_i,
       (mk & {MP_PACK - 1})::BIGINT AS motif_j,
       (dk >> 7)::BIGINT AS discord_d,
       ({MP_PACK - 1} - (dk & {MP_PACK - 1}))::BIGINT AS discord_i
FROM keys
ORDER BY typ
"""


QUERIES = {
    "smith_waterman": q_smith_waterman,
    "matrix_profile": q_matrix_profile,
}

ORACLES = {
    "smith_waterman": _SW_SQL,
    "matrix_profile": _MP_SQL,
}
