"""Suffix-array ops, batch 133: corpus suffix ranking by prefix
doubling, and the longest repeated token phrase read off adjacent
suffixes — the classic stringology pair (suffix array + LCP) as
distributed relational rounds.

Scale design (100 TB):
- ``suffix_rank``: token-level suffixes (one per (doc_id, off)
  position, never crossing document boundaries) are ordered by their
  first H=16 tokens via PREFIX DOUBLING: rank_0 from the single token,
  then 4 rounds, each ONE equi-join of the state against itself shifted
  by 2^k (doc_id, off+2^k) plus ONE rank assignment over the
  (rank, next_rank) pair — O(log H) rounds total, each a single
  shuffle, never a per-suffix string materialization (a 16-token key
  per position would be ~16x the corpus over the wire; ranks are two
  int64s). Rank assignment runs row_number over the DISTINCT pair set
  (vocabulary-sized in round 0, position-bounded later) and equi-joins
  back; at production scale that sort-assign is the standard
  range-partitioned sort + per-partition offset exchange, and the
  doubling rounds are unchanged. The -1 sentinel for "suffix ends
  before 2^k" sorts below every real rank, which is exactly the
  shorter-suffix-first rule. Output is the first 40 entries of the
  suffix array (bounded), with a 3-token head for readability.
- ``longest_repeat``: the longest token phrase occurring at least
  twice equals the maximum LCP between ADJACENT suffixes in suffix
  order (capped at H=16 here) — one lag window over the final ranks,
  LCP by comparing the two capped token slices as a bounded in-row
  expression, then a corpus-scale max + deterministic argmin
  (doc_id, off) tie-break. No pair enumeration beyond the adjacent
  lag: n-1 candidate pairs, not O(n^2).

Oracle parity: equality of rank pairs after round k is equality of the
2^(k+1)-token prefix, so the final order equals ordering suffixes by
their 16-token prefix joined with ' ' (space sorts below every
non-space UTF-8 byte, so char-wise string order == token-sequence
order), ties broken by (doc_id, off) — which is what the DuckDB oracle
sorts by directly. Reference parity: no stringology layer in the
reference; extends the text-analysis family (dup_spans, winnowing,
postings, dict_compress_est).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .util import DUCK_TOKENS, superstep, table, tokens

H_CAP = 16  # tokens compared per suffix (4 doubling rounds)
SA_TOP = 40  # suffix-array entries emitted by suffix_rank


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents", spread=True)
    return d.select("doc_id", tokens(F.col("text")).alias("toks"))


def _positions(toks_df: DataFrame) -> DataFrame:
    """(doc_id, off 1-based, tok) — one row per token position."""
    return toks_df.select(
        "doc_id", F.posexplode("toks").alias("off0", "tok")
    ).select("doc_id", (F.col("off0") + 1).alias("off"), "tok")


def _rank_join(df: DataFrame, cols: list[str]) -> DataFrame:
    """Assign a dense order-preserving rank over ``cols``: row_number
    over the DISTINCT key set, equi-joined back (module doc scale
    note). Returns df with an extra int ``rank`` column replacing any
    existing one."""
    distinct = df.select(*cols).distinct()
    w = Window.orderBy(*cols)
    ranked = distinct.withColumn(
        "_newrank", F.row_number().over(w).cast("long")
    )
    return (
        df.join(ranked, cols).drop("rank").withColumnRenamed("_newrank", "rank")
    )


def _final_ranks(toks_df: DataFrame) -> DataFrame:
    """Prefix-doubling to H_CAP: (doc_id, off, rank) where rank orders
    suffixes by their first H_CAP tokens."""

    def double(state, r):
        step = 1 << (r - 1)
        nxt = state.select(
            "doc_id",
            (F.col("off") - step).alias("off"),
            F.col("rank").alias("nrank"),
        )
        paired = (
            state.join(nxt, ["doc_id", "off"], "left")
            .withColumn("nrank", F.coalesce(F.col("nrank"), F.lit(-1)))
        )
        return _rank_join(paired, ["rank", "nrank"]).select(
            "doc_id", "off", "rank"
        )

    # rounds compare 1, 2, 4, ... tokens ahead while that is < H_CAP
    state, _ = superstep(
        _rank_join(_positions(toks_df), ["tok"]).select("doc_id", "off", "rank"),
        double,
        (H_CAP - 1).bit_length(),
    )
    return state


def q_suffix_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First SA_TOP entries of the token-level suffix array (module
    doc): (sa_idx, doc_id, off, head)."""
    toks_df = _doc_tokens(spark, sf_dir)
    ranks = _final_ranks(toks_df)
    w = Window.orderBy("rank", "doc_id", "off")
    top = (
        ranks.withColumn("sa_idx", F.row_number().over(w).cast("long"))
        .filter(F.col("sa_idx") <= SA_TOP)
    )
    return (
        F.broadcast(top)
        .join(toks_df, "doc_id")
        .select(
            "sa_idx",
            "doc_id",
            F.col("off").cast("long").alias("off"),
            F.array_join(
                F.slice(F.col("toks"), F.col("off"), 3), " "
            ).alias("head"),
        )
        .orderBy("sa_idx")
    )


def q_longest_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest repeated token phrase via adjacent-suffix LCP (module
    doc): one row (max_lcp, doc_id, off, phrase, n_at_max)."""
    toks_df = _doc_tokens(spark, sf_dir)
    sliced = (
        _final_ranks(toks_df)
        .join(toks_df, "doc_id")
        .select(
            "doc_id",
            "off",
            "rank",
            F.slice(F.col("toks"), F.col("off"), H_CAP).alias("sfx"),
        )
    )
    w = Window.orderBy("rank", "doc_id", "off")
    pairs = (
        sliced.withColumn("psfx", F.lag("sfx").over(w))
        .filter(F.col("psfx").isNotNull())
    )
    seq = F.sequence(F.lit(1), F.lit(H_CAP))
    mism = F.filter(
        seq,
        lambda i: (
            F.try_element_at(F.col("sfx"), i).isNull()
            | F.try_element_at(F.col("psfx"), i).isNull()
            | (F.try_element_at(F.col("sfx"), i)
               != F.try_element_at(F.col("psfx"), i))
        ),
    )
    pairs = pairs.withColumn(
        "lcp",
        F.coalesce(F.array_min(mism) - 1, F.lit(H_CAP)).cast("long"),
    )
    mx = pairs.agg(F.max("lcp").alias("max_lcp"))
    winners = (
        pairs.join(F.broadcast(mx), F.col("lcp") == F.col("max_lcp"))
        .groupBy("max_lcp")
        .agg(
            F.min(F.struct("doc_id", "off")).alias("at"),
            F.count(F.lit(1)).alias("n_at_max"),
        )
    )
    return (
        F.broadcast(winners)
        .join(toks_df, F.col("at.doc_id") == F.col("doc_id"))
        .select(
            F.col("max_lcp"),
            "doc_id",
            F.col("at.off").cast("long").alias("off"),
            F.array_join(
                F.slice(F.col("toks"), F.col("at.off"), F.col("max_lcp")),
                " ",
            ).alias("phrase"),
            F.col("n_at_max").cast("long").alias("n_at_max"),
        )
    )


_TOKS = DUCK_TOKENS.format(x="text")

_POS_CTE = f"""
tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
pos AS (
    SELECT doc_id, toks,
           unnest(generate_series(1, len(toks))) AS off
    FROM tk
),
keyed AS (
    SELECT doc_id, off,
           array_to_string(list_slice(toks, off, off + {H_CAP - 1}), ' ')
               AS key16,
           list_slice(toks, off, off + {H_CAP - 1}) AS sfx,
           array_to_string(list_slice(toks, off, off + 2), ' ') AS head
    FROM pos
)"""

_SUFFIX_RANK_SQL = f"""
WITH {_POS_CTE}
SELECT sa_idx, doc_id, off::BIGINT AS off, head
FROM (
    SELECT row_number() OVER (ORDER BY key16, doc_id, off) AS sa_idx,
           doc_id, off, head
    FROM keyed
)
WHERE sa_idx <= {SA_TOP}
ORDER BY sa_idx
"""

_LONGEST_REPEAT_SQL = f"""
WITH {_POS_CTE},
lagged AS (
    SELECT doc_id, off, sfx,
           lag(sfx) OVER (ORDER BY key16, doc_id, off) AS psfx
    FROM keyed
),
lcps AS (
    SELECT doc_id, off, sfx,
           coalesce(
               list_min(list_filter(generate_series(1, {H_CAP}),
                   i -> (sfx[i] IS NULL OR psfx[i] IS NULL
                         OR sfx[i] <> psfx[i]))) - 1,
               {H_CAP})::BIGINT AS lcp
    FROM lagged
    WHERE psfx IS NOT NULL
),
mx AS (SELECT max(lcp) AS max_lcp FROM lcps),
win AS (
    SELECT max_lcp,
           min(struct_pack(doc_id := doc_id, off := off)) AS at,
           count(*)::BIGINT AS n_at_max
    FROM lcps, mx
    WHERE lcp = max_lcp
    GROUP BY max_lcp
)
SELECT max_lcp,
       (at).doc_id AS doc_id,
       (at).off::BIGINT AS off,
       array_to_string(
           list_slice(tk.toks, (at).off, (at).off + max_lcp::INT - 1), ' ')
           AS phrase,
       n_at_max
FROM win JOIN tk ON tk.doc_id = (at).doc_id
"""

QUERIES = {
    "suffix_rank": q_suffix_rank,
    "longest_repeat": q_longest_repeat,
}

ORACLES = {
    "suffix_rank": _SUFFIX_RANK_SQL,
    "longest_repeat": _LONGEST_REPEAT_SQL,
}
