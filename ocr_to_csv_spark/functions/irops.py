"""Retrieval & graph-structure ops, batch 10: reciprocal-rank fusion,
winnowing candidate pairs, k-core peeling, vocabulary coverage / OOV
rate, and per-user lag/lead deltas.

Scale design (100 TB):
- ``rrf_fusion`` is the standard hybrid-retrieval combiner (Cormack et
  al.: score = Σ 1/(k + rank_i)): every window is PARTITIONED BY the
  query token, so ranking never funnels through one task; candidate
  lists are per-query-sized, the fusion itself is two exact IEEE
  divisions + one add (bit-identical across engines).
- ``winnow_pairs`` turns the MOSS fingerprints (``curation6.winnowing``)
  into candidate duplicate PAIRS the scalable way: distinct (doc, fp),
  drop boilerplate fingerprints shared by > FP_CAP docs (the classic
  stopword-shingle suppression — also the skew guard: no hot-key bucket
  ever exceeds FP_CAP²/2 pairs), self-join on fp, count shared prints
  per pair. Only fingerprint ids cross the shuffle, never text.
- ``kcore`` is the degeneracy peel (k=2, fixed rounds): each round one
  degree aggregate + two semi-joins against the surviving node set —
  Pregel-shaped, nothing node-sized on the driver, same plan at 10^9
  edges. Fixed-round so both engines unroll identically.
- ``vocab_coverage`` is the tokenizer-coverage gate run before
  training: the top-V vocabulary is corpus-frequency top-512
  (TakeOrderedAndProject — vocab-sized, never a global sort of the
  token stream), broadcast back for a semi-join count per document;
  OOV rate is one exact division.
- ``lag_delta`` is per-entity sequential feature extraction (lag/lead
  windows keyed by user): value deltas and inter-event gaps, the shape
  behind rate-limiting features and bot detection. Partitioned window,
  deterministic total order (ts, event_id, value, event_type).

Reference parity: the reference has no retrieval/graph layer; these are
training-data-pipeline extensions (builder brief) in the same family as
``textops.py`` / ``curation6.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import curation6
from .graphtext import _edges
from .util import DUCK_TOKENS, superstep, table, tokens

RRF_K = 60  # reciprocal-rank-fusion damping constant
RRF_TOP = 10  # fused results kept per query token
RRF_PROBES = ["the", "data", "merge", "batch"]
FP_CAP = 50  # winnowing: drop fingerprints shared by more docs (boilerplate)
PAIR_MIN = 2  # winnowing: min shared fingerprints to emit a pair
KCORE_K = 2  # k-core threshold
KCORE_ROUNDS = 4  # fixed peeling rounds (documented, not to-fixpoint)
VOCAB_V = 512  # vocabulary size for coverage / OOV


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two per-query document rankings — by
    term frequency and by earliest term position — for a fixed set of
    probe tokens. rrf = 1/(60+r_tf) + 1/(60+r_pos); top 10 fused docs
    per token. All windows partition by the query token."""
    d = table(spark, sf_dir, "documents", spread=True)
    tk = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    ).filter(F.col("tok").isin(RRF_PROBES))
    g = tk.groupBy("tok", "doc_id").agg(
        F.count("*").alias("tf"), F.min("pos").alias("fpos")
    )
    w1 = Window.partitionBy("tok").orderBy(F.desc("tf"), F.asc("doc_id"))
    w2 = Window.partitionBy("tok").orderBy(F.asc("fpos"), F.asc("doc_id"))
    r = g.select(
        "tok",
        "doc_id",
        F.row_number().over(w1).cast("long").alias("rank_tf"),
        F.row_number().over(w2).cast("long").alias("rank_pos"),
    ).withColumn(
        "rrf_score",
        F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_tf")).cast("double")
        + F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_pos")).cast("double"),
    )
    wf = Window.partitionBy("tok").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        r.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= RRF_TOP)
        .select(
            F.col("tok").alias("token"),
            "doc_id",
            "rank_tf",
            "rank_pos",
            "rrf_score",
        )
    )


_RRF_PROBES_SQL = ", ".join(f"'{t}'" for t in RRF_PROBES)

_RRF_SQL = f"""
    WITH t AS (
        SELECT doc_id, {DUCK_TOKENS.format(x='text')} AS toks FROM documents
    ),
    ix AS (
        SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t
    ),
    tk AS (
        SELECT doc_id, toks[i] AS tok, i FROM ix
        WHERE toks[i] IN ({_RRF_PROBES_SQL})
    ),
    g AS (
        SELECT tok, doc_id, count(*)::BIGINT AS tf, min(i) AS fpos
        FROM tk GROUP BY tok, doc_id
    ),
    r AS (
        SELECT tok, doc_id,
               row_number() OVER (
                   PARTITION BY tok ORDER BY tf DESC, doc_id ASC
               )::BIGINT AS rank_tf,
               row_number() OVER (
                   PARTITION BY tok ORDER BY fpos ASC, doc_id ASC
               )::BIGINT AS rank_pos
        FROM g
    ),
    s AS (
        SELECT tok, doc_id, rank_tf, rank_pos,
               1.0::DOUBLE / ({RRF_K} + rank_tf)::DOUBLE
             + 1.0::DOUBLE / ({RRF_K} + rank_pos)::DOUBLE AS rrf_score
        FROM r
    )
    SELECT tok AS token, doc_id, rank_tf, rank_pos, rrf_score
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY tok ORDER BY rrf_score DESC, doc_id ASC
        ) AS rn FROM s
    ) WHERE rn <= {RRF_TOP}
"""


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-passage CANDIDATE PAIRS from winnowing
    fingerprints (the MOSS join): distinct (doc, fp), boilerplate
    fingerprints (> FP_CAP docs) dropped, equi-self-join on fp with
    doc_a < doc_b, pairs with >= PAIR_MIN shared prints kept."""
    fp = (
        curation6.q_winnowing(spark, sf_dir)
        .select("doc_id", "fp")
        .distinct()
        .localCheckpoint()  # stage once: fingerprinting is the expensive
        # map stage and feeds THREE consumers (freq, join-left, join-right);
        # without staging Spark recomputes it per consumer (ReusedExchange
        # distrust — see PLANS.md). Production analogue: a scratch table.
    )
    freq = fp.groupBy("fp").agg(F.count("*").alias("nd"))
    fp = fp.join(
        F.broadcast(freq.filter(F.col("nd") > FP_CAP).select("fp")),
        "fp",
        "left_anti",
    )
    a = fp.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= PAIR_MIN)
    )


_WINNOW_PAIRS_SQL = f"""
    WITH wfp_all AS ({curation6.ORACLES['winnowing']}),
    wfp AS (SELECT DISTINCT doc_id, fp FROM wfp_all),
    keep AS (
        SELECT fp FROM wfp GROUP BY fp HAVING count(*) <= {FP_CAP}
    ),
    f AS (SELECT w.doc_id, w.fp FROM wfp w JOIN keep k ON k.fp = w.fp)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
    FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {PAIR_MIN}
"""


def _und_edges(nodes: DataFrame, n: int) -> DataFrame:
    """Distinct undirected (no self-loop) view of the shared modular
    link graph (see graphtext._edges / textops.q_pagerank)."""
    e = _edges(nodes, n)
    return (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=2, 4 fixed rounds) over the undirected modular
    graph: each round drop nodes with degree < k and their incident
    edges. Survivors are reported with their residual degree. One
    degree aggregate + two semi-joins per round — the degeneracy
    decomposition inner loop at any scale."""
    d = table(spark, sf_dir, "documents", spread=True)
    n = d.count()
    nodes = d.select(F.col("doc_id").cast("long").alias("id"))

    def peel(e, _r):
        deg = e.groupBy("src").agg(F.count("*").alias("c"))
        keep = deg.filter(F.col("c") >= KCORE_K).select("src")
        return e.join(keep, "src", "left_semi").join(
            keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
        )

    e, _ = superstep(_und_edges(nodes, n), peel, KCORE_ROUNDS)
    return (
        e.groupBy("src")
        .agg(F.count("*").alias("degree"))
        .select(F.col("src").alias("doc_id"), F.col("degree").cast("long"))
    )


_KCORE_SQL_HEAD = """
    WITH nodes AS (SELECT doc_id::BIGINT AS id FROM documents),
    nn AS (SELECT count(*)::BIGINT AS n FROM documents),
    de AS (
        SELECT id AS src, (id*2+1) %% (SELECT n FROM nn) AS dst
        FROM nodes WHERE id %% 3 <> 0
        UNION ALL
        SELECT id, (id*7+3) %% (SELECT n FROM nn) FROM nodes WHERE id %% 2 = 0
        UNION ALL
        SELECT id, (id + (SELECT n FROM nn) // 2) %% (SELECT n FROM nn)
        FROM nodes WHERE id %% 6 = 1
    ),
    e0 AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM de UNION ALL SELECT dst, src FROM de
        ) WHERE src <> dst
    ),
    %s
    SELECT src AS doc_id, count(*)::BIGINT AS degree FROM e%d GROUP BY src
"""

_KCORE_STEP = """
    d%d AS (SELECT src, count(*)::BIGINT AS c FROM e%d GROUP BY src),
    k%d AS (SELECT src FROM d%d WHERE c >= %d),
    e%d AS (
        SELECT e.src, e.dst FROM e%d e
        JOIN k%d a ON a.src = e.src
        JOIN k%d b ON b.src = e.dst
    )
"""


def _kcore_oracle_sql() -> str:
    steps = ",".join(
        _KCORE_STEP % (r + 1, r, r + 1, r + 1, KCORE_K, r + 1, r, r + 1, r + 1)
        for r in range(KCORE_ROUNDS)
    )
    return _KCORE_SQL_HEAD % (steps, KCORE_ROUNDS)  # %-format folds %% -> %


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage per document: vocabulary = corpus
    top-512 tokens by frequency (ties → token asc), per-doc in-vocab
    token count via a broadcast semi-join, OOV rate as one exact
    division. The gate that catches a corpus slice the tokenizer was
    never trained on (wrong language / binary junk)."""
    d = table(spark, sf_dir, "documents", spread=True)
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(VOCAB_V)
        .select("tok")
    )
    per_doc = toks.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    in_v = (
        toks.join(F.broadcast(vocab), "tok", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_vocab"))
    )
    return (
        per_doc.join(in_v, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_toks").cast("long").alias("n_toks"),
            F.coalesce("n_vocab", F.lit(0)).cast("long").alias("n_vocab"),
        )
        .withColumn(
            "oov_rate",
            F.lit(1.0)
            - F.col("n_vocab").cast("double") / F.col("n_toks").cast("double"),
        )
    )


_VOCAB_SQL = f"""
    WITH t AS (
        SELECT doc_id, {DUCK_TOKENS.format(x='text')} AS toks FROM documents
    ),
    ex AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, count(*) AS cnt FROM ex GROUP BY tok
            ORDER BY cnt DESC, tok ASC LIMIT {VOCAB_V}
        )
    ),
    pd AS (SELECT doc_id, count(*)::BIGINT AS n_toks FROM ex GROUP BY doc_id),
    iv AS (
        SELECT doc_id, count(*)::BIGINT AS n_vocab FROM ex
        WHERE tok IN (SELECT tok FROM vocab) GROUP BY doc_id
    )
    SELECT pd.doc_id, pd.n_toks,
           coalesce(iv.n_vocab, 0)::BIGINT AS n_vocab,
           1.0::DOUBLE - coalesce(iv.n_vocab, 0)::DOUBLE / pd.n_toks::DOUBLE
               AS oov_rate
    FROM pd LEFT JOIN iv ON iv.doc_id = pd.doc_id
"""


def q_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sequential deltas over events: value change and
    inter-event gap (seconds) vs the previous event in a deterministic
    total order (ts, event_id, value, event_type). Null user_ids are
    excluded (they are the dq_audit violation class, not a sequence).
    Window is PARTITIONED BY user — shuffles once on the entity key,
    the sequence-feature shape at any scale."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy(
        "ts", "event_id", "value", "event_type"
    )
    prev_v = F.lag("value").over(w)
    prev_ts = F.lag("ts").over(w)
    return e.select(
        "event_id",
        "user_id",
        prev_v.isNotNull().alias("has_prev"),
        F.coalesce(F.col("value") - prev_v, F.lit(0.0)).alias("delta_value"),
        F.coalesce(
            F.unix_timestamp("ts") - F.unix_timestamp(prev_ts), F.lit(0)
        )
        .cast("long")
        .alias("gap_s"),
    )


_LAG_SQL = """
    SELECT event_id, user_id,
           (lag(value) OVER w IS NOT NULL) AS has_prev,
           coalesce(value - lag(value) OVER w, 0.0)::DOUBLE AS delta_value,
           coalesce(
               floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT,
               0
           )::BIGINT AS gap_s
    FROM events
    WHERE user_id IS NOT NULL
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts, event_id, value, event_type
    )
"""


QUERIES = {
    "rrf_fusion": q_rrf_fusion,
    "winnow_pairs": q_winnow_pairs,
    "kcore": q_kcore,
    "vocab_coverage": q_vocab_coverage,
    "lag_delta": q_lag_delta,
}

ORACLES = {
    "rrf_fusion": _RRF_SQL,
    "winnow_pairs": _WINNOW_PAIRS_SQL,
    "kcore": _kcore_oracle_sql(),
    "vocab_coverage": _VOCAB_SQL,
    "lag_delta": _LAG_SQL,
}


# ---------------------------------------------------------------- batch 32

RX_PROBES = ["data", "merge"]
RX_SCALE = 1024  # embedding quantization (same as pca_cov)
RX_TOP = 10
RX_RRF_K = 60


def q_rocchio_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval via pseudo-relevance feedback
    (Rocchio): per probe token, the lexical tf-ranking picks matching
    docs, their quantized embeddings SUM into an exact integer query
    centroid (cosine is scale-invariant, so the un-divided sum IS the
    centroid — no float accumulation order anywhere), every doc then
    ranks by cosine to that centroid, and the lexical and dense
    rankings fuse with RRF. This is the dense-expansion step BM25-only
    retrieval lacks: docs that never contain the token surface through
    embedding similarity. Plan: the centroid is a (token, dim)-keyed
    integer aggregate (bounded by |probes|·64 rows); the dense scan is
    one pass over embeddings per token with the centroid broadcast."""
    d = table(spark, sf_dir, "documents", spread=True)
    tk = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok").isin(RX_PROBES))
    g = tk.groupBy("tok", "doc_id").agg(F.count("*").alias("tf"))
    wl = Window.partitionBy("tok").orderBy(F.desc("tf"), F.asc("doc_id"))
    lex = g.select(
        "tok", "doc_id", F.row_number().over(wl).cast("long").alias("rank_lex")
    )

    emb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * RX_SCALE).cast("long"),
        ).alias("q"),
    )
    # integer query centroid: elementwise sum over the lexically-matched
    # docs' quantized vectors
    cent = (
        lex.join(emb, "doc_id")
        .select("tok", F.posexplode("q").alias("dim", "v"))
        .groupBy("tok", "dim")
        .agg(F.sum("v").alias("s"))
        .groupBy("tok")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "s"))),
                lambda st: st["s"],
            ).alias("cv")
        )
    )
    dots = emb.crossJoin(F.broadcast(cent)).select(
        "tok",
        "doc_id",
        F.aggregate(
            F.zip_with(F.col("q"), F.col("cv"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot"),
        F.aggregate(
            F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("nq"),
        F.aggregate(
            F.col("cv"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("nc"),
    )
    dense = dots.select(
        "tok",
        "doc_id",
        F.round(
            F.col("dot") / (F.sqrt(F.col("nq").cast("double"))
                            * F.sqrt(F.col("nc").cast("double"))),
            4,
        ).alias("sim"),
    )
    wd = Window.partitionBy("tok").orderBy(F.desc("sim"), F.asc("doc_id"))
    dr = dense.select(
        "tok", "doc_id", F.row_number().over(wd).cast("long").alias("rank_dense")
    )
    fused = (
        dr.join(lex, ["tok", "doc_id"], "left")
        .na.fill({"rank_lex": 100000})
        .withColumn(
            "rrf",
            F.lit(1.0) / (F.lit(RX_RRF_K) + F.col("rank_lex")).cast("double")
            + F.lit(1.0) / (F.lit(RX_RRF_K) + F.col("rank_dense")).cast("double"),
        )
    )
    wf = Window.partitionBy("tok").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= RX_TOP)
        .select(
            F.col("tok").alias("token"),
            "doc_id",
            F.col("rn").alias("rank"),
            "rank_lex",
            "rank_dense",
            "rrf",
        )
    )


_RX_PROBES_SQL = ", ".join(f"'{t}'" for t in RX_PROBES)

_RX_SQL = f"""
    WITH tk AS (
        SELECT doc_id, unnest({DUCK_TOKENS.format(x='text')}) AS tok
        FROM documents
    ),
    g AS (
        SELECT tok, doc_id, count(*) AS tf FROM tk
        WHERE tok IN ({_RX_PROBES_SQL}) GROUP BY 1, 2
    ),
    lex AS (
        SELECT tok, doc_id,
               CAST(row_number() OVER (PARTITION BY tok
                    ORDER BY tf DESC, doc_id ASC) AS BIGINT) AS rank_lex
        FROM g
    ),
    emb AS (
        SELECT vec_id AS doc_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * {RX_SCALE}) AS BIGINT)) AS q
        FROM embeddings
    ),
    cent AS (
        SELECT tok, dim, CAST(sum(v) AS BIGINT) AS s
        FROM (
            SELECT l.tok, gs.dim, e.q[gs.dim + 1] AS v
            FROM lex l JOIN emb e ON e.doc_id = l.doc_id,
                 LATERAL (SELECT unnest(generate_series(0, len(e.q) - 1)) AS dim) gs
        ) GROUP BY 1, 2
    ),
    cvec AS (
        SELECT tok, list(s ORDER BY dim) AS cv FROM cent GROUP BY tok
    ),
    dots AS (
        SELECT c.tok, e.doc_id,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(generate_series(1, len(e.q)),
                        i -> e.q[i] * c.cv[i])), (a, x) -> a + x) AS BIGINT) AS dot,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(e.q, x -> x * x)), (a, x) -> a + x) AS BIGINT) AS nq,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(c.cv, x -> x * x)), (a, x) -> a + x) AS BIGINT) AS nc
        FROM emb e CROSS JOIN cvec c
    ),
    dense AS (
        SELECT tok, doc_id,
               round(dot / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))), 4)
                   AS sim
        FROM dots
    ),
    dr AS (
        SELECT tok, doc_id,
               CAST(row_number() OVER (PARTITION BY tok
                    ORDER BY sim DESC, doc_id ASC) AS BIGINT) AS rank_dense
        FROM dense
    ),
    fused AS (
        SELECT dr.tok, dr.doc_id,
               coalesce(l.rank_lex, 100000) AS rank_lex,
               dr.rank_dense,
               1.0 / ({RX_RRF_K} + coalesce(l.rank_lex, 100000))
               + 1.0 / ({RX_RRF_K} + dr.rank_dense) AS rrf
        FROM dr LEFT JOIN lex l ON l.tok = dr.tok AND l.doc_id = dr.doc_id
    )
    SELECT tok AS token, doc_id,
           CAST(row_number() OVER (PARTITION BY tok
                ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rank,
           rank_lex, rank_dense, rrf
    FROM fused
    QUALIFY rank <= {RX_TOP}
"""


DP_CLAMP = 10000  # per-user contribution cap, integer cents


def q_bounded_contrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution bounding — the deterministic half of a
    differentially-private aggregate: before any noise is added, each
    user's total contribution to the statistic must be CLAMPED so one
    user cannot dominate the sensitivity. Per event type: raw sum,
    clamped sum (Σ min(user_total, C)), users clipped, and the clipped
    fraction — one user-keyed aggregate then one type-keyed aggregate,
    both map-side combinable."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("tot")
    )
    return (
        per_user.groupBy("event_type")
        .agg(
            F.sum("tot").alias("raw_sum"),
            F.sum(F.least(F.col("tot"), F.lit(DP_CLAMP))).alias("bounded_sum"),
            F.count("*").alias("n_users"),
            F.sum((F.col("tot") > DP_CLAMP).cast("long")).alias("n_clipped"),
        )
        .select(
            "event_type",
            "raw_sum",
            "bounded_sum",
            "n_users",
            "n_clipped",
            (F.col("n_clipped") / F.col("n_users")).alias("clip_frac"),
        )
    )


_DP_SQL = f"""
    WITH per_user AS (
        SELECT event_type, user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS tot
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(sum(tot) AS BIGINT) AS raw_sum,
           CAST(sum(least(tot, {DP_CLAMP})) AS BIGINT) AS bounded_sum,
           count(*) AS n_users,
           CAST(sum((tot > {DP_CLAMP})::BIGINT) AS BIGINT) AS n_clipped,
           CAST(sum((tot > {DP_CLAMP})::BIGINT) AS BIGINT)
               / CAST(count(*) AS DOUBLE) AS clip_frac
    FROM per_user GROUP BY event_type
"""

QUERIES["rocchio_expand"] = q_rocchio_expand
QUERIES["bounded_contrib"] = q_bounded_contrib
ORACLES["rocchio_expand"] = _RX_SQL
ORACLES["bounded_contrib"] = _DP_SQL
