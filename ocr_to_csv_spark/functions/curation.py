"""Training-data curation operators, batch 2: skip-gram co-occurrence
statistics, DSIR-style importance weighting, content-defined chunking
(FastCDC-style) with chunk-level dedup, and multi-source BFS over the
document link graph.

Scale design (100 TB):
- ``cooccurrence`` emits all (center, context) pairs MAP-SIDE from each
  document's token array (pure expressions, codegen-friendly) and the
  only shuffle is the final vocabulary²-bounded groupBy with map-side
  partial aggregation — the classic word2vec/GloVe counting pass.
- ``dsir_weights`` is the hashed-n-gram importance-resampling estimator
  of Xie et al. (DSIR, 2023) in fixed point: one vocabulary-keyed
  aggregate produces per-token target/raw counts, the dictionary-sized
  ratio table broadcasts back, and per-document scores are one keyed
  groupBy. Nothing float crosses a shuffle.
- ``cdc_chunks``/``cdc_dedup`` compute content-defined chunk boundaries
  entirely map-side (a windowed fingerprint over the token stream — the
  rolling-hash idiom of LBFS/FastCDC, expressed as per-window md5 so
  the DuckDB oracle is bit-identical); chunk records then dedup on an
  equi-keyed groupBy by chunk hash. This is how 100 TB corpora are
  deduplicated below document granularity without any pairwise compare.
- ``bfs_dist`` is the Pregel-in-DataFrame idiom (same as pagerank /
  connected_components): a static edge list meets a node-sized distance
  table in a keyed equi-join per superstep; distances are integers and
  iteration count is fixed, so the oracle unrolls exactly.

Parity discipline: md5 hex is identical across Spark and DuckDB; every
float is a single IEEE division (exact-rounded, deterministic) applied
after all integer math, then rounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .graphtext import _edges
from .util import DUCK_HEX32, DUCK_TOKENS, hex32, table, tokens

CDC_W = 4  # fingerprint window (tokens)
CDC_MASK = 8  # boundary when window hash % CDC_MASK == 0 (avg chunk ~8 toks)
BFS_ROUNDS = 4
BFS_INF = 999
DSIR_SCALE = 1_000_000  # fixed-point denominator for per-token ratios


# ---------------------------------------------------------------- cooccurrence


def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts with a ±2 token window (the
    word2vec / GloVe counting pass). Pair emission is map-side: for each
    position the forward pairs at offsets +1 and +2 are materialized as
    an array expression, mirrored to get the symmetric (context, center)
    direction, and exploded; the single shuffle is the (w1, w2) groupBy,
    bounded by vocabulary², with map-side partial aggregation. No join,
    no window function, no Python."""
    d = table(spark, sf_dir, "documents", spread=True)
    toks = tokens(F.col("text"))
    n = F.size(toks)
    empty = F.array().cast("array<struct<w1:string,w2:string>>")
    pair = lambda i, off: F.struct(
        F.element_at(toks, i).alias("w1"),
        F.element_at(toks, i + off).alias("w2"),
    )
    fwd1 = F.when(
        n >= 2,
        F.transform(F.sequence(F.lit(1), n - 1), lambda i: pair(i, 1)),
    ).otherwise(empty)
    fwd2 = F.when(
        n >= 3,
        F.transform(F.sequence(F.lit(1), n - 2), lambda i: pair(i, 2)),
    ).otherwise(empty)
    fwd = F.concat(fwd1, fwd2)
    sym = F.concat(
        fwd,
        F.transform(
            fwd, lambda s: F.struct(s["w2"].alias("w1"), s["w1"].alias("w2"))
        ),
    )
    return (
        d.select(F.explode(sym).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
    )


# ---------------------------------------------------------------- dsir_weights


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023) in fixed point:
    estimate a target unigram distribution from the in-domain slice
    (lang = 'en') and a raw distribution from the whole corpus, score
    every document by the mean per-token target/raw ratio, expressed as
    ``floor(cnt_target * 1e6 / cnt_raw)`` so the whole computation is
    integer-exact until one final IEEE division. The vocabulary
    aggregate is one token-keyed shuffle (bounded cardinality, map-side
    partials); the ratio table is dictionary-sized and broadcasts; the
    per-doc score is one doc_id-keyed groupBy. At 100 TB the broadcast
    becomes the top-V vocabulary with a smoothed tail default — the
    plan shape is unchanged."""
    d = table(spark, sf_dir, "documents", spread=True)
    tf = d.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab = tf.groupBy("tok").agg(
        F.count("*").alias("cnt_raw"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("cnt_tgt"),
    )
    ratio = vocab.select(
        "tok",
        F.floor(F.col("cnt_tgt") * DSIR_SCALE / F.col("cnt_raw"))
        .cast("long")
        .alias("ratio_fp"),
    )
    return (
        tf.join(F.broadcast(ratio), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("ratio_fp").alias("sum_fp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_fp",
            F.round(
                F.col("sum_fp").cast("double") / F.col("n_tokens") / DSIR_SCALE,
                6,
            ).alias("dsir_w"),
        )
    )


# ------------------------------------------------------------------ cdc chunks


def cdc_chunk_records(d: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, chunk_len, chunk_hash) over a (doc_id, text)
    DataFrame: content-defined chunking of the token stream. A boundary
    closes after token ``i`` when the fingerprint of the trailing
    CDC_W-token window satisfies ``hash % CDC_MASK == 0`` (plus a forced
    boundary at end-of-doc), so chunk boundaries are a pure function of
    local content — insertions shift only the chunks they touch, which
    is the property that makes chunk-hash dedup robust to edits
    (LBFS / FastCDC). Everything up to the explode is a map-side
    expression over the token array; the window fingerprint is md5-based
    for bit-parity with the oracle (a production deployment would swap
    in a cheaper polynomial Rabin fingerprint — same
    boundaries-from-content contract)."""
    toks = tokens(F.col("text"))
    n = F.size(toks)
    win = lambda i: F.concat_ws(
        " ", *[F.element_at(toks, i + j - (CDC_W - 1)) for j in range(CDC_W)]
    )
    cand = F.when(
        n >= CDC_W,
        F.filter(
            F.sequence(F.lit(CDC_W), n),
            lambda i: hex32(win(i)) % CDC_MASK == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    # force the final boundary at n (no-op when the last window already cut)
    bounds = F.when(F.get(cand, F.size(cand) - 1) == n, cand).otherwise(
        F.concat(cand, F.array(n))
    )
    base = d.filter(n >= 1).select(
        "doc_id", toks.alias("toks"), bounds.alias("bounds")
    )
    b = F.col("bounds")
    j = F.col("chunk_idx")
    # F.get is 0-indexed and null-safe (ANSI element_at throws on index 0,
    # and CASE laziness is not something to bet a plan on)
    start = F.when(j == 1, F.lit(1)).otherwise(F.get(b, j - 2) + 1)
    end = F.element_at(b, j.cast("int"))
    chunk_text = F.concat_ws(
        " ", F.slice(F.col("toks"), start, end - start + 1)
    )
    return (
        base.select(
            "doc_id",
            "toks",
            "bounds",
            F.explode(F.sequence(F.lit(1), F.size(b))).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (end - start + 1).cast("long").alias("chunk_len"),
            hex32(chunk_text).alias("chunk_hash"),
        )
    )


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk records per document (see cdc_chunk_records)."""
    return cdc_chunk_records(table(spark, sf_dir, "documents", spread=True))


def q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level duplicate detection: chunks whose content hash occurs
    more than once corpus-wide, with document reach and occurrence
    count. One equi-keyed groupBy on chunk_hash over the map-side chunk
    records — sub-document dedup at 100 TB without any pairwise work."""
    return (
        cdc_chunk_records(table(spark, sf_dir, "documents", spread=True))
        .groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") > 1)
    )


# -------------------------------------------------------------------- bfs_dist


def q_bfs_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS distances over the synthesized doc→doc link
    graph (same modular edge set as pagerank; sources are doc_id % 7 ==
    0). BFS_ROUNDS relaxation supersteps, each one keyed equi-join
    (edges ⋈ distances on src) + one min-aggregate by dst + a left join
    back to the node universe — the Pregel idiom; the distance table
    stays node-sized and distributed, nothing collects. Distances are
    small integers; unreached after BFS_ROUNDS hops reports -1."""
    d = table(spark, sf_dir, "documents", spread=True)
    n = d.count()
    nodes = d.select(F.col("doc_id").cast("long").alias("id"))
    i = F.col("id")
    edges = _edges(nodes, n)
    dist = nodes.select(
        "id",
        F.when(i % 7 == 0, F.lit(0)).otherwise(F.lit(BFS_INF)).cast("long").alias("dist"),
    )
    for _ in range(BFS_ROUNDS):
        relax = (
            edges.join(dist.withColumnRenamed("id", "src"), "src")
            .select("dst", (F.col("dist") + 1).alias("cand"))
            .groupBy("dst")
            .agg(F.min("cand").alias("md"))
        )
        dist = dist.join(relax, dist.id == relax.dst, "left").select(
            "id",
            F.least(
                F.col("dist"), F.coalesce("md", F.lit(BFS_INF))
            ).alias("dist"),
        )
    return dist.select(
        F.col("id").alias("doc_id"),
        F.when(F.col("dist") >= BFS_INF, F.lit(-1))
        .otherwise(F.col("dist"))
        .cast("long")
        .alias("dist"),
    )


QUERIES = {
    "cooccurrence": q_cooccurrence,
    "dsir_weights": q_dsir_weights,
    "cdc_chunks": q_cdc_chunks,
    "cdc_dedup": q_cdc_dedup,
    "bfs_dist": q_bfs_dist,
}

_TOKS = DUCK_TOKENS.format(x="text")

ORACLES = {}

ORACLES["cooccurrence"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tf AS (
        SELECT doc_id, unnest(toks) AS tok,
               unnest(generate_series(1, len(toks))) AS pos
        FROM t
    )
    SELECT a.tok AS w1, b.tok AS w2, count(*) AS cnt
    FROM tf a JOIN tf b
      ON a.doc_id = b.doc_id AND abs(a.pos - b.pos) BETWEEN 1 AND 2
    GROUP BY 1, 2
"""

ORACLES["dsir_weights"] = f"""
    WITH tf AS (
        SELECT doc_id, lang, unnest({_TOKS}) AS tok FROM documents
    ),
    v AS (
        SELECT tok, count(*) AS cnt_raw,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cnt_tgt
        FROM tf GROUP BY tok
    ),
    r AS (
        SELECT tok,
               floor(cnt_tgt * {DSIR_SCALE} / cnt_raw)::BIGINT AS ratio_fp
        FROM v
    )
    SELECT tf.doc_id, count(*)::BIGINT AS n_tokens,
           sum(r.ratio_fp)::BIGINT AS sum_fp,
           round(sum(r.ratio_fp)::BIGINT::DOUBLE / count(*) / {DSIR_SCALE},
                 6) AS dsir_w
    FROM tf JOIN r ON r.tok = tf.tok
    GROUP BY tf.doc_id
"""

_CDC_WIN = " || ' ' || ".join(f"toks[i-{CDC_W - 1 - j}]" for j in range(CDC_W))
_CDC_HASH = DUCK_HEX32.format(x=_CDC_WIN)

_CDC_CTE = f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
        WHERE len({_TOKS}) >= 1
    ),
    b AS (
        SELECT doc_id, toks,
               CASE WHEN cand[len(cand)] = len(toks) THEN cand
                    ELSE list_append(cand, len(toks)) END AS bounds
        FROM (
            SELECT doc_id, toks,
                   list_filter(generate_series({CDC_W}, len(toks)),
                               i -> {_CDC_HASH} % {CDC_MASK} = 0) AS cand
            FROM t
        )
    ),
    chunks AS (
        SELECT doc_id, j::BIGINT AS chunk_idx,
               (bounds[j] - st + 1)::BIGINT AS chunk_len,
               {DUCK_HEX32.format(
                   x="array_to_string(list_slice(toks, st, bounds[j]), ' ')"
               )} AS chunk_hash
        FROM (
            SELECT doc_id, toks, bounds, j,
                   CASE WHEN j = 1 THEN 1 ELSE bounds[j-1] + 1 END AS st
            FROM (
                SELECT doc_id, toks, bounds,
                       unnest(generate_series(1, len(bounds))) AS j
                FROM b
            )
        )
    )
"""

ORACLES["cdc_chunks"] = _CDC_CTE + """
    SELECT doc_id, chunk_idx, chunk_len, chunk_hash FROM chunks
"""

ORACLES["cdc_dedup"] = _CDC_CTE + """
    SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occurrences
    FROM chunks GROUP BY chunk_hash HAVING count(*) > 1
"""


def _bfs_sql() -> str:
    steps = []
    prev = "d0"
    for r in range(1, BFS_ROUNDS + 1):
        steps.append(f"""
    d{r} AS (
        SELECT p.id, least(p.dist, coalesce(m.md, {BFS_INF})) AS dist
        FROM {prev} p LEFT JOIN (
            SELECT e.dst AS id, min(s.dist + 1) AS md
            FROM edges e JOIN {prev} s ON s.id = e.src
            GROUP BY e.dst
        ) m ON m.id = p.id
    )""")
        prev = f"d{r}"
    return f"""
    WITH nodes AS (SELECT doc_id::BIGINT AS id FROM documents),
    nn AS (SELECT count(*)::BIGINT AS n FROM documents),
    edges AS (
        SELECT id AS src, (id*2+1) % (SELECT n FROM nn) AS dst
        FROM nodes WHERE id % 3 <> 0
        UNION ALL
        SELECT id, (id*7+3) % (SELECT n FROM nn) FROM nodes WHERE id % 2 = 0
        UNION ALL
        SELECT id, (id + (SELECT n FROM nn) // 2) % (SELECT n FROM nn)
        FROM nodes WHERE id % 6 = 1
    ),
    d0 AS (
        SELECT id, CASE WHEN id % 7 = 0 THEN 0 ELSE {BFS_INF} END AS dist
        FROM nodes
    ),{",".join(steps)[1:]}
    SELECT id AS doc_id,
           (CASE WHEN dist >= {BFS_INF} THEN -1 ELSE dist END)::BIGINT AS dist
    FROM {prev}
"""


ORACLES["bfs_dist"] = _bfs_sql()


# -------------------------------------------------------------------- sssp_dist

SSSP_ROUNDS = 4
SSSP_INF = 999_999


def _link_edges(spark: SparkSession, sf_dir: str):
    """The synthesized doc→doc link graph (same modular edge set as
    pagerank/bfs_dist) with deterministic integer weights
    ``(src + dst) % 9 + 1`` — closed-form so the oracle recomputes them;
    production reads a real weighted edge table."""
    d = table(spark, sf_dir, "documents", spread=True)
    n = d.count()
    nodes = d.select(F.col("doc_id").cast("long").alias("id"))
    return nodes, _edges(nodes, n).withColumn(
        "w", (F.col("src") + F.col("dst")) % 9 + 1
    )


def q_sssp_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source WEIGHTED shortest paths — Bellman-Ford relaxation
    rounds, the weighted companion to ``bfs_dist`` (sources: doc_id %
    11 == 0; distances exact for paths of ≤ SSSP_ROUNDS hops, the
    GraphX/Pregel sssp idiom). Each superstep is one keyed equi-join
    (edges ⋈ dist on src) + one min-aggregate by dst + a left join back
    to the node universe: the frontier state stays node-sized and
    distributed, nothing collects, and the join keys are stable across
    supersteps so a real cluster co-partitions them once. Integer
    weights keep both engines bit-exact; unreached reports -1."""
    nodes, edges = _link_edges(spark, sf_dir)
    i = F.col("id")
    dist = nodes.select(
        "id",
        F.when(i % 11 == 0, F.lit(0))
        .otherwise(F.lit(SSSP_INF))
        .cast("long")
        .alias("dist"),
    )
    for _ in range(SSSP_ROUNDS):
        relax = (
            edges.join(dist.withColumnRenamed("id", "src"), "src")
            .select("dst", (F.col("dist") + F.col("w")).alias("cand"))
            .groupBy("dst")
            .agg(F.min("cand").alias("md"))
        )
        dist = dist.join(relax, dist.id == relax.dst, "left").select(
            "id",
            F.least(
                F.col("dist"), F.coalesce("md", F.lit(SSSP_INF))
            ).alias("dist"),
        )
    return dist.select(
        F.col("id").alias("doc_id"),
        F.when(F.col("dist") >= SSSP_INF, F.lit(-1))
        .otherwise(F.col("dist"))
        .cast("long")
        .alias("dist"),
    )


QUERIES["sssp_dist"] = q_sssp_dist


def _sssp_sql() -> str:
    steps = []
    prev = "d0"
    for r in range(1, SSSP_ROUNDS + 1):
        steps.append(f"""
    d{r} AS (
        SELECT p.id, least(p.dist, coalesce(m.md, {SSSP_INF})) AS dist
        FROM {prev} p LEFT JOIN (
            SELECT e.dst AS id, min(s.dist + e.w) AS md
            FROM edges e JOIN {prev} s ON s.id = e.src
            GROUP BY e.dst
        ) m ON m.id = p.id
    )""")
        prev = f"d{r}"
    return f"""
    WITH nodes AS (SELECT doc_id::BIGINT AS id FROM documents),
    nn AS (SELECT count(*)::BIGINT AS n FROM documents),
    e0 AS (
        SELECT id AS src, (id*2+1) % (SELECT n FROM nn) AS dst
        FROM nodes WHERE id % 3 <> 0
        UNION ALL
        SELECT id, (id*7+3) % (SELECT n FROM nn) FROM nodes WHERE id % 2 = 0
        UNION ALL
        SELECT id, (id + (SELECT n FROM nn) // 2) % (SELECT n FROM nn)
        FROM nodes WHERE id % 6 = 1
    ),
    edges AS (SELECT src, dst, (src + dst) % 9 + 1 AS w FROM e0),
    d0 AS (
        SELECT id, CASE WHEN id % 11 = 0 THEN 0 ELSE {SSSP_INF} END AS dist
        FROM nodes
    ),{",".join(steps)[1:]}
    SELECT id AS doc_id,
           (CASE WHEN dist >= {SSSP_INF} THEN -1 ELSE dist END)::BIGINT AS dist
    FROM {prev}
"""


ORACLES["sssp_dist"] = _sssp_sql()
