"""Near-duplicate detection operators for a training-data pipeline:
MinHash + LSH banding, SimHash, n-gram Jaccard.

Scale design (100 TB): MinHash signatures are computed entirely MAP-SIDE
(one md5 per shingle, then k affine permutations ``(a_i*h + b_i) mod p``
over the per-document hash array — no seed-explode, no shuffle), so the
only shuffles are the LSH bucket groupBys. LSH bands hash signatures into
buckets so candidate generation is an equi-join on (band, band_key)
instead of an O(n²) cross join; the O(n²) Jaccard query exists as the
small-scale oracle-checkable baseline.

Parity: md5 hex is identical across Spark and DuckDB; all float-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import scratch
from .util import DUCK_HEX32, global_seq, hash_min_fixpoint, hex32, table

N_SEEDS = 8  # minhash permutations
N_BANDS = 4  # LSH bands of 2 rows each
SIM_BITS = 16  # simhash signature width


def _shingles(text: Column) -> Column:
    """3-word shingles in document order (empty when < 3 tokens)."""
    toks = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    n = F.size(toks)
    return F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


DUCK_SHINGLES = (
    "list_transform(generate_series(1, greatest(len(toks) - 2, 0)), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
)
DUCK_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"


# affine-permutation MinHash constants: minh_i = min((A[i]*h + B[i]) mod P)
# over shingle hashes h (classic LCG multipliers; P = 2^31-1). a*h stays
# under 2^62 because h is reduced mod P first.
MH_P = 2147483647
MH_A = [1664525, 22695477, 69069, 1103515245, 134775813, 214013, 16843009, 48271]
MH_B = [(j * 2654435761) % MH_P for j in range(N_SEEDS)]


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-form minhash: (doc_id, seed, minh) — map-side only: one md5
    per shingle, then N_SEEDS affine permutations over the hash array."""
    d = table(spark, sf_dir, "documents", spread=True)
    hs = F.transform(_shingles(F.col("text")), lambda s: hex32(s) % MH_P)
    # explode THEN aggregate: the md5 pass runs exactly once per shingle
    # (array-side formulations let CollapseProject inline the hash array
    # into each per-seed projection and recompute it N_SEEDS times), and
    # the 8 mins are partial-aggregated map-side before the doc_id shuffle
    sh_h = d.select("doc_id", F.explode(hs).alias("h"))
    aggs = [
        F.min((F.col("h") * MH_A[i] + MH_B[i]) % MH_P).alias(f"mh{i}")
        for i in range(N_SEEDS)
    ]
    wide = sh_h.groupBy("doc_id").agg(*aggs)
    return wide.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"mh{i}") for i in range(N_SEEDS)])).alias(
            "seed", "minh"
        ),
    )


def q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(spark, sf_dir)


def _lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, band_key): band_key = seed-ordered concat of the
    band's minhashes — the LSH bucket id."""
    sig = minhash_signatures(spark, sf_dir)
    return (
        sig.withColumn("band", F.floor(F.col("seed") / (N_SEEDS // N_BANDS)))
        .groupBy("doc_id", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seed", "minh"))),
                    lambda x: x["minh"].cast("string"),
                ),
                "|",
            ).alias("band_key")
        )
    )


def q_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band bucket histogram: how many buckets, biggest bucket, and
    how many buckets hold >1 doc (candidate-pair generators)."""
    b = _lsh_buckets(spark, sf_dir)
    per_bucket = b.groupBy("band", "band_key").agg(F.count("*").alias("cnt"))
    return per_bucket.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.max("cnt").alias("max_bucket"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias("collided"),
    )


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket
    (equi-join on (band, band_key) — the scale path vs O(n²))."""
    b = _lsh_buckets(spark, sf_dir)
    a = b.alias("a")
    c = b.alias("c")
    return (
        a.join(c, ["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("c.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b")
        )
        .distinct()
    )


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the LSH near-dup candidate graph — the
    cluster-density signal that separates a tight duplicate clique from
    a chain of pairwise-marginal matches, and the third graph operator
    next to PageRank / connected components.

    Compact-forward algorithm on ordered edges: every edge is stored
    once as (a < b), and a triangle {a<b<c} is found exactly once by
    joining (a,b)⋈(b,c) on the middle vertex then closing with (a,c) —
    two shuffle equi-joins, join input bounded by the graph's wedge
    count (at production scale, degree-ordering the edges first caps
    the wedge explosion on hubs). No enumeration of non-edges, no
    cartesian anything."""
    e = q_lsh_pairs(spark, sf_dir)
    e1 = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = e.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_triangles"))
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash over token bag: bit j of the signature is the sign of the
    sum over tokens of ±1 by bit j of the token's 32-bit hash."""
    d = table(spark, sf_dir, "documents", spread=True)
    toks = d.select(
        "doc_id",
        F.explode(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("w"),
    ).select("doc_id", hex32(F.col("w")).alias("h"))
    bits = toks.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(SIM_BITS - 1))).alias("j"),
    ).select(
        "doc_id",
        "j",
        (
            (F.floor(F.col("h") / F.pow(F.lit(2.0), F.col("j"))).cast("long") % 2)
            * 2
            - 1
        ).alias("contrib"),
    )
    per_bit = bits.groupBy("doc_id", "j").agg(F.sum("contrib").alias("s"))
    return per_bit.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.pow(F.lit(2.0), F.col("j")).cast("long")).otherwise(
                F.lit(0)
            )
        ).alias("simhash")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-similar pairs by exact 3-gram Jaccard — the O(n²)
    brute-force baseline the LSH path approximates (oracle-checkable)."""
    d = table(spark, sf_dir, "documents", spread=True)
    sh = d.select(
        "doc_id", F.explode(_shingles(F.col("text"))).alias("sh")
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("nsh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.sh") == F.col("b.sh"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("nsh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("nsh").alias("nb"))
    j = (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4
            ).alias("jaccard"),
        )
    )
    return j.orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b")).limit(20)




def q_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash accuracy audit: for the 20 most-similar exact pairs, the
    estimated Jaccard (fraction of agreeing minhash seeds) next to the
    exact value — the quality check a production dedup pipeline ships
    with its sketch parameters."""
    exact = q_ngram_jaccard(spark, sf_dir)
    sig = minhash_signatures(spark, sf_dir)
    a = sig.select(F.col("doc_id").alias("doc_a"), "seed", F.col("minh").alias("ha"))
    b = sig.select(F.col("doc_id").alias("doc_b"), "seed", F.col("minh").alias("hb"))
    est = (
        exact.join(a, "doc_a")
        .join(b, ["doc_b", "seed"])
        .groupBy("doc_a", "doc_b", "jaccard")
        .agg(
            F.round(
                F.sum(F.when(F.col("ha") == F.col("hb"), 1).otherwise(0))
                / F.lit(float(N_SEEDS)),
                4,
            ).alias("est_jaccard")
        )
    )
    return est.select("doc_a", "doc_b", "jaccard", "est_jaccard")




def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash matching: pairs within Hamming distance ≤ 1 — via BANDED
    equi-join, the 100 TB path. The 16-bit signature splits into two 8-bit
    halves; Hamming ≤ 1 guarantees the pair agrees exactly on at least one
    half (a single differing bit lives in only one half), so candidates =
    equi-join on (band, band_val), union over bands, distinct — never an
    O(n²) cross join. The Hamming filter then keeps the true near-pairs."""
    sig = q_simhash(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                F.col("simhash") % 256,
                F.floor(F.col("simhash") / 256).cast("long"),
            )
        ).alias("band", "bval"),
    )
    a = bands.alias("a")
    c = bands.alias("c")
    cands = (
        a.join(c, ["band", "bval"])
        .filter(F.col("a.doc_id") < F.col("c.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("c.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("c.simhash").alias("sb"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= 1)
        .select("doc_a", "doc_b", "hamming")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the LSH
    candidate-pair graph, label = min doc_id reachable (singleton docs
    keep their own id). This is the step that turns pairwise candidates
    into the actual drop-set of a dedup pipeline.

    Scale design: ``util.hash_min_fixpoint`` over the symmetric
    candidate-pair graph (hash-min with pointer jumping, the
    boruvka_msf contraction loop) — near-dup components have tiny
    diameters, so it converges in a handful of sweeps. The edge list is
    materialized once instead of re-running the MinHash job per sweep.
    Convergence is an exact fixpoint check (changed-label count == 0),
    so results are deterministic and oracle-checkable (DuckDB recursive
    CTE)."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    pairs = q_lsh_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
        .localCheckpoint()
    )
    labels = docs.select(F.col("doc_id").alias("cid"), F.col("doc_id").alias("lbl"))
    # fixpoint guard: near-dup graphs converge in ~2-3 sweeps
    labels = hash_min_fixpoint(edges, labels, 50)
    return labels.select(
        F.col("cid").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per near-dup cluster (clusters with
    ≥2 members): keep the longest document, ties to the smallest doc_id;
    report cluster size and how many rows a dedup pass would drop.
    One window pass over the cluster assignment — same SQL both engines."""
    from pyspark.sql import Window

    c = q_dedup_clusters(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = c.join(d, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    wc = Window.partitionBy("cluster_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("n_docs", F.count("*").over(wc))
        .filter((F.col("rn") == 1) & (F.col("n_docs") >= 2))
        .select(
            "cluster_id",
            "n_docs",
            F.col("doc_id").alias("keep_doc"),
            (F.col("n_docs") - 1).alias("n_dropped"),
        )
    )


QUERIES = {
    "minhash_sig": q_minhash_sig,
    "lsh_bucket_stats": q_lsh_bucket_stats,
    "lsh_pairs": q_lsh_pairs,
    "simhash": q_simhash,
    "simhash_near_pairs": q_simhash_near_pairs,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_jaccard_est": q_minhash_jaccard_est,
    "dedup_clusters": q_dedup_clusters,
    "dedup_survivors": q_dedup_survivors,
    "triangles": q_triangles,
}

_SHINGLE_CTE = f"""
        WITH sh AS (
            SELECT doc_id, unnest(shingles) AS sh FROM (
                SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM (
                    SELECT doc_id, {DUCK_TOKS} AS toks FROM documents
                )
            )
        )
"""

_MH_A_SQL = "[" + ", ".join(str(a) for a in MH_A) + "]"
_MH_B_SQL = "[" + ", ".join(str(b) for b in MH_B) + "]"

_SIG_SQL = f"""
        WITH hs AS (
            SELECT doc_id,
                   list_transform({DUCK_SHINGLES.replace("toks", "t")},
                                  s -> {DUCK_HEX32.format(x="s")} % {MH_P}) AS hs
            FROM (SELECT doc_id, {DUCK_TOKS} AS t FROM documents)
        ),
        wide AS (
            -- len(hs) > 0 keeps parity with Spark for <3-token documents:
            -- the Spark explode-then-groupBy emits no rows for an empty
            -- shingle set, while list_min over an empty list is NULL
            SELECT doc_id, unnest(generate_series(0, {N_SEEDS - 1})) AS seed, hs
            FROM hs WHERE len(hs) > 0
        )
        SELECT doc_id, seed,
               list_min(list_transform(hs,
                   h -> (h * ({_MH_A_SQL})[seed + 1] + ({_MH_B_SQL})[seed + 1]) % {MH_P})) AS minh
        FROM wide
"""

_BUCKET_SQL = f"""
        WITH sig AS ({_SIG_SQL}),
        buckets AS (
            SELECT doc_id, seed // {N_SEEDS // N_BANDS} AS band,
                   string_agg(minh, '|' ORDER BY seed) AS band_key
            FROM sig GROUP BY doc_id, band
        )
"""

# transitive closure of the LSH pair graph: min reachable doc_id per doc
# (recursive CTE == the Spark side's converged min-label propagation)
_CC_SQL = f"""
        WITH RECURSIVE sig AS ({_SIG_SQL}),
        buckets AS (
            SELECT doc_id, seed // {N_SEEDS // N_BANDS} AS band,
                   string_agg(minh, '|' ORDER BY seed) AS band_key
            FROM sig GROUP BY doc_id, band
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
            FROM buckets a JOIN buckets c
              ON a.band = c.band AND a.band_key = c.band_key
            WHERE a.doc_id < c.doc_id
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(doc_id, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id
        ),
        clusters AS (
            SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id
        )
"""

ORACLES = {
    "minhash_sig": _SIG_SQL,
    "lsh_bucket_stats": f"""{_BUCKET_SQL}
        , per_bucket AS (
            SELECT band, band_key, count(*) AS cnt
            FROM buckets GROUP BY band, band_key
        )
        SELECT band, count(*) AS n_buckets, max(cnt) AS max_bucket,
               sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)::BIGINT AS collided
        FROM per_bucket GROUP BY band
    """,
    "lsh_pairs": f"""{_BUCKET_SQL}
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM buckets a JOIN buckets c
          ON a.band = c.band AND a.band_key = c.band_key
        WHERE a.doc_id < c.doc_id
    """,
    "simhash": f"""
        WITH tok AS (
            SELECT doc_id, unnest({DUCK_TOKS}) AS w FROM documents
        ),
        bits AS (
            SELECT doc_id, j,
                   sum(((CAST(floor(h / pow(2.0, j)) AS BIGINT) % 2) * 2 - 1)) AS s
            FROM (
                SELECT doc_id, {DUCK_HEX32.format(x="w")} AS h,
                       unnest(generate_series(0, {SIM_BITS - 1})) AS j
                FROM tok
            ) GROUP BY doc_id, j
        )
        SELECT doc_id,
               sum(CASE WHEN s > 0 THEN CAST(pow(2.0, j) AS BIGINT) ELSE 0 END)::BIGINT AS simhash
        FROM bits GROUP BY doc_id
    """,
    "minhash_jaccard_est": f"""
        WITH sig AS ({_SIG_SQL}),
        sh0 AS (
            SELECT doc_id, unnest(shingles) AS sh FROM (
                SELECT doc_id, {DUCK_SHINGLES} AS shingles FROM (
                    SELECT doc_id, {DUCK_TOKS} AS toks FROM documents
                )
            )
        ),
        dsh AS (SELECT DISTINCT doc_id, sh FROM sh0),
        sizes AS (SELECT doc_id, count(*) AS nsh FROM dsh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM dsh a JOIN dsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        ),
        exact AS (
            SELECT doc_a, doc_b,
                   round(inter / (na.nsh + nb.nsh - inter), 4) AS jaccard
            FROM inter
            JOIN sizes na ON na.doc_id = doc_a
            JOIN sizes nb ON nb.doc_id = doc_b
            ORDER BY jaccard DESC, doc_a ASC, doc_b ASC LIMIT 20
        )
        SELECT e.doc_a, e.doc_b, e.jaccard,
               round(sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) / {N_SEEDS}.0, 4) AS est_jaccard
        FROM exact e
        JOIN sig sa ON sa.doc_id = e.doc_a
        JOIN sig sb ON sb.doc_id = e.doc_b AND sb.seed = sa.seed
        GROUP BY e.doc_a, e.doc_b, e.jaccard
    """,
    "simhash_near_pairs": f"""
        WITH tok AS (
            SELECT doc_id, unnest({DUCK_TOKS}) AS w FROM documents
        ),
        bits AS (
            SELECT doc_id, j,
                   sum(((CAST(floor(h / pow(2.0, j)) AS BIGINT) % 2) * 2 - 1)) AS s
            FROM (
                SELECT doc_id, {DUCK_HEX32.format(x="w")} AS h,
                       unnest(generate_series(0, {SIM_BITS - 1})) AS j
                FROM tok
            ) GROUP BY doc_id, j
        ),
        sig AS (
            SELECT doc_id,
                   sum(CASE WHEN s > 0 THEN CAST(pow(2.0, j) AS BIGINT) ELSE 0 END)::BIGINT AS simhash
            FROM bits GROUP BY doc_id
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sig a, sig b
        WHERE a.doc_id < b.doc_id
          AND bit_count(xor(a.simhash, b.simhash)) <= 1
    """,
    "ngram_jaccard": f"""{_SHINGLE_CTE}
        , dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
        sizes AS (SELECT doc_id, count(*) AS nsh FROM dsh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM dsh a JOIN dsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        )
        SELECT doc_a, doc_b,
               round(inter / (na.nsh + nb.nsh - inter), 4) AS jaccard
        FROM inter
        JOIN sizes na ON na.doc_id = doc_a
        JOIN sizes nb ON nb.doc_id = doc_b
        ORDER BY jaccard DESC, doc_a ASC, doc_b ASC LIMIT 20
    """,
    "dedup_clusters": f"""{_CC_SQL}
        SELECT doc_id, cluster_id FROM clusters
    """,
    "dedup_survivors": f"""{_CC_SQL}
        , ranked AS (
            SELECT c.cluster_id, c.doc_id, d.n_chars,
                   row_number() OVER (PARTITION BY c.cluster_id
                                      ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn,
                   count(*) OVER (PARTITION BY c.cluster_id) AS n_docs
            FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
        )
        SELECT cluster_id, n_docs::BIGINT AS n_docs, doc_id AS keep_doc,
               (n_docs - 1)::BIGINT AS n_dropped
        FROM ranked WHERE rn = 1 AND n_docs >= 2
    """,
}

ORACLES["triangles"] = f"""{_BUCKET_SQL}
    , pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM buckets a JOIN buckets c
          ON a.band = c.band AND a.band_key = c.band_key
        WHERE a.doc_id < c.doc_id
    ),
    tri AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.doc_a = e1.doc_b
        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    )
    SELECT doc_id, count(*)::BIGINT AS n_triangles
    FROM (
        SELECT unnest([a, b, c]) AS doc_id FROM tri
    )
    GROUP BY doc_id
"""


JAC_T_NUM, JAC_T_DEN = 9, 10  # Jaccard threshold 0.9 as an exact rational


def q_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered EXACT set-similarity self-join (the AllPairs /
    PPJoin family — Bayardo et al. 2007, Xiao et al. 2008): all document
    pairs whose token-set Jaccard >= 0.9, without ever forming all
    pairs.

    r5 cost rewrite (same results bit-for-bit, 119 s → measured well
    under the 40 s gate budget at sf0.1). Three standard set-similarity
    engineering moves, each exactness-preserving:

    1. **Exact-dedup pre-pass**: documents are grouped by their exact
       token SET (md5 set key); the join/verify machinery runs once per
       DISTINCT set, and surviving set pairs expand back to doc pairs
       through two output-sized equi-joins on the group id. Identical
       sets are Jaccard-1 by definition, so each group with >= 2 members
       contributes its internal pairs directly. This is the shape every
       production near-dup stack uses (exact dedup before near-dup).
    2. **Integer-rank verify**: tokens map to their global rarity rank
       (document-frequency asc — any consistent total order preserves
       the prefix-filter theorem), so candidate generation and the exact
       intersect verify run over sorted int arrays, not string arrays —
       far lighter to shuffle and compare.
    3. **Windowless prefix**: the rank array is sorted, so the
       ``n - ceil(t*n) + 1`` rarest tokens are ``slice(rids, 1,
       pref_len)`` — the per-document row_number window the old plan
       paid for disappears.

    Multiply-consumed stages (members, reps, ids, prefix) sever through
    scratch parquet so no subtree re-runs per consumer (the measured
    single-plan pathology: 119 s vs ~22 s staged for identical work).
    At 100 TB candidate volume is governed by the df of the rarest
    prefix tokens; the vocabulary rank table is vocab-sized; nothing
    all-pairs, nothing doc-sized on the driver."""
    d = table(spark, sf_dir, "documents", spread=True)
    docsets = d.select(
        "doc_id",
        F.array_sort(F.array_distinct(
            F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
        )).alias("toks"),
    ).withColumn(
        "set_key", F.md5(F.concat_ws("\x1f", F.col("toks")))
    )
    keyed = docsets.select("doc_id", "set_key")
    groups = keyed.groupBy("set_key").agg(
        F.min("doc_id").alias("gid"), F.count("*").alias("c")
    )
    members = scratch.stage(keyed.join(groups, "set_key").select("gid", "doc_id"))
    # one representative token set per group (rows with equal set_key
    # have equal toks, so min_by is deterministic here)
    reps = (
        docsets.groupBy("set_key")
        .agg(F.min_by("toks", "doc_id").alias("toks"))
        .join(groups, "set_key")
        .select("gid", "c", "toks", F.size("toks").alias("n"))
    )
    tf = reps.select("gid", "n", F.explode("toks").alias("tok"))
    vocab = tf.groupBy("tok").agg(F.count("*").alias("df"))
    # tok is unique in vocab, so (df, tok) is a total order
    ranked = global_seq(vocab, ["df", "tok"], out="r")
    ids = scratch.stage(
        tf.join(F.broadcast(ranked), "tok")
        .groupBy("gid")
        .agg(
            F.sort_array(F.collect_list("r")).alias("rids"),
            F.any_value("n").alias("n"),
        )
        .select("gid", "rids", "n")
    )
    # prefix length n - ceil(t*n) + 1, with ceil done in exact integers;
    # rids is rarity-sorted, so the prefix is a plain slice
    pref_len = (
        F.col("n")
        - F.floor((JAC_T_NUM * F.col("n") + JAC_T_DEN - 1) / JAC_T_DEN)
        + 1
    ).cast("int")
    pre = scratch.stage(
        ids.select(
            "gid", F.explode(F.slice("rids", 1, pref_len)).alias("rid")
        )
    )
    cand = (
        pre.alias("a")
        .join(pre.alias("b"), "rid")
        .filter(F.col("a.gid") < F.col("b.gid"))
        .select(F.col("a.gid").alias("ga"), F.col("b.gid").alias("gb"))
        .distinct()
    )
    ia = ids.select(
        F.col("gid").alias("ga"), F.col("rids").alias("ra"),
        F.col("n").alias("na"),
    )
    ib = ids.select(
        F.col("gid").alias("gb"), F.col("rids").alias("rb"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("ra", "rb")).cast("long")
    setpairs = scratch.stage(
        cand.join(ia, "ga")
        .join(ib, "gb")
        .withColumn("inter", inter)
        .withColumn(
            "uni", (F.col("na") + F.col("nb") - F.col("inter")).cast("long")
        )
        .filter(JAC_T_DEN * F.col("inter") >= JAC_T_NUM * F.col("uni"))
        .select("ga", "gb", "inter", "uni")
    )
    ma = members.select(F.col("gid").alias("ga"), F.col("doc_id").alias("da"))
    mb = members.select(F.col("gid").alias("gb"), F.col("doc_id").alias("db"))
    cross = (
        setpairs.join(ma, "ga")
        .join(mb, "gb")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "inter",
            "uni",
        )
    )
    # identical sets: every internal pair is Jaccard 1 (n >= 1 guard
    # mirrors the prefix path, where empty sets expose no prefix token)
    intra = (
        reps.filter((F.col("c") >= 2) & (F.col("n") >= 1))
        .select("gid", F.col("n").cast("long").alias("inter"))
        .join(ma.withColumnRenamed("ga", "gid"), "gid")
        .join(mb.withColumnRenamed("gb", "gid"), "gid")
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("doc_a"), F.col("db").alias("doc_b"),
            "inter", F.col("inter").alias("uni"),
        )
    )
    return cross.unionByName(intra).select(
        "doc_a", "doc_b", "inter", "uni",
        F.round(F.col("inter").cast("double") / F.col("uni"), 4).alias("jac"),
    )


QUERIES["ppjoin_pairs"] = q_ppjoin_pairs

ORACLES["ppjoin_pairs"] = f"""
    WITH s AS (
        SELECT doc_id, list_sort(list_distinct({DUCK_TOKS})) AS toks
        FROM documents
    ),
    tf AS (
        SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM s
    ),
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter::BIGINT AS inter,
           (na + nb - inter)::BIGINT AS uni,
           round(inter::DOUBLE / (na + nb - inter), 4) AS jac
    FROM p
    WHERE {JAC_T_DEN} * inter >= {JAC_T_NUM} * (na + nb - inter)
"""


def q_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-vs-index near-dup — the production shape of LSH dedup once
    a corpus exists: each ingest increment (here: doc_id % 10 == 0, a
    deterministic 10% 'daily crawl') is checked against the PRE-BUILT
    band index of the base corpus, instead of recomputing all candidate
    pairs. Only the delta's signatures are new work; the base side is an
    equi-join probe into the stored (band, band_key) index table — at
    10^12 docs that's O(|delta|) hashing plus a keyed join, not O(|corpus|)
    anything. Pairs inside the delta are left to the next full-index
    refresh (or a second tiny delta⋈delta join), matching how
    incremental MinHash dedup is actually operated; composes with
    ``SnapshotCatalog.read_incremental`` for picking up exactly the
    newly-appended documents."""
    b = _lsh_buckets(spark, sf_dir)
    delta = b.filter(F.col("doc_id") % 10 == 0)
    base = b.filter(F.col("doc_id") % 10 != 0)
    return (
        delta.alias("d")
        .join(base.alias("x"), ["band", "band_key"])
        .select(
            F.col("d.doc_id").alias("new_doc"),
            F.col("x.doc_id").alias("index_doc"),
        )
        .distinct()
    )


QUERIES["lsh_incremental"] = q_lsh_incremental

ORACLES["lsh_incremental"] = f"""{_BUCKET_SQL}
    SELECT DISTINCT d.doc_id AS new_doc, x.doc_id AS index_doc
    FROM buckets d JOIN buckets x
      ON d.band = x.band AND d.band_key = x.band_key
    WHERE d.doc_id % 10 = 0 AND x.doc_id % 10 <> 0
"""


# ---------------------------------------------------------------- batch 38

CONT_PPK = 500  # keep pairs where either direction's containment ≥ 50%


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup pairs — the subset-duplication detector
    Jaccard structurally misses: a short document quoted whole inside a
    long one has tiny |A∩B|/|A∪B| but containment |A∩B|/|A| ≈ 1. The
    quadratic phase never runs: candidates come from the SAME MinHash
    band equi-join as lsh_pairs, then the exact shingle-set overlap is
    counted by joining the candidate list through the (doc, shingle
    hash) table — only hashes of LSH-candidate docs cross the shuffle,
    never text, never non-candidates. Containments and Jaccard are
    exact integer parts-per-thousand; the output keeps pairs where
    either direction clears CONT_PPK, with Jaccard as the audit column
    showing what a Jaccard-only gate would have scored."""
    cand = q_lsh_pairs(spark, sf_dir)
    d = table(spark, sf_dir, "documents", spread=True)
    ex = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(_shingles(F.col("text")), lambda s: hex32(s))
            )
        ).alias("h"),
    )
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sz"))
    ea = ex.select(F.col("doc_id").alias("doc_a"), "h")
    eb = ex.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        cand.join(ea, "doc_a")
        .join(eb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "inter", "size_a", "size_b",
            F.floor(F.col("inter") * 1000 / F.col("size_a"))
            .cast("long").alias("cont_a_ppk"),
            F.floor(F.col("inter") * 1000 / F.col("size_b"))
            .cast("long").alias("cont_b_ppk"),
            F.floor(
                F.col("inter") * 1000
                / (F.col("size_a") + F.col("size_b") - F.col("inter"))
            ).cast("long").alias("jaccard_ppk"),
        )
        .filter(
            F.greatest(F.col("cont_a_ppk"), F.col("cont_b_ppk")) >= CONT_PPK
        )
    )
    return out


ORACLES["containment_pairs"] = f"""{_BUCKET_SQL}
    , pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM buckets a JOIN buckets c
          ON a.band = c.band AND a.band_key = c.band_key
        WHERE a.doc_id < c.doc_id
    ),
    ex AS (
        SELECT DISTINCT doc_id, {DUCK_HEX32.format(x="sh")} AS h FROM (
            SELECT doc_id, unnest({DUCK_SHINGLES}) AS sh FROM (
                SELECT doc_id, {DUCK_TOKS} AS toks FROM documents
            )
        )
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (
        SELECT p.doc_a, p.doc_b, count(*) AS inter
        FROM pairs p
        JOIN ex a ON a.doc_id = p.doc_a
        JOIN ex b ON b.doc_id = p.doc_b AND b.h = a.h
        GROUP BY p.doc_a, p.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.inter,
           sa.sz AS size_a, sb.sz AS size_b,
           CAST(floor(i.inter * 1000.0 / sa.sz) AS BIGINT) AS cont_a_ppk,
           CAST(floor(i.inter * 1000.0 / sb.sz) AS BIGINT) AS cont_b_ppk,
           CAST(floor(i.inter * 1000.0 / (sa.sz + sb.sz - i.inter))
                AS BIGINT) AS jaccard_ppk
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE greatest(CAST(floor(i.inter * 1000.0 / sa.sz) AS BIGINT),
                   CAST(floor(i.inter * 1000.0 / sb.sz) AS BIGINT))
          >= {CONT_PPK}
"""

QUERIES["containment_pairs"] = q_containment_pairs
