"""Graph + text analytics, batch 9: HITS hubs/authorities, label-
propagation communities, character-level entropy/diversity quality
signals, overlapping context-window chunking, and GROUPING SETS.

Scale design (100 TB):
- ``hits`` and ``label_prop`` are the Pregel-in-DataFrame idiom (same
  as pagerank / connected_components / bfs_dist): the static edge list
  meets a node-sized state table in a keyed shuffle join each
  superstep, re-aggregates by the opposite endpoint, and nothing
  node-sized ever reaches the driver. Per superstep: one join + one
  groupBy — the identical plan at 10^9 nodes. Both are integer
  fixed-point (no normalization divides), so the DuckDB oracle's
  unrolled CTEs match bit-for-bit.
- ``char_entropy`` is the character-distribution quality gate a
  pretraining pipeline runs to drop binary-ish / mojibake documents:
  per-doc char histogram (one groupBy whose key cardinality is
  |alphabet| per doc), Simpson diversity from EXACT int64 sums (one
  IEEE division — bit-identical), Shannon entropy as a sequential
  sorted fold (Spark ``F.aggregate`` == DuckDB ``list_reduce``) so the
  float accumulates in the same order on both engines.
- ``chunk_overlap`` is training-context / RAG chunking: fixed 64-token
  windows at stride 48 (16-token overlap). Pure expression fan-out
  (sequence → explode → slice) — survives whole-stage codegen, no
  Python; output rows carry a chunk hash so downstream exact-dedup of
  chunks is one map-side key.
- ``grouping_sets`` exercises Spark's native GROUPING SETS path (one
  Expand + one aggregate, NOT one scan per set) — the way a reporting
  layer gets rollflag×status, per-flag, per-status and grand totals in
  a single pass over 100 TB instead of four.

Reference parity: the reference has no graph/chunking layer; these are
the training-data-pipeline extensions mandated by the builder brief
(same family as pagerank/dedup in ``textops.py``/``dedup.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .util import DUCK_HEX32, DUCK_TOKENS, hex32, superstep, table, tokens

HITS_ITERS = 3  # full hub→auth→hub rounds (values stay tiny in int64)
LP_ROUNDS = 3  # synchronous label-propagation supersteps
CHUNK_SIZE = 64  # tokens per training context window
CHUNK_STRIDE = 48  # window start step (=> 16-token overlap)


def _edges(nodes: DataFrame, n: int) -> DataFrame:
    """The modular doc→doc link graph shared with ``q_pagerank``
    (textops.py): d→(2d+1)%n unless d%3==0, d→(7d+3)%n for even d,
    d→(d+n/2)%n when d%6==1; d%6==3 nodes are dangling."""
    i = F.col("id")
    e1 = nodes.filter(i % 3 != 0).select(i.alias("src"), ((i * 2 + 1) % n).alias("dst"))
    e2 = nodes.filter(i % 2 == 0).select(i.alias("src"), ((i * 7 + 3) % n).alias("dst"))
    e3 = nodes.filter(i % 6 == 1).select(i.alias("src"), ((i + n // 2) % n).alias("dst"))
    return e1.unionByName(e2).unionByName(e3)


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) over the synthesized link
    graph — the second eigenvector-style ranking next to pagerank, but
    alternating over edge DIRECTION: auth(v) = Σ hub(u) over u→v, then
    hub(u) = Σ auth(v) over u→v. Integer fixed-point with NO per-round
    normalization (degrees are ≤3, so 3 rounds stay far inside int64),
    which keeps both engines order-independent-exact. Each half-step is
    one keyed join + one groupBy against the static edge list; final
    left joins restore sink/source nodes at 0."""
    d = table(spark, sf_dir, "documents", spread=True)
    n = d.count()
    nodes = d.select(F.col("doc_id").cast("long").alias("id"))
    edges = _edges(nodes, n)
    h = nodes.select("id", F.lit(1).cast("long").alias("h"))
    a = None
    for _ in range(HITS_ITERS):
        a = (
            edges.join(h.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
        )
        h = (
            edges.join(a, "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("h"))
            .withColumnRenamed("src", "id")
        )
    return (
        nodes.join(h, "id", "left")
        .join(a.withColumnRenamed("dst", "id"), "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce("h", F.lit(0)).cast("long").alias("hub_units"),
            F.coalesce("a", F.lit(0)).cast("long").alias("auth_units"),
        )
    )


_HITS_SQL = """
    WITH nodes AS (SELECT doc_id::BIGINT AS id FROM documents),
    nn AS (SELECT count(*)::BIGINT AS n FROM documents),
    edges AS (
        SELECT id AS src, (id*2+1) %% (SELECT n FROM nn) AS dst
        FROM nodes WHERE id %% 3 <> 0
        UNION ALL
        SELECT id, (id*7+3) %% (SELECT n FROM nn) FROM nodes WHERE id %% 2 = 0
        UNION ALL
        SELECT id, (id + (SELECT n FROM nn) // 2) %% (SELECT n FROM nn)
        FROM nodes WHERE id %% 6 = 1
    ),
    h0 AS (SELECT id, 1::BIGINT AS h FROM nodes),
    %s
    SELECT n.id AS doc_id,
           coalesce(h.h, 0)::BIGINT AS hub_units,
           coalesce(a.a, 0)::BIGINT AS auth_units
    FROM nodes n
    LEFT JOIN h%d h ON h.id = n.id
    LEFT JOIN a%d a ON a.id = n.id
"""

_HITS_STEP = """
    a%d AS (
        SELECT e.dst AS id, sum(p.h)::BIGINT AS a
        FROM edges e JOIN h%d p ON p.id = e.src GROUP BY e.dst
    ),
    h%d AS (
        SELECT e.src AS id, sum(q.a)::BIGINT AS h
        FROM edges e JOIN a%d q ON q.id = e.dst GROUP BY e.src
    )
"""


def _hits_oracle_sql() -> str:
    steps = ",".join(
        _HITS_STEP % (k + 1, k, k + 1, k + 1) for k in range(HITS_ITERS)
    )
    return _HITS_SQL % (steps, HITS_ITERS, HITS_ITERS)


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (community detection) — the
    mode-based sibling of min-label connected components: each round a
    node adopts the MOST FREQUENT label among its undirected neighbors
    (self-loop included, so every node always has a vote), ties broken
    by the SMALLER label. Deterministic by construction. The argmax is
    one groupBy(node,label) count + one max(struct(count, -label)) —
    no window, no sort; per round the state table crosses one keyed
    shuffle against the static undirected edge list."""
    d = table(spark, sf_dir, "documents", spread=True)
    n = d.count()
    nodes = d.select(F.col("doc_id").cast("long").alias("id"))
    e = _edges(nodes, n)
    und = (
        e.select("src", "dst")
        .unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .unionByName(nodes.select(F.col("id").alias("src"), F.col("id").alias("dst")))
        .distinct()
    )
    lbl = nodes.select("id", F.col("id").alias("lbl"))
    for _ in range(LP_ROUNDS):
        cnt = (
            und.join(lbl.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src", "lbl")
            .agg(F.count("*").alias("c"))
        )
        lbl = (
            cnt.groupBy("src")
            .agg(
                F.max(
                    F.struct(F.col("c").alias("c"), (-F.col("lbl")).alias("nl"))
                ).alias("m")
            )
            .select(F.col("src").alias("id"), (-F.col("m.nl")).alias("lbl"))
        )
    return lbl.select(
        F.col("id").alias("doc_id"), F.col("lbl").cast("long").alias("community")
    )


_LP_SQL = """
    WITH nodes AS (SELECT doc_id::BIGINT AS id FROM documents),
    nn AS (SELECT count(*)::BIGINT AS n FROM documents),
    edges AS (
        SELECT id AS src, (id*2+1) %% (SELECT n FROM nn) AS dst
        FROM nodes WHERE id %% 3 <> 0
        UNION ALL
        SELECT id, (id*7+3) %% (SELECT n FROM nn) FROM nodes WHERE id %% 2 = 0
        UNION ALL
        SELECT id, (id + (SELECT n FROM nn) // 2) %% (SELECT n FROM nn)
        FROM nodes WHERE id %% 6 = 1
    ),
    und AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges
            UNION ALL SELECT id, id FROM nodes
        )
    ),
    l0 AS (SELECT id, id AS lbl FROM nodes),
    %s
    SELECT id AS doc_id, lbl::BIGINT AS community FROM l%d
"""

_LP_STEP = """
    c%d AS (
        SELECT u.src, p.lbl, count(*)::BIGINT AS c
        FROM und u JOIN l%d p ON p.id = u.dst GROUP BY u.src, p.lbl
    ),
    l%d AS (
        SELECT src AS id, lbl FROM (
            SELECT src, lbl,
                   row_number() OVER (
                       PARTITION BY src ORDER BY c DESC, lbl ASC
                   ) AS rn
            FROM c%d
        ) t WHERE rn = 1
    )
"""


def _label_prop_oracle_sql() -> str:
    steps = ",".join(
        _LP_STEP % (k + 1, k, k + 1, k + 1) for k in range(LP_ROUNDS)
    )
    return _LP_SQL % (steps, LP_ROUNDS)


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution quality signals per document — the gate
    that drops binary blobs / mojibake / repeated-char spam before
    tokenization: per-doc char histogram, Simpson diversity
    1 - Σc²/n² (EXACT: int64 sums, one IEEE division), and Shannon
    entropy in nats as a sequential fold over the char-sorted histogram
    (Spark ``F.aggregate`` == DuckDB ``list_reduce``, so the double
    accumulates in the same order; rounded to 4 before output). The
    explode is n_chars rows but purely map-side; the histogram groupBy
    keys on (doc_id, char) — bounded by |alphabet| per doc."""
    d = table(spark, sf_dir, "documents", spread=True).filter(
        F.length("text") >= 1
    )
    ch = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
    ).select(
        "doc_id", F.col("text").substr(F.col("i"), F.lit(1)).alias("ch")
    )
    cnt = ch.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
        F.sort_array(
            F.collect_list(F.struct(F.col("ch").alias("ch"), F.col("c").alias("c")))
        ).alias("cs"),
    )
    nn = F.col("n").cast("double")
    ent = F.aggregate(
        F.col("cs"),
        F.lit(0.0),
        lambda acc, x: acc
        - (x["c"].cast("double") / nn) * F.log(x["c"].cast("double") / nn),
    )
    return agg.select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        (
            F.lit(1.0) - F.col("ss").cast("double") / (nn * nn)
        ).alias("simpson"),
        F.round(ent, 4).alias("entropy_nats"),
    )


_CHAR_ENTROPY_SQL = """
    WITH ch AS (
        SELECT doc_id, text[i] AS ch
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text))) AS i
            FROM documents WHERE length(text) >= 1
        )
    ),
    cnt AS (SELECT doc_id, ch, count(*)::BIGINT AS c FROM ch GROUP BY doc_id, ch),
    agg AS (
        SELECT doc_id,
               sum(c)::BIGINT AS n,
               count(*)::BIGINT AS n_distinct,
               sum(c*c)::BIGINT AS ss,
               list(c ORDER BY ch) AS cs
        FROM cnt GROUP BY doc_id
    )
    SELECT doc_id,
           n AS n_chars,
           n_distinct,
           1.0 - ss::DOUBLE / (n::DOUBLE * n::DOUBLE) AS simpson,
           round(
               list_reduce(
                   list_prepend(0.0::DOUBLE, cs),
                   (acc, c) -> acc - (c::DOUBLE / n::DOUBLE) * ln(c::DOUBLE / n::DOUBLE)
               ), 4
           ) AS entropy_nats
    FROM agg
"""


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (training sequences / RAG
    passages): 64-token windows at stride 48, final partial window
    kept. Pure expression fan-out — sequence(0, K-1) → explode →
    slice — inside whole-stage codegen; each chunk carries a 32-bit
    content hash so chunk-level exact dedup downstream is one map-side
    key. K = 1 + ceil(max(len-64, 0)/48), so a doc ≤64 tokens is
    exactly one chunk and every token lands in ≥1 chunk."""
    d = table(spark, sf_dir, "documents", spread=True)
    t = d.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 1
    )
    sz, st = CHUNK_SIZE, CHUNK_STRIDE
    n = F.size("toks")
    k_max = (F.greatest(n - sz, F.lit(0)) + (st - 1)).cast("long") / st
    t = t.select(
        "doc_id",
        "toks",
        n.alias("n"),
        F.explode(
            F.sequence(F.lit(0), F.floor(k_max).cast("int"))
        ).alias("k"),
    )
    start = (F.col("k") * st + 1).cast("int")
    ntoks = F.least(F.lit(sz), F.col("n") - start + 1)
    chunk = F.slice("toks", start, ntoks)
    return t.select(
        "doc_id",
        F.col("k").cast("long").alias("chunk_id"),
        start.cast("long").alias("start_tok"),
        ntoks.cast("long").alias("n_toks"),
        hex32(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


_CHUNK_SQL = f"""
    WITH t AS (
        SELECT doc_id, {DUCK_TOKENS.format(x='text')} AS toks FROM documents
    ),
    s AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM t WHERE len(toks) >= 1),
    x AS (
        SELECT doc_id, toks, n,
               unnest(generate_series(
                   0, (greatest(n - {CHUNK_SIZE}, 0) + {CHUNK_STRIDE - 1})
                      // {CHUNK_STRIDE}
               )) AS k
        FROM s
    ),
    y AS (
        SELECT doc_id, k, (k * {CHUNK_STRIDE} + 1)::BIGINT AS start_tok,
               least({CHUNK_SIZE}, n - (k * {CHUNK_STRIDE} + 1) + 1)::BIGINT AS n_toks,
               toks
        FROM x
    )
    SELECT doc_id, k::BIGINT AS chunk_id, start_tok, n_toks,
           {DUCK_HEX32.format(
               x="array_to_string(toks[start_tok:start_tok + n_toks - 1], ' ')"
           )} AS chunk_hash
    FROM y
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS over lineitem — flag×status, per-flag, per-status
    and grand total in ONE pass (Spark plans a single Expand + hash
    aggregate, not one scan per set). ``grouping()`` flags disambiguate
    the rollup level; grouped-out keys surface as '(all)' so the result
    is null-free for the hash compare."""
    li = table(spark, sf_dir, "lineitem")
    g = (
        li.groupingSets(
            [
                ["l_returnflag", "l_linestatus"],
                ["l_returnflag"],
                ["l_linestatus"],
                [],
            ],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_rf"),
            F.grouping("l_linestatus").cast("long").alias("g_ls"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
    )
    return g.select(
        F.coalesce("l_returnflag", F.lit("(all)")).alias("rf"),
        F.coalesce("l_linestatus", F.lit("(all)")).alias("ls"),
        "g_rf",
        "g_ls",
        "sum_qty",
        F.col("n_rows").cast("long").alias("n_rows"),
    )


_GROUPING_SETS_SQL = """
    SELECT coalesce(l_returnflag, '(all)') AS rf,
           coalesce(l_linestatus, '(all)') AS ls,
           grouping(l_returnflag)::BIGINT AS g_rf,
           grouping(l_linestatus)::BIGINT AS g_ls,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*)::BIGINT AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS (
        (l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ()
    )
"""


def q_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned degree histogram of the link graph — the
    power-law / hub-structure diagnostic run before any graph
    algorithm is budgeted (a heavy-tailed histogram predicts skewed
    supersteps and motivates degree-ordering / salting). Degree is one
    endpoint-keyed count over the exploded edge endpoints; the log2 bin
    is integer-exact via binary-string length (floor(log2 d)+1 — no
    libm), so the histogram is bit-identical across engines. Shuffle
    cost: 2|E| endpoint rows into a node-keyed count, then a
    bin-cardinality (≤64 rows) aggregate."""
    d = table(spark, sf_dir, "documents")
    n = d.count()
    nodes = d.select(F.col("doc_id").cast("long").alias("id"))
    e = _edges(nodes, n)
    ends = e.select(F.explode(F.array("src", "dst")).alias("id"))
    deg = ends.groupBy("id").agg(F.count("*").alias("deg"))
    b = F.length(F.conv(F.col("deg"), 10, 2)).cast("long")
    return (
        deg.groupBy(b.alias("log2_bin"))
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("deg").cast("long").alias("min_deg"),
            F.max("deg").cast("long").alias("max_deg"),
        )
    )


_DEGREE_DIST_SQL = """
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
    ends AS (
        SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges
    ),
    deg AS (SELECT id, count(*) AS deg FROM ends GROUP BY id)
    SELECT length(bin(deg))::BIGINT AS log2_bin,
           count(*) AS n_nodes,
           min(deg)::BIGINT AS min_deg,
           max(deg)::BIGINT AS max_deg
    FROM deg GROUP BY 1
"""




# ------------------------------------------------------------------------ scc


SCC_OUTER = 6  # outer assign-and-remove rounds
SCC_PROP = 2  # min-label propagation hops per direction per round
# (swept empirically: SHORT propagation + MORE peel rounds decides far more
# of this graph per join — 2-hop labels stay local so fewer nodes are
# polluted by a smaller label outside their SCC; 6x2 decides ~92% of the
# sf0.001 graph vs ~49% for 3x4 at the same 24-join budget)
SCC_INF = 1 << 40


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (bounded rounds) over the SAME
    synthesized doc->doc directed link graph as ``bfs_dist``/``pagerank``
    (modular edge formulas, curation.py:229).

    The classic min-label SCC iteration (Orzan coloring / FW-BW family):
    per outer round compute f(u) = min label forward-reachable from u
    within SCC_PROP hops and b(u) = min label backward-reachable; a node
    with f(u) == b(u) == L provably sits in L's SCC (the bounded paths
    witness mutual reachability, so every assignment is CORRECT), gets
    scc_id = L and leaves the residual graph; removing assigned nodes
    unblocks nodes whose f was polluted by a smaller label outside their
    SCC. Nodes still undecided after SCC_OUTER rounds report -1 —
    bounded-round semantics exactly like ``bfs_dist``'s unreached -1,
    and the DuckDB oracle replicates the SAME bounded unrolled
    iteration, so the gate checks bit-equality, not just "some SCC".

    Scale: per hop ONE keyed equi-join (edges x labels) + one
    min-aggregate — node/edge-sized distributed state, nothing
    collects; each outer round is one ``util.superstep`` staging write
    of the node labels and the residual edge set. 2 * SCC_PROP joins per
    round x SCC_OUTER rounds; each assign-and-remove shrinks the edge
    set via two semi-joins."""
    d = table(spark, sf_dir, "documents", spread=True)
    n = d.count()
    nodes = d.select(F.col("doc_id").cast("long").alias("id"))
    edges = _edges(nodes, n)

    def _prop(E: DataFrame, lab: DataFrame, fwd: bool) -> DataFrame:
        """SCC_PROP rounds of monotone min-label propagation over E:
        f(u) pulls labels of out-neighbors (join on dst), b(u) of
        in-neighbors (join on src)."""
        near, far = ("dst", "src") if fwd else ("src", "dst")
        for _ in range(SCC_PROP):
            nb = (
                E.join(
                    lab.select(F.col("id").alias(near), F.col("lab").alias("nlab")),
                    near,
                )
                .groupBy(F.col(far).alias("nid"))
                .agg(F.min("nlab").alias("m"))
            )
            lab = lab.join(nb, lab.id == nb.nid, "left").select(
                "id",
                F.least(F.col("lab"), F.coalesce("m", F.lit(SCC_INF))).alias("lab"),
            )
        return lab

    def outer(state, _r):
        scc = state.filter(F.col("id").isNotNull()).select("id", "scc")
        E = state.filter(F.col("src").isNotNull()).select("src", "dst")
        active = scc.filter(F.col("scc") == -1).select("id")
        f = _prop(E, active.select("id", F.col("id").alias("lab")), fwd=True)
        b = _prop(E, active.select("id", F.col("id").alias("lab")), fwd=False)
        assigned = (
            f.join(b.select(F.col("id").alias("bid"), F.col("lab").alias("blab")),
                   f.id == F.col("bid"))
            .filter(F.col("lab") == F.col("blab"))
            .select("id", F.col("lab").alias("newscc"))
        )
        scc = scc.join(assigned, "id", "left").select(
            "id", F.coalesce("newscc", "scc").alias("scc")
        )
        left = scc.filter(F.col("scc") == -1).select("id")
        E = (
            E.join(left.select(F.col("id").alias("src")), "src", "semi")
            .join(left.select(F.col("id").alias("dst")), "dst", "semi")
        )
        return scc.unionByName(E, allowMissingColumns=True)

    # state: node rows (id, scc; scc = -1 while active) and the residual
    # edge rows (src, dst) among active nodes, told apart by null columns
    state, _ = superstep(
        nodes.select("id", F.lit(-1).cast("long").alias("scc")).unionByName(
            edges, allowMissingColumns=True
        ),
        outer,
        SCC_OUTER,
    )
    return state.filter(F.col("id").isNotNull()).select(
        F.col("id").alias("doc_id"), F.col("scc").alias("scc_id")
    )


def _scc_sql() -> str:
    """Unrolled-CTE DuckDB twin of the bounded SCC iteration."""
    parts = [
        "WITH nn AS (SELECT count(*) AS n FROM documents)",
        "nodes AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents)",
        """edges AS MATERIALIZED (
            SELECT id AS src, (id * 2 + 1) % n AS dst FROM nodes, nn WHERE id % 3 != 0
            UNION ALL
            SELECT id AS src, (id * 7 + 3) % n AS dst FROM nodes, nn WHERE id % 2 = 0
            UNION ALL
            SELECT id AS src, (id + n // 2) % n AS dst FROM nodes, nn WHERE id % 6 = 1
        )""",
        "scc0 AS (SELECT id, CAST(-1 AS BIGINT) AS scc FROM nodes)",
        "act0 AS (SELECT id FROM nodes)",
        "e0 AS MATERIALIZED (SELECT src, dst FROM edges)",
    ]
    for r in range(SCC_OUTER):
        parts.append(f"f{r}_0 AS MATERIALIZED (SELECT id, id AS lab FROM act{r})")
        parts.append(f"b{r}_0 AS MATERIALIZED (SELECT id, id AS lab FROM act{r})")
        for k in range(SCC_PROP):
            parts.append(
                f"""f{r}_{k+1} AS MATERIALIZED (
                    SELECT l.id,
                           least(l.lab, coalesce(m.m, {SCC_INF})) AS lab
                    FROM f{r}_{k} l LEFT JOIN (
                        SELECT e.src AS nid, min(x.lab) AS m
                        FROM e{r} e JOIN f{r}_{k} x ON x.id = e.dst
                        GROUP BY e.src
                    ) m ON m.nid = l.id
                )"""
            )
            parts.append(
                f"""b{r}_{k+1} AS MATERIALIZED (
                    SELECT l.id,
                           least(l.lab, coalesce(m.m, {SCC_INF})) AS lab
                    FROM b{r}_{k} l LEFT JOIN (
                        SELECT e.dst AS nid, min(x.lab) AS m
                        FROM e{r} e JOIN b{r}_{k} x ON x.id = e.src
                        GROUP BY e.dst
                    ) m ON m.nid = l.id
                )"""
            )
        parts.append(
            f"""asg{r} AS MATERIALIZED (
                SELECT f.id, f.lab AS newscc
                FROM f{r}_{SCC_PROP} f JOIN b{r}_{SCC_PROP} b ON b.id = f.id
                WHERE f.lab = b.lab
            )"""
        )
        parts.append(
            f"""scc{r+1} AS MATERIALIZED (
                SELECT s.id, coalesce(a.newscc, s.scc) AS scc
                FROM scc{r} s LEFT JOIN asg{r} a ON a.id = s.id
            )"""
        )
        parts.append(
            f"""act{r+1} AS MATERIALIZED (
                SELECT id FROM act{r}
                WHERE id NOT IN (SELECT id FROM asg{r})
            )"""
        )
        parts.append(
            f"""e{r+1} AS MATERIALIZED (
                SELECT src, dst FROM e{r}
                WHERE src IN (SELECT id FROM act{r+1})
                  AND dst IN (SELECT id FROM act{r+1})
            )"""
        )
    body = ",\n".join(parts)
    return f"{body}\nSELECT id AS doc_id, scc AS scc_id FROM scc{SCC_OUTER}"


QUERIES = {
    "scc": q_scc,
    "hits": q_hits,
    "label_prop": q_label_prop,
    "char_entropy": q_char_entropy,
    "chunk_overlap": q_chunk_overlap,
    "grouping_sets": q_grouping_sets,
    "degree_dist": q_degree_dist,
}

ORACLES = {
    "scc": _scc_sql(),
    "hits": _hits_oracle_sql(),
    "label_prop": _label_prop_oracle_sql(),
    "char_entropy": _CHAR_ENTROPY_SQL,
    "chunk_overlap": _CHUNK_SQL,
    "grouping_sets": _GROUPING_SETS_SQL,
    "degree_dist": _DEGREE_DIST_SQL,
}
