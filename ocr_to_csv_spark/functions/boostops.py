"""Multi-objective + boosting, batch 147: non-dominated sorting
(Pareto layer peeling) of customer value profiles, and an EXACT
two-round AdaBoost over decision stumps — NSGA-style fronts next to
skyline, and the ensemble classic next to best_split/naive_bayes,
with every comparison integer.

Scale design (100 TB):
- ``pareto_layers``: each peel finds the 2-D skyline WITHOUT a
  quadratic dominance join — sort by spend, then "dominated" =
  (max cnt over the strictly-greater-spend RANGE frame ≥ cnt) OR
  (max cnt among equal spend > cnt): two window functions, O(n log n)
  per layer. K=4 peels, one ``util.superstep`` round each. Output =
  layered points, bounded by the front sizes.
- ``adaboost_stumps``: the 40-stump panel (2 features × 10 literal
  thresholds × 2 directions) is evaluated by ONE conditional
  aggregate (panel-as-columns — the brier_decomp pivot); round-1
  argmin is a packed-key least (err·64+idx) over the pivot. Round-2 weights are the
  AdaBoost half-mass rationals w_wrong = n/(2e), w_right = n/(2(n−e))
  — so the weighted-error comparison clears to the INTEGER
  a·(n−e) + b·e (a = wrong∩wrong₁, b = wrong∩right₁) and the
  α₂ > α₁ decision clears to n·(a(n−e)+be) < 2e²(n−e): the full
  two-stump ensemble, its training accuracy included, is computed
  without a single float. Three scans total (pivot, re-pivot under
  broadcast winner, ensemble readout).

Reference parity: no ML layer in the reference; extends skyline,
best_split, naive_bayes, knn_classify, label_noise_est.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .textops import QC_BIAS, QC_BUCKETS, _qc_weight
from .util import (
    DUCK_HEX32,
    DUCK_TOKENS,
    hex32,
    superstep,
    table,
    tokens,
)

PL_LAYERS = 4
LN_THRESHOLDS = (30, 40, 50, 60, 70)
Q_THRESHOLDS = (-3000, -1500, 0, 1500, 3000)


def _profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("spend"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )


def q_pareto_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers in the first PL_LAYERS Pareto fronts of (spend, cnt)
    maximization (module doc): (custkey, spend, cnt, layer)."""

    def peel(state, layer):
        # suffix max over strictly-greater spend as a RUNNING max in
        # descending order: a (1, unboundedFollowing) frame makes Spark
        # rescan the remaining frame per row — O(n^2) per layer
        # (measured 4 s/layer at 10k customers); the monotonically
        # growing desc frame is O(n)
        wafter = (
            Window.orderBy(F.desc("spend"))
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        wsame = Window.partitionBy("spend")
        dominated = (
            F.coalesce(F.max("cnt").over(wafter), F.lit(-1)) >= F.col("cnt")
        ) | (F.max("cnt").over(wsame) > F.col("cnt"))
        marked = state.filter(F.col("layer").isNull()).select(
            "custkey", "spend", "cnt",
            F.when(~dominated, F.lit(layer)).cast("long").alias("layer"),
        )
        return state.filter(F.col("layer").isNotNull()).unionByName(marked)

    # state: every customer, layer NULL until its front is peeled
    state, _ = superstep(
        _profiles(spark, sf_dir).withColumn("layer", F.lit(None).cast("long")),
        peel,
        PL_LAYERS,
    )
    return state.filter(F.col("layer").isNotNull()).orderBy("layer", "custkey")


def _panel() -> list[tuple[str, int, int]]:
    ps = []
    for thr in LN_THRESHOLDS:
        ps += [("ln", thr, 1), ("ln", thr, -1)]
    for thr in Q_THRESHOLDS:
        ps += [("q", thr, 1), ("q", thr, -1)]
    return ps


def _doc_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents", spread=True)
    toks = tokens(F.col("text"))
    score = F.aggregate(
        F.transform(toks, lambda t: _qc_weight(hex32(t) % QC_BUCKETS)),
        F.lit(QC_BIAS).cast("long"),
        lambda acc, x: acc + x,
    )
    return d.select(
        F.size(toks).cast("long").alias("ln"),
        score.alias("q"),
        (F.col("lang") == "en").cast("long").alias("label"),
    )


def _pred(feat: str, thr: int, dr: int):
    v = F.col(feat)
    return F.when(F.lit(dr) == 1, (v > thr).cast("long")).otherwise(
        (v <= thr).cast("long")
    )


def q_adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (module doc): round-1 stump (idx, err e, n), round-2
    stump (idx, integer weighted numerator), ensemble correct count."""
    feats = _doc_feats(spark, sf_dir)
    panel = _panel()
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i, (ft, thr, dr) in enumerate(panel):
        aggs.append(
            F.sum((_pred(ft, thr, dr) != F.col("label")).cast("long"))
            .cast("long")
            .alias(f"w_{i}")
        )
    piv = feats.agg(*aggs)
    best1 = F.least(
        *[
            F.col(f"w_{i}") * 64 + F.lit(i).cast("long")
            for i in range(len(panel))
        ]
    )
    r1 = piv.select(
        "n",
        F.floor(best1 / 64).cast("long").alias("e1"),
        (best1 % 64).alias("i1"),
    )
    # round 2: counts conditioned on the round-1 winner (broadcast)
    fts = F.array(*[F.lit(ft) for ft, _, _ in panel])
    thrs = F.array(*[F.lit(t).cast("long") for _, t, _ in panel])
    drs = F.array(*[F.lit(d).cast("long") for _, _, d in panel])
    r1 = r1.select(
        "n", "e1", "i1",
        F.element_at(fts, F.col("i1").cast("int") + 1).alias("ft1"),
        F.element_at(thrs, F.col("i1").cast("int") + 1).alias("thr1"),
        F.element_at(drs, F.col("i1").cast("int") + 1).alias("dr1"),
    )
    j = feats.crossJoin(F.broadcast(r1))
    v1 = F.when(F.col("ft1") == "ln", F.col("ln")).otherwise(F.col("q"))
    pred1 = F.when(
        F.col("dr1") == 1, (v1 > F.col("thr1")).cast("long")
    ).otherwise((v1 <= F.col("thr1")).cast("long"))
    wrong1 = (pred1 != F.col("label")).cast("long")
    aggs2 = [
        F.first("n").alias("n"),
        F.first("e1").alias("e1"),
        F.first("i1").alias("i1"),
        F.first("ft1").alias("ft1"),
        F.first("thr1").alias("thr1"),
        F.first("dr1").alias("dr1"),
    ]
    for i, (ft, thr, dr) in enumerate(panel):
        wrong = (_pred(ft, thr, dr) != F.col("label")).cast("long")
        aggs2.append(F.sum(wrong * wrong1).cast("long").alias(f"a_{i}"))
        aggs2.append(
            F.sum(wrong * (1 - wrong1)).cast("long").alias(f"b_{i}")
        )
    piv2 = j.agg(*aggs2)
    best2 = F.least(
        *[
            (
                F.col(f"a_{i}") * (F.col("n") - F.col("e1"))
                + F.col(f"b_{i}") * F.col("e1")
            )
            * 64
            + F.lit(i).cast("long")
            for i in range(len(panel))
        ]
    )
    i2 = (best2 % 64).cast("int")
    r2 = piv2.select(
        "n", "e1", "i1", "ft1", "thr1", "dr1",
        F.floor(best2 / 64).cast("long").alias("wnum2"),
        (best2 % 64).alias("i2"),
        F.element_at(fts, i2 + 1).alias("ft2"),
        F.element_at(thrs, i2 + 1).alias("thr2"),
        F.element_at(drs, i2 + 1).alias("dr2"),
    )
    # ensemble: pred = h1 unless α2 > α1 (exact integer test)
    j2 = feats.crossJoin(F.broadcast(r2))
    v1 = F.when(F.col("ft1") == "ln", F.col("ln")).otherwise(F.col("q"))
    p1 = F.when(
        F.col("dr1") == 1, (v1 > F.col("thr1")).cast("long")
    ).otherwise((v1 <= F.col("thr1")).cast("long"))
    v2 = F.when(F.col("ft2") == "ln", F.col("ln")).otherwise(F.col("q"))
    p2 = F.when(
        F.col("dr2") == 1, (v2 > F.col("thr2")).cast("long")
    ).otherwise((v2 <= F.col("thr2")).cast("long"))
    alpha2_wins = (
        F.col("n") * F.col("wnum2")
        < F.lit(2) * F.col("e1") * F.col("e1") * (F.col("n") - F.col("e1"))
    )
    pred = F.when(p1 == p2, p1).otherwise(
        F.when(alpha2_wins, p2).otherwise(p1)
    )
    return j2.agg(
        F.first("n").alias("n"),
        F.first("i1").alias("i1"),
        F.first("e1").alias("e1"),
        F.first("i2").alias("i2"),
        F.first("wnum2").alias("wnum2"),
        F.sum((pred == F.col("label")).cast("long"))
        .cast("long")
        .alias("ens_correct"),
    )


_PROFILE_SQL = """
prof AS (
    SELECT o_custkey AS custkey,
           sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS spend,
           count(*)::BIGINT AS cnt
    FROM orders GROUP BY o_custkey
)"""


def _pareto_sql() -> str:
    layers = []
    prev = "prof"
    sel = []
    for layer in range(1, PL_LAYERS + 1):
        layers.append(
            f"""m{layer} AS (
    SELECT *,
        (coalesce(max(cnt) OVER (ORDER BY spend
             RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), -1) >= cnt
         OR max(cnt) OVER (PARTITION BY spend) > cnt) AS dominated
    FROM {prev})"""
        )
        layers.append(
            f"l{layer} AS (SELECT custkey, spend, cnt, {layer}::BIGINT AS"
            f" layer FROM m{layer} WHERE NOT dominated)"
        )
        layers.append(
            f"r{layer} AS (SELECT custkey, spend, cnt FROM m{layer} "
            f"WHERE dominated)"
        )
        prev = f"r{layer}"
        sel.append(f"SELECT * FROM l{layer}")
    return (
        f"WITH {_PROFILE_SQL},\n"
        + ",\n".join(layers)
        + "\n"
        + " UNION ALL ".join(sel)
        + "\nORDER BY layer, custkey"
    )


_QC_W_SQL = (
    f"(((({DUCK_HEX32.format(x='t')}) % {QC_BUCKETS}) * 2654435761) "
    f"% 1001 - 500)"
)
_TOKS = DUCK_TOKENS.format(x="text")


def _ada_sql() -> str:
    panel = _panel()

    def pred_sql(ft, thr, dr):
        cmp_ = ">" if dr == 1 else "<="
        return f"(CASE WHEN {ft} {cmp_} {thr} THEN 1 ELSE 0 END)"

    w_cols = ", ".join(
        f"sum(CASE WHEN {pred_sql(ft, t, d)} <> label THEN 1 ELSE 0 END)"
        f"::BIGINT AS w_{i}"
        for i, (ft, t, d) in enumerate(panel)
    )
    best1 = "least(" + ", ".join(
        f"(w_{i} * 64 + {i})" for i in range(len(panel))
    ) + ")"
    fts = "[" + ", ".join(f"'{ft}'" for ft, _, _ in panel) + "]"
    thrs = "[" + ", ".join(str(t) for _, t, _ in panel) + "]"
    drs = "[" + ", ".join(str(d) for _, _, d in panel) + "]"
    ab_cols = ", ".join(
        f"sum(CASE WHEN {pred_sql(ft, t, d)} <> label THEN wrong1 ELSE 0 "
        f"END)::BIGINT AS a_{i}, "
        f"sum(CASE WHEN {pred_sql(ft, t, d)} <> label THEN 1 - wrong1 "
        f"ELSE 0 END)::BIGINT AS b_{i}"
        for i, (ft, t, d) in enumerate(panel)
    )
    best2 = "least(" + ", ".join(
        f"((a_{i} * (n - e1) + b_{i} * e1) * 64 + {i})"
        for i in range(len(panel))
    ) + ")"
    return f"""
WITH feats AS (
    SELECT len({_TOKS})::BIGINT AS ln,
           ({QC_BIAS} + coalesce(
               list_sum(list_transform({_TOKS}, t -> {_QC_W_SQL})), 0
           ))::BIGINT AS q,
           (lang = 'en')::BIGINT AS label
    FROM documents
),
piv AS (SELECT count(*)::BIGINT AS n, {w_cols} FROM feats),
r1 AS (
    SELECT n, ({best1}) // 64 AS e1, ({best1}) % 64 AS i1,
           ({fts})[({best1}) % 64 + 1] AS ft1,
           ({thrs})[({best1}) % 64 + 1]::BIGINT AS thr1,
           ({drs})[({best1}) % 64 + 1]::BIGINT AS dr1
    FROM piv
),
j AS (
    SELECT f.*, r1.*,
           (CASE WHEN (CASE WHEN (CASE WHEN ft1 = 'ln' THEN f.ln ELSE f.q
                END) > thr1 THEN 1 ELSE 0 END) * (CASE WHEN dr1 = 1 THEN 1
                ELSE 0 END) + (CASE WHEN (CASE WHEN ft1 = 'ln' THEN f.ln
                ELSE f.q END) <= thr1 THEN 1 ELSE 0 END) * (CASE WHEN dr1
                = -1 THEN 1 ELSE 0 END) <> label THEN 1 ELSE 0 END)::BIGINT
               AS wrong1
    FROM feats f, r1
),
piv2 AS (
    SELECT any_value(n) AS n, any_value(e1) AS e1, any_value(i1) AS i1,
           any_value(ft1) AS ft1, any_value(thr1) AS thr1,
           any_value(dr1) AS dr1, {ab_cols}
    FROM j
),
r2 AS (
    SELECT n, e1, i1, ft1, thr1, dr1,
           ({best2}) // 64 AS wnum2, ({best2}) % 64 AS i2,
           ({fts})[({best2}) % 64 + 1] AS ft2,
           ({thrs})[({best2}) % 64 + 1]::BIGINT AS thr2,
           ({drs})[({best2}) % 64 + 1]::BIGINT AS dr2
    FROM piv2
),
ens AS (
    SELECT f.label,
        (CASE WHEN dr1 = 1 THEN (CASE WHEN (CASE WHEN ft1 = 'ln' THEN f.ln
             ELSE f.q END) > thr1 THEN 1 ELSE 0 END) ELSE (CASE WHEN (CASE
             WHEN ft1 = 'ln' THEN f.ln ELSE f.q END) <= thr1 THEN 1 ELSE 0
             END) END)::BIGINT AS p1,
        (CASE WHEN dr2 = 1 THEN (CASE WHEN (CASE WHEN ft2 = 'ln' THEN f.ln
             ELSE f.q END) > thr2 THEN 1 ELSE 0 END) ELSE (CASE WHEN (CASE
             WHEN ft2 = 'ln' THEN f.ln ELSE f.q END) <= thr2 THEN 1 ELSE 0
             END) END)::BIGINT AS p2,
        (n * wnum2 < 2 * e1 * e1 * (n - e1)) AS a2w,
        n, i1, e1, i2, wnum2
    FROM feats f, r2
)
SELECT any_value(n) AS n, any_value(i1) AS i1, any_value(e1) AS e1,
       any_value(i2) AS i2, any_value(wnum2) AS wnum2,
       sum(CASE WHEN (CASE WHEN p1 = p2 THEN p1
                      WHEN a2w THEN p2 ELSE p1 END) = label
                THEN 1 ELSE 0 END)::BIGINT AS ens_correct
FROM ens
"""


QUERIES = {
    "pareto_layers": q_pareto_layers,
    "adaboost_stumps": q_adaboost_stumps,
}

ORACLES = {
    "pareto_layers": _pareto_sql(),
    "adaboost_stumps": _ada_sql(),
}
