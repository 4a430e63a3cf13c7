"""Density clustering, batch 77: grid-bucketed DBSCAN — core-point
detection with a strict cross-engine oracle, and the full
deterministic clustering with an independent pure-Python oracle.

Scale design (100 TB):
- Neighbor pairs NEVER cross a shuffle un-keyed: the ε-radius join is
  the ``geo_grid_join`` pattern (cell edge = ε, probe side exploded to
  its 3×3 neighbor cells — a constant 9× map-side fan-out — equi-join
  on the cell id, exact integer distance filter after). Shuffle volume
  is O(points·9), never O(points²); dense cells split under AQE.
- ``dbscan_core``: neighbor COUNT per point (self included, the
  classical |N_ε(p)| ≥ minPts rule) — one groupBy over the grid join.
  The DuckDB oracle is the brute-force distance cross-join, so the
  gate proves the grid plan loses no pair (the geoops discipline).
- ``dbscan``: the full clustering, made DETERMINISTIC (textbook DBSCAN
  is scan-order-dependent for border points): cluster id = MIN core id
  in the core-connectivity component (hash-min label propagation to
  fixpoint over core-core ε-edges — the connected_components/
  boruvka_msf machinery, one keyed join + one groupBy per sweep,
  ``localCheckpoint`` lineage discipline); border points attach to the
  MINIMUM cluster label among their core neighbors; everything else is
  noise (cluster −1). An independent pure-Python DBSCAN with the same
  deterministic rules is the golden oracle (the stable_matching
  pattern).

Points are synthesized deterministically from customer keys: five
tight 21×21 blobs on well-separated centers plus a scattered planted
outlier class (k % 17 == 0) — integer arithmetic both engines and the
Python mirror reproduce exactly.

Reference parity: no clustering layer in the reference; completes the
clustering family (kmeans, semdedup, cluster_purity) with the density
method that needs no k and rejects noise — the dedup-cluster shape
used on web-crawl near-dup graphs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .util import gold_tag, hash_min_fixpoint, table

EPS2_BASE = 900   # ε² at the 1500-customer reference scale (ε = 30)
EPS2_REF_N = 1500  # reference customer count
CELL = 30   # grid edge — must be ≥ ε so 3×3 neighbors cover


def _eps2(n: int) -> int:
    """Density-adaptive ε²: the synthetic blobs keep a FIXED footprint
    while the point count grows with sf, so a fixed ε made the
    neighbor count — and the ε-pair count — grow linearly with n
    (40M pairs at sf0.1, r4 gate). Shrinking ε² as 1/n keeps
    neighbors-per-point (and total pair count) roughly constant:
    identical to the old constant at the 1500-customer sf0.01 gate
    scale. Integer division — bit-identical in Spark, DuckDB and the
    python golden."""
    return max(1, (EPS2_BASE * EPS2_REF_N) // n)
MINPTS = 5  # |N_ε(p)| ≥ minPts, self included
_CC_SWEEPS = 40  # fixpoint guard; loop exits on no-change


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five planted blobs + scattered outliers from customer keys."""
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey").cast("long")
    blob = k % 5
    x = F.when(k % 17 == 0, (k * 53) % 1000).otherwise(
        blob * 180 + 60 + (k * 7) % 21
    )
    y = F.when(k % 17 == 0, (k * 59) % 1000).otherwise(
        blob * 140 + 80 + (k * 11) % 21
    )
    return c.select(k.alias("k"), x.alias("x"), y.alias("y"))


_POINTS_SQL = """
    SELECT c_custkey::BIGINT AS k,
           CASE WHEN c_custkey % 17 = 0 THEN (c_custkey * 53) % 1000
                ELSE (c_custkey % 5) * 180 + 60 + (c_custkey * 7) % 21
           END AS x,
           CASE WHEN c_custkey % 17 = 0 THEN (c_custkey * 59) % 1000
                ELSE (c_custkey % 5) * 140 + 80 + (c_custkey * 11) % 21
           END AS y
    FROM customer
"""


def _eps_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All ordered (a, b) point pairs with dist² ≤ ε² (a = b included)
    via the 3×3 grid equi-join — never an all-pairs cross."""
    pts = _points(spark, sf_dir)
    eps2 = _eps2(pts.count())
    offs = F.expr("sequence(-1, 1)")
    probe = (
        pts.select(
            F.col("k").alias("a"), F.col("x").alias("ax"),
            F.col("y").alias("ay"),
        )
        .withColumn("dx", F.explode(offs))
        .withColumn("dy", F.explode(offs))
        .withColumn("cell_x", F.floor(F.col("ax") / CELL) + F.col("dx"))
        .withColumn("cell_y", F.floor(F.col("ay") / CELL) + F.col("dy"))
        .drop("dx", "dy")
    )
    build = pts.select(
        F.col("k").alias("b"), F.col("x").alias("bx"), F.col("y").alias("by"),
    ).withColumn("cell_x", F.floor(F.col("bx") / CELL)) \
     .withColumn("cell_y", F.floor(F.col("by") / CELL))
    d2 = (
        (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
        + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
    )
    return (
        probe.join(build, ["cell_x", "cell_y"])
        .filter(d2 <= eps2)
        .select("a", "b")
    )


def q_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per point: ε-neighbor count (self included) and the core flag."""
    return (
        _eps_pairs(spark, sf_dir)
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("n_nbrs"))
        .select(
            F.col("a").alias("k"),
            "n_nbrs",
            (F.col("n_nbrs") >= MINPTS).cast("int").alias("is_core"),
        )
    )


_CORE_SQL = f"""
WITH pts AS ({_POINTS_SQL})
SELECT p.k, count(*)::BIGINT AS n_nbrs,
       CASE WHEN count(*) >= {MINPTS} THEN 1 ELSE 0 END AS is_core
FROM pts p, pts q
WHERE (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)
      <= greatest(900 * 1500
                  // (SELECT count(*) FROM customer), 1)
GROUP BY p.k
"""


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full deterministic DBSCAN (module docstring): cluster = min core
    id of the core-connectivity component; border attaches to its
    minimum core-neighbor label; noise = −1."""
    pairs = _eps_pairs(spark, sf_dir).localCheckpoint()
    core = (
        pairs.groupBy("a")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= MINPTS)
        .select(F.col("a").alias("k"))
        .localCheckpoint()
    )
    cc_edges = (
        pairs.join(core.select(F.col("k").alias("a")), "a")
        .join(core.select(F.col("k").alias("b")), "b")
        .select("a", "b")
        .localCheckpoint()
    )
    lbl = core.select(F.col("k").alias("cid"), F.col("k").alias("lbl"))
    lbl = hash_min_fixpoint(cc_edges, lbl, _CC_SWEEPS).select(
        F.col("cid").alias("id"), "lbl"
    )
    pts = _points(spark, sf_dir).select("k")
    core_lbl = lbl.select(F.col("id").alias("k"), F.col("lbl").alias("cluster"))
    # border: non-core with ≥1 core neighbor → min core-neighbor label
    border = (
        pairs.filter(F.col("a") != F.col("b"))
        .join(core_lbl.select(F.col("k").alias("b"), "cluster"), "b")
        .join(core.select(F.col("k").alias("a")), "a", "left_anti")
        .groupBy("a")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("a").alias("k"), "cluster")
    )
    assigned = core_lbl.withColumn("is_core", F.lit(1)).unionByName(
        border.withColumn("is_core", F.lit(0))
    )
    return pts.join(assigned, "k", "left").select(
        "k",
        F.coalesce("cluster", F.lit(-1)).alias("cluster"),
        F.coalesce("is_core", F.lit(0)).alias("is_core"),
    )


def _py_dbscan(sf_dir: str) -> list[tuple[int, int, int]]:
    """Independent textbook DBSCAN with the same deterministic rules
    (brute-force neighbors, min-core-id components, min-label border)."""
    import glob

    import pandas as pd

    files = sorted(glob.glob(f"{sf_dir}/customer.parquet")) or sorted(
        glob.glob(f"{sf_dir}/customer.parquet/*.parquet")
    )
    keys = pd.concat(
        [pd.read_parquet(f, columns=["c_custkey"]) for f in files]
    )["c_custkey"].astype(int).tolist()
    eps2 = _eps2(len(keys))
    pts = {}
    for k in keys:
        if k % 17 == 0:
            pts[k] = ((k * 53) % 1000, (k * 59) % 1000)
        else:
            b = k % 5
            pts[k] = (b * 180 + 60 + (k * 7) % 21, b * 140 + 80 + (k * 11) % 21)
    nbrs = {k: [] for k in pts}
    items = sorted(pts.items())
    for i, (ka, (xa, ya)) in enumerate(items):
        for kb, (xb, yb) in items[i:]:
            if (xa - xb) ** 2 + (ya - yb) ** 2 <= eps2:
                nbrs[ka].append(kb)
                if ka != kb:
                    nbrs[kb].append(ka)
    core = {k for k, ns in nbrs.items() if len(ns) >= MINPTS}
    # min-core-id components over core-core edges (union-find)
    parent = {k: k for k in core}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in core:
        for b in nbrs[a]:
            if b in core:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for k in core:
        r = find(k)
        comp_min[r] = min(comp_min.get(r, k), k)
    out = []
    for k in sorted(pts):
        if k in core:
            out.append((k, comp_min[find(k)], 1))
        else:
            cands = [comp_min[find(b)] for b in nbrs[k] if b in core and b != k]
            out.append((k, min(cands) if cands else -1, 0))
    return out


def _staged_dbscan_gold(sf_dir: str | None = None) -> str:
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )

    import pandas as pd

    tag = gold_tag(sf_dir, __name__)
    p = f"/tmp/ocr2csv_dbscan_gold_{tag}.parquet"
    if not os.path.exists(p):
        pd.DataFrame(
            _py_dbscan(sf_dir), columns=["k", "cluster", "is_core"]
        ).to_parquet(p, index=False)
    return p


def _dbscan_oracle_sql(sf_dir: str | None = None) -> str:
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    gold = _staged_dbscan_gold(sf_dir)
    return f"""
        SELECT k::BIGINT AS k, cluster::BIGINT AS cluster,
               is_core::INT AS is_core
        FROM '{gold}'
    """


QUERIES = {
    "dbscan_core": q_dbscan_core,
    "dbscan": q_dbscan,
}

ORACLES = {
    "dbscan_core": _CORE_SQL,
    "dbscan": _dbscan_oracle_sql(),
}
