"""Computational geometry at scale, batch 99: per-group convex hull via
distributed QuickHull rounds, and Douglas–Peucker polyline
simplification via distributed segment splitting — the two reductions a
geo/trajectory pipeline runs before anything quadratic (hulls bound
point clouds; DP shrinks GPS/telemetry traces ~10× before storage).

Scale design (100 TB):
- ``convex_hull``: the QuickHull outer loop as DataFrame rounds. State
  is the DIRECTED HULL EDGE set (metadata-scale: hull size is O(log n)
  for random point clouds, never point-scale). Each round every point
  equi-joins its group's edges (broadcast — edges are tiny), computes
  the INTEGER cross product, keeps strictly-left candidates, and one
  keyed aggregate picks the farthest point per edge (max (cross, x, y)
  struct — deterministic); each split edge becomes two. Terminates when
  no point is strictly left of any edge. The minimal hull vertex set is
  UNIQUE (strict-turn semantics drops collinear points), so the result
  is tie-break-independent — golden-oracled by an independent pure-
  Python Andrew monotone chain, a genuinely different algorithm.
- ``dp_simplify``: Douglas–Peucker as the same round shape. State is
  the anchored SEGMENT set per trajectory; each round every interior
  point equi-joins its user's open segments (bounded fan-out: a point
  tests only segments of its own trajectory, and open-segment count per
  user ≤ final kept-point count), the perpendicular-distance test is
  the exact integer comparison cross² > ε²·|b−a|² (no division, no
  sqrt), and one keyed aggregate takes the argmax (cross², −idx) per
  segment — ties broken toward the EARLIEST point, mirrored exactly by
  the recursive golden. Segments below threshold freeze; the loop ends
  when nothing splits. Per-segment work shrinks geometrically.
- Neither result is SQL-expressible (recursive/fixpoint), so both use
  the independent-golden parquet oracle (boruvka/dbscan pattern).

Reference parity: extends the GIS family (geoops, geoops2) with the
reduction operators; the reference's contour → bounding-box step
(``imaging/ops.py`` J5/O1) is the axis-aligned special case of a hull.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .util import gold_tag, superstep, table

DP_EPS = 60  # DP tolerance (plane is 1000 wide, trajectories ~NPTS long)
HULL_ROUNDS = 64  # fixpoint guard; QuickHull recursion depth
DP_ROUNDS = 64  # fixpoint guard; Douglas–Peucker recursion depth


def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex hull per market segment of the customer point cloud
    (x = 37k mod 1000, y = 91k mod 1000 — the geoops derivation).
    Emits (grp, x, y) hull vertices (module doc)."""
    pts = (
        table(spark, sf_dir, "customer")
        .select(
            F.col("c_mktsegment").alias("grp"),
            (F.col("c_custkey") * 37 % 1000).alias("x"),
            (F.col("c_custkey") * 91 % 1000).alias("y"),
        )
        .distinct()
        .localCheckpoint()
    )
    ends = pts.groupBy("grp").agg(
        F.min(F.struct("x", "y")).alias("lo"),
        F.max(F.struct("x", "y")).alias("hi"),
    )
    edges = ends.select(
        "grp",
        F.col("lo.x").alias("ax"), F.col("lo.y").alias("ay"),
        F.col("hi.x").alias("bx"), F.col("hi.y").alias("by"),
    ).unionByName(
        ends.select(
            "grp",
            F.col("hi.x").alias("ax"), F.col("hi.y").alias("ay"),
            F.col("lo.x").alias("bx"), F.col("lo.y").alias("by"),
        )
    )

    def split(edges, _r):
        cross = (F.col("bx") - F.col("ax")) * (F.col("y") - F.col("ay")) - (
            F.col("by") - F.col("ay")
        ) * (F.col("x") - F.col("ax"))
        cand = (
            pts.join(F.broadcast(edges), "grp")
            .withColumn("cross", cross)
            .filter(F.col("cross") > 0)
        )
        far = cand.groupBy("grp", "ax", "ay", "bx", "by").agg(
            F.max(F.struct("cross", "x", "y")).alias("m")
        ).select(
            "grp", "ax", "ay", "bx", "by",
            F.col("m.x").alias("mx"), F.col("m.y").alias("my"),
        )
        keep = edges.join(
            far.select("grp", "ax", "ay", "bx", "by"),
            ["grp", "ax", "ay", "bx", "by"],
            "left_anti",
        )
        return keep.unionByName(
            far.select(
                "grp", "ax", "ay", F.col("mx").alias("bx"), F.col("my").alias("by")
            )
        ).unionByName(
            far.select(
                "grp",
                F.col("mx").alias("ax"), F.col("my").alias("ay"),
                "bx", "by",
            )
        )

    # each split edge becomes two, so the edge count only grows and an
    # unchanged count means no point was left of any edge
    edges, _ = superstep(
        edges,
        split,
        HULL_ROUNDS,
        metrics={"n": F.count(F.lit(1))},
        done=lambda h: len(h) > 1 and h[-1]["n"] == h[-2]["n"],
    )
    return (
        edges.select("grp", F.col("ax").alias("x"), F.col("ay").alias("y"))
        .distinct()
        .select(
            "grp",
            F.col("x").cast("long").alias("x"),
            F.col("y").cast("long").alias("y"),
        )
        .orderBy("grp", "x", "y")
    )


def _py_hull_points(sf_dir: str) -> dict[str, set[tuple[int, int]]]:
    import glob

    import pandas as pd

    files = sorted(glob.glob(f"{sf_dir}/customer.parquet")) or sorted(
        glob.glob(f"{sf_dir}/customer.parquet/*.parquet")
    )
    c = pd.concat(
        pd.read_parquet(f, columns=["c_custkey", "c_mktsegment"])
        for f in files
    )
    out: dict[str, set[tuple[int, int]]] = {}
    for _, r in c.iterrows():
        k = int(r.c_custkey)
        out.setdefault(r.c_mktsegment, set()).add(
            (k * 37 % 1000, k * 91 % 1000)
        )
    return out


def _py_monotone_chain(points: set[tuple[int, int]]) -> set[tuple[int, int]]:
    """Andrew's monotone chain with STRICT turns (collinear dropped) —
    the independent hull golden."""
    ps = sorted(points)
    if len(ps) <= 2:
        return set(ps)

    def half(seq):
        h: list[tuple[int, int]] = []
        for p in seq:
            while (
                len(h) >= 2
                and (h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])
                <= 0
            ):
                h.pop()
            h.append(p)
        return h

    lower, upper = half(ps), half(ps[::-1])
    return set(lower[:-1]) | set(upper[:-1])


def _staged_hull_gold(sf_dir: str | None = None) -> str:
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )

    import pandas as pd

    tag = gold_tag(sf_dir, __name__)
    p = f"/tmp/ocr2csv_hull_gold_v1_{tag}.parquet"
    if not os.path.exists(p):
        rows = []
        for grp, pts in _py_hull_points(sf_dir).items():
            rows.extend(
                (grp, x, y) for x, y in sorted(_py_monotone_chain(pts))
            )
        pd.DataFrame(sorted(rows), columns=["grp", "x", "y"]).to_parquet(
            p, index=False
        )
    return p


def _hull_oracle_sql(sf_dir: str | None = None) -> str:
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    gold = _staged_hull_gold(sf_dir)
    return f"""
        SELECT grp, x::BIGINT AS x, y::BIGINT AS y
        FROM '{gold}' ORDER BY grp, x, y
    """


def _trajectories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user polyline: events ordered by (ts, event_id); x = step
    index, y = a key-derived integer height — the telemetry-trace shape."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        (F.row_number().over(w) - 1).alias("idx"),
        (F.col("event_id") * 73 % 1000).alias("y"),
    )


def q_dp_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas–Peucker kept points per user trajectory at DP_EPS.
    Emits (user_id, idx, y) of surviving anchors (module doc)."""
    pts = _trajectories(spark, sf_dir).localCheckpoint()
    segs = pts.groupBy("user_id").agg(
        F.min("idx").alias("i0"), F.max("idx").alias("i1")
    ).filter(F.col("i0") < F.col("i1"))

    def split(state, _r):
        segs = state.filter(F.col("open"))
        cand = (
            pts.join(segs, "user_id")
            .filter((F.col("idx") > F.col("i0")) & (F.col("idx") < F.col("i1")))
        )
        a = cand.alias("c").join(
            pts.select(
                "user_id", F.col("idx").alias("i0"), F.col("y").alias("y0")
            ),
            ["user_id", "i0"],
        ).join(
            pts.select(
                "user_id", F.col("idx").alias("i1"), F.col("y").alias("y1")
            ),
            ["user_id", "i1"],
        )
        cross = (F.col("i1") - F.col("i0")) * (F.col("y") - F.col("y0")) - (
            F.col("y1") - F.col("y0")
        ) * (F.col("idx") - F.col("i0"))
        len2 = (F.col("i1") - F.col("i0")) * (F.col("i1") - F.col("i0")) + (
            F.col("y1") - F.col("y0")
        ) * (F.col("y1") - F.col("y0"))
        a = a.withColumn("c2", cross * cross).withColumn("len2", len2)
        over = a.filter(F.col("c2") > DP_EPS * DP_EPS * F.col("len2"))
        split_at = over.groupBy("user_id", "i0", "i1").agg(
            F.max(F.struct(F.col("c2"), (-F.col("idx")).alias("ni"))).alias("m")
        ).select(
            "user_id", "i0", "i1", (-F.col("m.ni")).alias("mid")
        )
        frozen = segs.join(
            split_at.select("user_id", "i0", "i1"),
            ["user_id", "i0", "i1"],
            "left_anti",
        ).withColumn("open", F.lit(False))
        opened = split_at.select(
            "user_id", "i0", F.col("mid").alias("i1")
        ).unionByName(
            split_at.select("user_id", F.col("mid").alias("i0"), "i1")
        ).withColumn("open", F.lit(True))
        return state.filter(~F.col("open")).unionByName(frozen).unionByName(opened)

    # state: every segment, open until nothing splits it
    allsegs, _ = superstep(
        segs.withColumn("open", F.lit(True)),
        split,
        DP_ROUNDS,
        metrics={"open": F.sum(F.col("open").cast("long"))},
        done=lambda h: not h[-1]["open"],
    )
    kept = allsegs.select("user_id", F.col("i0").alias("idx")).unionByName(
        allsegs.select("user_id", F.col("i1").alias("idx"))
    ).distinct()
    singles = pts.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).filter(
        F.col("n") == 1
    ).join(pts, "user_id").select("user_id", "idx")
    return (
        kept.unionByName(singles)
        .join(pts, ["user_id", "idx"])
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("idx").cast("long").alias("idx"),
            F.col("y").cast("long").alias("y"),
        )
        .orderBy("user_id", "idx")
    )


def _py_trajectories(sf_dir: str) -> dict[int, list[int]]:
    import glob

    import pandas as pd

    files = sorted(glob.glob(f"{sf_dir}/events.parquet")) or sorted(
        glob.glob(f"{sf_dir}/events.parquet/*.parquet")
    )
    e = pd.concat(
        pd.read_parquet(f, columns=["user_id", "ts", "event_id"])
        for f in files
    )
    e = e[e.user_id.notna()].sort_values(["user_id", "ts", "event_id"])
    out: dict[int, list[int]] = {}
    for _, r in e.iterrows():
        out.setdefault(int(r.user_id), []).append(
            int(r.event_id) * 73 % 1000
        )
    return out


def _py_dp(ys: list[int], eps: int) -> list[int]:
    """Recursive Douglas–Peucker on (idx, y), argmax ties toward the
    earliest index — the independent golden."""
    kept = {0, len(ys) - 1}

    def rec(i0: int, i1: int) -> None:
        if i1 - i0 < 2:
            return
        y0, y1 = ys[i0], ys[i1]
        best, best_c2 = None, -1
        for i in range(i0 + 1, i1):
            c = (i1 - i0) * (ys[i] - y0) - (y1 - y0) * (i - i0)
            if c * c > best_c2:
                best, best_c2 = i, c * c
        len2 = (i1 - i0) ** 2 + (y1 - y0) ** 2
        if best_c2 > eps * eps * len2:
            kept.add(best)
            rec(i0, best)
            rec(best, i1)

    rec(0, len(ys) - 1)
    return sorted(kept)


def _staged_dp_gold(sf_dir: str | None = None) -> str:
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )

    import pandas as pd

    tag = gold_tag(sf_dir, __name__)
    p = f"/tmp/ocr2csv_dp_gold_v1_{DP_EPS}_{tag}.parquet"
    if not os.path.exists(p):
        rows = []
        for uid, ys in _py_trajectories(sf_dir).items():
            for i in _py_dp(ys, DP_EPS):
                rows.append((uid, i, ys[i]))
        pd.DataFrame(
            sorted(rows), columns=["user_id", "idx", "y"]
        ).to_parquet(p, index=False)
    return p


def _dp_oracle_sql(sf_dir: str | None = None) -> str:
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    gold = _staged_dp_gold(sf_dir)
    return f"""
        SELECT user_id::BIGINT AS user_id, idx::BIGINT AS idx,
               y::BIGINT AS y
        FROM '{gold}' ORDER BY user_id, idx
    """


QUERIES = {
    "convex_hull": q_convex_hull,
    "dp_simplify": q_dp_simplify,
}

ORACLES = {
    "convex_hull": _hull_oracle_sql(),
    "dp_simplify": _dp_oracle_sql(),
}
