"""Scheduling operators, batch 124: LPT (longest-processing-time)
greedy assignment of the heaviest key workloads onto M workers, and
the weighted critical path of the dependency DAG — the two numbers a
job planner reads before launching a skewed 1000-executor stage (how
bad is the makespan vs the lower bound; which chain bounds the wall
clock no matter how many executors you add).

Scale design (100 TB):
- ``lpt_makespan``: task sizes are ONE keyed aggregate (events per
  user) and only the TOP-K=64 heaviest keys (WindowGroupLimit — the
  topk discipline) enter the schedule; the LPT fold — assign each
  task, size-descending, to the machine with the least load — runs
  INSIDE one row over a flat M=8-element load array (the in-row
  bounded-DP discipline), with argmin = array_position of the list
  min (first-match tie-break, identical in both engines). Output is
  M rows + the makespan/lower-bound ratio; the LPT guarantee
  (≤ 4/3·OPT) is the number the audit reports against
  lb = max(⌈Σ/M⌉, max task).
- ``critical_path``: node weights are map-side (custkey % 7 + 1);
  forward cp (from roots) and backward cp (to sinks) are each the
  dag_levels max-propagation — per round ONE keyed equi-join + one
  max-agg, one ``util.superstep`` round each, O(depth) rounds — and a node is
  critical iff down + up − w equals the global maximum. Output is one
  row (total path units, critical/total node counts); the oracle
  unrolls the same rounds as chained SQL layers, so both engines run
  the identical fixpoint.

Reference parity: no scheduling layer in the reference; completes the
planner family (key_skew, partition_quality, layout_advisor,
batch_pack, dag_levels) with makespan + critical-path readouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .dagops import MAX_ROUNDS, _edges
from .util import superstep, table

LPT_K = 64  # heaviest tasks entering the schedule
LPT_M = 8  # machines
CP_W_MOD = 7  # node weight = custkey % CP_W_MOD + 1


def q_lpt_makespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPT schedule of the top-K user workloads on M machines
    (module doc): (machine, load, makespan, lb_units, ratio_milli)."""
    e = table(spark, sf_dir, "events")
    sizes = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("sz"))
    w = Window.orderBy(F.desc("sz"), F.asc("user_id"))
    top = sizes.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= LPT_K
    )
    packed = top.agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("rk"), F.col("sz")))
            ),
            lambda s: s["sz"],
        ).alias("tasks")
    )
    zero = F.lit(0).cast("long")
    init = F.transform(F.sequence(F.lit(1), F.lit(LPT_M)), lambda _: zero)

    def step(acc, sz):
        idx = F.array_position(acc, F.array_min(acc))
        return F.transform(
            F.sequence(F.lit(1), F.lit(LPT_M)),
            lambda i: F.when(
                i == idx, F.get(acc, i - 1) + sz
            ).otherwise(F.get(acc, i - 1)),
        )

    loads = F.aggregate(F.col("tasks"), init, step)
    st = packed.select(
        loads.alias("loads"),
        F.aggregate(F.col("tasks"), zero, lambda a, x: a + x).alias("tot"),
        F.coalesce(F.get(F.col("tasks"), 0), zero).alias("max_task"),
    )
    lb = F.greatest(
        F.expr(f"cast((tot + {LPT_M} - 1) div {LPT_M} as bigint)"),
        F.col("max_task"),
    )
    st = st.select(
        "loads",
        F.array_max("loads").cast("long").alias("makespan"),
        lb.cast("long").alias("lb_units"),
    )
    return (
        st.select(
            F.posexplode("loads").alias("machine0", "load"),
            "makespan",
            "lb_units",
        )
        .select(
            (F.col("machine0") + 1).cast("long").alias("machine"),
            F.col("load").cast("long").alias("load"),
            "makespan",
            "lb_units",
            F.expr("cast(makespan * 1000 div lb_units as bigint)").alias(
                "ratio_milli"
            ),
        )
        .orderBy("machine")
    )


_LPT_SQL = f"""
WITH sizes AS (
    SELECT user_id, count(*)::BIGINT AS sz FROM events GROUP BY user_id
),
top AS (
    SELECT sz, row_number() OVER (ORDER BY sz DESC, user_id ASC) AS rk
    FROM sizes QUALIFY rk <= {LPT_K}
),
packed AS (SELECT list(sz ORDER BY rk) AS tasks FROM top),
folded AS (
    SELECT tasks,
           list_reduce(
               list_prepend(
                   list_transform(generate_series(1, {LPT_M}),
                                  x -> 0::BIGINT),
                   list_transform(tasks, t -> [t])),
               (acc, tl) -> list_transform(generate_series(1, {LPT_M}),
                   i -> CASE WHEN i = list_position(acc, list_min(acc))
                             THEN acc[i] + tl[1] ELSE acc[i] END)
           ) AS loads,
           list_sum(tasks)::BIGINT AS tot,
           coalesce(tasks[1], 0)::BIGINT AS max_task
    FROM packed
),
st AS (
    SELECT loads,
           list_max(loads)::BIGINT AS makespan,
           greatest((tot + {LPT_M} - 1) // {LPT_M}, max_task)::BIGINT
               AS lb_units
    FROM folded
)
SELECT i::BIGINT AS machine, loads[i]::BIGINT AS load, makespan, lb_units,
       (makespan * 1000 // lb_units)::BIGINT AS ratio_milli
FROM st, (SELECT unnest(generate_series(1, {LPT_M})) AS i)
ORDER BY machine
"""


def q_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted critical path of the dependency DAG (module doc):
    one row (total_units, n_critical, n_nodes, rounds)."""
    nodes = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("node"),
        (F.col("c_custkey") % CP_W_MOD + 1).cast("long").alias("w"),
    )
    edges = _edges(spark, sf_dir).select(
        F.col("child").cast("long").alias("child"),
        F.col("par").cast("long").alias("par"),
    ).localCheckpoint()

    def longest(frm: str, to: str) -> DataFrame:
        """cp(v) = w(v) + max cp over v's ``frm`` neighbours, MAX_ROUNDS
        rounds from cp = w."""

        def relax(cp, _r):
            prop = (
                edges.join(
                    cp.select(F.col("node").alias(frm), F.col("cp").alias("ncp")),
                    frm,
                )
                .groupBy(F.col(to).alias("node"))
                .agg(F.max("ncp").alias("best"))
            )
            return nodes.join(prop, "node", "left").select(
                "node", (F.col("w") + F.coalesce("best", F.lit(0))).alias("cp")
            )

        cp, _ = superstep(
            nodes.select("node", F.col("w").alias("cp")), relax, MAX_ROUNDS
        )
        return cp

    # forward: down(v) = w(v) + max over parents down(par); roots start
    down = longest("par", "child")
    # backward: up(v) = w(v) + max over children up(child)
    up = longest("child", "par")
    j = (
        nodes.join(down.withColumnRenamed("cp", "down"), "node")
        .join(up.withColumnRenamed("cp", "up"), "node")
        .select("node", "w", (F.col("down") + F.col("up") - F.col("w")).alias("thru"))
    )
    tot = j.agg(F.max("thru").alias("total_units"))
    return (
        j.crossJoin(F.broadcast(tot))
        .agg(
            F.max("total_units").cast("long").alias("total_units"),
            F.sum(
                (F.col("thru") == F.col("total_units")).cast("long")
            ).cast("long").alias("n_critical"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.lit(MAX_ROUNDS).cast("long").alias("rounds"),
        )
    )


def _cp_sql() -> str:
    base = """
nodes AS (
    SELECT c_custkey::BIGINT AS node,
           (c_custkey % {WM} + 1)::BIGINT AS w
    FROM customer
),
edges AS (
    SELECT DISTINCT child, par FROM (
        SELECT c_custkey::BIGINT AS child, (c_custkey // 2)::BIGINT AS par
        FROM customer WHERE c_custkey >= 2
        UNION ALL
        SELECT c_custkey::BIGINT, (c_custkey // 3)::BIGINT
        FROM customer WHERE c_custkey >= 3
    )
),
d0 AS (SELECT node, w AS cp FROM nodes),
u0 AS (SELECT node, w AS cp FROM nodes)""".replace("{WM}", str(CP_W_MOD))
    layers = [base]
    for r in range(1, MAX_ROUNDS + 1):
        layers.append(f"""
d{r} AS (
    SELECT n.node, n.w + coalesce(p.best_par, 0) AS cp
    FROM nodes n LEFT JOIN (
        SELECT e.child AS node, max(d.cp) AS best_par
        FROM edges e JOIN d{r - 1} d ON d.node = e.par
        GROUP BY e.child
    ) p USING (node)
),
u{r} AS (
    SELECT n.node, n.w + coalesce(p.best_ch, 0) AS cp
    FROM nodes n LEFT JOIN (
        SELECT e.par AS node, max(u.cp) AS best_ch
        FROM edges e JOIN u{r - 1} u ON u.node = e.child
        GROUP BY e.par
    ) p USING (node)
)""")
    return (
        "WITH " + ",".join(layers) + f""",
j AS (
    SELECT n.node, n.w, d.cp + u.cp - n.w AS thru
    FROM nodes n
    JOIN d{MAX_ROUNDS} d USING (node)
    JOIN u{MAX_ROUNDS} u USING (node)
),
tot AS (SELECT max(thru)::BIGINT AS total_units FROM j)
SELECT (SELECT total_units FROM tot) AS total_units,
       sum(CASE WHEN thru = (SELECT total_units FROM tot)
                THEN 1 ELSE 0 END)::BIGINT AS n_critical,
       count(*)::BIGINT AS n_nodes,
       {MAX_ROUNDS}::BIGINT AS rounds
FROM j
"""
    )


QUERIES = {
    "lpt_makespan": q_lpt_makespan,
    "critical_path": q_critical_path,
}

ORACLES = {
    "lpt_makespan": _LPT_SQL,
    "critical_path": _cp_sql(),
}
