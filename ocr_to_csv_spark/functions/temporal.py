"""Temporal analytics, batch 16: lag-1 autocorrelation, CUSUM
changepoint scan, inter-arrival statistics, hour-of-day seasonality
(chi² vs uniform), and longest active-day streaks (gaps-and-islands) —
the time-series shapes over the events stream.

Scale design (100 TB):
- Everything here first reduces raw events to a DAY- or HOUR-grained
  aggregate (cardinality = days × keys, data-independent small), then
  runs the temporal logic on that aggregate — no window function ever
  touches the raw event table.
- ``autocorr_daily`` is a self-join of the day-count table on day+1 —
  a broadcast-sized join at any corpus scale; the correlation is
  returned as exact integer sums (no float crosses engines).
- ``cusum_drift`` scales deviations by n_days (dev_i = n·c_i − total)
  so the cumulative-deviation walk stays in BIGINT; the changepoint is
  the argmax of |walk| with a deterministic day tie-break.
- ``interarrival`` uses one lag window per event_type over event
  timestamps — the one raw-table window here; state is a single row
  per partition and gaps are integer seconds.
- ``seasonality_hour``'s chi² vs uniform is scaled by 24 to stay
  integer: chi2_num = Σ(24·o_h − T)², chi2_den = 24·T.
- ``active_streak`` is the gaps-and-islands pattern on per-user active
  DAYS (deduplicated first — bounded by days, not events):
  island id = day_number − row_number(), then max run length per user.

Reference parity: no temporal layer in the reference; extends the
events analytics family (analytics.py retention/funnel/markov,
engagement.py RFM/DAU-MAU, statsops.py range windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .util import superstep, table

EPOCH_DAY = "1970-01-01"


def _day_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("c"))
    )


def q_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily event-count series, as exact
    integer sums over the (day, day+1) pairs: r = (n·Σxy − Σx·Σy) /
    sqrt((n·Σx²−(Σx)²)(n·Σy²−(Σy)²)) — we return the five sums."""
    d = _day_counts(spark, sf_dir)
    nxt = d.select(
        F.date_add("day", -1).alias("day"), F.col("c").alias("y")
    )
    pairs = d.join(nxt, "day").select(F.col("c").alias("x"), "y")
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )


_AUTOCORR_SQL = """
    WITH d AS (
        SELECT ts::DATE AS day, count(*)::BIGINT AS c
        FROM events GROUP BY ts::DATE
    ),
    pairs AS (
        SELECT a.c AS x, b.c AS y
        FROM d a JOIN d b ON b.day = a.day + 1
    )
    SELECT count(*)::BIGINT AS n_pairs,
           sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
           sum(x * y)::BIGINT AS sxy,
           sum(x * x)::BIGINT AS sxx,
           sum(y * y)::BIGINT AS syy
    FROM pairs
"""


def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over daily counts: walk_i = Σ_{j≤i}
    (n_days·c_j − total) is integer-exact (deviation scaled by n_days);
    the candidate changepoint is the day maximizing |walk| (earliest
    day on ties). Returns one row: (cp_day_num — days since epoch,
    walk_at_cp, n_days, total)."""
    d = _day_counts(spark, sf_dir)
    tot = d.agg(
        F.count("*").alias("n_days"), F.sum("c").alias("total")
    )
    j = d.crossJoin(F.broadcast(tot))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    walked = j.select(
        F.datediff(F.col("day"), F.lit(EPOCH_DAY).cast("date")).alias(
            "day_num"
        ),
        "n_days",
        "total",
        F.sum(F.col("n_days") * F.col("c") - F.col("total"))
        .over(w)
        .alias("walk"),
    )
    pick = Window.orderBy(F.desc(F.abs(F.col("walk"))), F.asc("day_num"))
    return (
        walked.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            F.col("day_num").alias("cp_day_num"),
            F.col("walk").alias("walk_at_cp"),
            "n_days",
            "total",
        )
    )


_CUSUM_SQL = f"""
    WITH d AS (
        SELECT (ts::DATE - DATE '{EPOCH_DAY}')::BIGINT AS day_num,
               count(*)::BIGINT AS c
        FROM events GROUP BY ts::DATE
    ),
    t AS (SELECT count(*)::BIGINT AS n_days, sum(c)::BIGINT AS total FROM d),
    walked AS (
        SELECT day_num, n_days, total,
               (sum(n_days * c - total) OVER
                   (ORDER BY day_num ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW))::BIGINT AS walk
        FROM d, t
    )
    SELECT day_num AS cp_day_num, walk AS walk_at_cp, n_days, total
    FROM walked
    ORDER BY abs(walk) DESC, day_num ASC
    LIMIT 1
"""


def q_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: inter-arrival gap statistics in integer seconds
    (burstiness inputs — n_gaps, Σgap, Σgap², max gap). Lag window
    ordered by (second, event_id) for a deterministic sequence."""
    e = table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts").cast("long")
    base = e.select("event_type", "event_id", sec.alias("sec"))
    w = Window.partitionBy("event_type").orderBy(
        F.asc("sec"), F.asc("event_id")
    )
    gaps = base.select(
        "event_type",
        (F.col("sec") - F.lag("sec", 1).over(w)).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.sum("gap").alias("sum_gap"),
        F.sum(F.col("gap") * F.col("gap")).alias("sum_gap_sq"),
        F.max("gap").alias("max_gap"),
    )


_INTERARRIVAL_SQL = """
    WITH g AS (
        SELECT event_type,
               sec - lag(sec) OVER (PARTITION BY event_type
                                    ORDER BY sec ASC, event_id ASC) AS gap
        FROM (
            SELECT event_type, event_id,
                   floor(epoch(ts))::BIGINT AS sec
            FROM events
        )
    )
    SELECT event_type,
           count(*)::BIGINT AS n_gaps,
           sum(gap)::BIGINT AS sum_gap,
           sum(gap * gap)::BIGINT AS sum_gap_sq,
           max(gap)::BIGINT AS max_gap
    FROM g WHERE gap IS NOT NULL
    GROUP BY event_type
"""


def q_seasonality_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality per event type: 24-bin profile plus an
    exact-integer chi² vs uniform — chi2_num = Σ_h (24·o_h − T)²
    over all 24 hours (missing hours count as o_h = 0, contributing
    T² each), chi2_den = 24·T."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.select("event_type", F.hour("ts").cast("long").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("o"))
    )
    per = hourly.groupBy("event_type").agg(
        F.sum("o").alias("total"),
        F.count("*").alias("hours_seen"),
        F.sum(F.col("o") * F.col("o")).alias("sum_o_sq"),
    )
    # Σ(24o−T)² over ALL 24 bins = 576·Σo² − 48·T·Σo + 24·T², with the
    # (24 − hours_seen) empty bins contributing T² each — expand so the
    # observed-bins sum suffices and no 24-row spine is needed.
    chi2_num = (
        576 * F.col("sum_o_sq")
        - 48 * F.col("total") * F.col("total")
        + 24 * F.col("total") * F.col("total")
    )
    return per.select(
        "event_type",
        "total",
        "hours_seen",
        chi2_num.alias("chi2_num"),
        (24 * F.col("total")).alias("chi2_den"),
    )


_SEASONALITY_SQL = """
    WITH hourly AS (
        SELECT event_type, hour(ts)::BIGINT AS h, count(*)::BIGINT AS o
        FROM events GROUP BY event_type, hour(ts)
    )
    SELECT event_type,
           sum(o)::BIGINT AS total,
           count(*)::BIGINT AS hours_seen,
           (576 * sum(o * o) - 48 * sum(o) * sum(o)
            + 24 * sum(o) * sum(o))::BIGINT AS chi2_num,
           (24 * sum(o))::BIGINT AS chi2_den
    FROM hourly GROUP BY event_type
"""


def q_active_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user (gaps-and-islands
    on the DEDUPLICATED per-user day table): island = day_num − rn is
    constant within a consecutive run."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    days = e.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit(EPOCH_DAY).cast("date")).alias(
            "day_num"
        ),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_num")
    runs = (
        days.withColumn("grp", F.col("day_num") - F.row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(F.count("*").alias("run_len"))
    )
    return runs.groupBy("user_id").agg(
        F.max("run_len").alias("longest_streak"),
        F.count("*").alias("n_runs"),
    )


_STREAK_SQL = f"""
    WITH days AS (
        SELECT DISTINCT user_id,
               (ts::DATE - DATE '{EPOCH_DAY}')::BIGINT AS day_num
        FROM events WHERE user_id IS NOT NULL
    ),
    runs AS (
        SELECT user_id,
               day_num - row_number() OVER (PARTITION BY user_id
                                            ORDER BY day_num) AS grp
        FROM days
    ),
    lens AS (
        SELECT user_id, grp, count(*)::BIGINT AS run_len
        FROM runs GROUP BY user_id, grp
    )
    SELECT user_id,
           max(run_len)::BIGINT AS longest_streak,
           count(*)::BIGINT AS n_runs
    FROM lens GROUP BY user_id
"""




GAP_SCALE = 1000  # interpolated values in exact integer milli-units


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with LINEAR INTERPOLATION (the densify step
    ``resample_daily``'s zero-fill cannot do for level-like metrics):
    per user, daily value totals in integer cents; missing days get
    prev + (next - prev)·(day - prev_day) ÷ (next_day - prev_day),
    computed with integer division in milli-units so both engines agree
    bit-for-bit. Leading/trailing gaps carry the single available
    endpoint. Plan: one (user, day) aggregate, a per-user day spine
    (sequence + explode — never a users × calendar cross join), and two
    IGNORE-NULLS navigation windows inside the user partition; nothing
    global."""
    ev = table(spark, sf_dir, "events")
    day = F.datediff(F.col("ts").cast("date"), F.lit("1995-01-01").cast("date"))
    daily = (
        ev.select("user_id", day.alias("day"),
                  F.round(F.col("value") * 100).cast("long").alias("cents"))
        .groupBy("user_id", "day")
        .agg(F.sum("cents").alias("val"))
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("day")
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    w = Window.partitionBy("user_id").orderBy("day")
    prev_val = F.last("val", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_day = F.last(
        F.when(F.col("val").isNotNull(), F.col("day")), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    next_val = F.first("val", ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    next_day = F.first(
        F.when(F.col("val").isNotNull(), F.col("day")), ignorenulls=True
    ).over(w.rowsBetween(0, Window.unboundedFollowing))
    interp = (
        prev_val * GAP_SCALE
        + ((next_val - prev_val) * GAP_SCALE * (F.col("day") - prev_day))
        .cast("long")
        / (next_day - prev_day)
    )
    filled = F.when(F.col("val").isNotNull(), F.col("val") * GAP_SCALE).otherwise(
        F.when(prev_val.isNull(), next_val * GAP_SCALE)
        .when(next_val.isNull(), prev_val * GAP_SCALE)
        .otherwise(F.floor(interp))
    )
    return j.select(
        "user_id",
        F.col("day").cast("long").alias("day"),
        F.col("val").isNull().cast("int").alias("was_gap"),
        filled.cast("long").alias("val_milli"),
    )


QUERIES = {
    "gap_fill": q_gap_fill,
    "autocorr_daily": q_autocorr_daily,
    "cusum_drift": q_cusum_drift,
    "interarrival": q_interarrival,
    "seasonality_hour": q_seasonality_hour,
    "active_streak": q_active_streak,
}

ORACLES = {
    "autocorr_daily": _AUTOCORR_SQL,
    "cusum_drift": _CUSUM_SQL,
    "interarrival": _INTERARRIVAL_SQL,
    "seasonality_hour": _SEASONALITY_SQL,
    "active_streak": _STREAK_SQL,
}

ORACLES["gap_fill"] = f"""
    WITH daily AS (
        SELECT user_id,
               date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS val
        FROM events GROUP BY 1, 2
    ), span AS (
        SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1
    ), spine AS (
        SELECT user_id, unnest(generate_series(lo, hi)) AS day FROM span
    ), j AS (
        SELECT s.user_id, s.day, d.val FROM spine s
        LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
    ), nav AS (
        SELECT user_id, day, val,
               last_value(val IGNORE NULLS) OVER
                   (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               last_value(CASE WHEN val IS NOT NULL THEN day END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
               first_value(val IGNORE NULLS) OVER
                   (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN val IS NOT NULL THEN day END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        FROM j
    )
    SELECT user_id, CAST(day AS BIGINT) AS day,
           (val IS NULL)::INT AS was_gap,
           CAST(CASE
               WHEN val IS NOT NULL THEN val * {GAP_SCALE}
               WHEN pv IS NULL THEN nv * {GAP_SCALE}
               WHEN nv IS NULL THEN pv * {GAP_SCALE}
               ELSE pv * {GAP_SCALE}
                    + CAST(floor(((nv - pv) * {GAP_SCALE} * (day - pd))
                                 / CAST(nd - pd AS DOUBLE)) AS BIGINT)
           END AS BIGINT) AS val_milli
    FROM nav
"""



# ---------------------------------------------------------------- batch 36

REACH_SRC_MOD = 37  # users with user_id % 37 == 0 are the seed set
REACH_ROUNDS = 3


def q_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RESPECTING reachability over a temporal contact graph — the
    epidemiology / information-cascade primitive static BFS (bfs_dist)
    cannot express: u reaches w through v only if the v→w contact
    happens AFTER u's contact with v. Contacts are derived
    deterministically from the event stream (consecutive events within
    an event_type = one directed contact at that timestamp); each
    propagation round is ONE keyed equi-join on the contact's source +
    one min-aggregate, with the time constraint (contact_ts >= arrival)
    riding the join as a residual — the Pregel-shaped plan that holds
    at 10^9 edges/round. REACH_ROUNDS rounds unrolled identically in
    both engines; arrival = earliest time-respecting reach in epoch seconds, seeds at 0.
    Same bounded-iteration discipline as bfs_dist/sssp_dist/scc."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", "event_id", "user_id",
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
    )
    w = Window.partitionBy("event_type").orderBy("ts_s", "event_id")
    edges = (
        ev.select(
            F.lag("user_id").over(w).alias("src"),
            F.col("user_id").alias("dst"),
            "ts_s",
        )
        .filter(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
    )
    arr = (
        ev.select("user_id")
        .filter(F.col("user_id") % REACH_SRC_MOD == 0)
        .distinct()
        .withColumn("arrival", F.lit(0).cast("long"))
    )

    def relax(arr, _r):
        upd = (
            edges.join(arr, edges.src == arr.user_id)
            .filter(F.col("ts_s") >= F.col("arrival"))
            .select(F.col("dst").alias("user_id"), F.col("ts_s").alias("arrival"))
        )
        return (
            arr.unionByName(upd)
            .groupBy("user_id")
            .agg(F.min("arrival").alias("arrival"))
        )

    arr, _ = superstep(arr, relax, REACH_ROUNDS)
    return arr.select(F.col("user_id").cast("long").alias("user_id"), "arrival")


def _reach_sql() -> str:
    prev = "r0"
    rounds = []
    for k in range(1, REACH_ROUNDS + 1):
        rounds.append(f"""
    r{k} AS (
        SELECT user_id, min(arrival) AS arrival FROM (
            SELECT user_id, arrival FROM {prev}
            UNION ALL
            SELECT e.dst AS user_id, e.ts_s AS arrival
            FROM edges e JOIN {prev} a
              ON e.src = a.user_id AND e.ts_s >= a.arrival
        ) GROUP BY user_id
    )""")
        prev = f"r{k}"
    return f"""
    WITH ev AS (
        SELECT event_type, event_id, user_id,
               floor(epoch(ts))::BIGINT AS ts_s
        FROM events
    ),
    edges AS (
        SELECT src, dst, ts_s FROM (
            SELECT lag(user_id) OVER (PARTITION BY event_type
                                      ORDER BY ts_s, event_id) AS src,
                   user_id AS dst, ts_s
            FROM ev
        ) WHERE src IS NOT NULL AND src <> dst
    ),
    r0 AS (
        SELECT DISTINCT user_id, 0::BIGINT AS arrival
        FROM events WHERE user_id % {REACH_SRC_MOD} = 0
    ),{','.join(rounds)}
    SELECT CAST(user_id AS BIGINT) AS user_id, arrival FROM {prev}
"""


QUERIES["temporal_reach"] = q_temporal_reach
ORACLES["temporal_reach"] = _reach_sql()


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, α=β=1/4) over
    each user's daily-total series — the trend-aware forecaster ewma
    (level-only) cannot express. The recurrence is order-dependent, so
    it folds sequentially over the day-sorted array per user with an
    ARRAY-VALUED accumulator [level, trend] (Spark ``F.aggregate`` with
    an array<long> state == DuckDB ``list_reduce`` over BIGINT[2]
    elements — the bit-exact two-variable generalization of the ewma
    fold); all updates are exact fixed-point cents with floor(IEEE /4)
    parity. One keyed shuffle to day grain, one to the user fold —
    state per user is calendar-sized, never event-sized."""
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    day = F.floor(F.unix_timestamp("ts").cast("long") / 86400).cast("long")
    daily = e.groupBy(F.col("user_id"), day.alias("day")).agg(
        F.sum(cents).alias("x")
    )
    xs = F.transform(
        F.sort_array(F.collect_list(F.struct("day", "x"))), lambda s: s["x"]
    )
    per_user = daily.groupBy("user_id").agg(
        xs.alias("xs"), F.count("*").alias("n_days")
    )
    first = F.element_at("xs", 1)
    rest = F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0)))

    def step(acc, x):
        s = F.element_at(acc, 1) + F.element_at(acc, 2)
        lvl = F.floor((x + 3 * s) / 4).cast("long")
        trend = F.floor(
            (lvl - F.element_at(acc, 1) + 3 * F.element_at(acc, 2)) / 4
        ).cast("long")
        return F.array(lvl, trend)

    state = F.aggregate(
        rest, F.array(first, F.lit(0).cast("long")), step
    )
    return per_user.select(
        "user_id",
        F.element_at(state, 1).alias("level_cents"),
        F.element_at(state, 2).alias("trend_cents"),
        (F.element_at(state, 1) + F.element_at(state, 2)).alias("forecast_cents"),
        "n_days",
    )


_HOLT_STEP = (
    "[CAST(floor((e[1] + 3 * (acc[1] + acc[2])) / 4.0) AS BIGINT), "
    "CAST(floor((CAST(floor((e[1] + 3 * (acc[1] + acc[2])) / 4.0) AS BIGINT)"
    " - acc[1] + 3 * acc[2]) / 4.0) AS BIGINT)]"
)

ORACLES["holt_forecast"] = f"""
    WITH daily AS (
        SELECT user_id,
               CAST(floor(floor(epoch(ts))::BIGINT / 86400.0) AS BIGINT) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    arrs AS (
        SELECT user_id, list(x ORDER BY day) AS xs, count(*) AS n_days
        FROM daily GROUP BY user_id
    ),
    folded AS (
        SELECT user_id, n_days,
               list_reduce(
                   list_prepend([xs[1], 0::BIGINT],
                       list_transform(xs[2:], x -> [x, 0::BIGINT])),
                   (acc, e) -> {_HOLT_STEP}) AS st
        FROM arrs
    )
    SELECT user_id, st[1] AS level_cents, st[2] AS trend_cents,
           st[1] + st[2] AS forecast_cents, n_days
    FROM folded
"""

QUERIES["holt_forecast"] = q_holt_forecast


# ---------------------------------------------------------------- batch 41


def q_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware outlier gate: an event is anomalous relative
    to its OWN (event_type, hour-of-day) cell, not the global
    distribution — a value normal at the daily peak is an outlier at
    4am (the flaw in mad_outliers' global gate, which this composes
    with seasonality_hour to fix). Per cell: exact LOW median (rank
    ⌊(n+1)/2⌋ — single deterministic order statistic, same rule both
    engines), LOW-median absolute deviation, and the count of events
    with |c − med| > 3·MAD. All integers; two partitioned rank windows
    (never global) and cell-sized joins; the output is |types|·24
    rows at any event volume."""
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    hour = (F.floor(F.unix_timestamp("ts").cast("long") / 3600) % 24).cast("long")
    base = e.select(
        "event_type", hour.alias("hh"), cents.alias("c"), "event_id"
    )
    cell = ["event_type", "hh"]
    w1 = Window.partitionBy(*cell).orderBy(F.asc("c"), F.asc("event_id"))
    cw = Window.partitionBy(*cell)
    r1 = base.select(
        *cell, "c",
        F.row_number().over(w1).cast("long").alias("rn"),
        F.count("*").over(cw).alias("n"),
    )
    med = (
        r1.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select(*cell, F.col("c").alias("med_cents"), "n")
    )
    dev = base.join(med, cell).select(
        *cell, "event_id", "n", "med_cents",
        F.abs(F.col("c") - F.col("med_cents")).alias("d"),
    )
    w2 = Window.partitionBy(*cell).orderBy(F.asc("d"), F.asc("event_id"))
    r2 = dev.select(
        *cell, "d", "n", "med_cents",
        F.row_number().over(w2).cast("long").alias("rn"),
    )
    mad = (
        r2.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select(*cell, F.col("d").alias("mad_cents"))
    )
    return (
        dev.join(mad, cell)
        .groupBy(*cell)
        .agg(
            F.max("n").alias("n"),
            F.max("med_cents").alias("med_cents"),
            F.max("mad_cents").alias("mad_cents"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad_cents"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
        .select("event_type", F.col("hh").alias("hour"),
                "n", "med_cents", "mad_cents", "n_outliers")
    )


ORACLES["seasonal_outliers"] = """
    WITH base AS (
        SELECT event_type,
               CAST(floor(floor(epoch(ts))::BIGINT / 3600.0) AS BIGINT) % 24
                   AS hh,
               CAST(round(value * 100) AS BIGINT) AS c, event_id
        FROM events
    ),
    r1 AS (
        SELECT event_type, hh, c,
               row_number() OVER (PARTITION BY event_type, hh
                                  ORDER BY c ASC, event_id ASC) AS rn,
               count(*) OVER (PARTITION BY event_type, hh) AS n
        FROM base
    ),
    med AS (
        SELECT event_type, hh, c AS med_cents, n FROM r1
        WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
    ),
    dev AS (
        SELECT b.event_type, b.hh, b.event_id, m.n, m.med_cents,
               abs(b.c - m.med_cents) AS d
        FROM base b JOIN med m
          ON b.event_type = m.event_type AND b.hh = m.hh
    ),
    r2 AS (
        SELECT event_type, hh, d,
               row_number() OVER (PARTITION BY event_type, hh
                                  ORDER BY d ASC, event_id ASC) AS rn,
               n
        FROM dev
    ),
    mad AS (
        SELECT event_type, hh, d AS mad_cents FROM r2
        WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
    )
    SELECT dev.event_type, dev.hh AS hour,
           CAST(max(dev.n) AS BIGINT) AS n,
           max(dev.med_cents) AS med_cents,
           max(mad.mad_cents) AS mad_cents,
           CAST(sum(CASE WHEN dev.d > 3 * mad.mad_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad
      ON dev.event_type = mad.event_type AND dev.hh = mad.hh
    GROUP BY dev.event_type, dev.hh
"""

QUERIES["seasonal_outliers"] = q_seasonal_outliers
