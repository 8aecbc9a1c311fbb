"""Oracle entries for the temporal operators: as-of join, bounded
range-join aggregation, session windows, and multi-grain rollup.

The as-of and session oracles replay the exact same window
formulations (running last-non-null; gaps-and-islands) so every tie
and boundary rule is pinned on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nsp_bolt_pipeline_spark.operators.dedup import first_write_wins
from nsp_bolt_pipeline_spark.operators.joins import as_of_join, range_join_agg
from nsp_bolt_pipeline_spark.operators.sessions import session_agg
from nsp_bolt_pipeline_spark.pipeline import END_EVENT, START_EVENT
from nsp_bolt_pipeline_spark.registry import _r2, query
from nsp_bolt_pipeline_spark.sources.readers import read_table

SESSION_GAP = "48 hours"
RANGE_WITHIN = "7 days"


# ---------------------------------------------------------------------------
# As-of join: every purchase gets the latest signup at or before it.
# ---------------------------------------------------------------------------


@query(
    "asof_latest_signup",
    f"""
    WITH l AS (SELECT user_id, ts, event_id, value FROM events
               WHERE event_type = '{END_EVENT}'),
    r AS (SELECT user_id, ts, event_id FROM events
          WHERE event_type = '{START_EVENT}'),
    tagged AS (
        SELECT user_id, ts AS _ts, 1 AS _side, event_id AS _tb,
               event_id, ts, value,
               CAST(NULL AS TIMESTAMP) AS r_ts, CAST(NULL AS BIGINT) AS r_eid
        FROM l
        UNION ALL
        SELECT user_id, ts AS _ts, 0 AS _side, event_id AS _tb,
               NULL, NULL, NULL, ts AS r_ts, event_id AS r_eid
        FROM r
    ),
    carried AS (
        SELECT *,
               last_value(r_ts IGNORE NULLS) OVER win AS asof_ts,
               last_value(r_eid IGNORE NULLS) OVER win AS asof_event_id
        FROM tagged
        WINDOW win AS (PARTITION BY user_id ORDER BY _ts, _side, _tb
                       ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id, ts, user_id, value, asof_ts, asof_event_id
    FROM carried WHERE _side = 1
    """,
)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == END_EVENT).select(
        "event_id", "ts", "user_id", "value"
    )
    signups = ev.filter(F.col("event_type") == START_EVENT).select(
        "user_id", "ts", "event_id"
    )
    out = as_of_join(
        purchases,
        signups,
        key="user_id",
        probe_ts="ts",
        ref_ts="ts",
        tiebreak="event_id",
    )
    return out.select(
        "event_id", "ts", "user_id", "value", "asof_ts", "asof_event_id"
    )


# ---------------------------------------------------------------------------
# As-of join with tolerance: the serving-join variant — a reference
# older than the lookback bound is NO match (pandas merge_asof
# tolerance / kdb window-join semantics).
# ---------------------------------------------------------------------------

_ASOF_TOL = "3 DAY"


@query(
    "j5_asof_tolerance",
    f"""
    WITH l AS (SELECT user_id, ts, event_id, value FROM events
               WHERE event_type = '{END_EVENT}'),
    r AS (SELECT user_id, ts, event_id FROM events
          WHERE event_type = '{START_EVENT}'),
    tagged AS (
        SELECT user_id, ts AS _ts, 1 AS _side, event_id AS _tb,
               event_id, ts, value,
               CAST(NULL AS TIMESTAMP) AS r_ts, CAST(NULL AS BIGINT) AS r_eid
        FROM l
        UNION ALL
        SELECT user_id, ts AS _ts, 0 AS _side, event_id AS _tb,
               NULL, NULL, NULL, ts AS r_ts, event_id AS r_eid
        FROM r
    ),
    carried AS (
        SELECT *,
               last_value(r_ts IGNORE NULLS) OVER win AS c_ts,
               last_value(r_eid IGNORE NULLS) OVER win AS c_eid
        FROM tagged
        WINDOW win AS (PARTITION BY user_id ORDER BY _ts, _side, _tb
                       ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id, ts, user_id, value,
           CASE WHEN c_ts >= _ts - INTERVAL {_ASOF_TOL} THEN c_ts END
               AS asof_ts,
           CASE WHEN c_ts >= _ts - INTERVAL {_ASOF_TOL} THEN c_eid END
               AS asof_event_id
    FROM carried WHERE _side = 1
    """,
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == END_EVENT).select(
        "event_id", "ts", "user_id", "value"
    )
    signups = ev.filter(F.col("event_type") == START_EVENT).select(
        "user_id", "ts", "event_id"
    )
    out = as_of_join(
        purchases,
        signups,
        key="user_id",
        probe_ts="ts",
        ref_ts="ts",
        tiebreak="event_id",
        tolerance=_ASOF_TOL,
    )
    return out.select(
        "event_id", "ts", "user_id", "value", "asof_ts", "asof_event_id"
    )


# ---------------------------------------------------------------------------
# Bounded range-join aggregation: per first-signup, purchase activity
# within the following 7 days.
# ---------------------------------------------------------------------------


@query(
    "j2_range_join_agg",
    f"""
    WITH anchors AS (
        SELECT user_id, ts AS signup_ts, event_id AS signup_event_id
        FROM (
            SELECT user_id, ts, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = '{START_EVENT}'
        ) WHERE rn = 1
    ),
    purchases AS (
        SELECT user_id, ts, value FROM events WHERE event_type = '{END_EVENT}'
    )
    SELECT a.user_id, a.signup_ts, a.signup_event_id,
           COUNT(p.ts) AS n_purchases,
           FLOOR((SUM(p.value))*100 + 0.5)/100 AS total_fare
    FROM anchors a
    LEFT JOIN purchases p
      ON a.user_id = p.user_id
     AND p.ts >= a.signup_ts
     AND p.ts <= a.signup_ts + INTERVAL 7 DAY
    GROUP BY 1, 2, 3
    """,
)
def q_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == START_EVENT).select(
        "user_id", "ts", "event_id"
    )
    anchors = first_write_wins(
        signups, keys=["user_id"], order_cols=["ts", "event_id"]
    ).select(
        "user_id",
        F.col("ts").alias("signup_ts"),
        F.col("event_id").alias("signup_event_id"),
    )
    purchases = ev.filter(F.col("event_type") == END_EVENT).select(
        "user_id", "ts", "value"
    )
    out = range_join_agg(
        anchors,
        purchases,
        key="user_id",
        anchor_ts="signup_ts",
        event_ts="ts",
        within=RANGE_WITHIN,
        measures={
            "n_purchases": F.count(F.col("e.ts")),
            "total_fare": _r2(F.sum(F.col("e.value"))),
        },
    )
    return out.select(
        "user_id", "signup_ts", "signup_event_id", "n_purchases", "total_fare"
    )


# ---------------------------------------------------------------------------
# Session windows: per-user activity sessions at a 48 h inactivity gap.
# ---------------------------------------------------------------------------


@query(
    "session_window_agg",
    f"""
    WITH e AS (SELECT user_id, ts, event_id, value FROM events),
    flagged AS (
        -- Spark's merge rule is INCLUSIVE (an event exactly at the
        -- previous session's end still merges), so a session splits
        -- only on a STRICTLY greater gap
        SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 48 HOUR
                       THEN 1 ELSE 0 END AS new_s
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 48 HOUR AS session_end,
           COUNT(*) AS n_events,
           FLOOR((SUM(value))*100 + 0.5)/100 AS total_value
    FROM sessions GROUP BY user_id, sid
    """,
)
def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    out = session_agg(
        ev,
        keys=["user_id"],
        ts_col="ts",
        gap=SESSION_GAP,
        measures={
            "n_events": F.count("*"),
            "total_value": _r2(F.sum("value")),
        },
    )
    return out.select(
        "user_id", "session_start", "session_end", "n_events", "total_value"
    )


# ---------------------------------------------------------------------------
# Multi-grain rollup: one pass computing (year, month), (year), ()
# totals — the hypertable-rollup / continuous-aggregate shape.
# ---------------------------------------------------------------------------


@query(
    "a3_rollup_multi_grain",
    """
    SELECT CAST(year(ts) AS INTEGER) AS year,
           CAST(month(ts) AS INTEGER) AS month,
           COUNT(*) AS n_events,
           FLOOR((SUM(value))*100 + 0.5)/100 AS total_value
    FROM events
    GROUP BY ROLLUP (1, 2)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        F.year("ts").alias("year"), F.month("ts").alias("month"), "value"
    )
    return (
        ev.rollup("year", "month")
        .agg(
            F.count("*").alias("n_events"),
            _r2(F.sum("value")).alias("total_value"),
        )
        .select("year", "month", "n_events", "total_value")
    )


# ---------------------------------------------------------------------------
# Funnel: signup -> click -> purchase ordered progression per user.
# ---------------------------------------------------------------------------

FUNNEL_STAGES = ("signup", "click", "purchase")


@query(
    "funnel_signup_click_purchase",
    f"""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS stage_1_ts
        FROM events WHERE event_type = '{FUNNEL_STAGES[0]}'
        GROUP BY user_id
    ),
    s2 AS (
        SELECT s1.user_id, s1.stage_1_ts,
               MIN(CASE WHEN e.ts > s1.stage_1_ts THEN e.ts END) AS stage_2_ts
        FROM s1 LEFT JOIN events e
               ON e.user_id = s1.user_id AND e.event_type = '{FUNNEL_STAGES[1]}'
        GROUP BY s1.user_id, s1.stage_1_ts
    ),
    s3 AS (
        SELECT s2.user_id, s2.stage_1_ts, s2.stage_2_ts,
               MIN(CASE WHEN e.ts > s2.stage_2_ts THEN e.ts END) AS stage_3_ts
        FROM s2 LEFT JOIN events e
               ON e.user_id = s2.user_id AND e.event_type = '{FUNNEL_STAGES[2]}'
        GROUP BY s2.user_id, s2.stage_1_ts, s2.stage_2_ts
    )
    SELECT user_id, stage_1_ts, stage_2_ts, stage_3_ts,
           CAST(1 + CAST(stage_2_ts IS NOT NULL AS INT)
                  + CAST(stage_3_ts IS NOT NULL AS INT) AS BIGINT) AS n_stages
    FROM s3
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic event funnel as a cascade of conditional aggregates:
    stage k = earliest stage-k event strictly after stage k-1. One
    entity-keyed shuffle per stage, each over a type-filtered scan."""
    from nsp_bolt_pipeline_spark.operators.funnel import funnel_stages

    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    return funnel_stages(
        ev,
        entity_col="user_id",
        type_col="event_type",
        ts_col="ts",
        stages=list(FUNNEL_STAGES),
    )


@query(
    "cohort_retention_daily",
    """
    WITH first_seen AS (
        SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_date
        FROM events GROUP BY user_id
    ),
    sized AS (
        SELECT cohort_date, COUNT(*) AS n_cohort
        FROM first_seen GROUP BY cohort_date
    ),
    activity AS (
        SELECT f.cohort_date,
               datediff('day', f.cohort_date, CAST(e.ts AS DATE)) AS day_offset,
               COUNT(DISTINCT e.user_id) AS n_active
        FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS ts FROM events) e
        JOIN first_seen f ON e.user_id = f.user_id
        GROUP BY 1, 2
    )
    SELECT a.cohort_date, a.day_offset, a.n_active, s.n_cohort
    FROM activity a JOIN sized s USING (cohort_date)
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention over events: cohort = date of a user's
    first event; each row = distinct users from that cohort active
    day_offset days later, with the cohort size attached."""
    from nsp_bolt_pipeline_spark.operators.funnel import cohort_retention

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    return cohort_retention(ev, entity_col="user_id", ts_col="ts")


# ---------------------------------------------------------------------------
# Daily-volume anomaly detection: z-scores in exact integer arithmetic.
# ---------------------------------------------------------------------------


@query(
    "t5_daily_count_anomaly",
    f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS date, COUNT(*) AS count_trips
        FROM events WHERE event_type = '{END_EVENT}'
        GROUP BY 1
    ),
    s AS (
        SELECT COUNT(*) AS n, SUM(count_trips) AS tot,
               SUM(count_trips * count_trips) AS sc2
        FROM d
    )
    SELECT date, count_trips,
           CASE WHEN n * sc2 - tot * tot > 0
                THEN CAST(count_trips * n - tot AS DOUBLE)
                     / sqrt(CAST(n * sc2 - tot * tot AS DOUBLE))
           END AS z,
           CASE WHEN n * sc2 - tot * tot > 0
                THEN abs(CAST(count_trips * n - tot AS DOUBLE)
                     / sqrt(CAST(n * sc2 - tot * tot AS DOUBLE))) > 2.0
           END AS is_outlier
    FROM d, s
    """,
)
def q_t5_daily_count_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection over the daily trip-end counts: flag
    days whose count sits > 2 population-std-devs from the mean.

    Numerics: z = (c*n - tot) / sqrt(n*sc2 - tot^2) — algebraically
    (c - mean)/std but every input to the one division and one sqrt is
    an EXACT integer (counts, their sums, their squares), so the score
    is bit-deterministic across engines with no fold-order caveats —
    unlike stddev_pop, whose Welford merge order differs per engine.
    Scale: the per-day agg reduces the fact table to date-cardinality
    rows; the single-row stats aggregate then broadcasts back — no
    global window, no second scan of the facts."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == END_EVENT)
        .groupBy(F.to_date("ts").alias("date"))
        .agg(F.count(F.lit(1)).alias("count_trips"))
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("count_trips").alias("tot"),
        F.sum(F.col("count_trips") * F.col("count_trips")).alias("sc2"),
    )
    j = daily.crossJoin(F.broadcast(stats))
    m2 = F.col("n") * F.col("sc2") - F.col("tot") * F.col("tot")
    z = F.when(
        m2 > 0,
        (F.col("count_trips") * F.col("n") - F.col("tot")).cast("double")
        / F.sqrt(m2.cast("double")),
    )
    return j.select(
        "date",
        "count_trips",
        z.alias("z"),
        (F.abs(z) > 2.0).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# SCD Type 2: per-customer order-priority history as validity
# intervals (operators.scd). Gaps-and-islands on both engines.
# ---------------------------------------------------------------------------

from nsp_bolt_pipeline_spark.operators.scd import scd2_intervals  # noqa: E402


@query(
    "scd2_order_priority",
    """
    WITH o AS (SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
               FROM orders),
    flagged AS (
        SELECT *, CASE WHEN row_number() OVER w = 1 THEN 1
                       WHEN lag(o_orderpriority) OVER w
                            IS NOT DISTINCT FROM o_orderpriority
                       THEN 0 ELSE 1 END AS chg
        FROM o
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    numbered AS (
        SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey
                                 ROWS UNBOUNDED PRECEDING) AS rid
        FROM flagged
    ),
    runs AS (
        SELECT o_custkey, rid, MIN(o_orderpriority) AS o_orderpriority,
               MIN(o_orderdate) AS valid_from, COUNT(*) AS n_rows
        FROM numbered GROUP BY o_custkey, rid
    )
    SELECT o_custkey, o_orderpriority, valid_from,
           lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY rid)
               AS valid_to,
           CAST(rid AS INTEGER) AS version, n_rows
    FROM runs
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return scd2_intervals(
        orders,
        key="o_custkey",
        attr="o_orderpriority",
        order_cols=["o_orderdate", "o_orderkey"],
        valid_col="o_orderdate",
    )


# ---------------------------------------------------------------------------
# Rolling 7-day KPI and calendar gap-fill (operators.timeseries).
# ---------------------------------------------------------------------------

from nsp_bolt_pipeline_spark.operators.timeseries import (  # noqa: E402
    gap_fill_forward,
    rolling_daily,
)


@query(
    "t6_rolling_7day_kpi",
    f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS date,
               CAST(FLOOR(SUM(value)*100 + 0.5) AS BIGINT) AS day_cents,
               COUNT(*) AS day_n,
               MAX(value) AS day_max
        FROM events WHERE event_type = '{END_EVENT}'
        GROUP BY 1
    )
    SELECT date,
           SUM(day_cents) OVER w / 100.0 AS rolling_total,
           CAST(SUM(day_n) OVER w AS BIGINT) AS rolling_trips,
           SUM(day_cents) OVER w / 100.0 / SUM(day_n) OVER w AS rolling_avg,
           MAX(day_max) OVER w AS rolling_max
    FROM daily
    WINDOW w AS (ORDER BY date
                 RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == END_EVENT
    )
    return rolling_daily(ev, ts_col="ts", amount_col="value", window_days=7)


@query(
    "t7_gap_fill_forward",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS date,
               CAST(FLOOR(SUM(value)*100 + 0.5) AS BIGINT) / 100.0
                   AS day_value
        FROM events GROUP BY 1, 2
    ),
    spans AS (SELECT user_id, MIN(date) AS d0, MAX(date) AS d1
              FROM daily GROUP BY 1),
    calendar AS (
        SELECT user_id,
               CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                           CAST(d1 AS TIMESTAMP),
                                           INTERVAL 1 DAY)) AS DATE) AS date
        FROM spans
    ),
    dense AS (
        SELECT c.user_id, c.date, d.day_value
        FROM calendar c LEFT JOIN daily d USING (user_id, date)
    )
    SELECT user_id, date, day_value IS NOT NULL AS observed, day_value,
           last_value(day_value IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY date
                     ROWS UNBOUNDED PRECEDING) AS filled
    FROM dense
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return gap_fill_forward(ev, key="user_id", ts_col="ts", value_col="value")


# ---------------------------------------------------------------------------
# Incremental KPI refresh (operators.kpi.incremental_daily_refresh
# shape): recompute only delta-affected dates, stitch onto untouched
# aggregate rows — proven identical to the full recompute by sharing
# the a1 oracle.
# ---------------------------------------------------------------------------

from nsp_bolt_pipeline_spark.registry import _round2, _stable_avg  # noqa: E402

_REFRESH_SPLIT = "2024-01-20"


@query(
    "a8_incremental_kpi_refresh",
    f"""
    SELECT date, total_fare, count_trips,
           FLOOR((total_fare / count_trips)*100 + 0.5)/100 AS average_fare,
           max_fare, min_fare
    FROM (
        SELECT CAST(ts AS DATE) AS date,
               FLOOR((SUM(value))*100 + 0.5)/100 AS total_fare,
               COUNT(*) AS count_trips,
               MAX(value) AS max_fare,
               MIN(value) AS min_fare
        FROM events WHERE event_type = '{END_EVENT}'
        GROUP BY 1
    )
    """,
)
def q_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: the delta batch (arrivals after
    the split) touches only its own event dates; those partitions are
    recomputed from base+delta while every other date keeps its
    existing aggregate row untouched. The oracle is the PLAIN full
    daily aggregate — passing means incremental == full recompute.
    Cost scales with the delta's date span, not history (the
    affected-date rescan partition-prunes on date-partitioned
    bronze)."""
    ends = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == END_EVENT)
        .select("ts", "value")
    )
    base = ends.filter(F.col("ts") < _REFRESH_SPLIT)
    delta = ends.filter(F.col("ts") >= _REFRESH_SPLIT)

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy(F.to_date("ts").alias("date")).agg(
            F.sum("value").alias("total_fare"),
            F.count("*").alias("count_trips"),
            F.max("value").alias("max_fare"),
            F.min("value").alias("min_fare"),
        )

    affected = delta.select(F.to_date("ts").alias("date")).distinct()
    untouched = agg(base).join(affected, "date", "left_anti")
    recomputed = agg(
        ends.withColumn("date", F.to_date("ts"))
        .join(F.broadcast(affected), "date")
        .drop("date")
    )
    return _stable_avg(_round2(untouched.unionByName(recomputed), ["total_fare"]))


# ---------------------------------------------------------------------------
# Interval-overlap self-join: same-customer orders whose 7-day
# fulfillment windows overlap — keyed join + overlap predicate, the
# per-key-bounded form of interval intersection.
# ---------------------------------------------------------------------------


@query(
    "j3_interval_overlap",
    """
    WITH iv AS (
        SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS s,
               CAST(o_orderdate AS DATE) + 7 AS e
        FROM orders
    )
    SELECT a.o_custkey, a.o_orderkey AS k1, b.o_orderkey AS k2,
           CAST(LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS INTEGER)
               AS overlap_days
    FROM iv a JOIN iv b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND a.s < b.e AND b.s < a.e
    """,
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval detection: the join shuffles on the entity
    key only; the overlap predicate prunes inside each key group, so
    cost is bounded by per-key interval counts (orders per customer),
    not the table square. For dense per-key timelines, pre-bucket
    intervals by coarse time range (the range-join pattern of
    operators.joins) before the same predicate."""
    iv = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("s"),
        F.date_add("o_orderdate", 7).alias("e"),
    )
    a, b = iv.alias("a"), iv.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("a.s") < F.col("b.e"))
            & (F.col("b.s") < F.col("a.e")),
        )
        .select(
            F.col("a.o_custkey").alias("o_custkey"),
            F.col("a.o_orderkey").alias("k1"),
            F.col("b.o_orderkey").alias("k2"),
            F.datediff(
                F.least(F.col("a.e"), F.col("b.e")),
                F.greatest(F.col("a.s"), F.col("b.s")),
            ).alias("overlap_days"),
        )
    )


# ---------------------------------------------------------------------------
# Ordered sequence construction: each user's event history as an
# ordered id sequence — the autoregressive-training prep step.
# Portable as a joined string (array columns don't hash-compare
# across engines).
# ---------------------------------------------------------------------------


@query(
    "t8_user_event_sequences",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           string_agg(CAST(event_id AS VARCHAR), ','
                      ORDER BY ts, event_id) AS seq
    FROM events
    GROUP BY user_id
    """,
)
def q_user_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event sequence in ONE aggregation: collect
    (ts, event_id) structs, array_sort (struct order = (ts, id) — no
    window sort, no second shuffle), project ids, join to a string.
    The collect_list state per user is the user's history length —
    bounded by per-key activity, the same bound sequence packing
    (corpus_pack_sequences) relies on."""
    ev = read_table(spark, sf_dir, "events")
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id")))
    )
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.concat_ws(
            ",",
            F.transform(ordered, lambda s: s["event_id"].cast("string")),
        ).alias("seq"),
    )


# ---------------------------------------------------------------------------
# Inter-event gap statistics: per-user lag deltas -> mean / max gap
# in seconds — cadence profiling for sessionization-gap tuning.
# ---------------------------------------------------------------------------


@query(
    "t9_interevent_gaps",
    """
    SELECT user_id,
           COUNT(gap_s) AS n_gaps,
           CAST(FLOOR(AVG(gap_s)*100 + 0.5)/100 AS DOUBLE) AS mean_gap_s,
           MAX(gap_s) AS max_gap_s
    FROM (
        SELECT user_id,
               CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS DOUBLE)
                   / 1000000.0 AS gap_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE gap_s IS NOT NULL
    GROUP BY user_id
    """,
)
def q_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event cadence: lag deltas in epoch-micros (exact
    integers) divided once to seconds, then mean (rounded through the
    portable cents formula) and max. This is the number that picks
    session_window gaps (operators/sessions.py) empirically. One
    key-partitioned window sort + one partial-agg shuffle."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag(F.col("ts").cast("timestamp")).over(w))
            ).cast("double")
            / 1000000.0
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("gap_s").alias("n_gaps"),
        (F.floor(F.avg("gap_s") * 100 + F.lit(0.5)) / 100).alias("mean_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


# ---------------------------------------------------------------------------
# Per-event trailing count: events in the previous hour per user,
# evaluated AT EVERY EVENT — the RANGE-frame sliding window at row
# grain (t6 is day grain).
# ---------------------------------------------------------------------------


@query(
    "t10_trailing_event_count",
    """
    SELECT event_id, user_id, ts,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                                AND CURRENT ROW) AS n_last_hour
    FROM events
    """,
)
def q_trailing_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity feature (events-per-trailing-hour at each event) — the
    fraud/rate-limit signal shape. The frame is RANGE over exact
    epoch-micros (ties all enter the frame together, matching SQL
    RANGE semantics over the raw timestamp), one key-partitioned
    sort, integer output."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        W.partitionBy("user_id")
        .orderBy(us.alias("_us"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id", "user_id", "ts", F.count("*").over(w).alias("n_last_hour")
    )


# ---------------------------------------------------------------------------
# Rolling WAU / DAU stickiness: exact 7-day distinct users per day via
# the hopping-window explode; at 100 TB the distinct becomes an HLL
# sketch union (mergeability pytest-proven in test_skew).
# ---------------------------------------------------------------------------


@query(
    "t11_rolling_dau_wau",
    """
    WITH e AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    dau AS (SELECT d, COUNT(*) AS dau FROM e GROUP BY d),
    ex AS (
        SELECT CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
                   CAST(d + 6 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE)
                   AS win_day,
               user_id
        FROM e
    ),
    wau AS (SELECT win_day AS d, COUNT(DISTINCT user_id) AS wau
            FROM ex GROUP BY win_day)
    SELECT d, dau.dau, wau.wau,
           CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
    FROM dau JOIN wau USING (d)
    """,
)
def q_rolling_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU per day. The (date, user) grain is
    deduped FIRST (one distinct of slim pairs), then each pair
    fans out to the 7 window days it contributes to — the hopping
    explode keeps the distinct exact without a window-sort. The
    stickiness ratio is a single division."""
    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    dau = pairs.groupBy("d").agg(F.count("*").alias("dau"))
    ex = pairs.select(
        F.explode(
            F.sequence(
                F.col("d"), F.date_add("d", 6), F.expr("INTERVAL 1 DAY")
            )
        ).alias("win_day"),
        "user_id",
    )
    wau = ex.groupBy(F.col("win_day").alias("d")).agg(
        F.count_distinct("user_id").alias("wau")
    )
    return dau.join(wau, "d").select(
        "d",
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# Trip-duration distribution: completion join -> duration minutes ->
# equi-width histogram, composing two oracled operators.
# ---------------------------------------------------------------------------

from nsp_bolt_pipeline_spark.operators.profile import (  # noqa: E402
    equi_width_histogram,
)
from nsp_bolt_pipeline_spark.pipeline import events_as_trip_streams  # noqa: E402

_DUR_BUCKETS = 12


@query(
    "a9_trip_duration_histogram",
    f"""
    WITH starts AS (
        SELECT CAST(user_id AS VARCHAR) AS trip_id, ts AS p,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = '{START_EVENT}'
    ),
    ends AS (
        SELECT CAST(user_id AS VARCHAR) AS trip_id, ts AS d,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = '{END_EVENT}'
    ),
    dur AS (
        SELECT CAST(epoch_us(e.d) - epoch_us(s.p) AS DOUBLE) / 60000000.0
                   AS mins
        FROM starts s JOIN ends e ON s.trip_id = e.trip_id
        WHERE s.rn = 1 AND e.rn = 1
    ),
    bounds AS (SELECT MIN(mins) AS lo, MAX(mins) AS hi FROM dur),
    b AS (
        SELECT CASE WHEN bounds.hi = bounds.lo THEN 0
                    ELSE LEAST(CAST(FLOOR((mins - bounds.lo)
                             / ((bounds.hi - bounds.lo) / {_DUR_BUCKETS}))
                             AS INTEGER), {_DUR_BUCKETS - 1}) END AS bucket,
               bounds.lo AS _lo, bounds.hi AS _hi
        FROM dur CROSS JOIN bounds
    )
    SELECT bucket,
           _lo + bucket * (_hi - _lo) / {_DUR_BUCKETS} AS lo,
           _lo + (bucket + 1) * (_hi - _lo) / {_DUR_BUCKETS} AS hi,
           COUNT(*) AS n_rows
    FROM b GROUP BY bucket, _lo, _hi
    """,
)
def q_duration_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two oracled operators composed: deduped completion join (J1)
    producing per-trip durations in exact epoch-micro arithmetic, fed
    into the equi-width histogram — the ops-dashboard distribution
    panel, one more proof that compositions stay correct."""
    starts, ends = events_as_trip_streams(read_table(spark, sf_dir, "events"))
    starts_d = first_write_wins(
        starts, keys=["trip_id"],
        order_cols=["pickup_datetime", "start_event_id"],
    )
    ends_d = first_write_wins(
        ends, keys=["trip_id"],
        order_cols=["dropoff_datetime", "end_event_id"],
    )
    dur = starts_d.join(ends_d, "trip_id").select(
        (
            (
                F.unix_micros(F.col("dropoff_datetime").cast("timestamp"))
                - F.unix_micros(F.col("pickup_datetime").cast("timestamp"))
            ).cast("double")
            / 60000000.0
        ).alias("mins")
    )
    return equi_width_histogram(dur, col="mins", n_buckets=_DUR_BUCKETS)


# ---------------------------------------------------------------------------
# Time-decayed user score: EWMA (alpha = 1/2) of event values in
# event order. alpha = 0.5 is deliberate — scaling by powers of two
# is EXACT in binary floating point, so only the additions carry
# rounding and both engines run the identical left-to-right fold:
# the result is bit-portable with no rounding convention needed.
# ---------------------------------------------------------------------------


@query(
    "t12_ewma_user_score",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           list_reduce(list(value ORDER BY ts, event_id),
                       (acc, v) -> acc * 0.5 + v * 0.5) AS ewma
    FROM events
    GROUP BY user_id
    """,
)
def q_ewma_user_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement: s_1 = v_1, s_t = (s_{t-1} + v_t)/2
    over each user's events in (ts, event_id) order. State is one
    sorted per-user array (bounded per key — the sessionization
    shape); one shuffle on user_id, the fold is a codegen'd
    expression. The streaming twin is a trivial applyInPandasWithState
    value; batch-side this replaces a pow()-bearing window (pow is
    libm-dependent; halving is not)."""
    from nsp_bolt_pipeline_spark.functions.expr import bind_once

    ev = read_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("seq"),
    )

    def ewma_of(vals: F.Column) -> F.Column:
        return F.aggregate(
            F.slice(vals, 2, F.size(vals) - 1),
            F.element_at(vals, 1).cast("double"),
            lambda acc, v: acc * 0.5 + v * 0.5,
        )

    vals = F.transform(F.col("seq"), lambda x: x["value"])
    return per.select(
        "user_id",
        "n_events",
        bind_once(vals, ewma_of).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# Robust (MAD) twin of t5: median/median-absolute-deviation replace
# mean/std, so a single extreme day cannot mask other outliers by
# inflating the std — the robust-statistics upgrade every volume
# monitor eventually ships.
# ---------------------------------------------------------------------------


@query(
    "t13_robust_anomaly_mad",
    f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS date, COUNT(*) AS count_trips
        FROM events WHERE event_type = '{END_EVENT}'
        GROUP BY 1
    ),
    med AS (
        SELECT quantile_cont(CAST(count_trips AS DOUBLE), 0.5) AS med
        FROM d
    ),
    mad AS (
        SELECT quantile_cont(abs(CAST(count_trips AS DOUBLE) - med.med),
                             0.5) AS mad
        FROM d, med
    )
    SELECT d.date, d.count_trips,
           CASE WHEN mad.mad > 0
                THEN (CAST(d.count_trips AS DOUBLE) - med.med)
                     / (CAST(1.4826 AS DOUBLE) * mad.mad)
           END AS robust_z,
           CASE WHEN mad.mad > 0
                THEN abs((CAST(d.count_trips AS DOUBLE) - med.med)
                     / (CAST(1.4826 AS DOUBLE) * mad.mad)) > 3.0
           END AS is_outlier
    FROM d, med, mad
    """,
)
def q_t13_robust_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based volume anomaly: robust_z = (c - median) /
    (1.4826 * MAD). Medians run over the DAY-cardinality post-agg
    frame (exact percentile is oracle-portable there: integer counts
    interpolate to exact binary halves); the fact table is scanned
    once. A 10x traffic spike day moves mean and std enough to hide
    a second outlier from t5's z-score; it cannot move the median."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == END_EVENT)
        .groupBy(F.to_date("ts").alias("date"))
        .agg(F.count(F.lit(1)).alias("count_trips"))
    )
    med = daily.agg(
        F.expr("percentile(CAST(count_trips AS DOUBLE), 0.5)").alias("med")
    )
    with_med = daily.crossJoin(F.broadcast(med))
    mad = with_med.withColumn(
        "absdev", F.abs(F.col("count_trips").cast("double") - F.col("med"))
    ).agg(F.expr("percentile(absdev, 0.5)").alias("mad"))
    j = with_med.crossJoin(F.broadcast(mad))
    rz = F.when(
        F.col("mad") > 0,
        (F.col("count_trips").cast("double") - F.col("med"))
        / (F.lit(1.4826) * F.col("mad")),
    )
    return j.select(
        "date",
        "count_trips",
        rz.alias("robust_z"),
        F.when(F.col("mad") > 0, F.abs(rz) > 3.0).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix: per-user lag pairs -> global
# (from, to) counts and row-normalized probabilities — the Markov
# statistics sequence models and journey analyses start from.
# ---------------------------------------------------------------------------


@query(
    "t14_event_transitions",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    c AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE)
               AS p
    FROM c
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition statistics: the lag window runs
    per user (bounded partitions, one shuffle on user_id), counts
    collapse with map-side combine, and the row normalization is a
    window over the TYPE-cardinality aggregate — integer counts and
    one exact division everywhere."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    uw = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(uw).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    fw = W.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n",
        (
            F.col("n").cast("double") / F.sum("n").over(fw).cast("double")
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# t15: frequent event-type co-occurrence pairs over (user, day)
# baskets — the A-priori level-2 pass of market-basket analysis.
# Support counts DISTINCT baskets, so repeated events in a basket
# count once; pair order is canonical (lexicographic).
# ---------------------------------------------------------------------------

T15_MIN_SUPPORT = 50


@query(
    "t15_frequent_type_pairs",
    f"""
    WITH baskets AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
        FROM events
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b
        FROM baskets a JOIN baskets b
          ON a.user_id = b.user_id AND a.day = b.day
         AND a.event_type < b.event_type
    ),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
           FROM (SELECT DISTINCT user_id, day FROM baskets))
    SELECT type_a, type_b,
           CAST(COUNT(*) AS BIGINT) AS support,
           CAST(COUNT(*) AS DOUBLE) / nb.n AS support_frac
    FROM pairs, nb
    GROUP BY type_a, type_b, nb.n
    HAVING COUNT(*) >= {T15_MIN_SUPPORT}
    """,
)
def q_t15_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent event-type pairs within (user, day) baskets: distinct
    basket items, canonical-order self-join WITHIN the basket key (the
    join fans out only per basket — bounded by the type-cardinality
    squared, never corpus-squared), support counted over distinct
    baskets. The A-priori level-2 shape; min-support prunes the tail.
    """
    ev = read_table(spark, sf_dir, "events")
    baskets = ev.select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).dropDuplicates()
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.day") == F.col("b.day"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
    )
    nb = baskets.select("user_id", "day").dropDuplicates().agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        pairs.groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= T15_MIN_SUPPORT)
        .crossJoin(F.broadcast(nb))
        .select(
            "type_a",
            "type_b",
            "support",
            (F.col("support").cast("double") / F.col("n")).alias(
                "support_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# eval_ab_lift: two-variant experiment readout over the event log —
# conversion and revenue-per-user lift with the standard two-
# proportion z statistic. Revenue folds as INTEGER CENTS (associative,
# fold-order-free); every float op afterwards is a scalar derivation
# from bit-identical inputs on both engines.
# ---------------------------------------------------------------------------


AB_CONV_MIN = 14  # conversions = users with >= this many purchases


@query(
    "eval_ab_lift",
    f"""
    WITH u AS (
        SELECT user_id,
               user_id % 2 AS variant,
               CASE WHEN SUM(CASE WHEN event_type = '{END_EVENT}'
                                 THEN 1 ELSE 0 END) >= {AB_CONV_MIN}
                    THEN 1 ELSE 0 END AS converted,
               SUM(CASE WHEN event_type = '{END_EVENT}'
                        THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS cents
        FROM events
        GROUP BY user_id
    ),
    v AS (
        SELECT variant,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(converted) AS BIGINT) AS n_converted,
               CAST(SUM(cents) AS BIGINT) AS revenue_cents
        FROM u GROUP BY variant
    ),
    w AS (
        SELECT
            MAX(CASE WHEN variant = 0 THEN n_users END) AS n_a,
            MAX(CASE WHEN variant = 1 THEN n_users END) AS n_b,
            MAX(CASE WHEN variant = 0 THEN n_converted END) AS c_a,
            MAX(CASE WHEN variant = 1 THEN n_converted END) AS c_b,
            MAX(CASE WHEN variant = 0 THEN revenue_cents END) AS r_a,
            MAX(CASE WHEN variant = 1 THEN revenue_cents END) AS r_b
        FROM v
    )
    SELECT n_a, n_b, c_a, c_b, r_a, r_b,
           CAST(c_a AS DOUBLE) / n_a AS conv_a,
           CAST(c_b AS DOUBLE) / n_b AS conv_b,
           CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a
               AS abs_lift,
           (CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a)
             / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)) AS z_score,
           (CAST(r_b AS DOUBLE) / 100.0) / n_b
             - (CAST(r_a AS DOUBLE) / 100.0) / n_a AS revenue_lift_per_user
    FROM w
    """,
)
def q_eval_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: variant = user_id % 2, conversion = any
    purchase, revenue folded as integer cents. Per-user collapse is
    one partial-agg shuffle; the variant rollup is 2 rows; z and lift
    are scalar float derivations of exact integers, bit-identical on
    both engines."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.when(
        F.col("event_type") == END_EVENT,
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    n_purch = F.sum(
        F.when(F.col("event_type") == END_EVENT, 1).otherwise(0)
    )
    u = ev.groupBy("user_id").agg(
        F.when(n_purch >= AB_CONV_MIN, 1).otherwise(0).alias("converted"),
        F.sum(cents).alias("cents"),
    ).withColumn("variant", F.col("user_id") % 2)
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
    pick = lambda var, col: F.max(  # noqa: E731
        F.when(F.col("variant") == var, F.col(col))
    )
    w = v.agg(
        pick(0, "n_users").alias("n_a"),
        pick(1, "n_users").alias("n_b"),
        pick(0, "n_converted").alias("c_a"),
        pick(1, "n_converted").alias("c_b"),
        pick(0, "revenue_cents").alias("r_a"),
        pick(1, "revenue_cents").alias("r_b"),
    )
    conv_a = F.col("c_a").cast("double") / F.col("n_a")
    conv_b = F.col("c_b").cast("double") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    return w.select(
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        "r_a",
        "r_b",
        conv_a.alias("conv_a"),
        conv_b.alias("conv_b"),
        (conv_b - conv_a).alias("abs_lift"),
        (
            (conv_b - conv_a)
            / F.sqrt(
                pool
                * (F.lit(1.0) - pool)
                * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
            )
        ).alias("z_score"),
        (
            (F.col("r_b").cast("double") / F.lit(100.0)) / F.col("n_b")
            - (F.col("r_a").cast("double") / F.lit(100.0)) / F.col("n_a")
        ).alias("revenue_lift_per_user"),
    )


# ---------------------------------------------------------------------------
# t17: day-of-week seasonality decomposition of the daily event
# volume — level (global mean), seasonal index per weekday, residual
# per day. All three derive from integer counts by scalar divisions,
# so both engines produce bit-identical doubles.
# ---------------------------------------------------------------------------


@query(
    "t17_dow_seasonality",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    d2 AS (SELECT day, n, dayofweek(day) AS dow FROM daily),
    dow_stats AS (
        SELECT dow,
               CAST(SUM(n) AS BIGINT) AS dow_total,
               CAST(COUNT(*) AS BIGINT) AS dow_days
        FROM d2 GROUP BY dow
    ),
    g AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS days
          FROM daily)
    SELECT d2.day, CAST(d2.dow AS INTEGER) AS dow, d2.n,
           CAST(g.total AS DOUBLE) / g.days AS level,
           (CAST(s.dow_total AS DOUBLE) / s.dow_days)
             / (CAST(g.total AS DOUBLE) / g.days) AS seasonal_index,
           CAST(d2.n AS DOUBLE)
             - CAST(s.dow_total AS DOUBLE) / s.dow_days AS residual
    FROM d2 JOIN dow_stats s USING (dow) CROSS JOIN g
    """,
)
def q_t17_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic multiplicative seasonality readout over the daily
    volume series: per-day count, weekday seasonal index (weekday
    mean / global mean), residual vs the weekday mean. Post-agg
    frames are day- and weekday-sized; both helper aggregates ride
    broadcast."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # DuckDB dayofweek: Sunday=0..Saturday=6; Spark dayofweek:
    # Sunday=1..Saturday=7 — align by subtracting 1
    d2 = daily.withColumn("dow", (F.dayofweek("day") - 1).cast("int"))
    dow_stats = d2.groupBy("dow").agg(
        F.sum("n").cast("long").alias("dow_total"),
        F.count(F.lit(1)).cast("long").alias("dow_days"),
    )
    g = daily.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("days"),
    )
    level = F.col("total").cast("double") / F.col("days")
    dow_mean = F.col("dow_total").cast("double") / F.col("dow_days")
    return (
        d2.join(F.broadcast(dow_stats), "dow")
        .crossJoin(F.broadcast(g))
        .select(
            "day",
            "dow",
            "n",
            level.alias("level"),
            (dow_mean / level).alias("seasonal_index"),
            (F.col("n").cast("double") - dow_mean).alias("residual"),
        )
    )


# ---------------------------------------------------------------------------
# t18: CUSUM changepoint scan over the daily volume series. The
# statistic stays in INTEGERS — cusum_t = sum_{i<=t}(days*n_i -
# total) is BIGINT-exact under any fold order (days*n_i - total is
# the deviation from the mean scaled by `days`, avoiding the
# rational mean entirely) — so the argmax day is engine-exact.
# ---------------------------------------------------------------------------


@query(
    "t18_cusum_changepoint",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    g AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS days FROM daily),
    c AS (
        SELECT day, n,
               CAST(SUM(g.days * n - g.total) OVER (
                   ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cusum_scaled
        FROM daily CROSS JOIN g
    )
    SELECT day, n, cusum_scaled,
           CAST(abs(cusum_scaled) = (SELECT MAX(abs(cusum_scaled)) FROM c)
                AND day = (SELECT MIN(day) FROM c
                           WHERE abs(cusum_scaled) =
                                 (SELECT MAX(abs(cusum_scaled)) FROM c))
                AS BOOLEAN) AS is_changepoint
    FROM c
    """,
)
def q_t18_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift scan: per-day scaled cumulative deviation
    from the global mean and the argmax |cusum| day flagged as the
    changepoint (ties -> earliest). The running sum is a window over
    the POST-AGGREGATION day series (tens of rows), not the event
    log; all arithmetic is exact integers."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    g = daily.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("days"),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    c = (
        daily.crossJoin(F.broadcast(g))
        .withColumn(
            "cusum_scaled",
            F.sum(F.col("days") * F.col("n") - F.col("total"))
            .over(w)
            .cast("long"),
        )
        .select("day", "n", "cusum_scaled")
    )
    mx = c.agg(F.max(F.abs("cusum_scaled")).alias("mx"))
    first_day = (
        c.crossJoin(F.broadcast(mx))
        .filter(F.abs("cusum_scaled") == F.col("mx"))
        .agg(F.min("day").alias("cp_day"))
    )
    return (
        c.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(first_day))
        .select(
            "day",
            "n",
            "cusum_scaled",
            (
                (F.abs("cusum_scaled") == F.col("mx"))
                & (F.col("day") == F.col("cp_day"))
            ).alias("is_changepoint"),
        )
    )


# ---------------------------------------------------------------------------
# t19: exact greedy debounce — keep an event iff >= min_gap after the
# last KEPT event of its (user, type) stream. Survival depends on
# earlier survivals, so no lag/window expression states it: this is
# the legitimate applyInPandas case (per-key ordered fold, keys
# independent). The oracle replays the fold with a recursive CTE.
# ---------------------------------------------------------------------------

T19_GAP_S = 86_400  # 1 day


@query(
    "t19_debounce_throttle",
    f"""
    WITH RECURSIVE e AS (
        SELECT user_id, event_type, event_id, ts,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    walk(user_id, event_type, rn, event_id, ts, kept, last_kept) AS (
        SELECT user_id, event_type, rn, event_id, ts, TRUE, ts
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.event_type, e.rn, e.event_id, e.ts,
               e.ts >= w.last_kept + INTERVAL {T19_GAP_S} SECOND,
               CASE WHEN e.ts >= w.last_kept + INTERVAL {T19_GAP_S} SECOND
                    THEN e.ts ELSE w.last_kept END
        FROM walk w
        JOIN e ON e.user_id = w.user_id
              AND e.event_type = w.event_type
              AND e.rn = w.rn + 1
    )
    SELECT user_id, event_type, event_id, ts
    FROM walk WHERE kept
    """,
)
def q_t19_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-(user, type) debounce at a {T19_GAP_S}s minimum
    gap: one key shuffle, a linear Arrow-batched scan per key, one
    timestamp of state. The inherently-sequential semantic the
    window/lag surface cannot express."""
    from nsp_bolt_pipeline_spark.operators.timeseries import debounce_events

    ev = read_table(spark, sf_dir, "events")
    return debounce_events(ev, min_gap_s=T19_GAP_S)


from datetime import timedelta  # noqa: E402

from pyspark.sql import types as T  # noqa: E402


# ---------------------------------------------------------------------------
# Streaming greedy debounce: the sequential keep-if->=gap-after-last-
# KEPT fold, run per (user, type) session window of gap min_gap when
# the session closes. A quiet gap of min_gap puts the next event past
# every earlier one, so the fold keeps it anyway: the session split is
# exact for any batching and arrival order, pinned by the batch t19
# oracle and by the multi-batch tests in tests/test_decay_stream.py.
# ---------------------------------------------------------------------------


def _t19_stream_sql() -> str:
    from nsp_bolt_pipeline_spark.registry import REGISTRY as _R

    base = _R["t19_debounce_throttle"][1]
    return f"""
    SELECT user_id, event_type, event_id,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us
    FROM ({base})
    """


@query("stream_t19_debounce", _t19_stream_sql())
def q_stream_t19_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the event dump through the session-window streaming
    debounce: each (user, type) session folds and emits once the
    watermark passes its end, the sentinel pushes the final watermark
    past every real session (its own session never closes, so it is
    never emitted), and the kept set hash-matches the batch greedy
    fold."""
    from nsp_bolt_pipeline_spark.registry_streaming import (
        _dump_events_df,
        _event_stream,
        _workdir,
    )
    from nsp_bolt_pipeline_spark.streaming.decay import (
        SENTINEL_USER,
        track_debounce,
    )
    from nsp_bolt_pipeline_spark.streaming.run import run_available_now

    dirs = _workdir("stream_debounce")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(0, max_ts + timedelta(hours=72), SENTINEL_USER, "x")],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    _dump_events_df(ev.unionByName(sentinel), dirs["src"])

    wire_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    stream = _event_stream(spark, dirs["src"], schema=wire_schema)
    out = track_debounce(stream, min_gap_s=T19_GAP_S)
    run_available_now(
        out.writeStream.format("parquet").option("path", dirs["out"]),
        dirs["ckpt"],
    )
    return spark.read.parquet(dirs["out"]).select(
        "user_id", "event_type", "event_id", "ts_us"
    )


# ---------------------------------------------------------------------------
# t20: RFM segmentation — recency/frequency/monetary quintiles per
# user. Monetary folds as integer cents; quintiles are ntile over
# the USER-dimension frame (orders of magnitude below the event log;
# ties broken by user_id so the ntile is a deterministic total
# order).
# ---------------------------------------------------------------------------


@query(
    "t20_rfm_segmentation",
    f"""
    WITH per_user AS (
        SELECT user_id,
               MAX(ts) AS last_purchase,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS monetary_cents
        FROM events WHERE event_type = '{END_EVENT}'
        GROUP BY user_id
    )
    SELECT user_id, last_purchase, frequency, monetary_cents,
           CAST(ntile(5) OVER (ORDER BY last_purchase ASC, user_id ASC)
                AS INTEGER) AS r_quintile,
           CAST(ntile(5) OVER (ORDER BY frequency ASC, user_id ASC)
                AS INTEGER) AS f_quintile,
           CAST(ntile(5) OVER (ORDER BY monetary_cents ASC, user_id ASC)
                AS INTEGER) AS m_quintile
    FROM per_user
    """,
)
def q_t20_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintiles over the purchase log: one partial-agg shuffle
    collapses events to the user dimension; the three ntile windows
    run over that user-sized frame (at 100 TB of events the user
    table is still ~millions — if even that must scale, swap ntile
    for the percentile_trim cumulative-rank pattern)."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    per_user = ev.filter(F.col("event_type") == END_EVENT).groupBy(
        "user_id"
    ).agg(
        F.max("ts").alias("last_purchase"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).cast("long").alias("monetary_cents"),
    )
    q = lambda col: F.ntile(5).over(  # noqa: E731
        W.orderBy(F.col(col).asc(), F.col("user_id").asc())
    ).cast("int")
    return per_user.select(
        "user_id",
        "last_purchase",
        "frequency",
        "monetary_cents",
        q("last_purchase").alias("r_quintile"),
        q("frequency").alias("f_quintile"),
        q("monetary_cents").alias("m_quintile"),
    )


# ---------------------------------------------------------------------------
# SCD2 readouts: time-travel snapshot and the point-in-time fact join
# (operators.scd). Both consume the scd2_order_priority history.
# ---------------------------------------------------------------------------

_SCD2_BASE_CTES = """
    o AS (SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
          FROM orders),
    flagged AS (
        SELECT *, CASE WHEN row_number() OVER w = 1 THEN 1
                       WHEN lag(o_orderpriority) OVER w
                            IS NOT DISTINCT FROM o_orderpriority
                       THEN 0 ELSE 1 END AS chg
        FROM o
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    numbered AS (
        SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey
                                 ROWS UNBOUNDED PRECEDING) AS rid
        FROM flagged
    ),
    runs AS (
        SELECT o_custkey, rid, MIN(o_orderpriority) AS o_orderpriority,
               MIN(o_orderdate) AS valid_from, COUNT(*) AS n_rows
        FROM numbered GROUP BY o_custkey, rid
    ),
    hist AS (
        SELECT o_custkey, o_orderpriority, valid_from,
               lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY rid)
                   AS valid_to,
               CAST(rid AS INTEGER) AS version, n_rows
        FROM runs
    )
"""

_SCD2_AS_OF = "1996-06-01 00:00:00"


def _scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return scd2_intervals(
        orders,
        key="o_custkey",
        attr="o_orderpriority",
        order_cols=["o_orderdate", "o_orderkey"],
        valid_col="o_orderdate",
    )


@query(
    "scd2_asof_snapshot",
    f"""
    WITH {_SCD2_BASE_CTES}
    SELECT o_custkey, o_orderpriority, valid_from, valid_to, version,
           n_rows
    FROM hist
    WHERE valid_from <= TIMESTAMP '{_SCD2_AS_OF}'
      AND (valid_to IS NULL OR TIMESTAMP '{_SCD2_AS_OF}' < valid_to)
    """,
)
def q_scd2_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: the per-customer priority regime in force at the
    as-of instant — one map-side interval filter over the history,
    which is how a warehouse answers "what did the dimension look
    like last June" without storing snapshots."""
    from nsp_bolt_pipeline_spark.operators.scd import scd2_asof_snapshot

    return scd2_asof_snapshot(
        _scd2_history(spark, sf_dir), as_of=_SCD2_AS_OF
    )


@query(
    "scd2_point_in_time_join",
    f"""
    WITH {_SCD2_BASE_CTES},
    f AS (
        SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, o.o_custkey
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT f.l_orderkey, f.l_linenumber, f.l_shipdate, f.o_custkey,
           h.o_orderpriority AS dim_priority,
           h.version AS dim_version
    FROM f
    LEFT JOIN hist h
      ON h.o_custkey = f.o_custkey
     AND h.valid_from <= f.l_shipdate
     AND (h.valid_to IS NULL OR f.l_shipdate < h.valid_to)
    """,
)
def q_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: every shipment attached to the priority
    regime its customer was in AT SHIPMENT TIME — the leakage-free
    feature join (a fact never sees a dimension version from its
    future). Equi-join on the key with the interval bounds as
    residual predicates; SCD2 intervals are disjoint per key, so
    each fact matches at most one version."""
    from nsp_bolt_pipeline_spark.operators.scd import point_in_time_join

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    ok = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    facts = li.join(ok, li.l_orderkey == ok.o_orderkey).select(
        "l_orderkey", "l_linenumber", "l_shipdate", "o_custkey"
    )
    hist = _scd2_history(spark, sf_dir).select(
        "o_custkey",
        F.col("o_orderpriority").alias("priority"),
        "valid_from",
        "valid_to",
        "version",
    )
    out = point_in_time_join(
        facts, hist, key="o_custkey", fact_ts="l_shipdate"
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        "o_custkey",
        F.col("dim_priority").alias("dim_priority"),
        F.col("dim_version").alias("dim_version"),
    )


# ---------------------------------------------------------------------------
# Holt double-exponential smoothing (alpha = beta = 1/2): level +
# trend per user. Same bit-portability argument as t12: halving is
# exact in binary FP, both engines run the identical left-to-right
# fold, so no rounding convention is needed. The oracle is a
# recursive CTE, NOT list_reduce: DuckDB 1.0 evaluates struct-literal
# fields IN PLACE inside list_reduce lambdas — a later field reading
# acc.lv sees the CURRENT step's already-updated lv (probed:
# (acc, x) -> {'lv': acc.lv*2 + x.lv, 'tr': acc.lv} folds [1,10,100]
# to tr=124, not 12) — so any cross-field two-state fold silently
# corrupts. The CTE replays the same op sequence with sound
# semantics.
# ---------------------------------------------------------------------------


@query(
    "t21_holt_trend",
    """
    WITH RECURSIVE e AS (
        SELECT user_id, CAST(value AS DOUBLE) AS value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    walk AS (
        SELECT user_id, rn, value AS lv, CAST(0.0 AS DOUBLE) AS tr
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn,
               (e.value + w.lv + w.tr) * 0.5,
               ((e.value + w.lv + w.tr) * 0.5 - w.lv) * 0.5 + w.tr * 0.5
        FROM walk w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1
    ),
    bounds AS (SELECT user_id, MAX(rn) AS n FROM e GROUP BY user_id)
    SELECT w.user_id, CAST(b.n AS BIGINT) AS n_events,
           w.lv AS level, w.tr AS trend
    FROM walk w JOIN bounds b ON b.user_id = w.user_id AND w.rn = b.n
    """,
)
def q_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear method per user: l_t = (y_t + l_{t-1} + b_{t-1})/2,
    b_t = (l_t - l_{t-1})/2 + b_{t-1}/2, initialized l_1 = y_1,
    b_1 = 0 — EWMA (t12) plus a trend term, the minimal forecasting
    upgrade a monitoring pipeline ships next. One shuffle on user_id,
    per-user sorted array (bounded per key), the two-state fold is a
    single codegen'd ``aggregate`` over a struct accumulator — no
    window, no Python, no pow()."""
    from nsp_bolt_pipeline_spark.functions.expr import bind_once

    ev = read_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("seq"),
    )

    def holt_of(vals: F.Column) -> F.Column:
        def step(acc: F.Column, v: F.Column) -> F.Column:
            lv_new = (v + acc["lv"] + acc["tr"]) * 0.5
            tr_new = (lv_new - acc["lv"]) * 0.5 + acc["tr"] * 0.5
            return F.struct(lv_new.alias("lv"), tr_new.alias("tr"))

        init = F.struct(
            F.element_at(vals, 1).cast("double").alias("lv"),
            F.lit(0.0).alias("tr"),
        )
        return F.aggregate(
            F.slice(vals, 2, F.size(vals) - 1), init, step
        )

    vals = F.transform(F.col("seq"), lambda x: x["value"])
    folded = bind_once(vals, holt_of)
    return per.select(
        "user_id",
        "n_events",
        folded["lv"].alias("level"),
        folded["tr"].alias("trend"),
    )


# ---------------------------------------------------------------------------
# Forecast backtest: hold out each user's LAST event, fit Holt on the
# prefix, score the one-step forecast. Same exact-arithmetic contract
# as t21 (halvings + one add + one subtract, no rounding needed).
# ---------------------------------------------------------------------------


@query(
    "eval_holt_backtest",
    """
    WITH RECURSIVE e AS (
        SELECT user_id, CAST(value AS DOUBLE) AS value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    walk AS (
        SELECT user_id, rn, value AS lv, CAST(0.0 AS DOUBLE) AS tr
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn,
               (e.value + w.lv + w.tr) * 0.5,
               ((e.value + w.lv + w.tr) * 0.5 - w.lv) * 0.5 + w.tr * 0.5
        FROM walk w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1
    ),
    bounds AS (
        SELECT user_id, MAX(rn) AS n FROM e GROUP BY user_id HAVING MAX(rn) >= 2
    )
    SELECT w.user_id, CAST(b.n AS BIGINT) AS n_events,
           w.lv + w.tr AS forecast,
           a.value AS actual,
           ABS((w.lv + w.tr) - a.value) AS abs_err
    FROM bounds b
    JOIN walk w ON w.user_id = b.user_id AND w.rn = b.n - 1
    JOIN e a ON a.user_id = b.user_id AND a.rn = b.n
    """,
)
def q_holt_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward validation of the Holt smoother: fit on each
    user's first n-1 events, forecast step n as level + trend, score
    against the held-out actual — the minimal honesty check before a
    forecast drives paging thresholds. Same single codegen'd struct
    fold as t21, just over the prefix; the forecast, actual, and
    absolute error are bit-portable (halvings and adds only)."""
    from nsp_bolt_pipeline_spark.functions.expr import bind_once

    ev = read_table(spark, sf_dir, "events")
    per = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("seq"),
        )
        .filter(F.col("n_events") >= 2)
    )

    def holt_prefix(vals: F.Column) -> F.Column:
        def step(acc: F.Column, v: F.Column) -> F.Column:
            lv_new = (v + acc["lv"] + acc["tr"]) * 0.5
            tr_new = (lv_new - acc["lv"]) * 0.5 + acc["tr"] * 0.5
            return F.struct(lv_new.alias("lv"), tr_new.alias("tr"))

        init = F.struct(
            F.element_at(vals, 1).cast("double").alias("lv"),
            F.lit(0.0).alias("tr"),
        )
        # fold over elements 2 .. n-1 (hold out the last)
        return F.aggregate(
            F.slice(vals, 2, F.size(vals) - 2), init, step
        )

    vals = F.transform(F.col("seq"), lambda x: x["value"])
    folded = bind_once(vals, holt_prefix)
    forecast = folded["lv"] + folded["tr"]
    actual = F.element_at(vals, -1).cast("double")
    return per.select(
        "user_id",
        "n_events",
        forecast.alias("forecast"),
        actual.alias("actual"),
        F.abs(forecast - actual).alias("abs_err"),
    )
