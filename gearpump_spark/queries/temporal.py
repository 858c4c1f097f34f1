"""Temporal joins, sessionization, analytic window functions, and
semi-structured (JSON) queries over the `events` table.

The reference's users implement all of this imperatively inside Task state
(SURVEY.md §2.E: Task.onNext + HashMap); here each is a declarative plan.
Oracles: DuckDB supports ASOF JOIN, window frames, and JSON natively, so
every query below is hash-checked, including the as-of join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gearpump_spark.datasets import table
from gearpump_spark.functions.exact import dec, dsum, out_double, sql_dec, sql_dsum, sql_out_double
from gearpump_spark.operators.temporal import asof_join, range_join, sessionize
from gearpump_spark.queries import register
from gearpump_spark.queries.dataflow import SESSION_WINDOW_ORACLE


@register(
    "q_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.value,
           s.ts AS ref_ts, s.value AS ref_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'login') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    ORDER BY p.event_id
    """,
    desc="backward as-of join: each purchase matched to the user's latest prior login",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: union/sort/carry-forward — one shuffle on user_id, no row
    explosion (operators/temporal.py asof_join docstring)."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    logins = ev.filter(F.col("event_type") == "login").select("user_id", "ts", "value")
    out = asof_join(
        purchases, logins, key="user_id", right_cols=["value"], suffix="_ref"
    )
    return out.select(
        "event_id", "user_id", "value",
        F.col("ts_ref").alias("ref_ts"), F.col("value_ref").alias("ref_value"),
    ).orderBy("event_id")


@register(
    "q_asof_tolerance_join",
    oracle="""
    WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'click'),
         v AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'view'),
         m AS (
        SELECT c.event_id, c.user_id, c.ts AS c_ts,
               v.ts AS v_ts, v.event_id AS view_event_id
        FROM c ASOF LEFT JOIN v
          ON c.user_id = v.user_id AND c.ts >= v.ts)
    SELECT event_id, user_id,
           CASE WHEN v_ts >= c_ts - INTERVAL 1 HOUR THEN v_ts END AS view_ts,
           CASE WHEN v_ts >= c_ts - INTERVAL 1 HOUR
                THEN CAST(view_event_id AS BIGINT) END AS view_event_id,
           CASE WHEN v_ts >= c_ts - INTERVAL 1 HOUR
                THEN EPOCH_US(c_ts) - EPOCH_US(v_ts) END AS gap_us
    FROM m ORDER BY event_id
    """,
    desc="as-of join WITH tolerance: each click matched to the user's "
    "latest prior view, but only if it happened within the last hour — "
    "the attribution-window variant (pandas merge_asof tolerance=). "
    "Stale matches null out rather than attach",
)
def q_asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same union/sort/carry-forward machinery as q_asof_join
    (operators/temporal.py asof_join): ONE user-keyed shuffle, no join
    operator at all, no row explosion — the 100 TB as-of form. The
    tolerance is a post-window null-out, not a second pass."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        clicks,
        views,
        key="user_id",
        right_cols=["event_id", "value"],
        tolerance="1 HOUR",
        suffix="_v",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ts_v").alias("view_ts"),
        F.col("event_id_v").cast("bigint").alias("view_event_id"),
        (F.unix_micros("ts") - F.unix_micros("ts_v")).alias("gap_us"),
    ).orderBy("event_id")


@register(
    "q_range_join",
    oracle=f"""
    SELECT e.event_id, COUNT(p.event_id) AS n_follow,
           COALESCE({sql_dsum('p.value')}, 0.0) AS follow_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id
     AND p.ts >= e.ts AND p.ts < e.ts + INTERVAL 10 MINUTE
    GROUP BY e.event_id ORDER BY e.event_id
    """,
    desc="event-time range join: purchases within 10 min after each error, per user",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the bucketed formulation in operators/temporal.range_join
    gives the join an equality component; here the plain conditional join
    is used and left-outer aggregated. Sum is decimal-exact."""
    ev = table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"), F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"), F.col("value").alias("p_value"),
    )
    joined = errors.join(
        purchases,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("e_ts"))
        & (F.col("p_ts") < F.col("e_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left",
    )
    return (
        joined.groupBy(F.col("e_id").alias("event_id"))
        .agg(
            F.count("p_id").alias("n_follow"),
            F.coalesce(dsum("p_value"), F.lit(0.0)).alias("follow_value"),
        )
        .orderBy("event_id")
    )


@register(
    "q_sessionize",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
        FROM flagged)
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           {sql_dsum('value')} AS session_value
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    desc="batch sessionization (30-min gap): lag + running sum, one shuffle",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions via operators/temporal.sessionize. The reference rejects
    merging (session) windows outright (GroupByKeyTranslator.java:43-47);
    Spark expresses them in one keyed window pass."""
    ev = table(spark, sf_dir, "events")
    s = sessionize(ev, key="user_id", ts="ts", gap="30 minutes")
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            dsum("value").alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "q_session_window",
    oracle=SESSION_WINDOW_ORACLE,
    desc="native Spark session_window (30-min gap): merging event-time "
    "sessions the reference rejects outright; end = last event + gap",
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same sessions as q_sessionize but via Spark's native session_window
    merging-window operator (one keyed aggregate, streaming-capable with a
    watermark — reference rejects merging windows at
    GroupByKeyTranslator.java:43-47). The oracle reconstructs merge
    semantics gap-wise: an event exactly `gap` after its predecessor
    starts a NEW session (windows touching, not overlapping, don't merge),
    hence `>=` where the lag-based sessionize operator uses `>`.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "q_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           CAST(ROUND(value - LAG(value) OVER w, 4) AS DOUBLE) AS delta_prev,
           LEAD(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
    """,
    desc="lag/lead analytics: per-user value delta and next event type",
)
def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 4).cast("double").alias("delta_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    ).orderBy("event_id")


@register(
    "q_trailing_1h",
    oracle=f"""
    SELECT event_id,
           {sql_out_double(f"SUM({sql_dec('value')}) OVER (PARTITION BY user_id ORDER BY epoch(ts) RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)")}
           AS trailing_1h_value
    FROM events ORDER BY event_id
    """,
    desc="RANGE-frame window: trailing 1-hour per-user value sum",
)
def q_trailing_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range frame over epoch seconds — the incremental sliding-window
    aggregate the reference implements with TreeMap interval math
    (state/impl/WindowState.scala:82-98), as one window spec."""
    ev = table(spark, sf_dir, "events").withColumn(
        "ts_sec", F.unix_micros("ts") / F.lit(1_000_000.0)
    )
    w = (
        Window.partitionBy("user_id").orderBy("ts_sec").rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        out_double(F.sum(dec("value")).over(w)).alias("trailing_1h_value"),
    ).orderBy("event_id")


@register(
    "q_ntile",
    oracle="""
    SELECT bucket, COUNT(*) AS n_cust,
           CAST(ROUND(MIN(c_acctbal), 2) AS DOUBLE) AS lo,
           CAST(ROUND(MAX(c_acctbal), 2) AS DOUBLE) AS hi
    FROM (SELECT c_acctbal,
                 CAST(NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS bucket
          FROM customer)
    GROUP BY bucket ORDER BY bucket
    """,
    desc="ntile quartiles of customer account balance",
)
def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB note: exact NTILE over a global order is inherently a
    single-task sort (every row's bucket depends on the total count), so
    this op is for dimension-sized inputs. At fact-table scale use the
    order-statistic rewrite instead: percentile_approx / approx quantile
    cut-points (sketch_approx_quantiles) + a narrow bucket-assign map —
    same buckets up to sketch error, zero global sort. The plan-audit
    allowlist in tests/test_plan_quality.py pins this trade-off."""
    cust = table(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return (
        cust.select(
            "c_acctbal", F.ntile(4).over(w).cast("bigint").alias("bucket")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.min("c_acctbal"), 2).cast("double").alias("lo"),
            F.round(F.max("c_acctbal"), 2).cast("double").alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "q_quantiles",
    oracle="""
    SELECT l_returnflag,
           CAST(ROUND(quantile_cont(l_quantity, 0.5), 4) AS DOUBLE) AS median_qty,
           CAST(ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS DOUBLE) AS p90_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    desc="exact continuous quantiles (median, p90) per return flag",
)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact `percentile` (continuous interpolation, same definition as
    DuckDB quantile_cont). For 100 TB use approx_percentile — documented
    trade-off; exactness here is what makes the oracle check possible."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).cast("double").alias("median_qty"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).cast("double").alias("p90_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_percentile_bands",
    oracle="""
    WITH r AS (
        SELECT o_orderpriority, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice) - 1 AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders)
    SELECT o_orderpriority,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(MAX(CASE WHEN rn = (n-1) * 25 // 100 THEN o_totalprice END)
                AS DOUBLE) AS p25,
           CAST(MAX(CASE WHEN rn = (n-1) * 50 // 100 THEN o_totalprice END)
                AS DOUBLE) AS p50,
           CAST(MAX(CASE WHEN rn = (n-1) * 75 // 100 THEN o_totalprice END)
                AS DOUBLE) AS p75,
           CAST(MAX(CASE WHEN rn = (n-1) * 90 // 100 THEN o_totalprice END)
                AS DOUBLE) AS p90,
           CAST(MAX(CASE WHEN rn = n - 1 THEN o_totalprice END)
                AS DOUBLE) AS p100
    FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    desc="percentile bands as exact ORDER STATISTICS per group (lower "
    "order statistic at floor((n-1)*p/100) — never interpolated, per the "
    "order-statistics discipline): p25/p50/p75/p90/max of order value by "
    "priority — integer rank selection, so the bands hash-match exactly "
    "(the SLA/spend-band report q_quantiles' interpolated form cannot "
    "hash-pin)",
)
def q_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed rank: the window sort is PARTITIONED by group (never
    a single-partition global sort — the plan-audit rule); one shuffle
    on the group key, then a conditional agg picks the band rows. At
    100 TB, groups parallelize across the cluster and each group's sort
    spills locally."""
    orders = table(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    wp = Window.partitionBy("o_orderpriority")
    r = orders.select(
        "o_orderpriority",
        "o_totalprice",
        (F.row_number().over(wo) - 1).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )

    def band(pct: int, alias: str):
        idx = F.expr(f"((n - 1) * {pct}) DIV 100") if pct < 100 else F.col("n") - 1
        return (
            F.max(F.when(F.col("rn") == idx, F.col("o_totalprice")))
            .cast("double")
            .alias(alias)
        )

    return (
        r.groupBy("o_orderpriority")
        .agg(
            F.max("n").cast("bigint").alias("n_rows"),
            band(25, "p25"),
            band(50, "p50"),
            band(75, "p75"),
            band(90, "p90"),
            band(100, "p100"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_mode_per_group",
    oracle="""
    WITH c AS (
        SELECT l_returnflag, l_quantity, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_quantity),
    r AS (
        SELECT l_returnflag, l_quantity, cnt,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY cnt DESC, l_quantity) AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n_vals
        FROM c)
    SELECT l_returnflag,
           CAST(l_quantity AS DOUBLE) AS mode_qty,
           cnt AS mode_count,
           CAST(n_vals AS BIGINT) AS n_distinct_vals
    FROM r WHERE rn = 1 ORDER BY l_returnflag
    """,
    desc="exact group-wise MODE with deterministic tie-break (highest "
    "count, then smallest value): the most frequent order quantity per "
    "return flag plus its count and the group's distinct-value count — "
    "the aggregate DuckDB ships as mode() re-derived with an explicit "
    "tie rule so both engines hash-match",
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregate: the corpus shuffles ONCE on (group, value) —
    map-side combined — and the mode pick runs a window over the
    value-histogram (bounded: |groups| x |distinct values| rows), never
    over the fact table."""
    li = table(spark, sf_dir, "lineitem")
    c = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").cast("long").alias("cnt")
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("cnt"), "l_quantity")
    wp = Window.partitionBy("l_returnflag")
    return (
        c.select(
            "l_returnflag",
            "l_quantity",
            "cnt",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wp).alias("n_vals"),
        )
        .where(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").cast("double").alias("mode_qty"),
            F.col("cnt").alias("mode_count"),
            F.col("n_vals").cast("bigint").alias("n_distinct_vals"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_json_extract",
    oracle=f"""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
           COUNT(*) AS n,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY k_mod ORDER BY k_mod
    """,
    desc="JSON extraction from the events.props column + aggregate",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            (F.get_json_object("props", "$.k").cast("bigint") % 10).alias("k_mod"),
            "value",
        )
        .groupBy("k_mod")
        .agg(
            F.count("*").alias("n"),
            dsum("value").alias("total_value"),
        )
        .orderBy("k_mod")
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, CAST(ROUND(val, 2) AS DOUBLE) AS val
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
          FROM lineitem WHERE l_orderkey < 100)
    UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
    ORDER BY l_orderkey, l_linenumber, measure
    """,
    desc="unpivot wide measures to (measure, value) long form",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount"],
            "measure", "val",
        )
        .select(
            "l_orderkey", "l_linenumber", "measure",
            F.round("val", 2).cast("double").alias("val"),
        )
        .orderBy("l_orderkey", "l_linenumber", "measure")
    )


@register(
    "q_grouping_sets",
    oracle=f"""
    SELECT n_name, o_orderpriority, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (o_orderpriority), (n_name, o_orderpriority))
    ORDER BY n_name NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    desc="explicit GROUPING SETS over nation x order priority",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets = one shuffle producing all groupings (Spark expands
    to a union of aggregations over the same exchange)."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = F.broadcast(table(spark, sf_dir, "nation"))
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey).join(
        nation, cust.c_nationkey == nation.n_nationkey
    )
    joined.createOrReplaceTempView("__gs_in")
    return joined.sparkSession.sql(
        f"""
        SELECT n_name, o_orderpriority, COUNT(*) AS n_orders,
               {sql_dsum('o_totalprice')} AS total
        FROM __gs_in
        GROUP BY GROUPING SETS ((n_name), (o_orderpriority), (n_name, o_orderpriority))
        ORDER BY n_name NULLS FIRST, o_orderpriority NULLS FIRST
        """
    )


@register(
    "q_funnel_conversion",
    oracle="""
    WITH signups AS (
        SELECT user_id, MIN(ts) AS signup_ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id),
    conv AS (
        SELECT s.user_id, s.signup_ts,
               MAX(CASE WHEN p.ts >= s.signup_ts
                         AND p.ts <= s.signup_ts + INTERVAL 72 HOUR
                        THEN 1 ELSE 0 END) AS converted
        FROM signups s
        LEFT JOIN events p
          ON p.user_id = s.user_id AND p.event_type = 'purchase'
        GROUP BY s.user_id, s.signup_ts)
    SELECT CAST(CAST(signup_ts AS DATE) AS TIMESTAMP) AS signup_day,
           COUNT(*) AS n_signups,
           CAST(SUM(converted) AS BIGINT) AS n_converted
    FROM conv GROUP BY 1 ORDER BY signup_day
    """,
    desc="funnel analysis: signup → purchase within 72h, conversion by cohort day",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence funnel. Scale: both sides shuffle once on user_id
    (the natural key); the purchase side is pre-filtered at the scan, and
    per-user state is a single (signup_ts, flag) pair."""
    ev = table(spark, sf_dir, "events")
    signups = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    converted = F.max(
        F.when(
            (F.col("ts") >= F.col("signup_ts"))
            & (F.col("ts") <= F.col("signup_ts") + F.expr("INTERVAL 72 HOURS")),
            1,
        ).otherwise(0)
    ).alias("converted")
    conv = (
        signups.join(purchases, "user_id", "left")
        .groupBy("user_id", "signup_ts")
        .agg(converted)
    )
    return (
        conv.groupBy(F.to_date("signup_ts").cast("timestamp").alias("signup_day"))
        .agg(
            F.count("*").alias("n_signups"),
            F.sum("converted").cast("bigint").alias("n_converted"),
        )
        .orderBy("signup_day")
    )


@register(
    "q_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id),
    activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
    SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
           COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN a7.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_day7
    FROM firsts f
    LEFT JOIN activity a7
      ON a7.user_id = f.user_id AND a7.day = f.cohort_day + INTERVAL 7 DAY
    GROUP BY f.cohort_day ORDER BY cohort_day
    """,
    desc="cohort retention: users first active on day D still active on D+7",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: activity dedups to (user, day) before the join — the join
    input is bounded by users x active-days, not raw events."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = ev.distinct()
    a7 = activity.select("user_id", F.col("day").alias("a_day"))
    joined = firsts.join(
        a7,
        (a7.user_id == firsts.user_id)
        & (F.col("a_day") == F.date_add(F.col("cohort_day"), 7)),
        "left",
    )
    return (
        joined.groupBy(F.col("cohort_day").cast("timestamp").alias("cohort_day"))
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.when(F.col("a_day").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_day7"),
        )
        .orderBy("cohort_day")
    )


@register(
    "q_latest_by_key",
    oracle="""
    SELECT user_id, event_id, ts, event_type FROM (
        SELECT user_id, event_id, ts, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
    WHERE rn = 1 ORDER BY user_id
    """,
    desc="log compaction / upsert view: latest event per user via max_by — "
    "one partial-agg pass, no window sort",
)
def q_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gearpump_spark.operators.temporal import latest_by_key

    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    return latest_by_key(ev, ["user_id"], "ts", "event_id").orderBy("user_id")


@register(
    "q_window_topk_trending",
    oracle="""
    WITH w AS (
        SELECT MAKE_TIMESTAMP(CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP)) / 600) * 600 AS BIGINT)
                 * 1000000) AS window_start,
               event_type, COUNT(*) AS n
        FROM events GROUP BY 1, event_type),
    r AS (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY window_start ORDER BY n DESC, event_type) AS rn
          FROM w)
    SELECT window_start, event_type, n, CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 2 ORDER BY window_start, rank
    """,
    desc="trending: top-2 event types per 10-minute tumbling window "
    "(windowed count + per-window rank, deterministic tie-break)",
)
def q_window_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed heavy-hitter ranking — the batch shape of a streaming
    trending-topics board. One shuffle on (window, type) with map-side
    combine; the rank window re-shuffles only the per-window aggregate
    rows (O(windows × types), not O(events))."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    rk = W.partitionBy("window_start").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rank", F.row_number().over(rk).cast("long"))
        .where(F.col("rank") <= 2)
        .orderBy("window_start", "rank")
    )


@register(
    "q_upsert_merge",
    oracle="""
    WITH ups AS (
        SELECT c_custkey AS k, c_acctbal + 100.0 AS bal, 'update' AS op
        FROM customer WHERE c_custkey % 10 < 3
        UNION ALL
        SELECT c_custkey + 10000000 AS k, 0.0 AS bal, 'insert' AS op
        FROM customer WHERE c_custkey % 10 = 7)
    SELECT COALESCE(u.k, c.c_custkey) AS c_custkey,
           COALESCE(u.bal, c.c_acctbal) AS acctbal,
           COALESCE(u.op, 'keep') AS op
    FROM customer c FULL OUTER JOIN ups u ON u.k = c.c_custkey
    ORDER BY c_custkey
    """,
    desc="MERGE INTO analog: deterministic update/insert batch applied to "
    "the customer snapshot via full-outer join + coalesce (updates win, "
    "inserts append, untouched rows keep)",
)
def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch upsert shape of an incremental pipeline. Scale: one
    keyed full-outer join (sort-merge — Spark cannot broadcast a full
    outer side), i.e. one shuffle of each input on the merge key. When
    the update batch is small relative to the snapshot, prefer splitting
    into a left-anti (inserts) + broadcast inner join (updates) so the
    snapshot never re-shuffles; the single full-outer form is the
    general-case semantics the oracle pins."""
    cust = table(spark, sf_dir, "customer")
    updates = cust.where(F.col("c_custkey") % 10 < 3).select(
        F.col("c_custkey").alias("k"),
        (F.col("c_acctbal") + F.lit(100.0)).alias("bal"),
        F.lit("update").alias("op"),
    )
    inserts = cust.where(F.col("c_custkey") % 10 == 7).select(
        (F.col("c_custkey") + F.lit(10000000)).alias("k"),
        F.lit(0.0).alias("bal"),
        F.lit("insert").alias("op"),
    )
    ups = updates.unionAll(inserts)
    return (
        cust.join(ups, ups.k == cust.c_custkey, "full_outer")
        .select(
            F.coalesce(ups.k, cust.c_custkey).alias("c_custkey"),
            F.coalesce(ups.bal, cust.c_acctbal).alias("acctbal"),
            F.coalesce(ups.op, F.lit("keep")).alias("op"),
        )
        .orderBy("c_custkey")
    )


@register(
    "q_merge_into",
    oracle="""
    WITH ups AS (
        SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, c_mktsegment,
               'U' AS op
        FROM customer WHERE c_custkey % 10 < 3
        UNION ALL
        SELECT c_custkey, c_acctbal, c_mktsegment, 'D' AS op
        FROM customer WHERE c_custkey % 10 = 5
        UNION ALL
        SELECT c_custkey + 10000000 AS c_custkey, 0.0 AS c_acctbal,
               'BUILDING' AS c_mktsegment, 'N' AS op
        FROM customer WHERE c_custkey % 10 = 7)
    SELECT COALESCE(s.c_custkey, u.c_custkey) AS c_custkey,
           CASE WHEN s.c_custkey IS NULL THEN u.c_acctbal
                WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal
                ELSE s.c_acctbal END AS c_acctbal,
           CASE WHEN s.c_custkey IS NULL THEN u.c_mktsegment
                ELSE s.c_mktsegment END AS c_mktsegment
    FROM customer s FULL OUTER JOIN ups u ON s.c_custkey = u.c_custkey
    WHERE NOT (s.c_custkey IS NOT NULL AND u.c_custkey IS NOT NULL
               AND u.op = 'D')
    ORDER BY c_custkey
    """,
    desc="full Delta-style MERGE INTO (three clauses): WHEN MATCHED AND "
    "op='D' THEN DELETE, WHEN MATCHED THEN UPDATE SET acctbal, WHEN NOT "
    "MATCHED THEN INSERT * — one full-outer join + CASE projection, "
    "output schema == snapshot schema so the result writes back "
    "partitionwise; extends q_upsert_merge (update/insert only) with "
    "the delete clause",
)
def q_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The general lakehouse merge shape (operators/physical.py
    merge_into). Scale: one shuffle per side on the merge key; deletes
    and updates never rewrite untouched partitions' rows."""
    from gearpump_spark.operators.physical import merge_into

    snap = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    base = table(spark, sf_dir, "customer")
    ups = (
        base.where(F.col("c_custkey") % 10 < 3)
        .select(
            "c_custkey",
            (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
            "c_mktsegment",
            F.lit("U").alias("op"),
        )
        .unionAll(
            base.where(F.col("c_custkey") % 10 == 5).select(
                "c_custkey", "c_acctbal", "c_mktsegment", F.lit("D").alias("op")
            )
        )
        .unionAll(
            base.where(F.col("c_custkey") % 10 == 7).select(
                (F.col("c_custkey") + F.lit(10000000)).alias("c_custkey"),
                F.lit(0.0).alias("c_acctbal"),
                F.lit("BUILDING").alias("c_mktsegment"),
                F.lit("N").alias("op"),
            )
        )
    )
    merged = merge_into(
        snap,
        ups,
        "c_custkey",
        update_set={"c_acctbal": F.col("u.c_acctbal")},
        delete_condition=F.col("u.op") == "D",
    )
    return merged.orderBy("c_custkey")


@register(
    "q_corr_qty_price",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               {sql_dsum('l_quantity')} AS sx,
               {sql_dsum('l_extendedprice')} AS sy,
               CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4)))) AS DOUBLE) AS sxx,
               CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)))) AS DOUBLE) AS syy,
               CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)))) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           (n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) AS corr
    FROM s ORDER BY l_returnflag
    """,
    desc="Pearson correlation (quantity vs extended price) per return flag "
    "— moments as exact decimal sums, final formula in IEEE doubles with "
    "correctly-rounded sqrt, so both engines agree bitwise (built-in corr() "
    "would sum doubles in partition order and diverge)",
)
def q_corr_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One partial-aggregate pass computes all five moments (map-side
    combined — decimal sums are associative); correlation itself is
    O(groups) driver-free arithmetic."""
    li = table(spark, sf_dir, "lineitem")
    x = dec("l_quantity")
    y = dec("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        dsum("l_quantity").alias("sx"),
        dsum("l_extendedprice").alias("sy"),
        # FLOOR, not a scale-0 decimal cast: Spark's downcast rounds
        # HALF_UP while DuckDB's truncates — floor is identical on both
        # (moments are positive) and keeps the unscaled value < 2^53
        F.floor(F.sum(x * x)).cast("double").alias("sxx"),
        F.floor(F.sum(y * y)).cast("double").alias("syy"),
        F.floor(F.sum(x * y)).cast("double").alias("sxy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "l_returnflag", F.col("n").cast("long").alias("n_rows"), corr.alias("corr")
    ).orderBy("l_returnflag")


@register(
    "q_user_value_outliers",
    oracle=f"""
    WITH m AS (
        SELECT user_id,
               CAST(COUNT(*) AS DOUBLE) AS n,
               {sql_dsum('value')} AS sx,
               CAST(FLOOR(SUM(CAST(value AS DECIMAL(19,4)) * CAST(value AS DECIMAL(19,4)))) AS DOUBLE) AS sxx
        FROM events GROUP BY user_id HAVING COUNT(*) >= 5),
    s AS (
        SELECT user_id, n, sx / n AS mean,
               SQRT((n * sxx - sx * sx) / (n * n)) AS std
        FROM m)
    SELECT e.event_id, e.user_id, e.value, s.mean, s.std
    FROM events e JOIN s USING (user_id)
    WHERE ABS(e.value - s.mean) > 3.0 * s.std
    ORDER BY e.event_id
    """,
    desc="per-user anomaly screen: events deviating > 3 sigma from the "
    "user's own mean (decimal-exact moments -> IEEE formula, same "
    "determinism discipline as q_corr_qty_price; users with < 5 events "
    "have no stable baseline and are skipped)",
)
def q_user_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moments aggregate map-side (one shuffle on user_id); the
    flag join re-shuffles events on the same key — co-partitioned with
    the aggregate, no second wide stage on a real cluster."""
    ev = table(spark, sf_dir, "events")
    x = dec("value")
    m = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").cast("double").alias("n"),
            dsum("value").alias("sx"),
            F.floor(F.sum(x * x)).cast("double").alias("sxx"),
        )
        .where(F.col("n") >= 5)
    )
    s = m.select(
        "user_id",
        "n",
        (F.col("sx") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            / (F.col("n") * F.col("n"))
        ).alias("std"),
    )
    return (
        ev.join(s, "user_id")
        .where(F.abs(F.col("value") - F.col("mean")) > F.lit(3.0) * F.col("std"))
        .select("event_id", "user_id", "value", "mean", "std")
        .orderBy("event_id")
    )


@register(
    "q_scd2_history",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN event_type IS DISTINCT FROM LAG(event_type) OVER w
                    THEN 1 ELSE 0 END AS chg
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    runs AS (
        SELECT user_id, event_type, ts,
               SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS version
        FROM marked),
    versions AS (
        SELECT user_id, version, MIN(event_type) AS event_type,
               MIN(ts) AS valid_from, COUNT(*) AS n_events
        FROM runs GROUP BY user_id, version)
    SELECT user_id, event_type, CAST(version AS BIGINT) AS version, valid_from,
           LEAD(valid_from) OVER wv AS valid_to,
           LEAD(valid_from) OVER wv IS NULL AS is_current,
           n_events
    FROM versions WINDOW wv AS (PARTITION BY user_id ORDER BY version)
    ORDER BY user_id, version
    """,
    desc="SCD Type-2 dimension history (warehouse staple the reference's "
    "latest-value-only NonWindowState cannot express): change-point lag + "
    "run numbering + lead close-out build every (key, state) validity "
    "interval in ONE keyed shuffle — no self-join, no MERGE loop",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/temporal.py scd2_history over events: key=user_id,
    tracked attribute=event_type, total event_id tiebreak makes the
    version numbering re-run deterministic."""
    from gearpump_spark.operators.temporal import scd2_history

    ev = table(spark, sf_dir, "events")
    return scd2_history(
        ev,
        key_cols=["user_id"],
        attr_cols=["event_type"],
        ts_col="ts",
        tiebreak="event_id",
    ).select(
        "user_id",
        "event_type",
        F.col("version").cast("bigint").alias("version"),
        "valid_from",
        "valid_to",
        "is_current",
        "n_events",
    ).orderBy("user_id", "version")


@register(
    "q_ohlc_downsample",
    oracle="""
    WITH r AS (
        SELECT DATE_TRUNC('hour', ts) AS bucket, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY DATE_TRUNC('hour', ts), event_type
                                  ORDER BY ts, event_id) AS r_asc,
               ROW_NUMBER() OVER (PARTITION BY DATE_TRUNC('hour', ts), event_type
                                  ORDER BY ts DESC, event_id DESC) AS r_desc
        FROM events)
    SELECT bucket, event_type,
           MAX(CASE WHEN r_asc = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN r_desc = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM r GROUP BY bucket, event_type
    ORDER BY bucket, event_type
    """,
    desc="OHLC time-series downsampling (candlestick rollup): per "
    "(hour, event_type) the first/max/min/last value with total "
    "(ts, event_id) tie-breaks — the continuous-aggregate shape "
    "timeseries stores precompute; open/close picked by deterministic "
    "rank, never engine-dependent first()/last()",
)
def q_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle: the rank window and the rollup share the same
    (bucket, event_type) partitioning, so Catalyst reuses the exchange;
    at 100 TB this is the classic pre-aggregation that turns a raw tick
    stream into queryable candles (hierarchical rollups compose by
    re-running over the candle table)."""
    ev = table(spark, sf_dir, "events")
    b = F.date_trunc("hour", F.col("ts")).alias("bucket")
    base = ev.select(b, "event_type", "value", "ts", "event_id")
    wp = Window.partitionBy("bucket", "event_type")
    r = base.select(
        "*",
        F.row_number().over(wp.orderBy("ts", "event_id")).alias("r_asc"),
        F.row_number()
        .over(wp.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("r_desc"),
    )
    return (
        r.groupBy("bucket", "event_type")
        .agg(
            F.max(F.when(F.col("r_asc") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("r_desc") == 1, F.col("value"))).alias("close"),
            F.count("*").cast("long").alias("n"),
        )
        .orderBy("bucket", "event_type")
    )


@register(
    "q_gap_detection",
    oracle="""
    WITH o AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events)
    SELECT user_id, prev_ts AS gap_start, ts AS gap_end,
           CAST(DATE_DIFF('millisecond', prev_ts, ts) AS BIGINT) AS gap_ms
    FROM o
    WHERE prev_ts IS NOT NULL
      AND DATE_DIFF('millisecond', prev_ts, ts) > 3600000
    ORDER BY user_id, gap_start
    """,
    desc="event-gap / outage detection: per-user silences longer than "
    "one hour via a single lag window — the monitoring primitive that "
    "finds dead sensors, churned sessions, and ingest outages; one "
    "keyed shuffle, gaps reported with exact millisecond durations",
)
def q_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on user_id; at 100 TB the lag window is the minimal
    formulation (a self-join formulation would double the scan)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select("user_id", "ts", F.lag("ts").over(w).alias("prev_ts"))
    # DATE_DIFF('millisecond', a, b) counts ms-boundary crossings —
    # truncate EACH timestamp to ms before subtracting (double seconds
    # math was off by one when sub-ms parts straddled a boundary)
    ms = lambda c: F.floor(F.unix_micros(c) / 1000)  # noqa: E731
    gap_ms = (ms(F.col("ts")) - ms(F.col("prev_ts"))).cast("long")
    return (
        o.where(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            F.col("prev_ts").alias("gap_start"),
            F.col("ts").alias("gap_end"),
            gap_ms.alias("gap_ms"),
        )
        .where(F.col("gap_ms") > 3_600_000)
        .orderBy("user_id", "gap_start")
    )


@register(
    "q_first_touch_attribution",
    oracle=f"""
    WITH firsts AS (
        SELECT user_id, event_type AS first_touch, ts AS first_ts
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS rn
              FROM events) WHERE rn = 1),
    purchases AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(38, 6))), 2)
                    AS DECIMAL(38, 2)) AS revenue
        FROM events WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT f.first_touch,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(COALESCE(p.n_purchases, 0)) AS BIGINT) AS n_purchases,
           {sql_out_double("SUM(COALESCE(p.revenue, 0))")} AS revenue
    FROM firsts f LEFT JOIN purchases p USING (user_id)
    GROUP BY f.first_touch ORDER BY f.first_touch
    """,
    desc="first-touch attribution: each user's FIRST event type claims "
    "their purchase count and revenue — the marketing-attribution "
    "rollup (dual of the as-of join's latest-prior semantics); revenue "
    "summed in decimal so partial-agg order can't change the cents",
)
def q_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two aggs sharing the user_id shuffle + one broadcast-size join on
    the per-user rollups; the raw event table is never self-joined."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        ev.select(
            "user_id",
            F.col("event_type").alias("first_touch"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.round(F.sum(F.col("value").cast("decimal(38,6)")), 2).alias(
                "revenue"
            ),
        )
    )
    return (
        firsts.join(purchases, "user_id", "left")
        .groupBy("first_touch")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum(F.coalesce(F.col("n_purchases"), F.lit(0)))
            .cast("long")
            .alias("n_purchases"),
            out_double(
                F.round(F.sum(F.coalesce(F.col("revenue"), F.lit(0).cast("decimal(38,2)"))), 2)
            ).alias("revenue"),
        )
        .orderBy("first_touch")
    )


@register(
    "q_moving_zscore",
    oracle="""
    WITH f AS (
        SELECT event_id, event_type, ts, value,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               SUM(CAST(value AS DECIMAL(18,6))) OVER w AS s,
               SUM(CAST(value AS DECIMAL(18,6))
                   * CAST(value AS DECIMAL(18,6))) OVER w AS s2
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 99 PRECEDING AND 1 PRECEDING)),
    z AS (
        SELECT event_id, event_type, value, n,
               CASE WHEN n >= 30 AND
                         CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) > 0
                    THEN ROUND((CAST(n AS DOUBLE) * value - CAST(s AS DOUBLE))
                         / SQRT(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 6)
                         + 0.0
                    ELSE NULL END AS z
        FROM f)
    SELECT event_id, event_type, value, n, z,
           COALESCE(ABS(z) > 3.0, FALSE) AS anomaly
    FROM z ORDER BY event_id
    """,
    desc="trailing-window z-score anomaly flags: each value scored "
    "against the previous 100 same-type events' EXACT decimal moments "
    "(n*s2 - s^2 computed in decimal, so partial-sum order can't move "
    "the variance); z = (n*x - s)/sqrt(n*s2 - s^2), the population "
    "(x - mean)/std rearranged to ONE division and one "
    "correctly-rounded sqrt, the result ROUND(z, 6) — found by the r8 "
    "full-registry sf1 gate: DuckDB's decimal->double cast double-rounds "
    "(int128 to double, then /10^scale) where Spark's BigDecimal cast "
    "rounds once, so a RAW double z diverged by 1 ULP on 354 of 1M rows "
    "— the rounded-term discipline applies to every surfaced float, not "
    "just sums; warm-up (< 30 prior events) yields NULL, never a "
    "cold-start false alarm",
)
def q_moving_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One keyed shuffle (the event_type window); the frame excludes the
    current row so an outlier can't mask itself. The reference's users
    hand-roll this in Task state; here it is one window spec with
    decimal-exact moments."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-99, -1)
    )
    d6 = F.col("value").cast("decimal(18,6)")
    f = ev.select(
        "event_id",
        "event_type",
        "value",
        F.count("*").over(w).cast("long").alias("n"),
        F.sum(d6).over(w).alias("s"),
        F.sum(d6 * d6).over(w).alias("s2"),
    )
    n, s, s2 = (
        F.col("n").cast("double"),
        F.col("s").cast("double"),
        F.col("s2").cast("double"),
    )
    disc = n * s2 - s * s
    # ROUND(z, 6): the raw double diverged 1 ULP on ~0.03% of rows at sf1
    # because DuckDB's decimal->double cast double-rounds while Spark's
    # rounds once (r8 gate find) — surfaced floats are always rounded.
    # + 0.0 normalizes IEEE negative zero: DuckDB ROUND keeps -0.0 where
    # Spark's returns +0.0 — repr-level hash divergence on any z that
    # rounds to zero from below (one row in a million at sf1).
    z = F.when(
        (F.col("n") >= 30) & (disc > 0),
        F.round((n * F.col("value") - s) / F.sqrt(disc), 6) + F.lit(0.0),
    ).otherwise(F.lit(None).cast("double"))
    out = f.select("event_id", "event_type", "value", "n", z.alias("z"))
    return out.select(
        "*", F.coalesce(F.abs(F.col("z")) > 3.0, F.lit(False)).alias("anomaly")
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# r5 additions: EWMA smoothing, gap interpolation, robust (MAD) outliers
# ---------------------------------------------------------------------------

# EWMA weights as INTEGER literals (alpha=0.3, decay 0.7, scale 1e6,
# 20 taps): w_i = round(0.3 * 0.7^i * 1e6). The recursive EWMA definition
# s_t = a*x_t + (1-a)*s_{t-1} is a sequential fixpoint no engine can
# hash-check; the truncated direct form sum(w_i * x_{t-i}) / sum(w_i) is
# ONE window pass, and integer weights x decimal values keep both engines
# bit-identical (float pow() is not correctly rounded across libms).
_EWMA_W = [round(0.3 * 0.7**i * 1e6) for i in range(20)]


@register(
    "q_ewma_smooth",
    oracle=f"""
    WITH lagged AS (
        SELECT event_id, event_type, ts, value,
               {", ".join(
                   f"LAG(value, {i}) OVER w AS x{i}" for i in range(1, 20)
               )}
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
    acc AS (
        SELECT event_id, event_type, value,
               CAST(value AS DECIMAL(18,6)) * {_EWMA_W[0]}
               {" ".join(
                   f"+ COALESCE(CAST(x{i} AS DECIMAL(18,6)) * {w}, 0)"
                   for i, w in enumerate(_EWMA_W) if i > 0
               )} AS s,
               {_EWMA_W[0]}
               {" ".join(
                   f"+ CASE WHEN x{i} IS NULL THEN 0 ELSE {w} END"
                   for i, w in enumerate(_EWMA_W) if i > 0
               )} AS wsum
        FROM lagged)
    SELECT event_id, event_type, value,
           CAST(s AS DOUBLE) / CAST(wsum AS DOUBLE) AS ewma
    FROM acc ORDER BY event_id
    """,
    desc="EWMA smoothing (alpha=0.3, 20-tap truncated direct form): "
    "per-type trailing exponential average with INTEGER weight literals "
    "times decimal values — the sequential recursion re-expressed as one "
    "window pass, exact on both engines (no float pow in the hot path)",
)
def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One keyed shuffle (the per-type window); the 20 LAG taps share a
    single window spec so Spark evaluates them in one pass over each
    partition. At 100 TB the window state per task is 20 doubles per
    group — constant, no buffering of the full partition."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_id",
        "event_type",
        "value",
        *[F.lag("value", i).over(w).alias(f"x{i}") for i in range(1, 20)],
    )
    d6 = lambda c: c.cast("decimal(18,6)")  # noqa: E731
    s = d6(F.col("value")) * F.lit(_EWMA_W[0])
    wsum = F.lit(_EWMA_W[0])
    for i, wt in enumerate(_EWMA_W):
        if i == 0:
            continue
        x = F.col(f"x{i}")
        s = s + F.coalesce(d6(x) * F.lit(wt), F.lit(0).cast("decimal(18,6)"))
        wsum = wsum + F.when(x.isNull(), F.lit(0)).otherwise(F.lit(wt))
    return lagged.select(
        "event_id",
        "event_type",
        "value",
        (s.cast("double") / wsum.cast("double")).alias("ewma"),
    ).orderBy("event_id")


@register(
    "q_interp_gapfill",
    oracle="""
    WITH seq AS (
        SELECT event_id, user_id, ts, value,
               LEAD(ts)    OVER w AS t1,
               LEAD(value) OVER w AS v1
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    gaps AS (
        SELECT * FROM seq
        WHERE t1 IS NOT NULL AND t1 - ts > INTERVAL 6 HOUR),
    filled AS (
        SELECT g.user_id, f.fill_ts,
               g.value + (g.v1 - g.value)
                 * (CAST(epoch_us(f.fill_ts) - epoch_us(g.ts) AS DOUBLE)
                    / CAST(epoch_us(g.t1) - epoch_us(g.ts) AS DOUBLE))
                 AS v_interp
        FROM gaps g,
             UNNEST(generate_series(g.ts + INTERVAL 6 HOUR,
                                    g.t1 - INTERVAL 1 MICROSECOND,
                                    INTERVAL 6 HOUR)) AS f(fill_ts))
    SELECT user_id, fill_ts, v_interp
    FROM filled ORDER BY user_id, fill_ts
    """,
    desc="time-series gap fill with linear interpolation: per-user gaps "
    "longer than 6h get synthetic points every 6h, value interpolated "
    "along the segment — the standard resample-and-interpolate step "
    "before any fixed-grid modeling; interpolation fraction is a single "
    "IEEE division over exact epoch-microsecond integers",
)
def q_interp_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One keyed shuffle (per-user window) + a narrow explode; the fill
    generator is sequence() over the gap only, so output is proportional
    to MISSING time, never to the grid span x users."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lead("ts").over(w).alias("t1"),
        F.lead("value").over(w).alias("v1"),
    )
    gaps = seq.where(
        F.col("t1").isNotNull()
        & (F.col("t1") > F.col("ts") + F.expr("INTERVAL 6 HOURS"))
    )
    filled = gaps.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("ts") + F.expr("INTERVAL 6 HOURS"),
                F.col("t1") - F.expr("INTERVAL 1 MICROSECOND"),
                F.expr("INTERVAL 6 HOURS"),
            )
        ).alias("fill_ts"),
        "ts",
        "t1",
        "value",
        "v1",
    )
    frac = (
        (F.unix_micros("fill_ts") - F.unix_micros("ts")).cast("double")
        / (F.unix_micros("t1") - F.unix_micros("ts")).cast("double")
    )
    return filled.select(
        "user_id",
        "fill_ts",
        (F.col("value") + (F.col("v1") - F.col("value")) * frac).alias("v_interp"),
    ).orderBy("user_id", "fill_ts")


@register(
    "q_mad_outliers",
    oracle="""
    WITH ranked AS (
        SELECT event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events),
    med AS (  -- med2 = SUM of the two middle values (2x the median;
              -- sum, not avg, so no engine-specific decimal division)
        SELECT event_type,
               SUM(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2)
                        THEN CAST(value AS DECIMAL(18,6)) ELSE 0 END)
                 * (CASE WHEN (n + 1) // 2 = (n + 2) // 2 THEN 2 ELSE 1 END)
                 AS med2
        FROM ranked GROUP BY event_type, n),
    dev AS (
        SELECT r.event_id, r.event_type, r.value, m.med2,
               ABS(2 * CAST(r.value AS DECIMAL(18,6)) - m.med2) AS d,
               ROW_NUMBER() OVER (PARTITION BY r.event_type
                   ORDER BY ABS(2 * CAST(r.value AS DECIMAL(18,6)) - m.med2),
                            r.event_id) AS rn,
               COUNT(*) OVER (PARTITION BY r.event_type) AS n
        FROM ranked r JOIN med m USING (event_type)),
    mad AS (  -- md4 = sum of two middle doubled-deviations = 4x the MAD
        SELECT event_type,
               SUM(CASE WHEN rn IN ((n + 1) // 2, (n + 2) // 2)
                        THEN d ELSE 0 END)
                 * (CASE WHEN (n + 1) // 2 = (n + 2) // 2 THEN 2 ELSE 1 END)
                 AS md4
        FROM dev GROUP BY event_type, n)
    SELECT d.event_id, d.event_type, d.value,
           CAST(d.med2 AS DOUBLE) * 0.5 AS median,
           CAST(a.md4 AS DOUBLE) * 0.25 AS mad,
           CASE WHEN a.md4 > 0 THEN
               (2 * d.value - CAST(d.med2 AS DOUBLE))
               / (1.4826 * (CAST(a.md4 AS DOUBLE) * 0.5))
           END AS robust_z
    FROM dev d JOIN mad a USING (event_type)
    ORDER BY event_id
    """,
    desc="robust outlier scores via exact median + MAD: medians computed "
    "as the SUM of the two middle rows (doubled median — avoids any "
    "engine-specific decimal division), robust_z = (x - med) / "
    "(1.4826 * MAD); immune to the mean/std masking that plain z-scores "
    "suffer under heavy tails",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two keyed window passes (rank by value, rank by deviation) + two
    tiny per-type aggregates broadcast back — the exact-median analog of
    q_user_value_outliers' mean/std screen. Group cardinality is the
    event-type count, so the agg side always broadcasts."""
    ev = table(spark, sf_dir, "events")
    d6 = lambda c: c.cast("decimal(18,6)")  # noqa: E731

    def two_middle_sum(df: DataFrame, val_col, order_extra: str, out: str) -> DataFrame:
        """SUM of the two middle rows of val_col per event_type (rank by
        (val_col, order_extra)); for odd n the single middle is doubled."""
        w = Window.partitionBy("event_type").orderBy(val_col, order_extra)
        wn = Window.partitionBy("event_type")
        ranked = df.select(
            "*",
            F.row_number().over(w).cast("long").alias("_rn"),
            F.count("*").over(wn).alias("_n"),
        )
        lo = F.floor((F.col("_n") + 1) / 2)
        hi = F.floor((F.col("_n") + 2) / 2)
        return ranked.groupBy("event_type", "_n").agg(
            (
                F.sum(
                    F.when((F.col("_rn") == lo) | (F.col("_rn") == hi), val_col).otherwise(
                        F.lit(0).cast("decimal(18,6)")
                    )
                )
                * F.when(lo == hi, F.lit(2)).otherwise(F.lit(1))
            ).alias(out)
        ).select("event_type", out)

    base = ev.select("event_id", "event_type", F.col("value"))
    med = two_middle_sum(
        base.withColumn("_v", d6(F.col("value"))), F.col("_v"), "event_id", "med2"
    )
    dev = base.join(F.broadcast(med), "event_type").withColumn(
        "_d", F.abs(F.lit(2) * d6(F.col("value")) - F.col("med2"))
    )
    mad = two_middle_sum(dev, F.col("_d"), "event_id", "md4")
    out = dev.join(F.broadcast(mad), "event_type")
    med_d = F.col("med2").cast("double")
    mad_d = F.col("md4").cast("double")
    return out.select(
        "event_id",
        "event_type",
        "value",
        (med_d * 0.5).alias("median"),
        (mad_d * 0.25).alias("mad"),
        F.when(
            F.col("md4") > 0,
            (F.lit(2) * F.col("value") - med_d) / (F.lit(1.4826) * (mad_d * 0.5)),
        ).alias("robust_z"),
    ).orderBy("event_id")


@register(
    "q_winsorize",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events),
    bounds AS (
        SELECT event_type,
               MIN(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.01 * n) AS BIGINT))
                        THEN value END) AS lo,
               MIN(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT)
                        THEN value END) AS hi
        FROM ranked GROUP BY event_type, n)
    SELECT r.event_type,
           CAST(MAX(r.n) AS BIGINT) AS n,
           MAX(b.lo) AS lo, MAX(b.hi) AS hi,
           CAST(SUM(CASE WHEN r.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_lo,
           CAST(SUM(CASE WHEN r.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_hi,
           {sql_out_double(f"SUM({sql_dec('LEAST(GREATEST(r.value, b.lo), b.hi)', 6)})")}
             AS winsorized_sum
    FROM ranked r JOIN bounds b USING (event_type)
    GROUP BY r.event_type ORDER BY r.event_type
    """,
    desc="winsorization at exact p01/p99 ORDER STATISTICS (rank "
    "ceil(q*n), no interpolation — engine-independent): per-type clip "
    "bounds, clipped-row counts, and the decimal-exact winsorized sum — "
    "the robust-preprocessing twin of q_mad_outliers (tame the tails "
    "instead of flagging them)",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One keyed window (rank by value) + a per-type bounds aggregate
    broadcast back. Order-statistic bounds, not percentile_cont: the
    interpolated form differs across engines, the k-th order stat never
    does."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        "event_id",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    k_lo = F.greatest(F.lit(1).cast("bigint"), F.ceil(F.lit(0.01) * F.col("n")))
    k_hi = F.ceil(F.lit(0.99) * F.col("n"))
    bounds = ranked.groupBy("event_type", "n").agg(
        F.min(F.when(F.col("rn") == k_lo, F.col("value"))).alias("lo"),
        F.min(F.when(F.col("rn") == k_hi, F.col("value"))).alias("hi"),
    ).select("event_type", "lo", "hi")
    j = ranked.join(F.broadcast(bounds), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        j.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
            F.sum((F.col("value") < F.col("lo")).cast("long"))
            .cast("bigint")
            .alias("n_clipped_lo"),
            F.sum((F.col("value") > F.col("hi")).cast("long"))
            .cast("bigint")
            .alias("n_clipped_hi"),
            out_double(F.sum(dec(clipped, 6))).alias("winsorized_sum"),
        )
        .orderBy("event_type")
    )


@register(
    "q_running_distinct",
    oracle="""
    WITH firsts AS (
        SELECT user_id, DATE_TRUNC('day', ts) AS d,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    daily AS (
        SELECT d, COUNT(*) AS new_users
        FROM firsts WHERE rn = 1 GROUP BY d),
    days AS (
        SELECT DATE_TRUNC('day', ts) AS d, COUNT(*) AS n_events
        FROM events GROUP BY d)
    SELECT days.d AS day,
           CAST(days.n_events AS BIGINT) AS n_events,
           CAST(COALESCE(daily.new_users, 0) AS BIGINT) AS new_users,
           CAST(SUM(COALESCE(daily.new_users, 0))
                OVER (ORDER BY days.d) AS BIGINT) AS cume_distinct_users
    FROM days LEFT JOIN daily ON daily.d = days.d
    ORDER BY day
    """,
    desc="running distinct-user count per day via the first-seen-flag "
    "rewrite: windows cannot COUNT(DISTINCT), so each user's first event "
    "becomes a +1 and a cumulative sum does the rest — the standard "
    "growth-accounting query, one user-keyed window + one day aggregate",
)
def q_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two shuffles (user window, day agg) + a days-sized running sum.
    The first-seen rewrite is THE scalable form: a naive per-day
    COUNT(DISTINCT user) over a growing prefix re-scans the whole
    history per day; this sees each event once."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        ev.select("user_id", "ts", "event_id", F.date_trunc("DAY", "ts").alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("d")
        .agg(F.count("*").alias("new_users"))
    )
    days = ev.groupBy(F.date_trunc("DAY", "ts").alias("d")).agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    wd = Window.orderBy("d")
    return (
        days.join(firsts, "d", "left")
        .select(
            F.col("d").alias("day"),
            "n_events",
            F.coalesce(F.col("new_users"), F.lit(0)).cast("bigint").alias("new_users"),
        )
        .withColumn(
            "cume_distinct_users",
            F.sum("new_users").over(Window.orderBy("day")).cast("bigint"),
        )
        .orderBy("day")
    )


@register(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events)
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER
                 (PARTITION BY prev_type) AS DOUBLE), 4) AS p_next
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    ORDER BY prev_type, next_type
    """,
    desc="event-transition matrix (first-order Markov estimate): per-user "
    "LAG pairs counted into (prev, next) cells with row-normalized "
    "transition probabilities — the user-flow/Sankey aggregation, one "
    "user-keyed window + one cell aggregate",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell count is |types|^2 (bounded), so the normalization window
    runs on a tiny aggregate, never on events."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    cells = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return cells.select(
        "prev_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wp).cast("double"), 4
        ).alias("p_next"),
    ).orderBy("prev_type", "next_type")


@register(
    "q_temporal_lookup",
    oracle="""
    WITH bands AS (
        SELECT user_id, ts, event_id,
               CAST(FLOOR(value / 100.0) AS INT) AS band,
               LAG(CAST(FLOOR(value / 100.0) AS INT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_band
        FROM events),
    changes AS (
        SELECT user_id, ts AS valid_from, band,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS valid_to
        FROM bands WHERE prev_band IS NULL OR band <> prev_band),
    purchases AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, c.band,
           c.valid_from, c.valid_to
    FROM purchases p JOIN changes c
      ON c.user_id = p.user_id
     AND p.ts >= c.valid_from
     AND (c.valid_to IS NULL OR p.ts < c.valid_to)
    ORDER BY p.event_id
    """,
    desc="bitemporal SCD2 lookup: build validity intervals from value-"
    "band transitions (LAG change detection + LEAD interval close), then "
    "join each purchase to the band valid AT ITS TIMESTAMP — the "
    "dimension-at-event-time join every SCD2 history exists to answer",
)
def q_temporal_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History build is two window passes on the user key; the interval
    join shuffles both sides on user_id and range-filters within the
    key group — never a cross product (plan: keyed equi-join with the
    interval predicate as post-join filters)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    band = F.floor(F.col("value") / 100.0).cast("int")
    bands = ev.select(
        "user_id", "ts", "event_id", band.alias("band")
    ).withColumn("prev_band", F.lag("band").over(w))
    changes = (
        bands.where(F.col("prev_band").isNull() | (F.col("band") != F.col("prev_band")))
        .withColumn("valid_to", F.lead("ts").over(w))
        .select("user_id", F.col("ts").alias("valid_from"), "band", "valid_to")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = purchases.join(changes, "user_id").where(
        (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
    )
    return j.select(
        "event_id", "user_id", "band", "valid_from", "valid_to"
    ).orderBy("event_id")


@register(
    "q_window_funnel",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
        WHERE event_type IN ('signup', 'view', 'click', 'purchase')),
    s1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev
           WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
           FROM ev e JOIN s1 USING (user_id)
           WHERE e.event_type = 'view' AND e.ts > s1.t1
             AND e.ts <= s1.t1 + INTERVAL 7 DAY GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
           FROM ev e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s2.t2
             AND e.ts <= s1.t1 + INTERVAL 7 DAY GROUP BY e.user_id),
    s4 AS (SELECT e.user_id, MIN(e.ts) AS t4
           FROM ev e JOIN s1 USING (user_id) JOIN s3 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s3.t3
             AND e.ts <= s1.t1 + INTERVAL 7 DAY GROUP BY e.user_id),
    lv AS (
        SELECT s1.user_id,
               1 + (s2.user_id IS NOT NULL)::INT + (s3.user_id IS NOT NULL)::INT
                 + (s4.user_id IS NOT NULL)::INT AS level
        FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
                LEFT JOIN s4 USING (user_id))
    SELECT CAST(level AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM lv GROUP BY level ORDER BY level
    """,
    desc="window funnel (the ClickHouse windowFunnel analog): deepest "
    "step each user reaches in the strict signup -> view -> click -> "
    "purchase sequence where every later step lands within 7 days of "
    "the user's FIRST signup and strictly after the previous step's "
    "earliest completion; per-level user histogram — THE product-"
    "analytics conversion query",
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One user-keyed shuffle: t1..t4 are four chained conditional-min
    window expressions over the SAME user partition (Spark fuses them
    into one Window node — no joins, unlike the oracle's readable CTE
    cascade); the histogram is a bounded aggregate."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "view", "click", "purchase")
    )
    wu = Window.partitionBy("user_id")
    horizon = F.expr("INTERVAL 7 DAYS")
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(wu)
    step = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "view")
            & (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + horizon),
            F.col("ts"),
        )
    ).over(wu)
    step = step.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t1") + horizon),
            F.col("ts"),
        )
    ).over(wu)
    step = step.withColumn("t3", t3)
    t4 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t3"))
            & (F.col("ts") <= F.col("t1") + horizon),
            F.col("ts"),
        )
    ).over(wu)
    step = step.withColumn("t4", t4)
    per_user = (
        step.filter(F.col("t1").isNotNull())
        .groupBy("user_id")
        .agg(
            (
                F.lit(1)
                + F.max(F.col("t2").isNotNull().cast("int"))
                + F.max(F.col("t3").isNotNull().cast("int"))
                + F.max(F.col("t4").isNotNull().cast("int"))
            ).alias("level")
        )
    )
    return (
        per_user.groupBy("level")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .select(F.col("level").cast("bigint").alias("level"), "n_users")
        .orderBy("level")
    )


@register(
    "q_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS day,
               COUNT(*) AS c
        FROM events GROUP BY 1),
    tot AS (SELECT COUNT(*) AS d, SUM(c) AS ctot FROM daily),
    dev AS (
        SELECT day, c, c * tot.d - tot.ctot AS y
        FROM daily, tot),
    pref AS (
        SELECT day, c, SUM(y) OVER (ORDER BY day) AS prefix FROM dev),
    pre AS (
        SELECT day, c, prefix,
               MIN(prefix) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) AS minpre
        FROM pref)
    SELECT day, CAST(c AS BIGINT) AS n_events,
           CAST(prefix - minpre AS BIGINT) AS cusum_pos,
           prefix - minpre = MAX(prefix - minpre) OVER () AS is_peak
    FROM pre ORDER BY day
    """,
    desc="CUSUM changepoint detection over the daily event rate, kept "
    "ENTIRELY in integers: deviations are scaled by the day count "
    "(y = c*D - C_total, i.e. (c - mean)*D without division), the "
    "one-sided CUSUM uses the prefix-minus-running-min identity "
    "(= the max(0, s+y) recursion, Page 1954), and the peak day flags "
    "the most likely upward level shift — the pipeline-health monitor "
    "that catches an ingest-rate regime change",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One day aggregate (map-side combinable) + windows over ~days rows
    (bounded — allowlisted in the plan audit); zero floats anywhere."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("DAY", "ts").alias("day")).agg(
        F.count("*").alias("c")
    )
    tot = daily.agg(
        F.count("*").alias("d"), F.sum("c").alias("ctot")
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day", "c", (F.col("c") * F.col("d") - F.col("ctot")).alias("y")
    )
    word = Window.orderBy("day")
    wrun = word.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = dev.select(
        "day",
        "c",
        F.sum("y").over(word).alias("prefix"),
    ).withColumn("minpre", F.min("prefix").over(wrun))
    wall = Window.partitionBy()
    return pre.select(
        "day",
        F.col("c").cast("bigint").alias("n_events"),
        (F.col("prefix") - F.col("minpre")).cast("bigint").alias("cusum_pos"),
        (
            (F.col("prefix") - F.col("minpre"))
            == F.max(F.col("prefix") - F.col("minpre")).over(wall)
        ).alias("is_peak"),
    ).orderBy("day")


@register(
    "q_decay_counts",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(1::BIGINT << CAST(30 - LEAST(GREATEST(
                    DATEDIFF('day', CAST(ts AS DATE), DATE '2024-02-01'),
                    0), 30) AS INT) AS HUGEINT)) AS VARCHAR) AS decay_num,
           ROUND(CAST(SUM(1::BIGINT << CAST(30 - LEAST(GREATEST(
                    DATEDIFF('day', CAST(ts AS DATE), DATE '2024-02-01'),
                    0), 30) AS INT)) AS DOUBLE) / 1073741824.0, 6)
             AS decayed_count
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    desc="exponentially time-decayed event counts (half-life 1 day, "
    "anchored at 2024-02-01): each event contributes 2^-age — the "
    "trending/freshness score streaming counters maintain — computed as "
    "an EXACT integer numerator sum of 2^(30-age) (every term a power "
    "of two, so no float summation order exists) divided once at the "
    "end; the numerator ACCUMULATES in decimal(38,0)/HUGEINT and "
    "surfaces as a digit string, so no group cardinality can overflow "
    "it (the r7 2^40-scale BIGINT sum wrapped silently past ~8.4M "
    "recent events per group — ADVICE r7 #4)",
)
def q_decay_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-side-combined groupBy over |event_types| keys; the
    decayed count is mergeable across partitions/days exactly like a
    plain count (integer addition), which is why the decay lives in the
    numerator instead of a per-row float multiply. Overflow discipline
    (ADVICE r7 #4): terms max at 2^30 and the sum runs in decimal(38,0)
    (Spark) / HUGEINT (DuckDB) — headroom ~10^28 events per group — and
    the exact numerator column is a STRING because a 64-bit surface
    would re-introduce the ceiling the accumulator just removed (the
    decimal-output lesson from text_bigram_lm_perplexity: DuckDB's
    client returns DECIMAL as float64, strings stay exact)."""
    ev = table(spark, sf_dir, "events")
    term = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(30 - LEAST(GREATEST("
        "datediff(DATE'2024-02-01', to_date(ts)), 0), 30) AS INT))"
    )
    num = F.sum(term.cast("decimal(38,0)"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            num.cast("string").alias("decay_num"),
            F.round(num.cast("double") / F.lit(float(1 << 30)), 6).alias(
                "decayed_count"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "q_activity_bitmaps",
    oracle="""
    WITH m AS (
        SELECT user_id,
               BIT_OR(CASE WHEN event_type = 'view'
                    THEN 1::BIGINT << CAST(DAYOFMONTH(ts) - 1 AS INT)
                    ELSE 0 END) AS mv,
               BIT_OR(CASE WHEN event_type = 'purchase'
                    THEN 1::BIGINT << CAST(DAYOFMONTH(ts) - 1 AS INT)
                    ELSE 0 END) AS mp
        FROM events WHERE event_type IN ('view', 'purchase')
        GROUP BY user_id)
    SELECT user_id,
           CAST(mv AS BIGINT) AS view_mask,
           CAST(mp AS BIGINT) AS purchase_mask,
           CAST(BIT_COUNT(mv) AS BIGINT) AS days_view,
           CAST(BIT_COUNT(mp) AS BIGINT) AS days_purchase,
           CAST(BIT_COUNT(mv & mp) AS BIGINT) AS days_both,
           BIT_COUNT(mv & mp) > 0 AS same_day_conversion
    FROM m ORDER BY user_id
    """,
    desc="per-user day-of-month activity BITMAPS (the poor man's Roaring "
    "bitmap — a month fits one BIGINT): view and purchase masks built by "
    "BIT_OR, popcounts, and the mask INTERSECTION answering 'did the "
    "user view and purchase on the same day' with one AND — the bitmap-"
    "index pattern OLAP engines use for behavioral segmentation, as "
    "pure integer expressions",
)
def q_activity_bitmaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-side-combined groupBy(user_id) — the masks are
    BIT_OR-mergeable monoids like counts; downstream set algebra (AND /
    OR / popcount) touches one long per user per behavior, never the
    raw events again."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )

    def mask(t: str):
        return F.bit_or(
            F.when(
                F.col("event_type") == t,
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT),"
                    " CAST(dayofmonth(ts) - 1 AS INT))"
                ),
            ).otherwise(F.lit(0).cast("bigint"))
        )

    mv, mp = mask("view"), mask("purchase")
    both = F.bit_count(mv.bitwiseAND(mp)).cast("bigint")
    return (
        ev.groupBy("user_id")
        .agg(
            mv.cast("bigint").alias("view_mask"),
            mp.cast("bigint").alias("purchase_mask"),
            F.bit_count(mv).cast("bigint").alias("days_view"),
            F.bit_count(mp).cast("bigint").alias("days_purchase"),
            both.alias("days_both"),
            (F.bit_count(mv.bitwiseAND(mp)) > 0).alias("same_day_conversion"),
        )
        .orderBy("user_id")
    )


@register(
    "q_activity_bitmaps_weekly",
    oracle="""
    WITH m AS (
        SELECT user_id,
               (DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE))
                + 728000) // 7 - 104000 AS week_idx,
               BIT_OR(CASE WHEN event_type = 'view'
                    THEN 1::BIGINT << CAST((DATEDIFF('day', DATE '1970-01-01',
                         CAST(ts AS DATE)) + 728000 + 4) % 7 AS INT)
                    ELSE 0 END) AS mv,
               BIT_OR(CASE WHEN event_type = 'purchase'
                    THEN 1::BIGINT << CAST((DATEDIFF('day', DATE '1970-01-01',
                         CAST(ts AS DATE)) + 728000 + 4) % 7 AS INT)
                    ELSE 0 END) AS mp
        FROM events WHERE event_type IN ('view', 'purchase')
        GROUP BY user_id, week_idx)
    SELECT user_id, CAST(week_idx AS BIGINT) AS week_idx,
           CAST(mv AS BIGINT) AS view_mask,
           CAST(mp AS BIGINT) AS purchase_mask,
           CAST(BIT_COUNT(mv | mp) AS BIGINT) AS days_active,
           CAST(BIT_COUNT(mv & CASE WHEN LAG(week_idx) OVER w = week_idx - 1
                THEN LAG(mv) OVER w ELSE 0 END) AS BIGINT) AS habit_days,
           COALESCE(LAG(week_idx) OVER w = week_idx - 1, FALSE) AS retained
    FROM m WINDOW w AS (PARTITION BY user_id ORDER BY week_idx)
    ORDER BY user_id, week_idx
    """,
    desc="per-user WEEKLY activity bitmaps — the array-of-masks shape a "
    "Roaring bitmap index takes (one small mask per time bucket instead "
    "of one giant one): 7-bit day-of-week view/purchase masks per "
    "(user, week), then mask ALGEBRA ACROSS buckets via LAG — "
    "week-over-week retention and 'same weekday habit' overlap as one "
    "AND+popcount per adjacent-week pair — GATED on calendar adjacency "
    "(LAG(week_idx) = week_idx - 1, ADVICE r8 #3), so a user active in "
    "weeks 1 and 5 is NOT 'retained' across the gap; week index and "
    "weekday derive "
    "from epoch-day integer arithmetic ((d+4)%7, 1970-01-01 = Thursday) "
    "so no engine's DOW convention is in the loop — with d shifted by "
    "+728000 days (a multiple of 7, > any date back to year 1) so the "
    "divisions and moduli only ever see NON-NEGATIVE operands: Spark "
    "DIV truncates while DuckDB // floors, so a pre-1970 timestamp "
    "would otherwise be a silent cross-engine divergence (the "
    "sign-magnitude discipline, applied to calendar arithmetic)",
)
def q_activity_bitmaps_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-side-combined groupBy(user_id, week) builds the
    masks (BIT_OR monoid); the cross-bucket algebra is a user-partitioned
    window over ~weeks-per-user rows — after the first agg, data volume
    is |users|x|weeks| longs, never the raw events again (the reason
    time-bucketed bitmap indexes beat per-event storage at 100 TB)."""
    ev = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    # +728000 (a multiple of 7 exceeding year-1..1970 in days) keeps the
    # DIV / % operands non-negative for any representable date, where the
    # engines' integer division semantics agree; -104000 restores the
    # 1970-epoch week numbering.
    week_idx = F.expr(
        "(datediff(to_date(ts), DATE'1970-01-01') + 728000) DIV 7 - 104000"
    )

    def mask(t: str):
        return F.bit_or(
            F.when(
                F.col("event_type") == t,
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST((datediff(to_date(ts),"
                    " DATE'1970-01-01') + 728000 + 4) % 7 AS INT))"
                ),
            ).otherwise(F.lit(0).cast("bigint"))
        )

    m = ev.groupBy(
        "user_id", week_idx.cast("long").alias("week_idx")
    ).agg(mask("view").alias("mv"), mask("purchase").alias("mp"))
    w = Window.partitionBy("user_id").orderBy("week_idx")
    # Calendar-adjacency gate (ADVICE r8 #3): retention/habit only count
    # when the previous OBSERVED week is literally week_idx - 1 — a user
    # active in weeks 1 and 5 is not "retained" across the gap.
    adjacent = F.lag("week_idx").over(w) == F.col("week_idx") - 1
    prev = F.when(adjacent, F.lag("mv").over(w)).otherwise(F.lit(0))
    return m.select(
        "user_id",
        F.col("week_idx").cast("bigint").alias("week_idx"),
        F.col("mv").cast("bigint").alias("view_mask"),
        F.col("mp").cast("bigint").alias("purchase_mask"),
        F.bit_count(F.col("mv").bitwiseOR(F.col("mp")))
        .cast("bigint")
        .alias("days_active"),
        F.bit_count(F.col("mv").bitwiseAND(prev))
        .cast("bigint")
        .alias("habit_days"),
        F.coalesce(adjacent, F.lit(False)).alias("retained"),
    ).orderBy("user_id", "week_idx")
