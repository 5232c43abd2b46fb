"""Relational query surface over the TPC-H-ish tables.

These queries demonstrate the operator categories the reference lacks
entirely (SURVEY.md §2.8 — joins, windows, sorts, set ops, grouping
sets) plus Spark analogues of the reference's filter/aggregate
operators (F1-F5, A1-A6, O13-O15, M1/M2/M6/M8/M11) expressed over the
driver tables so each has a DuckDB oracle.

Scale notes are attached per query; the common themes:
- dimension joins use ``F.broadcast`` (region/nation/customer are
  orders of magnitude smaller than the fact tables at any SF);
- filters are written directly against scan columns so Catalyst pushes
  them into the parquet reader;
- window partitions are keyed on high-cardinality ids (user_id,
  custkey) so state is bounded per partition at 100 TB.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from radio_data_pipeline_spark.operators.ordering import bounded_sort
from radio_data_pipeline_spark.plans.registry import register
from radio_data_pipeline_spark.sources.parquet import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Aggregation spine (reference A1/A4/A5 analogues on lineitem)
# --------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(sum(l_quantity) AS DOUBLE)                    AS sum_qty,
      round(sum(l_extendedprice), 2)                     AS sum_base_price,
      round(sum(l_extendedprice * (1 - l_discount)), 2)  AS sum_disc_price,
      round(avg(l_quantity), 6)                          AS avg_qty,
      round(avg(l_discount), 6)                          AS avg_disc,
      count(*)                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary; maps reference continuum "
        "integration A1 (sum over an axis) + A4 means to a grouped agg "
        "with full predicate pushdown.",
    tags=("agg", "filter"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        # output bounded by the returnflag x linestatus domain (6 rows
        # at any SF) -> single-partition range sort, no sampling job
        .transform(bounded_sort, "l_returnflag", "l_linestatus")
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT
      l.l_orderkey                                       AS l_orderkey,
      round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
      strftime(o.o_orderdate, '%Y-%m-%d')                AS o_orderdate_str,
      o.o_orderpriority                                  AS o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3-style 3-way join + top-k. customer is broadcast "
        "(dimension-sized at every SF); orders/lineitem join shuffles "
        "on orderkey only.",
    tags=("join", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_str"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle="""
    SELECT
      n.n_name                                              AS n_name,
      round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5-style 6-way star join; region/nation/customer/"
        "supplier broadcast, the single shuffle is orders x lineitem.",
    tags=("join", "agg"),
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(s),
              (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == n.n_nationkey))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        # output bounded by the nation domain (25 rows at any SF)
        .transform(bounded_sort, F.desc("revenue"), F.asc("n_name"))
    )


# --------------------------------------------------------------------------
# Sort / limit / distinct (SURVEY §2.8 sorts; A3 distinct analogue)
# --------------------------------------------------------------------------

@register(
    "top_parts_by_price",
    oracle="""
    SELECT p_partkey, p_name, p_brand, round(p_retailprice, 2) AS retail
    FROM part
    ORDER BY retail DESC, p_partkey
    LIMIT 25
    """,
    doc="Global top-k: Spark plans TakeOrderedAndProject (no full sort "
        "shuffle) — the 100 TB-safe form of ORDER BY ... LIMIT.",
    tags=("topk",),
)
def top_parts_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "part")
        .select("p_partkey", "p_name", "p_brand",
                F.round("p_retailprice", 2).alias("retail"))
        .orderBy(F.desc("retail"), "p_partkey")
        .limit(25)
    )


@register(
    "distinct_event_users",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*)                AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Distinct aggregation (reference A3: np.unique of stream ids).",
    tags=("agg", "distinct"),
)
def distinct_event_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"),
             F.count(F.lit(1)).alias("n_events"))
        # output bounded by the event-type domain
        .transform(bounded_sort, "event_type")
    )


# --------------------------------------------------------------------------
# Window functions (the compilation target for reference O13/O14/F8)
# --------------------------------------------------------------------------

@register(
    "orders_rank_in_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, rnk
    FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    )
    WHERE rnk <= 3
    ORDER BY o_custkey, rnk
    """,
    doc="Ranking window (reference F8 positional slicing compiled to "
        "row_number over an explicit ordering).",
    tags=("window",),
)
def orders_rank_in_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                                F.asc("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        # RANGE-partition the window input by its partition key: the
        # window's ClusteredDistribution is satisfied, and the final
        # orderBy(o_custkey, rnk) — o_custkey is a partitioning
        # prefix — compiles to a LOCAL sort. One exchange instead of
        # hash(window) + range(sort), and the sort's boundary-sampling
        # job re-reads only the scan, not the window stage
        # (guide §2.4; operators/ordering.py)
        .repartitionByRange("o_custkey")
        .select("o_custkey", "o_orderkey",
                F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
        .orderBy("o_custkey", "rnk")
    )


@register(
    "events_running_sum",
    oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW), 6) AS running_value
    FROM events
    ORDER BY user_id, event_id
    """,
    doc="Analytic running-sum window — the building block of the "
        "conditional-running-sum compilation of the reference cal "
        "state machine (SURVEY §2.4 O13 option (a)).",
    tags=("window",),
)
def events_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (Window.partitionBy("user_id").orderBy("ts_us", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        _t(spark, sf_dir, "events")
        # RANGE-partition the window input by its partition key (the
        # orders_rank_in_customer idiom, r12): window clustering
        # satisfied, tail orderBy(user_id, event_id) local via the
        # prefix rule — one exchange, sampling job reads only the scan
        .repartitionByRange("user_id")
        .select("user_id", "event_id",
                F.round(F.sum("value").over(w), 6).alias("running_value"))
        .orderBy("user_id", "event_id")
    )


@register(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
      SELECT user_id, value,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
           count(*)                                   AS n_events,
           round(sum(value), 6)                       AS total_value
    FROM sessioned
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Gap-based sessionization: lag + conditional flag + running sum "
        "— the exact window-function idiom that compiles the reference "
        "calibration-segment state machine (utils.py:126-214) for the "
        "scale path.",
    tags=("window", "sessionize"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    # same (ts_us, event_id) order as the flag window: without the
    # tie-break, duplicate timestamps make session_id assignment (and
    # therefore n_sessions) order-nondeterministic across engines
    wrun = (Window.partitionBy("user_id").orderBy("ts_us", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # RANGE-partition by the window key: both windows and the
    # user_id groupBy reuse the one exchange, and the trailing
    # orderBy(user_id) becomes a local sort with no boundary-sampling
    # re-run of the window stage (guide §2.4; operators/ordering.py)
    ev = _t(spark, sf_dir, "events").repartitionByRange("user_id")
    gap_us = F.col("ts_us") - F.lag("ts_us").over(w)
    flagged = ev.select(
        "user_id", "ts_us", "value", "event_id",
        F.when(F.lag("ts_us").over(w).isNull()
               | (gap_us > 30 * 60 * 1_000_000), 1)
         .otherwise(0).alias("new_session"),
    )
    sessioned = flagged.select(
        "user_id", "value",
        F.sum("new_session").over(wrun).alias("session_id"),
    )
    return (
        sessioned.groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"),
             F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 6).alias("total_value"))
        .orderBy("user_id")
    )


@register(
    "events_sessionize_salted",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
      SELECT user_id, value,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
           count(*)                                   AS n_events,
           round(sum(value), 6)                       AS total_value
    FROM sessioned
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="events_sessionize computed through the SKEW-SALTED window "
        "(operators/skew.py salted_sessionize: heavy window keyed by "
        "(user, day), per-user-day summary stitch) — the oracle is "
        "the UNSALTED SQL, so the driver gate itself checks the "
        "salted rewrite's exact equivalence (BENCH_SCALING §12 "
        "addendum 2: 3.1x on a hot-key corpus at 16M rows).",
    tags=("window", "sessionize", "skew"),
)
def events_sessionize_salted(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.operators.skew import (
        salted_sessionize,
    )

    ev = _t(spark, sf_dir, "events")
    day_us = 86_400_000_000
    sess = salted_sessionize(
        ev.select("user_id", "ts_us", "value", "event_id"),
        "user_id", "ts_us", gap=30 * 60 * 1_000_000,
        bucket=F.floor(F.col("ts_us") / day_us),
        tiebreak_cols=("event_id",))
    return (
        sess.groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"),
             F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 6).alias("total_value"))
        .orderBy("user_id")
    )


@register(
    "events_first_transition",
    oracle="""
    SELECT user_id,
           min(CASE WHEN event_type = 'purchase' THEN event_id END)
             AS first_purchase_event,
           min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
             AS first_purchase_ts_us
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="First-matching-row detection (reference O14: first OBSMODE "
        "'onoff:off' row) as min(when(...)) — no sort, pure agg.",
    tags=("agg", "stateful-analogue"),
)
def events_first_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    return (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(is_p, F.col("event_id"))).alias("first_purchase_event"),
            F.min(F.when(is_p, F.col("ts_us"))).alias("first_purchase_ts_us"),
        )
        .orderBy("user_id")
    )


@register(
    "events_asof_prior_view",
    oracle="""
    SELECT event_id, user_id, prior_view_event
    FROM (
      SELECT event_id, user_id, event_type,
             last_value(CASE WHEN event_type = 'view' THEN event_id END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prior_view_event
      FROM events
    )
    WHERE event_type = 'purchase' AND prior_view_event IS NOT NULL
    ORDER BY event_id
    """,
    doc="As-of join (SURVEY §2.8): for each purchase, the most recent "
        "earlier 'view' of the same user — single-pass window with "
        "IGNORE NULLS instead of a range join, so it scales linearly.",
    tags=("window", "asof"),
)
def events_asof_prior_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sort key (event_id) != window key (user_id), so no shared
    # exchange exists and the orderBy's boundary-sampling job re-runs
    # the window stage per action. The persist-the-filtered-output
    # mitigation was MEASURED in r12 (VERDICT #4): cold one-shot
    # interleaved A/B, 5 reps x2 rounds — current form best 0.221 s /
    # persist form 0.194 s at sf0.1 (-13%), 0.472 vs 0.460 s at the
    # 10x corpus (-3..6%). The win is real but far under the 2x bar
    # set for bending the no-persist-in-a-lazy-query-path rule on a
    # HEADLINE query (a build-time persist would also turn the
    # bench's warm best-of-5 into cached 1.8k-row sorts, overstating
    # the query by ~10x). Kept the lazy double-pass form; numbers in
    # OPTIMIZATION_r12.md.
    w = (Window.partitionBy("user_id").orderBy("ts_us", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id", "user_id", "event_type",
            F.last(F.when(F.col("event_type") == "view", F.col("event_id")),
                   ignorenulls=True).over(w).alias("prior_view_event"),
        )
        .filter((F.col("event_type") == "purchase")
                & F.col("prior_view_event").isNotNull())
        .select("event_id", "user_id", "prior_view_event")
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Reference filter semantics (F3 time ranges, F5 physicality) on events
# --------------------------------------------------------------------------

@register(
    "events_time_filter",
    oracle="""
    SELECT event_type,
           count(*)             AS n_rows,
           round(sum(value), 6) AS sum_value
    FROM events
    WHERE ((ts > TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-12')
           OR (ts > TIMESTAMP '2024-01-20' AND ts < TIMESTAMP '2024-01-27'))
      AND NOT (ts > TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-09')
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Reference F3 time-range include/exclude semantics "
        "(utils.py:239-271, open intervals, OR of includes AND of "
        "negated excludes) implemented the intended way — the "
        "reference's include+exclude combination bug is documented in "
        "operators/filters.py.",
    tags=("filter",),
)
def events_time_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.operators.filters import time_range_predicate_us
    ev = _t(spark, sf_dir, "events")
    pred = time_range_predicate_us(
        F.col("ts_us"),
        include=[("2024-01-05", "2024-01-12"), ("2024-01-20", "2024-01-27")],
        exclude=[("2024-01-08", "2024-01-09")],
    )
    return (
        ev.filter(pred)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.round(F.sum("value"), 6).alias("sum_value"))
        # output bounded by the event-type domain (r12)
        .transform(bounded_sort, "event_type")
    )


@register(
    "events_physical_validation",
    oracle="""
    SELECT event_type,
           count(*) AS n_valid,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value
    FROM events
    WHERE value IS NULL OR value >= 0
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Reference F5 non-negativity validation (validate.py:51-70) as "
        "one conjunctive pushed-down filter. NULL values are KEPT, "
        "mirroring physical_filter's documented skip-NULL semantics "
        "(the reference masks NaNs separately, F6) — the oracle "
        "predicate matches exactly so a NULL-bearing source cannot "
        "diverge.",
    tags=("filter", "validation"),
)
def events_physical_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.operators.validation import physical_filter
    ev = _t(spark, sf_dir, "events")
    return (
        physical_filter(ev, ["value"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_valid"),
             F.round(F.min("value"), 6).alias("min_value"),
             F.round(F.max("value"), 6).alias("max_value"))
        # output bounded by the event-type domain (r12)
        .transform(bounded_sort, "event_type")
    )


# --------------------------------------------------------------------------
# Semi/anti joins, set ops, grouping sets (SURVEY §2.8)
# --------------------------------------------------------------------------

@register(
    "semi_join_customers",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers_with_orders
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    doc="left_semi join — EXISTS without materializing the right side.",
    tags=("join",),
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_with_orders"))
        .orderBy("c_mktsegment")
    )


@register(
    "anti_join_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
    doc="left_anti join — NOT EXISTS.",
    tags=("join",),
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "rollup_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
           count(*)                        AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    doc="ROLLUP grouping sets (absent in reference; free via Catalyst "
        "Expand — one shuffle for all grouping sets).",
    tags=("agg", "rollup"),
)
def rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"),
             F.count(F.lit(1)).alias("n_rows"))
        # rollup output bounded by the (returnflag x linestatus) domain
        .transform(bounded_sort,
                   F.col("l_returnflag").asc_nulls_first(),
                   F.col("l_linestatus").asc_nulls_first())
    )


@register(
    "union_order_cohorts",
    oracle="""
    SELECT cohort, o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM (
      SELECT 'high_open' AS cohort, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 200000
      UNION ALL
      SELECT 'finished' AS cohort, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderstatus = 'F'
    )
    GROUP BY cohort, o_orderpriority
    ORDER BY cohort, o_orderpriority
    """,
    doc="Union (reference A6 merge semantics: unionByName after schema "
        "equality check — see operators/merge.py).",
    tags=("setop",),
)
def union_order_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.operators.merge import merge_observations
    o = _t(spark, sf_dir, "orders")
    high_open = (o.filter((F.col("o_orderstatus") == "O")
                          & (F.col("o_totalprice") > 200000))
                 .select(F.lit("high_open").alias("cohort"),
                         "o_orderpriority", "o_totalprice"))
    finished = (o.filter(F.col("o_orderstatus") == "F")
                .select(F.lit("finished").alias("cohort"),
                        "o_orderpriority", "o_totalprice"))
    return (
        merge_observations([high_open, finished])
        .groupBy("cohort", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total_price"))
        # output bounded by the (2 cohorts x priority enum) domain (r12)
        .transform(bounded_sort, "cohort", "o_orderpriority")
    )


@register(
    "except_active_buyers",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    EXCEPT
    SELECT c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    ORDER BY c_custkey
    """,
    doc="EXCEPT set operation (absent in reference).",
    tags=("setop",),
)
def except_active_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    machinery = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    open_buyers = (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
                   .select("c_custkey"))
    # subtract == SQL EXCEPT (distinct semantics); exceptAll+distinct
    # would WRONGLY keep a key that appears more times on the left
    # than the right if the left side ever stopped being unique
    return machinery.subtract(open_buyers).orderBy("c_custkey")


# --------------------------------------------------------------------------
# Scalar math / regression / calibration analogues (M1/M2/M6/M8)
# --------------------------------------------------------------------------

@register(
    "linreg_value_vs_time",
    oracle="""
    SELECT event_type,
           round(covar_pop(CAST(epoch_us(ts) AS DOUBLE) / 1000000.0, value)
                 / var_pop(CAST(epoch_us(ts) AS DOUBLE) / 1000000.0), 6)
             AS slope,
           round(avg(value)
                 - covar_pop(CAST(epoch_us(ts) AS DOUBLE) / 1000000.0, value)
                   / var_pop(CAST(epoch_us(ts) AS DOUBLE) / 1000000.0)
                   * avg(CAST(epoch_us(ts) AS DOUBLE) / 1000000.0), 6)
             AS intercept,
           count(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Closed-form OLS via covar_pop/var_pop aggregates — the "
        "distributed form of the reference's scipy.linregress initial "
        "fit (M1/M2, continuum.py:63-83). No driver-side iteration.",
    tags=("stats",),
)
def linreg_value_vs_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    x = F.col("ts_us").cast("double") / 1e6
    y = F.col("value")
    slope = F.covar_pop(x, y) / F.var_pop(x)
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(slope, 6).alias("slope"),
            F.round(F.avg(y) - slope * F.avg(x), 6).alias("intercept"),
            F.count(F.lit(1)).alias("n"),
        )
        # output bounded by the event-type domain
        .transform(bounded_sort, "event_type")
    )


@register(
    "buck_vapor_density",
    oracle="""
    SELECT event_id,
           round(216.7 * ((value % 100.0) / 100.0 *
                 ((1.0007 + 3.46e-6) * 6.1121 *
                  exp(17.502 * (value % 40.0) / ((value % 40.0) + 240.97))))
                 / (273.15 + (value % 40.0)), 6) AS vapor_density
    FROM events
    WHERE event_type = 'error'
    ORDER BY event_id
    """,
    doc="Buck saturation-vapor-pressure equation + water-vapor density "
        "(reference M8, atmosphere_correction.py:25-45) as pure column "
        "arithmetic; the reference's unreachable below-freezing branch "
        "is documented in operators/atmosphere.py.",
    tags=("scalar-math",),
)
def buck_vapor_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from radio_data_pipeline_spark.operators.atmosphere import buck_vapor_density_expr
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    t_c = F.col("value") % 40.0        # pseudo temperature in °C
    rh = F.col("value") % 100.0        # pseudo relative humidity %
    return (
        ev.select(
            "event_id",
            F.round(buck_vapor_density_expr(t_c, rh), 6).alias("vapor_density"),
        )
        .orderBy("event_id")
    )


@register(
    "gain_interpolation",
    oracle="""
    WITH bounds AS (
      SELECT user_id,
             min(epoch_us(ts)) AS t1, max(epoch_us(ts)) AS t2
      FROM events GROUP BY user_id
    ),
    halves AS (
      SELECT e.user_id,
             b.t1, b.t2,
             avg(CASE WHEN epoch_us(e.ts) * 2 <  b.t1 + b.t2 THEN e.value END)
               AS pre_height,
             avg(CASE WHEN epoch_us(e.ts) * 2 >= b.t1 + b.t2 THEN e.value END)
               AS post_height
      FROM events e JOIN bounds b ON e.user_id = b.user_id
      GROUP BY e.user_id, b.t1, b.t2
    )
    SELECT e.event_id,
           round(e.value / (h.pre_height + (h.post_height - h.pre_height)
                 * (CAST(epoch_us(e.ts) - h.t1 AS DOUBLE)
                    / CAST(h.t2 - h.t1 AS DOUBLE))), 6) AS calibrated
    FROM events e JOIN halves h ON e.user_id = h.user_id
    WHERE h.t2 > h.t1 AND h.pre_height IS NOT NULL AND h.post_height IS NOT NULL
    ORDER BY e.event_id
    """,
    doc="Gain calibration with time-interpolated calibration height "
        "(reference M6, continuum.py:173-187). Implements the INTENDED "
        "interpolation semantics — the reference's z>=1.96 branch "
        "mutates a loop variable, a no-op (continuum.py:178-181); see "
        "operators/calibration.py for the documented divergence. "
        "Heights here are per-user half-window means standing in for "
        "the per-segment RCR fits.",
    tags=("scalar-math", "calibration"),
)
def gain_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    t = F.col("ts_us")
    bounds = ev.groupBy("user_id").agg(F.min(t).alias("t1"), F.max(t).alias("t2"))
    halves = (
        ev.join(F.broadcast(bounds), "user_id")
        .groupBy("user_id", "t1", "t2")
        .agg(
            F.avg(F.when(t * 2 < F.col("t1") + F.col("t2"), F.col("value")))
             .alias("pre_height"),
            F.avg(F.when(t * 2 >= F.col("t1") + F.col("t2"), F.col("value")))
             .alias("post_height"),
        )
    )
    cal = (F.col("pre_height")
           + (F.col("post_height") - F.col("pre_height"))
           * ((t - F.col("t1")).cast("double")
              / (F.col("t2") - F.col("t1")).cast("double")))
    return (
        ev.join(F.broadcast(halves), "user_id")
        .filter((F.col("t2") > F.col("t1"))
                & F.col("pre_height").isNotNull()
                & F.col("post_height").isNotNull())
        .select("event_id", F.round(F.col("value") / cal, 6).alias("calibrated"))
        .orderBy("event_id")
    )


@register(
    "json_props_extract",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6)
             AS avg_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS DOUBLE)
             AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Semi-structured metadata extraction — the Spark analogue of "
        "the reference's HISTORY-card parsing (P1, utils.py:9-56): "
        "get_json_object over a JSON string column.",
    tags=("json",),
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return (
        ev.groupBy("event_type")
        .agg(F.round(F.avg(k), 6).alias("avg_k"),
             F.max(k).alias("max_k"))
        # output bounded by the event-type domain (r12)
        .transform(bounded_sort, "event_type")
    )


# --------------------------------------------------------------------------
# Multi-dimensional aggregation (cube / grouping sets) and range joins
# --------------------------------------------------------------------------

@register(
    "pricing_cube",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL')   AS returnflag,
           coalesce(l_linestatus, 'ALL')   AS linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           round(sum(l_extendedprice), 2)  AS sum_price,
           count(*)                        AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY gid, returnflag, linestatus
    """,
    doc="CUBE over (returnflag, linestatus) with grouping_id — all four "
        "grouping sets in ONE pass with map-side partial aggregation "
        "(Spark expands the sets before the shuffle; at 100 TB this "
        "beats four separate scans 4:1 on input IO).",
    tags=("agg", "cube"),
)
def pricing_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().alias("gid"),
             F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
             F.count(F.lit(1)).alias("n_rows"))
        .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
                F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
                "gid", "sum_price", "n_rows")
        # cube output bounded by the (returnflag x linestatus) domain
        .transform(bounded_sort, "gid", "returnflag", "linestatus")
    )


@register(
    "pricing_grouping_sets",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL')   AS returnflag,
           coalesce(l_linestatus, 'ALL')   AS linestatus,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY returnflag, linestatus
    """,
    doc="Explicit GROUPING SETS (by flag / by status / grand total) via "
        "the SQL surface — the asymmetric-sets case cube/rollup can't "
        "express; still one scan + one shuffle.",
    tags=("agg", "grouping-sets", "sql"),
)
def pricing_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_gs")
    # the ORDER BY tail lives outside the SQL string as a bounded_sort:
    # output bounded by the (returnflag x linestatus) domain, and every
    # (returnflag, linestatus) pair is distinct across the grouping
    # sets, so the sort keys are unique — identical rows and order to
    # the in-SQL ORDER BY, minus its boundary-sampling job (r12)
    return spark.sql("""
        SELECT coalesce(l_returnflag, 'ALL')   AS returnflag,
               coalesce(l_linestatus, 'ALL')   AS linestatus,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """).transform(bounded_sort, "returnflag", "linestatus")


@register(
    "orders_repeat_within_30d",
    oracle="""
    SELECT a.o_custkey AS custkey,
           count(*)    AS n_repeat_pairs,
           CAST(min(epoch(b.o_orderdate) - epoch(a.o_orderdate)) / 86400
                AS BIGINT) AS min_gap_days
    FROM orders a
    JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND b.o_orderdate > a.o_orderdate
     AND epoch(b.o_orderdate) - epoch(a.o_orderdate) <= 30 * 86400
    GROUP BY a.o_custkey
    ORDER BY custkey
    """,
    doc="Band (interval) self-join: repeat orders by the same customer "
        "within 30 days. The equi key (custkey) carries the shuffle; "
        "the range predicate evaluates post-match, so this stays a "
        "sort-merge join — no O(N^2) nested loop — and skew is bounded "
        "by orders-per-customer.",
    tags=("join", "range-join"),
)
def orders_repeat_within_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    a, b = o.alias("a"), o.alias("b")
    gap = (F.unix_timestamp(F.col("b.o_orderdate"))
           - F.unix_timestamp(F.col("a.o_orderdate")))
    return (
        a.join(b, (F.col("a.o_custkey") == F.col("b.o_custkey"))
               & (F.col("b.o_orderdate") > F.col("a.o_orderdate"))
               & (gap <= 30 * 86400))
        .groupBy(F.col("a.o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_repeat_pairs"),
             (F.min(gap) / 86400).cast("long").alias("min_gap_days"))
        .orderBy("custkey")
    )


@register(
    "events_value_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.5), 6)  AS p50,
           round(quantile_cont(value, 0.9), 6)  AS p90,
           count(*)                             AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Exact interpolated percentiles per group (Spark `percentile` "
        "== SQL quantile_cont). At 100 TB the approx path is "
        "approx_percentile (t-digest, fixed memory, map-side "
        "mergeable); the exact form is the correctness oracle for it.",
    tags=("agg", "percentile"),
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.round(F.percentile("value", F.lit(0.25)), 6).alias("p25"),
             F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
             F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
             F.count(F.lit(1)).alias("n"))
        # output bounded by the event-type domain
        .transform(bounded_sort, "event_type")
    )


@register(
    "parts_above_avg_price",
    oracle="""
    SELECT p_partkey, p_name, round(p_retailprice, 2) AS retailprice
    FROM part
    WHERE p_retailprice > 1.04 * (SELECT avg(p_retailprice) FROM part)
    ORDER BY retailprice DESC, p_partkey
    LIMIT 25
    """,
    doc="Uncorrelated scalar subquery in a predicate: Spark plans the "
        "subquery as an independent stage whose single-row result is "
        "broadcast into the main scan's filter — one extra tiny job, "
        "no per-row re-evaluation, at any scale.",
    tags=("subquery", "filter"),
)
def parts_above_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "part").createOrReplaceTempView("_part_sq")
    return spark.sql("""
        SELECT p_partkey, p_name, round(p_retailprice, 2) AS retailprice
        FROM _part_sq
        WHERE p_retailprice > 1.04 * (SELECT avg(p_retailprice) FROM _part_sq)
        ORDER BY retailprice DESC, p_partkey
        LIMIT 25
    """)


@register(
    "events_moving_avg",
    oracle="""
    SELECT event_id, user_id,
           round(avg(value) OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
                 6) AS mavg
    FROM events
    ORDER BY user_id, event_id
    """,
    doc="Bounded sliding window frame (ROWS BETWEEN 3 PRECEDING): "
        "constant per-row state regardless of partition length — the "
        "frame form that stays O(1) memory where an unbounded frame "
        "buffers; partitioned on high-cardinality user_id.",
    tags=("window", "frame"),
)
def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (Window.partitionBy("user_id").orderBy("ts_us", "event_id")
         .rowsBetween(-3, 0))
    return (
        _t(spark, sf_dir, "events")
        # one range exchange serves window + tail sort (prefix rule;
        # orders_rank_in_customer idiom, r12)
        .repartitionByRange("user_id")
        .select("event_id", "user_id",
                F.round(F.avg("value").over(w), 6).alias("mavg"))
        .orderBy("user_id", "event_id")
    )


@register(
    "orders_above_twice_avg_item",
    oracle="""
    SELECT o.o_orderkey, round(o.o_totalprice, 2) AS totalprice
    FROM orders o
    WHERE o.o_totalprice > (SELECT 40 * avg(l.l_extendedprice)
                            FROM lineitem l
                            WHERE l.l_orderkey = o.o_orderkey)
    ORDER BY totalprice DESC, o.o_orderkey
    LIMIT 50
    """,
    doc="Correlated scalar aggregate subquery: Catalyst decorrelates it "
        "into an aggregate + join on the correlation key, so at scale "
        "it costs one orderkey-shuffled aggregation — never a per-row "
        "re-execution of the inner query.",
    tags=("subquery", "join"),
)
def orders_above_twice_avg_item(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_ord_corr")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_corr")
    return spark.sql("""
        SELECT o.o_orderkey, round(o.o_totalprice, 2) AS totalprice
        FROM _ord_corr o
        WHERE o.o_totalprice > (SELECT 40 * avg(l.l_extendedprice)
                                FROM _li_corr l
                                WHERE l.l_orderkey = o.o_orderkey)
        ORDER BY totalprice DESC, o.o_orderkey
        LIMIT 50
    """)


@register(
    "intersect_repeat_customers",
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    ORDER BY o_custkey
    """,
    doc="INTERSECT (distinct set semantics) — customers active in both "
        "1995 and 1996; completes the set-op family (union, except, "
        "intersect). Spark plans it as a left-semi join over distinct "
        "sets, one shuffle on the key.",
    tags=("set-op",),
)
def intersect_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96).orderBy("o_custkey")


@register(
    "events_type_pivot",
    oracle="""
    SELECT user_id,
           CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
                AS BIGINT) AS click,
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END)
                AS BIGINT) AS error,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
                AS BIGINT) AS purchase,
           CAST(count(CASE WHEN event_type = 'signup' THEN 1 END)
                AS BIGINT) AS signup,
           CAST(count(CASE WHEN event_type = 'view' THEN 1 END)
                AS BIGINT) AS view
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Pivot (long -> wide): per-user event counts, one column per "
        "type. The explicit value list keeps it a single-pass grouped "
        "aggregation (Spark's pivot without values adds a distinct "
        "scan first — always enumerate values at scale).",
    tags=("agg", "pivot"),
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    types = ["click", "error", "purchase", "signup", "view"]
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .orderBy("user_id")
    )


@register(
    "events_lgamma_udf",
    oracle="""
    SELECT event_type,
           round(avg(lgamma(value + 1.0)), 6) AS avg_lgamma
    FROM events
    WHERE value >= 0
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="The engine's user-extensibility surface: an Arrow-batched "
        "pandas UDF computing a function Spark lacks (log-gamma; this "
        "build has no JVM lgamma expression), aggregated per group, "
        "applied AFTER the filter so the slow path sees only surviving "
        "rows. Transport is Arrow-vectorized AND the kernel is "
        "numpy-vectorized (Lanczos g=7 log-gamma, |err| ~1e-13 "
        "relative — exact through the query's 6-decimal rounding); "
        "scipy.special.gammaln is the drop-in when scipy exists.",
    tags=("pandas-udf", "agg"),
)
def events_lgamma_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # Lanczos approximation (g=7, 9 coefficients — the classic public
    # parameterization): double-precision accurate for x > 0 and fully
    # numpy-vectorized, replacing the per-element math.lgamma loop.
    _LANCZOS = np.array([
        0.99999999999980993, 676.5203681218851, -1259.1392167224028,
        771.32342877765313, -176.61502916214059, 12.507343278686905,
        -0.13857109526572012, 9.9843695780195716e-6,
        1.5056327351493116e-7])

    def _gammaln(x):
        # domain here is x >= 1 (value >= 0 filter + the +1 shift), so
        # no reflection branch is needed
        xp = x - 1.0
        a = np.full_like(xp, _LANCZOS[0])
        for i in range(1, 9):
            a += _LANCZOS[i] / (xp + i)
        t = xp + 7.5
        return (0.9189385332046727  # 0.5*ln(2*pi)
                + (xp + 0.5) * np.log(t) - t + np.log(a))

    # note: no type hints — a hint-free pandas_udf is a scalar
    # Series -> Series UDF
    def _lgamma(v):
        return pd.Series(_gammaln(v.to_numpy(dtype=np.float64) + 1.0))

    lgamma_udf = pandas_udf(_lgamma, "double")

    ev = _t(spark, sf_dir, "events").filter(F.col("value") >= 0)
    return (
        ev.select("event_type", lgamma_udf(F.col("value")).alias("lg"))
        .groupBy("event_type")
        .agg(F.round(F.avg("lg"), 6).alias("avg_lgamma"))
        .orderBy("event_type")
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    ORDER BY revenue
    """,
    doc="TPC-H Q6-style forecast revenue: a pure filter+agg whose four "
        "predicates ALL push into the parquet scan — the canonical "
        "pushdown benchmark (map-only, one partial+final agg, no "
        "shuffle of data rows).",
    tags=("filter", "agg", "pushdown"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")),
                     2).alias("revenue"),
             F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey,
           c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10-style returned-item report: returnflag filter pushed "
        "to the lineitem scan, customer broadcast, revenue agg keyed on "
        "custkey, top-20 via TakeOrdered.",
    tags=("join", "agg", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "customers_order_counts_left",
    oracle="""
    SELECT c.c_custkey,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_spend
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    ORDER BY c.c_custkey
    """,
    doc="LEFT OUTER join preserving zero-order customers (count of the "
        "nullable key skips NULLs, so no-order customers report 0) — "
        "the outer-join family entry; shuffles once on custkey.",
    tags=("join", "outer-join", "agg"),
)
def customers_order_counts_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"),
             F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2)
             .alias("total_spend"))
        .orderBy("c_custkey")
    )


@register(
    "q18_large_orders",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey,
           round(o.o_totalprice, 2) AS totalprice,
           CAST(sum(l.l_quantity) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    GROUP BY c.c_custkey, o.o_orderkey, o.o_totalprice
    ORDER BY totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18-style large-volume orders: IN over a HAVING "
        "aggregate subquery, decorrelated by Catalyst into a semi-join "
        "against the pre-aggregated order quantities — one extra "
        "orderkey-keyed aggregation, no per-row subquery execution.",
    tags=("subquery", "having", "join"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("q"))
           .filter(F.col("q") > 250)
           .select("l_orderkey"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(big.withColumnRenamed("l_orderkey", "bk"),
              F.col("o_orderkey") == F.col("bk"), "left_semi")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .select("c_custkey", "o_orderkey",
                F.round("o_totalprice", 2).alias("totalprice"), "total_qty")
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "buyers_eventers_full_outer",
    oracle="""
    WITH buyers AS (SELECT DISTINCT o_custkey AS id FROM orders),
         eventers AS (SELECT DISTINCT user_id AS id FROM events)
    SELECT coalesce(b.id, e.id) AS id,
           (b.id IS NOT NULL) AS has_orders,
           (e.id IS NOT NULL) AS has_events
    FROM buyers b
    FULL OUTER JOIN eventers e ON b.id = e.id
    ORDER BY id
    """,
    doc="FULL OUTER join over two distinct key sets — the audience-"
        "overlap (coverage) table with presence flags on both sides; "
        "completes the join family (inner/left/semi/anti/band/full).",
    tags=("join", "outer-join", "set-op"),
)
def buyers_eventers_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    buyers = (_t(spark, sf_dir, "orders")
              .select(F.col("o_custkey").alias("id")).distinct())
    eventers = (_t(spark, sf_dir, "events")
                .select(F.col("user_id").alias("id")).distinct())
    b, e = buyers.alias("b"), eventers.alias("e")
    return (
        b.join(e, F.col("b.id") == F.col("e.id"), "full_outer")
        .select(F.coalesce(F.col("b.id"), F.col("e.id")).alias("id"),
                F.col("b.id").isNotNull().alias("has_orders"),
                F.col("e.id").isNotNull().alias("has_events"))
        .orderBy("id")
    )


@register(
    "orders_monthly_revenue",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           round(sum(o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders
    GROUP BY month
    ORDER BY month
    """,
    doc="Calendar-month truncation (variable-length periods — the case "
        "fixed-width tumbling windows cannot express) + grouped "
        "revenue; date_trunc stays in codegen, one shuffle after "
        "map-side partial aggregation.",
    tags=("datetime", "agg"),
)
def orders_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format(F.date_trunc("month", "o_orderdate"),
                                "yyyy-MM").alias("month"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
        # output bounded by calendar months in the time horizon
        # (orders_incremental_monthly_revenue precedent) (r12)
        .transform(bounded_sort, "month")
    )


@register(
    "user_event_type_sets",
    oracle="""
    SELECT user_id,
           list_sort(array_agg(DISTINCT event_type)) AS event_types,
           CAST(len(array_agg(DISTINCT event_type)) AS BIGINT)
             AS n_types
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Array-valued aggregation: sorted distinct-collect per group "
        "(collect_set + sort_array) — the set-per-key shape feature "
        "stores use; map-side partial collect keeps shuffle rows at "
        "one per user.",
    tags=("agg", "array"),
)
def user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("event_types"))
        .select("user_id", "event_types",
                F.size("event_types").cast("long")
             .alias("n_types"))
        .orderBy("user_id")
    )


@register(
    "events_udaf_iqr_per_type",
    oracle="""
    SELECT event_type,
           round(quantile_cont(CASE WHEN isnan(value) THEN NULL
                                    ELSE value END, 0.75)
                 - quantile_cont(CASE WHEN isnan(value) THEN NULL
                                      ELSE value END, 0.25), 6) AS iqr,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="The user-defined AGGREGATE surface (completing the "
        "UDF/UDAF/UDTF triad with events_lgamma_udf and "
        "doc_chunks_udtf): a GROUPED_AGG pandas UDF computing the "
        "per-type interquartile range with numpy's linearly "
        "interpolated percentiles — the same definition as SQL "
        "quantile_cont, so the oracle is exact, not a tolerance "
        "check. Each group's values stream to the Python worker as "
        "ONE Arrow batch; this is the escape hatch for aggregates "
        "with no mergeable JVM form, and the docstring caveat IS the "
        "scale story: a grouped-agg UDAF holds a whole group in "
        "memory, so it is for bounded groups (5 types here) — "
        "unbounded-group exact quantiles belong to the built-in "
        "percentile/percentile_approx path "
        "(events_value_percentiles).",
    tags=("pandas-udf", "udaf", "agg"),
)
def events_udaf_iqr_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def _iqr(v: pd.Series) -> float:
        # BOTH SQL NULL and genuine float NaN arrive as NaN in the
        # Arrow->numpy cast (indistinguishable here), so the
        # operator's definition is "IQR over finite values": drop
        # NaN. The oracle mirrors it by NULLing NaN before
        # quantile_cont (whose default would instead sort NaN
        # greatest) — the engine-portable semantic.
        a = v.to_numpy(dtype=np.float64)
        a = a[~np.isnan(a)]
        if a.size == 0:
            return None  # all-NULL group: quantile_cont yields NULL
        return float(np.percentile(a, 75) - np.percentile(a, 25))

    def _n(v: pd.Series) -> int:
        return len(v)

    # Spark refuses to mix a GROUPED_AGG pandas UDF with JVM
    # aggregates in one Aggregate node, so the row count is a second
    # pandas aggregate rather than count(1). The Series -> scalar
    # type hints make both GROUPED_AGG UDFs; they resolve through the
    # module-level pandas import
    iqr_udf = pandas_udf(_iqr, "double")
    n_udf = pandas_udf(_n, "long")

    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.round(iqr_udf(F.col("value")), 6).alias("iqr"),
             n_udf(F.col("value")).alias("n"))
        # output bounded by the event-type domain; the orderBy form's
        # boundary-sampling job re-ran the GROUPED_AGG pandas UDF
        # stage (the whole Python round trip) per action (r12)
        .transform(bounded_sort, "event_type")
    )
