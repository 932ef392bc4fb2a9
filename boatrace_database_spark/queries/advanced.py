"""Advanced relational demos: correlated subqueries, window frames,
sessionization, ordered string aggregation, min_by/max_by, date/null
batteries, and the salted skew-join technique (result is salt-invariant,
so the oracle checks it like any plain join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from boatrace_database_spark.queries._util import cents as _cents
from boatrace_database_spark.queries._util import (
    cohort_retention_sql as _cohort_retention_sql,
)
from boatrace_database_spark.queries._util import decsum as _decsum
from boatrace_database_spark.queries._util import load_table as _t


# correlated scalar subquery: orders priced above their customer's average.
def correlated_scalar_subquery(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    # exact flat LONG cent sum (round 12, `_util.cents`): groups are
    # per-CUSTOMER (bounded order counts), so overflow headroom is ~9
    # orders of magnitude and no two-level shape is needed; the cast
    # to double happens on the exact per-customer total, matching the
    # oracle's CAST(sum(...) AS DOUBLE) on the same exact value
    avg_per_cust = o.groupBy("o_custkey").agg(
        ((F.sum(_cents(F.col("o_totalprice"))) / 100).cast("double")
         / F.count(F.lit(1))).alias("cust_avg")
    )
    return (
        o.join(F.broadcast(avg_per_cust), on="o_custkey")
        .where(F.col("o_totalprice") > F.col("cust_avg") * 1.5)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
        .orderBy("o_orderkey")
    )


CORRELATED_SQL = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
FROM orders o
WHERE o_totalprice > 1.5 * (
  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
  FROM orders i WHERE i.o_custkey = o.o_custkey)
ORDER BY o_orderkey
"""


# HAVING: post-aggregation filter.
def having_filter(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .where(F.col("n") >= 120)
        .orderBy("l_suppkey")
    )


HAVING_SQL = """
SELECT l_suppkey, count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem GROUP BY l_suppkey HAVING count(*) >= 120
ORDER BY l_suppkey
"""


# min_by / max_by: the argmin/argmax aggregate.
def min_max_by(spark, sf_dir):
    """min_by/max_by semantics, tie-PROOF (round 11): a bare
    ``min_by(key, price)`` is nondeterministic when the extremum price
    repeats — invisible at sf0.01/0.1 where prices are unique, but the
    sf1 replica data ties them and the sweep caught Spark and DuckDB
    picking different rows. Both sides now take the lexicographic
    min/max of ``struct(price, key)`` — the deterministic form of the
    same operator at any scale (ties break to the smallest/largest
    key)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.min(F.struct("o_totalprice", "o_orderkey"))
            .getField("o_orderkey")
            .alias("cheapest_order"),
            F.max(F.struct("o_totalprice", "o_orderkey"))
            .getField("o_orderkey")
            .alias("priciest_order"),
        )
        .orderBy("o_orderpriority")
    )


MIN_MAX_BY_SQL = """
SELECT o_orderpriority,
       (min(struct_pack(p := o_totalprice, k := o_orderkey))).k
         AS cheapest_order,
       (max(struct_pack(p := o_totalprice, k := o_orderkey))).k
         AS priciest_order
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# ordered string aggregation (deterministic via sort).
def string_agg_sorted(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
        )
        .orderBy("r_name")
    )


STRING_AGG_SQL = """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


# RANGE window frame over event time: per-user sum of the trailing 10 minutes.
def window_range_frame(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    secs = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(secs)
        .rangeBetween(-600, 0)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(w), 2).alias("trailing_10m"),
        )
        .orderBy("user_id", "event_id")
    )


RANGE_FRAME_SQL = """
SELECT user_id, event_id,
       round(sum(value) OVER (
         PARTITION BY user_id ORDER BY epoch(date_trunc('second', ts))
         RANGE BETWEEN 600 PRECEDING AND CURRENT ROW), 2) AS trailing_10m
FROM events ORDER BY user_id, event_id
"""


# ROWS frame moving average.
def moving_avg_rows(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(-2, 0)
    # exact fixed-point LONG frame sum (round 12, `_util.cents`): the
    # 3-row frame bounds the sum trivially, and the sliding decimal
    # accumulator it replaces paid BigDecimal per row; /100 is IEEE
    # correctly-rounded onto the exact cent total, matching the
    # oracle's CAST(exact-decimal AS DOUBLE) bit for bit
    ma3 = (
        (F.sum(_cents(F.col("o_totalprice"))).over(w) / 100)
        / F.count(F.lit(1)).over(w)
    )
    return (
        o.select("o_custkey", "o_orderkey", ma3.alias("ma3"))
        .orderBy("o_custkey", "o_orderkey")
    )


MOVING_AVG_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
         / count(*) OVER w AS ma3
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
"""


# ntile / cume_dist / percent_rank.
def ntile_cume(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = Window.orderBy(F.round("c_acctbal", 2), "c_custkey")
    return (
        c.select(
            "c_custkey",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        )
        .orderBy("c_custkey")
    )


NTILE_SQL = """
SELECT c_custkey,
       ntile(4) OVER w AS quartile,
       round(cume_dist() OVER w, 6) AS cume,
       round(percent_rank() OVER w, 6) AS pct_rank
FROM customer
WINDOW w AS (ORDER BY round(c_acctbal, 2), c_custkey)
ORDER BY c_custkey
"""


# sessionization: gap > 30 min starts a new session (lag + running sum).
def sessionize_gaps(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    secs = F.unix_timestamp("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = secs - F.lag(secs).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = (
        e.withColumn("new_s", new_session)
        .withColumn("session_no", F.sum("new_s").over(wcum))
    )
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id", "session_no")
    )


SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(date_trunc('second', ts)) - epoch(date_trunc('second', lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
  FROM g
)
SELECT user_id, session_no, count(*) AS n_events
FROM s GROUP BY user_id, session_no ORDER BY user_id, session_no
"""


# skew technique: salted aggregation — hot keys split across salts, then
# merged. The result is salt-invariant, so the oracle is the plain agg.
def salted_skew_agg(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    salted = e.withColumn("salt", F.pmod(F.col("event_id"), F.lit(8)))
    # the salt split IS the two-level money shape (round 12): exact
    # LONG cent partials per (type, salt) on the hot scan, DECIMAL
    # combine over the 8-per-type partial rows
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_cents(F.col("value"))).alias("vc"),
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("n").alias("n"),
            (_decsum("vc") / 100).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


SALTED_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type ORDER BY event_type
"""


# date/time scalar battery.
def date_battery(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return (
        o.select(
            "o_orderkey",
            F.year(d).alias("y"),
            F.month(d).alias("m"),
            F.dayofmonth(d).alias("dom"),
            F.dayofweek(d).alias("dow"),
            F.quarter(d).alias("q"),
            F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
            F.datediff(F.lit("2002-01-01").cast("date"), d.cast("date")).alias("days_to_2002"),
        )
        .orderBy("o_orderkey")
    )


DATE_SQL = """
SELECT o_orderkey,
       year(o_orderdate) AS y, month(o_orderdate) AS m,
       dayofmonth(o_orderdate) AS dom, dayofweek(o_orderdate) + 1 AS dow,
       quarter(o_orderdate) AS q,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002
FROM orders ORDER BY o_orderkey
"""


# null-handling battery.
def null_battery(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    agg = o.groupBy("o_custkey").agg(F.max(F.round("o_totalprice", 2)).alias("big"))
    j = c.join(agg, c.c_custkey == agg.o_custkey, "left")
    return (
        j.select(
            "c_custkey",
            F.coalesce("big", F.lit(0.0)).alias("big_or_zero"),
            F.col("big").isNull().cast("int").alias("is_missing"),
            F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("seg_or_null"),
            F.nvl2(F.col("big"), F.lit("has"), F.lit("none")).alias("presence"),
        )
        .orderBy("c_custkey")
    )


NULL_SQL = """
WITH agg AS (
  SELECT o_custkey, max(round(o_totalprice, 2)) AS big
  FROM orders WHERE o_totalprice > 450000 GROUP BY o_custkey
)
SELECT c_custkey,
       coalesce(big, 0.0) AS big_or_zero,
       CAST(big IS NULL AS INT) AS is_missing,
       nullif(c_mktsegment, 'MACHINERY') AS seg_or_null,
       CASE WHEN big IS NOT NULL THEN 'has' ELSE 'none' END AS presence
FROM customer LEFT JOIN agg ON c_custkey = o_custkey
ORDER BY c_custkey
"""


# union distinct set op.
def union_distinct(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = c.where(F.col("c_acctbal") > 9000).select("c_nationkey")
    return a.union(b).distinct().orderBy("c_nationkey")


UNION_DISTINCT_SQL = """
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION
SELECT c_nationkey FROM customer WHERE c_acctbal > 9000
ORDER BY c_nationkey
"""


# first_value / nth_value / dense_rank battery.
def window_value_funcs(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.first("o_orderkey").over(wall).alias("first_order"),
            F.nth_value("o_orderkey", 2).over(wall).alias("second_order"),
            F.dense_rank().over(
                Window.partitionBy("o_custkey").orderBy("o_orderpriority")
            ).alias("prio_rank"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


WINDOW_VALUE_SQL = """
SELECT o_custkey, o_orderkey,
       first_value(o_orderkey) OVER wall AS first_order,
       nth_value(o_orderkey, 2) OVER wall AS second_order,
       dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS prio_rank
FROM orders
WINDOW wall AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_custkey, o_orderkey
"""


def table_audit_orders(spark, sf_dir):
    """Declarative data-quality audit (validate.audit_table): seven
    expectations over orders — null checks, a price range, a priority
    regex, two uniqueness keys, and the customer foreign key — with
    the scalar checks fused into ONE conditional-aggregate scan and
    the FK as a single anti-join. The mix is deliberate: some rules
    pass (0 violations), some fail (the range and the non-key
    o_custkey uniqueness), so the audit-as-a-table contract is
    visible, not vacuous."""
    from boatrace_database_spark.operators.validate import audit_table

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return audit_table(
        o,
        not_null=["o_orderkey", "o_custkey"],
        ranges={"o_totalprice": (0, 200000)},
        matches={"o_orderpriority": r"^[1-5]-"},
        unique=[["o_orderkey"], ["o_custkey"]],
        foreign_keys=[(["o_custkey"], c, ["c_custkey"])],
    )


TABLE_AUDIT_SQL = """
WITH scalar AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS v_nn_okey,
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS v_nn_ckey,
         CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                        AND (o_totalprice < 0 OR o_totalprice > 200000)
                   THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
         CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                        AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                   THEN 1 ELSE 0 END) AS BIGINT) AS v_rx,
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_u_okey,
         CAST(count(*) - count(DISTINCT o_custkey) AS BIGINT) AS v_u_ckey
  FROM orders
),
fk AS (
  SELECT CAST(count(*) AS BIGINT) AS rows_checked,
         CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS violations
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_custkey IS NOT NULL
)
SELECT * FROM (
  SELECT 'not_null' AS rule, 'o_orderkey' AS target,
         v_nn_okey AS violations, n AS rows_checked FROM scalar
  UNION ALL
  SELECT 'not_null', 'o_custkey', v_nn_ckey, n FROM scalar
  UNION ALL
  SELECT 'range', 'o_totalprice[0,200000]', v_range, n FROM scalar
  UNION ALL
  SELECT 'matches', 'o_orderpriority~^[1-5]-', v_rx, n FROM scalar
  UNION ALL
  SELECT 'unique', 'o_orderkey', v_u_okey, n FROM scalar
  UNION ALL
  SELECT 'unique', 'o_custkey', v_u_ckey, n FROM scalar
  UNION ALL
  SELECT 'foreign_key', 'o_custkey', violations, rows_checked FROM fk
)
ORDER BY rule, target
"""


def scd2_user_state(spark, sf_dir):
    """Type-2 SCD history (warehouse.scd2_rebuild): each user's
    event_type as a tracked attribute — one validity interval per run
    of equal values, consecutive re-statements collapsed, open row's
    effective_to NULL. The oracle repeats the change-flag + filtered
    lead windows."""
    from boatrace_database_spark.warehouse import scd2_rebuild

    e = _t(spark, sf_dir, "events")
    return scd2_rebuild(
        e, ["user_id"], "ts", ["event_type"], tiebreak_cols=["event_id"]
    ).orderBy("user_id", "effective_from", "event_type")


SCD2_SQL = """
WITH flag AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type IS DISTINCT FROM lag(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_type, ts AS effective_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS effective_to
FROM flag WHERE chg = 1
ORDER BY user_id, effective_from, event_type
"""


# staged conversion funnel over the event log: first view → first
# click at-or-after it → first purchase at-or-after that, with the
# conversion count and mean hours-from-entry per stage.
def funnel_conversion(spark, sf_dir):
    from boatrace_database_spark.operators import behavior

    e = _t(spark, sf_dir, "events")
    return behavior.funnel_summary(e, ["view", "click", "purchase"])


def _funnel_oracle(within_seconds=None):
    """One source for both funnel oracles: the windowed variant adds
    only the two conversion-window predicates (anchored at s1/s2's
    carried t1), so a future edit to the CTE chain cannot silently
    diverge between the two strings."""
    w2 = w3 = ""
    if within_seconds is not None:
        w2 = (f"\n    AND date_diff('second', s1.t1, e.ts)"
              f" <= {within_seconds}")
        w3 = (f"\n    AND date_diff('second', s2.t1, e.ts)"
              f" <= {within_seconds}")
    return f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2, min(s1.t1) AS t1
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts >= s1.t1{w2}
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3, min(s2.t1) AS t1
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2{w3}
  GROUP BY e.user_id
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name,
         CAST(count(*) AS BIGINT) AS users,
         round(avg(date_diff('second', t1, t1)) / 3600.0, 3)
           AS avg_hours_from_entry
  FROM s1
  UNION ALL
  SELECT CAST(2 AS BIGINT), 'click', CAST(count(*) AS BIGINT),
         round(avg(date_diff('second', t1, t2)) / 3600.0, 3) FROM s2
  UNION ALL
  SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT),
         round(avg(date_diff('second', t1, t3)) / 3600.0, 3) FROM s3
) ORDER BY stage
"""


FUNNEL_SQL = _funnel_oracle()

# the same funnel under a 24-hour conversion window: later stages only
# count within 86,400 s of the user's funnel entry (anchored at t_1,
# no re-anchoring — the standard product-analytics convention).
def funnel_windowed(spark, sf_dir):
    from boatrace_database_spark.operators import behavior

    e = _t(spark, sf_dir, "events")
    return behavior.funnel_summary(
        e, ["view", "click", "purchase"], within_seconds=86_400
    )


FUNNEL_WINDOWED_SQL = _funnel_oracle(86_400)

# weekly cohort-retention grid: cohort = ISO week of first signup,
# retained in offset w if any event falls w whole weeks (day-exact)
# after the first signup.
def cohort_retention_grid(spark, sf_dir):
    from boatrace_database_spark.operators import behavior

    e = _t(spark, sf_dir, "events")
    return behavior.cohort_retention(e, cohort_event="signup")


COHORT_SQL = "\nWITH " + _cohort_retention_sql("events", "user_id", "signup")


# first-order Markov transition matrix over per-user event sequences
# (journey mining: every next-step edge with its probability).
def event_transitions_matrix(spark, sf_dir):
    from boatrace_database_spark.operators import behavior

    e = _t(spark, sf_dir, "events")
    return behavior.event_transitions(e)


TRANSITIONS_SQL = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
), agg AS (
  SELECT from_type, to_type, count(*) AS n
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       round(n / sum(n) OVER (PARTITION BY from_type), 4) AS p
FROM agg
ORDER BY from_type, to_type
"""


QUERIES = {
    "correlated_scalar_subquery": correlated_scalar_subquery,
    "having_filter": having_filter,
    "min_max_by": min_max_by,
    "string_agg_sorted": string_agg_sorted,
    "window_range_frame": window_range_frame,
    "moving_avg_rows": moving_avg_rows,
    "ntile_cume": ntile_cume,
    "sessionize_gaps": sessionize_gaps,
    "salted_skew_agg": salted_skew_agg,
    "date_battery": date_battery,
    "null_battery": null_battery,
    "union_distinct": union_distinct,
    "window_value_funcs": window_value_funcs,
    "table_audit_orders": table_audit_orders,
    "scd2_user_state": scd2_user_state,
    "funnel_conversion": funnel_conversion,
    "funnel_windowed": funnel_windowed,
    "cohort_retention": cohort_retention_grid,
    "event_transitions": event_transitions_matrix,
}

ORACLES = {
    "correlated_scalar_subquery": CORRELATED_SQL,
    "having_filter": HAVING_SQL,
    "min_max_by": MIN_MAX_BY_SQL,
    "string_agg_sorted": STRING_AGG_SQL,
    "window_range_frame": RANGE_FRAME_SQL,
    "moving_avg_rows": MOVING_AVG_SQL,
    "ntile_cume": NTILE_SQL,
    "sessionize_gaps": SESSIONIZE_SQL,
    "salted_skew_agg": SALTED_SQL,
    "date_battery": DATE_SQL,
    "null_battery": NULL_SQL,
    "union_distinct": UNION_DISTINCT_SQL,
    "window_value_funcs": WINDOW_VALUE_SQL,
    "table_audit_orders": TABLE_AUDIT_SQL,
    "scd2_user_state": SCD2_SQL,
    "funnel_conversion": FUNNEL_SQL,
    "funnel_windowed": FUNNEL_WINDOWED_SQL,
    "cohort_retention": COHORT_SQL,
    "event_transitions": TRANSITIONS_SQL,
}
