"""Relational operator demos (SURVEY §2.2 P1-P15 + §2.5 absent categories).

Each query maps a reference operator onto the driver's TPC-H-ish star
schema; the docstring cites the reference behavior it re-expresses.
All joins/aggregations are plain DataFrame ops — Catalyst handles
pushdown, pruning, and join strategy; broadcast hints mark the
genuinely-small sides (dimension tables).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F


from boatrace_database_spark.queries._util import cents as _cents
from boatrace_database_spark.queries._util import decsum as _decsum
from boatrace_database_spark.queries._util import load_table as _t


# --------------------------------------------------------------------------
# Flagship: TPC-H Q1 shape — partial-aggregate-friendly wide agg.
def q1_pricing_summary(spark, sf_dir):
    """Wide hash aggregate with map-side partial aggregation (A1
    analog). Money accumulates EXACTLY at long speed (round 12, buying
    back the round-11 decimal tax — q1 measured 2.3× under whole-scan
    DECIMAL(20,6) sums): inputs carry ≤2 fractional digits, so
    fixed-point LONGs (`_util.cents`) are exact, products stay exact
    longs in 1e-4/1e-6 units, and the hot scan runs codegen'd long
    sums. Order-independence + any-scale exactness come from the
    TWO-LEVEL shape: long partials per (group, spark_partition_id())
    — bounded by rows-per-task, ~20× headroom at a 100 TB task sizing,
    ANSI-loud if ever exceeded — then a DECIMAL(38,0) combine over the
    tiny partial table (same shuffle volume as the flat agg; measured
    0.68 s vs decimal's 1.07 s and flat-long's 0.64 s at sf0.1,
    identical value hashes — BENCHNOTES §46). Averages
    divide the exact sum as double by the count — the same double on
    both sides. Outputs stay DOUBLE."""
    l = _t(spark, sf_dir, "lineitem")
    qty_c = _cents(l.l_quantity)
    price_c = _cents(l.l_extendedprice)
    disc_c = _cents(l.l_discount)
    disc_price_u4 = price_c * (F.lit(100).cast("long") - disc_c)
    charge_u6 = disc_price_u4 * (F.lit(100).cast("long") + _cents(l.l_tax))
    partial = (
        l.where(l.l_shipdate <= "1998-09-02")
        .groupBy(
            "l_returnflag",
            "l_linestatus",
            F.spark_partition_id().alias("_pid"),
        )
        .agg(
            F.sum(qty_c).alias("qc"),
            F.sum(price_c).alias("pc"),
            F.sum(disc_c).alias("dc"),
            F.sum(disc_price_u4).alias("dpc"),
            F.sum(charge_u6).alias("chc"),
            F.count("*").alias("n"),
        )
    )
    cnt = F.sum("n")
    return (
        partial.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(_decsum("qc") / 100, 2).cast("double").alias("sum_qty"),
            F.round(_decsum("pc") / 100, 2)
            .cast("double")
            .alias("sum_base_price"),
            F.round(_decsum("dpc") / 10000, 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(_decsum("chc") / 1000000, 2)
            .cast("double")
            .alias("sum_charge"),
            F.round((_decsum("qc") / 100).cast("double") / cnt, 4).alias(
                "avg_qty"
            ),
            F.round((_decsum("pc") / 100).cast("double") / cnt, 4).alias(
                "avg_price"
            ),
            F.round((_decsum("dc") / 100).cast("double") / cnt, 4).alias(
                "avg_disc"
            ),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity::DECIMAL(12,2)), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(l_extendedprice::DECIMAL(12,2)), 2) AS DOUBLE)
         AS sum_base_price,
       CAST(round(sum(l_extendedprice::DECIMAL(12,2)
                      * (1::DECIMAL(3,2) - l_discount::DECIMAL(4,2))), 2)
            AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(l_extendedprice::DECIMAL(12,2)
                      * (1::DECIMAL(3,2) - l_discount::DECIMAL(4,2))
                      * (1::DECIMAL(3,2) + l_tax::DECIMAL(4,2))), 2)
            AS DOUBLE) AS sum_charge,
       round(CAST(sum(l_quantity::DECIMAL(12,2)) AS DOUBLE) / count(*), 4)
         AS avg_qty,
       round(CAST(sum(l_extendedprice::DECIMAL(12,2)) AS DOUBLE) / count(*), 4)
         AS avg_price,
       round(CAST(sum(l_discount::DECIMAL(4,2)) AS DOUBLE) / count(*), 4)
         AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    """3-way join + agg + deterministic top-10 (broadcast the dim
    side). Revenue accumulates as exact fixed-point LONG in 1e-4
    units (round 12): groups are per-ORDER (≤7 lineitems), so a flat
    long sum has ~10 orders of magnitude of overflow headroom at any
    conceivable scale — no two-level shape needed (`_util.cents`
    discipline); exact and order-independent like the round-11
    decimal form it replaces, at codegen'd long speed. Output stays
    DOUBLE."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1996-03-15")
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1996-03-15")
    rev_u4 = _cents(l.l_extendedprice) * (
        F.lit(100).cast("long") - _cents(l.l_discount)
    )
    return (
        l.join(F.broadcast(o), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        # display rounding happens in DECIMAL on the exact long sum —
        # a double /1e4 can sit one ulp under a .xx5 boundary and flip
        # the 2-dp round vs the oracle (the q5 sf1 class); the decimal
        # cast touches only the per-group OUTPUT rows, not the scan
        .agg(
            F.round(F.sum(rev_u4).cast("decimal(38,0)") / 10000, 2)
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderpriority,
       CAST(round(sum(l_extendedprice::DECIMAL(12,2)
                      * (1::DECIMAL(3,2) - l_discount::DECIMAL(4,2))), 2)
            AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_region_revenue(spark, sf_dir):
    """5-way snowflake join; dims broadcast, fact shuffles once.

    Revenue accumulates exactly at long speed (round 12 — the q1
    two-level shape; this query is where the exactness requirement was
    first measured: a double sum at sf1's ~5e8 magnitudes landed a
    2-dp rounding boundary one ulp apart between engines, .93 vs .94).
    Per-nation groups carry whole-table magnitude, so the flat long
    sum that serves q3's bounded groups would overflow at ~100 TB:
    1e-4-unit long partials per (nation, spark_partition_id()) —
    bounded by rows-per-task — then a DECIMAL(38,0) combine over the
    tiny partial table. The output stays DOUBLE."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev_u4 = _cents(l.l_extendedprice) * (
        F.lit(100).cast("long") - _cents(l.l_discount)
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", F.spark_partition_id().alias("_pid"))
        .agg(F.sum(rev_u4).alias("rc"))
        .groupBy("n_name")
        .agg(
            F.round(_decsum("rc") / 10000, 2).cast("double").alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = """
SELECT n_name,
       CAST(round(sum(l_extendedprice::DECIMAL(18,4)
                      * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4))), 2)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --------------------------------------------------------------------------
# P9: single-key inner equi-join (env ⋈ result, main.py:262) — broadcast dim.
def join_single_key(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        # two-level exact money sum (round 12, the q1 shape): 5
        # segment groups carry whole-table magnitude — long partials
        # per (segment, task), decimal combine over the tiny partials
        .groupBy("c_mktsegment", F.spark_partition_id().alias("_pid"))
        .agg(
            F.count("*").alias("n"),
            F.sum(_cents(F.col("o_totalprice"))).alias("tc"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.sum("n").alias("n_orders"),
            F.round(_decsum("tc") / 100, 2).cast("double").alias("total"),
        )
        .orderBy("c_mktsegment")
    )


JOIN_SINGLE_SQL = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(round(sum(o_totalprice::DECIMAL(18,2)), 2) AS DOUBLE) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# P10: composite-key inner equi-join ((レースID, 選手登番), main.py:262).
def join_composite_key(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    per_pair = l.groupBy("l_orderkey", "l_partkey").agg(
        F.round(F.sum("l_quantity"), 2).alias("pair_qty")
    )
    # threshold 60 (not 90): non-degenerate at EVERY testdata scale
    # factor (pairs passing: 22 @ sf0.001, 20 @ sf0.01, 19 @ sf0.1) so
    # the sf0.1 bench times a join with real probe-side output instead
    # of an empty result (round-3 verdict finding).
    return (
        l.join(per_pair, on=["l_orderkey", "l_partkey"], how="inner")
        .where(F.col("pair_qty") > 60)
        .select("l_orderkey", "l_partkey", "l_linenumber", "pair_qty")
        .orderBy("l_orderkey", "l_partkey", "l_linenumber")
    )


JOIN_COMPOSITE_SQL = """
WITH per_pair AS (
  SELECT l_orderkey, l_partkey, round(sum(l_quantity), 2) AS pair_qty
  FROM lineitem GROUP BY l_orderkey, l_partkey
)
SELECT l.l_orderkey, l.l_partkey, l.l_linenumber, p.pair_qty
FROM lineitem l JOIN per_pair p
  ON l.l_orderkey = p.l_orderkey AND l.l_partkey = p.l_partkey
WHERE p.pair_qty > 60
ORDER BY l.l_orderkey, l.l_partkey, l.l_linenumber
"""


# P11: LIKE-prefix filter (read_db.py:19) — becomes partition pruning on a
# date-partitioned table; here shown on a derived date string.
def prefix_filter(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    key = F.date_format("o_orderdate", "yyyy-MM-dd")
    return (
        o.where(key.startswith("1995-03"))
        .select("o_orderkey", key.alias("o_date"), "o_orderpriority")
        .orderBy("o_orderkey")
    )


PREFIX_SQL = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_orderpriority
FROM orders WHERE strftime(o_orderdate, '%Y-%m-%d') LIKE '1995-03%'
ORDER BY o_orderkey
"""


# P12: disjunctive prefix filter (read_db.py:22-27).
def prefix_filter_disjunction(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    key = F.date_format("o_orderdate", "yyyy-MM-dd")
    cond = key.startswith("1995-01") | key.startswith("1995-02") | key.startswith("1996-12")
    return (
        o.where(cond)
        .groupBy(F.substring(key, 1, 7).alias("month"))
        .agg(F.count("*").alias("n"))
        .orderBy("month")
    )


PREFIX_DISJ_SQL = """
SELECT substr(strftime(o_orderdate, '%Y-%m-%d'), 1, 7) AS month, count(*) AS n
FROM orders
WHERE strftime(o_orderdate, '%Y-%m-%d') LIKE '1995-01%'
   OR strftime(o_orderdate, '%Y-%m-%d') LIKE '1995-02%'
   OR strftime(o_orderdate, '%Y-%m-%d') LIKE '1996-12%'
GROUP BY 1 ORDER BY month
"""


# P8: append / bag-union (to_sql 'append', main.py:224).
def append_union(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderdate") < "1996-01-01")
    b = o.where(F.col("o_orderdate") >= "2000-01-01")
    return (
        a.unionByName(b)
        # two-level exact money sum (round 12, the q1 shape): 3 status
        # groups carry whole-table magnitude
        .groupBy("o_orderstatus", F.spark_partition_id().alias("_pid"))
        .agg(
            F.count("*").alias("pn"),
            F.sum(_cents(F.col("o_totalprice"))).alias("tc"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.sum("pn").alias("n"),
            F.round(_decsum("tc") / 100, 2).cast("double").alias("total"),
        )
        .orderBy("o_orderstatus")
    )


APPEND_SQL = """
WITH u AS (
  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
  UNION ALL
  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
)
SELECT o_orderstatus, count(*) AS n,
       CAST(round(sum(o_totalprice::DECIMAL(18,2)), 2) AS DOUBLE) AS total
FROM u GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# P7: sentinel fill (missing payout -> -1, main.py:170,180).
def sentinel_fill(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") >= "2001-06-01")
    per_cust = o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 2).alias("recent"))
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("recent"), F.lit(-1.0)).alias("recent_total"),
        )
        .orderBy("c_custkey")
    )


SENTINEL_SQL = """
WITH per_cust AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS recent
  FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01' GROUP BY o_custkey
)
SELECT c_custkey, coalesce(recent, -1.0) AS recent_total
FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
ORDER BY c_custkey
"""


# P1: regex gate (re.search as row filter, main.py:162).
def regex_gate(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return (
        p.where(F.col("p_name").rlike("^(red|blue) (bolt|widget)$"))
        .select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey")
    )


REGEX_GATE_SQL = """
SELECT p_partkey, p_name, p_brand FROM part
WHERE regexp_matches(p_name, '^(red|blue) (bolt|widget)$')
ORDER BY p_partkey
"""


# P2: regex projection (capture groups -> columns, patterns.py:26-28).
def regex_extract(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.regexp_extract("p_name", r"^(\w+)\s+(\w+)$", 1).alias("color"),
            F.regexp_extract("p_name", r"^(\w+)\s+(\w+)$", 2).alias("item"),
            F.regexp_extract("p_brand", r"#(\d+)$", 1).alias("brand_no"),
        )
        .orderBy("p_partkey")
    )


REGEX_EXTRACT_SQL = """
SELECT p_partkey,
       coalesce(regexp_extract(p_name, '^(\\w+)\\s+(\\w+)$', 1), '') AS color,
       coalesce(regexp_extract(p_name, '^(\\w+)\\s+(\\w+)$', 2), '') AS item,
       coalesce(regexp_extract(p_brand, '#(\\d+)$', 1), '') AS brand_no
FROM part ORDER BY p_partkey
"""


# P5: composite natural-key synthesis (f-string concat, main.py:163).
def concat_key(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.concat(
                F.date_format("o_orderdate", "yyyy-MM-dd"),
                F.col("o_orderpriority"),
                F.col("o_orderkey").cast("string"),
                F.lit("R"),
            ).alias("synth_id"),
        )
        .orderBy("o_orderkey")
    )


CONCAT_KEY_SQL = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') || o_orderpriority
         || CAST(o_orderkey AS VARCHAR) || 'R' AS synth_id
FROM orders ORDER BY o_orderkey
"""


# P4: running counter (race_num += 1 on marker lines, main.py:158-160) —
# the sessionization-counter idiom as a window running sum.
def running_counter(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            "event_id",
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .over(w)
            .alias("clicks_so_far"),
        )
        .orderBy("user_id", "event_id")
    )


RUNNING_COUNTER_SQL = """
SELECT user_id, event_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS clicks_so_far
FROM events ORDER BY user_id, event_id
"""


# P3: stateful last-value propagation (section header context carried to
# every subsequent record, main.py:139-156) — last(ignorenulls) window.
def last_value_propagation(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    signup_val = F.when(F.col("event_type") == "signup", F.col("value"))
    return (
        e.select(
            "user_id",
            "event_id",
            F.round(
                F.coalesce(F.last(signup_val, ignorenulls=True).over(w), F.lit(-1.0)), 4
            ).alias("last_signup_value"),
        )
        .orderBy("user_id", "event_id")
    )


LAST_VALUE_SQL = """
SELECT user_id, event_id,
       round(coalesce(
         last_value(CASE WHEN event_type = 'signup' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         -1.0), 4) AS last_signup_value
FROM events ORDER BY user_id, event_id
"""


# P6: fixed-offset lookahead (odds stanza consumes the next k lines,
# main.py:166-185) — lead(k) over an ordered per-key sequence.
def stanza_lookahead(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            "event_id",
            "event_type",
            F.coalesce(F.lead("event_type", 1).over(w), F.lit("-1")).alias("next1"),
            F.coalesce(F.lead("event_type", 2).over(w), F.lit("-1")).alias("next2"),
        )
        .orderBy("user_id", "event_id")
    )


STANZA_SQL = """
SELECT user_id, event_id, event_type,
       coalesce(lead(event_type, 1) OVER w, '-1') AS next1,
       coalesce(lead(event_type, 2) OVER w, '-1') AS next2
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
"""


# P15: date-range driver (calendar.monthrange loop, main.py:270-279) —
# declarative sequence() explode.
def date_range_explode(spark, sf_dir):
    return spark.sql(
        """
        SELECT CAST(d AS STRING) AS day
        FROM (SELECT explode(sequence(DATE '2020-08-01', DATE '2020-09-30')) AS d)
        ORDER BY day
        """
    )


DATE_RANGE_SQL = """
SELECT CAST(unnest(generate_series(DATE '2020-08-01', DATE '2020-09-30',
                                   INTERVAL 1 DAY)) AS VARCHAR)[:10] AS day
ORDER BY day
"""


# P13: full select / schema inspect (SELECT * FROM race, read_db.py:36).
def full_select(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    return n.select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")


FULL_SELECT_SQL = """
SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "join_single_key": join_single_key,
    "join_composite_key": join_composite_key,
    "prefix_filter": prefix_filter,
    "prefix_filter_disjunction": prefix_filter_disjunction,
    "append_union": append_union,
    "sentinel_fill": sentinel_fill,
    "regex_gate": regex_gate,
    "regex_extract": regex_extract,
    "concat_key": concat_key,
    "running_counter": running_counter,
    "last_value_propagation": last_value_propagation,
    "stanza_lookahead": stanza_lookahead,
    "date_range_explode": date_range_explode,
    "full_select": full_select,
}

ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_region_revenue": Q5_SQL,
    "join_single_key": JOIN_SINGLE_SQL,
    "join_composite_key": JOIN_COMPOSITE_SQL,
    "prefix_filter": PREFIX_SQL,
    "prefix_filter_disjunction": PREFIX_DISJ_SQL,
    "append_union": APPEND_SQL,
    "sentinel_fill": SENTINEL_SQL,
    "regex_gate": REGEX_GATE_SQL,
    "regex_extract": REGEX_EXTRACT_SQL,
    "concat_key": CONCAT_KEY_SQL,
    "running_counter": RUNNING_COUNTER_SQL,
    "last_value_propagation": LAST_VALUE_SQL,
    "stanza_lookahead": STANZA_SQL,
    "date_range_explode": DATE_RANGE_SQL,
    "full_select": FULL_SELECT_SQL,
}
