"""Analytics demos: the reference's published Colab surface (SURVEY §2.3
A1-A4) plus every §2.5 'absent category' covered by a Spark builtin
(sorts, windows, rollup/cube, distinct, semi/anti/outer/range joins,
set ops, scalar/JSON functions, sampling, percentiles, time windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


from boatrace_database_spark.operators import text as TX
from boatrace_database_spark.queries._util import cents as _cents
from boatrace_database_spark.queries._util import decsum as _decsum
from boatrace_database_spark.queries._util import load_table as _t


# --------------------------------------------------------------------------
# A1: per-player aggregate features (starts / wins / mean ST — README.md:19)
# mapped to per-customer order features. Conditional counts via when().
def agg_features(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
            F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("n_urgent"),
            # exact flat LONG cent sum (round 12): bounded per-customer
            # groups, ~9 orders of magnitude of headroom (`_util.cents`)
            ((F.sum(_cents(F.col("o_totalprice"))) / 100)
             / F.count(F.lit(1))).alias("avg_price"),
        )
        .orderBy("o_custkey")
    )


AGG_FEATURES_SQL = """
SELECT o_custkey,
       count(*) AS n_orders,
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
       count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
FROM orders GROUP BY o_custkey ORDER BY o_custkey
"""


# A1b: the avg_start_timing shape (gold.result_ext_typed +
# analytics.player_features; reference README.md:19 平均スタートタイミング):
# parse a flag-prefixed string field into a boolean + numeric component,
# then aggregate per entity — here o_orderpriority '1-URGENT' stands in
# for the 'F0.01' start-timing string.
def flag_timing_features(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    pr_num = F.nullif(
        F.regexp_extract("o_orderpriority", r"^(\d+)-", 1), F.lit("")
    ).try_cast("int")
    return (
        o.select(
            "o_custkey",
            F.col("o_orderpriority").startswith("1").alias("is_urgent"),
            pr_num.alias("pr"),
        )
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.count(F.when(F.col("is_urgent"), 1)).alias("n_urgent"),
            F.round(F.avg("pr"), 4).alias("avg_priority"),
        )
        .orderBy("o_custkey")
    )


FLAG_TIMING_SQL = r"""
SELECT o_custkey,
       count(*) AS n_orders,
       count(CASE WHEN o_orderpriority LIKE '1%' THEN 1 END) AS n_urgent,
       round(avg(CAST(nullif(regexp_extract(o_orderpriority, '^(\d+)-', 1), '') AS INT)), 4) AS avg_priority
FROM orders GROUP BY o_custkey ORDER BY o_custkey
"""


# A2: feature-table assembly — aggregates joined back per entity
# (broadcast: the agg side is one row per customer).
def feature_assembly(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    feats = o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        # exact flat LONG cent sum (round 12; bounded per-customer groups)
        ((F.sum(_cents(F.col("o_totalprice"))) / 100)
             / F.count(F.lit(1))).alias("avg_price"),
    )
    return (
        o.join(F.broadcast(feats), on="o_custkey")
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("price"),
            "n_orders",
            "avg_price",
        )
        .orderBy("o_orderkey")
    )


FEATURE_ASSEMBLY_SQL = """
WITH feats AS (
  SELECT o_custkey, count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
  FROM orders GROUP BY o_custkey
)
SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS price,
       f.n_orders, f.avg_price
FROM orders o JOIN feats f ON o.o_custkey = f.o_custkey
ORDER BY o.o_orderkey
"""


# A3: ROI simulation — join predictions with payouts, conditional-sum per
# bet type (README.md:23-35). "Predicted" = deterministic rule.
def roi_simulation(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    hit = F.col("l_returnflag") == "N"
    # two-level exact money sum (round 12, the q1 shape): the 2-3
    # status groups sum the whole fact table — long cent partials per
    # (status, task), decimal combine; exact at any scale at long speed
    payout_c = F.sum(
        F.when(hit, _cents(l.l_extendedprice)).otherwise(F.lit(0).cast("long"))
    )
    payout_dec = _decsum("pc") / 100
    return (
        l.groupBy("l_linestatus", F.spark_partition_id().alias("_pid"))
        .agg(F.count("*").alias("n"), payout_c.alias("pc"))
        .groupBy("l_linestatus")
        .agg(
            F.sum("n").alias("n_bets"),
            F.round(payout_dec, 2).cast("double").alias("payout"),
            F.round(
                payout_dec.cast("double") / (100.0 * F.sum("n")), 6
            ).alias("roi"),
        )
        .orderBy("l_linestatus")
    )


ROI_SQL = """
SELECT l_linestatus,
       count(*) AS n_bets,
       CAST(round(sum(CASE WHEN l_returnflag = 'N'
                           THEN l_extendedprice::DECIMAL(18,2)
                           ELSE 0::DECIMAL(18,2) END), 2) AS DOUBLE) AS payout,
       round(CAST(sum(CASE WHEN l_returnflag = 'N'
                           THEN l_extendedprice::DECIMAL(18,2)
                           ELSE 0::DECIMAL(18,2) END) AS DOUBLE)
             / (100.0 * count(*)), 6) AS roi
FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
"""


# A4: accuracy metrics — hit-rate per bet type (README.md:37-44).
def accuracy_metrics(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    hit = (F.col("event_type") == "purchase") & (F.col("value") > 50)
    return (
        e.groupBy("event_type")
        .agg(F.round(F.avg(F.when(hit, 1).otherwise(0)), 6).alias("hit_rate"))
        .orderBy("event_type")
    )


ACCURACY_SQL = """
SELECT event_type,
       round(avg(CASE WHEN event_type = 'purchase' AND value > 50
                 THEN 1 ELSE 0 END), 6) AS hit_rate
FROM events GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------------------
# sorts / limits / top-k (absent in reference — §2.5).
def topk_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .orderBy(F.desc("price"), "o_orderkey")
        .limit(25)
    )


TOPK_SQL = """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders ORDER BY price DESC, o_orderkey LIMIT 25
"""


# window ranking: top-3 customers by balance per nation.
def window_rank_per_group(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc(F.round("c_acctbal", 2)), "c_custkey"
    )
    return (
        c.select(
            "c_nationkey",
            "c_custkey",
            F.round("c_acctbal", 2).alias("bal"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 3)
        .orderBy("c_nationkey", "rn")
    )


WINDOW_RANK_SQL = """
SELECT * FROM (
  SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS bal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY round(c_acctbal, 2) DESC, c_custkey) AS rn
  FROM customer
) WHERE rn <= 3 ORDER BY c_nationkey, rn
"""


def window_lag_lead(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.coalesce(F.lag("o_orderkey", 1).over(w), F.lit(-1)).alias("prev_order"),
            F.coalesce(F.lead("o_orderkey", 1).over(w), F.lit(-1)).alias("next_order"),
            F.rank().over(w).alias("order_seq"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


WINDOW_LAG_SQL = """
SELECT o_custkey, o_orderkey,
       coalesce(lag(o_orderkey, 1) OVER w, -1) AS prev_order,
       coalesce(lead(o_orderkey, 1) OVER w, -1) AS next_order,
       rank() OVER w AS order_seq
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


# grouping sets / rollup / cube.
def rollup_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    # two-level exact money sum under ROLLUP (round 12, the q1 shape):
    # the ALL row carries whole-table magnitude, so cent partials are
    # pre-reduced per (status, priority, task) — a PLAIN groupBy, NOT a
    # rollup, so each input row feeds exactly one partial — and the
    # rollup's grouping-set expansion runs over the tiny partial table
    # with decimal combines
    partial = o.groupBy(
        "o_orderstatus", "o_orderpriority", F.spark_partition_id().alias("_pid")
    ).agg(
        F.count("*").alias("pn"),
        F.sum(_cents(F.col("o_totalprice"))).alias("tc"),
    )
    return (
        partial.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum("pn").alias("n"),
            F.round(_decsum("tc") / 100, 2).cast("double").alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
        .orderBy("status", "priority")
    )


ROLLUP_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n,
       CAST(round(sum(o_totalprice::DECIMAL(18,2)), 2) AS DOUBLE) AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


def cube_agg(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "n",
        )
        .orderBy("rf", "ls")
    )


CUBE_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
       count(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY rf, ls
"""


def grouping_sets(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(GROUPING_SETS_SQL)


GROUPING_SETS_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
ORDER BY status, priority
"""


# distinct / dedup (reference has the dup-append defect instead — §2.4).
def distinct_pairs(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return (
        c.select("c_mktsegment", "c_nationkey").distinct().orderBy(
            "c_mktsegment", "c_nationkey"
        )
    )


DISTINCT_SQL = """
SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
ORDER BY c_mktsegment, c_nationkey
"""


def count_distinct_agg(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
        .orderBy("l_returnflag")
    )


COUNT_DISTINCT_SQL = """
SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# semi / anti / outer joins (§2.5).
def semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


SEMI_SQL = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
ORDER BY c_custkey
"""


def anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def outer_join(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    per_nation = s.groupBy("s_nationkey").agg(F.count("*").alias("n_supp"))
    return (
        n.join(per_nation, n.n_nationkey == per_nation.s_nationkey, "left")
        .select("n_nationkey", "n_name", F.coalesce("n_supp", F.lit(0)).alias("n_supp"))
        .orderBy("n_nationkey")
    )


OUTER_SQL = """
WITH per_nation AS (
  SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY s_nationkey
)
SELECT n_nationkey, n_name, coalesce(n_supp, 0) AS n_supp
FROM nation LEFT JOIN per_nation ON n_nationkey = s_nationkey
ORDER BY n_nationkey
"""


# theta / range join: non-equi band join of parts into price brackets.
def range_join(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    brackets = spark.createDataFrame(
        [(0, 0.0, 500.0), (1, 500.0, 1000.0), (2, 1000.0, 1500.0), (3, 1500.0, 1e9)],
        "bracket INT, lo DOUBLE, hi DOUBLE",
    )
    return (
        p.join(
            F.broadcast(brackets),
            (p.p_retailprice >= brackets.lo) & (p.p_retailprice < brackets.hi),
        )
        .groupBy("bracket")
        .agg(F.count("*").alias("n"), F.round(F.avg("p_retailprice"), 4).alias("avg_price"))
        .orderBy("bracket")
    )


RANGE_JOIN_SQL = """
WITH brackets(bracket, lo, hi) AS (
  VALUES (0, 0.0, 500.0), (1, 500.0, 1000.0), (2, 1000.0, 1500.0), (3, 1500.0, 1e9)
)
SELECT bracket, count(*) AS n, round(avg(p_retailprice), 4) AS avg_price
FROM part JOIN brackets ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY bracket ORDER BY bracket
"""


# set ops.
def intersect_setop(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = c.where(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey")
    return a.intersect(b).orderBy("c_nationkey")


INTERSECT_SQL = """
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
ORDER BY c_nationkey
"""


def except_setop(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    all_cust = c.select("c_custkey")
    with_orders = o.select(F.col("o_custkey").alias("c_custkey"))
    return all_cust.exceptAll(with_orders.distinct()).orderBy("c_custkey")


EXCEPT_SQL = """
SELECT c_custkey FROM customer
EXCEPT ALL
SELECT DISTINCT o_custkey AS c_custkey FROM orders
ORDER BY c_custkey
"""


# scalar string/date/math battery (§2.5: only implicit in reference).
def scalar_battery(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    return (
        n.select(
            "n_nationkey",
            F.upper("n_name").alias("up"),
            F.lower("n_name").alias("lo"),
            F.length("n_name").alias("len"),
            F.substring("n_name", 1, 3).alias("pre3"),
            F.concat_ws("-", "n_name", F.col("n_nationkey").cast("string")).alias("tag"),
            F.abs(F.col("n_nationkey") - 10).alias("dist10"),
            F.pmod(F.col("n_nationkey"), F.lit(5)).alias("mod5"),
            F.round(F.sqrt(F.col("n_nationkey").cast("double")), 6).alias("root"),
        )
        .orderBy("n_nationkey")
    )


SCALAR_SQL = """
SELECT n_nationkey, upper(n_name) AS up, lower(n_name) AS lo,
       length(n_name) AS len, substr(n_name, 1, 3) AS pre3,
       n_name || '-' || CAST(n_nationkey AS VARCHAR) AS tag,
       abs(n_nationkey - 10) AS dist10,
       n_nationkey % 5 AS mod5,
       round(sqrt(CAST(n_nationkey AS DOUBLE)), 6) AS root
FROM nation ORDER BY n_nationkey
"""


# full-width <-> half-width normalization (SURVEY §7 M7: the venue/
# race-name normalization aid) — demonstrated as an exact roundtrip:
# widen ASCII names to the zenkaku block, fold back, compare.
def width_normalize_battery(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    wide = TX.widen_width(F.col("n_name"))
    back = TX.normalize_width(wide)
    return (
        n.select(
            "n_nationkey",
            wide.alias("wide"),
            back.alias("back"),
            (back == F.col("n_name")).alias("roundtrip_ok"),
        )
        .orderBy("n_nationkey")
    )


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


WIDTH_NORMALIZE_SQL = f"""
SELECT n_nationkey, wide, back, back = n_name AS roundtrip_ok
FROM (
  SELECT n_nationkey, n_name, wide,
         translate(wide, {_sql_quote(TX.FULLWIDTH_CHARS)}, {_sql_quote(TX.HALFWIDTH_CHARS)}) AS back
  FROM (
    SELECT n_nationkey, n_name,
           translate(n_name, {_sql_quote(TX.HALFWIDTH_CHARS)}, {_sql_quote(TX.FULLWIDTH_CHARS)}) AS wide
    FROM nation
  )
)
ORDER BY n_nationkey
"""


# JSON extraction (events.props is a JSON string).
def json_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_id", k.alias("k"))
        .where(k > 90)
        .orderBy("event_id")
    )


JSON_SQL = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) > 90
ORDER BY event_id
"""


# pivot / unpivot.
def pivot_wide(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    return (
        e.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("user_id")
    )


PIVOT_SQL = """
SELECT user_id,
       count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS view
FROM events GROUP BY user_id ORDER BY user_id
"""


def unpivot_stack(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    # exact flat LONG cent sum (round 12): per-nation balance groups
    # are far inside the flat-form headroom (`_util.cents`)
    bal_c = _cents(F.col("c_acctbal"))
    wide = c.groupBy("c_nationkey").agg(
        (F.sum(bal_c) / 100).alias("total_bal"),
        ((F.sum(bal_c) / 100) / F.count(F.lit(1))).alias("avg_bal"),
    )
    return (
        wide.selectExpr(
            "c_nationkey",
            "stack(2, 'total_bal', total_bal, 'avg_bal', avg_bal) AS (metric, val)",
        )
        .orderBy("c_nationkey", "metric")
    )


UNPIVOT_SQL = """
WITH wide AS (
  SELECT c_nationkey,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
  FROM customer GROUP BY c_nationkey
)
SELECT c_nationkey, metric, val FROM (
  SELECT c_nationkey, 'total_bal' AS metric, total_bal AS val FROM wide
  UNION ALL
  SELECT c_nationkey, 'avg_bal' AS metric, avg_bal AS val FROM wide
) ORDER BY c_nationkey, metric
"""


# sampling: deterministic systematic sample (engine-portable, unlike rand()).
def sample_systematic(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.where(F.pmod("event_id", F.lit(97)) == 0)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    )


SAMPLE_SQL = """
SELECT event_id, user_id, event_type FROM events
WHERE event_id % 97 = 0 ORDER BY event_id
"""


# percentiles: exact interpolated percentile (matches quantile_cont).
def percentile_quantile(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", 0.5), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", 0.9), 4).alias("p90"),
        )
        .orderBy("o_orderstatus")
    )


PERCENTILE_SQL = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# tumbling time window (batch shape of the streaming rollup).
def time_tumble(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            "n",
            "total",
        )
        .orderBy("bucket", "event_type")
    )


TIME_TUMBLE_SQL = """
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS bucket,
       event_type, count(*) AS n, round(sum(value), 2) AS total
FROM events GROUP BY 1, 2 ORDER BY bucket, event_type
"""


# sliding (hopping) time window: 1-hour windows every 30 minutes, so
# each event lands in exactly two windows — F.window's slideDuration
# does the fan-out JVM-side (the batch shape of a streaming hopping
# aggregate; at scale this is one explode-by-2 + the same keyed
# partial-agg shuffle as the tumble).
def time_hopping(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            "n",
            "total",
        )
        .orderBy("bucket", "event_type")
    )


# oracle fans each event out to its two covering window starts
# explicitly: the 30-min-aligned bucket and the one 30 min earlier
TIME_HOPPING_SQL = """
WITH fanned AS (
  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL (o.off) MINUTE AS wstart,
         event_type, value
  FROM events, (VALUES (0), (30)) AS o(off)
)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS bucket,
       event_type, count(*) AS n, round(sum(value), 2) AS total
FROM fanned GROUP BY 1, 2 ORDER BY bucket, event_type
"""


# session time window: Spark's NATIVE F.session_window (dynamic-gap
# windows that merge while events arrive within the gap of the session's
# current end — the third windowing mode after tumble/hop, and the batch
# shape of the streaming `stream_sessionize` twin). Unlike
# advanced.sessionize_gaps (the gaps-and-islands formulation over
# lag/cumsum), this is the engine-provided operator: one keyed shuffle,
# session merge inside the aggregation — no window-function pass. Merge
# semantics pinned empirically: a gap of EXACTLY the duration still
# merges (new session iff gap > 30 min strictly), matching the islands
# convention, which is what the oracle encodes.
def time_session(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total",
        )
        .orderBy("user_id", "session_start")
    )


# islands oracle at FULL microsecond precision (epoch_us, not epoch —
# a float epoch could flip the >30min comparison on a µs-exact gap);
# session_end replicates session_window's end = last event + gap.
TIME_SESSION_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM g
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total
FROM s GROUP BY user_id, sess ORDER BY user_id, session_start
"""


# sampling / approx (§2.5): approximate distinct + quantile sketches.
# No SQL oracle (sketch results are engine-specific); pytest bounds the
# error against exact counts instead.
def freq_items_heavy_hitters(spark, sf_dir):
    """Approximate heavy hitters via `df.stat.freqItems` (the
    Karp/Shenker/Papadimitriou one-pass counter, distributed by Spark):
    all items with frequency above the support threshold are guaranteed
    present (possible false positives, no false negatives — the pytest
    bound). The sketch answers 'which sources/langs dominate the
    corpus' in ONE narrow pass with a constant-size merge state —
    at 100 TB this replaces a full groupBy/sort when only the
    heavy-hitter SET is needed. No oracle (result is
    algorithm-dependent beyond the guarantee): rows-only driver check;
    the containment guarantee is asserted in pytest."""
    d = _t(spark, sf_dir, "documents")
    row = d.stat.freqItems(["source", "lang"], support=0.1).first()
    # normalize the single array-row into sorted rows so the output is
    # deterministic and diffable. NULL is a legitimate heavy hitter on
    # a sparse column — sort it first rather than letting a None<str
    # comparison crash the query.
    items = sorted(
        [("source", v) for v in row[0]] + [("lang", v) for v in row[1]],
        key=lambda t: (t[0], t[1] is not None, t[1] or ""),
    )
    return spark.createDataFrame(items, "column STRING, heavy_hitter STRING")


def approx_distinct_quantile(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.round(F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)), 2).alias(
                "approx_median"
            ),
        )
        .orderBy("l_returnflag")
    )


QUERIES = {
    "agg_features": agg_features,
    "flag_timing_features": flag_timing_features,
    "feature_assembly": feature_assembly,
    "roi_simulation": roi_simulation,
    "accuracy_metrics": accuracy_metrics,
    "topk_orders": topk_orders,
    "window_rank_per_group": window_rank_per_group,
    "window_lag_lead": window_lag_lead,
    "rollup_agg": rollup_agg,
    "cube_agg": cube_agg,
    "grouping_sets": grouping_sets,
    "distinct_pairs": distinct_pairs,
    "count_distinct_agg": count_distinct_agg,
    "semi_join": semi_join,
    "anti_join": anti_join,
    "outer_join": outer_join,
    "range_join": range_join,
    "intersect_setop": intersect_setop,
    "except_setop": except_setop,
    "scalar_battery": scalar_battery,
    "width_normalize_battery": width_normalize_battery,
    "json_extract": json_extract,
    "pivot_wide": pivot_wide,
    "unpivot_stack": unpivot_stack,
    "sample_systematic": sample_systematic,
    "freq_items_heavy_hitters": freq_items_heavy_hitters,
    "percentile_quantile": percentile_quantile,
    "time_tumble": time_tumble,
    "time_hopping": time_hopping,
    "time_session": time_session,
    "approx_distinct_quantile": approx_distinct_quantile,
}

ORACLES = {
    "agg_features": AGG_FEATURES_SQL,
    "flag_timing_features": FLAG_TIMING_SQL,
    "feature_assembly": FEATURE_ASSEMBLY_SQL,
    "roi_simulation": ROI_SQL,
    "accuracy_metrics": ACCURACY_SQL,
    "topk_orders": TOPK_SQL,
    "window_rank_per_group": WINDOW_RANK_SQL,
    "window_lag_lead": WINDOW_LAG_SQL,
    "rollup_agg": ROLLUP_SQL,
    "cube_agg": CUBE_SQL,
    "grouping_sets": GROUPING_SETS_SQL,
    "distinct_pairs": DISTINCT_SQL,
    "count_distinct_agg": COUNT_DISTINCT_SQL,
    "semi_join": SEMI_SQL,
    "anti_join": ANTI_SQL,
    "outer_join": OUTER_SQL,
    "range_join": RANGE_JOIN_SQL,
    "intersect_setop": INTERSECT_SQL,
    "except_setop": EXCEPT_SQL,
    "scalar_battery": SCALAR_SQL,
    "width_normalize_battery": WIDTH_NORMALIZE_SQL,
    "json_extract": JSON_SQL,
    "pivot_wide": PIVOT_SQL,
    "unpivot_stack": UNPIVOT_SQL,
    "sample_systematic": SAMPLE_SQL,
    "percentile_quantile": PERCENTILE_SQL,
    "time_tumble": TIME_TUMBLE_SQL,
    "time_hopping": TIME_HOPPING_SQL,
    "time_session": TIME_SESSION_SQL,
    "approx_distinct_quantile": None,
    "freq_items_heavy_hitters": None,
}
