"""Schemas for the boatrace warehouse (silver / gold) and the query
catalog's star-schema tables.

The reference stores every column as SQLite TEXT (see SURVEY §1.1;
reference main.py:104-108 declares header names only). Silver keeps the
reference's exact Japanese column names and string values for byte
parity with the committed golden CSVs; typed gold-layer views cast to
real types and normalize the ``-1`` sentinels to NULL.

Romanized aliases are provided because the driver's DuckDB oracle and
the star-schema demos are ASCII-only.
"""

from __future__ import annotations

from pyspark.sql import types as T

RACE_ID = "レースID"
PLAYER_ID = "選手登番"

# Column orders mirror reference main.py:104-108 (header constants).
SCHEDULE_COLUMNS = [
    RACE_ID, "艇番", PLAYER_ID, "名前", "年齢", "支部", "体重", "階級",
    "全国勝率", "全国2率", "当地勝率", "当地2率", "モーター2率", "ボート2率",
]
RESULT_COLUMNS = [RACE_ID, "順位", PLAYER_ID, "展示"]
ODDS_COLUMNS = [
    RACE_ID, "単勝", "複勝1", "複勝2", "2連単", "2連複",
    "拡連複12", "拡連複13", "拡連複23", "3連単", "3連複",
]
ENV_COLUMNS = [RACE_ID, "天候", "風向", "風速", "波高", "会場"]

# Romanized aliases (same order), used by gold views and the oracle demos.
SCHEDULE_ALIASES = [
    "race_id", "lane", "player_id", "player_name", "age", "branch",
    "weight", "class", "natl_win_rate", "natl_top2_rate",
    "local_win_rate", "local_top2_rate", "motor_top2_rate", "boat_top2_rate",
]
RESULT_ALIASES = ["race_id", "rank", "player_id", "exhibition_time"]
ODDS_ALIASES = [
    "race_id", "win", "place1", "place2", "exacta", "quinella",
    "wide12", "wide13", "wide23", "trifecta", "trio",
]
ENV_ALIASES = ["race_id", "weather", "wind_dir", "wind_speed", "wave", "venue"]


# EXTENSION tables (fields the reference drops — SURVEY §1.2): romanized
# names directly, no Japanese-parity requirement.
RESULT_EXT_COLUMNS = [
    "race_id", "rank_code", "lane", "player_id", "player_name",
    "motor_no", "boat_no", "exhibition", "entry_course",
    "start_timing", "race_time",
]
RACE_META_COLUMNS = ["race_id", "kimarite"]

# Gold: the race table in golden-CSV order — result columns first, then
# env and schedule without their join keys (gold.race_table).
RACE_COLUMNS = (
    RESULT_COLUMNS
    + [c for c in ENV_COLUMNS if c != RACE_ID]
    + [c for c in SCHEDULE_COLUMNS if c not in (RACE_ID, PLAYER_ID)]
)


def _all_string(cols: list[str]) -> T.StructType:
    return T.StructType([T.StructField(c, T.StringType()) for c in cols])


# The warehouse tables as stored: every column a string, like SQLite
# TEXT, with the race_date partition column last (where Spark's reader
# puts it). Reads declare these rather than infer them from a parquet
# footer, which costs a Spark job per read.
WAREHOUSE_SCHEMAS = {
    name: _all_string([*cols, "race_date"])
    for name, cols in (
        ("schedule", SCHEDULE_COLUMNS),
        ("result", RESULT_COLUMNS),
        ("odds", ODDS_COLUMNS),
        ("env", ENV_COLUMNS),
        ("result_ext", RESULT_EXT_COLUMNS),
        ("race_meta", RACE_META_COLUMNS),
        ("race", RACE_COLUMNS),
    )
}


# The query catalog's input tables (the driver's star schema), declared
# as stored: each DDL string equals the schema Spark infers from the
# table's parquet footer (pyarrow's zone-less ``timestamp[us]`` reads as
# TIMESTAMP_NTZ). ``queries._util.load_table`` reads with these, so no
# read launches a footer-inference job.
CATALOG_SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": (
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    ),
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
