"""Gold layer: the denormalized ``race`` table and typed views.

``race`` = result ⋈ env on レースID, ⋈ schedule on (レースID, 選手登番),
inner joins (reference main.py:262). Inner semantics are part of the
spec: lanes whose result line carried a disqualification code have no
result row and therefore drop out (SURVEY §2.4).

Column order follows the committed golden CSVs (result columns first —
reference table/2020-08-01.csv header), not the current reference code's
env-first order; SURVEY §2.4 documents why the committed files are the
intended semantics.

Join strategy at scale: env is 1 row/race and schedule 6 rows/race —
per-day slices are tiny, the full-history tables shard by race_date.
All three tables are written partitioned by race_date, so the join keys
(race_id) are co-located within a date partition; Catalyst picks
broadcast-hash for the env side (small) and AQE handles the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from boatrace_database_spark import schemas as S


def race_table(
    result: DataFrame, env: DataFrame, schedule: DataFrame
) -> DataFrame:
    """Build the wide gold table (golden-CSV column order)."""
    joined = (
        result.join(env.drop("race_date"), on=S.RACE_ID, how="inner")
        .join(
            schedule.drop("race_date"),
            on=[S.RACE_ID, S.PLAYER_ID],
            how="inner",
        )
    )
    return joined.select("race_date", *S.RACE_COLUMNS)


def result_ext_typed(result_ext: DataFrame) -> DataFrame:
    """Typed view of the extension table: the fields the reference
    parser drops but its published model consumes (README.md:19 lists
    平均スタートタイミング as a feature).

    - ``is_flying``: F-flag boolean (start timing ``F0.01`` marks a
      flying start; rank code F loses the race but the ST is real),
    - ``start_timing_s``: numeric ST seconds (NULL for K./L. absences),
    - ``race_time_s``: ``1.58.8`` (1'58"8) -> 118.8 seconds,
    - lanes / courses / equipment numbers as ints.
    """
    st_num = F.nullif(
        F.regexp_extract("start_timing", r"^F?(\d+\.\d+)$", 1), F.lit("")
    )
    rt = [
        F.nullif(F.regexp_extract("race_time", r"^(\d+)\.(\d+)\.(\d+)$", i), F.lit(""))
        for i in (1, 2, 3)
    ]
    race_time_s = (
        rt[0].try_cast("int") * 60
        + rt[1].try_cast("int")
        + rt[2].try_cast("int") / 10.0
    )
    return result_ext.select(
        "race_date",
        "race_id",
        "rank_code",
        F.col("lane").try_cast("int").alias("lane"),
        "player_id",
        "player_name",
        F.col("motor_no").try_cast("int").alias("motor_no"),
        F.col("boat_no").try_cast("int").alias("boat_no"),
        F.col("exhibition").try_cast("double").alias("exhibition"),
        F.col("entry_course").try_cast("int").alias("entry_course"),
        F.col("start_timing").startswith("F").alias("is_flying"),
        st_num.try_cast("double").alias("start_timing_s"),
        race_time_s.alias("race_time_s"),
    )
