"""Silver layer: tagged parse rows -> the four reference-parity tables
and the two extension tables.

Column names and string values match the reference's SQLite tables
(all-TEXT; main.py:104-108). ``race_date`` rides along as the partition
column so Parquet writes partition by day and the legacy LIKE-prefix
queries become partition pruning (SURVEY §1.3, §3 E3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from boatrace_database_spark import schemas as S


def _extract(parsed: DataFrame, table: str, columns: list[str]) -> DataFrame:
    """Project the vals array of one table's rows into named columns, as
    one ``selectExpr`` (one py4j call, not a Column object per field)."""
    body = [f"vals[{i}] AS {_quote(c)}" for i, c in enumerate(columns[1:])]
    return parsed.where(F.col("table") == table).selectExpr(
        "race_date", f"race_id AS {_quote(columns[0])}", *body
    )


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def schedule_table(parsed: DataFrame) -> DataFrame:
    return _extract(parsed, "schedule", S.SCHEDULE_COLUMNS)


def result_table(parsed: DataFrame) -> DataFrame:
    return _extract(parsed, "result", S.RESULT_COLUMNS)


def odds_table(parsed: DataFrame) -> DataFrame:
    return _extract(parsed, "odds", S.ODDS_COLUMNS)


def env_table(parsed: DataFrame) -> DataFrame:
    return _extract(parsed, "env", S.ENV_COLUMNS)


def result_ext_table(parsed: DataFrame) -> DataFrame:
    """Extension: all per-boat lines (incl. disqualification codes) with
    motor/boat numbers, entry course, start timing, race time."""
    return _extract(parsed, "result_ext", S.RESULT_EXT_COLUMNS)


def race_meta_table(parsed: DataFrame) -> DataFrame:
    """Extension: per-race winning technique (決まり手)."""
    return _extract(parsed, "race_meta", S.RACE_META_COLUMNS)


def silver_tables(parsed: DataFrame) -> dict[str, DataFrame]:
    """All six silver tables from one parsed DataFrame.

    Callers that materialize more than one table should
    ``parsed.persist()`` first (or write parsed to Parquet) so the file
    scan+parse runs once, not six times — the reference's triple-scan
    anti-pattern (main.py:249-252) is what we're avoiding.
    """
    return {
        "schedule": schedule_table(parsed),
        "result": result_table(parsed),
        "odds": odds_table(parsed),
        "env": env_table(parsed),
        "result_ext": result_ext_table(parsed),
        "race_meta": race_meta_table(parsed),
    }
