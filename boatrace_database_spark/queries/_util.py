"""Shared table loader and oracle SQL fragments for the query catalog."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from boatrace_database_spark.schemas import CATALOG_SCHEMAS
from boatrace_database_spark.timeutil import normalize_ts


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read catalog table ``name`` from ``{sf_dir}/{name}.parquet`` with
    its declared schema, ``schemas.CATALOG_SCHEMAS[name]``: one read
    path, and no footer-inference job before the scan.

    Input contract:

    - The files carry the declared columns with the declared types.
    - A type drift fails the read: a ``ts`` stored as TIMESTAMP(NANOS),
      say, raises ``FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH``
      when the rows are collected.
    - A MISSING column is not refused: Spark reads it as nulls. Only the
      schema-equality test (``tests/test_catalog_schemas.py``) guards
      against that, by checking the declarations against the files.

    ``events`` goes through ``timeutil.normalize_ts``, so ``ts`` is a
    plain TIMESTAMP downstream.
    """
    # the driver calls queries() on ITS OWN session — pin the dynamic
    # confs our results depend on (timestamp rendering must match the
    # UTC-naive DuckDB oracle regardless of the host session's defaults)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.schema(CATALOG_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")
    return normalize_ts(df) if name == "events" else df


def cents(col, digits: int = 2):
    """Exact fixed-point LONG for a money column: ``round(col·10^d)``.

    The money columns carry ≤``digits`` fractional digits, so the
    double product ``col·10^d`` sits within one ulp of an integer and
    ``round`` recovers it exactly (valid while |col|·10^d < 2^53 —
    twelve orders of magnitude above TPC-H prices). Long arithmetic
    then sums exactly, order-independently, at near the speed of a
    plain double sum — where DECIMAL(20,6) sums (the round-11 shape)
    fall off Spark's long-backed Decimal fast path into
    java.math.BigDecimal and measured 2.3× on q1
    (BENCHNOTES §46: decimal 1.066 s / long 0.643 s /
    two-level 0.681 s at sf0.1, identical value hashes).

    Overflow discipline (why callers pick between ONE flat sum and the
    TWO-LEVEL shape, e.g. `q1_pricing_summary`): a flat long sum is exact
    while a GROUP's total fits 2^63 — fine for bounded groups
    (per-order, per-customer), but a whole-table group at ~100 TB
    (~1e12 lineitem rows × 1e7 cents ≳ 2^63) would overflow — loudly,
    since ANSI mode throws on long overflow, but still a failure. Those
    aggregates sum long partials per (group, spark_partition_id()) —
    bounded by rows-per-TASK (~5e6 × 1e11 per-row charge units = 5e17,
    ~20× headroom even for the 1e-6-unit charge term), then combine
    the tiny partial table in DECIMAL(38,0): exact at ANY scale, same
    shuffle volume as the flat sum (map-side combine already emits one
    row per (key, partition)), and measured within 6% of flat long.
    """
    from pyspark.sql import functions as F

    return F.round(col * (10 ** digits)).cast("long")


def decsum(col_name: str):
    """Combine-side of the two-level exact money sum: DECIMAL(38,0)
    over the per-(group, spark_partition_id()) LONG partials — a
    handful of rows per group, so the BigDecimal cost the round-11
    whole-scan decimal sums paid (2.3× on q1) never touches the fact
    table. See `cents` for the full overflow discipline."""
    from pyspark.sql import functions as F

    return F.sum(F.col(col_name).cast("decimal(38,0)"))


def cohort_retention_sql(events: str, user_col: str, cohort_event: str) -> str:
    """The DuckDB twin of `behavior.cohort_retention` over the relation
    ``events`` (``user_col``, event_type, ts), cohorted on
    ``cohort_event``: the CTEs ``first``/``f2``/``sizes``/``act`` and
    the grid SELECT, to follow a ``WITH`` (and any CTE of the caller)."""
    return f"""first AS (
  SELECT {user_col}, min(CAST(ts AS DATE)) AS cohort_day
  FROM {events} WHERE event_type = '{cohort_event}' GROUP BY {user_col}
),
f2 AS (
  SELECT {user_col}, cohort_day,
         CAST(date_trunc('week', cohort_day) AS DATE) AS cohort_week
  FROM first
),
sizes AS (
  SELECT cohort_week, count(*) AS cohort_size FROM f2 GROUP BY cohort_week
),
act AS (
  SELECT DISTINCT e.{user_col}, f2.cohort_week,
         CAST(floor(date_diff('day', f2.cohort_day, CAST(e.ts AS DATE))
                    / 7.0) AS BIGINT) AS week_offset
  FROM {events} e JOIN f2 ON e.{user_col} = f2.{user_col}
  WHERE CAST(e.ts AS DATE) >= f2.cohort_day
)
SELECT a.cohort_week, a.week_offset,
       CAST(count(*) AS BIGINT) AS active_users,
       round((100.0 * count(*)) / min(s.cohort_size), 2) AS retention_pct
FROM act a JOIN sizes s ON a.cohort_week = s.cohort_week
GROUP BY a.cohort_week, a.week_offset
ORDER BY a.cohort_week, a.week_offset
"""
