"""Shared table loader for the query catalog.

events.parquet's ts encoding has drifted between driver rounds
(TIMESTAMP(NANOS) → timestamp[us]); ``timeutil.normalize_ts`` absorbs
every observed encoding so `ts` is always a plain TimestampType
downstream. The nanosAsLong conf is still set defensively (it is a
dynamic SQL conf) for the NANOS case, which Spark's reader otherwise
rejects (PARQUET_TYPE_ILLEGAL). DuckDB reads the same file natively;
sub-microsecond ordering ties are broken by event_id in every catalog
query, so micro truncation cannot flip results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from boatrace_database_spark.timeutil import normalize_ts

# Parquet-footer SCHEMA cache: (app, path) -> (freshness token, schema),
# one entry per path, so a rewrite replaces its entry. Schema inference
# for an unknown parquet path runs a real 1-task Spark job per
# spark.read.parquet call; with every catalog query re-reading 1-4
# tables per invocation those inference jobs were ~10-20% of the wall
# time of the small star-schema queries (r13 cost profile: q1 ran 6
# jobs for 0.5 s of executor work). METADATA-only reuse — the same
# class as Spark's own per-session file-index cache: every invocation
# still scans the parquet data itself. Keyed by applicationId so a new
# session (or a driver-supplied one) never sees a stale entry from a
# previous app, and by full path so different sf_dirs never collide.
_SCHEMA_CACHE: dict = {}


def _freshness_token(path: str):
    """Cheap invalidation token for a local/posix parquet path: (mtime,
    size) of the file or of the directory entry for a parquet dir —
    rewriting a path changes both, so a same-application rewrite with a
    different schema re-infers instead of silently reading nulls
    through a stale explicit schema (ADVICE r13). Non-posix paths
    (s3a:// etc.) return None — immutable-catalog discipline applies
    there, and a miss only costs the original inference job."""
    import os

    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, path)
    token = _freshness_token(path)
    cached = _SCHEMA_CACHE.get(key)
    if cached is None or cached[0] != token:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = (token, df.schema)
        return df
    return spark.read.schema(cached[1]).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the driver calls queries() on ITS OWN session — pin the dynamic
    # confs our results depend on (timestamp rendering must match the
    # UTC-naive DuckDB oracle regardless of the host session's defaults)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_ts(_read_parquet(spark, f"{sf_dir}/events.parquet"))
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


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
