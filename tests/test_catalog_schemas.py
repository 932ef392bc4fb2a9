"""The query catalog's declared input schemas.

`load_table` reads every catalog table with `schemas.CATALOG_SCHEMAS`
instead of inferring it from the parquet footer. A declared read
refuses a column whose stored type differs, but reads a MISSING column
as nulls, so the equality tests below are what keep the declarations
and the files in step. If the driver's testdata changes an encoding,
`test_declared_schema_is_file_schema` is the first test to fail.
"""

from __future__ import annotations

import os
import shutil

import pytest

from boatrace_database_spark.queries import QUERIES
from boatrace_database_spark.queries._util import load_table
from boatrace_database_spark.schemas import CATALOG_SCHEMAS
from perfbench.catalog import DATA as BENCH_DATA
from perfbench.catalog import TABLES as BENCH_TABLES

TESTDATA = [f"/root/testdata/sf{sf}" for sf in ("0.001", "0.01", "0.1")]

CASES = [pytest.param(BENCH_DATA, t, id=f"perfbench-{t}") for t in BENCH_TABLES] + [
    pytest.param(d, t, id=f"{os.path.basename(d)}-{t}")
    for d in TESTDATA
    for t in CATALOG_SCHEMAS
]


@pytest.mark.parametrize("sf_dir,table", CASES)
def test_declared_schema_is_file_schema(spark, sf_dir, table):
    path = f"{sf_dir}/{table}.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} not on this host (driver testdata absent)")
    inferred = spark.read.parquet(path).schema
    declared = spark.read.schema(CATALOG_SCHEMAS[table]).parquet(path).schema
    assert declared == inferred


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_type_drift_fails_the_read(spark, tmp_path, nanos_as_long):
    """An events file whose ts is TIMESTAMP(NANOS) is refused, whatever
    the session's nanosAsLong setting: the declared type is
    TIMESTAMP_NTZ, and no conf turns the read back into inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_000] * 2, pa.timestamp("ns")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": pa.array(["view", "click"], pa.string()),
            "value": pa.array([1.0, 2.0], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"), version="2.6")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, "false")
    spark.conf.set(key, nanos_as_long)
    try:
        with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
            load_table(spark, str(tmp_path), "events").collect()
    finally:
        spark.conf.set(key, before)


def test_first_run_launches_as_many_jobs_as_the_second(spark, tmp_path):
    """A query's job count does not depend on whether it is the first to
    read its tables: the copy under tmp_path is a path no earlier read
    has seen, and its first run launches exactly the jobs of its second
    (the footer-inference jobs a schema cache saved only on warm runs
    are gone from both)."""
    data = str(tmp_path / "catalog")
    shutil.copytree(BENCH_DATA, data)
    sc = spark.sparkContext
    counts = []
    for run in range(2):
        group = f"test_first_run_jobs:{run}"
        sc.setJobGroup(group, "q5_region_revenue job count")
        try:
            QUERIES["q5_region_revenue"](spark, data).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert counts[0] == counts[1], counts
