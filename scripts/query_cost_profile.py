"""Per-query cost attribution for the headline set: wall seconds vs
executor run/CPU seconds vs job count, via the UI REST API — separates
driver/planning/job-latency-bound queries (wall >> run/32) from
executor-compute-bound ones (guide §1: find out WHERE the time goes
before touching anything).

Usage: SPARK_GRAFT_UI=true python scripts/query_cost_profile.py [names...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from boatrace_database_spark.queries import QUERIES  # noqa: E402
from boatrace_database_spark.session import get_spark  # noqa: E402
from perfbench.harness import rest  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import HEADLINE

    names = sys.argv[1:] or HEADLINE
    spark = get_spark("cost_profile")
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql.functions import col, pandas_udf

    spark.range(1000).selectExpr("sum(id)").collect()

    @pandas_udf("double")
    def _warm(v):
        import numpy as np  # noqa: F401

        return v * 1.0

    (
        spark.range(100_000)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(_warm(col("id").cast("double")))
        .count()
    )
    out = {}
    for name in names:
        # warm run (codegen/broadcast caches), then measured run
        QUERIES[name](spark, sf_dir).collect()
        jobs0 = len(rest(spark, "jobs"))
        stages0 = {s["stageId"] for s in rest(spark, "stages")}
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).collect()
        wall = time.perf_counter() - t0
        jobs1 = len(rest(spark, "jobs"))
        run = cpu = 0.0
        ntasks = 0
        for s in rest(spark, "stages"):
            if s["stageId"] in stages0 or s["status"] != "COMPLETE":
                continue
            run += s["executorRunTime"] / 1e3
            cpu += s.get("executorCpuTime", 0) / 1e9
            ntasks += s["numTasks"]
        out[name] = {
            "wall": round(wall, 2),
            "exec_run": round(run, 1),
            "exec_cpu": round(cpu, 1),
            "tasks": ntasks,
            "jobs": jobs1 - jobs0,
            # executor slots from the session, not a literal core count
            # (ADVICE r13): the attribution must hold on any master
            "driver_gap": round(
                wall - run / spark.sparkContext.defaultParallelism, 2
            ),
        }
        print(f"{name:28s} {out[name]}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
