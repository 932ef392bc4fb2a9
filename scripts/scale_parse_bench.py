"""100x scale-up evidence for the parse path (r4 verdict item 4).

Synthesizes an N-fold corpus by replicating the 62 committed Aug 2020
TXT files (9.6 MB) across synthetic years: `file_meta` derives
race_date from the KYYMMDD.TXT name, so rewriting the YY digits turns
each replica into a distinct synthetic month (yy=00..99 -> years
2000-2099) — distinct dates, distinct race ids, zero synthetic-content
bias. Hardlinks where possible, so the corpus costs ~no disk.

Measures, for 1x and Nx at local[$SPARK_GRAFT_CPUS]:
  - fused parse -> silver -> gold race join -> count (the
    boatrace_month_e2e shape from bench.py),
  - throughput (race rows/s and input MB/s),
  - task balance of the heaviest stage via the Spark REST API
    (max/median executorRunTime over its tasks) — the r4 verdict asks
    max/median < 3x.

Usage: SPARK_GRAFT_UI=true python scripts/scale_parse_bench.py
(prints one JSON line; human detail on stderr).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

os.environ.setdefault("SPARK_GRAFT_UI", "true")  # REST API for task metrics

REPLICAS = int(os.environ.get("SCALE_REPLICAS", "100"))
SRC = "/root/reference/txt"
DST = f"/tmp/scale_corpus_{REPLICAS}x"


def build_corpus() -> int:
    files = sorted(f for f in os.listdir(SRC) if f.upper().endswith(".TXT"))
    want = len(files) * REPLICAS
    if os.path.isdir(DST) and len(os.listdir(DST)) == want:
        return want
    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(DST)
    for f in files:
        src = os.path.join(SRC, f)
        for y in range(REPLICAS):
            dst = os.path.join(DST, f"{f[0]}{y:02d}{f[3:]}")
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy(src, dst)
    return want


def run_e2e(spark, glob: str) -> tuple[float, int]:
    from boatrace_database_spark.gold import race_table
    from boatrace_database_spark.parse.kernel import parse_files
    from boatrace_database_spark.silver import silver_tables

    t0 = time.perf_counter()
    parsed = parse_files(spark, glob).persist()
    t = silver_tables(parsed)
    n = race_table(t["result"], t["env"], t["schedule"]).count()
    dt = time.perf_counter() - t0
    parsed.unpersist()
    return dt, n


# task-balance probing via the Spark REST API — shared with the dedup
# bench (scripts/spark_rest.py) so the guards cannot drift
_here = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_here))  # repo root (package import)
sys.path.insert(0, _here)  # scripts/ (spark_rest import)
from spark_rest import stage_ids, task_balance  # noqa: E402


def main() -> None:
    from boatrace_database_spark.session import get_spark

    n_files = build_corpus()
    corpus_mb = sum(
        os.path.getsize(os.path.join(SRC, f)) for f in os.listdir(SRC)
    ) / 1e6
    spark = get_spark("scale-parse-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warmup: JVM codegen + python worker pool
    run_e2e(spark, f"{SRC}/K200801.TXT")

    dt1, n1 = run_e2e(spark, f"{SRC}/*2008*.TXT")
    print(f"1x:  {n1} race rows in {dt1:.2f}s", file=sys.stderr)

    before = stage_ids(spark)
    dtN, nN = run_e2e(spark, f"{DST}/*.TXT")
    bal = task_balance(spark, stage_ids(spark) - before)
    print(f"{REPLICAS}x: {nN} race rows in {dtN:.2f}s  balance={bal}",
          file=sys.stderr)

    # the large-file scale path: section split + redistribute + parse
    from boatrace_database_spark.parse.kernel import parse_files_sectioned

    before = stage_ids(spark)
    t0 = time.perf_counter()
    n_sec = parse_files_sectioned(spark, f"{DST}/*.TXT").count()
    dt_sec = time.perf_counter() - t0
    bal_sec = task_balance(spark, stage_ids(spark) - before)
    print(
        f"{REPLICAS}x sectioned: {n_sec} parsed rows in {dt_sec:.2f}s  "
        f"balance={bal_sec}",
        file=sys.stderr,
    )

    out = {
        "metric": "scale_parse_e2e",
        "replicas": REPLICAS,
        "n_files": n_files,
        "input_mb_1x": round(corpus_mb, 1),
        "sec_1x": round(dt1, 2),
        "race_rows_1x": n1,
        "rows_per_sec_1x": round(n1 / dt1),
        "sec_Nx": round(dtN, 2),
        "race_rows_Nx": nN,
        "rows_per_sec_Nx": round(nN / dtN),
        "mb_per_sec_Nx": round(corpus_mb * REPLICAS / dtN, 1),
        "scale_efficiency": round((nN / dtN) / (n1 / dt1), 2),
        "task_balance": bal,
        "sectioned_sec_Nx": round(dt_sec, 2),
        "sectioned_rows_Nx": n_sec,
        "sectioned_task_balance": bal_sec,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
