"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Also times the boatrace corpus end-to-end (62 raw TXT -> silver ->
gold race join -> count) as `boatrace_month_e2e`, directly comparable
to BASELINE.md's single-thread ≈2.75 s for the same work. Without the
reference tree those boatrace lines are not timed; the JSON line then
carries `"skipped": {line: reason}` for them.
"""

from __future__ import annotations

import json
import os
import sys
import time

from boatrace_database_spark.queries import QUERIES
from boatrace_database_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "join_composite_key",
    "agg_features",
    "window_rank_per_group",
    "running_counter",
    "time_tumble",
    "rollup_agg",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "embedding_cosine_topk",
    "dedup_embedding_cosine",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "text_profile",
    "asof_join_events",
    "flag_timing_features",
    "semantic_dedup_assign",
    "chunk_dedup_pipeline",
    "bm25_topk_docs",
    "repeated_substring_spans",
    "dsir_select_corpus",
    # session-5 additions: the blocked fuzzy join (id-capped like its
    # oracle), the one-scan data-quality audit, the SCD2 window pair
    "dedup_fuzzy_edit",
    "table_audit_orders",
    "scd2_user_state",
    # session-6 additions: the one-scan funnel fold, the cohort grid,
    # and collocation mining over the full document corpus
    "funnel_conversion",
    "cohort_retention",
    "event_transitions",
    "pmi_collocations",
    # round-7 additions: the as-of/windowed faces of the behavioral
    # family (r6 verdict #4's missing headline entries)
    "attribution_last_touch",
    "funnel_windowed",
]

BOATRACE_TXT = "/root/reference/txt/*2008*.TXT"
# the timing lines that need the reference tree; on a host without it
# they are named under "skipped" with the reason instead of dropped
BOATRACE_LINES = ("boatrace_month_e2e", "boatrace_year_from_lzh")


ITERS = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))


def time_boatrace(spark) -> float:
    from boatrace_database_spark.gold import race_table
    from boatrace_database_spark.parse.kernel import parse_files
    from boatrace_database_spark.silver import silver_tables

    t0 = time.perf_counter()
    parsed = parse_files(spark, BOATRACE_TXT).persist()
    t = silver_tables(parsed)
    race = race_table(t["result"], t["env"], t["schedule"])
    n = race.count()
    parsed.unpersist()
    dt = time.perf_counter() - t0
    print(f"boatrace_month_e2e: {n} rows in {dt:.2f}s", file=sys.stderr)
    return dt


def time_boatrace_year(spark) -> float:
    """Full 2020: 732 lzh archives -> fused decode+parse -> gold join.
    Reference extrapolation: ~33 s single-threaded (2.75 s/month)."""
    from boatrace_database_spark.gold import race_table
    from boatrace_database_spark.parse.kernel import parse_files
    from boatrace_database_spark.silver import silver_tables

    t0 = time.perf_counter()
    parsed = parse_files(spark, "/root/reference/lzh/*.lzh").persist()
    t = silver_tables(parsed)
    n = race_table(t["result"], t["env"], t["schedule"]).count()
    parsed.unpersist()
    dt = time.perf_counter() - t0
    print(f"boatrace_year_from_lzh: {n} rows in {dt:.2f}s", file=sys.stderr)
    return dt


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark)
    # idle-window discipline (r12 verdict item #6): two consecutive
    # rounds of the official artifact regressed on host load alone and
    # were un-regressed by idle re-brackets — so the bench now WAITS
    # for a quiet host before timing anything, bounded so a driver run
    # can never stall: poll 1-min loadavg until it drops under
    # $SPARK_GRAFT_IDLE_LOAD (default 8.0 — a quarter of the 32 cores;
    # the builder's idle brackets read ~0.8) or $SPARK_GRAFT_IDLE_WAIT
    # seconds (default 240) elapse. The wait itself is recorded so the
    # artifact says whether it started quiet or gave up waiting.
    idle_load = float(os.environ.get("SPARK_GRAFT_IDLE_LOAD", "8.0"))
    idle_budget = float(os.environ.get("SPARK_GRAFT_IDLE_WAIT", "240"))
    idle_waited = 0.0
    while os.getloadavg()[0] > idle_load and idle_waited < idle_budget:
        time.sleep(10)
        idle_waited += 10
    # host-noise fingerprint: r3's driver bench swung +43% on untouched
    # queries (isolated re-runs implicated host contention). loadavg +
    # a fixed trivial-query reference time make each bench run
    # self-describing: a noisy host shows up as ref_query_sec inflation
    # the reader can normalize by.
    def _ref_query() -> float:
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr(
            "sum(id * 2)", "count(distinct id % 1000)"
        ).collect()
        return time.perf_counter() - t0

    # scalar 1-min loadavg (r13): the 5/15-min components never carried
    # adjudication weight and the line must stay under the driver's
    # 2000-char tail capture with the grown quality dict
    host = {
        "loadavg_start": round(os.getloadavg()[0], 2),
        "idle_waited_sec": round(idle_waited, 1),
        "ref_query_sec": round(min(_ref_query() for _ in range(3)), 3),
    }

    timings: dict[str, float] = {}
    skipped: dict[str, str] = {}
    if os.path.exists("/root/reference/txt"):
        from boatrace_database_spark.parse.kernel import parse_files

        parse_files(spark, "/root/reference/txt/K200801.TXT").count()
        # min-of-N like the star-schema queries below: BASELINE.md's
        # reference numbers are steady-state measurements too, and the
        # first run absorbs one-time JVM codegen compilation
        timings["boatrace_month_e2e"] = round(
            min(time_boatrace(spark) for _ in range(ITERS)), 3
        )
        if os.path.exists("/root/reference/lzh"):
            timings["boatrace_year_from_lzh"] = round(
                min(time_boatrace_year(spark) for _ in range(ITERS)), 3
            )
        else:
            skipped["boatrace_year_from_lzh"] = "no reference lzh"
    else:
        skipped = dict.fromkeys(BOATRACE_LINES, "no reference txt")

    # IVF deployment shape: the index is built once (its own timing
    # line) and every ann_ivf_topk invocation below measures SEARCH
    # against the cached index — r3's bench re-trained k-means 3x inside
    # the probe timing.
    from boatrace_database_spark.queries.llm import ivf_index_for, ivfpq_index_for

    t0 = time.perf_counter()
    ivf_index_for(spark, sf_dir)
    timings["ann_ivf_build"] = round(time.perf_counter() - t0, 3)
    print(f"ann_ivf_build: index in {timings['ann_ivf_build']:.2f}s", file=sys.stderr)
    # same deployment split for IVF-PQ: train+encode is its own line, so
    # ann_ivfpq_topk below measures PROBE steady state at every sf — a
    # single-iteration sf1 run otherwise fuses the one-time build into
    # the probe timing and reads as a fake 28x (BENCHNOTES §40a)
    t0 = time.perf_counter()
    ivfpq_index_for(spark, sf_dir)
    timings["ann_ivfpq_build"] = round(time.perf_counter() - t0, 3)
    print(
        f"ann_ivfpq_build: index in {timings['ann_ivfpq_build']:.2f}s",
        file=sys.stderr,
    )

    # min of N runs, INTERLEAVED: run the whole list N times and keep
    # the per-query minimum. Back-to-back repeats of one query share any
    # multi-second host-interference window (observed poisoning 5
    # consecutive queries); interleaving means such a window costs each
    # query at most one of its N samples.
    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    counts: dict[str, int] = {}
    for _ in range(ITERS):
        for name in HEADLINE:
            t0 = time.perf_counter()
            rows = QUERIES[name](spark, sf_dir).collect()
            runs[name].append(round(time.perf_counter() - t0, 3))
            counts[name] = len(rows)
    for name in HEADLINE:
        timings[name] = min(runs[name])
        print(
            f"{name}: {counts[name]} rows in {timings[name]:.2f}s "
            f"(runs {runs[name]})",
            file=sys.stderr,
        )

    # driver-visible recall/agreement for the no-oracle hash operators
    # (what pytest asserts; see boatrace_database_spark/quality.py).
    # SPARK_GRAFT_QUALITY=0 skips them: their EXACT baselines (all-pairs
    # cosine / edit-distance truth sets) are quadratic by definition and
    # sized for the sf0.1 gate — at sf1 they exhaust worker memory while
    # the headline queries themselves are fine.
    if os.environ.get("SPARK_GRAFT_QUALITY", "1") != "0":
        from boatrace_database_spark.quality import quality_metrics

        quality = quality_metrics(spark, sf_dir)
    else:
        quality = {}
    print(f"quality: {quality}", file=sys.stderr)
    host["loadavg_end"] = round(os.getloadavg()[0], 2)

    total = round(sum(timings.values()), 3)
    # one-time index builds get their own lines (§40a) so probes measure
    # steady state — but that makes `value` grow whenever a build line is
    # added/split. `comparable_total` excludes them: the probe/query-only
    # sum the driver can compare round-over-round without footnotes.
    ONE_TIME = {"ann_ivf_build", "ann_ivfpq_build"}
    comparable = round(
        sum(v for k, v in timings.items() if k not in ONE_TIME), 3
    )
    # Every interleaved sample per query (timings = the min) goes to
    # STDERR: r8 put `queries_runs` inside the stdout JSON line and the
    # +2.5 KB pushed it past the driver's 2000-char tail capture, so
    # BENCH_r08 recorded `parsed: null` despite rc=0. The stdout line
    # must stay one compact object well under 2 KB (r7's parsed shape
    # was 1563 chars against the 2000 budget).
    print(f"queries_runs: {json.dumps(runs, separators=(',', ':'))}", file=sys.stderr)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "comparable_total": comparable,
        "unit": "sec",
        "queries": timings,
        "quality": quality,
        "host": host,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if skipped:
        payload["skipped"] = skipped
    print(stdout_line(payload))


def warm_up(spark) -> None:
    """JVM/codegen warmup, then spin up the FULL reused-python-worker
    pool with a fanned-out Arrow pandas_udf — otherwise the first LSH
    query measured pays one interpreter+numpy cold start per core, and
    with worker reuse that one-time cost lands on whichever query runs
    first (the source of multi-second per-process outliers in r2)."""
    spark.range(1000).selectExpr("sum(id)").collect()
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("double")
    def _warm(v):
        import numpy as np  # noqa: F401  (loads numpy in every worker)

        return v * 1.0

    (
        spark.range(100_000)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(_warm(col("id").cast("double")))
        .count()
    )


def stdout_line(payload: dict) -> str:
    """The one JSON stdout line, kept at most 1900 chars (headroom under
    a 2000-char output capture): past that, the quality dict moves to
    stderr."""
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1900:
        quality = payload["quality"]
        print(f"quality: {json.dumps(quality, separators=(',', ':'))}", file=sys.stderr)
        payload["quality"] = {"see": "stderr"}
        line = json.dumps(payload, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
