"""Per-layer figures for traced runs.

Spans come from wrapping the package's public functions (and the
Parquet writer the warehouse layers call) from the benchmark's side;
Spark figures come from the status REST API, attributed to a span or
round by the wall-clock window its jobs were submitted in."""

from __future__ import annotations

import json
import os
import time

from perfbench.corpus import TABLES as SILVER
from perfbench.harness import StageStats, dir_stats, median, rest, rest_time, scan_files


def trace_boatrace(rec) -> None:
    """Record spans around the boatrace layers' public entry points."""
    from pyspark.sql import readwriter

    from boatrace_database_spark import analytics, gold, silver, warehouse
    from boatrace_database_spark.sources import lzh

    rec.wrap(warehouse, "register_views", "warehouse.register_views")
    rec.wrap(warehouse, "merge_upsert", "warehouse.merge_upsert")
    rec.wrap(silver, "silver_tables", "silver.silver_tables")
    rec.wrap(gold, "race_table", "gold.race_table")
    rec.wrap(analytics, "roi_simulation", "analytics.roi_simulation")
    rec.wrap(analytics, "player_features", "analytics.player_features")
    rec.wrap(lzh, "read_lzh", "sources.lzh.read_lzh")

    orig = readwriter.DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        table = os.path.basename(str(path).rstrip("/"))
        layer = "gold" if table == "race" else "silver" if table in SILVER else "other"
        with rec.span(f"{layer}.write:{table}"):
            return orig(self, path, *args, **kwargs)

    readwriter.DataFrameWriter.parquet = parquet


def replay_lzh_parse(paths: list[str]) -> dict:
    """Decode the archives with ``read_lzh_bytes`` and parse every member
    with ``parse_file``, in-process, timing each layer on its own."""
    from boatrace_database_spark.parse.kernel import parse_file
    from boatrace_database_spark.sources.bronze import file_meta
    from boatrace_database_spark.sources.lzh import read_lzh_bytes

    blobs = []
    for p in paths:
        with open(p, "rb") as fh:
            blobs.append(fh.read())
    t0 = time.perf_counter()
    members = [m for b in blobs for m in read_lzh_bytes(b)]
    decode_s = time.perf_counter() - t0
    raw = sum(len(m.data) for m in members)
    rows: dict[str, int] = {t: 0 for t in SILVER}
    lines = 0
    parse_s = 0.0
    for m in members:
        _, kind, date = file_meta(m.filename)
        text = m.data.decode("cp932", errors="replace").splitlines()
        lines += len(text)
        t0 = time.perf_counter()
        out = parse_file(text, kind, date)
        parse_s += time.perf_counter() - t0
        for table, n in out["table"].value_counts().items():
            rows[table] += int(n)
    return {
        "sources.lzh.decode_s": decode_s,
        "sources.lzh.decode_mb_s": raw / 1e6 / decode_s,
        "sources.lzh.members": len(members),
        "sources.lzh.ratio": sum(len(b) for b in blobs) / raw,
        "parse.kernel.parse_file_s": parse_s,
        "parse.kernel.lines": lines,
        **{f"parse.kernel.rows.{t}": n for t, n in rows.items()},
    }


def _spans(ctx, prefix: str, op_kinds: tuple[str, ...], measured: bool = True):
    """Finished spans named ``prefix*`` inside operations of the given
    kinds (of the measured rounds only, unless ``measured`` is False)."""
    ops = ctx.rec.ops
    return [s for s in ctx.rec.spans
            if s.name.startswith(prefix) and s.end and s.op is not None
            and ops[s.op].kind in op_kinds and (ops[s.op].round > 0 or not measured)]


def _heaviest_stage(ctx, stats: StageStats, span) -> dict:
    """The longest-running stage among the jobs submitted in ``span``,
    with its task skew from the REST task summary."""
    best = None
    for j in stats.jobs:
        if span.start <= rest_time(j.get("submissionTime")) <= span.end:
            for sid in j.get("stageIds", []):
                st = stats.stages.get(sid)
                if st and (best is None or st["executorRunTime"] > best[1]["executorRunTime"]):
                    best = (sid, st)
    if best is None:
        return {}
    sid, st = best
    begin, end = st["intervals"][0]
    wall = max(end - begin, 1e-9)
    q = rest(ctx.spark, f"stages/{sid}/0/taskSummary?quantiles=0.5,1.0")
    med, mx = q["executorRunTime"]
    return {
        "stage_s": wall,
        "tasks": st["numTasks"],
        "task_max_over_median": mx / med if med else 0.0,
        "core_util": st["executorRunTime"] / 1e3 / (wall * ctx.cores),
    }


def round_totals(ctx, stats: StageStats) -> dict:
    """Spark figures per measured round (median over rounds)."""
    by_round: dict[int, list] = {}
    for o in ctx.rec.ops:
        if o.round > 0:
            by_round.setdefault(o.round, []).append(o)
    per = [stats.window(min(o.start for o in ops), max(o.start + o.seconds for o in ops))
           for ops in by_round.values()]
    keys = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "driver_gap_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    return {f"spark.{k}_per_round": median([p[k] for p in per]) for k in keys}


def overhead_frac(ctx, round_s: float) -> float | None:
    """Traced round time over the median round time of the untraced runs
    of the same workload, seed and code on record in this checkout,
    minus 1; None when there is no such run."""
    runs = os.path.join(os.path.dirname(ctx.cache), "runs")
    base = []
    for n in os.listdir(runs) if os.path.isdir(runs) else []:
        if n.startswith(f"{ctx.workload}-s{ctx.seed}-t0-") and n.endswith(".json"):
            with open(os.path.join(runs, n)) as fh:
                record = json.load(fh)
            if record.get("code") == ctx.code:
                base.append(record["end_to_end"]["round_s"])
    return round_s / median(base) - 1 if base else None


def measured_round_s(ctx) -> float:
    """Median round time, scaled by the run's host factor like round_s."""
    ops = ctx.rec.measured()
    rounds = [sum(o.seconds for o in ops if o.round == r) for r in {o.round for o in ops}]
    return median(rounds) * ctx.rec.host_factor()


def boatrace(ctx, wh: str, progress: list[dict]) -> dict:
    """Layer figures of a traced daily_ops run: the set-up backfill
    (CLI build), the streaming appends and their merges, the reads."""
    stats = StageStats.fetch(ctx.spark)
    out = round_totals(ctx, stats)
    silver = _spans(ctx, "silver.write", ("backfill",), measured=False)
    gold = _spans(ctx, "gold.write", ("backfill",), measured=False)
    gold_w = [stats.window(s.start, s.end) for s in gold]
    out.update({
        "silver.write_s": sum(s.end - s.start for s in silver),
        "silver.jobs": sum(stats.window(s.start, s.end)["jobs"] for s in silver),
        "gold.race_s": sum(s.end - s.start for s in gold),
        "gold.jobs": sum(w["jobs"] for w in gold_w),
        "gold.shuffle_read_bytes": sum(w["shuffle_read_bytes"] for w in gold_w),
        "gold.shuffle_write_bytes": sum(w["shuffle_write_bytes"] for w in gold_w),
    })
    # the first silver write of the build materialises the persisted parse
    parse = _heaviest_stage(ctx, stats, silver[0]) if silver else {}
    for k, v in parse.items():
        out[f"parse.kernel.{k}"] = v
    writes = ("append",)
    merges = _spans(ctx, "warehouse.merge_upsert", writes)
    reads = _spans(ctx, "warehouse.register_views", ("read:register_views",))
    out.update({
        "warehouse.merge_upsert_s": median([s.end - s.start for s in merges]),
        "warehouse.merge_jobs_per_call": median(
            [stats.window(s.start, s.end)["jobs"] for s in merges]),
        "warehouse.register_views_s": median([s.end - s.start for s in reads]),
        "warehouse.day_slice_s": median([o.seconds for o in ctx.rec.measured("read:day_slice")]),
    })
    files, size = dir_stats(wh)
    out["warehouse.files"], out["warehouse.bytes"] = files, size
    sfiles = sbytes = 0
    for t in SILVER:
        f, b = dir_stats(os.path.join(wh, t))
        sfiles, sbytes = sfiles + f, sbytes + b
    out["silver.files"], out["silver.bytes"] = sfiles, sbytes
    # files the day_slice reads' scans opened (the new day's race slice
    # and the re-published day's odds slice), from the scan metrics
    scans = scan_files(ctx.spark)
    out["warehouse.day_slice_files_read"] = median([
        sum(n for t, n in scans if o.start <= t <= o.start + o.seconds)
        for o in ctx.rec.measured("read:day_slice")])
    # streaming epochs of the measured writes
    ops = [o for o in ctx.rec.measured() if o.kind in writes]
    epochs = []
    for p in progress:
        t = rest_time(p["timestamp"].replace("Z", "GMT"))
        op = next((o for o in ops if o.start <= t <= o.start + o.seconds), None)
        if op is None or not p["numInputRows"]:
            continue
        dur = p["durationMs"].get("triggerExecution", 0) / 1e3
        epochs.append({"s": dur, "wait": t - op.start,
                       "jobs": stats.window(t, t + dur)["jobs"]})
    out.update({
        "streaming.ingest.epochs": len(epochs),
        "streaming.ingest.epoch_s": median([e["s"] for e in epochs]),
        "streaming.ingest.jobs_per_epoch": median([e["jobs"] for e in epochs]),
        "streaming.ingest.trigger_wait_s": median([e["wait"] for e in epochs]),
    })
    out["tracing.overhead_frac"] = overhead_frac(ctx, measured_round_s(ctx))
    return out


def catalog(ctx, names: tuple[str, ...]) -> dict:
    """Per-query Spark figures of the first measured pass."""
    stats = StageStats.fetch(ctx.spark)
    out = round_totals(ctx, stats)
    for n in names:
        op = next(o for o in ctx.rec.ops if o.kind == f"query:{n}" and o.round == 1)
        w = stats.window(op.start, op.start + op.seconds)
        for k in ("tasks", "shuffle_write_bytes", "exec_cpu_s", "driver_gap_s"):
            out[f"queries.{n}.{k}"] = w[k]
    out["tracing.overhead_frac"] = overhead_frac(ctx, measured_round_s(ctx))
    return out
