"""Seeded, hermetic benchmark of the boatrace engine.

    python3 perfbench/run.py --workload daily_ops --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from the seed
(and cached under ``.perfbench/``); the engine is driven only through
its public functions; every operation's output is checked. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones). A run record, and with tracing the spans and layer
figures, are written under ``.perfbench/runs/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = {
    "daily_ops": ("daily", "DailyOps"),
    "catalog_jobs": ("catalog", "CatalogJobs"),
}

END_TO_END = {"setup_s": "s", "round_s": "s", "read_geomean_s": "s"}


def _environment(run_dir: str, trace: bool) -> None:
    """Process environment for Spark, set before pyspark is imported."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.local.dir": local,
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    args = " ".join(f"--conf {k}={v}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'{args} --driver-java-options "-Dderby.system.home={run_dir}" pyspark-shell'
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Context:
    def __init__(self, args, run_dir: str):
        self.workload = args.workload
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.run_dir = run_dir
        self.cache = os.path.join(WORK, "corpus")
        self.spark = None
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        from perfbench.harness import Recorder, code_id

        self.rec = Recorder(tracing=self.trace)
        self.code = code_id(ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "boatrace_database_spark")):
        print("boatrace_database_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, "tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _environment(run_dir, bool(args.trace))
    os.chdir(run_dir)   # stray Spark/Derby files land in the run directory

    import importlib

    from perfbench.harness import RssSampler, host_fingerprint, host_probe, reference_query_s

    module, cls = WORKLOADS[args.workload]
    workload = getattr(importlib.import_module(f"perfbench.{module}"), cls)()
    ctx = Context(args, run_dir)
    host = host_fingerprint(args.seed)
    try:
        workload.prepare(ctx)                       # input generation: not set-up
        with RssSampler() as rss:
            t0 = time.perf_counter()
            from boatrace_database_spark.session import get_spark

            ctx.spark = get_spark(f"perfbench-{args.workload}")
            ctx.spark.sparkContext.setLogLevel("ERROR")
            start_s = time.perf_counter() - t0
            jvm = ctx.spark._jvm
            for _ in range(3):                      # JIT warm-up, not recorded
                host_probe(jvm)
            ctx.rec.probe = lambda: host_probe(jvm)
            t1 = time.perf_counter()
            workload.setup(ctx)
            warmup_s = time.perf_counter() - t1 - ctx.rec.probe_s
            host["reference_query_s"] = reference_query_s(ctx.spark)
            t2 = time.perf_counter()
            r = 0
            while r == 0 or time.perf_counter() - t2 < args.seconds:
                r += 1
                ctx.rec.round_no = r
                if not workload.round(ctx, r):
                    break
            ctx.rec.round_no = -1
            ctx.rec.sample_host()
            ctx.rec.probe = None
            layers = workload.finish(ctx)
            _stop(ctx.spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host["loadavg_1m_end"] = os.getloadavg()[0]
    return _report(args, ctx, host, start_s, warmup_s, rss.peak_mb, layers)


def _report(args, ctx, host, start_s, warmup_s, peak_rss_mb, layers) -> int:
    from perfbench.harness import median, percentile

    rec = ctx.rec
    ops = rec.measured()
    rounds = sorted({o.round for o in ops})
    round_s = [sum(o.seconds for o in ops if o.round == r) for r in rounds]
    reads = [o.seconds for o in ops if o.kind.startswith(("read:", "query:"))]
    failed = [o for o in rec.ops if not o.ok]
    wall = {
        "setup_s": start_s + warmup_s,
        "round_s": median(round_s),
        # a run's reads are a few of each of several kinds: their geometric
        # mean weighs every kind alike, where the median flips between
        # whichever two kinds sit in the middle
        "read_geomean_s": math.exp(sum(map(math.log, reads)) / len(reads)) if reads else 0.0,
    }
    factor = rec.host_factor()
    e2e = {k: v * factor for k, v in wall.items()}
    detail = {
        **{k.removesuffix("_s") + "_wall_s": v for k, v in wall.items()},
        "host_probe_s": median(rec.probes),
        "host_probes": len(rec.probes),
        "host_factor": factor,
        **{k: v for k, v in layers.items() if not isinstance(v, (list, dict))},
        "rounds": len(rounds),
        "reads": len(reads),
        "read_p50_s": median(reads),
        "read_p90_s": percentile(reads, 90),
        "failed_op_frac": len(failed) / max(1, len(rec.ops)),
    }
    per_layer = _per_layer()
    layer = {
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "process.peak_rss_mb": peak_rss_mb,
        **{k: v for k, v in layers.items() if k in per_layer},
    }
    record = {
        "workload": args.workload, "seed": args.seed, "code": ctx.code, "seconds": args.seconds,
        "trace": args.trace, "host": host, "end_to_end": e2e, "detail": detail,
        "per_layer": layer, "layers": layers,
        "ops": [o.__dict__ for o in rec.ops],
        "host_probes_s": rec.probes,
    }
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    base = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}")
    with open(base + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        with open(base + ".spans.json", "w") as fh:
            json.dump([s.__dict__ for s in rec.spans], fh)

    for name, value in {**e2e, **detail}.items():
        if value is None:
            print(f"{name:>44} = absent (no untraced run of this workload, seed and code on record)")
        else:
            print(f"{name:>44} = {value:.6g} {_unit(name)}")
    for o in failed:
        print(f"FAILED {o.kind} (round {o.round}): {o.error}")
    metrics = (
        {k: {"value": layer.get(k, 0), "unit": u} for k, u in per_layer.items()}
        if args.trace else
        {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    )
    print(json.dumps({
        "correct": not failed,
        "attempted": len(rec.ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


def _unit(name: str) -> str:
    """Unit of a printed figure, from its name's suffix."""
    name = name.removesuffix("_per_round")
    for suffix, unit in (("_mb_s", "MB/s"), ("_s", "s"), (".s", "s"), ("_mb", "MB"),
                         ("bytes", "bytes"), ("_frac", "ratio"), ("_factor", "ratio"),
                         ("_amp", "ratio"), ("ratio", "ratio"), ("_util", "ratio"),
                         ("_median", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _per_layer() -> dict[str, str]:
    """Per-layer metric names and units, as declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
