"""catalog_jobs: passes over four catalog queries, in a seeded order,
on the fixed star-schema tables under perfbench/data/catalog (the
seed-42 sf0.01 driver set the DuckDB oracles are pinned to).

Two queries launch many small Spark jobs (the driver-latency floor
dominates them); two are foils with few jobs (perfbench/README.md has
their shuffle and CPU figures at this scale and at sf0.1). Set-up runs one
unmeasured pass: a query's first execution in a JVM costs two to four
times a warm one, and the pass fills the catalog's table-schema cache,
so job counts do not depend on the query order. Every pass must return
the same value hashes; a query with a DuckDB oracle must match the
oracle's, the others the hash recorded in expected.json.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os

from perfbench.harness import check, median

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "catalog")
EXPECTED = os.path.join(DATA, "expected.json")
TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem",
          "documents", "embeddings")
JOB_BOUND = ("bpe_token_count", "bm25_topk_docs")
FOILS = ("q5_region_revenue", "join_composite_key")
QUERY_NAMES = JOB_BOUND + FOILS


def _canon(v):
    """Typed, order-free canonical form (float noise below 1e-9 folded)."""
    if isinstance(v, bool):
        return ("i", int(v))
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else repr(round(v, 9) + 0.0))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, decimal.Decimal):
        return ("d", str(v.normalize()))
    if isinstance(v, (list, tuple)):
        return ("l", [_canon(x) for x in v])
    return (type(v).__name__, str(v))


def value_hash(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr([_canon(r[i]) for i in order]) for r in rows)
    return len(rows), hashlib.sha256("\n".join(canon).encode()).hexdigest()


class CatalogJobs:
    def prepare(self, ctx) -> None:
        self.order = list(QUERY_NAMES)
        ctx.rng.shuffle(self.order)
        with open(EXPECTED) as fh:
            self.expected = json.load(fh)
        self.results: dict[str, tuple[int, str]] = {}
        self.jobs: dict[str, int] = {}

    def setup(self, ctx) -> None:
        self.round(ctx, 0)

    def round(self, ctx, r: int) -> bool:
        from boatrace_database_spark.queries import QUERIES

        sc = ctx.spark.sparkContext
        for name in self.order:
            def run(name=name):
                group = f"r{r}:{name}"
                sc.setJobGroup(group, name)
                try:
                    df = QUERIES[name](ctx.spark, DATA)
                    rows = [tuple(x) for x in df.collect()]
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                got = value_hash(df.columns, rows)
                check(self.results.setdefault(name, got) == got,
                      f"{name}: pass {r} hash {got} != first pass {self.results[name]}")
                if r == 1:
                    self.jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))

            ctx.rec.op(f"query:{name}", run)
        return True

    def finish(self, ctx) -> dict:
        from boatrace_database_spark.queries import ORACLES

        oracle = [n for n in QUERY_NAMES if n in ORACLES]

        def against_oracles():
            import duckdb

            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
            for name in oracle:
                at = con.execute(ORACLES[name]).fetch_arrow_table()
                want = value_hash(at.column_names, [tuple(r.values()) for r in at.to_pylist()])
                check(self.results.get(name) == want,
                      f"{name}: {self.results.get(name)} != oracle {want}")

        def against_record():
            for name in QUERY_NAMES:
                if name not in oracle:
                    want = tuple(self.expected[name])
                    check(self.results.get(name) == want,
                          f"{name}: {self.results.get(name)} != recorded {want}")

        ctx.rec.op("check:oracles", against_oracles)
        ctx.rec.op("check:recorded", against_record)
        out = {}
        for n in QUERY_NAMES:
            out[f"queries.{n}.s"] = median([o.seconds for o in ctx.rec.measured(f"query:{n}")])
            out[f"queries.{n}.jobs"] = self.jobs.get(n, 0)
        if ctx.trace:
            from perfbench import layers

            out.update(layers.catalog(ctx, QUERY_NAMES))
        return out


def record_expected() -> None:
    """Rewrite expected.json from this tree's results for the queries
    without an oracle: ``python3 -m perfbench.catalog`` from the root."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from boatrace_database_spark.queries import ORACLES, QUERIES
    from boatrace_database_spark.session import get_spark

    spark = get_spark("perfbench-record")
    out = {}
    for name in QUERY_NAMES:
        if name not in ORACLES:
            df = QUERIES[name](spark, DATA)
            out[name] = value_hash(df.columns, [tuple(x) for x in df.collect()])
    spark.stop()
    with open(EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    record_expected()
