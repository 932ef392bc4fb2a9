"""Build a synthetic sf1 decade (10x sf0.1) for the whole-headline
scale run (r7 verdict item #6).

The driver ships sf{0.001,0.01,0.1}; the 100x design argument so far
composed per-FAMILY 10x runs (BENCHNOTES §8, §12, §18, §34). This
builds ONE coherent sf1 star schema so bench.py's full 39-query set
can run a decade up and expose cross-family interactions (cache
pressure, AQE plan flips) the per-family runs can't.

Construction — replica k of 10, all JVM-side, written once to
/tmp/sf1 (multiple parquet part-files so scans parallelize):

- region/nation: NOT replicated (true dimensions — customers keep
  nationkey references; replicating dims would change query semantics,
  not scale them).
- customer/supplier/part: surrogate keys shifted by k*STRIDE.
- orders: o_orderkey/o_custkey shifted consistently with customer;
  dates/status untouched, so date-filter selectivity is preserved.
- lineitem: l_orderkey/l_partkey/l_suppkey shifted consistently ->
  every join keeps exactly its sf0.1 fan-out, 10x the rows.
- events: event_id/user_id shifted (10x users, same per-user history
  shape — the behavioral family's per-user state distribution is
  preserved, the BENCHNOTES §34 construction).
- documents: doc_id shifted; replica text word-remapped with an rK
  suffix (disjoint vocabularies, the BENCHNOTES §12 recipe) so
  exact/minhash/ngram dedup outputs scale exactly linearly.
- embeddings: vec_id shifted; replica vectors circularly rotated by k
  components (norm- and distribution-preserving, so each replica's
  internal neighbor structure equals sf0.1's while cross-replica
  similarity is generic) — ANN work scales without planting 10 exact
  duplicates of every vector.

Usage: python scripts/build_sf1.py [dest_dir]   (default /tmp/sf1)
Then:  SPARK_GRAFT_SF_DIR=/tmp/sf1 SPARK_GRAFT_BENCH_ITERS=1 python bench.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from boatrace_database_spark.schemas import CATALOG_SCHEMAS  # noqa: E402
from boatrace_database_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
REPLICAS = 10
STRIDE = 10_000_000


def _shift(col, k):
    return (F.col(col) + F.lit(k * STRIDE)).alias(col)


def build_table(spark, name: str, dst_dir: str) -> None:
    dst = f"{dst_dir}/{name}.parquet"
    if os.path.isdir(dst):
        print(f"{name}: exists, skipping", file=sys.stderr)
        return
    base = spark.read.parquet(f"{SRC}/{name}.parquet")
    if name in ("region", "nation"):
        base.write.mode("overwrite").parquet(dst)
        print(f"{name}: copied (dimension, not replicated)", file=sys.stderr)
        return
    shifted_keys = {
        "customer": ["c_custkey"],
        "supplier": ["s_suppkey"],
        "part": ["p_partkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "events": ["event_id", "user_id"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    }[name]
    parts = []
    for k in range(REPLICAS):
        cols = []
        for f in base.schema.fields:
            if f.name in shifted_keys:
                cols.append(_shift(f.name, k))
            elif name == "documents" and f.name == "text" and k > 0:
                # disjoint replica vocabulary (BENCHNOTES §12 recipe)
                cols.append(
                    F.array_join(
                        F.transform(
                            F.split(F.trim(F.col("text")), r"\s+"),
                            lambda w: F.concat(w, F.lit(f"r{k}")),
                        ),
                        " ",
                    ).alias("text")
                )
            elif name == "embeddings" and f.name == "embedding" and k > 0:
                # circular rotation by k: norm-preserving remix
                cols.append(
                    F.concat(
                        F.slice(F.col("embedding"), k + 1, 64 - k),
                        F.slice(F.col("embedding"), 1, k),
                    ).alias("embedding")
                )
            else:
                cols.append(F.col(f.name))
        parts.append(base.select(*cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    n_parts = spark.sparkContext.defaultParallelism
    out.repartition(n_parts).write.mode("overwrite").parquet(dst)
    print(f"{name}: {REPLICAS}x written", file=sys.stderr)


def main() -> None:
    dst_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    spark = get_spark("build-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    for name in CATALOG_SCHEMAS:
        build_table(spark, name, dst_dir)
    # integrity spot checks: row counts and one join fan-out
    li = spark.read.parquet(f"{dst_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{dst_dir}/orders.parquet")
    n_li, n_od = li.count(), od.count()
    joined = li.join(od, li.l_orderkey == od.o_orderkey).count()
    assert n_li == 6_000_000 and n_od == 1_500_000, (n_li, n_od)
    assert joined == n_li, f"join fan-out broken: {joined} != {n_li}"
    print(f"sf1 OK at {dst_dir}: lineitem={n_li}, join_integrity=pass")


if __name__ == "__main__":
    main()
