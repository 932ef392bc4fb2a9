"""boatrace_database_spark — a PySpark-native analytics engine.

Re-implements the query and data-processing capabilities of the
reference ETL (`tyPhoon-collab/boatrace-database`, snapshot at
/root/reference) as an idiomatic Spark DataFrame/SQL engine:

- bronze: raw TXT files and .lzh archives -> named CP932 members,
  parsed in one pass into rows tagged with file, kind and date
- silver: typed relational tables (schedule / result / odds / env)
- gold:   the denormalized ``race`` table + analytics (A1-A4)
- plus large-scale training-data-pipeline operators (dedup,
  similarity search, text analysis, multimodal plumbing) designed
  for 100 TB / multi-executor scale.

Everything is declarative DataFrame logic so Catalyst handles
pushdown, pruning, join strategy and AQE; the only imperative kernel
is the per-file fixed-layout parser (Arrow-vectorized mapInPandas).
"""

import os as _os

# Pin BLAS to one thread per process BEFORE numpy loads anywhere in the
# engine (OpenBLAS reads these at library-load time). Two reasons, both
# measured (OPTIMIZATION_r13.md §1):
# - every executor Python worker is already one slot of a fully-parallel
#   stage; a threaded BLAS inside each of 32 workers oversubscribes the
#   host 2x and the resulting spin/sync turned a 1.4 ms GEMM into 26 ms
#   (the r13 sandbox's OpenBLAS is a 2-thread build whose inter-thread
#   handoff dominates the small matmuls our Arrow kernels issue);
# - driver-side quantizer training (_lloyd_kmeans) issues thousands of
#   tiny GEMMs where the same sync overhead multiplied the IVF-PQ build
#   ~3x. One-thread-per-worker is the standard production setting for
#   task-parallel engines (each task IS the parallelism); a caller that
#   wants threaded BLAS for huge driver-side math can still export the
#   vars beforehand — setdefault never overrides.
for _v in (
    "OPENBLAS_NUM_THREADS",
    "OMP_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
):
    _os.environ.setdefault(_v, "1")

from boatrace_database_spark.session import get_spark  # noqa: E402

__all__ = ["get_spark"]
__version__ = "0.1.0"
