"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline. Dot products via zip_with +
  aggregate (JVM higher-order functions, no Python). The query side is
  tiny -> broadcast; the corpus scan is one pass, no shuffle until the
  per-query top-k (window over k·|queries| rows).
- LSH-bucketed ANN: random-hyperplane signs as the bucket key, L
  independent plane tables OR'd (multi-table LSH) with Hamming-<=2
  multiprobe. Planes are seeded Rademacher draws computed in a
  vectorized Arrow kernel (_table_buckets) — no stored model. At
  100 TB: bucket keys are computed in the scan, candidates co-shuffle
  by (table, bucket), each bucket's top-k is local; recall tunes with
  n_planes / n_tables / probe depth.
- IVF (build/probe/persist/extend) and, reusing its quantizer,
  SemDeDup-style cluster-scoped semantic dedup (semantic_pairs /
  semantic_dedup) — the moderate-threshold regime where hyperplane
  banding stops pruning.

The ANN families share one skeleton of private helpers:
`_corpus_rows`/`_query_rows` (the (neighbor_id, cvec) and (query_id,
qvec) projections), `_probe_cells` (the IVF cell probe of `ivf_probe`
and `ivfpq_probe`), `_exact_score` + `_rank_topk` (exact rescoring and
the top-k tail of every search), `_stack` (the vector-batch prelude of
every Arrow UDF, owning the empty batch), `_nearest_cells` (the
nearest-centroid kernel of k-means, cell assignment, multi-assignment,
PQ training and encoding, and OPQ) with `_nearest_cells_udf` its one
Arrow wrapper, and `_broadcast_pair_scores`/`_join_pair_scores` (the
two candidate-pair scoring strategies of `cosine_pairs_lsh` and
`semantic_pairs`).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double precision (element-order deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """NULL-safe cosine: a zero-norm vector (padding / failed-encode
    sentinel) has no defined direction, so its similarity is NULL —
    which fails every `>= threshold` filter and sorts last under
    `desc` ranking. Without the guard this division is a
    query-killing DIVIDE_BY_ZERO under the session's ANSI mode; the
    engine-wide policy (all batch strategies + the streaming twin) is
    that zero-norm vectors simply produce no pairs/rankings."""
    den = l2_norm(a) * l2_norm(b)
    return F.when(den != 0, dot(a, b) / den)


def _corpus_rows(df: DataFrame, id_col: str, vec_col: str, *extra: Column) -> DataFrame:
    """(neighbor_id, cvec, *extra): the corpus side of every index and
    search."""
    return df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"), *extra
    )


def _query_rows(df: DataFrame, id_col: str, vec_col: str, *extra: Column) -> DataFrame:
    """(query_id, qvec, *extra): the query side of every search."""
    return df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"), *extra
    )


def _exact_score(round_to: int = 6) -> Column:
    """The exact rescoring every search ranks on: cosine(qvec, cvec)
    rounded to ``round_to`` dp, as ``score``."""
    return F.round(cosine(F.col("qvec"), F.col("cvec")), round_to).alias("score")


def _stack(vecs: pd.Series, dim: int = 0) -> "np.ndarray":
    """The prelude of every vector pandas UDF: an Arrow batch of
    vectors as one (n × dim) float64 matrix. An empty batch becomes a
    (0 × dim) matrix, so each kernel's own arithmetic yields its empty
    result and no UDF needs an empty-batch guard."""
    if not len(vecs):
        return np.zeros((0, dim))
    return np.stack(vecs.to_numpy()).astype(np.float64)


def _nearest_cells(
    A: "np.ndarray", C: "np.ndarray", n: int | None = None
) -> "np.ndarray":
    """The nearest-centroid kernel: rows of ``A`` against centroids
    ``C`` by squared L2 (||x-c||² = ||x||² - 2x·c + ||c||², the x term
    dropped — it does not change any row's order). ``n=None`` gives
    each row's nearest cell (argmin), ``n`` its n nearest cells in
    ascending distance. Ties go to the lower cell id either way (argmin
    keeps the first minimum, the argsort is stable), so n=1 is exactly
    the argmin. k-means, IVF cell assignment, SemDeDup
    multi-assignment, PQ training and encoding, and OPQ all call it."""
    d = -2.0 * (A @ C.T) + np.einsum("ij,ij->i", C, C)
    if n is None:
        return d.argmin(axis=1)
    return np.argsort(d, kind="stable", axis=1)[:, :n]


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The top-k tail every search path shares: rank each query's
    scored candidates by (score DESC, neighbor_id) and keep
    (query_id, neighbor_id, score, rk) for rk <= k."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "score", "rk")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self), deterministic
    tie-break on neighbor id. Rounded score so downstream comparisons
    are engine-portable (``round_to`` loosens the rounding for
    witnesses whose inputs carry extra FP noise, e.g. a rotation's
    ~1e-13 — see rotation_invariant_topk)."""
    q = _query_rows(queries, id_col, vec_col)
    # single-file parquet arrives as one partition; spread the O(|corpus|
    # × |queries| × dim) dot-product work across all cores first
    parallelism = corpus.sparkSession.sparkContext.defaultParallelism
    c = _corpus_rows(corpus.repartition(parallelism), id_col, vec_col)
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _exact_score(round_to))
    )
    return _rank_topk(scored, k)


def _lloyd_kmeans(X: "np.ndarray", k: int, iters: int = 20, seed: int = 7):
    """Seeded Lloyd k-means on a driver-side sample (numpy), k-means++
    seeding (Arthur & Vassilvitskii 2007: each next seed drawn with
    probability ∝ squared distance to the nearest chosen seed — O(n·k)
    total, driver-cheap at any train_n, and worth a consistent recall
    point or two over uniform init for the PQ codebooks and IVF cells
    on this corpus). Empty cells keep their previous centroid — the
    standard degenerate-cell guard. Fully deterministic under `seed`."""
    rng = np.random.default_rng(seed)
    # seeding cost is O(|pool|·k) with k sequential steps: cap the
    # seeding POOL at 32·k via a deterministic stride subsample (Lloyd
    # still refines on all of X) — at sf1 the uncapped 20k-point pool
    # made the one-shot IVF-PQ build seed 4096 times over the full
    # sample (§38); 32 candidates per final centroid loses nothing
    # k-means++'s guarantee cares about
    pool = X
    if len(X) > 32 * k:
        pool = X[:: max(len(X) // (32 * k), 1)]
    k_eff = min(k, len(pool))
    seeds = np.empty(k_eff, dtype=np.int64)
    seeds[0] = rng.integers(len(pool))
    d2 = ((pool - pool[seeds[0]]) ** 2).sum(axis=1)
    for j in range(1, k_eff):
        tot = d2.sum()
        if tot <= 0:  # all remaining points coincide with a seed
            seeds[j:] = rng.integers(0, len(pool), k_eff - j)
            break
        seeds[j] = rng.choice(len(pool), p=d2 / tot)
        d2 = np.minimum(d2, ((pool - pool[seeds[j]]) ** 2).sum(axis=1))
    C = pool[seeds].copy()
    if len(C) < k:  # corpus smaller than k: pad with jittered repeats
        C = np.vstack([C, C[rng.integers(0, len(C), k - len(C))] + 1e-6])
    for _ in range(iters):
        assign = _nearest_cells(X, C)
        # vectorized centroid update (round 9): scatter-add + bincount
        # replaces the per-centroid boolean-mask loop, whose k scans of
        # X dominated the PQ codebook training (measured 15× on the
        # update step, ~2× on the whole build at k=256). Still fully
        # deterministic; summation order differs from np.mean's
        # pairwise reduction only in the last ulp.
        sums = np.zeros((k, X.shape[1]))
        np.add.at(sums, assign, X)
        cnt = np.bincount(assign, minlength=k)
        nz = cnt > 0
        newC = C.copy()
        newC[nz] = sums[nz] / cnt[nz, None]  # empty cells keep centroids
        if np.allclose(newC, C):
            break
        C = newC
    return C


def _nearest_cells_udf(spark, C: "np.ndarray", n: int | None = None):
    """Arrow-batched `_nearest_cells` against a broadcast (n_cells ×
    dim) centroid matrix: ``n=None`` gives an int column (each
    vector's nearest cell — the full build, incremental add and stream
    ingest, so all assign identically), ``n`` an array<int> of the n
    nearest cells in ascending distance (SemDeDup multi-assignment and
    its streaming twin)."""
    bc = spark.sparkContext.broadcast(C)

    @F.pandas_udf("int" if n is None else "array<int>")
    def nearest_cells(vecs: pd.Series) -> pd.Series:
        M = bc.value
        cells = _nearest_cells(_stack(vecs, M.shape[1]), M, n).astype(np.int32)
        return pd.Series(cells if n is None else list(cells))

    return nearest_cells


def _bounded_training_sample(base: DataFrame, n: int, train_n: int):
    """Deterministic bounded quantizer-training sample as a pandas
    frame of ``cvec`` rows — shared by the IVF coarse quantizer and the
    PQ codebook trainer so both train on the same replayable subset.

    Small corpus: every row, in neighbor_id order (toPandas row order
    must not depend on partition arrival — the k-means init indexes
    rows positionally). Large corpus: a deterministic xxhash64 filter
    ≈ the target fraction (slight over-sample, hard-capped); the
    orderBy BEFORE limit makes the kept subset + row order a pure
    function of the data — a bare limit() keeps whichever partitions
    answer first, which leaked nondeterminism into the quantizer
    (r4: recall 0.50 vs 0.58 on identical data). Sorting only the
    ~1.2·train_n filtered rows is cheap at any corpus size.
    """
    if n <= train_n:
        # driver-side sort, not orderBy: the whole-corpus branch is by
        # definition <= train_n rows, and a Spark global sort pays a
        # range-partitioning SAMPLE job plus a sort stage just to order
        # what pandas sorts in microseconds (r13). neighbor_id is the
        # unique row key, so the resulting row order — all the k-means
        # init cares about — is identical.
        pdf = base.select("neighbor_id", "cvec").toPandas()
        if pdf["neighbor_id"].isna().any():
            # neighbor_id is the unique row key by contract; a null here
            # would sort differently in pandas (NaN last) than Spark's
            # orderBy (nulls first) and silently perturb k-means init —
            # refuse instead (ADVICE r13)
            raise ValueError(
                "quantizer sample: corpus id column contains nulls — "
                "ids must be unique and non-null"
            )
        pdf = pdf.sort_values("neighbor_id", kind="mergesort", ignore_index=True)
        return pdf[["cvec"]]
    den = 1 << 20
    num = min(den, int(den * 1.2 * train_n / n) + 1)
    sample_pdf = (
        base.where(F.pmod(F.xxhash64("neighbor_id"), F.lit(den)) < num)
        .orderBy(F.xxhash64("neighbor_id"), "neighbor_id")
        .limit(train_n)
        .select("cvec")
        .toPandas()
    )
    if not len(sample_pdf):
        raise ValueError(
            "quantizer sample: deterministic hash sample selected 0 "
            "of the corpus's rows — id distribution defeats the "
            "xxhash64 filter; raise the sample size"
        )
    if len(sample_pdf) < train_n // 2:
        import warnings

        warnings.warn(
            f"quantizer sample: deterministic hash sample returned "
            f"{len(sample_pdf)} rows, well under train_n={train_n}; "
            "the quantizer will train on a thin sample "
            "(raise the sample size or check id distribution)",
            stacklevel=2,
        )
    return sample_pdf


def ann_cells(n: int, target_cell: int = 125, floor: int = 16) -> int:
    """Derive the IVF coarse-quantizer cell count from the corpus size:
    n_cells = max(floor, ceil(n / target_cell)) — constant E[cell size],
    the same rule as `semantic_cells` and the r9 verdict's prescription
    for the last pinned dial (n_cells=16 at any n cost ivfpq recall
    0.66→0.45 across the sf0.1→sf1 decade: 10× the density crammed
    into 16 unchanged cells).

    Why constant cell size here rather than FAISS's ~√n rule: with
    `ann_nprobe` holding the PROBED FRACTION constant, per-query scan
    work is fraction·n — linear regardless of the cell count — while
    the centroid-ranking term (∝ n_cells = n/125) stays negligible
    until ~10M vectors. Constant E[cell] additionally keeps residual
    norms (and hence PQ quantization error per IVFADC code) stable as
    n grows, which is what holds ADC recall flat across decades. At
    true production scale the √n balance point matters and callers
    pass an explicit ``n_cells``; this derivation is the default that
    survives the decade-up benches. Anchor: 16 cells at n ≤ 2000 (the
    committed sf≤0.1 demo operating point, byte-identical)."""
    if n <= 0:
        return floor
    return max(floor, math.ceil(n / target_cell))


def ann_nprobe(n_cells: int, fraction: float = 0.5, floor: int = 8) -> int:
    """Derive nprobe from the cell count by holding the probed fraction
    constant (demo operating point: 8 of 16 cells = 1/2). Constant
    fraction is the recall-preserving companion of `ann_cells`: finer
    cells at the same fraction prune BETTER-informed, so recall holds
    or improves across decades while scan work stays fraction·n."""
    return min(n_cells, max(floor, round(n_cells * fraction)))


def pq_subspaces_for_target(dim: int, target_recall: float) -> int:
    """Derive the PQ subspace count from an ADC recall target — the
    measured code-budget knee as a caller-visible contract (r10
    verdict item #4) instead of a BENCHNOTES footnote. Anchors
    (BENCHNOTES §41, dim-64 corpus at sf1 density, nprobe at the
    derived fraction):

    | dims/subspace | compression | sf1 ADC recall |
    |---|---|---|
    | 4 (S = dim/4) | 16x | 0.54 |
    | 2 (S = dim/2) | 8x  | 0.87 (probe FASTER: fewer refuted) |

    The rule keys on dims-per-subspace, not the absolute subspace
    count, because quantization error per code is set by how many
    dimensions one byte must describe — that is what transfers across
    dims. Targets above the 2-dim anchor are NOT reachable by raw ADC
    at high density (a fixed code budget cannot discriminate shrinking
    neighbor gaps); the builder raises and points at the re-rank path,
    `ivfpq_probe`'s default refine depth, measured 0.94 at the same
    operating point."""
    if not 0.0 < target_recall <= 1.0:
        raise ValueError(
            f"pq_subspaces_for_target: target_recall={target_recall} "
            "must be in (0, 1]"
        )
    if target_recall > 0.87:
        raise ValueError(
            f"pq_subspaces_for_target: ADC alone cannot hold recall "
            f"{target_recall} at scale (2-dim subspace anchor: 0.87); "
            "use ivfpq_probe's refine path (default depth, measured "
            "0.94) over a target_recall<=0.87 code budget"
        )
    d_sub = 4 if target_recall <= 0.54 else 2
    if dim % d_sub:
        raise ValueError(
            f"pq_subspaces_for_target: dim={dim} not divisible by the "
            f"derived {d_sub}-dim subspace width"
        )
    return dim // d_sub


def ivf_build_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    sample_per_cell: int = 256,
    _n: int | None = None,
    _train_sample=None,
) -> tuple[DataFrame, DataFrame]:
    """IVF index build: k-means coarse quantizer, FAISS-style.

    The quantizer trains on a BOUNDED deterministic sample
    (``sample_per_cell·n_cells`` vectors, picked by xxhash64 order so
    the sample is pseudo-random but replayable) driver-side with numpy
    Lloyd iterations — a coarse quantizer needs rough cells, not a
    full-corpus fit, and this is exactly how large ANN systems build
    IVF at any scale. Cell ASSIGNMENT is the distributed part: one
    Arrow-batched pass over the corpus against the broadcast
    (n_cells × dim) centroid matrix. Replaces a Spark ML KMeans.fit
    whose per-iteration job scheduling dominated the build (5.5 s →
    ~1 s at sf0.1 for identical probe semantics).

    Returns ``(indexed, centroids)`` — ``indexed`` is the corpus with a
    `cell` assignment (the inverted file), ``centroids`` the tiny
    lookup the probe ranks against. At 100 TB the index is built ONCE
    and persisted as a table partitioned/clustered by `cell`; probes
    are a separate, far cheaper job: ``ivf_probe`` searches it.
    """
    spark = corpus.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    # _n/_train_sample: ivfpq_build_index threads its one count and
    # (when provably identical) one training sample through both
    # trainers, so a combined build never scans the corpus twice
    n = corpus.count() if _n is None else _n  # parquet metadata count
    if n == 0:
        raise ValueError(
            "ivf_build_index: corpus is empty — nothing to train the "
            "coarse quantizer on"
        )
    if n_cells is None:
        # n_cells=None (default) derives the dial from the corpus size
        # — the r9-verdict fix for the pinned 16-cell demo quantizer
        n_cells = ann_cells(n)
    # size index partitions to the data: sharding a small corpus across
    # every core just multiplies per-task overhead (the checkpointed
    # inverted file keeps this partitioning), while a big corpus still
    # fans out to the full parallelism.
    n_parts = max(1, min(parallelism, n // 2048))
    base = _corpus_rows(corpus.repartition(n_parts), id_col, vec_col)
    train_n = sample_per_cell * n_cells
    sample_pdf = (
        _train_sample
        if _train_sample is not None
        else _bounded_training_sample(base, n, train_n)
    )
    C = _lloyd_kmeans(_stack(sample_pdf["cvec"]), n_cells)

    indexed = base.withColumn("cell", _nearest_cells_udf(spark, C)(F.col("cvec")))
    # NOTE: leave the centroid table a plain LocalRelation — Catalyst
    # inlines it into broadcast exchanges driver-side. Wrapping it in
    # coalesce(1) or localCheckpoint "to optimize" forces real jobs and
    # measured 4-6x SLOWER probes. The cell COUNT is stamped into the
    # column metadata so nprobe derivation is a schema read: counting
    # even this 16-row LocalRelation launches a real job (measured
    # 0.43-0.48 s under load — the r10 probe regression, r11 §45).
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(C)],
        "cell INT, centroid ARRAY<DOUBLE>",
    ).select(
        F.col("cell").alias("cell", metadata={"n_cells": n_cells}),
        "centroid",
    )
    return indexed, cent_df


def _centroid_cells(centroids: DataFrame) -> int:
    """Cell count of a centroid table: the build-time metadata stamp
    when present (a driver-side schema read — no job), else one count
    (externally-assembled tables).

    CONTRACT (r11 ADVICE #2): the stamp is trusted, and Spark
    propagates column metadata through select/filter/union — so the
    derived-dial path requires the UNMODIFIED build output (including
    its parquet round-trip, which preserves metadata). A centroid
    table you subset or assembled by unioning two indexes keeps a
    stale stamp; for such tables strip the stamp
    (``df.select(F.col("cell").alias("cell", metadata={}), ...)``)
    to fall back to the count, or pass ``nprobe``/``n_assign``
    explicitly. Validating the stamp would itself cost the count job
    the stamp exists to avoid (a 16-row LocalRelation count measured
    0.43–0.48 s per probe, r11 §45)."""
    meta = centroids.schema["cell"].metadata or {}
    n = meta.get("n_cells")
    return int(n) if n is not None else centroids.count()


def _probe_cells(
    centroids: DataFrame, q: DataFrame, nprobe: int | None, *keep: str | Column
) -> DataFrame:
    """The IVF cell probe `ivf_probe` and `ivfpq_probe` share: each
    (query_id, qvec) row ranks the broadcast centroid table by squared
    L2 (ties to the lower cell) and keeps its ``nprobe`` nearest cells
    as (query_id, cell, *keep) rows. ``keep`` columns are evaluated on
    the same query × centroid row (``qvec``, or IVF-PQ's centroid dot
    term). ``nprobe=None`` derives it from the cell count at constant
    probed fraction (`ann_nprobe`) — a schema-metadata read, NOT a
    count: even a 16-row LocalRelation count launches a job (~0.45 s —
    r11 §45)."""
    if nprobe is None:
        nprobe = ann_nprobe(_centroid_cells(centroids))
    qc = q.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "cell",
        F.aggregate(
            F.zip_with("qvec", "centroid", lambda x, c: (x.cast("double") - c) ** 2),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("d2"),
        *keep,
    )
    wq = Window.partitionBy("query_id").orderBy("d2", "cell")
    return (
        qc.withColumn("cr", F.row_number().over(wq))
        .where(F.col("cr") <= nprobe)
        .drop("d2", "cr")
    )


def ivf_probe(
    indexed: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int | None = None,
) -> DataFrame:
    """IVF search against a prebuilt index (``ivf_build_index``): each
    query ranks the centroid table, probes its `nprobe` nearest cells,
    and exact-scores only those candidates — a probe touches
    nprobe/n_cells of the corpus. Recall tunes with nprobe (= n_cells
    recovers brute force). ``nprobe=None`` (default) derives it from
    the index's cell count at constant probed fraction (`ann_nprobe`),
    so the dial scales with an `ann_cells`-derived quantizer."""
    probes = _probe_cells(
        centroids, _query_rows(queries, id_col, vec_col), nprobe, "qvec"
    )
    scored = (
        indexed.join(F.broadcast(probes), on="cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _exact_score())
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _rank_topk(scored, k)


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index as tables: the inverted file partitioned by
    `cell` plus the centroid lookup. THE deployment shape at 100 TB —
    build once, probe many — and partitioning by cell means a probe
    joining on `cell` triggers Spark's dynamic partition pruning: only
    the nprobe probed cells' files are ever read (plan-asserted in
    tests), the storage-level realization of 'a probe touches
    nprobe/n_cells of the corpus'."""
    indexed, centroids = ivf_build_index(corpus, id_col, vec_col)
    indexed.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/inverted"
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_read_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a persisted IVF index (see ivf_write_index) for probing."""
    return (
        spark.read.parquet(f"{path}/inverted"),
        spark.read.parquet(f"{path}/centroids"),
    )


def centroid_matrix(centroids: DataFrame) -> "np.ndarray":
    """Collect a centroid table to the (n_cells × dim) matrix the
    Arrow assignment kernels index POSITIONALLY — so row position must
    equal cell id. A centroid table with gaps (e.g. a caller dropped a
    drained cell) would silently mis-assign every vector after the
    gap; every consumer of the matrix (incremental add, multi-assign
    semantic pairs, the streaming twin) validates through this ONE
    helper and refuses instead."""
    rows = centroids.orderBy("cell").collect()
    cells = [r.cell for r in rows]
    if cells != list(range(len(rows))):
        raise ValueError(
            f"centroid cells must be the gapless sequence 0..{len(rows) - 1} "
            f"(got {cells}); rebuild the index rather than filtering the "
            "centroid table"
        )
    return np.array([r.centroid for r in rows], dtype=np.float64)


def ivf_add_to_index(
    indexed: DataFrame,
    centroids: DataFrame,
    new_corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incrementally extend a built IVF index: assign NEW vectors to
    the EXISTING cells (no retrain) and append them to the inverted
    file — the standard maintenance path for a growing corpus, since
    the coarse quantizer only needs to reflect the broad distribution.

    Returns the extended inverted file (same schema as
    ``ivf_build_index``'s); with a persisted index the equivalent is
    appending the assigned rows to the cell-partitioned table. Watch
    ``ivf_cell_stats`` as data accumulates: when new data drifts from
    the trained distribution, max_cell balloons relative to avg_cell —
    the signal to retrain rather than keep appending.
    """
    addition = _assign_cells(new_corpus, centroid_matrix(centroids), id_col, vec_col)
    return indexed.unionByName(addition)


def _assign_cells(corpus: DataFrame, C: "np.ndarray", id_col: str, vec_col: str):
    """(neighbor_id, cvec, cell): each vector with its nearest cell of
    the centroid matrix ``C`` — the assignment step of every index add."""
    cells = _nearest_cells_udf(corpus.sparkSession, C)(F.col(vec_col))
    return _corpus_rows(corpus, id_col, vec_col, cells.alias("cell"))


def ivfpq_add_to_index(
    codes: DataFrame,
    centroids: DataFrame,
    books: "np.ndarray",
    new_corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """`ivf_add_to_index`'s IVF-PQ twin: assign NEW vectors to the
    existing cells, encode them against the existing codebooks (in the
    index's own by_residual mode, read from the codes column's schema
    metadata), and append — no retrain, same maintenance contract.
    The residual default keeps this cheap: codebooks are SHARED across
    cells, so an append touches only the new rows. Same drift caveat
    as the IVF twin: watch cell stats, retrain when max_cell balloons.
    """
    return codes.unionByName(
        _pq_extend_rows(codes, centroids, books, new_corpus, id_col, vec_col)
    )


def _pq_extend_rows(codes, centroids, books, new_corpus, id_col, vec_col):
    """Index rows that extend the built IVF-PQ index ``codes`` with
    ``new_corpus``: assigned to the existing cells, encoded in the
    index's own by_residual mode (its codes metadata). The batch add
    and the stream ingest both emit exactly these rows."""
    meta = codes.schema["codes"].metadata or {}
    by_residual = bool(meta.get("by_residual", False))
    C = centroid_matrix(centroids)
    return _pq_index_rows(
        _assign_cells(new_corpus, C, id_col, vec_col),
        books,
        C if by_residual else None,
    )


def cosine_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, score >= threshold).

    Exact all-pairs — O(n²) dot products — correct for candidate sets
    and small corpora; the scale path blocks candidates through
    `lsh_ann_topk`'s hyperplane buckets first and scores only
    collisions.
    """
    parallelism = corpus.sparkSession.sparkContext.defaultParallelism
    base = corpus.repartition(parallelism).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    a = base.alias("a")
    b = base.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine(F.col("a.vec"), F.col("b.vec")), 4).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )


def dot_batch(a: Column, b: Column) -> Column:
    """Arrow-vectorized float64 dot product for BULK pair scoring.

    The zip_with+aggregate fold is exact and engine-portable but runs
    interpreted (~µs/pair — fine for top-k demos, dominant for millions
    of candidate pairs). This pandas_udf moves batches over Arrow and
    lets numpy do the multiply-add (~ns/pair). Summation order differs
    from the sequential fold only below ~1e-13 relative — downstream
    scores round to >=4 decimals, so results are identical in practice.
    """
    @F.pandas_udf("double")
    def _dot(xs, ys):
        return pd.Series(np.einsum("ij,ij->i", _stack(xs), _stack(ys)))

    return _dot(a, b)


def rademacher_planes(n_planes: int, dim: int, seed: int = 0x5EED) -> list[list[float]]:
    """Deterministic ±1 hyperplanes (xorshift64 bit stream).

    Pure function of (n_planes, dim, seed) so the *identical* literal
    matrices can be inlined into both the Spark plan and a SQL oracle.
    ±1 components keep every product ``float32_value * plane`` exactly
    representable in double, so the sign of the dot product is
    engine-portable (no FP-boundary flips between Spark and DuckDB).
    """
    x = (seed & 0xFFFFFFFFFFFFFFFF) or 1
    planes: list[list[float]] = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 7
            x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
            row.append(1.0 if x & 1 else -1.0)
        planes.append(row)
    return planes


def _band_keys_udf(
    planes: list[list[float]], bands: int, rows_per_band: int
):
    """Arrow-vectorized banded hyperplane signatures: ONE numpy matmul
    (vecs @ planesᵀ) computes every plane dot for a batch, replacing
    bands·rows_per_band interpreted `aggregate` folds per row (the r2
    bench's cost center for `dedup_embedding_cosine`).

    Sign portability: plane components are ±1 and inputs float32, so
    every product is exact in double; only the SUM's rounding depends on
    order, and numpy's pairwise/SIMD order differs from the sequential
    fold DuckDB and Spark's `aggregate` use. Any |dot| below a ~1e-6
    guard (vastly above the ~1e-12 worst-case pairwise-vs-sequential
    divergence at dim 64) is recomputed with a strict left-to-right
    fold, so the emitted sign bit is bit-identical to the SQL oracle's.
    """
    P = np.array(planes, dtype=np.float64)

    @F.pandas_udf("array<int>")
    def band_keys(vecs: pd.Series) -> pd.Series:
        A = _stack(vecs, P.shape[1])
        D = A @ P.T  # (n, bands·rows_per_band)
        risky = np.abs(D) < 1e-6
        if risky.any():
            for i, j in zip(*np.nonzero(risky)):
                acc = 0.0
                for x, c in zip(A[i], P[j]):
                    acc += x * c
                D[i, j] = acc
        bits = (D > 0).astype(np.int32)
        keys = np.zeros((A.shape[0], bands), dtype=np.int32)
        for b in range(bands):
            for j in range(rows_per_band):
                keys[:, b] += bits[:, b * rows_per_band + j] << j
        return pd.Series(list(keys))

    return band_keys


def _broadcast_pair_scores(
    base: DataFrame,
    cand: DataFrame,
    threshold: float,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Broadcast-matrix cosine scoring of candidate pairs: ship the
    whole (n × dim) float64 matrix to every python worker ONCE and
    score (id_a, id_b) pairs by numpy gather + batched einsum — only
    pair ids (plus ``extra_cols``, passed through untouched) ride the
    shuffle. The small-corpus strategy shared by `cosine_pairs_lsh`
    and `semantic_pairs`; CALLERS gate on corpus size (the memory math
    lives in cosine_pairs_lsh's docstring).

    ``base``: (id, vec) — one row per corpus vector, ids matching the
    pair ids. Rounding (4 dp, JVM-side) and the >= threshold filter
    are identical to the vector-join strategy (`_join_pair_scores`),
    so both produce the same rows.
    """
    spark = base.sparkSession
    pdf = base.select("id", "vec").toPandas()  # size-gated driver exit
    ids = pdf["id"].to_numpy()
    mat = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    # key the row map by the RAW id values (no int() coercion) and
    # derive the output schema from the corpus id type — so string /
    # non-integral ids behave identically on both sides of a caller's
    # size gate instead of crashing only on one
    row_of = {i: r for r, i in enumerate(ids)}
    bc = spark.sparkContext.broadcast((row_of, mat, norms))
    id_type = base.schema["id"].dataType.simpleString()
    extra_schema = "".join(
        f", {c} {cand.schema[c].dataType.simpleString()}" for c in extra_cols
    )

    def score_pairs(batches):
        row_idx, M, nrm = bc.value
        for b_pdf in batches:
            ia = b_pdf["id_a"].map(row_idx).to_numpy()
            ib = b_pdf["id_b"].map(row_idx).to_numpy()
            den = nrm[ia] * nrm[ib]
            # zero-norm policy: numpy's 0/0 would yield NaN, which
            # Spark's `>= threshold` treats as TRUE (NaN sorts greatest)
            # — -inf instead, so such pairs always fail the filter,
            # matching the NULL-safe JVM `cosine` and the streaming skip
            s = np.divide(
                np.einsum("ij,ij->i", M[ia], M[ib]),
                den,
                out=np.full(len(den), -np.inf),
                where=den != 0,
            )
            out = {"id_a": b_pdf["id_a"], "id_b": b_pdf["id_b"]}
            for c in extra_cols:
                out[c] = b_pdf[c]
            out["raw"] = s
            yield pd.DataFrame(out)

    scored = cand.mapInPandas(
        score_pairs, f"id_a {id_type}, id_b {id_type}{extra_schema}, raw DOUBLE"
    )
    # round JVM-side exactly like the join path (and the oracles)
    return scored.select(
        "id_a", "id_b", *extra_cols, F.round(F.col("raw"), 4).alias("score")
    ).where(F.col("score") >= threshold)


def _join_pair_scores(
    base: DataFrame,
    cand: DataFrame,
    threshold: float,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """`_broadcast_pair_scores`' vector-join twin, for corpora too
    large to broadcast: vectors hash-join onto the candidate (id_a,
    id_b, *extra_cols) list — AQE picks broadcast when ``base`` fits
    and a shuffled hash join at cluster scale, no hardcoded hint — and
    each pair scores ONE `dot_batch` over the stored norms.

    ``base``: (id, vec, norm). Rows with norm 0 are dropped before the
    joins: zero-norm vectors produce no pairs (the engine-wide policy),
    and under ANSI mode an unguarded /0 would kill the job. Rounding
    (4 dp) and the >= threshold filter match the broadcast twin, so
    both strategies produce the same rows."""
    nonzero = base.where(F.col("norm") != 0)
    va = nonzero.select(
        F.col("id").alias("id_a"), F.col("vec").alias("vec_a"),
        F.col("norm").alias("norm_a"),
    )
    vb = nonzero.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vec_b"),
        F.col("norm").alias("norm_b"),
    )
    return (
        cand.join(va, on="id_a")
        .join(vb, on="id_b")
        .select(
            "id_a",
            "id_b",
            *extra_cols,
            F.round(
                dot_batch(F.col("vec_a"), F.col("vec_b"))
                / (F.col("norm_a") * F.col("norm_b")),
                4,
            ).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )


def lsh_band_geometry(
    threshold: float,
    n: int,
    anchor_n: int = 2048,
    base_bands: int = 8,
    base_rows: int = 2,
    max_rows: int = 24,
    max_bands: int = 32,
    target_recall: float = 0.9,
    cand_per_row: int = 2048,
) -> tuple[int, int]:
    """Derive (bands, rows_per_band) from (threshold, corpus size) so
    the banded self-join's candidate count stays ~linear in n at ANY
    scale — the r8 verdict's fix for the measured quadratic regime:
    fixed shallow geometry (8 bands × 2 rows) kept candidate pairs
    ∝ n² and BENCHNOTES §38 clocked `dedup_embedding_cosine` at 84×
    cost for 10× data.

    Derivation (pure function of (threshold, n) — deterministic, so a
    SQL oracle can inline the identical plane literals for any corpus
    whose size is known):

    - rows_per_band deepens by 1 per doubling of n beyond ``anchor_n``.
      For uncorrelated directions a random pair agrees with a ±1
      hyperplane's sign with probability 1/2 (the isotropic prior —
      measured on this corpus: 4M raw collisions at sf0.1 = 0.25
      per-band rate at r=2, exactly 0.5²), so per-band collisions
      ≈ C(n,2)·2⁻ʳ and each extra row cancels one doubling of n:
      b·C(n,2)·2⁻ʳ stays O(n).
    - bands then buy recall back at the derived depth via the standard
      LSH union bound recall(θ) = 1-(1-p^r)^b, p = 1-arccos(θ)/π —
      capped BOTH by ``max_bands`` and by the work budget
      (``cand_per_row`` expected candidates per corpus row, the sf0.1
      demo's observed rate), floored at ``base_bands``.

    At the catalog's corpora this yields (8, 2) for n ≤ 2048 (sf0.01's
    500 and sf0.1's 2000 vectors — the committed oracle geometry,
    unchanged) and (12, 6) at the sf1 decade-up's 20k vectors, whose
    expected candidate count is ~9× sf0.1's (vs the measured 84× at
    pinned geometry). The honest LSH tradeoff stands: at mid-range
    thresholds (θ≈0.45) deep bands cost recall (the union bound cannot
    reach ``target_recall`` under the caps); the derivation maximizes
    recall SUBJECT TO linear work, which is the only pick that
    survives 100 TB. For moderate-similarity dedup at scale prefer
    the cluster-scoped `semantic_pairs` (whose candidate work is
    threshold-independent).
    """
    if n <= 0:
        return base_bands, base_rows
    extra = 0
    if n > anchor_n:
        extra = math.ceil(math.log2(n / anchor_n))
    r = min(max_rows, base_rows + extra)
    p = 1.0 - math.acos(min(1.0, max(-1.0, threshold))) / math.pi
    pr = p**r
    if 0.0 < pr < 1.0:
        b_recall = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pr))
    else:
        b_recall = base_bands
    # expected random-pair collisions per band under the isotropic
    # prior; bands the work budget can afford at ~cand_per_row·n total
    exp_band = n * (n - 1) / 2.0 * 0.5**r
    b_work = max(1, math.floor(cand_per_row * n / exp_band)) if exp_band >= 1 else max_bands
    return max(base_bands, min(b_recall, b_work, max_bands)), r


def semantic_cells(n: int, target_cell: int = 125, floor: int = 16) -> int:
    """Derive the SemDeDup cell count from the corpus size: n_cells =
    max(floor, ceil(n / target_cell)) keeps E[cell size] CONSTANT, so
    within-cell exact-pair work Σ sz² ≈ n·target_cell grows linearly
    with the corpus — the r8 verdict's fix for the pinned n_cells=16,
    which BENCHNOTES §38 measured at 42× cost for 10× data (within-cell
    pairs ∝ (n/cells)² when cells don't grow).

    Cells ∝ n — not FAISS's ~√n rule — because that rule balances a
    probe's two ANN cost terms (centroid ranking vs cell scan), while
    SemDeDup's cost is the all-pairs scan WITHIN cells: only linear
    cell growth keeps the pair count linear. ``target_cell`` = 125
    reproduces the §38-measured linear dial exactly: 16 cells at
    sf0.1's 2000 vectors (the committed demo operating point,
    unchanged) and 160 cells at the sf1 decade-up's 20k (measured
    33 s ≈ 9.5× ≈ linear vs 146 s at the pin). Recall behavior is
    scale-stable by construction: constant cell size means the
    fraction of true pairs split across cells doesn't drift with n
    (the n_assign dial still buys it back).
    """
    if n <= 0:
        return floor
    return max(floor, math.ceil(n / target_cell))


def semantic_assign(
    n_cells: int,
    anchor_cells: int = 16,
    base: int = 3,
    max_assign: int = 8,
) -> int:
    """Derive SemDeDup's multi-assignment dial from the cell count the
    corpus derived (`semantic_cells`) — the r9 verdict's fix for the
    STATIC n_assign=3 whose recall fell 0.862 → 0.390 across the
    sf0.1 → sf1 decade on a clusterless corpus.

    Rule: hold the COVERED corpus fraction roughly constant. A vector
    is compared against ~n_assign²·E[cell] candidates; with
    `semantic_cells` holding E[cell] constant, that is a SHRINKING
    fraction of a growing corpus unless n_assign² grows ∝ n (∝
    n_cells), i.e. n_assign ∝ √n_cells — on a clusterless corpus
    (the worst case: cell membership carries no signal about true
    near-pairs) recall tracks that covered fraction, which is exactly
    the §40-measured decay. So: base·√(n_cells/anchor_cells), floored
    at ``base``, capped at ``max_assign`` — the work-budget knee §40
    measured (n_assign 3→5→8 gives recall 0.390→0.643→0.873 at sf1's
    160 derived cells, the n_assign=8 pass ~2.5× the n_assign=3 one;
    past it cost keeps growing for vanishing recall). Anchors: 3 at
    ≤16 cells (the committed sf≤0.1 demo dial, byte-identical) and 8
    at sf1's 160 cells (recall 0.873 ≈ the sf0.1 operating point).
    On REAL clustered corpora — the SemDeDup setting — cell structure
    follows the data and the derived dial is conservative; callers
    with a measured corpus can pin ``n_assign`` explicitly."""
    if n_cells <= anchor_cells:
        return base
    return min(
        max_assign, max(base, round(base * math.sqrt(n_cells / anchor_cells)))
    )


def cosine_pairs_lsh(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    bands: int | None = None,
    rows_per_band: int | None = None,
    dim: int = 64,
    seed: int = 0x5EED,
    broadcast_max_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """Near-dup pairs via hyperplane-LSH blocking + exact cosine on
    candidates only (id_a < id_b, score >= threshold).

    The scale path for `cosine_pairs`: signatures are banded; a pair is
    a candidate iff it shares at least one band's full sign slice, so
    the self-join is a hash equi-join on (band, key) — never a
    cartesian product. Exact cosine is computed only for collisions.
    Recall = 1-(1-p^r)^b with p = 1-θ/π; shallow bands (r=2) suit
    mid-range thresholds like 0.45, deep bands (r=8) give the real
    100 TB pruning at near-dup thresholds (≥0.9) — see
    tests/test_llm_ops.py for both regimes.

    Candidate SCORING picks one of two physical strategies (same
    result, same rounding — the choice mirrors broadcast-vs-shuffle
    join selection):

    - corpus matrix ≤ ``broadcast_max_bytes``: ship the whole
      (n × dim) float64 matrix to every python worker ONCE and score
      candidate (id_a, id_b) pairs by numpy gather + batched einsum.
      Only pair ids ride the shuffle. Shallow-band regimes like the
      θ=0.45 catalog demo keep ~90% of all pairs as candidates, so
      joining vectors onto both sides of every pair (the r3 plan)
      shuffled ~1000× more bytes than the pair list itself — that join
      was the round-3 bench's unexplained 6 s, not the signatures.
    - larger corpora: two hash joins pull vectors onto the (far
      sparser, deep-band) candidate list — the 100 TB path, where the
      matrix cannot broadcast and candidates are rare by construction.

    ``broadcast_max_bytes`` (default 64 MB) is that gate and a
    deliberate tunable. Memory math for raising it: the n×dim float64
    matrix is collected ONCE on the driver and broadcast to every
    executor, where each resident Python worker (one per core running
    a mapInPandas task, up to ``spark.executor.cores``) holds a
    deserialized copy — peak ≈ cores × (8·n·dim) bytes of Python-heap
    (``spark.executor.pyspark.memory``) per executor, plus one JVM
    copy in storage memory. 64 MB × 8 cores ≈ 512 MB/executor: safe
    on any sane profile. Set it to 0 to force the vector-join path
    (tests do exactly this to pin the strategy), or higher only after
    redoing that multiplication against the executor profile.

    ``bands``/``rows_per_band`` default to None = DERIVED from
    (threshold, corpus size) by `lsh_band_geometry`, the scale-safe
    default (fixed shallow geometry measured quadratic at 10× data,
    BENCHNOTES §38). Pass both explicitly to pin a regime (oracles and
    regime tests do).
    """
    spark = corpus.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    base = corpus.repartition(parallelism).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        # norm precomputed once per vector: scoring needs ONE dot per
        # candidate pair instead of three
        l2_norm(F.col(vec_col)).alias("norm"),
    ).localCheckpoint(eager=False)
    # one count serves the geometry derivation AND the broadcast gate
    # below (the checkpoint materializes once; re-counting is a cached
    # scan)
    n_vectors = base.count()
    if bands is None or rows_per_band is None:
        d_bands, d_rows = lsh_band_geometry(threshold, n_vectors)
        bands = d_bands if bands is None else bands
        rows_per_band = d_rows if rows_per_band is None else rows_per_band
    planes = rademacher_planes(bands * rows_per_band, dim, seed)

    # candidate generation moves only (id, band, key) ints. All
    # bands·rows_per_band plane dots come from one Arrow-batched numpy
    # matmul per batch (see _band_keys_udf).
    band_keys = _band_keys_udf(planes, bands, rows_per_band)
    sig = base.select(
        "id", F.posexplode(band_keys(F.col("vec"))).alias("band", "key")
    )
    # both self-join branches would recompute the signatures otherwise
    sig = sig.localCheckpoint(eager=False)

    a = sig.alias("a")
    b = sig.alias("b")
    cand_raw = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))

    if n_vectors * dim * 8 <= broadcast_max_bytes:
        # ---- broadcast-matrix scoring (small/medium corpus) ----------
        # Scoring is one gather+einsum per Arrow batch — cheaper than a
        # pair-dedup shuffle of the raw collisions (shallow bands: 4M
        # raw vs 1.8M deduped at sf0.1). So score EVERYTHING and dedup
        # only the pairs that pass the threshold (score is a pure
        # function of the pair: filter-then-dedup is output-identical).
        return _broadcast_pair_scores(base, cand_raw, threshold).dropDuplicates(
            ["id_a", "id_b"]
        )

    # ---- vector-join scoring (corpus too large to broadcast) ---------
    # here the dedup stays BEFORE the vector joins: at deep-band scale
    # settings it shrinks the rows that must carry vectors.
    return _join_pair_scores(base, cand_raw.dropDuplicates(["id_a", "id_b"]), threshold)


def cosine_pairs_lsh_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    bands: int = 8,
    rows_per_band: int = 2,
    dim: int = 64,
    seed: int = 0x5EED,
) -> str:
    """DuckDB SQL computing the *same* bucketed result: identical ±1
    plane literals, identical banding, exact cosine on collisions."""
    planes = rademacher_planes(bands * rows_per_band, dim, seed)

    def lit_list(plane: list[float]) -> str:
        return "[" + ", ".join(f"{c:.1f}" for c in plane) + "]"

    band_selects = []
    for b in range(bands):
        key_terms = " + ".join(
            f"(CASE WHEN list_dot_product(vec, {lit_list(planes[b * rows_per_band + j])}) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(rows_per_band)
        )
        band_selects.append(
            f"SELECT id, vec, {b} AS band, {key_terms} AS key FROM c"
        )
    sig_sql = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH c AS (
  SELECT {id_col} AS id,
         list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS vec
  FROM {table}
),
sig AS (
{sig_sql}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM sig a JOIN sig b ON a.band = b.band AND a.key = b.key AND a.id < b.id
),
scored AS (
  SELECT id_a, id_b,
         round(list_dot_product(ca.vec, cb.vec)
               / (sqrt(list_dot_product(ca.vec, ca.vec))
                  * sqrt(list_dot_product(cb.vec, cb.vec))), 4) AS score
  FROM cand
  JOIN c ca ON cand.id_a = ca.id
  JOIN c cb ON cand.id_b = cb.id
)
SELECT id_a, id_b, score FROM scored WHERE score >= {threshold}
ORDER BY id_a, id_b
"""


#: plane-stream seed for the ANN tables — distinct from
#: cosine_pairs_lsh's banding seed so ANN buckets and near-dup bands
#: are independent draws even on the same corpus
ANN_PLANE_SEED = 0xA22


#: seed for the JL projection matrix — distinct from ANN_PLANE_SEED so
#: a pipeline projecting AND bucketing never reuses the same planes
#: (correlated projections would make LSH buckets functions of the
#: reduced vectors instead of independent draws)
PROJECTION_SEED = 0x9E37


def project_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_dim: int = 16,
    dim: int = 64,
    seed: int = PROJECTION_SEED,
    out_col: str = "projection",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: y = P·x / √out_dim
    with P a deterministic ±1 Rademacher matrix — the dimensionality
    cut before quantizer training / clustering / ANN at scale (train
    k-means on 16-64 projected dims instead of 1k+ raw ones;
    distances are preserved within 1±ε w.h.p. by the JL lemma, and
    the √out_dim scale keeps expected squared norms equal to the
    input's).

    Deterministic: P is a pure function of (out_dim, dim, seed) —
    the same rademacher_planes stream the LSH family inlines into
    its oracles, so the projection itself is oracle-expressible
    (plane literals + list_dot_product).

    Scale shape: a narrow projection — no shuffle; one Arrow-batched
    numpy matmul per batch (the `_band_keys_udf` vectorization),
    never per-row JVM folds.
    """
    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1 (got {out_dim})")
    P = np.asarray(
        rademacher_planes(out_dim, dim, seed), dtype=np.float64
    )
    scale = 1.0 / out_dim ** 0.5

    @F.pandas_udf("array<double>")
    def _proj(vecs):  # pd.Series[array<float>] -> pd.Series[array<double>]
        return pd.Series(list((_stack(vecs, dim) @ P.T) * scale))

    return df.withColumn(out_col, _proj(F.col(vec_col)))


def lsh_ann_geometry(
    n: int,
    target_bucket: int = 32,
    floor_planes: int = 6,
) -> tuple[int, int, int]:
    """Derive the hyperplane-LSH search geometry ``(n_planes,
    probe_hamming, n_tables)`` from the corpus size — the r12
    verdict's finding #1 (the last underived scale dial): with a FIXED
    plane count, expected bucket occupancy is ``n / 2^n_planes``, so
    candidates-per-query grows LINEARLY in n and the committed sf1
    operating point scored 16,092 of 20,000 corpus vectors per query
    (80%, constant across rounds) — an "approximate" search converging
    on brute force times L·(1+probes) duplicated work.

    The rule is `ann_cells`'s constant-expected-occupancy pattern on
    the exponent: ``n_planes = max(floor, ceil(log2(n /
    target_bucket)))`` holds E[bucket] ≈ target_bucket at any n, so
    candidates/query ≈ n_tables·(1+probes)·target_bucket — constant in
    n up to the polylog growth of the Hamming-probe count. The probe /
    table dials trade against the per-plane recall loss (each added
    plane is another independent chance to split a true neighbor from
    its query):

    * planes ≤ floor (the demo regime, n ≤ target·2^floor = 2048 at
      the defaults): the committed r5 operating point ``(planes, H2,
      L=4)`` — byte-identical for every sf ≤ 0.1 catalog/test anchor.
    * planes > floor (the scale regime): multiprobe depth stays H2 —
      probing all ``1 + p + C(p,2)`` neighbor buckets of the query's
      own key is the cheap recall lever (probe keys multiply only the
      broadcast query side; each probed bucket still holds ~target
      rows) — and the table count steps up with the plane count
      (L = 4 + (planes − floor)), because extra independent tables
      are the geometric-decay lever against the per-plane miss
      probability that deeper probing alone cannot hold at high
      plane counts.

    Measured at the derived sf1 point (20k vectors → planes=10, L=8;
    BENCHNOTES §48): candidates/query 7,671 = 38% of
    the corpus vs the fixed geometry's 16,092 = 80%, and the fraction
    now SHRINKS each decade (the model projects 12% at 200k, 3% at
    2M) instead of holding at 80%. Recall at that point: **1.0** on a
    20k Gaussian-mixture corpus (σ=0.06 — the clustered regime
    hyperplane LSH exists for) and 0.87 on the driver's near-isotropic
    corpus — the ADVERSARIAL case, where sf1 top-10 neighbors sit at
    cosine ≈ 0.5 and the full sweep shows ≥0.9 is reachable only by
    scanning ≥45% of the corpus at ANY geometry (BENCHNOTES §48).
    The sf0.1 anchor stays ≥0.9 (0.96, byte-identical demo plan).

    Candidate-count sanity: the derived point's candidates/query ≈
    L·(1+p+p(p−1)/2)·target_bucket. The bench quality dict carries
    ``ann_lsh_candidate_frac`` so the fraction is a watched number.
    """
    if target_bucket < 1:
        raise ValueError(f"lsh_ann_geometry: target_bucket={target_bucket} < 1")
    if floor_planes < 1:
        raise ValueError(f"lsh_ann_geometry: floor_planes={floor_planes} < 1")
    planes = floor_planes
    if n > target_bucket:
        planes = max(floor_planes, math.ceil(math.log2(n / target_bucket)))
    # int32 bucket keys (array<int> signatures) cap the exponent; at
    # 30 planes the rule would need n > target·2^30 ≈ 34e9 vectors —
    # far past the regime where a hyperplane-LSH table is the right
    # index at all (IVF/IVF-PQ are the committed scale paths).
    planes = min(planes, 30)
    n_tables = 4 + max(0, planes - floor_planes)
    return planes, 2, n_tables


def _table_buckets(vec: Column, n_planes: int, dim: int, n_tables: int) -> Column:
    """Array of ``n_tables`` independent hyperplane bucket keys: table t
    uses planes [t·n_planes, (t+1)·n_planes) of one deterministic ±1
    Rademacher stream (`rademacher_planes`) — disjoint slices, so
    tables are independent draws and no model is stored.

    Arrow-batched: ONE numpy matmul per batch computes every
    table×plane dot (`_band_keys_udf` with a table as the 'band'),
    replacing n_tables·n_planes interpreted JVM `aggregate` folds per
    row — the same vectorization that fixed `dedup_embedding_cosine`
    in r2, applied when multi-table support multiplied the plane count
    (measured 3.7 s -> ~1 s for the sf0.1 catalog entry).
    """
    planes = rademacher_planes(n_tables * n_planes, dim, ANN_PLANE_SEED)
    return _band_keys_udf(planes, n_tables, n_planes)(vec)


def lsh_ann_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    dim: int = 64,
    n_tables: int | None = None,
    probe_hamming: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """The candidate set `lsh_ann_topk` scores: one row per distinct
    (query_id, neighbor_id) bucket collision across all tables/probes,
    carrying both vectors. Exposed so the candidate COUNT — the thing
    the recall levers trade against — is directly measurable
    (quality.py reports candidates-per-query next to recall).

    ``n_planes=None`` (default, round 13) derives the full geometry
    from the corpus size via `lsh_ann_geometry` — one corpus count
    (pass ``n`` to skip it), constant expected bucket occupancy at any
    scale. An explicit ``n_planes`` pins the geometry (tables/probes
    then default to the r5 committed L=4 / Hamming-2 point unless also
    given)."""
    if n_planes is None:
        if n is None:
            n = corpus.count()
        d_planes, d_probe, d_tables = lsh_ann_geometry(n)
        n_planes = d_planes
        probe_hamming = d_probe if probe_hamming is None else probe_hamming
        n_tables = d_tables if n_tables is None else n_tables
    else:
        probe_hamming = 2 if probe_hamming is None else probe_hamming
        n_tables = 4 if n_tables is None else n_tables
    parallelism = corpus.sparkSession.sparkContext.defaultParallelism
    buckets = F.posexplode(
        _table_buckets(F.col(vec_col), n_planes, dim, n_tables)
    ).alias("tbl", "bucket")
    c = _corpus_rows(corpus.repartition(parallelism), id_col, vec_col, buckets)
    q = _query_rows(queries, id_col, vec_col, buckets)
    if probe_hamming >= 1:
        probes = [F.col("bucket")] + [
            F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
        ]
        if probe_hamming >= 2:
            probes += [
                F.col("bucket").bitwiseXOR(F.lit((1 << i) | (1 << j)))
                for i in range(n_planes)
                for j in range(i + 1, n_planes)
            ]
        q = q.select(
            "query_id", "qvec", "tbl", F.explode(F.array(*probes)).alias("bucket")
        )
    return (
        c.join(F.broadcast(q), on=["tbl", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        # dedup BEFORE scoring: with L tables × (1+probes) keys the same
        # (query, neighbor) pair collides many times; qvec/cvec are
        # functionally dependent on the ids so keeping the first is exact
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int | None = None,
    dim: int = 64,
    n_tables: int | None = None,
    probe_hamming: int | None = None,
    candidates: DataFrame | None = None,
    n: int | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH.

    Geometry is SIZE-DERIVED by default (round 13, closing the r12
    verdict's `weak` grade): ``n_planes=None`` hands (planes, probes,
    tables) to `lsh_ann_geometry`, which holds expected bucket
    occupancy constant — candidates/query stays
    O(L·(1+probes)·target_bucket) instead of O(n). The fixed-plane
    form (explicit ``n_planes``) scored 80% of the sf1 corpus per
    query, a fraction invariant in n. Pass ``n`` (corpus size) to
    skip the derivation's one count.

    ``candidates``: a precomputed (persisted) ``lsh_ann_candidates``
    result for the SAME corpus/queries/params — pass it when the
    candidate set is also needed elsewhere (quality.ann_recalls counts
    it) so the expensive generation plan runs once, not per consumer.

    Recall levers (both standard, composable):

    - ``n_tables`` independent hash tables (disjoint plane sets, OR'd
      candidates): a true neighbor is missed only if it separates from
      the query in EVERY table — miss probability decays geometrically
      in L. This is THE production LSH recall lever (FALCONN/E2LSH
      style). Alone (Hamming-1 probes) it took default recall
      0.33 -> 0.67 at sf0.1.
    - ``probe_hamming`` multiprobe depth per table: each query also
      probes buckets within Hamming distance 1 (n_planes extra keys) or
      2 (+ n_planes·(n_planes-1)/2 keys) of its own. Probes multiply
      only the tiny query side; ``probe_hamming=0`` probes none.
      Measured sweep at sf0.1 (n_planes=6, k=10): (L=4, H1) 0.67 ·
      (L=6, H1) 0.86 · (L=8, H1) 0.93 · (L=4, H2) 0.96 — the default
      (L=4, H2) buys the most recall per candidate scored.

    Scale shape: corpus bucket keys are computed in the scan and
    posexploded (×n_tables, map-side — no shuffle; one narrow pass).
    The probe join is a broadcast hash join on (tbl, bucket), candidate
    pairs are deduped BEFORE cosine scoring so each (query, neighbor)
    is scored exactly once no matter how many tables/probes it
    collided in. Candidate count is bounded by
    n_tables·(1+probes)·bucket_size — `ann_bucket_stats` is the
    pre-flight dial for sizing n_planes against corpus density.
    This assumes the usual ANN regime: a query batch small enough to
    broadcast (×(1+probes) probe keys). For query sets too large even
    for that, AQE falls back to a shuffled hash join on (tbl, bucket)
    in which corpus vectors ride the shuffle ×n_tables — at that point
    restructure as `cosine_pairs_lsh` (symmetric near-dup banding)
    instead of many-query top-k.
    Recall < 1 by design; tests + quality.py measure it vs cosine_topk.
    """
    cand = (
        candidates
        if candidates is not None
        else lsh_ann_candidates(
            corpus, queries, id_col, vec_col, n_planes, dim,
            n_tables, probe_hamming, n,
        )
    )
    return _rank_topk(cand.select("query_id", "neighbor_id", _exact_score()), k)


def ann_bucket_stats(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 1,
) -> DataFrame:
    """Per-table hyperplane-bucket occupancy — the ANN tuning dial
    (`lsh_bucket_stats`'s twin for the vector side).

    A probe scans every bucket it hashes into, so expected candidate
    work per query ≈ (1 + n_probes) · avg_bucket; a fat max/p99 bucket
    means too few planes for the corpus density (deepen n_planes), an
    avg near 1 with low recall means too many (shallower planes or more
    tables). One narrow pass + two groupBys, no joins — run it before
    committing a plane count to a 100 TB corpus.

    Columns per table: n_vectors, n_buckets, max_bucket, p99_bucket,
    avg_bucket, est_candidates_per_probe.
    """
    sizes = (
        corpus.select(
            F.posexplode(
                _table_buckets(F.col(vec_col), n_planes, dim, n_tables)
            ).alias("tbl", "bucket")
        )
        .groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return (
        sizes.groupBy("tbl")
        .agg(
            F.sum("sz").alias("n_vectors"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("sz").alias("max_bucket"),
            F.percentile_approx("sz", 0.99).alias("p99_bucket"),
            F.round(F.avg("sz"), 2).alias("avg_bucket"),
            # a probe key lands in one bucket; candidates scanned per
            # probe ≈ size-biased mean bucket size (Σ sz² / Σ sz)
            F.round(F.sum(F.expr("sz * sz")) / F.sum("sz"), 2).alias(
                "est_candidates_per_probe"
            ),
        )
        .orderBy("tbl")
    )


def _cell_gram_pairs(
    assigned: DataFrame, threshold: float, collapse: bool
) -> DataFrame:
    """Score all within-cell pairs of a (neighbor_id, cell, cvec)
    assignment table with ONE float64 Gram matrix per cell group
    (`M @ M.T`), thresholded in-kernel before any row materializes.

    Score semantics are identical to `_broadcast_pair_scores` / the
    vector-join path: raw cosine (−inf on zero-norm denominators, the
    engine-wide policy), rounded to 4 dp JVM-side, `>= threshold`. A
    dot product is a fixed-order reduction over the dim axis, so a
    pair sharing several cells produces the SAME raw score in every
    block — the multi-assign collapse to min(cell) is therefore
    exactly the candidate-join strategies' collapse, applied after
    thresholding (only ~output-many rows instead of every candidate).
    The in-kernel prefilter keeps raw >= threshold − 6e-5: anything
    below cannot round up to the 4-dp threshold, so the JVM filter
    sees every potential survivor."""
    id_type = assigned.schema["neighbor_id"].dataType.simpleString()
    cell_type = assigned.schema["cell"].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cell {cell_type}, raw DOUBLE"
    margin = threshold - 6e-5

    def gram(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["neighbor_id"].to_numpy()
        cells = pdf["cell"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame(
                {
                    "id_a": ids[:0],
                    "id_b": ids[:0],
                    "cell": cells[:0],
                    "raw": np.array([], dtype=np.float64),
                }
            )
        o = np.argsort(ids, kind="stable")
        ids = ids[o]
        M = np.stack(pdf["cvec"].to_numpy()[o]).astype(np.float64)
        nrm = np.sqrt(np.einsum("ij,ij->i", M, M))
        G = M @ M.T
        den = np.outer(nrm, nrm)
        S = np.divide(G, den, out=np.full_like(G, -np.inf), where=den != 0)
        ii, jj = np.triu_indices(len(ids), 1)
        raw = S[ii, jj]
        keep = raw >= margin
        ii, jj, raw = ii[keep], jj[keep], raw[keep]
        return pd.DataFrame(
            {
                "id_a": ids[ii],
                "id_b": ids[jj],
                "cell": np.full(len(ii), cells[0], dtype=cells.dtype),
                "raw": raw,
            }
        )

    scored = assigned.groupBy("cell").applyInPandas(gram, out_schema)
    out = scored.select(
        "id_a", "id_b", "cell", F.round(F.col("raw"), 4).alias("score")
    ).where(F.col("score") >= threshold)
    if not collapse:
        return out  # single assignment: every pair appears exactly once
    return out.groupBy("id_a", "id_b").agg(
        F.min("cell").alias("cell"), F.min("score").alias("score")
    )


def semantic_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    threshold: float = 0.95,
    sample_per_cell: int = 256,
    n_assign: int | None = 1,
    index: tuple[DataFrame, DataFrame] | None = None,
    broadcast_max_bytes: int = 64 * 1024 * 1024,
    dim: int = 64,
    gram_max_cell: int = 4096,
) -> DataFrame:
    """Cluster-scoped semantic near-dup pairs, the SemDeDup shape
    (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    embeddings (the IVF coarse quantizer — ``ivf_build_index`` reused
    verbatim), then exact-cosine pairs WITHIN each cluster only.
    Returns (id_a < id_b, cell, score >= threshold); ``cell`` is the
    smallest cell id the pair collided in.

    Why cluster-scoped instead of LSH-banded (`cosine_pairs_lsh`):
    semantic dedup targets MODERATE similarity (0.9-0.96 in the paper),
    where hyperplane banding needs shallow bands that stop pruning
    (BENCHNOTES §12b measured that regime quadratic); clustering keeps
    the candidate count Σ cell_size² regardless of threshold.
    The price is recall: a pair split across every shared cell is never
    compared. Within-cell scoring is exact, so precision is 1.0 by
    construction; the recall dial is ``n_assign`` — assign each vector
    to its n nearest cells (multi-assignment, the cluster-side analog
    of IVF's nprobe): a pair is compared iff the cell sets intersect.
    n_assign=1 is the paper-faithful single-cluster scope; candidate
    work grows ~n_assign² in the worst case, bounded as ever by
    Σ sz² over the (now overlapping) cells. quality.py measures recall
    vs exact all-pairs ground truth at both settings. ``n_assign=None``
    derives the dial from the derived cell count (`semantic_assign`:
    √-coverage rule, work-capped) so recall survives a decade-up at
    the defaults — the scale-safe companion of ``n_cells=None``.

    Scale shape: one distributed Arrow pass assigns cells; scoring
    defaults to PER-CELL GRAM BLOCKS (`_cell_gram_pairs`) — shuffle
    the n·n_assign assignment rows once to cell groups and run one
    BLAS matmul per cell, thresholding in-kernel, so neither the
    candidate-pair list (∝ Σ sz², 8e7 rows at sf1's derived dials)
    nor per-pair vector gathers ever materialize; per-task memory is
    max_cell², gated by ``gram_max_cell``. Beyond the gate (a
    collapsed quantizer) the strategy falls back to the candidate
    equi-join on `cell` moving ONLY (id, cell) ints, with scoring
    size-gated exactly like `cosine_pairs_lsh` (whose docstring holds
    the ``broadcast_max_bytes`` memory math): corpora under the gate
    score by broadcast matrix + einsum with only pair ids shuffling,
    larger corpora hash-join vectors onto the distinct pair list.
    ``n_cells=None`` (the default) derives exactly that dial from the
    corpus: `semantic_cells` keeps E[cell size] constant (cells ∝ n),
    so the pair count is linear at any scale — the fix for the pinned
    n_cells=16 that BENCHNOTES §38 measured 42× at 10× data.
    `ivf_cell_stats` remains the pre-flight audit before committing to
    a 100 TB pass.

    ``index``: a prebuilt ``ivf_build_index`` / ``ivf_read_index``
    (inverted file, centroids) pair for the same corpus — pass it to
    skip the in-call build (the build-once deployment).

    ``dim`` feeds ONLY the broadcast-gate memory math (n·dim·8 bytes
    vs ``broadcast_max_bytes``) — set it to the corpus's real vector
    width or the gate will mis-price the driver/worker matrix copy
    (same convention as cosine_pairs_lsh, where a wrong dim breaks
    visibly via the plane matrix).
    """
    if n_assign is not None and n_assign < 1:
        raise ValueError(f"n_assign must be >= 1 (got {n_assign})")
    if index is None:
        # n_cells=None derives the cell count from the corpus size
        # (`semantic_cells`: cells ∝ n keeps within-cell pair work
        # linear — the scale-safe default per BENCHNOTES §38). The one
        # count is threaded into the build so the corpus isn't scanned
        # twice.
        n = None
        if n_cells is None:
            n = corpus.count()
            n_cells = semantic_cells(n)
        index = ivf_build_index(
            corpus, id_col, vec_col, n_cells, sample_per_cell, _n=n
        )
    indexed, centroids = index
    spark = indexed.sparkSession
    if n_assign is None:
        # derive the recall dial from the cell count actually in the
        # index — schema-metadata read, not a count (see
        # _centroid_cells: a LocalRelation count is still a ~0.45 s job)
        n_assign = semantic_assign(_centroid_cells(centroids))

    # ---- assignment --------------------------------------------------
    if n_assign == 1:
        na_eff = 1
        assigned = indexed.select("neighbor_id", "cell", "cvec")
    else:
        C = centroid_matrix(centroids)
        na_eff = min(n_assign, len(C))
        assigned = indexed.select(
            "neighbor_id",
            F.explode(
                _nearest_cells_udf(spark, C, na_eff)(F.col("cvec"))
            ).alias("cell"),
            "cvec",
        )
    # one materialization feeds the size probe and whichever scoring
    # strategy wins below
    assigned = assigned.localCheckpoint(eager=False)

    # ---- scoring strategy 1 (default): per-cell Gram blocks ----------
    # SemDeDup's native compute shape: shuffle the n·n_assign
    # (id, cell, vec) assignment rows ONCE to their cell groups and
    # score every within-cell pair with ONE BLAS matmul per cell —
    # never a per-pair vector gather, never a candidate-pair shuffle.
    # At sf1's derived dials (160 cells × n_assign 8) the candidate
    # join materialized ~8e7 collision rows and took 61.0 s end-to-end;
    # the Gram blocks compute the identical 83,955 pairs in 10.6 s
    # (measured in BENCHNOTES §41, 5.8×). Per-task memory
    # is max_cell²·8 bytes, so the strategy gates on the observed max
    # cell size and falls back to the join path beyond it (a collapsed
    # quantizer is the pathological case — `ivf_cell_stats` is the
    # pre-flight audit).
    max_sz = (
        assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(F.max("sz"))
        .first()[0]
    )
    if max_sz is not None and max_sz <= gram_max_cell:
        return _cell_gram_pairs(assigned, threshold, collapse=na_eff > 1)

    # ---- fallback: candidate join + size-gated pair scoring ----------
    # candidate generation moves ONLY (id, cell) ints (letting vectors
    # ride the collision join/collapse was measured 4-6x slower at
    # sf0.1 — the same mistake the r3 dedup_embedding_cosine plan made)
    ids_cells = assigned.select("neighbor_id", "cell")
    a = ids_cells.alias("a")
    b = ids_cells.alias("b")
    cand = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell"))
        & (F.col("a.neighbor_id") < F.col("b.neighbor_id")),
    ).select(
        F.col("a.neighbor_id").alias("id_a"),
        F.col("b.neighbor_id").alias("id_b"),
        F.col("a.cell").alias("cell"),
    )
    if n_assign > 1:
        # a pair sharing several cells collides once per shared cell;
        # collapse on bare id pairs. min(cell) keeps the reported cell
        # a pure function of the pair, unlike a dropDuplicates keeping
        # an arbitrary collision's row. (n_assign=1 pairs are distinct
        # by construction — no collapse shuffle at all.)
        cand = cand.groupBy("id_a", "id_b").agg(F.min("cell").alias("cell"))

    # ---- scoring: same size-gated strategy pair as cosine_pairs_lsh -
    base = indexed.select(
        F.col("neighbor_id").alias("id"), F.col("cvec").alias("vec")
    )
    # gate input from the checkpointed assignment (its materialization
    # is needed by both self-join branches anyway) — NOT corpus.count(),
    # which re-scans an arbitrary upstream plan the build already
    # counted once
    n_vectors = ids_cells.count() // na_eff
    if n_vectors * dim * 8 <= broadcast_max_bytes:
        return _broadcast_pair_scores(base, cand, threshold, extra_cols=("cell",))

    # corpus too large to broadcast: vectors hash-join onto the
    # already-distinct pair list
    withn = base.withColumn("norm", l2_norm(F.col("vec"))).localCheckpoint(eager=False)
    return _join_pair_scores(withn, cand, threshold, extra_cols=("cell",))


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    threshold: float = 0.95,
    sample_per_cell: int = 256,
    n_assign: int | None = 1,
    broadcast_max_bytes: int = 64 * 1024 * 1024,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup end state: every vector with its duplicate-group keeper.
    Pairs from ``semantic_pairs`` collapse to their connected
    component's minimum id (with n_assign=1 components never span
    cells — pairs are within-cell by construction — so the label
    propagation converges in few rounds over shallow, cell-local
    clusters); untouched vectors keep themselves. Output:
    (id, keeper_id, is_duplicate) — filter ``NOT is_duplicate`` for
    the deduplicated corpus.
    """
    from boatrace_database_spark.operators.dedup import dedup_clusters

    pairs = semantic_pairs(
        corpus, id_col, vec_col, n_cells, threshold, sample_per_cell,
        n_assign, broadcast_max_bytes=broadcast_max_bytes, dim=dim,
    )
    assigned = dedup_clusters(corpus, pairs, id_col)
    return assigned.select(
        F.col(id_col).alias("id"),
        "keeper_id",
        (F.col("keeper_id") != F.col(id_col)).alias("is_duplicate"),
    )


def ivf_cell_stats(indexed: DataFrame) -> DataFrame:
    """Cell-size distribution of a built IVF index (`ivf_build_index` /
    `ivf_read_index` output) — the nprobe sizing dial.

    A probe exact-scores the union of its nprobe nearest cells, so
    expected work per query ≈ nprobe · avg_cell; a max_cell ≫ avg_cell
    means the quantizer collapsed (raise n_cells or retrain with a
    bigger sample). One groupBy over the inverted file.
    """
    sizes = indexed.groupBy("cell").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.select(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("sz").alias("n_vectors"),
        F.min("sz").alias("min_cell"),
        F.max("sz").alias("max_cell"),
        F.round(F.avg("sz"), 2).alias("avg_cell"),
        F.round(F.stddev_pop("sz"), 2).alias("stddev_cell"),
    )


# ----------------------------------------------------------------------
# Product quantization (IVF-PQ): the memory face of ANN at 100 TB.
# A raw float32 768-dim embedding is 3 KB; its PQ code at 8 subspaces
# x 256 codes is 8 BYTES (+id) — ~384x smaller, which is the difference
# between an index that fits in executor memory and one that doesn't.
# This is FAISS's IVFPQ. Default mode is by_residual=True (the FAISS
# default too): codes quantize x − centroid[cell], not the raw vector.
# Residuals concentrate near the origin with far smaller spread than
# the corpus itself, so the same codebook budget buys more precision
# per bit — the textbook IVFADC construction (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", §IV). The codebooks stay
# SHARED across cells (one (S, K, dsub) tensor trained on the pooled
# residuals of the training sample), so the maintenance story is
# unchanged — only the encoder/decoder add the centroid term.
# by_residual=False keeps the simpler raw-vector quantization; the
# build stamps the mode into the `codes` column's schema metadata so
# the probe self-configures and a persisted index round-trips it.


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    n_codes: int = 256,
    train_n: int = 65536,
    _n: int | None = None,
    _train_sample=None,
    _assign_C: "np.ndarray | None" = None,
) -> "np.ndarray":
    """Train PQ codebooks: split the vector into ``n_subspaces``
    contiguous sub-vectors and k-means each subspace to ``n_codes``
    centroids on the same bounded deterministic sample the IVF coarse
    quantizer uses. Returns the (n_subspaces, n_codes, dim/n_subspaces)
    codebook tensor; training is driver-side numpy on <= train_n rows
    (codebooks need the broad distribution, not a full-corpus fit —
    the same argument as `ivf_build_index`'s quantizer, at any scale).

    ``_assign_C``: coarse-quantizer centroid matrix for residual mode —
    each training row is assigned to its argmin-L2 cell and the
    codebooks are trained on the pooled residuals ``x − C[cell]``
    (IVFADC). None trains on the raw vectors.
    """
    n = corpus.count() if _n is None else _n
    if n == 0:
        raise ValueError("pq_train: corpus is empty")
    if _train_sample is None:
        base = _corpus_rows(corpus, id_col, vec_col)
        _train_sample = _bounded_training_sample(base, n, train_n)
    X = _stack(_train_sample["cvec"])
    if _assign_C is not None:
        # residual mode: the cell assignment rule of
        # `_nearest_cells_udf`, then train on x − C[cell]
        C = np.asarray(_assign_C, dtype=np.float64)
        X = X - C[_nearest_cells(X, C)]
    slices = _subspaces(X.shape[1], n_subspaces, "pq_train")
    return np.stack(_subspace_kmeans(X, slices, n_codes))


def _subspaces(dim: int, n_subspaces: int, who: str) -> list[slice]:
    """The contiguous column slices of PQ's ``n_subspaces`` subspaces;
    ``dim`` must divide evenly."""
    if dim % n_subspaces:
        raise ValueError(
            f"{who}: dim {dim} not divisible by n_subspaces {n_subspaces}"
        )
    dsub = dim // n_subspaces
    return [slice(s * dsub, (s + 1) * dsub) for s in range(n_subspaces)]


def _subspace_kmeans(X, slices: list[slice], n_codes: int, iters: int = 20) -> list:
    """One seeded Lloyd fit per subspace (seed 7+s): `pq_train`'s
    codebooks and each `opq_train_rotation` iteration's."""
    return [
        _lloyd_kmeans(X[:, sl], n_codes, iters=iters, seed=7 + s)
        for s, sl in enumerate(slices)
    ]


def _pq_encode_udf(spark, books: "np.ndarray", C: "np.ndarray | None" = None):
    """Arrow-batched PQ encoder against the broadcast codebook tensor:
    per subspace, argmin-L2 over the n_codes centroids. Logical code
    width is 1 byte at n_codes<=256 (parquet dictionary/bit-packing
    stores the int32 array near that); the in-plan type stays
    array<int> for JVM ergonomics.

    With a centroid matrix ``C`` the encoder quantizes the residual
    ``x − C[cell]`` (IVFADC) and the returned UDF takes a second
    ``cell`` column; without it, the raw vector."""
    bc = spark.sparkContext.broadcast(books)
    dim = books.shape[0] * books.shape[2]

    def _codes_for(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
        S, _, dsub = B.shape
        codes = np.empty((len(A), S), dtype=np.int32)
        for s in range(S):
            codes[:, s] = _nearest_cells(A[:, s * dsub : (s + 1) * dsub], B[s])
        return codes

    if C is None:

        @F.pandas_udf("array<int>")
        def encode(vecs: pd.Series) -> pd.Series:
            return pd.Series(list(_codes_for(_stack(vecs, dim), bc.value)))

        return encode

    cbc = spark.sparkContext.broadcast(np.asarray(C, dtype=np.float64))

    @F.pandas_udf("array<int>")
    def encode_residual(vecs: pd.Series, cells: pd.Series) -> pd.Series:
        A = _stack(vecs, dim) - cbc.value[cells.to_numpy().astype(np.int64)]
        return pd.Series(list(_codes_for(A, bc.value)))

    return encode_residual


def ivfpq_build_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    n_subspaces: int | None = None,
    n_codes: int = 256,
    sample_per_cell: int = 256,
    by_residual: bool = True,
    target_recall: float | None = None,
) -> tuple[DataFrame, DataFrame, "np.ndarray"]:
    """IVF-PQ index build: the IVF inverted file for pruning + PQ codes
    for in-cell compression. Returns ``(codes, centroids, books)``
    where ``codes`` rows are (neighbor_id, cell, codes) — the raw
    vectors are GONE from the index, which is the point: the persisted
    footprint per vector is the id + n_subspaces dictionary-packed
    bytes, vs dim floats.

    ``target_recall``: the code-budget contract — derives
    ``n_subspaces`` from the vector dimension via
    `pq_subspaces_for_target`'s measured knee (BENCHNOTES §41) instead
    of taking a subspace count. Mutually exclusive with an explicit
    ``n_subspaces`` (pass one dial, not two — both default to None so
    an EXPLICIT n_subspaces always raises alongside target_recall; the
    r11 form special-cased the default value 8, which let an explicit
    ``n_subspaces=8`` be silently overridden, r11 ADVICE #1). Neither
    given -> n_subspaces = 8.

    ``by_residual=True`` (default, matching FAISS) trains the shared
    codebooks on and encodes ``x − centroid[cell]`` — more precision
    per bit since residual spread is far below corpus spread. The mode
    is stamped into the ``codes`` column's schema metadata, so
    `ivfpq_probe` self-configures and a parquet round-trip through
    `ivfpq_write_index`/`ivfpq_read_index` preserves it.
    """
    if target_recall is not None:
        if n_subspaces is not None:
            raise ValueError(
                "ivfpq_build_index: pass target_recall OR n_subspaces, "
                "not both"
            )
        dim = len(corpus.select(vec_col).first()[0])
        n_subspaces = pq_subspaces_for_target(dim, target_recall)
    elif n_subspaces is None:
        n_subspaces = 8
    # ONE corpus count for both trainers, and ONE training-sample scan
    # when the two would provably draw the identical set: equal target
    # sizes, or a corpus small enough that both take every row (the
    # whole-corpus branch of _bounded_training_sample). Otherwise each
    # keeps its own bounded sample pass — sharing a differently-sized
    # sample would change the trained quantizers.
    n = corpus.count()
    if n_cells is None:
        # same size-derived default as ivf_build_index; resolving it
        # HERE keeps the shared-sample sizing below consistent
        n_cells = ann_cells(n)
    ivf_train_n = sample_per_cell * n_cells
    pq_train_n = 65536  # pq_train's default train_n
    shared = None
    if n <= min(ivf_train_n, pq_train_n) or ivf_train_n == pq_train_n:
        base = _corpus_rows(corpus, id_col, vec_col)
        shared = _bounded_training_sample(base, n, ivf_train_n)
    indexed, centroids = ivf_build_index(
        corpus, id_col, vec_col, n_cells, sample_per_cell,
        _n=n, _train_sample=shared,
    )
    C = centroid_matrix(centroids) if by_residual else None
    books = pq_train(
        corpus, id_col, vec_col, n_subspaces, n_codes,
        _n=n, _train_sample=shared, _assign_C=C,
    )
    return _pq_index_rows(indexed, books, C), centroids, books


def _pq_index_rows(assigned: DataFrame, books, C):
    """The one IVF-PQ row encoder: assigned (neighbor_id, cvec, cell)
    rows to index rows (neighbor_id, cell, codes, norm). With a
    centroid matrix ``C`` the codes quantize the residual
    ``x − C[cell]``, without it the raw vector; the mode is stamped
    into the codes column's metadata, so probes self-configure."""
    enc = _pq_encode_udf(assigned.sparkSession, books, C)
    by_residual = C is not None
    code_col = (
        enc(F.col("cvec"), F.col("cell")) if by_residual else enc(F.col("cvec"))
    )
    return assigned.select(
        F.col("neighbor_id"),
        F.col("cell"),
        code_col.alias("codes", metadata={"by_residual": by_residual}),
        # exact |x| stored per vector (JVM-side, one double — noise in
        # the ADC cosine DENOMINATOR disappears entirely, leaving only
        # numerator quantization; the standard store-the-norm trick
        # for cosine/IP over PQ codes, +8 B/vector vs dim floats)
        l2_norm(F.col("cvec")).alias("norm"),
    )


def index_remove(
    index: DataFrame,
    ids: DataFrame,
    id_col: str = "neighbor_id",
    ids_col: str | None = None,
) -> DataFrame:
    """Targeted deletion from an inverted-file index (IVF `indexed` or
    IVF-PQ `codes` — any table keyed by ``neighbor_id``): drop the
    rows whose id appears in ``ids`` — the forget-these-vectors
    maintenance path (takedowns / GDPR erasure / revoked documents),
    completing the build → add → REMOVE lifecycle. A left-anti join on
    the id: the delete list is typically tiny (broadcast), nothing
    else moves, cells/codes/norms of survivors are untouched — so
    probes simply stop returning the removed ids, with no quantizer or
    codebook change (removal never needs retraining; only DRIFT does,
    see `ivf_add_to_index`'s cell-stats note). Column metadata (the
    by_residual stamp probes read) survives the anti-join. With a
    persisted index the equivalent is a delete against the
    cell-partitioned table — cells are untouched, so only the
    partitions holding removed ids rewrite.

    ``ids_col`` names the delete-key column in ``ids``; with a
    single-column delete list it defaults to that column, but a
    multi-column ``ids`` (say, a slice of the corpus table) must name
    it — silently taking column 0 joined on whatever happened to be
    first and deleted nothing, or the wrong rows (r11 ADVICE #4)."""
    if ids_col is None:
        if len(ids.columns) != 1:
            raise ValueError(
                "index_remove: ids has columns "
                f"{ids.columns} — pass ids_col to name the delete key"
            )
        ids_col = ids.columns[0]
    elif ids_col not in ids.columns:
        raise ValueError(
            f"index_remove: ids_col={ids_col!r} not in {ids.columns}"
        )
    key = ids_col
    return index.join(
        F.broadcast(ids.select(F.col(key).alias(id_col)).distinct()),
        on=id_col,
        how="left_anti",
    )


def ivfpq_write_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    n_subspaces: int = 8,
    n_codes: int = 256,
) -> None:
    """Persist an IVF-PQ index: cell-partitioned PQ codes (dynamic
    partition pruning on probe, like `ivf_write_index`) + centroids +
    the codebook tensor flattened to rows. The index's by_residual
    mode rides the codes column's schema metadata through parquet, so
    `ivfpq_read_index` + `ivfpq_probe` need no side-channel."""
    spark = corpus.sparkSession
    codes, centroids, books = ivfpq_build_index(
        corpus, id_col, vec_col, n_cells, n_subspaces, n_codes
    )
    codes.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/codes")
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    S, K, dsub = books.shape
    book_rows = [
        (s, k, [float(x) for x in books[s, k]])
        for s in range(S)
        for k in range(K)
    ]
    spark.createDataFrame(
        book_rows, "subspace INT, code INT, centroid ARRAY<DOUBLE>"
    ).write.mode("overwrite").parquet(f"{path}/books")


def ivfpq_read_index(spark, path: str) -> tuple[DataFrame, DataFrame, "np.ndarray"]:
    """Load a persisted IVF-PQ index; reassembles the codebook tensor
    (positional, validated gapless like `centroid_matrix`)."""
    codes = spark.read.parquet(f"{path}/codes")
    centroids = spark.read.parquet(f"{path}/centroids")
    rows = spark.read.parquet(f"{path}/books").orderBy("subspace", "code").collect()
    S = max(r.subspace for r in rows) + 1
    K = max(r.code for r in rows) + 1
    if len(rows) != S * K:
        raise ValueError(
            f"ivfpq_read_index: codebook table has {len(rows)} rows, "
            f"expected {S}x{K} — rebuild the index"
        )
    books = np.array([r.centroid for r in rows], dtype=np.float64).reshape(
        S, K, -1
    )
    return codes, centroids, books


def ivfpq_probe(
    codes: DataFrame,
    centroids: DataFrame,
    books: "np.ndarray",
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int | None = None,
    refine: int = 0,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) IVF-PQ search: each query ranks the
    centroid table, probes its nprobe nearest cells, and scores the
    candidates' CODES against per-query lookup tables — never touching
    a raw corpus vector.

    ``refine=R`` adds the FAISS-style refinement stage: the ADC top-R
    short-list per query is re-scored EXACTLY against the raw
    ``corpus`` (required then) and the final top-k ranked on exact
    cosine. This is the dial for the clustered-corpus regime, where
    cell pruning is nearly free but ALL candidates are nearly
    equidistant, so PQ noise — not pruning — caps ADC-only recall
    (measured in BENCHNOTES): the short-list lookup touches only
    R x n_queries raw rows via a broadcast semi-probe, so the exact
    vectors can live in a separate cold table at 100 TB.

    ADC mechanics: per (query, subspace) a LUT of dot(q_s, codebook
    entry) is built ONCE (n_subspaces x n_codes floats), so scoring a
    candidate is n_subspaces table lookups + adds instead of a dim-wide
    dot product. Approximate cosine = dot(q, codeword-reconstructed
    vector) over |q| times the vector's exact norm, stored in the
    index's ``norm`` column, so ranking is comparable with the
    exact-path scores (and EQUALS them when quantization is lossless,
    e.g. n_codes >= corpus size — the pytest contract). Zero-norm
    vectors score 0.0, the engine-wide zero-norm policy. An index
    without the ``norm`` column (a layout no writer here produces) is
    refused with a ValueError; rebuild it.

    Residual mode (read from the ``codes`` column's schema metadata,
    stamped by `ivfpq_build_index`): the reconstruction is
    ``C[cell] + r̂``, so the dot gains a per-(query, cell) centroid
    term, computed JVM-side in the probe join; per-candidate cost
    stays S lookups + adds.

    Scale shape: the query table is collected and broadcast (queries
    are the small side by contract, as in `cosine_topk`); candidates
    move only (query_id, neighbor_id, codes, norm) plus the residual
    mode's qdotc — S ints and a double or two per row; scoring
    is one Arrow pass; top-k is a per-query k-row window.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    if "norm" not in codes.columns:
        raise ValueError(
            "ivfpq_probe: the IVF-PQ index has no norm column (it predates "
            "stored norms); rebuild it with ivfpq_build_index"
        )
    spark = codes.sparkSession
    code_meta = codes.schema["codes"].metadata or {}
    by_residual = bool(code_meta.get("by_residual", False))
    q = _query_rows(queries, id_col, vec_col)
    # dot(q, C[cell]) rides the SAME crossJoin row (JVM-side) — the
    # residual ADC numerator's centroid term, carried through the
    # probes join so the probe never collects the centroid table
    # driver-side (a per-probe job that measured ~0.65 s)
    probes = _probe_cells(
        centroids, q, nprobe, dot(F.col("qvec"), F.col("centroid")).alias("qdotc")
    )

    qpdf = q.toPandas()
    qvecs = {
        qid: np.asarray(vec, dtype=np.float64)
        for qid, vec in zip(qpdf["query_id"], qpdf["qvec"])
    }
    books_bc = spark.sparkContext.broadcast(books)
    q_bc = spark.sparkContext.broadcast(qvecs)

    cand_cols = (
        ["query_id", "neighbor_id", "codes"]
        + (["qdotc"] if by_residual else [])
        + ["norm"]
    )
    cand = (
        codes.join(F.broadcast(probes), on="cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(*cand_cols)
    )
    out_schema = StructType(
        [
            cand.schema["query_id"],
            cand.schema["neighbor_id"],
            StructField("score", DoubleType()),
        ]
    )

    def adc_score(batches):
        B = books_bc.value
        S, K, dsub = B.shape
        qv = q_bc.value
        lut_cache: dict = {}
        rows = np.arange(S)
        for pdf in batches:
            if not len(pdf):
                continue
            codes_m = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            qdotc_m = (
                pdf["qdotc"].to_numpy().astype(np.float64)
                if by_residual
                else None
            )
            norms_m = pdf["norm"].to_numpy().astype(np.float64)
            scores = np.empty(len(pdf), dtype=np.float64)
            for qid, idx in pdf.groupby("query_id").groups.items():
                if qid not in lut_cache:
                    qarr = qv[qid]
                    qn = float(np.linalg.norm(qarr))
                    lut = np.einsum(
                        "sd,skd->sk", qarr.reshape(S, dsub), B
                    )
                    lut_cache[qid] = (lut, qn)
                lut, qn = lut_cache[qid]
                pos = pdf.index.get_indexer(idx)
                cm = codes_m[pos]
                dot = lut[rows, cm].sum(axis=1)
                if qdotc_m is not None:
                    # dot(q, C+r̂) gains the per-(query, cell) term,
                    # delivered as the JVM-computed qdotc column
                    dot = dot + qdotc_m[pos]
                # exact stored |x|: denominator noise is zero
                den = qn * norms_m[pos]
                scores[pos] = np.where(den > 0, dot / np.maximum(den, 1e-300), 0.0)
            out = pdf[["query_id", "neighbor_id"]].copy()
            out["score"] = scores
            yield out

    scored = cand.mapInPandas(adc_score, out_schema).select(
        "query_id", "neighbor_id", F.round("score", 6).alias("score")
    )
    if refine:
        if corpus is None:
            raise ValueError("ivfpq_probe: refine > 0 requires the raw corpus")
        shortlist = _rank_topk(scored, refine).select("query_id", "neighbor_id")
        exact = (
            _corpus_rows(corpus, id_col, vec_col)
            .join(F.broadcast(shortlist), "neighbor_id")
            .join(F.broadcast(q), "query_id")
            .select("query_id", "neighbor_id", _exact_score())
        )
        return _rank_topk(exact, k)
    return _rank_topk(scored, k)


def rotation_matrix(dim: int, seed: int = 0x0501) -> "np.ndarray":
    """Deterministic orthonormal rotation: QR of a seeded Gaussian,
    diagonal-sign-fixed so the factorization is unique — the same
    matrix on every call, any machine."""
    G = np.random.default_rng(seed).normal(size=(dim, dim))
    Q, R = np.linalg.qr(G)
    return Q * np.sign(np.diag(R))


def opq_train_rotation(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    n_codes: int = 256,
    n_iters: int = 10,
    train_n: int = 65536,
    seed: int = 0x0501,
    pq_iters: int = 8,
) -> "np.ndarray":
    """LEARNED rotation for PQ — OPQ non-parametric (Ge et al. 2013,
    "Optimized Product Quantization", §4; FAISS's OPQMatrix), the
    round-9 upgrade over `rotation_matrix`'s random draw (r8 verdict
    #8): alternate (a) PQ codebook fit on the rotated sample with
    (b) the orthogonal-Procrustes solve
    ``min_R ||X·R − Ŷ||_F  s.t. RᵀR = I  ⇒  R = U·Vᵀ of svd(Xᵀ·Ŷ)``,
    starting FROM the seeded random rotation — so the learned matrix
    can only improve the quantization objective it descends, and on a
    decaying-spectrum corpus it buys a further recall step over the
    random rotation at identical probe cost (pinned by pytest:
    ~0.69 → ~0.82 ADC recall at S=8/K=64 on the §39 fixture).

    Deterministic end to end: the bounded xxhash64-ordered training
    sample, the seeded QR init, and the seeded per-subspace Lloyd fits
    make the returned (dim × dim) orthonormal matrix a pure function
    of (corpus bytes, params). Training is driver-side numpy on
    ≤ ``train_n`` rows — the `pq_train` scale argument: codebooks (and
    the rotation aligning them) need the broad distribution, not a
    full-corpus fit. Apply via ``rotate_embeddings(df, matrix=R)`` to
    corpus AND queries; composes with `ivfpq_build_index`/`ivfpq_probe`
    exactly like the random rotation (no index-state change).
    """
    n = corpus.count()
    if n == 0:
        raise ValueError("opq_train_rotation: corpus is empty")
    base = _corpus_rows(corpus, id_col, vec_col)
    X = _stack(_bounded_training_sample(base, n, train_n)["cvec"])
    slices = _subspaces(X.shape[1], n_subspaces, "opq_train_rotation")
    R = rotation_matrix(X.shape[1], seed)
    for _ in range(n_iters):
        Y = X @ R
        # (a) PQ fit + reconstruct on the current rotation (same
        # seeded Lloyd as pq_train, modest per-iter budget)
        Yhat = np.empty_like(Y)
        books = _subspace_kmeans(Y, slices, min(n_codes, len(Y)), pq_iters)
        for sl, Cs in zip(slices, books):
            Yhat[:, sl] = Cs[_nearest_cells(Y[:, sl], Cs)]
        # (b) orthogonal Procrustes toward the reconstruction
        U, _, Vt = np.linalg.svd(X.T @ Yhat)
        R = U @ Vt
    return R


def rotate_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 0x0501,
    out_col: str | None = None,
    matrix: "np.ndarray | None" = None,
) -> DataFrame:
    """Random-rotation pre-transform for PQ — FAISS's "RR" / OPQ-lite:
    real embedding spectra decay, so a CONTIGUOUS subspace split hands
    nearly all the variance to the first few subspaces and starves the
    rest of their codebook budget; an orthonormal rotation spreads the
    variance evenly across subspaces. Measured on a decaying-spectrum
    corpus (BENCHNOTES §39): residual IVF-PQ recall 0.55 → 0.79 at
    the same 16 B/vector. On an already-isotropic corpus it is a
    no-op by construction.

    The rotation is NORM- AND COSINE-PRESERVING (orthonormal), so
    exact search over rotated vectors returns identical neighbors and
    scores — only the quantizer's subspace geometry changes. Apply
    the SAME (dim, seed) rotation to the corpus before `ivfpq_build_
    index` AND to queries before `ivfpq_probe`; it composes as a
    plain column transform, so the index API carries no extra state.

    One Arrow-batched matmul per batch against the broadcast (dim ×
    dim) matrix — at 768-dim that is a 4.7 MB broadcast and a
    BLAS-bound scan, the same cost class as a projection.

    ``matrix``: an explicit orthonormal rotation to apply instead of
    the seeded random draw — the seam `opq_train_rotation`'s LEARNED
    matrix plugs into (round 9), keeping the composable contract
    identical for random and optimized rotations.
    """
    spark = df.sparkSession
    if matrix is not None:
        Q = np.asarray(matrix, dtype=np.float64)
        if Q.ndim != 2 or Q.shape[0] != Q.shape[1]:
            raise ValueError(
                f"rotate_embeddings: matrix must be square, got {Q.shape}"
            )
    else:
        Q = rotation_matrix(dim, seed)
    bc = spark.sparkContext.broadcast(Q)

    @F.pandas_udf("array<double>")
    def _rot(vecs: pd.Series) -> pd.Series:
        return pd.Series(list(_stack(vecs, len(Q)) @ bc.value.T))

    return df.withColumn(out_col or vec_col, _rot(F.col(vec_col)))


def max_eval_cosine_udf(
    spark,
    eval_set: DataFrame,
    vec_col: str = "embedding",
    broadcast_max_bytes: int = 64 * 1024 * 1024,
):
    """The scorer behind `decontaminate_semantic`, factored so batch
    and streaming share it byte-for-byte: collects + broadcasts the
    (guard-checked small) eval matrix once and returns an
    Arrow-batched pandas UDF computing each row's max cosine against
    it (one matmul per batch; zero-norm rows score 0.0)."""
    ev = eval_set.select(F.col(vec_col).alias("evec")).toPandas()
    if not len(ev):
        raise ValueError("decontaminate_semantic: eval set is empty")
    E = np.stack(ev["evec"].to_numpy()).astype(np.float64)
    if E.nbytes > broadcast_max_bytes:
        raise ValueError(
            f"decontaminate_semantic: eval matrix is {E.nbytes} B > "
            f"broadcast_max_bytes={broadcast_max_bytes} — benchmark "
            "sets are small by contract; LSH-block a corpus-sized one "
            "(see docstring)"
        )
    en = np.linalg.norm(E, axis=1)
    keep = en > 0
    E, en = E[keep], en[keep]
    if not len(E):
        raise ValueError("decontaminate_semantic: eval set is all-zero")
    bc = spark.sparkContext.broadcast((E, en))

    @F.pandas_udf("double")
    def max_cos(vecs: pd.Series) -> pd.Series:
        Em, enm = bc.value
        X = _stack(vecs, Em.shape[1])
        xn = np.linalg.norm(X, axis=1)
        sims = (X @ Em.T) / np.maximum(np.outer(xn, enm), 1e-300)
        out = sims.max(axis=1)
        return pd.Series(np.where(xn > 0, out, 0.0))

    return max_cos


def decontaminate_semantic(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    broadcast_max_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """Semantic decontamination: flag (and let the caller drop) training
    vectors whose cosine to ANY eval/benchmark vector reaches
    ``threshold`` — the embedding-space complement of the 13-gram
    `text.decontaminate_corpus` (paraphrased leakage that shares no
    n-gram still lands nearby in embedding space).

    Scale shape: the EVAL side is tiny by contract (benchmark suites
    are thousands of rows against a multi-billion-row corpus), so its
    (m × dim) float64 matrix is collected once and broadcast — the
    guard raises if it exceeds ``broadcast_max_bytes`` rather than
    silently collecting gigabytes. The train side is ONE scan: an
    Arrow-batched pandas UDF computes each row's max-cosine against
    the matrix as a single numpy matmul per batch. No join, no
    shuffle, no candidate blowup — max(eval-cosine) per train row is
    a row-local quantity once the matrix is resident. If the eval set
    ever outgrows broadcast, LSH-block it first (`cosine_pairs_lsh`)
    and max-aggregate the collision scores; same output contract.

    Output: (id, max_eval_cosine rounded to 6, is_contaminated);
    zero-norm vectors score 0.0 (engine-wide policy). Filter
    ``NOT is_contaminated`` for the shippable corpus.
    """
    max_cos = max_eval_cosine_udf(
        train.sparkSession, eval_set, vec_col, broadcast_max_bytes
    )
    return train.select(
        F.col(id_col).alias("id"),
        F.round(max_cos(F.col(vec_col)), 6).alias("max_eval_cosine"),
    ).withColumn(
        "is_contaminated", F.col("max_eval_cosine") >= F.lit(threshold)
    )
