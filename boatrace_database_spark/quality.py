"""Driver-visible quality metrics for the no-oracle (hash-based)
operators.

The DuckDB harness can only record row counts for MinHash/SimHash/ANN
queries (their outputs depend on hash functions DuckDB doesn't share),
so their real acceptance criteria — recall against the exact
counterpart — lived only in pytest. This module computes the same
numbers (same parameters as tests/test_llm_ops.py) so bench.py can
emit them in its JSON line and the driver's artifacts show what pytest
asserts.

Scale path (round 9): above a size gate the exact all-pairs ground
truths switch to ANCHORED truths — a deterministic hash-picked anchor
set exact-scored against the whole corpus (linear in n), with recall
measured on the anchor-touching subset of the operator's output. The
quality dict reports which baseline ran (`pair_recall_baseline`).
pytest pins anchored == full truth restricted to anchors, so the
sampled recall is an unbiased estimate of the full one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from boatrace_database_spark.operators import dedup as D
from boatrace_database_spark.operators import similarity as SIM
from boatrace_database_spark.queries._util import load_table


def _topk_sets(rows) -> dict[int, set[int]]:
    sets: dict[int, set[int]] = {}
    for r in rows:
        sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    return sets


def _mean_recall(exact: dict[int, set[int]], approx: dict[int, set[int]]) -> float:
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    return sum(recalls) / len(recalls) if recalls else 0.0


def ann_recalls(
    spark: SparkSession, sf_dir: str, k: int = 10, n_queries: int = 10
) -> dict[str, float]:
    """Mean top-k recall of the LSH and IVF ANN paths vs brute-force
    cosine (the tests/test_llm_ops.py definitions, bounded query set so
    the exact baseline stays cheap at sf0.1)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    queries = emb.where(F.col("vec_id") < n_queries)
    exact = _topk_sets(SIM.cosine_topk(emb, queries, k=k).collect())
    # SIZE-DERIVED geometry (round 13, the r12 verdict's finding #1):
    # the harness measures the catalog's ACTUAL operating point —
    # `lsh_ann_geometry(n)`, the (6, H2, L=4) committed demo plan at
    # sf <= 0.1 and escalated planes/tables past it — instead of a
    # pinned n_planes=6 whose candidate set converges on the whole
    # corpus as n grows (16,092 of 20,000 per query at sf1).
    # The candidate set feeds BOTH numbers (recall's scoring input and
    # the cost-side count), so generate it once and persist.
    cand = SIM.lsh_ann_candidates(emb, queries, n=n).persist()
    # the cost side of the recall levers: distinct candidates actually
    # scored per query at the derived geometry (bounded by
    # n_tables·(1+probes)·target bucket size; full corpus = n-1/query)
    n_cand = cand.count()
    lsh = _topk_sets(
        SIM.lsh_ann_topk(emb, queries, k=k, n=n, candidates=cand).collect()
    )
    cand.unpersist()
    # size-derived dials throughout (round 10): n_cells from
    # `ann_cells` (16 at sf<=0.1 — the committed demo point — 160 at
    # sf1), nprobe from `ann_nprobe` (constant probed fraction, 8-of-16
    # at the demo scale), so this harness measures the catalog demos'
    # ACTUAL operating point at every sf
    indexed, centroids = SIM.ivf_build_index(emb)
    ivf = _topk_sets(
        SIM.ivf_probe(indexed, centroids, queries, k=k, nprobe=None).collect()
    )
    # IVF-PQ at the catalog demo's operating point (S=16/K=256,
    # derived cells/probe): ADC over codes, so this recall folds
    # quantization loss on top of IVF's cell-pruning loss — the honest
    # number for the 16x-compressed index
    pq_codes, pq_cents, pq_books = SIM.ivfpq_build_index(
        emb, n_subspaces=16, n_codes=256
    )
    ivfpq = _topk_sets(
        SIM.ivfpq_probe(
            pq_codes, pq_cents, pq_books, queries, k=k, nprobe=None
        ).collect()
    )
    # the refinement dial: exact re-rank of the ADC short-list against
    # the raw table; depth holds a constant FRACTION of the probed set
    # (50 of sf0.1's ~1000 probed = 5%, the committed demo point) so
    # the re-rank survives density decade-ups like every other dial
    refine = max(50, n // 40)
    ivfpq_ref = _topk_sets(
        SIM.ivfpq_probe(
            pq_codes,
            pq_cents,
            pq_books,
            queries,
            k=k,
            nprobe=None,
            refine=refine,
            corpus=emb,
        ).collect()
    )
    cand_per_query = n_cand / max(len(exact), 1)
    return {
        "ann_lsh_recall": round(_mean_recall(exact, lsh), 4),
        "ann_lsh_candidates_per_query": round(cand_per_query, 1),
        # the watched number for the derived geometry (r12 finding #1):
        # a fixed-plane plan holds this flat (0.80 at every decade); the
        # derived plan must show it SHRINKING as n grows
        "ann_lsh_candidate_frac": round(cand_per_query / max(n, 1), 4),
        "ann_ivf_recall": round(_mean_recall(exact, ivf), 4),
        "ann_ivfpq_recall": round(_mean_recall(exact, ivfpq), 4),
        "ann_ivfpq_refine_recall": round(_mean_recall(exact, ivfpq_ref), 4),
    }


def _anchored_jaccard_truth(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    n_anchors: int = 512,
) -> tuple[set, set[tuple]]:
    """Anchored exact n-gram-Jaccard ground truth (the document-side
    twin of `_anchored_cosine_truth`): exact Jaccard of a deterministic
    hash-picked anchor set vs EVERY document, via the same inverted
    index `ngram_jaccard_pairs` uses but with one side filtered to
    anchors — candidate work ∝ anchor shingles × document frequency,
    linear in the corpus instead of all-pairs quadratic."""
    anchor_ids = {
        r.aid
        for r in docs.select(
            F.col(id_col).alias("aid"),
            F.xxhash64(F.col(id_col).cast("string"), F.lit("recall-anchor")).alias("h"),
        )
        .orderBy("h", "aid")
        .limit(n_anchors)
        .collect()
    }
    sh = D.shingle_table(docs, id_col, text_col, n).localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count("*").alias("set_size"))
    shs = sh.join(sizes, "id").withColumn(
        "is_anchor", F.col("id").isin(*anchor_ids)
    )
    a = shs.where(F.col("is_anchor")).alias("a")
    b = shs.alias("b")
    eps = 1e-9
    # each unordered pair counted exactly once: anchor-anchor pairs only
    # on the a.id < b.id side; anchor-nonanchor pairs always with the
    # anchor on the a side (same length-filter pruning as the full op)
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (
                (F.col("a.id") < F.col("b.id"))
                | ((F.col("a.id") > F.col("b.id")) & ~F.col("b.is_anchor"))
            )
            & (F.col("a.set_size") >= threshold * F.col("b.set_size") - eps)
            & (F.col("b.set_size") >= threshold * F.col("a.set_size") - eps),
        )
        .groupBy(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    truth = {
        (r.id_a, r.id_b)
        for r in inter.where(
            F.col("n_inter")
            / (F.col("size_a") + F.col("size_b") - F.col("n_inter"))
            >= threshold - eps
        ).collect()
    }
    return anchor_ids, truth


def dedup_recalls(
    spark: SparkSession, sf_dir: str, max_docs: int = 8192
) -> dict[str, float]:
    """Recall of the hash-blocked near-dup paths against exact n-gram
    Jaccard (threshold 0.8 — the planted near-dup regime the pytest
    suite asserts on). Under ``max_docs`` the truth is the full
    all-pairs exact op; above it (sf1's 50k docs, where the exact
    baseline's candidate joins exhausted workers — BENCHNOTES §38) an
    anchored-sample truth, linear in corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    anchored = docs.count() > max_docs
    if anchored:
        anchor_ids, exact = _anchored_jaccard_truth(docs)
    else:
        exact = {
            (r.id_a, r.id_b)
            for r in D.ngram_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=0.8
            ).collect()
        }
    if not exact:
        return {"minhash_lsh_recall": None, "simhash_recall": None}
    mh = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=32, bands=16, threshold=0.5
        ).collect()
    }
    # skew=1.0 PINS the uniform-model geometry here: this harness point
    # (max_hamming=12) is the documented APPROXIMATE blocking mode —
    # (8,1) is pigeonhole-complete only to d=7 — measured against the
    # Jaccard truth, and r12 measured recall 1.0 at sf1 WITH the 19.3%
    # cap drops. Letting the r13 occupancy feedback engage would demand
    # a pigeonhole-complete d=12 plan (C(16,3)=560 bands, measured 81 s
    # at sf1) to tighten an anchor that is not loose. The CATALOG
    # operating point (d=8, auto) runs the full feedback loop and is
    # what `simhash_capped_frac` below reports.
    sh = {
        (r.id_a, r.id_b)
        for r in D.simhash_pairs(
            docs, "doc_id", "text", max_hamming=12, skew=1.0
        ).collect()
    }
    if anchored:
        mh = {p for p in mh if p[0] in anchor_ids or p[1] in anchor_ids}
        sh = {p for p in sh if p[0] in anchor_ids or p[1] in anchor_ids}
    return {
        "minhash_lsh_recall": round(len(exact & mh) / len(exact), 4),
        "simhash_recall": round(len(exact & sh) / len(exact), 4),
    }


def _anchored_cosine_truth(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    n_anchors: int = 512,
) -> tuple[set, set[tuple[int, int]]]:
    """SAMPLED exact ground truth that survives any scale (r8 verdict
    #3: the all-pairs baselines OOM'd at sf1 and the recall gate went
    dark above the demo sf). A deterministic hash-picked anchor set
    (smallest xxhash64(id, salt) — replayable, corpus-order-free) is
    exact-scored against the WHOLE corpus in one distributed Arrow
    pass: an (n_anchors × n) problem, linear in n, vs the n² matrix.

    Returns (anchor_ids, truth_pairs) where truth_pairs is every
    canonical (min, max) pair with cosine ≥ threshold touching ≥ 1
    anchor — recall of any pair operator is then measured on the
    anchor-touching subset of its output, an unbiased estimate of full
    recall (anchors are hash-uniform, independent of the geometry any
    operator buckets by)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    anchors_pdf = (
        emb.select(
            "vec_id",
            "embedding",
            F.xxhash64(F.col("vec_id").cast("string"), F.lit("recall-anchor")).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(n_anchors)
        .select("vec_id", "embedding")
        .toPandas()
    )
    a_ids = anchors_pdf["vec_id"].to_numpy()
    A = np.stack(anchors_pdf["embedding"].to_numpy()).astype(np.float64)
    a_norm = np.linalg.norm(A, axis=1)
    ok = a_norm != 0  # zero-norm policy: such vectors pair with nothing
    a_ids, A, a_norm = a_ids[ok], A[ok], a_norm[ok]
    An = A / a_norm[:, None]
    bc = spark.sparkContext.broadcast((a_ids, An))

    def score(batches):
        import pandas as pd

        ids_, An_ = bc.value
        for pdf in batches:
            M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(M, axis=1)
            Mn = np.divide(M, nrm[:, None], out=np.zeros_like(M), where=nrm[:, None] != 0)
            S = np.round(Mn @ An_.T, 4)  # same rounding as the exact path
            ii, jj = np.nonzero(S >= threshold)
            cid = pdf["vec_id"].to_numpy()[ii]
            aid = ids_[jj]
            keep = cid != aid
            yield pd.DataFrame(
                {
                    "id_a": np.minimum(cid[keep], aid[keep]),
                    "id_b": np.maximum(cid[keep], aid[keep]),
                }
            )

    id_t = emb.schema["vec_id"].dataType.simpleString()
    pairs = {
        (r.id_a, r.id_b)
        for r in emb.select("vec_id", "embedding")
        .mapInPandas(score, f"id_a {id_t}, id_b {id_t}")
        .dropDuplicates()
        .collect()
    }
    return set(a_ids.tolist()), pairs


def _pair_recall_vs_truth(
    approx: set[tuple], spark, sf_dir: str, threshold: float, max_vectors: int
) -> tuple[float | None, str]:
    """Recall of an approx pair set against exact truth, picking the
    baseline by corpus size: full all-pairs truth under the gate (the
    byte-comparable demo number), anchored-sample truth above it
    (linear in n, so the quality dict survives ANY sf). Returns
    (recall, baseline_tag)."""
    exact = _exact_cosine_pairs(spark, sf_dir, threshold, max_vectors)
    if exact is not None:
        if not exact:
            return None, "exact"
        return round(len(exact & approx) / len(exact), 4), "exact"
    anchor_ids, truth = _anchored_cosine_truth(spark, sf_dir, threshold)
    if not truth:
        return None, "anchored"
    touching = {
        p for p in approx if p[0] in anchor_ids or p[1] in anchor_ids
    }
    return round(len(truth & touching) / len(truth), 4), "anchored"


def _exact_cosine_pairs(
    spark: SparkSession, sf_dir: str, threshold: float, max_vectors: int
) -> set[tuple[int, int]] | None:
    """EXACT all-pairs cosine ground truth as a pair set, computed as
    one driver-side numpy matmul (size-gated — n² scores of a
    broadcast-scale corpus are trivial for the driver, which is
    exactly why the demo corpus can have a ground truth at all).
    Returns None when the corpus exceeds the gate; the ONE definition
    every pair-recall metric below measures against (same rounding,
    same id canonicalization). Computed from the files on every call:
    a cached matrix could not tell a part file rewritten in place from
    the one it was computed from."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    if emb.count() > max_vectors:
        return None
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = np.round(Mn @ Mn.T, 4)
    iu = np.triu_indices(len(ids), k=1)
    hits = S[iu] >= threshold
    return {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[0]][hits], ids[iu[1]][hits])
    }


def lsh_cosine_pairs_recall(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.45,
    max_vectors: int = 4096,
) -> dict[str, float]:
    """Recall of the banded `cosine_pairs_lsh` path (derived geometry —
    the catalog operating point) against exact truth: full all-pairs
    under the size gate, anchored-sample above it (so the number exists
    at any sf — r8 verdict #3)."""
    emb = load_table(spark, sf_dir, "embeddings")
    lsh = {
        (r.id_a, r.id_b)
        for r in SIM.cosine_pairs_lsh(emb, threshold=threshold).collect()
    }
    recall, mode = _pair_recall_vs_truth(lsh, spark, sf_dir, threshold, max_vectors)
    return {"lsh_cosine_pairs_recall": recall, "pair_recall_baseline": mode}


def semantic_dedup_recall(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    n_cells: int | None = None,
    n_assign: int | None = None,
    max_vectors: int = 4096,
) -> dict[str, float]:
    """Pair recall of cluster-scoped `semantic_pairs` (the catalog's
    semantic_dedup_assign operating point) vs the shared
    `_exact_cosine_pairs` ground truth. Precision is 1.0 by
    construction (within-cell scoring is exact), so recall is the one
    number that moves with n_assign/n_cells. Truth is full all-pairs
    under the size gate, anchored-sample above it (r8 verdict #3)."""
    emb = load_table(spark, sf_dir, "embeddings")
    sem = {
        (r.id_a, r.id_b)
        for r in SIM.semantic_pairs(
            emb, threshold=threshold, n_cells=n_cells, n_assign=n_assign
        ).collect()
    }
    recall, _ = _pair_recall_vs_truth(sem, spark, sf_dir, threshold, max_vectors)
    return {"semantic_dedup_recall": recall}


def media_pair_recalls(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Planted-pair recall of the perceptual media dedup family (r10
    verdict item #6 — the sf1 quality anchors text/embedding dedup
    already have). Ground truth is the catalog entries' own synthesis
    construction: `media_dedup_dhash` plants groups of FIVE documents
    sharing a base image (each take perturbing one cell),
    `media_audio_dedup` plants groups of THREE takes of one recording
    — so the planted positives are exactly the within-group pairs,
    counted from the ids actually present (Σ C(group size, 2) — NOT a
    closed form in the doc count: sharded id spaces like the sf1
    builder's 10^7 offsets split the groups that straddle a shard
    boundary, and a doc-count formula silently overcounts the truth).
    Recall = found within-group pairs / planted pairs; both numbers
    are Spark-side aggregates (the pair outputs are group-bounded,
    never collected at corpus width). Measures the full pipeline —
    codec round-trip, fingerprint robustness, candidate lookup,
    verify threshold — at whatever scale `sf_dir` holds."""
    from boatrace_database_spark.queries.llm import (
        media_audio_dedup,
        media_dedup_dhash,
    )

    docs = load_table(spark, sf_dir, "documents")

    out: dict[str, float] = {}
    for key, fn, group in (
        ("dhash_pair_recall", media_dedup_dhash, 5),
        ("audio_pair_recall", media_audio_dedup, 3),
    ):
        denom = (
            docs.groupBy((F.col("doc_id") / group).cast("long").alias("g"))
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("planted"))
            .collect()[0]["planted"]
        )
        found = (
            fn(spark, sf_dir)
            .where(
                (F.col("id_a") / group).cast("long")
                == (F.col("id_b") / group).cast("long")
            )
            .count()
        )
        # vacuous recall when nothing was planted (denominator 0):
        # 1.0, not None — quality_metrics is declared dict[str, float]
        # and its JSON consumers (bench quality line, sf1 anchors)
        # expect numbers, not nulls (r11 ADVICE #5). The DENOMINATOR
        # rides alongside (r13 ADVICE #1) so a synth regression that
        # plants zero pairs reads as `*_planted: 0` next to the 1.0
        # instead of masquerading as perfect recall.
        out[key] = round(found / denom, 4) if denom else 1.0
        out[key.replace("_pair_recall", "_planted")] = int(denom or 0)
    return out


def banding_cap_fracs(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """``capped_row_frac`` per banding family at the bench operating
    points — the observability face of `_cap_buckets` (r11 verdict
    item #2): cap drops were silent, so band-key saturation could only
    be FOUND by a planted-pair anchor reading 0.13 after the fact.
    With this line in the bench quality dict, a saturating plan is a
    visible number the round it happens.

    Families and geometries (identical to what the recall anchors
    run): MinHash 32 hashes/16 bands; SimHash at its SIZE-DERIVED
    dials (`derive_hamming_banding`); dHash at the catalog's 49-bit /
    7-bit / key_chunks=2 plan over the same synthetic PGM corpus; for
    audio — whose exact-fp equi-join applies NO cap — the fraction of
    fingerprint posting rows sitting in hot fp buckets above the
    standard 256 guard (the upstream-filter dial the operator
    docstring points at). Healthy plans read ~0.0; a value drifting
    toward 1.0 is the saturation cliff approaching."""
    from boatrace_database_spark.operators import multimodal as M
    from boatrace_database_spark.queries.llm import (
        _audio_synth_media,
        _dhash_synth_hashes,
    )

    def frac(banded: DataFrame, keys: list[str]) -> float:
        row = D.banding_cap_stats(banded, keys, 256).collect()[0]
        return round(row.capped_row_frac, 6)

    docs = load_table(spark, sf_dir, "documents")
    out: dict[str, float] = {}
    mh_sig = D.minhash_table(docs, "doc_id", "text", 32, 3)
    out["minhash_capped_frac"] = frac(
        D._minhash_banded(mh_sig, 16, 2), ["band", "bucket"]
    )
    # the RESOLVED geometry — size + measured-occupancy feedback (r13:
    # the r12 form measured the frac at the uniform-model dials, i.e.
    # reported the saturation the auto path then ran straight into;
    # sf1 read 0.193 here while dedup_simhash silently dropped rows)
    sh_sig = D.simhash_table(docs, "doc_id", "text", 2, 64).localCheckpoint(
        eager=True
    )
    cb, kc = D.resolve_hamming_banding(sh_sig, "id", "sim")
    out["simhash_capped_frac"] = frac(
        D._hamming_chunked(sh_sig, "id", "sim", 64, cb, kc),
        ["chunk", "key"],
    )
    hashes = _dhash_synth_hashes(spark, sf_dir)
    out["dhash_capped_frac"] = frac(
        D._hamming_chunked(hashes, "media_id", "dhash", 49, 7, 2),
        ["chunk", "key"],
    )
    fps = M.audio_fingerprints(_audio_synth_media(spark, sf_dir))
    out["audio_capped_frac"] = frac(fps, ["fp"])
    return out


def quality_metrics(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    out: dict[str, float] = {}
    out.update(ann_recalls(spark, sf_dir))
    out.update(dedup_recalls(spark, sf_dir))
    out.update(lsh_cosine_pairs_recall(spark, sf_dir))
    out.update(semantic_dedup_recall(spark, sf_dir))
    out.update(media_pair_recalls(spark, sf_dir))
    out.update(banding_cap_fracs(spark, sf_dir))
    return out
