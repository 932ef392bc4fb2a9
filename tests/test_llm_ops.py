"""Correctness of the hash-based operators that have no DuckDB oracle:
MinHash-LSH and SimHash vs exact n-gram Jaccard, LSH-ANN recall vs
brute-force cosine, rolling hash vs a Python reimplementation,
multimodal feature plumbing vs direct computation, as-of join vs a
hand-computed fixture.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from boatrace_database_spark.operators import dedup as D
from boatrace_database_spark.operators import multimodal as M
from boatrace_database_spark.operators import similarity as SIM
from boatrace_database_spark.operators import text as TX
from boatrace_database_spark.operators.joins import asof_join

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def exact_pairs(docs):
    rows = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8).collect()
    return {(r.id_a, r.id_b): r.jaccard for r in rows}


def test_minhash_lsh_finds_exact_near_dups(docs, exact_pairs):
    assert exact_pairs, "fixture should contain injected near-dup pairs"
    lsh = D.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=16, threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b): r.est_jaccard for r in lsh}
    missed = set(exact_pairs) - set(found)
    # jaccard >= 0.8 pairs collide in >= 1 of 16 two-row bands w.p. ~1-(1-0.64)^16
    assert not missed, f"LSH missed exact near-dups: {missed}"
    for pair, exact in exact_pairs.items():
        assert abs(found[pair] - exact) < 0.25, (pair, found[pair], exact)


def test_simhash_flags_exact_near_dups(docs, exact_pairs):
    sim = D.simhash_pairs(docs, "doc_id", "text", max_hamming=12).collect()
    found = {(r.id_a, r.id_b) for r in sim}
    missed = set(exact_pairs) - found
    assert len(missed) <= max(1, len(exact_pairs) // 5), (
        f"simhash missed too many near-dups: {missed}"
    )


def test_derive_hamming_banding_regimes():
    """r11 verdict item #1: banding dials derived from corpus size.
    STAY regime returns the historical (8,1) plan byte-identically at
    every demo point (sf0.1 ~5k docs, sf1 ~50k); ESCALATE picks a
    pigeonhole-complete geometry with 4x occupancy headroom under the
    cap; impossible demands raise instead of silently saturating."""
    for n in (0, 500, 5_000, 50_000):
        assert D.derive_hamming_banding(n) == (8, 1)
    for n in (65_536, 200_000, 1_000_000, 16_000_000):
        cb, kc = D.derive_hamming_banding(n)
        n_chunks = 64 // cb
        assert 1 <= kc <= n_chunks - 8  # complete for the full d<=8
        assert cb * kc <= 63
        assert n <= 64 * (1 << (cb * kc))  # occupancy <= max_bucket/4
    assert D.derive_hamming_banding(200_000) == (6, 2)
    assert D.derive_hamming_banding(1_000_000) == (5, 3)
    assert D.derive_hamming_banding(16_000_000) == (5, 4)
    with pytest.raises(ValueError, match="no pigeonhole-complete"):
        D.derive_hamming_banding(10**15)
    with pytest.raises(ValueError, match="no pigeonhole-complete"):
        D.derive_hamming_banding(100_000, bits=16, max_hamming=8)


def test_hamming_banded_mixed_none_raises(spark):
    sig = spark.range(4).select("id", F.col("id").alias("sim"))
    with pytest.raises(ValueError, match="one geometry decision"):
        D.hamming_pairs_banded(sig, chunk_bits=None, key_chunks=1)
    with pytest.raises(ValueError, match="one geometry decision"):
        D.hamming_pairs_banded(sig, chunk_bits=8, key_chunks=None)


def test_simhash_derived_equals_explicit_at_demo_scale(docs):
    """Under the stay threshold the derived default must be
    byte-identical to the historical explicit (8,1) plan — the sf0.01
    demo point the driver hashes."""
    derived = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_pairs(docs, "doc_id", "text").collect()
    }
    explicit = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_pairs(
            docs, "doc_id", "text", chunk_bits=8, key_chunks=1
        ).collect()
    }
    assert derived == explicit


@pytest.mark.slow
def test_derived_dials_defeat_band_saturation_at_200k(spark):
    """The r11 verdict's ordered done-criterion: 200k signatures with
    100k planted Hamming-5 pairs. The OLD fixed default (chunk_bits=8,
    key_chunks=1) saturates its 256-key band spaces — uniform
    occupancy ~781 > max_bucket=256, _cap_buckets drops EVERY bucket —
    and returns zero pairs; the size-derived plan ((6,2): 45
    chunk-pair bands of 12 bits, occupancy ~49) is pigeonhole-complete
    for d<=8 and finds every planted pair."""
    n = 200_000
    mask = (1 << 3) | (1 << 17) | (1 << 33) | (1 << 48) | (1 << 60)
    base = F.xxhash64(F.col("id") - (F.col("id") % 2))
    sig = spark.range(n).select(
        "id",
        F.when(F.col("id") % 2 == 0, base)
        .otherwise(base.bitwiseXOR(F.lit(mask)))
        .alias("sim"),
    ).localCheckpoint(eager=True)
    old = D.hamming_pairs_banded(sig, chunk_bits=8, key_chunks=1)
    assert old.count() == 0  # the silent-saturation defect, pinned
    new = D.hamming_pairs_banded(
        sig, chunk_bits=None, key_chunks=None, n_rows=n
    )
    assert D.derive_hamming_banding(n) == (6, 2)
    planted = new.where(
        (F.col("id_a") % 2 == 0) & (F.col("id_b") == F.col("id_a") + 1)
    )
    n_found = planted.count()
    n_total = new.count()
    assert n_found == n // 2  # recall 1.0 on every planted pair
    # the only extras are true accidental near-dups of the random
    # 64-bit signatures (expected ~6 at this n)
    assert n_total - n_found < 100


@pytest.mark.slow
def test_quality_lsh_cosine_pairs_recall(spark):
    """The driver-visible quality metric (numpy exact ground truth vs
    the banded path) must clear the same bar the operator-level
    agreement test asserts."""
    from boatrace_database_spark.quality import lsh_cosine_pairs_recall

    out = lsh_cosine_pairs_recall(spark, SF)
    assert out["lsh_cosine_pairs_recall"] >= 0.85, out


def test_exact_cosine_truth_reads_the_current_files(spark, tmp_path):
    """The exact cosine ground truth is computed from the files on each
    call: rewriting the one part file of ``embeddings.parquet`` in place
    (the directory's own stat unchanged) changes the truth."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from boatrace_database_spark.quality import _exact_cosine_pairs

    root = tmp_path / "embeddings.parquet"
    root.mkdir()

    def write(vectors):
        pq.write_table(
            pa.table({
                "vec_id": pa.array(range(4), pa.int64()),
                "embedding": pa.array(vectors, pa.list_(pa.float32())),
                "label": pa.array([0] * 4, pa.int32()),
            }),
            root / "part-00000.parquet",
        )

    write([[1, 0], [1, 0.1], [0, 1], [0.1, 1]])
    assert _exact_cosine_pairs(spark, str(tmp_path), 0.9, 16) == {(0, 1), (2, 3)}
    write([[1, 0], [0, 1], [1, 0.1], [0.1, 1]])
    spark.catalog.refreshByPath(str(root))
    assert _exact_cosine_pairs(spark, str(tmp_path), 0.9, 16) == {(0, 2), (1, 3)}


def test_project_embeddings_jl_properties(spark):
    """JL contract: numpy-reference parity (same planes, same scale),
    expected-norm preservation (mean squared norm within 25% at
    out_dim=32), and cluster separation survives the cut (within-
    cluster cosines of a planted mixture stay above cross-cluster
    ones after projection)."""
    import numpy as np

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(4, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.repeat(np.arange(4), 25)
    X = centers[labels] + 0.05 * rng.normal(size=(100, 64))
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(100)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    out = {
        r.vec_id: np.array(r.projection)
        for r in SIM.project_embeddings(
            emb, "embedding", out_dim=32, dim=64
        ).collect()
    }
    P = np.asarray(SIM.rademacher_planes(32, 64, SIM.PROJECTION_SEED))
    ref = (X.astype(np.float32).astype(np.float64) @ P.T) / np.sqrt(32)
    for i in range(100):
        assert np.allclose(out[i], ref[i], atol=1e-9), i
    Y = np.stack([out[i] for i in range(100)])
    assert abs(
        (Y**2).sum(1).mean() / (X.astype(np.float32).astype(np.float64) ** 2)
        .sum(1).mean() - 1
    ) < 0.25
    Yn = Y / np.linalg.norm(Y, axis=1, keepdims=True)
    S = Yn @ Yn.T
    within = [S[i, j] for i in range(100) for j in range(i + 1, 100)
              if labels[i] == labels[j]]
    cross = [S[i, j] for i in range(100) for j in range(i + 1, 100)
             if labels[i] != labels[j]]
    # JL adds variance, so tails may overlap at out_dim=32 — the
    # populations must still be clearly separated in aggregate
    assert np.mean(within) - np.mean(cross) > 0.4, (
        np.mean(within), np.mean(cross)
    )


def test_incremental_exact_dedup_replay_equals_full(spark):
    """Replaying a corpus batch-by-batch through incremental dedup
    accumulates exactly one keeper per distinct key (same KEY SET as
    full-corpus exact_dedup), each keyed to its FIRST batch's keeper —
    the stream_dedup_exact contract read from a table; within-batch
    dups collapse, already-seen keys drop."""
    rows = [
        (1, "A"), (2, "B"), (3, "A"),           # batch 1: A dups itself
        (10, "A"), (11, "C"), (12, "C"),        # batch 2: A seen, C new
        (20, "B"), (21, "D"),                   # batch 3
    ]
    df = spark.createDataFrame(rows, "id LONG, fp STRING")
    batches = [df.where(F.col("id") < 10),
               df.where((F.col("id") >= 10) & (F.col("id") < 20)),
               df.where(F.col("id") >= 20)]
    seen = spark.createDataFrame([], "fp STRING")
    keepers = {}
    for b in batches:
        new = D.incremental_exact_dedup(b, seen, ["fp"], "id").collect()
        for r in new:
            assert r.fp not in keepers, "key re-admitted"
            keepers[r.fp] = (r.keeper_id, r.n_copies)
        seen = seen.unionByName(
            spark.createDataFrame([(r.fp,) for r in new], "fp STRING")
        )
    assert keepers == {
        "A": (1, 2),   # batch-1 keeper, 2 copies IN ITS BATCH
        "B": (2, 1),
        "C": (11, 2),
        "D": (21, 1),
    }
    full_keys = {r.fp for r in D.exact_dedup(df, ["fp"], "id").collect()}
    assert set(keepers) == full_keys


def test_exact_dedup_by_keeper_policy(spark):
    """Keeper policy: highest rank wins, ties break to lowest id,
    descending=False inverts, singleton groups keep themselves, and
    string ids work (the tie-break is ORDER BY, not arithmetic)."""
    rows = [
        (1, "k1", 0.5), (2, "k1", 0.9), (3, "k1", 0.9),  # tie at 0.9
        (4, "k2", 0.1),
        (5, "k3", 0.3), (6, "k3", 0.2),
    ]
    df = spark.createDataFrame(rows, "id LONG, fp STRING, q DOUBLE")
    best = {r.fp: (r.keeper_id, r.keeper_q, r.n_copies)
            for r in D.exact_dedup_by(df, ["fp"], "id", "q").collect()}
    assert best == {
        "k1": (2, 0.9, 3),   # max q, tie -> lowest id
        "k2": (4, 0.1, 1),
        "k3": (5, 0.3, 2),
    }
    worst = {r.fp: r.keeper_id
             for r in D.exact_dedup_by(
                 df, ["fp"], "id", "q", descending=False
             ).collect()}
    assert worst == {"k1": 1, "k2": 4, "k3": 6}
    sdf = df.withColumn("id", F.format_string("d%02d", F.col("id")))
    sbest = {r.fp: r.keeper_id
             for r in D.exact_dedup_by(sdf, ["fp"], "id", "q").collect()}
    assert sbest == {"k1": "d02", "k2": "d04", "k3": "d05"}


def test_exact_dedup_by_null_rank_never_wins(spark):
    """A row with a NULL rank must lose to any scored row in BOTH
    directions (bare asc() would put NULLS FIRST, silently keeping an
    unscored row under descending=False); an all-NULL group still
    keeps its lowest id."""
    rows = [
        (1, "k1", None), (2, "k1", 0.2),   # scored row wins both ways
        (3, "k2", None), (4, "k2", None),  # all-null: lowest id
    ]
    df = spark.createDataFrame(rows, "id LONG, fp STRING, q DOUBLE")
    for desc in (True, False):
        got = {r.fp: r.keeper_id
               for r in D.exact_dedup_by(
                   df, ["fp"], "id", "q", descending=desc
               ).collect()}
        assert got == {"k1": 2, "k2": 3}, (desc, got)


def test_incremental_exact_dedup_plan_shape(spark):
    """The 100 TB contract in the docstring, plan-asserted: the keeper
    (seen) side is probed by a broadcast LEFT-SEMI and is never the
    build side of a join and never exchanged — anti-joins build right,
    so the naive batch-anti-seen plan would shuffle the keeper keys."""
    batch = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("fp")
    )
    seen = spark.range(1000).select(
        (F.col("id") % 13).cast("string").alias("fp")
    )
    plan = D.incremental_exact_dedup(
        batch, seen, ["fp"], "id"
    )._jdf.queryExecution().executedPlan().toString()
    semi = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert len(semi) == 1 and "BroadcastHashJoin" in semi[0], plan
    assert len(anti) == 1 and "BroadcastHashJoin" in anti[0], plan
    # the seen-side scan feeds the semi probe directly: the only
    # Exchanges allowed are the batch groupBy and broadcast exchanges
    for ln in plan.splitlines():
        if "Exchange" in ln and "Broadcast" not in ln:
            assert "hashpartitioning" in ln, ln
    import re
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 1, plan


def test_minhash_on_chunk_table_recall(spark):
    """The chunk_dedup_pipeline docstring's scale-path claim, made
    true: minhash_lsh_pairs over the SAME chunk table (string chunk
    keys) must recall the exact chunk-level n-gram Jaccard pairs at
    the pipeline's θ=0.8 operating point — chunks are short (<=32
    tokens), the regime where banding recall is most at risk."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    chunks = TX.chunk_documents(
        docs, "doc_id", "text", chunk_tokens=32, overlap=8
    ).select(
        F.concat_ws(
            "#", F.col("doc_id").cast("string"), F.col("chunk_id").cast("string")
        ).alias("chunk_key"),
        "chunk_text",
    )
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(
            chunks, "chunk_key", "chunk_text", n=3, threshold=0.8
        ).collect()
    }
    assert len(exact) > 30, "corpus must plant chunk-level near-dups"
    mh = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(
            chunks, "chunk_key", "chunk_text",
            num_hashes=32, bands=16, threshold=0.5,
        ).collect()
    }
    recall = len(exact & mh) / len(exact)
    assert recall >= 0.95, f"chunk-level MinHash recall {recall:.3f}"


@pytest.mark.slow
def test_minhash_max_df_drops_boilerplate(spark):
    """Corpus-ubiquitous boilerplate inflates MinHash similarity between
    unrelated documents; max_df must remove the false pair while a true
    near-dup pair (sharing rare content) survives."""
    import random

    rng = random.Random(11)
    boiler = " ".join(f"boiler{j}" for j in range(20))  # 20-word template
    rows = []
    for i in range(40):
        body = " ".join(f"w{rng.randrange(10_000)}" for _ in range(4))
        rows.append((i, f"{boiler} {body}"))
    # a true near-dup pair sharing the same rare body
    rows.append((100, f"{boiler} unique alpha beta gamma delta epsilon zeta"))
    rows.append((101, f"{boiler} unique alpha beta gamma delta epsilon eta"))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    naive = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=32, bands=16, threshold=0.5
        ).collect()
    }
    weighted = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=32, bands=16, threshold=0.5,
            max_df=0.5,
        ).collect()
    }
    false_pairs_naive = {p for p in naive if p != (100, 101)}
    false_pairs_weighted = {p for p in weighted if p != (100, 101)}
    assert false_pairs_naive, "boilerplate should fool the unweighted path"
    assert not false_pairs_weighted, false_pairs_weighted
    assert (100, 101) in weighted, "true near-dup lost by df weighting"


def test_lsh_bucket_stats_consistent(docs, spark):
    """Bucket stats must agree with a Python recomputation over the
    same banded rows, and est_candidate_pairs must equal the actual
    per-band uncapped candidate-join row count."""
    from collections import Counter

    from boatrace_database_spark.operators.dedup import (
        _minhash_banded,
        lsh_bucket_stats,
        minhash_table,
    )

    stats = {r.band: r for r in lsh_bucket_stats(docs, "doc_id", "text").collect()}
    assert len(stats) == 16
    sig = minhash_table(docs, "doc_id", "text", 32, 3)
    banded = _minhash_banded(sig, 16, 2).select("band", "bucket").collect()
    by_band: dict[int, Counter] = {}
    for r in banded:
        by_band.setdefault(r.band, Counter())[r.bucket] += 1
    for band, counts in by_band.items():
        s = stats[band]
        sizes = list(counts.values())
        assert s.n_docs == sum(sizes)
        assert s.n_buckets == len(sizes)
        assert s.max_bucket == max(sizes)
        assert s.est_candidate_pairs == sum(b * (b - 1) // 2 for b in sizes)


@pytest.mark.parametrize("bands", [64, 5, 0])
def test_minhash_banding_refuses_bands_not_dividing_num_hashes(docs, bands):
    """Every batch MinHash banding entry point refuses a ``bands`` that
    does not divide ``num_hashes``, naming both values. At bands=64
    over 32 hashes the band slices were empty, so each band held one
    bucket with every doc in it."""
    msg = f"bands={bands} must divide num_hashes=32"
    for call in (D.minhash_lsh_pairs, D.lsh_bucket_stats):
        with pytest.raises(ValueError, match=msg):
            call(docs, "doc_id", "text", num_hashes=32, bands=bands)
    with pytest.raises(ValueError, match=msg):
        D.incremental_minhash_dedup(
            docs, docs.limit(0), "doc_id", "text", num_hashes=32, bands=bands
        )


@pytest.mark.parametrize("bits", [64, 32])
def test_simhash_per_row_matches_simhash_table(docs, bits):
    """The per-row SimHash the stream twin folds over each doc's
    shingle hashes equals `simhash_table`'s groupBy votes for every
    doc on a static frame."""
    table = {
        r.id: r.sim
        for r in D.simhash_table(docs, "doc_id", "text", 2, bits).collect()
    }
    per_row = (
        docs.select(
            F.col("doc_id").alias("id"),
            F.transform(
                D.word_shingles(F.col("text"), 2), lambda s: F.xxhash64(s)
            ).alias("_hs"),
        )
        .where(F.size("_hs") >= 1)
        .select("id", D._simhash_per_row("_hs", bits).alias("sim"))
    )
    got = {r.id: r.sim for r in per_row.collect()}
    assert table and got == table


def test_exact_dedup_counts(docs, spark):
    out = D.exact_dedup(docs, ["text"], "doc_id")
    total = out.agg(F.sum("n_copies")).collect()[0][0]
    assert total == docs.count()


def test_ann_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 20)
    exact = SIM.cosine_topk(emb, queries, k=10).collect()
    approx = SIM.lsh_ann_topk(emb, queries, k=10, n_planes=6).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # 6 planes / 64 buckets over 500 vectors: candidates shrink ~64x; on
    # random-ish embeddings bucket recall is modest but must be far
    # above the ~2% random-candidate baseline.
    assert mean_recall > 0.10, f"ANN mean recall {mean_recall:.3f}"


def test_rolling_hash_matches_python(spark, docs):
    sample = docs.limit(5).select("doc_id", "text").collect()
    got = {
        r.doc_id: r.rhash
        for r in docs.limit(5)
        .select("doc_id", TX.rolling_hash(F.col("text")).alias("rhash"))
        .collect()
    }

    def py_rolling(s: str, modulus=1_000_000_007, base=31) -> int:
        h, p = 0, 1
        for ch in s:
            # F.ascii returns the codepoint of the first character
            h = (h + ord(ch) * p) % modulus
            p = (p * base) % modulus
        return h

    for r in sample:
        assert got[r.doc_id] == py_rolling(r.text), r.doc_id


def test_ranking_metrics_hand_case(spark):
    """ranking_metrics vs a worked-by-hand example (round 8): covers a
    mid-run hit pattern, an all-miss query, a zero-qrels-for-retrieved
    query emitting via the totals side, and a query in qrels that
    retrieved NOTHING (must still emit all-zero, the classic silently-
    dropped-query eval bug)."""
    from boatrace_database_spark.operators import retrieval as R

    # q1: rel docs {a, b, c}; run = [x, a, b] -> hits 2, rr 1/2,
    #     dcg = 1/log2(3) + 1/log2(4), idcg(3) = 1 + 1/log2(3) + 1/log2(4)
    # q2: rel docs {z}; run = [p, q] -> all zero except n_rel
    # q3: rel docs {m}; retrieved nothing -> all-zero row
    run = spark.createDataFrame(
        [("q1", "x", 1), ("q1", "a", 2), ("q1", "b", 3),
         ("q2", "p", 1), ("q2", "q", 2)],
        "query_id STRING, doc_id STRING, rk INT",
    )
    qrels = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "b", 1), ("q1", "c", 1),
         ("q2", "z", 1), ("q3", "m", 1)],
        "query_id STRING, doc_id STRING, rel INT",
    )
    got = {r.query_id: r for r in R.ranking_metrics(run, qrels, k=3).collect()}
    import math

    lg = lambda x: math.log(x) / math.log(2.0)  # noqa: E731
    dcg = 1 / lg(3) + 1 / lg(4)
    idcg = 1 + 1 / lg(3) + 1 / lg(4)
    r1 = got["q1"]
    assert (r1.n_rel, r1.hits) == (3, 2)
    assert r1.rr == pytest.approx(0.5)
    assert r1.ndcg_at_k == pytest.approx(round(dcg / idcg, 6), abs=1e-6)
    assert r1.recall_at_k == pytest.approx(round(2 / 3, 6))
    assert r1.precision_at_k == pytest.approx(round(2 / 3, 6))
    r2 = got["q2"]
    assert (r2.n_rel, r2.hits, r2.rr, r2.ndcg_at_k) == (1, 0, 0.0, 0.0)
    r3 = got["q3"]
    assert (r3.n_rel, r3.hits, r3.rr, r3.ndcg_at_k, r3.recall_at_k,
            r3.precision_at_k) == (1, 0, 0.0, 0.0, 0.0, 0.0)


def test_ranking_metrics_full_run_rr_and_input_dedup(spark):
    """Round-9 contract fixes (r8 verdict #7 / ADVICE): RR is the
    full-run TREC definition — a relevant doc first appearing at rank
    k+1 yields rr = 1/(k+1) while every @k metric excludes it; and
    duplicate qrels / run rows cannot double-count."""
    from boatrace_database_spark.operators import retrieval as R

    # q1: rel {a}; run ranks a at 4 with k=3 -> rr = 1/4, hits/dcg 0
    # q2: rel {b} DUPLICATED in qrels; run holds b twice (ranks 2, 3)
    #     -> n_rel 1, hits 1 (not 2/4), rr 1/2, dcg = 1/log2(3) once
    # q3: qrels rows all rel=0 -> NO output row (undefined metrics)
    # q4: present only in the run -> NO output row
    run = spark.createDataFrame(
        [("q1", "x", 1), ("q1", "y", 2), ("q1", "z", 3), ("q1", "a", 4),
         ("q2", "p", 1), ("q2", "b", 2), ("q2", "b", 3),
         ("q4", "w", 1)],
        "query_id STRING, doc_id STRING, rk INT",
    )
    qrels = spark.createDataFrame(
        [("q1", "a", 1),
         ("q2", "b", 1), ("q2", "b", 1),
         ("q3", "n", 0)],
        "query_id STRING, doc_id STRING, rel INT",
    )
    got = {r.query_id: r for r in R.ranking_metrics(run, qrels, k=3).collect()}
    assert set(got) == {"q1", "q2"}
    import math

    r1 = got["q1"]
    assert (r1.n_rel, r1.hits) == (1, 0)
    assert r1.rr == pytest.approx(0.25)  # full-run RR, not RR@k's 0
    assert (r1.ndcg_at_k, r1.recall_at_k, r1.precision_at_k) == (0.0, 0.0, 0.0)
    r2 = got["q2"]
    assert (r2.n_rel, r2.hits) == (1, 1)
    assert r2.rr == pytest.approx(0.5)
    dcg = 1 / (math.log(3) / math.log(2))
    assert r2.ndcg_at_k == pytest.approx(round(dcg / 1.0, 6), abs=1e-6)
    assert r2.recall_at_k == pytest.approx(1.0)


def test_decontaminate_semantic_matches_numpy_exact(spark):
    """The broadcast-matrix scan must equal a direct numpy all-pairs
    max-cosine, flags included (round-8 operator)."""
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ev = emb.where(F.col("vec_id") % 10 == 0)
    tr = emb.where(F.col("vec_id") % 10 != 0)
    got = {
        r.id: (r.max_eval_cosine, r.is_contaminated)
        for r in SIM.decontaminate_semantic(tr, ev, threshold=0.38).collect()
    }
    E = np.stack([r.embedding for r in ev.collect()]).astype(np.float64)
    for r in tr.collect():
        x = np.asarray(r.embedding, dtype=np.float64)
        want = float(
            np.max((E @ x) / (np.linalg.norm(E, axis=1) * np.linalg.norm(x)))
        )
        mc, flag = got[r.vec_id]
        assert mc == pytest.approx(round(want, 6), abs=1e-6)
        assert flag == (round(want, 6) >= 0.38)
    # the ship direction: filtering NOT is_contaminated drops exactly
    # the flagged slice
    n_flagged = sum(1 for _, f in got.values() if f)
    assert 0 < n_flagged < len(got)


def test_decontaminate_semantic_guards(spark):
    import pytest as _pytest

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with _pytest.raises(ValueError, match="eval set is empty"):
        SIM.decontaminate_semantic(emb, emb.where(F.lit(False)))
    with _pytest.raises(ValueError, match="broadcast_max_bytes"):
        SIM.decontaminate_semantic(emb, emb, broadcast_max_bytes=16)
    zero = spark.createDataFrame(
        [(1, [0.0] * 64)], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    with _pytest.raises(ValueError, match="all-zero"):
        SIM.decontaminate_semantic(emb, zero)


def test_multimodal_plumbing(spark, docs):
    media = M.to_media_table(docs.limit(20), "doc_id", "text", "source")
    feats = {r.media_id: r for r in M.extract_features(media).collect()}
    for r in docs.limit(20).collect():
        f = feats[r.doc_id]
        raw = r.text.encode("utf-8")
        assert f.n_bytes == len(raw)
        assert f.checksum == sum(raw) % 2**31
        assert f.width == r.doc_id % 640 + 1


def test_multimodal_real_decode_gate(spark, docs):
    """use_stub=False on NON-media payloads (utf-8 text) must fail with
    a clear error naming the undecodable format — never a silent fake.
    (Real BMP/PPM/WAV payloads decode natively without Pillow — see
    test_media_codecs.py.)"""
    import pytest

    media = M.to_media_table(docs.limit(3), "doc_id", "text", "source")
    if M._pil_image() is None:
        with pytest.raises(Exception) as exc:
            M.extract_features(media, use_stub=False).collect()
        assert "no native decoder" in str(exc.value)
        return
    # Pillow present: build real PNG payloads and check true dimensions
    import io  # pragma: no cover - Pillow-only branch

    image_mod = M._pil_image()
    rows = []
    for i, (w, h) in enumerate([(12, 7), (3, 9), (20, 20)]):
        buf = io.BytesIO()
        image_mod.new("RGB", (w, h)).save(buf, format="PNG")
        rows.append((i, buf.getvalue(), {"mime": "image/png", "source": "t", "n_bytes": buf.getbuffer().nbytes}))
    png = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    feats = {r.media_id: r for r in M.extract_features(png, use_stub=False).collect()}
    assert (feats[0].width, feats[0].height) == (12, 7)
    assert (feats[1].width, feats[1].height) == (3, 9)
    resized = M.resize_media(png, width=5, height=4, use_stub=False).collect()
    for r in resized:
        w, h = M._decode_real(bytes(r.payload))
        assert (w, h) == (5, 4)


@pytest.mark.parametrize("collect_max_edges", [2_000_000, 0])
def test_connected_components_vs_union_find(spark, collect_max_edges):
    """BOTH strategies (driver union-find under the size gate, forced
    iterative min-label propagation with gate=0) must equal a reference
    union-find on a graph with chains (diameter > 1), a cycle, and
    singleton-free nodes."""
    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5),       # chain, comp 1
        (10, 11), (11, 12), (12, 10),          # cycle, comp 10
        (20, 21),                              # pair, comp 20
        (30, 31), (31, 32), (30, 32), (32, 33) # clique + tail, comp 30
    ]
    pairs = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT")
    got = {
        r.id: r.comp
        for r in D.connected_components(
            pairs, collect_max_edges=collect_max_edges
        ).collect()
    }

    parent: dict[int, int] = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    expected = {x: find(x) for x in parent}
    assert got == expected


def test_dedup_clusters_assigns_keepers(docs, spark):
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    out = D.dedup_clusters(docs, pairs, "doc_id")
    rows = {r.doc_id: r.keeper_id for r in out.collect()}
    assert len(rows) == docs.count()
    # keepers are fixpoints; members map to a smaller-or-equal id
    for doc, keeper in rows.items():
        assert keeper <= doc
        assert rows[keeper] == keeper
    # every paired doc shares its keeper with its partner
    for r in pairs.collect():
        assert rows[r.id_a] == rows[r.id_b]


def test_multimodal_resize_and_frames(spark, docs):
    media = M.to_media_table(docs.limit(10), "doc_id", "text", "source")
    resized = M.resize_media(media, width=8, height=8)
    rows = resized.collect()
    assert all(len(r.payload) == 64 for r in rows)
    assert all(r.meta.n_bytes == 64 for r in rows)
    # resize composes: output schema == input schema
    again = M.resize_media(resized, width=4, height=4).collect()
    assert all(len(r.payload) == 16 for r in again)

    frames = M.sample_frames(media, frame_bytes=16, every_n=2).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    src = {r.media_id: bytes(r.payload) for r in media.collect()}
    for mid, fr in by_id.items():
        n_frames = max(len(src[mid]) // 16, 1)
        assert [f.frame_no for f in sorted(fr, key=lambda x: x.frame_no)] == list(
            range(0, n_frames, 2)
        )
        f0 = min(fr, key=lambda x: x.frame_no)
        assert bytes(f0.frame) == src[mid][:16]


def test_asof_join_fixture(spark):
    left = spark.createDataFrame(
        [(1, "u", 10), (2, "u", 20), (3, "u", 5), (4, "v", 100)],
        "event_id INT, k STRING, t INT",
    )
    right = spark.createDataFrame(
        [("u", 8, 1.0), ("u", 10, 2.0), ("u", 15, 3.0), ("w", 1, 9.0)],
        "k STRING, t INT, val DOUBLE",
    )
    out = asof_join(left, right, on="k", left_ts="t", right_ts="t", value_cols=["val"])
    got = {r.event_id: r.val_asof for r in out.collect()}
    # t=10 matches the right row at t=10 (<= semantics); t=5 has no prior
    assert got == {1: 2.0, 2: 3.0, 3: None, 4: None}


def test_cosine_pairs_lsh_agreement(spark):
    """The bucketed near-dup operator agrees with the exact all-pairs
    baseline: precision 1.0 (every reported pair is a true pair, since
    collisions are exact-scored) and high recall at shallow bands."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b): r.score
        for r in SIM.cosine_pairs(emb, threshold=0.45).collect()
    }
    assert exact, "corpus should contain pairs at the demo threshold"
    lsh_rows = SIM.cosine_pairs_lsh(
        emb, threshold=0.45, bands=8, rows_per_band=2, dim=64
    )
    plan = lsh_rows._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    found = {(r.id_a, r.id_b): r.score for r in lsh_rows.collect()}
    assert set(found) <= set(exact), "bucketed op reported a non-pair"
    recall = len(found) / len(exact)
    # deterministic planes: recall is fixed given the corpus; r=2, b=8 at
    # cos>=0.45 (p~0.649) gives 1-(1-p^2)^8 ~ 0.99 expected
    assert recall >= 0.85, f"recall {recall:.2f}"
    for pair, score in found.items():
        assert score == exact[pair], pair


def test_cosine_pairs_lsh_deep_bands_planted(spark):
    """Deep-band regime (r=8, b=4): at real near-dup thresholds the
    256-key bands prune candidates ~corpus/256 per band. Plant exact
    near-dups (one component zeroed, cos ~ 0.99) and require full
    recall on them."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").where(F.col("vec_id") < 100)
    planted = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.lit(0.0)), F.slice("embedding", 2, 63)
        ).alias("embedding"),
        "label",
    ).where(F.col("vec_id") % 10 == 0)
    corpus = emb.unionByName(planted)
    out = SIM.cosine_pairs_lsh(
        corpus, threshold=0.9, bands=4, rows_per_band=8, dim=64
    ).collect()
    found = {(r.id_a, r.id_b) for r in out}
    expected = {(r.vec_id, r.vec_id + 100000) for r in emb.collect()
                if r.vec_id % 10 == 0}
    exact = {
        (r.id_a, r.id_b)
        for r in SIM.cosine_pairs(corpus, threshold=0.9).collect()
    }
    assert found <= exact
    # planted copies differ in one of 64 components -> cos ~ 0.99 ->
    # per-plane agreement ~0.97, band recall 1-(1-0.97^8)^4 ~ 0.97;
    # allow at most one deterministic miss
    assert len(expected - found) <= 1, f"missed planted pairs: {expected - found}"


def test_ivf_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 20)
    exact = SIM.cosine_topk(emb, queries, k=10).collect()
    index = SIM.ivf_build_index(emb, n_cells=16)
    approx = SIM.ivf_probe(*index, queries, k=10, nprobe=4).collect()
    es, aps = {}, {}
    for r in exact:
        es.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        aps.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(es[q] & aps.get(q, set())) / len(es[q]) for q in es]
    mean_recall = sum(recalls) / len(recalls)
    # probing 4/16 cells scans ~25% of the corpus but the nearest cells
    # concentrate neighbors — recall must beat the scan fraction
    assert mean_recall > 0.30, f"IVF mean recall {mean_recall:.3f}"


@pytest.mark.slow
def test_clustered_corpus_recall(spark):
    """Designed-regime floor (r5 verdict item 4, BENCHNOTES §15): on a
    corpus WITH cluster structure — the premise of IVF and SemDeDup —
    the quantizer-scoped paths must be near-exhaustive at SMALL dial
    settings, not just at the worst-case operating points the random
    driver corpus forces. Gaussian mixture: 8 unit centers in 32-d,
    σ=0.06 → within-cluster cosine ≈ 0.94, cross-cluster ≈ 0."""
    import numpy as np

    rng = np.random.default_rng(11)
    n, dim, k_clusters = 500, 32, 8
    centers = rng.normal(size=(k_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, k_clusters, size=n)
    pts = centers[labels] + 0.06 * rng.normal(size=(n, dim))
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(n)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )

    # IVF at nprobe=1: k-means recovers the mixture, so the single
    # nearest cell holds a query's true neighbors
    queries = emb.where(F.col("vec_id") < 10)
    exact = _recall_sets(SIM.cosine_topk(emb, queries, k=10).collect())
    ivf = _recall_sets(
        SIM.ivf_probe(
            *SIM.ivf_build_index(emb, n_cells=k_clusters), queries, k=10, nprobe=1
        ).collect()
    )
    recalls = [
        len(exact[q] & ivf.get(q, set())) / len(exact[q]) for q in exact
    ]
    ivf_recall = sum(recalls) / len(recalls)
    assert ivf_recall >= 0.9, f"designed-regime IVF recall {ivf_recall:.3f}"

    # semantic pairs at n_assign=2 against exact all-pairs at θ=0.75
    # (inside the within-cluster cosine band)
    Mn = pts / np.linalg.norm(pts, axis=1, keepdims=True)
    S = np.round(Mn @ Mn.T, 4)
    iu = np.triu_indices(n, k=1)
    hits = S[iu] >= 0.75
    exact_pairs = {
        (int(a), int(b))
        for a, b in zip(iu[0][hits], iu[1][hits])
    }
    assert len(exact_pairs) > 1000, "mixture must plant a dense pair set"
    sem = {
        (r.id_a, r.id_b)
        for r in SIM.semantic_pairs(
            emb, threshold=0.75, n_cells=k_clusters, n_assign=2
        ).collect()
    }
    recall = len(exact_pairs & sem) / len(exact_pairs)
    assert recall >= 0.95, f"designed-regime semantic recall {recall:.3f}"


# --------------------------------------------------------------------------
# round-5 additions: multi-table ANN recall, tuning dials, determinism,
# id-type parity across the cosine_pairs_lsh size gate


def _recall_sets(rows):
    sets: dict[int, set[int]] = {}
    for r in rows:
        sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    return sets


def _mean_recall(exact_rows, approx_rows) -> float:
    es, aps = _recall_sets(exact_rows), _recall_sets(approx_rows)
    recalls = [len(es[q] & aps.get(q, set())) / len(es[q]) for q in es]
    return sum(recalls) / len(recalls)


def test_multitable_ann_recall_at_defaults(spark):
    """The multi-table + Hamming-2 defaults must hold the recall the
    round-5 rework bought (0.33 -> ~0.9+); a deep floor would let the
    regression back in silently."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 20)
    exact = SIM.cosine_topk(emb, queries, k=10).collect()
    approx = SIM.lsh_ann_topk(emb, queries, k=10, n_planes=6).collect()
    mean_recall = _mean_recall(exact, approx)
    assert mean_recall >= 0.6, f"default ANN recall {mean_recall:.3f}"


def test_multitable_ann_monotone_in_tables(spark):
    """More tables -> candidate supersets -> recall must not drop."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, queries, k=10).collect()
    r1 = _mean_recall(
        exact,
        SIM.lsh_ann_topk(
            emb, queries, k=10, n_planes=6, n_tables=1, probe_hamming=1
        ).collect(),
    )
    r4 = _mean_recall(
        exact,
        SIM.lsh_ann_topk(
            emb, queries, k=10, n_planes=6, n_tables=4, probe_hamming=1
        ).collect(),
    )
    assert r4 >= r1, f"recall fell with more tables: {r1:.3f} -> {r4:.3f}"


def test_lsh_ann_geometry_floor_regime_is_committed_demo_plan():
    """n <= target·2^floor = 2048 must return the byte-identical r5
    operating point (6 planes, Hamming-2, 4 tables) — the driver's
    sf0.01/sf0.1 catalog anchors and ANN_LSH_TOPK_SQL depend on it."""
    for n in (0, 1, 100, 500, 2000, 2048):
        assert SIM.lsh_ann_geometry(n) == (6, 2, 4), n


def test_lsh_ann_geometry_holds_candidate_fraction_shrinking():
    """The r12 `weak` grade: fixed planes make candidates/query linear
    in n (80% of the sf1 corpus, scale-invariant). The derived rule
    must (a) hold expected bucket occupancy ~constant and (b) make the
    candidate FRACTION shrink as n grows."""
    prev_frac = None
    for n in (2_000, 20_000, 200_000, 2_000_000, 20_000_000):
        p, h, t = SIM.lsh_ann_geometry(n)
        assert h == 2 and t == 4 + max(0, p - 6)
        bucket = n / 2 ** p
        if p < 30 and n > 32:
            assert bucket <= 32, (n, p, bucket)  # occupancy held
            assert bucket > 8, (n, p, bucket)  # not over-split
        probes = 1 + p + p * (p - 1) // 2
        frac = min(1.0, t * probes * bucket / n)
        if prev_frac is not None:
            assert frac < prev_frac, f"fraction not shrinking at n={n}"
        prev_frac = frac
    # sf1's measured point: (10, H2, L=8) — the docstring anchor
    assert SIM.lsh_ann_geometry(20_000) == (10, 2, 8)


def test_lsh_ann_geometry_validates():
    with pytest.raises(ValueError):
        SIM.lsh_ann_geometry(100, target_bucket=0)
    with pytest.raises(ValueError):
        SIM.lsh_ann_geometry(100, floor_planes=0)


def test_lsh_ann_auto_geometry_matches_explicit_demo_plan(spark):
    """At sf0.01's 500 vectors the derived geometry IS the demo plan,
    so the auto path (n_planes=None) must return row-identical top-k
    to the explicit (6, H2, L=4) call — the catalog row's byte-parity
    contract with its shipped oracle."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    auto = SIM.lsh_ann_topk(emb, queries, k=5).orderBy("query_id", "rk").collect()
    explicit = (
        SIM.lsh_ann_topk(emb, queries, k=5, n_planes=6)
        .orderBy("query_id", "rk")
        .collect()
    )
    assert auto == explicit


def test_ann_bucket_stats_matches_direct_counts(spark):
    from collections import Counter

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n_tables, n_planes = 3, 6
    stats = {
        r.tbl: r
        for r in SIM.ann_bucket_stats(
            emb, n_planes=n_planes, n_tables=n_tables
        ).collect()
    }
    assert set(stats) == set(range(n_tables))
    buckets = emb.select(
        F.posexplode(
            SIM._table_buckets(F.col("embedding"), n_planes, 64, n_tables)
        ).alias("tbl", "bucket")
    ).collect()
    by_table: dict[int, Counter] = {}
    for r in buckets:
        by_table.setdefault(r.tbl, Counter())[r.bucket] += 1
    for tbl, counts in by_table.items():
        s = stats[tbl]
        sizes = list(counts.values())
        assert s.n_vectors == sum(sizes)
        assert s.n_buckets == len(sizes)
        assert s.max_bucket == max(sizes)
        expected_cpp = sum(b * b for b in sizes) / sum(sizes)
        assert abs(s.est_candidates_per_probe - round(expected_cpp, 2)) < 0.01


def test_ivf_cell_stats_matches_direct_counts(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    indexed, _ = SIM.ivf_build_index(emb, n_cells=8)
    row = SIM.ivf_cell_stats(indexed).collect()[0]
    sizes = [
        r.n for r in indexed.groupBy("cell").agg(F.count("*").alias("n")).collect()
    ]
    assert row.n_cells == len(sizes)
    assert row.n_vectors == sum(sizes)
    assert row.min_cell == min(sizes)
    assert row.max_cell == max(sizes)


def test_nearest_cells_kernel_ties_order_and_argmin():
    """The one nearest-centroid kernel behind the IVF build, the
    incremental add, SemDeDup multi-assignment, PQ and the stream twin:
    an exact distance tie goes to the lower cell id, the top-n order is
    ascending distance then cell id, and n=1 is the argmin."""
    import numpy as np

    # cells 1 and 3 coincide; cell 0 is far from every query
    C = np.array([[0.0, 3.0], [1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [-1.0, 0.0]])
    A = np.array([[1.0, 1.0], [2.0, 0.0], [0.0, 0.0], [-1.0, 0.1]])
    assert SIM._nearest_cells(A, C).tolist() == [1, 1, 1, 4]
    assert SIM._nearest_cells(A, C, 5).tolist() == [
        [1, 2, 3, 0, 4],  # three-way tie 1/2/3, then a 0/4 tie
        [1, 3, 2, 4, 0],  # 1 and 3 tie exactly
        [1, 2, 3, 4, 0],  # four-way tie
        [4, 2, 1, 3, 0],
    ]
    # integer grids make many exact ties; distances are exact there
    rng = np.random.default_rng(3)
    A = rng.integers(-2, 3, (200, 4)).astype(np.float64)
    C = rng.integers(-2, 3, (16, 4)).astype(np.float64)
    D = ((A[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    top = SIM._nearest_cells(A, C, 16)
    for i in range(len(A)):
        assert top[i].tolist() == sorted(range(16), key=lambda j: (D[i, j], j))
    assert (SIM._nearest_cells(A, C, 1)[:, 0] == SIM._nearest_cells(A, C)).all()
    assert (SIM._nearest_cells(A, C) == D.argmin(axis=1)).all()


def test_ivf_build_deterministic(spark):
    """Two builds on the same corpus must produce identical centroids —
    the r4 verdict found 0.50-vs-0.58 recall drift from an unordered
    limit() in the training sample."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # small sample_per_cell forces the hash-filter + limit branch
    _, c1 = SIM.ivf_build_index(emb, n_cells=4, sample_per_cell=8)
    _, c2 = SIM.ivf_build_index(emb, n_cells=4, sample_per_cell=8)
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect()))


def test_ivf_build_empty_corpus_raises(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").where(F.lit(False))
    with pytest.raises(ValueError, match="empty"):
        SIM.ivf_build_index(emb)


def test_cosine_pairs_lsh_string_ids_both_strategies(spark):
    """ADVICE r4 (medium): string ids must behave identically on both
    sides of the broadcast_max_bytes gate — same schema, same pairs."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200)
    sdf = emb.select(
        F.concat(F.lit("doc-"), F.lpad(F.col("vec_id").cast("string"), 8, "0")).alias(
            "vec_id"
        ),
        "embedding",
    )
    broadcast = SIM.cosine_pairs_lsh(sdf, threshold=0.45)
    joined = SIM.cosine_pairs_lsh(sdf, threshold=0.45, broadcast_max_bytes=0)
    assert broadcast.schema == joined.schema
    assert broadcast.schema["id_a"].dataType.simpleString() == "string"
    bc = {(r.id_a, r.id_b, r.score) for r in broadcast.collect()}
    jn = {(r.id_a, r.id_b, r.score) for r in joined.collect()}
    assert bc == jn


def test_minhash_max_df_degenerate_cap_raises(spark):
    """ADVICE r4: max_df small enough to floor the DF cap to 0 would
    silently drop every shingle; it must raise instead."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        "doc_id LONG, text STRING",
    )
    with pytest.raises(ValueError, match="max_df"):
        D.minhash_table(docs, "doc_id", "text", max_df=0.1)


def test_top_ngrams_matches_python(spark, docs):
    """top_ngrams = document frequency of distinct per-doc 3-gram
    shingles, verified against a direct Python recount."""
    from collections import Counter

    got = TX.top_ngrams(docs, "doc_id", "text", n=3, k=10).collect()
    df_count: Counter = Counter()
    for r in docs.select("doc_id", "text").collect():
        words = r.text.split()
        sh = {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
        df_count.update(sh)
    expected = sorted(
        df_count.items(), key=lambda kv: (-kv[1], kv[0])
    )[:10]
    assert [(r.shingle, r.doc_freq) for r in got] == expected


def test_ivf_add_to_index_incremental(spark):
    """Incremental maintenance: vectors added via ivf_add_to_index get
    the same cell assignment the full build gives them (same
    centroids), and a probe finds the newly-added vectors."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    old = emb.where(F.col("vec_id") % 5 != 0)
    new = emb.where(F.col("vec_id") % 5 == 0)
    indexed_old, cents = SIM.ivf_build_index(old, n_cells=8)
    extended = SIM.ivf_add_to_index(indexed_old, cents, new)
    # assignment parity: assigning the FULL corpus against the same
    # centroids must agree with incremental on the added rows
    full_assign = SIM.ivf_add_to_index(
        indexed_old.limit(0), cents, emb
    )
    want = {
        r.neighbor_id: r.cell
        for r in full_assign.where(F.col("neighbor_id") % 5 == 0).collect()
    }
    got = {
        r.neighbor_id: r.cell
        for r in extended.where(F.col("neighbor_id") % 5 == 0).collect()
    }
    assert got == want and got
    assert extended.count() == emb.count()
    # a probe over the extended index can return added vectors
    queries = new.where(F.col("vec_id") < 50)
    hits = SIM.ivf_probe(extended, cents, queries, k=5, nprobe=8).collect()
    assert hits, "probe over extended index returned nothing"


# --------------------------------------------------------------- semantic dedup
def test_semantic_pairs_precision_and_planted_copies(spark):
    """Within-cell scoring is exact, so sem ⊆ exact all-pairs always;
    EXACT copies (cos = 1.0) hash to the same nearest cell by identical
    arithmetic, so planted-copy recall is 1.0 at any n_assign."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").where(
        F.col("vec_id") < 200
    )
    planted = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    ).where(F.col("vec_id") % 10 == 0)
    corpus = emb.unionByName(planted)
    sem = {
        (r.id_a, r.id_b)
        for r in SIM.semantic_pairs(
            corpus, threshold=0.4, n_cells=8, n_assign=1
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in SIM.cosine_pairs(corpus, threshold=0.4).collect()
    }
    assert sem <= exact
    expected = {
        (r.vec_id, r.vec_id + 100000)
        for r in emb.collect()
        if r.vec_id % 10 == 0
    }
    assert expected <= sem, f"missed exact copies: {expected - sem}"


def test_semantic_pairs_multi_assign_monotone_recall(spark):
    """top-1 cells ⊆ top-n cells per vector, so the pair set can only
    grow with n_assign — and on this clusterless corpus it measurably
    does (the recall dial moves)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p1 = {
        (r.id_a, r.id_b)
        for r in SIM.semantic_pairs(
            emb, threshold=0.4, n_cells=16, n_assign=1
        ).collect()
    }
    p3 = {
        (r.id_a, r.id_b)
        for r in SIM.semantic_pairs(
            emb, threshold=0.4, n_cells=16, n_assign=3
        ).collect()
    }
    assert p1 <= p3
    assert len(p3) > len(p1)


def test_semantic_dedup_keeper_contract(spark):
    """Every vector appears exactly once; keepers are the component
    minimum (keeper_id <= id), keepers keep themselves, and every
    keeper_id is a non-duplicate row's id (no dangling keepers)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = SIM.semantic_dedup(
        emb, threshold=0.4, n_cells=16, n_assign=2
    ).collect()
    assert len(rows) == emb.count()
    by_id = {r.id: r for r in rows}
    assert len(by_id) == len(rows)
    keepers = {r.id for r in rows if not r.is_duplicate}
    for r in rows:
        assert r.keeper_id <= r.id
        assert r.is_duplicate == (r.keeper_id != r.id)
        assert r.keeper_id in keepers, f"dangling keeper {r.keeper_id}"


def test_semantic_pairs_n_assign_validation(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError, match="n_assign"):
        SIM.semantic_pairs(emb, n_assign=0)


def test_semantic_pairs_prebuilt_index_matches_in_call_build(spark):
    """The build-once deployment: passing ivf_build_index's output must
    reproduce the in-call-build result exactly (same deterministic
    quantizer, same pairs)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").where(
        F.col("vec_id") < 300
    )
    idx = SIM.ivf_build_index(emb, n_cells=8)
    a = sorted(
        (r.id_a, r.id_b, r.cell, r.score)
        for r in SIM.semantic_pairs(
            emb, threshold=0.4, n_cells=8, n_assign=2, index=idx
        ).collect()
    )
    b = sorted(
        (r.id_a, r.id_b, r.cell, r.score)
        for r in SIM.semantic_pairs(
            emb, threshold=0.4, n_cells=8, n_assign=2
        ).collect()
    )
    assert a == b


def test_semantic_pairs_string_ids_both_strategies(spark):
    """semantic_pairs is the second caller of _broadcast_pair_scores:
    string ids must survive the whole chain (IVF build's orderBy +
    hash sample, cell assignment, pair collapse, both scoring
    strategies) with identical schema and pairs on both sides of the
    gate — and semantic_dedup's lexicographic min keeper must hold."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200)
    sdf = emb.select(
        F.concat(
            F.lit("doc-"), F.lpad(F.col("vec_id").cast("string"), 8, "0")
        ).alias("vec_id"),
        "embedding",
    )
    broadcast = SIM.semantic_pairs(sdf, threshold=0.4, n_cells=8, n_assign=2)
    joined = SIM.semantic_pairs(
        sdf, threshold=0.4, n_cells=8, n_assign=2, broadcast_max_bytes=0
    )
    assert broadcast.schema == joined.schema
    assert broadcast.schema["id_a"].dataType.simpleString() == "string"
    bc = {(r.id_a, r.id_b, r.cell, r.score) for r in broadcast.collect()}
    jn = {(r.id_a, r.id_b, r.cell, r.score) for r in joined.collect()}
    assert bc == jn
    dedup = SIM.semantic_dedup(sdf, threshold=0.4, n_cells=8, n_assign=2)
    rows = dedup.collect()
    assert len(rows) == 200
    for r in rows:
        assert r.keeper_id <= r.id  # lexicographic min keeper


def test_zero_norm_vectors_produce_no_pairs_any_strategy(spark):
    """Engine-wide zero-norm policy: a padding / failed-encode vector
    (all zeros) yields NO pairs and NO crash on every scoring path —
    broadcast matrix, vector join, cluster-scoped semantic — and NULL
    (never NaN, which Spark sorts greatest) in exact top-k scores."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(100)
    zero = spark.createDataFrame(
        [(999_999, [0.0] * 64, 0)], "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    corpus = emb.unionByName(zero)
    for kw in ({}, {"broadcast_max_bytes": 0}):
        lsh = SIM.cosine_pairs_lsh(corpus, threshold=0.0, **kw).collect()
        assert all(r.id_a != 999_999 and r.id_b != 999_999 for r in lsh), kw
        sem = SIM.semantic_pairs(
            corpus, threshold=0.0, n_cells=4, n_assign=2, **kw
        ).collect()
        assert all(r.id_a != 999_999 and r.id_b != 999_999 for r in sem), kw
    topk = SIM.cosine_topk(corpus, zero, k=3).collect()
    assert all(r.score is None for r in topk)


def test_semantic_pairs_rejects_gappy_centroids(spark):
    """Multi-assign semantic_pairs indexes the centroid matrix
    positionally — a filtered (gappy) centroid table must raise like
    ivf_add_to_index and the streaming twin, not silently shift every
    cell id after the gap."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(100)
    indexed, centroids = SIM.ivf_build_index(emb, n_cells=4)
    gappy = centroids.where(F.col("cell") != 1)
    with pytest.raises(ValueError, match="gapless"):
        SIM.semantic_pairs(
            emb, threshold=0.4, n_assign=2, index=(indexed, gappy)
        ).collect()


# --------------------------------------------------------------------------
# keyword retrieval (BM25) + hybrid fusion
def test_bm25_self_retrieval_and_idf(spark):
    """A document queried with its own full text ranks itself first;
    a RARE query term outranks a common one (Robertson idf): the only
    doc holding 'zymurgy' beats docs matching just the ubiquitous
    'apple'."""
    from boatrace_database_spark.operators import retrieval as R

    rows = [
        (0, "apple banana cherry"),
        (1, "apple banana date"),
        (2, "apple elderberry fig"),
        (3, "grape kiwi zymurgy lemon"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    q = spark.createDataFrame(
        [(0, "apple banana cherry"), (1, "zymurgy apple")],
        "query_id LONG, query_text STRING",
    )
    out = R.bm25_topk(docs, q, k=4).collect()
    top = {r.query_id: r.doc_id for r in out if r.rk == 1}
    assert top[0] == 0  # self-retrieval
    assert top[1] == 3  # rare term dominates
    # every 'apple' doc is still a candidate for query 1
    assert {r.doc_id for r in out if r.query_id == 1} == {0, 1, 2, 3}


def test_bm25_tokenizer_normalizes(spark):
    """Tokenizer folds case and punctuation: 'Apple, APPLE!' matches a
    lowercase 'apple' query."""
    from boatrace_database_spark.operators import retrieval as R

    docs = spark.createDataFrame(
        [(0, "Apple, APPLE! pie"), (1, "no fruit here at all")],
        "doc_id LONG, text STRING",
    )
    q = spark.createDataFrame([(0, "apple")], "query_id LONG, query_text STRING")
    out = R.bm25_topk(docs, q, k=2).collect()
    assert [r.doc_id for r in out] == [0]  # doc 1 shares no term


def test_bm25_query_probe_is_broadcast(spark):
    """Scale contract: the tiny query-term table is the BROADCAST side
    of the postings probe — the corpus-sized side never shuffles for
    candidate generation."""
    from boatrace_database_spark.operators import retrieval as R

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    plan = (
        R.bm25_topk(docs, q, k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") >= 2, plan  # qterms + df/stats


def test_rrf_fusion_hand_computed(spark):
    """1/(60+rk) fusion on a 2-list fixture: a doc present in both
    lists beats single-list docs; contribution arithmetic checked to
    the rounded digit."""
    from boatrace_database_spark.operators import retrieval as R

    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id LONG, doc_id LONG, rk INT"
    )
    vec = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], "query_id LONG, doc_id LONG, rk INT"
    )
    out = {r.doc_id: (r.rrf, r.rk)
           for r in R.rrf_fuse([lex, vec], k=10).collect()}
    assert out[11] == (round(1 / 62 + 1 / 61, 6), 1)
    assert out[10] == (round(1 / 61, 6), 2)
    assert out[12] == (round(1 / 62, 6), 3)
    with pytest.raises(ValueError):
        R.rrf_fuse([])


@pytest.mark.slow
def test_bm25_prebuilt_index_matches_and_prunes(spark, tmp_path):
    """The persisted BM25 index returns byte-identical rankings to the
    in-memory path, and its postings/df scans carry a bucket
    PartitionFilter — only the query terms' buckets are read."""
    from boatrace_database_spark.operators import retrieval as R

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    R.bm25_write_index(docs, str(tmp_path / "bm25"), n_buckets=16)
    disk = R.bm25_topk_prebuilt(
        spark, str(tmp_path / "bm25"), q, k=10, n_buckets=16
    )
    plan = disk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan, plan
    mem = R.bm25_topk(docs, q, k=10)
    rows_disk = sorted(tuple(r) for r in disk.collect())
    rows_mem = sorted(tuple(r) for r in mem.collect())
    assert rows_disk == rows_mem and rows_disk


@pytest.mark.slow
def test_bm25_prebuilt_bucket_mismatch_is_safe(spark, tmp_path):
    """Probing with a WRONG n_buckets must never return wrong scores —
    each term either matches with the CORRECT score (its recomputed
    bucket happens to coincide) or misses entirely (documented
    contract: same n_buckets as the build)."""
    from boatrace_database_spark.operators import retrieval as R

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    q = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    R.bm25_write_index(docs, str(tmp_path / "idx"), n_buckets=16)
    right = {
        (r.query_id, r.doc_id): r.score
        for r in R.bm25_topk_prebuilt(
            spark, str(tmp_path / "idx"), q, k=1000, n_buckets=16
        ).collect()
    }
    # the actual mismatch: probe mod 7 against an index laid out mod 16
    wrong = {
        (r.query_id, r.doc_id): r.score
        for r in R.bm25_topk_prebuilt(
            spark, str(tmp_path / "idx"), q, k=1000, n_buckets=7
        ).collect()
    }
    assert wrong, "some terms should still coincide"
    for pair, s in wrong.items():
        # every surviving pair scores <= its correct score (subset of
        # terms matched), and never invents a pair the right probe lacks
        assert pair in right and s <= right[pair] + 1e-9, (pair, s)
    # and the mismatch must be REAL: term losses shrink total score mass
    assert sum(wrong.values()) < sum(right.values()) - 1e-6, (
        sum(wrong.values()), sum(right.values())
    )


@pytest.mark.slow
def test_incremental_minhash_dedup_replay(spark):
    """Near-dup twin of the incremental-exact replay contract: batch
    docs matching a PREVIOUSLY KEPT doc drop, within-batch near-dups
    collapse to the min-id keeper, genuinely new content survives, and
    each batch's output appends straight back as the next seen table."""
    base_a = "the quick brown fox jumps over the lazy dog near the old stone bridge today"
    base_c = "completely different content about spark partitions shuffles and broadcast joins at scale"
    uniq_b = "unrelated text mentioning boats races weather wind waves and venue metadata fields"
    rows1 = [(1, base_a), (2, uniq_b)]
    rows2 = [
        (10, base_a + " extra"),          # near-dup of seen keeper 1
        (11, base_c),                      # new
        (12, base_c + " trailing junk"),   # within-batch near-dup of 11
    ]
    rows3 = [(20, base_a)]                 # exact text of keeper 1
    seen = spark.createDataFrame(
        [], "id LONG, sig ARRAY<BIGINT>, band INT, bucket INT"
    )
    kept = []
    for rows in (rows1, rows2, rows3):
        batch = spark.createDataFrame(rows, "id LONG, text STRING")
        new = D.incremental_minhash_dedup(
            batch, seen, "id", "text", threshold=0.5
        ).localCheckpoint()
        kept.append(sorted({r.id for r in new.select("id").collect()}))
        seen = seen.unionByName(new)
    assert kept == [[1, 2], [11], []], kept


def test_repeated_substring_spans_fixture(spark):
    """ExactSubstr contract on a hand-built corpus: a 10-token passage
    shared by two docs yields one MERGED span per doc at the right
    offsets; a within-doc repeat separated by a gap yields two spans;
    unique docs yield nothing; hash_grams=True reproduces the exact
    spans."""
    A = " ".join(f"a{i}" for i in range(10))
    B = " ".join(f"b{i}" for i in range(5))
    rows = [
        (0, A + " u1 u2 u3 u4 u5"),
        (1, "x1 x2 x3 " + A + " y1 y2"),
        (2, " ".join(f"q{i}" for i in range(20))),
        (3, B + " gap " + B),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = TX.repeated_substring_spans(docs, "doc_id", "text", min_tokens=5)
    got = sorted(
        (r.id, r.span_start, r.span_end, r.n_grams) for r in out.collect()
    )
    assert got == [
        (0, 0, 10, 6),    # A at offset 0: grams 0..5 merge
        (1, 3, 13, 6),    # A at offset 3
        (3, 0, 5, 1),     # within-doc repeat, gap splits the islands
        (3, 6, 11, 1),
    ], got
    hashed = sorted(
        (r.id, r.span_start, r.span_end, r.n_grams)
        for r in TX.repeated_substring_spans(
            docs, "doc_id", "text", min_tokens=5, hash_grams=True
        ).collect()
    )
    assert hashed == got


def test_strip_repeated_substrings_fixture(spark):
    """The strip action removes exactly the detected spans' tokens and
    passes untouched docs through byte-identical."""
    A = " ".join(f"a{i}" for i in range(10))
    B = " ".join(f"b{i}" for i in range(5))
    rows = [
        (0, A + " u1 u2 u3 u4 u5"),
        (1, "x1 x2 x3 " + A + " y1 y2"),
        (2, " ".join(f"q{i}" for i in range(20))),
        (3, B + " gap " + B),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {
        r.doc_id: (r.text, r.n_tokens_removed)
        for r in TX.strip_repeated_substrings(
            docs, "doc_id", "text", min_tokens=5
        ).collect()
    }
    assert out[0] == ("u1 u2 u3 u4 u5", 10)
    assert out[1] == ("x1 x2 x3 y1 y2", 10)
    assert out[2] == (rows[2][1], 0)
    assert out[3] == ("gap", 10)


def test_incremental_minhash_cap_is_conservative_not_lossy(spark):
    """A batch of >max_bucket near-identical docs saturates every
    (band,bucket); capping must degrade to ADMITTING them un-compared
    — never to silently losing the content (the one-shot pass's
    conservative cap semantics, kept under the keep-decision output)."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batch = spark.createDataFrame(
        [(i, text) for i in range(5)], "id LONG, text STRING"
    )
    empty = spark.createDataFrame(
        [], "id LONG, sig ARRAY<BIGINT>, band INT, bucket INT"
    )
    out = D.incremental_minhash_dedup(
        batch, empty, "id", "text", max_bucket=2
    )
    ids = {r.id for r in out.select("id").distinct().collect()}
    assert ids == {0, 1, 2, 3, 4}, ids  # admitted, not vanished
    # with a workable cap the same batch collapses to one keeper
    out2 = D.incremental_minhash_dedup(
        batch, empty, "id", "text", max_bucket=256
    )
    ids2 = {r.id for r in out2.select("id").distinct().collect()}
    assert ids2 == {0}, ids2


@pytest.mark.slow
def test_bm25_add_to_index_equals_full_rebuild(spark, tmp_path):
    """Incremental index extension contract: build(half A) +
    add(half B) probes identically to build(A ∪ B)."""
    from boatrace_database_spark.operators import retrieval as R

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(100)
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    q = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    R.bm25_write_index(a, str(tmp_path / "inc"), n_buckets=16)
    R.bm25_add_to_index(b, str(tmp_path / "inc"), n_buckets=16)
    R.bm25_write_index(docs, str(tmp_path / "full"), n_buckets=16)
    inc = sorted(
        tuple(r)
        for r in R.bm25_topk_prebuilt(
            spark, str(tmp_path / "inc"), q, k=10, n_buckets=16
        ).collect()
    )
    full = sorted(
        tuple(r)
        for r in R.bm25_topk_prebuilt(
            spark, str(tmp_path / "full"), q, k=10, n_buckets=16
        ).collect()
    )
    assert inc == full and inc


@pytest.mark.slow
def test_bm25_add_to_index_retry_is_idempotent(spark, tmp_path):
    """Double-delivering the same batch to bm25_add_to_index appends
    nothing the second time: probes after the retry equal probes after
    the single add (the enforced id-disjointness guard)."""
    from boatrace_database_spark.operators import retrieval as R

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    q = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    R.bm25_write_index(a, str(tmp_path / "idx"), n_buckets=16)
    R.bm25_add_to_index(b, str(tmp_path / "idx"), n_buckets=16)
    once = sorted(
        tuple(r)
        for r in R.bm25_topk_prebuilt(
            spark, str(tmp_path / "idx"), q, k=10, n_buckets=16
        ).collect()
    )
    R.bm25_add_to_index(b, str(tmp_path / "idx"), n_buckets=16)  # retry
    twice = sorted(
        tuple(r)
        for r in R.bm25_topk_prebuilt(
            spark, str(tmp_path / "idx"), q, k=10, n_buckets=16
        ).collect()
    )
    assert once == twice and once


@pytest.mark.slow
def test_incremental_minhash_probe_plan_shape(spark, tmp_path):
    """The seen band table's 100 TB contract, plan-asserted (the
    fuzzy twin of the incremental-exact plan test): the persisted seen
    side is probed by a BROADCAST join and never exchanged — only the
    batch side (groupBys on the daily batch) shuffles."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    empty = spark.createDataFrame(
        [], "id LONG, sig ARRAY<BIGINT>, band INT, bucket INT"
    )
    D.incremental_minhash_dedup(
        docs.where(F.col("doc_id") % 2 == 0), empty, "doc_id", "text"
    ).write.mode("overwrite").parquet(str(tmp_path / "seen"))
    seen = spark.read.parquet(str(tmp_path / "seen"))
    batch = docs.where(F.col("doc_id") % 2 == 1).limit(50)
    sig = D.minhash_table(batch, "doc_id", "text")
    banded = D._cap_buckets(
        D._minhash_banded(sig, 16, 2), ["band", "bucket"], 256
    )
    # the probe helper is exactly what incremental_minhash_dedup
    # checkpoints; inspect it directly (the caller's lineage cut hides
    # it from the composed plan)
    probe = D._seen_probe(seen, banded, 32, 0.5)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    seen_joins = [ln for ln in plan.splitlines() if "Join" in ln]
    # every join must build a broadcast side; the seen rows themselves
    # never shuffle
    assert seen_joins and all(
        "BroadcastHashJoin" in ln for ln in seen_joins
    ), plan
    # the seen parquet scan must feed the probe without an Exchange on
    # its row stream: the only hashpartitioning exchanges allowed are
    # the batch groupBys
    assert probe.count() >= 0
    out = D.incremental_minhash_dedup(batch, seen, "doc_id", "text")
    assert out.count() >= 0


def test_bm25_empty_inputs_are_safe(spark):
    """Empty/whitespace/punctuation-only docs contribute no postings
    (and drop out of n_docs — BM25 is defined over docs with at least
    one term); a query with no alphanumeric terms returns no rows
    rather than erroring."""
    from boatrace_database_spark.operators import retrieval as R

    docs = spark.createDataFrame(
        [(0, "real content here"), (1, ""), (2, "   "), (3, "!!! ...")],
        "doc_id LONG, text STRING",
    )
    q = spark.createDataFrame(
        [(0, "content"), (1, ""), (2, "?!")],
        "query_id LONG, query_text STRING",
    )
    out = R.bm25_topk(docs, q, k=5).collect()
    assert {(r.query_id, r.doc_id) for r in out} == {(0, 0)}
    # pin the n_docs drop-out itself, not just the row set: idf would
    # silently shift if termless docs ever counted toward the corpus
    assert R.bm25_index_stats(docs).first().n_docs == 1


# --------------------------------------------------------------------------
# Bloom membership sketch
def test_bloom_no_false_negatives_and_fpr(spark):
    """Membership contract: every built value hits (zero false
    negatives — the guarantee the pre-filter pattern rests on);
    non-members false-positive at roughly the design rate (<= 3x fpp
    at this size); keep_hits=False admits only definite non-members."""
    from boatrace_database_spark.operators import bloom as B

    members = spark.range(0, 2000).select(
        F.concat(F.lit("m"), F.col("id")).alias("v")
    )
    bf = B.build_bloom(members, "v", n_items=2000, fpp=0.01)
    assert B.bloom_prefilter(members, bf, "v").count() == 2000  # no FN
    others = spark.range(0, 10000).select(
        F.concat(F.lit("x"), F.col("id")).alias("v")
    )
    fp = B.bloom_prefilter(others, bf, "v").count()
    assert fp / 10000 <= 0.03, fp
    # the definite-new gate: disjoint from the might-contain set
    definite_new = B.bloom_prefilter(others, bf, "v", keep_hits=False).count()
    assert definite_new == 10000 - fp


def test_bloom_prefilter_composes_with_incremental_dedup(spark):
    """The LSM pattern end-to-end: gate a batch with the seen-side
    bloom, run the exact incremental dedup ONLY on possible-dup rows,
    and admit the definite-new remainder join-free — output ids equal
    the ungated incremental dedup exactly (FP side is re-checked by
    the exact join; FN side cannot exist)."""
    from boatrace_database_spark.operators import bloom as B

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    seen = docs.where(F.col("doc_id") % 2 == 0).select(
        TX.fingerprint(F.col("text")).alias("fp")
    )
    batch = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", TX.fingerprint(F.col("text")).alias("fp")
    )
    direct = {
        r.keeper_id
        for r in D.incremental_exact_dedup(batch, seen, ["fp"], "doc_id").collect()
    }
    bf = B.build_bloom(seen, "fp", n_items=250, fpp=0.01)
    maybe_dup = B.bloom_prefilter(batch, bf, "fp")
    definite_new = B.bloom_prefilter(batch, bf, "fp", keep_hits=False)
    gated = {
        r.keeper_id
        for r in D.incremental_exact_dedup(
            maybe_dup, seen, ["fp"], "doc_id"
        ).collect()
    } | {
        r.keeper_id
        for r in D.exact_dedup(definite_new, ["fp"], "doc_id").collect()
    }
    assert gated == direct and direct


def test_bloom_bit_helpers_handle_same_byte_collisions():
    """Regression pin for the fancy-index OR pitfall: two positions in
    the SAME byte must BOTH set (bits[idx] |= mask applies only one
    write per duplicate index — np.bitwise_or.at is required). A value
    whose k positions collide in-byte must roundtrip insert→test, or
    its later true duplicates would false-negative."""
    import numpy as np

    from boatrace_database_spark.operators import bloom as B

    bits = np.zeros(4, dtype=np.uint8)
    P = np.array([0, 3, 9], dtype=np.int64)  # bits 0,3 share byte 0
    B.insert_positions(bits, P)
    assert bits[0] == 0b00001001, bin(bits[0])  # both byte-0 bits set
    assert bool(B.test_positions(bits, P))
    # matrix form: member row True, non-member row False
    Q = np.array([[0, 3, 9], [1, 2, 4]], dtype=np.int64)
    assert list(B.test_positions(bits, Q)) == [True, False]


def test_unigram_logprob_ranks_gibberish_above_reference_text(spark):
    """LM quality contract: text drawn from the reference vocabulary
    scores LOWER mean NLL than out-of-vocabulary gibberish; counts and
    the empty-token convention hold."""
    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
        "doc_id LONG, text STRING",
    )
    score = spark.createDataFrame(
        [
            (100, "the quick fox jumps"),           # in-vocab
            (101, "zxqv wvut qqqz plmk"),           # pure OOV
            (102, "the quick zxqv dog"),            # mixed
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r.id: (r.n_tokens, r.avg_neg_logprob)
        for r in TX.unigram_logprob(ref, score, "doc_id", "text").collect()
    }
    assert out[100][0] == 4 and out[101][0] == 4 and out[102][0] == 4
    assert out[100][1] < out[102][1] < out[101][1], out


def test_unigram_logprob_edge_contracts(spark):
    """Empty/whitespace/null docs score exactly (0, 0.0) — never a
    phantom ""-token NLL; an empty reference corpus raises instead of
    silently zeroing every score."""
    ref = spark.createDataFrame(
        [(0, "alpha beta gamma")], "doc_id LONG, text STRING"
    )
    score = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "alpha beta")],
        "doc_id LONG, text STRING",
    )
    out = {
        r.id: (r.n_tokens, r.avg_neg_logprob)
        for r in TX.unigram_logprob(ref, score, "doc_id", "text").collect()
    }
    assert out[1] == (0, 0.0) and out[2] == (0, 0.0) and out[3] == (0, 0.0)
    assert out[4][0] == 2 and out[4][1] > 0
    with pytest.raises(ValueError, match="no tokens"):
        TX.unigram_logprob(
            spark.createDataFrame([(9, "  ")], "doc_id LONG, text STRING"),
            score, "doc_id", "text",
        )


def test_normalize_width_on_real_venue_strings(spark):
    """SURVEY §7 M7's venue/race-name normalization on the actual
    reference strings: full-width digits/letters/space fold to ASCII,
    Japanese characters pass through untouched, and the ASCII widen →
    normalize roundtrip is exact."""
    rows = [
        (0, "大　村ボートレース発祥地記念第２４回モーターボート誕生祭１Ｒ"),
        (1, "ＡＢＣ　ｘｙｚ　０１２！"),
        (2, "plain ascii stays"),
    ]
    df = spark.createDataFrame(rows, "id LONG, s STRING")
    out = {
        r.id: (r.norm, r.round_ok)
        for r in df.select(
            "id",
            TX.normalize_width(F.col("s")).alias("norm"),
            (
                TX.normalize_width(TX.widen_width(F.col("s"))) ==
                TX.normalize_width(F.col("s"))
            ).alias("round_ok"),
        ).collect()
    }
    assert out[0][0] == "大 村ボートレース発祥地記念第24回モーターボート誕生祭1R"
    assert out[1][0] == "ABC xyz 012!"
    assert out[2][0] == "plain ascii stays"
    assert all(v[1] for v in out.values())


# --------------------------------------------------------------------------
# sparse tf-idf doc-to-doc similarity
def test_tfidf_related_semantics(spark):
    """Identical docs score cosine 1.0 and rank each other first; a
    doc sharing no term (after pruning) with anyone is ABSENT from the
    output (zero-norm/no-pair policy); scores are symmetric and in
    (0, 1]."""
    from boatrace_database_spark.operators import retrieval as R

    rows = [
        (0, "apple banana cherry"),
        (1, "apple banana cherry"),
        (2, "apple dog elephant"),
        (3, "zebra yak xylophone"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = R.tfidf_related_topk(docs, k=3).collect()
    by_pair = {(r.doc_id, r.other_id): r.cosine for r in out}
    top = {r.doc_id: (r.other_id, r.cosine) for r in out if r.rk == 1}
    assert top[0] == (1, 1.0) and top[1] == (0, 1.0)  # identical docs
    assert 3 not in {r.doc_id for r in out}  # no shared term -> absent
    assert 3 not in {r.other_id for r in out}
    assert all(0.0 < c <= 1.0 for c in by_pair.values())
    # symmetry: both directions of every pair carry the same score
    for (a, b), c in by_pair.items():
        assert by_pair[(b, a)] == c


def test_tfidf_df_n_terms_self_prune(spark):
    """A term present in EVERY doc has idf exactly ln(N/N)=0 and is
    dropped before the self-join: docs that share ONLY universal terms
    produce no pairs at all."""
    from boatrace_database_spark.operators import retrieval as R

    rows = [
        (0, "common alpha"),
        (1, "common beta"),
        (2, "common gamma"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    assert R.tfidf_related_topk(docs, k=3).count() == 0


def test_tfidf_max_df_cap(spark):
    """max_df_frac is the boilerplate dial: capping at 0.5 drops
    'apple' (df 3 of 4) so the only surviving pair is the identical
    doc pair sharing banana/cherry."""
    from boatrace_database_spark.operators import retrieval as R

    rows = [
        (0, "apple banana cherry"),
        (1, "apple banana cherry"),
        (2, "apple dog elephant"),
        (3, "zebra yak xylophone"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = R.tfidf_related_topk(docs, k=3, max_df_frac=0.5).collect()
    assert {(r.doc_id, r.other_id) for r in out} == {(0, 1), (1, 0)}


def test_tfidf_ngram_short_docs(spark):
    """ngram=2 on a single-token doc yields no grams (the sequence
    guard) — the doc is absent, nothing crashes, and longer docs still
    pair on shared bigrams."""
    from boatrace_database_spark.operators import retrieval as R

    rows = [
        (0, "one"),
        (1, "alpha beta gamma"),
        (2, "alpha beta delta"),
        (3, "epsilon zeta eta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = R.tfidf_related_topk(docs, k=3, ngram=2).collect()
    assert {(r.doc_id, r.other_id) for r in out} == {(1, 2), (2, 1)}


def test_tfidf_weights_are_unit_norm(spark):
    """Every emitted document vector is unit-length (sum of squared
    weights = 1) — the invariant that makes the pair dot product a
    cosine."""
    from boatrace_database_spark.operators import retrieval as R

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    norms = (
        R.tfidf_weights(docs, ngram=2)
        .groupBy("doc_id")
        .agg(F.sum(F.col("wn") * F.col("wn")).alias("sq"))
        .collect()
    )
    assert norms and all(abs(r.sq - 1.0) < 1e-9 for r in norms)


def test_tfidf_pair_join_is_broadcast_free_of_text(spark):
    """Scale contract: df_t and the 1-row N aggregate ride BROADCASTS
    into the weight join (visible on the weights plan — the top-k plan
    truncates it behind the localCheckpoint), and the pair self-join
    exchanges only (doc_id, term, wn) posting rows — the text column
    never reaches a shuffle."""
    from boatrace_database_spark.operators import retrieval as R

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    wplan = (
        R.tfidf_weights(docs, ngram=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in wplan, wplan  # df_t probe
    assert "BroadcastNestedLoopJoin" in wplan, wplan  # 1-row N crossJoin
    plan = (
        R.tfidf_related_topk(docs, k=5, ngram=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    for p in (wplan, plan):
        exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
        assert exchanges and all("text" not in e for e in exchanges), exchanges


def test_tfidf_top_terms_rare_term_wins(spark):
    """Keyword extraction ranks the document's RAREST term first: in a
    corpus where 'apple' is common and 'zymurgy' unique, doc 0's top
    keyword is zymurgy despite equal tf."""
    from boatrace_database_spark.operators import retrieval as R

    rows = [
        (0, "apple zymurgy"),
        (1, "apple banana"),
        (2, "apple banana"),
        (3, "apple cherry"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = R.tfidf_top_terms(docs, k=2).collect()
    top = {r.doc_id: r.term for r in out if r.rk == 1}
    assert top[0] == "zymurgy"
    # banana (df 2) outranks apple (df 4 = N -> pruned entirely)
    assert top[1] == "banana" and top[2] == "banana"
    assert "apple" not in {r.term for r in out}  # df=N self-prunes


# --------------------------------------------------------------------------
# quantile gate
def test_quantile_gate_exact_semantics(spark):
    """Exact path: percent_rank >= q keeps exactly the top (1-q) run of
    each group; a tied run shares its FIRST rank, so a tie straddling
    the cut keeps or drops as one block."""
    from boatrace_database_spark.operators import corpus as C

    rows = [(i, "g", float(i)) for i in range(1, 9)]
    df = spark.createDataFrame(rows, "id LONG, grp STRING, score DOUBLE")
    kept = C.quantile_gate(df, "score", 0.25, group_col="grp").collect()
    # percent_rank = (rank-1)/7 >= 0.25  =>  rank >= 2.75  =>  scores 3..8
    assert sorted(r.id for r in kept) == [3, 4, 5, 6, 7, 8]
    assert all(r.pctile is not None for r in kept)
    # an all-tied group sits at percent_rank 0: q>0 drops the whole run
    tied = spark.createDataFrame(
        [(i, "g", 1.0) for i in range(4)], "id LONG, grp STRING, score DOUBLE"
    )
    assert C.quantile_gate(tied, "score", 0.5, group_col="grp").count() == 0
    assert C.quantile_gate(tied, "score", 0.0, group_col="grp").count() == 4


def test_quantile_gate_approx_matches_exact_contract(spark):
    """The approx (no-sort, broadcast-threshold) path agrees with the
    exact path everywhere except possibly AT the cut value: the
    symmetric difference is confined to rows whose score equals the
    boundary score of their source."""
    from boatrace_database_spark.operators import corpus as C
    from boatrace_database_spark.operators import text as TX

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source",
        F.round(TX.quality_score(F.col("text")), 6).alias("q"),
    )
    exact = {
        (r.doc_id, r.source, r.q)
        for r in C.quantile_gate(d, "q", 0.25, group_col="source").collect()
    }
    approx = {
        (r.doc_id, r.source, r.q)
        for r in C.quantile_gate(
            d, "q", 0.25, group_col="source", exact=False
        ).collect()
    }
    boundary = {}  # per-source min kept quality on the exact path
    for _, src, q in exact:
        boundary[src] = min(q, boundary.get(src, float("inf")))
    diff = exact ^ approx
    assert len(diff) <= 0.02 * d.count(), len(diff)
    for _, src, q in diff:
        assert abs(q - boundary[src]) < 5e-2, (src, q, boundary[src])


def test_quantile_gate_approx_plan_has_no_sort(spark):
    """Scale contract of the approx path: per-group sketch thresholds
    broadcast back into a filter — no window, no per-group sort of the
    corpus (the exact path's cost) anywhere in the plan."""
    from boatrace_database_spark.operators import corpus as C

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", F.length("text").cast("double").alias("q")
    )
    plan = (
        C.quantile_gate(d, "q", 0.25, group_col="source", exact=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan and "Sort" not in plan, plan


def test_mine_hard_negatives_excludes_positives(spark):
    """Hard negatives: the known positive never appears, survivors
    re-rank densely from 1, and the strongest non-positive match leads
    — doc 1 (sharing two terms with query 0) beats doc 2 (one term)."""
    from boatrace_database_spark.operators import retrieval as R

    rows = [
        (0, "apple banana cherry"),
        (1, "apple banana date"),
        (2, "apple elderberry fig"),
        (3, "grape kiwi lemon"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    q = spark.createDataFrame(
        [(0, "apple banana cherry")], "query_id LONG, query_text STRING"
    )
    pos = spark.createDataFrame([(0, 0)], "query_id LONG, doc_id LONG")
    out = R.mine_hard_negatives(docs, q, pos, k=3).collect()
    ids = [r.doc_id for r in out]
    assert 0 not in ids  # the positive is gone
    assert ids[0] == 1  # most-confusable negative first
    assert [r.rk for r in out] == list(range(1, len(out) + 1))  # dense re-rank


def test_mmr_rerank_trades_relevance_for_diversity(spark):
    """MMR fixture: B is nearly a copy of top-ranked A, C is less
    relevant but novel — at lam=0.5 the order is A, C, B; at lam=1 the
    input relevance order A, B, C comes back."""
    from boatrace_database_spark.operators import retrieval as R

    ranked = spark.createDataFrame(
        [(0, 10, 0.90, 1), (0, 11, 0.85, 2), (0, 12, 0.50, 3)],
        "query_id LONG, doc_id LONG, score DOUBLE, rk INT",
    )
    sims = spark.createDataFrame(
        [(10, 11, 0.95), (10, 12, 0.05), (11, 12, 0.05)],
        "id_a LONG, id_b LONG, sim DOUBLE",
    )
    div = R.mmr_rerank(ranked, sims, k=3, lam=0.5).orderBy("rk").collect()
    assert [r.doc_id for r in div] == [10, 12, 11]
    # selection-time objective: rk1 = lam*rel, later = lam*rel-(1-lam)*red
    assert div[0].mmr == 0.45 and div[1].mmr == 0.225
    rel = R.mmr_rerank(ranked, sims, k=3, lam=1.0).orderBy("rk").collect()
    assert [r.doc_id for r in rel] == [10, 11, 12]


def test_mmr_rerank_multi_query_and_missing_sims(spark):
    """Queries diversify independently; candidate pairs with no sims
    row count as 0 similarity (pure relevance order); k caps output."""
    from boatrace_database_spark.operators import retrieval as R

    ranked = spark.createDataFrame(
        [(0, 1, 0.9, 1), (0, 2, 0.8, 2), (1, 3, 0.7, 1), (1, 4, 0.6, 2),
         (1, 5, 0.5, 3)],
        "query_id LONG, doc_id LONG, score DOUBLE, rk INT",
    )
    sims = spark.createDataFrame([], "id_a LONG, id_b LONG, sim DOUBLE")
    out = R.mmr_rerank(ranked, sims, k=2, lam=0.3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rk, r.doc_id))
    assert sorted(by_q[0]) == [(1, 1), (2, 2)]
    assert sorted(by_q[1]) == [(1, 3), (2, 4)]  # k=2 caps query 1


def test_tfidf_max_df_cap_keeps_df_n_prune(spark):
    """Review regression: max_df_frac must AND with (not replace) the
    df=N zero-idf prune — a permissive cap on a corpus with a
    universal term used to push w=0 rows into the unit-normalize and
    divide by zero under ANSI; now the universal term still prunes
    and single-universal-term docs simply emit nothing."""
    from boatrace_database_spark.operators import retrieval as R

    rows = [
        (0, "common"),
        (1, "common banana"),
        (2, "common cherry"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    wn = R.tfidf_weights(docs, max_df_frac=1.0).collect()  # must not raise
    assert "common" not in {r.term for r in wn}
    assert {r.doc_id for r in wn} == {1, 2}  # doc 0 has no vector


def test_quantile_gate_null_group_both_paths(spark):
    """Review regression: NULL groups are a group like any other on
    BOTH paths — the approx path's threshold join is null-safe, so the
    same rows survive exact and approx (distinct scores, no tie
    ambiguity)."""
    from boatrace_database_spark.operators import corpus as C

    rows = [(i, None if i < 4 else "g", float(i)) for i in range(8)]
    df = spark.createDataFrame(rows, "id LONG, grp STRING, score DOUBLE")
    exact = {r.id for r in
             C.quantile_gate(df, "score", 0.5, group_col="grp").collect()}
    approx = {r.id for r in
              C.quantile_gate(df, "score", 0.5, group_col="grp",
                              exact=False).collect()}
    # the regression: the approx join used to drop EVERY null-group row
    # (grp == _grp is never true for NULL); both paths must keep the
    # null group's top rows. Exact/approx still differ by the
    # DOCUMENTED one-row boundary semantics, so no set equality here —
    # but the approx cut (score >= quantile VALUE) can only sit at or
    # below the exact rank cut for distinct scores.
    assert any(i < 4 for i in exact), "null group must survive exact"
    assert any(i < 4 for i in approx), "null group must survive approx"
    assert exact <= approx


# --------------------------------------------------------------------------
# BPE tokenizer training
def test_bpe_train_learns_frequent_pairs(spark):
    """The Sennrich-style fixture: a corpus dominated by 'low'-family
    words learns 'l'+'o' then 'lo'+'w' early — frequent pairs merge
    first, ties break lexicographically, training is deterministic."""
    from boatrace_database_spark.operators import text as TX

    rows = [(0, "low low low low low lower lower lowest"),
            (1, "low slow slower lowest glow")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    m1 = TX.bpe_train(docs, n_merges=4)
    m2 = TX.bpe_train(docs, n_merges=4)
    assert m1 == m2  # deterministic
    assert m1[0] == ("l", "o")  # 'lo' appears in every word
    assert ("lo", "w") in m1[:2]  # 'low' is next


def test_bpe_non_overlapping_merge_matches_python_reference(spark):
    """Training's rewrite of each learned rule is greedy left-to-right
    and non-overlapping, like the encoder's: the overlapping
    'aaaa' -> (aa)(aa) and 'aaa' -> (aa)(a) cases segment the way the
    pair counts that chose the rule assumed."""
    from boatrace_database_spark.operators import text as TX

    rows = [(0, "aaaa aaa aa banana bandana"), (1, "aaaa banana abab")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    merges = TX.bpe_train(docs, n_merges=6, min_pair_count=2)
    assert merges[0] == ("a", "a")  # aaaa/aaa/aa dominate
    # python reference application agrees with what training counted:
    # 'aaaa' segments as two 'aa' symbols after the first merge
    assert TX._bpe_apply("aaaa", merges[:1]) == ["aa", "aa"]
    assert TX._bpe_apply("aaa", merges[:1]) == ["aa", "a"]


def test_bpe_train_is_one_spark_aggregation(spark):
    """On the committed benchmark corpus, training 16 merges launches at
    most two Spark jobs (the word table is aggregated and collected
    once; the merge rounds run on the driver), and bpe_token_count's
    value hash still equals the one recorded for the benchmark."""
    import json

    from boatrace_database_spark.queries import QUERIES
    from perfbench.catalog import DATA, EXPECTED, value_hash

    docs = spark.read.parquet(f"{DATA}/documents.parquet")
    sc = spark.sparkContext
    group = "test_bpe_train_is_one_spark_aggregation"
    sc.setJobGroup(group, "bpe_train job count")
    try:
        merges = TX.bpe_train(docs, n_merges=16)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(merges) == 16
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2

    df = QUERIES["bpe_token_count"](spark, DATA)
    got = value_hash(df.columns, [tuple(r) for r in df.collect()])
    with open(EXPECTED) as fh:
        assert got == tuple(json.load(fh)["bpe_token_count"])


def test_bpe_encode_count_monotone_and_cached(spark):
    """More merges never increase a document's token count; zero
    merges equals the character count of its words; the catalog corpus
    encodes without error."""
    from boatrace_database_spark.operators import text as TX

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(100)
    merges = TX.bpe_train(docs, n_merges=8)
    assert merges  # the 31-word vocab has abundant repeated pairs
    none = {r.doc_id: r.bpe_tokens for r in
            TX.bpe_encode_count(docs, "text", []).collect()}
    some = {r.doc_id: r.bpe_tokens for r in
            TX.bpe_encode_count(docs, "text", merges[:4]).collect()}
    full = {r.doc_id: r.bpe_tokens for r in
            TX.bpe_encode_count(docs, "text", merges).collect()}
    chars = {r.doc_id: r.n for r in docs.select(
        "doc_id",
        F.aggregate(
            F.transform(F.split(F.trim("text"), r"\s+"), lambda w: F.length(w)),
            F.lit(0), lambda a, x: a + x,
        ).alias("n"),
    ).collect()}
    assert none == chars  # 0 merges = 1 token per character
    for d in none:
        assert full[d] <= some[d] <= none[d]
    assert any(full[d] < none[d] for d in none)  # merges actually bite


# --------------------------------------------------------------------------
# mergeable distinct-count sketches
def test_sketch_merge_equals_rebuild(spark, tmp_path):
    """The incremental contract: unioning per-day sketches estimates
    the same as one sketch over the union of days — including after a
    parquet persist/readback of the sketch table (the binary survives
    the round trip)."""
    from boatrace_database_spark.operators import sketches as SK

    e = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    per_day = SK.distinct_sketches(e, "user_id", ["day"])
    merged = SK.union_distinct_estimate(per_day).collect()[0]
    rebuilt = SK.union_distinct_estimate(
        SK.distinct_sketches(e.withColumn("day", F.lit("all")), "user_id", ["day"])
    ).collect()[0]
    assert merged.distinct_estimate == rebuilt.distinct_estimate
    assert merged.n_rows == rebuilt.n_rows
    # persist round trip
    path = str(tmp_path / "sketches")
    per_day.write.parquet(path)
    back = SK.union_distinct_estimate(spark.read.parquet(path)).collect()[0]
    assert back.distinct_estimate == merged.distinct_estimate


def test_sketch_estimating_regime_error_bound(spark):
    """Beyond the sparse-exact regime: 200k distinct keys at lgk=12
    estimate within the ~3x relative standard error (1.04/sqrt(2^12)
    = 1.6%); lgk=16 tightens it."""
    from boatrace_database_spark.operators import sketches as SK

    df = spark.range(200_000).select(
        F.col("id").alias("k"), F.lit("g").alias("g")
    )
    for lgk, bound in ((12, 0.05), (16, 0.013)):
        est = SK.union_distinct_estimate(
            SK.distinct_sketches(df, "k", ["g"], lgk=lgk)
        ).collect()[0].distinct_estimate
        assert abs(est - 200_000) / 200_000 < bound, (lgk, est)


def _recall_of(exact_rows, approx_rows):
    es, aps = {}, {}
    for r in exact_rows:
        es.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx_rows:
        aps.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(es[q] & aps.get(q, set())) / len(es[q]) for q in es]
    return sum(recalls) / len(recalls)


def test_ivfpq_lossless_equals_exact(spark):
    """The PQ correctness anchor: with n_codes >= corpus size every
    sub-vector becomes its own codeword, quantization is lossless, and
    ADC over codes must return EXACTLY brute force — same neighbors,
    same ranks, same rounded scores. Any drift in the encoder, the
    LUTs, or the cosine reconstruction fails this exactly."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.rk): (r.neighbor_id, r.score)
        for r in SIM.cosine_topk(emb, queries, k=5).collect()
    }
    pq = {
        (r.query_id, r.rk): (r.neighbor_id, r.score)
        for r in SIM.ivfpq_probe(
            *SIM.ivfpq_build_index(emb, n_cells=4, n_subspaces=8, n_codes=512),
            queries, k=5, nprobe=4,
        ).collect()
    }
    assert pq == exact


@pytest.mark.slow
def test_ivfpq_recall_floor_and_determinism(spark):
    """Lossy operating point (the catalog demo's S=16/K=256,
    nprobe=8/16) on the near-isotropic corpus — PQ's adversarial
    regime. Recall must clear the IVF-pruning floor by a margin even
    with quantized scoring, and two full build+probe runs must be
    identical (deterministic sample -> deterministic codebooks)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, queries, k=10).collect()

    def run():
        return SIM.ivfpq_probe(
            *SIM.ivfpq_build_index(emb, n_cells=16, n_subspaces=16, n_codes=256),
            queries,
            k=10,
            nprobe=8,
        ).collect()

    a, b = run(), run()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    rec = _recall_of(exact, a)
    assert rec > 0.40, f"IVF-PQ mean recall {rec:.3f}"


def test_pq_target_recall_contract(spark):
    """r10 verdict item #4: the measured code-budget knee (BENCHNOTES
    §41) is a caller-visible contract. Both demo anchors pin the dial
    choice: 16x compression (4-dim subspaces, sf1 ADC 0.54) for low
    targets, 8x (2-dim subspaces, sf1 ADC 0.87) above the S=16 anchor;
    targets past the 2-dim anchor must point at the refine path, not
    silently under-deliver."""
    import numpy as np

    # dial choice at the two measured anchors (dim-64 demo corpus)
    assert SIM.pq_subspaces_for_target(64, 0.54) == 16
    assert SIM.pq_subspaces_for_target(64, 0.50) == 16
    assert SIM.pq_subspaces_for_target(64, 0.87) == 32
    assert SIM.pq_subspaces_for_target(64, 0.70) == 32
    assert SIM.pq_subspaces_for_target(128, 0.80) == 64  # dim-relative
    with pytest.raises(ValueError, match="refine"):
        SIM.pq_subspaces_for_target(64, 0.95)
    with pytest.raises(ValueError, match="in \\(0, 1\\]"):
        SIM.pq_subspaces_for_target(64, 0.0)
    with pytest.raises(ValueError, match="not divisible"):
        SIM.pq_subspaces_for_target(63, 0.8)

    # builder contract: target_recall derives S end-to-end, and the
    # codes really are S bytes per vector
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    codes, _, books = SIM.ivfpq_build_index(
        emb, n_cells=4, n_codes=16, target_recall=0.8
    )
    assert books.shape[0] == 32 and books.shape[2] == 2
    assert {len(r.codes) for r in codes.limit(5).collect()} == {32}
    # equivalence: target_recall=0.8 is exactly the explicit S=32 build
    _, _, books32 = SIM.ivfpq_build_index(
        emb, n_cells=4, n_subspaces=32, n_codes=16
    )
    assert np.array_equal(books, books32)
    with pytest.raises(ValueError, match="not both"):
        SIM.ivfpq_build_index(
            emb, n_cells=4, n_subspaces=16, target_recall=0.8
        )


def test_ivfpq_shared_sample_preserves_codebooks(spark):
    """r6 ADVICE: ivfpq_build_index now threads one corpus count and
    (when provably identical) one training sample through both the IVF
    and PQ trainers instead of scanning twice. The optimization must be
    invisible: codebooks and cell assignments from the combined build
    equal the standalone ivf_build_index + pq_train outputs."""
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    codes, cents, books = SIM.ivfpq_build_index(
        emb, n_cells=4, n_subspaces=8, n_codes=16
    )
    indexed2, cents2 = SIM.ivf_build_index(emb, n_cells=4)
    books2 = SIM.pq_train(
        emb, n_subspaces=8, n_codes=16,
        _assign_C=SIM.centroid_matrix(cents2),
    )
    assert np.array_equal(books, books2)
    # raw (by_residual=False) leg: same invariance vs raw pq_train
    _, _, books_raw = SIM.ivfpq_build_index(
        emb, n_cells=4, n_subspaces=8, n_codes=16, by_residual=False
    )
    assert np.array_equal(
        books_raw, SIM.pq_train(emb, n_subspaces=8, n_codes=16)
    )
    assert sorted(map(tuple, cents.collect())) == sorted(
        map(tuple, cents2.collect())
    )
    cells1 = {r.neighbor_id: r.cell for r in codes.collect()}
    cells2 = {r.neighbor_id: r.cell for r in indexed2.collect()}
    assert cells1 == cells2


@pytest.mark.slow
def test_ivfpq_residual_beats_raw_recall(spark):
    """The r7-verdict lift: IVFADC residual encoding (x − C[cell])
    must out-recall raw-vector PQ at the same operating point on the
    near-isotropic corpus — residual spread is well below corpus
    spread, so the same codebook budget buys more precision per bit.
    Also pins that the mode stamp actually switches the scorer: a
    residual index probed as raw would crater, so equal outputs from
    the two builds would mean the metadata is being ignored."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, queries, k=10).collect()

    def run(by_residual):
        return SIM.ivfpq_probe(
            *SIM.ivfpq_build_index(
                emb, n_cells=16, n_subspaces=16, n_codes=256,
                by_residual=by_residual,
            ),
            queries, k=10, nprobe=8,
        ).collect()

    res, raw = run(True), run(False)
    r_res, r_raw = _recall_of(exact, res), _recall_of(exact, raw)
    assert r_res > r_raw, f"residual {r_res:.3f} <= raw {r_raw:.3f}"
    assert sorted(map(tuple, res)) != sorted(map(tuple, raw))


def test_rotation_preserves_exact_search(spark):
    """rotate_embeddings is orthonormal: exact cosine top-k over the
    rotated corpus+queries must equal the raw corpus's neighbors and
    6-dp scores exactly; the matrix itself must be orthonormal and
    seed-deterministic."""
    import numpy as np

    Q = SIM.rotation_matrix(64)
    assert np.allclose(Q @ Q.T, np.eye(64), atol=1e-10)
    assert np.array_equal(Q, SIM.rotation_matrix(64))
    assert not np.array_equal(Q, SIM.rotation_matrix(64, seed=99))

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rot = SIM.rotate_embeddings(emb)
    raw = sorted(map(tuple, SIM.cosine_topk(
        emb, emb.where(F.col("vec_id") < 5), k=5).collect()))
    rr = sorted(map(tuple, SIM.cosine_topk(
        rot, rot.where(F.col("vec_id") < 5), k=5).collect()))
    assert raw == rr


@pytest.mark.slow
def test_rotation_lifts_pq_recall_on_decaying_spectrum(spark):
    """The OPQ-lite claim, in-engine: on a decaying-variance corpus
    (realistic embedding spectra — contiguous subspaces starve), the
    SAME IVF-PQ operating point over rotated vectors must beat the
    unrotated build by a wide margin. Offline replica measured
    0.55 -> 0.79 (BENCHNOTES §39)."""
    import numpy as np

    rng = np.random.default_rng(3)
    n, dim = 800, 64
    X = rng.normal(size=(n, dim)) * np.exp(-np.arange(dim) / 8.0)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(n)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    queries = emb.where(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, queries, k=10).collect()

    def run(df):
        q = df.where(F.col("vec_id") < 10)
        return SIM.ivfpq_probe(
            *SIM.ivfpq_build_index(df, n_cells=16, n_subspaces=16, n_codes=256),
            q, k=10, nprobe=8,
        ).collect()

    r_raw = _recall_of(exact, run(emb))
    rot = SIM.rotate_embeddings(emb).localCheckpoint(eager=True)
    # exact neighbors are rotation-invariant, so the same truth set
    # scores the rotated run
    r_rot = _recall_of(exact, run(rot))
    assert r_rot > r_raw + 0.1, f"rotated {r_rot:.3f} vs raw {r_raw:.3f}"


def test_opq_learned_rotation_beats_random(spark):
    """Round-9 OPQ proper (r8 verdict #8): the learned rotation
    (alternating PQ-fit / orthogonal Procrustes, seeded random init)
    must beat the RANDOM rotation on the same decaying-spectrum corpus
    at the same harsh PQ operating point — plus the contracts: the
    matrix is orthonormal, deterministic, and descends the
    quantization objective it optimizes."""
    import numpy as np

    rng = np.random.default_rng(3)
    n, dim = 800, 64
    X = rng.normal(size=(n, dim)) * np.exp(-np.arange(dim) / 8.0)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(n)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    R = SIM.opq_train_rotation(emb, n_subspaces=8, n_codes=64)
    # orthonormal + deterministic
    assert np.allclose(R @ R.T, np.eye(dim), atol=1e-8)
    assert np.array_equal(R, SIM.opq_train_rotation(emb, n_subspaces=8, n_codes=64))
    R0 = SIM.rotation_matrix(dim)

    # quantization MSE: learned must descend below the random init it
    # started from (measured ~2x lower on this fixture)
    def mse(Rm):
        Y = X @ Rm
        dsub = dim // 8
        err = 0.0
        for s in range(8):
            Ys = Y[:, s * dsub : (s + 1) * dsub]
            Cs = SIM._lloyd_kmeans(Ys, 64, iters=8, seed=7 + s)
            d = -2.0 * (Ys @ Cs.T) + np.einsum("ij,ij->i", Cs, Cs)
            err += ((Ys - Cs[d.argmin(axis=1)]) ** 2).sum()
        return err / Y.size

    assert mse(R) < mse(R0) * 0.8, (mse(R), mse(R0))

    # engine-path recall at the same 8-byte/vector budget: rotate ->
    # ivfpq -> probe; exact truth is rotation-invariant
    queries = emb.where(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, queries, k=10).collect()

    def run(Rm):
        rot = SIM.rotate_embeddings(emb, matrix=Rm).localCheckpoint(eager=True)
        q = rot.where(F.col("vec_id") < 10)
        return SIM.ivfpq_probe(
            *SIM.ivfpq_build_index(rot, n_cells=16, n_subspaces=8, n_codes=64),
            q, k=10, nprobe=8,
        ).collect()

    r_rand = _recall_of(exact, run(R0))
    r_opq = _recall_of(exact, run(R))
    assert r_opq > r_rand + 0.03, f"opq {r_opq:.3f} vs random {r_rand:.3f}"


def test_ivfpq_add_to_index_equals_full_encode(spark):
    """Incremental maintenance contract (round 8): building on half
    the corpus and appending the other half must produce EXACTLY the
    rows a direct encode of the appended vectors against the same
    quantizers would — same cells, same codes, same norms — and the
    probe over the extended index must rank appended vectors."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    codes, cents, books = SIM.ivfpq_build_index(
        old, n_cells=8, n_subspaces=8, n_codes=64
    )
    extended = SIM.ivfpq_add_to_index(codes, cents, books, new)
    # metadata mode survives the union
    assert (extended.schema["codes"].metadata or {}).get("by_residual")
    ext_rows = {r.neighbor_id: (r.cell, tuple(r.codes), r.norm)
                for r in extended.collect()}
    assert set(ext_rows) == {r.vec_id for r in emb.collect()}
    # appended rows equal a direct encode: rebuild an index over the
    # full corpus REUSING the same quantizers via add of everything
    again = {
        r.neighbor_id: (r.cell, tuple(r.codes), r.norm)
        for r in SIM.ivfpq_add_to_index(
            codes.where(F.lit(False)), cents, books, emb
        ).collect()
    }
    for vid, row in again.items():
        assert ext_rows[vid] == row, vid
    # probe sees the appended half
    queries = emb.where(F.col("vec_id") < 4)
    got = SIM.ivfpq_probe(extended, cents, books, queries, k=10, nprobe=8)
    neigh = {r.neighbor_id for r in got.collect()}
    assert any(v % 2 == 1 for v in neigh)


def test_ivfpq_persist_roundtrip(spark, tmp_path):
    """write -> read -> probe must equal the in-memory probe row for
    row (codes partitioned by cell; codebook tensor reassembled
    positionally with the gapless validation)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    path = str(tmp_path / "ivfpq_idx")
    SIM.ivfpq_write_index(emb, path, n_cells=8, n_subspaces=8, n_codes=64)
    codes, cents, books = SIM.ivfpq_read_index(spark, path)
    got = SIM.ivfpq_probe(codes, cents, books, queries, k=5, nprobe=4).collect()

    codes2, cents2, books2 = SIM.ivfpq_build_index(
        emb, n_cells=8, n_subspaces=8, n_codes=64
    )
    want = SIM.ivfpq_probe(
        codes2, cents2, books2, queries, k=5, nprobe=4
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_ivfpq_probe_refuses_index_without_norms(spark):
    """Every IVF-PQ writer stores the exact per-vector norm; an index
    without the norm column is refused, not scored another way."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    codes, cents, books = SIM.ivfpq_build_index(
        emb, n_cells=4, n_subspaces=8, n_codes=16
    )
    with pytest.raises(ValueError, match="norm"):
        SIM.ivfpq_probe(
            codes.drop("norm"), cents, books, emb.where(F.col("vec_id") < 2)
        )


def test_centroid_cells_metadata_no_count(spark, tmp_path):
    """r11 §45: deriving nprobe from the centroid table must be a
    schema-metadata read, never a count — counting even a 16-row
    LocalRelation launches a real job, measured at ~0.45 s per probe
    (the whole r10 ann probe regression). The build stamps n_cells
    into the cell column's metadata, the stamp survives the parquet
    round-trip, and derived-dial probes never call .count() on the
    centroid table."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx, cents = SIM.ivf_build_index(emb, n_cells=4)
    assert cents.schema["cell"].metadata == {"n_cells": 4}
    assert SIM._centroid_cells(cents) == 4
    path = str(tmp_path / "cents")
    cents.write.parquet(path)
    back = spark.read.parquet(path)
    assert SIM._centroid_cells(back) == 4  # stamp survives parquet

    # derived probes never fall back to the count job
    class _NoCount:
        def __init__(self, df):
            self._df = df

        def __getattr__(self, name):
            if name == "count":
                raise AssertionError("probe called centroids.count()")
            return getattr(self._df, name)

    q = emb.where(F.col("vec_id") < 3)
    got = SIM.ivf_probe(idx, _NoCount(cents), q, k=3, nprobe=None).collect()
    want = SIM.ivf_probe(idx, cents, q, k=3, nprobe=SIM.ann_nprobe(4)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # a stampless table (externally assembled) still works via count
    stripped = cents.select(
        F.col("cell").alias("cell", metadata={}), "centroid"
    )
    assert SIM._centroid_cells(stripped) == 4


def test_index_remove_lifecycle(spark):
    """build -> add -> REMOVE: the anti-join delete drops exactly the
    targeted ids, survivors' rows are byte-identical (cells, codes,
    norms untouched — no retrain on removal), the by_residual metadata
    stamp survives for probes, and a probe over the pruned index never
    returns a removed id while survivor-only queries rank unchanged."""
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    codes, cents, books = SIM.ivfpq_build_index(
        emb, n_cells=4, n_subspaces=8, n_codes=16
    )
    codes = codes.localCheckpoint(eager=True)
    drop = emb.where(F.col("vec_id") % 7 == 0).select("vec_id")
    pruned = SIM.index_remove(codes, drop)
    assert pruned.schema["codes"].metadata == codes.schema["codes"].metadata
    before = {r.neighbor_id: (r.cell, bytes(r.codes)) for r in codes.collect()}
    after = {r.neighbor_id: (r.cell, bytes(r.codes)) for r in pruned.collect()}
    dropped = {r.vec_id for r in drop.collect()}
    assert set(after) == set(before) - dropped
    assert all(after[k] == before[k] for k in after)  # survivors untouched

    queries = emb.where(F.col("vec_id").isin(3, 5, 6))  # non-dropped ids
    got = SIM.ivfpq_probe(pruned, cents, books, queries, k=5).collect()
    assert got and not ({r.neighbor_id for r in got} & dropped)
    # ranking over survivors is unchanged vs manually filtered index
    manual = codes.where(~F.col("neighbor_id").isin(*dropped))
    want = SIM.ivfpq_probe(manual, cents, books, queries, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # works on the IVF inverted file too (same id key)
    indexed, cents2 = SIM.ivf_build_index(emb, n_cells=4)
    pruned2 = SIM.index_remove(indexed, drop)
    assert pruned2.where(F.col("neighbor_id").isin(*dropped)).count() == 0


def test_index_remove_ids_col_contract(spark):
    """r11 ADVICE #4: a multi-column delete list must NAME the id
    column — position-0 guessing deleted nothing (or the wrong rows)
    when the id wasn't first. Named column works regardless of
    position; unnamed multi-column raises; a bogus name raises."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    indexed, _ = SIM.ivf_build_index(emb, n_cells=4)
    indexed = indexed.localCheckpoint(eager=True)
    # id NOT in position 0
    drop = emb.where(F.col("vec_id") % 11 == 0).select(
        F.lit("x").alias("why"), F.col("vec_id")
    )
    with pytest.raises(ValueError, match="pass ids_col"):
        SIM.index_remove(indexed, drop)
    with pytest.raises(ValueError, match="not in"):
        SIM.index_remove(indexed, drop, ids_col="nope")
    pruned = SIM.index_remove(indexed, drop, ids_col="vec_id")
    dropped = {r.vec_id for r in drop.collect()}
    assert dropped
    survivors = {r.neighbor_id for r in pruned.collect()}
    assert not (survivors & dropped)
    assert len(survivors) == indexed.count() - len(dropped)


def test_ivfpq_target_recall_explicit_default_raises(spark):
    """r11 ADVICE #1: n_subspaces=8 passed EXPLICITLY alongside
    target_recall must raise, not be silently overridden (the old
    sentinel was the default value itself)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError, match="not both"):
        SIM.ivfpq_build_index(
            emb, n_cells=4, n_subspaces=8, target_recall=0.8
        )


def test_ivfpq_dim_not_divisible_raises(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError, match="divisible"):
        SIM.pq_train(emb, n_subspaces=7)


def test_ivfpq_refine_recovers_clustered_ranking(spark):
    """The clustered-corpus finding (BENCHNOTES §29): with real cluster
    structure, cell pruning is nearly free but every candidate is
    nearly equidistant, so PQ quantization noise — not pruning — caps
    ADC-only recall. The exact-refinement stage on the ADC short-list
    must recover it."""
    import numpy as np

    rng = np.random.default_rng(11)
    n, dim, kc = 500, 32, 8
    centers = rng.normal(size=(kc, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, kc, size=n)
    pts = centers[labels] + 0.06 * rng.normal(size=(n, dim))
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(n)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    queries = emb.where(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, queries, k=10).collect()
    codes, cents, books = SIM.ivfpq_build_index(
        emb, n_cells=8, n_subspaces=16, n_codes=256
    )
    plain = SIM.ivfpq_probe(
        codes, cents, books, queries, k=10, nprobe=4
    ).collect()
    refined = SIM.ivfpq_probe(
        codes, cents, books, queries, k=10, nprobe=4, refine=50, corpus=emb
    ).collect()
    r_plain = _recall_of(exact, plain)
    r_refined = _recall_of(exact, refined)
    assert r_refined >= 0.90, f"refined recall {r_refined:.3f}"
    assert r_refined > r_plain


def test_ivfpq_refine_requires_corpus(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 2)
    codes, cents, books = SIM.ivfpq_build_index(
        emb, n_cells=4, n_subspaces=8, n_codes=16
    )
    with pytest.raises(ValueError, match="requires the raw corpus"):
        SIM.ivfpq_probe(
            codes, cents, books, queries, k=5, nprobe=2, refine=10
        )


def test_cms_never_undercounts_and_bounds_overcount(spark):
    """The Cormode-Muthukrishnan contract on real data: for every key,
    exact <= est <= exact + e/width * N (the bound holds per hash row
    w.p. 1-1/e; taking min over depth=4 rows makes a violation at
    width=256 on ~20 keys effectively impossible — treat it as a hard
    bound here)."""
    import math

    from boatrace_database_spark.operators import sketches as SK

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    width = 256
    sk = SK.cms_sketches(docs, "source", width=width, depth=4)
    keys = docs.select("source").where(F.col("source").isNotNull()).distinct()
    est = {
        r.source: r.est_count
        for r in SK.cms_estimate(sk, keys, "source").collect()
    }
    exact = {
        r.source: r.n
        for r in docs.where(F.col("source").isNotNull())
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_total = sum(exact.values())
    slack = math.e / width * n_total
    assert set(est) == set(exact)
    for k in exact:
        assert est[k] >= exact[k], f"{k}: CMS undercounted"
        assert est[k] <= exact[k] + slack, f"{k}: overcount beyond bound"


def test_cms_merge_equals_rebuild(spark):
    """Elementwise-sum merge of per-shard sketches must equal the
    sketch built over the union — EXACT cell-table equality (the CMS
    pipeline is deterministic arithmetic, not an engine blob)."""
    from boatrace_database_spark.operators import sketches as SK

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    shards = docs.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(3)))
    merged = SK.cms_merge(
        SK.cms_sketches(shards, "source", ["shard"], width=128, depth=3)
    )
    rebuilt = SK.cms_sketches(docs, "source", width=128, depth=3)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


def test_cms_estimate_rejects_mixed_geometry(spark):
    from boatrace_database_spark.operators import sketches as SK

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = SK.cms_sketches(docs, "source", width=128, depth=3)
    b = SK.cms_sketches(docs, "source", width=256, depth=3)
    keys = docs.select("source").distinct()
    with pytest.raises(ValueError, match="geometr"):
        SK.cms_estimate(a.unionByName(b), keys, "source")


def test_histogram_merge_equals_rebuild_and_error_bound(spark):
    """Histogram sketch contracts: (1) per-shard sketches merged =
    sketch over the union, exact bin-table equality; (2) every
    quantile estimate within ONE bin width of the exact percentile
    (the deterministic bound fixed bins buy)."""
    from boatrace_database_spark.operators import sketches as SK

    o = spark.read.parquet(f"{SF}/orders.parquet")
    lo, hi, n_bins = 0.0, 600000.0, 512
    width = (hi - lo) / n_bins
    shards = o.withColumn("shard", F.pmod(F.col("o_orderkey"), F.lit(3)))
    merged = SK.histogram_merge(
        SK.histogram_sketches(
            shards, "o_totalprice", ["shard"], lo=lo, hi=hi, n_bins=n_bins
        )
    )
    rebuilt = SK.histogram_sketches(
        o, "o_totalprice", lo=lo, hi=hi, n_bins=n_bins
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )

    qs = [0.1, 0.5, 0.9, 0.99]
    est = {r.q: r.est for r in SK.histogram_quantiles(merged, qs).collect()}
    vals = sorted(
        r.o_totalprice
        for r in o.select("o_totalprice").collect()
        if r.o_totalprice is not None
    )
    import math

    for q in qs:
        exact = float(vals[max(0, math.ceil(q * len(vals)) - 1)])
        assert abs(est[q] - exact) <= width, (q, est[q], exact)


def test_histogram_quantiles_rejects_mixed_geometry(spark):
    from boatrace_database_spark.operators import sketches as SK

    o = spark.read.parquet(f"{SF}/orders.parquet")
    a = SK.histogram_sketches(o, "o_totalprice", lo=0.0, hi=1e5, n_bins=64)
    b = SK.histogram_sketches(o, "o_totalprice", lo=0.0, hi=2e5, n_bins=64)
    with pytest.raises(ValueError, match="geometr"):
        SK.histogram_quantiles(a.unionByName(b), [0.5])


def test_sketch_estimators_reject_empty_tables(spark):
    from boatrace_database_spark.operators import sketches as SK

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    empty_cms = SK.cms_sketches(docs.where(F.lit(False)), "source")
    keys = docs.select("source").distinct()
    with pytest.raises(ValueError, match="empty"):
        SK.cms_estimate(empty_cms, keys, "source")
    empty_hist = SK.histogram_sketches(
        docs.where(F.lit(False)).withColumn("len", F.length("text")), "len"
    )
    with pytest.raises(ValueError, match="empty"):
        SK.histogram_quantiles(empty_hist, [0.5])


# --------------------------------------------------------------------------
# edit-distance fuzzy join (SymSpell deletion-neighborhood blocking)
def _lev(a: str, b: str) -> int:
    """Reference Levenshtein, plain DP."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_deletion_neighborhood_values(spark):
    df = spark.createDataFrame([("abc",), ("",), ("x",)], ["s"])
    rows = {
        r.s: sorted(r.n)
        for r in df.select(
            "s", D.deletion_neighborhood(F.col("s"), k=1).alias("n")
        ).collect()
    }
    assert rows["abc"] == sorted(["abc", "bc", "ac", "ab"])
    # empty string must not hit the descending-sequence pitfall
    assert rows[""] == [""]
    assert rows["x"] == sorted(["x", ""])


@pytest.mark.parametrize("k", [1, 2])
def test_edit_distance_pairs_equals_bruteforce(spark, k):
    import random

    rng = random.Random(42)
    alphabet = "abcdef"
    base = ["".join(rng.choice(alphabet) for _ in range(rng.randint(4, 9)))
            for _ in range(40)]
    # plant typo variants: substitution, deletion, insertion
    strings = list(base)
    for s in base[:15]:
        i = rng.randrange(len(s))
        strings.append(s[:i] + rng.choice(alphabet) + s[i + 1:])  # sub
        strings.append(s[:i] + s[i + 1:])                          # del
        strings.append(s[:i] + rng.choice(alphabet) + s[i:])       # ins
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], ["id", "s"]
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in D.edit_distance_pairs(df, "id", "s", k=k).collect()
    }
    want = {
        (i, j): _lev(strings[i], strings[j])
        for i in range(len(strings))
        for j in range(i + 1, len(strings))
        if _lev(strings[i], strings[j]) <= k
    }
    assert got == want


def test_edit_distance_bucket_cap_is_lossy_and_documented(spark):
    # 10 identical 1-char strings: every variant bucket is degenerate;
    # with a tiny cap the candidate join is suppressed (documented
    # precision/recall trade), uncapped it finds all 45 dist-0 pairs
    df = spark.createDataFrame([(i, "a") for i in range(10)], ["id", "s"])
    full = D.edit_distance_pairs(df, "id", "s", k=1).count()
    capped = D.edit_distance_pairs(df, "id", "s", k=1, max_bucket=5).count()
    assert full == 45
    assert capped == 0


# --------------------------------------------------------------------------
# round-9: size-derived dials for the two r8-measured quadratic entries
# (BENCHNOTES §38: pinned 8×2 banding 84×, pinned n_cells=16 42× at 10×
# data). Both derivations are pure functions of a count, so the pins
# below are exact.
def test_lsh_band_geometry_anchors_and_linearity():
    # the committed oracle geometry is preserved at every catalog scale
    # the DuckDB gate runs (sf0.01: 500 vectors) and at the sf0.1 bench
    # corpus (2000) — EMB_DEDUP_SQL's literals stay valid
    assert SIM.lsh_band_geometry(0.45, 500) == (8, 2)
    assert SIM.lsh_band_geometry(0.45, 2000) == (8, 2)
    # the sf1 decade-up (20k) derives the deep-band pruning regime
    b1, r1 = SIM.lsh_band_geometry(0.45, 20000)
    assert r1 >= 5 and b1 <= 32
    # rows deepen monotonically with n; expected random-pair candidate
    # work stays ~linear (the §38 contract): per-row candidates under
    # the isotropic prior never exceed the budget once past the anchor
    prev_r = 0
    for n in (2048, 10_000, 100_000, 1_000_000, 100_000_000):
        b, r = SIM.lsh_band_geometry(0.45, n)
        assert r >= prev_r
        prev_r = r
        exp_cand = b * n * (n - 1) / 2 * 0.5**r
        assert exp_cand <= 2048 * n * 1.01, (n, b, r, exp_cand / n)
    # determinism: same inputs, same output
    assert SIM.lsh_band_geometry(0.45, 20000) == SIM.lsh_band_geometry(0.45, 20000)
    # degenerate corpora fall back to the base geometry
    assert SIM.lsh_band_geometry(0.45, 0) == (8, 2)
    assert SIM.lsh_band_geometry(1.0, 100) == (8, 2)


def test_lsh_band_geometry_matches_committed_oracle(spark):
    """The catalog's EMB_DEDUP_SQL inlines plane literals for
    lsh_band_geometry(0.45, 500); the driver's oracle gate runs at
    sf0.01 — this pins the derived geometry against the LIVE corpus
    count so the pairing cannot silently drift if testdata changes."""
    n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    from boatrace_database_spark.queries.llm import _EMB_B, _EMB_R

    assert SIM.lsh_band_geometry(0.45, n) == (_EMB_B, _EMB_R)


@pytest.mark.slow
def test_cosine_pairs_lsh_derived_default_matches_explicit(spark):
    """bands/rows_per_band = None derives (8, 2) at this corpus size,
    so the derived-default call is row-identical to the pinned one."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    derived = {
        (r.id_a, r.id_b, r.score)
        for r in SIM.cosine_pairs_lsh(emb, threshold=0.45).collect()
    }
    pinned = {
        (r.id_a, r.id_b, r.score)
        for r in SIM.cosine_pairs_lsh(
            emb, threshold=0.45, bands=8, rows_per_band=2
        ).collect()
    }
    assert derived == pinned


def test_semantic_cells_anchors():
    # demo scales keep the committed dial; the sf1 decade-up derives
    # the §38-measured linear dial (160 cells at 20k → 33 s ≈ 9.5×)
    assert SIM.semantic_cells(500) == 16
    assert SIM.semantic_cells(2000) == 16
    assert SIM.semantic_cells(20000) == 160
    assert SIM.semantic_cells(0) == 16
    # cells ∝ n: E[cell size] is constant, so Σ sz² (the within-cell
    # pair work) grows linearly
    for n in (10_000, 100_000, 10_000_000):
        cells = SIM.semantic_cells(n)
        assert abs(n / cells - 125) <= 125, (n, cells)
    assert SIM.semantic_cells(10_000) <= SIM.semantic_cells(100_000)


def test_semantic_pairs_derived_cells_match_explicit(spark):
    """n_cells=None derives 16 at this corpus (2000-vector sf0.01 ...
    500 vectors → floor 16), so the derived call reproduces the pinned
    demo result exactly."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = sorted(
        (r.id_a, r.id_b, r.cell, r.score)
        for r in SIM.semantic_pairs(emb, threshold=0.4, n_assign=2).collect()
    )
    b = sorted(
        (r.id_a, r.id_b, r.cell, r.score)
        for r in SIM.semantic_pairs(
            emb, threshold=0.4, n_cells=16, n_assign=2
        ).collect()
    )
    assert a == b


def test_gram_strategy_matches_join_fallback(spark):
    """The default per-cell Gram scoring (round 10) must produce
    row-identical output to the candidate-join fallback
    (gram_max_cell=0 forces it) at n_assign 1 AND multi-assign — same
    pairs, same min-cell collapse, same 4-dp scores."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for na in (1, 3):
        gram = sorted(
            (r.id_a, r.id_b, r.cell, r.score)
            for r in SIM.semantic_pairs(
                emb, threshold=0.4, n_cells=16, n_assign=na
            ).collect()
        )
        join = sorted(
            (r.id_a, r.id_b, r.cell, r.score)
            for r in SIM.semantic_pairs(
                emb, threshold=0.4, n_cells=16, n_assign=na, gram_max_cell=0
            ).collect()
        )
        assert gram == join, f"n_assign={na}"
        assert len(gram) > 0


def test_ann_dial_derivations():
    # demo anchors: 16 cells / nprobe 8 at every committed sf (≤2000
    # vectors); the sf1 decade-up derives 160/80 — constant probed
    # fraction, measured recall ivf 0.94 / refine 0.94 at sf1
    assert [SIM.ann_cells(n) for n in (50, 500, 2000)] == [16, 16, 16]
    assert SIM.ann_cells(20000) == 160
    assert SIM.ann_nprobe(16) == 8
    assert SIM.ann_nprobe(160) == 80
    assert SIM.ann_nprobe(1) == 1  # never probes more cells than exist
    # constant E[cell]: probed work = fraction · n stays linear
    for n in (10_000, 1_000_000):
        assert abs(n / SIM.ann_cells(n) - 125) <= 125


def test_semantic_assign_derivation():
    # √-coverage rule anchored at the committed demo dial (3 at ≤16
    # cells) and §40's measured sf1 buy-back (8 at 160 cells, recall
    # 0.873 anchored); capped at the measured work knee
    assert SIM.semantic_assign(16) == 3
    assert SIM.semantic_assign(8) == 3
    assert SIM.semantic_assign(64) == 6
    assert SIM.semantic_assign(160) == 8
    assert SIM.semantic_assign(10_000) == 8  # cap holds
    # monotone non-decreasing in n_cells
    vals = [SIM.semantic_assign(c) for c in (16, 32, 64, 128, 160, 320)]
    assert vals == sorted(vals)


def test_semantic_pairs_derived_n_assign_matches_explicit(spark):
    """n_assign=None derives 3 at this corpus's 16 derived cells, so
    the derived call reproduces the pinned demo result exactly."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = sorted(
        (r.id_a, r.id_b, r.cell, r.score)
        for r in SIM.semantic_pairs(emb, threshold=0.4, n_assign=None).collect()
    )
    b = sorted(
        (r.id_a, r.id_b, r.cell, r.score)
        for r in SIM.semantic_pairs(emb, threshold=0.4, n_assign=3).collect()
    )
    assert a == b


# --------------------------------------------------------------------------
# round-9: anchored (sampled) recall baselines — the quality gate's
# scale path (r8 verdict #3: the all-pairs ground truths OOM'd at sf1
# and BENCH_sf1_r08 carried no quality dict). The anchored truth must
# be EXACTLY the full truth restricted to anchor-touching pairs, so the
# sampled recall is an unbiased estimate of full recall.
def test_anchored_cosine_truth_matches_restricted_full(spark):
    from boatrace_database_spark import quality as Q

    full = Q._exact_cosine_pairs(spark, SF, 0.45, 4096)
    assert full, "demo corpus must contain pairs at the demo threshold"
    # anchors ⊇ corpus -> anchored truth IS the full truth
    _, t_all = Q._anchored_cosine_truth(spark, SF, 0.45, n_anchors=1000)
    assert t_all == full
    # a strict sample restricts exactly (deterministic hash pick)
    aid, t = Q._anchored_cosine_truth(spark, SF, 0.45, n_anchors=64)
    assert len(aid) == 64
    assert t == {p for p in full if p[0] in aid or p[1] in aid}
    aid2, t2 = Q._anchored_cosine_truth(spark, SF, 0.45, n_anchors=64)
    assert (aid2, t2) == (aid, t)  # replayable


def test_anchored_jaccard_truth_matches_restricted_full(spark):
    from boatrace_database_spark import quality as Q
    from boatrace_database_spark.operators import dedup as D2

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    full = {
        (r.id_a, r.id_b)
        for r in D2.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.8
        ).collect()
    }
    assert full, "demo corpus must contain planted near-dups"
    _, t_all = Q._anchored_jaccard_truth(docs, n_anchors=1000)
    assert t_all == full
    aid, t = Q._anchored_jaccard_truth(docs, n_anchors=64)
    assert t == {p for p in full if p[0] in aid or p[1] in aid}


@pytest.mark.slow
def test_anchored_recall_parity_above_gate(spark, tmp_path):
    """r9 verdict #6: the sf1 quality gate rests ENTIRELY on the
    anchored estimator, but its equivalence pytests above ran at demo
    scale where the 4096-vector gate never trips. This one builds a
    6k-vector corpus (3 rotated replicas of sf0.1 — the build_sf1.py
    recipe: circular rotation is norm/distribution-preserving so each
    replica keeps sf0.1's neighbor structure), exercises the GATED
    branch of `_pair_recall_vs_truth`, and pins its anchored recall to
    the full exact truth restricted to anchor-touching pairs."""
    import numpy as np

    from boatrace_database_spark import quality as Q

    dim = 64
    src = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    reps = [
        src.select(
            (F.col("vec_id") + F.lit(k * 100_000)).alias("vec_id"),
            F.expr(
                f"concat(slice(embedding, {k + 1}, {dim - k}), "
                f"slice(embedding, 1, {k}))"
            ).alias("embedding"),
        )
        for k in range(3)
    ]
    corpus = reps[0].unionByName(reps[1]).unionByName(reps[2])
    assert corpus.count() == 6000  # strictly above the 4096 gate
    corpus.write.parquet(f"{tmp_path}/embeddings.parquet")
    sf_dir = str(tmp_path)

    threshold = 0.45
    approx = {
        (r.id_a, r.id_b)
        for r in SIM.cosine_pairs_lsh(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
            threshold=threshold,
        ).collect()
    }
    recall, mode = Q._pair_recall_vs_truth(
        approx, spark, sf_dir, threshold, max_vectors=4096
    )
    assert mode == "anchored"  # the gate MUST have tripped at 6k

    # independent full exact truth: one driver-side 6k x 6k matmul,
    # same 4-dp rounding / canonicalization as _exact_cosine_pairs
    pdf = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .toPandas()
    )
    ids = pdf["vec_id"].to_numpy()
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = np.round(Mn @ Mn.T, 4)
    iu = np.triu_indices(len(ids), k=1)
    hits = S[iu] >= threshold
    full = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[0]][hits], ids[iu[1]][hits])
    }
    anchor_ids, truth = Q._anchored_cosine_truth(spark, sf_dir, threshold)
    restricted = {p for p in full if p[0] in anchor_ids or p[1] in anchor_ids}
    assert truth == restricted, "anchored truth must BE the restricted full truth"
    assert restricted, "corpus must contain anchor-touching pairs at θ=0.45"
    touching = {p for p in approx if p[0] in anchor_ids or p[1] in anchor_ids}
    assert recall == round(len(restricted & touching) / len(restricted), 4)


# --------------------------------------------------------------------------
# round-12: cap-drop observability (r11 verdict item #2) — what
# _cap_buckets silently discards becomes a measured number.
def test_banding_cap_stats_counts(spark):
    rows = (
        [("b0", i) for i in range(5)]
        + [("b1", i) for i in range(3)]
        + [("b2", 0)]
    )
    banded = spark.createDataFrame(rows, "key string, id int")
    r = D.banding_cap_stats(banded, ["key"], 3).collect()[0]
    assert (r.rows, r.dropped_rows, r.buckets, r.dropped_buckets) == (
        9, 5, 3, 1,
    )
    assert abs(r.capped_row_frac - 5 / 9) < 1e-12
    # parity: the report predicts exactly what the cap drops
    kept = D._cap_buckets(banded, ["key"], 3).count()
    assert kept == r.rows - r.dropped_rows
    e = D.banding_cap_stats(banded.where("id < 0"), ["key"], 3).collect()[0]
    assert (e.rows, e.dropped_rows, e.capped_row_frac) == (0, 0, 0.0)


@pytest.mark.slow
def test_banding_cap_fracs_healthy_at_demo_scale(spark):
    """The four bench quality-dict lines exist and read ~0 on the
    healthy demo corpus — the same numbers BENCH quality carries so a
    saturating plan surfaces as a fraction, not a planted-pair
    surprise a round later."""
    from boatrace_database_spark.quality import banding_cap_fracs

    out = banding_cap_fracs(spark, SF)
    assert set(out) == {
        "minhash_capped_frac",
        "simhash_capped_frac",
        "dhash_capped_frac",
        "audio_capped_frac",
    }
    for k, v in out.items():
        assert 0.0 <= v < 0.2, (k, v)


def test_ivf_maintenance_membership(spark):
    """The round-12 catalog row's invariants, asserted directly: after
    build(80%) -> add(20%, frozen quantizer) -> remove(every 7th id),
    membership is the closed-form set with exactly one posting per id,
    added vectors live in their NEAREST frozen cell, and a probe over
    the maintained index never returns a removed id while ranking
    survivors identically to the same-quantizer index filtered
    manually (removal and incremental add change membership, never
    scores)."""
    from boatrace_database_spark.queries.llm import ivf_index_maintenance

    SFD = SF
    out = ivf_index_maintenance(spark, SFD).collect()
    emb = spark.read.parquet(f"{SFD}/embeddings.parquet")
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    want = {i for i in all_ids if i % 7 != 0}
    assert {r.vec_id for r in out} == want
    assert {r.n_postings for r in out} == {1}

    # probe parity vs the manually filtered same-quantizer index
    base = emb.where(F.col("vec_id") % 5 != 4)
    delta = emb.where(F.col("vec_id") % 5 == 4)
    indexed, cents_df = SIM.ivf_build_index(base)
    extended = SIM.ivf_add_to_index(indexed, cents_df, delta).localCheckpoint(
        eager=True
    )
    pruned = SIM.index_remove(
        extended, emb.where(F.col("vec_id") % 7 == 0).select("vec_id")
    )
    queries = emb.where(F.col("vec_id").isin(1, 2, 3))
    got = SIM.ivf_probe(pruned, cents_df, queries, k=5).collect()
    removed = all_ids - want
    assert got and not ({r.neighbor_id for r in got} & removed)
    manual = extended.where(F.col("neighbor_id") % 7 != 0)
    wantp = SIM.ivf_probe(manual, cents_df, queries, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, wantp))
    # added vectors sit in their nearest FROZEN cell (assignment, not
    # retraining): spot-check one added id against a direct argmin
    import numpy as np

    C = SIM.centroid_matrix(cents_df)
    one = delta.limit(1).collect()[0]
    got_cell = extended.where(
        F.col("neighbor_id") == one.vec_id
    ).collect()[0].cell
    d2 = ((C - np.asarray(one.embedding, dtype=np.float64)) ** 2).sum(axis=1)
    assert got_cell == int(np.argmin(d2))


def test_derive_hamming_banding_skew():
    """§47 follow-through: real corpora skew band keys (sf1 measured
    simhash_capped_frac 0.193 where the uniform model predicts ~0), so
    the derivation takes a measured skew factor that shifts every
    decision earlier. skew=1.0 is the uniform model (byte-identical
    defaults); skew < 1 is rejected — skew can only HURT occupancy."""
    # 50k stays at the historical plan under the uniform model...
    assert D.derive_hamming_banding(50_000) == (8, 1)
    # ...but a measured 3x skew (p99/avg) escalates it
    cb, kc = D.derive_hamming_banding(50_000, skew=3.0)
    assert (cb, kc) != (8, 1)
    assert kc <= (64 // cb) - 8  # still pigeonhole-complete
    # skewed occupancy gets the same 4x headroom on the scaled rows
    assert 150_000 <= 64 * (1 << (cb * kc))
    with pytest.raises(ValueError, match="skew"):
        D.derive_hamming_banding(50_000, skew=0.5)


@pytest.mark.slow
def test_resolve_banding_escalates_on_measured_skew(spark):
    """The r12 verdict's item-#2 done-criterion: a skewed corpus must
    ESCALATE without a manual ``skew=`` argument. Signature shape
    modeled on real text (the sf1 0.193 reading): the high 32 bits of
    every signature come from a 3-pattern alphabet (common-token
    bits), the low 32 are uniform per document — the uniform model
    says stay (8,1), but the 4 high bands are fat and `_cap_buckets`
    silently drops every pair that collides only there. Planted pairs
    flip one bit in EACH low byte (Hamming 4), so they share only
    high-chunk bands at (8,1) — the pinned plan loses all of them;
    the measured-occupancy path must recover every one."""
    import random

    rng = random.Random(0xC0FFEE)
    alpha = [rng.getrandbits(24) for _ in range(3)]
    # one flipped bit in EACH of the five uniform low bytes (d=5): at
    # (8,1) a planted pair's only intact chunks are the three alphabet
    # bytes, whose ~1333-row buckets the cap drops
    mask = (1 << 3) | (1 << 11) | (1 << 19) | (1 << 27) | (1 << 35)
    rows = []
    for g in range(2000):
        low = rng.getrandbits(40)
        sig = (alpha[g % 3] << 40) | low
        for sid, s in ((2 * g, sig), (2 * g + 1, sig ^ mask)):
            rows.append((sid, s - (1 << 64) if s >= (1 << 63) else s))
    sig_df = spark.createDataFrame(rows, "id LONG, sim LONG").localCheckpoint(
        eager=True
    )
    # uniform model stays; the measurement must override it
    assert D.derive_hamming_banding(4000, max_hamming=5) == (8, 1)
    resolved = D.resolve_hamming_banding(sig_df, "id", "sim", max_hamming=5)
    assert resolved != (8, 1), "measured skew did not escalate"
    pinned = D.hamming_pairs_banded(
        sig_df, max_hamming=5, chunk_bits=None, key_chunks=None, skew=1.0
    )
    planted = F.col("id_b") == F.col("id_a") + 1
    assert pinned.where(planted).count() == 0  # the silent drop, pinned
    auto = D.hamming_pairs_banded(
        sig_df, max_hamming=5, chunk_bits=None, key_chunks=None
    )
    assert auto.where(planted).count() == 2000  # recall 1.0, no dial


@pytest.mark.slow
def test_resolve_single_probe_matches_counted_path(spark):
    """r13 job fold: resolve with n_rows=None measures the row count
    inside the (8,1) occupancy probe (n = banded_rows / n_bands) —
    the returned dials must equal the counted path's on both regimes:
    a uniform corpus (stay) and a key-skewed one (escalate)."""
    import random

    uniform = spark.createDataFrame(
        [(i, random.Random(i).getrandbits(63)) for i in range(3000)],
        "id LONG, sim LONG",
    ).localCheckpoint(eager=True)
    n = uniform.count()
    assert D.resolve_hamming_banding(uniform, "id", "sim") == (
        D.resolve_hamming_banding(uniform, "id", "sim", n_rows=n)
    ) == (8, 1)
    rng = random.Random(7)
    skewed = spark.createDataFrame(
        [
            (i, ((i % 2) << 40) | rng.getrandbits(24))
            for i in range(4000)
        ],
        "id LONG, sim LONG",
    ).localCheckpoint(eager=True)
    probed = D.resolve_hamming_banding(skewed, "id", "sim", max_hamming=5)
    counted = D.resolve_hamming_banding(
        skewed, "id", "sim", max_hamming=5, n_rows=skewed.count()
    )
    assert probed == counted


def test_hamming_banded_rejects_dials_plus_derivation_inputs(spark):
    """r13 ADVICE #4: n_rows/skew feed the size-derived geometry; with
    explicit dials they were silently ignored — now they raise, the
    consistent sibling of the mixed-None contract."""
    sig = spark.range(4).select("id", F.col("id").alias("sim"))
    with pytest.raises(ValueError, match="no effect"):
        D.hamming_pairs_banded(sig, chunk_bits=8, key_chunks=1, n_rows=4)
    with pytest.raises(ValueError, match="no effect"):
        D.hamming_pairs_banded(sig, chunk_bits=8, key_chunks=1, skew=2.0)


@pytest.mark.slow
def test_measured_banding_skew_model_denominator(spark):
    """p99/avg is blind to a low-cardinality key distribution (a few
    uniformly-fat buckets read skew ~1.0); against the MODEL occupancy
    the same table reads the real multiplier."""
    # 1024 rows, every signature one of 4 values: chunk 0 splits into
    # 4 buckets of 256, chunks 1-7 are one 1024-row bucket each — 11
    # fat buckets total, nothing near the model's 4 rows/bucket
    sig = spark.range(1024).select(
        "id", (F.col("id") % 4).alias("sim")
    )
    chunked = D._hamming_chunked(sig, "id", "sim", 64, 8, 1)
    frac, skew = D.measured_banding_skew(
        chunked, ["chunk", "key"], 128, model_occupancy=1024 / 256
    )
    assert frac == pytest.approx(1.0)  # every bucket is over the cap
    assert skew == pytest.approx(1024 / 4.0)  # p99 vs model: 256x
    # the blind denominator: the observed avg is itself fat (745), so
    # p99/avg reads ~1.4 — two orders of magnitude under the truth
    _, blind = D.measured_banding_skew(chunked, ["chunk", "key"], 128)
    assert blind < 2.0


@pytest.mark.slow
def test_escalated_plan_reads_zero_cap_frac(spark):
    """Observability meets derivation: on the 200k corpus where the
    old (8,1) plan drops EVERY row (capped_row_frac 1.0 — the silent
    defect as a visible number), the derived (6,2) plan's fraction
    reads ~0 — exactly what the bench quality line is for."""
    n = 200_000
    sig = spark.range(n).select("id", F.xxhash64("id").alias("sim"))
    old = D._hamming_chunked(sig, "id", "sim", 64, 8, 1)
    r_old = D.banding_cap_stats(old, ["chunk", "key"], 256).collect()[0]
    assert r_old.capped_row_frac == 1.0
    cb, kc = D.derive_hamming_banding(n)
    new = D._hamming_chunked(sig, "id", "sim", 64, cb, kc)
    r_new = D.banding_cap_stats(new, ["chunk", "key"], 256).collect()[0]
    assert r_new.capped_row_frac < 0.01


def test_bm25_add_delta_fold_equals_rebuild(spark, tmp_path):
    """Folding each batch's term-df deltas and its exact dl sum must
    leave the df and stats tables VALUE-identical to a from-scratch
    build of the union corpus, avgdl included bit for bit."""
    from boatrace_database_spark.operators import retrieval as R

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(120)
    a = docs.where(F.col("doc_id") < 60)
    b = docs.where((F.col("doc_id") >= 60) & (F.col("doc_id") < 90))
    c = docs.where(F.col("doc_id") >= 90)

    def df_rows(path):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(f"{path}/df")
            .select("term", "df", "bucket")
            .collect()
        )

    def stats_row(path):
        return [
            tuple(r)
            for r in spark.read.parquet(f"{path}/stats")
            .select("n_docs", "avgdl", "sum_dl")
            .collect()
        ]

    delta, full = str(tmp_path / "d"), str(tmp_path / "f")
    R.bm25_write_index(a, delta, n_buckets=16)
    R.bm25_write_index(docs, full, n_buckets=16)
    for batch in (b, c):
        R.bm25_add_to_index(batch, delta, n_buckets=16)
    assert df_rows(delta) == df_rows(full)
    # bit-identical stats incl. the double avgdl (exact-sum division)
    assert stats_row(delta) == stats_row(full)


def test_bm25_add_refuses_stats_without_sum_dl(spark, tmp_path):
    """An index whose stats predate the stored sum_dl is refused
    before anything is appended: the postings and docids listings are
    unchanged, so no half-updated index is left behind."""
    from boatrace_database_spark.operators import retrieval as R

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    idx = tmp_path / "idx"
    R.bm25_write_index(docs.where(F.col("doc_id") < 20), str(idx), n_buckets=16)
    st = spark.read.parquet(f"{idx}/stats").drop("sum_dl").localCheckpoint(
        eager=True
    )
    st.write.mode("overwrite").parquet(f"{idx}/stats")

    def listing():
        return sorted(
            str(p.relative_to(idx))
            for table in ("postings", "docids")
            for p in (idx / table).rglob("*")
        )

    before = listing()
    with pytest.raises(ValueError, match="sum_dl"):
        R.bm25_add_to_index(
            docs.where(F.col("doc_id") >= 20), str(idx), n_buckets=16
        )
    assert listing() == before

