"""Keyword retrieval: BM25 inverted-index scoring, top-k search, and
reciprocal-rank fusion — the LEXICAL half of similarity search (the
embedding half lives in operators/similarity.py; `rrf_fuse` welds the
two into hybrid search, the standard retrieval-prep shape for training
-data and RAG corpora).

Everything is built-in `pyspark.sql.functions` — no Python in the row
path — and fully oracle-expressible (tokenizer regex + the Robertson/
Sparck-Jones idf are plain SQL on both engines).

Scale shape (100 TB corpus, tiny query set):
- postings/doc-lengths: one explode + two groupBys on (term, doc) and
  (doc) — the inverted index; map-side partial aggregation throughout.
- corpus stats (N, avgdl): a 1-row aggregate, broadcast-joined — never
  a driver `.count()` round-trip.
- scoring: the distinct query-term table is broadcast into the
  postings join, so candidate generation touches only postings whose
  term appears in SOME query (Catalyst pushes nothing heavier than a
  broadcast probe through the 100 TB side); the per-(query, doc) sum
  is the single real shuffle; top-k is a k-row window per query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tokenizer: lowercase, alnum runs only. The SQL twin is
# string_split_regex(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')),' ')
_NON_ALNUM = "[^a-z0-9]+"


def search_terms(text: Column) -> Column:
    """array<string> of lowercase alphanumeric terms (no empties)."""
    toks = F.split(F.trim(F.regexp_replace(F.lower(text), _NON_ALNUM, " ")), " ")
    return F.filter(toks, lambda t: t != "")


def postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Inverted-index rows (doc_id, term, tf) — one explode + groupBy."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(parallelism, F.col(id_col))  # docs arrive 1-file-1-task
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(search_terms(F.col(text_col))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def _query_terms(
    queries: DataFrame, query_id_col: str, query_text_col: str
) -> DataFrame:
    """(query_id, term) rows, repeated query terms collapsed."""
    return queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(search_terms(F.col(query_text_col)))).alias(
            "term"
        ),
    )


def _index_components(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The four BM25 index components (post, dl, stats, df_t) — ONE
    construction shared by the in-memory path and the index writer, so
    the contractually-identical-rankings pair cannot desynchronize."""
    post = postings(docs, id_col, text_col).localCheckpoint(eager=False)
    dl = post.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    # sum_dl (exact long) rides beside avgdl so incremental adds can
    # FOLD stats instead of re-scanning postings, and avgdl is spelled
    # exact-long-sum / count — ONE double division over exact integer
    # aggregates (Spark's avg() accumulates longs in a double buffer,
    # which is order-dependent) — so (old_sum + batch_sum) /
    # (old_n + batch_n) reproduces the full-rebuild avgdl bit-for-bit
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.sum("dl").alias("sum_dl"),
    )  # 1 row — broadcast at scoring time, never a driver count()
    df_t = post.groupBy("term").agg(F.count("*").alias("df"))
    return post, dl, stats, df_t


def _score_topk(
    post: DataFrame,
    df_t: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Shared BM25 scoring core over index components (in-memory or
    read back from a persisted index — both paths produce identical
    rankings, tested). ``post`` carries a ``dl`` column (both paths
    denormalize doc length onto the posting rows, so a probe never
    scans a corpus-sized doclens table)."""
    part = (
        # candidate gen: broadcast probe
        post.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    scored = part.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("w"), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "doc_id", "score", "rk")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents per query under BM25 (Robertson idf,
    ln(1 + (N - df + ½)/(df + ½)); repeated query terms count once).
    Output (query_id, doc_id, score, rk); score rounded to 6 dp BEFORE
    ranking so the ordering is engine-stable, ties break to low doc_id.

    Plan (r14): postings are built ONLY for terms some query mentions —
    a term no query contains can never contribute to any score, while
    the corpus-wide inputs to the formula (n_docs, avgdl, per-doc dl)
    are token COUNTS, computable per row with no explode. So the full
    corpus pays one tokenize pass (lazily checkpointed: the stats
    aggregate and the postings branch share it) and only the
    query-matched tokens are exploded, aggregated and shuffled.
    Terms cross those shuffles as xxhash64 LONGS, not strings — tf/df/
    scoring only ever test term equality and no output column carries a
    term. Rankings are identical to the full-index construction
    (`_index_components` + `_score_topk`, still the build/stats path);
    parity is pinned by test + oracle hash.

    ID CONTRACT: ``id_col`` must be non-null and unique. Otherwise the
    two paths count documents differently, and their scores (hence
    possibly rankings) diverge:

    - a null-id row is dropped HERE before the corpus stats; the index
      path (`_index_components`, i.e. `bm25_write_index` /
      `bm25_topk_prebuilt` and the streaming twins) counts it in
      n_docs, avgdl and df. Neither path ever returns it.
    - rows sharing an id are separate documents HERE (each counted in
      n_docs, avgdl and df; their term weights summed into one output
      row); the index path merges them into ONE document (tf and dl
      summed, counted once).

    On a 3-doc corpus and a one-term query, a duplicated id scores
    1.147855 here against 1.033847 from the index, and a null id moves
    the other match's score from 0.754913 here to 0.523548 there. The
    contract is not checked at run time: a check would cost a Spark
    job per call.
    """
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    qterms = _query_terms(queries, query_id_col, query_text_col).select(
        "query_id", F.xxhash64("term").alias("term")
    )
    base = docs.where(F.col(id_col).isNotNull()).repartition(
        parallelism, F.col(id_col)
    )  # parity: the index path drops null ids at its dl join; docs
    # arrive 1-file-1-task. The corpus shuffles TWICE, not once: the
    # stats branch's `dl > 0` filter is pushed below this repartition as
    # a different expression from the postings branch's, so the plan
    # holds two `Exchange hashpartitioning(doc_id)` over the documents;
    # only df_t reuses the postings branch's exchange.
    # identical arithmetic to _index_components' stats: dl there is
    # sum(tf) over ALL of a doc's terms == its token count here, and
    # zero-token docs never reach the postings-derived doclens table.
    # This branch is a narrow scan + 1-row aggregate — no explode, no
    # vocabulary shuffle.
    dl_col = F.size(search_terms(F.col(text_col)))
    stats = (
        base.select(dl_col.alias("dl"))
        .where(F.col("dl") > 0)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
            F.sum("dl").alias("sum_dl"),
        )
    )
    # candidate generation BEFORE any wide operation: the exploded token
    # stream broadcast-hash-joins the (tiny, distinct) query vocabulary,
    # so only query-matched tokens ever reach a shuffle — the old plan
    # aggregated and shuffled the corpus's whole vocabulary (tf, dl and
    # df groupBys over every term of every doc) and applied this same
    # broadcast probe only afterwards. Costs one extra tokenize pass
    # (the stats branch above) — a narrow CPU-linear scan — against
    # three corpus-vocabulary-sized shuffles removed.
    qvocab = qterms.select("term").distinct()
    post = (
        base.select(
            F.col(id_col).alias("doc_id"),
            F.transform(
                search_terms(F.col(text_col)), lambda t: F.xxhash64(t)
            ).alias("_toks"),
        )
        .withColumn("dl", F.size("_toks"))
        .where(F.col("dl") > 0)
        .select("doc_id", "dl", F.explode("_toks").alias("term"))
        .join(F.broadcast(qvocab), "term")  # inner: keeps multiplicity
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    # df over query terms equals the full-corpus df for those terms:
    # every doc containing the term contributes exactly one posting row
    df_t = post.groupBy("term").agg(F.count("*").alias("df"))
    return _score_topk(post, df_t, stats, qterms, k, k1, b)


def term_bucket(term: Column, n_buckets: int) -> Column:
    """Stable term → partition bucket (layout key of the persisted
    index; pmod so the bucket is never negative)."""
    return F.pmod(F.xxhash64(term), F.lit(n_buckets))


def bm25_write_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """Persist the BM25 index: postings + per-term df PARTITIONED BY a
    stable term-hash bucket, doc lengths, and the 1-row corpus stats —
    the build-once/probe-many deployment (the lexical analogue of
    `ivf_write_index`). A probe knows its query terms' buckets up
    front, so the postings/df scans read only those buckets' files
    (partition pruning — the storage-level realization of 'a query
    touches its own terms' slice of the index, not the corpus').

    The persisted posting rows DENORMALIZE the document length
    (doc_id, term, tf, dl): +one long per row buys probes that never
    touch a corpus-sized doclens table — the probe's only scans are
    the pruned buckets and the 1-row stats file."""
    post, dl, stats, df_t = _index_components(docs, id_col, text_col)
    stats.write.mode("overwrite").parquet(f"{path}/stats")
    # docids sidecar: one row per indexed doc — what the add-guard
    # probes, so idempotency costs O(n_docs), not O(n_postings)
    dl.select("doc_id").write.mode("overwrite").parquet(f"{path}/docids")
    post.join(dl, "doc_id").withColumn(
        "bucket", term_bucket(F.col("term"), n_buckets)
    ).write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/postings"
    )
    df_t.withColumn(
        "bucket", term_bucket(F.col("term"), n_buckets)
    ).write.mode("overwrite").partitionBy("bucket").parquet(f"{path}/df")


def bm25_add_to_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """Incrementally extend a persisted BM25 index with a new document
    batch, WITHOUT re-tokenizing the existing corpus (the retrieval
    twin of `ivf_add_to_index`): the batch's posting rows (with their
    denormalized doc lengths) APPEND into the bucket-partitioned
    postings table, then the batch's per-term df deltas and its exact
    dl sum FOLD into the stored df and stats. Probing after an add
    equals probing an index built from the union corpus (tested).
    Caller contract: batch doc ids are disjoint from the indexed
    corpus (same as every incremental op here) — and the function
    ENFORCES it: already-indexed doc ids are filtered out before the
    append (the incremental_exact_dedup semi-probe shape against the
    ``docids`` sidecar — one row per doc, so the guard costs
    O(n_docs), never O(n_postings)), so a RETRIED or double-delivered
    batch appends nothing and scores stay correct (tested). The
    sidecar appends BEFORE the postings on purpose: a crash between
    the two loses that batch from the index (visible, recoverable by
    rebuild), where the opposite order would make a redelivery
    silently double-count — missing beats corrupt. The df/stats fold
    is similarly non-atomic (stale until the next add); production
    deployments at scale should back the index with a transactional
    table format.

    The index must be in `bm25_write_index`'s layout: a ``docids``
    sidecar (its read fails otherwise) and stats carrying the exact
    ``sum_dl``. An index whose stats predate ``sum_dl`` is refused
    with a ValueError before anything is written; rebuild it.

    Scale shape: the expensive part (tokenize + explode + tf groupBy)
    touches ONLY the batch. The df refresh is one outer merge of the
    batch's per-term df deltas over the VOCABULARY-sized df table
    (eagerly checkpointed before the overwrite deletes its own input
    — the merge_upsert pattern), and stats folds in O(1) from the
    stored ``sum_dl`` — avg over longs is one double division, so the
    folded avgdl is bit-identical to a full recompute, and add ≡
    full-rebuild stays EXACT (tested). Per-epoch maintenance cost is
    O(batch + vocabulary), never O(postings).
    """
    spark = new_docs.sparkSession
    indexed_ids = spark.read.parquet(f"{path}/docids")  # O(n_docs) guard
    old_stats = spark.read.parquet(f"{path}/stats")
    if "sum_dl" not in old_stats.columns:
        raise ValueError(
            f"BM25 index at {path} predates the sum_dl stats layout "
            "(its exact dl sum is not stored); rebuild it with "
            "bm25_write_index"
        )
    batch_ids = new_docs.select(F.col(id_col).alias("doc_id")).distinct()
    dup_hits = indexed_ids.join(
        F.broadcast(batch_ids), "doc_id", "left_semi"
    ).distinct()
    fresh = new_docs.join(
        F.broadcast(dup_hits),
        new_docs[id_col] == dup_hits["doc_id"],
        "left_anti",
    )
    post, dl, batch_stats, batch_df = _index_components(fresh, id_col, text_col)
    dl.select("doc_id").write.mode("append").parquet(f"{path}/docids")
    post.join(dl, "doc_id").withColumn(
        "bucket", term_bucket(F.col("term"), n_buckets)
    ).write.mode("append").partitionBy("bucket").parquet(f"{path}/postings")
    # fold the batch's per-term df deltas into the stored df: one
    # outer merge over the VOCABULARY-sized table, eagerly
    # checkpointed because the overwrite deletes its own input
    merged_df = (
        spark.read.parquet(f"{path}/df")
        .drop("bucket")
        .join(batch_df.withColumnRenamed("df", "_delta"), "term", "full")
        .select(
            "term",
            (
                F.coalesce("df", F.lit(0)) + F.coalesce("_delta", F.lit(0))
            ).alias("df"),
        )
        .withColumn("bucket", term_bucket(F.col("term"), n_buckets))
        .localCheckpoint(eager=True)
    )
    merged_df.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/df"
    )
    # stats folds in O(1): exact long sums add, then the single
    # double division — bit-identical to the full recompute
    folded = (
        old_stats.crossJoin(
            F.broadcast(
                batch_stats.select(
                    F.col("n_docs").alias("_bn"),
                    F.coalesce("sum_dl", F.lit(0)).alias("_bsum"),
                )
            )
        )
        .select(
            (F.col("n_docs") + F.col("_bn")).alias("n_docs"),
            (
                (F.col("sum_dl") + F.col("_bsum")).cast("double")
                / (F.col("n_docs") + F.col("_bn"))
            ).alias("avgdl"),
            (F.col("sum_dl") + F.col("_bsum")).alias("sum_dl"),
        )
        .localCheckpoint(eager=True)
    )
    folded.write.mode("overwrite").parquet(f"{path}/stats")


def bm25_topk_prebuilt(
    spark,
    path: str,
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
) -> DataFrame:
    """`bm25_topk` against a persisted index (`bm25_write_index` with
    the SAME n_buckets): the query set's term buckets — a bounded
    driver-side list, at most one int per distinct query term — become
    a static IN-filter on the postings/df partition columns, so only
    those buckets' files are scanned (plan-asserted in tests); doc
    length rides the posting rows, so no corpus-sized doclens scan.
    Identical rankings to the in-memory path (tested). Probing with a
    DIFFERENT n_buckets than the build is safe-but-lossy: a term whose
    recomputed bucket differs simply misses (no wrong scores — the
    score formula never reads the bucket; tested)."""
    qterms = _query_terms(
        queries, query_id_col, query_text_col
    ).localCheckpoint(eager=False)
    buckets = [
        r.b
        for r in qterms.select(
            term_bucket(F.col("term"), n_buckets).alias("b")
        )
        .distinct()
        .collect()  # ≤ one int per distinct query term — driver-bounded
    ]
    post = (
        spark.read.parquet(f"{path}/postings")
        .where(F.col("bucket").isin(buckets))
        .drop("bucket")
    )
    if "dl" not in post.columns:
        raise ValueError(
            f"BM25 index at {path} predates the dl-on-postings layout "
            "(it has a separate doclens table); rebuild it with "
            "bm25_write_index"
        )
    df_t = (
        spark.read.parquet(f"{path}/df")
        .where(F.col("bucket").isin(buckets))
        .drop("bucket")
    )
    stats = spark.read.parquet(f"{path}/stats")
    return _score_topk(post, df_t, stats, qterms, k, k1, b)


def bm25_index_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One-row index sizing dial (the retrieval analog of
    `ann_bucket_stats`/`ivf_cell_stats`): run BEFORE building a
    corpus-scale index to size the bucket count and spot degenerate
    vocabulary. Columns: n_docs, n_terms, n_postings, avgdl, max_df,
    avg_postings_per_term. max_df near n_docs means stopword-dominated
    postings lists (the fat-bucket analog — candidate generation
    degrades toward a corpus scan for those terms); avg dials the
    bucket count so per-bucket file sizes stay sane. Two partial-agg
    passes over the postings, nothing else."""
    post, dl, stats, df_t = _index_components(docs, id_col, text_col)
    per_term = df_t.agg(
        F.count("*").alias("n_terms"),
        F.sum("df").alias("n_postings"),
        F.max("df").alias("max_df"),
        F.round(F.avg("df"), 2).alias("avg_postings_per_term"),
    )
    return (
        stats.crossJoin(F.broadcast(per_term))
        .select(
            "n_docs",
            "n_terms",
            "n_postings",
            F.round("avgdl", 2).alias("avgdl"),
            "max_df",
            "avg_postings_per_term",
        )
    )


def term_grams(text: Column, ngram: int = 1) -> Column:
    """Word n-grams of the search-tokenized text, WITH multiplicity
    (tf-idf needs term counts, unlike `word_shingles`' distinct sets).
    ngram=1 is the plain token array; texts shorter than ngram tokens
    yield an empty array (sequence(1, k) DESCENDS for k < 1 — same
    guard as word_shingles)."""
    toks = search_terms(text)
    if ngram == 1:
        return toks
    k = F.size(toks) - (ngram - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", F.slice(toks, i, ngram)),
    )
    return F.when(k >= 1, grams).otherwise(F.array().cast("array<string>"))


def tfidf_weights(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Unit-normalized tf-idf vectors as sparse posting rows
    (doc_id, term, wn): w = tf · ln(N/df) over word n-grams, wn = w/‖w‖.
    N is the TOTAL input row count (a 1-row aggregate broadcast into
    the weights — never a driver count()).

    Two prunings keep the downstream self-join off the boilerplate:
    terms with df = N carry EXACTLY zero idf and are dropped before
    any weight math (ln(N/N) = 0 — tf-idf's stopword self-pruning),
    and ``max_df_frac`` optionally drops terms seen in more than that
    fraction of docs — the same boilerplate dial as MinHash's max_df,
    and principled here: high-df terms are precisely the ones tf-idf
    weights toward zero, so capping them changes scores least while
    bounding the Σ df² join cost most. Documents whose every term was
    pruned (zero norm) emit no rows — the zero-norm policy of
    operators/similarity.py.
    """
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))  # 1 row, broadcast
    tf = (
        docs.repartition(parallelism, F.col(id_col))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(term_grams(F.col(text_col), ngram)).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)  # feeds df_t AND the weight join
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # df = N ALWAYS prunes (zero idf — otherwise a doc of only
    # universal terms reaches the norm with w=0 and the unit-normalize
    # divides by zero under ANSI); max_df_frac is a further cap ON TOP,
    # dropping terms in MORE than that fraction of docs (strict >)
    keep = F.col("df") < F.col("n_docs")
    if max_df_frac is not None:
        keep = keep & (F.col("df") <= F.lit(max_df_frac) * F.col("n_docs"))
    w = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n))
        .where(keep)
        .withColumn("w", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    return w.join(nrm, "doc_id").select(
        "doc_id", "term", (F.col("w") / F.col("nrm")).alias("wn")
    )


def tfidf_related_topk(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    ngram: int = 1,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Top-k most-similar OTHER documents per document under sparse
    tf-idf cosine — the lexical doc-to-doc face of similarity search
    (BM25 is query-to-doc; embedding cosine is the dense twin). Output
    (doc_id, other_id, cosine, rk); cosine rounded to 6 dp BEFORE
    ranking, ties to low other_id. Weights are non-negative, so
    cosine ∈ [0, 1].

    Scale shape: the pair generation is an inverted-index SELF-join on
    term — cost Θ(Σ_t df_t²), dominated entirely by high-df terms.
    That is why the two prunings in `tfidf_weights` are load-bearing at
    100 TB: df=N terms vanish for free, and ``max_df_frac`` bounds the
    worst df. Both pair directions come out of ONE join pass (see the
    inline note); only (doc_id, term, wn) posting rows — never texts —
    cross the shuffle. For threshold
    retrieval at extreme scale, prefix filtering (Bayardo et al.'s
    AllPairs, the dedup.py:74 pattern) prunes further; top-k has no
    such bound, so the df dial is the cost control.
    """
    wn = tfidf_weights(docs, id_col, text_col, ngram, max_df_frac)
    wn = wn.localCheckpoint(eager=False)  # both sides of the self-join
    a = wn.select(
        F.col("doc_id"), "term", F.col("wn").alias("wa")
    )
    b = wn.select(
        F.col("doc_id").alias("other_id"), "term", F.col("wn").alias("wb")
    )
    # both pair directions in ONE join pass (!=, not a<b + mirror-union:
    # the union's two branches would each recompute the join — the plan
    # showed exactly that double work; aggregating 2x pair rows once is
    # strictly cheaper, and each direction's sum is the same cosine)
    pairs = (
        a.join(b, "term")
        .where(F.col("doc_id") != F.col("other_id"))
        .groupBy("doc_id", "other_id")
        .agg(F.round(F.sum(F.col("wa") * F.col("wb")), 6).alias("cosine"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("cosine"), F.asc("other_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("doc_id", "other_id", "cosine", "rk")
    )


def mine_hard_negatives(
    docs: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
    retrieve_k: int | None = None,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    query, the top-k BM25-ranked documents EXCLUDING its known
    positives (``positives``: (query_id, doc_id) rows) — lexically
    similar but not-relevant docs are exactly the negatives that teach
    a bi-encoder its decision boundary (the DPR/sentence-transformers
    recipe). Output (query_id, doc_id, score, rk) with rk re-numbered
    over the survivors.

    ``retrieve_k`` (default 2k) is the pre-filter retrieval depth: a
    query whose positives crowd the ranking can yield fewer than k
    negatives from too shallow a pool — deepen it when positives per
    query exceed k.

    Scale shape: `bm25_topk`'s cost (broadcast query-term probe into
    the postings) plus a broadcast ANTI-join against the positives
    (query-set-sized — tiny by construction) and the same k-row window
    already bounding the ranking. Nothing new shuffles.
    """
    depth = retrieve_k if retrieve_k is not None else 2 * k
    ranked = bm25_topk(
        docs, queries, id_col, text_col, query_id_col, query_text_col,
        k=depth, k1=k1, b=b,
    )
    pos = positives.select(
        F.col(query_id_col).alias("query_id"), F.col(id_col).alias("doc_id")
    )
    survivors = ranked.join(F.broadcast(pos), ["query_id", "doc_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        survivors.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "doc_id", "score", "rk")
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    ngram: int = 1,
) -> DataFrame:
    """Keyword extraction: the k highest-tf-idf terms per document —
    the third face of the tf-idf family (vectors → related docs →
    keywords; what a corpus browser or topic labeler reads). Output
    (doc_id, term, weight, rk) with the UNIT-NORMALIZED weight
    (per-doc ranking is unchanged by the constant norm, and normalized
    weights compare across documents); weight rounded to 6 dp before
    ranking, ties break lexicographically on term.

    Scale shape: `tfidf_weights`' two groupBys plus ONE per-doc top-k
    window (WindowGroupLimit keeps k rows per doc before the sort) —
    no self-join; this is the cheap member of the family.
    """
    wn = tfidf_weights(docs, id_col, text_col, ngram)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("weight"), F.asc("term")
    )
    return (
        wn.select("doc_id", "term", F.round("wn", 6).alias("weight"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("doc_id", "term", "weight", "rk")
    )


def mmr_rerank(
    ranked: DataFrame,
    sims: DataFrame,
    k: int = 10,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell &
    Goldstein): greedily re-rank each query's candidates trading
    relevance against redundancy — pick argmax
    ``lam·score − (1−lam)·max_sim_to_already_picked``; the classic
    cure for retrieval (or few-shot example selection) returning k
    copies of the same document. lam=1 reproduces the input ranking;
    lam→0 maximizes diversity.

    ``ranked``: (query_id, doc_id, score, …) per-query candidates
    (bm25_topk / cosine_topk / rrf_fuse output). ``sims``: (id_a,
    id_b, sim) pairwise doc-doc similarities (tfidf_related_topk or
    embedding cosine pairs; either direction suffices — pairs are
    symmetrized here, missing pairs count as 0). Output (query_id,
    doc_id, mmr, rk): mmr is the marginal objective AT SELECTION TIME
    (monotone non-increasing only for rk≥2), rounded to 6 dp; ties
    break to low doc_id.

    Scale shape: greedy MMR is inherently sequential PER QUERY, so the
    right distribution is one task per query group — candidates are
    k-bounded tiny sets (the searches already capped them), the sims
    join touches only intra-query candidate pairs, and the greedy loop
    runs in numpy inside applyInPandas. Never a driver loop, never a
    corpus-sized shuffle: the expensive work stayed in the searches
    that produced the inputs.
    """
    import numpy as np
    import pandas as pd

    cand = ranked.select("query_id", "doc_id", "score")
    both = sims.select(
        F.col("id_a").alias("doc_id"),
        F.col("id_b").alias("nbr_id"),
        F.col("sim"),
    ).unionByName(
        sims.select(
            F.col("id_b").alias("doc_id"),
            F.col("id_a").alias("nbr_id"),
            "sim",
        )
    )
    # intra-query candidate pairs only: join sims to the candidate set
    # on BOTH endpoints (nbr must itself be a candidate of the query)
    edges = (
        cand.join(both, "doc_id")
        .join(
            cand.select(
                "query_id", F.col("doc_id").alias("nbr_id")
            ).distinct(),
            ["query_id", "nbr_id"],
            "left_semi",
        )
    )
    long = cand.join(edges.select("query_id", "doc_id", "nbr_id", "sim"),
                     ["query_id", "doc_id"], "left")

    id_ddl = dict(zip(ranked.columns, (f.dataType.simpleString()
                                       for f in ranked.schema.fields)))
    out_schema = (
        f"query_id {id_ddl['query_id']}, doc_id {id_ddl['doc_id']}, "
        "mmr DOUBLE, rk INT"
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["query_id"].iloc[0]
        cands = (
            pdf[["doc_id", "score"]]
            .drop_duplicates("doc_id")
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        ids = cands["doc_id"].to_numpy()
        rel = cands["score"].to_numpy(dtype=np.float64)
        n = len(ids)
        pos = {d: i for i, d in enumerate(ids)}
        S = np.zeros((n, n))
        ed = pdf.dropna(subset=["nbr_id"])
        for d, nb, sv in zip(ed["doc_id"], ed["nbr_id"], ed["sim"]):
            i, j = pos[d], pos.get(nb, -1)
            if j >= 0:
                S[i, j] = max(S[i, j], float(sv))
                S[j, i] = S[i, j]
        picked: list[int] = []
        rows = []
        avail = np.ones(n, dtype=bool)
        for step in range(min(k, n)):
            if picked:
                redundancy = S[:, picked].max(axis=1)
            else:
                redundancy = np.zeros(n)
            obj = lam * rel - (1 - lam) * redundancy
            obj[~avail] = -np.inf
            best = int(np.argmax(obj))  # first max: ids sorted -> low id
            picked.append(best)
            avail[best] = False
            rows.append((qid, ids[best], round(float(obj[best]), 6), step + 1))
        return pd.DataFrame(rows, columns=["query_id", "doc_id", "mmr", "rk"])

    return long.groupBy("query_id").applyInPandas(greedy, out_schema)


def rrf_fuse(
    rankings: list[DataFrame], k: int = 10, k_rrf: int = 60
) -> DataFrame:
    """Reciprocal-rank fusion of ranked lists (each with columns
    query_id, doc_id, rk): rrf = Σ_lists 1/(k_rrf + rk), missing list
    membership contributes 0 — the standard score-free hybrid-search
    combiner (lexical ∪ vector candidates, no score calibration).
    Output (query_id, doc_id, rrf, rk), rrf rounded to 6 dp before the
    re-rank, ties to low doc_id.

    Scale shape: each input is already ≤k rows per query; the fusion
    is a unionByName + one groupBy on (query_id, doc_id) — trivial
    next to the searches that produced the inputs.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    contrib = [
        r.select(
            "query_id",
            "doc_id",
            (F.lit(1.0) / (F.lit(k_rrf) + F.col("rk"))).alias("c"),
        )
        for r in rankings
    ]
    allc = contrib[0]
    for c in contrib[1:]:
        allc = allc.unionByName(c)
    fused = allc.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("c"), 6).alias("rrf")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "doc_id", "rrf", "rk")
    )


def ranking_metrics(
    run: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rk",
    rel_col: str = "rel",
) -> DataFrame:
    """Standard IR/ANN evaluation over a ranked run: per query,
    reciprocal rank (RR), nDCG@k, recall@k, precision@k — the numbers
    a retrieval pipeline is actually judged by (TREC / BEIR
    definitions, binary relevance).

    ``run``: (query_col, doc_col, rank_col) with rank 1-based within
    each query. ``qrels``: (query_col, doc_col, rel_col) with rel > 0
    marking relevant documents; pairs absent from qrels are
    non-relevant. Queries present in qrels (with ≥ 1 positive) but
    retrieving nothing still emit a row (all-zero metrics) — silently
    dropping failed queries inflates every macro average, the classic
    eval bug. Queries with NO positive qrels row, and queries present
    only in the run, emit no row: their metrics are undefined without
    positives (the denominators n_rel and IDCG are 0), and averaging
    in fabricated zeros would bias the macro numbers the other way.

    Definitions (binary): RR = 1/rank of the first relevant doc
    ANYWHERE in the run — the full-run TREC definition, NOT capped at
    k (0 only if no relevant doc is retrieved at any rank; r8 verdict
    finding #4 — the previous implementation filtered to rank ≤ k
    first, silently computing RR@k); DCG@k = Σ_{ranked ≤ k, rel}
    1/log2(rank+1); IDCG@k normalizes by the perfect ordering of
    min(n_rel, k) relevant docs; recall@k = hits@k / n_rel;
    precision@k = hits@k / k.

    Robustness: qrels are deduplicated on (query, doc) and the run on
    (query, doc) keeping the best (minimum) rank, so non-unique inputs
    cannot double-count hits, DCG, or n_rel (r8 ADVICE).

    Scale shape: one broadcast-or-shuffle equi-join of the run against
    qrels on (query, doc), then a single groupBy(query) aggregation —
    conditional sums only, no window, no UDF, all codegen. qrels'
    per-query totals ride a second tiny aggregate joined back by
    query. Metrics round to 6 dp (oracle-stable).
    """
    q = F.col(query_col)
    # dedup both inputs: duplicate qrels rows fan out the join and
    # double-count hits/DCG/n_rel; duplicate run rows double-count the
    # same retrieval — keep the best rank per (query, doc)
    qrels_pos = (
        qrels.where(F.col(rel_col) > 0)
        .select(query_col, doc_col)
        .dropDuplicates([query_col, doc_col])
    )
    run_d = run.groupBy(query_col, doc_col).agg(
        F.min(rank_col).alias(rank_col)
    )
    # per-query relevant-total (the recall denominator + IDCG length)
    totals = qrels_pos.groupBy(query_col).agg(F.count("*").alias("n_rel"))
    # the UNFILTERED run joins qrels (full-run RR needs every rank);
    # the @k metrics gate on rank inside the aggregate instead
    joined = run_d.join(
        qrels_pos.withColumn("_hit", F.lit(1)),
        on=[query_col, doc_col],
        how="left",
    ).withColumn("_hit", F.coalesce("_hit", F.lit(0)))
    log2 = lambda c: F.log(c) / F.log(F.lit(2.0))  # noqa: E731
    at_k = F.col(rank_col) <= k
    per_q = joined.groupBy(query_col).agg(
        F.sum(F.when((F.col("_hit") == 1) & at_k, 1).otherwise(0)).alias("hits"),
        F.max(
            F.when(F.col("_hit") == 1, 1.0 / F.col(rank_col))
        ).alias("_rr_raw"),
        F.sum(
            F.when(
                (F.col("_hit") == 1) & at_k,
                1.0 / log2(F.col(rank_col).cast("double") + 1.0),
            )
        ).alias("_dcg"),
    )
    # IDCG@k = Σ_{i=1..min(n_rel,k)} 1/log2(i+1): closed-form via a
    # per-row sequence aggregate over the (tiny) min(n_rel,k) range
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(k))),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / (F.log(i.cast("double") + 1.0) / F.log(F.lit(2.0))),
    )
    return (
        totals.join(per_q, on=query_col, how="left")
        .select(
            q.alias("query_id"),
            F.col("n_rel"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.round(F.coalesce("_rr_raw", F.lit(0.0)), 6).alias("rr"),
            F.round(
                F.when(F.col("n_rel") > 0,
                       F.coalesce("_dcg", F.lit(0.0)) / idcg)
                .otherwise(F.lit(0.0)),
                6,
            ).alias("ndcg_at_k"),
            F.round(
                F.when(F.col("n_rel") > 0,
                       F.coalesce("hits", F.lit(0)) / F.col("n_rel"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("recall_at_k"),
            F.round(
                F.coalesce("hits", F.lit(0)) / F.lit(float(k)), 6
            ).alias("precision_at_k"),
        )
    )
