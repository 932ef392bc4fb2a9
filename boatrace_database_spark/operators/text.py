"""Text-analysis operators for document tables (tokenize, quality score,
language-ID heuristic, fingerprinting).

Everything is built-in `pyspark.sql.functions` — JVM-side, whole-stage
codegen, no Python in the row path. At 100 TB these are embarrassingly
parallel scans with full column pruning.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from boatrace_database_spark.operators.dedup import word_shingles as _word_shingles

# Small English stopword core — enough for ratio features / lang-ID.
EN_STOPWORDS = (
    "the", "a", "an", "of", "to", "and", "in", "is", "it", "for", "on", "with",
)


def tokens(text: Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def char_count(text: Column) -> Column:
    return F.length(text)


# GPT-2-style pre-tokenizer core: letter runs, digit runs, single
# punctuation marks. A real BPE then merges within these pieces, so
# this count upper-bounds (and tracks) BPE token counts without a vocab.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(text: Column) -> Column:
    """Subword-style token count via the BPE pre-tokenizer regex —
    JVM-side regexp_count, no vocabulary needed."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def stopword_ratio(text: Column) -> Column:
    toks = tokens(F.lower(text))
    stop = F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))
    return F.size(stop) / F.greatest(F.size(toks), F.lit(1))


def digit_ratio(text: Column) -> Column:
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    return digits / F.greatest(F.length(text), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long-enough, low digit noise,
    sane stopword density. Deterministic arithmetic (oracle-friendly)."""
    length_term = F.least(char_count(text) / F.lit(500.0), F.lit(1.0))
    digit_term = 1 - digit_ratio(text)
    stop_term = F.least(stopword_ratio(text) * 4, F.lit(1.0))
    return (length_term + digit_term + stop_term) / 3


def lang_id(text: Column) -> Column:
    """N-gram/stopword language-ID heuristic. With richer per-language
    stopword lists this extends naturally; the structure (score per
    language, argmax) is the real operator."""
    toks = tokens(F.lower(text))
    en_score = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return F.when(en_score >= 2, F.lit("en")).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """Canonical document fingerprint: md5 of the normalized text
    (lowercase, collapsed whitespace). Engine-portable and deterministic."""
    normalized = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.md5(normalized)


def rolling_hash(text: Column, modulus: int = 1_000_000_007, base: int = 31) -> Column:
    """Polynomial rolling hash over characters (deterministic, portable):
    h = sum(code(c_i) * base^i) mod modulus, via a higher-order fold."""
    chars = F.split(text, "")
    return F.aggregate(
        chars,
        F.struct(F.lit(0).cast("long").alias("h"), F.lit(1).cast("long").alias("p")),
        lambda acc, c: F.struct(
            ((acc.h + F.ascii(c) * acc.p) % modulus).alias("h"),
            ((acc.p * base) % modulus).alias("p"),
        ),
        lambda acc: acc.h,
    )


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All text features at once (single scan)."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "n_tokens": token_count(t),
            "n_chars_computed": char_count(t),
            "stopword_ratio": F.round(stopword_ratio(t), 6),
            "digit_ratio": F.round(digit_ratio(t), 6),
            "quality": F.round(quality_score(t), 6),
            "lang_pred": lang_id(t),
            "fingerprint": fingerprint(t),
        }
    )


def compression_profile(
    df: DataFrame, id_col: str, text_col: str, level: int = 6
) -> DataFrame:
    """Gopher-style compression-ratio quality signal: zlib-compressed
    size over raw UTF-8 size per document. For documents past ~1 KB,
    highly repetitive / machine-generated text compresses far below
    ~0.4, high-entropy noise sits near 1.0, and natural prose lands
    between — pipelines drop both extremes. SHORT documents are
    dominated by zlib's fixed header/dictionary overhead (a 1-byte
    doc reports ~9.0, <~50 bytes routinely exceeds 2.0), so apply the
    signal only above a minimum length — the standard Gopher recipe
    already length-gates before this filter. Output: input columns +
    ``n_bytes`` + ``zlib_ratio`` (6 dp; empty text reports 1.0, null
    stays null).

    This is a DOCUMENTED Python edge (the module's only one besides
    the parse kernel): zlib has no JVM/SQL builtin, so the ratio runs
    as an Arrow-batched ``pandas_udf`` — per-batch Python, never
    per-row pickling, and only the text column crosses the boundary.
    No DuckDB oracle for the same reason (the driver records a
    rows-only check); correctness is pinned by property tests
    (repetitive < prose < noise ordering, determinism, bounds).

    Scale shape: a narrow projection — no shuffle; cost is one zlib
    pass per document (~100 MB/s/core), the scan-speed class of
    filter.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s):  # pd.Series[str] -> pd.Series[float]
        import zlib

        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return 1.0
            return round(len(zlib.compress(b, level)) / len(b), 6)

        return s.map(one)

    return df.withColumn(
        "n_bytes", F.octet_length(F.col(text_col)).cast("long")
    ).withColumn("zlib_ratio", _ratio(F.col(text_col)))


def ngram_contamination(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    hash_keys: bool = True,
) -> DataFrame:
    """Train/eval overlap check (decontamination): for every eval
    document, the fraction of its distinct word n-grams that also occur
    anywhere in the training corpus — the GPT-3-style 13-gram collision
    test run as a relational plan.

    Returns one row per eval document:
      ``eval_id, n_ngrams, n_contaminated, contamination_rate``
    (rate rounded to 6 dp; documents shorter than n tokens report 0/0/0).

    Scale shape (100 TB train corpus):
    - train side reduces to its DISTINCT n-gram set BEFORE the join —
      a map-side-partial aggregate, so duplicate boilerplate n-grams
      collapse per partition and never ride the shuffle;
    - with ``hash_keys=True`` (default) both sides join on
      ``xxhash64(ngram)`` so the shuffle moves 8-byte longs instead of
      ~13-word strings (~100 bytes) — a ~10x shuffle-volume cut; a
      collision would need ~2^32 distinct n-grams per join key space
      (birthday bound) to matter, and only ever inflates
      ``n_contaminated`` by the colliding gram;
    - the join is a plain equi-join: eval is usually tiny next to train,
      so at scale broadcast the EVAL n-gram set instead and stream the
      train corpus past it once (flip the build side; AQE does this
      automatically when eval fits the broadcast threshold);
    - the final per-eval-doc rollup shuffles only (eval_id, hit) pairs.
    """
    def gram_table(df: DataFrame) -> DataFrame:
        t = df.select(
            F.col(id_col).alias("id"),
            F.explode(
                # distinct per-doc n-grams (word_shingles dedups)
                _word_shingles(F.col(text_col), n)
            ).alias("gram"),
        )
        if hash_keys:
            t = t.select("id", F.xxhash64("gram").alias("gram"))
        return t

    parallelism = train_df.sparkSession.sparkContext.defaultParallelism
    train_grams = (
        gram_table(train_df.repartition(parallelism, F.col(id_col)))
        .select("gram")
        .distinct()
    )
    eval_grams = gram_table(eval_df.repartition(parallelism, F.col(id_col)))

    hits = (
        eval_grams.join(train_grams.withColumn("hit", F.lit(1)), "gram", "left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_ngrams"),
            # count(hit) not sum(hit): counts the non-null joins and keeps
            # BIGINT on both engines (DuckDB sum() widens to HUGEINT).
            F.count("hit").alias("n_contaminated"),
        )
    )
    # left join back to the eval ids so too-short documents (no n-grams)
    # still report a 0/0/0 row instead of vanishing.
    return (
        eval_df.select(F.col(id_col).alias("eval_id"))
        .join(hits, F.col("eval_id") == F.col("id"), "left")
        .select(
            "eval_id",
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce(F.col("n_contaminated") / F.col("n_ngrams"), F.lit(0.0)), 6
            ).alias("contamination_rate"),
        )
    )


def decontaminate_corpus(
    train_df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    max_rate: float = 0.0,
) -> DataFrame:
    """The REMOVAL direction of decontamination: keep only training
    documents whose n-gram collision rate against the benchmark corpus
    is <= ``max_rate`` (default 0: any shared n-gram drops the doc —
    the conservative pretraining recipe). ``ngram_contamination``
    REPORTS eval-side rates; this guards the train side, which is what
    a pipeline actually ships.

    Grams join as exact strings (``hash_keys=False``), unlike the
    reporting op's hashed default: a 64-bit xxhash collision only
    nudges a REPORTED rate, but at max_rate=0 it silently DELETES an
    uncontaminated training document.

    Returns the surviving train rows with their original columns plus
    ``n_ngrams`` / ``n_contaminated`` / ``contamination_rate`` audit
    columns (how close each survivor came to the bar).

    Scale shape: the scoring pass is ``ngram_contamination`` with the
    roles flipped — the BENCHMARK gram set is the distinct-reduced
    side (tiny: eval suites are MBs against a 100 TB corpus, so AQE
    broadcasts it and the train corpus streams past once); the
    filter-back join is a same-key equi-join of train against its own
    one-row-per-doc rate table.
    """
    rates = ngram_contamination(
        benchmark_df, train_df, id_col, text_col, n=n, hash_keys=False
    ).withColumnRenamed("eval_id", id_col)
    return (
        train_df.join(rates, id_col)
        .where(F.col("contamination_rate") <= max_rate)
    )


# full-width (zenkaku) ASCII block U+FF01-FF5E ↔ half-width U+21-7E,
# plus IDEOGRAPHIC SPACE U+3000 → space — the normalization SURVEY §7
# names for venue/race names. Literal maps so both the Spark and the
# DuckDB twins are a single codegen translate().
FULLWIDTH_CHARS = "".join(chr(c) for c in range(0xFF01, 0xFF5F)) + "　"
HALFWIDTH_CHARS = "".join(chr(c) for c in range(0x21, 0x7F)) + " "


def normalize_width(text: Column) -> Column:
    """Fold full-width ASCII + ideographic space to half-width (e.g.
    ``'大　村　１Ｒ' → '大 村 1R'``) — the join-key/normalization aid
    for Japanese text fields. Deliberately NOT applied in the silver
    parity layer: レースID byte-parity with the reference requires the
    original full-width spaces; use this on gold/analytics views."""
    return F.translate(text, FULLWIDTH_CHARS, HALFWIDTH_CHARS)


def widen_width(text: Column) -> Column:
    """Inverse direction (half→full) — exists mainly so the
    normalization can be demonstrated/tested as an exact roundtrip on
    ASCII corpora."""
    return F.translate(text, HALFWIDTH_CHARS, FULLWIDTH_CHARS)


def unigram_logprob(
    reference: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """CCNet-style language-model quality score: each document's mean
    negative log-probability under an add-one-smoothed UNIGRAM model
    fit on a reference corpus (the cheap stand-in for CCNet's
    Wikipedia-perplexity filter — low scores read like the reference,
    high scores flag gibberish/boilerplate/other-domain text; bucket
    on quantiles for head/middle/tail curation).

    p(w) = (count_ref(w) + 1) / (total_ref + V + 1), with V = the
    reference vocabulary size; out-of-vocabulary tokens take the
    count=0 smoothed mass. Output: id, n_tokens, avg_neg_logprob
    (6 dp; empty/whitespace-only/null docs score (0, 0.0) — empty
    tokens are filtered, NOT scored as a phantom OOV token). Raises on
    a reference corpus with no tokens (the silently-all-null
    alternative would zero every score).

    Scale shape: the model is ONE aggregate over the reference
    (vocab-sized — small by Zipf) broadcast into the scoring join;
    scoring is explode → broadcast join → per-doc avg — two shuffles
    keyed by token and id, all codegen, no Python.
    """
    # tokens() keeps a "" element for empty strings (split semantics);
    # a language model must not score that phantom token
    def words(c):
        return F.filter(tokens(c), lambda t: t != "")

    freqs = (
        reference.select(
            F.explode(words(F.col(text_col))).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    if freqs.limit(1).count() == 0:
        raise ValueError(
            "unigram_logprob: reference corpus has no tokens — every "
            "score would silently degenerate; supply a non-empty "
            "reference"
        )
    totals = freqs.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("vocab")
    )
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode_outer(words(F.col(text_col))).alias("w"),
    )
    scored = (
        toks.join(F.broadcast(freqs), "w", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "id",
            F.when(  # null token (null text) contributes nothing
                F.col("w").isNotNull(),
                -F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + 1.0)
                    / (F.col("total") + F.col("vocab") + 1.0)
                ),
            ).alias("nll"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.col("nll")).alias("n_tokens"),
            F.round(F.coalesce(F.avg("nll"), F.lit(0.0)), 6).alias(
                "avg_neg_logprob"
            ),
        )
        .select("id", "n_tokens", "avg_neg_logprob")
    )


def repeated_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 50,
    hash_grams: bool = False,
) -> DataFrame:
    """Corpus-wide EXACT repeated-substring detection (the ExactSubstr
    dedup of Lee et al., "Deduplicating Training Data Makes Language
    Models Better"): every maximal token span covered by some
    ``min_tokens``-gram that occurs MORE THAN ONCE anywhere in the
    corpus (other documents or elsewhere in the same one). Returns one
    row per merged span: ``id, span_start, span_end, n_grams``
    (token offsets, end exclusive) — the spans a curation pass strikes
    out or routes to review.

    Built-in-only plan: positional n-grams via posexplode (no
    suffix array needed — fixed-width grams + span merging recovers
    the maximal repeated regions longer than ``min_tokens``), a
    groupBy(gram) HAVING count>1, a join back, then one per-document
    gaps-and-islands window (new island when the next hit starts more
    than ``min_tokens`` after the previous — i.e. the spans no longer
    touch).

    Scale shape: the gram explode is the corpus-token count ×1 row
    each; with the default ``hash_grams=False`` grams ride the
    groupBy shuffle as ``min_tokens``-word STRINGS — exact and
    oracle-expressible, but ~L× token bytes of shuffle width. At
    100 TB set ``hash_grams=True``: grams collapse to two independent
    xxhash64s (128 collision bits) before the shuffle, the plan is
    otherwise identical, and the spans agree except under a 2⁻¹²⁸
    collision (tested equal on the corpus).
    """
    L = min_tokens
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    k = F.size(words) - (L - 1)
    grams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(words, i, L)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    g = (
        df.repartition(parallelism, F.col(id_col))
        .select(F.col(id_col).alias("id"), F.posexplode(grams).alias("pos", "gram"))
    )
    if hash_grams:
        g = g.select(
            "id",
            "pos",
            F.struct(
                F.xxhash64("gram", F.lit(1)), F.xxhash64("gram", F.lit(2))
            ).alias("gram"),
        )
    g = g.localCheckpoint(eager=False)  # feeds the dup aggregate AND the join
    dup = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select("gram")
    )
    hits = g.join(dup, "gram").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    brk = F.when(F.col("pos") > F.lag("pos").over(w) + L, 1).otherwise(0)
    islands = hits.withColumn("brk", brk).withColumn(
        "island", F.sum("brk").over(w)
    )
    return (
        islands.groupBy("id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + L).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select("id", "span_start", "span_end", "n_grams")
    )


def strip_repeated_substrings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 50,
) -> DataFrame:
    """The curation ACTION for `repeated_substring_spans`: rewrite each
    document with every repeated span's tokens removed (the Lee et al.
    ExactSubstr cut). Output: all input columns with ``text_col``
    replaced by the stripped text, plus ``n_tokens_removed``.
    Documents with no repeated span pass through token-identical
    (n_tokens_removed = 0; whitespace runs normalize to single spaces
    because the rewrite re-joins the token array).

    Scale shape: spans aggregate to ONE array row per affected doc
    (far fewer rows than the corpus), broadcast-or-hash joined back on
    id; the rewrite is pure JVM higher-order functions (filter by
    span membership + array_join) — no Python, no extra shuffle
    beyond the span computation itself.
    """
    spans = (
        repeated_substring_spans(df, id_col, text_col, min_tokens)
        .groupBy("id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"), F.col("span_end").alias("e")
                )
            ).alias("_spans")
        )
    )
    joined = df.join(
        spans, df[id_col] == spans["id"], "left"
    ).drop(spans["id"])
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    sp = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<s:int,e:int>>"),
    )
    indexed = F.transform(
        words, lambda w, i: F.struct(w.alias("w"), i.alias("i"))
    )
    kept = F.filter(
        indexed,
        lambda x: ~F.exists(
            sp, lambda span: (x["i"] >= span["s"]) & (x["i"] < span["e"])
        ),
    )
    out_cols = [
        F.array_join(
            F.transform(kept, lambda x: x["w"]), " "
        ).alias(c) if c == text_col else F.col(c)
        for c in df.columns
    ]
    return joined.select(
        *out_cols,
        (F.size(words) - F.size(kept)).alias("n_tokens_removed"),
    )


def repetition_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_n: int = 3,
) -> DataFrame:
    """Within-document repetition features (Gopher-style quality rules):
    for each document and each n in 1..max_n, the duplicate-n-gram
    fraction (1 - distinct/total, counting repeats) and the
    top-n-gram fraction (occurrences of the most frequent n-gram /
    total n-grams). High values flag boilerplate, keyword stuffing, and
    degenerate generations — the Rae et al. (Gopher) repetition filters.

    Output: ``id, dup_frac_1..max_n, top_frac_1..max_n`` (6 dp).

    Scale shape: ONE explode over all n sizes at once (each gram tagged
    with its n), then two aggregates — (id, n, gram) with map-side
    partials, then (id, n) — pivoted to columns. Both shuffles are keyed
    by document id, so a corpus-sized input moves each gram row at most
    twice and the final table is one row per document. No Python in the
    row path.
    """
    t = F.col(text_col)
    words = F.split(F.trim(t), r"\s+")

    def grams_tagged(n: int):
        if n == 1:
            arr = words
        else:
            # r13: zip_with over n shifted views — O(len) per document.
            # The prior transform(sequence(1,k), concat_ws(slice(words,
            # i, n))) re-sliced the word array at EVERY position:
            # O(len²) per doc, 128 s of executor CPU at sf0.1. The
            # produced strings are identical (concat_ws of the same n
            # words, same order).
            k = F.size(words) - (n - 1)
            shifted = [F.slice(words, j + 1, k) for j in range(n)]
            joined = shifted[0]
            for nxt in shifted[1:]:
                joined = F.zip_with(
                    joined, nxt, lambda a, b: F.concat_ws(" ", a, b)
                )
            arr = F.when(k >= 1, joined).otherwise(
                F.array().cast("array<string>")
            )
        return F.transform(arr, lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")))

    parallelism = df.sparkSession.sparkContext.defaultParallelism
    exploded = (
        df.repartition(parallelism, F.col(id_col))
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.flatten(F.array(*[grams_tagged(n) for n in range(1, max_n + 1)]))
            ).alias("gram"),
        )
        .select("id", F.col("gram.n").alias("n"), F.col("gram.g").alias("g"))
    )
    per_gram = exploded.groupBy("id", "n", "g").agg(F.count("*").alias("cnt"))
    per_doc_n = per_gram.groupBy("id", "n").agg(
        F.sum("cnt").alias("total"),
        F.count("*").alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
    )
    prof = per_doc_n.select(
        "id",
        "n",
        F.round(1 - F.col("n_distinct") / F.col("total"), 6).alias("dup_frac"),
        F.round(F.col("top_cnt") / F.col("total"), 6).alias("top_frac"),
    )
    wide = (
        prof.groupBy("id")
        .pivot("n", list(range(1, max_n + 1)))
        .agg(
            F.first("dup_frac").alias("dup_frac"),
            F.first("top_frac").alias("top_frac"),
        )
    )
    # pivot names columns "<n>_dup_frac"; rename to dup_frac_<n> and
    # zero-fill docs too short for the larger n (no n-grams at that n).
    cols = [F.col("id")]
    for n in range(1, max_n + 1):
        cols.append(
            F.coalesce(F.col(f"{n}_dup_frac"), F.lit(0.0)).alias(f"dup_frac_{n}")
        )
        cols.append(
            F.coalesce(F.col(f"{n}_top_frac"), F.lit(0.0)).alias(f"top_frac_{n}")
        )
    return wide.select(*cols)


def top_ngrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 25,
) -> DataFrame:
    """Top-k word n-grams by DOCUMENT frequency (ties broken on the
    n-gram string) — the corpus-vocabulary dial.

    The companion to ``minhash_table(..., max_df=)``: before choosing a
    boilerplate cutoff you LOOK at what the most document-frequent
    shingles are (license headers, templates, navigation chrome all
    surface here first). Document frequency, not occurrence count, so
    a single spammy document cannot promote its pet phrase.

    Scale shape: reuses the dedup inverted index (explode distinct
    shingles per doc), one count-distinct aggregate with map-side
    partials, then a k-row TakeOrdered on the (vocabulary-sized, far
    smaller than the corpus) aggregate — the same two-exchange plan at
    any corpus size.
    """
    from boatrace_database_spark.operators.dedup import shingle_table

    sh = shingle_table(df, id_col, text_col, n)
    return (
        sh.groupBy("shingle")
        .agg(F.countDistinct("id").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "shingle")
        .limit(k)
    )


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    word pairs across the corpus.

    PMI(x,y) = ln( p(x,y) / (p(x)·p(y)) ) with p over corpus totals —
    composed as ONE double expression,
    ``ln((c_xy·N·N) / (n_pairs·c_x·c_y))``, in a fixed operation
    order so an ANSI-SQL oracle reproduces it bit-for-bit. High-PMI
    pairs are the corpus's fused phrases (named entities, templates,
    code idioms) — the standard signal for phrase-aware tokenizer
    vocabularies and boilerplate discovery.

    Output: ``(w1, w2, pair_count, pmi)`` for pairs seen at least
    ``min_count`` times, ordered by (pmi desc, w1, w2).

    Scale shape: bigram extraction is NARROW — the token array is
    split once per document and adjacent pairs come from zip_with over
    two slices of the same array (no window, no shuffle, no self-join
    on positions). Then exactly two aggregates shuffle: pair counts
    (keyed on the pair) and unigram counts (keyed on the word), both
    with map-side partials. The unigram table is vocabulary-sized —
    sublinear in the corpus (Heaps' law) — so both count joins
    broadcast it; the scalar totals ride the same broadcast.
    """
    toks = F.filter(tokens(F.col(text_col)), lambda w: w != "")
    n = F.size(toks)
    pairs_col = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    pairs = (
        df.where(n >= 2)
        .select(F.explode(pairs_col).alias("p"))
        .select("p.w1", "p.w2")
    )
    words = df.select(F.explode(toks).alias("w"))

    # both count tables are vocabulary-sized (sublinear in the corpus)
    # and consumed more than once (uni: both word joins + the token
    # total; big: the pair rows + the pair total) — checkpoint so the
    # corpus is scanned exactly twice (words once, pairs once) instead
    # of once per consumer
    uni = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .localCheckpoint(eager=False)
    )
    # corpus totals re-aggregate the count tables, not the corpus:
    # identical values/types (sum of longs is long, like a direct count)
    n_tokens = uni.agg(F.sum("c").alias("n_tokens"))
    n_pairs = big.agg(F.sum("pair_count").alias("n_pairs"))

    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        big.where(F.col("pair_count") >= min_count)
        .join(F.broadcast(uni.withColumnRenamed("c", "c_x")),
              F.col("w1") == F.col("w"))
        .drop("w")
        .join(F.broadcast(uni.withColumnRenamed("c", "c_y")),
              F.col("w2") == F.col("w"))
        .drop("w")
        .crossJoin(F.broadcast(n_tokens))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            "w1",
            "w2",
            "pair_count",
            F.round(
                F.log(
                    (d("pair_count") * d("n_tokens") * d("n_tokens"))
                    / (d("n_pairs") * d("c_x") * d("c_y"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into overlapping token windows — the
    WITHIN-document complement to corpus.pack_sequences (which concats
    ACROSS documents): retrieval-chunking / sliding-window-attention
    prep. Stride = chunk_tokens − overlap; chunk i covers tokens
    [i·stride, i·stride + chunk_tokens). Every document emits at least
    one chunk (this module's whitespace tokenizer counts an empty doc
    as one empty token — `token_count` semantics — so it yields one
    1-token chunk), and the last chunk is the first one whose window
    reaches the document's end — no trailing fragment shorter than
    ``overlap``.

    Output: input id + ``chunk_id`` (0-based), ``chunk_text``,
    ``chunk_n_tokens``. Deterministic, oracle-expressible.

    Scale shape: one narrow projection + explode — no shuffle, no
    Python; tokens are split once per document and sliced per chunk
    inside codegen. Chunk count per doc is ceil((n − overlap)/stride),
    so output rows ≈ input tokens / stride — linear in corpus size.
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens}); "
            "equal-or-larger overlap never advances the window"
        )
    if overlap < 0:
        raise ValueError(f"overlap must be >= 0 (got {overlap})")
    stride = chunk_tokens - overlap
    # reference the materialized _toks column everywhere so the regex
    # split runs ONCE per document (a fresh tokens(text) expression in
    # the chunk-count bound would re-split every row a second time)
    n = F.size(F.col("_toks"))
    # first chunk always exists; further chunks while the previous
    # window did not reach the end: n_chunks = 1 + max(0, ceil((n -
    # chunk_tokens)/stride)) — integer ceil via (x + stride - 1) div
    extra = F.greatest(
        F.lit(0),
        F.floor(
            (n - F.lit(chunk_tokens) + F.lit(stride - 1)) / F.lit(stride)
        ).cast("int"),
    )
    return (
        df.withColumn("_toks", tokens(F.col(text_col)))
        .withColumn(
            "chunk_id",
            F.explode(F.sequence(F.lit(0), extra)),
        )
        .select(
            F.col(id_col),
            "chunk_id",
            F.array_join(
                F.slice(
                    "_toks",
                    F.col("chunk_id") * F.lit(stride) + F.lit(1),
                    F.lit(chunk_tokens),
                ),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.greatest(
                    F.size("_toks") - F.col("chunk_id") * F.lit(stride),
                    F.lit(0),
                ),
                F.lit(chunk_tokens),
            ).alias("chunk_n_tokens"),
        )
    )


# --------------------------------------------------------------------------
# BPE tokenizer training (Sennrich et al.) — one Spark aggregation to the
# word-frequency table, then M merge rounds on the driver.
def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 32,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn a byte-pair-encoding merge list from a corpus — the
    tokenizer-TRAINING face of the token-counting battery (a
    `bpe_ish_token_count` that earns its vocabulary instead of
    guessing one). Returns merge rules [(a, b), ...] in learned order;
    feed to `bpe_encode_count`.

    The Sennrich trick makes this distributed-cheap: training state is
    the WORD-FREQUENCY table (distinct words × counts — vocabulary-
    sized, not corpus-sized). Spark builds it in ONE aggregation over
    the corpus (explode tokens → groupBy word → count, each word split
    into symbols by Spark's ``split``, so training sees exactly the
    JVM tokenizer's words) and the table is collected once. The merge
    rounds then run on the driver over that table: each round counts
    adjacent symbol pairs weighted by word frequency, takes the argmax
    (count desc, then pair lexicographic — deterministic), and rewrites
    every word with `_bpe_merge`, the same greedy left-to-right,
    non-overlapping rule `_bpe_apply` encodes with.

    Contract: driver memory is O(distinct words), never O(corpus) —
    the word table must fit on the driver, which is the Sennrich
    premise (natural-language vocabularies are zipfian and small next
    to the text). The corpus is read exactly once whatever ``n_merges``
    is. Training stops early when no pair reaches ``min_pair_count``
    (merging singletons memorizes the corpus).
    """
    words = [
        (r.seq, r.cnt)
        for r in docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.split("w", "").alias("seq"), "cnt")
        .collect()
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for seq, cnt in words:
            for pair in zip(seq, seq[1:]):
                pairs[pair] += cnt
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair_count:
            break
        merges.append((a, b))
        words = [(_bpe_merge(seq, a, b), cnt) for seq, cnt in words]
    return merges


def _bpe_merge(seq: list[str], a: str, b: str) -> list[str]:
    """Apply ONE merge rule to a symbol sequence: greedy left-to-right,
    non-overlapping (``a a a`` under (a, a) is ``aa a``)."""
    out: list[str] = []
    for s in seq:
        if out and out[-1] == a and s == b:
            out[-1] = a + b
        else:
            out.append(s)
    return out


def _bpe_apply(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pure-python BPE application (one word): each rule in learned
    order via `_bpe_merge` — the rewrite `bpe_train` trains with."""
    seq = list(word)
    for a, b in merges:
        seq = _bpe_merge(seq, a, b)
    return seq


def bpe_encode_count(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Token count per row under a learned BPE merge list — the
    trained-tokenizer upgrade of `bpe_ish_token_count` (budgeting,
    packing, and mixture math all key on it). Appends ``out_col``.

    Arrow-batched pandas UDF with a per-batch word cache: the merge
    loop runs once per DISTINCT word in the batch, not per occurrence
    — the same skew that makes natural text zipfian makes the cache
    hit rate high. One pass over the corpus regardless of merge-list
    length (a JVM fold would need one pass per rule)."""
    import re

    from pyspark.sql.functions import pandas_udf

    # EXACTLY training's tokenization: tokens() splits on the Java \s
    # class [ \t\n\x0B\f\r]. Python str.split() would also split on
    # U+3000 / NBSP / other Unicode whitespace — words this corpus's
    # Japanese text keeps intact at training time — and count merges
    # the trained table never saw.
    java_ws = re.compile(r"[ \t\n\x0b\f\r]+")

    @pandas_udf("long")
    def n_bpe(texts):  # pd.Series[str] -> pd.Series[long]
        cache: dict[str, int] = {}

        def count(t):
            if t is None:
                return 0
            total = 0
            for w in java_ws.split(t):
                if not w:
                    continue  # leading/trailing runs (tokens() trims)
                if w not in cache:
                    cache[w] = len(_bpe_apply(w, merges))
                total += cache[w]
            return total

        return texts.apply(count)

    return df.withColumn(out_col, n_bpe(F.col(text_col)))
