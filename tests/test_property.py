"""Property-based checks (hypothesis): the as-of join against pandas
merge_asof on random inputs, and Jaccard-operator invariants on random
document corpora."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from boatrace_database_spark.operators import dedup as D
from boatrace_database_spark.operators.joins import asof_join

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@st.composite
def asof_case(draw):
    keys = draw(st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=3, unique=True))
    left = draw(
        st.lists(
            st.tuples(st.sampled_from(keys), st.integers(0, 100)),
            min_size=1,
            max_size=20,
        )
    )
    right = draw(
        st.lists(
            st.tuples(
                st.sampled_from(keys),
                st.integers(0, 100),
                st.floats(0, 10, allow_nan=False),
            ),
            min_size=0,
            max_size=20,
        )
    )
    # merge_asof tie-breaks among equal right timestamps by taking the
    # LAST row; make right (key, ts) unique so both engines agree
    seen = set()
    right = [r for r in right if not (r[:2] in seen or seen.add(r[:2]))]
    return left, right


@given(asof_case())
@settings(**_SETTINGS)
@pytest.mark.slow
def test_asof_matches_pandas_merge_asof(spark, case):
    left, right = case
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "rid INT, k STRING, t INT"
    )
    rdf = spark.createDataFrame(right, "k STRING, t INT, val DOUBLE") if right else \
        spark.createDataFrame([], "k STRING, t INT, val DOUBLE")
    got = {
        r.rid: r.val_asof
        for r in asof_join(ldf, rdf, on="k", left_ts="t", right_ts="t", value_cols=["val"]).collect()
    }

    lp = pd.DataFrame([(i, k, t) for i, (k, t) in enumerate(left)], columns=["rid", "k", "t"]).sort_values("t", kind="stable")
    rp = pd.DataFrame(right, columns=["k", "t", "val"]).sort_values("t", kind="stable")
    if len(rp):
        merged = pd.merge_asof(lp, rp, on="t", by="k", direction="backward")
        expected = dict(zip(merged["rid"], merged["val"]))
    else:
        expected = {i: None for i in lp["rid"]}
    assert set(got) == set(expected)
    for rid in got:
        e = expected[rid]
        if e is None or pd.isna(e):
            assert got[rid] is None, (rid, got[rid], e)
        else:
            assert got[rid] == pytest.approx(e), (rid, got[rid], e)


@st.composite
def corpus(draw):
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    docs = draw(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=3, max_size=12).map(" ".join),
            min_size=2,
            max_size=8,
        )
    )
    return docs


@given(corpus())
@settings(**_SETTINGS)
@pytest.mark.slow
def test_jaccard_pairs_invariants(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id INT, text STRING")
    pairs = D.ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.0).collect()
    import re

    def shingles(t):
        w = re.split(r"\s+", t.strip())
        return {" ".join(w[i : i + 2]) for i in range(len(w) - 1)}

    expected = {}
    for i, a in enumerate(docs):
        for j, b in enumerate(docs):
            if i < j:
                sa, sb = shingles(a), shingles(b)
                inter = len(sa & sb)
                if inter:
                    expected[(i, j)] = inter / len(sa | sb)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert got[k] == pytest.approx(v, abs=1e-5), (k, got[k], v)


@st.composite
def mixture_case(draw):
    n = draw(st.integers(1, 40))
    srcs = ["a", "b", "c"]
    rows = [(i, draw(st.sampled_from(srcs))) for i in range(n)]
    weights = {
        s: draw(
            st.floats(0, 4, allow_nan=False).map(lambda x: round(x, 2))
        )
        for s in draw(st.lists(st.sampled_from(srcs), unique=True, max_size=3))
    }
    return rows, weights


@given(mixture_case())
@settings(**_SETTINGS)
@pytest.mark.slow
def test_mixture_resample_invariants(spark, case):
    """For every row: copies in {floor(w), ceil(w)}, copy ids are
    0..n-1, zero-weight strata vanish, and the hash decision matches
    the documented formula recomputed in Python."""
    from boatrace_database_spark.operators.corpus import _KNUTH, mixture_resample

    rows, weights = case
    df = spark.createDataFrame(rows, ["id", "src"])
    out = mixture_resample(df, "id", "src", weights).collect()
    per_id: dict[int, list[int]] = {}
    for r in out:
        per_id.setdefault(r.id, []).append(r.copy)
    import math

    for i, src in rows:
        w = weights.get(src, 1.0)
        frac = w - math.floor(w)
        u = ((i % 2**32) * _KNUTH % 2**32) / 2**32
        expected = math.floor(w) + (1 if u < frac else 0)
        got = sorted(per_id.get(i, []))
        assert len(got) == expected, (i, src, w, got)
        assert got == list(range(expected))


@st.composite
def pack_case(draw):
    n = draw(st.integers(1, 25))
    texts = st.text(alphabet="ab ", min_size=0, max_size=30)
    return [
        (i, draw(texts), draw(st.sampled_from(["g", "h"])))
        for i in range(n)
    ], draw(st.integers(1, 20))


@given(pack_case())
@settings(**_SETTINGS)
@pytest.mark.slow
def test_pack_sequences_invariants(spark, case):
    """Offsets are the running token prefix-sum per group in id order;
    pack_id = offset // budget; groups are independent streams."""
    from boatrace_database_spark.operators.corpus import pack_sequences

    rows, budget = case
    df = spark.createDataFrame(rows, ["id", "text", "src"])
    got = {
        r.id: r
        for r in pack_sequences(df, "id", "text", budget, group_col="src").collect()
    }
    import re

    offset = {"g": 0, "h": 0}
    for i, text, src in sorted(rows):
        # Spark's split(trim(t), '\s+'): "" -> [""] (size 1), runs of
        # whitespace collapse — mirror exactly
        n_tok = len(re.split(r"\s+", text.strip()))
        r = got[i]
        assert r.n_tokens == n_tok, (i, text, r.n_tokens, n_tok)
        assert r.start_offset == offset[src], (i, r.start_offset, offset[src])
        assert r.pack_id == offset[src] // budget
        offset[src] += n_tok


@st.composite
def split_shuffle_case(draw):
    ids = draw(
        st.lists(st.integers(0, 2**40), min_size=1, max_size=40, unique=True)
    )
    fa = draw(st.floats(0.05, 0.9, allow_nan=False).map(lambda x: round(x, 2)))
    fb = round((1.0 - fa) / 2, 10)
    return ids, {"train": fa, "val": fb, "test": round(1.0 - fa - fb, 10)}


@given(split_shuffle_case())
@settings(**_SETTINGS)
@pytest.mark.slow
def test_split_assign_matches_python_formula(spark, case):
    """Every row's split equals the documented hash formula recomputed
    in Python (cumulative-fraction intervals over the salted Knuth
    hash), and the output partitions the input."""
    from boatrace_database_spark.operators.corpus import (
        _KNUTH,
        SPLIT_SALT,
        split_assign,
    )

    ids, fractions = case
    df = spark.createDataFrame([(i,) for i in ids], ["id"])
    got = {r.id: r.split for r in split_assign(df, "id", fractions).collect()}
    assert set(got) == set(ids)
    names = list(fractions)
    for i in ids:
        u = (((i % 2**32) + SPLIT_SALT) % 2**32 * _KNUTH % 2**32) / 2**32
        cum, expected = 0.0, names[-1]
        for name in names[:-1]:
            cum += fractions[name]
            if u < cum:
                expected = name
                break
        assert got[i] == expected, (i, u, got[i], expected)


@given(st.lists(st.integers(0, 2**40), min_size=1, max_size=40, unique=True),
       st.integers(1, 7))
@settings(**_SETTINGS)
@pytest.mark.slow
def test_global_shuffle_matches_python_rank(spark, ids, n_buckets):
    """shuffle_pos equals the Python-computed rank by (hash, id) for
    ANY bucket count — the bucketed prefix-sum is invisible."""
    from boatrace_database_spark.operators.corpus import (
        _KNUTH,
        SHUFFLE_SALT,
        global_shuffle,
    )

    df = spark.createDataFrame([(i,) for i in ids], ["id"])
    got = {
        r.id: r.shuffle_pos
        for r in global_shuffle(df, "id", n_buckets=n_buckets).collect()
    }

    def h(i):
        return ((i % 2**32) + SHUFFLE_SALT) % 2**32 * _KNUTH % 2**32

    expected = {
        i: pos for pos, i in enumerate(sorted(ids, key=lambda i: (h(i), i)))
    }
    assert got == expected


@st.composite
def chunk_case(draw):
    n = draw(st.integers(1, 15))
    texts = st.text(alphabet="xy ", min_size=0, max_size=40)
    chunk_tokens = draw(st.integers(1, 12))
    overlap = draw(st.integers(0, max(chunk_tokens - 1, 0)))
    return [(i, draw(texts)) for i in range(n)], chunk_tokens, overlap


@given(chunk_case())
@settings(**_SETTINGS)
@pytest.mark.slow
def test_chunk_documents_invariants(spark, case):
    """Chunks tile the token stream at the documented stride: chunk i
    holds tokens [i*stride, i*stride+chunk_tokens); the chunk count is
    minimal (last window reaches the end); reassembly via
    non-overlapping tails reproduces the document."""
    import re

    from boatrace_database_spark.operators.text import chunk_documents

    rows, chunk_tokens, overlap = case
    stride = chunk_tokens - overlap
    df = spark.createDataFrame(rows, ["id", "text"])
    out = chunk_documents(df, "id", "text", chunk_tokens, overlap)
    by_doc: dict[int, dict[int, object]] = {}
    for r in out.collect():
        by_doc.setdefault(r.id, {})[r.chunk_id] = r
    for i, text in rows:
        toks = re.split(r"\s+", text.strip())  # Spark split: "" -> [""]
        chunks = by_doc[i]
        n_chunks = len(chunks)
        assert sorted(chunks) == list(range(n_chunks))
        # minimal count: previous window (if any) missed the end
        if n_chunks > 1:
            assert (n_chunks - 2) * stride + chunk_tokens < len(toks)
        assert (n_chunks - 1) * stride + chunk_tokens >= len(toks)
        for cid, r in chunks.items():
            want = toks[cid * stride : cid * stride + chunk_tokens]
            assert r.chunk_text.split(" ") == want or (
                r.chunk_text == "" and want in ([""], [])
            ), (i, cid, r.chunk_text, want)
            assert r.chunk_n_tokens == len(want)


@st.composite
def tfidf_corpus(draw):
    vocab = ["apple", "banana", "cherry", "date", "elderberry", "fig"]
    n_docs = draw(st.integers(2, 8))
    return [
        (
            i,
            " ".join(
                draw(
                    st.lists(st.sampled_from(vocab), min_size=0, max_size=8)
                )
            ),
        )
        for i in range(n_docs)
    ]


@settings(**_SETTINGS)
@given(docs=tfidf_corpus())
@pytest.mark.slow
def test_tfidf_related_matches_python_reference(spark, docs):
    """tfidf_related_topk against a pure-python tf-idf cosine: same
    pairs, same scores to 6 dp, plus the structural invariants
    (cosine in (0,1], symmetry, no self-pairs)."""
    import math

    from boatrace_database_spark.operators import retrieval as R

    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {
        (r.doc_id, r.other_id): r.cosine
        for r in R.tfidf_related_topk(df, k=100).collect()
    }

    # pure-python reference
    n = len(docs)
    tf = {}
    for i, text in docs:
        toks = [t for t in text.lower().split() if t]
        for t in toks:
            tf[(i, t)] = tf.get((i, t), 0) + 1
    dfreq = {}
    for (_, t) in tf:
        dfreq[t] = dfreq.get(t, 0) + 1
    w = {
        (i, t): c * math.log(n / dfreq[t])
        for (i, t), c in tf.items()
        if dfreq[t] < n
    }
    norms = {}
    for (i, t), v in w.items():
        norms[i] = norms.get(i, 0.0) + v * v
    expected = {}
    for a in range(n):
        for b in range(n):
            if a == b or norms.get(a, 0) == 0 or norms.get(b, 0) == 0:
                continue
            dot = sum(
                w[(a, t)] * w[(b, t)]
                for t in dfreq
                if (a, t) in w and (b, t) in w
            )
            c = round(dot / math.sqrt(norms[a] * norms[b]), 6)
            if c != 0.0:
                expected[(a, b)] = c
    assert got == expected
    for (a, b), c in got.items():
        assert 0.0 < c <= 1.0 + 1e-9
        assert got[(b, a)] == c


@settings(**_SETTINGS)
@given(
    scores=st.lists(
        st.tuples(st.sampled_from(["g1", "g2"]), st.floats(0, 1, allow_nan=False)),
        min_size=1,
        max_size=25,
    ),
    q=st.sampled_from([0.0, 0.25, 0.5, 0.9]),
)
def test_quantile_gate_exact_matches_python_percent_rank(spark, scores, q):
    """The exact path equals the ANSI percent_rank formula computed in
    pure python: pr = (rank-1)/(n-1) with ties at their first rank,
    pr=0 for singleton groups; keep pr rounded to 6 dp >= q."""
    from boatrace_database_spark.operators import corpus as C

    rows = [(i, g, round(s, 4)) for i, (g, s) in enumerate(scores)]
    df = spark.createDataFrame(rows, "id LONG, grp STRING, score DOUBLE")
    got = {r.id for r in
           C.quantile_gate(df, "score", q, group_col="grp").collect()}

    expected = set()
    by_g = {}
    for i, g, s in rows:
        by_g.setdefault(g, []).append((i, s))
    for g, members in by_g.items():
        n = len(members)
        svals = sorted(s for _, s in members)
        for i, s in members:
            first_rank = svals.index(s) + 1  # ties -> first rank
            pr = 0.0 if n == 1 else (first_rank - 1) / (n - 1)
            if round(pr, 6) >= q:
                expected.add(i)
    assert got == expected


@st.composite
def bpe_corpus(draw):
    vocab = ["aa", "ab", "aba", "bab", "abab", "ba", "b", "a", "abc"]
    n_docs = draw(st.integers(1, 5))
    return [
        (
            i,
            " ".join(
                draw(st.lists(st.sampled_from(vocab), min_size=1, max_size=6))
            ),
        )
        for i in range(n_docs)
    ]


@settings(**_SETTINGS)
@given(docs=bpe_corpus())
def test_bpe_train_matches_python_trainer(spark, docs):
    """bpe_train (Spark word table + driver merge rounds) equals an
    independent pure-python BPE trainer fed by str.split(): same
    word-frequency table, same greedy pair counts, same (count desc,
    pair lexicographic) tie-break, same greedy left-to-right rule
    application between rounds — so the learned merge list is
    identical, round for round."""
    from collections import Counter

    from boatrace_database_spark.operators import text as TX

    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = TX.bpe_train(df, n_merges=5, min_pair_count=2)

    words = Counter()
    for _, t in docs:
        for w in t.split():
            words[w] += 1
    seqs = {w: list(w) for w in words}
    expected = []
    for _ in range(5):
        pairs = Counter()
        for w, cnt in words.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        a, b = best[0]
        expected.append((a, b))
        for w in seqs:
            out = []
            for s in seqs[w]:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            seqs[w] = out
    assert got == expected


@st.composite
def mmr_case(draw):
    n = draw(st.integers(1, 7))
    scores = [
        round(draw(st.floats(0, 1, allow_nan=False)), 3) for _ in range(n)
    ]
    pairs = {}
    for a in range(n):
        for b in range(a + 1, n):
            if draw(st.booleans()):
                pairs[(a, b)] = round(
                    draw(st.floats(0, 1, allow_nan=False)), 3
                )
    k = draw(st.integers(1, 7))
    lam = draw(st.sampled_from([0.0, 0.3, 0.5, 0.7, 1.0]))
    return scores, pairs, k, lam


@settings(**_SETTINGS)
@given(case=mmr_case())
@pytest.mark.slow
def test_mmr_matches_python_greedy(spark, case):
    """mmr_rerank against a pure-python greedy with the same objective
    (lam·rel − (1−lam)·max-sim-to-picked), first-max/low-id tie-break,
    and missing-pair = 0 — selection order and objective values agree
    on random candidate sets."""
    from boatrace_database_spark.operators import retrieval as R

    scores, pairs, k, lam = case
    n = len(scores)
    ranked = spark.createDataFrame(
        [(0, i, scores[i], i + 1) for i in range(n)],
        "query_id LONG, doc_id LONG, score DOUBLE, rk INT",
    )
    sims = spark.createDataFrame(
        [(a, b, s) for (a, b), s in pairs.items()] or [],
        "id_a LONG, id_b LONG, sim DOUBLE",
    )
    got = [
        (r.doc_id, r.mmr)
        for r in R.mmr_rerank(ranked, sims, k=k, lam=lam)
        .orderBy("rk").collect()
    ]

    def sim(a, b):
        return pairs.get((min(a, b), max(a, b)), 0.0)

    picked: list[int] = []
    expected = []
    avail = set(range(n))
    for _ in range(min(k, n)):
        best, best_obj = None, None
        for i in sorted(avail):  # low id wins ties
            red = max((sim(i, j) for j in picked), default=0.0)
            obj = lam * scores[i] - (1 - lam) * red
            if best_obj is None or obj > best_obj:
                best, best_obj = i, obj
        picked.append(best)
        avail.remove(best)
        expected.append((best, round(best_obj, 6)))
    assert got == expected


@st.composite
def dsir_corpus(draw):
    vocab = ["apple", "banana", "cherry", "date", "fig", "grape"]
    n = draw(st.integers(3, 10))
    docs = [
        (
            i,
            " ".join(
                draw(st.lists(st.sampled_from(vocab), min_size=0, max_size=8))
            ),
        )
        for i in range(n)
    ]
    mask = draw(st.lists(st.booleans(), min_size=n, max_size=n))
    if not any(mask):
        mask[0] = True
    return docs, [i for i in range(n) if mask[i]]


@settings(**_SETTINGS)
@given(case=dsir_corpus())
@pytest.mark.slow
def test_dsir_matches_python_reference(spark, case):
    """dsir_log_weights + dsir_sample against a pure-python DSIR with
    the same md5 bucket hash, add-alpha models, and Knuth-Gumbel
    resample: identical weights (6 dp) and the identical selected set
    in the identical order."""
    import hashlib
    import math
    import re

    from pyspark.sql import functions as F

    from boatrace_database_spark.operators import selection as SEL

    docs, target_ids = case
    m, alpha, salt = 64, 0.5, 0xABC
    k = min(len(docs), 4)
    raw = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    target = raw.where(F.col("doc_id").isin(target_ids))

    # pure-python reference
    def grams(text):
        t = [x for x in re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ") if x]
        return t + [f"{a} {b}" for a, b in zip(t, t[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % m

    def h32(x, s):
        x = ((x % 2**32) + s) % 2**32
        lo, hi = x % 65536, x // 65536
        return (lo * 2654435761 + ((hi * 2654435761) % 2**32) * 65536) % 2**32

    doc_buckets = {i: [bucket(g) for g in grams(text)] for i, text in docs}
    raw_c, tgt_c = {}, {}
    for i, bs in doc_buckets.items():
        for b in bs:
            raw_c[b] = raw_c.get(b, 0) + 1
            if i in target_ids:
                tgt_c[b] = tgt_c.get(b, 0) + 1
    t_raw, t_tgt = sum(raw_c.values()), sum(tgt_c.values())
    ratio = {
        b: math.log((tgt_c.get(b, 0) + alpha) / (t_tgt + alpha * m))
        - math.log((raw_c[b] + alpha) / (t_raw + alpha * m))
        for b in raw_c
    }
    expected_w = {
        i: (len(bs), round(sum(ratio[b] for b in bs), 6))
        for i, bs in doc_buckets.items()
    }

    got_w = {
        r.doc_id: (r.n_grams, r.log_w)
        for r in SEL.dsir_log_weights(raw, target, "doc_id", "text", m, alpha).collect()
    }
    assert got_w == expected_w

    def gumbel(i):
        u = (h32(i, salt) + 0.5) / 2**32
        return -math.log(-math.log(u))

    keyed = sorted(
        ((expected_w[i][1] + gumbel(i), i) for i, _ in docs),
        key=lambda t: (-t[0], t[1]),
    )
    expected_sel = [(rk + 1, i) for rk, (_, i) in enumerate(keyed[:k])]
    got_sel = [
        (r.rank, r.doc_id)
        for r in SEL.dsir_sample(
            raw, target, "doc_id", "text", k, m, alpha, salt
        ).orderBy("rank").collect()
    ]
    assert got_sel == expected_sel


def test_dsir_empty_and_null_text_score_neutral(spark):
    """Docs with no grams stay in the pool at (n_grams=0, log_w=0.0)
    rather than vanishing, and a doc made of target-only vocabulary
    outweighs one made of raw-only vocabulary."""
    from pyspark.sql import functions as F

    from boatrace_database_spark.operators import selection as SEL

    rows = [
        (0, "apple apple banana"),
        (1, "zebra yak zebra"),
        (2, ""),
        (3, None),
    ]
    raw = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    target = raw.where(F.col("doc_id") == 0)
    w = {
        r.doc_id: (r.n_grams, r.log_w)
        for r in SEL.dsir_log_weights(raw, target, "doc_id", "text", 128, 1.0).collect()
    }
    assert set(w) == {0, 1, 2, 3}
    assert w[2] == (0, 0.0) and w[3] == (0, 0.0)
    assert w[0][1] > 0 > w[1][1]


# ---------------------------------------------------------------------------
# JPEG codec properties (round 10): no Spark, pure codec invariants


@st.composite
def jpeg_case(draw):
    h = draw(st.integers(1, 24))
    w = draw(st.integers(1, 24))
    gray = draw(st.booleans())
    quality = draw(st.sampled_from([50, 75, 90, 95]))
    seed = draw(st.integers(0, 2**31 - 1))
    return h, w, gray, quality, seed


@given(jpeg_case())
@settings(**_SETTINGS)
def test_jpeg_roundtrip_invariants(case):
    """decode(encode(img)) preserves shape/channels for ANY dims (incl.
    non-multiples of 8), never raises, and flat images reconstruct to
    within the DC quantization bound |err| <= ceil(Q00/16) + 1."""
    import numpy as np

    from boatrace_database_spark.operators import jpeg as J

    h, w, gray, quality, seed = case
    rng = np.random.default_rng(seed)
    shape = (h, w) if gray else (h, w, 3)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    d = J.decode_jpeg(J.encode_jpeg(img, quality=quality))
    assert d["pixels"].shape == shape
    assert d["channels"] == (1 if gray else 3)
    flat = np.full(shape, int(rng.integers(0, 256)), np.uint8)
    df = J.decode_jpeg(J.encode_jpeg(flat, quality=quality))
    q00 = int(J.quality_tables(quality)[0][0])
    bound = q00 // 16 + 2  # DC quant step /16 per sample, color adds ~1
    err = np.abs(df["pixels"].astype(int) - flat.astype(int)).max()
    assert err <= bound, (case, err, bound)


# ---------------------------------------------------------------------------
# round-13 derivation properties: every scale dial the engine derives from
# corpus size must land inside its own validity envelope for ANY size


@given(
    n_rows=st.integers(0, 10**9),
    bits=st.sampled_from([32, 64]),
    max_hamming=st.integers(2, 10),
    max_bucket=st.sampled_from([64, 256, 1024]),
    skew=st.floats(1.0, 20.0, allow_nan=False),
)
@settings(max_examples=200, deadline=None)
def test_derive_hamming_banding_envelope(
    n_rows, bits, max_hamming, max_bucket, skew
):
    """For any corpus size/geometry, the derived banding plan is either
    the historical (8,1) stay plan inside its documented threshold, or
    a pigeonhole-COMPLETE escalation with 4x occupancy headroom and a
    packable band key — never a saturating or invalid pair."""
    import pytest as _pytest

    eff = int(n_rows * skew)
    stay = bits >= 8 and eff * 5 <= max_bucket * (1 << 8) * 4
    try:
        cb, kc = D.derive_hamming_banding(
            n_rows, bits, max_hamming, max_bucket, skew
        )
    except ValueError:
        # only legal when NO complete config can hold the corpus; the
        # stay regime must never raise
        assert not stay
        occ = max(1, max_bucket // 4)
        for c in range(3, min(16, bits) + 1):
            for k in range(1, bits // c - max_hamming + 1):
                if c * k <= 63:
                    assert eff > occ * (1 << (c * k))
        return
    if stay:
        assert (cb, kc) == (8, 1)
        return
    n_chunks = bits // cb
    assert 1 <= kc <= n_chunks - max_hamming  # pigeonhole-complete
    assert cb * kc <= 63  # packs into a signed long band key
    assert eff <= max(1, max_bucket // 4) * (1 << (cb * kc))  # headroom
    # determinism
    assert (cb, kc) == D.derive_hamming_banding(
        n_rows, bits, max_hamming, max_bucket, skew
    )


@given(
    n=st.integers(0, 10**12),
    target=st.sampled_from([8, 32, 128]),
    floor=st.sampled_from([4, 6, 8]),
)
@settings(max_examples=200, deadline=None)
def test_lsh_ann_geometry_constant_occupancy(n, target, floor):
    """The derived LSH geometry holds expected bucket occupancy at or
    below target (within the int32 plane cap), never sizes below the
    floor regime, keeps multiprobe at Hamming-2, and steps tables up
    exactly with the planes added past the floor."""
    import math as m

    from boatrace_database_spark.operators.similarity import lsh_ann_geometry

    planes, probe, tables = lsh_ann_geometry(n, target, floor)
    assert probe == 2
    assert tables == 4 + max(0, planes - floor)
    assert planes >= floor
    if n <= target * (1 << floor):
        assert planes == floor  # demo regime: the committed r5 plan
    elif planes < 30:  # below the int32 cap the occupancy bound holds
        assert n / (1 << planes) <= target
        # ceil-tightness: one fewer plane would overflow the target
        assert n / (1 << (planes - 1)) > target
    assert (planes, probe, tables) == lsh_ann_geometry(n, target, floor)
