"""Structured Streaming: watermarked windowed rollup equals the batch
twin; incremental file ingest appends arriving files exactly once."""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from boatrace_database_spark.queries.analytics import time_tumble
from boatrace_database_spark.streaming.ingest import (
    stream_events_rollup,
    stream_ingest_parquet,
)

SRC = "/root/testdata/sf0.001/events.parquet"


def _events_schema(spark):
    return spark.read.parquet(SRC).schema


def _make_deliver(tmp_path):
    """Micro-batch delivery helper shared by every streaming test:
    stage a frame as ONE parquet part, copy it into the watched source
    dir so processAllAvailable() sees exactly one new file."""

    def deliver(df, stage_name: str, dst: str) -> None:
        stage = tmp_path / stage_name
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(
            str(stage / f) for f in os.listdir(stage) if f.endswith(".parquet")
        )
        shutil.copy(part, dst)

    return deliver


def wait_until(predicate, what: str, timeout: float = 90.0) -> None:
    """Poll ``predicate`` every 0.5 s until it holds, failing after
    ``timeout`` seconds. The TTL tests need it: ProcessingTimeTimeout
    keeps scheduling no-data state-cleanup batches, so
    processAllAvailable() never quiesces — they poll the memory sink
    for the delivered rows instead."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if predicate():
            return
        time.sleep(0.5)
    raise AssertionError(f"timed out waiting for {what}")


def test_stream_rollup_matches_batch(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    shutil.copy(SRC, f"{src}/events.parquet")
    schema = _events_schema(spark)

    q = stream_events_rollup(spark, src, schema, query_name="rollup_t")
    try:
        q.processAllAvailable()
        got = {
            (r.bucket, r.event_type): (r.n, r.total)
            for r in spark.sql("SELECT * FROM rollup_t").collect()
        }
    finally:
        q.stop()
    batch = {
        (r.bucket, r.event_type): (r.n, r.total)
        for r in time_tumble(spark, "/root/testdata/sf0.001").collect()
    }
    # append mode emits only watermark-finalized windows; every emitted
    # window must match the batch result, and most windows finalize
    assert got, "stream emitted nothing"
    assert set(got) <= set(batch)
    assert all(batch[k] == v for k, v in got.items())
    assert len(got) >= len(batch) * 0.8


@pytest.mark.parametrize("encoding", ["nanos_bigint", "timestamp_us"])
def test_stream_rollup_survives_ts_encoding_drift(spark, tmp_path, encoding):
    """The driver's testdata has shipped ts as TIMESTAMP(NANOS)-read-as-
    bigint in one round and timestamp[us] (read as timestamp_ntz) in the
    next; withWatermark rejects NTZ outright. normalize_ts must absorb
    both encodings — this test materializes the same rows under each and
    asserts the streaming rollup runs and matches the batch twin."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = (
        spark.read.parquet(SRC)
        .limit(2000)
        .select("event_id", "ts", "event_type", "value")
        .toPandas()
    )
    ts_us = (pdf["ts"].astype("int64") // 1000).tolist()  # datetime64[ns] -> us
    cols = {
        "event_id": pa.array(pdf["event_id"].tolist(), pa.int64()),
        "event_type": pa.array(pdf["event_type"].tolist(), pa.string()),
        "value": pa.array(pdf["value"].tolist(), pa.float64()),
    }
    if encoding == "nanos_bigint":
        cols["ts"] = pa.array([u * 1000 for u in ts_us], pa.int64())
    else:
        cols["ts"] = pa.array(ts_us, pa.timestamp("us"))
    src = str(tmp_path / "enc_src")
    os.makedirs(src)
    pq.write_table(pa.table(cols), f"{src}/events.parquet")

    schema = spark.read.parquet(src).schema
    q = stream_events_rollup(spark, src, schema, query_name=f"enc_{encoding}")
    try:
        q.processAllAvailable()
        got = {
            (r.bucket, r.event_type): (r.n, r.total)
            for r in spark.sql(f"SELECT * FROM enc_{encoding}").collect()
        }
    finally:
        q.stop()
    from boatrace_database_spark.timeutil import normalize_ts

    batch = {
        (r.bucket, r.event_type): (r.n, r.total)
        for r in normalize_ts(spark.read.parquet(src))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type", "n", "total",
        )
        .collect()
    }
    assert got, f"{encoding}: stream emitted nothing"
    assert set(got) <= set(batch)
    assert all(batch[k] == v for k, v in got.items())


def test_stream_ingest_appends_incrementally(spark, tmp_path):
    src = str(tmp_path / "in")
    tgt = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = _events_schema(spark)
    base = spark.read.parquet(SRC)
    n = base.count()

    shutil.copy(SRC, f"{src}/a.parquet")
    q = stream_ingest_parquet(spark, src, schema, tgt, ckpt)
    try:
        q.processAllAvailable()
        assert spark.read.parquet(tgt).count() == n
        # a new file arrives -> only it is appended
        base.limit(100).write.mode("overwrite").parquet(str(tmp_path / "tmp2"))
        for f in os.listdir(str(tmp_path / "tmp2")):
            if f.endswith(".parquet"):
                shutil.copy(str(tmp_path / "tmp2" / f), f"{src}/b.parquet")
                break
        q.processAllAvailable()
        assert spark.read.parquet(tgt).count() == n + 100
    finally:
        q.stop()


@pytest.mark.slow
@pytest.mark.requires_reference
def test_stream_boatrace_day_replay_equals_batch(spark, tmp_path):
    """Replaying the corpus day-by-day through the streaming ingest
    converges to the same warehouse as the one-shot batch build — the
    reference's daily-append workflow made incremental, without its
    duplicate-append defect. Six days keep the test fast; every day is
    one micro-batch through the identical merge path."""
    import glob as g

    from boatrace_database_spark import warehouse as W
    from boatrace_database_spark.streaming.ingest import stream_ingest_boatrace

    days = [f"2020-08-0{d}" for d in range(1, 7)]
    watch = str(tmp_path / "watch")
    stage = str(tmp_path / "stage")
    wh_stream = str(tmp_path / "wh_stream")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(watch)
    os.makedirs(stage)

    def arrive(src: str, dst: str) -> None:
        # stage + rename: the running stream must never list a
        # half-copied file (copy is not atomic, rename is)
        tmp = f"{stage}/{os.path.basename(dst)}"
        shutil.copy(src, tmp)
        os.replace(tmp, dst)

    q = stream_ingest_boatrace(spark, watch, wh_stream, ckpt)
    try:
        for day in days:
            stamp = day[2:4] + day[5:7] + day[8:10]  # 2020-08-01 -> 200801
            for path in sorted(g.glob(f"/root/reference/txt/?{stamp}.TXT")):
                arrive(path, f"{watch}/{os.path.basename(path)}")
                if day in (days[0], days[-1]):
                    # deterministically split this day's K (results) and
                    # B (program) files across micro-batches: the gold
                    # join must still converge because it rebuilds from
                    # the merged silver, not the batch frames. Splitting
                    # the FIRST day also exercises the empty-warehouse
                    # case (a lone B file must not create footerless
                    # dirs or crash the same-batch gold rebuild).
                    q.processAllAvailable()
            q.processAllAvailable()
        # a republished day must replace its partition, not duplicate it
        os.makedirs(f"{watch}/redo")
        arrive("/root/reference/txt/K200801.TXT", f"{watch}/redo/K200801.TXT")
        q.processAllAvailable()
    finally:
        q.stop()

    wh_batch = str(tmp_path / "wh_batch")
    W.build_warehouse(spark, "/root/reference/txt/?20080[1-6].TXT", wh_batch)
    for name in (*W.SILVER_TABLES, "race"):
        a = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{wh_stream}/{name}")
            .withColumn("race_date", F.col("race_date").cast("string"))
            .collect()
        )
        b = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{wh_batch}/{name}")
            .withColumn("race_date", F.col("race_date").cast("string"))
            .collect()
        )
        assert a == b, f"{name}: {len(a)} vs {len(b)} rows"


def test_stream_stateful_running_counters(spark, tmp_path):
    from boatrace_database_spark.streaming.ingest import stream_running_counters

    src = str(tmp_path / "state_src")
    os.makedirs(src)
    shutil.copy(SRC, f"{src}/a.parquet")
    schema = _events_schema(spark)
    q = stream_running_counters(spark, src, schema, query_name="counters_t")
    try:
        q.processAllAvailable()
        got = {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.sql("SELECT * FROM counters_t").collect()
        }
        batch = {
            r.user_id: (r.n, r.total)
            for r in spark.read.parquet(SRC)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
            .collect()
        }
        assert got == batch
        # state carries across micro-batches: feed the same file again
        shutil.copy(SRC, f"{src}/b.parquet")
        q.processAllAvailable()
        got2 = {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.sql(
                "SELECT user_id, n_events, total_value FROM ("
                " SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn"
                " FROM counters_t) WHERE rn = 1"
            ).collect()
        }
        assert all(got2[u][0] == 2 * batch[u][0] for u in batch)
    finally:
        q.stop()


def test_stream_dedup_matches_batch(spark, tmp_path):
    """Streaming exact dedup over a two-chunk replay equals the batch
    exact_dedup keeper assignment (chunks split on doc_id order, so
    first-seen == min-id and the results must agree exactly)."""
    from boatrace_database_spark.operators.dedup import exact_dedup
    from boatrace_database_spark.streaming.ingest import stream_dedup_exact

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # the synthetic corpus has no EXACT duplicates — plant copies of the
    # first chunk's texts under new ids so the second micro-batch must
    # flag them against state established by the first
    planted = (
        base.where(F.col("doc_id") < 50)
        .withColumn("doc_id", F.col("doc_id") + 10000)
    )
    docs = base.unionByName(planted)
    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    lo = docs.where(F.col("doc_id") < 100).localCheckpoint(eager=True)
    hi = docs.where(F.col("doc_id") >= 100).localCheckpoint(eager=True)

    deliver = _make_deliver(tmp_path)

    q = stream_dedup_exact(spark, src, docs.schema, query_name="sdedup_t")
    try:
        deliver(lo, "c1", f"{src}/chunk1.parquet")
        q.processAllAvailable()
        deliver(hi, "c2", f"{src}/chunk2.parquet")
        q.processAllAvailable()
        got = {
            r.id: (r.keeper_id, r.is_duplicate)
            for r in spark.sql("SELECT * FROM sdedup_t").collect()
        }
    finally:
        q.stop()

    assert len(got) == docs.count()
    batch = exact_dedup(
        docs.withColumn(
            "norm", F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
        ),
        ["norm"],
        "doc_id",
    )
    keeper_of = {}
    for r in batch.collect():
        keeper_of[r.keeper_id] = r.keeper_id
    # each batch group: every member maps to the min id of its group
    members = (
        docs.withColumn(
            "norm", F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
        )
        .groupBy("norm")
        .agg(F.min("doc_id").alias("keeper"), F.collect_list("doc_id").alias("ids"))
        .collect()
    )
    n_dup_groups = sum(1 for g in members if len(g.ids) > 1)
    assert n_dup_groups == 50, "planted duplicates must form real groups"
    for g in members:
        for doc_id in g.ids:
            assert got[doc_id] == (g.keeper, doc_id != g.keeper), doc_id


def test_stream_dedup_shuffled_replay_invariants(spark, tmp_path):
    """Property test for the documented FIRST-SEEN-WINS contract: a
    corpus replayed in a deterministically shuffled, non-id-ordered
    chunking must yield (a) the SAME duplicate sets as batch dedup —
    set membership is a pure function of the text — with exactly one
    keeper per set, the keeper a member of its own set and flagged
    non-duplicate; and (b) the specific first-seen keeper: the min id
    of the earliest-delivered chunk that contains the fingerprint. The
    shuffle is chosen so at least one group's streaming keeper differs
    from the batch global-min keeper — the divergence the docstring
    warns about must actually occur for the test to mean anything."""
    from boatrace_database_spark.streaming.ingest import stream_dedup_exact

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    planted = (
        base.where(F.col("doc_id") < 40)
        .withColumn("doc_id", F.col("doc_id") + 10000)
    )
    docs = base.unionByName(planted)
    # deterministic non-id order: xxhash64 of the id, 3 chunks
    chunked = docs.withColumn(
        "chunk", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(3))
    ).localCheckpoint(eager=True)

    src = str(tmp_path / "shuf_src")
    os.makedirs(src)

    deliver = _make_deliver(tmp_path)

    q = stream_dedup_exact(spark, src, docs.schema, query_name="sdedup_shuf")
    try:
        for c in range(3):
            deliver(
                chunked.where(F.col("chunk") == c).drop("chunk"),
                f"sc{c}",
                f"{src}/chunk{c}.parquet",
            )
            q.processAllAvailable()
        got = {
            r.id: (r.keeper_id, r.is_duplicate)
            for r in spark.sql("SELECT * FROM sdedup_shuf").collect()
        }
    finally:
        q.stop()

    assert len(got) == docs.count()
    groups = (
        chunked.withColumn(
            "norm", F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
        )
        .groupBy("norm")
        .agg(
            F.min("doc_id").alias("global_min"),
            F.collect_list(F.struct("doc_id", "chunk")).alias("members"),
        )
        .collect()
    )
    diverged = 0
    for g in groups:
        ids = {m.doc_id for m in g.members}
        first_chunk = min(m.chunk for m in g.members)
        expected_keeper = min(
            m.doc_id for m in g.members if m.chunk == first_chunk
        )
        keepers = {got[i][0] for i in ids}
        # one keeper per set, a member of the set, first-seen-min
        assert keepers == {expected_keeper}, g.norm[:40]
        for i in ids:
            assert got[i][1] == (i != expected_keeper)
        if expected_keeper != g.global_min:
            diverged += 1
    n_dup_groups = sum(1 for g in groups if len(g.members) > 1)
    assert n_dup_groups == 40, "planted duplicates must form real groups"
    assert diverged > 0, (
        "shuffle failed to exercise the first-seen-vs-global-min divergence"
    )


def test_stream_minhash_matches_batch_pairs(spark, tmp_path):
    """Streaming MinHash near-dup over an id-ordered two-chunk replay
    yields exactly the batch minhash_lsh_pairs pair list: identical
    xxhash64 signatures, banding, and estimated-Jaccard threshold —
    the state machine only changes WHEN comparisons happen, not what
    they compute. (Caps are lifted on both sides so neither the batch
    degenerate-bucket drop nor the streaming member cap perturbs the
    comparison.)"""
    from boatrace_database_spark.operators.dedup import minhash_lsh_pairs
    from boatrace_database_spark.streaming.ingest import stream_dedup_minhash

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    src = str(tmp_path / "mh_src")
    os.makedirs(src)

    deliver = _make_deliver(tmp_path)

    q = stream_dedup_minhash(
        spark, src, docs.schema, max_members=10**6, query_name="smh_t"
    )
    try:
        mid = 250
        deliver(docs.where(F.col("doc_id") < mid), "m1", f"{src}/c1.parquet")
        q.processAllAvailable()
        deliver(docs.where(F.col("doc_id") >= mid), "m2", f"{src}/c2.parquet")
        q.processAllAvailable()
        got = {
            (r.id_a, r.id_b): r.est_jaccard
            for r in spark.sql("SELECT * FROM smh_t").collect()
        }
    finally:
        q.stop()

    batch = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=32, bands=16, max_bucket=10**6
        ).collect()
    }
    assert batch, "corpus must contain planted near-dup pairs"
    assert set(got) == set(batch), (
        f"missing={set(batch) - set(got)} extra={set(got) - set(batch)}"
    )
    for pair, est in batch.items():
        assert abs(got[pair] - est) < 1e-9, (pair, got[pair], est)


def test_stream_minhash_refuses_bands_not_dividing_num_hashes(spark, tmp_path):
    """The stream twin shares the batch refusal of a ``bands`` that
    does not divide ``num_hashes`` and raises it before any query
    starts."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from boatrace_database_spark.streaming.ingest import stream_dedup_minhash

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = str(tmp_path / "mh_refused")
    os.makedirs(src)
    active = {q.id for q in spark.streams.active}
    with pytest.raises(ValueError, match="bands=64 must divide num_hashes=32"):
        stream_dedup_minhash(
            spark, src, schema, num_hashes=32, bands=64, query_name="smh_refused"
        )
    assert {q.id for q in spark.streams.active} == active


def test_stream_simhash_matches_batch_pairs(spark, tmp_path):
    """Streaming SimHash over an id-ordered two-chunk replay equals the
    batch simhash_pairs pair list — identical bit votes, chunk
    blocking, and Hamming threshold (caps lifted on both sides)."""
    from boatrace_database_spark.operators.dedup import simhash_pairs
    from boatrace_database_spark.streaming.ingest import stream_dedup_simhash

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    src = str(tmp_path / "sh_src")
    os.makedirs(src)

    deliver = _make_deliver(tmp_path)

    # max_hamming explicit on BOTH sides (defaults are 8/64-bit; this
    # parity fixture wants the richer 12-distance pair set)
    q = stream_dedup_simhash(
        spark, src, docs.schema, max_hamming=12, max_members=10**6,
        query_name="ssh_t",
    )
    try:
        mid = 250
        deliver(docs.where(F.col("doc_id") < mid), "s1", f"{src}/c1.parquet")
        q.processAllAvailable()
        deliver(docs.where(F.col("doc_id") >= mid), "s2", f"{src}/c2.parquet")
        q.processAllAvailable()
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in spark.sql("SELECT * FROM ssh_t").collect()
        }
    finally:
        q.stop()

    batch = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(
            docs, "doc_id", "text", max_hamming=12, max_bucket=10**6
        ).collect()
    }
    assert batch, "corpus must contain near-dup pairs"
    assert set(got) == set(batch), (
        f"missing={set(batch) - set(got)} extra={set(got) - set(batch)}"
    )
    for pair, h in batch.items():
        assert got[pair] == h, (pair, got[pair], h)


@pytest.mark.slow
def test_stream_minhash_shuffled_replay_invariants(spark, tmp_path):
    """FIRST-SEEN contract for streaming near-dup, mirroring the exact
    dedup property test: under a deterministically shuffled, non-id-
    ordered chunking the UNORDERED pair set and est values equal the
    id-ordered batch pair list — which doc of a pair is id_a merely
    flips to the first-seen member. The shuffle must actually produce
    at least one flipped pair for the test to mean anything."""
    from boatrace_database_spark.operators.dedup import minhash_lsh_pairs
    from boatrace_database_spark.streaming.ingest import stream_dedup_minhash

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    chunked = docs.withColumn(
        "chunk", F.pmod(F.xxhash64(F.col("doc_id"), F.lit(99)), F.lit(3))
    ).localCheckpoint(eager=True)
    src = str(tmp_path / "mhs_src")
    os.makedirs(src)

    deliver = _make_deliver(tmp_path)

    q = stream_dedup_minhash(
        spark, src, docs.schema, max_members=10**6, query_name="smh_shuf"
    )
    try:
        for c in range(3):
            deliver(
                chunked.where(F.col("chunk") == c).drop("chunk"),
                f"ms{c}",
                f"{src}/chunk{c}.parquet",
            )
            q.processAllAvailable()
        got = {
            frozenset((r.id_a, r.id_b)): r.est_jaccard
            for r in spark.sql("SELECT * FROM smh_shuf").collect()
        }
        oriented = {
            (r.id_a, r.id_b)
            for r in spark.sql("SELECT * FROM smh_shuf").collect()
        }
    finally:
        q.stop()

    batch = {
        frozenset((r.id_a, r.id_b)): r.est_jaccard
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=32, bands=16, max_bucket=10**6
        ).collect()
    }
    assert batch
    assert set(got) == set(batch), (
        f"missing={set(batch) - set(got)} extra={set(got) - set(batch)}"
    )
    for pair, est in batch.items():
        assert abs(got[pair] - est) < 1e-9
    flipped = [p for p in oriented if p[0] > p[1]]
    assert flipped, "shuffle failed to exercise the first-seen orientation"


def test_stream_asof_matches_batch_operator(spark, tmp_path):
    """The streaming as-of enrichment must equal the batch asof_join
    (queries/llm.asof_join_events) when the whole input arrives."""
    from boatrace_database_spark.queries.llm import asof_join_events
    from boatrace_database_spark.streaming.ingest import stream_asof_enrich

    src = str(tmp_path / "asof_src")
    os.makedirs(src)
    shutil.copy(SRC, f"{src}/a.parquet")
    schema = _events_schema(spark)
    q = stream_asof_enrich(spark, src, schema, query_name="asof_t")
    try:
        q.processAllAvailable()
        got = {
            r.event_id: r.last_view_value
            for r in spark.sql("SELECT * FROM asof_t").collect()
        }
    finally:
        q.stop()
    batch = {
        r.event_id: r.last_view_value
        for r in asof_join_events(spark, "/root/testdata/sf0.001").collect()
    }
    assert set(got) == set(batch)
    diffs = {k: (got[k], batch[k]) for k in batch if got[k] != batch[k]}
    assert not diffs, list(diffs.items())[:5]


@pytest.mark.slow
def test_stream_counters_and_asof_ttl_eviction(spark, tmp_path):
    """state_ttl_ms contract for the two remaining stateful ops (r5
    verdict item 5), one shared TTL clock:

    - stream_running_counters: an idle user's counters are EVICTED;
      their next event restarts from zero (session-scoped counter).
    - stream_asof_enrich: an idle user's last-view state is evicted;
      a purchase after eviction gets the -1.0 no-prior-view sentinel,
      and a fresh view re-admits them.
    """
    import datetime

    from boatrace_database_spark.streaming.ingest import (
        stream_asof_enrich,
        stream_running_counters,
    )

    schema = _events_schema(spark)
    ttl_ms = 20_000

    def ev(event_id, user_id, event_type, value, minute):
        ts = datetime.datetime(2024, 1, 1, 12, minute, 0)
        return (event_id, ts, user_id, event_type, value, "{}")

    stage_n = [0]

    def deliver(rows, dst_dir):
        stage_n[0] += 1
        stage = tmp_path / f"stage{stage_n[0]}"
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(
            str(stage / f) for f in os.listdir(stage) if f.endswith(".parquet")
        )
        shutil.copy(part, f"{dst_dir}/b{stage_n[0]}.parquet")

    src_c = str(tmp_path / "cnt_src")
    src_a = str(tmp_path / "asof_src")
    os.makedirs(src_c)
    os.makedirs(src_a)
    qc = stream_running_counters(
        spark, src_c, schema, query_name="cnt_ttl", state_ttl_ms=ttl_ms
    )
    qa = stream_asof_enrich(
        spark, src_a, schema, query_name="asof_ttl", state_ttl_ms=ttl_ms
    )

    def counter_rows():
        return {
            (r.user_id, r.n_events)
            for r in spark.sql("SELECT * FROM cnt_ttl").collect()
        }

    def asof_vals():
        return {
            r.event_id: r.last_view_value
            for r in spark.sql("SELECT * FROM asof_ttl").collect()
        }

    try:
        # chunk 1: user 7 active on both streams
        deliver([ev(1, 7, "click", 1.0, 0), ev(2, 7, "click", 1.0, 1)], src_c)
        deliver([ev(1, 7, "view", 10.0, 0), ev(2, 7, "purchase", 5.0, 1)], src_a)
        wait_until(lambda: (7, 2) in counter_rows(), "counter n=2")
        # chunk 2, within TTL: state persists (counter keeps counting).
        # Delivered IMMEDIATELY after chunk 1 confirms — any other
        # check in between widens the window in which a loaded host
        # lets an empty maintenance batch fire the timeout early (the
        # flake a saturated full-suite run exposed).
        deliver([ev(3, 7, "click", 1.0, 2)], src_c)
        wait_until(lambda: (7, 3) in counter_rows(), "counter n=3")
        wait_until(lambda: 2 in asof_vals(), "purchase 2 enriched")
        assert asof_vals()[2] == 10.0
        # idle past the TTL — cleanup batches evict user 7 on both
        time.sleep(ttl_ms / 1000 + 3.0)
        # prove liveness with an unrelated user, then re-deliver user 7
        deliver([ev(50, 8, "click", 1.0, 30)], src_c)
        wait_until(lambda: (8, 1) in counter_rows(), "user 8 live")
        deliver([ev(4, 7, "click", 1.0, 31)], src_c)
        wait_until(
            lambda: (7, 1) in counter_rows(), "counter restarted at 1"
        )
        assert (7, 4) not in counter_rows(), (
            "counter state survived the TTL: eviction contract broken"
        )
        # purchase after eviction: no prior view -> sentinel; a fresh
        # view re-admits the user
        deliver([ev(5, 7, "purchase", 5.0, 31)], src_a)
        wait_until(lambda: 5 in asof_vals(), "post-TTL purchase")
        assert asof_vals()[5] == -1.0, (
            f"last-view state survived the TTL: {asof_vals()[5]}"
        )
        deliver([ev(6, 7, "view", 20.0, 32), ev(7, 7, "purchase", 5.0, 33)], src_a)
        wait_until(lambda: 7 in asof_vals(), "re-admitted purchase")
        assert asof_vals()[7] == 20.0
    finally:
        qc.stop()
        qa.stop()


@pytest.mark.slow
def test_stream_dedup_ttl_eviction_and_readmission(spark, tmp_path):
    """State-lifecycle contract for ``state_ttl_ms`` (r4 verdict item 3):

    1. within the TTL, dedup behaves exactly like the NoTimeout op —
       a duplicate is flagged against the established keeper;
    2. a fingerprint idle past the TTL is EVICTED at a later
       micro-batch (ProcessingTimeTimeout);
    3. re-admission: the evicted fingerprint's next arrival is treated
       as first-seen — a NEW keeper, is_duplicate=false — i.e. dedup
       is exact within a TTL window, windowed beyond it.
    """
    from boatrace_database_spark.streaming.ingest import stream_dedup_exact

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    schema = base.schema
    texts = [r.text for r in base.limit(3).collect()]
    T, U, V = texts

    def deliver(rows, stage_name: str, dst: str) -> None:
        stage = tmp_path / stage_name
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(
            str(stage / f) for f in os.listdir(stage) if f.endswith(".parquet")
        )
        shutil.copy(part, dst)

    def row(doc_id: int, text: str):
        # minimal doc row matching the documents schema
        template = base.limit(1).collect()[0].asDict()
        template["doc_id"] = doc_id
        template["text"] = text
        return tuple(template[f.name] for f in schema.fields)

    src = str(tmp_path / "ttl_src")
    os.makedirs(src)
    # generous TTL: micro-batch scheduling + memory-sink polling between
    # deliveries takes seconds, and the within-TTL dedup assertion needs
    # chunk 2 processed BEFORE fp(T)'s deadline passes (a 2 s TTL
    # flaked exactly that way)
    ttl_ms = 20_000

    def seen_ids() -> set[int]:
        return {r.id for r in spark.sql("SELECT id FROM sdedup_ttl").collect()}

    q = stream_dedup_exact(
        spark, src, schema, query_name="sdedup_ttl", state_ttl_ms=ttl_ms
    )
    try:
        deliver([row(1, T), row(10, U)], "c1", f"{src}/c1.parquet")
        wait_until(lambda: {1, 10} <= seen_ids(), "ids {1, 10}")
        # within TTL: normal dedup against the keeper
        deliver([row(2, T)], "c2", f"{src}/c2.parquet")
        wait_until(lambda: {2} <= seen_ids(), "ids {2}")
        # age ALL state past the TTL (the cleanup batches evict it),
        # prove the stream is still live with an unrelated doc, then
        # re-deliver T — it must re-admit as a fresh first-seen keeper
        time.sleep(ttl_ms / 1000 + 3.0)
        deliver([row(99, V)], "c3", f"{src}/c3.parquet")
        wait_until(lambda: {99} <= seen_ids(), "ids {99}")
        deliver([row(3, T)], "c4", f"{src}/c4.parquet")
        wait_until(lambda: {3} <= seen_ids(), "ids {3}")
        got = {
            r.id: (r.keeper_id, r.is_duplicate)
            for r in spark.sql("SELECT * FROM sdedup_ttl").collect()
        }
    finally:
        q.stop()

    assert got[1] == (1, False)          # first-seen keeper
    assert got[2] == (1, True)           # duplicate within the TTL
    assert got[99] == (99, False)        # unrelated doc, own keeper
    # the documented re-admission contract: after eviction the SAME
    # text is a fresh first-seen keeper, not a duplicate of id 1
    assert got[3] == (3, False), f"expected re-admission, got {got[3]}"


@pytest.mark.slow
def test_stream_minhash_ttl_eviction_and_readmission(spark, tmp_path):
    """TTL contract on the NEAR-dup streaming op (same state machinery
    as stream_dedup_exact, different observable): within the TTL an
    arriving near-dup pairs with the stored bucket member; after the
    bucket idles past the TTL it is evicted, so the text's next arrival
    pairs with NOTHING (no cross-eviction pair) and becomes the bucket
    member that subsequent arrivals pair against."""
    from boatrace_database_spark.streaming.ingest import stream_dedup_minhash

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    schema = base.schema
    T = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon")
    V = ("one two three four five six seven eight nine ten eleven "
         "twelve thirteen fourteen fifteen sixteen")
    template = base.limit(1).collect()[0].asDict()

    def row(doc_id: int, text: str):
        d = dict(template)
        d["doc_id"] = doc_id
        d["text"] = text
        return tuple(d[f.name] for f in schema.fields)

    def deliver(rows, stage_name: str, dst: str) -> None:
        stage = tmp_path / stage_name
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        part = next(
            str(stage / f) for f in os.listdir(stage) if f.endswith(".parquet")
        )
        shutil.copy(part, dst)

    def pairs() -> set[tuple[int, int]]:
        return {
            (r.id_a, r.id_b)
            for r in spark.sql("SELECT id_a, id_b FROM smh_ttl").collect()
        }

    src = str(tmp_path / "mh_ttl_src")
    os.makedirs(src)
    ttl_ms = 20_000
    q = stream_dedup_minhash(
        spark, src, schema, query_name="smh_ttl", state_ttl_ms=ttl_ms
    )
    try:
        deliver([row(1, T)], "m1", f"{src}/m1.parquet")
        # within TTL: identical text -> est_jaccard 1.0 -> pair with
        # the stored member
        deliver([row(2, T)], "m2", f"{src}/m2.parquet")
        wait_until(lambda: (1, 2) in pairs(), "pair (1, 2)")
        # idle ALL buckets past the TTL, keep the stream alive with an
        # unrelated doc, then re-deliver T twice
        time.sleep(ttl_ms / 1000 + 3.0)
        deliver([row(99, V)], "m3", f"{src}/m3.parquet")
        deliver([row(3, T)], "m4", f"{src}/m4.parquet")
        deliver([row(4, T)], "m5", f"{src}/m5.parquet")
        wait_until(lambda: (3, 4) in pairs(), "pair (3, 4)")
        got = pairs()
    finally:
        q.stop()

    assert (1, 2) in got
    assert (3, 4) in got, "re-admitted member must pair with later dups"
    # eviction must be real: the re-delivered text pairs with NOTHING
    # from before the TTL window
    cross = {p for p in got if p[0] in (1, 2) and p[1] in (3, 4)}
    assert not cross, f"pairs across the eviction boundary: {cross}"


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """Stream-static decontamination: arriving docs scored against a
    static benchmark gram set equals the batch ngram_contamination
    report (same xxhash64 gram keys), including 0/0/0 rows for docs
    shorter than n, across a two-chunk replay."""
    from boatrace_database_spark.operators.text import ngram_contamination
    from boatrace_database_spark.streaming.ingest import stream_decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    bench = docs.where(F.col("doc_id") % 2 == 0)
    arriving = docs.where(F.col("doc_id") % 2 == 1)

    src = str(tmp_path / "decon_src")
    os.makedirs(src)

    deliver = _make_deliver(tmp_path)

    q = stream_decontaminate(
        spark, src, docs.schema, bench, n=5, query_name="decon_t"
    )
    try:
        mid = 250
        deliver(arriving.where(F.col("doc_id") < mid), "d1", f"{src}/c1.parquet")
        q.processAllAvailable()
        deliver(arriving.where(F.col("doc_id") >= mid), "d2", f"{src}/c2.parquet")
        q.processAllAvailable()
        got = {
            r.doc_id: (r.n_ngrams, r.n_contaminated, r.contamination_rate)
            for r in spark.sql("SELECT * FROM decon_t").collect()
        }
    finally:
        q.stop()

    batch = {
        r.eval_id: (r.n_ngrams, r.n_contaminated, r.contamination_rate)
        for r in ngram_contamination(
            bench, arriving, "doc_id", "text", n=5, hash_keys=True
        ).collect()
    }
    assert set(got) == set(batch)
    assert any(v[1] > 0 for v in batch.values()), "fixture must overlap"
    for doc_id, vals in batch.items():
        assert got[doc_id] == vals, (doc_id, got[doc_id], vals)


def test_stream_decontaminate_semantic_matches_batch(spark, tmp_path):
    """The embedding-space gate (round 8): arriving vectors scored
    against the static eval matrix across a two-chunk replay must
    equal the batch `decontaminate_semantic` output row-for-row —
    stateless stream-static, so parity holds under ANY arrival order
    (chunks here split mid-corpus, not hash-ordered)."""
    from boatrace_database_spark.operators import similarity as SIM
    from boatrace_database_spark.streaming.ingest import (
        stream_decontaminate_semantic,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    ev = emb.where(F.col("vec_id") % 10 == 0)
    arriving = emb.where(F.col("vec_id") % 10 != 0)

    src = str(tmp_path / "sdecon_src")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)

    q = stream_decontaminate_semantic(
        spark, src, emb.schema, ev, threshold=0.38, query_name="sdecon_t"
    )
    try:
        mid = 100
        deliver(arriving.where(F.col("vec_id") < mid), "s1", f"{src}/c1.parquet")
        q.processAllAvailable()
        deliver(arriving.where(F.col("vec_id") >= mid), "s2", f"{src}/c2.parquet")
        q.processAllAvailable()
        got = {
            r.id: (r.max_eval_cosine, r.is_contaminated)
            for r in spark.sql("SELECT * FROM sdecon_t").collect()
        }
    finally:
        q.stop()

    batch = {
        r.id: (r.max_eval_cosine, r.is_contaminated)
        for r in SIM.decontaminate_semantic(
            arriving, ev, threshold=0.38
        ).collect()
    }
    assert got == batch
    assert any(f for _, f in batch.values()), "fixture must flag some rows"


@pytest.mark.slow
def test_stream_semantic_matches_batch_pairs(spark, tmp_path):
    """Streaming SemDeDup over an id-ordered two-chunk replay equals
    batch semantic_pairs given the SAME prebuilt quantizer (the
    stream-static contract): identical cell assignment (shared Arrow
    kernels), identical float64 cosine arithmetic (caps lifted on both
    sides; n_assign=2 exercises the multi-assign state sharding, where
    the stream emits once per shared cell and parity is on the
    DISTINCT pair set)."""
    from boatrace_database_spark.operators.similarity import (
        ivf_build_index,
        semantic_pairs,
    )
    from boatrace_database_spark.streaming.ingest import stream_dedup_semantic

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    indexed, centroids = ivf_build_index(emb, n_cells=8)
    src = str(tmp_path / "sem_src")
    os.makedirs(src)

    deliver = _make_deliver(tmp_path)

    q = stream_dedup_semantic(
        spark, src, emb.schema, centroids,
        threshold=0.4, n_assign=2, max_members=10**6, query_name="ssem_t",
    )
    try:
        mid = 250
        deliver(emb.where(F.col("vec_id") < mid), "s1", f"{src}/c1.parquet")
        q.processAllAvailable()
        deliver(emb.where(F.col("vec_id") >= mid), "s2", f"{src}/c2.parquet")
        q.processAllAvailable()
        got = {}
        for r in spark.sql("SELECT * FROM ssem_t").collect():
            got[(r.id_a, r.id_b)] = r.score
    finally:
        q.stop()

    batch = {
        (r.id_a, r.id_b): r.score
        for r in semantic_pairs(
            emb, threshold=0.4, n_assign=2, index=(indexed, centroids)
        ).collect()
    }
    assert batch, "corpus must contain pairs at this threshold"
    assert set(got) == set(batch), (
        f"missing={set(batch) - set(got)} extra={set(got) - set(batch)}"
    )
    for pair, score in batch.items():
        assert abs(got[pair] - score) < 5e-5, (pair, got[pair], score)


def test_stream_semantic_string_ids_match_batch(spark, tmp_path):
    """The id type is derived from the caller's schema (r5 advice): a
    STRING-id corpus must stream through the same state function and
    match the batch twin — previously the hardcoded LONG state schema
    crashed the query. Zero-padded ids keep lexicographic order equal
    to numeric order so the first-seen orientation matches the
    id-ordered batch replay."""
    from boatrace_database_spark.operators.similarity import (
        ivf_build_index,
        semantic_pairs,
    )
    from boatrace_database_spark.streaming.ingest import stream_dedup_semantic

    emb_long = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = emb_long.withColumn(
        "vec_id", F.format_string("doc-%05d", F.col("vec_id"))
    )
    indexed, centroids = ivf_build_index(emb, n_cells=4)
    src = str(tmp_path / "sems_src")
    os.makedirs(src)

    deliver = _make_deliver(tmp_path)

    q = stream_dedup_semantic(
        spark, src, emb.schema, centroids,
        threshold=0.4, max_members=10**6, query_name="ssem_str",
    )
    try:
        deliver(emb.where(F.col("vec_id") < "doc-00025"), "ss1",
                f"{src}/c1.parquet")
        q.processAllAvailable()
        deliver(emb.where(F.col("vec_id") >= "doc-00025"), "ss2",
                f"{src}/c2.parquet")
        q.processAllAvailable()
        got = {
            (r.id_a, r.id_b): r.score
            for r in spark.sql("SELECT * FROM ssem_str").collect()
        }
    finally:
        q.stop()

    batch = {
        (r.id_a, r.id_b): r.score
        for r in semantic_pairs(
            emb, threshold=0.4, index=(indexed, centroids)
        ).collect()
    }
    assert batch, "corpus must contain pairs at this threshold"
    assert set(got) == set(batch), (
        f"missing={set(batch) - set(got)} extra={set(got) - set(batch)}"
    )
    for pair, score in batch.items():
        assert abs(got[pair] - score) < 5e-5, (pair, got[pair], score)


# ---------------------------------------------------------------------------
# string-id genericity (r6 verdict #3): the whole stateful family derives
# id types from the caller's schema — a string-keyed stream must flow
# through the same state functions that long-keyed streams do, with the
# same semantics. Zero-padded ids keep lexicographic order equal to the
# numeric order the first-seen contracts sort by.


@pytest.mark.slow
def test_stream_dedup_exact_string_ids(spark, tmp_path):
    from boatrace_database_spark.streaming.ingest import stream_dedup_exact

    docs = spark.createDataFrame(
        [("d-01", "same text"), ("d-02", "same text"), ("d-03", "other")],
        "doc_id string, text string",
    )
    src = str(tmp_path / "sid_src")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)
    q = stream_dedup_exact(spark, src, docs.schema, query_name="sdedup_str")
    try:
        deliver(docs, "sid1", f"{src}/c1.parquet")
        q.processAllAvailable()
        got = {
            r.id: (r.keeper_id, r.is_duplicate)
            for r in spark.sql("SELECT * FROM sdedup_str").collect()
        }
    finally:
        q.stop()
    assert got == {
        "d-01": ("d-01", False),
        "d-02": ("d-01", True),
        "d-03": ("d-03", False),
    }


@pytest.mark.slow
def test_stream_dedup_minhash_string_ids_match_batch(spark, tmp_path):
    from boatrace_database_spark.operators.dedup import minhash_lsh_pairs
    from boatrace_database_spark.streaming.ingest import stream_dedup_minhash

    rows = [
        ("m-01", "the quick brown fox jumps over the lazy dog"),
        ("m-02", "the quick brown fox jumps over the lazy dog today"),
        ("m-03", "completely different text with many other words inside"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    src = str(tmp_path / "smh_src")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)
    q = stream_dedup_minhash(
        spark, src, docs.schema, threshold=0.4, query_name="sminh_str"
    )
    try:
        deliver(docs, "smh1", f"{src}/c1.parquet")
        q.processAllAvailable()
        got = {
            (r.id_a, r.id_b)
            for r in spark.sql("SELECT * FROM sminh_str").collect()
        }
    finally:
        q.stop()
    batch = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.4
        ).collect()
    }
    assert batch, "corpus must contain a near-dup pair"
    assert got == batch


@pytest.mark.slow
def test_stream_dedup_simhash_string_ids_match_batch(spark, tmp_path):
    from boatrace_database_spark.operators.dedup import simhash_pairs
    from boatrace_database_spark.streaming.ingest import stream_dedup_simhash

    rows = [
        # identical texts: hamming 0 regardless of shingle votes (the
        # one-word variant can exceed max_hamming=8 on 2-shingles)
        ("s-01", "the quick brown fox jumps over the lazy dog"),
        ("s-02", "the quick brown fox jumps over the lazy dog"),
        ("s-03", "completely different text with many other words inside"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    src = str(tmp_path / "ssh_src")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)
    q = stream_dedup_simhash(
        spark, src, docs.schema, query_name="ssimh_str"
    )
    try:
        deliver(docs, "ssh1", f"{src}/c1.parquet")
        q.processAllAvailable()
        got = {
            (r.id_a, r.id_b)
            for r in spark.sql("SELECT * FROM ssimh_str").collect()
        }
    finally:
        q.stop()
    batch = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, "doc_id", "text").collect()
    }
    assert batch, "corpus must contain a near-dup pair"
    assert got == batch


@pytest.mark.slow
def test_stream_funnel_and_edges_string_ids(spark, tmp_path):
    import datetime as dt

    from boatrace_database_spark.streaming.ingest import (
        stream_event_edges,
        stream_funnel,
        stream_running_counters,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("u-1", "e-01", "view", t0, 1.0),
        ("u-1", "e-02", "click", t0 + dt.timedelta(minutes=1), 2.0),
        ("u-1", "e-03", "purchase", t0 + dt.timedelta(minutes=2), 3.5),
        ("u-2", "e-04", "view", t0, 4.0),
    ]
    events = spark.createDataFrame(
        rows,
        "user_id string, event_id string, event_type string, "
        "ts timestamp, value double",
    )
    deliver = _make_deliver(tmp_path)

    src_f = str(tmp_path / "sfun_src")
    os.makedirs(src_f)
    qf = stream_funnel(spark, src_f, events.schema, query_name="sfun_str")
    try:
        deliver(events, "sf1", f"{src_f}/c1.parquet")
        qf.processAllAvailable()
        reached = {
            r.user_id: r.stage_reached
            for r in spark.sql("SELECT * FROM sfun_str").collect()
        }
    finally:
        qf.stop()
    assert reached == {"u-1": 3, "u-2": 1}

    src_e = str(tmp_path / "sedg_src")
    os.makedirs(src_e)
    qe = stream_event_edges(spark, src_e, events.schema, query_name="sedg_str")
    try:
        deliver(events, "se1", f"{src_e}/c1.parquet")
        qe.processAllAvailable()
        edges = {
            (r.user_id, r.from_type, r.to_type)
            for r in spark.sql("SELECT * FROM sedg_str").collect()
        }
    finally:
        qe.stop()
    assert edges == {
        ("u-1", "view", "click"),
        ("u-1", "click", "purchase"),
    }

    src_c = str(tmp_path / "scnt_src")
    os.makedirs(src_c)
    qc = stream_running_counters(
        spark, src_c, events.schema, query_name="scnt_str"
    )
    try:
        deliver(events, "sc1", f"{src_c}/c1.parquet")
        qc.processAllAvailable()
        counts = {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.sql("SELECT * FROM scnt_str").collect()
        }
    finally:
        qc.stop()
    assert counts == {"u-1": (3, 6.5), "u-2": (1, 4.0)}

    from boatrace_database_spark.streaming.ingest import stream_asof_enrich

    src_a = str(tmp_path / "sasf_src")
    os.makedirs(src_a)
    qa = stream_asof_enrich(spark, src_a, events.schema, query_name="sasf_str")
    try:
        deliver(events, "sa1", f"{src_a}/c1.parquet")
        qa.processAllAvailable()
        enriched = {
            r.event_id: (r.user_id, r.last_view_value)
            for r in spark.sql("SELECT * FROM sasf_str").collect()
        }
    finally:
        qa.stop()
    # u-1's purchase (e-03) enriched with their view value 1.0
    assert enriched == {"e-03": ("u-1", 1.0)}


@pytest.mark.slow
def test_stream_minhash_capped_bucket_over_emits(spark, tmp_path):
    """The capped-regime contract (r6 verdict #4): when a bucket is
    driven past max_members, BATCH drops the whole over-cap bucket (no
    pairs), while the STREAM keeps scoring capped-out arrivals against
    its stored members — so the stream strictly over-emits, every
    extra pair anchors on a stored (first-admitted) member, and the
    batch pair set stays a subset. This pins the divergence direction
    and bound the operator docstring documents."""
    from boatrace_database_spark.operators.dedup import minhash_lsh_pairs
    from boatrace_database_spark.streaming.ingest import stream_dedup_minhash

    text = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(i, text) for i in range(1, 6)], "doc_id long, text string"
    )
    cap = 2

    batch = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, max_bucket=cap
        ).collect()
    }
    assert batch == set()  # 5 identical docs > cap: batch drops the bucket

    src = str(tmp_path / "cap_src")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)
    q = stream_dedup_minhash(
        spark, src, docs.schema, threshold=0.5, max_members=cap,
        query_name="sminh_cap",
    )
    try:
        deliver(docs, "cap1", f"{src}/c1.parquet")
        q.processAllAvailable()
        got = {
            (r.id_a, r.id_b)
            for r in spark.sql("SELECT * FROM sminh_cap").collect()
        }
    finally:
        q.stop()

    # over-emission, in the documented direction: a strict superset
    assert batch < got and got
    # bound: every emitted pair anchors on a STORED member — the
    # first `cap` ids admitted under id-ordered replay
    stored = {1, 2}
    assert all(a in stored for a, _ in got)
    # the exact expected set: each later arrival scores against both
    # stored members; the cap stops admissions, not scoring
    assert got == {(a, b) for b in range(2, 6) for a in stored if a < b}


def test_stream_token_budget_string_id_parity(spark, tmp_path):
    """r7 verdict item #7: the last stateful op outside the
    schema-generic family gets its string-id path — admission order is
    the Knuth hash of ``xxhash64(id)``, which must EQUAL the batch
    twin run on the standard xxhash64 surrogate key (the batch
    module's documented pattern for non-numeric ids), delivered here
    as hash-ordered chunks. Emitted ids must keep the string type."""
    from boatrace_database_spark.operators import corpus as C
    from boatrace_database_spark.operators.corpus import SHUFFLE_SALT, _unit_hash
    from boatrace_database_spark.streaming.ingest import stream_token_budget

    base = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .limit(300)
        .select(
            F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id"),
            "source",
            "text",
        )
    )
    budgets = {"src0": 500, "src1": 250}
    # batch twin on the surrogate key, mapped back to the string id
    surr = base.withColumn("_sid", F.xxhash64("doc_id"))
    batch = {
        (r.doc_id, r.source, r.n_tokens, r.stratum_cum_tokens)
        for r in C.take_token_budget_stratified(
            surr, "_sid", "text", "source", budgets, default_budget=0
        ).collect()
    }
    assert batch, "batch twin must keep rows at these budgets"

    hashed = surr.withColumn("_h", _unit_hash(F.col("_sid"), SHUFFLE_SALT))
    lo = hashed.where(F.col("_h") < 0.5).drop("_h", "_sid")
    hi = hashed.where(F.col("_h") >= 0.5).drop("_h", "_sid")

    src = str(tmp_path / "tbs_src")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)
    q = stream_token_budget(
        spark, src, base.schema, "source", budgets,
        query_name="tbs_stream",
    )
    try:
        deliver(lo, "tbs1", f"{src}/c1.parquet")
        q.processAllAvailable()
        deliver(hi, "tbs2", f"{src}/c2.parquet")
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM tbs_stream")
        assert dict(out.dtypes)["id"] == "string"
        got = {
            (r.id, r.stratum, r.n_tokens, r.stratum_cum_tokens)
            for r in out.collect()
        }
    finally:
        q.stop()

    assert got == batch, f"missing={batch - got} extra={got - batch}"


@pytest.mark.slow
def test_stream_token_budget_matches_batch_under_hash_order(spark, tmp_path):
    """stream_token_budget's parity contract: when chunks arrive as
    hash-ordered slices (and the op replays each micro-batch in the
    same Knuth-hash order), the emitted rows EQUAL the batch
    take_token_budget_stratified output; strata without a budget are
    dropped; once a budget exhausts mid-stream the gate stays closed
    for later chunks."""
    from boatrace_database_spark.operators import corpus as C
    from boatrace_database_spark.operators.corpus import SHUFFLE_SALT, _unit_hash
    from boatrace_database_spark.streaming.ingest import stream_token_budget

    base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    # adversarial whitespace rows: Spark trim strips ASCII spaces only
    # and split keeps edge empty tokens — the exact-parity contract
    # must hold where Python str.strip()/split() would disagree
    template = base.limit(1).collect()[0].asDict()
    tricky = []
    for i, t in enumerate(["\thello world\n", "a  b c ", "\n\nx\n", "  "]):
        d = dict(template)
        d["doc_id"] = 900_000 + i
        d["source"] = "src0"
        d["text"] = t
        tricky.append(tuple(d[f.name] for f in base.schema.fields))
    docs = base.unionByName(spark.createDataFrame(tricky, base.schema))
    budgets = {"src0": 800, "src1": 400, "src2": 300}
    batch = {
        (r.doc_id, r.source, r.n_tokens, r.stratum_cum_tokens)
        for r in C.take_token_budget_stratified(
            docs, "doc_id", "text", "source", budgets, default_budget=0
        ).collect()
    }
    assert batch, "batch twin must keep rows at these budgets"

    hashed = docs.withColumn("_h", _unit_hash(F.col("doc_id"), SHUFFLE_SALT))
    lo = hashed.where(F.col("_h") < 0.5).drop("_h")
    hi = hashed.where(F.col("_h") >= 0.5).drop("_h")

    src = str(tmp_path / "tb_src")
    os.makedirs(src)

    deliver = _make_deliver(tmp_path)

    q = stream_token_budget(
        spark, src, docs.schema, "source", budgets,
        query_name="tb_stream",
    )
    try:
        deliver(lo, "tb1", f"{src}/c1.parquet")
        q.processAllAvailable()
        deliver(hi, "tb2", f"{src}/c2.parquet")
        q.processAllAvailable()
        got = {
            (r.id, r.stratum, r.n_tokens, r.stratum_cum_tokens)
            for r in spark.sql("SELECT * FROM tb_stream").collect()
        }
    finally:
        q.stop()

    assert got == batch, (
        f"missing={batch - got} extra={got - batch}"
    )
    assert {s for _, s, _, _ in got} <= set(budgets), (
        "default_budget=0 strata must be dropped"
    )


@pytest.mark.slow
def test_stream_token_budget_ttl_reopens_budget(spark, tmp_path):
    """The family TTL contract on the budget gate: a stratum that
    exhausts its budget stays CLOSED while its state lives, and an
    idle period past state_ttl_ms evicts the counter so the budget
    RE-OPENS (rolling-window admission) — with liveness proven by an
    unrelated stratum between deliveries."""
    from boatrace_database_spark.streaming.ingest import stream_token_budget

    schema = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).schema

    def row(doc_id, source, n_tokens):
        template = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(1).collect()[0].asDict()
        )
        template["doc_id"] = doc_id
        template["source"] = source
        template["text"] = "tok " * n_tokens
        return tuple(template[f.name] for f in schema.fields)

    stage_n = [0]

    def deliver(rows, dst_dir):
        stage_n[0] += 1
        stage = tmp_path / f"tbstage{stage_n[0]}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(stage))
        part = next(
            str(stage / f) for f in os.listdir(stage) if f.endswith(".parquet")
        )
        shutil.copy(part, f"{dst_dir}/b{stage_n[0]}.parquet")

    def seen():
        return {
            r.id for r in spark.sql("SELECT id FROM tb_ttl").collect()
        }

    src = str(tmp_path / "tbttl_src")
    os.makedirs(src)
    ttl_ms = 20_000
    q = stream_token_budget(
        spark, src, schema, "source", {"sA": 10, "sB": 10**6},
        query_name="tb_ttl", state_ttl_ms=ttl_ms,
    )
    try:
        # doc 1 (8 tokens) passes; doc 2 arrives with the budget at
        # 8 < 10 so it passes too and exhausts it; doc 3 is rejected
        deliver([row(1, "sA", 8)], src)
        wait_until(lambda: {1} <= seen(), "ids {1}")
        deliver([row(2, "sA", 8)], src)
        wait_until(lambda: {2} <= seen(), "ids {2}")
        deliver([row(3, "sA", 8)], src)
        deliver([row(50, "sB", 2)], src)
        # liveness: sB emitted while sA's gate is shut
        wait_until(lambda: {50} <= seen(), "ids {50}")
        assert 3 not in seen(), "exhausted budget must stay closed"
        # idle past the TTL: sA's counter evicts, budget re-opens
        time.sleep(ttl_ms / 1000 + 3.0)
        deliver([row(51, "sB", 2)], src)
        wait_until(lambda: {51} <= seen(), "ids {51}")
        deliver([row(4, "sA", 8)], src)
        wait_until(lambda: {4} <= seen(), "ids {4}")
        rows = {
            r.id: r.stratum_cum_tokens
            for r in spark.sql("SELECT * FROM tb_ttl").collect()
        }
        assert rows[4] == 8, (
            f"budget did not re-open from zero: cum {rows[4]}"
        )
    finally:
        q.stop()


def test_stream_semantic_rejects_gappy_centroids(spark, tmp_path):
    from boatrace_database_spark.operators.similarity import ivf_build_index
    from boatrace_database_spark.streaming.ingest import stream_dedup_semantic

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    _, centroids = ivf_build_index(emb, n_cells=4)
    gappy = centroids.where(F.col("cell") != 1)
    with pytest.raises(ValueError, match="gapless"):
        stream_dedup_semantic(
            spark, str(tmp_path / "x"), emb.schema, gappy
        )


def test_stateless_ops_compose_with_streams(spark, tmp_path):
    """Pure-projection operators (chunk_documents here) run UNCHANGED on
    a streaming frame — no stateful wrapper needed; the same plan that
    batch-chunks a corpus chunk-processes arriving files. Replay equals
    the batch result exactly."""
    from boatrace_database_spark.operators.text import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "chunk_src")
    os.makedirs(src)
    stage = tmp_path / "chunk_stage"
    docs.coalesce(1).write.mode("overwrite").parquet(str(stage))
    part = next(
        str(stage / f) for f in os.listdir(stage) if f.endswith(".parquet")
    )
    shutil.copy(part, f"{src}/c1.parquet")

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        chunk_documents(stream, "doc_id", "text", chunk_tokens=32, overlap=8)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("chunk_stream_t")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.doc_id, r.chunk_id, r.chunk_text, r.chunk_n_tokens)
            for r in spark.sql("SELECT * FROM chunk_stream_t").collect()
        }
    finally:
        q.stop()
    batch = {
        (r.doc_id, r.chunk_id, r.chunk_text, r.chunk_n_tokens)
        for r in chunk_documents(
            docs, "doc_id", "text", chunk_tokens=32, overlap=8
        ).collect()
    }
    assert got == batch


def test_stream_hopping_rollup_matches_batch(spark, tmp_path):
    """slide= turns the rollup into a hopping window; every
    watermark-finalized streamed window must equal the batch
    time_hopping twin (same 1h/30m fan-out)."""
    from boatrace_database_spark.queries.analytics import time_hopping

    src = str(tmp_path / "hop_src")
    os.makedirs(src)
    shutil.copy(SRC, f"{src}/events.parquet")
    schema = _events_schema(spark)

    q = stream_events_rollup(
        spark, src, schema, query_name="rollup_hop", slide="30 minutes"
    )
    try:
        q.processAllAvailable()
        got = {
            (r.bucket, r.event_type): (r.n, r.total)
            for r in spark.sql("SELECT * FROM rollup_hop").collect()
        }
    finally:
        q.stop()
    batch = {
        (r.bucket, r.event_type): (r.n, r.total)
        for r in time_hopping(spark, "/root/testdata/sf0.001").collect()
    }
    assert got, "stream emitted nothing"
    assert set(got) <= set(batch)
    assert all(batch[k] == v for k, v in got.items())
    assert len(got) >= len(batch) * 0.8


def test_stream_dedup_bloom_contract(spark, tmp_path):
    """Bounded-state bloom stream dedup: every planted duplicate is
    flagged across micro-batch boundaries (no false negatives, the
    one-sided guarantee), false positives stay under 3x the design
    rate at this fill, and within-batch copies flag against rows
    earlier in the same chunk."""
    from boatrace_database_spark.streaming.ingest import stream_dedup_bloom

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    planted = (
        base.where(F.col("doc_id") < 50)
        .withColumn("doc_id", F.col("doc_id") + 10000)
    )
    docs = base.unionByName(planted)
    src = str(tmp_path / "bloom_src")
    os.makedirs(src)
    lo = docs.where(F.col("doc_id") < 100).localCheckpoint(eager=True)
    hi = docs.where(F.col("doc_id") >= 100).localCheckpoint(eager=True)

    deliver = _make_deliver(tmp_path)

    q = stream_dedup_bloom(spark, src, docs.schema, query_name="sbloom_t")
    try:
        deliver(lo, "b1", f"{src}/chunk1.parquet")
        q.processAllAvailable()
        deliver(hi, "b2", f"{src}/chunk2.parquet")
        q.processAllAvailable()
        got = {
            r.id: r.is_duplicate
            for r in spark.sql("SELECT * FROM sbloom_t").collect()
        }
    finally:
        q.stop()

    assert len(got) == docs.count()
    # the 50 planted copies arrive in chunk 2, originals in chunk 1:
    # every one MUST flag (no false negatives across state boundaries)
    for i in range(50):
        assert got[10000 + i] is True, 10000 + i
    # originals are unique texts: any flag on them is a false positive
    originals = [r.doc_id for r in base.collect()]
    fp = sum(1 for d in originals if got[d])
    # design: 64 shards x 2^17 bits, k=7, ~docs/64 items per shard ->
    # FP rate well under 1e-6 at this fill; allow a loose 1% ceiling
    assert fp / len(originals) <= 0.01, fp


def test_stream_decontaminate_bloom_one_sided(spark, tmp_path):
    """bloom_fpp variant contract: counts are >= the exact gate's for
    every doc (benchmark grams can never slip through), and at the
    design fpp the whole report equals the exact one w.h.p. on this
    corpus — the safe-direction trade the docstring claims."""
    from boatrace_database_spark.streaming.ingest import stream_decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    bench = docs.where(F.col("doc_id") % 2 == 0)
    arriving = docs.where(F.col("doc_id") % 2 == 1)
    deliver = _make_deliver(tmp_path)

    results = {}
    for label, fpp in (("exact", None), ("bloom", 0.001)):
        src = str(tmp_path / f"decb_{label}")
        os.makedirs(src)
        q = stream_decontaminate(
            spark, src, docs.schema, bench, n=5,
            query_name=f"decb_{label}", bloom_fpp=fpp,
        )
        try:
            deliver(arriving, f"s_{label}", f"{src}/c.parquet")
            q.processAllAvailable()
            results[label] = {
                r.doc_id: (r.n_ngrams, r.n_contaminated)
                for r in spark.sql(f"SELECT * FROM decb_{label}").collect()
            }
        finally:
            q.stop()

    exact, bloom = results["exact"], results["bloom"]
    assert set(exact) == set(bloom)
    assert any(v[1] > 0 for v in exact.values()), "fixture must overlap"
    over = 0
    for d, (n_ng, n_exact) in exact.items():
        assert bloom[d][0] == n_ng
        assert bloom[d][1] >= n_exact, d      # one-sided: never under
        over += bloom[d][1] - n_exact
    total = sum(v[0] for v in exact.values())
    assert over / max(total, 1) <= 0.01, over  # ~fpp over-count bound


def test_stream_quality_gate_matches_batch(spark, tmp_path):
    """Stream-static quality gate: survivors of the stream against
    calibrated thresholds equal the batch quantile_gate(exact=False)
    survivors computed from the SAME corpus (the calibrate-then-gate
    deployment), across a two-chunk replay."""
    from boatrace_database_spark.operators import corpus as C
    from boatrace_database_spark.operators import text as TX
    from boatrace_database_spark.streaming.ingest import stream_quality_gate

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    scored = docs.select(
        "doc_id", "source",
        F.round(TX.quality_score(F.col("text")), 6).alias("quality"),
    )
    thresholds = C.quantile_thresholds(
        scored, "quality", 0.25, group_col="source"
    ).localCheckpoint()  # static: calibrated once, reused per batch

    src = str(tmp_path / "qgate_src")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)

    q = stream_quality_gate(
        spark, src, docs.schema, thresholds, query_name="qgate_t"
    )
    try:
        deliver(docs.where(F.col("doc_id") < 250), "g1", f"{src}/c1.parquet")
        q.processAllAvailable()
        deliver(docs.where(F.col("doc_id") >= 250), "g2", f"{src}/c2.parquet")
        q.processAllAvailable()
        # chunk 3: a source that appeared AFTER calibration — must PASS
        # (no threshold to fail), flagged calibrated=false
        deliver(
            docs.where(F.col("doc_id") < 3).withColumn(
                "source", F.lit("src_post_calibration")
            ).withColumn("doc_id", F.col("doc_id") + 10_000),
            "g3", f"{src}/c3.parquet",
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM qgate_t").collect()
        got = {
            r.doc_id: (r.group, r.quality)
            for r in rows if r.group != "src_post_calibration"
        }
        fresh = [r for r in rows if r.group == "src_post_calibration"]
    finally:
        q.stop()

    batch = {
        r.doc_id: (r.source, r.quality)
        for r in C.quantile_gate(
            scored, "quality", 0.25, group_col="source", exact=False
        ).collect()
    }
    assert 0 < len(batch) < docs.count(), "gate must drop something"
    assert got == batch
    assert all(
        r.calibrated for r in rows if r.group != "src_post_calibration"
    )
    assert len(fresh) == 3  # nothing silently dropped
    assert all(not r.calibrated for r in fresh)


def test_stream_sketch_ingest_rollup_equals_batch(spark, tmp_path):
    """The persisted-sketch daily pattern, end to end: each micro-batch
    appends its own HLL sketch rows (foreachBatch -> distinct_sketches
    -> parquet append); the rollup over the accumulated SKETCH TABLE
    equals batch COUNT(DISTINCT) over everything ingested — distinct
    counts over any period without rescanning any batch's data."""
    from boatrace_database_spark.operators import sketches as SK

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    src = str(tmp_path / "sk_src")
    sketch_table = str(tmp_path / "sk_table")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)

    def append_sketches(batch_df, epoch_id):
        SK.distinct_sketches(
            batch_df.withColumn("epoch", F.lit(int(epoch_id))),
            "user_id", ["event_type", "epoch"],
        ).write.mode("append").parquet(sketch_table)

    q = (
        spark.readStream.schema(events.schema).parquet(src)
        .writeStream.foreachBatch(append_sketches)
        .outputMode("append")
        .start()
    )
    try:
        deliver(events.where(F.col("event_id") % 3 == 0), "s1", f"{src}/b1.parquet")
        q.processAllAvailable()
        deliver(events.where(F.col("event_id") % 3 == 1), "s2", f"{src}/b2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    ingested = events.where(F.col("event_id") % 3 != 2)
    expected = {
        (r.event_type, r.n): None
        for r in ingested.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    got = {
        (r.event_type, r.distinct_estimate): None
        for r in SK.union_distinct_estimate(
            spark.read.parquet(sketch_table), ["event_type"]
        ).collect()
    }
    assert got == expected  # sparse-exact regime: estimate == exact


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """Native session_window streaming twin: every watermark-finalized
    streamed session must equal the batch time_session row for the same
    (user, session_start)."""
    from boatrace_database_spark.queries.analytics import time_session
    from boatrace_database_spark.streaming.ingest import stream_sessionize

    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    shutil.copy(SRC, f"{src}/events.parquet")
    schema = _events_schema(spark)

    q = stream_sessionize(spark, src, schema, query_name="sessionize_t")
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.session_start): (r.session_end, r.n_events, r.total)
            for r in spark.sql("SELECT * FROM sessionize_t").collect()
        }
    finally:
        q.stop()
    batch = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.total)
        for r in time_session(spark, "/root/testdata/sf0.001").collect()
    }
    assert got, "stream emitted nothing"
    assert set(got) <= set(batch)
    assert all(batch[k] == v for k, v in got.items())
    assert len(got) >= len(batch) * 0.8


def test_session_window_exact_gap_merges(spark):
    """Pin the merge boundary the time_session oracle encodes: an event
    arriving EXACTLY gap after the previous one still merges (new
    session iff gap > duration, strictly). If a Spark upgrade flips
    this to >=, this fails before the oracle silently diverges."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(seconds=1800)),  # exactly the gap: merges
        (2, t0),
        (2, t0 + dt.timedelta(seconds=1800, microseconds=1)),  # splits
    ]
    df = spark.createDataFrame(rows, "user_id INT, ts TIMESTAMP")
    out = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .count()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    got = {r.user_id: r.n_sessions for r in out.collect()}
    assert got == {1: 1, 2: 2}


@pytest.mark.slow
def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join: with both sides fully delivered, the
    inner join must emit exactly the batch builder's rows (inner
    stream-stream joins emit on match, so no watermark subsetting)."""
    from boatrace_database_spark.streaming.ingest import (
        _interval_join_frames,
        stream_interval_join,
    )
    from boatrace_database_spark.timeutil import normalize_ts

    views_dir = str(tmp_path / "ij_views")
    purchases_dir = str(tmp_path / "ij_purchases")
    os.makedirs(views_dir)
    os.makedirs(purchases_dir)
    shutil.copy(SRC, f"{views_dir}/events.parquet")
    shutil.copy(SRC, f"{purchases_dir}/events.parquet")
    schema = _events_schema(spark)

    q = stream_interval_join(
        spark, views_dir, purchases_dir, schema, query_name="ij_t"
    )
    try:
        q.processAllAvailable()
        got = {
            (r.purchase_id, r.view_id): (r.user_id, r.view_value, r.lag_seconds)
            for r in spark.sql("SELECT * FROM ij_t").collect()
        }
    finally:
        q.stop()
    batch_events = normalize_ts(spark.read.schema(schema).parquet(SRC))
    batch = {
        (r.purchase_id, r.view_id): (r.user_id, r.view_value, r.lag_seconds)
        for r in _interval_join_frames(
            batch_events, batch_events, "10 minutes"
        ).collect()
    }
    assert batch, "batch builder produced no view->purchase matches"
    assert got == batch


def test_stream_cms_ingest_merge_equals_batch_sketch(spark, tmp_path):
    """The CMS twin of the HLL daily pattern: each micro-batch appends
    its own Count-Min cell rows; cms_merge over the accumulated table
    must equal the ONE sketch built over everything ingested — exact
    cell equality (deterministic arithmetic), so estimates from the
    merged table are identical to single-build estimates."""
    from boatrace_database_spark.operators import sketches as SK

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    src = str(tmp_path / "cms_src")
    cell_table = str(tmp_path / "cms_table")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)

    def append_cells(batch_df, epoch_id):
        SK.cms_sketches(
            batch_df.withColumn("epoch", F.lit(int(epoch_id))),
            "source", ["epoch"], width=128, depth=3,
        ).write.mode("append").parquet(cell_table)

    q = (
        spark.readStream.schema(docs.schema).parquet(src)
        .writeStream.foreachBatch(append_cells)
        .outputMode("append")
        .start()
    )
    try:
        deliver(docs.where(F.col("doc_id") % 3 == 0), "c1", f"{src}/b1.parquet")
        q.processAllAvailable()
        deliver(docs.where(F.col("doc_id") % 3 == 1), "c2", f"{src}/b2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    ingested = docs.where(F.col("doc_id") % 3 != 2)
    merged = SK.cms_merge(spark.read.parquet(cell_table))
    rebuilt = SK.cms_sketches(ingested, "source", width=128, depth=3)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


@pytest.mark.slow
def test_stream_interval_join_left_outer(spark, tmp_path):
    """Outer stream-stream join: matched rows equal the inner join
    immediately; unmatched purchases (NULL view, lag -1) emit only
    once the watermark closes their match window, and every emitted
    outer row must be in the batch left-outer result."""
    from boatrace_database_spark.streaming.ingest import (
        _interval_join_frames,
        stream_interval_join,
    )
    from boatrace_database_spark.timeutil import normalize_ts

    views_dir = str(tmp_path / "ijo_views")
    purchases_dir = str(tmp_path / "ijo_purchases")
    os.makedirs(views_dir)
    os.makedirs(purchases_dir)
    shutil.copy(SRC, f"{views_dir}/events.parquet")
    shutil.copy(SRC, f"{purchases_dir}/events.parquet")
    schema = _events_schema(spark)

    q = stream_interval_join(
        spark,
        views_dir,
        purchases_dir,
        schema,
        query_name="ijo_t",
        how="leftOuter",
    )
    try:
        q.processAllAvailable()
        got = {
            (r.purchase_id, r.view_id): (r.user_id, r.view_value, r.lag_seconds)
            for r in spark.sql("SELECT * FROM ijo_t").collect()
        }
    finally:
        q.stop()

    batch_events = normalize_ts(spark.read.schema(schema).parquet(SRC))
    outer = {
        (r.purchase_id, r.view_id): (r.user_id, r.view_value, r.lag_seconds)
        for r in _interval_join_frames(
            batch_events, batch_events, "10 minutes", "leftOuter"
        ).collect()
    }
    inner = {k: v for k, v in outer.items() if k[1] is not None}
    nulls_batch = {k for k in outer if k[1] is None}
    nulls_got = {k for k in got if k[1] is None}

    # matched rows: complete and identical to the batch inner join
    assert {k: v for k, v in got.items() if k[1] is not None} == inner
    # outer rows: a watermark-gated SUBSET of the batch no-match set,
    # and the data spans days so most finalize within the run
    assert nulls_got <= nulls_batch
    assert nulls_batch, "corpus has no view-less purchases; test is vacuous"
    assert len(nulls_got) >= len(nulls_batch) * 0.5
    for k in nulls_got:
        assert got[k] == outer[k]


def test_stream_histogram_ingest_merge_equals_batch_sketch(spark, tmp_path):
    """Histogram twin of the CMS/HLL daily pattern: per-batch bin rows
    appended, merged table equals the single-build sketch exactly, so
    streamed-in data answers quantiles without rescans."""
    from boatrace_database_spark.operators import sketches as SK

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    src = str(tmp_path / "hg_src")
    cell_table = str(tmp_path / "hg_table")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)

    def append_bins(batch_df, epoch_id):
        SK.histogram_sketches(
            batch_df.select(F.length("text").alias("len")).withColumn(
                "epoch", F.lit(int(epoch_id))
            ),
            "len", ["epoch"], lo=0.0, hi=10000.0, n_bins=128,
        ).write.mode("append").parquet(cell_table)

    q = (
        spark.readStream.schema(docs.schema).parquet(src)
        .writeStream.foreachBatch(append_bins)
        .outputMode("append")
        .start()
    )
    try:
        deliver(docs.where(F.col("doc_id") % 2 == 0), "h1", f"{src}/b1.parquet")
        q.processAllAvailable()
        deliver(docs.where(F.col("doc_id") % 2 == 1), "h2", f"{src}/b2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    merged = SK.histogram_merge(spark.read.parquet(cell_table))
    rebuilt = SK.histogram_sketches(
        docs.select(F.length("text").alias("len")),
        "len", lo=0.0, hi=10000.0, n_bins=128,
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )
    qs = SK.histogram_quantiles(merged, [0.5, 0.9]).collect()
    assert len(qs) == 2 and all(r.est > 0 for r in qs)


@pytest.mark.slow
def test_stream_dedup_within_watermark_event_time_contract(spark, tmp_path):
    """The native event-time dedup: (a) duplicates within the delay of
    the first occurrence are suppressed, across and within
    micro-batches; (b) once the watermark passes first-occurrence +
    delay the key's state is evicted and a later duplicate re-admits
    as a fresh keeper — the event-time twin of the custom family's
    processing-time TTL contract."""
    import datetime as dt

    from boatrace_database_spark.streaming.ingest import (
        stream_dedup_within_watermark,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def frame(rows):
        return spark.createDataFrame(
            [(k, t0 + dt.timedelta(minutes=m)) for k, m in rows],
            "k string, ts timestamp",
        )

    src = str(tmp_path / "wm_src")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)
    q = stream_dedup_within_watermark(
        spark,
        src,
        frame([]).schema,
        ["k"],
        ts_col="ts",
        delay="10 minutes",
        query_name="sdedup_wm",
    )
    try:
        # batch 1: A twice in one batch (in-batch dedup) + B
        deliver(frame([("A", 0), ("A", 1), ("B", 0)]), "w1", f"{src}/b1.parquet")
        q.processAllAvailable()
        # batch 2: A again within the 10-minute delay -> suppressed
        deliver(frame([("A", 5), ("C", 5)]), "w2", f"{src}/b2.parquet")
        q.processAllAvailable()
        # batch 3: far-future row advances the watermark to +30 min,
        # beyond every earlier key's first-occurrence + delay
        deliver(frame([("D", 40)]), "w3", f"{src}/b3.parquet")
        q.processAllAvailable()
        # batch 4: B re-arrives at +35 (above the +30 watermark, but
        # B's state was evicted) -> re-admitted as a fresh keeper
        deliver(frame([("B", 35)]), "w4", f"{src}/b4.parquet")
        q.processAllAvailable()
        got = [
            (r.k, r.ts)
            for r in spark.sql("SELECT * FROM sdedup_wm ORDER BY ts, k").collect()
        ]
    finally:
        q.stop()

    ks = [k for k, _ in got]
    assert ks.count("A") == 1, got  # in-batch + cross-batch dup suppressed
    assert ks.count("C") == 1 and ks.count("D") == 1
    assert ks.count("B") == 2, got  # evicted then re-admitted
    # the re-admitted B is the +35 arrival, not a retraction of the first
    b_times = sorted(ts for k, ts in got if k == "B")
    assert b_times[0] == t0 and b_times[1] == t0 + dt.timedelta(minutes=35)


@pytest.mark.parametrize(
    "entry",
    [
        "stream_dedup_exact",
        "stream_ingest_parquet",
        "stream_bm25_ingest",
        "stream_ingest_boatrace",
    ],
)
def test_stream_dedup_sink_without_checkpoint_refused(spark, tmp_path, entry):
    """r6 ADVICE: sink_dir without checkpoint_dir would silently start
    an uncheckpointed foreachBatch parquet append whose restart
    reprocesses from offset zero and double-appends — the documented
    restart contract only holds WITH a checkpoint, so the combination
    must raise before any query starts. The rule holds for EVERY
    foreachBatch entry point: each shares one sink path, `_start`."""
    from boatrace_database_spark.streaming import ingest as I

    docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    src = str(tmp_path / "nock_src")
    os.makedirs(src)
    calls = {
        "stream_dedup_exact": lambda: I.stream_dedup_exact(
            spark, src, docs.schema, query_name="sd_nockpt",
            sink_dir=str(tmp_path / "nock_sink"),
        ),
        "stream_ingest_parquet": lambda: I.stream_ingest_parquet(
            spark, src, docs.schema, str(tmp_path / "nock_sink"),
            checkpoint_dir=None,
        ),
        "stream_bm25_ingest": lambda: I.stream_bm25_ingest(
            spark, src, docs.schema, str(tmp_path / "nock_index"),
            checkpoint_dir=None,
        ),
        "stream_ingest_boatrace": lambda: I.stream_ingest_boatrace(
            spark, src, str(tmp_path / "nock_wh"), checkpoint_dir=None
        ),
    }
    before = {q.id for q in spark.streams.active}
    try:
        with pytest.raises(ValueError, match="checkpoint_dir"):
            calls[entry]()
    finally:
        started = [q for q in spark.streams.active if q.id not in before]
        for q in started:
            q.stop()
    assert not started


class _FakeGroupState:
    """Just enough of pyspark's GroupState to drive `_state_step`
    without a Spark job: records every update, timeout and removal."""

    def __init__(self, value=None):
        self.value, self.hasTimedOut = value, False
        self.updates, self.timeouts, self.removals = [], [], 0

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value
        self.updates.append(value)

    def setTimeoutDuration(self, ms):
        self.timeouts.append(ms)

    def remove(self):
        self.value = None
        self.removals += 1


def _counting_fn(seen_prev):
    """A per-group fn that counts rows, recording each ``prev`` it sees."""
    import pandas as pd

    def fn(key, batch, prev):
        seen_prev.append(prev)
        n = (prev[0] if prev is not None else 0) + len(batch)
        return (n,), pd.DataFrame({"k": [key[0]], "n": [n]})

    return fn


def _frames(*sizes):
    import pandas as pd

    return [pd.DataFrame({"v": range(n)}) for n in sizes]


def test_state_step_timeout_removes_and_readmits():
    from boatrace_database_spark.streaming.ingest import _state_step

    seen_prev = []
    step = _state_step(_counting_fn(seen_prev), 20_000)
    state = _FakeGroupState((5,))
    state.hasTimedOut = True
    assert list(step(("a",), iter([]), state)) == []
    assert state.removals == 1 and not state.exists
    assert seen_prev == [] and state.updates == [] and state.timeouts == []
    # the re-admission contract: the next arrival starts from nothing
    state.hasTimedOut = False
    (out,) = list(step(("a",), iter(_frames(2)), state))
    assert seen_prev == [None]
    assert out["n"].tolist() == [2] and state.value == (2,)


def test_state_step_none_state_keeps_nothing():
    import pandas as pd

    from boatrace_database_spark.streaming.ingest import _state_step

    empty = pd.DataFrame({"k": []})
    step = _state_step(lambda key, batch, prev: (None, empty), 20_000)
    state = _FakeGroupState()
    (out,) = list(step(("a",), iter(_frames(3)), state))
    assert out is empty
    assert state.updates == [] and state.timeouts == [] and not state.exists


def test_state_step_without_ttl_never_sets_timeout():
    from boatrace_database_spark.streaming.ingest import _state_step

    seen_prev = []
    step = _state_step(_counting_fn(seen_prev), None)
    state = _FakeGroupState()
    for _ in range(3):
        list(step(("a",), iter(_frames(1, 2)), state))
    # the group's pandas chunks arrive concatenated into one frame
    assert state.updates == [(3,), (6,), (9,)]
    assert seen_prev == [None, (3,), (6,)]
    assert state.timeouts == []


def test_state_step_ttl_rearmed_per_update():
    from boatrace_database_spark.streaming.ingest import _state_step

    step = _state_step(_counting_fn([]), 20_000)
    state = _FakeGroupState()
    for i in range(1, 4):
        list(step(("a",), iter(_frames(1)), state))
        assert len(state.updates) == i
        assert state.timeouts == [20_000] * i


@pytest.mark.slow
def test_stream_dedup_state_survives_restart(spark, tmp_path):
    """The restart contract: with a checkpoint, stopping the dedup
    query and starting a new one resumes BOTH source offsets and the
    keeper state store — duplicates of pre-restart documents are still
    flagged against the original keepers, and already-processed files
    are not re-emitted."""
    from boatrace_database_spark.streaming.ingest import stream_dedup_exact

    docs = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(20)]
        # ids 100-104 duplicate texts 0-4, delivered AFTER the restart
        + [(100 + i, f"text number {i}") for i in range(5)],
        "doc_id long, text string",
    )
    lo = docs.where(F.col("doc_id") < 20).localCheckpoint(eager=True)
    hi = docs.where(F.col("doc_id") >= 100).localCheckpoint(eager=True)
    src = str(tmp_path / "restart_src")
    sink = str(tmp_path / "restart_sink")
    ckpt = str(tmp_path / "restart_ckpt")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)

    q1 = stream_dedup_exact(
        spark, src, docs.schema, query_name="sd_restart1",
        sink_dir=sink, checkpoint_dir=ckpt,
    )
    try:
        deliver(lo, "rc1", f"{src}/chunk1.parquet")
        q1.processAllAvailable()
    finally:
        q1.stop()

    # second query, same checkpoint: a fresh state store would treat
    # the id-100 copies as first-seen keepers
    q2 = stream_dedup_exact(
        spark, src, docs.schema, query_name="sd_restart2",
        sink_dir=sink, checkpoint_dir=ckpt,
    )
    try:
        deliver(hi, "rc2", f"{src}/chunk2.parquet")
        q2.processAllAvailable()
    finally:
        q2.stop()

    out = {r.id: (r.keeper_id, r.is_duplicate)
           for r in spark.read.parquet(sink).collect()}
    assert len(out) == 25  # 20 + 5, no re-emission of chunk1
    for i in range(5):
        assert out[100 + i] == (i, True), (i, out.get(100 + i))
    for i in range(20):
        assert out[i] == (i, False)


@pytest.mark.slow
def test_stream_funnel_ordered_replay_matches_batch_fold(spark, tmp_path):
    """stream_funnel parity contract: with events delivered in
    event-time order across micro-batches (3 chunks split on global
    ts), the final per-user state equals the batch funnel exactly
    (funnel_stage_times chain == funnel_summary fold, already pinned
    in test_behavior_ops)."""
    import datetime

    from boatrace_database_spark.operators import behavior
    from boatrace_database_spark.queries._util import load_table

    schema = _events_schema(spark)
    deliver = _make_deliver(tmp_path)
    src = str(tmp_path / "funnel_src")
    os.makedirs(src)

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    cut1, cut2 = [r.ts for r in events.orderBy("ts").collect()[330::330][:2]]
    chunks = [
        events.where(F.col("ts") <= cut1),
        events.where((F.col("ts") > cut1) & (F.col("ts") <= cut2)),
        events.where(F.col("ts") > cut2),
    ]

    from boatrace_database_spark.streaming.ingest import stream_funnel

    q = stream_funnel(spark, src, schema, query_name="funnel_replay")
    try:
        for i, ch in enumerate(chunks):
            deliver(ch, f"fstage{i}", f"{src}/b{i}.parquet")
            q.processAllAvailable()
        got_rows = spark.sql(
            """SELECT user_id, max(t_1_us) t1, max(t_2_us) t2,
                      max(t_3_us) t3, max(stage_reached) reached
               FROM funnel_replay GROUP BY user_id"""
        ).collect()
    finally:
        q.stop()
    # monotone state: per-user max over update-mode emissions == final
    got = {r.user_id: (r.t1, r.t2, r.t3, r.reached) for r in got_rows}

    epoch = datetime.datetime(1970, 1, 1)

    def us(t):
        if t is None:
            return -1
        d = t - epoch
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds

    frames = behavior.funnel_stage_times(events, ["view", "click", "purchase"])
    expected = {}
    for i, frame in enumerate(frames, start=1):
        for r in frame.collect():
            cur = expected.setdefault(r.user_id, [-1, -1, -1, 0])
            cur[i - 1] = us(getattr(r, f"t_{i}"))
            cur[3] = i
    assert len(got) == len(expected)
    for u, (t1, t2, t3, reached) in expected.items():
        assert got[u] == (t1, t2, t3, reached), f"user {u}"


@pytest.mark.slow
def test_stream_sketch_rollup_matches_batch_sketches(spark, tmp_path):
    """stream_sketch_rollup parity: per-window distinct estimates from
    STREAM-built sketch rows equal the batch distinct_sketches rows
    grouped on the same tumbling window, and the cross-window union
    estimate matches too (sketch union is commutative, so batch- and
    stream-built rows are interchangeable in one persisted table).
    Late rows inside the watermark still land in their window; rows
    are emitted once, only after the watermark passes (append mode)."""
    from boatrace_database_spark.operators import sketches as SK
    from boatrace_database_spark.queries._util import load_table
    from boatrace_database_spark.streaming.ingest import stream_sketch_rollup

    schema = _events_schema(spark)
    deliver = _make_deliver(tmp_path)
    src = str(tmp_path / "sksrc")
    os.makedirs(src)

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    days = sorted(
        r.d for r in events.select(F.to_date("ts").alias("d"))
        .distinct().collect()
    )
    cut = days[len(days) // 2]
    chunks = [
        events.where(F.to_date("ts") <= F.lit(cut)),
        events.where(F.to_date("ts") > F.lit(cut)),
    ]

    q = stream_sketch_rollup(
        spark, src, schema, key_col="user_id", window="1 day",
        watermark="0 seconds", query_name="sk_rollup",
    )
    try:
        for i, ch in enumerate(chunks):
            deliver(ch, f"skc{i}", f"{src}/b{i}.parquet")
            q.processAllAvailable()
        # append mode: the LAST windows stay open (watermark never
        # passes the max event time) — compare the emitted prefix
        got = {
            str(r.window_start): (r.est, r.n_rows)
            for r in spark.sql(
                """SELECT window_start,
                          CAST(hll_sketch_estimate(sketch) AS BIGINT) est,
                          n_rows
                   FROM sk_rollup"""
            ).collect()
        }
        union_stream = spark.sql(
            """SELECT CAST(hll_sketch_estimate(hll_union_agg(sketch))
                      AS BIGINT) est FROM sk_rollup"""
        ).collect()[0].est
    finally:
        q.stop()
    assert got, "no windows were finalized"

    batch = SK.distinct_sketches(
        events.withColumn(
            "window_start", F.window("ts", "1 day").start
        ),
        "user_id", ["window_start"],
    )
    expected = {
        str(r.window_start): (r.distinct_estimate, r.n_rows)
        for r in SK.union_distinct_estimate(batch, ["window_start"])
        .select(
            "window_start",
            F.col("distinct_estimate").cast("bigint").alias(
                "distinct_estimate"
            ),
            "n_rows",
        )
        .collect()
    }
    for w, (est, n) in got.items():
        assert expected[w] == (est, n), (w, got[w], expected[w])
    # the union across stream-built windows matches the union across
    # batch-built ones for the SAME window set
    batch_union = (
        SK.union_distinct_estimate(
            batch.where(
                F.col("window_start").cast("string").isin(list(got))
            )
        )
        .select(F.col("distinct_estimate").cast("bigint").alias("e"))
        .collect()[0]
        .e
    )
    assert union_stream == batch_union


@pytest.mark.slow
def test_stream_cms_rollup_matches_batch_cells(spark, tmp_path):
    """stream_cms_rollup parity: the finalized windows' cell rows are
    IDENTICAL to batch cms_sketches grouped on the same tumbling
    window (same md5 buckets, same counts, same geometry columns), and
    cms_estimate over the stream-built table returns the same
    never-undercounting estimates as over the batch-built one."""
    from boatrace_database_spark.operators import sketches as SK
    from boatrace_database_spark.queries._util import load_table
    from boatrace_database_spark.streaming.ingest import stream_cms_rollup

    schema = _events_schema(spark)
    deliver = _make_deliver(tmp_path)
    src = str(tmp_path / "cmssrc")
    os.makedirs(src)

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    days = sorted(
        r.d for r in events.select(F.to_date("ts").alias("d"))
        .distinct().collect()
    )
    cut = days[len(days) // 2]
    chunks = [
        events.where(F.to_date("ts") <= F.lit(cut)),
        events.where(F.to_date("ts") > F.lit(cut)),
    ]

    q = stream_cms_rollup(
        spark, src, schema, key_col="event_type", window="1 day",
        watermark="0 seconds", width=64, depth=3, query_name="cms_roll",
    )
    try:
        for i, ch in enumerate(chunks):
            deliver(ch, f"cmsc{i}", f"{src}/b{i}.parquet")
            q.processAllAvailable()
        got_df = spark.sql("SELECT * FROM cms_roll").localCheckpoint()
        got = {
            (str(r.window_start), r.d, r.w): (r.cnt, r.width, r.depth)
            for r in got_df.collect()
        }
    finally:
        q.stop()
    assert got, "no windows were finalized"
    finalized = {ws for ws, _, _ in got}

    batch = SK.cms_sketches(
        events.withColumn(
            "window_start", F.window("ts", "1 day").start
        ),
        "event_type", ["window_start"], width=64, depth=3,
    ).localCheckpoint()
    expected = {
        (str(r.window_start), r.d, r.w): (r.cnt, r.width, r.depth)
        for r in batch.collect()
        if str(r.window_start) in finalized
    }
    assert got == expected
    # estimates from the stream-built table match the batch-built one
    keys = spark.createDataFrame(
        [("view",), ("click",), ("purchase",)], ["k"]
    )
    def est(sketch_df):
        return {
            r.k: r.est_count
            for r in SK.cms_estimate(
                SK.cms_merge(sketch_df), keys, "k"
            ).collect()
        }
    got_in = got_df.drop("window_start")
    batch_in = batch.where(
        F.col("window_start").cast("string").isin(list(finalized))
    ).drop("window_start")
    assert est(got_in) == est(batch_in)


@pytest.mark.slow
def test_stream_cohort_activity_ordered_replay_matches_batch_grid(
    spark, tmp_path
):
    """stream_cohort_activity parity: with events delivered in
    event-time order across micro-batches CUT AT DAY BOUNDARIES (the
    documented divergence is a same-day pre-cohort event stranded in
    an earlier batch — day-aligned chunks make it impossible),
    aggregating the emitted activity cells reproduces the batch
    cohort_retention grid exactly: count(*) per (week, offset) is the
    distinct-user count (cells emit once per user-offset), the
    offset-0 count is the cohort size, and the derived retention_pct
    matches."""
    from boatrace_database_spark.operators import behavior
    from boatrace_database_spark.queries._util import load_table
    from boatrace_database_spark.streaming.ingest import stream_cohort_activity

    schema = _events_schema(spark)
    deliver = _make_deliver(tmp_path)
    src = str(tmp_path / "cohact_src")
    os.makedirs(src)

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    days = sorted(
        r.d for r in events.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    cut1, cut2 = days[len(days) // 3], days[2 * len(days) // 3]
    chunks = [
        events.where(F.to_date("ts") <= F.lit(cut1)),
        events.where(
            (F.to_date("ts") > F.lit(cut1)) & (F.to_date("ts") <= F.lit(cut2))
        ),
        events.where(F.to_date("ts") > F.lit(cut2)),
    ]

    q = stream_cohort_activity(spark, src, schema, cohort_event="signup",
                               query_name="cohact_replay")
    try:
        for i, ch in enumerate(chunks):
            deliver(ch, f"cstage{i}", f"{src}/b{i}.parquet")
            q.processAllAvailable()
        got_rows = spark.sql(
            """
            WITH cells AS (
              SELECT user_id,
                     CAST(date_trunc('week', cohort_day) AS DATE)
                       AS cohort_week,
                     week_offset
              FROM cohact_replay
            ),
            grid AS (
              SELECT cohort_week, week_offset,
                     count(*) AS active_users
              FROM cells GROUP BY cohort_week, week_offset
            ),
            sizes AS (
              SELECT cohort_week, active_users AS cohort_size
              FROM grid WHERE week_offset = 0
            )
            SELECT g.cohort_week, g.week_offset, g.active_users,
                   round((100.0 * g.active_users) / s.cohort_size, 2)
                     AS retention_pct
            FROM grid g JOIN sizes s ON g.cohort_week = s.cohort_week
            """
        ).collect()
    finally:
        q.stop()
    got = {
        (str(r.cohort_week), r.week_offset): (r.active_users, r.retention_pct)
        for r in got_rows
    }
    expected = {
        (str(r.cohort_week), r.week_offset): (r.active_users, r.retention_pct)
        for r in behavior.cohort_retention(
            events, cohort_event="signup"
        ).collect()
    }
    assert got == expected
    # append-mode exactly-once: no duplicate (user, offset) cells
    dup = spark.sql(
        """SELECT user_id, week_offset, count(*) c FROM cohact_replay
           GROUP BY user_id, week_offset HAVING count(*) > 1"""
    ).collect()
    assert dup == []


@pytest.mark.slow
def test_stream_funnel_cross_batch_order_guard(spark, tmp_path):
    """A click arriving in a later batch but timestamped BEFORE the
    user's recorded first view must not complete stage 2; a genuinely
    later click must. Same-instant events inside one batch follow the
    batch fold's stage-index tiebreak."""
    import datetime

    from boatrace_database_spark.streaming.ingest import stream_funnel

    schema = _events_schema(spark)
    deliver = _make_deliver(tmp_path)
    src = str(tmp_path / "funnel_guard_src")
    os.makedirs(src)

    def ev(eid, uid, typ, minute):
        ts = datetime.datetime(2024, 1, 1, 12, minute, 0)
        return (eid, ts, uid, typ, 1.0, "{}")

    def frame(rows):
        return spark.createDataFrame(rows, schema)

    q = stream_funnel(spark, src, schema, query_name="funnel_guard")
    try:
        # batch 1: user 1 views at 12:10; user 2 view+click same instant
        deliver(
            frame([ev(1, 1, "view", 10), ev(2, 2, "view", 5), ev(3, 2, "click", 5)]),
            "g1", f"{src}/b1.parquet",
        )
        q.processAllAvailable()
        # batch 2: user 1 gets a LATE click stamped 12:05 (< t_1): ignored
        deliver(frame([ev(4, 1, "click", 5)]), "g2", f"{src}/b2.parquet")
        q.processAllAvailable()
        rows = {
            r.user_id: r
            for r in spark.sql(
                """SELECT user_id, max(stage_reached) stage_reached,
                          max(t_2_us) t_2_us
                   FROM funnel_guard GROUP BY user_id"""
            ).collect()
        }
        assert rows[1].stage_reached == 1 and rows[1].t_2_us == -1
        assert rows[2].stage_reached == 2  # same-instant tiebreak admits
        # batch 3: an in-order click completes user 1's stage 2
        deliver(frame([ev(5, 1, "click", 20)]), "g3", f"{src}/b3.parquet")
        q.processAllAvailable()
        r1 = spark.sql(
            "SELECT max(stage_reached) s FROM funnel_guard WHERE user_id = 1"
        ).collect()[0]
        assert r1.s == 2
    finally:
        q.stop()


@pytest.mark.slow
def test_stream_funnel_ttl_eviction_and_restart(spark, tmp_path):
    """state_ttl_ms on stream_funnel: a user idle past the TTL loses
    funnel progress (eviction), and their next event restarts the
    funnel from stage 1 — the same bounded-state contract as the rest
    of the stateful family.

    Polls the sink (wait_until) like the other TTL tests instead of
    processAllAvailable(): with ProcessingTimeTimeout enabled,
    processAllAvailable keeps scheduling timeout-check batches and the
    call never settles."""
    import datetime

    from boatrace_database_spark.streaming.ingest import stream_funnel

    schema = _events_schema(spark)
    deliver = _make_deliver(tmp_path)
    src = str(tmp_path / "funnel_ttl_src")
    os.makedirs(src)
    ttl_ms = 20_000

    def ev(eid, uid, typ, minute):
        ts = datetime.datetime(2024, 1, 1, 12, minute, 0)
        return (eid, ts, uid, typ, 1.0, "{}")

    def frame(rows):
        return spark.createDataFrame(rows, schema)

    def rows():
        return spark.sql("SELECT * FROM funnel_ttl").collect()

    q = stream_funnel(
        spark, src, schema, query_name="funnel_ttl", state_ttl_ms=ttl_ms
    )
    try:
        deliver(
            frame([ev(1, 9, "view", 0), ev(2, 9, "click", 1)]),
            "t1", f"{src}/b1.parquet",
        )
        wait_until(
            lambda: any(
                r.user_id == 9 and r.stage_reached == 2 for r in rows()
            ),
            "stage 2 reached",
        )
        # idle past the TTL, then a purchase arrives: had state
        # survived it would complete stage 3; after eviction it is an
        # out-of-funnel event (no view yet) -> a fresh stage 0 row
        time.sleep(ttl_ms / 1000 + 3.0)
        deliver(frame([ev(3, 9, "purchase", 30)]), "t2", f"{src}/b2.parquet")
        wait_until(
            lambda: any(
                r.user_id == 9 and r.stage_reached == 0 and r.t_1_us == -1
                for r in rows()
            ),
            "evicted funnel restarted at 0",
        )
        # a fresh view re-admits the user at stage 1
        deliver(frame([ev(4, 9, "view", 40)]), "t3", f"{src}/b3.parquet")
        wait_until(
            lambda: any(
                r.user_id == 9 and r.stage_reached == 1
                and r.t_1_us > 0 and r.t_2_us == -1
                for r in rows()
            ),
            "re-admitted at stage 1",
        )
    finally:
        q.stop()


@pytest.mark.slow
def test_stream_cohort_ttl_eviction_and_readmission(spark, tmp_path):
    """stream_cohort_activity's TTL contract (the family's standard
    re-admission semantics): after eviction, a bare activity event is
    pre-cohort (no cell, no state), and a NEW cohort event starts a
    FRESH cohort anchored at its own day. Polls the sink like the
    other TTL tests (processAllAvailable never settles under
    ProcessingTimeTimeout)."""
    import datetime

    from boatrace_database_spark.streaming.ingest import stream_cohort_activity

    schema = _events_schema(spark)
    deliver = _make_deliver(tmp_path)
    src = str(tmp_path / "cohort_ttl_src")
    os.makedirs(src)
    ttl_ms = 20_000

    def ev(eid, uid, typ, day):
        ts = datetime.datetime(2024, 1, 1, 12, 0, 0) + datetime.timedelta(
            days=day
        )
        return (eid, ts, uid, typ, 1.0, "{}")

    def frame(rows):
        return spark.createDataFrame(rows, schema)

    def rows():
        return spark.sql("SELECT * FROM cohort_ttl").collect()

    q = stream_cohort_activity(
        spark, src, schema, cohort_event="signup",
        query_name="cohort_ttl", state_ttl_ms=ttl_ms,
    )
    try:
        deliver(
            frame([ev(1, 9, "signup", 0), ev(2, 9, "view", 8)]),
            "c1", f"{src}/b1.parquet",
        )
        wait_until(
            lambda: {(r.week_offset) for r in rows() if r.user_id == 9}
            == {0, 1},
            "offsets 0 and 1 emitted",
        )
        day0 = next(r.cohort_day for r in rows() if r.week_offset == 0)
        # idle past the TTL, then bare activity: state evicted, the
        # event is pre-cohort — NO new cell may appear
        time.sleep(ttl_ms / 1000 + 3.0)
        deliver(frame([ev(3, 9, "view", 10)]), "c2", f"{src}/b2.parquet")
        time.sleep(4.0)
        assert {r.week_offset for r in rows() if r.user_id == 9} == {0, 1}
        # a NEW signup re-admits with a FRESH cohort day (day 14)
        deliver(frame([ev(4, 9, "signup", 14)]), "c3", f"{src}/b3.parquet")
        wait_until(
            lambda: any(
                r.user_id == 9 and r.week_offset == 0
                and r.cohort_day != day0
                for r in rows()
            ),
            "re-admitted with a fresh cohort day",
        )
    finally:
        q.stop()


@pytest.mark.slow
def test_stream_funnel_conversion_window(spark, tmp_path):
    """within_seconds on stream_funnel matches the batch semantics: a
    click past the horizon of the user's funnel entry never converts,
    one exactly at the boundary does (<=), and the window stays
    anchored at the FIRST view across batches."""
    import datetime

    from boatrace_database_spark.streaming.ingest import stream_funnel

    schema = _events_schema(spark)
    deliver = _make_deliver(tmp_path)
    src = str(tmp_path / "funnel_win_src")
    os.makedirs(src)

    def ev(eid, uid, typ, minute):
        ts = datetime.datetime(2024, 1, 1, 12, 0, 0) + datetime.timedelta(
            minutes=minute
        )
        return (eid, ts, uid, typ, 1.0, "{}")

    def frame(rows):
        return spark.createDataFrame(rows, schema)

    q = stream_funnel(
        spark, src, schema, query_name="funnel_win", within_seconds=3600
    )
    try:
        # u1 views at 12:00; u2 views at 12:00 and clicks at 13:00
        # (exact boundary: converts); u1's click lands in a LATER
        # batch at 13:30 (past the window: must not convert)
        deliver(
            frame([ev(1, 1, "view", 0), ev(2, 2, "view", 0),
                   ev(3, 2, "click", 60)]),
            "w1", f"{src}/b1.parquet",
        )
        q.processAllAvailable()
        deliver(
            frame([ev(4, 1, "click", 90), ev(5, 1, "view", 80)]),
            "w2", f"{src}/b2.parquet",
        )
        q.processAllAvailable()
        rows = {
            r.user_id: r.reached
            for r in spark.sql(
                """SELECT user_id, max(stage_reached) reached
                   FROM funnel_win GROUP BY user_id"""
            ).collect()
        }
        # u1's 12:80 second view must NOT re-anchor the window for the
        # 13:30 click (90 min after the true entry)
        assert rows[1] == 1
        assert rows[2] == 2
    finally:
        q.stop()


@pytest.mark.slow
def test_stream_event_edges_ordered_replay_matches_batch_pairs(spark, tmp_path):
    """stream_event_edges under a 3-chunk ordered replay of sf0.001
    emits exactly the batch lead-window pair multiset (edges bridge
    across micro-batch boundaries via the stored last event)."""
    from collections import Counter

    from boatrace_database_spark.queries._util import load_table
    from boatrace_database_spark.streaming.ingest import stream_event_edges

    schema = _events_schema(spark)
    deliver = _make_deliver(tmp_path)
    src = str(tmp_path / "edges_src")
    os.makedirs(src)

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    cut1, cut2 = [r.ts for r in events.orderBy("ts").collect()[330::330][:2]]
    chunks = [
        events.where(F.col("ts") <= cut1),
        events.where((F.col("ts") > cut1) & (F.col("ts") <= cut2)),
        events.where(F.col("ts") > cut2),
    ]

    q = stream_event_edges(spark, src, schema, query_name="edges_replay")
    try:
        for i, ch in enumerate(chunks):
            deliver(ch, f"estage{i}", f"{src}/b{i}.parquet")
            q.processAllAvailable()
        got = Counter(
            (r.user_id, r.from_type, r.to_type)
            for r in spark.sql("SELECT * FROM edges_replay").collect()
        )
    finally:
        q.stop()

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch_pairs = (
        events.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .collect()
    )
    want = Counter((r.user_id, r.from_type, r.to_type) for r in batch_pairs)
    assert got == want


def test_stream_dedup_dhash_matches_batch(spark, tmp_path):
    """Round-9 image-dedup twin: streaming dHash over arriving media
    payloads (decoded by the SAME dhash_media transform) must emit
    exactly the batch hamming_pairs_banded pair set under id-ordered
    replay, hamming values included; cross-batch state finds pairs
    whose members arrived in different micro-batches."""
    import numpy as np

    from boatrace_database_spark.operators import dedup as D
    from boatrace_database_spark.operators import media_codecs as mc
    from boatrace_database_spark.operators import multimodal as M
    from boatrace_database_spark.streaming.ingest import stream_dedup_dhash

    def img(seed: int, perturb: int | None = None) -> bytes:
        rng = np.random.default_rng(seed)
        g = rng.integers(0, 256, (7, 8), dtype=np.uint8)
        if perturb is not None:
            g[perturb // 8, perturb % 8] = 255
        return bytes(mc.encode_pgm(g))

    # ids 1/2 near-dups (one perturbed cell), 3 unrelated; 4 a copy of
    # 1 arriving in a LATER micro-batch (cross-batch pair)
    rows1 = [(1, bytearray(img(7)), {"m": "pgm"}),
             (2, bytearray(img(7, perturb=11)), {"m": "pgm"}),
             (3, bytearray(img(99)), {"m": "pgm"})]
    rows2 = [(4, bytearray(img(7)), {"m": "pgm"})]
    b1 = spark.createDataFrame(rows1, M.MEDIA_SCHEMA)
    b2 = spark.createDataFrame(rows2, M.MEDIA_SCHEMA)
    src = str(tmp_path / "dh_src")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)
    q = stream_dedup_dhash(
        spark, src, b1.schema, hash_size=7, max_hamming=4, chunk_bits=7,
        query_name="sdhash",
    )
    try:
        deliver(b1, "dh1", f"{src}/c1.parquet")
        q.processAllAvailable()
        deliver(b2, "dh2", f"{src}/c2.parquet")
        q.processAllAvailable()
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in spark.sql("SELECT * FROM sdhash").collect()
        }
    finally:
        q.stop()
    both = b1.unionByName(b2)
    batch = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.hamming_pairs_banded(
            M.dhash_media(both, hash_size=7), "media_id", "dhash",
            max_hamming=4, bits=49, chunk_bits=7,
        ).collect()
    }
    assert (1, 2, 2) in batch or any(a == 1 and b == 2 for a, b, _ in batch)
    assert any(a == 1 and b == 4 for a, b, _ in batch), "exact copy pair"
    assert got == batch


@pytest.mark.slow
def test_stream_dedup_audio_matches_batch(spark, tmp_path):
    """Round-10 audio-dedup twin: arriving WAV clips fingerprint with
    the SAME Haitsma-Kalker transform, meet in exact-fp state buckets
    (the streaming candidate equi-join), and BER-verify against capped
    members — the distinct emitted pair set must equal batch
    audio_dedup_pairs exactly, ber values included; a re-take arriving
    in a LATER micro-batch still pairs (cross-batch state)."""
    import numpy as np

    from boatrace_database_spark.operators import media_codecs as mc
    from boatrace_database_spark.operators import multimodal as M
    from boatrace_database_spark.streaming.ingest import stream_dedup_audio

    def clip(base: int, seed: int, noise=0.03, gain=1.0) -> bytes:
        content = np.random.default_rng(base).standard_normal(12288)
        take = np.random.default_rng(seed)
        x = gain * content + noise * take.standard_normal(12288)
        s = np.clip(np.round(x * 8000), -32768, 32767).astype(np.int16)
        return bytes(mc.encode_wav(s, 8000, 1))

    # 1/2 takes of recording A, 3 unrelated, 4 a third take of A
    # arriving in a later micro-batch
    rows1 = [(1, bytearray(clip(70, 1))),
             (2, bytearray(clip(70, 2, noise=0.05, gain=0.8))),
             (3, bytearray(clip(71, 3)))]
    rows2 = [(4, bytearray(clip(70, 4, noise=0.04)))]
    b1 = spark.createDataFrame(
        [(i, p, {"m": "wav"}) for i, p in rows1], M.MEDIA_SCHEMA
    )
    b2 = spark.createDataFrame(
        [(i, p, {"m": "wav"}) for i, p in rows2], M.MEDIA_SCHEMA
    )
    src = str(tmp_path / "au_src")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)
    q = stream_dedup_audio(spark, src, b1.schema, query_name="saudio")
    try:
        deliver(b1, "au1", f"{src}/c1.parquet")
        q.processAllAvailable()
        deliver(b2, "au2", f"{src}/c2.parquet")
        q.processAllAvailable()
        got = {
            (r.id_a, r.id_b, r.ber)
            for r in spark.sql("SELECT * FROM saudio").collect()
        }
    finally:
        q.stop()
    both = b1.unionByName(b2)
    batch = {
        (r.id_a, r.id_b, round(r.ber, 6))
        for r in M.audio_dedup_pairs(both).collect()
    }
    assert {(a, b) for a, b, _ in batch} == {(1, 2), (1, 4), (2, 4)}
    assert got == batch


def test_stream_ivfpq_ingest_matches_batch_add(spark, tmp_path):
    """Round-11 streaming ANN-index maintenance: arriving vectors
    assigned + PQ-encoded against the FROZEN quantizer must emit rows
    byte-identical to what batch ivfpq_add_to_index appends for the
    same vectors (same Arrow kernels, stateless => parity under any
    arrival order, split mid-corpus here), and the streamed rows must
    be a USABLE index: probing base+streamed equals probing the
    batch-extended index."""
    from boatrace_database_spark.operators import similarity as SIM
    from boatrace_database_spark.streaming.ingest import stream_ivfpq_ingest

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = emb.where(F.col("vec_id") < 120)
    new = emb.where(F.col("vec_id") >= 120)
    codes, cents, books = SIM.ivfpq_build_index(
        base, n_cells=4, n_subspaces=8, n_codes=16
    )
    codes = codes.localCheckpoint(eager=True)

    src = str(tmp_path / "ivfpq_src")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)
    q = stream_ivfpq_ingest(
        spark, src, emb.schema, codes, cents, books, query_name="pq_ing"
    )
    try:
        mid = 300
        deliver(new.where(F.col("vec_id") < mid), "p1", f"{src}/c1.parquet")
        q.processAllAvailable()
        deliver(new.where(F.col("vec_id") >= mid), "p2", f"{src}/c2.parquet")
        q.processAllAvailable()
        streamed = spark.table("pq_ing").localCheckpoint(eager=True)
        got = {
            r.neighbor_id: (r.cell, bytes(r.codes), round(r.norm, 9))
            for r in streamed.collect()
        }
    finally:
        q.stop()

    extended = SIM.ivfpq_add_to_index(codes, cents, books, new)
    want = {
        r.neighbor_id: (r.cell, bytes(r.codes), round(r.norm, 9))
        for r in extended.where(F.col("neighbor_id") >= 120).collect()
    }
    assert got == want and len(got) == new.count()

    # the streamed rows form a working index: probe parity with the
    # batch-extended index (metadata re-attached on the union)
    union = codes.unionByName(streamed).select(
        "neighbor_id",
        "cell",
        F.col("codes").alias(
            "codes",
            metadata={"by_residual": codes.schema["codes"].metadata["by_residual"]},
        ),
        "norm",
    )
    queries = emb.where(F.col("vec_id") < 3)
    p1 = sorted(
        map(tuple, SIM.ivfpq_probe(union, cents, books, queries, k=3).collect())
    )
    p2 = sorted(
        map(tuple, SIM.ivfpq_probe(extended, cents, books, queries, k=3).collect())
    )
    assert p1 == p2


def test_stream_ann_serve_matches_batch_probe(spark, tmp_path):
    """Round-13 streaming ANN query SERVING: arriving query vectors
    answered from the static IVF-PQ index must equal the batch
    ivfpq_probe over the same queries — per-query independence makes
    parity exact under any batch split (queries split 2/3 here), and
    the refine stage (exact re-rank against the raw corpus) carries
    through foreachBatch."""
    from boatrace_database_spark.operators import similarity as SIM
    from boatrace_database_spark.streaming.ingest import stream_ann_serve

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") >= 10).localCheckpoint(eager=True)
    queries = emb.where(F.col("vec_id") < 10)
    codes, cents, books = SIM.ivfpq_build_index(
        corpus, n_cells=4, n_subspaces=8, n_codes=16
    )
    codes = codes.localCheckpoint(eager=True)

    src = str(tmp_path / "serve_src")
    sink = str(tmp_path / "serve_sink")
    ckpt = str(tmp_path / "serve_ckpt")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)
    q = stream_ann_serve(
        spark, src, emb.schema, codes, cents, books, sink, ckpt,
        k=3, refine=20, corpus=corpus, query_name="ann_srv",
    )
    try:
        deliver(queries.where(F.col("vec_id") < 4), "s1", f"{src}/c1.parquet")
        q.processAllAvailable()
        deliver(queries.where(F.col("vec_id") >= 4), "s2", f"{src}/c2.parquet")
        q.processAllAvailable()
        got = {
            (r.query_id, r.neighbor_id, round(r.score, 9), r.rk)
            for r in spark.read.parquet(sink).collect()
        }
    finally:
        q.stop()

    want = {
        (r.query_id, r.neighbor_id, round(r.score, 9), r.rk)
        for r in SIM.ivfpq_probe(
            codes, cents, books, queries, k=3, refine=20, corpus=corpus
        ).collect()
    }
    assert got == want and len({g[0] for g in got}) == 10


def test_stream_bm25_serve_matches_batch_prebuilt(spark, tmp_path):
    """Round-13 streaming BM25 query SERVING: arriving query texts
    answered from the persisted index must equal the batch
    bm25_topk_prebuilt over the same queries — per-query independence
    (frozen df/N/avgdl) makes parity exact under any batch split
    (queries split 3/4 here), and each epoch's index scan stays
    bucket-pruned (the prebuilt path's PartitionFilters shape)."""
    from boatrace_database_spark.operators import retrieval as R
    from boatrace_database_spark.streaming.ingest import stream_bm25_serve

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    queries = docs.where(F.col("doc_id") < 7).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    idx = str(tmp_path / "bm25_idx")
    R.bm25_write_index(docs, idx, n_buckets=16)

    src = str(tmp_path / "bm25_src")
    sink = str(tmp_path / "bm25_sink")
    ckpt = str(tmp_path / "bm25_ckpt")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)
    q = stream_bm25_serve(
        spark, src, queries.schema, idx, sink, ckpt,
        k=5, n_buckets=16, query_name="bm25_srv",
    )
    try:
        deliver(queries.where(F.col("query_id") < 3), "b1", f"{src}/c1.parquet")
        q.processAllAvailable()
        deliver(queries.where(F.col("query_id") >= 3), "b2", f"{src}/c2.parquet")
        q.processAllAvailable()
        got = {
            (r.query_id, r.doc_id, r.score, r.rk)
            for r in spark.read.parquet(sink).collect()
        }
    finally:
        q.stop()

    want = {
        (r.query_id, r.doc_id, r.score, r.rk)
        for r in R.bm25_topk_prebuilt(
            spark, idx, queries, k=5, n_buckets=16
        ).collect()
    }
    assert got == want and len({g[0] for g in got}) == 7


def test_stream_hybrid_serve_matches_batch_fusion(spark, tmp_path):
    """Round-13 streaming HYBRID serving: arriving (text, embedding)
    queries answered by RRF-fusing the IVF-PQ probe with the BM25
    prebuilt probe must equal the identical batch composition over the
    same queries — all three stages are per-query independent against
    frozen snapshots, so parity is exact under the 2/4 batch split."""
    from boatrace_database_spark.operators import retrieval as R
    from boatrace_database_spark.operators import similarity as SIM
    from boatrace_database_spark.streaming.ingest import stream_hybrid_serve

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .where(F.col("doc_id") < 6)
        .select(
            F.col("doc_id").alias("query_id"),
            F.col("text").alias("query_text"),
            "embedding",
        )
    )
    codes, cents, books = SIM.ivfpq_build_index(
        emb, n_cells=4, n_subspaces=8, n_codes=16
    )
    codes = codes.localCheckpoint(eager=True)
    idx = str(tmp_path / "hyb_bm25")
    R.bm25_write_index(docs, idx, n_buckets=16)

    def batch_fusion(q):
        dense = SIM.ivfpq_probe(
            codes, cents, books, q, id_col="query_id",
            vec_col="embedding", k=8,
        ).select(
            "query_id", F.col("neighbor_id").alias("doc_id"), "rk"
        )
        lex = R.bm25_topk_prebuilt(
            spark, idx, q, k=8, n_buckets=16
        ).select("query_id", "doc_id", "rk")
        return R.rrf_fuse([dense, lex], k=5)

    src = str(tmp_path / "hyb_src")
    sink = str(tmp_path / "hyb_sink")
    ckpt = str(tmp_path / "hyb_ckpt")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)
    q = stream_hybrid_serve(
        spark, src, queries.schema, codes, cents, books, idx, sink, ckpt,
        k=5, depth=8, n_buckets=16, query_name="hyb_srv",
    )
    try:
        deliver(queries.where(F.col("query_id") < 2), "h1", f"{src}/c1.parquet")
        q.processAllAvailable()
        deliver(queries.where(F.col("query_id") >= 2), "h2", f"{src}/c2.parquet")
        q.processAllAvailable()
        got = {
            (r.query_id, r.doc_id, r.rrf, r.rk)
            for r in spark.read.parquet(sink).collect()
        }
    finally:
        q.stop()

    want = {
        (r.query_id, r.doc_id, r.rrf, r.rk)
        for r in batch_fusion(queries).collect()
    }
    assert got == want and len({g[0] for g in got}) == 6


def test_stream_bm25_ingest_matches_full_rebuild(spark, tmp_path):
    """Round-13 streaming BM25 index maintenance: extending a
    persisted index from a stream (2 micro-batches) must leave
    rankings identical to an index built from the union corpus in one
    shot — the batch add's add≡rebuild contract composed across
    epochs. A redelivered chunk (copied into the source again under a
    new name) appends nothing thanks to the docids sidecar guard."""
    from boatrace_database_spark.operators import retrieval as R
    from boatrace_database_spark.streaming.ingest import stream_bm25_ingest

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").where(
        F.col("doc_id") < 500
    )
    base = docs.where(F.col("doc_id") < 300)
    inc = str(tmp_path / "inc_idx")
    full = str(tmp_path / "full_idx")
    R.bm25_write_index(base, inc, n_buckets=16)
    R.bm25_write_index(docs, full, n_buckets=16)

    src = str(tmp_path / "ing_src")
    ckpt = str(tmp_path / "ing_ckpt")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)
    q = stream_bm25_ingest(
        spark, src, docs.schema, inc, ckpt, n_buckets=16,
        query_name="bm25_ing",
    )
    try:
        deliver(
            docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 400)),
            "i1", f"{src}/c1.parquet",
        )
        q.processAllAvailable()
        deliver(
            docs.where(F.col("doc_id") >= 400), "i2", f"{src}/c2.parquet"
        )
        q.processAllAvailable()
        # redelivery: the same 100 docs arrive again as a "new" file —
        # the sidecar guard must append nothing
        deliver(
            docs.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 400)),
            "i3", f"{src}/c3.parquet",
        )
        q.processAllAvailable()
    finally:
        q.stop()

    queries = docs.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    got = sorted(
        tuple(r)
        for r in R.bm25_topk_prebuilt(
            spark, inc, queries, k=10, n_buckets=16
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in R.bm25_topk_prebuilt(
            spark, full, queries, k=10, n_buckets=16
        ).collect()
    )
    assert got == want and got
    n_ids = spark.read.parquet(f"{inc}/docids").count()
    assert n_ids == 500


@pytest.mark.slow
def test_bm25_index_compaction_after_streamed_ingest(spark, tmp_path):
    """The maintenance loop closes by composition: a streamed BM25
    ingest appends at least one postings file per touched bucket per
    epoch, and `warehouse.compact_partitions` (generic over the
    partition column) rewrites the fragmented buckets back to
    right-sized files — with `bm25_topk_prebuilt` rankings
    byte-identical before/after and untouched buckets left alone."""
    import glob

    from boatrace_database_spark.operators import retrieval as R
    from boatrace_database_spark.streaming.ingest import stream_bm25_ingest
    from boatrace_database_spark.warehouse import compact_partitions

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").where(
        F.col("doc_id") < 400
    )
    idx = str(tmp_path / "cmp_idx")
    R.bm25_write_index(docs.where(F.col("doc_id") < 100), idx, n_buckets=8)

    src = str(tmp_path / "cmp_src")
    ckpt = str(tmp_path / "cmp_ckpt")
    os.makedirs(src)
    deliver = _make_deliver(tmp_path)
    q = stream_bm25_ingest(
        spark, src, docs.schema, idx, ckpt, n_buckets=8,
        query_name="bm25_cmp",
    )
    try:
        for i, lo in enumerate((100, 200, 300)):
            deliver(
                docs.where(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100)
                ),
                f"m{i}", f"{src}/c{i}.parquet",
            )
            q.processAllAvailable()
    finally:
        q.stop()

    queries = docs.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    before = sorted(
        tuple(r)
        for r in R.bm25_topk_prebuilt(
            spark, idx, queries, k=10, n_buckets=8
        ).collect()
    )
    n_files_before = len(glob.glob(f"{idx}/postings/bucket=*/*.parquet"))
    rewritten = compact_partitions(
        spark, f"{idx}/postings", partition_col="bucket"
    )
    n_files_after = len(glob.glob(f"{idx}/postings/bucket=*/*.parquet"))
    after = sorted(
        tuple(r)
        for r in R.bm25_topk_prebuilt(
            spark, idx, queries, k=10, n_buckets=8
        ).collect()
    )
    assert after == before and before
    # 1 build + 3 epochs touched every bucket: all 8 fragmented, each
    # rewritten to one right-sized file (tiny corpus)
    assert rewritten and all(n == 1 for n in rewritten.values())
    assert n_files_after < n_files_before


@pytest.mark.slow
def test_ann_serve_snapshot_rotation_contract(spark, tmp_path):
    """The index-update contract both serve twins document, pinned
    end-to-end: a serve stream answers from the FROZEN snapshot it
    was started on (results match the batch probe over that snapshot
    even while an ingest stream is extending the index), and
    restarting the serve on the next snapshot — base codes plus the
    ingest stream's emitted rows — surfaces the newly ingested
    vectors as neighbors."""
    from boatrace_database_spark.operators import similarity as SIM
    from boatrace_database_spark.streaming.ingest import (
        stream_ann_serve,
        stream_ivfpq_ingest,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10)
    base = emb.where((F.col("vec_id") >= 10) & (F.col("vec_id") < 120))
    arriving = emb.where(F.col("vec_id") >= 120)
    codes, cents, books = SIM.ivfpq_build_index(
        base, n_cells=4, n_subspaces=8, n_codes=16
    )
    codes = codes.localCheckpoint(eager=True)
    deliver = _make_deliver(tmp_path)

    # serve generation 1 on the base snapshot, ingest running alongside
    src1, sink1, ck1 = (str(tmp_path / n) for n in ("s1", "k1", "c1"))
    isrc = str(tmp_path / "isrc")
    os.makedirs(src1)
    os.makedirs(isrc)
    qi = stream_ivfpq_ingest(
        spark, isrc, emb.schema, codes, cents, books, query_name="rot_ing"
    )
    qs = stream_ann_serve(
        spark, src1, emb.schema, codes, cents, books, sink1, ck1,
        k=3, query_name="rot_s1",
    )
    try:
        deliver(arriving, "ri", f"{isrc}/c1.parquet")
        qi.processAllAvailable()
        deliver(queries, "rq", f"{src1}/c1.parquet")
        qs.processAllAvailable()
        gen1 = {
            (r.query_id, r.neighbor_id, round(r.score, 9), r.rk)
            for r in spark.read.parquet(sink1).collect()
        }
        streamed = spark.table("rot_ing").localCheckpoint(eager=True)
    finally:
        qs.stop()
        qi.stop()

    want1 = {
        (r.query_id, r.neighbor_id, round(r.score, 9), r.rk)
        for r in SIM.ivfpq_probe(codes, cents, books, queries, k=3).collect()
    }
    # generation isolation: serving saw ONLY its snapshot even though
    # the ingest ran concurrently in the same session
    assert gen1 == want1
    assert not any(n >= 120 for (_, n, _, _) in gen1)

    # rotate: next snapshot = base codes + the ingest stream's rows
    snap2 = codes.unionByName(streamed).localCheckpoint(eager=True)
    src2, sink2, ck2 = (str(tmp_path / n) for n in ("s2", "k2", "c2"))
    os.makedirs(src2)
    qs2 = stream_ann_serve(
        spark, src2, emb.schema, snap2, cents, books, sink2, ck2,
        k=3, query_name="rot_s2",
    )
    try:
        deliver(queries, "rq2", f"{src2}/c1.parquet")
        qs2.processAllAvailable()
        gen2 = {
            (r.query_id, r.neighbor_id, round(r.score, 9), r.rk)
            for r in spark.read.parquet(sink2).collect()
        }
    finally:
        qs2.stop()

    want2 = {
        (r.query_id, r.neighbor_id, round(r.score, 9), r.rk)
        for r in SIM.ivfpq_probe(snap2, cents, books, queries, k=3).collect()
    }
    assert gen2 == want2
    # the rotated snapshot actually surfaces ingested vectors: with
    # 110 base vs ~3880 arriving vectors, some top-3 is new
    assert any(n >= 120 for (_, n, _, _) in gen2)
