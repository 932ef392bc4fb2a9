"""Structured Streaming extensions (SURVEY §7.1 M7).

The reference ingests batch daily files; the streaming layer makes the
same pipeline incremental:

- `stream_events_rollup`: watermarked tumbling-window aggregate over an
  event stream (the streaming twin of queries/analytics.time_tumble —
  same window semantics, late data bounded by the watermark).
- `stream_sessionize`: watermarked SESSION-window aggregate (native
  `F.session_window`, dynamic-gap merge) — the third windowing mode,
  batch twin queries/analytics.time_session.
- `stream_interval_join`: STREAM-STREAM join (inner or left-outer)
  with watermarks on both sides and an event-time range predicate, so
  the per-side join buffers stay time-bounded (views x purchases
  within a horizon); outer no-match rows emit once the watermark
  closes their window.
- `stream_running_counters` / `stream_asof_enrich`: custom stateful
  operators via applyInPandasWithState (running aggregates, as-of
  enrichment) with batch-operator parity tests.
- `stream_funnel`: per-user staged-conversion state (the streaming
  twin of operators/behavior.funnel_summary) — stage times set once,
  in (ts, stage-index) order, exact batch parity under in-order
  delivery.
- `stream_event_edges`: per-user (from → to) transition edges as
  events arrive (the edge-extraction half of
  operators/behavior.event_transitions), bridging micro-batch
  boundaries through the stored last event; each edge emits once.
- `stream_dedup_exact` / `stream_dedup_minhash` / `stream_dedup_simhash`
  / `stream_dedup_semantic`: incremental exact and NEAR-dup detection
  with first-seen state contracts — the streaming twins of ALL FOUR
  batch dedup modalities (hash-groupBy, LSH-banded, chunk-blocked,
  and IVF-cell-scoped semantic with a static prebuilt quantizer).
- `stream_decontaminate`: per-arriving-doc n-gram contamination rate
  against a STATIC benchmark gram set (broadcast membership — the
  stream-static pattern; no state, no shuffle).
- `stream_decontaminate_semantic`: the embedding-space twin — max
  cosine of each arriving vector against the broadcast eval matrix,
  the SAME Arrow UDF as the batch operator, so parity is exact under
  any arrival order (stateless stream-static).
- `stream_quality_gate`: arriving docs kept iff their quality score
  clears their group's STATIC calibrated quantile threshold
  (corpus.quantile_thresholds) — stream-static like the
  decontamination gate, stateless, all-codegen scoring.
- `stream_ingest_parquet` / `stream_ingest_boatrace`: file-source
  streams appending (or partition-replacing) newly arriving files into
  the warehouse via foreachBatch (exactly-once per epoch for an
  idempotent sink).
- the online index matrix — maintenance AND serving for BOTH
  retrieval families: `stream_ivfpq_ingest` / `stream_bm25_ingest`
  extend a persisted index per epoch (vectors encoded against the
  frozen quantizer / docs appended via the sidecar-guarded batch
  add — both byte-parity with their batch twins), and
  `stream_ann_serve` / `stream_bm25_serve` / `stream_hybrid_serve`
  answer arriving queries top-k via the batch `ivfpq_probe` /
  `bm25_topk_prebuilt` / `rrf_fuse` per epoch inside foreachBatch
  (exact batch parity by per-query independence, bucket-pruned index
  scans per epoch on the lexical side).

All are file-source streams, so local tests drive them synchronously
with processAllAvailable(); on a cluster the same code tails a bucket
or a Kafka topic by swapping readStream.format. Exception: once
``state_ttl_ms`` enables ProcessingTimeTimeout, the engine keeps
scheduling timeout-check batches and processAllAvailable() never
settles — TTL tests poll the sink instead (wait_until), which is also
why every TTL contract test is written that way.

These helpers carry what the entry points share:

- `_keyed_state` is the one applyInPandasWithState site. Each custom
  stateful operator hands it a per-group ``fn(key, batch, prev) ->
  (new_state, out_frame)``; the state lifecycle (timed-out group →
  remove, update, TTL re-arm, NoTimeout vs ProcessingTimeTimeout)
  lives once, in `_state_step`. The near-dup twins also share one
  capped first-seen admission loop, `_admit_capped`, and the text
  twins one shingling prelude, `_shingled`.
- `_start` is the one sink path: a memory sink, or a foreachBatch sink.
  A foreachBatch sink REQUIRES ``checkpoint_dir`` and is refused
  (ValueError) before any query starts without one — an
  uncheckpointed foreachBatch append restarts from offset zero and
  double-appends every prior epoch. `_append_parquet` is the one
  parquet-append body such a sink runs.
- `_each_epoch` is the one tail of the batch-operator streams (the
  serve twins and `stream_bm25_ingest`): the batch operator runs once
  per non-empty micro-batch, the serves' output appended to their
  sink. The dense and lexical probes it runs are `_ann_probe` and
  `_bm25_probe`, shared by the single serves and the hybrid serve.

The twins compute with their batch twins' own kernels rather than
copies: MinHash banding (`dedup._minhash_banded`, rows per band from
`dedup._rows_per_band`), Hamming chunking (`dedup._hamming_chunked`),
the SimHash bit rule (`dedup._simhash_per_row`) and the IVF-PQ row
encoder (`similarity._pq_extend_rows`).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from boatrace_database_spark.timeutil import normalize_ts


def _id_type(schema: StructType, col: str):
    """(DDL string, python converter) for an id/key column, DERIVED
    from the caller's schema — long- and string-keyed streams flow
    through the same state functions (r6 verdict: five state ops
    hardcoded LONG while the semantic twin derived its type; this is
    that derivation, shared). Integral types stay integral, strings
    stay strings; anything else is an explicit error rather than a
    crash inside the state function."""
    from pyspark.sql.types import IntegralType, StringType

    dt = schema[col].dataType
    if isinstance(dt, IntegralType):
        return dt.simpleString(), int
    if isinstance(dt, StringType):
        return dt.simpleString(), str
    raise ValueError(
        f"unsupported id column type {dt.simpleString()} for {col!r}: "
        "integral or string required"
    )


def _state_step(fn, ttl_ms: int | None):
    """The per-group step of every custom stateful operator — the one
    copy of the state lifecycle. ``fn(key, batch, prev)`` gets the
    group's rows as ONE pandas frame and the stored state tuple (None
    when the group has none) and returns ``(new_state, out_frame)``;
    ``new_state=None`` keeps no state (no update, no timeout).

    A timed-out group is removed and emits nothing: its next arrival
    sees ``prev=None`` — the re-admission contract every ``state_ttl_ms``
    docstring states. A set TTL is re-armed on every update."""
    import pandas as pd

    def step(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        new_state, out = fn(
            key, pd.concat(list(pdfs)), state.get if state.exists else None
        )
        if new_state is not None:
            state.update(new_state)
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        yield out

    return step


def _keyed_state(
    frame: DataFrame,
    by: list[str],
    fn,
    out_ddl: str,
    state_ddl: str,
    mode: str,
    ttl_ms: int | None,
) -> DataFrame:
    """The one applyInPandasWithState site: ``frame`` grouped by ``by``
    runs `_state_step(fn, ttl_ms)`. ``ttl_ms=None`` is NoTimeout (state
    held for the life of the query); a TTL is ProcessingTimeTimeout."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return frame.groupBy(*by).applyInPandasWithState(
        _state_step(fn, ttl_ms),
        outputStructType=out_ddl,
        stateStructType=state_ddl,
        outputMode=mode,
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def _admit_capped(batch, ids, members, cid, max_members, as_member, match):
    """The capped first-seen admission policy of the near-dup twins
    (stated on `stream_dedup_minhash`): rows visit in id order; each is
    scored against every stored member, and a non-None
    ``match(row_member, member)`` payload emits
    ``(member id, row id, *payload)``; the row is then admitted while
    the bucket holds fewer than ``max_members``. ``ids``/``members`` are
    the decoded bucket state, extended in place; returns the rows."""
    out = []
    for row in batch.sort_values("id").itertuples():
        rid, m = cid(row.id), as_member(row)
        for mid, member in zip(ids, members):
            hit = match(m, member)
            if hit is not None:
                out.append((cid(mid), rid, *hit))
        if len(ids) < max_members:
            ids.append(rid)
            members.append(m)
    return out


def _start(
    frame: DataFrame,
    query_name: str | None,
    mode: str = "append",
    *,
    each_batch=None,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """The one sink path. Without ``each_batch``: a memory sink named
    ``query_name`` (the test/demo shape). With it: a foreachBatch sink,
    which REQUIRES ``checkpoint_dir`` — an uncheckpointed foreachBatch
    append restarts from offset zero and double-appends every prior
    row, so the call is refused before any query starts.
    ``query_name=None`` leaves the query unnamed."""
    writer = frame.writeStream.outputMode(mode)
    if each_batch is None:
        writer = writer.format("memory")
    elif checkpoint_dir is None:
        raise ValueError(
            f"{query_name or 'stream'}: a foreachBatch sink requires "
            "checkpoint_dir (restart without one reprocesses from offset "
            "zero and double-appends into the sink)"
        )
    else:
        writer = writer.foreachBatch(each_batch).option(
            "checkpointLocation", checkpoint_dir
        )
    if query_name is not None:
        writer = writer.queryName(query_name)
    return writer.start()


def _append_parquet(path: str):
    """The one parquet-append body: a foreachBatch function appending
    each epoch's frame to the parquet table at ``path``."""
    return lambda frame, epoch_id: frame.write.mode("append").parquet(path)


def _each_epoch(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    run,
    query_name: str,
    checkpoint_dir: str,
    sink_dir: str | None = None,
) -> StreamingQuery:
    """The tail of every batch-operator stream: parquet files arriving
    under ``source_dir`` run ``run(batch)`` — a batch operator — once
    per non-empty micro-batch, through `_start`'s checkpointed
    foreachBatch sink. With ``sink_dir`` the frame ``run`` returns is
    appended there."""
    append = _append_parquet(sink_dir) if sink_dir is not None else None

    def each_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        out = run(batch)
        if append is not None:
            append(out, epoch_id)

    return _start(
        spark.readStream.schema(schema).parquet(source_dir),
        query_name,
        each_batch=each_batch,
        checkpoint_dir=checkpoint_dir,
    )


def _ann_probe(codes, centroids, books, id_col, vec_col, refine=0, corpus=None):
    """``probe(batch, k=…)``: the batch `ivfpq_probe` against the frozen
    index at its derived nprobe — the dense side of `stream_ann_serve`
    and `stream_hybrid_serve`."""
    from boatrace_database_spark.operators.similarity import ivfpq_probe

    return partial(
        ivfpq_probe, codes, centroids, books,
        id_col=id_col, vec_col=vec_col, refine=refine, corpus=corpus,
    )


def _bm25_probe(spark, index_path, query_id_col, query_text_col, k1, b, n_buckets):
    """``probe(batch, k=…)``: the batch `bm25_topk_prebuilt` against the
    persisted index — the lexical side of `stream_bm25_serve` and
    `stream_hybrid_serve`."""
    from boatrace_database_spark.operators.retrieval import bm25_topk_prebuilt

    return partial(
        bm25_topk_prebuilt, spark, index_path,
        query_id_col=query_id_col, query_text_col=query_text_col,
        k1=k1, b=b, n_buckets=n_buckets,
    )


def stream_events_rollup(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    window: str = "1 hour",
    watermark: str = "2 hours",
    query_name: str = "events_rollup",
    slide: str | None = None,
) -> StreamingQuery:
    """Watermarked tumbling-window count/sum per event_type -> memory sink.

    The watermark bounds state: windows older than (max ts - watermark)
    finalize and late rows drop — the knob that keeps unbounded streams
    at bounded memory on a real cluster.

    ``slide`` turns the tumble into a HOPPING window (each event lands
    in window/slide overlapping windows — the streaming twin of the
    batch ``time_hopping`` catalog query); state grows by the same
    factor, still watermark-bounded.
    """
    events = normalize_ts(spark.readStream.schema(schema).parquet(source_dir))
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            "n",
            "total",
        )
    )
    return _start(agg, query_name)


def stream_sessionize(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    query_name: str = "sessionize",
) -> StreamingQuery:
    """Watermarked SESSION-window aggregate per user — the streaming
    twin of queries/analytics.time_session, on Spark's native
    ``F.session_window`` (dynamic-gap windows that MERGE while events
    keep arriving within ``gap`` of the session's current end).

    This is the third streaming windowing mode next to the rollup's
    tumble/hop: state per open session, merged on overlap, finalized
    and emitted (append mode) once the watermark passes the session
    end — the engine-provided replacement for the stateful
    gaps-and-islands pass an unbounded sessionization would otherwise
    need. A session only closes when the user goes quiet for ``gap``
    AND the watermark advances past that moment, so state is bounded
    by (open sessions) x (watermark horizon), independent of stream
    length.
    """
    events = normalize_ts(spark.readStream.schema(schema).parquet(source_dir))
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total",
        )
    )
    return _start(agg, query_name)


def stream_running_counters(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    query_name: str = "running_counters",
    state_ttl_ms: int | None = None,
) -> StreamingQuery:
    """Custom stateful streaming operator: per-user running event count
    and value sum via applyInPandasWithState (SURVEY §7 M7 'custom
    stateful operators').

    State = one (count, total) pair per user, updated per micro-batch;
    arbitrary state survives across batches through the GroupState
    handle — the building block any reference-style running counter
    (P4) needs when the input is unbounded.

    ``state_ttl_ms`` bounds state exactly like the stream-dedup
    family: a user idle longer than the TTL (processing time) is
    EVICTED, and their next event restarts the counters from zero —
    the deliberate trade for bounded state on an unbounded key space
    (a session-scoped counter, not a lifetime one). None keeps the
    lifetime-counter semantics with unbounded state.
    """
    import pandas as pd

    uddl, _ = _id_type(schema, "user_id")
    events = normalize_ts(spark.readStream.schema(schema).parquet(source_dir))

    def update(key, batch, prev):
        n, total = prev or (0, 0.0)
        n += len(batch)
        total += float(batch["value"].sum())
        return (n, total), pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    out = _keyed_state(
        events, ["user_id"], update,
        f"user_id {uddl}, n_events LONG, total_value DOUBLE",
        "n LONG, total DOUBLE", "update", state_ttl_ms,
    )
    return _start(out, query_name, "update")


def stream_asof_enrich(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    query_name: str = "asof_enriched",
    state_ttl_ms: int | None = None,
) -> StreamingQuery:
    """Streaming as-of join twin (operators/joins.asof_join, unbounded):
    purchases are enriched with the user's most recent prior-or-equal
    view value. State per user = (last_view_ts_us, last_view_value);
    rows are replayed in timestamp order inside each micro-batch, so
    within-batch ordering matches the batch operator.

    ``state_ttl_ms`` bounds state exactly like the stream-dedup
    family: a user idle longer than the TTL (processing time) loses
    their last-view state, and a purchase arriving after eviction gets
    the no-prior-view sentinel (-1.0) until a fresh view re-admits
    them — an as-of join with a recency horizon, the bounded-state
    semantics an unbounded user space needs. None keeps lookback
    unbounded.
    """
    import pandas as pd

    uddl, _ = _id_type(schema, "user_id")
    eddl, _ecid = _id_type(schema, "event_id")
    events = normalize_ts(spark.readStream.schema(schema).parquet(source_dir))
    relevant = events.where(F.col("event_type").isin("view", "purchase"))

    def enrich(key, batch, prev):
        last_ts, last_val = prev or (None, None)
        out_rows = []
        for row in batch.sort_values(["ts", "event_id"]).itertuples():
            ts_us = int(row.ts.value // 1000)
            if row.event_type == "view":
                if last_ts is None or ts_us >= last_ts:
                    last_ts, last_val = ts_us, float(row.value)
            else:  # purchase
                out_rows.append(
                    (_ecid(row.event_id), key[0],
                     round(last_val, 4) if last_val is not None else -1.0)
                )
        return (
            (last_ts if last_ts is not None else -1,
             last_val if last_val is not None else -1.0),
            pd.DataFrame(
                out_rows, columns=["event_id", "user_id", "last_view_value"]
            ),
        )

    out = _keyed_state(
        relevant, ["user_id"], enrich,
        f"event_id {eddl}, user_id {uddl}, last_view_value DOUBLE",
        "last_ts LONG, last_val DOUBLE", "append", state_ttl_ms,
    )
    return _start(out, query_name)


def stream_funnel(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    query_name: str = "funnel_state",
    state_ttl_ms: int | None = None,
    within_seconds: int | None = None,
) -> StreamingQuery:
    """Streaming twin of operators/behavior.funnel_summary: per-user
    funnel progress through view → click → purchase maintained as
    unbounded events arrive.

    State per user = one microsecond timestamp per stage (-1 unset).
    Each micro-batch replays the user's funnel-type events in
    (ts, stage-index) order — the same tiebreak as the batch fold —
    and sets stage k the first time a stage-k event is seen with
    stage k-1 already complete and ``ts >= t_{k-1}`` (the explicit
    guard matters across batches: a late event older than an
    already-set prior stage must not complete the next one). Stage
    times are monotone: set once, never lowered.

    Emits (update mode) each touched user's current
    ``stage_reached`` and per-stage times in epoch microseconds —
    downstream summaries aggregate this tiny per-user frame, never
    the event log.

    PARITY CONTRACT: with each user's events delivered in
    (ts, stage-index) order across micro-batches — event-time order,
    plus equal-timestamp stage events not split across batches in
    reverse stage order — the final state equals the batch fold
    exactly (tested on a 3-chunk ts-split replay, which keeps ties
    within a batch by construction). Two documented divergences, both
    arrival-order-resolved rather than rewritten: a late event older
    than an already-set prior stage never completes the next one (the
    batch operator would have used it), and an equal-ts pair split
    across batches with the higher stage first resolves in arrival
    order (the within-batch sort cannot reorder against stored
    state). The standard streaming-funnel trade, stated rather than
    hidden.

    ``state_ttl_ms`` bounds state like the rest of the family: a user
    idle past the TTL restarts their funnel from scratch.
    ``within_seconds`` applies the batch operators' conversion window
    (anchored at the user's funnel entry, second-boundary arithmetic).
    """
    import pandas as pd

    stages = ["view", "click", "purchase"]
    k = len(stages)
    idx_of = {s: i for i, s in enumerate(stages, start=1)}
    uddl, _ = _id_type(schema, "user_id")

    events = normalize_ts(spark.readStream.schema(schema).parquet(source_dir))
    relevant = events.where(F.col("event_type").isin(stages))

    def update(key, batch, prev):
        t = list(prev or [-1] * k)
        # no leading underscore: itertuples() renames such columns
        batch = batch.assign(sidx=batch["event_type"].map(idx_of))
        for row in batch.sort_values(["ts", "sidx"]).itertuples():
            i = int(row.sidx)
            ts_us = int(row.ts.value // 1000)
            qualifies = i == 1 or (t[i - 2] != -1 and ts_us >= t[i - 2])
            if qualifies and within_seconds is not None and i > 1:
                # conversion window anchored at funnel entry, second-
                # boundary arithmetic to match the batch operators
                qualifies = (ts_us // 1_000_000) <= (
                    t[0] // 1_000_000
                ) + within_seconds
            if t[i - 1] == -1 and qualifies:
                t[i - 1] = ts_us
        reached = sum(1 for v in t if v != -1)
        return tuple(t), pd.DataFrame(
            [(key[0], reached, *t)],
            columns=["user_id", "stage_reached"]
            + [f"t_{i}_us" for i in range(1, k + 1)],
        )

    out_ddl = f"user_id {uddl}, stage_reached INT, " + ", ".join(
        f"t_{i}_us LONG" for i in range(1, k + 1)
    )
    state_ddl = ", ".join(f"t{i} LONG" for i in range(1, k + 1))
    out = _keyed_state(
        relevant, ["user_id"], update, out_ddl, state_ddl, "update",
        state_ttl_ms,
    )
    return _start(out, query_name, "update")


def stream_sketch_rollup(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    key_col: str = "user_id",
    window: str = "1 day",
    watermark: str = "2 days",
    lgk: int = 12,
    query_name: str = "sketch_rollup",
) -> StreamingQuery:
    """Streaming twin of operators/sketches.distinct_sketches: one
    mergeable HLL sketch row per event-time tumbling window, built by
    the NATIVE watermarked windowed ``hll_sketch_agg`` — sketch
    merges ARE the engine's partial-aggregate merges, so there is no
    custom state function at all, and a window's row is emitted
    exactly once (append mode) when the watermark passes its end.

    This closes the incremental-sketch loop for unbounded inputs: the
    batch module's "persist one sketch row per day, answer any
    cross-day distinct from the tiny sketch table" pattern, with the
    per-day rows now produced by the stream itself. Downstream
    rollups use sketches.union_distinct_estimate unchanged — sketch
    union is commutative, so batch-built and stream-built rows mix
    freely in one table (parity-tested: per-window estimates AND the
    cross-window union equal the batch-built sketches').

    State = one (window, sketch) register set per open window —
    bounded by (windows inside the watermark horizon) × 2^lgk
    registers, independent of stream length or key cardinality.
    """
    events = normalize_ts(spark.readStream.schema(schema).parquet(source_dir))
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.hll_sketch_agg(F.col(key_col), F.lit(lgk)).alias("sketch"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "sketch",
            "n_rows",
        )
    )
    return _start(agg, query_name)


def stream_cms_rollup(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    key_col: str = "event_type",
    window: str = "1 day",
    watermark: str = "2 days",
    width: int = 1024,
    depth: int = 4,
    query_name: str = "cms_rollup",
) -> StreamingQuery:
    """Streaming twin of operators/sketches.cms_sketches — the
    FREQUENCY face next to ``stream_sketch_rollup``'s distinct face:
    one Count-Min sketch per event-time tumbling window, emitted as
    the batch module's long-format cell rows (window, d, w, cnt,
    width, depth) once the watermark passes the window (append mode).

    Like the HLL twin there is NO custom state: cells are the same
    md5-bucket explode the batch op uses, and the windowed
    ``count(*)`` per (window, d, w) cell IS the sketch build — the
    engine's partial-aggregate merges are the CMS counter adds. The
    emitted rows drop straight into the persisted sketch table:
    ``sketches.cms_merge`` / ``cms_estimate`` consume them unchanged
    (geometry columns ride along), and batch- and stream-built rows
    mix freely (parity-tested cell-for-cell).

    State = open windows × touched cells, hard-bounded by
    (windows inside the watermark horizon) × depth·width regardless
    of stream length or key cardinality.
    """
    from boatrace_database_spark.operators.sketches import _cms_bucket

    events = normalize_ts(spark.readStream.schema(schema).parquet(source_dir))
    key = F.col(key_col).cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                _cms_bucket(key, f"{d}:", width).alias("w"),
            )
            for d in range(depth)
        ]
    )
    agg = (
        events.where(F.col(key_col).isNotNull())
        .withWatermark("ts", watermark)
        .select(F.col("ts"), F.explode(cells).alias("c"))
        .groupBy(
            F.window("ts", window).alias("win"),
            F.col("c.d").alias("d"),
            F.col("c.w").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            "d", "w", "cnt",
            F.lit(width).alias("width"),
            F.lit(depth).alias("depth"),
        )
    )
    return _start(agg, query_name)


def stream_cohort_activity(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    cohort_event: str = "signup",
    query_name: str = "cohort_activity",
    state_ttl_ms: int | None = None,
) -> StreamingQuery:
    """Streaming twin of operators/behavior.cohort_retention's
    activity-cell extraction: emits ONE row per (user, week_offset)
    the FIRST time that user is active w whole weeks (day-exact,
    ``floor(days/7)`` — the batch operator's arithmetic) after their
    first ``cohort_event``. Cells emit exactly once (append mode), so
    the retention grid is then an ordinary aggregate over this tiny
    cell stream: ``count(*)`` per (week(cohort_day), offset) equals
    the batch grid's ``count_distinct(user)``, and the cohort size is
    the offset-0 count (every cohorted user's anchor event is itself
    offset-0 activity) — the same
    log-never-re-touched shape as ``stream_event_edges``.

    State per user = (cohort_day in epoch days, emitted offsets). The
    offsets array is bounded by the stream's lifetime in weeks (52
    entries/user/year), not by event volume.

    PARITY CONTRACT: with each user's events delivered in event-time
    order across micro-batches, aggregating the cells reproduces the
    batch ``cohort_retention`` grid exactly (tested on a ts-split
    replay where each user's cohort event is their earliest event).
    One arrival-order divergence, stated: the batch operator counts
    any event whose DATE is at-or-after the cohort day, including
    same-day events that precede the cohort event in time; the stream
    cannot retro-emit an event that arrived in an earlier micro-batch
    than the user's cohort event. Pre-cohort users carry no state
    beyond their arrivals being ignored.

    ``state_ttl_ms`` evicts idle users; their next cohort_event starts
    a fresh cohort (re-admission, like the rest of the family).
    """
    import pandas as pd

    uddl, _ = _id_type(schema, "user_id")
    events = normalize_ts(spark.readStream.schema(schema).parquet(source_dir))

    def cells(key, batch, prev):
        cohort_day, seen = prev or (None, ())
        seen = set(seen)
        # .value is ns-since-epoch for naive AND tz-aware timestamps
        days = [int(row.ts.value // 86_400_000_000_000)
                for row in batch.itertuples()]
        if cohort_day is None:
            anchors = [
                d for d, et in zip(days, batch["event_type"])
                if et == cohort_event
            ]
            if not anchors:
                # pre-cohort arrivals: nothing to anchor against (the
                # documented divergence); keep no state
                return None, pd.DataFrame(
                    [], columns=["user_id", "cohort_day", "week_offset"]
                )
            cohort_day = min(anchors)
        out = []
        for d in days:
            off = (d - cohort_day) // 7
            if d >= cohort_day and off not in seen:
                seen.add(off)
                out.append(
                    (key[0], pd.Timestamp(cohort_day * 86_400_000_000_000),
                     off)
                )
        return (cohort_day, sorted(seen)), pd.DataFrame(
            out, columns=["user_id", "cohort_day", "week_offset"]
        )

    out = _keyed_state(
        events, ["user_id"], cells,
        f"user_id {uddl}, cohort_day TIMESTAMP, week_offset LONG",
        "cohort_day LONG, seen ARRAY<LONG>", "append", state_ttl_ms,
    )
    return _start(out, query_name)


def stream_event_edges(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    query_name: str = "event_edges",
) -> StreamingQuery:
    """Streaming twin of operators/behavior.event_transitions' edge
    extraction: per-user (from_type → to_type) adjacency edges as
    events arrive. State per user = (last_ts_us, last_event_id,
    last_type); each micro-batch replays the user's events in
    (ts, event_id) order — the batch window's exact sort key — and
    emits one edge per consecutive pair, bridging across batches via
    the stored last event (append mode: each edge emits exactly once).

    Downstream transition counts/probabilities are then an ordinary
    (streaming or batch) aggregate over this tiny edge stream — the
    log itself is never re-touched, same shape as the batch operator.

    Per-user delivery in (ts, event_id) order across batches gives
    exact batch-pair parity (tested: the ordered-replay edge multiset
    equals the batch lead-window pairs; the ts-split chunker keeps
    equal-ts events within one batch). Equal-ts events split across
    batches out of event_id order resolve in arrival order — the
    stored last event is never re-sorted against a later arrival.
    State is held for the life of the query.
    """
    import pandas as pd

    uddl, _ = _id_type(schema, "user_id")
    eddl, _ecid = _id_type(schema, "event_id")
    events = normalize_ts(spark.readStream.schema(schema).parquet(source_dir))

    def edges(key, batch, prev):
        # existence of a previous event is carried by the state's
        # presence itself (a typed id has no universal "-1 unset" sentinel)
        has_prev = prev is not None
        last_ts, last_eid, last_type = prev or (0, None, "")
        out = []
        for row in batch.sort_values(["ts", "event_id"]).itertuples():
            if has_prev:
                out.append((key[0], last_type, str(row.event_type)))
            has_prev = True
            last_ts = int(row.ts.value // 1000)
            last_eid = _ecid(row.event_id)
            last_type = str(row.event_type)
        return (last_ts, last_eid, last_type), pd.DataFrame(
            out, columns=["user_id", "from_type", "to_type"]
        )

    out = _keyed_state(
        events, ["user_id"], edges,
        f"user_id {uddl}, from_type STRING, to_type STRING",
        f"last_ts LONG, last_eid {eddl}, last_type STRING", "append", None,
    )
    return _start(out, query_name)


def _interval_join_frames(
    views: DataFrame, purchases: DataFrame, horizon: str, how: str = "inner"
) -> DataFrame:
    """Shared shape of the view->purchase interval join: each purchase
    matched with every view by the same user in the preceding
    ``horizon``. One definition serves the batch expectation AND the
    stream-stream query so the parity test compares the same plan
    logic, not two hand-written variants. ``how='leftOuter'`` keeps
    view-less purchases with NULL view columns and lag_seconds -1
    (the no-match sentinel, same convention as stream_asof_enrich)."""
    v = views.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    p = purchases.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = p.join(
        v,
        on=[
            p["p_user"] == v["v_user"],
            p["purchase_ts"] >= v["view_ts"],
            p["purchase_ts"] <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}"),
        ],
        how=how,
    )
    return joined.select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "view_id",
        F.round("view_value", 2).alias("view_value"),
        F.coalesce(
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts"),
            F.lit(-1).cast("bigint"),
        ).alias("lag_seconds"),
    )


def stream_interval_join(
    spark: SparkSession,
    views_dir: str,
    purchases_dir: str,
    schema: StructType,
    horizon: str = "10 minutes",
    watermark: str = "2 hours",
    query_name: str = "interval_join",
    how: str = "inner",
) -> StreamingQuery:
    """STREAM-STREAM join: a stream of purchases joined against a
    stream of views on user_id with an event-time interval condition
    (purchase within ``horizon`` after the view) — the canonical
    Structured Streaming two-stream pattern (ad impression x click).

    ``how='leftOuter'`` adds the unmatched-purchase rows (NULL view
    columns, lag_seconds -1): Spark can only emit a no-match verdict
    once the WATERMARK has passed the purchase's whole match window —
    a view that would match can no longer arrive — so outer results
    trail the watermark by design (inner matches still emit
    immediately). The batch-parity test asserts exactly that split.

    Both sides carry a watermark and the join predicate bounds the
    event-time distance, which is exactly what lets Spark EVICT
    buffered rows: a view older than (watermark - horizon) can never
    match a future purchase, so the join state is a sliding
    time-bounded buffer per side, not the whole stream — the property
    that makes this run indefinitely on a cluster. Without the range
    condition Spark would have to keep every view forever.

    Batch parity: the same `_interval_join_frames` builder over the
    same files must produce the same rows (tested); late data beyond
    the watermark is the only divergence allowed.
    """
    views = normalize_ts(
        spark.readStream.schema(schema).parquet(views_dir)
    ).withWatermark("ts", watermark)
    purchases = normalize_ts(
        spark.readStream.schema(schema).parquet(purchases_dir)
    ).withWatermark("ts", watermark)
    out = _interval_join_frames(views, purchases, horizon, how)
    return _start(out, query_name)


def stream_dedup_exact(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_name: str = "stream_dedup",
    state_ttl_ms: int | None = None,
    sink_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Incremental exact dedup over an unbounded document stream: each
    arriving document is flagged against every document seen so far.

    **Deployment sinks**: the default memory sink is the test/demo
    shape. Pass ``sink_dir`` (parquet append via foreachBatch) plus
    ``checkpoint_dir`` for the production shape: the checkpoint
    persists BOTH the source offsets and the keeper state store, so a
    stopped/crashed/redeployed query restarts exactly where it left
    off — duplicates of documents seen before the restart are still
    flagged against the original keepers (the restart contract,
    asserted in tests/test_streaming.py). At 100 TB the checkpoint
    lives on shared storage and this is what makes the seen-set
    durable without the warehouse-backed batch twin.

    **Keeper semantics: FIRST-SEEN-WINS** (min-id only within a single
    micro-batch). This is the same contract as Spark's own streaming
    ``dropDuplicates``: append mode cannot retract rows already
    emitted, so once a keeper is chosen for a fingerprint it is final —
    a lower id arriving in a LATER micro-batch is flagged as a
    duplicate of the earlier keeper, NOT promoted. Consequences:

    - The duplicate *sets* (which documents share a fingerprint) are
      identical to batch ``exact_dedup`` under ANY replay order /
      chunking — set membership is a pure function of the text.
    - The keeper *identity* matches batch dedup's global min-id only
      when the replay is id-ordered across batches (asserted in
      tests); under unordered replay the keeper is the first arrival
      (still exactly one per set, still a member of its set — the
      property test replays a shuffled corpus and checks these
      invariants). Callers needing batch-identical keepers must either
      replay in id order or re-key downstream with one batch
      ``min(id) GROUP BY fp`` over the flagged output.

    State = one keeper id per normalized-text fingerprint (md5 of
    lowercased, whitespace-collapsed text — the same canonical form as
    operators/text.fingerprint), held via applyInPandasWithState keyed
    by fingerprint. Output: (id, keeper_id, is_duplicate). At 100 TB
    the state shards by fingerprint hash across executors — the
    streaming twin of the hash-groupBy shuffle.

    **State lifecycle** (``state_ttl_ms``): with the default ``None``
    the state is held for the life of the query — bounded per
    fingerprint, unbounded in fingerprints on a truly endless stream.
    Setting a TTL turns on ``ProcessingTimeTimeout`` eviction: a
    fingerprint whose state goes ``state_ttl_ms`` of processing time
    without a new arrival is dropped at the next micro-batch.
    **Re-admission contract**: eviction FORGETS the keeper — the
    evicted fingerprint's next arrival is treated as first-seen and
    becomes a NEW keeper (``is_duplicate=false``). Dedup becomes
    windowed-exact: exact within any TTL-long window, and a duplicate
    arriving later than the TTL after its group's last sighting is a
    keeper again (asserted in tests/test_streaming.py). That trade —
    bounded state for bounded lookback — is the standard unbounded-
    stream posture; pick the TTL from the duplicate-arrival-lag
    distribution. (The ``transformWithStateInPandas`` state-v2 vehicle
    is adjudicated closed — its worker protocol needs the
    google.protobuf runtime, absent from this image; this operator's
    per-group TTL expresses the same surface. ARCHITECTURE.md has the
    full adjudication.)
    """
    import pandas as pd

    from boatrace_database_spark.operators.text import fingerprint

    iddl, _cid = _id_type(schema, id_col)
    docs = spark.readStream.schema(schema).parquet(source_dir)
    keyed = docs.select(
        F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fp")
    )

    def flag(key, batch, prev):
        keeper = prev[0] if prev is not None else None
        out = []
        for doc_id in batch.sort_values("id")["id"]:
            if keeper is None:
                keeper = _cid(doc_id)
            out.append((_cid(doc_id), keeper, _cid(doc_id) != keeper))
        return (keeper,), pd.DataFrame(
            out, columns=["id", "keeper_id", "is_duplicate"]
        )

    flagged = _keyed_state(
        keyed, ["fp"], flag,
        f"id {iddl}, keeper_id {iddl}, is_duplicate BOOLEAN",
        f"keeper {iddl}", "append", state_ttl_ms,
    )

    return _start(
        flagged, query_name,
        each_batch=_append_parquet(sink_dir) if sink_dir is not None else None,
        checkpoint_dir=checkpoint_dir,
    )


def stream_dedup_within_watermark(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    key_cols: list[str],
    ts_col: str = "ts",
    delay: str = "10 minutes",
    query_name: str = "stream_dedup_wm",
) -> StreamingQuery:
    """EVENT-TIME-bounded streaming dedup via the native
    ``dropDuplicatesWithinWatermark``: emit the first arrival per key,
    suppress duplicates whose event times fall within ``delay`` of it,
    and let the watermark evict the key's state once event time moves
    past first-occurrence + delay.

    The event-time twin of the custom family's ``state_ttl_ms``
    (processing-time TTL): eviction here is a function of the DATA's
    timestamps, so a historical replay behaves identically to the
    live run — processing-time TTLs depend on wall-clock batch timing
    and cannot promise that. Same windowed-dedup trade, stated in
    event time: exact within any ``delay``-long event-time window; a
    duplicate arriving after the watermark passed its group's state is
    re-admitted as a fresh keeper (asserted in tests). Versus plain
    streaming ``dropDuplicates(keys)``, whose state grows forever on
    an endless stream, and versus including the timestamp in the key,
    which only drops EXACT (key, ts) repeats.

    Implementation is entirely JVM-side (no Python in the hot path,
    unlike the applyInPandasWithState family — this is the operator
    to reach for when first-seen-wins on a plain key is enough and no
    custom per-group logic is needed); state shards by key hash
    across executors exactly like the batch groupBy shuffle.
    ``ts_col`` must already be TimestampType (normalize upstream with
    ``timeutil.normalize_ts``).
    """
    rows = spark.readStream.schema(schema).parquet(source_dir)
    deduped = rows.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        key_cols
    )
    return _start(deduped, query_name)


def stream_dedup_bloom(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_name: str = "stream_dedup_bloom",
    n_shards: int = 64,
    m_bits_per_shard: int = 1 << 17,
    k: int = 7,
) -> StreamingQuery:
    """Exact-fingerprint stream dedup with BOUNDED state: the seen-set
    lives in ``n_shards`` fixed-size Bloom bit arrays (total state =
    n_shards × m/8 bytes, CONSTANT for the life of the query) instead
    of one state row per fingerprint. The third point in the state-
    lifecycle trade space next to ``stream_dedup_exact``'s exact-but-
    growing state and its TTL windowed-exact mode:

    - **No false negatives**: a true duplicate is ALWAYS flagged
      (``is_duplicate=true``), under any replay order/chunking.
    - **False positives**: a genuinely new document is wrongly flagged
      at the filter's FP rate (≈ (1-e^{-kn/m})^k as each shard fills;
      size m per expected per-shard cardinality). The flagged output
      carries no keeper id — a bloom stores membership, not values —
      so FP-sensitive consumers route flagged docs through an exact
      recheck (the batch `dedup_incremental_bloom` composition),
      keeping end-to-end results exact while the STREAM state stays
      constant.

    State shards by fingerprint hash (`pmod(xxhash64(fp), n_shards)`),
    so each micro-batch group touches one bit array; positions are
    computed JVM-side, the per-shard bit test/set is numpy over the
    state bytes. Output: (id, is_duplicate).
    """
    import numpy as np
    import pandas as pd

    from boatrace_database_spark.operators.bloom import (
        _positions,
        insert_positions,
        test_positions,
    )
    from boatrace_database_spark.operators.text import fingerprint

    m = m_bits_per_shard
    iddl, _cid = _id_type(schema, id_col)
    docs = spark.readStream.schema(schema).parquet(source_dir)
    fp = fingerprint(F.col(text_col))
    keyed = docs.select(
        F.col(id_col).alias("id"),
        F.pmod(F.xxhash64(fp), F.lit(n_shards)).alias("shard"),
        _positions(fp, m, k).alias("pos"),  # ONE hash-family definition
        # shared with the batch sketch — batch/stream cannot drift
    )

    n_bytes = (m + 7) // 8

    def flag(key, batch, prev):
        bits = (
            np.frombuffer(prev[0], dtype=np.uint8).copy()
            if prev is not None
            else np.zeros(n_bytes, dtype=np.uint8)
        )
        batch = batch.sort_values("id")
        out = []
        for doc_id, pos in zip(batch["id"], batch["pos"]):
            p = np.asarray(pos, dtype=np.int64)
            dup = bool(test_positions(bits, p))
            insert_positions(bits, p)  # set AFTER testing: within-batch
            # duplicates of an earlier row in the same shard still flag
            out.append((_cid(doc_id), dup))
        return (bits.tobytes(),), pd.DataFrame(out, columns=["id", "is_duplicate"])

    flagged = _keyed_state(
        keyed, ["shard"], flag, f"id {iddl}, is_duplicate BOOLEAN",
        "bits BINARY", "append",
        None,  # state is constant-size by construction; a TTL would
        # only reset the lookback
    )
    return _start(flagged, query_name)


def _shingled(spark, source_dir, schema, id_col, text_col, shingle_n):
    """(id, _sh) rows of the arriving docs that have at least one
    shingle — the prelude of the MinHash and SimHash twins. Docs with
    fewer than ``shingle_n`` tokens drop, exactly like the batch
    groupBy over exploded shingles."""
    from boatrace_database_spark.operators.dedup import word_shingles

    docs = spark.readStream.schema(schema).parquet(source_dir)
    return docs.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_n).alias("_sh"),
    ).where(F.size("_sh") >= 1)


def stream_dedup_minhash(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_members: int = 256,
    query_name: str = "stream_minhash",
    state_ttl_ms: int | None = None,
) -> StreamingQuery:
    """Incremental NEAR-dup detection over an unbounded document stream:
    the streaming twin of operators/dedup.minhash_lsh_pairs (same
    xxhash64 signatures, same banding, same estimated-Jaccard scoring),
    with the same first-seen state contract as ``stream_dedup_exact``.

    Per-row signatures: the batch operator computes min-hashes with a
    groupBy over exploded shingles; a stream can't wait for a shuffle,
    so the SAME k min-hashes come from array_min over the row's shingle
    array — identical values (same xxhash64 seeds, same tokenizer), no
    state, no shuffle. Docs with fewer than shingle_n tokens produce no
    signature and are dropped, exactly like the batch groupBy.

    State shards by (band, bucket) — the streaming analog of the batch
    per-bucket join — holding up to ``max_members`` first-seen
    (id, signature) members. Each arriving doc is scored against its
    buckets' members; rows (id_a=member, id_b=doc, band, est_jaccard)
    are emitted for every member with est >= threshold, so the
    distinct (id_a, id_b) set over all bands equals the batch pair
    list under id-ordered replay (asserted in tests).

    ``max_members`` bounds state SIZE per bucket, but its semantics in
    the capped regime differ from the batch ``_cap_buckets``: batch
    drops every row of an over-cap bucket (no pairs at all), whereas
    the stream stops ADMITTING new members yet still scores capped-out
    arrivals against the stored members — a capped streaming bucket
    over-emits relative to batch. Parity holds whenever no bucket
    exceeds the cap (the regime the parity tests run in); the
    divergence direction and bound are pinned by
    tests/test_streaming.py::test_stream_minhash_capped_bucket_over_emits
    (stream pairs ⊇ batch pairs; every extra pair anchors on one of
    the ≤ max_members stored members, so extra pairs per bucket are
    ≤ max_members · arrivals, never arrivals²).

    ``state_ttl_ms``: optional ProcessingTimeTimeout eviction of idle
    buckets — same re-admission contract as ``stream_dedup_exact``
    (an evicted bucket restarts empty; near-dup detection becomes
    TTL-windowed), trading bounded lookback for state bounded in the
    number of RECENTLY-ACTIVE buckets instead of all buckets ever.
    """
    import numpy as np
    import pandas as pd

    from boatrace_database_spark.operators.dedup import _minhash_banded, _rows_per_band

    rows_per_band = _rows_per_band(num_hashes, bands)
    iddl, _cid = _id_type(schema, id_col)
    shingled = _shingled(spark, source_dir, schema, id_col, text_col, shingle_n)

    def _seeded_hash(seed: int):
        # factory, NOT a default arg: a two-parameter lambda would be
        # treated by F.transform as an (element, index) lambda and the
        # index column would silently replace the seed
        return lambda s: F.xxhash64(s, F.lit(seed))

    sig = shingled.select(
        "id",
        F.array(
            *[
                F.array_min(F.transform("_sh", _seeded_hash(seed)))
                for seed in range(num_hashes)
            ]
        ).alias("sig"),
    )
    banded = _minhash_banded(sig, bands, rows_per_band)

    def flag(key, batch, prev):
        ids, flat = prev or ([], [])
        ids = list(ids)
        members = [
            np.asarray(flat[i * num_hashes : (i + 1) * num_hashes])
            for i in range(len(ids))
        ]
        band = int(key[0])  # the group key is (band, bucket)

        def match(s, msig):
            est = round(float((s == msig).mean()), 6)
            return (band, est) if est >= threshold else None

        out = _admit_capped(
            batch, ids, members, _cid, max_members,
            lambda row: np.asarray(row.sig), match,
        )
        return (ids, [int(v) for m in members for v in m]), pd.DataFrame(
            out, columns=["id_a", "id_b", "band", "est_jaccard"]
        )

    flagged = _keyed_state(
        banded, ["band", "bucket"], flag,
        f"id_a {iddl}, id_b {iddl}, band INT, est_jaccard DOUBLE",
        f"ids ARRAY<{iddl}>, flat ARRAY<LONG>", "append", state_ttl_ms,
    )
    return _start(flagged, query_name)


def stream_dedup_simhash(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    shingle_n: int = 2,
    bits: int = 64,
    chunk_bits: int = 8,
    max_members: int = 256,
    query_name: str = "stream_simhash",
) -> StreamingQuery:
    """Streaming SimHash near-dup: the third member of the streaming
    dedup family (exact → MinHash → SimHash), same first-seen state
    contract as its siblings. Defaults (max_hamming=8, shingle_n=2,
    bits=64, chunk_bits=8) match batch ``simhash_pairs`` exactly, so
    the twins agree out of the box (64-bit is the scale-safe width —
    see the batch docstring's saturation measurement); the
    ``max_members`` capped-regime caveat behaves as documented on
    ``stream_dedup_minhash``, and state is held for the life of the
    query.

    Per-row signatures: the batch operator bit-votes with a groupBy
    over exploded shingles; here the SAME ``bits`` votes come from
    aggregate folds over the row's distinct-shingle array — identical
    values (same xxhash64, same >0 majority rule), no shuffle. State
    shards by (chunk, key) over ``bits/8`` 8-bit signature chunks —
    the streaming analog of the batch chunk-blocking join — holding
    capped first-seen (id, sim) members. Emitted rows:
    (id_a=member, id_b=doc, hamming) for every member within
    ``max_hamming``; under id-ordered replay the distinct pair set
    equals batch ``simhash_pairs`` (tested).
    """
    from boatrace_database_spark.operators.dedup import _simhash_per_row

    iddl, _cid = _id_type(schema, id_col)
    shingled = _shingled(spark, source_dir, schema, id_col, text_col, shingle_n)

    # hash each shingle ONCE (the batch twin's shape: its exploded
    # table carries one xxhash64 per shingle row); folding the raw
    # shingles per bit would re-evaluate xxhash64 bits× per shingle —
    # the votes then fold over cheap shifts of the precomputed longs
    hashed = shingled.withColumn(
        "_hs", F.transform("_sh", lambda s: F.xxhash64(s))
    )
    sig = hashed.select("id", _simhash_per_row("_hs", bits).alias("sim"))
    return _hamming_dedup_stream(
        sig, iddl, _cid,
        max_hamming=max_hamming, bits=bits, chunk_bits=chunk_bits,
        max_members=max_members, query_name=query_name,
    )


def _hamming_dedup_stream(
    sig,
    iddl: str,
    _cid,
    *,
    max_hamming: int,
    bits: int,
    chunk_bits: int,
    max_members: int,
    query_name: str,
) -> StreamingQuery:
    """Signature-generic stateful Hamming dedup core — the streaming
    twin of batch `dedup.hamming_pairs_banded`, factored out of
    `stream_dedup_simhash` (round 9) so any fixed-width fingerprint
    stream (text SimHash, image dHash) shares the identical state
    machinery: state shards by (chunk, key) over bits/chunk_bits
    signature chunks, holding capped first-seen (id, sim) members;
    arriving rows emit (id_a=member, id_b=doc, hamming) for members
    within ``max_hamming``. ``sig``: streaming (id, sim LONG) frame.
    """
    import pandas as pd

    from boatrace_database_spark.operators.dedup import _hamming_chunked

    # one chunk per band key: band c keys on chunk c alone
    chunked = _hamming_chunked(sig, "id", "sim", bits, chunk_bits, 1)

    def match(s, msim):
        h = bin((s ^ msim) & 0xFFFFFFFFFFFFFFFF).count("1")
        return (h,) if h <= max_hamming else None

    def flag(key, batch, prev):
        ids, sims = prev or ([], [])
        ids, sims = list(ids), list(sims)
        out = _admit_capped(
            batch, ids, sims, _cid, max_members, lambda row: int(row.sim), match
        )
        return (ids, sims), pd.DataFrame(out, columns=["id_a", "id_b", "hamming"])

    flagged = _keyed_state(
        chunked, ["chunk", "key"], flag,
        f"id_a {iddl}, id_b {iddl}, hamming INT",
        f"ids ARRAY<{iddl}>, sims ARRAY<LONG>", "append", None,
    )
    return _start(flagged, query_name)


def stream_dedup_dhash(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    id_col: str = "media_id",
    hash_size: int = 8,
    max_hamming: int = 8,
    chunk_bits: int = 8,
    max_members: int = 256,
    query_name: str = "stream_dhash",
) -> StreamingQuery:
    """Streaming perceptual IMAGE dedup (round 9): arriving media rows
    (the `multimodal.MEDIA_SCHEMA` layout — binary payload + meta) are
    decoded natively and difference-hashed by the SAME
    `multimodal.dhash_media` Arrow transform the batch path uses
    (mapInPandas composes onto streaming frames unchanged), then flow
    through the signature-generic `_hamming_dedup_stream` state core —
    so the batch/stream twins share BOTH the fingerprint arithmetic
    and the blocking geometry, and under id-ordered replay the
    distinct emitted pair set equals batch
    ``hamming_pairs_banded(dhash_media(...))`` exactly (tested).
    ``chunk_bits`` must divide hash_size² (64/8 and 49/7 are the two
    tested operating points)."""
    from boatrace_database_spark.operators import multimodal as _M

    bits = hash_size * hash_size
    if bits % chunk_bits:
        raise ValueError(
            f"chunk_bits {chunk_bits} must divide hash_size² ({bits})"
        )
    iddl, _cid = _id_type(schema, id_col)
    media = spark.readStream.schema(schema).parquet(source_dir)
    if id_col != "media_id":
        media = media.withColumnRenamed(id_col, "media_id")
    sig = _M.dhash_media(media, hash_size=hash_size).select(
        F.col("media_id").alias("id"), F.col("dhash").alias("sim")
    )
    return _hamming_dedup_stream(
        sig, iddl, _cid,
        max_hamming=max_hamming, bits=bits, chunk_bits=chunk_bits,
        max_members=max_members, query_name=query_name,
    )


def stream_dedup_audio(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    id_col: str = "media_id",
    max_ber: float = 0.25,
    frame_len: int = 1024,
    hop: int = 512,
    max_members: int = 256,
    query_name: str = "stream_audio",
) -> StreamingQuery:
    """Streaming AUDIO near-dup dedup (round 10) — the stream twin of
    batch `multimodal.audio_dedup_pairs`, sharing its two-stage shape:
    clips sharing at least one EXACT Haitsma–Kalker sub-fingerprint
    meet in a state bucket keyed by that fp value (the streaming form
    of the candidate equi-join — never all-pairs), and the bucket
    verifies the frame-aligned bit-error rate against its capped
    first-seen members. Each arriving clip carries its WHOLE
    fingerprint stream (`audio_fingerprint_arrays`), so verification
    needs no second lookup; members store theirs flattened
    (cat + lens) because the state encoder takes flat arrays.

    A pair sharing k distinct fp values meets in k buckets and emits k
    identical rows — consumers take DISTINCT, and the batch-parity
    test compares distinct sets. Under id-ordered replay the distinct
    emitted (id_a, id_b, ber) set equals batch
    ``audio_dedup_pairs(...)`` exactly (same fingerprints, same
    candidate condition, same BER arithmetic)."""
    import pandas as pd

    from boatrace_database_spark.operators import multimodal as _M

    iddl, _cid = _id_type(schema, id_col)
    media = spark.readStream.schema(schema).parquet(source_dir)
    if id_col != "media_id":
        media = media.withColumnRenamed(id_col, "media_id")
    arr = _M.audio_fingerprint_arrays(media, frame_len, hop)
    keyed = arr.select(
        F.col("media_id").alias("id"),
        "fps",
        F.explode(F.array_distinct("fps")).alias("fp"),
    )

    def match(fps, mfps):
        n = min(len(fps), len(mfps))
        if n == 0:
            return None
        err = sum(
            bin(a ^ b).count("1")
            for a, b in zip(fps[:n], mfps[:n])
        )
        ber = err / (n * 32)
        return (round(ber, 6),) if ber <= max_ber else None

    def flag(key, batch, prev):
        ids, cat, lens = prev or ([], [], [])
        ids, cat, members, off = list(ids), list(cat), [], 0
        for mlen in lens:
            members.append(cat[off : off + mlen])
            off += mlen
        out = _admit_capped(
            batch, ids, members, _cid, max_members,
            lambda row: [int(v) for v in row.fps], match,
        )
        return (
            (ids, [v for m in members for v in m], [len(m) for m in members]),
            pd.DataFrame(out, columns=["id_a", "id_b", "ber"]),
        )

    flagged = _keyed_state(
        keyed, ["fp"], flag, f"id_a {iddl}, id_b {iddl}, ber DOUBLE",
        f"ids ARRAY<{iddl}>, cat ARRAY<LONG>, lens ARRAY<INT>", "append",
        None,
    )
    return _start(flagged, query_name)


def stream_decontaminate(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    benchmark_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    query_name: str = "decontaminated",
    bloom_fpp: float | None = None,
) -> StreamingQuery:
    """Online decontamination gate: every arriving candidate training
    document is scored against a STATIC benchmark/eval corpus — the
    crawl-ingest twin of operators/text.ngram_contamination (same
    distinct-per-doc word n-grams, same xxhash64 gram keys, value-
    identical rates; parity tested).

    Emits (doc_id, n_ngrams, n_contaminated, contamination_rate) per
    document; filtering on a rate threshold is the caller's policy.

    This is the stream-STATIC pattern, deliberately stateless: the
    benchmark gram set is computed ONCE with the same JVM xxhash64 as
    the batch operator, collected, and broadcast to every worker —
    membership is then a per-row set lookup (Arrow-batched pandas UDF;
    gram hashing itself stays JVM-side in the stream's projection). No
    state store, no shuffle, no watermark: throughput is scan-bound.

    ``bloom_fpp``: swap the exact broadcast gram set for a Bloom
    filter of the gram hashes (operators/bloom — same position family
    as the batch sketch). Memory drops from a Python set of 8-byte
    hashes (tens of bytes/gram of interpreter overhead) to
    ~1.2 bytes/gram at fpp=0.01, and the error is ONE-SIDED IN THE
    SAFE DIRECTION for this gate: a false positive over-counts
    contamination (a clean doc may be dropped at ~fpp rate — cheap
    data loss), while a benchmark gram can NEVER slip through
    uncounted. Reported counts are therefore >= the exact variant's,
    equal w.h.p. at the design fpp (contract-tested).

    Direction matters at scale: eval/benchmark suites are small (1e5-1e6
    grams = a few MB broadcast — this op's regime). To report overlap
    against the 100 TB TRAIN side instead, use the batch operator,
    whose distinct-gram reduce + equi-join does not need either side to
    fit in memory.
    """
    from pyspark.sql.functions import pandas_udf

    from boatrace_database_spark.operators.dedup import word_shingles

    bench_grams = (
        benchmark_df.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("gram")
        )
        .select(F.xxhash64("gram").alias("g"))
        .distinct()
    )
    docs = spark.readStream.schema(schema).parquet(source_dir)
    hashed = F.transform(
        word_shingles(F.col(text_col), n), lambda g: F.xxhash64(g)
    )

    if bloom_fpp is not None:
        import numpy as np

        from boatrace_database_spark.operators import bloom as B

        # persist: build_bloom needs a sizing count AND the positions
        # pass — without this the explode+distinct pipeline runs twice
        bench_grams = bench_grams.persist()
        try:
            n_grams = bench_grams.count()
            bf = B.build_bloom(
                bench_grams, "g", n_items=max(n_grams, 1), fpp=bloom_fpp
            )
        finally:
            bench_grams.unpersist()
        m, k = bf["m"], bf["k"]
        bbits = spark.sparkContext.broadcast(bf["bits"])

        @pandas_udf("int")
        def n_hits(posarr):  # pd.Series[array<array<long>>] -> int
            bits = bbits.value

            def cnt(a):
                if len(a) == 0:
                    return 0
                P = np.array([list(p) for p in a], dtype=np.int64)
                return int(B.test_positions(bits, P).sum())

            return posarr.apply(cnt)

        # per-gram k bit positions, JVM-side, over the SAME gram-hash
        # longs the exact path uses — one hash family, shared with the
        # batch sketch via bloom._positions
        grams = F.transform(hashed, lambda h: B._positions(h, m, k))
    else:
        bench_hashes = set(r.g for r in bench_grams.collect())
        bset = spark.sparkContext.broadcast(bench_hashes)

        @pandas_udf("int")
        def n_hits(grams):  # pd.Series[array<long>] -> pd.Series[int]
            s = bset.value
            return grams.apply(lambda a: int(sum(1 for g in a if g in s)))

        grams = hashed

    scored = (
        docs.select(F.col(id_col).alias("doc_id"), grams.alias("_grams"))
        .select(
            "doc_id",
            # cast to long so the schema matches the batch twin's counts
            F.size("_grams").cast("long").alias("n_ngrams"),
            n_hits("_grams").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            F.col("n_contaminated").cast("long").alias("n_contaminated"),
            F.round(
                F.when(F.col("n_ngrams") > 0,
                       F.col("n_contaminated") / F.col("n_ngrams"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("contamination_rate"),
        )
    )
    return _start(scored, query_name)


def stream_quality_gate(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    thresholds: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    query_name: str = "quality_gated",
) -> StreamingQuery:
    """Online quality gate: arriving documents are scored with
    text.quality_score and kept iff score >= their group's STATIC
    threshold — the streaming twin of ``corpus.quantile_gate``'s
    approx path (``corpus.quantile_thresholds`` produces the
    ``(_grp, _thr)`` table this consumes; batch/stream survivor parity
    is tested).

    A stream cannot compute its own corpus quantiles — a percentile is
    a full-distribution statistic — so the deployment shape is
    calibrate-then-gate: quantile thresholds computed (and persisted)
    from the warehouse corpus, broadcast-joined into the firehose.
    Stream-STATIC and stateless like ``stream_decontaminate``: no
    state store, no shuffle, no watermark; scoring is all codegen and
    the threshold join broadcasts one tiny row per group. Re-calibrate
    by restarting the query with fresh thresholds (quantiles drift
    with the corpus — the analog of the IVF centroid-drift note).

    A group with NO calibration row at all (a source that appeared
    after calibration) PASSES — it has no threshold to fail, and
    silently deleting a new source's entire stream is the worse
    failure; its rows are visible as calibrated=false, the
    restart-and-recalibrate signal. The join-miss is detected by a
    marker column from the thresholds side, NOT by ``_thr`` nullity —
    a calibration row whose stored threshold is NULL (a group whose
    quality scores were all NULL at calibration time) is a DIFFERENT
    state: those rows also pass (no usable threshold) but stay
    calibrated=true, so the recalibrate signal cannot fire for a
    group that was in fact calibrated. NULL groups match a NULL-group
    threshold row null-safely.

    Emits survivors as (doc_id, group, quality, calibrated), quality
    rounded to 6 dp.
    """
    from boatrace_database_spark.operators import text as TX

    docs = spark.readStream.schema(schema).parquet(source_dir)
    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("group"),
        F.round(TX.quality_score(F.col(text_col)), 6).alias("quality"),
    )
    marked = thresholds.withColumn("_cal", F.lit(True))
    gated = (
        scored.join(
            F.broadcast(marked),
            scored["group"].eqNullSafe(marked["_grp"]),
            "left",
        )
        .where(F.col("_thr").isNull() | (F.col("quality") >= F.col("_thr")))
        .select(
            "doc_id", "group", "quality",
            F.col("_cal").isNotNull().alias("calibrated"),
        )
    )
    return _start(gated, query_name)


def stream_ingest_boatrace(
    spark: SparkSession,
    watch_dir: str,
    warehouse_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """The reference's daily-append workflow (main.py:240-267) made
    incremental: a binaryFile stream watches for arriving daily TXT
    files, and each micro-batch is parsed by the fused decode+parse
    kernel and loaded by ``warehouse._load_days`` — the step the
    backfill runs too — which replaces the day's partition of every
    silver table it fed plus the gold race join, keyed on race_date: a
    republished day REPLACES its partition (idempotent) instead of
    duplicating it (the reference's duplicate-append defect, SURVEY
    §2.4, cannot occur). ``_load_days`` says what an epoch launches.

    Exactly-once: the file source checkpoints which files each epoch
    consumed, and the partition-replace merge is idempotent per day, so
    replays after failure converge to the batch-build state.
    """
    from boatrace_database_spark import warehouse as W
    from boatrace_database_spark.parse.kernel import parse_binary_df

    binary = (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; binaryFile's is fixed
        .schema(
            "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
        )
        .option("pathGlobFilter", "*.TXT")
        # republished days can arrive under a dated subdirectory with
        # the same canonical file name (the name encodes kind + date)
        .option("recursiveFileLookup", "true")
        .load(watch_dir)
    )

    def _ingest(batch: DataFrame, epoch_id: int) -> None:
        W._load_days(spark, parse_binary_df(batch), warehouse_dir)

    return _start(binary, None, each_batch=_ingest, checkpoint_dir=checkpoint_dir)


def stream_token_budget(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    strata_col: str,
    budgets: dict[str, int],
    default_budget: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_name: str = "stream_token_budget",
    state_ttl_ms: int | None = None,
) -> StreamingQuery:
    """Streaming twin of ``corpus.take_token_budget_stratified``: the
    "stop ingesting source X after N tokens" admission gate. State per
    stratum is ONE counter (tokens consumed); an arriving document is
    emitted iff the tokens consumed BEFORE it are under the stratum's
    budget (the batch twin's start-offset convention), and every
    arrival accumulates whether or not it passes — so once a budget
    exhausts, the stratum's gate stays closed.

    Parity contract: within each micro-batch, rows replay in the batch
    twin's deterministic shuffle order (the split Knuth hash of the id
    — computed here in numpy uint64, bit-identical to
    ``corpus._hash32``); when chunks arrive as hash-ordered slices
    (tested) the emitted (id, stratum_cum_tokens) set EQUALS the batch
    operator's output exactly. Under arbitrary arrival order the
    budget bound still holds, but which documents fill it follows
    arrival order — the honest streaming semantics.

    ``state_ttl_ms`` evicts an idle stratum's counter (its budget
    re-opens on re-admission — a rolling-window budget); None keeps
    counters for the query's lifetime.

    ID TYPES: integral ids order by the Knuth hash of the id itself —
    bit-identical to the batch twin (the documented fast path).
    Non-integral ids order by the Knuth hash of ``xxhash64(id)``
    (computed JVM-side per arriving row) — EXACTLY the order the batch
    twin produces when run on the standard xxhash64 surrogate key
    (``corpus._hash32``'s docstring names that pattern), so the parity
    contract extends to string ids: stream(string id) ==
    batch(surrogate id) under hash-ordered arrival. The emitted ``id``
    column keeps the caller's type either way. Collision caveat: two
    string ids sharing an xxhash64 value are indistinguishable to the
    surrogate-key batch twin (one surrogate, two rows), so exact
    parity is undefined there; the stream itself stays deterministic —
    the raw id is the final ordering tie-break (astronomically rare:
    ~n²/2⁶⁵ expected collisions).
    """
    import re

    import numpy as np
    import pandas as pd

    if any(b < 0 for b in budgets.values()) or default_budget < 0:
        raise ValueError(f"budgets must be >= 0 (got {budgets})")
    iddl, _cid = _id_type(schema, id_col)
    # the state key is the stratum CAST TO STRING (applyInPandasWithState
    # keys are simplest as one string), so budget lookups must use the
    # same representation — coerce the caller's keys up front or an
    # int-keyed budgets dict would silently fall back to default_budget
    budgets = {str(k): v for k, v in budgets.items()}

    ord_id = (
        F.col(id_col).cast("long")
        if _cid is int
        else F.xxhash64(F.col(id_col))
    )
    docs = spark.readStream.schema(schema).parquet(source_dir).select(
        F.col(id_col).alias("id"),
        ord_id.alias("ord_id"),
        F.col(strata_col).cast("string").alias("stratum"),
        F.col(text_col).alias("text"),
    )

    # corpus._hash32 in numpy uint64 (mods keep every value < 2^49,
    # so uint64 arithmetic is exact and matches the JVM formula)
    K = np.uint64(2654435761)
    M32 = np.uint64(2**32)
    SALT = np.uint64(0x60BA)

    def _h32(ids: np.ndarray) -> np.ndarray:
        x = (ids.astype(np.int64) % np.int64(2**32) + np.int64(2**32)).astype(
            np.uint64
        ) % M32
        x = (x + SALT) % M32
        lo = x % np.uint64(65536)
        hi = x // np.uint64(65536)
        return (lo * K + ((hi * K) % M32) * np.uint64(65536)) % M32

    def gate(key, batch, prev):
        consumed = prev[0] if prev is not None else 0
        budget = budgets.get(key[0], default_budget)
        # final tie-break = the RAW id (string-safe), so two string ids
        # colliding on xxhash64 still get a deterministic relative
        # admission order instead of falling back to arrival order
        # (r8 ADVICE). Integral ids never reach it (ord_id == id); a
        # batch twin run on the surrogate key cannot distinguish such
        # a collision at all (two rows, one surrogate), so this makes
        # the stream strictly MORE deterministic than the parity
        # baseline, never different from it.
        order = np.lexsort(
            (
                batch["id"].astype(str).to_numpy(),
                batch["ord_id"].to_numpy(),
                _h32(batch["ord_id"].to_numpy()),
            )
        )
        out = []
        for idx in order:
            row_id = batch["id"].iloc[idx]
            text = batch["text"].iloc[idx]
            if text is None:
                # batch twin: token_count(NULL) is NULL, the row fails
                # the filter AND contributes nothing to the window sum
                continue
            # token_count semantics REPLICATED BIT-FOR-BIT, not
            # approximated: Spark's trim strips ASCII spaces only, and
            # Java split('\s+') keeps edge empty tokens with ASCII \s —
            # Python str.strip()/str.split() differ on '\thello\n' and
            # would break the exact-parity contract at budget edges
            n_tokens = len(re.split(r"\s+", text.strip(" "), flags=re.ASCII))
            if consumed < budget:
                out.append((row_id, key[0], n_tokens, consumed + n_tokens))
            consumed += n_tokens
        return (consumed,), pd.DataFrame(
            out,
            columns=["id", "stratum", "n_tokens", "stratum_cum_tokens"],
        )

    gated = _keyed_state(
        docs, ["stratum"], gate,
        f"id {iddl}, stratum STRING, n_tokens LONG, stratum_cum_tokens LONG",
        "consumed LONG", "append", state_ttl_ms,
    )
    return _start(gated, query_name)


def stream_ingest_parquet(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    target_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Incremental file ingest: new parquet files under source_dir are
    appended to the target parquet table per micro-batch."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return _start(
        stream, None, each_batch=_append_parquet(target_dir),
        checkpoint_dir=checkpoint_dir,
    )


def stream_dedup_semantic(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_assign: int = 1,
    max_members: int = 256,
    query_name: str = "stream_semantic",
) -> StreamingQuery:
    """Streaming SemDeDup: the fourth member of the streaming dedup
    family (exact → MinHash → SimHash → semantic), same first-seen
    state contract as its siblings; the ``max_members`` capped-regime
    caveat behaves as documented on ``stream_dedup_minhash``, and state
    is held for the life of the query.

    The coarse quantizer is STATIC by necessity — a stream cannot
    retrain k-means — so ``centroids`` is the table from a prebuilt
    ``ivf_build_index`` / ``ivf_read_index``: exactly the build-once
    deployment the batch operator documents, and the stream-static
    shape of ``stream_decontaminate``. Pass the SAME centroids to the
    batch ``semantic_pairs(..., index=...)`` and the twins agree:
    cell assignment reuses the batch Arrow kernels verbatim
    (`_nearest_cells_udf` runs fine pre-state on a
    streaming frame), and scoring is the same float64 dot/norm
    arithmetic. Watch ``ivf_cell_stats`` on the accumulating corpus:
    centroid drift showing up as ballooning cells is the signal to
    rebuild the index and restart the query, exactly like
    ``ivf_add_to_index``'s retrain note.

    State shards by cell (``n_assign`` > 1 multi-assigns arrivals to
    their n nearest cells — each cell's state is independent, so a
    pair sharing several cells emits once per shared cell; the
    DISTINCT (id_a, id_b) set equals the batch pair set under
    id-ordered replay, tested). Emitted rows:
    (id_a=member, id_b=arrival, cell, score) for every stored member
    with cosine >= threshold.
    """
    import numpy as np
    import pandas as pd

    from boatrace_database_spark.operators.similarity import (
        _nearest_cells_udf,
        centroid_matrix,
    )

    if n_assign < 1:
        raise ValueError(f"n_assign must be >= 1 (got {n_assign})")
    # id type is DERIVED from the caller's schema (like the batch
    # twin's _broadcast_pair_scores): long and string corpora both
    # stream through the same state function — the parity claim with
    # semantic_pairs holds for either, tested both ways (the shared
    # derivation the whole stateful family now uses)
    id_ddl, _cid = _id_type(schema, id_col)
    # shared gapless validation: positional argmin indices must BE
    # cell ids (see centroid_matrix)
    C = centroid_matrix(centroids)

    # the n nearest cells, nearest first (n_assign=1: the build's cell)
    cells = _nearest_cells_udf(spark, C, min(n_assign, len(C)))
    assigned = spark.readStream.schema(schema).parquet(source_dir).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.explode(cells(F.col(vec_col))).alias("cell"),
    )

    def with_norm(x):
        v = np.asarray(x, dtype=np.float64)
        return v, float(np.sqrt(v @ v))

    def flag(key, batch, prev):
        ids, flat = prev or ([], [])
        ids = list(ids)
        dim = len(flat) // max(len(ids), 1)
        members = [
            with_norm(flat[i * dim : (i + 1) * dim]) for i in range(len(ids))
        ]
        cell = int(key[0])

        def match(row_member, member):
            (v, nv), (mv, mn) = row_member, member
            den = mn * nv
            if den == 0.0:
                # zero-norm vector (padding / failed-encode
                # sentinel): the engine-wide policy is that such
                # vectors produce no pairs (batch emits -inf /
                # NULL scores that fail the threshold) — skip
                # instead of raising ZeroDivisionError and
                # killing the query
                return None
            score = round(float(v @ mv) / den, 4)
            return (cell, score) if score >= threshold else None

        out = _admit_capped(
            batch, ids, members, _cid, max_members,
            lambda row: with_norm(row.vec), match,
        )
        return (ids, [float(x) for m, _ in members for x in m]), pd.DataFrame(
            out, columns=["id_a", "id_b", "cell", "score"]
        )

    flagged = _keyed_state(
        assigned, ["cell"], flag,
        f"id_a {id_ddl}, id_b {id_ddl}, cell INT, score DOUBLE",
        f"ids ARRAY<{id_ddl}>, flat ARRAY<DOUBLE>", "append", None,
    )
    return _start(flagged, query_name)


def stream_decontaminate_semantic(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    eval_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    query_name: str = "decontaminated_semantic",
    broadcast_max_bytes: int = 64 * 1024 * 1024,
) -> StreamingQuery:
    """Online SEMANTIC decontamination gate — the embedding-space twin
    of `stream_decontaminate`, and the streaming face of
    `similarity.decontaminate_semantic`: every arriving vector is
    scored by its max cosine against the STATIC broadcast eval matrix
    and emitted with (max_eval_cosine, is_contaminated).

    Stream-static and deliberately STATELESS like its n-gram sibling:
    the eval matrix collects once (guard-checked small — benchmark
    suites, by contract), the scorer is the SAME Arrow-batched UDF the
    batch operator uses (`similarity.max_eval_cosine_udf`), so stream
    and batch scores are byte-identical per row: exact parity under
    ANY arrival order — no state, no shuffle, no watermark; throughput
    is scan-bound.
    """
    from boatrace_database_spark.operators import similarity as _SIM

    iddl, _ = _id_type(schema, id_col)
    max_cos = _SIM.max_eval_cosine_udf(
        spark, eval_df, vec_col, broadcast_max_bytes
    )
    scored = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .select(
            F.col(id_col).alias("id"),
            F.round(max_cos(F.col(vec_col)), 6).alias("max_eval_cosine"),
        )
        .withColumn(
            "is_contaminated", F.col("max_eval_cosine") >= F.lit(threshold)
        )
    )
    return _start(scored, query_name)


def stream_ivfpq_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    codes: DataFrame,
    centroids: DataFrame,
    books: "object",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_name: str = "ivfpq_ingest",
) -> StreamingQuery:
    """Streaming IVF-PQ index maintenance — the streaming face of
    `similarity.ivfpq_add_to_index`: arriving vectors are assigned to
    the EXISTING cells and PQ-encoded against the EXISTING codebooks
    (no retrain — the coarse quantizer and codebooks only need the
    broad distribution, the same build-once contract every batch
    maintenance note documents), emitting index rows (neighbor_id,
    cell, codes[, norm]) ready to append to the cell-partitioned
    index table.

    ``codes`` is the BUILT index the stream extends: its column
    metadata supplies the by_residual mode and its schema says whether
    exact norms are stored — the stream cannot misconfigure itself
    against the index it feeds. Stream-static and STATELESS like
    `stream_decontaminate_semantic`: assignment and encoding are the
    batch add's own row encoder (`similarity._pq_extend_rows`, over the
    Arrow kernels `_nearest_cells_udf` and `_pq_encode_udf` — both
    deterministic), so every emitted row is byte-identical to what
    `ivfpq_add_to_index` would append for the same vector: exact batch
    parity under ANY arrival order, no state, no shuffle, no
    watermark; throughput is scan-bound with one broadcast of the
    centroid matrix + codebook tensor per query.

    At 100 TB this is the continuous-embedding-ingest shape: the sink
    appends to the parquet index partitioned by `cell`, probes read
    the next snapshot, and `ivf_cell_stats` on the accumulating index
    is the retrain signal (ballooning max_cell = distribution drift),
    exactly as the batch twin documents."""
    from boatrace_database_spark.operators.similarity import _pq_extend_rows

    vecs = spark.readStream.schema(schema).parquet(source_dir)
    rows = _pq_extend_rows(codes, centroids, books, vecs, id_col, vec_col)
    return _start(rows, query_name)


def stream_ann_serve(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    codes: DataFrame,
    centroids: DataFrame,
    books: "object",
    sink_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    refine: int = 0,
    corpus: DataFrame | None = None,
    query_name: str = "ann_serve",
) -> StreamingQuery:
    """Streaming ANN query SERVING — the query-side complement of
    `stream_ivfpq_ingest` (which maintains the index): arriving query
    vectors are answered with their top-k neighbors from the static
    IVF-PQ index, appended to ``sink_dir`` as (query_id, neighbor_id,
    score, rk) rows.

    Mechanics: each micro-batch runs the batch `similarity.ivfpq_probe`
    VERBATIM inside foreachBatch — a query row's result depends only on
    its own vector and the frozen index (per-query independence), so
    stream results are byte-identical to the batch probe over the same
    queries under ANY arrival order or batch split: exact parity with
    zero state, no watermark. The probe depth is the index's derived
    ``nprobe`` (`ann_nprobe`). ``refine=R`` carries the FAISS refinement
    stage through (exact re-rank of the ADC short-list against
    ``corpus``) — the `target_recall=` operating point served online.

    foreachBatch (not a streaming-DF transform) because top-k per query
    is a rank-per-group — not expressible as a stateless append-mode
    streaming plan — while per-epoch it is ordinary batch work. The
    parquet append is idempotent per epoch only WITH a checkpoint, so
    ``checkpoint_dir`` is required (`stream_dedup_exact`'s documented
    restart contract).

    At 100 TB this is the online-retrieval shape: queries tail a topic,
    each epoch broadcasts the per-query LUTs over the cell-partitioned
    PQ index (n_subspaces x n_codes floats per query — never a raw
    corpus scan), and the refinement stage touches only R x batch_size
    raw rows in the cold vector table. Index updates arrive by
    restarting the serve stream on the next index snapshot, exactly as
    `stream_ivfpq_ingest` documents from the maintenance side."""
    probe = _ann_probe(codes, centroids, books, id_col, vec_col, refine, corpus)
    return _each_epoch(
        spark, source_dir, schema, partial(probe, k=k), query_name,
        checkpoint_dir, sink_dir,
    )


def stream_bm25_serve(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    index_path: str,
    sink_dir: str,
    checkpoint_dir: str,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
    query_name: str = "bm25_serve",
) -> StreamingQuery:
    """Streaming BM25 query SERVING over a persisted index — the
    lexical-retrieval sibling of `stream_ann_serve`: arriving query
    texts are answered with their BM25 top-k from the index that
    `bm25_write_index` wrote, appended to ``sink_dir`` as
    (query_id, doc_id, score, rk) rows.

    Mechanics: each micro-batch runs the batch `bm25_topk_prebuilt`
    VERBATIM inside foreachBatch. BM25 is per-query independent — a
    query's ranking reads only its own terms plus the FROZEN index
    statistics (df/N/avgdl baked at build time) — so stream results
    are byte-identical to the batch probe over the same queries under
    ANY arrival order or batch split: exact parity, zero state, no
    watermark. Growing the index concurrently is exactly the
    `bm25_add_to_index` incremental contract and changes df/N, so (as
    with the ANN serve twin) index updates arrive by restarting the
    serve stream on the next index snapshot — never by mutating the
    one being probed.

    The per-epoch scan is the prebuilt path's bucket-pruned shape: the
    epoch's distinct query-term buckets (a driver-bounded int list)
    become a static IN-filter on the postings/df partition columns, so
    each micro-batch reads only the index files its own vocabulary
    touches — at 100 TB the serving cost scales with epoch vocabulary,
    not index size. foreachBatch because top-k per query is a
    rank-per-group (not a stateless append-mode streaming plan), and
    the parquet append is idempotent per epoch only WITH a checkpoint,
    so ``checkpoint_dir`` is required (`stream_dedup_exact`'s restart
    contract).

    Ids must be non-null and unique: the index's doc ids (otherwise it
    scores differently from the in-memory `bm25_topk` — that docstring
    states how), and the query ids, since rankings are per query id."""
    probe = _bm25_probe(
        spark, index_path, query_id_col, query_text_col, k1, b, n_buckets
    )
    return _each_epoch(
        spark, source_dir, schema, partial(probe, k=k), query_name,
        checkpoint_dir, sink_dir,
    )


def stream_hybrid_serve(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    codes: DataFrame,
    centroids: DataFrame,
    books: "object",
    index_path: str,
    sink_dir: str,
    checkpoint_dir: str,
    id_col: str = "query_id",
    vec_col: str = "embedding",
    text_col: str = "query_text",
    k: int = 10,
    depth: int | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
    k_rrf: int = 60,
    query_name: str = "hybrid_serve",
) -> StreamingQuery:
    """Streaming HYBRID search serving — the online face of the
    `retrieval_rrf_fusion` recipe: arriving queries carry BOTH a text
    and an embedding; each micro-batch answers them with the
    reciprocal-rank fusion of the dense IVF-PQ probe and the lexical
    BM25 probe, appended to ``sink_dir`` as
    (query_id, doc_id, rrf, rk) rows.

    Mechanics: per epoch, `ivfpq_probe` (derived nprobe, no refine
    stage) and `bm25_topk_prebuilt` each produce a ``depth``-deep
    ranking (default ``k``), and `rrf_fuse` combines them — all three
    batch operators VERBATIM inside foreachBatch. Every stage is
    per-query independent against FROZEN index snapshots, so the
    fused stream output is byte-identical to the batch composition
    over the same queries under any arrival order or batch split:
    exact parity, zero state. Both index families update by
    restarting the serve stream on the next snapshot (the
    `stream_ann_serve` / `stream_bm25_serve` contract — this twin
    simply holds the two snapshots TOGETHER so a fused epoch never
    mixes index generations).

    Scale shape per epoch: the dense side broadcasts per-query LUTs
    over the cell-partitioned PQ index; the lexical side reads only
    the epoch vocabulary's buckets; the fusion is a unionByName plus
    one groupBy over 2·depth rows per query — trivial next to the
    probes. ``checkpoint_dir`` required (idempotent-append restart
    contract)."""
    from boatrace_database_spark.operators.retrieval import rrf_fuse

    d = depth or k
    dense = _ann_probe(codes, centroids, books, id_col, vec_col)
    lexical = _bm25_probe(spark, index_path, id_col, text_col, k1, b, n_buckets)

    def fuse(batch: DataFrame) -> DataFrame:
        return rrf_fuse(
            [
                dense(batch, k=d).select(
                    "query_id", F.col("neighbor_id").alias("doc_id"), "rk"
                ),
                lexical(batch, k=d).select("query_id", "doc_id", "rk"),
            ],
            k=k,
            k_rrf=k_rrf,
        )

    return _each_epoch(
        spark, source_dir, schema, fuse, query_name, checkpoint_dir, sink_dir
    )


def stream_bm25_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    query_name: str = "bm25_ingest",
) -> StreamingQuery:
    """Streaming BM25 index maintenance — the lexical sibling of
    `stream_ivfpq_ingest`, completing the maintenance/serving matrix
    (both index families now have both online faces): arriving
    document batches extend the persisted index at ``index_path`` by
    running the batch `bm25_add_to_index` VERBATIM per micro-batch.

    Parity: add ≡ full-rebuild is the batch op's tested contract, and
    it composes across epochs — after streaming a corpus in ANY batch
    split, `bm25_topk_prebuilt` rankings equal an index built from
    the union corpus in one shot (tested). Exactly-once comes from
    the batch op itself, not the checkpoint: the ``docids`` sidecar
    filters already-indexed ids before the append, so a replayed or
    double-delivered epoch appends nothing (the checkpoint still
    bounds how much the source re-reads after a restart).

    Unlike the PQ ingest twin there IS per-epoch global work, but it
    is vocabulary-sized, not postings-sized: the batch op folds the
    epoch's per-term df deltas into the stored df with one outer
    merge and folds stats in O(1) from the stored ``sum_dl``. The
    expensive part (tokenize + explode + tf groupBy) touches only the
    arriving batch. The index must be in `bm25_write_index`'s layout;
    the batch op refuses an older one (no ``docids`` sidecar, or stats
    without ``sum_dl``) before it writes. Serving reads the next index
    snapshot by restarting `stream_bm25_serve` — the snapshot contract
    both serve twins document.

    Doc ids must be non-null and unique across the stream. The sidecar
    guard drops a later arrival that reuses an indexed id, and the
    index counts null ids and merges rows sharing an id — where the
    in-memory `bm25_topk` over the same corpus does not, so the two
    score differently (that docstring states how)."""
    from boatrace_database_spark.operators.retrieval import bm25_add_to_index

    add = partial(
        bm25_add_to_index,
        path=index_path,
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
    )
    return _each_epoch(spark, source_dir, schema, add, query_name, checkpoint_dir)
