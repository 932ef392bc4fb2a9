"""Behavioral event analytics: staged conversion funnels and cohort
retention grids.

These are the event-log siblings of the corpus operators: the same
100 TB event firehose that feeds sessionization (queries/advanced.py
``sessionize_gaps``) and the streaming ingests also answers "how many
users reach each step of a flow" (funnel) and "how long do cohorts
stay active" (retention). Both are expressed as chains of per-user-key
aggregations so every shuffle is on the user key:

- ``funnel_stage_times`` builds stage k from stage k-1 with a
  filter → join → groupBy on the SAME key, so AQE reuses the hash
  partitioning across stages (exchange reuse) and each stage's frame
  shrinks monotonically — the stage-k side is never larger than the
  users who survived stage k-1.
- ``cohort_retention`` is one min-aggregate (first qualifying event
  per user), one join back to the log, one distinct, and one count —
  the per-cohort size join is broadcast because #cohorts ≪ #events.

No windows, no collect, no Python UDFs: everything is codegen'd
aggregates and joins, which is what keeps these viable on a
1000-executor cluster.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel_stage_times(
    df: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_seconds: int | None = None,
) -> list[DataFrame]:
    """Per-user first-completion times for an ordered funnel.

    Stage 1 is each user's FIRST ``stages[0]`` event; stage k is the
    first ``stages[k-1]`` event at-or-after that user's stage-(k-1)
    time. Returns one DataFrame per stage with columns
    ``(user_col, t_1, ..., t_k)`` — users who never complete a stage
    drop out of that stage's frame and all later ones, which is the
    funnel semantics (ordering matters: a click BEFORE the first view
    does not convert the view).

    ``within_seconds`` adds the conversion-window variant: stage k
    only counts within that horizon of the user's FUNNEL ENTRY (their
    t_1 — no re-anchoring on later stage-1 events, the standard
    product-analytics convention). Second-boundary arithmetic
    (``unix_timestamp``), so an oracle reproduces it exactly.

    Scale: every join/groupBy keys on ``user_col``; the filtered
    event subsets partition once each and the stage frames shrink
    monotonically. ``>=`` (not ``>``) admits same-timestamp
    completions, matching the common product-analytics convention.
    """
    if not stages:
        raise ValueError("funnel needs at least one stage")
    if len(set(stages)) != len(stages):
        # a repeated stage type degenerates under >= semantics (the
        # event that completed stage k-1 also completes stage k)
        raise ValueError(f"funnel stages must be distinct: {stages!r}")
    frames: list[DataFrame] = []
    cur = (
        df.where(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t_1"))
    )
    frames.append(cur)
    for i, stage in enumerate(stages[1:], start=2):
        prev_cols = [f"t_{j}" for j in range(1, i)]
        nxt = (
            df.where(F.col(type_col) == stage)
            .join(cur, user_col)
            .where(F.col(ts_col) >= F.col(f"t_{i - 1}"))
        )
        if within_seconds is not None:
            nxt = nxt.where(
                F.unix_timestamp(ts_col)
                <= F.unix_timestamp("t_1") + within_seconds
            )
        cur = nxt.groupBy(user_col).agg(
            F.min(ts_col).alias(f"t_{i}"),
            # constant per user (carried from the join) — min() is
            # just the deterministic way to thread them through
            *[F.min(c).alias(c) for c in prev_cols],
        )
        frames.append(cur)
    return frames


def funnel_summary(
    df: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_seconds: int | None = None,
) -> DataFrame:
    """Funnel conversion summary: one row per stage with the number of
    users completing it in order and the mean hours from funnel entry
    (the user's stage-1 time) to stage completion.

    Columns: ``stage`` (1-based long), ``stage_name``, ``users``
    (long), ``avg_hours_from_entry`` (double, round 3; 0.0 for stage
    1 by construction). ``within_seconds`` bounds every later stage
    to the conversion window after the user's funnel entry (same
    semantics as ``funnel_stage_times`` — anchored at t_1, no
    re-anchoring; fold≡chain parity holds for the windowed variant
    too, tested).

    SINGLE-PASS plan (the chain in ``funnel_stage_times`` re-derives
    stage k-1 inside stage k's lineage, so its summary would scan the
    event log k(k+1)/2 times): here the log is scanned ONCE with the
    stage-type filter pushed to the scan, shuffled ONCE on the user
    key, and each user's funnel events are folded in (ts, stage-index)
    order by a JVM higher-order ``aggregate`` that sets t_k the first
    time a stage-k event is seen with t_{k-1} already set — sorted
    processing makes the chain's ``ts >= t_{k-1}`` implicit, and the
    index tiebreak reproduces its same-instant semantics exactly (a
    parity test pins fold ≡ chain). The per-user array holds only
    funnel-TYPE events, the frame the chain would shuffle anyway; a
    user must log millions of in-funnel events before the array form
    matters, and ``funnel_stage_times`` remains the skew-robust
    (array-free) variant for that regime.
    """
    if not stages:
        raise ValueError("funnel needs at least one stage")
    if len(set(stages)) != len(stages):
        raise ValueError(f"funnel stages must be distinct: {stages!r}")
    k = len(stages)
    idx = F.when(F.col(type_col) == stages[0], F.lit(1))
    for i, s in enumerate(stages[1:], start=2):
        idx = idx.when(F.col(type_col) == s, F.lit(i))

    per_user = (
        df.where(F.col(type_col).isin(list(stages)))
        .select(
            F.col(user_col),
            F.struct(F.col(ts_col).alias("ts"), idx.alias("idx")).alias("e"),
        )
        .groupBy(user_col)
        .agg(F.sort_array(F.collect_list("e")).alias("evs"))
    )

    init = F.struct(
        *[F.lit(None).cast("timestamp").alias(f"t_{i}") for i in range(1, k + 1)]
    )

    def _step(acc, e):
        fields = []
        for i in range(1, k + 1):
            ready = F.lit(True) if i == 1 else acc[f"t_{i - 1}"].isNotNull()
            if within_seconds is not None and i > 1:
                # conversion window, anchored at funnel entry (t_1 is
                # set whenever t_{i-1} is); second-boundary arithmetic
                # like the chain so the two variants stay identical
                ready = ready & (
                    F.unix_timestamp(e["ts"])
                    <= F.unix_timestamp(acc["t_1"]) + within_seconds
                )
            fields.append(
                F.when(
                    acc[f"t_{i}"].isNull() & (e["idx"] == i) & ready, e["ts"]
                )
                .otherwise(acc[f"t_{i}"])
                .alias(f"t_{i}")
            )
        return F.struct(*fields)

    folded = per_user.select(F.aggregate("evs", init, _step).alias("t"))

    # one tiny aggregate row -> k output rows via explode, so the whole
    # summary is scan -> user-key exchange -> single-row finalize
    aggs = []
    for i in range(1, k + 1):
        t_i, t_1 = F.col(f"t.t_{i}"), F.col("t.t_1")
        delta_s = F.unix_timestamp(t_i) - F.unix_timestamp(t_1)
        aggs.append(F.count(t_i).alias(f"users_{i}"))
        aggs.append(
            F.round(F.avg(delta_s) / 3600.0, 3).alias(f"avg_{i}")
        )
    wide = folded.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("bigint").alias("stage"),
                F.lit(stages[i - 1]).alias("stage_name"),
                F.col(f"users_{i}").alias("users"),
                F.col(f"avg_{i}").alias("avg_hours_from_entry"),
            )
            for i in range(1, k + 1)
        ]
    )
    # single-partition sort, not orderBy: the output is k rows by
    # construction (bounded at ANY corpus size), and a global orderBy
    # pays a range-partitioning SAMPLE job + exchange just to sort k
    # rows. coalesce(1) only collapses the post-exchange finalize stage,
    # whose input is already the k-row aggregate (r14, guide §1/§2.4).
    return (
        wide.select(F.explode(rows).alias("r"))
        .select("r.*")
        .coalesce(1)
        .sortWithinPartitions("stage")
    )


def event_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every ordered adjacent pair of a user's events,
    count (from_type → to_type) and the row-normalized transition
    probability — the journey-mining companion to the funnel (which
    asks about ONE path; this surfaces ALL next-step edges).

    Columns: ``from_type``, ``to_type``, ``n`` (long),
    ``p`` (double, round 4, n / Σ n over from_type).

    Scale: ONE user-key window (lead over (ts, tiebreak) — the
    deterministic order) feeding one (from,to)-keyed aggregate with
    map-side partials; the normalizing sum is a window over the
    TYPE-PAIR-sized aggregate, not the event log.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    pairs = (
        df.select(
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
    )
    agg = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    norm = Window.partitionBy("from_type")
    # single-partition sort, not orderBy: the matrix is bounded by
    # |event types|² at any corpus size, so sorting it in one task
    # beats a range-partitioning sample job + exchange (r14); the
    # event-log-sized work upstream keeps its parallelism — coalesce
    # only reaches back to the (type-pair-sized) window exchange
    return (
        agg.select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") / F.sum("n").over(norm), 4).alias("p"),
        )
        .coalesce(1)
        .sortWithinPartitions("from_type", "to_type")
    )


def cohort_retention(
    df: DataFrame,
    cohort_event: str = "signup",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort-retention grid.

    Each user's cohort is the ISO week (Monday-truncated date) of
    their first ``cohort_event``; a user counts as retained in week
    offset w if they have ANY event w whole weeks (day-exact:
    ``floor(days/7)``) after that first event. Events before the
    cohort event are excluded (offset would be negative).

    Columns: ``cohort_week`` (date), ``week_offset`` (long),
    ``active_users`` (long), ``retention_pct`` (double, round 2,
    percent of the cohort's size).

    Scale: one shuffle to find each user's cohort day, one user-key
    join back to the full log (co-partitioned with later groupBys),
    and a broadcast join for the cohort sizes (#cohorts ≪ #users).
    Day-exact offsets avoid sub-second epoch arithmetic so the result
    is reproducible across engines and timezones.
    """
    first = (
        df.where(F.col(type_col) == cohort_event)
        .groupBy(user_col)
        .agg(F.min(F.to_date(ts_col)).alias("cohort_day"))
        .withColumn(
            "cohort_week", F.date_trunc("week", "cohort_day").cast("date")
        )
    )
    cohort_sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    act = (
        df.join(first, user_col)
        .select(
            user_col,
            "cohort_week",
            F.floor(
                F.datediff(F.to_date(ts_col), F.col("cohort_day")) / 7
            ).alias("week_offset"),
        )
        .where(F.col("week_offset") >= 0)
    )
    grid = (
        act.groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct(user_col).alias("active_users"))
        .join(F.broadcast(cohort_sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "active_users",
            F.round(
                (100.0 * F.col("active_users")) / F.col("cohort_size"), 2
            ).alias("retention_pct"),
        )
    )
    # single-partition sort, not orderBy: the grid is bounded by
    # (#cohort weeks × #week offsets) — calendar-sized, not data-sized —
    # so one task sorts it without the range-sample job + exchange a
    # global orderBy pays (r14); the count_distinct over the event log
    # upstream keeps its parallelism (coalesce reaches back only to the
    # grid-sized exchange)
    return grid.coalesce(1).sortWithinPartitions("cohort_week", "week_offset")
