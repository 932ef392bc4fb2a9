"""The streaming daily append (``stream_ingest_boatrace``) on a generated
corpus: three seeded ``perfbench.corpus`` days arrive as TXT files in
separate epochs — the first day's K and B files apart (the empty
warehouse, then a day whose pair is split across epochs), the other two
days' K+B together — and then a republished K of the second day (same
card, new payouts) under a subdirectory. Needs neither the reference
tree nor the test data."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException

from boatrace_database_spark import warehouse as W
from boatrace_database_spark.streaming.ingest import stream_ingest_boatrace
from perfbench import corpus

SEED = 903
DATES = ["2020-03-02", "2020-03-03", "2020-03-04"]
TABLES = (*W.SILVER_TABLES, "race")


def _write(directory, day: corpus.Day, kind: str) -> None:
    os.makedirs(directory, exist_ok=True)
    text = day.k_text if kind == "K" else day.b_text
    with open(os.path.join(directory, f"{kind}{day.stamp}.TXT"), "wb") as fh:
        fh.write(text.encode("cp932"))


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


def _marker_job(spark) -> int:
    """Run one job outside any job group; return its id."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    spark.sparkContext.parallelize([0], 1).count()
    (job,) = set(tracker.getJobIdsForGroup(None)) - before
    return job


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    """(streamed warehouse, batch-built warehouse of the latest version of
    each day, jobs launched per epoch, the republished day)."""
    root = tmp_path_factory.mktemp("stream_ingest")
    days = {d: corpus.generate_day(SEED, d) for d in DATES}
    republished = corpus.generate_day(SEED, DATES[1], version=1)
    assert republished.k_text != days[DATES[1]].k_text
    epochs = [
        [("", days[DATES[0]], "K")],
        [("", days[DATES[0]], "B")],
        [("", days[DATES[1]], "K"), ("", days[DATES[1]], "B")],
        [("", days[DATES[2]], "K"), ("", days[DATES[2]], "B")],
        [(f"republished-{DATES[1]}", republished, "K")],
    ]
    watch, wh = root / "watch", str(root / "wh")
    watch.mkdir()
    query = stream_ingest_boatrace(spark, str(watch), wh, str(root / "checkpoint"))
    tracker = spark.sparkContext.statusTracker()
    jobs, outside_group = [], []
    try:
        for i, files in enumerate(epochs):
            # publish an epoch's files with one rename (the file source
            # skips dot names), so one listing sees all of them
            stage = watch / f".epoch-{i}"
            for sub, day, kind in files:
                _write(stage / sub, day, kind)
            before = set(tracker.getJobIdsForGroup(str(query.runId)))
            first = _marker_job(spark)
            os.rename(stage, watch / f"epoch-{i}")
            query.processAllAvailable()
            assert query.exception() is None
            last = _marker_job(spark)
            grouped = set(tracker.getJobIdsForGroup(str(query.runId))) - before
            jobs.append(len(grouped))
            # job ids are sequential: every job launched between the two
            # markers is the epoch's, and must carry the query's group
            outside_group.append(set(range(first + 1, last)) - grouped)
    finally:
        query.stop()

    latest = root / "latest"
    for day in (days[DATES[0]], republished, days[DATES[2]]):
        _write(latest, day, "K")
    for day in days.values():
        _write(latest, day, "B")
    batch = str(root / "batch")
    W.build_warehouse(spark, str(latest / "*.TXT"), batch)
    return wh, batch, jobs, republished, outside_group


def test_stream_equals_batch_build_of_latest_days(spark, streamed):
    wh, batch, *_ = streamed
    for name in TABLES:
        got = _rows(W.read_table(spark, wh, name))
        assert got and got == _rows(W.read_table(spark, batch, name)), name


def test_republished_day_replaces_its_odds(spark, streamed):
    wh, _, _, republished, _ = streamed
    odds = W.register_views(spark, wh)["odds"]
    day = W.day_slice(odds, republished.date)
    assert day.count() == republished.counts["odds"]
    assert day.select("race_date", "レースID").distinct().count() == day.count()


def test_one_day_epoch_launches_few_jobs(streamed):
    """A day's K+B epoch: one observed cache fill, six partition-replace
    writes and the gold join with its write — no per-table probes, scans
    or footer-inference reads. The writes run on driver threads, and
    every job they launch carries the query's job group (so stopping
    the query cancels them, and the count above sees them)."""
    jobs, outside_group = streamed[2], streamed[4]
    assert len(jobs) == 5 and min(jobs) > 0, jobs
    assert jobs[2] <= 10 and jobs[3] <= 10, jobs
    assert all(not ids for ids in outside_group), outside_group


def test_failed_write_fails_the_epoch_then_replays(spark, tmp_path, monkeypatch):
    """A write error in one table's thread fails the epoch, but only once
    every other submitted write (gold's included) has finished; the file
    source has not committed the epoch, so a restart on the same
    checkpoint replays it into the whole day."""
    day = corpus.generate_day(SEED, DATES[0])
    watch, wh = tmp_path / "watch", str(tmp_path / "wh")
    checkpoint = str(tmp_path / "checkpoint")
    for kind in "KB":
        _write(watch / ".epoch", day, kind)
    merge_write, started, finished = W._merge_write, [], []

    def flaky(spark, table_dir, updates, keys):
        name = os.path.basename(table_dir)
        started.append(name)
        if name == "odds":
            raise RuntimeError("write of odds failed")
        schema = merge_write(spark, table_dir, updates, keys)
        finished.append(name)
        return schema

    monkeypatch.setattr(W, "_merge_write", flaky)
    query = stream_ingest_boatrace(spark, str(watch), wh, checkpoint)
    try:
        os.rename(watch / ".epoch", watch / "epoch")
        with pytest.raises(StreamingQueryException, match="write of odds failed"):
            query.processAllAvailable()
    finally:
        query.stop()
    assert sorted(started) == sorted(TABLES)
    assert sorted(finished) == sorted(set(TABLES) - {"odds"})

    monkeypatch.undo()
    query = stream_ingest_boatrace(spark, str(watch), wh, checkpoint)
    try:
        query.processAllAvailable()
        assert query.exception() is None
    finally:
        query.stop()
    for name in W.SILVER_TABLES:
        assert W.read_table(spark, wh, name).count() == day.counts[name], name
    assert W.read_table(spark, wh, "race").count() == day.race_rows
