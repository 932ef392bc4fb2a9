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
    jobs = []
    try:
        for i, files in enumerate(epochs):
            # publish an epoch's files with one rename (the file source
            # skips dot names), so one listing sees all of them
            stage = watch / f".epoch-{i}"
            for sub, day, kind in files:
                _write(stage / sub, day, kind)
            before = set(tracker.getJobIdsForGroup(str(query.runId)))
            os.rename(stage, watch / f"epoch-{i}")
            query.processAllAvailable()
            assert query.exception() is None
            jobs.append(len(set(tracker.getJobIdsForGroup(str(query.runId))) - before))
    finally:
        query.stop()

    latest = root / "latest"
    for day in (days[DATES[0]], republished, days[DATES[2]]):
        _write(latest, day, "K")
    for day in days.values():
        _write(latest, day, "B")
    batch = str(root / "batch")
    W.build_warehouse(spark, str(latest / "*.TXT"), batch)
    return wh, batch, jobs, republished


def test_stream_equals_batch_build_of_latest_days(spark, streamed):
    wh, batch, _, _ = streamed
    for name in TABLES:
        got = _rows(W.read_table(spark, wh, name))
        assert got and got == _rows(W.read_table(spark, batch, name)), name


def test_republished_day_replaces_its_odds(spark, streamed):
    wh, _, _, republished = streamed
    odds = W.register_views(spark, wh)["odds"]
    day = W.day_slice(odds, republished.date)
    assert day.count() == republished.counts["odds"]
    assert day.select("race_date", "レースID").distinct().count() == day.count()


def test_one_day_epoch_launches_few_jobs(streamed):
    """A day's K+B epoch: one aggregate, six partition-replace writes and
    the gold join with its write — no per-table probes, scans or
    footer-inference reads."""
    jobs = streamed[2]
    assert len(jobs) == 5 and min(jobs) > 0, jobs
    assert jobs[2] <= 20 and jobs[3] <= 20, jobs
