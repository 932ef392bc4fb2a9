"""daily_ops: daily appends through the streaming ingest, re-published
days, and a read mix over the warehouse, in one closed loop.

Set-up backfills one whole week of the year (a seeded start week)
through the CLI's ``build --lzh`` path, which also warms the JVM and
the Python workers, and starts ``stream_ingest_boatrace`` on a watch
directory. A round then:

1. ``append``: decodes the next day's K and B archives, and a changed
   K file (new payouts) of a seeded earlier day, with
   ``sources.lzh.read_lzh``; publishes the TXT files into the watch
   directory in one rename and waits on ``processAllAvailable()``. The
   earlier day goes through ``merge_upsert``'s replace path and must
   not be duplicated;
2. reads: ``register_views``, then ``day_slice`` of the new day,
   ``day_range`` over the last 7 days, one player's races by
   ``選手登番``, ``analytics.roi_simulation`` and
   ``analytics.player_features`` top 10, in a seeded order.

Every result is checked against the ground truth of the days on disk.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import time
from collections import Counter

from perfbench import corpus, layers
from perfbench.harness import check, dir_stats

BASE_DAYS = 7
NEW_DAYS = 3          # rounds stop when the prepared days run out
TOP_K = 10


def cli_build(lzh_glob: str, out: str) -> dict[str, int]:
    """``python -m boatrace_database_spark build --lzh`` in-process; returns
    the row counts it prints."""
    from boatrace_database_spark import __main__ as cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cli.main(["build", "--lzh", lzh_glob, "--out", out])
    return {t: int(n) for t, n in re.findall(r"^(\w+): (\d+) rows$", buf.getvalue(), re.M)}


def expected_counts(manifest: dict) -> dict[str, int]:
    days = manifest["days"].values()
    out = {t: sum(d["counts"][t] for d in days) for t in corpus.TABLES}
    out["race"] = sum(d["race"] for d in days)
    return out


class Truth:
    """What the warehouse must hold: the latest version of every day."""

    def __init__(self) -> None:
        self.days: dict[str, dict] = {}

    def put(self, day: dict) -> None:
        self.days[day["date"]] = day

    def race_rows(self, dates) -> int:
        return sum(self.days[d]["race"] for d in dates)

    def roi(self) -> tuple[int, int, float]:
        races = hits = paid = 0
        for d in self.days.values():
            r, h, p = d["roi"]
            races, hits, paid = races + r, hits + h, paid + p
        return races, hits, round(paid / (100.0 * races), 6)

    def players(self) -> tuple[Counter, Counter, Counter]:
        """Per player: race rows, wins and top-2 finishes."""
        starts, wins, top2 = Counter(), Counter(), Counter()
        for d in self.days.values():
            for pid, (s, w, t) in d["players"].items():
                starts[pid] += s
                wins[pid] += w
                top2[pid] += t
        return starts, wins, top2


class DailyOps:
    def prepare(self, ctx) -> None:
        dates = corpus.day_dates()
        week = ctx.rng.randrange(0, (len(dates) - BASE_DAYS - NEW_DAYS) // 7)
        base = dates[week * 7:week * 7 + BASE_DAYS]
        self.new = dates[week * 7 + BASE_DAYS:week * 7 + BASE_DAYS + NEW_DAYS]
        root = os.path.join(ctx.cache, f"daily-s{ctx.seed}")
        self.base_dir = os.path.join(root, f"base-w{week:02d}")
        self.base = corpus.build(ctx.seed, base, self.base_dir)
        self.new_dir = os.path.join(root, f"new-w{week:02d}")
        self.new_manifest = corpus.build(ctx.seed, self.new, self.new_dir)
        # round r re-publishes a seeded earlier day, each day at most once
        self.republish = []
        pool = list(base)
        for i in range(NEW_DAYS):
            pick = ctx.rng.choice(pool)
            pool.remove(pick)
            pool.append(self.new[i])
            self.republish.append(pick)
        self.re_dir = os.path.join(root, f"republished-w{week:02d}")
        self.re_manifest = corpus.build(ctx.seed, sorted(self.republish), self.re_dir, version=1)
        self.truth = Truth()
        for day in self.base["days"].values():
            self.truth.put(day)
        self.text_bytes = sum(d["text_bytes"] for d in self.base["days"].values())
        self.ingested_bytes = 0
        self.ingest_s = 0.0

    # ------------------------------------------------------------------
    def setup(self, ctx) -> None:
        from boatrace_database_spark.streaming.ingest import stream_ingest_boatrace

        if ctx.trace:
            layers.trace_boatrace(ctx.rec)
        self.wh = os.path.join(ctx.run_dir, "warehouse")
        self.watch = os.path.join(ctx.run_dir, "watch")
        os.makedirs(self.watch)
        want = expected_counts(self.base)

        def backfill():
            got = cli_build(os.path.join(self.base_dir, "*.lzh"), self.wh)
            check(got == want, f"base build row counts {got} != manifest {want}")

        ctx.rec.op("backfill", backfill)
        self.query = stream_ingest_boatrace(
            ctx.spark, self.watch, self.wh, os.path.join(ctx.run_dir, "checkpoint"))

    def _publish(self, r: int, archives: list[tuple[str, str]]) -> int:
        """Decode (archive, subdirectory) pairs and publish all their TXT
        members with one directory rename; returns the decompressed bytes.
        The stream then sees a round's files in one listing: files dropped
        one by one split into a varying number of epochs, each of which
        merges every table again."""
        from boatrace_database_spark.sources import lzh

        stage = os.path.join(self.watch, f".round-{r}")   # the file source skips dot names
        size = 0
        for path, sub in archives:
            os.makedirs(os.path.join(stage, sub), exist_ok=True)
            for m in lzh.read_lzh(path):
                with open(os.path.join(stage, sub, m.filename), "wb") as fh:
                    fh.write(m.data)
                size += len(m.data)
        os.rename(stage, os.path.join(self.watch, f"round-{r}"))
        return size

    def _process(self) -> None:
        before = len(self.query.recentProgress)
        self.query.processAllAvailable()
        check(self.query.exception() is None, f"stream failed: {self.query.exception()}")
        rows = sum(p["numInputRows"] for p in self.query.recentProgress[before:])
        check(rows > 0, "stream consumed no files")

    def round(self, ctx, r: int) -> bool:
        from boatrace_database_spark import analytics, warehouse as W
        from pyspark.sql import functions as F

        if r > NEW_DAYS:
            return False
        rec, spark = ctx.rec, ctx.spark
        date = self.new[r - 1]
        day = self.new_manifest["days"][date]

        pick = self.republish[r - 1]
        re_day = self.re_manifest["days"][pick]

        def append():
            t0 = time.perf_counter()
            size = self._publish(r, [
                *((os.path.join(self.new_dir, n), "") for n in corpus.archive_names_for(date)),
                (os.path.join(self.re_dir, corpus.archive_names_for(pick)[0]), f"republished-{pick}"),
            ])
            self.truth.put(day)
            self.truth.put({**self.truth.days[pick], "roi": re_day["roi"]})
            self._process()
            self.ingest_s += time.perf_counter() - t0
            self.ingested_bytes += size

        rec.op("append", append)

        tables = rec.op("read:register_views", lambda: W.register_views(spark, self.wh))
        if tables is None:
            return True
        race, odds = tables["race"], tables["odds"]
        recent = sorted(self.truth.days)[-7:]
        starts, wins, top2 = self.truth.players()
        pid = ctx.rng.choice(sorted(starts))

        def day_slice():
            n = len(W.day_slice(race, date).collect())
            check(n == self.truth.race_rows([date]), f"day_slice {date}: {n} rows")
            # a re-published day is replaced, never duplicated
            n = W.day_slice(odds, pick).count()
            check(n == self.truth.days[pick]["counts"]["odds"], f"odds {pick}: {n} rows")

        def week_range():
            n = W.day_range(race, recent).count()
            check(n == self.truth.race_rows(recent), f"day_range: {n} rows")

        def player_races():
            n = len(race.where(F.col("選手登番") == pid).collect())
            check(n == starts[pid], f"player {pid}: {n} races != {starts[pid]}")

        def roi():
            row = analytics.roi_simulation(race, odds).collect()[0]
            got = (row["n_races"], row["n_hits"], row["roi_win"])
            check(got == self.truth.roi(), f"roi {got} != {self.truth.roi()}")

        def features():
            rows = (analytics.player_features(race)
                    .orderBy(F.desc("n_starts"), F.asc("選手登番")).limit(TOP_K).collect())
            got = [(x["選手登番"], x["n_starts"], x["n_wins"], x["n_top2"]) for x in rows]
            best = sorted(starts, key=lambda p: (-starts[p], p))[:TOP_K]
            want = [(p, starts[p], wins[p], top2[p]) for p in best]
            check(got == want, f"player_features top {TOP_K}: {got} != {want}")

        reads = [("day_slice", day_slice), ("day_range", week_range),
                 ("player_races", player_races), ("roi_simulation", roi),
                 ("player_features", features)]
        ctx.rng.shuffle(reads)
        for name, fn in reads:
            rec.op(f"read:{name}", fn)
        return True

    # ------------------------------------------------------------------
    def finish(self, ctx) -> dict:
        from perfbench.harness import median

        rec = ctx.rec
        appended = self.text_bytes + self.ingested_bytes
        files, size = dir_stats(self.wh)
        out = {
            "ingest_mb_s": self.ingested_bytes / 1e6 / self.ingest_s if self.ingest_s else 0.0,
            "append_p50_s": median([o.seconds for o in rec.measured("append")]),
            "appends": len(rec.measured("append")),
            "space_amp": size / appended,
        }
        for name in ("day_slice", "day_range", "player_races", "roi_simulation", "player_features"):
            out[f"read.{name}_s"] = median([o.seconds for o in rec.measured(f"read:{name}")])
        progress = self.query.recentProgress
        self.query.stop()
        if ctx.trace:
            out.update(layers.replay_lzh_parse(sorted(
                os.path.join(self.base_dir, n) for n in os.listdir(self.base_dir)
                if n.endswith(".lzh"))))
            out.update(layers.boatrace(ctx, self.wh, progress))
        return out
