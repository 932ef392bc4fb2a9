"""The synthetic corpus is what the benchmark checks the engine against,
so it is checked first: archives round-trip byte-exactly through the
engine's LZH reader, and the engine's parser finds exactly the rows the
manifest promises.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import random

import pytest

from boatrace_database_spark.parse.kernel import parse_file
from boatrace_database_spark.sources.bronze import file_meta
from boatrace_database_spark.sources.lzh import read_lzh, read_lzh_bytes
from perfbench import corpus, lh5


def _parse_counts(text: str, kind: str, date: str) -> dict[str, int]:
    out = parse_file(text.splitlines(), kind, date)
    return {t: int(n) for t, n in out["table"].value_counts().items()}


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"a",
        b"abcabcabcabc" * 40,
        b" " * 70000,                                  # runs past one match
        bytes(random.Random(3).getrandbits(8) for _ in range(20000)),  # no matches
        ("単勝" * 5000).encode("cp932"),
    ],
    ids=["empty", "one", "repeats", "long-run", "random", "cp932"],
)
def test_lh5_round_trip_edge_cases(data):
    members = read_lzh_bytes(lh5.archive("K200101.TXT", data))
    assert len(members) == 1
    assert members[0].method == "-lh5-" and members[0].filename == "K200101.TXT"
    assert members[0].data == data


def test_day_archives_round_trip_and_parse_to_manifest():
    day = corpus.generate_day(11, "2020-02-29")
    for kind, text in (("K", day.k_text), ("B", day.b_text)):
        raw = text.encode("cp932")
        (member,) = read_lzh_bytes(lh5.archive(f"{kind}{day.stamp}.TXT", raw))
        assert member.data == raw
    k = _parse_counts(day.k_text, "K", day.date)
    b = _parse_counts(day.b_text, "B", day.date)
    assert {**k, **b} == day.counts
    assert k["result"] == day.race_rows


def test_build_writes_archives_the_parser_agrees_with(tmp_path):
    dates = ["2020-05-04", "2020-05-05"]
    manifest = corpus.build(5, dates, str(tmp_path))
    assert sorted(manifest["days"]) == dates
    for date in dates:
        truth = manifest["days"][date]
        counts: dict[str, int] = {}
        race_ids = set()
        for name in corpus.archive_names_for(date):
            (member,) = read_lzh(os.path.join(tmp_path, name))
            _, kind, parsed_date = file_meta(member.filename)
            assert parsed_date == date
            out = parse_file(member.data.decode("cp932").splitlines(), kind, date)
            for t, n in out["table"].value_counts().items():
                counts[t] = counts.get(t, 0) + int(n)
            race_ids |= set(out.loc[out["table"] == "env", "race_id"])
        assert counts == truth["counts"]
        assert race_ids == set(truth["race_ids"])
    # a second build of the same directory reuses the manifest; other
    # dates replace it
    assert corpus.build(5, dates, str(tmp_path)) == manifest
    other = corpus.build(5, dates[:1], str(tmp_path))
    assert sorted(other["days"]) == dates[:1]
    assert not os.path.exists(os.path.join(tmp_path, corpus.archive_names_for(dates[1])[0]))


def test_republished_day_keeps_the_card_and_changes_payouts():
    first = corpus.generate_day(2, "2020-07-01")
    again = corpus.generate_day(2, "2020-07-01", version=1)
    assert again.race_ids == first.race_ids and again.counts == first.counts
    assert again.b_text == first.b_text
    assert again.k_text != first.k_text and again.roi[:2] == first.roi[:2]


def test_edge_case_rates_and_weekly_totals():
    days = [corpus.generate_day(9, d) for d in corpus.day_dates()[:28]]
    for week in range(4):
        assert sum(d.counts["env"] for d in days[week * 7:week * 7 + 7]) == 91 * 12
    races = sum(d.counts["env"] for d in days)
    cancelled = sum(d.counts["env"] - d.roi[0] for d in days)
    ext = sum(d.counts["result_ext"] for d in days)
    disqualified = ext - sum(d.counts["result"] for d in days)
    tokubarai = sum(d.k_text.count("特払い") for d in days)
    place_lines = [l.split() for d in days for l in d.k_text.splitlines() if "複勝" in l]
    single_place = sum(1 for parts in place_lines if len(parts) == 3)
    assert 0 < cancelled < 0.015 * races
    assert 0.003 < disqualified / ext < 0.03
    assert 0 < tokubarai < 0.015 * races
    assert 0.005 < single_place / len(place_lines) < 0.04
    players = set().union(*(d.player_stats for d in days))
    assert 1000 < len(players) <= corpus.N_PLAYERS
