"""Golden end-to-end parity: our Spark pipeline vs the reference's
committed outputs (SURVEY §5: txt -> table/odds is a fully replayable
fixture for Aug 2020).

Canonicalization: the goldens were written via pandas, so floats print
minimally (``37.5`` not ``37.50``) — numeric columns compare as floats,
everything else byte-exact (full-width padding preserved).
"""

from __future__ import annotations

import csv
import glob
import os

import pytest

from boatrace_database_spark import schemas as S
from boatrace_database_spark.gold import race_table
from boatrace_database_spark.parse.kernel import parse_files
from boatrace_database_spark.silver import silver_tables

REF = "/root/reference"

pytestmark = pytest.mark.requires_reference

RACE_FLOAT_COLS = {
    "展示", "全国勝率", "全国2率", "当地勝率", "当地2率", "モーター2率", "ボート2率",
}
RACE_INT_COLS = {"順位", "風速", "波高", "艇番", "年齢", "体重"}


def _canon_race_row(header: list[str], row: list[str]) -> tuple:
    out = []
    for col, v in zip(header, row):
        if col in RACE_FLOAT_COLS:
            out.append(round(float(v), 2))
        elif col in RACE_INT_COLS:
            out.append(int(float(v)))
        else:
            out.append(v)
    return tuple(out)


def _read_golden(path: str, canon) -> list[tuple]:
    with open(path, encoding="utf-8") as fh:
        reader = csv.reader(fh)
        header = next(reader)
        return [canon(header, row) for row in reader]


@pytest.fixture(scope="module")
def aug_tables(spark):
    parsed = parse_files(spark, f"{REF}/txt/*2008*.TXT").persist()
    tables = silver_tables(parsed)
    yield tables
    parsed.unpersist()


def _spark_race_rows(tables, date: str) -> list[tuple]:
    race = race_table(tables["result"], tables["env"], tables["schedule"])
    rows = race.where(race["race_date"] == date).drop("race_date").collect()
    header = [c for c in race.columns if c != "race_date"]
    return [_canon_race_row(header, [str(v) for v in r]) for r in rows]


def test_race_table_single_day(aug_tables):
    golden = _read_golden(f"{REF}/table/2020-08-01.csv", _canon_race_row)
    ours = _spark_race_rows(aug_tables, "2020-08-01")
    assert sorted(ours) == sorted(golden)


def test_race_table_full_month(aug_tables):
    golden: list[tuple] = []
    for path in sorted(glob.glob(f"{REF}/table/2020-08-*.csv")):
        golden.extend(_read_golden(path, _canon_race_row))
    race = race_table(
        aug_tables["result"], aug_tables["env"], aug_tables["schedule"]
    )
    header = [c for c in race.columns if c != "race_date"]
    ours = [
        _canon_race_row(header, [str(v) for v in r])
        for r in race.drop("race_date").collect()
    ]
    assert sorted(ours) == sorted(golden)


def _canon_odds_row(header: list[str], row: list[str]) -> tuple:
    return (row[0], *[int(v) for v in row[1:]])


def test_odds_table_full_month(aug_tables):
    golden: list[tuple] = []
    for path in sorted(glob.glob(f"{REF}/odds/2020-08-*.csv")):
        golden.extend(_read_golden(path, _canon_odds_row))
    odds = aug_tables["odds"]
    header = [c for c in odds.columns if c != "race_date"]
    ours = [
        _canon_odds_row(header, [str(v) for v in r])
        for r in odds.drop("race_date").collect()
    ]
    assert sorted(ours) == sorted(golden)


def test_silver_cardinalities(aug_tables):
    """SURVEY §1.2 measured Aug-2020 cardinalities."""
    assert aug_tables["env"].count() == 4810
    assert aug_tables["result"].count() == 28473
    assert aug_tables["schedule"].count() == 27561


def test_sectioned_parse_equals_whole_file(spark):
    """The large-file scale path (per-venue-section split, SURVEY
    §7.4(5)) is row-identical to the whole-file kernel on the full
    committed month."""
    from boatrace_database_spark.parse.kernel import (
        parse_files,
        parse_files_sectioned,
    )

    glob_pat = "/root/reference/txt/*2008*.TXT"
    whole = sorted(
        tuple(r) for r in parse_files(spark, glob_pat).collect()
    )
    sectioned = sorted(
        tuple(r) for r in parse_files_sectioned(spark, glob_pat).collect()
    )
    assert len(whole) == len(sectioned)
    assert whole == sectioned
