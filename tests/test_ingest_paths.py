"""Every ingest path of the reference format reads TXT files and .lzh
archives the same way, on a generated corpus: two seeded days of K/B
files from ``perfbench.corpus`` (official CP932 fixed layout, -lh5-
archives, ground-truth manifest), and the same members decompressed
to ``.TXT``. Needs neither the reference tree nor the test data."""

from __future__ import annotations

import glob
import re
import shutil

import pytest

from boatrace_database_spark import __main__ as cli
from boatrace_database_spark.parse.kernel import (
    parse_files,
    parse_files_sectioned,
    parse_member,
)
from boatrace_database_spark.silver import silver_tables
from boatrace_database_spark.sources.bronze import read_lines
from boatrace_database_spark.sources.datasource import register
from boatrace_database_spark.sources.lzh import read_lzh
from perfbench import corpus

SEED = 901
DATES = ["2020-03-02", "2020-03-03"]


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.fixture(scope="module")
def days(tmp_path_factory):
    """(lzh glob, txt glob, txt dir, manifest) of the two-day corpus."""
    root = tmp_path_factory.mktemp("ingest")
    manifest = corpus.build(SEED, DATES, str(root / "lzh"))
    txt = root / "txt"
    txt.mkdir()
    for path in sorted(glob.glob(str(root / "lzh" / "*.lzh"))):
        for member in read_lzh(path):
            (txt / member.filename).write_bytes(member.data)
    return str(root / "lzh" / "*.lzh"), str(txt / "*.TXT"), txt, manifest


@pytest.fixture(scope="module")
def parsed(spark, days):
    return _rows(parse_files(spark, days[0]))


def _expected_counts(manifest: dict) -> dict[str, int]:
    out = {
        t: sum(d["counts"][t] for d in manifest["days"].values())
        for t in corpus.TABLES
    }
    out["race"] = sum(d["race"] for d in manifest["days"].values())
    return out


def test_parse_paths_agree_across_formats(spark, days, parsed):
    lzh, txt, _, manifest = days
    assert parsed == _rows(parse_files(spark, txt))
    for glob_ in (lzh, txt):
        assert _rows(parse_files_sectioned(spark, glob_)) == parsed, glob_
    register(spark)
    for glob_ in (lzh, txt):
        ds = spark.read.format("boatrace").load(glob_)
        assert _rows(ds) == parsed, glob_
    # per-table counts of the parse equal the generator's ground truth
    tables = silver_tables(parse_files(spark, lzh))
    expected = _expected_counts(manifest)
    assert {t: tables[t].count() for t in corpus.TABLES} == {
        t: expected[t] for t in corpus.TABLES
    }


def test_sql_view_packs_one_file_per_task(spark, days, parsed):
    lzh = days[0]
    register(spark)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW ingest_raw "
        f"USING boatrace OPTIONS (path '{lzh}', files_per_task '1')"
    )
    view = spark.table("ingest_raw")
    assert view.rdd.getNumPartitions() == len(glob.glob(lzh)) == 2 * len(DATES)
    assert _rows(view) == parsed


def test_read_lines_agree_across_formats(spark, days):
    lzh, txt, _, _ = days
    via_lzh = _rows(read_lines(spark, lzh))
    assert via_lzh and via_lzh == _rows(read_lines(spark, txt))


def test_misnamed_file_is_refused(spark, days, tmp_path):
    """A file whose name carries no [KB]yymmdd kind/date must fail the
    read, naming the file, rather than parse to zero rows."""
    txt_dir = days[2]
    k_file = sorted(txt_dir.glob("K*.TXT"))[0]
    with pytest.raises(ValueError, match="K2020-03-02.TXT"):
        parse_member("K2020-03-02.TXT", k_file.read_bytes())
    shutil.copy(k_file, tmp_path / "K2020-03-02.TXT")
    with pytest.raises(Exception, match="K2020-03-02.TXT"):
        parse_files(spark, str(tmp_path / "*.TXT")).collect()


def test_cli_build_txt_and_lzh_print_manifest_counts(days, tmp_path, capsys):
    lzh, txt, _, manifest = days
    printed = {}
    for flag, glob_ in (("--txt", txt), ("--lzh", lzh)):
        cli.main(["build", flag, glob_, "--out", str(tmp_path / flag[2:])])
        out = capsys.readouterr().out
        printed[flag] = {
            t: int(n) for t, n in re.findall(r"^(\w+): (\d+) rows$", out, re.M)
        }
    assert printed["--txt"] == printed["--lzh"] == _expected_counts(manifest)
