"""The bundled pure-Python -lh5- decoder must reproduce the committed
txt corpus byte-for-byte (after CRLF normalization), and the
archive->lines bronze path must parse identically to the txt path."""

from __future__ import annotations

import pytest

from boatrace_database_spark.sources.bronze import decompress_lzh_to_dir, read_lines
from boatrace_database_spark.sources.lzh import read_lzh

pytestmark = pytest.mark.requires_reference


@pytest.mark.parametrize(
    "archive,txt",
    [
        ("K2020-08-01.lzh", "K200801.TXT"),
        ("B2020-08-01.lzh", "B200801.TXT"),
        ("K2020-08-12.lzh", "K200812.TXT"),
    ],
)
def test_lh5_decode_matches_committed_txt(archive, txt):
    members = read_lzh(f"/root/reference/lzh/{archive}")
    assert len(members) == 1 and members[0].method == "-lh5-"
    got = members[0].data.replace(b"\r\n", b"\n")
    golden = open(f"/root/reference/txt/{txt}", "rb").read()
    assert got == golden


def test_decompress_to_dir(tmp_path):
    out = decompress_lzh_to_dir(
        ["/root/reference/lzh/K2020-08-02.lzh"], str(tmp_path)
    )
    assert out == [str(tmp_path / "K200802.TXT")]
    golden = open("/root/reference/txt/K200802.TXT", "rb").read()
    assert open(out[0], "rb").read() == golden


def test_lzh_bronze_equals_txt_bronze(spark):
    via_lzh = read_lines(spark, "/root/reference/lzh/K2020-08-01.lzh")
    via_txt = read_lines(spark, "/root/reference/txt/K200801.TXT")
    a = sorted(tuple(r) for r in via_lzh.collect())
    b = sorted(tuple(r) for r in via_txt.collect())
    assert a == b


def test_full_year_from_archives(spark):
    """The whole committed 2020 archive set (732 lzh) parses through the
    fused no-shuffle path; the August subset must equal the golden
    month exactly."""
    from pyspark.sql import functions as F

    from boatrace_database_spark.gold import race_table
    from boatrace_database_spark.parse.kernel import parse_files
    from boatrace_database_spark.silver import silver_tables

    parsed = parse_files(spark, "/root/reference/lzh/*.lzh").persist()
    t = silver_tables(parsed)
    race = race_table(t["result"], t["env"], t["schedule"])
    by_month = dict(
        (r.m, r["count"])
        for r in race.groupBy(F.substring("race_date", 1, 7).alias("m"))
        .count()
        .collect()
    )
    parsed.unpersist()
    assert len(by_month) == 12
    assert by_month["2020-08"] == 27185  # golden month
    assert sum(by_month.values()) == 306834
