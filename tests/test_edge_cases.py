"""Unit fixtures for the SURVEY §2.4 fine print, exercised directly on
the pure-pandas kernel (no Spark needed): 特払い, レース不成立, missing
複勝2, rank-code filtering, full-width distance markers, venue padding.

Line snippets mirror the committed corpus shapes (FIXTURES.md §2).
"""

from __future__ import annotations

from boatrace_database_spark.parse.kernel import parse_file

HEADER = [
    "24KBGN",
    "                            ＊＊＊　競走成績　＊＊＊",
    "",
    "          テスト記念レース",
    "",
    "   第 1日          2020/ 8/ 1                             ボートレース大　村",
]


def _k(lines: list[str]):
    return parse_file(HEADER + lines, "K", "2020-08-01")


def _rows(pdf, table):
    return pdf[pdf["table"] == table]


RACE_HEADER = "   1R       一　般　　　                 H1800m  晴　  風  西　　 2m  波　  1cm"


def test_env_and_race_id_with_fullwidth_padding():
    out = _k([RACE_HEADER])
    env = _rows(out, "env")
    assert len(env) == 1
    assert env.iloc[0]["race_id"] == "2020-08-01大　村テスト記念レース1R"
    assert env.iloc[0]["vals"] == ["晴", "西", "2", "1", "大　村"]


def test_result_keeps_0d_ranks_drops_codes():
    out = _k(
        [
            RACE_HEADER,
            "  01  1 4880 澤　崎　　雄　哉 32   55  6.98   1    0.15     1.58.8",
            "  00  2 1111 試　験　　選　手 10   11  6.50   2    0.10      .  . ",
            "  F   3 2222 試　験　　選　手 10   11  6.50   3    0.10      .  . ",
            "  S0  4 3944 山　口　　裕　二 72   16  6.95   4    0.10      .  . ",
            "  K0  5 4788 小　池　　哲　也 56   20 K .         K .        .  . ",
            "  L0  6 5555 試　験　　選　手 10   11  6.50   6    0.10      .  . ",
        ]
    )
    res = _rows(out, "result")
    # parity regex: only 0d-shaped ranks survive (01 and the rare 00)
    assert [v[0] for v in res["vals"]] == ["1", "0"]
    # the extension table sees every boat including the dropped codes
    ext = _rows(out, "result_ext")
    assert [v[0] for v in ext["vals"]] == ["01", "00", "F", "S0", "K0", "L0"]
    # K0 has no numeric exhibition/ST
    k0 = [v for v in ext["vals"] if v[0] == "K0"][0]
    assert k0[6] == "K ." and k0[8] == "K ."


ODDS_STANZA = [
    "        単勝     1          130  ",
    "        複勝     1          200  6         2130  ",
    "        ２連単   1-6       2460  人気     9 ",
    "        ２連複   1-6       2830  人気     9 ",
    "        拡連複   1-6       1050  人気     9 ",
    "                 1-2        410  人気     5 ",
    "                 2-6       1580  人気    13 ",
    "        ３連単   1-6-2    13980  人気    45 ",
    "        ３連複   1-2-6     3120  人気    11 ",
]


def test_odds_full_stanza():
    out = _k([RACE_HEADER] + ODDS_STANZA)
    odds = _rows(out, "odds")
    assert len(odds) == 1
    assert odds.iloc[0]["vals"] == [
        "130", "200", "2130", "2460", "2830", "1050", "410", "1580", "13980", "3120",
    ]


def test_odds_tokubarai_win_becomes_minus1():
    # 特払い: the 単勝 line has no lane digit -> capture fails -> -1,
    # and the cursor still advances (reference main.py:176-185)
    stanza = ["        単勝     特払い      70  "] + ODDS_STANZA[1:]
    out = _k([RACE_HEADER] + stanza)
    assert _rows(out, "odds").iloc[0]["vals"][0] == "-1"
    assert _rows(out, "odds").iloc[0]["vals"][1] == "200"


def test_odds_missing_fukusho2():
    # single-place race: 複勝 line has only one payout -> 複勝2 = -1
    stanza = ODDS_STANZA.copy()
    stanza[1] = "        複勝     1          200  "
    out = _k([RACE_HEADER] + stanza)
    vals = _rows(out, "odds").iloc[0]["vals"]
    assert vals[1] == "200" and vals[2] == "-1"


def test_odds_cancelled_race_all_minus1():
    out = _k([RACE_HEADER, "     レース不成立"])
    assert _rows(out, "odds").iloc[0]["vals"] == ["-1"] * 10


def test_schedule_fullwidth_marker_increments_race():
    lines = [
        "22BBGN",
        "                            ＊＊＊　番組表　＊＊＊",
        "",
        "          テスト番組",
        "",
        "   第 1日        ２０２０年　８月　１日                  ボートレース大　村",
        "１Ｒ  一　般　　　          Ｈ１８００ｍ",
        "1 4041小林基樹41山口55B1 4.40 22.79 5.04 30.43 44 30.77 55 15.69 6 56",
        "２Ｒ  一　般　　　          Ｈ１８００ｍ",
        "2 4041小林基樹41山口55B1 4.40 22.79 5.04 30.43 44 30.77 55 15.69 6 56",
    ]
    out = parse_file(lines, "B", "2020-08-01")
    sched = _rows(out, "schedule")
    assert list(sched["race_id"]) == [
        "2020-08-01大　村テスト番組1R",
        "2020-08-01大　村テスト番組2R",
    ]
    assert sched.iloc[0]["vals"] == [
        "1", "4041", "小林基樹", "41", "山口", "55", "B1",
        "4.40", "22.79", "5.04", "30.43", "30.77", "15.69",
    ]


def test_race_counter_resets_per_section():
    two_sections = HEADER + [RACE_HEADER] + HEADER + [RACE_HEADER]
    out = parse_file(two_sections, "K", "2020-08-01")
    env = _rows(out, "env")
    # both races are 1R — the counter reset at the second section header
    assert list(env["race_id"]) == ["2020-08-01大　村テスト記念レース1R"] * 2


def test_malformed_header_drops_section():
    """A section whose name and venue lines fail to extract emits no
    records, and does not inherit the previous section's context."""
    bad_header = HEADER[:3] + [
        "MALFORMED-NAME-LINE",  # the name pattern needs 10 leading spaces
        "",
        "   第 1日          2020/ 8/ 1              (venue line missing its marker)",
    ]
    out = parse_file(
        HEADER + [RACE_HEADER] + bad_header + [RACE_HEADER.replace("1R", "2R")],
        "K", "2020-08-01",
    )
    env = _rows(out, "env")
    assert list(env["race_id"]) == ["2020-08-01大　村テスト記念レース1R"]
    assert set(out["race_id"]) == {"2020-08-01大　村テスト記念レース1R"}


def test_odds_stanza_truncated_at_eof():
    # anchor as the LAST line: every lead falls off the file -> all -1
    # except what the anchor line itself provides
    out = _k([RACE_HEADER, "        単勝     1          130  "])
    vals = _rows(out, "odds").iloc[0]["vals"]
    assert vals[0] == "130" and vals[1:] == ["-1"] * 9


def test_empty_file_and_headerless_records():
    out = parse_file([], "K", "2020-08-01")
    assert len(out) == 0
    # record-shaped lines before any section header are dropped (no context)
    out2 = parse_file(
        ["  01  1 4880 澤　崎　　雄　哉 32   55  6.98   1    0.15     1.58.8"],
        "K", "2020-08-01",
    )
    assert len(_rows(out2, "result")) == 0


def test_freq_items_containment_guarantee(spark):
    """freqItems' contract: every item whose TRUE frequency exceeds the
    support threshold appears in the result (false positives allowed,
    false negatives never)."""
    import collections

    rows = (
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 15 + [("d",)] * 5
    )
    df = spark.createDataFrame(rows, ["v"])
    out = set(df.stat.freqItems(["v"], support=0.2).first()[0])
    true_freq = collections.Counter(r[0] for r in rows)
    n = len(rows)
    for item, cnt in true_freq.items():
        if cnt / n > 0.2:
            assert item in out, (item, cnt / n, out)


def test_freq_items_query_shape(spark):
    from boatrace_database_spark.queries import QUERIES

    rows = QUERIES["freq_items_heavy_hitters"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "documents has few sources/langs: heavy hitters must exist"
    assert {r.column for r in rows} <= {"source", "lang"}
