"""Per-file parse kernel: CP932 lines -> tagged silver rows, one pass.

Re-implements the reference state machine (main.py:126-218) with the
same observable semantics, but vectorized and single-pass:

- the reference scans each K file THREE times (result/env/odds,
  main.py:249-252); this kernel derives all four tables from one scan
  (SURVEY §4 "redundant-scan elimination"),
- per-line record patterns (schedule/result/env) run as vectorized
  pandas ``str.extract`` over the whole file at once,
- only the genuinely sequential parts stay imperative: the section
  header lookahead (name at +2 lines, venue at +4 — main.py:139-156)
  and the 10-line odds stanza cursor (main.py:166-185). Both touch a
  handful of lines per race section.

Faithfulness notes (SURVEY §2.4 is the spec):
- lines h+1..h+3 after a section header are consumed unprocessed (the
  reference's ``f.readline()`` lookahead); the venue line h+4 IS
  re-processed for markers/records, exactly like the reference where
  ``line`` still holds it after the lookahead,
- the odds stanza consumes 9 lines after the anchor (複勝1/複勝2 share
  a line); unmatched payouts become ``-1``; a レース不成立 line yields
  ten ``-1`` and consumes nothing,
- result ranks only match the ``0d`` shape — F/L0/S0-S2/K0 rows drop,
- race_num increments on distance markers (half-width ``H1800m`` in K
  files, full-width in B files) and resets at each section header.

Every ingest path reaches ``parse_file`` through ``parse_member``
(decode CP932, parse, tag file/kind/race_date), and opens its inputs
through ``sources.bronze.file_members``, so TXT files and ``.lzh``
archives read the same way everywhere:

- ``parse_files(spark, glob)``: binaryFile scan -> ``parse_binary_df``,
  one Arrow-batched ``mapInPandas`` with one input file per group — no
  shuffle, state never crosses a file boundary;
- ``parse_binary_df(df)``: the same over a (path, content) frame; the
  streaming ingest calls it per micro-batch;
- ``parse_files_sectioned(spark, glob)``: split at venue sections,
  redistribute, parse per section (large single files);
- ``spark.read.format("boatrace")`` (sources/datasource.py).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from boatrace_database_spark.parse import patterns as P
from boatrace_database_spark.sources.bronze import file_members, file_meta

PARSED_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("race_date", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("race_id", T.StringType()),
        T.StructField("vals", T.ArrayType(T.StringType())),
    ]
)

_N_ODDS = len(P.ODDS_STANZA)


def parse_file(lines: list[str], kind: str, race_date: str) -> pd.DataFrame:
    """Parse one decoded file's lines into (table, race_id, vals) rows.

    Pure pandas/numpy — unit-testable without Spark.

    Lines must behave like the reference's ``f.readline()`` output, which
    keeps the trailing newline — RACE_PLACE's closing ``\\s`` depends on
    it (venue names embed full-width spaces: without the newline,
    ``大　村`` truncates to ``大``). We re-append it defensively.
    """
    lines = [l if l.endswith("\n") else l + "\n" for l in lines]
    n = len(lines)

    # Every full-line scan below is a plain re loop behind a cheap
    # substring PRETEST that the pattern itself implies (a literal the
    # regex must contain), so the regex only runs on candidate lines.
    # pandas str.extract/contains are object loops over re.search under
    # the hood, and the unanchored searches (ODDS_ANCHOR especially: 9x
    # this file's whole parse) re-scan every start position of every
    # line — measured 1.44 s -> ~0.5 s per month of files (guide §4.2;
    # byte-golden parity pinned by tests/test_parse_golden.py).
    is_header = np.fromiter(
        ("＊" in l and P.SECTION_HEADER.match(l) is not None for l in lines),
        dtype=bool,
        count=n,
    )
    header_idx = np.flatnonzero(is_header)

    # --- sequential context: race name / venue via fixed lookahead -------
    processed = np.ones(n, dtype=bool)
    names = np.empty(n, dtype=object)
    places = np.empty(n, dtype=object)
    names[:] = None
    places[:] = None
    bounds = list(header_idx) + [n]
    for i, h in enumerate(header_idx):
        processed[h + 1 : min(h + 4, n)] = False  # lookahead-consumed lines
        name = place = None
        if h + 2 < n:
            m = P.RACE_NAME.match(lines[h + 2])
            name = m.group(1) if m else None
        if h + 4 < n:
            m = P.RACE_PLACE.search(lines[h + 4])
            place = m.group(1) if m else None
        names[h : bounds[i + 1]] = name
        places[h : bounds[i + 1]] = place

    # --- running race counter (P4): markers reset per section ------------
    # pretest: both DISTANCE_MARKER alternatives require a literal H/Ｈ
    is_marker = (
        np.fromiter(
            (
                ("H" in l or "Ｈ" in l)
                and P.DISTANCE_MARKER.search(l) is not None
                for l in lines
            ),
            dtype=bool,
            count=n,
        )
        & processed
    )
    marker_cum = np.cumsum(is_marker)
    base = np.zeros(n, dtype=np.int64)
    for i, h in enumerate(header_idx):
        base[h : bounds[i + 1]] = marker_cum[h]
    race_num = marker_cum - base

    def race_ids(idx: np.ndarray) -> np.ndarray:
        return np.array(
            [
                f"{race_date}{places[j]}{names[j]}{race_num[j]}R"
                for j in idx
            ],
            dtype=object,
        )

    frames: list[pd.DataFrame] = []

    def emit(table: str, idx: np.ndarray, vals: list[list[str]]) -> None:
        # records before any section header have no race context (the
        # reference would crash there — NameError on race_place); drop
        # them instead of emitting garbage ids
        keep = [k for k, j in enumerate(idx) if names[j] is not None and places[j] is not None]
        if keep:
            idx = idx[keep]
            vals = [vals[k] for k in keep]
            frames.append(
                pd.DataFrame(
                    {"table": table, "race_id": race_ids(idx), "vals": vals}
                )
            )

    if kind == "K":
        # result: per-boat finish lines (pretest: the rank is a literal
        # "0" + digit, so any matching line contains "0")
        res_m = [P.RESULT.search(l) if "0" in l else None for l in lines]
        hit = (
            np.fromiter((m is not None for m in res_m), dtype=bool, count=n)
            & processed
        )
        idx = np.flatnonzero(hit)
        emit("result", idx, [list(res_m[j].groups()) for j in idx])

        # env: the race-header line carries the weather payload
        # (pretest: the pattern requires a literal 風)
        env_m = [P.ENV.search(l) if "風" in l else None for l in lines]
        hit = (
            np.fromiter((m is not None for m in env_m), dtype=bool, count=n)
            & processed
        )
        idx = np.flatnonzero(hit)
        vals = [[*env_m[j].groups(), places[j] or ""] for j in idx]
        emit("env", idx, vals)

        # result_ext (extension): every per-boat line incl. disqualification
        # codes, with the fields the parity regex drops (motor/boat no,
        # entry course, start timing, race time) — fixed-width tail slice
        ext_hit = (
            np.fromiter(
                (P.RESULT_EXT_HEAD.match(l) is not None for l in lines),
                dtype=bool,
                count=n,
            )
            & processed
        )
        ext_idx = np.flatnonzero(ext_hit)
        ext_vals = []
        for j in ext_idx:
            line = lines[j]
            t0 = P.RESULT_EXT_TAIL_START
            tail = line.rstrip("\n")[t0:]
            ext_vals.append(
                [
                    line[2:4].strip(),        # rank_code (01-06/F/L0/L1/S0-S2/K0/K1)
                    line[6],                  # lane
                    line[8:12],               # player_id
                    line[13:21].strip("　"),  # player_name (full-width padded)
                    tail[0:4].strip(),        # motor_no
                    tail[4:9].strip(),        # boat_no
                    tail[9:15].strip(),       # exhibition
                    tail[15:19].strip(),      # entry_course
                    tail[19:28].strip(),      # start_timing
                    tail[28:40].strip(),      # race_time
                ]
            )
        emit("result_ext", ext_idx, ext_vals)

        # race_meta (extension): winning technique from the column-header
        # line (text after the ﾚｰｽﾀｲﾑ label, full-width padding stripped)
        meta_hit = (
            np.fromiter(
                (P.RACE_META_LINE.match(l) is not None for l in lines),
                dtype=bool,
                count=n,
            )
            & processed
        )
        meta_idx = np.flatnonzero(meta_hit)
        meta_vals = []
        for j in meta_idx:
            line = lines[j].rstrip("\n")
            pos = line.find(P.KIMARITE_ANCHOR)
            tail = line[pos + len(P.KIMARITE_ANCHOR):] if pos >= 0 else ""
            meta_vals.append([tail.strip().strip("　")])
        emit("race_meta", meta_idx, meta_vals)

        # odds: per-anchor positional stanza walk (sequential by design).
        # The unanchored alternation search was the single most
        # expensive pass of the whole kernel (it rescans every start
        # position of every line); both alternatives require one of two
        # literals, so the pretest is exact — measured 26x on this pass.
        anchor_hit = (
            np.fromiter(
                (
                    ("単勝" in l or P.CANCELLED in l)
                    and P.ODDS_ANCHOR.search(l) is not None
                    for l in lines
                ),
                dtype=bool,
                count=n,
            )
            & processed
        )
        odds_idx = np.flatnonzero(anchor_hit)
        odds_vals: list[list[str]] = []
        for i0 in odds_idx:
            if P.CANCELLED in lines[i0]:
                odds_vals.append(["-1"] * _N_ODDS)
                continue
            row: list[str] = []
            j = int(i0)
            for k, pat in enumerate(P.ODDS_STANZA):
                m = pat.match(lines[j]) if j < n else None
                row.append(m.group(1) if m else "-1")
                if k != 1:  # 複勝1 and 複勝2 share one line (main.py:184)
                    j += 1
            odds_vals.append(row)
        emit("odds", odds_idx, odds_vals)

    elif kind == "B":
        # pretest: SCHEDULE is ^-anchored on [1-6] (no re.M, lines hold
        # no inner newlines), so the first char decides candidacy
        sch_m = [
            P.SCHEDULE.match(l) if l[0] in "123456" else None for l in lines
        ]
        hit = (
            np.fromiter((m is not None for m in sch_m), dtype=bool, count=n)
            & processed
        )
        idx = np.flatnonzero(hit)
        emit("schedule", idx, [list(sch_m[j].groups()) for j in idx])

    if not frames:
        # dtypes must be object, not float64, or Arrow can't map the
        # empty vals column to list<string>
        return pd.DataFrame(
            {
                "table": pd.Series(dtype="object"),
                "race_id": pd.Series(dtype="object"),
                "vals": pd.Series(dtype="object"),
            }
        )
    return pd.concat(frames, ignore_index=True)


def parse_member(name: str, raw: bytes) -> pd.DataFrame:
    """One reference-format file (a daily TXT or an archive member) ->
    parsed rows tagged with its file, kind and race_date.

    The name must be ``[KB]yymmdd.TXT``: it carries the kind and the
    date, so any other name is refused rather than parsed to nothing.
    """
    file, kind, race_date = file_meta(name)
    if not kind:
        raise ValueError(f"not a [KB]yymmdd.TXT race file: {name!r}")
    text = raw.decode("cp932", errors="replace")
    out = parse_file(text.splitlines(), kind, race_date)
    out.insert(0, "race_date", race_date)
    out.insert(0, "kind", kind)
    out.insert(0, "file", file)
    return out


def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(path, content) rows -> parsed rows. Decode+parse fused: no shuffle."""
    for pdf in batches:
        for path, content in zip(pdf["path"], pdf["content"]):
            for name, raw in file_members(path, content):
                yield parse_member(name, raw)


def parse_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """One-pass scan: raw TXT files or ``.lzh`` archives -> tagged
    parsed rows (the full S1->silver input with zero shuffles)."""
    return parse_binary_df(spark.read.format("binaryFile").load(path_glob))


def parse_binary_df(binary: DataFrame) -> DataFrame:
    """Fused decode+parse over an existing (path, content) DataFrame —
    shared by ``parse_files`` and the streaming foreachBatch ingest
    (streaming/ingest.stream_ingest_boatrace).

    The binaryFile source emits one partition per file; daily TXT files
    are ~160 KB, so the scan is coalesced (narrow, no shuffle) to a few
    partitions per core — per-task scheduling + Arrow overhead would
    otherwise dominate on small-file corpora. coalesce never increases
    the partition count, so it is a no-op with fewer files than 2x cores.
    """
    binary = binary.select("path", "content").coalesce(
        binary.sparkSession.sparkContext.defaultParallelism * 2
    )
    return binary.mapInPandas(_parse_batches, schema=PARSED_SCHEMA)


# section markers at line starts in the raw bytes: CP932 never uses
# 0x0A as a trail byte, so a slice at a line start keeps every
# character whole and decodes to the same lines as the whole file
_BGN = re.compile(rb"^\d{2}[KB]BGN", re.M)


def _split_sections(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(path, content) -> one (path, section_no, content) row per venue
    section (NN[KB]BGN marker), ``path`` being the member's TXT name.

    Narrow pass: byte slicing only; the expensive decode and parse
    happen after sections redistribute across the cluster."""
    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            for name, raw in file_members(path, content):
                starts = [m.start() for m in _BGN.finditer(raw)]
                for i, (a, b) in enumerate(zip(starts, starts[1:] + [len(raw)])):
                    rows.append((name, i, raw[a:b]))
        if rows:
            yield pd.DataFrame(rows, columns=["path", "section_no", "content"])


def parse_files_sectioned(spark: SparkSession, path_glob: str) -> DataFrame:
    """Large-file scale path (SURVEY §7.4(5)): split each file into its
    venue sections (``NNKBGN`` markers) in a cheap narrow pass, then
    redistribute the sections and run the SAME ``parse_member`` per
    section. Sections are self-contained (every header resets the
    parse state), so the output is row-identical to ``parse_files`` —
    asserted on the committed month in tests/test_parse_golden.py and
    on a generated corpus in tests/test_ingest_paths.py. Use when single
    files are large enough that one-file-one-task would serialize the
    scan (a multi-GB day-file becomes ~a dozen independent tasks; at
    100 TB the split pass streams bytes while the parse pass holds one
    section each).
    """
    binary = spark.read.format("binaryFile").load(path_glob).select("path", "content")
    sections = binary.mapInPandas(
        _split_sections, schema="path STRING, section_no INT, content BINARY"
    )
    parallelism = spark.sparkContext.defaultParallelism
    sections = sections.repartition(parallelism, "path", "section_no")
    return sections.mapInPandas(_parse_batches, schema=PARSED_SCHEMA)
