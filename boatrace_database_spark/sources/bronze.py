"""Bronze layer: the reference's raw files -> named CP932 members.

Replaces reference main.py:89-100 (decompress). Spark's ``text``
source cannot decode CP932 and there is no Hadoop LZH codec, so
ingestion reads whole files via the ``binaryFile`` source and decodes
inside an Arrow-batched ``mapInPandas`` (parse/kernel.parse_files) —
no shuffle (SURVEY §3 E1: files are the natural partition unit; state
never crosses a file boundary).

``file_members`` is the one place that opens an input: a ``.lzh``
archive yields its members through the bundled -lh5- decoder, a daily
``.TXT`` file yields itself. The parse reaches every input through it,
so it reads both formats. ``file_meta`` derives a member's kind and
race date from its name; ``decompress_lzh_to_dir`` is the driver-side
expansion of archives to TXT files.

At 100 TB scale this stays correct: ``binaryFile`` spreads files
across executors (Spark's file planner packs small files into tasks
by bytes), and decode is embarrassingly parallel.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

from boatrace_database_spark.sources import lzh

_FILE_RE = re.compile(r"([KBkb])(\d{2})(\d{2})(\d{2})\.TXT$", re.IGNORECASE)


def file_meta(path: str) -> tuple[str, str, str]:
    """``.../K200801.TXT`` -> (file, kind='K', race_date='2020-08-01').

    Mirrors the reference's date threading (main.py:61,69-70: the date
    string is derived from the requested day and embedded in the name).
    A name outside ``[KB]yymmdd.TXT`` gives ``kind=''``.
    """
    name = os.path.basename(path)
    m = _FILE_RE.search(name)
    if not m:
        return name, "", ""
    kind, yy, mm, dd = m.group(1).upper(), m.group(2), m.group(3), m.group(4)
    return name, kind, f"20{yy}-{mm}-{dd}"


def file_members(path: str, content: bytes) -> Iterator[tuple[str, bytes]]:
    """(member name, raw bytes) of one input file: a ``.lzh`` archive
    yields each member it holds, any other path yields itself."""
    if path.lower().endswith(".lzh"):
        for member in lzh.read_lzh_bytes(bytes(content)):
            yield member.filename, member.data
    else:
        yield path, bytes(content)


def decompress_lzh_to_dir(lzh_paths: list[str], out_dir: str) -> list[str]:
    """Driver-side LZH expansion (reference main.py:89-100), using the
    bundled pure-Python -lh5- decoder (sources/lzh.py) — no external
    package needed.

    The official archives store CRLF line endings while the committed
    ``txt/`` corpus is LF; the members are written with LF endings, so
    the output reproduces the committed bytes.
    """
    os.makedirs(out_dir, exist_ok=True)
    written: list[str] = []
    for path in lzh_paths:
        for member in lzh.read_lzh(path):
            target = os.path.join(out_dir, os.path.basename(member.filename))
            with open(target, "wb") as fh:
                fh.write(member.data.replace(b"\r\n", b"\n"))
            written.append(target)
    return written
