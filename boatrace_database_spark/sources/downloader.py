"""Throttled driver-side downloader (SURVEY §2.1 S1 + P15).

The official site serves one LZH archive per (day, type); the reference
enforces a 3 s politeness interval (main.py:42) — which forbids wide
cluster-parallel fetching, so ingestion is deliberately a sequential
driver-side loop (SURVEY §2.1 S1: "rate limit forbids wide parallel
fetch"). The fetch callable is injectable so tests run without network
and alternative transports can be plugged in.

URL scheme (reference main.py:33-41):
  http://www1.mbrace.or.jp/od2/{K|B}/{YYYY}{MM}/{k|b}{YY}{MM}{DD}.lzh
"""

from __future__ import annotations

import calendar
import os
import time
from collections.abc import Callable, Iterable

RESULT = "K"
SCHEDULE = "B"
TEMPLATE_URL = "http://www1.mbrace.or.jp/od2/{kind}/{yyyy}{mm}/{k}{yy}{mm}{dd}.lzh"
REQUEST_INTERVAL_S = 3.0


def archive_url(date: str, kind: str) -> str:
    yyyy, mm, dd = date.split("-")
    return TEMPLATE_URL.format(kind=kind, yyyy=yyyy, mm=mm, k=kind.lower(), yy=yyyy[2:], dd=dd)


def _default_fetch(url: str) -> bytes:  # pragma: no cover - network
    import urllib.request

    with urllib.request.urlopen(url) as resp:
        return resp.read()


def download_archives(
    dates: Iterable[str],
    kinds: tuple[str, ...] = (RESULT, SCHEDULE),
    out_dir: str = "lzh",
    fetch: Callable[[str], bytes] | None = None,
    interval_s: float = REQUEST_INTERVAL_S,
    check_existence: bool = True,
    sleep: Callable[[float], None] = time.sleep,
) -> list[str]:
    """Fetch archives sequentially with the politeness interval;
    skip-if-exists caching like the reference (main.py:64-66)."""
    fetch = fetch or _default_fetch
    os.makedirs(out_dir, exist_ok=True)
    paths: list[str] = []
    for date in dates:
        for kind in kinds:
            path = os.path.join(out_dir, f"{kind}{date}.lzh")
            if check_existence and os.path.exists(path):
                paths.append(path)
                continue
            payload = fetch(archive_url(date, kind))
            sleep(interval_s)
            with open(path, "wb") as fh:
                fh.write(payload)
            paths.append(path)
    return paths


def month_dates(year: int, *months: int) -> list[str]:
    """P15 date-range driver (main.py:270-275)."""
    out = []
    for month in months:
        days = calendar.monthrange(year, month)[1]
        out.extend(f"{year}-{month:02d}-{day:02d}" for day in range(1, days + 1))
    return out
