"""bench.py output contract.

Round 8's only scoreboard loss was a bench ARTIFACT failure, not an
engine one: adding `queries_runs` to the stdout JSON pushed the line
past the driver's 2000-char tail capture and BENCH_r08 recorded
`parsed: null` despite rc=0. These tests pin the contract statically —
the headline payload built from the REAL query list with worst-case
float widths must stay under the 1900-char guard bench.py enforces at
runtime, so a grown HEADLINE or quality dict fails here first, in
seconds, instead of in the next round's driver record.
"""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from boatrace_database_spark.queries import QUERIES  # noqa: E402


def _max_width_payload() -> dict:
    # every timing at a worst-case width (xxx.xxx -> 7 chars)
    keys = list(bench.HEADLINE) + [
        "boatrace_month_e2e",
        "boatrace_year_from_lzh",
        "ann_ivf_build",
        "ann_ivfpq_build",
    ]
    timings = {k: 999.999 for k in keys}
    quality = {
        "ann_lsh_recall": 0.9999,
        "ann_lsh_candidates_per_query": 99999.9,
        "ann_lsh_candidate_frac": 0.9999,
        "ann_ivf_recall": 0.9999,
        "ann_ivfpq_recall": 0.9999,
        "ann_ivfpq_refine_recall": 0.9999,
        "minhash_lsh_recall": 0.9999,
        "simhash_recall": 0.9999,
        "lsh_cosine_pairs_recall": 0.9999,
        "pair_recall_baseline": "anchored",
        "semantic_dedup_recall": 0.9999,
        "dhash_pair_recall": 0.9999,
        "dhash_planted": 999999,
        "audio_pair_recall": 0.9999,
        "audio_planted": 999999,
        "minhash_capped_frac": 0.999999,
        "simhash_capped_frac": 0.999999,
        "dhash_capped_frac": 0.999999,
        "audio_capped_frac": 0.999999,
    }
    host = {
        "loadavg_start": 99.99,
        "idle_waited_sec": 999.9,
        "ref_query_sec": 99.999,
        "loadavg_end": 99.99,
    }
    return {
        "metric": "headline_queries_total",
        "value": 99999.999,
        "comparable_total": 99999.999,
        "unit": "sec",
        "queries": timings,
        "quality": quality,
        "host": host,
        "sf": 0.1,
    }


def test_headline_line_fits_driver_capture():
    line = json.dumps(_max_width_payload(), separators=(",", ":"))
    assert len(line) <= 1900, (
        f"bench stdout line would be {len(line)} chars — over the 1900 "
        "guard (driver captures 2000); trim HEADLINE keys or move a "
        "field to stderr (the r8 queries_runs lesson)"
    )


def test_headline_queries_exist():
    missing = [k for k in bench.HEADLINE if k not in QUERIES]
    assert not missing, f"bench.HEADLINE names unknown queries: {missing}"


def test_skipped_lines_stay_within_guard():
    """A host without the reference tree names the boatrace lines under
    "skipped" instead of timing them; at worst-case widths that payload
    trips the guard, which moves quality to stderr and keeps the line
    (with its "skipped" entry) within 1900 chars."""
    payload = _max_width_payload()
    for name in bench.BOATRACE_LINES:
        payload["queries"].pop(name)
    payload["skipped"] = dict.fromkeys(bench.BOATRACE_LINES, "no reference txt")
    line = bench.stdout_line(payload)
    assert len(line) <= 1900, len(line)
    assert json.loads(line)["skipped"] == payload["skipped"]
