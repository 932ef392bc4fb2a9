"""Value-hash every catalog query's collected output — the equivalence
gate for optimization rounds: run before and after a change, diff the
JSON. Any declared query whose hash moves is a result change the
driver's oracle would flag (r13 optimization discipline: *prove*
equivalence, don't assume it).

Usage: python scripts/snapshot_hashes.py <sf_dir> <out.json> [name ...]
Only the named queries are hashed when names are given.

Canonicalization: rows are rendered with repr() per value (full float
precision — an ulp-level drift shows up), sorted lexicographically so
nondeterministic row order doesn't alias as a diff.

A query that fails is recorded with its error and the sweep goes on,
as long as the Spark session is still alive (the boatrace-domain
entries fail with `AnalysisException` on a host without the reference
tree). A failure that leaves the session dead — the JVM went away —
stops the sweep with a non-zero exit naming that query, and no JSON is
written: every later query would otherwise be recorded as
`ConnectionRefusedError` and show up as a "moved" hash.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

from py4j.protocol import Py4JError

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from boatrace_database_spark.queries import QUERIES  # noqa: E402
from boatrace_database_spark.session import get_spark  # noqa: E402


def row_repr(row) -> str:
    return repr(tuple(row))


def session_alive(spark) -> bool:
    """True while the session's SparkContext runs: a stopped context
    has no Java handle, and a lost JVM refuses the py4j call."""
    jsc = spark.sparkContext._jsc
    if jsc is None:
        return False
    try:
        return not jsc.sc().isStopped()
    except (Py4JError, OSError):
        return False


def main() -> None:
    sf_dir = sys.argv[1]
    out_path = sys.argv[2]
    names = sys.argv[3:] or list(QUERIES)
    spark = get_spark("snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    hashes: dict[str, dict] = {}
    for name in names:
        try:
            rows = QUERIES[name](spark, sf_dir).collect()
            canon = "\n".join(sorted(row_repr(r) for r in rows))
            hashes[name] = {
                "rows": len(rows),
                "sha": hashlib.sha256(canon.encode()).hexdigest(),
            }
        except Exception as exc:
            if not session_alive(spark):
                sys.exit(
                    f"snapshot_hashes: Spark session lost at query {name!r} "
                    f"({exc!r:.200}); no hashes written"
                )
            hashes[name] = {"rows": None, "sha": None, "err": repr(exc)[:200]}
        print(f"  {name}: {hashes[name]}", file=sys.stderr)
    with open(out_path, "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)
    print(json.dumps({"sf_dir": sf_dir, "n": len(hashes), "out": out_path}))


if __name__ == "__main__":
    main()
