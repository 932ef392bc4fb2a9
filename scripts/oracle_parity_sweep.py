"""Oracle-parity sweep at an arbitrary scale factor (default sf0.1 —
10x the driver's correctness gate): runs every oracle-backed catalog
query on Spark AND DuckDB at $SPARK_GRAFT_SF_DIR and compares
row-count + order-insensitive typed values, exactly like
tests/test_oracle_parity.py does at sf0.01.

Purpose: catch SCALE-DEPENDENT oracle truths — demos whose oracle is
only exact in a small-cardinality regime (the class of bug the HLL
lgk=12 sketch demo had: exact at 150 distinct users, 1488-vs-1500 at
sf0.1). A parity gate pinned to one scale factor cannot see these;
this sweep runs the same comparison one decade up.

Usage: python scripts/oracle_parity_sweep.py [sf_dir]
(one JSON line on stdout: {"sf_dir", "checked", "mismatches": {...}})
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# deliberately NOT read from SPARK_GRAFT_SF_DIR: an exported bench env
# var must not silently turn the 10x sweep into a re-run of the gate's
# own scale — pass the dir explicitly or take the sf0.1 default
SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
_TEMP_DIR = "/tmp/oracle_sweep_duckdb_tmp"


def _tfidf_related_heavy(con):
    """sf1 oracle path for `tfidf_related_docs` (r12, verdict item #7):
    DuckDB 1.0 cannot finish the FULL query a decade up — the pairs
    join-aggregate itself is fine (103M exact cosine pairs in 54 s with
    preserve_insertion_order=false), but every available top-k
    consolidation of the 206M-row symmetrized stream (window over
    row_number, grouped list(), lateral unnest) ran >9 min into tens of
    GB of temp spill (measured; the window form is what exhausted the
    disk in the r11 sweep). So the heavy half stays IN DuckDB — the
    same `pairs` CTE text as the driver oracle, both composed from
    `_TFIDF_PAIRS_CTES` so the two can never drift — and only the
    top-5-per-doc consolidation moves to numpy, with the identical
    deterministic order (cosine DESC, other_id ASC) encoded in one
    int64 key: m = round(cosine*1e6)*2^40 - other_id. cosine is
    round(x, 6) on both sides, so the integer encode/decode is exact
    and the emitted double (ci/1e6) is bit-identical to the SQL's.
    Returns (cols, rows) shaped like the driver oracle's output."""
    import numpy as np

    from boatrace_database_spark.queries.llm import _TFIDF_PAIRS_CTES

    at = con.execute(
        "WITH " + _TFIDF_PAIRS_CTES + "\nSELECT id_a, id_b, cosine FROM pairs"
    ).fetch_arrow_table()
    ida = at["id_a"].to_numpy().astype(np.int64)
    idb = at["id_b"].to_numpy().astype(np.int64)
    cos = at["cosine"].to_numpy()
    doc = np.concatenate([ida, idb])
    other = np.concatenate([idb, ida])
    ci = np.round(np.concatenate([cos, cos]) * 1e6).astype(np.int64)
    m = ci * (1 << 40) - other
    order = np.lexsort((-m, doc))
    doc_s, m_s = doc[order], m[order]
    first = np.r_[0, np.flatnonzero(np.diff(doc_s)) + 1]
    starts = np.zeros(len(doc_s), dtype=np.int64)
    starts[first] = first
    np.maximum.accumulate(starts, out=starts)
    rk = np.arange(len(doc_s), dtype=np.int64) - starts + 1
    keep = rk <= 5
    m_k = m_s[keep]
    ci_k = (m_k + (1 << 40) - 1) >> 40
    rows = list(
        zip(
            doc_s[keep].tolist(),
            (ci_k * (1 << 40) - m_k).tolist(),
            (ci_k / 1e6).tolist(),
            rk[keep].tolist(),
        )
    )
    return ["doc_id", "other_id", "cosine", "rk"], rows


# oracle formulations DuckDB cannot finish a decade up: same SQL for
# the heavy stage, numpy for the consolidation. Engaged only above the
# anchored-truth gate (8192 docs — quality.py's same threshold).
HEAVY_ORACLES = {"tfidf_related_docs": _tfidf_related_heavy}


def _python_type_class(v) -> str:
    """Type class of a HEAVY_ORACLES row value — derived from the
    actual python/numpy objects the heavy path returns, NOT mirrored
    from the Spark schema (r13 ADVICE #3: copying Spark's own classes
    made the drift check vacuous for the heavy rows — a dtype
    regression there could only surface as a value-hash mismatch).
    Same class vocabulary as _spark_type_class/_arrow_type_class."""
    import datetime
    import decimal

    import numpy as np

    if isinstance(v, bool) or isinstance(v, np.bool_):
        return "b"
    if isinstance(v, (int, np.integer)):
        return "i"
    if isinstance(v, (float, np.floating)):
        return "f"
    if isinstance(v, decimal.Decimal):
        return "d"
    if isinstance(v, str):
        return "s"
    if isinstance(v, datetime.datetime):
        return "ts"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "list"
    return type(v).__name__


def _duckdb_mem_limit() -> str:
    """DuckDB memory cap for the sweep: $SWEEP_DUCKDB_MEM when set,
    else ~40% of currently-available RAM (leaving room for the Spark
    JVM sharing the host) — the r12 form hardcoded '48GB', which
    assumed one specific host size (r13 ADVICE #2)."""
    env = os.environ.get("SWEEP_DUCKDB_MEM")
    if env:
        return env
    try:
        avail = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_AVPHYS_PAGES")
        return f"{max(4, int(avail * 0.4 / 2**30))}GB"
    except (ValueError, OSError):
        return "16GB"


def main() -> None:
    import duckdb

    from boatrace_database_spark.queries import ORACLES, QUERIES
    from boatrace_database_spark.schemas import CATALOG_SCHEMAS
    from boatrace_database_spark.session import get_spark

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo_root, "tests"))
    from test_oracle_parity import (  # the gate's EXACT comparison pieces
        _arrow_type_class,
        _rows_to_set,
        _spark_type_class,
    )

    spark = get_spark("oracle-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    # r12 oracle-engine hardening (verdict item #7): the r11 sweep lost
    # its two heaviest rows to DuckDB temp spill exhausting the disk.
    # preserve_insertion_order=false lets big joins/aggregates stream
    # (the tfidf pairs stage: 152 s + spill -> 54 s, no spill); a
    # bounded memory_limit leaves room for the Spark JVM sharing the
    # host; an explicit temp_directory keeps any residual spill out of
    # the repo cwd (DuckDB defaults to ./.tmp) and is cleaned on exit.
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"SET memory_limit='{_duckdb_mem_limit()}'")
    con.execute(f"SET temp_directory='{_TEMP_DIR}'")
    # temp-spill cleanup must survive a mid-sweep crash too — a failed
    # heavy oracle used to leave tens of GB in /tmp (r13 ADVICE #2)
    import atexit
    import shutil

    atexit.register(shutil.rmtree, _TEMP_DIR, ignore_errors=True)
    for t in CATALOG_SCHEMAS:
        # testdata ships single files; builder output (e.g. /tmp/sf1)
        # is a Spark parquet DIRECTORY — glob its parts for DuckDB
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    n_docs = con.execute("SELECT count(*) FROM documents").fetchall()[0][0]

    # `ann_lsh_topk`'s geometry is size-derived (round 13): the shipped
    # ORACLES string is generated at the floor-regime demo plan
    # (n <= 2048 -> (6, H2, L=4), the driver's sf0.01 gate), so at a
    # sweep scale whose derived plan differs the oracle must be
    # regenerated for THAT corpus size — same generator, same plane
    # stream, different literals — or parity would test a plan the
    # engine no longer runs.
    from boatrace_database_spark.operators.similarity import lsh_ann_geometry
    from boatrace_database_spark.queries.llm import _ann_lsh_topk_oracle_sql

    oracles = dict(ORACLES)
    n_vecs = con.execute("SELECT count(*) FROM embeddings").fetchall()[0][0]
    planes, probe, tables = lsh_ann_geometry(n_vecs)
    oracles["ann_lsh_topk"] = _ann_lsh_topk_oracle_sql(
        n_planes=planes, n_tables=tables, probe_hamming=probe
    )

    mismatches = {}
    checked = 0
    for name, sql in oracles.items():
        n_rows = None
        try:
            sdf = QUERIES[name](spark, SF_DIR)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            if name in HEAVY_ORACLES and n_docs > 8192:
                dcols, drows = HEAVY_ORACLES[name](con)
                atable = None
            else:
                atable = con.execute(sql).fetch_arrow_table()
                drows = [tuple(r.values()) for r in atable.to_pylist()]
                dcols = atable.column_names
            checked += 1
            n_rows = len(srows)
            # the gate's full comparison: columns, type classes, counts,
            # then typed values — type drift must fail even when the
            # value level cannot see it (0-row / all-NULL regimes)
            if sorted(scols) != sorted(dcols):
                mismatches[name] = {"columns": [scols, dcols]}
            else:
                sclasses = {
                    f.name: _spark_type_class(f.dataType)
                    for f in sdf.schema.fields
                }
                if atable is None:
                    # heavy override: classes from the ACTUAL python/
                    # numpy row values (first non-None per column), so
                    # a dtype regression in the heavy path is caught by
                    # the drift report, not only the value hash (r13
                    # ADVICE #3). An all-None column falls back to the
                    # Spark class (nothing to type against).
                    dclasses = {}
                    for ci, c in enumerate(dcols):
                        val = next(
                            (r[ci] for r in drows if r[ci] is not None), None
                        )
                        dclasses[c] = (
                            sclasses[c] if val is None
                            else _python_type_class(val)
                        )
                else:
                    dclasses = {
                        fld.name: _arrow_type_class(fld.type)
                        for fld in atable.schema
                    }
                drift = {
                    c: (sclasses[c], dclasses[c])
                    for c in sclasses
                    if sclasses[c] != dclasses[c]
                }
                if drift:
                    mismatches[name] = {"type_drift": drift}
                elif len(srows) != len(drows):
                    mismatches[name] = {"rows": [len(srows), len(drows)]}
                else:
                    a = _rows_to_set(scols, srows)
                    b = _rows_to_set(dcols, drows)
                    if a != b:
                        diff = [(x, y) for x, y in zip(a, b) if x != y]
                        mismatches[name] = {
                            "first_value_diff": repr(diff[:1])[:300]
                        }
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            mismatches[name] = {"error": str(exc).split("\n")[0][:200]}
        status = "MISMATCH " + next(iter(mismatches[name])) if name in mismatches else "ok"
        rows_note = "" if n_rows is None else f" ({n_rows} rows)"
        print(f"  {name}: {status}{rows_note}", file=sys.stderr)
    print(json.dumps({
        "sf_dir": SF_DIR, "checked": checked,
        "n_mismatches": len(mismatches), "mismatches": mismatches,
    }))


if __name__ == "__main__":
    main()
