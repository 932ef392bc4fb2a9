"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare
row-count + schema + order-insensitive values (columns sorted by name,
rows sorted, exact equality after canonicalization).

Stricter than the driver in one way: we compare actual values, not a
hash, so failures print the first differing rows.
"""

from __future__ import annotations

import decimal
import math
import os
import warnings

import duckdb
import pyarrow as pa
import pytest

import __spark_entry__ as entry_mod
from boatrace_database_spark.queries import domain
from boatrace_database_spark.schemas import CATALOG_SCHEMAS

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in CATALOG_SCHEMAS:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _canon(v):
    """Canonicalize to a (type-class, value) pair.

    The type class is part of the comparison on purpose: the driver's
    value hash is typed, so an oracle emitting DOUBLE/HUGEINT where
    Spark emits BIGINT hash-mismatches even when the numbers are equal
    (the exact bug that slipped through in round 5 — ann_bucket_stats'
    uncast DuckDB sum()). Python's `1 == 1.0` must NOT pass here.
    """
    if isinstance(v, bool):
        return ("i", int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", (1, 0.0))  # sortable NaN marker
        # collapse -0.0/0.0 and float noise at the 9th decimal
        return ("f", (0, round(v, 9) + 0.0))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, decimal.Decimal):
        # DECIMAL is its own class: a query whose oracle yields DECIMAL
        # while Spark yields double/long must be fixed with an explicit
        # CAST on one side, not silently coerced here.
        return ("d", v.normalize())
    return (type(v).__name__, v)


def _rows_to_set(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def _spark_type_class(dt) -> str:
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "i"
    if s in ("float", "double"):
        return "f"
    if s.startswith("decimal"):
        return "d"
    if s == "boolean":
        return "b"
    if s == "string":
        return "s"
    if s == "date":
        return "date"
    if s.startswith("timestamp"):
        return "ts"
    if s.startswith("array"):
        return "list"
    return s


def _arrow_type_class(t) -> str:
    if pa.types.is_integer(t):
        return "i"
    if pa.types.is_floating(t):
        return "f"
    if pa.types.is_decimal(t):
        return "d"
    if pa.types.is_boolean(t):
        return "b"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "s"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list"
    return str(t)


ALL_QUERIES = sorted(entry_mod.queries().keys())
# the boatrace-domain entries parse the committed reference month
REFERENCE_QUERIES = set(domain.QUERIES)


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.requires_reference)
        if n in REFERENCE_QUERIES
        else n
        for n in ALL_QUERIES
    ],
)
def test_query_matches_oracle(name, spark, ddb):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_rows = sdf.collect()
    spark_cols = sdf.columns

    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        # rows-only check, like the driver's weaker gate
        assert len(spark_rows) >= 0
        return

    # Fetch through Arrow, not fetchall: DuckDB's Python client coerces
    # HUGEINT (e.g. an uncast sum() of integers) to plain int in
    # fetchall, hiding exactly the type drift that flips the driver's
    # typed value hash. Arrow surfaces it as decimal128 → Decimal.
    atable = ddb.execute(oracle).fetch_arrow_table()
    ddb_cols = atable.column_names
    ddb_rows = [tuple(r.values()) for r in atable.to_pylist()]

    assert sorted(spark_cols) == sorted(ddb_cols), (
        f"{name}: column mismatch {spark_cols} vs {ddb_cols}"
    )
    spark_classes = {
        f.name: _spark_type_class(f.dataType) for f in sdf.schema.fields
    }
    ddb_classes = {
        fld.name: _arrow_type_class(fld.type) for fld in atable.schema
    }
    type_drift = {
        c: (spark_classes[c], ddb_classes[c])
        for c in spark_classes
        if spark_classes[c] != ddb_classes[c]
    }
    assert not type_drift, (
        f"{name}: column type-class drift (spark, oracle): {type_drift} — "
        "the driver's value hash is typed, so this fails its gate even "
        "when values are numerically equal (add an explicit CAST)"
    )
    assert len(spark_rows) == len(ddb_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(ddb_rows)}"
    )
    a = _rows_to_set(spark_cols, [tuple(r) for r in spark_rows])
    b = _rows_to_set(ddb_cols, ddb_rows)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first diffs {mismatches[:3]}"


def test_canon_is_typed():
    """The r5 lesson, pinned: the canonicalizer must DISTINGUISH
    numeric type classes (Python's 1 == 1.0 let an uncast DuckDB
    HUGEINT slip past the local gate while the driver's typed hash
    failed). Any refactor that re-merges the classes fails here."""
    assert _canon(1) != _canon(1.0)
    assert _canon(decimal.Decimal("500")) != _canon(500)
    assert _canon(decimal.Decimal("500")) != _canon(500.0)
    assert _canon(True) == _canon(1)  # bools stay ints, as Spark returns
    # NaN canonicalizes equal to itself and sorts against floats
    assert _canon(float("nan")) == _canon(float("nan"))
    sorted([_canon(float("nan")), _canon(1.0), _canon(-2.5)])
    # float noise still collapses within a class
    assert _canon(0.1 + 0.2) == _canon(0.3)
    assert _canon(-0.0) == _canon(0.0)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert df.columns


def test_contract_invariants():
    """Driver-contract hygiene: every oracle key maps to a query, SQL
    strings are non-empty, and the module imports without a session."""
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(isinstance(v, str) and v.strip() for v in os_.values())
    assert len(qs) >= 60


@pytest.mark.slow
def test_catalog_schemas_driver_canonicalizable(spark):
    """Round-7 failure class, pinned: the driver's pandas canonicalizer
    sorts every result column and dies on non-hashable cells
    (``TypeError: unhashable type: 'list'`` — the r7 red rows for
    pack_materialize / embedding_project_jl). Every oracle-backed
    catalog entry must therefore emit only ATOMIC top-level column
    types; arrays belong serialized (concat_ws) or exploded
    (posexplode) in the query's final projection. Rows-only entries
    skip the driver's value hash, but their row-count collect still
    round-trips through Arrow, so they are exempt here.

    Schema inspection only — the plan is never executed, so this stays
    cheap across the full catalog.

    The boatrace-domain entries parse the reference month while they
    build their plans; without the reference tree they are skipped, with
    a warning that names them.
    """
    skipped = set() if os.path.isdir(domain.REF) else REFERENCE_QUERIES
    if skipped:
        warnings.warn(
            f"skipped {sorted(skipped)}: they need {domain.REF} "
            "(reference tree not on this host)"
        )
    offenders = {}
    for name in entry_mod.oracle_sql():
        if name in skipped:
            continue
        sdf = entry_mod.queries()[name](spark, "/root/testdata/sf0.001")
        bad = {
            f.name: f.dataType.simpleString()
            for f in sdf.schema.fields
            if f.dataType.simpleString().startswith(("array", "map", "struct"))
        }
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracle-backed queries with driver-uncanonicalizable top-level "
        f"columns (reshape to scalar/exploded output): {offenders}"
    )
