"""Robust JSONL ingest: schema-enforced newline-delimited JSON with
corrupt-record quarantine — the interchange format LLM corpora
actually arrive in (one doc per line, producers with flaky escaping).

Spark's native json source does the heavy lifting (distributed,
splittable per line, no Python in the row path); this wraps the
PERMISSIVE-mode corrupt-record column into an explicit good/quarantine
contract instead of the default silent-nulls behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    quarantine_path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Read newline-delimited JSON under an ENFORCED schema and split
    the result into (good, quarantined): good rows parsed cleanly
    against ``schema``; quarantined rows carry the raw offending line
    in ``_corrupt_record`` (unparseable JSON, or lines whose field
    types contradict the schema) plus whatever fields did parse.

    Why not the defaults: PERMISSIVE alone silently nulls bad fields
    into the good rows (corruption becomes missing data three jobs
    later); FAILFAST kills a 100 TB ingest for one bad line;
    DROPMALFORMED destroys the evidence. Splitting keeps the ingest
    total AND auditable — count the quarantine, alert on its rate,
    reprocess after the producer fix.

    ``quarantine_path``: if given, quarantined rows are also APPENDED
    there (raw line + parse-able fields) before returning, so the
    audit trail survives the job.

    Scale shape: one splittable text scan, codegen from_json + a
    null-check filter each side, no shuffle. ``good`` re-reads from
    source on each action (cache in the caller if it feeds several
    pipelines); with ``quarantine_path`` set, ``bad`` is materialized
    ONCE (localCheckpoint) so the persisted quarantine and the
    returned frame cannot diverge if source files change under an
    append-style landing directory — without it, ``bad`` stays lazy.
    """
    if CORRUPT_COL in (f.name for f in schema.fields):
        raise ValueError(f"schema must not already contain {CORRUPT_COL!r}")
    aug = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
    )
    # text scan + from_json, NOT spark.read.json: the json file source
    # forbids queries whose pruned column set is only the corrupt
    # column (SPARK-21610 — even a bare count() on either split hits
    # it, and the documented workaround is caching, a non-starter at
    # corpus scale). Parsing the text column keeps both splits fully
    # lazy and count()-able; the scan is still splittable per line.
    parsed = spark.read.text(path).select(
        F.from_json(
            F.col("value"),
            aug,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("j"),
        F.col("value"),
    )
    # blank/whitespace-only lines (spaces, tabs, any JSON whitespace)
    # parse to a NULL struct with no corrupt marker — from_json's one
    # gap vs the file source. A NULL struct is NOT a good row (the
    # silent-nulls failure this module exists to prevent), so struct
    # nullity itself is the second bad-side predicate — no fragile
    # whitespace-class trim check.
    is_bad = F.col("j").isNull() | F.col(f"j.{CORRUPT_COL}").isNotNull()
    good = parsed.where(~is_bad).select("j.*").drop(CORRUPT_COL)
    bad = parsed.where(is_bad).select(
        *[F.col(f"j.{f.name}") for f in schema.fields],
        F.col("value").alias(CORRUPT_COL),
    )
    if quarantine_path is not None:
        bad = bad.localCheckpoint(eager=True)  # one scan, one truth
        bad.write.mode("append").parquet(quarantine_path)
    return good, bad
