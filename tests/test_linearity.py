"""Exact linearity under disjoint replication: on a corpus of R
replicas that share no document vocabulary, customer-name prefix or
user, every exact operator returns exactly R times its 1x output.
Replica k > 0 suffixes every word with ``r<k>`` and shifts ``doc_id``,
prefixes every customer name with a doubled letter and shifts
``c_custkey``, and shifts the ``user_id`` and ``event_id`` ranges of
the events (same timestamps). A cross-replica pair, a hash collision
or a capped bucket breaks the equality."""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from boatrace_database_spark.operators import behavior
from boatrace_database_spark.operators import dedup as D
from boatrace_database_spark.operators import text as TX
from boatrace_database_spark.queries._util import load_table

R = 2
STAGES = ["view", "click", "purchase"]


def _replicate(base: DataFrame, replicas: int, remap) -> DataFrame:
    """``base`` unioned with ``replicas - 1`` copies, copy k selected
    through ``remap(k)``."""
    copies = [base.select(*remap(k)) for k in range(1, replicas)]
    return functools.reduce(DataFrame.unionByName, copies, base)


def _docs(spark, sf_dir, replicas):
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return _replicate(base, replicas, lambda k: [
        (F.col("doc_id") + k * 10_000_000).alias("doc_id"),
        F.array_join(
            F.transform(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda w: F.concat(w, F.lit(f"r{k}")),
            ),
            " ",
        ).alias("text"),
    ])


def _customers(spark, sf_dir, replicas):
    # two replicas' names differ in both prefix letters (or in length
    # by two against replica 0), so no cross-replica pair is within
    # Levenshtein distance 1
    base = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    return _replicate(base, replicas, lambda k: [
        (F.col("c_custkey") + k * 10_000_000).alias("c_custkey"),
        F.concat(F.lit(chr(ord("a") + k) * 2), F.col("c_name")).alias("c_name"),
    ])


def _events(spark, sf_dir, replicas):
    base = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return _replicate(base, replicas, lambda k: [
        (F.col("event_id") + k * 100_000_000).alias("event_id"),
        "ts",
        (F.col("user_id") + k * 10_000_000).alias("user_id"),
        "event_type",
        "value",
    ])


# operator -> (input builder, measure returning {label: count})
CASES = {
    "exact_dedup": (_docs, lambda d: {
        "groups": D.exact_dedup(d, ["text"], "doc_id").count()
    }),
    "ngram_jaccard_pairs": (_docs, lambda d: {
        "pairs": D.ngram_jaccard_pairs(
            d, "doc_id", "text", n=3, threshold=0.5
        ).count()
    }),
    "edit_distance_pairs": (_customers, lambda d: {
        "pairs": D.edit_distance_pairs(d, "c_custkey", "c_name", k=1).count()
    }),
    "funnel_summary": (_events, lambda e: {
        r.stage: r.users for r in behavior.funnel_summary(e, STAGES).collect()
    }),
    "funnel_stage_times": (_events, lambda e: {
        "last_stage_users": behavior.funnel_stage_times(e, STAGES)[-1].count()
    }),
    "cohort_retention": (_events, lambda e: {
        "week0_active": sum(
            r.active_users
            for r in behavior.cohort_retention(e).collect()
            if r.week_offset == 0
        )
    }),
    "pmi_bigrams": (_docs, lambda d: {
        "pairs": TX.pmi_bigrams(d, "text", min_count=5).count()
    }),
    # one label per edge: every edge count doubles AND the edge
    # vocabulary (the key set) stays the same
    "event_transitions": (_events, lambda e: {
        (r.from_type, r.to_type): r.n
        for r in behavior.event_transitions(e).collect()
    }),
}


@pytest.mark.parametrize("name", list(CASES))
def test_exact_operator_is_linear_on_disjoint_replicas(spark, sf_dir, name):
    build, measure = CASES[name]
    one = measure(build(spark, sf_dir, 1))
    many = measure(build(spark, sf_dir, R))
    assert one and all(n > 0 for n in one.values()), one
    assert many == {label: R * n for label, n in one.items()}, (one, many)
