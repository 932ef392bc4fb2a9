"""Physical-plan assertions: the scale properties are checked, not
assumed — filter pushdown reaches the parquet scan, column pruning
trims ReadSchema, dimension joins broadcast, aggregates run map-side
partials, and bucketed tables join without a shuffle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from boatrace_database_spark.queries import QUERIES

SF = "/root/testdata/sf0.01"


def _plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_q1_pushdown_and_pruning(spark):
    plan = _plan(spark, QUERIES["q1_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruning: only the 7 needed columns reach the scan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read and "l_partkey" not in read
    # map-side partial aggregation before the shuffle
    df = QUERIES["q1_pricing_summary"](spark, SF)
    simple = df._jdf.queryExecution().simpleString()
    assert "partial_sum" in simple
    # whole-stage codegen spans (*(n)) appear once THIS plan executes
    # (count() would build a different plan; collect finalizes this one)
    df.collect()
    assert "*(" in df._jdf.queryExecution().executedPlan().toString()


def test_q5_broadcasts_dimensions(spark):
    plan = _plan(spark, QUERIES["q5_region_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # everything fits broadcast at this SF


def test_topk_uses_limit_pushdown(spark):
    plan = _plan(spark, QUERIES["topk_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort


def test_semi_join_stays_semi(spark):
    plan = _plan(spark, QUERIES["semi_join"](spark, SF))
    assert "LeftSemi" in plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing both sides on the join key co-locates partitions: the
    join plan must contain no Exchange (the 100 TB co-located-join
    strategy, SURVEY §1.3/§7 M8)."""
    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    (
        o.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", str(tmp_path / "orders_b")).saveAsTable("orders_b")
    )
    (
        c.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", str(tmp_path / "customer_b")).saveAsTable("customer_b")
    )
    joined = spark.table("orders_b").join(
        spark.table("customer_b").hint("merge"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    plan = _plan(spark, joined)
    assert "Exchange" not in plan, plan
    assert joined.count() == o.join(c, o.o_custkey == c.c_custkey).count()
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")


def test_dedup_lsh_signatures_not_reevaluated(spark):
    """The MinHash signature subtree must feed both self-join branches
    from ONE materialization (the 7f3a7e8 regression guard): the
    banded/capped input is checkpointed, so the join plan reads an
    ExistingRDD twice and contains zero inline xxhash64 recomputation;
    the candidate join itself is a hash equi-join, never a cartesian."""
    from boatrace_database_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=32, bands=16)
    plan = _plan(spark, pairs)
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "xxhash64" not in plan, "signatures recomputed inside the join"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_simhash_same_shape(spark):
    from boatrace_database_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(spark, simhash_pairs(docs, "doc_id", "text"))
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "xxhash64" not in plan
    assert "CartesianProduct" not in plan


def test_cosine_lsh_same_shape(spark):
    from boatrace_database_spark.operators.similarity import cosine_pairs_lsh

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(spark, cosine_pairs_lsh(emb))
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_lsh_scoring_strategy_gate(spark):
    """The size gate picks the physical scoring strategy (round-4):
    a broadcastable corpus scores candidate pairs via the broadcast
    matrix (MapInPandas; vectors never join onto pairs), while forcing
    the gate shut produces the vector-join plan. Both strategies must
    return IDENTICAL rows — same bucketed semantics, same rounding."""
    from boatrace_database_spark.operators.similarity import cosine_pairs_lsh

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    bc = cosine_pairs_lsh(emb)  # 500×64 floats ≪ 64 MB -> broadcast path
    plan_bc = _plan(spark, bc)
    assert "MapInPandas" in plan_bc, plan_bc
    assert "vec_a" not in plan_bc, "vectors joined onto pairs in broadcast path"

    vj = cosine_pairs_lsh(emb, broadcast_max_bytes=0)  # force join path
    plan_vj = _plan(spark, vj)
    assert "vec_a" in plan_vj, plan_vj
    assert "MapInPandas" not in plan_vj

    rows_bc = sorted(tuple(r) for r in bc.collect())
    rows_vj = sorted(tuple(r) for r in vj.collect())
    assert rows_bc == rows_vj and rows_bc, "strategies disagree"


def test_ivf_probe_scans_cached_index_not_training(spark):
    """ann_ivf_topk probes the session-cached, lineage-truncated index:
    the probe plan must read the checkpointed inverted file (ExistingRDD)
    and contain no trace of quantizer training or cell assignment."""
    from boatrace_database_spark.queries.llm import ann_ivf_topk

    df = ann_ivf_topk(spark, SF)  # first call builds + caches
    plan = _plan(spark, ann_ivf_topk(spark, SF))
    assert "Scan ExistingRDD" in plan, plan
    assert "nearest_cell" not in plan, "probe re-runs cell assignment"
    assert "CartesianProduct" not in plan
    assert df.count() > 0


def test_ivf_persisted_index_prunes_partitions(spark, tmp_path):
    """The persisted IVF index (parquet partitioned by cell) must give
    probes dynamic partition pruning — only the nprobe probed cells'
    files are read — and return exactly the in-memory index's results."""
    from pyspark.sql import functions as F

    from boatrace_database_spark.operators.similarity import (
        ivf_build_index,
        ivf_probe,
        ivf_read_index,
        ivf_write_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)

    ivf_write_index(emb, str(tmp_path / "ivf"))
    indexed_disk, cents_disk = ivf_read_index(spark, str(tmp_path / "ivf"))
    disk = ivf_probe(indexed_disk, cents_disk, queries, k=5, nprobe=4)

    plan = _plan(spark, disk)
    assert "dynamicpruning" in plan.lower(), plan

    indexed_mem, cents_mem = ivf_build_index(emb)
    mem = ivf_probe(indexed_mem, cents_mem, queries, k=5, nprobe=4)
    rows_disk = sorted(tuple(r) for r in disk.collect())
    rows_mem = sorted(tuple(r) for r in mem.collect())
    assert rows_disk == rows_mem and rows_disk


def test_bucket_cap_join_broadcasts(spark):
    """The degenerate-bucket cap joins the tiny (band,bucket,count)
    side by broadcast — no shuffle of the banded corpus."""
    from boatrace_database_spark.operators.dedup import _cap_buckets

    banded = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .selectExpr("doc_id AS id", "hash(text, 1) % 8 AS band", "hash(text) AS bucket")
    )
    capped = _cap_buckets(banded, ["band", "bucket"], 256)
    plan = _plan(spark, capped)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


@pytest.mark.requires_reference
def test_race_join_is_shuffle_free(spark):
    """The gold race join: AQE converts both joins to broadcast-hash —
    zero shuffle exchanges in the final plan."""
    from boatrace_database_spark.gold import race_table
    from boatrace_database_spark.parse.kernel import parse_files
    from boatrace_database_spark.silver import silver_tables

    parsed = parse_files(spark, "/root/reference/txt/*200801.TXT").persist()
    t = silver_tables(parsed)
    race = race_table(t["result"], t["env"], t["schedule"])
    race.count()  # let AQE finalize
    final = race._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final
    assert "ShuffleExchange" not in final
    parsed.unpersist()


def test_lsh_ann_multitable_plan_shape(spark):
    """r5 multi-table ANN: the probe join must be a broadcast HASH join
    on (tbl, bucket) — never a cartesian/nested-loop — with the corpus
    side exploded map-side (one generate, no shuffle before the join)
    and bucket keys from the Arrow kernel, not per-plane JVM folds."""
    from boatrace_database_spark.operators.similarity import lsh_ann_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    plan = _plan(spark, lsh_ann_topk(emb, queries, k=5, n_planes=6))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # bucket keys come from one Arrow eval (ArrowEvalPython) per side —
    # candidate scoring still uses the exact JVM aggregate fold, so the
    # assertion is on the Arrow kernel's presence, not aggregate absence
    assert "ArrowEvalPython" in plan, plan


def test_global_shuffle_no_single_task_data_window(spark):
    """The whole point of the bucketed rank: the DATA path's window must
    be partitioned by bucket (parallel), with the only unpartitioned
    window the O(n_buckets)-row offset prefix-sum, and offsets joining
    back via broadcast."""
    from boatrace_database_spark.operators import corpus as C

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(spark, C.global_shuffle(df, "doc_id", n_buckets=64))
    # the per-row rank's windowspec partitions by bucket (parallel),
    # fed by a hash exchange on the bucket key
    ranked = [
        l for l in plan.splitlines()
        if "row_number() windowspecdefinition" in l
    ]
    assert ranked and all("_bkt" in l for l in ranked), ranked
    assert "hashpartitioning(_bkt" in plan
    # the offsets side enters the row-rank join as a broadcast
    assert "BroadcastHashJoin" in plan


def test_split_exact_keeps_bucketed_window_and_broadcast_count(spark):
    """split_exact inherits global_shuffle's scale shape: the per-row
    rank window stays partitioned by bucket (no single-task data
    window), and BOTH tiny sides — the B-row offsets and the 1-row
    total count — enter as broadcasts."""
    from boatrace_database_spark.operators import corpus as C

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        spark,
        C.split_exact(
            df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1},
            n_buckets=64,
        ),
    )
    ranked = [
        l for l in plan.splitlines()
        if "row_number() windowspecdefinition" in l
    ]
    assert ranked and all("_bkt" in l for l in ranked), ranked
    assert "hashpartitioning(_bkt" in plan
    assert "BroadcastHashJoin" in plan  # bucket offsets
    # the count side joins with no key: broadcast nested loop, 1 row
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_semantic_pairs_plan_shapes(spark):
    """Cluster scoping must never compile to a cartesian product. The
    default strategy is the per-cell Gram kernel (one
    FlatMapGroupsInPandas over a single exchange on cell — no join at
    all); forcing ``gram_max_cell=0`` exercises the fallback, which
    must be a hash equi-join on cell."""
    from boatrace_database_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for na in (1, 2):
        plan = _plan(spark, SIM.semantic_pairs(emb, n_assign=na, n_cells=8))
        assert "CartesianProduct" not in plan
        assert "FlatMapGroupsInPandas" in plan
        assert "cell" in plan
        fallback = _plan(
            spark,
            SIM.semantic_pairs(emb, n_assign=na, n_cells=8, gram_max_cell=0),
        )
        assert "CartesianProduct" not in fallback
        assert "cell" in fallback


def test_dsir_model_broadcasts_and_topk_is_take_ordered(spark):
    """DSIR scale shape: the m-row model joins the doc-gram stream as a
    BroadcastHashJoin (never a shuffle of the corpus-sized gram
    stream on bucket), the Gumbel-top-k is a TakeOrderedAndProject
    (never a global sort), and nothing degenerates to a cartesian
    product (the 1-row totals ride a broadcast nested loop, which is
    the documented exception)."""
    plan = _plan(spark, QUERIES["dsir_select_corpus"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_time_session_is_single_keyed_exchange(spark):
    """Native session_window: one hashpartitioning exchange on the
    session key feeds the merging aggregate — no window-function pass,
    no second shuffle beyond the output sort."""
    plan = _plan(spark, QUERIES["time_session"](spark, SF))
    assert "MergingSessions" in plan  # the native session-merge operator
    hash_ex = [
        l
        for l in plan.splitlines()
        if "Arguments: hashpartitioning" in l
    ]
    assert len(hash_ex) == 1  # the only other exchange is the output sort
    assert "Window" not in plan  # no gaps-and-islands window pass


def test_ivfpq_probe_plan_shape(spark):
    """IVF-PQ probe: the nprobe cell short-list broadcasts into the
    codes scan (hash equi-join on cell, never a shuffle of the codes
    table), ADC scoring is the ONE Arrow stage, and top-k is a k-row
    window — no cartesian product (the 16-row centroid table rides the
    documented broadcast nested loop)."""
    plan = _plan(spark, QUERIES["ann_ivfpq_topk"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # exactly one Arrow stage (each node appears once in the tree as
    # "MapInPandas (n)" and once in the details)
    assert plan.count("MapInPandas (") == 1
    assert "CartesianProduct" not in plan


def test_fuzzy_edit_is_blocked_equi_join(spark):
    """SymSpell fuzzy join: the candidate stage is an EQUI-join on the
    deletion variant (sort-merge or shuffled-hash — either is a keyed
    join), never a cartesian/broadcast-nested-loop all-pairs pass, and
    the levenshtein verify runs inside the join's post-condition or
    the following projection — no extra shuffle between candidates
    and verification."""
    plan = _plan(spark, QUERIES["dedup_fuzzy_edit"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
    assert "levenshtein" in plan


def test_sample_reservoir_is_single_group_exchange(spark):
    """Per-group reservoir: ONE hashpartitioning exchange on the group
    key feeds the rank window and the k-filter; the only other
    exchange is the output-order sort."""
    plan = _plan(spark, QUERIES["sample_group_reservoir"](spark, SF))
    hash_ex = [
        l for l in plan.splitlines() if "Arguments: hashpartitioning" in l
    ]
    assert len(hash_ex) == 1
    assert "Window" in plan


def test_table_audit_scalar_rules_share_one_scan(spark):
    """The audit's scalar rules (not-null, range, regex, uniqueness)
    must all ride ONE aggregate over ONE orders scan; the FK check adds
    its own scan + anti-join. So: exactly two orders FileScans in the
    whole plan, and no cartesian beyond the documented 1-row
    broadcast-nested-loop cross of the FK count pair."""
    plan = _plan(spark, QUERIES["table_audit_orders"](spark, SF))
    assert plan.count("orders.parquet") == 2
    assert "CartesianProduct" not in plan


def test_funnel_summary_is_single_scan_single_shuffle(spark):
    """The funnel fold must stay one pushed-filter scan of the event
    log and one user-key exchange — no joins, no per-stage re-scans
    (the chain variant's k(k+1)/2-scan shape is exactly what this plan
    assertion guards against regressing to)."""
    plan = _plan(spark, QUERIES["funnel_conversion"](spark, SF))
    assert plan.count("events.parquet") == 1
    assert "In(event_type" in plan  # stage-type filter reaches the scan
    hash_ex = [
        l for l in plan.splitlines() if "Arguments: hashpartitioning" in l
    ]
    assert len(hash_ex) == 1, hash_ex
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_cohort_retention_broadcasts_sizes_and_pushes_filter(spark):
    plan = _plan(spark, QUERIES["cohort_retention"](spark, SF))
    assert "EqualTo(event_type,signup)" in plan  # cohort filter pushed
    assert "BroadcastHashJoin" in plan  # cohort sizes ride a broadcast
    assert "CartesianProduct" not in plan


def test_pmi_corpus_scanned_twice_inside_checkpoints(spark):
    """pmi_bigrams checkpoints the vocabulary-sized count tables, so
    the visible plan joins ExistingRDD scans (each consumer reuses the
    one materialization) and the corpus never re-enters the join tree;
    both word joins broadcast the vocabulary side."""
    plan = _plan(spark, QUERIES["pmi_collocations"](spark, SF))
    assert plan.count("documents.parquet") == 0  # behind the checkpoints
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-25, not a global sort


def test_event_transitions_single_user_exchange(spark):
    """Journey mining: ONE events scan, one user-key exchange feeding
    the lead window; the probability normalization windows the tiny
    (from,to) aggregate — no second pass over the log, no joins."""
    plan = _plan(spark, QUERIES["event_transitions"](spark, SF))
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan
    user_ex = [
        l for l in plan.splitlines()
        if "Arguments: hashpartitioning(user_id" in l
    ]
    assert len(user_ex) == 1, user_ex


def test_packed_split_documents_scanned_once_behind_checkpoints(spark):
    """The packed-split pipeline materializes the pack grain and the
    split assignment ONCE each (the deployment shape: write the packs
    table, then split it) — the visible plan must join ExistingRDD
    scans with the corpus absent, carry only the train-shuffle's two
    bucket exchanges, and never fall back to a cartesian
    (un-checkpointed this plan had 17 exchanges re-deriving the full
    stratified-rank machinery per branch)."""
    plan = _plan(spark, QUERIES["packed_split_pipeline"](spark, SF))
    assert plan.count("documents.parquet") == 0  # behind the checkpoints
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    hash_ex = [
        l for l in plan.splitlines() if "Arguments: hashpartitioning" in l
    ]
    assert len(hash_ex) == 2, hash_ex  # the bucketed-rank windows only
    assert all("_bkt" in l for l in hash_ex)


@pytest.mark.requires_reference
def test_domain_behavioral_plans_are_join_safe(spark):
    """The boatrace-domain compositions ride the cached gold table:
    transitions/funnel keep ONE user-key exchange over it (the
    behavioral operators' contract), nothing degenerates to a
    cartesian, and the funnel's stage filter reaches the frame."""
    plan = _plan(spark, QUERIES["career_class_transitions"](spark, SF))
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    user_ex = [
        l for l in plan.splitlines()
        if "Arguments: hashpartitioning(player_id" in l
    ]
    assert len(user_ex) == 1, user_ex

    plan_f = _plan(spark, QUERIES["racer_podium_funnel"](spark, SF))
    assert "CartesianProduct" not in plan_f
    user_ex_f = [
        l for l in plan_f.splitlines()
        if "Arguments: hashpartitioning(player_id" in l
    ]
    assert len(user_ex_f) == 1, user_ex_f  # the single funnel-fold shuffle

    plan_c = _plan(spark, QUERIES["racer_first_win_cohort"](spark, SF))
    assert "CartesianProduct" not in plan_c
    assert "BroadcastHashJoin" in plan_c  # cohort sizes ride a broadcast


def test_scd2_windows_share_one_exchange(spark):
    """SCD2 rebuild: the change-flag window and the effective_to lead
    window partition identically, so the plan carries ONE
    hashpartitioning exchange on user_id (plus the output sort) and
    two Window nodes."""
    plan = _plan(spark, QUERIES["scd2_user_state"](spark, SF))
    hash_ex = [
        l for l in plan.splitlines() if "Arguments: hashpartitioning" in l
    ]
    assert len(hash_ex) == 1, hash_ex
    assert plan.count("Window (") == 2 or plan.count("Window") >= 2
