"""Dump formatted physical plans for the headline queries to PLANS.md —
the plan-audit artifact: PushedFilters/ReadSchema at scans, broadcast
vs sort-merge joins, codegen spans, partial aggregates, no cartesians.

Usage: python scripts/dump_plans.py [sf_dir]   (default sf0.01)

Before/after mode, for the queries a change touches — one file per
query, ``<out>/<name>_<suffix>.txt``. Run it on the old tree with
``--suffix before`` and on the new one with ``--suffix after``, then
diff the pairs:

    python scripts/dump_plans.py <sf_dir> --names q1_pricing_summary,bm25_topk_docs \
        --out plans/<change> --suffix after
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from boatrace_database_spark.queries import QUERIES  # noqa: E402
from boatrace_database_spark.session import get_spark  # noqa: E402

AUDIT = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "join_composite_key",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "embedding_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "text_profile",
    "asof_join_events",
    "corpus_clean_pipeline",
    "decontaminate_eval",
    "decontaminate_drop_train",
    "repetition_profile",
    "pii_redact_scrub",
    "mixture_resample_recipe",
    "pack_sequences_windows",
    "split_train_eval",
    "global_shuffle_order",
    "split_exact_assign",
    "split_stratified_assign",
    "token_budget_head",
    "token_budget_mixture",
    "pack_materialize",
    "quality_topk_per_source",
    "dedup_best_quality",
    "dedup_incremental_batch",
    "dedup_minhash_incremental",
    "dedup_incremental_bloom",
    "lm_quality_score",
    "repeated_substring_spans",
    "embedding_project_jl",
    "bm25_topk_docs",
    "retrieval_rrf_fusion",
    "tfidf_related_docs",
    "tfidf_top_terms_per_doc",
    "retrieval_hard_negatives",
    "retrieval_mmr_diversified",
    "quality_quantile_gate",
    "sketch_distinct_users",
    "chunk_documents_windows",
    "chunk_dedup_pipeline",
    "semantic_dedup_assign",
    "dsir_select_corpus",
    "time_session",
    "ann_ivfpq_topk",
    "sketch_freq_sources",
    "sketch_price_quantiles",
    "dedup_fuzzy_edit",
    "sample_group_reservoir",
    "table_audit_orders",
    "scd2_user_state",
    "funnel_conversion",
    "cohort_retention",
    "event_transitions",
    "pmi_collocations",
    # round 7: the packed-split composition and the boatrace-domain
    # behavioral bindings (gold-table inputs ride the session cache)
    "packed_split_pipeline",
    "career_class_transitions",
    "racer_podium_funnel",
    "racer_first_win_cohort",
    # round 8: the real-codec multimodal query + semantic decontamination
    "media_decode_roundtrip",
    "decontaminate_semantic_flags",
    "retrieval_eval_metrics",
    # round 9: the native-PNG face + the perceptual image-dedup face
    "media_decode_png",
    "media_dedup_dhash",
    "media_frame_sample",
    # round 10: the native JPEG + animated-GIF + audio-dedup faces
    "media_decode_jpeg",
    "media_gif_animation",
    "media_decode_tiff",
    "media_audio_dedup",
    # round 11: the audio-descriptor + Adobe-CMYK faces
    "audio_features",
    "media_decode_cmyk",
    # round 12: the index-maintenance lifecycle row
    "ivf_index_maintenance",
    # round 13: the refine operating point (exact re-rank of the ADC
    # short-list — the plan target_recall routes callers to)
    "ann_ivfpq_refined",
]


def dump_named(argv: list[str]) -> None:
    """The before/after mode: ``sf_dir --names a,b --out DIR --suffix S``."""
    ap = argparse.ArgumentParser(prog="dump_plans.py")
    ap.add_argument("sf_dir")
    ap.add_argument("--names", required=True, help="comma-separated queries")
    ap.add_argument("--out", required=True, help="directory for the plan files")
    ap.add_argument("--suffix", required=True, help="e.g. before or after")
    args = ap.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in args.names.split(","):
        df = QUERIES[name](spark, args.sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"  {path} ({len(plan)} chars)")


def main() -> None:
    if "--names" in sys.argv:
        return dump_named(sys.argv[1:])
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    out = [
        "# PLANS — formatted physical plans of the audit queries",
        "",
        f"Generated by `python scripts/dump_plans.py {sf_dir}`. What to",
        "look for: `PushedFilters`/`ReadSchema` at every parquet scan",
        "(pushdown + column pruning), `BroadcastHashJoin` on dimension",
        "joins, `HashAggregate` pairs (map-side partial), `ArrowEvalPython`",
        "/`MapInPandas` only at the documented Python edges, and the",
        "absence of `CartesianProduct` anywhere.",
        "",
    ]
    for name in AUDIT:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        out.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(AUDIT)} plans)")


if __name__ == "__main__":
    main()
