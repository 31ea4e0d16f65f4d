"""Dump executed-plan audits for the headline queries into
docs/PLANS.md — the plan-quality contract: pushed filters, pruned
read schemas, broadcast vs shuffle joins, codegen spans.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

AUDITED = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_q19_filter_aggs",
    "q7_nation_volume",
    "q12_case_agg",
    "q17_scalar_subquery",
    "range_join_bursts",
    "events_sessionize",
    "minhash_lsh_near_dups",
    "simhash_near_dups",
    "near_dup_jaccard",
    "ann_ivf_topk",
    "cosine_topk",
    "q21_sole_late_supplier",
    "event_funnel",
    "order_lineitem_rollup",
    "cross_source_contamination",
    "q20_excess_shipments",
    "tfidf_top_terms",
    "repetition_quality",
    "pack_sequences",
    "semantic_dedup",
    "unigram_quality",
    "corpus_shuffle",
    "quantize_embeddings",
    "zipf_profile",
    "salted_user_rollup",
    "ann_ivf_quantized_topk",
    "winnow_repeated_spans",
    "strip_repeated_spans",
    "dsir_importance_sample",
    "quality_balanced_prune",
    "heavy_hitter_tokens",
    "nb_classifier_scores",
    "fuzzy_name_matches",
    "bloom_decontaminate",
    # r8: the Arrow-projection PCA plan (mapInPandas over a pruned
    # scan; basis load is a tiny side read from the persisted table)
    "embedding_pca_project",
    # late r8: banded-candidate + broadcast-verify decontamination,
    # and the ADC (lookup-table) PQ probe + exact-rerank plan
    "near_dup_decontaminate",
    "ann_ivf_pq_topk",
    # late r8: vocab-only Arrow encode + JVM token join, and the
    # maintained-index query (stored centroids/listing/codes)
    "bpe_token_stats",
    "ann_query_indexed",
    # late r8: inverted-postings BM25 probe + per-query top-k, and the
    # double-unigram-join PMI plan with broadcast totals
    "bm25_search",
    "pmi_collocations",
    # late r8: prefix-filtered exact Jaccard (rare-shingle candidate
    # join + exact rejoin verification)
    "ppjoin_near_dups",
    # end of r8: the row-level CDC feed — newly-masked positions land
    # as BROADCAST joins against only the touched files' scans; no
    # shuffle anywhere in the decode
    "cdc_row_changes",
    # r9: integer-rule quality pass (one map-side projection, no
    # shuffle carries text)
    "gopher_quality_filter",
    # r9 (audited r10): two audited legs + rank-table-sized full-outer
    # RRF fusion; the z-order entry's post-rewrite contents scan; the
    # drift audit's map-only scoring passes
    "hybrid_search_rrf",
    "o_zorder_clustering",
    "ann_index_drift_audit",
    # r10: hybrid over the MAINTAINED indexes (stored centroids /
    # inverted lists / codes feed the dense leg), and the broadcast-
    # eval embedding decontamination scan
    "hybrid_search_indexed",
    "embedding_decontaminate",
    # late r10: bloom-index point lookup (the residual scan after
    # driver-side file pruning), atomic replace_where contents,
    # CCNet line dedup (map-side-combined winner aggregate + regroup)
    # and perplexity terciles (two-level prefix-sum rank)
    "o_bloom_skipping",
    "o_replace_where",
    "line_dedup_corpus",
    "ccnet_perplexity_buckets",
    # r11: UniMax allocation (tiny-language-frame water-filling
    # broadcast onto a two-level-ranked doc pass) and the copy_into
    # ingest contents scan (the ledger itself is log metadata —
    # nothing of it appears on the data path)
    "unimax_sample",
    "o_copy_into",
    # r11: the converted-in-place table's contents scan (conversion
    # itself is a driver-side footer harvest + one commit — no plan)
    "o_convert_to_table",
    # r12: DoReMi domain weights — one corpus-linear LM scoring pass
    # (shared with bigram_perplexity) + the K-row solver (exchanges
    # only on the tiny domain frame)
    "doremi_domain_weights",
    # r12: RHO-1 selective token mask — the same scoring pass + the
    # exact top-fraction cutoff via bucket-count offsets (no global
    # sort; the only window partitions by the coarse value bucket)
    "selective_token_mask",
    # r13: the maintained BM25 postings index — the stored rows the
    # maintenance folds produce (the query-path plan is audited via
    # bm25_search, which shares the scoring epilogue)
    "bm25_index_maintain",
]

KEEP = re.compile(
    r"FileScan|PushedFilters|ReadSchema|BroadcastHashJoin|SortMergeJoin|"
    r"BroadcastNestedLoop|Exchange|HashAggregate|SortAggregate|"
    r"WholeStageCodegen|Window|AdaptiveSparkPlan|"
    r"MapInArrow|MapInPandas|ArrowEvalPython|BatchEvalPython"
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    out = ["# Plan audits (generated by tools/explain_audit.py)", "",
           f"Scale factor dir: `{sf_dir}`. Lines are the load-bearing plan",
           "nodes: scans (with pushed filters + pruned schema), joins,",
           "exchanges, aggregates, codegen spans.", "",
           "Broadcast joins below are planner/AQE-chosen (the sides fit",
           "under the threshold at this SF) — source hints exist only on",
           "true dimensions (region/nation/supplier/customer/part); no",
           "fact-scaling input carries a forced broadcast, so the same",
           "plans degrade to shuffle joins at 100x instead of OOMing.", ""]
    # entries that return a localCheckpoint'd frame audit as a bare
    # checkpoint scan — audit the underlying operator instead
    from dagster_delta_spark.operators import bpe, dedup

    from dagster_delta_spark.operators import curation as _curation
    from dagster_delta_spark.operators import similarity as _sim
    from dagster_delta_spark.operators import textops as _textops

    def _drift_production(spark, d):
        from dagster_delta_spark import DeltaSparkTable, WriteMode
        from dagster_delta_spark.operators import incremental as incr

        emb_src = spark.read.parquet(f"{d}/embeddings.parquet").select(
            "vec_id", "embedding")
        base = DeltaSparkTable(spark, entry._scratch("audit-drift-base"))
        index = DeltaSparkTable(spark, entry._scratch("audit-drift-ivf"))
        base.write(emb_src.where("vec_id % 3 < 2"), WriteMode.error)
        incr.build_ivf_index(base, index)
        base.write(emb_src.where("vec_id % 3 = 2"), WriteMode.append)
        incr.maintain_ivf_index(base, index)
        return incr.ivf_index_drift(base, index)

    bare = {
        "bpe_token_stats": bpe.bpe_token_stats,
        # these registry entries return PORTABLE (oracle-dial)
        # variants since r10 — crossJoin-shaped SQL replays reserved
        # for verification.  Audit the PRODUCTION plans (xxhash64 /
        # Arrow-matmul / session-cached indexes), which is what
        # bench.py times and what a deployment runs.
        "minhash_lsh_near_dups": dedup.minhash_lsh_near_dups,
        "ann_ivf_topk": _sim.ivf_ann_topk,
        "ann_ivf_quantized_topk": _sim.ivf_quantized_topk,
        "ann_ivf_pq_topk": _sim.ivf_pq_topk,
        "semantic_dedup": _sim.semantic_dedup,
        # r12: the drift entry returns the PORTABLE leg's frame since
        # its conversion — audit the production (matmul-family) audit
        # over a bootstrap+fold fixture instead
        "ann_index_drift_audit": _drift_production,
        # r12: the entries checkpoint for their guards — audit the
        # bare operators' plans
        "doremi_domain_weights": _curation.doremi_domain_weights,
        "selective_token_mask": _textops.selective_token_mask,
    }

    for name in AUDITED:
        df = bare.get(name, qs[name])(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = [ln.strip()[:160] for ln in plan.split("\n") if KEEP.search(ln)]
        out.append(f"## {name}\n")
        out.append("```")
        out.extend(lines[:30])
        out.append("```")
        out.append("")
    with open(os.path.join(ROOT, "docs", "PLANS.md"), "w",
              encoding="utf-8") as f:
        f.write("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(AUDITED)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
