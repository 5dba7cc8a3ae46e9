#!/usr/bin/env python3
"""Benchmark runner: times the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Headline set: one representative per heavy operator family (scan-agg, star
join, window, dedup, ANN, events sessionization) — the queries whose plans
matter at 100 TB. Every query is timed by ``time_queries``: memos cleared,
then the whole result written to Spark's ``noop`` sink, so every output
column is computed and no driver-side collect distorts the timing.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q_pricing_summary",
    "q_star_join",
    "q_join_inner",
    "q_agg_salted",
    "q_agg_count_distinct",
    "q_pivot",
    "q_topk",
    # appended as they land:
    "q_window_topk",
    "q_join_asof",
    "q_dedup_minhash_pairs",
    "q_ann_topk",
    "q_sessionize",
    "q_tfidf_top_terms",
    # round 2: the fixed former scale-killers + the kNN pipeline, tracked so
    # a regression back to pairwise plans shows up in the driver bench
    "q_ngram_jaccard",
    "q_cosine_neardup",
    "q_knn_classify",
    # round 2b: decorrelation (Q21 — 3 lineitem passes, semi+anti joins) and
    # ETL mutation (MERGE as full-outer join) — the new heavy plan shapes
    "q_sql_waiting_orders",
    "q_merge_upsert",
    # round 3: training-data batching (per-shard packing window, broadcast
    # mixture rates) — compare r4+ totals against the 20-query set
    "q_pack_sequences",
    "q_mixture_sample",
    # round 4: sketch-verified heavy hitters (CMS prune + exact recount) and
    # content-hash decontamination — compare r5+ totals against 22 queries
    "q_cms_heavy_hitters",
    "q_decontaminate",
    # round 4b: join-heavy text analytics (unigram-LM scoring, PMI
    # collocations) — compare r5+ totals against 24 queries
    "q_unigram_logprob",
    "q_bigram_pmi",
    # round 4c: semantic curation (SemDeDup drop report, RAG retrieval with
    # hydration), star-graph cluster resolution on the new CC, and the
    # compaction rewrite (write-path heavy) — compare r5+ vs 28 queries
    "q_semdedup",
    "q_semantic_search",
    "q_dedup_clusters",
    "q_compact_roundtrip",
    # round 5: the clustered at-scale candidate stage (IVF cells + exact
    # verify shared by semdedup/decontaminate/cross-lingual) — compare r6+
    # totals against 29 queries
    "q_cross_lingual_neardup_clustered",
    # round 6: exact-substring dedup (shingle-run merge — the last published
    # dedup family) — compare r7+ totals against 30 queries
    "q_dedup_substring",
    # round 7: span APPLICATION (cleaned-corpus emission — span join +
    # row-local token surgery) — compare r8+ totals against 31 queries
    "q_dedup_substring_apply",
    # round 10: BM25 lexical ranking (saturated tf + length norm, the
    # Lucene scorer), winnowing local fingerprints (window-min gram
    # selection + capped partner pairing), and the exact AllPairs
    # set-similarity join (lossless prefix filter) — compare r11+ totals
    # against 34 queries
    "q_bm25_search",
    "q_winnow_fingerprint",
    "q_setsim_join",
    # round 11: exact-vs-INT8-quantized retrieval agreement (one corpus
    # pass scores both sims; shared q_id window partitioning) and the
    # Manku '07 SimHash Hamming join (pigeonhole block candidates +
    # bit_count verify) — compare r12+ totals against 36 queries
    "q_quantized_search",
    "q_simhash_hamming_join",
    # round 11: leakage-safe cluster-root split (CC roots broadcast into
    # one corpus left join + a 2-group aggregate) — compare r12+ totals
    # against 37 queries
    "q_cluster_split",
    # round 12: Gopher-rules quality report (Rae et al. '21 — seven
    # integer-comparison rules as HOF filters, one |langs|-group
    # aggregate, zero joins) and DSIR hashed importance weights (Xie et
    # al. '23 — two gram passes, 256-row broadcast ln-ratio relation,
    # exact per-doc decimal sum) — compare r13+ totals against 39 queries
    "q_gopher_rules",
    "q_dsir_weights",
    # round 12: Gopher repetition battery (11 published thresholds via
    # row-local sorted-array run statistics — zero data shuffles) and the
    # C4 cleaning report (line-keep + page-drop heuristics) — compare
    # r13+ totals against 41 queries
    "q_gopher_repetition",
    "q_c4_filters",
    # round 12: CCNet head/middle/tail perplexity bucketing (doc-level
    # NTILE window after the unigram-LM aggregate) and the exact
    # containment join (asymmetric set-similarity: probe prefix ×
    # full postings, lossless) — compare r13+ totals against 43 queries
    "q_ccnet_buckets",
    "q_containment_join",
    # round 12: incremental A-vs-B dedup (new batch vs base via the
    # shared LSH banding; per-new-doc admission report) — compare r13+
    # totals against 44 queries
    "q_dedup_incremental",
    # round 13: DoReMi-style per-source mixture reweighting (two gram
    # passes + broadcast 256-row ln-p relation + 5-row rates broadcast
    # back) and the containment-dedup APPLY (keep/remove decision joined
    # back over the certified-linear pair stage) — compare r14+ totals
    # against 46 queries
    "q_doremi_mixture",
    "q_containment_apply",
    # round 13: BFF-style Bloom dedup accounting (sharded bit relation:
    # min-per-bit + per-doc conjunction + md5-keyed exact truth) and its
    # m-sizing sweep (whole grid in one corpus pass) — compare r14+
    # totals against 48 queries
    "q_bloom_dedup",
    "q_bloom_sweep",
    # round 13: the full published filter stack (C4 + Gopher rules +
    # Gopher repetition) as one single-pass attrition funnel — compare
    # r14+ totals against 49 queries
    "q_corpus_filter_funnel",
]


def time_queries(spark, names, sf_dir: str, reps: int) -> dict[str, float]:
    """Seconds per query: the minimum over ``reps`` cold runs.

    Each rep first drops every memo on the session (shingles, LSH buckets,
    CC labels), so memoized composites pay their build, then builds the
    query and writes its whole result to the ``noop`` sink. A ``count()``
    would let Catalyst prune every output column the row count does not
    need. The minimum keeps one contended rep from reading as a plan
    regression."""
    from aws_etl_microservice_redshift_datalake_spark import all_queries
    from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
        clear_session_memos,
    )

    qs = all_queries()
    times: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(reps):
            clear_session_memos(spark)
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 4)
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from aws_etl_microservice_redshift_datalake_spark import all_queries, get_session

    spark = get_session("bench")
    qs = all_queries()
    names = [n for n in HEADLINE if n in qs]

    # warm the JVM + parquet footers once so per-query numbers measure the
    # query, not session startup
    time_queries(spark, names[:1], sf_dir, 1)
    times = time_queries(
        spark, names, sf_dir, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    )

    total = round(sum(times.values()), 4)
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
