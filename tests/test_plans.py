"""Physical-plan audits: lock in the plan shapes that matter at 100 TB
(SURVEY.md §4). These tests fail if a future change silently regresses
pushdown, pruning, broadcast strategy, shuffle count, or lets row-at-a-time
Python into a hot path."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

import aws_etl_microservice_redshift_datalake_spark as engine
from aws_etl_microservice_redshift_datalake_spark.plans import audit

from tests.conftest import SF_MED

QS = engine.all_queries()

# queries whose plans intentionally run Python (the declared UDF surface and
# pandas-powered operators) — everything else must stay JVM-only
PYTHON_ALLOWED = {
    "q_udf_digitsum",       # U1: the deliberate row-UDF demo
    "q_pandas_udf_dot",     # U2: Arrow-batched
    "q_pandas_udaf_centroid",  # U3: Arrow-batched
    "q_udtf_bigrams",       # U4
    "q_multimodal_decode",  # mapInPandas plumbing
    "q_multimodal_frames",  # mapInPandas plumbing
    "q_multimodal_resize",  # mapInPandas plumbing
    "q_stream_stateful",    # applyInPandasWithState
}

# streaming queries execute inside run_stream (can't audit lazily here)
SKIP_LAZY_AUDIT = {n for n in QS if n.startswith("q_stream_")} | {
    # these run jobs at build time (unload/ingest roundtrips write files)
    "q_unload_roundtrip",
    "q_ingest_csv_roundtrip",
    "q_ingest_json_roundtrip",
}


@pytest.mark.parametrize(
    "name", [n for n in QS if n not in SKIP_LAZY_AUDIT and n not in PYTHON_ALLOWED]
)
def test_no_row_python_anywhere(spark, name):
    df = QS[name](spark, SF_MED)
    audit.assert_no_row_python(df)
    assert "ArrowEvalPython" not in audit.python_eval_modes(df) or name in PYTHON_ALLOWED


def test_pricing_summary_pushdown_and_pruning(spark):
    """Flagship: shipdate filter reaches the scan; unused money columns are
    not read."""
    df = QS["q_pricing_summary"](spark, SF_MED)
    audit.assert_filter_pushed(df, "l_shipdate")
    audit.assert_scan_pruned(df, ["l_orderkey", "l_partkey", "l_suppkey"])


def test_star_join_broadcasts_all_dims(spark):
    """TPC-H Q5 shape: every dimension joins as broadcast, the fact table
    never shuffles before aggregation → exactly one hash-agg exchange."""
    df = QS["q_star_join"](spark, SF_MED)
    assert audit.count_broadcast_joins(df) >= 4
    # lineitem side: only the final groupBy may shuffle (AQE can only shrink)
    assert audit.count_exchanges(df) <= 2


def test_join_broadcast_hint_respected(spark):
    df = QS["q_join_broadcast"](spark, SF_MED)
    assert audit.count_broadcast_joins(df) >= 1
    assert not audit.has_sort_merge_join(df)


def test_minhash_no_signature_shuffle(spark):
    """MinHash signatures are per-row: the plan's exchanges are the band
    join + candidate joins + final agg only (≤5), never a per-seed shuffle."""
    df = QS["q_dedup_minhash_pairs"](spark, SF_MED)
    assert audit.count_exchanges(df) <= 5


def test_ann_topk_broadcasts_queries_not_targets(spark):
    """The (small) query-vector side broadcasts; the target side must not."""
    df = QS["q_ann_topk"](spark, SF_MED)
    assert audit.count_broadcast_joins(df) >= 1
    # the only shuffles: the explicit repartition + the window exchange
    assert audit.count_exchanges(df) <= 2


def test_cosine_neardup_is_bucketed_not_pairwise(spark):
    """Near-dup candidates must come from the LSH bucket equi-join — never a
    cartesian/BNLJ over two corpus-sized sides (the canonical 100 TB
    scale-killer this operator replaced)."""
    df = QS["q_cosine_neardup"](spark, SF_MED)
    p = audit.plan_str(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_ngram_jaccard_caps_posting_lists(spark):
    """The inverted-index self-join must be fed by the DF-capped shingle
    relation (a join against the rare-shingle keys), not the raw exploded
    corpus, and must never degrade to a nested-loop join."""
    df = QS["q_ngram_jaccard"](spark, SF_MED)
    p = audit.plan_str(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_filter_query_prunes_columns(spark):
    df = QS["q_filter"](spark, SF_MED)
    schemas = audit.read_schemas(df)
    assert schemas, "expected a parquet scan"


def test_asof_join_single_shuffle_per_side(spark):
    """As-of join: union-tag + one window — the plan sorts once per key
    partition; no nested-loop join anywhere."""
    df = QS["q_join_asof"](spark, SF_MED)
    p = audit.plan_str(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_range_join_is_equi_not_bnlj(spark):
    """Range join via bucket explode: must plan as an equi-join on the
    bucket, not a broadcast-nested-loop over the raw inequality."""
    df = QS["q_join_range"](spark, SF_MED)
    p = audit.plan_str(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_unload_layout_enables_partition_pruning(spark):
    """S6's hive-partitioned layout must let a status predicate prune
    partitions at plan time (PartitionFilters on the scan) — the lake-side
    partition-pruning contract UNLOAD ... PARTITION BY exists for."""
    from aws_etl_microservice_redshift_datalake_spark.sources.io import load_table, unload

    path = "/root/repo/.tmp/unload-prune-audit"
    unload(
        load_table(spark, SF_MED, "orders"),
        path,
        partition_cols=["o_orderstatus"],
    )
    back = spark.read.parquet(path).filter("o_orderstatus = 'F'")
    p = audit.plan_str(back)
    assert "PartitionFilters" in p and "o_orderstatus" in p.split("PartitionFilters", 1)[1][:200]
    # and the partition column is NOT read from the files themselves
    for s in audit.read_schemas(back):
        assert "o_orderstatus" not in s


# --------------------------------------------------------------------------
# Subquery/decorrelation suite (operators/subqueries.py): every correlated
# shape must plan as hash semi/anti/equi joins — never a per-outer-row
# re-execution (nested loop over two big sides), which is the decorrelation
# contract that survives 100 TB.
# --------------------------------------------------------------------------


def test_subq_exists_plans_as_semi_join(spark):
    """EXISTS → one LEFT SEMI hash join on the correlation key."""
    df = QS["q_subq_exists"](spark, SF_MED)
    p = audit.plan_str(df)
    assert "Semi" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_subq_not_exists_plans_as_anti_join(spark):
    """NOT EXISTS → LEFT ANTI join; the only nested-loop allowed is the
    1-row scalar-average broadcast (Q22's scalar subquery)."""
    df = QS["q_subq_not_exists"](spark, SF_MED)
    p = audit.plan_str(df)
    assert "Anti" in p
    assert "CartesianProduct" not in p
    # simple mode lists each operator once (formatted repeats it in details)
    assert audit.plan_str(df, mode="simple").count("BroadcastNestedLoopJoin") <= 1


def test_subq_not_in_plans_as_anti_join(spark):
    """NOT IN over non-null FK keys → plain LEFT ANTI hash join (no
    null-aware fallback, no nested loop)."""
    df = QS["q_subq_not_in"](spark, SF_MED)
    p = audit.plan_str(df)
    assert "Anti" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_subq_scalar_corr_avg_aggregates_once(spark):
    """Correlated scalar AVG → ONE groupBy(partkey) aggregate equi-joined
    back; never re-evaluated per outer row."""
    df = QS["q_subq_scalar_corr_avg"](spark, SF_MED)
    p = audit.plan_str(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_subq_corr_min_broadcasts_group_mins(spark):
    """Per-brand MIN relation is tiny (25 brands) → must broadcast."""
    df = QS["q_subq_corr_min"](spark, SF_MED)
    assert audit.count_broadcast_joins(df) >= 1
    assert "CartesianProduct" not in audit.plan_str(df)


def test_sql_waiting_orders_decorrelates_both_subqueries(spark):
    """Catalyst must rewrite Q21's EXISTS + NOT EXISTS into semi + anti
    joins on l_orderkey — no per-row subquery loops."""
    df = QS["q_sql_waiting_orders"](spark, SF_MED)
    p = audit.plan_str(df)
    assert "Semi" in p
    assert "Anti" in p
    assert "CartesianProduct" not in p


def test_sql_discount_revenue_pushdown_and_pruning(spark):
    """Q6 is the pushdown probe: the shipdate range reaches the parquet
    scan and key columns are never read."""
    df = QS["q_sql_discount_revenue"](spark, SF_MED)
    audit.assert_filter_pushed(df, "l_shipdate")
    audit.assert_scan_pruned(df, ["l_orderkey", "l_partkey", "l_suppkey"])


def test_sql_volume_shipping_broadcasts_dimension_chains(spark):
    """Q7 shape: both nation→region chains and supplier/customer dims are
    broadcast onto the single fact scan."""
    df = QS["q_sql_volume_shipping"](spark, SF_MED)
    assert audit.count_broadcast_joins(df) >= 4
    assert "CartesianProduct" not in audit.plan_str(df)


# --------------------------------------------------------------------------
# ETL-mutation + data-quality suite (operators/merge.py, operators/dq.py)
# --------------------------------------------------------------------------


def test_merge_upsert_is_one_hash_join(spark):
    """MERGE = full-outer hash join on the merge key — no nested loop, no
    cartesian, regardless of change-set size."""
    df = QS["q_merge_upsert"](spark, SF_MED)
    p = audit.plan_str(df)
    assert "FullOuter" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_scd2_apply_is_hash_relational(spark):
    df = QS["q_scd2_apply"](spark, SF_MED)
    p = audit.plan_str(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dq_profile_scans_once(spark):
    """N-column profiling must cost ONE table scan (the at-scale contract):
    one wide aggregate, stack pivot is row-local."""
    df = QS["q_dq_profile"](spark, SF_MED)
    assert len(audit.read_schemas(df)) == 1
    audit.assert_no_row_python(df)


def test_dq_fk_orphans_broadcasts_parents(spark):
    """Each FK check is a left-anti join; dimension-sized parent key sets
    must broadcast."""
    df = QS["q_dq_fk_orphans"](spark, SF_MED)
    assert audit.count_broadcast_joins(df) >= 4
    assert "CartesianProduct" not in audit.plan_str(df)


def test_dynamic_partition_pruning_on_lake_layout(spark):
    """The 100 TB lake contract beyond static pruning: when the partition
    column is constrained only THROUGH A JOIN (no literal filter), Spark
    must inject a dynamic-pruning subquery into the fact scan so only the
    joined partitions are read."""
    from aws_etl_microservice_redshift_datalake_spark.sources.io import load_table, unload

    path = "/root/repo/.tmp/dpp-audit"
    unload(
        load_table(spark, SF_MED, "orders"),
        path,
        partition_cols=["o_orderstatus"],
    )
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")],
        "status string, label string",
    ).filter("label = 'finished'")
    joined = fact.join(dim, fact.o_orderstatus == dim.status).groupBy("label").count()
    p = audit.plan_str(joined)
    assert "dynamicpruning" in p.lower(), "expected a DPP subquery on the fact scan"


def test_bucketed_join_needs_no_exchange(spark):
    """Bucketing = the pre-paid shuffle: two tables bucketed on the join key
    into the same bucket count must hash-join with ZERO Exchange nodes —
    the co-located-join contract that amortizes one write-time shuffle
    across every future join at 100 TB."""
    import shutil

    from aws_etl_microservice_redshift_datalake_spark.sources.io import load_table

    for t in ("bkt_orders", "bkt_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # a fresh session's catalog forgets the table but its warehouse dir
        # survives on disk; saveAsTable then fails LOCATION_ALREADY_EXISTS
        shutil.rmtree(f"/root/repo/spark-warehouse/{t}", ignore_errors=True)
    load_table(spark, SF_MED, "orders").write.bucketBy(
        8, "o_custkey"
    ).sortBy("o_custkey").mode("overwrite").saveAsTable("bkt_orders")
    load_table(spark, SF_MED, "customer").write.bucketBy(
        8, "c_custkey"
    ).sortBy("c_custkey").mode("overwrite").saveAsTable("bkt_customer")
    joined = (
        spark.table("bkt_orders")
        .hint("merge")  # force SMJ so the bucketed sort, not broadcast, wins
        .join(
            spark.table("bkt_customer").hint("merge"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .count()
    )
    # bucketed scan → sort-merge join with no Exchange before the join; the
    # only allowed shuffle is the final 5-group aggregation
    assert audit.count_exchanges(joined) <= 1
    p = audit.plan_str(joined)
    assert "SortMergeJoin" in p
    assert "Bucketed: true" in p


def test_runtime_bloom_filter_join_injection(spark):
    """The AQE-era runtime-filter contract: when a selective dimension
    filters a shuffle join's build side, Spark injects a bloom-filter
    aggregate on that side and pushes the membership test into the fact
    scan — at 100 TB this skips most fact row-groups for selective dims
    (the Redshift zone-map + join-filter analog). Thresholds are lowered
    here because the test tables are tiny; production defaults trigger at
    real sizes."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        from aws_etl_microservice_redshift_datalake_spark.sources.io import load_table

        li = load_table(spark, SF_MED, "lineitem")
        o = load_table(spark, SF_MED, "orders").filter("o_orderstatus = 'F'")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in p
        assert "might_contain" in p
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_skew_join_split(spark):
    """AQE's runtime skew handling: a hot join key whose shuffle partition
    dwarfs the median must be SPLIT at runtime — the final adaptive plan
    marks the join skew=true. This is the no-code-change complement to the
    explicit salting pattern (q_agg_salted): at 100 TB, skewed fact keys
    are the norm and AQE re-plans them without operator changes.
    Thresholds are lowered because local test partitions are KB-sized.
    Runs in a fresh newSession() so leaked session confs from other tests
    (and this test's own threshold tuning) cannot cross-contaminate."""
    ns = spark.newSession()
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }.items():
        ns.conf.set(k, v)
    left = ns.range(0, 400_000).select(
        F.when(F.col("id") % 5 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.rand(7).alias("payload"),
    )
    right = ns.range(0, 50_000).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
    j = left.join(right, "k").select("k")
    assert len(j.collect()) > 0  # execute so AQE finalizes THIS plan
    p = j._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in p
    assert "skew=true" in p, "expected the hot-key join to be skew-split"


def test_pack_sequences_composite_shard_window(spark):
    """q_pack_sequences' window must partition by the composite (source,
    shard) key — partitioning by source alone pins parallelism at the
    source cardinality (20), the round-3 scale ceiling."""
    df = QS["q_pack_sequences"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    win = [l for l in p.splitlines() if "windowspecdefinition" in l]
    assert win, "no window in the pack_sequences plan"
    assert "shard" in win[0], f"window not partitioned by composite shard key: {win[0]}"


def test_stratified_sample_no_stratum_sort(spark):
    """q_stratified_sample (hash-threshold form) must contain NO window /
    per-stratum sort over the corpus — rates come from a tiny aggregate,
    membership is a map-side hash filter."""
    df = QS["q_stratified_sample"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert "windowspecdefinition" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_ngram_postings_capped_before_collect(spark):
    """The shingle DF cap must be applied with a count aggregate + semi-join
    BEFORE collect_list builds posting lists, so a hot shingle never
    materializes an unbounded list in one aggregation buffer (ADVICE r3).
    Plan witness: a LeftSemi join feeds the collect_list aggregate."""
    df = QS["q_ngram_jaccard"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert "LeftSemi" in p, "expected the df-cap semi-join in the plan"
    assert "collect_list" in p


def test_semantic_search_hydration_after_topk(spark):
    """Retrieval: the ANN stage broadcasts the query vectors, and the
    hydration stage broadcasts the Q×K hit list into the documents scan —
    documents' text must never ride a shuffle, so total exchanges stay at
    the window exchange (+ the under-split spread)."""
    df = QS["q_semantic_search"](spark, SF_MED)
    assert audit.count_broadcast_joins(df) >= 2
    assert not audit.has_sort_merge_join(df)
    assert audit.count_exchanges(df) <= 2


def test_temperature_sample_no_corpus_shuffle(spark):
    """Temperature mixture: per-class rates broadcast back; the corpus-side
    exchanges are the two tiny aggregates' partials plus the final 5-row
    group-by — the documents relation itself is never repartitioned."""
    df = QS["q_temperature_sample"](spark, SF_MED)
    assert audit.count_broadcast_joins(df) >= 1
    p = audit.plan_str(df)
    assert "CartesianProduct" not in p  # the 1-row cross joins must broadcast


def test_regional_revenue_dims_broadcast(spark):
    """TPC-H Q5 shape: region/nation/supplier (and customer at this sf)
    broadcast; the only shuffle-heavy edges are the two fact keys."""
    df = QS["q_sql_regional_revenue"](spark, SF_MED)
    assert audit.count_broadcast_joins(df) >= 3


def test_chi_square_all_broadcast(spark):
    """The grid construction is tiny-by-tiny: every join in the chi-square
    plan must broadcast — a sort-merge join here means a stats relation
    got mis-estimated as corpus-sized."""
    df = QS["q_chi_square"](spark, SF_MED)
    assert not audit.has_sort_merge_join(df)


def test_lateral_topn_decorrelates_to_window_group_limit(spark):
    """The LATERAL ... ORDER BY ... LIMIT subquery must decorrelate into
    WindowGroupLimit (partial top-k before the shuffle), never a per-row
    re-execution or nested-loop join."""
    df = QS["q_sql_lateral_topn"](spark, SF_MED)
    p = audit.plan_str(df, mode="simple")
    assert "WindowGroupLimit" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_clustered_pairs_no_corpus_broadcast(spark):
    """The shared within-cell candidate stage (_clustered_pairs): the cell
    self-join is over two corpus-sized sides, so it must be a shuffle join
    (hinted SHUFFLE_HASH) — a BroadcastHashJoin between the two index sides
    or any cartesian/BNLJ means parquet-stats mis-nominated a corpus-sized
    build side. The tiny one-row centroid-array and report-tail broadcasts
    are fine."""
    from aws_etl_microservice_redshift_datalake_spark.operators.vectors import (
        SEMDEDUP_TAU,
        _clustered_pairs,
    )

    df = _clustered_pairs(spark, SF_MED, SEMDEDUP_TAU)
    p = audit.plan_str(df, mode="simple")
    assert "CartesianProduct" not in p
    assert "ShuffledHashJoin" in p, "cell self-join lost its shuffle-hash pin"


def test_ivf_multiprobe_assignment_zero_shuffle(spark):
    """build_ivf_index n_assign=2 (ADVICE r4): the multi-probe assignment
    scores the one-row broadcast centroid array row-locally and explodes
    top-n — the plan between the embeddings scan and the index rows must
    contain NO exchange (the old window spelling hash-partitioned all n×C
    scored rows)."""
    from aws_etl_microservice_redshift_datalake_spark.operators import vectors as V

    assign = V.build_ivf_index(spark, SF_MED, n_assign=2)[0]
    p = audit.plan_str(assign, mode="simple")
    assert "ShuffledHashJoin" not in p and "SortMergeJoin" not in p
    assert "InMemoryTableScan" not in p
    # the precise ADVICE r4 regression signal: the old window spelling
    # hash-partitioned all n×C scored rows on t_id — that exchange must be
    # gone. Allowed exchanges: the tiny centroid aggregate's single
    # partition + the under-split spread of the one-file embeddings scan.
    assert "hashpartitioning(t_id" not in p
    assert audit.count_exchanges(assign) <= 2


def test_dedup_substring_semi_join_shape(spark):
    """Exact-substring dedup (r6): the duplicated-shingle semi-join must be
    the pinned ShuffledHashJoin (a statically-planned broadcast is never
    demoted by AQE, and the dup set is corpus-scale on a real crawl), no
    pairwise join may appear anywhere, and the scan must read only
    (doc_id, text) with the null-text filter pushed."""
    df = QS["q_dedup_substring"](spark, SF_MED)
    p = audit.plan_str(df)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "ShuffledHashJoin" in p and "LeftSemi" in p
    audit.assert_scan_pruned(df, ["lang", "source", "n_chars"])
    audit.assert_filter_pushed(df, "text")


def test_dedup_substring_apply_join_shape(spark):
    """Span application (r7): the span-list hydration join back to the
    corpus must be the pinned ShuffledHashJoin (docs-with-spans is
    corpus-scale on a crawl — a statically-planned broadcast build side
    could OOM), the shingle semi-join keeps its r6 shape, no pairwise
    join may appear anywhere, and the scan stays pruned to
    (doc_id, text) with the null-text filter pushed."""
    df = QS["q_dedup_substring_apply"](spark, SF_MED)
    p = audit.plan_str(df)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "ShuffledHashJoin" in p and "LeftSemi" in p
    # the hydration join specifically (r7 review: the LeftSemi assert alone
    # is satisfied by the span pipeline's own semi-join, so a silent
    # regression of the sl side to a broadcast would stay green without
    # this) — PLANS.md records ShuffledHashJoin LeftOuter as the shape
    assert "BroadcastHashJoin" not in p
    assert "ShuffledHashJoin LeftOuter" in p
    audit.assert_scan_pruned(df, ["lang", "source", "n_chars"])
    audit.assert_filter_pushed(df, "text")


def test_fuzzy_join_blocked_equi_not_pairwise(spark):
    """Entity-resolution fuzzy join (r7-hardened): candidates must come
    from the blocking-key EQUI-join (Σ|block|² pairs), never a pairwise
    plan over probes×master; the expensive verify must be the banded
    THRESHOLD levenshtein (O(min·2) per pair — the plain full-DP form
    measured 84 s on a 1.5k-row adversarial corpus); and the customer
    scan must prune to the two consumed columns."""
    df = QS["q_fuzzy_join"](spark, SF_MED)
    p = audit.plan_str(df)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    # the threshold form carries a third argument (the bound) — rendered as
    # Some(2) by Spark 4.1's Scala Option toString, but match any
    # three-argument rendering so a Spark upgrade that changes the plan
    # string doesn't false-fail (ADVICE r7): a regression to plain
    # levenshtein(a, b) drops the argument entirely
    assert "levenshtein" in p
    assert re.search(r"levenshtein\([^()]*(Some\(2\)|,\s*2)\)", p), (
        "threshold argument missing from levenshtein in plan"
    )
    audit.assert_scan_pruned(df, ["c_acctbal", "c_mktsegment", "c_nationkey"])


def test_flagship_runs_in_whole_stage_codegen(spark):
    """The flagship scan-agg must execute inside fused whole-stage-codegen
    spans: after an action finalizes the AQE plan, codegen_stage_count
    reports >= 1 `*(N)` span. Both documented caveats are exercised: a lazy
    AQE plan reports 0, and the action must run THIS DataFrame's own
    QueryExecution (collect — a count() wraps the plan in a new QE and
    leaves this one unfinalized)."""
    df = QS["q_pricing_summary"](spark, SF_MED)
    assert audit.codegen_stage_count(df) == 0  # lazy: AQE not yet finalized
    df.collect()
    assert audit.codegen_stage_count(df) >= 1


@pytest.mark.parametrize(
    "name",
    ["q_tumbling_window", "q_sliding_window", "q_sessionize", "q_window_range"],
)
def test_null_ts_contract_pushes_to_scan(spark, name):
    """The r8 NULL-event-time contract must cost NEGATIVE time at scale:
    the explicit `ts IS NOT NULL` pre-filter has to reach the parquet
    reader as a pushed filter (row-group min/max skipping on a lake whose
    dirty partitions concentrate NULL ts), not run as a post-scan Filter
    only. A contract that sits above the scan would re-read every byte."""
    df = QS[name](spark, SF_MED)
    p = audit.plan_str(df)
    assert re.search(r"PushedFilters: \[[^\]]*IsNotNull\(ts\)", p), (
        f"{name}: IsNotNull(ts) not pushed to the events scan"
    )


def test_asof_null_contract_pushes_both_sides(spark):
    """q_join_asof's NULL-instant exclusion must push into BOTH scans —
    events (probe ts) and orders (build date)."""
    df = QS["q_join_asof"](spark, SF_MED)
    p = audit.plan_str(df)
    assert re.search(r"PushedFilters: \[[^\]]*IsNotNull\(ts\)", p)
    assert re.search(r"PushedFilters: \[[^\]]*IsNotNull\(o_orderdate\)", p)


def test_winnow_no_inlined_generate_filter(spark):
    """q_winnow_fingerprint (r10): the pairing pipeline must use
    explode_OUTER so InferFiltersFromGenerate cannot add a `size(fps) > 0`
    filter — pushing that inferred predicate to the scan substitutes the
    whole winnow HOF chain into per-element references, and each
    element_at then rebuilds the ENTIRE gram-hash array: O(n²) md5s per
    document (measured 204 s vs 0.8 s at sf0.001 when this regressed
    during the r10 build). Plan witnesses: every scan-level filter stays
    md5-free, and the generate is the outer form."""
    df = QS["q_winnow_fingerprint"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    for line in p.splitlines():
        if "Filter" in line and "FileScan" not in line:
            assert "md5" not in line, (
                "winnow expression inlined into a filter:\n" + line[:300]
            )
    scan_lines = [ln for ln in p.splitlines() if "FileScan" in ln]
    assert all("md5" not in ln for ln in scan_lines)


def test_winnow_pairing_is_single_pipeline(spark):
    """The winnow pairing stage must never self-join the exploded
    fingerprint relation (the df cap is a window COUNT + bounded
    collect_set fan-out instead): witnesses are zero sort-merge joins and
    exactly one join total — the final per-doc left join of profile ×
    partner counts."""
    df = QS["q_winnow_fingerprint"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert not audit.has_sort_merge_join(df)
    assert p.count("Join") <= 2
    assert p.count("Generate explode") >= 2  # fp fan-out + pair fan-out


def test_setsim_no_cartesian_no_corpus_broadcast(spark):
    """q_setsim_join (r10): the candidate stage must be a prefix-token
    equi self-join over the canonical order of the memoized shingle sets —
    never a cartesian/BNLJ, and never a broadcast of a corpus-scale side
    (every corpus join is hinted SHUFFLE_HASH). The verify must dedupe
    candidates BEFORE hydrating the full sets. Both stages read the
    `shingles` memo: every leaf of the physical plan scans the memoized
    relation, the candidate stage through its own scans and the verify
    through one more per hydrated side. Memos are cleared first: a cache
    another test left behind would also serve a plan that re-shingles."""
    from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
        clear_session_memos,
    )
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        SETSIM_TAU,
        _shingle_arrays_persisted,
        setsim_candidates,
    )

    clear_session_memos(spark)
    df = QS["q_setsim_join"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "ShuffledHashJoin" in p

    memo = _shingle_arrays_persisted(spark, SF_MED)
    cache = memo._jdf.queryExecution().withCachedData().cacheBuilder()

    def memo_scans(plan_df) -> int:
        leaves = plan_df._jdf.queryExecution().sparkPlan().collectLeaves()
        nodes = [leaves.apply(i) for i in range(leaves.size())]
        assert all(
            n.nodeName() == "InMemoryTableScan"
            and n.relation().cacheBuilder().equals(cache)
            for n in nodes
        ), [n.nodeName() for n in nodes]
        return len(nodes)

    n_cand = memo_scans(setsim_candidates(memo, SETSIM_TAU))
    assert n_cand >= 1, "the candidate stage must read the shingles memo"
    assert memo_scans(df) == n_cand + 2, "both verify sides must read the memo"


def test_quantized_search_single_pass_shared_partitioning(spark):
    """q_quantized_search (r11): ONE corpus pass scores both the exact and
    the quantized similarity (reconstruction is row-local codegen — no
    second scan, no corpus shuffle for scoring); the 5-query side is the
    only broadcast; both rank windows and the final per-query aggregate
    share the q_id partitioning, so the whole plan carries at most the
    window exchange (+ the under-split spread)."""
    df = QS["q_quantized_search"](spark, SF_MED)
    assert audit.count_broadcast_joins(df) >= 1
    assert not audit.has_sort_merge_join(df)
    assert audit.count_exchanges(df) <= 2
    p = audit.plan_str(df)
    assert "CartesianProduct" not in p


# --------------------------------------------------------------------------
# r11 contracts for families that had none (VERDICT r10 #7 second item):
# each pins the plan property that makes the family survive 100 TB.
# --------------------------------------------------------------------------


def test_bm25_is_scan_bound(spark):
    """BM25: tf/dl are row-local over the token array — NO explode and no
    corpus shuffle; the only broadcast is the 1-row stats aggregate, and
    the ranking is TakeOrdered heaps (never a global sort)."""
    df = QS["q_bm25_search"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert p.count("Generate explode") == 0
    assert "TakeOrdered" in p
    assert not audit.has_sort_merge_join(df)
    assert audit.count_exchanges(df) <= 2


def test_hybrid_rrf_fuses_topk_lists_only(spark):
    """RRF fusion: BOTH arms must reduce to K-row lists via TakeOrdered
    heaps BEFORE the fusion join, so the full-outer join (which Spark
    cannot broadcast) only ever sorts two K-row inputs — never a
    corpus-sized side."""
    df = QS["q_hybrid_search_rrf"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert p.count("TakeOrdered") >= 2
    assert "CartesianProduct" not in p
    assert audit.count_exchanges(df) <= 2


def test_samplers_never_shuffle_the_corpus(spark):
    """Hash-threshold membership samplers: selection is a row-local hash
    comparison — ZERO exchanges and zero sorts; the corpus never moves.
    This is the whole point of hash-threshold over sort-based sampling at
    100 TB."""
    for name in ("q_weighted_sample", "q_hash_sample"):
        df = QS[name](spark, SF_MED)
        assert audit.count_exchanges(df) == 0, name
        assert "Sort " not in audit.plan_str(df, "simple"), name


def test_exact_dedup_single_key_shuffle(spark):
    """Exact/hash dedup: exactly ONE exchange — the md5-normalized 16-byte
    key shuffle into the groupBy; anything more means the corpus moved
    twice."""
    for name in ("q_dedup_exact", "q_dedup_hash"):
        df = QS[name](spark, SF_MED)
        assert audit.count_exchanges(df) == 1, name
        assert not audit.has_sort_merge_join(df), name


def test_knn_broadcasts_queries_not_corpus(spark):
    """kNN classify: the tiny query set broadcasts into the streamed corpus
    scan (the q_ann_topk shape); one window exchange at most beyond the
    under-split spread."""
    df = QS["q_knn_classify"](spark, SF_MED)
    assert audit.count_broadcast_joins(df) >= 1
    assert not audit.has_sort_merge_join(df)
    assert audit.count_exchanges(df) <= 2


def test_ngram_decontaminate_is_hashed_semi_join(spark):
    """N-gram decontamination: test-set grams reach the corpus as a hashed
    semi/equi join on the gram key — never a sort-merge or cartesian over
    the corpus side."""
    df = QS["q_decontaminate_ngram"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert not audit.has_sort_merge_join(df)
    assert "CartesianProduct" not in p
    assert audit.count_exchanges(df) <= 4


def test_cms_sketch_shuffle_is_bounded(spark):
    """CMS heavy hitters: the shuffled relation is the O(d·w) sketch plus
    the pruned recount — never a corpus-wide sort or cartesian."""
    df = QS["q_cms_heavy_hitters"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert not audit.has_sort_merge_join(df)
    assert "CartesianProduct" not in p
    assert audit.count_exchanges(df) <= 4


def test_simhash_join_is_blocked_not_pairwise(spark):
    """q_simhash_hamming_join (r11): candidates must come from the
    pigeonhole (block_id, block_value) equi self-join — SHUFFLE_HASH on
    both corpus-scale sides, never a cartesian/BNLJ, never a broadcast of
    a corpus side — and the signature aggregation is the only other
    corpus shuffle."""
    df = QS["q_simhash_hamming_join"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "ShuffledHashJoin" in p


def test_cluster_split_broadcasts_clusters(spark):
    """q_cluster_split (r11): the cluster relation (|clustered docs|, tiny
    vs corpus) broadcasts into the corpus left join; the split tag is
    row-local and the only added shuffle is the final 2-group aggregate —
    no corpus sort, no cartesian."""
    df = QS["q_cluster_split"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert audit.count_broadcast_joins(df) >= 1
    assert "CartesianProduct" not in p


def test_window_ewma_single_window_node(spark):
    """q_window_ewma (r11): all 16 lags must share ONE Window node (same
    partition/order spec) — one user_id shuffle, one in-partition sort; a
    second Window or exchange means the spec drifted between lag terms."""
    df = QS["q_window_ewma"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert len(re.findall(r"\bWindow\b", p)) == 1
    assert audit.count_exchanges(df) == 1


def test_gopher_rules_is_scan_bound(spark):
    """q_gopher_rules (r12): all seven rules are HOF filters/char counts
    over the split arrays — NO explode (the InferFiltersFromGenerate O(n²)
    class cannot arise), no joins, no Python eval; the only exchange is
    the |langs|-group final aggregate with map-side partials."""
    df = QS["q_gopher_rules"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert p.count("Generate explode") == 0
    assert "Join" not in p and "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert audit.count_exchanges(df) <= 1


def test_doremi_corpus_never_shuffles(spark):
    """q_doremi_mixture (r13): the dsir two-gram-pass discipline — the
    single explode subtree feeds both the 256-bucket stats aggregate and
    the broadcast-ln-p scoring pass — plus two column-pruned documents
    scans (domain counts; membership against the broadcast 5-row rates).
    No sort-merge join, no cartesian, no Python; only tiny aggregates
    and map-side partials move rows — the corpus never shuffles."""
    df = QS["q_doremi_mixture"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert p.count("Generate explode") == 2
    assert audit.count_broadcast_joins(df) >= 4
    assert not audit.has_sort_merge_join(df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert audit.count_exchanges(df) <= 8


def test_dsir_corpus_never_shuffles(spark):
    """q_dsir_weights (r12): two gram passes over the corpus — the
    bucket-stats aggregate and the scoring pass — with the 256-row
    ln-ratio relation BROADCAST back; totals ride a window over the stats
    relation (a separate stats.agg() would plant a THIRD gram pass —
    pinned here). No sort-merge join, no cartesian, no Python eval; only
    map-side-combinable aggregates move rows."""
    df = QS["q_dsir_weights"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert p.count("Generate explode") == 2
    assert audit.count_broadcast_joins(df) >= 1
    assert not audit.has_sort_merge_join(df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert audit.count_exchanges(df) <= 3


def test_gopher_repetition_zero_data_shuffle(spark):
    """q_gopher_repetition (r12): all 11 repetition metrics are row-local
    sorted-array run statistics (sorts + one fold per gram family inside
    codegen/HOF evaluation) — NO explode, NO join, NO Python; the only
    exchange is the |langs|-group final aggregate. The explode +
    per-(doc, gram) groupBy alternative would shuffle ~9× the corpus
    token volume; this contract keeps that plan dead."""
    df = QS["q_gopher_repetition"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert p.count("Generate") == 0
    assert "Join" not in p and "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert audit.count_exchanges(df) <= 1


def test_c4_filters_is_scan_bound(spark):
    """q_c4_filters (r12): line rules are HOF filters, page rules are
    contains/replace-length counts — no explode, no joins, no Python;
    one |langs|-group aggregate."""
    df = QS["q_c4_filters"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert p.count("Generate") == 0
    assert "Join" not in p and "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert audit.count_exchanges(df) <= 1


def test_ccnet_window_never_sees_the_corpus(spark):
    """q_ccnet_buckets (r12): the vocab relation broadcasts into the token
    stream (never sort-merge), and the NTILE window sorts only the
    doc-level (lang, score) relation — the corpus-scale token rows are
    reduced by the per-doc aggregate BEFORE any window sort."""
    df = QS["q_ccnet_buckets"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert not audit.has_sort_merge_join(df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert audit.count_exchanges(df) <= 4
    # exactly one Window node, fed by the post-aggregate relation
    assert p.count("Window") == 1


def test_containment_join_is_blocked_not_pairwise(spark):
    """q_containment_join (r12): candidates come from the probe-prefix ×
    full-posting SHUFFLE_HASH equi join over the memoized persisted
    relations — never a sort-merge, cartesian, or broadcast of a
    corpus-scale side; the verify hydrates distinct pairs only."""
    df = QS["q_containment_join"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert not audit.has_sort_merge_join(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_corpus_filter_funnel_is_single_pass(spark):
    """q_corpus_filter_funnel (r13): the full three-battery stack is ONE
    chained row-local projection into ONE |langs|-group aggregate — no
    explode, no joins, no Python; measured +11% wall over the repetition
    battery alone (the most expensive member), proving the stack rides a
    single corpus pass rather than three."""
    df = QS["q_corpus_filter_funnel"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert p.count("Generate") == 0
    assert "Join" not in p and "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert audit.count_exchanges(df) <= 1


def test_bloom_dedup_is_sharded_filter(spark):
    """q_bloom_dedup (r13): the filter is a SHARDED bit relation — a
    min-per-bit aggregate (map-side combinable) + SHUFFLE_HASH joins on
    bit/doc_id/md5 keys; never a sort-merge, cartesian, or nested loop,
    no Python, and the text column itself is never a join key (16-byte
    md5 keys only)."""
    df = QS["q_bloom_dedup"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert not audit.has_sort_merge_join(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_bloom_sweep_hashes_text_once(spark):
    """q_bloom_sweep (r13): ONE corpus text scan/hash fans out to the
    whole m grid (the grid explode rides the 48-bit base relation —
    re-size without re-hash); min-per-(m,bit) aggregate + SHUFFLE_HASH
    joins, never sort-merge/cartesian/nested-loop/Python."""
    df = QS["q_bloom_sweep"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert not audit.has_sort_merge_join(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_containment_apply_decision_is_pair_sized(spark):
    """q_containment_apply (r13): the decision layer joins the SIZE
    lookups onto the PAIR relation (pair-sized, SHUFFLE_HASH-pinned) and
    LEFT-joins the per-doc aggregate back onto sizes — never a
    sort-merge, cartesian, or nested-loop; the candidate stage underneath
    is the same certified-linear containment plan."""
    df = QS["q_containment_apply"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert not audit.has_sort_merge_join(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_dedup_incremental_is_cross_join_only(spark):
    """q_dedup_incremental (r12): candidates come from the new-bands ×
    base-bands SHUFFLE_HASH equi join over the SHARED banding relation
    (minhash_bands) — never a self-pairing of the base, never a
    sort-merge/cartesian; the verify hydrates distinct cross pairs and
    the final aggregate is per-new-doc with a left join for zero-match
    admission."""
    df = QS["q_dedup_incremental"](spark, SF_MED)
    p = audit.plan_str(df, "simple")
    assert not audit.has_sort_merge_join(df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
