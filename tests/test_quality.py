"""Algorithmic-quality and invariant tests that the DuckDB oracle cannot
express: declared-vs-inferred schemas (SURVEY.md §5.2 layer 1), approximate
ANN recall vs the exact top-k, sketch sanity, and dedup idempotence."""

from __future__ import annotations

import pytest

from tests.conftest import full_sweeps_only

import aws_etl_microservice_redshift_datalake_spark as engine
from aws_etl_microservice_redshift_datalake_spark.sources.io import load_table

from tests.conftest import SF_MED, SF_SMALL, TABLES

QS = engine.all_queries()


@pytest.mark.parametrize("table", TABLES)
def test_declared_schema_matches_parquet(spark, table):
    """schemas.py is the engine's DDL catalog — it must agree with what the
    self-describing parquet actually contains (events is declared post-read:
    ns → µs timestamp conversion happens in load_table)."""
    df = load_table(spark, SF_MED, table)
    declared = engine.SCHEMAS[table]
    got = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    want = [(f.name, f.dataType.simpleString()) for f in declared.fields]
    assert got == want


def test_str_funcs_conformance_cases_are_noops_on_fixture(spark):
    """q_str_funcs' docstring claims its two engine-divergence conformance
    CASEs (lev: pure-ASCII names only; type_cap: single alpha words only)
    are NO-OPS on the driver fixture — pin that claim (ADVICE r8): if the
    fixture's p_type ever gains spaces (TPCH-style 'STANDARD ANODIZED TIN')
    or p_name gains non-ASCII, the columns would silently go all-NULL while
    the twin compare stays green (both engines agree on the CASE), so only
    a fixture-level assertion can catch it."""
    from pyspark.sql import functions as F

    out = QS["q_str_funcs"](spark, SF_MED)
    nulls = out.select(
        F.count(F.when(F.col("lev").isNull(), 1)).alias("lev_nulls"),
        F.count(F.when(F.col("type_cap").isNull(), 1)).alias("cap_nulls"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert nulls.n > 0
    assert nulls.lev_nulls == 0, "lev ASCII conformance stopped being a no-op"
    assert nulls.cap_nulls == 0, "type_cap grammar stopped being a no-op"


def test_lsh_ann_recall_vs_exact(spark):
    """The LSH-bucketed ANN (rows-only contract) must agree with brute force
    for most query/neighbor pairs: recall ≥ 0.5 at k=5 with 8 hyperplanes on
    this corpus (random-hyperplane LSH halves are generous at dim 64; the
    point is a regression floor, not a tight bound)."""
    exact = {
        (r["q_id"], r["t_id"])
        for r in QS["q_ann_topk"](spark, SF_MED).collect()
    }
    approx = {
        (r["q_id"], r["t_id"])
        for r in QS["q_ann_lsh_topk"](spark, SF_MED).collect()
    }
    assert exact, "exact top-k returned nothing"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH ANN recall too low: {recall:.2f}"


def test_ivf_ann_recall_vs_exact(spark):
    """IVF-Flat ANN (rows-only contract): probing IVF_NPROBE of ~√n spherical
    k-means cells must recover most true neighbors — recall ≥ 0.6 at k=5 on
    this corpus (the label clusters make cells align with neighborhoods;
    the floor is a regression guard, not a tight bound)."""
    exact = {
        (r["q_id"], r["t_id"])
        for r in QS["q_ann_topk"](spark, SF_MED).collect()
    }
    approx = {
        (r["q_id"], r["t_id"])
        for r in QS["q_ann_ivf_topk"](spark, SF_MED).collect()
    }
    assert exact, "exact top-k returned nothing"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF ANN recall too low: {recall:.2f}"


def test_minhash_equals_exact_neardup_pairs(spark):
    """On this corpus the LSH candidate stage loses nothing (SURVEY-documented
    bimodal Jaccard): MinHash output pairs == exact inverted-index pairs at
    the same threshold."""
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in QS["q_dedup_minhash_pairs"](spark, SF_SMALL).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in QS["q_ngram_jaccard"](spark, SF_SMALL).collect()
        if r["jaccard"] >= 0.8
    }
    assert lsh == exact


def test_cosine_neardup_finds_planted_pairs(spark):
    """The corpus's true near-dup set is empty, so q_cosine_neardup's recall
    is otherwise untested — plant near-duplicates (tiny deterministic
    perturbations of real vectors, cosine > 0.99) and assert the LSH
    candidate+verify pipeline recovers them. At cosine ≥ 0.99 the L=16/k=8
    construction's miss probability is < 1e-6 per pair."""
    from pyspark.sql import functions as F

    from aws_etl_microservice_redshift_datalake_spark.operators.vectors import (
        NEARDUP_BITS,
        NEARDUP_TABLES,
        _dot,
        _lsh_tables,
    )

    e = load_table(spark, SF_MED, "embeddings").limit(200)
    # clone each vector with a ~0.5% relative wiggle on one dim → cosine ≈ 1
    clone = e.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 0, x * F.lit(1.005)).otherwise(x)
        ).alias("embedding"),
    )
    t = e.select("vec_id", "embedding").unionByName(clone).select(
        "vec_id", F.col("embedding").alias("v")
    )
    buckets = t.select(
        "vec_id",
        F.explode(_lsh_tables(NEARDUP_TABLES, NEARDUP_BITS, F.col("v"))).alias("tb"),
    ).select("vec_id", "tb.tbl", "tb.bkt")
    a = buckets.select(F.col("vec_id").alias("vec_a"), "tbl", "bkt")
    b = buckets.select(F.col("vec_id").alias("vec_b"), "tbl", "bkt")
    cand = (
        a.join(b.hint("shuffle_merge"), ["tbl", "bkt"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    va = t.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    vb = t.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    found = {
        (r["vec_a"], r["vec_b"])
        for r in cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", _dot(F.col("va"), F.col("vb")).alias("sim"))
        .filter(F.col("sim") >= 0.8)
        .collect()
    }
    planted = {(r["vec_id"], r["vec_id"] + 1_000_000) for r in e.select("vec_id").collect()}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.99, f"planted near-dup recall too low: {recall:.3f}"


def test_adaptive_lsh_params():
    """Size-adaptive LSH widths: at today's corpus sizes both helpers return
    the floor (oracle-pinned behavior unchanged); as n grows, bucket bits /
    rows-per-band grow so the random-pair candidate rate L/2^k (resp.
    b·E[j^r]) falls, while the analytic recall at the operating threshold
    never drops below 0.95."""
    import math

    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        N_BANDS,
        _minhash_params,
    )
    from aws_etl_microservice_redshift_datalake_spark.operators.vectors import (
        NEARDUP_BITS,
        NEARDUP_TABLES,
        _neardup_params,
    )

    assert _neardup_params(2_000) == (NEARDUP_TABLES, NEARDUP_BITS)
    p085 = 1 - math.acos(0.85) / math.pi
    last_rate = None
    for n in (2_000, 20_000, 200_000, 2_000_000, 20_000_000):
        lsh_l, k = _neardup_params(n)
        recall = 1 - (1 - p085**k) ** lsh_l
        assert recall >= 0.95, f"n={n}: recall {recall:.3f}"
        rate = lsh_l / 2**k  # random-pair collision probability
        if last_rate is not None:
            assert rate <= last_rate, f"n={n}: collision rate not shrinking"
        last_rate = rate
    # collision rate at 20M vectors is ~256× lower than the floor's
    assert last_rate <= (NEARDUP_TABLES / 2**NEARDUP_BITS) / 100

    assert _minhash_params(50_000) == (N_BANDS, 2)
    for n, want_r in ((5_000, 2), (1_000_000, 3), (100_000_000, 4)):
        b, r = _minhash_params(n)
        assert (b, r) == (N_BANDS, want_r)
        recall = 1 - (1 - 0.8**r) ** b  # at the J=0.8 operating threshold
        assert recall >= 0.99, f"n={n}: minhash recall {recall:.4f}"


def test_registry_window_ordering():
    """The driver checks ~the first 50 queries() entries per round. Policy:
    every full-signal query (oracled-and-never-checked, red in its latest
    driver row, or code-churned _RECHECK) must lead the ordering and fit
    inside the 50-slot window; rows-only unchecked queries may fill remaining
    slots; greens sit behind in least-recently-verified order (burn-in). The
    green/red/round facts are DERIVED from the CORRECTNESS_r*.json artifacts
    at registry import (VERDICT r4 #1) — this test verifies the derivation
    against an independent read of the same artifacts, so a new round's
    artifact landing can never make it stale."""
    import glob
    import json
    import os

    from aws_etl_microservice_redshift_datalake_spark.registry import (
        _DEFER,
        _DRIVER_CHECKED,
        _DRIVER_RED,
        _LAST_GREEN,
        _RECHECK,
        _RECHECK_CHANGED,
    )

    # recheck entries self-expire: once a green row postdates the change
    # round they must vacate the window; until then they must hold rank 0
    for nm, changed_in in _RECHECK_CHANGED.items():
        if _LAST_GREEN.get(nm, 0) > changed_in:
            assert nm not in _RECHECK or nm in _DRIVER_RED, (
                f"{nm} re-greened after its change but still pins a slot"
            )
        else:
            assert nm in _RECHECK, f"{nm} changed but not rechecking"

    names = list(QS)
    oracles = engine.all_oracles()
    front = [
        n
        for n in names
        if n in _RECHECK
        or (n not in _DRIVER_CHECKED and n not in _DEFER and n in oracles)
    ]
    k = len(front)
    assert k <= 50, f"{k} full-signal queries don't fit the ~50-slot window"
    assert set(names[:k]) == set(front), (
        "a checked/deferred/rows-only query displaced a full-signal one"
    )

    # independent re-derivation from the artifacts on disk must agree with
    # the registry's import-time scan
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last_green: dict[str, int] = {}
    red: set = set()
    paths = glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
    assert paths, "driver artifacts missing — derivation untestable"
    # numeric round order (r9 before r10) so latest-row red/green resolution
    # matches the registry's derivation past two digits
    for rnd_no, path in sorted(
        (int(p.rsplit("_r", 1)[-1].split(".")[0]), p) for p in paths
    ):
        for name, row in json.load(open(path)).items():
            green = row.get("err") == "no_oracle" or (
                row.get("rows_match") and row.get("hash_match")
            )
            if green:
                last_green[name] = max(last_green.get(name, 0), rnd_no)
                red.discard(name)
            else:
                red.add(name)
    assert _DRIVER_RED == frozenset(red)
    assert _DRIVER_CHECKED == frozenset(last_green) - red
    for name, rnd_no in last_green.items():
        assert _LAST_GREEN[name] == rnd_no
    # every red query must sit at the front of the window for re-verification
    for name in red:
        if name in QS:
            assert name in _RECHECK, f"{name} red but not re-entering window"
    # burn-in ordering: among plain greens (not rechecking/deferred), an
    # older green must never trail a newer one
    tail = [
        n for n in names
        if n in _DRIVER_CHECKED and n not in _RECHECK and n not in _DEFER
    ]
    rounds = [_LAST_GREEN[n] for n in tail]
    assert rounds == sorted(rounds), "burn-in order is not oldest-green-first"


def test_approx_count_distinct_close(spark):
    """HLL sketch (rows-only contract) must sit within its configured rsd of
    the exact distinct count."""
    from pyspark.sql import functions as F

    approx = {
        r["o_orderpriority"]: r["approx_n_cust"]
        for r in QS["q_agg_approx_distinct"](spark, SF_MED).collect()
    }
    exact = {
        r["o_orderpriority"]: r["n"]
        for r in load_table(spark, SF_MED, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for k, e in exact.items():
        assert abs(approx[k] - e) <= max(3, 0.15 * e), (k, approx[k], e)


def test_exact_dedup_idempotent(spark):
    """Dedup twice == dedup once (key-level idempotence)."""
    once = QS["q_dedup_exact"](spark, SF_MED)
    n1 = once.count()
    again = once.dropDuplicates(["keep_id"])
    assert again.count() == n1


def test_duplicate_texts_actually_detected(spark):
    """sf0.1 has duplicated texts by construction (FIXTURES.md): the hash
    dedup must find fewer groups than rows at sf0.1's documents."""
    d = load_table(spark, "/root/testdata/sf0.1", "documents")
    n_rows = d.count()
    n_groups = QS["q_dedup_hash"](spark, "/root/testdata/sf0.1").count()
    assert n_groups < n_rows


def test_approx_profile_tracks_exact(spark):
    """q_dq_profile_approx (HLL++ path) must agree with the exact profile on
    everything non-approximate and keep distinct-count error within HLL's
    documented bounds (default rsd 5%; allow 3σ)."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dq import (
        q_dq_profile,
        q_dq_profile_approx,
    )
    from tests.conftest import SF_MED

    exact = {r.col_name: r for r in q_dq_profile(spark, SF_MED).collect()}
    approx = {r.col_name: r for r in q_dq_profile_approx(spark, SF_MED).collect()}
    assert set(exact) == set(approx)
    for col, e in exact.items():
        a = approx[col]
        assert (a.n_rows, a.n_nulls, a.min_num, a.max_num) == (
            e.n_rows, e.n_nulls, e.min_num, e.max_num
        )
        assert abs(a.n_distinct - e.n_distinct) <= max(3, 0.15 * e.n_distinct), (
            f"{col}: approx {a.n_distinct} vs exact {e.n_distinct}"
        )


def test_freq_items_superset_guarantee(spark):
    """Misra-Gries contract: every value whose true frequency exceeds the
    support threshold MUST appear in the sketch output (false positives
    allowed, false negatives never)."""
    from pyspark.sql import functions as F

    from aws_etl_microservice_redshift_datalake_spark.sources.io import load_table
    from tests.conftest import SF_MED

    import aws_etl_microservice_redshift_datalake_spark as engine

    got = engine.all_queries()["q_freq_items"](spark, SF_MED).collect()
    by_col = {}
    for r in got:
        by_col.setdefault(r.col_name, set()).add(r.value)
    li = load_table(spark, SF_MED, "lineitem")
    n = li.count()
    for col in ("l_returnflag", "l_linestatus"):
        exact = {
            r[col]
            for r in li.groupBy(col).count().collect()
            if r["count"] > 0.2 * n
        }
        assert exact <= by_col.get(col, set()), f"{col}: missing true heavy hitters"


def test_count_min_sketch_bounds(spark):
    """CMS contract (DataFrame-native cms_build/cms_estimate): estimate(key)
    is never below the true count and, with probability 1-δ, within ε·N
    above it (ε=0.005, δ=0.01 — checked for every supplier key, allowing
    the δ slack on a 1% handful)."""
    from aws_etl_microservice_redshift_datalake_spark.operators.aggregates import (
        cms_build,
        cms_estimate,
    )
    from aws_etl_microservice_redshift_datalake_spark.sources.io import load_table
    from tests.conftest import SF_MED

    li = load_table(spark, SF_MED, "lineitem")
    n = li.count()
    sketch = cms_build(li, "l_suppkey", eps=0.005, confidence=0.99, seed=42)
    keys = li.select("l_suppkey").distinct()
    est = {
        r.l_suppkey: r.est
        for r in cms_estimate(sketch, keys, "l_suppkey", eps=0.005,
                              confidence=0.99, seed=42).collect()
    }
    truth = {r.l_suppkey: r["count"] for r in li.groupBy("l_suppkey").count().collect()}
    assert est.keys() == truth.keys()
    over_budget = 0
    for key, true_n in truth.items():
        assert est[key] >= true_n, f"CMS under-estimated key {key}"
        if est[key] > true_n + 0.005 * n:
            over_budget += 1
    assert over_budget <= max(1, int(0.01 * len(truth)))


def test_hash_native_deterministic_across_runs(spark):
    """q_hash_native (rows-only contract PERMANENTLY, adjudicated r8:
    xxhash64/crc32/murmur3 have no DuckDB twin) must be deterministic: two
    independent runs produce identical hash values for every doc, and the
    hashes are seed-stable Spark builtins (not RNG-dependent). The crc32
    column additionally has a fully INDEPENDENT oracle — CRC-32 is one
    published algorithm with one answer, so Python's zlib re-computes every
    value from the raw text (the stronger-than-rows check standing in for
    the impossible DuckDB twin)."""
    import zlib

    a = {r.doc_id: (r.text_xxh64, r.text_crc32, r.text_murmur3)
         for r in QS["q_hash_native"](spark, SF_MED).collect()}
    b = {r.doc_id: (r.text_xxh64, r.text_crc32, r.text_murmur3)
         for r in QS["q_hash_native"](spark, SF_MED).collect()}
    assert a == b and len(a) == 500
    docs = load_table(spark, SF_MED, "documents")
    for row in docs.select("doc_id", "text").collect():
        want = zlib.crc32(row.text.encode("utf-8")) & 0xFFFFFFFF
        assert a[row.doc_id][1] == want, (row.doc_id, a[row.doc_id][1], want)


@full_sweeps_only
def test_semdedup_clustered_subset_and_recall(spark):
    """The published clustered SemDeDup vs the exact broadcast twin: the
    clustered drop REPORT must be dominated by the exact one per label
    (within-cell pairs are a subset of all pairs ⇒ precision 1), and total
    drop-recall must clear 0.5 (measured 4/7 at sf0.001, 13/14 at sf0.01 —
    τ=0.45 pairs are weakly similar, exactly the boundary-pair loss the
    paper accepts; top-3 cell indexing recovers the rest; measured 5/7 at
    sf0.001, 13/14 at sf0.01, 100/136 at sf0.1)."""
    from tests.conftest import SF_MED, SF_SMALL

    import aws_etl_microservice_redshift_datalake_spark as engine

    qs = engine.all_queries()
    for sf in (SF_SMALL, SF_MED):
        exact = {r.label: r.n_dropped for r in qs["q_semdedup"](spark, sf).collect()}
        clus = {r.label: r.n_dropped for r in qs["q_semdedup_clustered"](spark, sf).collect()}
        assert set(exact) == set(clus)
        for label in exact:
            assert clus[label] <= exact[label], (sf, label)
        te, tc = sum(exact.values()), sum(clus.values())
        assert te > 0
        assert tc / te >= 0.5, f"clustered drop recall too low at {sf}: {tc}/{te}"


def test_decontaminate_clustered_subset_and_recall(spark):
    """The at-scale (within-cell) semantic decontamination vs the exact
    broadcast twin (VERDICT r4 #2): within-cell train/test pairs are a
    subset of all pairs, so the clustered contamination count must be
    dominated per label (precision 1) with identical n_test, and total
    contamination recall must clear 0.5 (measured 1/2 at sf0.001, 8/9 at
    sf0.01 — boundary-pair loss is the published clustered trade)."""
    for sf in (SF_SMALL, SF_MED):
        exact = {r.label: (r.n_test, r.n_contaminated)
                 for r in QS["q_decontaminate_semantic"](spark, sf).collect()}
        clus = {r.label: (r.n_test, r.n_contaminated)
                for r in QS["q_decontaminate_semantic_clustered"](spark, sf).collect()}
        assert set(exact) == set(clus)
        for label in exact:
            assert clus[label][0] == exact[label][0], (sf, label, "n_test drift")
            assert clus[label][1] <= exact[label][1], (sf, label)
        te = sum(v[1] for v in exact.values())
        tc = sum(v[1] for v in clus.values())
        assert te > 0
        assert tc / te >= 0.5, f"clustered decon recall too low at {sf}: {tc}/{te}"


@full_sweeps_only
def test_cross_lingual_clustered_subset_and_recall(spark):
    """The at-scale (within-cell) cross-lingual near-dup report vs the exact
    broadcast twin (VERDICT r4 #3): clustered verified pairs ⊆ exact pairs,
    so per language pair n_pairs and max_sim must be dominated, and total
    pair recall must clear 0.5 (measured 3/4 at sf0.001, 10/11 at
    sf0.01)."""
    for sf in (SF_SMALL, SF_MED):
        exact = {(r.lang_a, r.lang_b): (r.n_pairs, r.max_sim)
                 for r in QS["q_cross_lingual_neardup"](spark, sf).collect()}
        clus = {(r.lang_a, r.lang_b): (r.n_pairs, r.max_sim)
                for r in QS["q_cross_lingual_neardup_clustered"](spark, sf).collect()}
        assert set(clus) <= set(exact), "clustered emitted a pair class exact lacks"
        for key, (n, mx) in clus.items():
            assert n <= exact[key][0], (sf, key)
            assert mx <= exact[key][1] + 1e-9, (sf, key)
        te = sum(v[0] for v in exact.values())
        tc = sum(v[0] for v in clus.values())
        assert te > 0
        assert tc / te >= 0.5, f"clustered xling recall too low at {sf}: {tc}/{te}"


def test_session_memo_evicts_superseded(spark):
    """The shared persisted-relation memo (operators._memo) must not leak:
    a changed table-state signature at the same sf_dir unpersists and
    replaces the superseded entry. Each memo test runs on its own
    ``newSession()`` sibling, whose memo dies with it."""
    from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
        clear_session_memos,
        session_memo,
    )

    s = spark.newSession()
    sig1 = (("/x/part-0.parquet", 100, 1_000),)
    sig2 = (("/x/part-0.parquet", 120, 2_000),)  # a rewrite: fresher mtime
    a = session_memo("t", s, "/x", lambda: sig1, lambda: s.range(5))
    assert a.storageLevel.useMemory
    # same signature: memo hit, the build lambda must not run
    b = session_memo("t", s, "/x", lambda: sig1,
                     lambda: (_ for _ in ()).throw(AssertionError("rebuilt")))
    assert b is a
    # new signature at the same sf_dir: superseded entry unpersisted, replaced
    c = session_memo("t", s, "/x", lambda: sig2, lambda: s.range(7))
    assert c is not a
    assert not a.storageLevel.useMemory, "superseded relation still pinned"
    assert c.storageLevel.useMemory
    assert clear_session_memos(s) == 1, "superseded entry still in the table"


def test_session_memo_concurrent_single_build(spark):
    """A Spark driver legitimately runs queries from many threads: 8 threads
    racing the same memo key must produce exactly ONE build (a lost race
    would leak an unreferenced persisted copy in executor storage)."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
        clear_session_memos,
        session_memo,
    )

    s = spark.newSession()
    builds = []
    gate = threading.Barrier(8)

    def build():
        builds.append(1)
        return s.range(10)

    def call(_):
        gate.wait()  # maximize the race window
        return session_memo("t", s, "/race", lambda: "s1", build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads as often as possible
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            got = list(ex.map(call, range(8)))
    finally:
        sys.setswitchinterval(interval)
    assert len(builds) == 1, f"{len(builds)} builds for one key"
    assert all(g is got[0] for g in got), "threads saw different relations"
    assert clear_session_memos(s) == 1


def test_session_memo_distinct_keys_build_in_parallel(spark):
    """Builds of different keys must not serialize behind one another: each
    of two builds waits until the other has started, which can only finish
    if both run at once."""
    import threading

    from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
        clear_session_memos,
        session_memo,
    )

    s = spark.newSession()
    started = threading.Barrier(2, timeout=30)
    results: dict = {}

    def call(sf_dir):
        def build():
            started.wait()  # BrokenBarrierError if the other build is blocked
            return s.range(3)

        results[sf_dir] = session_memo("t", s, sf_dir, lambda: "s", build)

    threads = [threading.Thread(target=call, args=(d,)) for d in ("/p1", "/p2")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not any(t.is_alive() for t in threads)
    assert set(results) == {"/p1", "/p2"}, "a build waited on another key"
    assert clear_session_memos(s) == 2


@full_sweeps_only
def test_concurrent_queries_one_session(spark):
    """Multi-tenant driver shape: the memo-heavy dedup/vector family, a
    watermark stream, and one SQL-text query over two sf dirs run from 6
    threads on ONE session must all match a serial run (memoized shingle,
    bucket and cluster-label relations and connected-components
    checkpoints under concurrency; no stream conf and no SQL temp view
    reaching another thread) and leave the session's conf and catalog as
    they were."""
    from concurrent.futures import ThreadPoolExecutor

    names = [
        "q_dedup_minhash_pairs", "q_dedup_clusters", "q_cosine_neardup",
        "q_ngram_jaccard", "q_semdedup_clustered", "q_ann_ivf_topk",
        "q_decontaminate_semantic_clustered",
        "q_cross_lingual_neardup_clustered",
    ]
    jobs = [(n, SF_MED) for n in names] + [
        ("q_stream_watermark", SF_MED),
        ("q_sql_waiting_orders", SF_MED),
        ("q_sql_waiting_orders", SF_SMALL),
    ]

    def run(job):
        name, sf = job
        df = QS[name](spark, sf)
        # the memo family is pinned by row count; the stream and SQL
        # results are small enough to compare row for row
        return job, df.count() if name in names else sorted(map(tuple, df.collect()))

    conf, tables = spark.conf.getAll, spark.catalog.listTables()
    serial = dict(map(run, jobs))
    with ThreadPoolExecutor(max_workers=6) as ex:
        concurrent = dict(ex.map(run, jobs))
    assert concurrent == serial
    assert spark.conf.getAll == conf
    assert spark.catalog.listTables() == tables


def test_token_budget_respected(spark):
    """q_token_budget_prune's kept token mass must be within budget per
    language (boundary buckets are all-or-nothing, so kept ≤ budget by
    construction of the threshold pick)."""
    from aws_etl_microservice_redshift_datalake_spark.operators.sampling import TOKEN_BUDGET

    for r in QS["q_token_budget_prune"](spark, SF_MED).collect():
        assert 0 < r.tokens_kept <= TOKEN_BUDGET, (r.lang, r.tokens_kept)


def test_salted_join_plan_shape(spark):
    """The salted join must actually execute the salted shuffle-hash path
    (a broadcast of the replicated dim would bypass the salt spread)."""
    from aws_etl_microservice_redshift_datalake_spark.plans import audit

    df = QS["q_join_salted"](spark, SF_MED)
    p = audit.plan_str(df, mode="simple")
    assert "ShuffledHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_temperature_sample_rebalances_toward_uniform(spark):
    """Temperature flattening (alpha=1/2) must move the selected mixture
    TOWARD uniform relative to the natural distribution: every language's
    selected count stays within its availability, the majority language's
    selected SHARE drops below its natural share, and every minority
    language's share rises (the mT5 re-weighting contract)."""
    rows = {r.lang: r for r in QS["q_temperature_sample"](spark, SF_MED).collect()}
    n_total = sum(r.n_lang for r in rows.values())
    sel_total = sum(r.n_selected for r in rows.values())
    assert sel_total > 0
    majority = max(rows.values(), key=lambda r: r.n_lang)
    for r in rows.values():
        assert 0 <= r.n_selected <= r.n_lang
        natural = r.n_lang / n_total
        selected = r.n_selected / sel_total
        if r.lang == majority.lang:
            assert selected < natural, (r.lang, selected, natural)
        elif r.n_lang < majority.n_lang:
            assert selected >= natural * 0.9, (r.lang, selected, natural)


def test_hybrid_rrf_fuses_its_arms(spark):
    """The fused list must come from the union of the two arms, with scores
    bounded by the two-term RRF maximum and decreasing in rank order."""
    from aws_etl_microservice_redshift_datalake_spark.operators.text import RRF_K

    rows = QS["q_hybrid_search_rrf"](spark, SF_MED).collect()
    assert rows
    scores = [r.rrf_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r.kw_rank >= 0 and r.sem_rank >= 0
        assert r.kw_rank > 0 or r.sem_rank > 0  # must appear in >= 1 arm
        assert r.rrf_score <= 2.0 / (RRF_K + 1)


def test_exact_substring_planted_spans(spark):
    """Exact-substring dedup (Lee et al. '21) recovers a planted duplicated
    run EXACTLY: a 12-token substring shared by two docs must come back as
    one maximal span per doc with the precise token range, a fully-unique
    doc must report nothing, and a within-doc repeat (the paper's
    self-repetition case) must yield two separate spans."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        exact_substring_spans,
    )

    planted = [f"p{i}" for i in range(12)]          # the shared 12-token run
    rep = [f"r{i}" for i in range(10)]              # the self-repeated 10-gram
    mk = lambda pre, toks: [f"{pre}{i}" for i in range(toks)]
    docs = [
        # doc 1: 20 unique tokens, planted run at positions 21-32, 8 more
        (1, " ".join(mk("a", 20) + planted + mk("b", 8))),
        # doc 2: 4 unique tokens, planted run at positions 5-16, 6 more
        (2, " ".join(mk("c", 4) + planted + mk("d", 6))),
        # doc 3: fully unique — no duplicated 10-gram anywhere
        (3, " ".join(mk("e", 40))),
        # doc 4: the same 10-gram at positions 1 and 16 (gap 15 > k=10, so
        # the two occurrences must NOT merge into one span)
        (4, " ".join(rep + mk("f", 5) + rep)),
        # doc 5: null text must be dropped, not crash the tokenizer
        (5, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.start_tok, r.end_tok, r.n_tokens)
        for r in exact_substring_spans(df, k=10).collect()
    }
    assert got == {
        (1, 21, 32, 12),
        (2, 5, 16, 12),
        (4, 1, 10, 10),
        (4, 16, 25, 10),
    }


def test_driver_history_green_predicate(tmp_path):
    """The registry's derived green predicate must match the driver's FULL
    bar (VERDICT r5 #2): a schema-only mismatch is red (re-enters the window
    at rank 0 via _DRIVER_RED), an empty rows-only result is likewise red,
    and a corrupt artifact is skipped LOUDLY (warning names the file)."""
    import json
    import warnings

    from aws_etl_microservice_redshift_datalake_spark.registry import _driver_history

    rows = {
        "q_all_green": {"rows_match": True, "schema_match": True,
                        "hash_match": True, "spark_rows": 5,
                        "oracle_rows": 5, "err": None},
        "q_schema_only_bad": {"rows_match": True, "schema_match": False,
                              "hash_match": True, "spark_rows": 5,
                              "oracle_rows": 5, "err": None},
        "q_rows_only_empty": {"rows_match": True, "schema_match": True,
                              "hash_match": True, "spark_rows": 0,
                              "oracle_rows": 0, "err": "no_oracle"},
        "q_rows_only_ok": {"rows_match": True, "schema_match": True,
                           "hash_match": True, "spark_rows": 3,
                           "oracle_rows": 0, "err": "no_oracle"},
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(rows))
    last_green, red = _driver_history(str(tmp_path))
    assert last_green.get("q_all_green") == 1
    assert "q_schema_only_bad" in red          # → _RECHECK → rank 0
    assert "q_rows_only_empty" in red          # empty rows-only is a failure
    assert last_green.get("q_rows_only_ok") == 1

    # corrupt artifact: skipped with a warning, earlier rounds still count
    (tmp_path / "CORRECTNESS_r02.json").write_text("{truncated")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        last_green2, _ = _driver_history(str(tmp_path))
    assert last_green2.get("q_all_green") == 1
    assert any("CORRECTNESS_r02" in str(w.message) for w in caught)


def test_driver_history_closes_artifacts(tmp_path):
    """Every artifact file is closed once read, including a corrupt one."""
    import gc
    import json
    import warnings

    from aws_etl_microservice_redshift_datalake_spark.registry import _driver_history

    row = {"rows_match": True, "schema_match": True, "hash_match": True,
           "spark_rows": 1, "err": None}
    for rnd in range(1, 4):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps({"q_a": row}))
    (tmp_path / "CORRECTNESS_r04.json").write_text("{truncated")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        last_green, _ = _driver_history(str(tmp_path))
        gc.collect()
    assert last_green == {"q_a": 3}
    assert not [w for w in caught if issubclass(w.category, ResourceWarning)]


def test_session_memo_unpersists_before_rebuild(spark):
    """A slot holds one relation: when the signature moves, the held
    relation is unpersisted BEFORE ``build()`` runs. Spark's CacheManager
    matches cached plans by file path, so a rebuild of a rewritten table
    that ran while the stale cache was still registered would read the
    stale rows and never be cached itself. A signature moving back is a
    plain rebuild: nothing older is kept."""
    from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
        clear_session_memos,
        session_memo,
    )

    s = spark.newSession()
    old_sig = (("/d/part-0.parquet", 100, 1_000),)
    new_sig = (("/d/part-0.parquet", 120, 1_000),)  # same mtime, new size
    held = session_memo("t", s, "/ord", lambda: old_sig, lambda: s.range(9))
    assert held.storageLevel.useMemory
    seen = []

    def build():
        seen.append(held.storageLevel.useMemory)
        return s.range(7)

    got = session_memo("t", s, "/ord", lambda: new_sig, build)
    assert seen == [False], "the held relation was still cached at build()"
    assert got.storageLevel.useMemory and got.count() == 7
    assert session_memo("t", s, "/ord", lambda: new_sig, lambda: 1 / 0) is got
    back = session_memo("t", s, "/ord", lambda: old_sig, lambda: s.range(3))
    assert back.count() == 3 and not got.storageLevel.useMemory
    assert clear_session_memos(s) == 1, "a replaced relation stayed in the slot"


def test_exact_substring_production_k50(spark):
    """The operator's production setting is k=50 tokens (Lee et al.'s BPE
    threshold): on sf0.01 the near-dup docs >= 50 tokens share whole-doc
    runs, so spans must exist, every span must be >= 50 tokens long, and
    every reported span must sit inside its document's token count."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        exact_substring_spans,
    )
    from aws_etl_microservice_redshift_datalake_spark.sources.io import load_table

    d = load_table(spark, SF_MED, "documents").select("doc_id", "text")
    spans = exact_substring_spans(d, k=50).collect()
    assert spans, "expected >=50-token duplicated runs among sf0.01 near-dups"
    lens = {
        r.doc_id: len(r.text.split(" "))
        for r in d.filter("text IS NOT NULL").collect()
    }
    for r in spans:
        assert r.n_tokens >= 50
        assert 1 <= r.start_tok <= r.end_tok <= lens[r.doc_id]
        assert r.n_tokens == r.end_tok - r.start_tok + 1


def test_session_memo_isolates_newSession_siblings(spark):
    """Two sessions over ONE SparkContext (spark.newSession()) must get
    INDEPENDENT memo entries (the memo lives on the session object, not
    the JVM): a relation built in one sibling must not be returned to the
    other, and clearing one session's memo must leave the sibling's
    intact."""
    from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
        clear_session_memos,
        session_memo,
    )

    s1, s2 = spark.newSession(), spark.newSession()
    a = session_memo("t", s1, "/iso", lambda: "s", lambda: s1.range(3))
    b = session_memo("t", s2, "/iso", lambda: "s", lambda: s2.range(4))
    assert a is not b and a.count() == 3 and b.count() == 4
    # same key again: each session still gets ITS relation back
    assert session_memo("t", s1, "/iso", lambda: "s", lambda: 1 / 0) is a
    assert session_memo("t", s2, "/iso", lambda: "s", lambda: 1 / 0) is b
    assert clear_session_memos(s1) == 1
    assert not a.storageLevel.useMemory and b.storageLevel.useMemory
    assert session_memo("t", s2, "/iso", lambda: "s", lambda: 1 / 0) is b
    assert clear_session_memos(s2) == 1


def test_minhash_grown_banding_executes_and_matches(spark, monkeypatch):
    """_minhash_params' r=3 regime (chosen past 1e5 docs) never runs at test
    scale — force it so the widened-signature plan (48 minhashes, 3-row
    bands) actually executes: the output must STILL equal the exact-Jaccard
    pair set (miss probability at the corpus's J >= 0.98 operating point is
    ~1e-20 per pair; precision is exact via the verify stage)."""
    from aws_etl_microservice_redshift_datalake_spark.operators import dedup

    monkeypatch.setattr(dedup, "_minhash_params", lambda n: (dedup.N_BANDS, 3))
    lsh = {
        (r.doc_a, r.doc_b)
        for r in QS["q_dedup_minhash_pairs"](spark, SF_SMALL).collect()
    }
    exact = {
        (r.doc_a, r.doc_b)
        for r in QS["q_ngram_jaccard"](spark, SF_SMALL).collect()
        if r.jaccard >= 0.8
    }
    assert lsh == exact and exact, "grown-banding path lost or invented pairs"


def test_stratified_sample_exact_counts(spark):
    """The documented exact-count stratified variant (kept alongside the
    registered hash-threshold form) must honor its contract literally:
    per language, exactly ceil(0.2 * n_lang) docs selected."""
    import math

    from aws_etl_microservice_redshift_datalake_spark.operators.sampling import (
        stratified_sample_exact,
    )

    rows = stratified_sample_exact(spark, SF_MED).collect()
    assert rows, "no strata at sf0.01"
    for r in rows:
        assert r.n_sampled == math.ceil(0.2 * r.n_total), r


def test_session_memo_callable_sig_fresh_at_build(spark):
    """Callable signatures are evaluated under the build lock: the entry is
    keyed by the EVALUATED fresh signature — a caller that statted before a
    rewrite can no longer install post-rewrite data under its stale
    signature (the poisoning race) because the signature is re-derived at
    build time."""
    from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
        clear_session_memos,
        session_memo,
    )

    s = spark.newSession()
    state = {"sig": (("/p", 1, 100),)}
    a = session_memo("t", s, "/cal", lambda: state["sig"], lambda: s.range(2))
    # matched on the evaluated signature: any callable returning it hits
    hit = session_memo("t", s, "/cal", lambda: (("/p", 1, 100),), lambda: 1 / 0)
    assert hit is a
    # a rewrite lands before the next arrival: the fresh signature is what
    # the call keys on, so it MISSES the old entry and supersedes it
    state["sig"] = (("/p", 2, 200),)
    b = session_memo("t", s, "/cal", lambda: state["sig"], lambda: s.range(3))
    assert b is not a and b.count() == 3
    assert not a.storageLevel.useMemory, "superseded relation still pinned"
    hit = session_memo("t", s, "/cal", lambda: (("/p", 2, 200),), lambda: 1 / 0)
    assert hit is b
    assert clear_session_memos(s) == 1


def test_session_memo_mid_build_rewrite_not_installed(spark):
    """A rewrite landing DURING the build+materialize (signature differs
    between the at-start and after-count evaluations) must hand the caller
    its relation UNMEMOIZED and unpersisted: the partitions may mix pre-
    and post-rewrite files, so installing under either signature would
    poison the memo."""
    from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
        clear_session_memos,
        session_memo,
    )

    s = spark.newSession()
    sigs = iter([(("/p", 1, 100),), (("/p", 2, 200),)])
    df = session_memo(
        "t", s, "/midbuild", lambda: next(sigs), lambda: s.range(4)
    )
    assert df.count() == 4  # the caller still gets a usable relation
    assert clear_session_memos(s) == 0, "torn-build relation was installed"
    assert not df.storageLevel.useMemory, "torn-build relation left persisted"


def test_session_memo_racing_rewrite_across_threads(spark):
    """The exact interleaving the callable-sig check exists for, driven with
    real threads: A acquires the key lock and starts a slow build; a rewrite
    lands WHILE A builds; B arrives (blocks on the lock), then re-derives the
    signature fresh once it gets the lock — so B builds the post-rewrite
    relation under the post-rewrite signature instead of being served A's
    pre-rewrite relation or installing mislabeled data. A's relation is
    never installed: its post-build re-check sees the new signature."""
    import threading

    from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
        clear_session_memos,
        session_memo,
    )

    s = spark.newSession()
    state = {"sig": (("/p", 1, 100),), "n": 2}
    in_build = threading.Event()
    release = threading.Event()
    builds = []

    def build():
        n = state["n"]  # read table state at build time, like a real scan
        builds.append(n)
        in_build.set()
        assert release.wait(30), "orchestration stalled"
        return s.range(n)

    results: dict = {}

    def call(tag):
        results[tag] = session_memo(
            "t", s, "/rewrite-race", lambda: state["sig"], build
        )

    t_a = threading.Thread(target=call, args=("a",))
    t_a.start()
    assert in_build.wait(30), "A never reached its build"
    # the rewrite lands while A is mid-build (A already read the old state)
    state["sig"] = (("/p", 2, 200),)
    state["n"] = 5
    t_b = threading.Thread(target=call, args=("b",))
    t_b.start()  # blocks on the key lock until A finishes
    release.set()
    t_a.join(60)
    t_b.join(60)
    assert not t_a.is_alive() and not t_b.is_alive()
    assert builds == [2, 5], "B must rebuild from the rewritten state"
    assert results["a"].count() == 2 and results["b"].count() == 5
    # exactly one surviving entry: B's, keyed by the POST-rewrite signature
    hit = session_memo(
        "t", s, "/rewrite-race", lambda: (("/p", 2, 200),), lambda: 1 / 0
    )
    assert hit is results["b"]
    assert not results["a"].storageLevel.useMemory, "stale relation still pinned"
    assert clear_session_memos(s) == 1


def test_clear_session_memos_waits_for_inflight_build(spark):
    """A cold-bench clear racing a build on another thread must not return
    before that build lands: thread A is blocked inside a gated build (whose
    relation also memoizes a nested key, like pairs over shingles), thread
    B clears, A is released — once B returns the memo is empty and A's
    relations are unpersisted, so the next read is really cold."""
    import threading

    from aws_etl_microservice_redshift_datalake_spark.operators._memo import (
        clear_session_memos,
        session_memo,
    )

    s = spark.newSession()
    in_build = threading.Event()
    release = threading.Event()
    results: dict = {}

    def build():
        in_build.set()
        assert release.wait(30), "orchestration stalled"
        results["inner"] = session_memo(
            "t-inner", s, "/gate", lambda: "s", lambda: s.range(2)
        )
        return results["inner"].select("id")

    def call():
        results["a"] = session_memo("t", s, "/gate", lambda: "s", build)

    def clear():
        results["dropped"] = clear_session_memos(s)

    t_a = threading.Thread(target=call)
    t_a.start()
    assert in_build.wait(30), "A never reached its build"
    t_b = threading.Thread(target=clear)
    t_b.start()
    t_b.join(0.5)
    assert t_b.is_alive(), "clear returned while a build was in flight"
    release.set()
    t_a.join(60)
    t_b.join(60)
    assert not t_a.is_alive() and not t_b.is_alive()
    assert results["dropped"] == 2
    assert not results["a"].storageLevel.useMemory, "A's relation still pinned"
    assert not results["inner"].storageLevel.useMemory
    assert clear_session_memos(s) == 0, "an entry survived the clear"


def test_winnowing_guarantee_on_planted_overlap(spark, tmp_path):
    """Winnowing's published guarantee (Schleimer et al. '03): any token
    run of length >= w + k - 1 shared by two documents shares at least one
    SELECTED fingerprint — so the planted pair must report each other as
    partners, while a fully-unique doc reports none and a doc below the
    window threshold keeps a profile row with n_fp = 0. Uses k=3/w=4
    (WINNOW_K/WINNOW_W), so the magic run length is 6 tokens."""
    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_W,
    )

    run_len = WINNOW_K + WINNOW_W - 1            # 6: one full window of grams
    planted = [f"p{i}" for i in range(run_len)]
    mk = lambda pre, n: [f"{pre}{i}" for i in range(n)]
    docs = [
        (1, " ".join(mk("a", 15) + planted + mk("b", 9))),
        (2, " ".join(mk("c", 7) + planted + mk("d", 12))),
        (3, " ".join(mk("e", 40))),              # unique: no partner
        (4, " ".join(mk("f", 4))),               # short: profile, no window
        (5, None),                               # null text: excluded
    ]
    sf = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    rows = {r.doc_id: r for r in QS["q_winnow_fingerprint"](spark, sf).collect()}
    assert set(rows) == {1, 2, 3, 4}, "null text excluded, short doc kept"
    assert rows[1].n_partners >= 1 and rows[2].n_partners >= 1, (
        "planted >= w+k-1 overlap must share a selected fingerprint"
    )
    assert rows[3].n_partners == 0
    assert rows[4].n_fp == 0 and rows[4].n_partners == 0
    assert rows[4].n_grams == max(0, 4 - WINNOW_K + 1) == 2
    # profile arithmetic: n_grams = tokens - k + 1, n_fp <= window count
    assert rows[3].n_grams == 40 - WINNOW_K + 1
    assert 1 <= rows[3].n_fp <= rows[3].n_grams - WINNOW_W + 1


def test_bm25_saturates_and_length_normalizes(spark, tmp_path):
    """BM25's two defining properties vs raw TF-IDF (q_keyword_search):
    term-frequency SATURATION (k1) and document-LENGTH normalization (b).
    A 5000-token doc stuffing the query term 50x must not outscore a
    10-token doc with one exact hit by anything like the 50x a raw
    tf·idf gives — with k1=1.2/b=0.75 the planted ratio is ~1.2x. Docs
    without any query term must not appear."""
    filler = lambda pre, n: " ".join(f"{pre}{i}" for i in range(n))
    docs = [
        (1, "hash " + filler("a", 9), "en"),                  # dl 10, tf 1
        (2, ("hash " * 50) + filler("b", 5000), "en"),        # dl 5050, tf 50
        (3, filler("c", 40), "en"),                           # no hit
    ]
    sf = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string, lang string") \
        .write.parquet(f"{sf}/documents.parquet")
    rows = {r.doc_id: r.score for r in QS["q_bm25_search"](spark, sf).collect()}
    assert set(rows) == {1, 2}, "only docs matching a query term rank"
    assert rows[1] > 0 and rows[2] > 0
    assert rows[2] / rows[1] < 2.0, (
        f"term-stuffed long doc outscored the exact hit {rows[2]/rows[1]:.1f}x "
        "— saturation/length-norm missing"
    )


def test_approx_percentile_rank_bound(spark):
    """KLL/GK sketch median (q_agg_approx_pct, rows-only contract) must
    return an OBSERVED value whose rank sits within the sketch's
    accuracy guarantee of the true median rank (accuracy 10000 ⇒ rank
    error ≤ n/10000; +2 slack for ties at this sf) — the pytest ceiling
    that lets the query park beside the other sketches (r10, VERDICT r9
    #2 extended to the last unfloored rows-only pair)."""
    import bisect

    approx = {
        r["l_returnflag"]: (r["approx_median_price"], r["n"])
        for r in QS["q_agg_approx_pct"](spark, SF_MED).collect()
    }
    vals = {}
    for r in load_table(spark, SF_MED, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).collect():
        vals.setdefault(r.l_returnflag, []).append(r.l_extendedprice)
    assert approx.keys() == vals.keys()
    for k, (m, n) in approx.items():
        xs = sorted(vals[k])
        assert n == len(xs)
        lo, hi = bisect.bisect_left(xs, m), bisect.bisect_right(xs, m)
        target = 0.5 * n
        tol = n / 10000 + 2
        assert lo - tol <= target <= hi + tol, (k, m, lo, hi, target)
        assert lo < hi, "approx median must be an observed value"


def test_embedding_quantize_error_bound(spark, tmp_path):
    """INT8 scalar quantization (q_embedding_quantize) must respect the
    step-size guarantee: per-element |error| < range/255, so a vector's
    mean error is bounded by its quantization step; constant vectors
    (range 0) and the conforming all-zero vector reconstruct exactly."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        rows.append((i, "a", [float(x) for x in rng.uniform(-1, 1, 64).astype("float32")]))
    rows.append((100, "b", [0.25] * 64))       # constant vector: zero error
    rows.append((101, "b", [0.0] * 64))        # all-zero: conforming, exact
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    ).write.parquet(f"{sf}/embeddings.parquet")
    out = {r.label: r for r in QS["q_embedding_quantize"](spark, sf).collect()}
    assert set(out) == {"a", "b"}
    assert out["b"].n_vecs == 2
    assert out["b"].sum_mean_err == 0.0 and out["b"].max_mean_err == 0.0
    # range ≤ 2 for uniform(-1,1) float32 ⇒ step ≤ 2/255; mean err < step
    assert out["a"].n_vecs == 40
    assert 0.0 < out["a"].max_mean_err < 2.0 / 255
    assert float(out["a"].sum_mean_err) < 40 * 2.0 / 255


def test_quantized_search_exact_on_grid_corpus(spark, tmp_path):
    """q_quantized_search on a corpus whose elements already sit on their
    vector's 255-step quantization grid must report PERFECT agreement
    (reconstruction is exact ⇒ both rank lists identical): recall@k = 1,
    n_overlap = k, top1_match = 1 for every query. Random off-grid noise
    then shows recall < 1 is POSSIBLE but bounded below by the planted
    structure — the direct pin behind the driver's hash oracle."""
    import numpy as np

    from aws_etl_microservice_redshift_datalake_spark.operators.vectors import (
        SEARCH_K,
        SEARCH_QUERIES,
    )

    rng = np.random.default_rng(11)
    rows = []
    for i in range(40):
        # integer-valued vectors with codes 0..255 and mn/mx pinned to
        # 0/255: mn = 0, r = 255, step = 1.0, so every element is exactly
        # on its vector's quantization grid EVEN AFTER the float32
        # round-trip (small integers are exact in float32) and
        # reconstruction is bit-exact.
        codes = rng.integers(0, 256, 64)
        codes[0], codes[1] = 0, 255
        rows.append((i, "a", [float(c) for c in codes]))
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    ).write.parquet(f"{sf}/embeddings.parquet")
    out = {r.q_id: r for r in QS["q_quantized_search"](spark, sf).collect()}
    assert set(out) == set(range(SEARCH_QUERIES))
    for q_id, r in out.items():
        assert r.n_overlap == SEARCH_K, (q_id, r)
        assert r.recall_at_k == 1.0, (q_id, r)
        assert r.top1_match == 1, (q_id, r)


def test_cluster_split_never_straddles_clusters(spark):
    """The leakage-safety contract q_cluster_split exists for, asserted
    DIRECTLY (the aggregate output can't show it): every near-dup cluster's
    members land in ONE split, and the root-hash split of a clustered doc
    differs from its own doc-id hash split often enough on the fixture
    corpus that the test would catch a regression to per-doc hashing."""
    from pyspark.sql import functions as F

    from aws_etl_microservice_redshift_datalake_spark.operators.dedup import (
        q_dedup_clusters,
    )
    from aws_etl_microservice_redshift_datalake_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    comp = q_dedup_clusters(spark, sf).select("doc_id", "canon_id")
    d = load_table(spark, sf, "documents").select("doc_id")
    withroot = d.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("canon_id", "doc_id").alias("root")
    )

    def split_of(col):
        b = (
            F.conv(F.substring(F.md5(col.cast("string")), 1, 6), 16, 10)
            .cast("bigint") % 100
        )
        return F.when(b < 80, "train").otherwise("test")

    tagged = withroot.select(
        "doc_id", "root",
        split_of(F.col("root")).alias("split"),
        split_of(F.col("doc_id")).alias("naive_split"),
    )
    straddle = (
        tagged.groupBy("root")
        .agg(F.count_distinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert straddle == 0
    # the naive per-doc split DOES disagree with the root split for some
    # clustered members — i.e. this operator actually changes assignments
    moved = tagged.filter(
        (F.col("doc_id") != F.col("root"))
        & (F.col("split") != F.col("naive_split"))
    ).count()
    assert moved > 0, "fixture corpus has no reassigned dup member"


def test_window_ewma_exact_arithmetic(spark, tmp_path):
    """q_window_ewma's lag-chain arithmetic pinned against hand-computed
    values on a planted series: weights are exact powers of two, missing
    lags contribute 0, NULL-ts rows are excluded, and a non-conforming
    value (outside MONEY_MAX) contributes exactly 0 without shifting its
    neighbors' lag positions."""
    import datetime as dt

    from pyspark.sql import functions as F  # noqa: F401

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(seconds=1), 7, 8.0, "c", None),
        (2, base + dt.timedelta(seconds=2), 7, 4.0, "c", None),
        (3, base + dt.timedelta(seconds=3), 7, 1e16, "c", None),  # absurd
        (4, base + dt.timedelta(seconds=4), 7, 16.0, "c", None),
        (5, None, 7, 999.0, "c", None),  # NULL ts: excluded entirely
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, value double,"
        " event_type string, props string",
    ).write.parquet(f"{sf}/events.parquet")
    got = {r.event_id: r.ewma for r in QS["q_window_ewma"](spark, sf).collect()}
    # y1 = 8*0.5 ; y2 = 4*0.5 + 8*0.25 ; y3 = 0 + 4*0.25 + 8*0.125
    # y4 = 16*0.5 + 0 + 4*0.125 + 8*0.0625
    assert got == {1: 4.0, 2: 4.0, 3: 2.0, 4: 9.0}


def _gopher_doc(words):
    t = " ".join(words)
    return (t, len(t))


def test_gopher_rules_each_rule_fires_on_its_planted_doc(spark):
    """One planted document per Gopher rule, each constructed to fail
    EXACTLY its target rule (plus a full-pass doc, a NULL-text doc that
    must fail the whole battery, and an absurd-n_chars doc that must fail
    the guarded wordlen rule, never ANSI-overflow) — the direct-assertion
    pins no twin compare can replace, since both engines could share a
    threshold bug."""
    from aws_etl_microservice_redshift_datalake_spark.operators.text import (
        _GOPHER_RULES,
        gopher_report,
    )

    pass_words = ["the", "and"] + ["word"] * 58
    # > 90% bullet-started lines (10/10) — the published removal regime;
    # the former 20% planted doc now PASSES (see the borderline doc below)
    bullet_lines = ["- the and word word word word"] * 10
    ell_lines = ["the and word word word word..."] * 4 + [
        "the and word word word word"
    ] * 6
    planted = {
        "pass": _gopher_doc(pass_words),
        "words": _gopher_doc(["the", "and"] + ["word"] * 8),
        "wordlen": _gopher_doc(["the", "and"] + ["ab"] * 58),
        "symbol": _gopher_doc(["the", "and"] + ["word"] * 58 + ["#"] * 7),
        "bullet": ("\n".join(bullet_lines), len("\n".join(bullet_lines))),
        "ellipsis": ("\n".join(ell_lines), len("\n".join(ell_lines))),
        "alpha": _gopher_doc(["the", "and"] + ["word"] * 40 + ["123"] * 15),
        "stop": _gopher_doc(["the"] + ["word"] * 59),
        # per-symbol independence pin: 8% '#' + 8% '...' ratios — the
        # pooled form (0.16 > 0.1) would fail this doc; the published
        # per-symbol rule (0.08 <= 0.1 each) must pass it
        "pass_symbol_split": _gopher_doc(
            ["the", "and"] + ["word"] * 40 + ["#"] * 8 + ["..."] * 8
            + ["word"] * 42
        ),
        # bullet borderline pin: exactly 90% bullet lines (9/10) is NOT
        # "more than 90%" — must pass under the published threshold
        "pass_bullet_90": (
            "\n".join(
                ["- the and word word word word"] * 9
                + ["the and word word word word"]
            ),
            29 * 9 + 27 + 9,
        ),
    }
    rows = [(lang, t, n) for lang, (t, n) in planted.items()]
    rows.append(("nulltext", None, None))
    rows.append(("badstats", planted["pass"][0], 1 << 50))
    df = spark.createDataFrame(
        rows, "lang string, text string, n_chars bigint"
    )
    got = {r["lang"]: r.asDict() for r in gopher_report(df).collect()}
    assert got["pass"]["n_pass"] == 1
    assert got["pass_symbol_split"]["n_pass"] == 1, got["pass_symbol_split"]
    assert got["pass_bullet_90"]["n_pass"] == 1, got["pass_bullet_90"]
    for rule in _GOPHER_RULES:
        rep = got[rule]
        assert rep["n_pass"] == 0, rule
        assert rep[f"n_fail_{rule}"] == 1, rule
        others = sum(
            rep[f"n_fail_{k}"] for k in _GOPHER_RULES if k != rule
        )
        assert others == 0, (rule, rep)
    nt = got["nulltext"]
    assert nt["n_pass"] == 0
    assert all(nt[f"n_fail_{k}"] == 1 for k in _GOPHER_RULES)
    bs = got["badstats"]
    assert bs["n_pass"] == 0
    assert bs["n_fail_wordlen"] == 1
    assert sum(bs[f"n_fail_{k}"] for k in _GOPHER_RULES) == 1


@full_sweeps_only
def test_doremi_upweights_high_excess_domain(spark):
    """DoReMi pins no twin compare can give: on a corpus where the
    minority domain uses vocabulary the pool LM models badly (disjoint
    rare tokens), that domain must carry positive excess loss and a
    weight ABOVE its natural share while the majority domain lands at
    zero excess and below its natural share; domains outside the fixed
    tuple must not appear; and on a perfectly uniform corpus (identical
    text everywhere) the report must degrade to exactly the smoothed
    natural mixture (the eta-step is a no-op at zero excess)."""
    from aws_etl_microservice_redshift_datalake_spark.operators.sampling import (
        doremi_mixture,
    )

    common = "the cat sat on the mat with a dog and a bird near the tree"
    rare = "zqxj wvuk ploc mnbd qrst uvwx yzab cdef ghij klmn"
    rows = (
        [(i, "en", common) for i in range(40)]
        + [(100 + i, "de", rare) for i in range(10)]
        + [(200, "xx", common)]  # outside the declared domain tuple
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r.lang: r.asDict() for r in doremi_mixture(df).collect()}
    assert set(got) == {"en", "de"}
    assert got["en"]["excess_ppm"] == 0
    assert got["de"]["excess_ppm"] > 0
    # natural shares: en 0.8, de 0.2 — smoothed ppm floors
    assert got["de"]["weight_ppm"] > 200000  # 0.999*0.2 + 0.0002
    assert got["en"]["weight_ppm"] < 799400  # 0.999*0.8 + 0.0002
    # sum = 0.999 + 2·0.0002 — the three ABSENT tuple domains keep their
    # c/K smoothing mass (faithful to the paper's uniform mixing over K
    # declared domains, present or not)
    assert abs(got["en"]["weight_ppm"] + got["de"]["weight_ppm"] - 999_400) <= 2
    for k in ("en", "de"):
        assert 0 <= got[k]["n_selected"] <= got[k]["n_docs"]

    uni = spark.createDataFrame(
        [(i, k, common) for i, k in enumerate(["en"] * 6 + ["de"] * 3 + ["fr"])],
        "doc_id long, lang string, text string",
    )
    got_u = {r.lang: r.asDict() for r in doremi_mixture(uni).collect()}
    # mirror the engine's EXACT float chain: w_k = p_k·1.0, Z folded
    # left-associated over DOREMI_LANGS (absent langs contribute 0.0 —
    # 0.6+0.3+0.1 is NOT 1.0 in doubles, and floor(·1e6) feels the ulp)
    import math

    from aws_etl_microservice_redshift_datalake_spark.operators.sampling import (
        DOREMI_LANGS,
    )

    shares = {"en": 6 / 10, "de": 3 / 10, "fr": 1 / 10}
    z = 0.0
    for k in DOREMI_LANGS:
        z = z + shares.get(k, 0.0) * 1.0
    for k, n in (("en", 6), ("de", 3), ("fr", 1)):
        assert got_u[k]["excess_ppm"] == 0, (k, got_u[k])
        expected = math.floor(
            (0.999 * ((shares[k] * 1.0) / z) + 0.0002) * 1_000_000.0
        )
        assert got_u[k]["weight_ppm"] == expected, (k, got_u[k], expected)


def test_corpus_filter_funnel_batteries_cut_independently(spark):
    """Funnel pins no twin compare can give: four constructed documents,
    each passing/failing exactly one battery combination — full pass;
    repetition-only fail (a duplicated 10-word span); C4-only fail
    ('lorem ipsum'); Gopher-rules-only fail (21 words < 50) — must land
    in exactly the right funnel columns, and a NULL-text doc must be
    outside the population entirely."""
    from pyspark.sql import functions as F

    from aws_etl_microservice_redshift_datalake_spark.operators.text import (
        corpus_filter_funnel,
    )

    def line(words):
        return " ".join(words) + "."

    def mk(lines):
        t = "\n".join(lines)
        return t, len(t)

    w = [f"w{i:02d}" for i in range(60)]
    a_lines = [
        line(w[0:8] + ["the"] + w[8:18]),
        line(w[18:28] + ["and"] + w[28:37]),
        line(w[37:56]),
    ]
    pass_doc = mk(a_lines)
    rep_doc = mk(a_lines + [line(w[0:10])])  # duplicated 10-word span
    c4_doc = mk(
        [a_lines[0], line(["lorem", "ipsum", "and"] + w[18:34]), a_lines[2]]
    )
    # 45 pieces − 4 newline merges = 41 words < 50: fails ONLY the words
    # rule; long enough that the top-n gram signals (char-mass over a
    # small denominator) stay quiet
    rules_doc = mk(
        [
            line(w[0:4] + ["the"] + w[4:8]),
            line(w[8:12] + ["and"] + w[12:16]),
            line(w[16:25]),
            line(w[25:34]),
            line(w[34:43]),
        ]
    )
    rows = [
        ("A", *pass_doc),
        ("B", *rep_doc),
        ("C", *c4_doc),
        ("D", *rules_doc),
        ("N", None, None),
    ]
    df = spark.createDataFrame(
        rows, "lang string, text string, n_chars bigint"
    ).withColumn("doc_id", F.monotonically_increasing_id())
    got = {r.lang: r.asDict() for r in corpus_filter_funnel(df).collect()}
    assert set(got) == {"A", "B", "C", "D"}  # NULL-text outside population

    def row(lang, c4, rules, rep, c4_rules, kept):
        g = got[lang]
        assert (
            g["n_c4"], g["n_rules"], g["n_rep"], g["n_c4_rules"], g["n_kept"]
        ) == (c4, rules, rep, c4_rules, kept), (lang, g)

    row("A", 1, 1, 1, 1, 1)
    row("B", 1, 1, 0, 1, 0)
    row("C", 0, 1, 1, 0, 0)
    row("D", 1, 0, 1, 0, 0)


def test_dsir_weights_separate_target_from_offtarget(spark):
    """DSIR pins no twin compare can give: on a corpus where the target
    lang uses vocabulary A and the off-target lang uses disjoint
    vocabulary B, every A-vocabulary doc must outscore every B-vocabulary
    doc (its grams are relatively MORE likely under the target model),
    all weights must be finite (the Laplace floor — B-grams never seen in
    target must not produce -inf), and a fresh evaluation must reproduce
    the weights bit-for-bit (the decimal-sum order-independence claim)."""
    from aws_etl_microservice_redshift_datalake_spark.operators.sampling import (
        dsir_weights,
    )

    a_text = "alpha beta gamma delta alpha beta gamma delta alpha beta"
    b_text = "zeta eta theta iota zeta eta theta iota zeta eta"
    rows = (
        [(i, "en", a_text) for i in range(5)]
        + [(10 + i, "xx", b_text) for i in range(5)]
        # one mixed doc so both vocabularies co-occur inside the raw pool
        + [(20, "xx", a_text + " " + b_text)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r.doc_id: r.logw for r in dsir_weights(df).collect()}
    assert len(got) == 11
    assert all(w is not None and w == w for w in got.values())  # finite
    a_scores = [got[i] for i in range(5)]
    b_scores = [got[10 + i] for i in range(5)]
    assert min(a_scores) > max(b_scores)
    # identical docs share identical weights; re-evaluation is bit-stable
    assert len(set(a_scores)) == 1 and len(set(b_scores)) == 1
    again = {r.doc_id: r.logw for r in dsir_weights(df).collect()}
    assert again == got


@full_sweeps_only
def test_gopher_repetition_planted_signals(spark):
    """Hand-computed plants per repetition family: a 2-gram-stuffed doc, a
    repeated-line doc, a duplicated-5-gram doc, a unique-words doc — with
    the exact metric values asserted (no twin compare can pin shared
    threshold bugs)."""
    from aws_etl_microservice_redshift_datalake_spark.operators.text import (
        gopher_repetition_report,
        repetition_stats,
    )

    rows = [
        (0, "t2", "a b a b a b a b"),
        (1, "dl", "x\nx\ny z w"),
        (2, "d5", "p q r s t p q r s t u v"),
        (3, "nul", None),
        (4, "uniq", "unique words only here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    m = {r.doc_id: r.asDict() for r in repetition_stats(df).collect()}
    assert 3 not in m  # NULL text excluded by the population contract
    # doc 0: 'a b'×4 (3 chars) = 12; 'a b a'×3 (5) = 15; 'a b a b'×3 (7) = 21;
    # 5-grams 'a b a b a'×2 + 'b a b a b'×2 (9 chars each, all instances) = 36
    assert (m[0]["top2_chars"], m[0]["top3_chars"], m[0]["top4_chars"]) == (12, 15, 21)
    assert m[0]["dup5_chars"] == 36 and m[0]["dup6_chars"] == 22
    # doc 1: lines [x, x, 'y z w'] -> 1 repeated instance, 2 chars in dups
    assert (m[1]["n_lines"], m[1]["dupline_inst"], m[1]["dupline_chars"]) == (3, 1, 2)
    # doc 2: 'p q r s t'×2 (9 chars) = 18 dup-5 chars; no dup 6-grams
    assert m[2]["dup5_chars"] == 18 and m[2]["dup6_chars"] == 0
    assert m[4]["dupline_inst"] == 0 and m[4]["dup5_chars"] == 0
    rep = {r.lang: r.asDict() for r in gopher_repetition_report(df).collect()}
    # 15 chars, top2 12 -> 100*12 > 20*15 fails; dup5 36 > 15% fails
    assert rep["t2"]["n_fail_top2"] == 1 and rep["t2"]["n_fail_dup5"] == 1
    # 1 of 3 lines repeated -> 100 > 90 fails; 2 of 9 chars -> 200 > 180 fails
    assert rep["dl"]["n_fail_dupline"] == 1
    assert rep["dl"]["n_fail_dupline_chars"] == 1
    assert rep["d5"]["n_fail_dup5"] == 1 and rep["d5"]["n_fail_dupline"] == 0


def test_c4_filters_planted_rules(spark):
    """One planted page per C4 rule: line-keep (terminal punctuation, >= 5
    words, no 'javascript'), and the four page drops ('lorem ipsum', '{',
    bad-word token, < 3 kept sentences)."""
    from aws_etl_microservice_redshift_datalake_spark.operators.text import c4_report

    good = "one two three four five.\nsix seven eight nine ten!\nmore words go right here?"
    rows = [
        (0, "keep", good),
        (1, "lorem", good + "\nthis has lorem ipsum inside it."),
        (2, "brace", good + "\ncode goes { right here } now."),
        (3, "bad", good + "\nthis line contains badtok0 sadly."),
        (4, "short", "just four words here.\nand again four words."),
        (5, "nopunct", "five words but no punctuation\nanother five word line here"),
        (6, "js", "enable JavaScript to view this.\n" + good),
        (7, "nul", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r.lang: r.asDict() for r in c4_report(df).collect()}
    assert "nul" not in got  # population contract
    assert got["keep"]["n_kept_lines"] == 3 and got["keep"]["n_retained"] == 1
    assert got["lorem"]["n_fail_lorem"] == 1 and got["lorem"]["n_retained"] == 0
    assert got["brace"]["n_fail_brace"] == 1 and got["brace"]["n_retained"] == 0
    assert got["bad"]["n_fail_badword"] == 1 and got["bad"]["n_retained"] == 0
    # 4-word lines fail the line rule -> zero kept lines -> < 3 sentences
    assert got["short"]["n_kept_lines"] == 0
    assert got["short"]["n_fail_sentences"] == 1
    assert got["nopunct"]["n_kept_lines"] == 0
    assert got["nopunct"]["n_fail_sentences"] == 1
    # the javascript line is dropped but the remaining 3 keep the page
    assert got["js"]["n_kept_lines"] == 3 and got["js"]["n_retained"] == 1


def test_ccnet_buckets_are_balanced_and_ordered(spark):
    """CCNet bucketing invariants the oracle compare cannot state: per
    lang, NTILE bucket sizes differ by at most 1, all three buckets exist
    (fixture langs all have >= 3 docs), and score ranges are ordered —
    head's minimum mean logprob >= middle's maximum >= ... (buckets
    partition the score-sorted order)."""
    from tests.conftest import SF_MED

    QS = engine.all_queries()
    rows = QS["q_ccnet_buckets"](spark, SF_MED).collect()
    bylang = {}
    for r in rows:
        bylang.setdefault(r.lang, {})[r.bucket] = r
    for lang, bs in bylang.items():
        assert set(bs) == {1, 2, 3}, lang
        sizes = [bs[b].n_docs for b in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        assert bs[1].min_mean_logp >= bs[2].max_mean_logp, lang
        assert bs[2].min_mean_logp >= bs[3].max_mean_logp, lang


def test_dedup_incremental_planted_cross_split_duplicates(spark, tmp_path):
    """Incremental-admission pins on a constructed corpus: a byte-identical
    pair straddling the md5 batch split must report is_new = false with
    best_jaccard = 1.0 on the NEW member; a new-batch doc whose only
    duplicate is ALSO in the new batch stays is_new = true (new-vs-new is
    deliberately not paired); unique new docs are admitted. Membership is
    computed with the query's own md5 bucket so the plant is robust to
    doc_id choice."""
    import hashlib

    def is_base(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:6], 16) % 100 < 80

    base_ids = [i for i in range(200) if is_base(i)]
    new_ids = [i for i in range(200) if not is_base(i)]
    assert len(base_ids) >= 2 and len(new_ids) >= 3
    dup = " ".join(f"w{i}" for i in range(30))
    dup2 = " ".join(f"v{i}" for i in range(30))
    uniq = " ".join(f"u{i}" for i in range(40))
    filler = " ".join(f"z{i}" for i in range(25))
    docs = [
        (base_ids[0], dup),          # base copy
        (new_ids[0], dup),           # new copy of a BASE doc -> duplicate
        (new_ids[1], dup2),          # new-vs-new pair: both stay admitted
        (new_ids[2], dup2),
        (base_ids[1], filler),       # unrelated base doc
    ]
    extra_new = new_ids[3] if len(new_ids) > 3 else None
    if extra_new is not None:
        docs.append((extra_new, uniq))  # unique new doc
    sf = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    QS = engine.all_queries()
    rows = {r.doc_id: r for r in QS["q_dedup_incremental"](spark, sf).collect()}
    assert set(rows) == {d for d, _ in docs if not is_base(d)}
    assert rows[new_ids[0]].is_new is False
    assert rows[new_ids[0]].n_matches == 1
    assert rows[new_ids[0]].best_jaccard == 1.0
    assert rows[new_ids[1]].is_new is True and rows[new_ids[2]].is_new is True
    if extra_new is not None:
        assert rows[extra_new].is_new is True
        assert rows[extra_new].best_jaccard is None


def test_stream_timeout_raises_and_stops():
    """A stream that does not finish within the limit raises TimeoutError,
    and the query is still stopped: awaitTermination returning False must
    never pass for a drained sink."""
    from aws_etl_microservice_redshift_datalake_spark.streaming.streams import (
        _run_to_end,
    )

    class FakeQuery:
        name, id, stopped = "fake", "fake-id", False

        def awaitTermination(self, timeout_s):
            assert timeout_s == 7
            return False

        def stop(self):
            self.stopped = True

    class FakeWriter:
        query = FakeQuery()

        def trigger(self, availableNow):
            assert availableNow is True
            return self

        def start(self):
            return self.query

    writer = FakeWriter()
    with pytest.raises(TimeoutError, match="fake did not finish in 7s"):
        _run_to_end(writer, 7)
    assert writer.query.stopped
